"""Capture ``.explain("formatted")`` for every registry entry plus the three
baseline mirrors, normalized so that two captures (e.g. before and after a
refactor) compare directly with ``diff -r``.

    SPARK_GRAFT_SF_DIR=<testdata>/sf0.01 python scripts/capture_plans.py <out_dir> [name1,name2,...]

Writes ``<out_dir>/<name>.txt``.  Run-dependent parts are normalized:
``#<digits>`` expression IDs, ``plan_id=<digits>`` exchange IDs and
``RDD[<digits>]`` ids and the ``_common_expr_<digits>`` names of shared
subexpressions lose their digits (JVM-global counters that shift with
anything that ran before), lambda variables print as ``lambda v``
(a Python-lambda builder names them ``x_<counter>``, a Spark SQL text
builder by its own spelling), and the random 8-character suffix of a
``mkdtemp`` directory becomes ``XXXXXXXX``.  With a name list, only those
entries (registry names or ``baseline_*`` mirror names) are captured.  An
entry whose builder raises gets its error text as the file content, so a
diff shows it too.  Runs under the bench's session config (AQE off, 8
shuffle partitions, session time zone UTC) so the captured plan is the
executed shape and does not depend on which entries ran before.
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from xarray_histogram_spark import entry_queries as eq  # noqa: E402

_ID = re.compile(r"(#|plan_id=|RDD\[|_common_expr_)\d+")
_LAMBDA = re.compile(r"\blambda [A-Za-z_][A-Za-z0-9_]*")
_TMP = re.compile(
    re.escape(tempfile.gettempdir()) + r"/([^/\]\s,]*?)[a-z0-9_]{8}(?=[/\]\s,])"
)


def normalize(text: str) -> str:
    text = _LAMBDA.sub("lambda v", _ID.sub(r"\1", text))
    return _TMP.sub(r"<tmp>/\1XXXXXXXX", text)


def _mirrors(spark: SparkSession) -> dict:
    """bench.py's three synthetic Dask-reference mirrors (planned only)."""
    from xarray_histogram_spark import (
        Regular, histogram, histogram2d, histogram_columns,
    )

    spec = Regular(100, -3.0, 3.0)
    flat_in = spark.range(10_000_000, numPartitions=24).select(
        F.randn(1).cast("float").alias("x"))
    two_in = spark.range(10_000_000, numPartitions=24).select(
        F.randn(2).cast("float").alias("x"),
        F.randn(3).cast("float").alias("y"))
    along_in = spark.range(10_000_000, numPartitions=10).select(
        F.randn(4).cast("float").alias("x0"),
        F.randn(5).cast("float").alias("x1"),
        F.randn(6).cast("float").alias("x2"))
    return {
        "baseline_flat_1d_1e7": lambda: histogram(flat_in, "x", spec).df,
        "baseline_two_var_1e7": lambda: histogram2d(
            two_in, "x", "y", [spec, spec]).df,
        "baseline_along_dim_3x1e7": lambda: histogram_columns(
            along_in, ["x0", "x1", "x2"], spec, dim_name="d").df,
    }


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("set SPARK_GRAFT_SF_DIR to the testdata scale-factor directory")
        return 2
    out_dir = sys.argv[1]
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("xhs-plan-capture")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "false")
        # pinned: the events entries set this zone themselves, so a
        # timezone-aware expression would otherwise print the host zone in
        # a name-filtered capture and UTC in a full one
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    builders = {
        name: (lambda fn=fn: fn(spark, sf_dir))
        for name, (fn, _) in eq.registry().items()
    }
    builders.update(_mirrors(spark))
    if only is not None:
        unknown = only - set(builders)
        if unknown:
            print(f"unknown names: {sorted(unknown)}")
            return 1
        builders = {n: b for n, b in builders.items() if n in only}
    os.makedirs(out_dir, exist_ok=True)
    for name, build in builders.items():
        buf = io.StringIO()
        try:
            df = build()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as ex:  # noqa: BLE001 — recorded, diffable
            text = f"ERROR {type(ex).__name__}: {ex}\n"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(normalize(text))
        print(f"wrote {name}.txt", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
