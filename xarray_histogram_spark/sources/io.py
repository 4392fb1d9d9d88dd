"""Histogram result persistence: parquet + BinSpec JSON sidecar.

The reference round-trips bin metadata through DataArray coordinate attrs so
results survive NetCDF save/load (accessor.py:25-47, changelog.md:2-4); the
Spark analog is the full internal DataFrame (including the exact-int value
and width/center/flow metadata columns) written as parquet with a
``_binspec.json`` sidecar carrying the specs + wrapper state.  A reloaded
result supports the whole accessor surface (normalize, stats, relabels)
without recomputation."""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from ..binspec import BinSpec
from ..plans.result import HistogramResult

SIDECAR = "_binspec.json"


def _sidecar_write(spark: SparkSession, path: str, text: str) -> None:
    """Write the sidecar through the HADOOP filesystem of ``path`` — a
    local ``open()`` would silently target the driver's disk for
    hdfs://s3a:// result paths (the parquet would land remote, the
    sidecar local, and the result would be unreadable).  Hadoop's
    LocalFileSystem handles plain paths identically."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path, SIDECAR)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _sidecar_read(spark: SparkSession, path: str) -> str:
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path, SIDECAR)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        # py4j passes byte[] BY VALUE — a read(buf) loop would never see
        # the bytes Java wrote; toByteArray returns the filled array
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def write_result(result: HistogramResult, path: str, mode: str = "overwrite") -> None:
    if mode == "append":
        # appending duplicates every (group, bin) row; a reloaded result
        # would double-count all mass with no error.  Additive combination
        # is HistogramResult.merge()/`+` — re-save the merged result.
        raise ValueError(
            "write_result does not support mode='append' (duplicate bin "
            "rows double-count on reload); merge() the results and save"
        )
    result._df.write.mode(mode).parquet(path)
    meta = {
        "variables": result.variables,
        "specs": {v: result.specs[v].to_dict() for v in result.variables},
        "group_by": result.group_by,
        "value_col": result.value_col,
        "density": result.density,
        "flow": result.flow,
        "int_mode": result.int_mode,
        "divisor": result.divisor,
    }
    _sidecar_write(
        result._df.sparkSession, path, json.dumps(meta, indent=2)
    )


def read_result(spark: SparkSession, path: str) -> HistogramResult:
    """Reload a saved result.  With the ``_binspec.json`` sidecar the
    wrapper state round-trips exactly; when the sidecar is MISSING (a
    foreign writer, or a lost sidecar) the result is ADOPTED from the
    naming convention instead — ``plans.result.adopt_dataframe``, the
    reference accessor's attach-to-any-well-named-array interop
    (accessor.py:49-130)."""
    try:
        raw = _sidecar_read(spark, path)
    except Exception as e:  # noqa: BLE001 - Hadoop errors arrive via py4j
        # only a MISSING sidecar falls back to adoption; transient IO or
        # permission failures must surface, not silently re-infer specs
        if "FileNotFoundException" not in str(e):
            raise
        from ..plans.result import adopt_dataframe

        return adopt_dataframe(spark.read.parquet(path))
    meta = json.loads(raw)
    df = spark.read.parquet(path)
    return HistogramResult(
        _df=df,
        variables=list(meta["variables"]),
        specs={v: BinSpec.from_dict(d) for v, d in meta["specs"].items()},
        group_by=list(meta["group_by"]),
        value_col=meta["value_col"],
        density=meta["density"],
        flow=meta["flow"],
        int_mode=meta["int_mode"],
        divisor=meta["divisor"],
    )
