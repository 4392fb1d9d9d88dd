"""Job and stage timeline of one registry entry or baseline mirror.

    SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 python scripts/profile_jobs.py [entry] [runs]

``entry`` is a registry name (``dedup_incremental`` by default) or one of
bench.py's three ``baseline_*`` Dask-reference mirrors, whose synthetic
input is cached and materialized untimed first, as bench.py does.
Builds the entry and reports the build's py4j round trips (proxy
releases not counted, see ``tests/util.py:py4j_calls``) and wall time,
then runs it ``runs`` times (default 2: the first warms codegen and any
scratch builds) through a noop sink, each run under its own job group.
For the last run it prints every Spark job's submission -> completion
window relative to the run's start and, under each job, its stages'
windows with task count, input bytes, shuffle read/write bytes and the
stage's call site — enough to see which sub-jobs run serially and which
subtree a stage belongs to.
Jobs and stages are read from the application status store
(``SparkContext.statusStore``), so the Spark UI need not be on.

Session: ``local[$SPARK_GRAFT_CPUS]`` (default: all cores), 8 shuffle
partitions, AQE off — the plan-capture configuration, so the stages
match ``scripts/capture_plans.py``'s executed shape — and bench.py's
uncompressed in-memory cache.
"""

from __future__ import annotations

import os
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from bench import synthetic_baseline_builders  # noqa: E402
from tests.util import py4j_calls  # noqa: E402
from xarray_histogram_spark import entry_queries as eq  # noqa: E402


def _opt_ms(opt) -> float:
    """A Scala ``Option[java.util.Date]`` as epoch ms (NaN when empty)."""
    return float(opt.get().getTime()) if opt.isDefined() else float("nan")


def _stages(store, stage_id: int) -> list:
    seq = store.stageData(
        stage_id, False, getattr(store, "stageData$default$3")(), False,
        getattr(store, "stageData$default$5")(),
    )
    return [seq.apply(i) for i in range(seq.size())]


def main() -> int:
    entry = sys.argv[1] if len(sys.argv) > 1 else "dedup_incremental"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("set SPARK_GRAFT_SF_DIR to the testdata scale-factor directory")
        return 2
    registry = eq.registry()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("xhs-profile-jobs")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "131072")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    mirrors = synthetic_baseline_builders(spark)
    if entry in mirrors:
        inp, build = mirrors[entry]()
        inp.count()
    elif entry in registry:
        build = partial(registry[entry][0], spark, sf_dir)
    else:
        print(f"unknown entry {entry!r}")
        return 1
    t0 = time.perf_counter()
    with py4j_calls(spark) as n:
        df = build()
    build_ms = (time.perf_counter() - t0) * 1e3
    print(f"{entry}: build {build_ms:.0f} ms, {n.calls} py4j round trips")

    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    print(f"{entry}: planning {(time.perf_counter() - t0) * 1e3:.0f} ms")

    for run in range(runs):
        group = f"profile-jobs-{run}"
        sc.setJobGroup(group, f"{entry} run {run}")
        start = time.time() * 1e3
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() * 1e3 - start
        sc.setLocalProperty("spark.jobGroup.id", None)
    print(f"{entry}: last run {wall:.0f} ms wall")

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
    print(f"{len(jobs)} jobs (ms from the run's start)")
    for jid in jobs:
        j = store.job(jid)
        js, je = _opt_ms(j.submissionTime()) - start, \
            _opt_ms(j.completionTime()) - start
        print(f"  job {jid:4d} {js:7.0f} -> {je:7.0f} ({je - js:6.0f} ms, "
              f"{j.numTasks():4d} tasks, {j.numSkippedStages()} stages "
              "skipped)")
        ids = j.stageIds()
        for sid in sorted(ids.apply(i) for i in range(ids.size())):
            for s in _stages(store, sid):
                if str(s.status()) == "SKIPPED":
                    continue
                ss = _opt_ms(s.submissionTime()) - start
                se = _opt_ms(s.completionTime()) - start
                name = s.name().split("\n")[0][:70]
                print(f"      stage {sid:4d} {ss:7.0f} -> {se:7.0f} "
                      f"{s.numTasks():4d}t in={s.inputBytes() >> 10}KB "
                      f"sh_r={s.shuffleReadBytes() >> 10}KB "
                      f"sh_w={s.shuffleWriteBytes() >> 10}KB  {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
