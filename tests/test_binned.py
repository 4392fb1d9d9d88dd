"""Binned-statistic semantics tests, including NULL values in the value
column — the case the sf tables never exercise (lineitem has no NULLs):
``count`` must be the NULL-excluding COUNT(value) on BOTH engine and
oracle sides, and NULL values must drop out of sum/mean/min/max without
poisoning the bin."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from xarray_histogram_spark import Regular, binned_statistic
from xarray_histogram_spark.plans.binned import binned_statistic_sql

from .util import duck, assert_matches_sql


@pytest.fixture(scope="module")
def nulled(spark, sf_dir):
    """lineitem with l_discount NULLed on ~1/7 of rows, persisted so the
    SAME bytes back both the Spark scan and the DuckDB oracle view."""
    out = os.path.join(tempfile.mkdtemp(prefix="xhs_nulls_"), "li_nulls.parquet")
    (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            "l_orderkey", "l_quantity",
            F.when(F.col("l_orderkey") % 7 != 0, F.col("l_discount"))
            .alias("l_discount"),
            "l_returnflag",
        )
        .coalesce(1)
        .write.mode("overwrite").parquet(out)
    )
    con = duck(sf_dir)
    con.execute(
        f"CREATE OR REPLACE VIEW li_nulls AS SELECT * FROM read_parquet('{out}/*.parquet')"
    )
    return spark.read.parquet(out), con


def test_count_excludes_null_values(nulled):
    df, con = nulled
    spec = Regular(10, 1.0, 51.0)
    got = binned_statistic(df, "l_quantity", spec, "l_discount",
                           stats=("count", "sum", "mean", "min", "max"))
    sql = binned_statistic_sql("li_nulls", "l_quantity", spec, "l_discount",
                               stats=("count", "sum", "mean", "min", "max"))
    assert_matches_sql(got, sql, con)
    # count is strictly below the row count of the bin (NULLs excluded)
    rows = {r["l_quantity_bin"]: r["count_l_discount"] for r in got.collect()}
    hist = {
        r["b"]: r["n"]
        for r in df.where(F.col("l_quantity").between(1.0, 51.0))
        .groupBy(F.floor((F.col("l_quantity") - 1.0) / 5.0).cast("int").alias("b"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert any(rows[b] < hist[b] for b in rows if b in hist)


def test_grouped_nulls_match_oracle(nulled):
    df, con = nulled
    spec = Regular(5, 1.0, 51.0)
    got = binned_statistic(df, "l_quantity", spec, "l_discount",
                           stats=("count", "mean"), group_by=["l_returnflag"])
    sql = binned_statistic_sql("li_nulls", "l_quantity", spec, "l_discount",
                               stats=("count", "mean"),
                               group_by=["l_returnflag"])
    assert_matches_sql(got, sql, con)


def test_all_null_bin_is_empty_semantics(spark):
    """A bin whose every value is NULL: count 0, sum/mean NULL — same as
    an empty bin (scipy's NaN analog)."""
    rows = [(float(i % 10) + 0.5, None if i % 10 == 3 else float(i))
            for i in range(100)]
    df = spark.createDataFrame(rows, "x double, v double")
    got = {
        r["x_bin"]: (r["count_v"], r["sum_v"], r["mean_v"])
        for r in binned_statistic(
            df, "x", Regular(10, 0.0, 10.0), "v",
            stats=("count", "sum", "mean"),
        ).collect()
    }
    assert got[3] == (0, None, None)
    assert got[4][0] == 10


def test_weight_storage_histogram_boost_semantics(spark, sf_dir):
    """Boost Weight() storage parity: value = Σw, variance = Σw² per bin
    (the accumulator storage the reference documents as unsupported,
    core.py:87-90).  Checked against direct per-bin aggregation."""
    from xarray_histogram_spark import Regular
    from xarray_histogram_spark.plans.binned import weight_storage_histogram

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spec = Regular(10, 1.0, 51.0)
    got = {
        r["l_quantity_bin"]: (r["value"], r["variance"])
        for r in weight_storage_histogram(
            li, "l_quantity", spec, "l_discount"
        ).collect()
    }
    exp = {
        r["b"]: (r["sw"], r["sw2"])
        for r in li.where(F.col("l_quantity").between(1.0, 51.0))
        .select(
            F.floor((F.col("l_quantity") - 1.0) / 5.0).cast("int").alias("b"),
            F.round(F.col("l_discount") * 1e6).cast("bigint").alias("q"),
        )
        .groupBy("b")
        .agg(
            (F.sum("q").cast("double") / 1e6).alias("sw"),
            (F.sum(F.col("q") * F.col("q")).cast("double") / 1e6 / 1e6)
            .alias("sw2"),
        )
        .collect()
    }
    assert set(got) == set(range(10))
    for b, (sw, sw2) in exp.items():
        assert got[b][0] == pytest.approx(sw, rel=1e-12)
        assert got[b][1] == pytest.approx(sw2, rel=1e-12)


def test_mean_storage_histogram_boost_semantics(spark, sf_dir):
    """Boost Mean() storage parity: per-bin count, mean and UNBIASED
    sample variance of the sampled quantity, computed from exact quantized
    sums; a single-sample bin yields NULL variance."""
    from xarray_histogram_spark import Regular
    from xarray_histogram_spark.plans.binned import mean_storage_histogram

    rows = [(0.5, 10.0), (0.5, 14.0), (1.5, 7.0)]
    df = spark.createDataFrame(rows, "x double, v double")
    out = {
        r["x_bin"]: (r["count"], r["mean"], r["variance"])
        for r in mean_storage_histogram(
            df, "x", Regular(3, 0.0, 3.0), "v"
        ).collect()
    }
    assert out[0] == (2, 12.0, 8.0)       # var([10,14]) unbiased = 8
    assert out[1] == (1, 7.0, None)       # single sample → NULL variance
    assert out[2] == (0, None, None)      # empty bin


def test_sum_sq_overflow_guard_and_variance_clamp(spark):
    """Requesting squared-quantized stats with a scale that could overflow
    int64 fails fast with advice; a constant-valued bin clamps its sample
    variance at exactly 0 (never a tiny negative)."""
    from xarray_histogram_spark.plans.binned import binned_statistic

    big = spark.createDataFrame(
        [(1.0, 5.0e9)] * 10, "x double, v double"
    )
    with pytest.raises(ValueError, match="smaller .*weight_scale|weight_scale"):
        binned_statistic(big, "x", Regular(2, 0.0, 2.0), "v",
                         stats=("sample_var",), weight_scale=6)
    const = spark.createDataFrame(
        [(0.5, 12.34567891)] * 50, "x double, v double"
    )
    out = binned_statistic(const, "x", Regular(1, 0.0, 1.0), "v",
                           stats=("sample_var",), weight_scale=6)
    var = out.collect()[0]["sample_var_v"]
    assert var == 0.0


def test_no_squared_column_unless_requested(spark, sf_dir):
    """A plain count/sum/mean call must not compute or shuffle the squared
    column: no __s2 anywhere in its plan (ADVICE r04)."""
    import io
    import re
    from contextlib import redirect_stdout

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain = binned_statistic(
        li, "l_quantity", Regular(5, 1.0, 51.0), "l_discount"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        plain.explain("formatted")
    assert "__s2" not in buf.getvalue()
    sq = binned_statistic(
        li, "l_quantity", Regular(5, 1.0, 51.0), "l_discount",
        stats=("count", "sum_sq"),
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        sq.explain("formatted")
    assert "__s2" in buf.getvalue()


def test_sum_sq_bound_escape_hatch(spark):
    """value_bound + n_rows skip the eager overflow job but still enforce
    the bound in Python: safe numbers build the plan, absurd ones raise."""
    df = spark.createDataFrame([(0.5, 2.0)] * 10, "x double, v double")
    out = binned_statistic(
        df, "x", Regular(1, 0.0, 1.0), "v", stats=("sample_var",),
        weight_scale=6, value_bound=2.0, n_rows=10,
    )
    assert out.collect()[0]["sample_var_v"] == 0.0
    with pytest.raises(ValueError, match="weight_scale"):
        binned_statistic(
            df, "x", Regular(1, 0.0, 1.0), "v", stats=("sample_var",),
            weight_scale=6, value_bound=5.0e9, n_rows=10**6,
        )


def test_broadcast_optouts_match(spark, sf_dir):
    """The broadcast hints of the dedup and text operators are only a
    join-strategy choice: under ``spark.sql.optimizer.disableHints``
    (with the size-based broadcast off) each operator plans without a
    broadcast hash join and returns the same rows as the hinted
    default."""
    from xarray_histogram_spark.operators import dedup as dd
    from xarray_histogram_spark.operators.text import remove_repeated_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 5 == 0).select("text")
    kept = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    builders = {
        "ngram_contamination": lambda: dd.ngram_contamination(
            docs, bench, "text", "doc_id"),
        "remove_repeated_lines": lambda: remove_repeated_lines(
            docs, "text", "doc_id"),
        "jaccard_pairs": lambda: dd.jaccard_pairs(docs, "text", "doc_id"),
        "incremental_dedup": lambda: dd.incremental_dedup(
            new, kept, "text", "doc_id"),
    }

    def run(build):
        df = build()
        plan = df._jdf.queryExecution().sparkPlan().toString()
        return plan, sorted(map(str, df.collect()))

    hinted = {name: run(build) for name, build in builders.items()}
    keys = ("spark.sql.optimizer.disableHints",
            "spark.sql.autoBroadcastJoinThreshold")
    old = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], "true")
    spark.conf.set(keys[1], "-1")
    try:
        plain = {name: run(build) for name, build in builders.items()}
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)
    for name in builders:
        assert "BroadcastHashJoin" in hinted[name][0], name
        assert "BroadcastHashJoin" not in plain[name][0], name
        assert hinted[name][1] == plain[name][1], name


def test_weight_storage_grouped(spark, sf_dir):
    """Grouped Weight() storage: sparse (group, bin) rows whose value and
    variance equal the per-(group, bin) direct aggregation."""
    from xarray_histogram_spark import Regular
    from xarray_histogram_spark.plans.binned import weight_storage_histogram

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = {
        (r["l_returnflag"], r["l_quantity_bin"]): (r["value"], r["variance"])
        for r in weight_storage_histogram(
            li, "l_quantity", Regular(5, 1.0, 51.0), "l_discount",
            group_by=["l_returnflag"],
        ).collect()
    }
    exp = {
        (r["g"], r["b"]): (r["sw"], r["sw2"])
        for r in li.where(F.col("l_quantity").between(1.0, 51.0))
        .select(
            F.col("l_returnflag").alias("g"),
            F.floor((F.col("l_quantity") - 1.0) / 10.0).cast("int").alias("b"),
            F.round(F.col("l_discount") * 1e6).cast("bigint").alias("q"),
        )
        .groupBy("g", "b")
        .agg(
            (F.sum("q").cast("double") / 1e6).alias("sw"),
            (F.sum(F.col("q") * F.col("q")).cast("double") / 1e6 / 1e6)
            .alias("sw2"),
        )
        .collect()
    }
    assert out == {k: (pytest.approx(v[0]), pytest.approx(v[1]))
                   for k, v in exp.items()}


def test_nan_weight_skipped_like_null(spark, sf_dir):
    """NaN weights contribute zero mass in quantized mode — the one
    semantic the Column path, Arrow kernel (which receives Spark NULLs as
    pandas NaN), and DuckDB mirror can all share.  All three agree."""
    from xarray_histogram_spark import Regular, histogram
    from xarray_histogram_spark.oracle import histogram_oracle_sql
    from xarray_histogram_spark.plans.fast_fill import histogramdd_fill

    d = spark.createDataFrame(
        [(1.0, 2.0), (1.5, float("nan")), (1.2, None), (0.5, 3.0)],
        "x double, w double",
    )
    spec = Regular(2, 0.0, 2.0)
    a = sorted(map(tuple, histogram(d, "x", spec, weights="w").df.collect()))
    b = sorted(
        map(tuple, histogramdd_fill(d, ["x"], [spec], weights="w").df.collect())
    )
    assert a == b
    assert a == [(0, 0.0, 3.0), (1, 1.0, 2.0)]  # NaN and NULL both skipped
    con = duck(sf_dir)
    con.execute(
        "CREATE OR REPLACE VIEW nanw AS SELECT * FROM (VALUES "
        "(1.0::DOUBLE, 2.0::DOUBLE), (1.5, 'nan'::DOUBLE), (1.2, NULL), "
        "(0.5, 3.0)) v(x, w)"
    )
    got = sorted(
        map(tuple, con.execute(
            histogram_oracle_sql("nanw", ["x"], [spec], weights="w")
        ).fetchall())
    )
    assert got == a
