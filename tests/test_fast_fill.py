"""Arrow fill path must produce BIT-IDENTICAL results to the Column path
(same ids, exact int64 partials) across axis families, weights, groups, flow."""

import pytest

from xarray_histogram_spark import (
    IntCategory,
    Integer,
    Regular,
    StrCategory,
    Variable,
    histogramdd,
)
from xarray_histogram_spark.plans.fast_fill import histogramdd_fill


def _cmp(a, b, keys):
    pa = a.df.toPandas().sort_values(keys).reset_index(drop=True)
    pb = b.df.toPandas().sort_values(keys).reset_index(drop=True)
    assert list(pa.columns) == list(pb.columns)
    for c in pa.columns:
        assert (
            pa[c].fillna("__n__").to_numpy() == pb[c].fillna("__n__").to_numpy()
        ).all(), f"mismatch in {c}"


CASES = [
    dict(cols=["l_quantity"], bins=[Regular(12, 1.0, 51.0)]),
    dict(cols=["l_quantity"], bins=[Regular(12, 1.0, 51.0)],
         group_by=["l_returnflag"], weights="l_extendedprice"),
    dict(cols=["l_discount"], bins=[Variable((0.0, 0.02, 0.05, 0.11))], flow=True),
    dict(cols=["l_linenumber"], bins=[Integer(1, 8)], flow=True),
    dict(cols=["l_returnflag"], bins=[StrCategory(("N", "R"))], flow=True),
    dict(cols=["l_quantity", "l_discount"],
         bins=[Regular(5, 1.0, 51.0), Variable((0.0, 0.05, 0.11))],
         group_by=["l_linestatus"], density=True),
    dict(cols=["o_totalprice"],
         bins=[Regular(8, 100.0, 600000.0, transform="log", exact=True)],
         _table="orders"),
    dict(cols=["l_quantity"],
         bins=[Regular(12, 1.0, 51.0, transform="pow", power=2.0)]),
    dict(cols=["l_quantity"],
         bins=[Regular(12, 1.0, 51.0, transform="pow", power=0.5, exact=True)],
         flow=True),
    # ungrouped weighted: pins the zero spine unioned in before the fill
    # path's own aggregation against the column path
    dict(cols=["l_quantity"], bins=[Regular(12, 1.0, 51.0)],
         weights="l_extendedprice"),
]


@pytest.mark.parametrize("case", CASES)
def test_fill_equals_column_path(spark, sf_dir, case):
    case = dict(case)
    table = case.pop("_table", "lineitem")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    cols, bins = case.pop("cols"), case.pop("bins")
    a = histogramdd(df, cols, bins, **case)
    b = histogramdd_fill(df, cols, bins, **case)
    keys = list(case.get("group_by", [])) + [f"{c}_bin" for c in cols]
    _cmp(a, b, keys)


def test_fill_intcategory(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/part.parquet")
    spec = [IntCategory((1, 5, 10, 25, 50))]
    a = histogramdd(df, ["p_size"], spec, flow=True)
    b = histogramdd_fill(df, ["p_size"], spec, flow=True)
    _cmp(a, b, ["p_size_bin"])


def test_fill_stats_compatible(spark, lineitem):
    """The fill-path result feeds the same stats machinery."""
    h = histogramdd_fill(
        lineitem, ["l_quantity"], [Regular(25, 1.0, 51.0)],
        group_by=["l_returnflag"],
    )
    rows = h.median().collect()
    assert len(rows) == 3 and all(r[1] > 0 for r in rows)


def test_fill_sqrt_negative_matches_column_path(spark, lineitem):
    """sqrt(negative) = NaN must land in overflow on BOTH paths (Spark's
    NaN ordering sends it there; the kernel adds it to `bad` explicitly)."""
    from pyspark.sql import functions as F

    df = lineitem.select((F.col("l_quantity") - 25.0).alias("q"))
    spec = [Regular(6, 0.5, 5.0, transform="sqrt")]
    a = histogramdd(df, ["q"], spec, flow=True)
    b = histogramdd_fill(df, ["q"], spec, flow=True)
    _cmp(a, b, ["q_bin"])
    # negatives exist, so overflow must be populated identically & nonzero
    over = {r["q_bin"]: r["q_histogram"] for r in a.df.collect()}[6]
    assert over > 0


def test_fill_bool_axis_and_self_weight_parity(spark, lineitem):
    """The fill path must apply the same bool-axis relabel as histogramdd
    (identical labels/flow structure), and a self-weighted histogram
    (weights == histogrammed column) must not trip the duplicate-column
    projection."""
    from pyspark.sql import functions as F

    d = lineitem.withColumn("is_bulk", F.col("l_quantity") > F.lit(25.0))
    a = histogramdd(d, ["is_bulk"], [Integer(0, 2)])
    b = histogramdd_fill(d, ["is_bulk"], [Integer(0, 2)])
    assert a.specs["is_bulk"].bool_labels and b.specs["is_bulk"].bool_labels
    _cmp(a, b, ["is_bulk_bin"])
    sw_a = histogramdd(
        lineitem, ["l_quantity"], [Regular(5, 1.0, 51.0)], weights="l_quantity"
    )
    sw_b = histogramdd_fill(
        lineitem, ["l_quantity"], [Regular(5, 1.0, 51.0)], weights="l_quantity"
    )
    _cmp(sw_a, sw_b, ["l_quantity_bin"])
    # extent guard parity
    with pytest.raises(ValueError, match="infeasible"):
        histogramdd_fill(
            lineitem, ["l_quantity", "l_extendedprice"],
            [Regular(100_000, 0.0, 1.0), Regular(100_000, 0.0, 1.0)],
        )


def test_fill_pow_negative_matches_column_path(spark, lineitem):
    """x < 0 is out of the pow domain and must land in UNDERFLOW on both
    paths and both parities of p — without the guard, even powers fold
    pow(-3, 2) = 9 onto a positive core bin."""
    from pyspark.sql import functions as F

    df = lineitem.select((F.col("l_quantity") - 25.0).alias("q"))
    for p in (2.0, 0.5):
        spec = [Regular(6, 0.0, 26.0, transform="pow", power=p)]
        a = histogramdd(df, ["q"], spec, flow=True)
        b = histogramdd_fill(df, ["q"], spec, flow=True)
        _cmp(a, b, ["q_bin"])
        under = {r["q_bin"]: r["q_histogram"] for r in a.df.collect()}[-1]
        assert under > 0
        # and fast == exact on this integer-valued data
        c = histogramdd(
            df, ["q"],
            [Regular(6, 0.0, 26.0, transform="pow", power=p, exact=True)],
            flow=True,
        )
        _cmp(a, c, ["q_bin"])
