"""End-to-end histogram tests: Spark planner vs DuckDB oracle (exact match)
and vs np.histogram (the reference's own oracle, with its documented atol=1
last-bin tolerance — /root/reference/tests/test_histogram.py:292-293)."""

import numpy as np
import pytest

from xarray_histogram_spark import (
    IntCategory,
    Integer,
    Regular,
    StrCategory,
    Variable,
    histogram,
    histogram2d,
    histogramdd,
)
from xarray_histogram_spark.oracle import histogram_oracle_sql

from .util import assert_matches_sql, duck


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck(sf_dir)


def check(result, table, cols, specs, con, **kw):
    sql = histogram_oracle_sql(table, cols, specs, **kw)
    assert_matches_sql(result.df, sql, con)


def test_regular_1d(lineitem, con):
    spec = Regular(20, 900.0, 105000.0)
    r = histogram(lineitem, "l_extendedprice", spec)
    check(r, "lineitem", ["l_extendedprice"], [spec], con)
    # dense: every bin present even if empty
    assert r.df.count() == 20


def test_regular_1d_flow(lineitem, con):
    spec = Regular(10, 5000.0, 50000.0)
    r = histogram(lineitem, "l_extendedprice", spec, flow=True)
    check(r, "lineitem", ["l_extendedprice"], [spec], con, flow=True)
    assert r.df.count() == 12
    labels = [row["l_extendedprice_bins"] for row in r.df.collect()]
    assert float("-inf") in labels and float("inf") in labels


def test_regular_vs_numpy(lineitem):
    vals = np.array(
        [r["l_quantity"] for r in lineitem.select("l_quantity").collect()]
    )
    lo, hi, n = 1.0, 51.0, 25
    expected, _ = np.histogram(vals, bins=n, range=(lo, hi))
    r = histogram(lineitem, "l_quantity", Regular(n, lo, hi))
    got = (
        r.df.orderBy("l_quantity_bin")
        .select("l_quantity_histogram")
        .toPandas()["l_quantity_histogram"]
        .to_numpy()
    )
    # boost half-open last bin vs numpy closed last bin: atol=1 on the last
    np.testing.assert_allclose(got[:-1], expected[:-1], atol=0)
    np.testing.assert_allclose(got[-1], expected[-1], atol=max(1, 0))


def test_weighted(lineitem, con):
    spec = Regular(15, 0.0, 0.1)
    r = histogram(lineitem, "l_discount", spec, weights="l_extendedprice")
    check(
        r, "lineitem", ["l_discount"], [spec], con, weights="l_extendedprice"
    )


def test_grouped(lineitem, con):
    spec = Regular(12, 1.0, 51.0)
    r = histogram(lineitem, "l_quantity", spec, group_by=["l_returnflag"])
    check(
        r, "lineitem", ["l_quantity"], [spec], con, group_by=["l_returnflag"]
    )
    nflags = lineitem.select("l_returnflag").distinct().count()
    assert r.df.count() == 12 * nflags


def test_grouped_expr(lineitem, con):
    """Grouping on a computed column — the engine's generalisation of the
    reference's loop dims (time-sliced histograms, README.md:46-49)."""
    from pyspark.sql import functions as F

    spec = Regular(8, 1.0, 51.0)
    df = lineitem.withColumn(
        "ship_month", F.month("l_shipdate").cast("int")
    )
    r = histogram(df, "l_quantity", spec, group_by=["ship_month"])
    check(
        r, "lineitem", ["l_quantity"], [spec], con,
        group_by=["ship_month"],
        group_exprs={"ship_month": "CAST(month(l_shipdate) AS INT)"},
    )


def test_density(lineitem, con):
    spec = Regular(10, 1.0, 51.0)
    r = histogram(lineitem, "l_quantity", spec, density=True)
    check(r, "lineitem", ["l_quantity"], [spec], con, density=True)
    # pdf integrates to 1
    import pandas as pd

    pdf = r.df.toPandas()
    total = (pdf["l_quantity_pdf"] * 5.0).sum()
    assert total == pytest.approx(1.0)


def test_density_flow_divided(lineitem, con):
    spec = Regular(6, 10.0, 40.0)
    r = histogram(lineitem, "l_quantity", spec, density=True, flow=True)
    check(r, "lineitem", ["l_quantity"], [spec], con, density=True, flow=True)
    rows = {row["l_quantity_bin"]: row["l_quantity_pdf"] for row in r.df.collect()}
    raw = histogram(lineitem, "l_quantity", spec, flow=True)
    counts = {row["l_quantity_bin"]: row["l_quantity_histogram"] for row in raw.df.collect()}
    # core.py:662: pdf = hist / get_area / flow-excluded total, for EVERY
    # cell; get_area (core.py:638-646) forces flow areas to 1, so a flow
    # cell is raw/total
    total = sum(v for k, v in counts.items() if 0 <= k < spec.n)
    assert rows[-1] == pytest.approx(counts[-1] / total)
    assert rows[spec.n] == pytest.approx(counts[spec.n] / total)


def test_variable_axis(lineitem, con):
    spec = Variable((0.0, 0.02, 0.05, 0.11))
    r = histogram(lineitem, "l_discount", spec)
    check(r, "lineitem", ["l_discount"], [spec], con)


def test_integer_axis(lineitem, con):
    spec = Integer(1, 8)
    r = histogram(lineitem, "l_linenumber", spec, flow=True)
    check(r, "lineitem", ["l_linenumber"], [spec], con, flow=True)


def test_intcategory_axis(spark, sf_dir, con):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    spec = IntCategory((1, 5, 10, 25, 50))
    r = histogram(part, "p_size", spec, flow=True)
    check(r, "part", ["p_size"], [spec], con, flow=True)


def test_strcategory_axis(lineitem, con):
    spec = StrCategory(("N", "R"))
    r = histogram(lineitem, "l_returnflag", spec, flow=True)
    check(r, "lineitem", ["l_returnflag"], [spec], con, flow=True)
    labels = {row["l_returnflag_bins"] for row in r.df.collect()}
    assert "_flow_bin" in labels


def test_strcategory_labels_with_backslash_and_quote(spark):
    """Category labels are emitted verbatim: a backslash or a quote in a
    category must not be unescaped by the SQL parser (``a\\b`` once came
    back as ``a`` + backspace), ungrouped and grouped alike."""
    cats = ("a\\b", "c:\\new", "it's")
    df = spark.createDataFrame(
        [(c, g) for g in ("g1", "g2") for c in cats], "c: string, g: string"
    )
    spec = StrCategory(cats)
    flat = histogram(df, "c", spec).df.collect()
    assert {(r["c_bins"], r["c_histogram"]) for r in flat} == {
        (c, 2.0) for c in cats
    }
    grouped = histogram(df, "c", spec, group_by=["g"]).df.collect()
    assert {(r["g"], r["c_bins"], r["c_histogram"]) for r in grouped} == {
        (g, c, 1.0) for g in ("g1", "g2") for c in cats
    }


def test_log_transform_exact(orders, con):
    spec = Regular(12, 100.0, 600000.0, transform="log", exact=True)
    r = histogram(orders, "o_totalprice", spec)
    check(r, "orders", ["o_totalprice"], [spec], con)


def test_log_fast_matches_exact(orders):
    """The O(1) log-arithmetic path agrees with the exact edge-scan path."""
    fast = histogram(
        orders, "o_totalprice", Regular(12, 100.0, 600000.0, transform="log")
    )
    exact = histogram(
        orders,
        "o_totalprice",
        Regular(12, 100.0, 600000.0, transform="log", exact=True),
    )
    a = fast.df.orderBy("o_totalprice_bin").toPandas()
    b = exact.df.orderBy("o_totalprice_bin").toPandas()
    assert (a["o_totalprice_histogram"] == b["o_totalprice_histogram"]).all()


def test_2d(lineitem, con):
    specs = [Regular(10, 1.0, 51.0), Variable((0.0, 0.03, 0.06, 0.11))]
    r = histogram2d(lineitem, "l_quantity", "l_discount", specs)
    check(r, "lineitem", ["l_quantity", "l_discount"], specs, con)
    assert r.df.count() == 30


def test_3d_grouped(lineitem, con):
    specs = [
        Regular(5, 1.0, 51.0),
        Regular(4, 900.0, 105000.0),
        StrCategory(("O", "F")),
    ]
    r = histogramdd(
        lineitem,
        ["l_quantity", "l_extendedprice", "l_linestatus"],
        specs,
        group_by=["l_returnflag"],
    )
    check(
        r,
        "lineitem",
        ["l_quantity", "l_extendedprice", "l_linestatus"],
        specs,
        con,
        group_by=["l_returnflag"],
    )


def test_range_inference(lineitem, con):
    """bins=int, range=None → min/max scan (core.py:500-506); max value lands
    in overflow (boost half-open) — reference behaviour."""
    r = histogram(lineitem, "l_quantity", 10)
    spec = r.specs["l_quantity"]
    assert spec.lo == 1.0  # driver data: quantity >= 1
    check(r, "lineitem", ["l_quantity"], [spec], con)


def test_int64_storage(lineitem, con):
    spec = Regular(10, 1.0, 51.0)
    r = histogram(lineitem, "l_quantity", spec, storage="int64")
    assert dict(r.df.dtypes)["l_quantity_histogram"] == "bigint"
    check(r, "lineitem", ["l_quantity"], [spec], con, storage="int64")


def test_dtype_rejection(lineitem):
    with pytest.raises(TypeError):
        histogram(lineitem, "l_returnflag", Regular(5, 0.0, 1.0))
    with pytest.raises(TypeError):
        histogram(lineitem, "l_quantity", Integer(0, 5))  # double col
    with pytest.raises(TypeError):
        histogram(lineitem, "l_linenumber", StrCategory(("a",)))


def test_empty_input_contract(lineitem):
    """Empty input: dense zero histogram (boost empty-hist semantics);
    grouped → no groups → empty; density → null pdf (0/0)."""
    from pyspark.sql import functions as F

    empty = lineitem.where(F.lit(False))
    spec = Regular(5, 1.0, 51.0)
    r = histogram(empty, "l_quantity", spec)
    rows = r.df.orderBy("l_quantity_bin").collect()
    assert [x["l_quantity_histogram"] for x in rows] == [0.0] * 5
    assert histogram(empty, "l_quantity", spec, group_by=["l_returnflag"]).df.count() == 0
    pdf = histogram(empty, "l_quantity", spec, density=True).df.collect()
    assert all(x["l_quantity_pdf"] is None for x in pdf)


def test_storage_aliases(lineitem):
    spec = Regular(5, 1.0, 51.0)
    assert (
        dict(histogram(lineitem, "l_quantity", spec, storage="Unlimited").df.dtypes)[
            "l_quantity_histogram"
        ]
        == "double"
    )
    assert (
        dict(
            histogram(lineitem, "l_quantity", spec, storage="AtomicInt64").df.dtypes
        )["l_quantity_histogram"]
        == "bigint"
    )


def test_per_slice_decomposition(lineitem):
    """Grouped histogram equals independent histogram of each slice
    (reference per-slice test, tests/test_histogram.py:306-363)."""
    spec = Regular(8, 1.0, 51.0)
    r = histogram(lineitem, "l_quantity", spec, group_by=["l_returnflag"])
    whole = {
        (row["l_returnflag"], row["l_quantity_bin"]): row["l_quantity_histogram"]
        for row in r.df.collect()
    }
    for flag in ["A", "N", "R"]:
        sub = lineitem.where(f"l_returnflag = '{flag}'")
        rs = histogram(sub, "l_quantity", spec)
        for row in rs.df.collect():
            assert whole[(flag, row["l_quantity_bin"])] == row["l_quantity_histogram"]


def test_categories_from_data(lineitem):
    """Growth-axis emulation: discover categories with a distinct scan, then
    bin — no misses land in overflow."""
    from xarray_histogram_spark.plans.histogram import categories_from_data

    spec = categories_from_data(lineitem, "l_returnflag")
    assert spec.categories == ("A", "N", "R")
    r = histogram(lineitem, "l_returnflag", spec, flow=True, storage="int64")
    rows = {row["l_returnflag_bins"]: row["l_returnflag_histogram"]
            for row in r.df.collect()}
    assert rows["_flow_bin"] == 0
    assert sum(rows.values()) == lineitem.count()
    ispec = categories_from_data(lineitem, "l_linenumber")
    assert list(ispec.categories) == sorted(ispec.categories)
    with pytest.raises(ValueError, match="distinct"):
        categories_from_data(lineitem, "l_orderkey", max_categories=10)


def test_ppf_vs_percentile_approx(lineitem):
    """Histogram-derived ppf vs Spark's raw-data t-digest sketch — the
    from-raw-data analog (SURVEY #28): agree within half a bin width."""
    from pyspark.sql import functions as F

    spec = Regular(40, 900.0, 105000.0)
    h = histogram(lineitem, "l_extendedprice", spec)
    got = h.ppf(0.9).collect()[0][0]
    raw = lineitem.agg(
        F.percentile_approx("l_extendedprice", 0.9, 10000)
    ).first()[0]
    half_bin = (105000.0 - 900.0) / 40 / 2
    assert abs(got - raw) < half_bin


def test_quantile_bins_equal_mass(spark, lineitem):
    """Rank-exact quantile edges give equal-mass bins (±1 row for the
    half-open last bin sending the max to overflow)."""
    from xarray_histogram_spark import Variable, histogramdd
    from xarray_histogram_spark.plans.histogram import quantile_edges

    edges = quantile_edges(lineitem, "l_extendedprice", 5)
    assert len(edges) == 6 and edges == sorted(edges)
    r = histogramdd(lineitem, ["l_extendedprice"], [Variable(tuple(edges))])
    counts = [
        row["l_extendedprice_histogram"]
        for row in r.df.orderBy("l_extendedprice_bin").collect()
    ]
    total = sum(counts)
    assert all(abs(c - total / 5) <= 1 for c in counts)
    # approx path: same shape, sketch-accurate edges
    a = quantile_edges(lineitem, "l_extendedprice", 5, approx=True)
    assert len(a) == 6 and a[0] <= edges[0] and abs(a[-1] - edges[-1]) < 1e-6


def test_quantile_bins_constant_column_raises(spark):
    from xarray_histogram_spark.plans.histogram import quantile_edges

    df = spark.range(100).selectExpr("CAST(7.5 AS DOUBLE) AS x")
    with pytest.raises(ValueError, match="single distinct value"):
        quantile_edges(df, "x", 4)


def test_preserve_groups_all_nan_slice(spark):
    """Reference loop-slice semantics: a group whose values all fall in flow
    bins appears with zero counts under preserve_groups=True, vanishes under
    the default (performance) semantics."""
    from xarray_histogram_spark import Regular, histogram

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", float("nan")), ("b", None)],
        "g: string, x: double",
    )
    spec = Regular(4, 0.0, 4.0)
    fast = histogram(df, "x", spec, group_by=["g"]).df
    assert {r["g"] for r in fast.collect()} == {"a"}
    full = histogram(df, "x", spec, group_by=["g"], preserve_groups=True)
    rows = full.df.collect()
    assert {r["g"] for r in rows} == {"a", "b"}
    bsum = sum(r["x_histogram"] for r in rows if r["g"] == "b")
    assert bsum == 0.0
    assert len(rows) == 2 * 4  # dense both groups
    # flow=True + preserve_groups: flow bins carry the NaN count
    fl = histogram(df, "x", spec, group_by=["g"], flow=True,
                   preserve_groups=True).df.collect()
    bover = [r for r in fl if r["g"] == "b" and r["x_bin"] == 4]
    assert bover and bover[0]["x_histogram"] == 2.0


def test_quantile_edges_nan_tolerant(spark):
    """NaN values rank last (NaN bucket) and must not poison the bucket
    split bounds; edges come from the finite values."""
    import math

    from xarray_histogram_spark.plans.histogram import quantile_edges

    vals = [float(v) for v in range(100)] + [float("nan")] * 5
    df = spark.createDataFrame([(v,) for v in vals], "x: double")
    edges = quantile_edges(df, "x", 4)
    assert all(not math.isnan(e) for e in edges)
    assert edges[0] == 0.0
    assert len(edges) == 5


def test_histogram_columns_wide_generator_values(spark, lineitem):
    """The k>16 posexplode shape must produce the same histograms as
    per-column histogram() calls (the k≤16 branch shape is compared to the
    oracle elsewhere; this pins the generator shape to the same values)."""
    from pyspark.sql import functions as F

    from xarray_histogram_spark import histogram_columns

    k = 17
    wide = lineitem.select(
        *[(F.col("l_quantity") + F.lit(float(i))).alias(f"q{i}")
          for i in range(k)]
    )
    spec = Regular(10, 0.0, 70.0)
    r = histogram_columns(wide, [f"q{i}" for i in range(k)], spec,
                          dim_name="series")
    got = {
        (row["series"], row["value_bin"]): row[r.value_col]
        for row in r.df.collect()
    }
    assert len(got) == k * 10
    for i in (0, 7, 16):
        h = histogram(wide, f"q{i}", spec)
        exp = {row[f"q{i}_bin"]: row[h.value_col] for row in h.df.collect()}
        for b, v in exp.items():
            assert got[(f"q{i}", b)] == v


def test_histogram_columns_weighted_branch_values(spark, lineitem):
    """Weighted histogram_columns (k≤16 branch shape) must equal per-column
    weighted histogram() results — pins the shared-weight branch plan."""
    from xarray_histogram_spark import histogram_columns

    spec = Regular(8, 0.0, 0.09)
    r = histogram_columns(
        lineitem, ["l_discount", "l_tax"], spec,
        weights="l_quantity", dim_name="series",
    )
    got = {
        (row["series"], row["value_bin"]): row[r.value_col]
        for row in r.df.collect()
    }
    assert len(got) == 2 * 8
    for c in ("l_discount", "l_tax"):
        h = histogram(lineitem, c, spec, weights="l_quantity")
        for row in h.df.collect():
            assert got[(c, row[f"{c}_bin"])] == row[h.value_col]


def test_histogram_columns_result_statistics(spark, lineitem):
    """The along-dim result is a full HistogramResult: per-series
    statistics work, with the series dim acting as a group key, and agree
    with the statistic of a standalone per-column histogram."""
    from xarray_histogram_spark import histogram_columns

    spec = Regular(11, 0.0, 0.11)
    r = histogram_columns(lineitem, ["l_discount", "l_tax"], spec,
                          dim_name="series")
    med = {row["series"]: row["value_median"] for row in r.median().collect()}
    assert set(med) == {"l_discount", "l_tax"}
    solo = histogram(lineitem, "l_discount", spec)
    expect = solo.median().first()["l_discount_median"]
    assert med["l_discount"] == expect


def test_count_path_equals_unit_weight_sum_path(lineitem):
    """The COUNT(*)−spine-correction plan (round-4 unweighted rework) must
    equal a weighted histogram with unit weights, which exercises the
    untouched SUM aggregation machinery — two independent plans, one
    answer.  Covers ungrouped dense, grouped, and flow variants."""
    from pyspark.sql import functions as F

    du = lineitem.withColumn("one", F.lit(1.0))
    spec = Regular(13, 1.0, 51.0)
    for kw in (
        {},
        {"group_by": ["l_returnflag"]},
        {"flow": True},
    ):
        a = histogram(lineitem, "l_quantity", spec, **kw)
        b = histogram(du, "l_quantity", spec, weights="one",
                      weight_scale=0, **kw)
        ka = sorted(
            tuple(r[c] for c in (*kw.get("group_by", []), "l_quantity_bin"))
            + (r[a.value_col],)
            for r in a.df.collect()
        )
        kb = sorted(
            tuple(r[c] for c in (*kw.get("group_by", []), "l_quantity_bin"))
            + (r[b.value_col],)
            for r in b.df.collect()
        )
        assert ka == kb, kw


# ---------------------------------------------------------------------------
# arbitrary monotone transform axes (MonotoneRegular)
# ---------------------------------------------------------------------------


def test_monotone_logit_exact_oracle(lineitem, con):
    from xarray_histogram_spark import MonotoneRegular

    spec = MonotoneRegular.logit(8, 0.005, 0.105, exact=True)
    r = histogram(lineitem, "l_discount", spec, flow=True)
    check(r, "lineitem", ["l_discount"], [spec], con, flow=True)
    # total mass conserved: core + flow == rows
    tot = sum(x["l_discount_histogram"] for x in r.df.collect())
    assert tot == lineitem.count()


def test_monotone_asinh_fast_vs_exact(spark, lineitem):
    """Fast transformed-bucketize path and exact literal-edge path agree
    on domain-interior data (asinh is correctly mirrorable here: every
    discount value transforms well clear of any edge)."""
    from xarray_histogram_spark import MonotoneRegular

    fast = MonotoneRegular.asinh(10, -1.0, 1.0, exact=False)
    assert not fast.exact
    exact = MonotoneRegular.asinh(10, -1.0, 1.0, exact=True)
    a = histogram(lineitem, "l_discount", fast, flow=True).df.collect()
    b = histogram(lineitem, "l_discount", exact, flow=True).df.collect()
    key = lambda rows: sorted((r["l_discount_bin"], r["l_discount_histogram"]) for r in rows)
    assert key(a) == key(b)


def test_monotone_equivalent_to_variable(lineitem):
    """A MonotoneRegular IS a Variable over its computed edges — identical
    bins, labels, widths, and counts."""
    from xarray_histogram_spark import MonotoneRegular, Variable

    m = MonotoneRegular.logit(6, 0.01, 0.2, exact=True)
    v = Variable(tuple(m.edges()))
    hm = histogram(lineitem, "l_discount", m, flow=True).df.collect()
    hv = histogram(lineitem, "l_discount", v, flow=True).df.collect()
    assert sorted(map(tuple, hm)) == sorted(map(tuple, hv))


def test_monotone_error_contracts(spark):
    import math as _m

    from xarray_histogram_spark import MonotoneRegular

    with pytest.raises(ValueError, match="needs fwd"):
        MonotoneRegular(4, 0.0, 1.0)
    with pytest.raises(ValueError, match="not transform="):
        MonotoneRegular(4, 1.0, 2.0, transform="log",
                        fwd=_m.log, inv=_m.exp)
    with pytest.raises(ValueError, match="strictly increasing"):
        MonotoneRegular(4, 0.0, 6.0, fwd=_m.cos, inv=_m.acos)
    with pytest.raises(ValueError, match="0 < lo < hi < 1"):
        MonotoneRegular.logit(4, 0.2, 1.5)
    # fast-path oracle without a SQL mirror refuses
    sq = MonotoneRegular(4, 1.0, 2.0, fwd=lambda x: x * x,
                         inv=_m.sqrt, fwd_col=lambda c: c * c,
                         exact=False)
    with pytest.raises(ValueError, match="fwd_sql"):
        sq.raw_id_sql("x")
    # without fwd_col there is no fast path: exact is forced on
    e = MonotoneRegular(4, 1.0, 2.0, fwd=lambda x: x * x, inv=_m.sqrt)
    assert e.exact


def test_monotone_named_constructors_exact_by_default():
    """The named constructors honor the class's documented
    deterministic-by-default contract even though they ship fwd_col:
    bare logit()/asinh() must take the literal-edge path, and
    exact=False must still opt into the fast path."""
    from xarray_histogram_spark import MonotoneRegular

    assert MonotoneRegular.logit(4, 0.1, 0.9).exact
    assert MonotoneRegular.asinh(4, -1.0, 1.0).exact
    assert not MonotoneRegular.logit(4, 0.1, 0.9, exact=False).exact
    assert not MonotoneRegular.asinh(4, -1.0, 1.0, exact=False).exact


def test_monotone_persistence_roundtrip(spark, lineitem, tmp_path):
    """to_dict serializes the resolved edges as a Variable axis; a result
    written+reloaded has identical bins and data."""
    from xarray_histogram_spark import MonotoneRegular, Variable
    from xarray_histogram_spark.binspec import BinSpec
    from xarray_histogram_spark.sources.io import read_result, write_result

    m = MonotoneRegular.asinh(5, 0.0, 0.1, exact=True)
    rt = BinSpec.from_dict(m.to_dict())
    assert isinstance(rt, Variable)
    assert rt.edges() == m.edges()
    assert [dataclasses_astuple_safe(b) for b in rt.bins(True)] == [
        dataclasses_astuple_safe(b) for b in m.bins(True)
    ]
    h = histogram(lineitem, "l_discount", m, flow=True)
    path = str(tmp_path / "mono")
    write_result(h, path)
    h2 = read_result(spark, path)
    a = sorted(map(tuple, h.df.collect()))
    b = sorted(map(tuple, h2.df.collect()))
    assert a == b


def dataclasses_astuple_safe(b):
    return (b.id, b.label, b.left, b.right, b.center, b.width, b.is_flow)


def test_monotone_asinh_negative_range(spark):
    """Review regression: the naive ln(x+sqrt(x²+1)) formulation cancels
    catastrophically for negative x (argument rounds to 0 at x≤-6.7e7).
    The sign-symmetric fast path must bin large negatives correctly."""
    from xarray_histogram_spark import MonotoneRegular

    spec = MonotoneRegular.asinh(10, -1e9, 1e9, exact=False)
    assert not spec.exact
    vals = [-1e8, -6.7e7, -1e6, -1.0, 0.0, 1.0, 1e6, 1e8]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    r = histogram(df, "x", spec, flow=True)
    got = {
        row["x_bin"]: row["x_histogram"]
        for row in r.df.collect()
        if row["x_histogram"] > 0
    }
    # nothing lands in flow (all values are interior), and the exact path
    # agrees bin-for-bin
    assert -1 not in got and 10 not in got
    exact = MonotoneRegular.asinh(10, -1e9, 1e9, exact=True)
    got2 = {
        row["x_bin"]: row["x_histogram"]
        for row in histogram(df, "x", exact, flow=True).df.collect()
        if row["x_histogram"] > 0
    }
    assert got == got2


def test_monotone_fast_oracle_out_of_domain(spark, tmp_path):
    """Review regression: DuckDB ln() RAISES on non-positive arguments, so
    the named constructors' fwd_sql must be total — the fast-path oracle
    over a column containing out-of-domain values (0.0, 1.0, negatives,
    NaN, NULL) must run and route them to overflow on both engines."""
    import duckdb

    from xarray_histogram_spark import MonotoneRegular
    from xarray_histogram_spark.oracle import histogram_oracle_sql

    from .util import assert_matches_sql

    spec = MonotoneRegular.logit(4, 0.1, 0.9, exact=False)
    assert not spec.exact
    rows = [(0.0,), (1.0,), (-3.0,), (2.5,), (None,), (float("nan"),),
            (0.25,), (0.5,), (0.75,), (0.15,)]
    df = spark.createDataFrame(rows, "x double")
    p = str(tmp_path / "vals.parquet")
    df.coalesce(1).write.parquet(p)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW vals AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    r = histogram(df, "x", spec, flow=True)
    assert_matches_sql(
        r.df, histogram_oracle_sql("vals", ["x"], [spec], flow=True), con
    )


def test_monotone_merge_across_constructions(spark, lineitem):
    """Review regression: two separately constructed equal-parameter
    MonotoneRegular axes must compare equal so shard merge works."""
    from xarray_histogram_spark import MonotoneRegular

    a = histogram(
        lineitem.where(F_mod_even("l_orderkey")),
        "l_discount", MonotoneRegular.logit(6, 0.005, 0.105, exact=True),
        flow=True,
    )
    b = histogram(
        lineitem.where(~F_mod_even("l_orderkey")),
        "l_discount", MonotoneRegular.logit(6, 0.005, 0.105, exact=True),
        flow=True,
    )
    whole = histogram(
        lineitem, "l_discount",
        MonotoneRegular.logit(6, 0.005, 0.105, exact=True), flow=True,
    )
    m = a.merge(b)
    assert sorted(map(tuple, m.df.collect())) == sorted(
        map(tuple, whole.df.collect())
    )


def F_mod_even(col):
    from pyspark.sql import functions as _F

    return (_F.col(col) % 2) == 0
