"""Statistics tests: exact DuckDB-oracle matches + numerical parity vs raw
samples (the reference's tolerance tests, tests/test_accessor.py:334-363:
hist-derived stats within half a bin width of raw-sample values)."""

import numpy as np
import pytest

from xarray_histogram_spark import Regular, histogram
from xarray_histogram_spark.oracle import stats_oracle_sql

from .util import assert_matches_sql, duck


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck(sf_dir)


SPEC = Regular(25, 1.0, 51.0)


@pytest.fixture(scope="module")
def hist_q(lineitem):
    return histogram(lineitem, "l_quantity", SPEC, group_by=["l_returnflag"])


def check_stat(df, kind, con, **kw):
    sql = stats_oracle_sql(
        kind, "lineitem", ["l_quantity"], [SPEC], "l_quantity",
        group_by=["l_returnflag"], **kw,
    )
    assert_matches_sql(df, sql, con)


def test_mean_oracle(hist_q, con):
    check_stat(hist_q.mean(), "mean", con)


def test_var_oracle(hist_q, con):
    check_stat(hist_q.var(), "var", con)


def test_std_oracle(hist_q, con):
    check_stat(hist_q.std(), "std", con)


def test_moment_oracle(hist_q, con):
    check_stat(hist_q.moment(3), "moment", con, order=3)


def test_median_oracle(hist_q, con):
    check_stat(hist_q.median(), "median", con)


def test_ppf_oracle(hist_q, con):
    check_stat(hist_q.ppf(0.9), "ppf", con, q=0.9)


def test_interval_oracle(hist_q, con):
    check_stat(hist_q.interval(0.8), "interval", con, confidence=0.8)


def test_cdf_oracle(hist_q, con):
    check_stat(hist_q.cdf(25.0), "cdf", con, x=25.0)


def test_weighted_stats_oracle(lineitem, con):
    r = histogram(
        lineitem, "l_quantity", SPEC, weights="l_extendedprice",
        group_by=["l_returnflag"],
    )
    sql = stats_oracle_sql(
        "mean", "lineitem", ["l_quantity"], [SPEC], "l_quantity",
        weights="l_extendedprice", group_by=["l_returnflag"],
    )
    assert_matches_sql(r.mean(), sql, con)


def test_stats_vs_raw_samples(lineitem):
    """Reference tolerance: hist-derived mean/median/std within half a bin
    width of the raw-sample statistic (continuous column; integer-valued
    columns discretise onto bin edges and inflate the error)."""
    lo, hi, n = 900.0, 105000.0, 40
    spec = Regular(n, lo, hi)
    vals = np.array([r["l_extendedprice"] for r in lineitem.collect()])
    vals = vals[(vals >= lo) & (vals < hi)]
    half_bin = (hi - lo) / n / 2.0
    h = histogram(lineitem, "l_extendedprice", spec)
    got_mean = h.mean().collect()[0][0]
    got_median = h.median().collect()[0][0]
    got_std = h.std().collect()[0][0]
    assert abs(got_mean - vals.mean()) < half_bin
    assert abs(got_median - np.median(vals)) < half_bin
    assert abs(got_std - vals.std()) < half_bin


def test_ppf_numpy_parity(lineitem):
    """ppf equals the piecewise-linear inverse-CDF computed in numpy."""
    vals = np.array([r["l_quantity"] for r in lineitem.collect()])
    counts, edges = np.histogram(vals, bins=25, range=(1.0, 51.0))
    # emulate boost half-open last bin: values == 51 would be dropped; none here
    cum = np.cumsum(counts).astype(float)
    tot = cum[-1]
    q = 0.75
    j = int(np.searchsorted(cum, q * tot))
    cumb = cum[j] - counts[j]
    expected = edges[j] + (q * tot - cumb) / counts[j] * (edges[j + 1] - edges[j])
    h = histogram(lineitem, "l_quantity", SPEC)
    got = h.ppf(0.75).collect()[0][0]
    assert got == pytest.approx(expected, rel=1e-12)


def test_stats_reject_categorical(lineitem):
    from xarray_histogram_spark import StrCategory

    h = histogram(lineitem, "l_returnflag", StrCategory(("A", "N", "R")))
    with pytest.raises(ValueError):
        h.mean()


def test_ppf_q_range(hist_q):
    with pytest.raises(ValueError):
        hist_q.ppf(0.0)
    with pytest.raises(ValueError):
        hist_q.ppf(1.5)


def test_stats_invariant_under_normalize_and_follow_scale(spark, lineitem):
    """Statistics read the raw internal mass (__val), so they are invariant
    under normalize() (scipy rv_histogram semantics — normalization cancels
    in every mass ratio, even on uneven Variable widths) and follow a
    coordinate scale().  Guards the sparse-aggregate fast path against
    staleness when result-algebra ops wrap the result."""
    from xarray_histogram_spark import Variable as _Var

    spec = _Var((1.0, 5.0, 20.0, 51.0))  # uneven widths — the risky case
    h = histogram(lineitem, "l_quantity", spec, group_by=["l_returnflag"])
    raw_med = sorted((r["l_returnflag"], r["l_quantity_median"])
                     for r in h.median().collect())
    norm_med = sorted((r["l_returnflag"], r["l_quantity_median"])
                      for r in h.normalize().median().collect())
    assert raw_med == norm_med
    raw_mean = sorted((r["l_returnflag"], r["l_quantity_mean"])
                      for r in h.mean().collect())
    norm_mean = sorted((r["l_returnflag"], r["l_quantity_mean"])
                       for r in h.normalize().mean().collect())
    assert raw_mean == norm_mean
    sc_mean = sorted((r["l_returnflag"], r["l_quantity_mean"])
                     for r in h.scale(2.0).mean().collect())
    assert all(abs(a[1] * 2.0 - b[1]) < 1e-9
               for a, b in zip(raw_mean, sc_mean))


def test_stats_keep_all_flow_groups(spark):
    """A flow=True group whose every row lands in flow bins must still get
    a (NULL-statistic) row — the dense result carries its zero-mass core
    bins, so a statistic read from the aggregate must keep a group whose
    rows are all off the core."""
    rows = [("A", 100.0), ("A", -5.0), ("B", 0.5), ("B", 0.7)]
    df = spark.createDataFrame(rows, "g string, x double")
    h = histogram(df, "x", Regular(4, 0.0, 1.0), group_by=["g"], flow=True)
    med = {r["g"]: r["x_median"] for r in h.median().collect()}
    assert set(med) == {"A", "B"}
    assert med["A"] is None and med["B"] is not None
    mean = {r["g"]: r["x_mean"] for r in h.mean().collect()}
    assert set(mean) == {"A", "B"} and mean["A"] is None


def test_stats_sparse_and_dense_paths_agree(spark, lineitem, tmp_path):
    """Statistics follow one row rule however a result was reached: one
    row per (group, other-axis core cell) of the dense result, NULL when
    that slice holds no mass — the DuckDB oracle's rule.  A fresh result,
    a no-op ``slice_bins`` and a write/read round trip collect identical
    rows: on a grouped 1-D histogram, and on a grouped 2-D one with an
    empty (group, y-bin) cell, where they also equal the oracle."""
    import duckdb
    import pandas as pd

    from xarray_histogram_spark import histogramdd, read_result, write_result

    h = histogram(lineitem, "l_quantity", Regular(12, 1.0, 51.0),
                  group_by=["l_returnflag"])
    path = str(tmp_path / "h")
    write_result(h, path)
    r = read_result(spark, path)
    for stat in ("median", "mean", "std"):
        fresh = sorted(map(str, getattr(h, stat)().collect()))
        reload = sorted(map(str, getattr(r, stat)().collect()))
        assert fresh == reload, stat
    fresh_ppf = sorted(map(str, h.ppf(0.9).collect()))
    reload_ppf = sorted(map(str, r.ppf(0.9).collect()))
    assert fresh_ppf == reload_ppf

    # group A never reaches y-bin 1: the (A, y=1) slice is empty
    pdf = pd.DataFrame(
        [("A", 0.5, 0.5), ("A", 2.5, 0.2), ("B", 1.5, 0.7),
         ("B", 3.5, 1.5), ("B", 0.2, 1.1)],
        columns=["g", "x", "y"],
    )
    specs = [Regular(4, 0.0, 4.0), Regular(2, 0.0, 2.0)]
    h2 = histogramdd(spark.createDataFrame(pdf), ["x", "y"], specs,
                     group_by=["g"])
    path2 = str(tmp_path / "h2")
    write_result(h2, path2)
    results = (h2, h2.slice_bins(0, 4, "x"), read_result(spark, path2))
    con = duckdb.connect()
    con.register("t", pdf)
    for kind, kw in (("mean", {}), ("median", {}), ("ppf", {"q": 0.25})):
        def stat(res):
            return res.ppf(0.25, "x") if kind == "ppf" else getattr(res, kind)("x")

        got = [sorted(map(str, stat(res).collect())) for res in results]
        assert got[0] == got[1] == got[2], kind
        assert len(got[0]) == 4, kind
        assert_matches_sql(stat(h2), stats_oracle_sql(
            kind, "t", ["x", "y"], specs, "x", group_by=["g"], **kw), con)

    # raw double sums (weight_scale=None) take the same row rule
    hw = histogramdd(spark.createDataFrame(pdf), ["x", "y"], specs,
                     weights="y", weight_scale=None, group_by=["g"])
    path3 = str(tmp_path / "hw")
    write_result(hw, path3)
    for stat in ("mean", "median"):
        got = [sorted(map(str, getattr(res, stat)("x").collect()))
               for res in (hw, read_result(spark, path3))]
        assert got[0] == got[1] and len(got[0]) == 4, stat
