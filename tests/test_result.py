"""Result-wrapper tests: persistence roundtrip + the reference's metamorphic
laws (tests/test_accessor.py:294-331): normalize/remove_flow commutation,
histogramdd(density=True) ≡ histogram().normalize(), apply_func isolation."""

import tempfile

import pytest
from pyspark.sql import functions as F

from xarray_histogram_spark import Regular, Variable, histogram, histogram2d, histogramdd
from xarray_histogram_spark.sources.io import read_result, write_result


def _pdf(df, keys):
    return df.toPandas().sort_values(keys).reset_index(drop=True)


def test_io_roundtrip(spark, lineitem):
    h = histogram(
        lineitem, "l_quantity", Regular(12, 1.0, 51.0),
        weights="l_extendedprice", group_by=["l_returnflag"], flow=True,
    )
    path = tempfile.mkdtemp(prefix="xhs_io_") + "/hist"
    write_result(h, path)
    h2 = read_result(spark, path)
    assert h2.specs == h.specs
    assert h2.group_by == h.group_by and h2.value_col == h.value_col
    a = _pdf(h.df, ["l_returnflag", "l_quantity_bin"])
    b = _pdf(h2.df, ["l_returnflag", "l_quantity_bin"])
    assert a.equals(b[a.columns])
    # full accessor surface works on the reloaded result
    m1 = _pdf(h.median(), ["l_returnflag"])
    m2 = _pdf(h2.median(), ["l_returnflag"])
    assert m1.equals(m2[m1.columns])


def test_normalize_remove_flow_commute(spark, lineitem):
    spec = Regular(6, 10.0, 40.0)
    h = histogram(lineitem, "l_quantity", spec, flow=True)
    a = h.normalize().remove_flow()
    b = h.remove_flow().normalize()
    pa = _pdf(a.df, ["l_quantity_bin"])
    pb = _pdf(b.df, ["l_quantity_bin"])
    assert pa.equals(pb[pa.columns])


def test_density_equals_normalize(spark, lineitem):
    spec = Regular(10, 1.0, 51.0)
    d = histogram(lineitem, "l_quantity", spec, density=True,
                  group_by=["l_returnflag"])
    n = histogram(lineitem, "l_quantity", spec,
                  group_by=["l_returnflag"]).normalize()
    pa = _pdf(d.df, ["l_returnflag", "l_quantity_bin"])
    pb = _pdf(n.df, ["l_returnflag", "l_quantity_bin"])
    assert pa.equals(pb[pa.columns])


def test_partial_normalize_2d(spark, lineitem):
    """Normalising along one variable of a 2-D histogram: each slice along
    the other variable integrates to 1."""
    h = histogram2d(
        lineitem, "l_quantity", "l_discount",
        [Regular(5, 1.0, 51.0), Variable((0.0, 0.05, 0.11))],
    )
    n = h.normalize(["l_quantity"])
    pdf = n.df.toPandas()
    widths = dict(zip(range(5), n.specs["l_quantity"].widths()))
    for db in pdf["l_discount_bin"].unique():
        sl = pdf[pdf["l_discount_bin"] == db]
        tot = sum(
            r["l_quantity_l_discount_pdf"] * widths[r["l_quantity_bin"]]
            for _, r in sl.iterrows()
        )
        if sl["l_quantity_l_discount_pdf"].abs().sum() > 0:
            assert tot == pytest.approx(1.0)


def test_apply_func_isolation(spark, lineitem):
    """apply_func on one variable leaves the other variable's labels and all
    counts untouched (reference: no side effects on other variables)."""
    h = histogram2d(
        lineitem, "l_quantity", "l_discount",
        [Regular(5, 1.0, 51.0), Variable((0.0, 0.05, 0.11))],
    )
    g = h.apply_func(lambda e: e * 10.0, "l_quantity")
    a = _pdf(h.df, ["l_quantity_bin", "l_discount_bin"])
    b = _pdf(g.df, ["l_quantity_bin", "l_discount_bin"])
    assert (a["l_discount_bins"] == b["l_discount_bins"]).all()
    assert (
        a["l_quantity_l_discount_histogram"]
        == b["l_quantity_l_discount_histogram"]
    ).all()
    assert (b["l_quantity_bins"].to_numpy() == a["l_quantity_bins"].to_numpy() * 10.0).all()
    # double-apply keeps raising
    with pytest.raises(ValueError):
        h.normalize().normalize()


def test_apply_func_kwargs_passthrough(spark, lineitem):
    """Reference accessor.py:354-380: apply_func(func, variable, **kwargs)
    forwards kwargs to the edge function."""
    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    g = h.apply_func(lambda e, scale, off: e * scale + off, scale=2.0, off=1.0)
    assert g.specs["l_quantity"].edges() == [
        e * 2.0 + 1.0 for e in h.specs["l_quantity"].edges()
    ]


def test_edges_flow_parity(spark, lineitem):
    """Reference accessor.py:164-179 / core.py:594-611: edges(flow=True)
    wraps the interior edges in the flow positions; flow=False strips
    them; a no-flow histogram is unaffected by the parameter."""
    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0), flow=True)
    interior = h.specs["l_quantity"].edges()
    assert h.edges() == [float("-inf")] + interior + [float("inf")]
    assert h.edges(flow=False) == interior
    g = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    assert g.edges() == g.edges(flow=False) == interior
    # one-sided flow: only the existing side gets a flow position
    s = histogram(
        lineitem, "l_quantity", Regular(5, 1.0, 51.0, underflow=False),
        flow=True,
    )
    assert s.edges() == interior + [float("inf")]


def test_growth_axis_discovers_categories(spark, lineitem):
    """Growth() resolves to the sorted observed category set
    (discover-then-bin; reference core.py:266-269 rejects growth under
    Dask — Spark is in the same lazy position)."""
    from xarray_histogram_spark import Growth

    h = histogram(lineitem, "l_returnflag", Growth())
    got = set(h.specs["l_returnflag"].categories)
    want = {
        r[0]
        for r in lineitem.select("l_returnflag").distinct().collect()
        if r[0] is not None
    }
    assert got == want
    assert list(h.specs["l_returnflag"].categories) == sorted(got)


def test_growth_constructor_spelling_merges(spark, lineitem):
    """StrCategory(..., growth=True): declared categories keep their
    positions, newly observed ones append sorted; growth=False on the
    resolved spec."""
    from xarray_histogram_spark import StrCategory

    h = histogram(lineitem, "l_returnflag", StrCategory(("R",), growth=True))
    s = h.specs["l_returnflag"]
    assert not s.growth
    assert s.categories[0] == "R"
    observed = {
        r[0]
        for r in lineitem.select("l_returnflag").distinct().collect()
        if r[0] is not None
    }
    assert list(s.categories) == ["R"] + sorted(observed - {"R"})
    # counts equal the reordered plain-category histogram
    direct = histogram(lineitem, "l_returnflag", StrCategory(s.categories))
    assert sorted(map(str, h.df.drop("l_returnflag_bin").collect())) == sorted(
        map(str, direct.df.drop("l_returnflag_bin").collect())
    )


def test_remove_flow_resets_specs(spark, lineitem):
    h = histogram(lineitem, "l_quantity", Regular(6, 10.0, 40.0), flow=True)
    r = h.remove_flow()
    s = r.specs["l_quantity"]
    assert not s.underflow and not s.overflow
    assert r.df.count() == 6


def test_rollup_levels_consistent(spark, lineitem):
    """Multi-resolution histogram: each coarser level equals the sum of its
    children; the global level equals the plain histogram."""
    from xarray_histogram_spark.plans.rollup import rollup_histogram

    spec = Regular(10, 1.0, 51.0)
    r = rollup_histogram(
        lineitem, "l_quantity", spec, ["l_returnflag", "l_linestatus"]
    ).toPandas()
    leaf = r[r["__grouping_id"] == 0]
    mid = r[r["__grouping_id"] == 1]
    top = r[r["__grouping_id"] == 3]
    assert top["n"].sum() == leaf["n"].sum() == mid["n"].sum()
    plain = histogram(lineitem, "l_quantity", spec, storage="int64").df.toPandas()
    merged = top.set_index("l_quantity_bin")["n"]
    for _, row in plain.iterrows():
        assert merged.get(row["l_quantity_bin"], 0) == row["l_quantity_histogram"]


def test_merge_shards_equals_whole(spark, lineitem):
    """Histogram addition: per-shard histograms merge exactly into the whole
    (boost `+` / xarray arithmetic parity); weighted too."""
    spec = Regular(10, 1.0, 51.0)
    whole = histogram(lineitem, "l_quantity", spec, group_by=["l_returnflag"],
                      weights="l_extendedprice")
    h1 = histogram(lineitem.where(F.col("l_orderkey") % 2 == 0), "l_quantity",
                   spec, group_by=["l_returnflag"], weights="l_extendedprice")
    h2 = histogram(lineitem.where(F.col("l_orderkey") % 2 == 1), "l_quantity",
                   spec, group_by=["l_returnflag"], weights="l_extendedprice")
    merged = h1 + h2
    a = _pdf(whole.df, ["l_returnflag", "l_quantity_bin"])
    b = _pdf(merged.df, ["l_returnflag", "l_quantity_bin"])
    assert a.equals(b[a.columns])
    # stats + normalize still work on merged results
    assert merged.median().count() == 3
    assert merged.normalize().df.count() == a.shape[0]
    with pytest.raises(ValueError):
        h1.merge(histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0)))


# ---------------------------------------------------------------------------
# dense exports (migration surface — the reference returns dense arrays)
# ---------------------------------------------------------------------------


def test_to_numpy_matches_collected_df(spark, lineitem):
    import numpy as np

    spec = Regular(10, 1.0, 51.0)
    r = histogram(lineitem, "l_quantity", spec)
    a = r.to_numpy()
    byid = {
        row["l_quantity_bin"]: row["l_quantity_histogram"]
        for row in r.df.collect()
    }
    assert a.shape == (10,)
    assert [a[i] for i in range(10)] == [byid[i] for i in range(10)]
    # flow layout: underflow first, overflow last (reference coordinate order)
    rf = histogram(lineitem, "l_quantity", spec, flow=True)
    af = rf.to_numpy()
    assert af.shape == (12,)
    byidf = {
        row["l_quantity_bin"]: row["l_quantity_histogram"]
        for row in rf.df.collect()
    }
    assert af[0] == byidf[-1] and af[-1] == byidf[10]
    assert np.nansum(af) >= np.nansum(a)


def test_to_numpy_grouped_pivot(spark, lineitem):
    spec = Regular(5, 1.0, 51.0)
    r = histogram(lineitem, "l_quantity", spec, group_by=["l_returnflag"])
    vals, dims, coords = r._dense_pivot()
    assert dims == ["l_returnflag", "l_quantity_bins"]
    assert vals.shape == (len(coords["l_returnflag"]), 5)
    # spot-check one cell against the DataFrame
    flag = coords["l_returnflag"][0]
    row = r.df.where(
        (F.col("l_returnflag") == flag) & (F.col("l_quantity_bin") == 2)
    ).collect()[0]
    assert vals[0, 2] == row["l_quantity_histogram"]


def test_to_pandas_ordering(spark, lineitem):
    r = histogram(lineitem, "l_quantity", Regular(10, 1.0, 51.0),
                  group_by=["l_returnflag"])
    pdf = r.to_pandas()
    assert list(pdf.columns)[0] == "l_returnflag"
    assert pdf["l_returnflag"].is_monotonic_increasing
    per = pdf.groupby("l_returnflag")["l_quantity_bin"].apply(list)
    assert all(v == sorted(v) for v in per)


def test_to_xarray_reference_conventions(spark, lineitem):
    xr = pytest.importorskip("xarray")
    r = histogram(lineitem, "l_quantity", Regular(10, 1.0, 51.0), flow=True)
    da = r.to_xarray()
    assert da.name == "l_quantity_histogram"
    assert list(da.dims) == ["l_quantity_bins"]
    at = da.coords["l_quantity_bins"].attrs
    assert at["bin_type"] == "Regular"
    assert at["underflow"] == 1 and at["overflow"] == 1
    assert at["right_edge"] == 51.0


# ---------------------------------------------------------------------------
# a result read twice shares one cached aggregate
# ---------------------------------------------------------------------------


def _cache_state(spark) -> tuple:
    """(CacheManager entries, persistent RDDs) of the session."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.numCachedEntries(), spark.sparkContext._jsc.getPersistentRDDs().size()


def _leaves(plan) -> list:
    """Leaf operator names of an executed plan, through AQE's wrapper and
    its query stages."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _leaves(plan.executedPlan())
    if name.endswith("QueryStage"):
        return _leaves(plan.plan())
    kids = plan.children()
    if kids.isEmpty():
        return [name]
    return [n for i in range(kids.size()) for n in _leaves(kids.apply(i))]


def _grouped_2d(lineitem):
    return histogramdd(
        lineitem, ["l_quantity", "l_discount"],
        [Regular(10, 1.0, 51.0), Regular(4, 0.0, 0.1)],
        group_by=["l_returnflag"],
    )


def test_second_read_shares_cached_aggregate(spark, lineitem):
    """A result read once leaves the CacheManager untouched and its
    statistic scans the source; so does a result handed off first and
    then asked for a statistic.  A read after a lazy one persists the
    aggregate: after ``s = r.median(); r.to_numpy()`` the statistic
    executes over the cache the handoff filled (its plan's only leaves are
    cache scans) and collects the rows it collects with no cache at all.
    A result ``rebin`` builds over the cached aggregate reads the cache
    too, and so does the same histogram built again (Spark matches cached
    plans by result)."""
    import gc

    gc.collect()
    base = _cache_state(spark)
    once = _grouped_2d(lineitem).median("l_quantity")
    want = sorted(map(str, once.collect()))
    assert _cache_state(spark) == base
    leaves = _leaves(once._jdf.queryExecution().executedPlan())
    assert "InMemoryTableScan" not in leaves, leaves
    assert any(n.startswith("Scan") for n in leaves), leaves

    eager = _grouped_2d(lineitem)
    eager.to_numpy()
    late = eager.median("l_quantity")
    assert sorted(map(str, late.collect())) == want
    assert _cache_state(spark) == base
    assert "InMemoryTableScan" not in _leaves(
        late._jdf.queryExecution().executedPlan())

    r = _grouped_2d(lineitem)
    s = r.median("l_quantity")
    r.to_numpy()
    assert _cache_state(spark) == (base[0] + 1, base[1] + 1)
    got = sorted(map(str, s.collect()))
    leaves = _leaves(s._jdf.queryExecution().executedPlan())
    assert "InMemoryTableScan" in leaves, leaves
    assert set(leaves) <= {"InMemoryTableScan", "ReusedExchange"}, leaves
    for other in (r.rebin(2, "l_quantity"), _grouped_2d(lineitem)):
        derived = other.median("l_quantity")
        derived.collect()
        assert "InMemoryTableScan" in _leaves(
            derived._jdf.queryExecution().executedPlan())
    spark.catalog.clearCache()
    assert sorted(map(str, r.median("l_quantity").collect())) == got == want


def test_cached_aggregate_lifetime(spark, lineitem):
    """The cache lives exactly as long as the aggregate DataFrame object.
    ``h`` and ``h.normalize()`` share it (each read lazily, then handed
    off: one entry), so it stays until the last of them is gone; the next
    read then brings the CacheManager and the persistent RDDs back to
    their baseline, and a statistic built while the cache lived collects
    the same rows from the source."""
    import gc

    want = sorted(map(str, _grouped_2d(lineitem).normalize().median(
        "l_quantity").collect()))
    gc.collect()
    _grouped_2d(lineitem).median("l_quantity")  # a read drains the queue
    base = _cache_state(spark)
    h = _grouped_2d(lineitem)
    h.mean("l_quantity").collect()
    h.to_numpy()
    n = h.normalize()
    s = n.median("l_quantity")
    n.to_pandas()
    cached = (base[0] + 1, base[1] + 1)
    assert _cache_state(spark) == cached
    del h
    gc.collect()
    _grouped_2d(lineitem).median("l_quantity")
    assert _cache_state(spark) == cached
    del n
    gc.collect()
    assert _cache_state(spark) == cached
    _grouped_2d(lineitem).median("l_quantity")
    assert _cache_state(spark) == base
    assert sorted(map(str, s.collect())) == want
    assert _cache_state(spark) == base


def test_cached_aggregate_released_outside_the_collector(spark, lineitem):
    """A result freed by the cyclic collector only queues its cache's
    release: the collector can run inside another py4j call on this
    thread's connection, so its callback makes no round trip.  The next
    read unpersists the queued cache."""
    import gc

    from .util import py4j_calls

    gc.collect()
    _grouped_2d(lineitem).median("l_quantity")
    base = _cache_state(spark)
    r = _grouped_2d(lineitem)
    r.median("l_quantity")
    r.to_numpy()
    cycle = [r]
    cycle.append(cycle)
    del r, cycle
    with py4j_calls(spark) as n:
        gc.collect()
    assert n.calls == 0, n.calls
    assert _cache_state(spark) == (base[0] + 1, base[1] + 1)
    _grouped_2d(lineitem).median("l_quantity")
    assert _cache_state(spark) == base


def test_queued_release_of_a_stopped_context_is_dropped(spark, lineitem):
    """A cache queued before its SparkContext stopped went with that
    context, which refuses the ``unpersist``: the next read drops the
    entry instead of failing on it."""
    from xarray_histogram_spark.plans import result as R

    class Stopped:
        def sparkSession(self):
            return self

        def sparkContext(self):
            return self

        def isStopped(self):
            return True

        def unpersist(self):
            raise AssertionError("unpersist on a stopped context")

    R._released.append(Stopped())
    _grouped_2d(lineitem).median("l_quantity")
    assert Stopped not in map(type, R._released)


def test_rebin_metamorphic(spark, lineitem):
    """rebin(f) == reshape-and-sum of the dense array; labels are the exact
    old edges; flow bins pass through; invalid factors / pdf rebin raise."""
    import numpy as np

    h = histogram(lineitem, "l_quantity", Regular(10, 1.0, 51.0))
    assert np.array_equal(
        h.to_numpy().reshape(5, 2).sum(axis=1), h.rebin(2).to_numpy()
    )
    assert h.rebin(2).edges() == h.edges()[::2]
    hw = histogram(lineitem, "l_quantity", Regular(10, 1.0, 51.0),
                   weights="l_extendedprice", group_by=["l_returnflag"],
                   flow=True)
    a, b = hw.to_numpy(), hw.rebin(5).to_numpy()
    assert np.allclose(a[:, 1:-1].reshape(a.shape[0], 2, 5).sum(2), b[:, 1:-1])
    assert np.array_equal(a[:, 0], b[:, 0])  # underflow untouched
    with pytest.raises(ValueError, match="must divide"):
        h.rebin(3)
    with pytest.raises(ValueError, match="normalize"):
        h.normalize().rebin(2)
    # stats still work on the rebinned result
    assert h.rebin(2).median().count() == 1


def test_dense_pivot_null_group_key(spark, lineitem):
    """NULL group keys become an explicit trailing None level — observed
    groups never silently vanish from dense exports (to_numpy/to_xarray)."""
    import numpy as np
    from pyspark.sql import functions as F

    from xarray_histogram_spark import Regular, histogram

    df = lineitem.select(
        "l_quantity",
        F.when(F.col("l_linenumber") <= 2, F.col("l_returnflag")).alias("g"),
    )
    h = histogram(df, "l_quantity", Regular(5, 1.0, 51.0), group_by=["g"])
    vals, dims, coords = h._dense_pivot()
    assert coords["g"][-1] is None and len(coords["g"]) == 4
    null_slice = vals[-1]
    assert np.nansum(null_slice) > 0
    total = h.df.agg(F.sum("l_quantity_histogram")).collect()[0][0]
    assert np.nansum(vals) == total


def test_io_roundtrip_bool_labels(spark, lineitem):
    """Boolean-label axes survive persistence: spec sidecar round-trips
    bool_labels and the reloaded label column stays BOOLEAN."""
    from pyspark.sql import functions as F

    from xarray_histogram_spark import Integer, histogramdd

    d = lineitem.withColumn("is_bulk", F.col("l_quantity") > F.lit(25.0))
    h = histogramdd(d, ["is_bulk"], [Integer(0, 2)])
    assert h.specs["is_bulk"].bool_labels
    path = tempfile.mkdtemp(prefix="xhs_io_bool_") + "/hist"
    write_result(h, path)
    h2 = read_result(spark, path)
    assert h2.specs == h.specs
    assert dict(h2.df.dtypes)["is_bulk_bins"] == "boolean"
    assert sorted(r["is_bulk_bins"] for r in h2.df.collect()) == [False, True]


def test_exports_bool_labels(spark, lineitem):
    from pyspark.sql import functions as F

    from xarray_histogram_spark import Integer, histogramdd

    d = lineitem.withColumn("is_bulk", F.col("l_quantity") > F.lit(25.0))
    h = histogramdd(d, ["is_bulk"], [Integer(0, 2)])
    pdf = h.to_pandas()
    assert list(pdf.index) == [False, True]
    arr = h.to_numpy()
    assert arr.shape == (2,)


def test_project_equals_direct(spark, lineitem):
    """flow=True projection == direct histogram of the kept variable; the
    grouped/flow=False projection preserves total mass."""
    from xarray_histogram_spark import histogramdd

    h2 = histogramdd(
        lineitem, ["l_quantity", "l_discount"],
        [Regular(10, 1.0, 51.0), Regular(5, 0.0, 0.11)], flow=True,
    )
    p = h2.project("l_quantity")
    direct = histogramdd(lineitem, ["l_quantity"], [Regular(10, 1.0, 51.0)],
                         flow=True)
    a = _pdf(p.df, ["l_quantity_bin"])
    b = _pdf(direct.df, ["l_quantity_bin"])
    assert a.equals(b[a.columns])
    # grouped projection: mass per group is preserved
    g = histogramdd(
        lineitem, ["l_quantity", "l_discount"],
        [Regular(10, 1.0, 51.0), Regular(5, 0.0, 0.11)],
        group_by=["l_returnflag"],
    )
    gp = g.project("l_quantity")
    tot2 = {r["l_returnflag"]: r["s"] for r in
            g.df.groupBy("l_returnflag").agg(
                F.sum("l_quantity_l_discount_histogram").alias("s")).collect()}
    tot1 = {r["l_returnflag"]: r["s"] for r in
            gp.df.groupBy("l_returnflag").agg(
                F.sum("l_quantity_histogram").alias("s")).collect()}
    assert tot1 == tot2
    # projecting everything away / unknown vars / density are errors
    with pytest.raises(ValueError):
        h2.project([])
    with pytest.raises(ValueError):
        h2.project("nope")
    with pytest.raises(ValueError):
        h2.normalize().project("l_quantity")


def test_slice_bins(spark, lineitem):
    """UHI crop: kept mass matches the original bins; accessor algebra
    (edges/median) still works on the sliced result."""
    h = histogram(lineitem, "l_quantity", Regular(10, 1.0, 51.0))
    s = h.slice_bins(2, 7)
    orig = {r["l_quantity_bin"]: r["l_quantity_histogram"]
            for r in h.df.collect()}
    got = {r["l_quantity_bin"]: r["l_quantity_histogram"]
           for r in s.df.collect()}
    assert len(got) == 5
    assert all(got[i] == orig[i + 2] for i in range(5))
    assert s.specs["l_quantity"].edges() == [11.0, 16.0, 21.0, 26.0, 31.0, 36.0]
    assert s.median().count() == 1
    with pytest.raises(ValueError):
        h.slice_bins(7, 7)
    with pytest.raises(ValueError):
        h.normalize().slice_bins(0, 5)


def test_slice_bins_multi_axis_flow(spark, lineitem):
    """Slicing one axis of a flow=True 2-D histogram drops the OTHER
    axis's flow rows too (the result declares flow=False, so surviving
    underflow/overflow rows would break dense export and re-finishing):
    every remaining id is a core id, to_numpy works, and the kept mass
    equals the original core∩slice block."""
    h = histogram2d(
        lineitem, "l_quantity", "l_discount",
        [Regular(10, 5.0, 45.0), Regular(5, 0.0, 0.08)], flow=True,
    )
    s = h.slice_bins(2, 7, "l_quantity")
    rows = s.df.collect()
    assert all(0 <= r["l_discount_bin"] <= 4 for r in rows)
    assert all(0 <= r["l_quantity_bin"] <= 4 for r in rows)
    # dense export of the sliced result works (would KeyError on flow ids)
    arr = s.to_numpy()
    assert arr.shape == (5, 5)
    orig = {(r["l_quantity_bin"], r["l_discount_bin"]): r[h.value_col]
            for r in h.df.collect()}
    got = {(r["l_quantity_bin"], r["l_discount_bin"]): r[s.value_col]
           for r in rows}
    assert got == {
        (i - 2, j): orig[(i, j)] for i in range(2, 7) for j in range(5)
    }
    # projecting the sliced result still works (re-finish path)
    assert s.project("l_discount").df.count() == 5


@pytest.mark.parametrize("case", ["slice_bins", "remove_flow", "preserve_groups"])
def test_hidden_bins_keep_group_present(spark, case):
    """A group whose whole mass lies in bins the result does not emit —
    outside a slice, in flow bins after ``remove_flow``, or in the flow
    bins ``preserve_groups`` aggregates — still shows one zero row per
    emitted bin and a NULL statistic, while the other group keeps its
    mass."""
    spec = Regular(4, 0.0, 4.0)
    if case == "slice_bins":
        rows = [("A", 0.2), ("A", 1.7), ("B", 2.5), ("B", 3.2)]
    else:
        rows = [("A", -1.0), ("A", 9.0), ("B", 2.5), ("B", 3.2)]
    df = spark.createDataFrame(rows, "g string, x double")
    if case == "slice_bins":
        r = histogram(df, "x", spec, group_by=["g"]).slice_bins(2, 4)
    elif case == "remove_flow":
        r = histogram(df, "x", spec, group_by=["g"], flow=True).remove_flow()
    else:
        r = histogram(df, "x", spec, group_by=["g"], preserve_groups=True)
    n = 2 if case == "slice_bins" else 4
    got = sorted((x["g"], x["x_bin"], x["x_histogram"]) for x in r.df.collect())
    assert [t for t in got if t[0] == "A"] == [("A", i, 0.0) for i in range(n)]
    assert sum(t[2] for t in got if t[0] == "B") == 2.0
    for stat in ("median", "mean"):
        out = {x["g"]: x[f"x_{stat}"] for x in getattr(r, stat)().collect()}
        assert set(out) == {"A", "B"}, stat
        assert out["A"] is None and out["B"] is not None, stat


# ---------------------------------------------------------------------------
# foreign-histogram adoption (reference accessor.py:49-130 interop)
# ---------------------------------------------------------------------------


def test_adopt_sidecarless_roundtrip(spark, lineitem):
    """A result written as PLAIN parquet (public df, no sidecar) adopts
    back through the naming convention with equal data, inferred Regular
    spec (right-edge inference), and a working accessor surface."""
    from xarray_histogram_spark import adopt_dataframe

    spec = Regular(10, 0.0, 50.0)  # exactly-representable spacing
    h = histogram(
        lineitem, "l_quantity", spec, group_by=["l_returnflag"], flow=True
    )
    path = tempfile.mkdtemp(prefix="xhs_adopt_") + "/plain"
    h.df.write.parquet(path)  # PUBLIC df: no sidecar, no internal cols
    a = adopt_dataframe(spark.read.parquet(path))
    assert a.variables == ["l_quantity"]
    assert a.specs["l_quantity"] == spec
    assert a.group_by == ["l_returnflag"] and a.flow
    assert not a.int_mode  # default storage displays double counts
    x = _pdf(h.df, ["l_returnflag", "l_quantity_bin"])
    y = _pdf(a.df, ["l_returnflag", "l_quantity_bin"])
    assert x.equals(y[x.columns])
    # accessor surface: edges round-trip, normalize + median run
    assert a.edges("l_quantity", flow=False) == h.edges("l_quantity", flow=False)
    n1 = _pdf(h.normalize().df, ["l_returnflag", "l_quantity_bin"])
    n2 = _pdf(a.normalize().df, ["l_returnflag", "l_quantity_bin"])
    assert n1.equals(n2[n1.columns])
    m1 = _pdf(h.median(), ["l_returnflag"])
    m2 = _pdf(a.median(), ["l_returnflag"])
    assert m1.equals(m2[m1.columns])
    # read_result falls back to adoption when the sidecar is missing
    r = read_result(spark, path)
    assert r.specs["l_quantity"] == spec


def test_adopt_infer_right_edge_contract(spark):
    """Reference tests/test_accessor.py:114-125: evenly spaced bin labels
    infer the right edge (arange(0,10) -> edges arange(0,11)); irregular
    (logspace-like) labels raise ValueError."""
    from xarray_histogram_spark import adopt_dataframe

    rows = [(float(i), float(10 + i)) for i in range(10)]
    df = spark.createDataFrame(rows, "var1_bins double, var1_histogram double")
    a = adopt_dataframe(df)
    assert a.edges("var1", flow=False) == [float(e) for e in range(11)]
    bad = spark.createDataFrame(
        [(10.0 ** (1 + 9 * i / 9.0), 1.0) for i in range(10)],
        "var1_bins double, var1_histogram double",
    )
    with pytest.raises(ValueError, match="not regularly spaced"):
        adopt_dataframe(bad)
    # a single bin cannot pin a width either
    one = spark.createDataFrame(
        [(0.0, 1.0)], "var1_bins double, var1_histogram double"
    )
    with pytest.raises(ValueError, match="Cannot infer right edge"):
        adopt_dataframe(one)


def test_adopt_name_validation(spark):
    """Malformed value-column names raise, mirroring accessor.py:73-105."""
    from xarray_histogram_spark import adopt_dataframe

    with pytest.raises(ValueError, match="No bins coordinates"):
        adopt_dataframe(
            spark.createDataFrame([(1.0,)], "x double")
        )
    df = spark.createDataFrame(
        [(0.0, 1.0)], "var1_bins double, other_histogram double"
    )
    with pytest.raises(ValueError, match="unrecognized variables"):
        adopt_dataframe(df)
    df2 = spark.createDataFrame(
        [(0.0, 0.0, 1.0)],
        "var1_bins double, var2_bins double, var1_histogram double",
    )
    with pytest.raises(ValueError, match="unrecognized variables"):
        adopt_dataframe(df2)  # var2 never appears in the name
    df3 = spark.createDataFrame(
        [(0.0, 1.0)], "var1_bins double, var1_counts double"
    )
    with pytest.raises(ValueError, match="could not discover"):
        adopt_dataframe(df3)
    with pytest.raises(ValueError, match="end in one of"):
        adopt_dataframe(df3, value_col="var1_counts")


def test_adopt_category_integer_axes(spark, lineitem):
    """StrCategory (id order preserved), Integer, and flow-label
    recognition adopt correctly from plain frames."""
    from xarray_histogram_spark import (
        IntCategory, Integer, StrCategory, adopt_dataframe, histogram,
    )

    hs = histogram(
        lineitem, "l_returnflag", StrCategory(("R", "A", "N")), flow=True
    )
    a = adopt_dataframe(hs.df)
    assert a.specs["l_returnflag"] == StrCategory(("R", "A", "N"), overflow=True)
    x = _pdf(hs.df, ["l_returnflag_bin"])
    y = _pdf(a.df, ["l_returnflag_bin"])
    assert x.equals(y[x.columns])
    # without the id column, categories fall back to sorted order
    b = adopt_dataframe(hs.df.drop("l_returnflag_bin"))
    assert b.specs["l_returnflag"].categories == ("A", "N", "R")
    hi = histogram(lineitem, "l_linenumber", Integer(1, 8), flow=True)
    ai = adopt_dataframe(hi.df)
    assert ai.specs["l_linenumber"] == Integer(1, 8)
    x = _pdf(hi.df, ["l_linenumber_bin"])
    y = _pdf(ai.df, ["l_linenumber_bin"])
    assert x.equals(y[x.columns])
    hc = histogram(lineitem, "l_linenumber", IntCategory((1, 3, 7)))
    ac = adopt_dataframe(hc.df)
    assert ac.specs["l_linenumber"] == IntCategory((1, 3, 7), overflow=False)
    # int64 storage adopts back into exact-integer mode
    h64 = histogram(lineitem, "l_linenumber", Integer(1, 8), storage="int64")
    a64 = adopt_dataframe(h64.df)
    assert a64.int_mode
    x = _pdf(h64.normalize().df, ["l_linenumber_bin"])
    y = _pdf(a64.normalize().df, ["l_linenumber_bin"])
    assert x.equals(y[x.columns])


def test_adopt_ulp_drift_spacing(spark):
    """Review regression: adoption maps must be keyed by the FRAME's own
    label values — an inferred Regular recomputes lo + i·span/n, which
    can drift from the stored labels by an ulp and a float-equality map
    would emit NULL ids/metadata for those bins."""
    from xarray_histogram_spark import Regular, adopt_dataframe, histogram

    # bounds chosen so interior edges are NOT exactly representable
    spec = Regular(7, -13.165623, 597.7217731)
    rows = [(float(v),) for v in range(-20, 620, 7)]
    df = spark.createDataFrame(rows, "x double")
    h = histogram(df, "x", spec, flow=True)
    a = adopt_dataframe(h.df)
    rows_out = a._dense.collect()
    assert rows_out
    for r in rows_out:
        assert r["x_bin"] is not None, r
        assert r["__x_width"] is not None and r["__x_is_flow"] is not None
    x = sorted(map(tuple, h.df.collect()))
    y = sorted(map(tuple, a.df.collect()))
    assert x == y
    # normalize works end-to-end off the adopted frame (no NULL pdf)
    for r in a.normalize().df.collect():
        assert r["x_pdf"] is not None


def test_adopt_strict_name_validation(spark):
    """Review regression: separator-less prefix matches and junk between
    variables and the type suffix must raise."""
    from xarray_histogram_spark import adopt_dataframe

    # var named 'var' must NOT claim 'var1_histogram'
    df = spark.createDataFrame(
        [(0.0, 1.0, 2.0)],
        "var_bins double, var1_histogram double, var1 double",
    )
    with pytest.raises(ValueError, match="unrecognized variables"):
        adopt_dataframe(df, value_col="var1_histogram")
    # junk between variable and type suffix
    df2 = spark.createDataFrame(
        [(0.0, 1.0)], "var1_bins double, var1_junk_histogram double"
    )
    with pytest.raises(ValueError, match="unrecognized variables"):
        adopt_dataframe(df2)


def test_read_result_fallback_on_full_internal_frame(spark, lineitem, tmp_path):
    """Review regression: read_result's lost-sidecar fallback must adopt
    write_result's OWN parquet (which contains __-prefixed internal
    columns) — internals are dropped and rebuilt, not taken as group
    keys."""
    import os

    h = histogram(
        lineitem, "l_quantity", Regular(10, 0.0, 50.0),
        group_by=["l_returnflag"], flow=True,
    )
    path = str(tmp_path / "full")
    write_result(h, path)
    os.remove(os.path.join(path, "_binspec.json"))  # lose the sidecar
    r = read_result(spark, path)
    assert r.group_by == ["l_returnflag"]
    assert r.specs["l_quantity"] == Regular(10, 0.0, 50.0)
    # accessor surface runs (no ambiguous-column AnalysisException)
    a = _pdf(h.normalize().df, ["l_returnflag", "l_quantity_bin"])
    b = _pdf(r.normalize().df, ["l_returnflag", "l_quantity_bin"])
    assert a.equals(b[a.columns])


def test_adopt_multivar_2d(spark, lineitem):
    """2-D adoption: greedy name decomposition over two variables, two
    axis families (Regular + Variable-incompatible StrCategory), group
    keys preserved."""
    from xarray_histogram_spark import StrCategory, adopt_dataframe

    h = histogramdd(
        lineitem, ["l_quantity", "l_returnflag"],
        [Regular(5, 0.0, 50.0), StrCategory(("A", "N", "R"))],
        group_by=["l_linestatus"],
    )
    a = adopt_dataframe(h.df)
    assert a.variables == ["l_quantity", "l_returnflag"]
    assert a.group_by == ["l_linestatus"]
    assert a.specs["l_returnflag"] == StrCategory(("A", "N", "R"), overflow=False)
    x = _pdf(h.df, ["l_linestatus", "l_quantity_bin", "l_returnflag_bin"])
    y = _pdf(a.df, ["l_linestatus", "l_quantity_bin", "l_returnflag_bin"])
    assert x.equals(y[x.columns])
    # partial normalize over one variable works off the adopted frame
    n1 = _pdf(h.normalize(["l_quantity"]).df,
              ["l_linestatus", "l_quantity_bin", "l_returnflag_bin"])
    n2 = _pdf(a.normalize(["l_quantity"]).df,
              ["l_linestatus", "l_quantity_bin", "l_returnflag_bin"])
    assert n1.equals(n2[n1.columns])


def test_adopt_rejects_null_labels(spark):
    """A NULL bin label is a malformed frame — must raise, not adopt with
    silent NULL ids."""
    from xarray_histogram_spark import adopt_dataframe

    df = spark.createDataFrame(
        [(0.0, 1.0), (None, 2.0), (1.0, 3.0)],
        "var1_bins double, var1_histogram double",
    )
    with pytest.raises(ValueError, match="NULL labels"):
        adopt_dataframe(df)
