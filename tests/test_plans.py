"""Physical-plan assertions — the engine analog of the reference's dask-layer
test (tests/test_histogram.py:420-439, exact layer names/counts): the plans
Catalyst produces must be the plans we designed for 100 TB."""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from xarray_histogram_spark import Regular, histogram


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def grouped_plan(lineitem):
    r = histogram(
        lineitem, "l_quantity", Regular(12, 1.0, 51.0), group_by=["l_returnflag"]
    )
    return plan_of(r.df)


def test_single_scan(grouped_plan):
    """The grouped dense fill must scan the input exactly once (formatted
    explain lists each scan node twice: tree + detail)."""
    assert len(re.findall(r"\(\d+\) Scan parquet", grouped_plan)) == 1


def test_partial_and_final_aggregate(grouped_plan):
    """Catalyst's partial+final aggregation = the reference's per-chunk fill
    + tree reduce: two HashAggregates for the count and two
    ObjectHashAggregates for the group-pack, over exactly two exchanges."""
    assert len(re.findall(r"\(\d+\) HashAggregate", grouped_plan)) == 2
    assert len(re.findall(r"\(\d+\) ObjectHashAggregate", grouped_plan)) == 2
    assert len(re.findall(r"\(\d+\) Exchange", grouped_plan)) == 2


def test_no_python_in_data_path(grouped_plan):
    assert "BatchEvalPython" not in grouped_plan
    assert "ArrowEvalPython" not in grouped_plan
    assert "applySchemaToPythonRDD" not in grouped_plan  # literal spine, no RDD


def test_grouped_inline_spine(grouped_plan):
    """The grouped dense fill expands each group's packed map over the
    dense spine with one explode(sequence(...)) — a Generate in the same
    stage, no join node and no broadcast-exchange job per execution; the
    per-axis ids and labels are div/mod positions and literal-array
    lookups, whatever the spine's width."""
    assert "Generate" in grouped_plan
    assert "BroadcastExchange" not in grouped_plan
    assert "Join" not in grouped_plan


def test_grouped_wide_spine_broadcast(lineitem):
    """A >1024-bin grouped spine takes the one grouped dense-fill path (it
    used to fall back to a broadcast literal-relation crossJoin): a
    Generate, no join and no broadcast exchange."""
    r = histogram(
        lineitem, "l_quantity", Regular(1200, 1.0, 51.0),
        group_by=["l_returnflag"],
    )
    p = plan_of(r.df)
    assert "Generate" in p
    assert "Join" not in p
    assert "BroadcastExchange" not in p


def test_ungrouped_union_fill_single_exchange(lineitem):
    """The ungrouped dense fill is union-with-zero-spine BEFORE the single
    aggregation: exactly one shuffle Exchange, no join, and no
    BroadcastExchange of a computed aggregate (which would cost an extra
    job per execution)."""
    r = histogram(lineitem, "l_quantity", Regular(10, 1.0, 51.0))
    p = plan_of(r.df)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "BroadcastExchange" not in p
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2
    assert "Union" in p


def test_histogram_columns_plan(lineitem):
    """histogram_columns (k ≤ 16 branch shape): k column-pruned scans —
    each branch reads ONLY its own column — fused into ONE aggregation: a
    single shuffle exchange, no join."""
    from xarray_histogram_spark import histogram_columns

    r = histogram_columns(
        lineitem, ["l_discount", "l_tax"], Regular(11, 0.0, 0.11)
    )
    p = plan_of(r.df)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "Join" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert sorted(s for s in schemas if s.startswith("l_")) == [
        "l_discount:double", "l_tax:double",
    ], schemas


def test_histogram_columns_wide_generator_plan(lineitem):
    """histogram_columns (k > 16 generator shape): ONE scan of all k
    columns + a codegen'd Generate, still a single exchange and no join —
    the wide-table path must not fall back to k plan subtrees."""
    from xarray_histogram_spark import histogram_columns

    wide = lineitem.select(
        *[(F.col("l_quantity") + F.lit(float(i))).alias(f"q{i}")
          for i in range(17)]
    )
    r = histogram_columns(wide, [f"q{i}" for i in range(17)],
                          Regular(10, 0.0, 70.0))
    p = plan_of(r.df)
    assert "Generate" in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "Join" not in p


def test_filter_pushdown(lineitem):
    """A pre-filtered histogram pushes the predicate into the parquet scan."""
    df = lineitem.where(F.col("l_returnflag") == "A")
    r = histogram(df, "l_quantity", Regular(10, 1.0, 51.0))
    p = plan_of(r.df)
    assert re.search(r"PushedFilters: \[.*l_returnflag.*\]", p), p[:2000]


def test_column_pruning(lineitem):
    """The scan reads only the needed columns (bucketized + grouping), not
    the full 11-column lineitem schema."""
    r = histogram(
        lineitem, "l_quantity", Regular(10, 1.0, 51.0), group_by=["l_returnflag"]
    )
    p = plan_of(r.df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, "no ReadSchema in plan"
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) == {"l_quantity", "l_returnflag"}


def test_dedup_no_cartesian(spark, sf_dir):
    """LSH candidate generation: bucket-grouped pair expansion — ONE scan of
    the signature subtree (no self-join at all, so no join node of any
    kind), one shuffle on the band keys, in-bucket ordered-pair explode."""
    from xarray_histogram_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(lsh_candidate_pairs(docs, "text", "doc_id"))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def _lines_with(plan: str, *parts: str) -> int:
    """How many lines of a formatted plan contain every one of ``parts``
    (each node's detail line is printed once; a ReusedExchange prints no
    copy of the subtree it reuses)."""
    return sum(all(p in line for p in parts) for line in plan.splitlines())


def test_incremental_dedup_reuses_verify_exchange(spark, sf_dir, tmp_path):
    """incremental_dedup / embed_incremental read the verified-match
    aggregate (kdup) twice — the per-new-id left join and the survivor
    anti-join — and the shard's band-key buckets twice — the kept-index
    probe and the new-vs-new pairs.  Each pair of readers must share one
    canonical subtree so physical planning reuses its exchange and the
    expensive work runs ONCE: the kept-side verification (the Jaccard
    filter over new and kept shingle sets; the cosine join for
    embeddings) appears exactly once in the executed plan, and with a
    persisted kept index the shard's MinHash fold appears exactly once.
    A regression here silently doubles the kept-side work at 100 TB.
    (AQE is toggled off for the check: under AQE the static plan prints
    isFinalPlan=false before any runtime stage reuse has happened; the
    static ReuseExchangeAndSubquery rule is what this pins.)"""
    from pyspark.sql import functions as F

    from xarray_histogram_spark.operators.dedup import (
        band_rows, embed_incremental, incremental_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    new_df = docs.where(F.col("doc_id") % 4 == 3)
    kept_df = docs.where(F.col("doc_id") % 4 != 3)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "bands")
    band_rows(kept_df, "text", "doc_id").write.parquet(idx)
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan_of(incremental_dedup(new_df, kept_df, "text", "doc_id"))
        assert _lines_with(p, "arrays_overlap(filter(_nset", "_kset") == 1

        p = plan_of(incremental_dedup(
            new_df, kept_df, "text", "doc_id",
            kept_bands=spark.read.parquet(idx),
        ))
        assert _lines_with(p, "arrays_overlap(filter(_nset", "_kset") == 1
        assert _lines_with(p, "aggregate(transform(transform(sequence") == 1

        pe = plan_of(embed_incremental(
            emb.where(F.col("vec_id") % 5 == 2),
            emb.where(F.col("vec_id") % 5 != 2),
            threshold=0.35,
        ))
        assert _lines_with(pe, "Join condition", "isnan", "_kv") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_shard_step_build_py4j_budget(spark, sf_dir, tmp_path):
    """The shard dedup step's builders are Spark SQL text parsed once per
    output column, not Column/lambda trees that cost py4j round trips per
    node: each build (the second, once the session is warm) stays under
    a fixed round-trip budget, a third or less of what the Column-tree
    builders made (band_rows ~1070, curate_documents ~1670,
    incremental_dedup with a kept index ~4900, read_jsonl_corpus 121)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from xarray_histogram_spark.operators.curate import curate_documents
    from xarray_histogram_spark.operators.dedup import (
        band_rows, incremental_dedup,
    )
    from xarray_histogram_spark.sources.corpus import (
        read_jsonl_corpus, write_jsonl_corpus,
    )

    from .util import py4j_calls

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    new_df = docs.where(F.col("doc_id") % 4 == 3)
    kept_df = docs.where(F.col("doc_id") % 4 != 3)
    idx = str(tmp_path / "bands")
    band_rows(kept_df, "text", "doc_id").write.parquet(idx)
    kept_bands = spark.read.parquet(idx)
    corpus = str(tmp_path / "corpus")
    write_jsonl_corpus(docs, corpus)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    builds = {
        "read_jsonl_corpus": (40, lambda: read_jsonl_corpus(
            spark, corpus, schema)),
        "band_rows": (350, lambda: band_rows(new_df, "text", "doc_id")),
        "curate_documents": (400, lambda: curate_documents(
            docs, "text", "doc_id", quality_min=0.5)),
        "incremental_dedup": (1000, lambda: incremental_dedup(
            new_df, kept_df, "text", "doc_id", kept_bands=kept_bands)),
    }
    for name, (budget, build) in builds.items():
        build()
        with py4j_calls(spark) as n:
            build()
        assert n.calls <= budget, (name, n.calls)


def test_interactive_chain_build_py4j_budget(spark, lineitem):
    """The interactive result chains (builder → transform → statistic) are
    Spark SQL text parsed once per output column, and each stage is one
    analyzed step: the second build of each chain stays under a fixed
    round-trip budget, a third or less of what the Column-tree builders
    made (rebin→median 1710, normalize→mean 1452, grouped 20×4×4
    slice_bins→ppf 2091, histogram_columns slice_bins→ppf 1163,
    binned_statistic 1065, rollup_histogram 426).  ``scale`` changes
    only the spec, so the dense frame of a scaled 50-bin grouped
    histogram is one build (three per-bin Column literal maps made 1307).
    Each result chain is read twice (the statistic, then ``df``), so the
    persist the second read makes is inside its budget."""
    from xarray_histogram_spark import (
        binned_statistic, histogram2d, histogram_columns, histogramdd,
        rollup_histogram,
    )

    from .util import py4j_calls

    qty = Regular(40, 1.0, 51.0)
    q20 = Regular(20, 1.0, 51.0)
    # one fresh histogram per build: a scaled result shares its aggregate,
    # so a reused one would come to the measured build already cached
    h50s = iter([histogram(lineitem, "l_quantity", Regular(50, 1.0, 51.0),
                           group_by=["l_returnflag"]) for _ in range(2)])

    def read_twice(r, stat):
        return stat(r), r.df

    builds = {
        "histogram_rebin_median": (570, lambda: read_twice(histogram(
            lineitem, "l_quantity", qty, weights="l_extendedprice",
            group_by=["l_returnflag"]).rebin(2), lambda r: r.median())),
        "histogram2d_normalize_mean": (480, lambda: read_twice(histogram2d(
            lineitem, "l_quantity", "l_discount",
            [q20, Regular(10, 0.0, 0.1)]).normalize(),
            lambda r: r.mean("l_quantity"))),
        "histogramdd_slice_ppf": (690, lambda: read_twice(histogramdd(
            lineitem, ["l_quantity", "l_discount", "l_tax"],
            [q20, Regular(4, 0.0, 0.1), Regular(4, 0.0, 0.08)],
            group_by=["l_returnflag"],
        ).slice_bins(5, 15, "l_quantity"),
            lambda r: r.ppf(0.25, "l_quantity"))),
        "histogram_columns_slice_ppf": (380, lambda: read_twice(
            histogram_columns(
                lineitem, ["l_discount", "l_tax"], Regular(20, 0.0, 0.1),
            ).slice_bins(5, 15), lambda r: r.ppf(0.25))),
        "binned_statistic": (350, lambda: binned_statistic(
            lineitem, "l_quantity", qty, "l_extendedprice",
            ("count", "sum", "mean"), group_by=["l_returnflag"])),
        "rollup_histogram": (140, lambda: rollup_histogram(
            lineitem, "l_quantity", q20, ["l_returnflag", "l_linestatus"])),
        "scale_df": (130, lambda: read_twice(
            next(h50s).scale(2.0), lambda r: r.df)),
    }
    for name, (budget, build) in builds.items():
        build()
        with py4j_calls(spark) as n:
            build()
        assert n.calls <= budget, (name, n.calls)


def test_stream_and_adopt_build_py4j_budget(spark, sf_dir, tmp_path):
    """The session histogram's dense cells, ``dense_fill`` and
    ``adopt_dataframe`` are Spark SQL text over the ``axis_meta`` lookups
    and ``dense_frame``'s grouped fill, not per-bin Column trees or
    Column literal maps: the second build of each (50-bin axis) stays
    under a fixed round-trip budget, a tenth of what the per-bin Column
    builders made for session_histogram (6388) and well below their
    dense_fill (395, a crossJoin plus a left join) and adopt_dataframe
    (2030, four Column literal maps per axis)."""
    from xarray_histogram_spark.plans.result import adopt_dataframe
    from xarray_histogram_spark.streaming.histogram_stream import (
        dense_fill, session_histogram, streaming_histogram,
    )

    from .util import py4j_calls

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    spec = Regular(50, 0.0, 500.0)
    sparse = streaming_histogram(
        ev, "value", spec, "ts", window_duration="1 day",
        group_by=["event_type"],
    )
    frame = str(tmp_path / "frame")
    histogram(
        ev, "value", spec, group_by=["event_type"], flow=True
    ).df.write.parquet(frame)
    frame_df = spark.read.parquet(frame)
    builds = {
        "session_histogram": (600, lambda: session_histogram(
            ev, "value", spec, "ts", group_by=["event_type"])),
        "dense_fill": (200, lambda: dense_fill(
            sparse, "value", spec, group_by=["event_type"])),
        "adopt_dataframe": (500, lambda: adopt_dataframe(frame_df)),
    }
    for name, (budget, build) in builds.items():
        build()
        with py4j_calls(spark) as n:
            build()
        assert n.calls <= budget, (name, n.calls)


def test_hinted_broadcast_survives_without_auto_broadcast(spark, sf_dir):
    """``sim_ann_topk``'s probe join is broadcast by its hint, not by the
    size-based rule: with auto-broadcast off
    (``autoBroadcastJoinThreshold=-1``) it must still plan as a
    BroadcastHashJoin.  (At test scale both sides are small enough to
    auto-broadcast, so the registry-wide claim alone cannot see a dropped
    hint.)"""
    from xarray_histogram_spark import entry_queries as eq

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        p = plan_of(eq.registry()["sim_ann_topk"][0](spark, sf_dir))
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_py4j_calls_skips_proxy_releases(spark):
    """JVM proxies freed inside a ``py4j_calls`` block make py4j send one
    release command each through the counted ``send_command``; they are
    tallied as releases, not as round trips."""
    import gc
    import time

    from .util import py4j_calls

    proxies = [spark.sparkContext._jvm.java.util.ArrayList()
               for _ in range(20)]
    with py4j_calls(spark) as n:
        del proxies
        gc.collect()
        deadline = time.monotonic() + 30
        while n.releases < 20 and time.monotonic() < deadline:
            time.sleep(0.05)
    assert n.releases >= 20
    assert n.calls == 0


def test_simhash_zero_shuffle(spark, sf_dir):
    """SimHash is a pure map stage: the per-row token fold replaced the
    explode + groupBy(16 SUMs), so the plan has NO exchange of any kind
    (VERDICT r04 finding #1)."""
    from xarray_histogram_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(simhash(docs, "text", "doc_id"))
    assert "Exchange" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_simhash_pairs_single_band_shuffle(spark, sf_dir):
    """simhash_pairs: zero-shuffle 64-bit signatures, one band-key
    exchange, in-bucket pair expansion — no join of any kind."""
    from xarray_histogram_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(simhash_pairs(docs, "text", "doc_id"))
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_jaccard_single_explode_no_extra_shuffle(spark, sf_dir):
    """Exact Jaccard adds ZERO exchanges beyond LSH candidate generation:
    per-row shingle sets + broadcast pair joins (VERDICT r04 finding #2 —
    the old shape ran the corpus-wide shingle explode+distinct three
    times).  Exactly the two candidate-stage hash exchanges (band buckets,
    pair dedup), no explode outside the bucket pair expansion, no
    sort-merge join."""
    from xarray_histogram_spark.operators.dedup import jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(jaccard_pairs(docs, "text", "doc_id"))
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 2
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 2


def test_ann_no_corpus_scan_join(spark, sf_dir):
    """Multiprobe ANN joins on enumerated bucket keys (hash join)."""
    from xarray_histogram_spark.operators.similarity import ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(ann_topk(emb, 0))
    assert "CartesianProduct" not in p


# Plan-shape claims per registry entry: each regex must match the entry's
# formatted physical plan; a leading "!" means it must NOT match.  The
# survivor regex is the left join plus "no match" Filter that
# _incremental_verdicts uses instead of a left anti-join.  The three
# ``spark_partition_id()`` barrier entries (curate, IVF assignment, JSON
# parse) pin that the barrier leaves their scans intact: sim_ivf_topk's
# query and centroid predicates still reach the parquet scan as
# PushedFilters; pipeline_curate (quality/lang filters on computed
# features) and events_props_json_hist (bin filters on the entangled
# parse) have no pushable predicate, so their pruned ReadSchema is pinned.
_SURVIVOR = r"Filter \(\d+\)\n\s*\+- (\* )?BroadcastHashJoin LeftOuter"
CLAIMS = {
    "hist_regular_1d": ["partial_count", "HashAggregate", "Union",
                        "PushedFilters: \\[IsNotNull"],
    "hist_2d": ["HashAggregate", "Union", "CASE WHEN"],
    "hist_weighted_grouped_density": ["HashAggregate", "Window"],
    "hist_3d_grouped": ["HashAggregate", "ObjectHashAggregate"],
    "stat_median_2d": ["Window"],
    "dedup_minhash_pairs": ["ObjectHashAggregate", "Generate",
                            "collect_list"],
    "dedup_simhash": ["aggregate\\(", "transform\\("],
    "dedup_jaccard": ["BroadcastHashJoin", "array_intersect",
                      "array_distinct", "arrays_overlap"],
    "dedup_simhash_pairs": ["Generate", "bit_count", "collect_list"],
    "sim_ann_topk": ["BroadcastHashJoin"],
    "sim_ivf_topk": ["array_max", "BroadcastHashJoin",
                     r"PushedFilters: \[IsNotNull\(vec_id\), "
                     r"EqualTo\(vec_id,0\)\]",
                     r"PushedFilters: \[IsNotNull\(vec_id\)\]"],
    "events_asof_join": ["Window", "Union"],
    "sim_kmeans_refine": ["HashAggregate", "array_max"],
    "events_funnel": ["Window", "HashAggregate"],
    "events_sliding_hist": ["HashAggregate", "!BroadcastHashJoin",
                            "!BroadcastExchange"],
    "events_session_hist": ["HashAggregate", "collect_list",
                            "!BroadcastHashJoin"],
    "sample_balanced": ["Filter", "CASE WHEN"],
    "sim_ann_batch": ["BroadcastHashJoin", "WindowGroupLimit"],
    "events_retention": ["Window", "HashAggregate"],
    "dedup_embed_incremental": ["BroadcastHashJoin", _SURVIVOR,
                                "!LeftAnti"],
    "text_bpe_pair_counts": ["HashAggregate", "Generate"],
    "dedup_chunks": ["Window", "Generate"],
    "dedup_chunks_keep": ["LeftOuter", "HashAggregate"],
    "pipeline_curate_mixture": ["BroadcastHashJoin", "HashAggregate",
                                "PushedFilters: \\[IsNotNull\\(lin_score\\)"],
    "pipeline_curate_temperature": ["BroadcastHashJoin", "HashAggregate",
                                    "Window"],
    "sample_epoch_upsample": ["BroadcastHashJoin", "Generate",
                              "HashAggregate"],
    "pipeline_pretrain_mix": ["BroadcastHashJoin", "Generate",
                              "ObjectHashAggregate", "hashpartitioning"],
    "dedup_embed_extend_loop": ["BroadcastHashJoin", _SURVIVOR, "!LeftAnti",
                                "LeftOuter"],
    "dedup_extend_loop": ["BroadcastHashJoin", _SURVIVOR, "!LeftAnti",
                          "LeftOuter"],
    "pipeline_curate": [r"ReadSchema: struct<doc_id:bigint,text:string>\n"],
    "events_props_json_hist": [
        r"ReadSchema: struct<event_type:string,props:string>\n"],
}


def test_registry_wide_no_python_eval(spark, sf_dir):
    """Every registered query plan stays JVM-side — no row-at-a-time or
    Arrow Python eval in any data path — except the operators whose
    SEMANTICS are a Python kernel (multimodal decode, the Arrow fill
    strategy, applyInPandasWithState), and has the shape ``CLAIMS``
    states for it.  Cheap-to-build plans only (some registry entries run
    driver-side jobs at build time)."""
    import io
    from contextlib import redirect_stdout

    from xarray_histogram_spark import entry_queries as eq

    allowed_python = {"mm_decode_meta", "mm_decode_image", "mm_sample_frames",
                      "hist_fill_arrow_path", "streaming_stateful_hist"}
    expensive_build = {"hist_range_infer", "hist_quantile_bins",
                       "sim_ann_indexed", "dedup_components",
                       "streaming_window_hist", "hist_growth_categories",
                       "hist_growth_merge"}
    reg = eq.registry()
    checked = set()
    wrong = []
    for name, (fn, _sql) in reg.items():
        if name in allowed_python or name in expensive_build:
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "BatchEvalPython" not in plan, f"{name}: row-wise Python"
        assert "ArrowEvalPython" not in plan, f"{name}: Arrow Python eval"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        for claim in CLAIMS.get(name, ()):
            absent = claim.startswith("!")
            if bool(re.search(claim.lstrip("!"), plan)) == absent:
                wrong.append(f"{name}: {claim}")
        checked.add(name)
    assert len(checked) >= 55
    assert set(CLAIMS) <= checked
    assert not wrong, wrong


def test_quantile_edges_no_global_sort(spark, sf_dir):
    """The exact quantile-edge path must be distributed: the ranking window
    is partitioned by bucket — no single-partition exchange, no global
    sort anywhere in the plan it executes."""
    from pyspark.sql.window import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    x = li.where(F.col("l_extendedprice").isNotNull()).select(
        F.col("l_extendedprice").cast("double").alias("x")
    )
    bucket = F.least(F.floor((F.col("x") - 900.0) / 104100.0 * 256.0).cast("int"),
                     F.lit(255))
    bx = x.select(bucket.alias("b"), "x")
    ranked = bx.select(
        "x", (F.row_number().over(Window.partitionBy("b").orderBy("x")) - 1).alias("rn")
    )
    p = plan_of(ranked)
    assert "Exchange SinglePartition" not in p
    assert "hashpartitioning" in p

    from xarray_histogram_spark.plans.histogram import quantile_edges

    edges = quantile_edges(li, "l_extendedprice", 8)
    assert len(edges) == 9
    assert edges == sorted(edges)


def test_binned_statistic_plan_and_raw_path(spark, lineitem):
    """Binned statistics share the histogram's contraction shape: one
    partial+final aggregate around one exchange, no joins; the raw-double
    path (weight_scale=None) type-aligns the spine union."""
    from xarray_histogram_spark import Regular, binned_statistic

    spec = Regular(6, 1.0, 51.0)
    df = binned_statistic(
        lineitem, "l_quantity", spec, "l_extendedprice",
        ("count", "sum", "mean", "min", "max"), weight_scale=None,
    )
    p = plan_of(df)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2
    assert "Join" not in p
    rows = {r["l_quantity_bin"]: r for r in df.collect()}
    assert len(rows) == 6
    assert all(r["count_l_extendedprice"] > 0 for r in rows.values())
    assert all(
        r["min_l_extendedprice"] <= r["mean_l_extendedprice"]
        <= r["max_l_extendedprice"]
        for r in rows.values()
    )


def test_mirror_plan_regression_flat_1d(lineitem):
    """Plan-shape gate for the ungrouped 1-D mirror path: exactly ONE
    shuffle exchange (partial+final HashAggregate around it), no join, no
    broadcast, and the post-shuffle tail coalesced to a single task
    (small-extent fast path).  A regression that adds a second exchange or
    a join to this path must fail here before it reaches a benchmark."""
    r = histogram(lineitem, "l_extendedprice", Regular(100, 900.0, 105000.0))
    p = plan_of(r.df)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:3000]
    assert "BroadcastExchange" not in p
    assert "Join" not in p
    assert "Coalesce" not in p  # rejected: measured neutral-to-slower
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2


def test_mirror_plan_regression_histogram_columns(lineitem):
    """Plan-shape gate for the along-dim mirror path (histogram_columns,
    k=3 branch shape): k single-column-pruned scans, ONE exchange, no
    join/broadcast, no Python eval, coalesced post-shuffle tail."""
    from xarray_histogram_spark import histogram_columns

    r = histogram_columns(
        lineitem, ["l_quantity", "l_discount", "l_tax"], Regular(100, 0.0, 51.0)
    )
    p = plan_of(r.df)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert sorted(s for s in schemas if s.startswith("l_")) == [
        "l_discount:double", "l_quantity:double", "l_tax:double",
    ], schemas
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:3000]
    assert "BroadcastExchange" not in p
    assert "Join" not in p
    assert "Coalesce" not in p  # rejected: measured ~20 ms slower here
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


@pytest.mark.parametrize(
    "chain", ["fresh", "rebin", "slice_bins", "scale", "remove_flow"]
)
def test_stats_consume_sparse_aggregate(lineitem, chain):
    """Statistics read the sparse aggregate, however the result was
    reached: a grouped median's plan must NOT contain the dense-fill
    stages (no pack-map ObjectHashAggregate, no Generate of the literal
    spine) — one bucketize aggregation (plus a transform's re-sum) and
    the window/final reduction only."""
    r = histogram(
        lineitem, "l_quantity", Regular(24, 1.0, 51.0),
        group_by=["l_returnflag"], flow=chain == "remove_flow",
    )
    r = {
        "fresh": lambda: r, "rebin": lambda: r.rebin(2),
        "slice_bins": lambda: r.slice_bins(5, 20),
        "scale": lambda: r.scale(2.0), "remove_flow": r.remove_flow,
    }[chain]()
    p = plan_of(r.median())
    assert "ObjectHashAggregate" not in p
    assert "Generate" not in p
    assert "Join" not in p


def test_grouped_rebin_fills_once(lineitem):
    """A grouped ``rebin`` re-sums the sparse aggregate and densifies the
    result once: exactly one Generate in its plan."""
    r = histogram(
        lineitem, "l_quantity", Regular(24, 1.0, 51.0),
        group_by=["l_returnflag"],
    ).rebin(2)
    assert len(re.findall(r"^\(\d+\) Generate", plan_of(r.df), re.M)) == 1


def test_curate_single_shuffle(spark, sf_dir):
    """The composed curation pipeline is ONE scan + ONE hash exchange (the
    dedup-keep window on the text fingerprint); features, filters and the
    split assignment all fuse into projections — no join, no Python."""
    from xarray_histogram_spark.operators.curate import curate_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(curate_documents(
        docs, "text", "doc_id", quality_min=0.2, langs=("en",),
    ))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_asof_join_single_window_shuffle(spark, sf_dir):
    """As-of join is union + ONE keys-partitioned window — no theta join
    (Spark would plan BroadcastNestedLoopJoin for the naive l.ts >= r.ts
    formulation), no sort-merge join, one hash exchange on the keys."""
    from xarray_histogram_spark.operators.joins import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS t", "event_type", "value"
    )
    out = asof_join(
        ev.where("event_type = 'click'").select("event_id", "user_id", "t"),
        ev.where("event_type = 'error'").select("event_id", "user_id", "t", "value"),
        ["user_id"], "t", ["value"], "event_id",
    )
    p = plan_of(out)
    assert "Join" not in p, p[:2000]
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:3000]
    assert "Window" in p


def test_range_join_is_equi_join(spark, sf_dir):
    """Banded range join plans as a hash equi-join on (key, bucket) with
    the band predicate inside the join — never a nested-loop theta join."""
    from xarray_histogram_spark.operators.joins import range_join_count

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS t", "event_type"
    )
    out = range_join_count(
        ev.where("event_type = 'signup'").select("event_id", "user_id", "t"),
        ev.where("event_type = 'purchase'").select("user_id", "t"),
        ["user_id"], "t", 86_400_000_000, "event_id",
    )
    p = plan_of(out)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p), p[:3000]


def test_kmeans_round_is_single_exchange(spark, sf_dir):
    """A Lloyd round's returned plan: zero-shuffle literal-centroid argmin
    projection + one map-combined hash aggregate — no join, no Python."""
    from xarray_histogram_spark.operators.similarity import kmeans_refine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(kmeans_refine(emb, k=8, n_iter=1, n_hint=512, dim=64))
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:3000]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_balanced_sample_pure_filter(spark, sf_dir):
    """Balanced mixture: after the ONE k-row count job at build time, the
    main plan is a literal-CASE filter directly over the scan — no join,
    no exchange (the 100 TB shape the operator promises)."""
    from xarray_histogram_spark.operators.sampling import balanced_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(balanced_sample(docs, "lang", "doc_id", 100))
    assert "Join" not in p
    assert "Exchange" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_pii_and_urls_projection_only(spark, sf_dir):
    """PII scrub and URL extraction are per-row regex kernels: one scan,
    zero exchanges, zero joins, nothing Python."""
    from xarray_histogram_spark.operators.text import (
        extract_urls, gopher_rules, pii_scrub,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (pii_scrub(docs, "text", "doc_id"),
               extract_urls(docs, "text", "doc_id"),
               gopher_rules(docs, "text", "doc_id")):
        p = plan_of(df)
        assert "Exchange" not in p
        assert "Join" not in p
        assert "EvalPython" not in p
        assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_ann_batch_broadcast_join_and_topk_pushdown(spark, sf_dir):
    """Batch ANN: the corpus is touched by exactly ONE BroadcastHashJoin
    on the bucket key (probe side broadcast — never a corpus-side
    broadcast or cartesian), and the per-query top-k compiles to
    WindowGroupLimit (partial per-partition k-pruning before the final
    window) so candidate rows are cut to ≤k per query before the
    exchange."""
    from xarray_histogram_spark.operators.similarity import ann_topk_batch

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(ann_topk_batch(emb, [0, 7], k=5))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 1
    assert "WindowGroupLimit" in p


def test_retention_three_exchanges_no_join(spark, sf_dir):
    """Cohort retention: distinct (user, period) agg, user window for the
    cohort, output-bounded (cohort, offset) agg — exactly three
    exchanges, no join, one scan.  A first-seen-table join shape (the
    naive formulation) would show a Join node and a fourth exchange."""
    from xarray_histogram_spark.operators.joins import retention_cohorts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = plan_of(retention_cohorts(ev, "user_id", "ts", "day"))
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 3
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_dedup_keep_best_one_window_exchange(spark, sf_dir):
    """Keeper selection re-attaches quality to the narrow component map
    with ONE join (broadcast at fixture scale) and picks the keeper with
    ONE component-key window exchange — no Python, no extra shuffles.
    (Label propagation itself runs at build time; this pins the plan of
    the returned frame.)"""
    from xarray_histogram_spark.operators.dedup import dedup_keep_best

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(dedup_keep_best(docs, "text", "doc_id"))
    assert "EvalPython" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    assert len(re.findall(r"\(\d+\) \w*Join", p)) == 1
    assert len(re.findall(r"\(\d+\) Window", p)) == 1


def test_corpus_report_one_pass(spark, sf_dir):
    """The per-group health report fuses every feature into the scan
    projection: ONE column-pruned scan (text + group key only — the doc
    id is pruned away), ONE map-combined groupBy exchange
    (partial+final HashAggregate), no join, no Python."""
    from xarray_histogram_spark.operators.curate import corpus_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(corpus_report(docs, "text", "doc_id", "source"))
    assert "EvalPython" not in p
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"text", "source"}


def test_chunk_windows_tokenizes_once(spark, sf_dir):
    """The token split must be materialized in its own projection — an
    inlined split re-tokenizes the doc once per window inside the HOF
    lambda (no CSE in lambdas; review-found 140x on 20k-token docs).
    Pin: exactly one split() in the optimized plan, no shuffle, no
    Python."""
    from xarray_histogram_spark.operators.text import chunk_windows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(chunk_windows(docs, "text", "doc_id", 64, 48))
    assert p.count("split(") == 1, p
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_bpe_pair_counts_fold_runs_once(spark, sf_dir):
    """The merges fold must appear EXACTLY once in the optimized plan.
    Exploding a materialized attribute lets InferFiltersFromGenerate
    manufacture a `size(a) > 0` filter that PushDownPredicates inlines
    below the projection — the whole fold then runs 3x per row in a
    Filter that cannot CSE with the projection (plan-found in round 9;
    the fix keeps the explode argument an inline expression, which the
    rule skips).  Pin: one `aggregate(` (the HOF fold), one Exchange
    (the pair-key groupBy), two HashAggregates (partial+final
    map-side combine), no Filter, no Python."""
    import re

    from xarray_histogram_spark.operators.text import (
        DEMO_BPE_MERGES, bpe_pair_counts,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(bpe_pair_counts(docs, "text", DEMO_BPE_MERGES))
    assert p.count("aggregate(") == 1, p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2
    assert len(re.findall(r"\(\d+\) Filter", p)) == 0, p
    assert "EvalPython" not in p


def test_pack_sequences_single_exchange(spark, sf_dir):
    """Packed-sequence emission is ONE total shuffle: the (shard, chunk)
    aggregation's group keys contain the window's shard partitioning
    key, so Catalyst reuses the exchange (no re-shuffle between the
    window and the aggregate); tokenization runs once; no Python."""
    import re

    from xarray_histogram_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(pack_sequences(docs, "text", "doc_id", "source", 128))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert p.count("split(") == 1, p
    assert "EvalPython" not in p


def test_bpe_encode_split_runs_once(spark, sf_dir):
    """bpe_encode's final projection must read the materialized token
    attribute for the count, not inline the flatten/split expression
    twice (lambda-bearing expressions are excluded from codegen CSE —
    review-found).  Pin: one flatten, one fold, no exchange, no
    Python."""
    from xarray_histogram_spark.operators.text import bpe_encode

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(bpe_encode(docs, "text", "doc_id"))
    assert p.count("flatten(") == 1, p
    assert p.count("aggregate(") == 1, p
    assert "Exchange" not in p
    assert "EvalPython" not in p
