"""Driver-contract query registry: every implemented operator from
SURVEY.md §2 as a (spark_query, duckdb_oracle_sql) pair.

``__spark_entry__.py`` re-exports this registry.  Each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle SQL runs in DuckDB
against pre-registered views of the same parquet tables and must hash-match
exactly (column names aliased identically on both sides; see oracle.py for
the float-determinism rules that make exact matching possible).
"""

from __future__ import annotations

import math
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .binspec import (
    BinSpec, IntCategory, Integer, MonotoneRegular, Regular, StrCategory,
    Variable,
)
from . import oracle as orc
from .plans.histogram import histogram, histogramdd
from .plans import stats as st

QueryFn = Callable[[SparkSession, str], DataFrame]


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load for compute-heavy per-row kernels (shingling, hashing).

    The small-SF fixture tables are single parquet files → one scan split,
    so hash kernels would run single-threaded.  Round-robin to all cores
    when the scan is narrower than the cluster; at production scale the
    scan already has thousands of splits and this branch never fires.
    Only used by ops whose results are distribution-independent
    (min/count/int-sum aggregates, per-row projections)."""
    df = t(spark, sf_dir, name)
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        df = df.repartition(p)
    return df


# registry: name -> (fn, oracle_sql_or_None)
_REGISTRY: dict[str, tuple[QueryFn, Optional[str]]] = {}


def register(name: str, fn: QueryFn, sql: Optional[str]) -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name {name}")
    _REGISTRY[name] = (fn, sql)


# Round-14 rotation refresh (optimization round 2/2 — no new features
# beyond VERDICT r13 item 3's explicit order to register the staged
# ngram_familiarity pair).  _DRIVER_VERIFIED holds the 50 names
# CORRECTNESS_r13.json hash-verified; the stale head is the 45 entries
# whose freshest green is r11 (two rounds old — they lead
# unconditionally per the capacity policy below).  Window arithmetic
# this round: 1 new (text_ngram_familiarity — the corpus-relative
# CCNet/KenLM-analog familiarity score staged tested+mirrored in round
# 13, VERDICT r13 item 3) + changed (optimization commits touching
# runtime paths of non-stale entries — kept ≤ ~4) + 45 stale = ~50,
# exactly the window.  ROUND 15's stale head is then the 50 r12-green
# names.  All stale entries have UNCHANGED plans and oracles since
# their last driver green and stay green in the local full-registry
# gates (test_entry_contract, driver_sim); the rotation itself is pure
# evidence-freshness maintenance.
#
# CAPACITY POLICY (decided round 8, per VERDICT r07 item 2): the registry
# holds 142 entries against a ~50-query driver window (~92 non-fresh
# names at any instant — recount this when planning a round's
# new+changed budget), so steady-state
# freshness is a documented THREE-round cycle: each round re-gates (a) all
# new/changed entries, (b) every entry whose green is two rounds old (the
# _STALE_PRIORITY head), and (c) as many one-round-old entries as fit.
# To keep the cycle closed, new-entry growth is capped at ~6 per round;
# a green may be two rounds old at most — any entry about to age a THIRD
# round leads _STALE_PRIORITY unconditionally.  We deliberately do NOT
# consolidate the axis-variant hist_* entries: they exercise disjoint
# BinSpec codegen classes and each has caught a distinct class of bug;
# window headroom comes from the growth cap instead.
_DRIVER_VERIFIED = frozenset({
    # the 50 names CORRECTNESS_r13.json hash-verified (all of them)
    "alg_bin_coordinates", "alg_rebin",
    "dedup_contamination", "dedup_exact", "dedup_near_keep",
    "dedup_simhash", "dedup_simhash_pairs",
    "hist_cube_multires", "hist_join_align_2var", "hist_merge_shards",
    "hist_quantile_bins", "hist_regular_1d", "hist_regular_flow",
    "hist_rollup_2d", "hist_rollup_multires", "hist_weighted",
    "mm_decode_image", "mm_decode_png_jpeg", "mm_decode_png_pixels",
    "mm_sample_frames",
    "pipeline_curate", "pipeline_pretrain_mix",
    "sample_balanced", "sample_epoch_upsample", "sample_pack_bpe",
    "sample_top_quality",
    "sim_ann_topk", "sim_cosine_topk",
    "source_csv_roundtrip",
    "stat_cdf25", "stat_interval80", "stat_mean", "stat_mean_2d",
    "stat_mean_weighted", "stat_median", "stat_median_2d",
    "stat_moment3", "stat_ppf90", "stat_std", "stat_var",
    "streaming_pii_scrub", "streaming_stateful_hist",
    "text_bpe_encode", "text_bpe_pair_counts", "text_bpe_tokens",
    "text_dup_ngrams", "text_gopher_rules", "text_line_dedup",
    "text_pii_scrub", "text_top_terms",
})


# Stale-head priority: the 45 entries whose freshest driver green is
# ROUND 11 (two rounds old — recomputed from CORRECTNESS_r01..r13) —
# they lead the window so no green ever ages a THIRD round.  With 1 new
# + these 45 + the changed block, the window is full; the 50 r12-green
# names lead round 15's stale head.
_STALE_PRIORITY = (
    "binned_stat_grouped", "binned_stat_profile",
    "dedup_chunks_keep", "dedup_chunks_near",
    "dedup_embed_components", "dedup_embed_extend_loop",
    "dedup_embed_incremental", "dedup_extend_loop",
    "dedup_minhash_pairs",
    "events_asof_join", "events_funnel", "events_range_join",
    "events_session_hist", "events_sliding_hist",
    "hist_density", "hist_density_flow", "hist_group_month",
    "hist_grouped", "hist_intcategory", "hist_integer_axis",
    "hist_mean_storage", "hist_rollup_weighted", "hist_strcategory",
    "hist_variable_axis", "hist_variable_binary", "hist_weight_storage",
    "mm_decode_audio",
    "pipeline_curate_mixture", "pipeline_curate_narrow",
    "pipeline_report",
    "sample_mixture_weights", "sample_take_n", "sample_topk_group",
    "sim_ann_indexed", "sim_ivf_topk", "sim_kmeans_refine",
    "sim_quantize_int8",
    "streaming_dedup_state", "streaming_range_join",
    "streaming_window_hist",
    "text_fingerprint", "text_quality_linear", "text_repetition",
    "text_token_count", "text_vocabulary",
)


# Entries whose PLAN or ORACLE changed in round 14 (optimization round
# 2/2).  Populated as optimization commits land: any commit that moves
# runtime code on a non-stale entry's execution path re-gates that entry
# under the any-implementation-change policy, even when the output is
# provably identical.  Entries already in the stale head re-gate for
# free (registry() places them in the changed block and the stale block
# skips them as seen).
_CHANGED_THIS_ROUND: tuple[str, ...] = (
    # values_at_ranks now builds its bucket-offset map literal server-side
    # (one parsed SQL string instead of 2*B py4j lit round trips — plan
    # byte-identical modulo expr IDs in a capture_plans.py diff); both
    # consumers are r13-fresh so they re-gate
    "hist_quantile_bins", "sample_top_quality",
)


# Queries REGISTERED IN ROUND 14 — never in any driver CORRECTNESS record;
# they lead the registry so the driver's ~50-query window is guaranteed
# to reach them regardless of where they appear in this file.
_NEW_THIS_ROUND: tuple[str, ...] = (
    # the corpus-relative n-gram familiarity score (VERDICT r13 item 3 —
    # staged tested+mirrored in round 13: integer-exact mean corpus
    # count per gram occurrence; mean LOG-prob was refused because libm
    # log and float-sum accumulation order both hash-diverge).
    # Adversarial + fuzzed DuckDB mirrors already committed
    # (test_adv_ngram_familiarity, test_fuzzed_ngram_familiarity_mirror)
    "text_ngram_familiarity",
)


def registry() -> dict[str, tuple[QueryFn, Optional[str]]]:
    items = list(_REGISTRY.items())
    fresh = [(n, _REGISTRY[n]) for n in _NEW_THIS_ROUND if n in _REGISTRY]
    seen = set(_NEW_THIS_ROUND)
    changed = [
        (n, _REGISTRY[n]) for n in _CHANGED_THIS_ROUND
        if n in _REGISTRY and n not in seen
    ]
    seen |= set(_CHANGED_THIS_ROUND)
    prio = [
        (n, _REGISTRY[n]) for n in _STALE_PRIORITY
        if n in _REGISTRY and n not in seen and n not in _DRIVER_VERIFIED
    ]
    # only the names actually placed: a _STALE_PRIORITY name that has since
    # been driver-verified must still appear in the tail, not vanish
    seen |= {n for n, _ in prio}
    head = [
        (n, v) for n, v in items
        if n not in _DRIVER_VERIFIED and n not in seen
    ]
    tail = [
        (n, v) for n, v in items
        if n in _DRIVER_VERIFIED and n not in seen
    ]
    return dict(fresh + changed + prio + head + tail)


def _hist_query(
    name: str,
    table: str,
    cols: list[str],
    specs,
    *,
    group_cols: Optional[dict] = None,  # name -> (spark_fn, sql_expr)
    **kw,
) -> None:
    """Register a histogramdd query + its generated oracle."""
    group_cols = group_cols or {}
    group_by = kw.pop("group_by", list(group_cols.keys()))

    def fn(spark: SparkSession, sf_dir: str, _table=table, _cols=cols, _specs=specs,
           _group_by=group_by, _gc=group_cols, _kw=dict(kw)) -> DataFrame:
        df = t(spark, sf_dir, _table)
        for gname, (gfn, _) in _gc.items():
            df = df.withColumn(gname, gfn(df))
        return histogramdd(df, _cols, _specs, group_by=_group_by, **_kw).df

    sql = orc.histogram_oracle_sql(
        table, cols, specs if isinstance(specs, (list, tuple)) else [specs] * len(cols),
        group_by=group_by,
        group_exprs={g: sqle for g, (_, sqle) in group_cols.items() if sqle},
        **kw,
    )
    register(name, fn, sql)


def _stat_query(
    name: str,
    kind: str,
    table: str,
    cols: list[str],
    specs: list[BinSpec],
    variable: str,
    *,
    group_by: list[str] = [],
    hist_kw: Optional[dict] = None,
    **stat_kw,
) -> None:
    hist_kw = dict(hist_kw or {})

    def fn(spark: SparkSession, sf_dir: str, _kind=kind, _table=table, _cols=cols,
           _specs=specs, _v=variable, _g=group_by, _hkw=hist_kw,
           _skw=dict(stat_kw)) -> DataFrame:
        df = t(spark, sf_dir, _table)
        h = histogramdd(df, _cols, _specs, group_by=_g, **_hkw)
        if _kind == "moment":
            return st.moment(h, _skw["order"], _v)
        if _kind == "ppf":
            return st.ppf(h, _skw["q"], _v)
        if _kind == "interval":
            return st.interval(h, _skw["confidence"], _v)
        if _kind == "cdf":
            return st.cdf(h, _skw["x"], _v)
        return getattr(st, _kind)(h, _v)

    sql = orc.stats_oracle_sql(
        kind, table, cols, specs, variable, group_by=group_by,
        weights=hist_kw.get("weights"), flow=hist_kw.get("flow", False),
        **stat_kw,
    )
    register(name, fn, sql)


# ---------------------------------------------------------------------------
# Histogram operator coverage (SURVEY §2.1/§2.2: operators #1-#3, #5, #6,
# #11, #16; every axis family of §2.2; flow, density, weights, storage,
# grouping incl. computed keys)
# ---------------------------------------------------------------------------

_hist_query("hist_regular_1d", "lineitem", ["l_extendedprice"],
            [Regular(40, 900.0, 105000.0)])
_hist_query("hist_regular_flow", "lineitem", ["l_extendedprice"],
            [Regular(10, 5000.0, 50000.0)], flow=True)
_hist_query("hist_weighted", "lineitem", ["l_discount"],
            [Regular(15, 0.0, 0.1)], weights="l_extendedprice")
_hist_query("hist_grouped", "lineitem", ["l_quantity"],
            [Regular(12, 1.0, 51.0)], group_by=["l_returnflag"])
_hist_query(
    "hist_group_month", "lineitem", ["l_quantity"], [Regular(8, 1.0, 51.0)],
    group_cols={
        "ship_month": (
            lambda df: F.month("l_shipdate").cast("int"),
            "CAST(month(l_shipdate) AS INT)",
        )
    },
)
_hist_query("hist_density", "lineitem", ["l_quantity"],
            [Regular(10, 1.0, 51.0)], density=True)
_hist_query("hist_density_flow", "lineitem", ["l_quantity"],
            [Regular(6, 10.0, 40.0)], density=True, flow=True)
_hist_query("hist_variable_axis", "lineitem", ["l_discount"],
            [Variable((0.0, 0.02, 0.05, 0.11))])
# O(log n) binary-search bucketize over a large (48-edge) log-spaced grid —
# the hot-path form for big Variable axes
_hist_query(
    "hist_variable_binary", "orders", ["o_totalprice"],
    [Variable(
        tuple(Regular(47, 800.0, 600000.0, transform="log").edges()),
        binary=True,
    )],
)
_hist_query("hist_integer_axis", "lineitem", ["l_linenumber"],
            [Integer(1, 8)], flow=True)
_hist_query("hist_intcategory", "part", ["p_size"],
            [IntCategory((1, 5, 10, 25, 50))], flow=True)
_hist_query("hist_strcategory", "lineitem", ["l_returnflag"],
            [StrCategory(("N", "R"))], flow=True)
_hist_query("hist_log_axis", "orders", ["o_totalprice"],
            [Regular(12, 100.0, 600000.0, transform="log", exact=True)])
# pow transform (boost's third transform family member); exact=True edge
# scan so Spark and DuckDB cannot diverge by a Math.pow ulp
_hist_query("hist_pow_axis", "lineitem", ["l_quantity"],
            [Regular(12, 1.0, 51.0, transform="pow", power=2.0, exact=True)])
# ARBITRARY monotone transform (MonotoneRegular — boost accepts any
# transform; log/sqrt/pow were the hardcoded set): logit-spaced bins over
# the discount ratio, flow on (0.0 discounts land in underflow).  The
# driver-side callables only precompute the literal edges; the plan is
# the same exact binary-search CASE tree as a Variable axis.
_hist_query(
    "hist_custom_transform_axis", "lineitem", ["l_discount"],
    [MonotoneRegular.logit(8, 0.005, 0.105, exact=True)], flow=True,
)


# growth-axis emulation (binspec.Growth → discover-then-bin): the Spark
# side discovers the categories with a distinct scan; the oracle pins the
# same sorted category set explicitly, so the gate checks that discovery
# found exactly the data's categories in the deterministic order.
def _growth_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .binspec import Growth

    return histogram(t(spark, sf_dir, "orders"), "o_orderpriority", Growth()).df


register(
    "hist_growth_categories",
    _growth_fn,
    orc.histogram_oracle_sql(
        "orders", ["o_orderpriority"],
        [StrCategory((
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
        ))],
    ),
)


def _growth_merge_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference's constructor spelling: declared categories stay in
    # place, newly observed ones append in sorted order
    return histogram(
        t(spark, sf_dir, "part"), "p_size", IntCategory((5, 1), growth=True)
    ).df


register(
    "hist_growth_merge",
    _growth_merge_fn,
    orc.histogram_oracle_sql(
        "part", ["p_size"],
        [IntCategory((5, 1) + tuple(v for v in range(1, 51) if v not in (1, 5)))],
    ),
)
_hist_query("hist_2d", "lineitem", ["l_quantity", "l_discount"],
            [Regular(10, 1.0, 51.0), Variable((0.0, 0.03, 0.06, 0.11))])
_hist_query(
    "hist_3d_grouped", "lineitem",
    ["l_quantity", "l_extendedprice", "l_linestatus"],
    [Regular(5, 1.0, 51.0), Regular(4, 900.0, 105000.0), StrCategory(("O", "F"))],
    group_by=["l_returnflag"],
)
_hist_query("hist_int64_storage", "lineitem", ["l_quantity"],
            [Regular(10, 1.0, 51.0)], storage="int64")


def _hist_columns_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one histogram per column over a shared axis — the reference's
    # along-dim histogram of a (k × N) array (core.py:271-276) in wide form
    from .plans.histogram import histogram_columns

    return histogram_columns(
        t(spark, sf_dir, "lineitem"), ["l_discount", "l_tax"],
        Regular(11, 0.0, 0.11),
    ).df


register(
    "hist_columns", _hist_columns_fn,
    orc.histogram_columns_oracle_sql(
        "lineitem", ["l_discount", "l_tax"], Regular(11, 0.0, 0.11),
    ),
)


def _hist_columns_weighted_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared per-row weight across the per-column branches (the reference's
    # broadcastable weight array against a (k × N) input)
    from .plans.histogram import histogram_columns

    return histogram_columns(
        t(spark, sf_dir, "lineitem"), ["l_discount", "l_tax"],
        Regular(11, 0.0, 0.11), weights="l_quantity",
    ).df


register(
    "hist_columns_weighted", _hist_columns_weighted_fn,
    orc.histogram_columns_oracle_sql(
        "lineitem", ["l_discount", "l_tax"], Regular(11, 0.0, 0.11),
        weights="l_quantity",
    ),
)


def _fill_path_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the Arrow/numpy vectorised fill (plans.fast_fill) — bit-exact with the
    # column path, so it shares the same generated oracle
    from .plans.fast_fill import histogramdd_fill

    return histogramdd_fill(
        t(spark, sf_dir, "lineitem"), ["l_quantity"], [Regular(12, 1.0, 51.0)],
        weights="l_extendedprice", group_by=["l_returnflag"],
    ).df


register(
    "hist_fill_arrow_path", _fill_path_fn,
    orc.histogram_oracle_sql(
        "lineitem", ["l_quantity"], [Regular(12, 1.0, 51.0)],
        weights="l_extendedprice", group_by=["l_returnflag"],
    ),
)
_hist_query(
    "hist_weighted_grouped_density", "orders", ["o_totalprice"],
    [Regular(20, 800.0, 600000.0)], weights="o_totalprice",
    group_by=["o_orderpriority"], density=True,
)
_hist_query("hist_sqrt_axis", "orders", ["o_totalprice"],
            [Regular(10, 0.0, 640000.0, transform="sqrt")])


def _range_infer_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bins=int, range=None → engine infers min/max with one scan (#4)
    return histogram(t(spark, sf_dir, "lineitem"), "l_tax", 10).df


def _range_infer_sql() -> str:
    # the oracle cannot re-run Spark's inference job, so it inlines the same
    # min/max semantics via a scalar subquery producing identical doubles
    # is impossible to express with static literals; instead mirror the whole
    # derivation in SQL: lo/hi from an aggregate CTE, same floor arithmetic.
    n = 10
    x = "CAST(l_tax AS DOUBLE)"
    return f"""
WITH mm AS (SELECT MIN({x}) AS lo, MAX({x}) AS hi FROM lineitem),
raw AS (
  SELECT CASE WHEN {x} IS NULL OR isnan({x}) THEN {n}
              WHEN {x} < mm.lo THEN -1
              WHEN {x} >= mm.hi THEN {n}
              ELSE LEAST(CAST(FLOOR(({x} - mm.lo) * {n}.0 / (mm.hi - mm.lo)) AS INT), {n - 1}) END AS l_tax_bin
  FROM lineitem, mm
),
agg AS (SELECT l_tax_bin, CAST(COUNT(*) AS BIGINT) AS __val FROM raw
        WHERE l_tax_bin BETWEEN 0 AND {n - 1} GROUP BY l_tax_bin),
spine AS (SELECT i AS l_tax_bin, mm.lo + (mm.hi - mm.lo) * i / {n} AS l_tax_bins
          FROM range({n}) r(i), mm)
SELECT s.l_tax_bin, s.l_tax_bins,
       CAST(COALESCE(a.__val, 0) AS DOUBLE) AS l_tax_histogram
FROM spine s LEFT JOIN agg a ON s.l_tax_bin = a.l_tax_bin
"""


register("hist_range_infer", _range_infer_fn, _range_infer_sql())


# ---------------------------------------------------------------------------
# Accessor algebra (#23 normalize-after, #24 remove_flow, #25/#26
# apply_func/scale as metadata-only relabels)
# ---------------------------------------------------------------------------

_ALG_SPEC = Regular(10, 1.0, 51.0)


def _normalize_after_fn(spark, sf_dir):
    h = histogram(t(spark, sf_dir, "lineitem"), "l_quantity", _ALG_SPEC,
                  group_by=["l_returnflag"])
    return h.normalize().df


register(
    "alg_normalize_after", _normalize_after_fn,
    # metamorphic law: histogram().normalize() == histogramdd(density=True)
    orc.histogram_oracle_sql(
        "lineitem", ["l_quantity"], [_ALG_SPEC], density=True,
        group_by=["l_returnflag"],
    ),
)


def _remove_flow_fn(spark, sf_dir):
    h = histogram(t(spark, sf_dir, "lineitem"), "l_quantity",
                  Regular(6, 10.0, 40.0), flow=True)
    return h.remove_flow().df


register(
    "alg_remove_flow", _remove_flow_fn,
    # law: remove_flow(flow-emitting hist) == flow=False hist
    orc.histogram_oracle_sql("lineitem", ["l_quantity"], [Regular(6, 10.0, 40.0)]),
)


def _scale_fn(spark, sf_dir):
    h = histogram(t(spark, sf_dir, "lineitem"), "l_quantity", _ALG_SPEC)
    return h.scale(2.0).df


register(
    "alg_scale", _scale_fn,
    orc.histogram_oracle_sql(
        "lineitem", ["l_quantity"], [_ALG_SPEC],
        label_specs=[Variable(tuple(e * 2.0 for e in _ALG_SPEC.edges()))],
    ),
)


def _apply_func_fn(spark, sf_dir):
    h = histogram(t(spark, sf_dir, "orders"), "o_totalprice",
                  Regular(10, 100.0, 600000.0))
    return h.apply_func(math.log).df


register(
    "alg_apply_func_log", _apply_func_fn,
    orc.histogram_oracle_sql(
        "orders", ["o_totalprice"], [Regular(10, 100.0, 600000.0)],
        label_specs=[
            Variable(tuple(math.log(e) for e in Regular(10, 100.0, 600000.0).edges()))
        ],
    ),
)


# ---------------------------------------------------------------------------
# Statistics (#27-#35)
# ---------------------------------------------------------------------------

_STAT_SPEC = Regular(25, 1.0, 51.0)
_STAT = dict(table="lineitem", cols=["l_quantity"], specs=[_STAT_SPEC],
             variable="l_quantity", group_by=["l_returnflag"])

_stat_query("stat_mean", "mean", **_STAT)
_stat_query("stat_var", "var", **_STAT)
_stat_query("stat_std", "std", **_STAT)
_stat_query("stat_moment3", "moment", order=3, **_STAT)
_stat_query("stat_median", "median", **_STAT)
_stat_query("stat_ppf90", "ppf", q=0.9, **_STAT)
_stat_query("stat_interval80", "interval", confidence=0.8, **_STAT)
_stat_query("stat_cdf25", "cdf", x=25.0, **_STAT)
_stat_query(
    "stat_mean_weighted", "mean", table="lineitem", cols=["l_quantity"],
    specs=[_STAT_SPEC], variable="l_quantity", group_by=["l_returnflag"],
    hist_kw={"weights": "l_extendedprice"},
)
# vectorised multi-variable statistic: the other histogram variable acts as a
# loop dim (reference accessor.py:428-437 semantics) — mean of l_quantity per
# l_discount bin per return flag
_stat_query(
    "stat_mean_2d", "mean", table="lineitem",
    cols=["l_quantity", "l_discount"],
    specs=[Regular(20, 1.0, 51.0), Variable((0.0, 0.03, 0.06, 0.11))],
    variable="l_quantity", group_by=["l_returnflag"],
)
_stat_query(
    "stat_median_2d", "median", table="lineitem",
    cols=["l_quantity", "l_discount"],
    specs=[Regular(20, 1.0, 51.0), Variable((0.0, 0.03, 0.06, 0.11))],
    variable="l_quantity", group_by=["l_returnflag"],
)


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (north-star extensions, BASELINE.json):
# dedup / similarity / text analysis / multimodal plumbing
# ---------------------------------------------------------------------------

from .operators import dedup as dd
from .operators import multimodal as mm
from .operators import similarity as sim
from .operators import text as tx

register(
    "dedup_exact",
    lambda spark, sf_dir: dd.exact_dedup(t_wide(spark, sf_dir, "documents"), "text", "doc_id"),
    dd.exact_dedup_sql("documents", "text", "doc_id"),
)
register(
    "dedup_minhash_pairs",
    lambda spark, sf_dir: dd.lsh_candidate_pairs(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    ),
    dd.lsh_candidate_pairs_sql("documents", "text", "doc_id"),
)
register(
    "dedup_jaccard",
    lambda spark, sf_dir: dd.jaccard_pairs(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    ),
    dd.jaccard_pairs_sql("documents", "text", "doc_id"),
)
register(
    "dedup_near_keep",
    lambda spark, sf_dir: dd.near_dedup_keep(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    ),
    dd.near_dedup_keep_sql("documents", "text", "doc_id"),
)
register(
    # iterative min-label propagation vs recursive-CTE transitive closure —
    # a hash-checked ITERATIVE algorithm (deterministic fixpoint)
    "dedup_components",
    lambda spark, sf_dir: dd.dedup_components(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    ),
    dd.dedup_components_sql("documents", "text", "doc_id"),
)
register(
    # near-dup dedup keeping the highest-quality cluster member (argmax
    # quality, min-id tiebreak) instead of the min-id one — the
    # production keeper policy for crawled corpora
    "dedup_keep_best",
    lambda spark, sf_dir: dd.dedup_keep_best(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    ),
    dd.dedup_keep_best_sql("documents", "text", "doc_id"),
)
register(
    "dedup_simhash",
    lambda spark, sf_dir: dd.simhash(t_wide(spark, sf_dir, "documents"), "text", "doc_id"),
    dd.simhash_sql("documents", "text", "doc_id"),
)
register(
    # banded Hamming candidates + exact bit_count(xor) filter — the
    # SimHash analog of dedup_minhash_pairs (complete for hamming<=3 by
    # pigeonhole over 4 bands)
    "dedup_simhash_pairs",
    lambda spark, sf_dir: dd.simhash_pairs(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=3
    ),
    dd.simhash_pairs_sql("documents", "text", "doc_id", max_hamming=3),
)


def _incremental_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic shard split: doc_id % 4 = 3 is the incoming shard, the
    # rest is the keeper corpus.  The shard is AUGMENTED with two synthetic
    # docs so BOTH verdicts take both truth values at every SF: 9000001
    # copies kept doc 0 (guaranteed dup_of_kept) and 9000002 copies new
    # doc 3 (guaranteed dup_within_new pair (3, 9000002)).
    docs = t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    synth = docs.where(F.col("doc_id").isin(0, 3)).select(
        F.when(F.col("doc_id") == 0, F.lit(9000001).cast("long"))
        .otherwise(F.lit(9000002).cast("long"))
        .alias("doc_id"),
        "text",
    )
    new_df = docs.where(F.col("doc_id") % 4 == 3).unionAll(synth)
    kept_df = docs.where(F.col("doc_id") % 4 != 3)
    return dd.incremental_dedup(new_df, kept_df, "text", "doc_id")


register(
    # shard-vs-keeper incremental dedup: new-vs-kept + new-vs-new verdicts,
    # both LSH-candidate + exact-Jaccard verified
    "dedup_incremental",
    _incremental_fn,
    dd.incremental_dedup_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3 "
        "UNION ALL SELECT CAST(CASE WHEN doc_id = 0 THEN 9000001 "
        "ELSE 9000002 END AS BIGINT) AS doc_id, text "
        "FROM documents WHERE doc_id IN (0, 3)",
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3",
        "text",
        "doc_id",
    ),
)


# --- multi-shard production loop: dedup shard 1 → extend the persisted
# band index with its keepers → shard 2 probes the EXTENDED index
# (VERDICT r09 item 6: the exact bug class extend_band_index exists to
# prevent — cross-shard duplicates admitted in different shards never
# seeing each other).  The sentinel doc 9000001 (unique synthetic text,
# guaranteed shard-1 keeper) is copied into shard 2 as 9000002, so
# dup_of_kept=true for 9000002 is CAUSALLY a shard-1 admission being
# visible through the index extension, not through any initial corpus.
_LOOP_SENTINEL = (
    "zq glorp vexix wubble frandle keeper sentinel nine thousand one "
    "shard loop marker phrase"
)
_EXTEND_LOOP_CACHE: dict[str, str] = {}
# written into a scratch root after its build returns; a leading "_"
# keeps it out of Spark's file listing of the root
_SCRATCH_DONE = "_xhs_complete"


def _scratch_root(cache: dict, sf_dir: str, prefix: str, build) -> str:
    """Build-once-per-sf_dir scratch state — the ONE scaffold behind
    every persisted-index/loop entry (review-found: three verbatim
    copies of the mkdtemp/try/rmtree/cache pattern had appeared, the
    BPE three-copies hazard; and the older ANN/embed index builders
    lacked the failure cleanup entirely).  ``build(root)`` writes the
    state under a fresh root; a FAILED build removes the half-written
    root instead of leaking it — only cache entries are atexit-reaped
    (see _cleanup_scratch).  A cached root is reused only while its
    completion marker exists: a root reaped after caching (by
    _cleanup_scratch or a temp-dir cleaner) is rebuilt, never read as a
    missing path."""
    import os
    import shutil
    import tempfile

    root = cache.get(sf_dir)
    if root is not None and os.path.exists(os.path.join(root, _SCRATCH_DONE)):
        return root
    if root is not None:
        shutil.rmtree(root, ignore_errors=True)
    root = tempfile.mkdtemp(prefix=prefix)
    try:
        build(root)
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise
    open(os.path.join(root, _SCRATCH_DONE), "w").close()
    cache[sf_dir] = root
    return root


def _loop_kept0(docs: DataFrame) -> DataFrame:
    return docs.where((F.col("doc_id") % 4).isin(0, 2))


def _loop_shard1(spark: SparkSession, docs: DataFrame) -> DataFrame:
    synth = spark.createDataFrame(
        [(9000001, _LOOP_SENTINEL)], "doc_id: long, text: string"
    )
    return docs.where(F.col("doc_id") % 4 == 1).unionAll(synth)


def _extend_loop_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) the production-loop scratch state: the
    persisted band index seeded from the initial keeper corpus and then
    EXTENDED with shard 1's admitted keepers via extend_band_index, plus
    the keeper TEXT corpus parquet (initial ∪ shard-1 keepers) the
    verify step scans — exactly what a crawl pipeline persists between
    shards."""
    def build(root: str) -> None:
        docs = t_wide(spark, sf_dir, "documents").select("doc_id", "text")
        kept0 = _loop_kept0(docs)
        shard1 = _loop_shard1(spark, docs)
        dd.band_rows(kept0, "text", "doc_id").write.parquet(root + "/idx")
        # persist the shard-1 verdicts ONCE (review-found: a lazy v1
        # would re-run the costliest plan in the loop twice — once
        # inside extend_band_index's keeper join, once for the kept
        # union below); the read-back feeds both consumers
        dd.incremental_dedup(
            shard1, kept0, "text", "doc_id",
            kept_bands=spark.read.parquet(root + "/idx"),
        ).write.parquet(root + "/v1")
        v1 = spark.read.parquet(root + "/v1")
        dd.extend_band_index(shard1, v1, root + "/idx", "text", "doc_id")
        keep1 = v1.where(F.col("keep")).select("doc_id")
        kept0.unionAll(shard1.join(keep1, "doc_id")).write.parquet(
            root + "/kept"
        )

    return _scratch_root(_EXTEND_LOOP_CACHE, sf_dir, "xhs_band_loop_",
                         build)


def _extend_loop_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _extend_loop_root(spark, sf_dir)
    docs = t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    # shard 2 = %4==3, augmented so every verdict takes both values:
    # 9000002 copies the SHARD-1 sentinel keeper (dup_of_kept via the
    # index extension only), 9000003 copies shard-2 doc 3 (dup_within_new
    # pair (3, 9000003) — the dedup_incremental fixture pattern)
    synth = docs.where(F.col("doc_id") == 3).select(
        F.lit(9000003).cast("long").alias("doc_id"), "text"
    ).unionAll(spark.createDataFrame(
        [(9000002, _LOOP_SENTINEL)], "doc_id: long, text: string"
    ))
    shard2 = docs.where(F.col("doc_id") % 4 == 3).unionAll(synth)
    return dd.incremental_dedup(
        shard2,
        spark.read.parquet(root + "/kept"),
        "text", "doc_id",
        kept_bands=spark.read.parquet(root + "/idx"),
    )


def _extend_loop_sql() -> str:
    """Oracle: the whole loop composed in SQL — shard-1 verdicts via
    incremental_dedup_sql, keepers joined back to texts, union with the
    initial corpus as shard 2's keeper side (DuckDB allows WITH inside
    derived tables; the inner mirrors' __new/__kept CTEs shadow the
    outer ones within their scope)."""
    sent = _LOOP_SENTINEL
    kept0 = "SELECT doc_id, text FROM documents WHERE doc_id % 4 IN (0, 2)"
    shard1 = (
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1 "
        f"UNION ALL SELECT CAST(9000001 AS BIGINT) AS doc_id, "
        f"'{sent}' AS text"
    )
    v1 = dd.incremental_dedup_sql(shard1, kept0, "text", "doc_id")
    kept_union = (
        f"{kept0} UNION ALL "
        f"SELECT s.doc_id, s.text FROM ({shard1}) s "
        f"JOIN ({v1}) v ON s.doc_id = v.doc_id WHERE v.keep"
    )
    shard2 = (
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3 "
        "UNION ALL SELECT CAST(9000003 AS BIGINT) AS doc_id, text "
        "FROM documents WHERE doc_id = 3 "
        f"UNION ALL SELECT CAST(9000002 AS BIGINT) AS doc_id, "
        f"'{sent}' AS text"
    )
    return dd.incremental_dedup_sql(shard2, kept_union, "text", "doc_id")


register(
    "dedup_extend_loop",
    _extend_loop_fn,
    _extend_loop_sql(),
)


def _contamination_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decontamination primitive: docs from other sources sharing ≥40
    # distinct 12-gram shingles with the src14 "benchmark" slice
    docs = t_wide(spark, sf_dir, "documents")
    return dd.ngram_contamination(
        docs.where(F.col("source") != "src14"),
        docs.where(F.col("source") == "src14"),
        "text", "doc_id", k=12, min_hits=40,
    )


register(
    "dedup_contamination",
    _contamination_fn,
    dd.ngram_contamination_sql(
        "(SELECT * FROM documents WHERE source <> 'src14')",
        "(SELECT * FROM documents WHERE source = 'src14')",
        "text", "doc_id", k=12, min_hits=40,
    ),
)
# Embeddings loader choice (round 13, interleaved A/B at sf0.1 on the
# 1-split fixture scan): t_wide (repartition to all cores) for the
# fold-per-row kernels — embed_dup_pairs 2101→405 ms, quantize 229→124,
# embed_components 84→21, kmeans_refine 933→546, and the embed-index
# family (same bucket/cosine kernels) — but PLAIN t for the small
# literal-tree probe entries (ann_topk 458→527, cosine_topk/ann_batch
# flat): their per-task cost is dominated by setting up the literal
# expression trees, so extra tasks cost more than the spread saves.
# ivf_topk moved to t_wide in the second pass AFTER its argmin switched
# to the folded-literal form (one constant-folded Literal per plan —
# per-task setup O(1) in centroid count, so the spread finally pays:
# the same A/B that measured 3001→3219 under the per-centroid tree
# measures 999→270 ms for the folded assignment).  All these ops are
# partitioning-independent by design (int64-quantized sums, min/count
# aggregates, id-tiebroken rankings), so either loader yields identical
# values.
register(
    # threshold 0.35 (not the 0.95 production default): the sf0.01
    # fixture's random embeddings have no true near-duplicates, so the
    # default gate row was a vacuous 0-row == 0-row equality (VERDICT r05
    # "What's wrong" #1).  0.35 yields 41 in-bucket pairs at sf0.01 /
    # 38 at sf0.001 — a real value-hash over the bucket join + cosine
    # filter.  The 0.95 path is exercised with synthetic duplicates in
    # tests/test_operators.py.
    "dedup_embed_pairs",
    lambda spark, sf_dir: sim.embed_dup_pairs(
        t_wide(spark, sf_dir, "embeddings"), threshold=0.35
    ),
    sim.embed_dup_pairs_sql("embeddings", threshold=0.35),
)
register(
    "sim_cosine_topk",
    lambda spark, sf_dir: sim.cosine_topk(t(spark, sf_dir, "embeddings"), query_id=0),
    sim.cosine_topk_sql("embeddings", query_id=0),
)
register(
    "sim_ann_topk",
    lambda spark, sf_dir: sim.ann_topk(t(spark, sf_dir, "embeddings"), query_id=0),
    sim.ann_topk_sql("embeddings", query_id=0),
)
_ANN_INDEX_CACHE: dict[str, str] = {}


def _ann_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) the persisted bucket-partitioned ANN index."""
    return _scratch_root(
        _ANN_INDEX_CACHE, sf_dir, "xhs_ann_index_",
        lambda root: sim.write_ann_index(
            t_wide(spark, sf_dir, "embeddings"), root
        ),
    )


register(
    # semantic dedup: connected components over embedding near-dup pairs
    "dedup_embed_components",
    lambda spark, sf_dir: dd.embed_components(t_wide(spark, sf_dir, "embeddings")),
    dd.embed_components_sql("embeddings"),
)
_EMBED_INDEX_CACHE: dict[str, str] = {}


def _embed_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) the persisted bucket-partitioned keeper
    embed_index — the planes-fingerprint-stamped production index
    embed_incremental probes."""
    def build(root: str) -> None:
        kept = (
            t_wide(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") % 5 != 2)
            .select("vec_id", "embedding")
        )
        sim.bucket_clustered(
            dd.embed_index(kept), 2 ** sim.N_PLANES, "vec_id"
        ).write.mode("overwrite").partitionBy("bucket").parquet(root)

    return _scratch_root(_EMBED_INDEX_CACHE, sf_dir, "xhs_embed_index_",
                         build)


def _embed_incremental_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic shard split: vec_id % 5 = 2 is the incoming shard,
    # the rest is the keeper corpus (probed via the PERSISTED stamped
    # index, exercising the metadata round-trip).  The shard is
    # AUGMENTED with two synthetic vectors so BOTH verdicts take both
    # truth values at every SF: 9000001 copies KEPT vec 0 (guaranteed
    # dup_of_kept) and 9000002 copies NEW vec 2 — checked keep=True
    # itself at sf0.001/0.01/0.1 — so the pair (2, 9000002) is a
    # guaranteed dup_within_new.  Threshold 0.35, not the 0.95
    # production default: the fixtures' random embeddings carry no true
    # near-dups (the round-5 vacuity lesson), 0.35 makes the kept-check
    # verdicts real (10/11/155 dup_of_kept rows at the three SFs).
    emb = t_wide(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    synth = emb.where(F.col("vec_id").isin(0, 2)).select(
        F.when(F.col("vec_id") == 0, F.lit(9000001).cast("long"))
        .otherwise(F.lit(9000002).cast("long"))
        .alias("vec_id"),
        "embedding",
    )
    new_df = emb.where(F.col("vec_id") % 5 == 2).unionAll(synth)
    idx = spark.read.parquet(_embed_index_path(spark, sf_dir))
    return dd.embed_incremental(
        new_df, None, threshold=0.35, kept_index=idx
    )


register(
    # shard-vs-keeper incremental SEMANTIC dedup: the embedding analog
    # of dedup_incremental, probing the persisted planes-stamped
    # embed_index (VERDICT r08 item 3)
    "dedup_embed_incremental",
    _embed_incremental_fn,
    dd.embed_incremental_sql(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 2 "
        "UNION ALL SELECT CAST(CASE WHEN vec_id = 0 THEN 9000001 "
        "ELSE 9000002 END AS BIGINT) AS vec_id, embedding "
        "FROM embeddings WHERE vec_id IN (0, 2)",
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 2",
        threshold=0.35,
    ),
)
# --- embedding-side multi-shard production loop (VERDICT r10 item 5:
# the twin of dedup_extend_loop, second index family).  Sentinel vector
# 9000001 — small exact-in-float32 integers (π digits), max cosine
# against any fixture vector ≤ 0.45 at every SF — is a guaranteed
# shard-1 keeper at threshold 0.8 (natural pair cosines top out at 0.61
# at sf0.1), so its shard-2 copy 9000002 flags dup_of_kept CAUSALLY
# through extend_embed_index alone.  9000004 copies ORIGINAL keeper
# vec 0 (the pre-extension index rows still match after the
# partitioned-layout append) and 9000003 copies shard-2 vec 3 (the
# dup_within_new pair) — every verdict column takes both truth values.
_EMB_LOOP_SENTINEL = [
    float(d) for d in (3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3) * 4
]
_EMB_LOOP_THR = 0.8
_EMBED_LOOP_CACHE: dict[str, str] = {}


def _emb_loop_sentinel_df(spark: SparkSession, vec_id: int) -> DataFrame:
    return spark.createDataFrame(
        [(vec_id, _EMB_LOOP_SENTINEL)],
        "vec_id: long, embedding: array<float>",
    )


def _embed_loop_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) the embed-loop scratch state: the
    bucket-PARTITIONED planes-stamped keeper index seeded from the
    initial corpus, then EXTENDED with shard 1's admitted keepers via
    extend_embed_index — which must detect the partitioned layout from
    a data-file footer and append into the existing bucket=
    directories.  Unlike the band loop no keeper-text parquet is
    needed: the embed index itself carries the vectors the verify step
    probes."""
    def build(root: str) -> None:
        emb = t_wide(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        kept0 = emb.where((F.col("vec_id") % 5).isin(0, 2))
        sim.bucket_clustered(
            dd.embed_index(kept0), 2 ** sim.N_PLANES, "vec_id"
        ).write.partitionBy("bucket").parquet(root + "/idx")
        shard1 = emb.where(F.col("vec_id") % 5 == 1).unionAll(
            _emb_loop_sentinel_df(spark, 9000001)
        )
        # persist shard-1 verdicts ONCE (the band-loop lesson: a lazy
        # frame would run the costliest plan twice — once in
        # extend_embed_index's keeper join, once wherever else read)
        dd.embed_incremental(
            shard1, None, _EMB_LOOP_THR,
            kept_index=spark.read.parquet(root + "/idx"),
        ).write.parquet(root + "/v1")
        dd.extend_embed_index(
            shard1, spark.read.parquet(root + "/v1"), root + "/idx"
        )

    return _scratch_root(_EMBED_LOOP_CACHE, sf_dir, "xhs_embed_loop_",
                         build)


def _embed_loop_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _embed_loop_root(spark, sf_dir)
    emb = t_wide(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    synth = (
        emb.where(F.col("vec_id") == 3).select(
            F.lit(9000003).cast("long").alias("vec_id"), "embedding"
        )
        .unionAll(emb.where(F.col("vec_id") == 0).select(
            F.lit(9000004).cast("long").alias("vec_id"), "embedding"
        ))
        .unionAll(_emb_loop_sentinel_df(spark, 9000002))
    )
    shard2 = emb.where((F.col("vec_id") % 5).isin(3, 4)).unionAll(synth)
    return dd.embed_incremental(
        shard2, None, _EMB_LOOP_THR,
        kept_index=spark.read.parquet(root + "/idx"),
    )


def _embed_loop_sql() -> str:
    """Oracle: the whole loop composed in SQL — shard-1 verdicts via
    embed_incremental_sql, keepers joined back to vectors, union with
    the initial corpus as shard 2's keeper side (the dedup_extend_loop
    oracle pattern; the inner mirror's CTEs shadow the outer's within
    their derived-table scope)."""
    sent = (
        "CAST(["
        + ", ".join(str(int(x)) for x in _EMB_LOOP_SENTINEL)
        + "] AS FLOAT[])"
    )
    kept0 = (
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 IN (0, 2)"
    )
    shard1 = (
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 1 "
        f"UNION ALL SELECT CAST(9000001 AS BIGINT) AS vec_id, "
        f"{sent} AS embedding"
    )
    v1 = dd.embed_incremental_sql(shard1, kept0, _EMB_LOOP_THR)
    kept_union = (
        f"{kept0} UNION ALL "
        f"SELECT s.vec_id, s.embedding FROM ({shard1}) s "
        f"JOIN ({v1}) v ON s.vec_id = v.vec_id WHERE v.keep"
    )
    shard2 = (
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 IN (3, 4) "
        "UNION ALL SELECT CAST(9000003 AS BIGINT) AS vec_id, embedding "
        "FROM embeddings WHERE vec_id = 3 "
        "UNION ALL SELECT CAST(9000004 AS BIGINT) AS vec_id, embedding "
        "FROM embeddings WHERE vec_id = 0 "
        f"UNION ALL SELECT CAST(9000002 AS BIGINT) AS vec_id, "
        f"{sent} AS embedding"
    )
    return dd.embed_incremental_sql(shard2, kept_union, _EMB_LOOP_THR)


register(
    "dedup_embed_extend_loop",
    _embed_loop_fn,
    _embed_loop_sql(),
)
register(
    # identical result set to sim_ann_topk (same probes, same exact cosine)
    # but executed against the persisted partitionBy(bucket) index with
    # driver-ranked probes → partition-pruned scan; shares the raw oracle
    "sim_ann_indexed",
    lambda spark, sf_dir: sim.ann_topk_indexed(
        spark, _ann_index_path(spark, sf_dir), query_id=0
    ),
    sim.ann_topk_sql("embeddings", query_id=0),
)
register(
    # t_wide (round 13, second pass): with the folded-literal argmin the
    # per-task plan setup is O(1) in centroid count, so spreading the
    # fold-heavy assignment across cores finally pays (the earlier A/B
    # that kept this narrow predates the folded argmin — the giant
    # per-centroid tree made extra tasks cost more than the spread saved)
    "sim_ivf_topk",
    lambda spark, sf_dir: sim.ivf_topk(
        t_wide(spark, sf_dir, "embeddings"), query_id=0
    ),
    sim.ivf_topk_sql("embeddings", query_id=0),
)
register(
    # batched multiprobe ANN: top-k for every query in ONE plan — probes
    # ranked per query, one broadcast bucket join, per-query window top-k
    "sim_ann_batch",
    lambda spark, sf_dir: sim.ann_topk_batch(
        t(spark, sf_dir, "embeddings"), [0, 7, 13], k=5
    ),
    sim.ann_topk_batch_sql("embeddings", [0, 7, 13], k=5),
)
# token_count / quality_score / lang_id keep t_wide: measured (round 5,
# interleaved A/B on the 1-split sf0.1 scan) the repartition more than
# pays for itself — quality_score min 133 ms wide vs 230 ms plain —
# because these kernels tokenize (split + regex runs), which is NOT a
# cheap projection.  The r04 text_quality regression that suggested
# otherwise (0.094→0.170 s on unchanged plans) was container noise.
register(
    "text_token_count",
    lambda spark, sf_dir: tx.token_count(t_wide(spark, sf_dir, "documents"), "text", "doc_id"),
    tx.token_count_sql("documents", "text", "doc_id"),
)
register(
    # sliding-window chunking that EMITS chunk text (RAG/embedding prep;
    # chunk_assignments only does packing bookkeeping) — pure projection
    # + posexplode, no shuffle
    "text_chunk_windows",
    lambda spark, sf_dir: tx.chunk_windows(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", 64, 48
    ),
    tx.chunk_windows_sql("documents", "text", "doc_id", 64, 48),
)
register(
    # CHUNK-granular exact dedup (RAG corpora dedup chunks, not docs):
    # chunk_windows composed under md5-group min-uid verdicts — the
    # chunk frame is shuffle-free, verdicts add ONE md5-window exchange
    "dedup_chunks",
    lambda spark, sf_dir: dd.chunk_dedup(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", 64, 48
    ),
    dd.chunk_dedup_sql("documents", "text", "doc_id", 64, 48),
)
register(
    # chunk-granular NEAR-dup pairs: chunk_windows composed straight
    # into the banded-LSH + exact-Jaccard machinery with the packed
    # (doc, chunk) uid as identity
    "dedup_chunks_near",
    lambda spark, sf_dir: dd.chunk_near_pairs(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", 64, 48
    ),
    dd.chunk_near_pairs_sql("documents", "text", "doc_id", 64, 48),
)
register(
    # chunk-level near-dup KEEP verdicts (VERDICT r09 item 4): the
    # greedy keep-first-occurrence policy over chunk_near_pairs' packed
    # uids — both verdict values occur naturally at every SF with this
    # grid/threshold (37/668 F/T at sf0.001, 32/662 at sf0.01,
    # 331/6592 at sf0.1 — no synthetic augmentation needed)
    "dedup_chunks_keep",
    lambda spark, sf_dir: dd.chunk_near_keep(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", 64, 48
    ),
    dd.chunk_near_keep_sql("documents", "text", "doc_id", 64, 48),
)
register(
    # real BPE-merge-table token counts (demo merges; the count context
    # packing budgets against) — one JVM merges-array fold per row,
    # property-fuzzed against a pure-Python leftmost-first reference
    "text_bpe_tokens",
    lambda spark, sf_dir: tx.bpe_token_count(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    ),
    tx.bpe_token_count_sql("documents", "text", "doc_id"),
)
register(
    # the ENCODING step (counting budgets, learning builds the table,
    # this emits the token sequence a pipeline actually packs) — gated
    # on the lossless space-joined rendering because the hash compare
    # sorts rows by value, which array columns can't do; tokens never
    # contain whitespace so the join loses nothing
    "text_bpe_encode",
    lambda spark, sf_dir: tx.bpe_encode(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    ).select(
        "doc_id",
        F.array_join("bpe_tokens", " ").alias("bpe_text"),
        "n_bpe_tokens",
    ),
    # DuckDB array_to_string([]) is NULL while Spark array_join([]) is
    # '' — COALESCE restores the empty string for non-NULL empty arrays
    # (adversarial-battery-found; fixture docs are never token-free, but
    # the mirror must not carry the latent divergence)
    "SELECT doc_id, CASE WHEN bpe_tokens IS NULL THEN NULL "
    "ELSE COALESCE(array_to_string(bpe_tokens, ' '), '') END AS bpe_text, "
    "n_bpe_tokens FROM ("
    + tx.bpe_encode_sql("documents", "text", "doc_id")
    + ") e",
)
register(
    # BPE merge LEARNING's per-step pair-frequency table under the demo
    # table (the argmax of this table is the next merge;
    # learn_bpe_merges drives the full loop) — three materialized
    # projections + one map-combined groupBy, no Python
    "text_bpe_pair_counts",
    lambda spark, sf_dir: tx.bpe_pair_counts(
        t_wide(spark, sf_dir, "documents"), "text", tx.DEMO_BPE_MERGES
    ),
    tx.bpe_pair_counts_sql("documents", "text", tx.DEMO_BPE_MERGES),
)
register(
    "text_quality",
    lambda spark, sf_dir: tx.quality_score(t_wide(spark, sf_dir, "documents"), "text", "doc_id"),
    tx.quality_score_sql("documents", "text", "doc_id"),
)
register(
    "text_langid",
    lambda spark, sf_dir: tx.lang_id(t_wide(spark, sf_dir, "documents"), "text", "doc_id"),
    tx.lang_id_sql("documents", "text", "doc_id"),
)
register(
    "text_fingerprint",
    lambda spark, sf_dir: tx.fingerprint(t_wide(spark, sf_dir, "documents"), "text", "doc_id"),
    tx.fingerprint_sql("documents", "text", "doc_id"),
)
register(
    "text_line_dedup",
    lambda spark, sf_dir: tx.remove_repeated_lines(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", 1
    ),
    tx.remove_repeated_lines_sql("documents", "text", "doc_id", 1),
)
register(
    "text_repetition",
    lambda spark, sf_dir: tx.repetition_stats(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    ),
    tx.repetition_stats_sql("documents", "text", "doc_id"),
)
register(
    "text_top_terms",
    lambda spark, sf_dir: tx.top_terms(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", k=3, min_df=2
    ),
    tx.top_terms_sql("documents", "text", "doc_id", k=3, min_df=2),
)


def _curate_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the composed curation pipeline: dedup-keep → features → filters →
    # split, ONE scan + ONE shuffle (operators/curate.py)
    from .operators.curate import curate_documents

    return curate_documents(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id",
        quality_min=0.2, langs=("en", "und"), salt="curate",
    )


from .operators.curate import curate_documents_sql as _curate_sql

register(
    "pipeline_curate",
    _curate_fn,
    _curate_sql(
        "documents", "text", "doc_id",
        quality_min=0.2, langs=("en", "und"), salt="curate",
    ),
)


def _curate_narrow_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # wide_rows=False: min(id)-per-fingerprint + semi-join — the narrow
    # two-shuffle dedup shape for id-bucketed corpora; identical rows, so
    # the SAME oracle as pipeline_curate gates it
    from .operators.curate import curate_documents

    return curate_documents(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id",
        quality_min=0.2, langs=("en", "und"), salt="curate",
        wide_rows=False,
    )


register(
    "pipeline_curate_narrow",
    _curate_narrow_fn,
    _curate_sql(
        "documents", "text", "doc_id",
        quality_min=0.2, langs=("en", "und"), salt="curate",
    ),
)
register(
    "mm_decode_meta",
    lambda spark, sf_dir: mm.decode_meta(
        mm.as_media(t_wide(spark, sf_dir, "documents"), "doc_id", "text", "text/plain")
    ),
    mm.decode_meta_sql("documents", "doc_id", "text"),
)


def _mm_image_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL byte-level image decode: deterministic 5x3 24-bit BMPs are
    # synthesised per doc_id (pixel byte i = (doc_id*31 + i) % 256) and
    # parsed back by the pure-Python BMP decoder — width/height/px_sum/
    # topleft_r all come from decoded bytes (header, stride padding,
    # bottom-up rows, BGR swizzle), which the oracle recomputes in closed
    # form
    docs = t_wide(spark, sf_dir, "documents")
    return mm.decode_image(mm.synth_bmp_media(docs, "doc_id"))


register(
    "mm_decode_image", _mm_image_fn,
    "WITH px AS (SELECT doc_id, SUM((doc_id*31 + r.i) % 256) AS s "
    "FROM documents CROSS JOIN range(0, 45) r(i) GROUP BY doc_id) "
    "SELECT CAST(d.doc_id AS BIGINT) AS media_id, 'bmp' AS format, "
    "CAST(5 AS INT) AS width, CAST(3 AS INT) AS height, "
    "CAST(px.s AS BIGINT) AS px_sum, "
    "CAST((d.doc_id*31) % 256 AS INT) AS topleft_r "
    "FROM documents d JOIN px ON px.doc_id = d.doc_id",
)


def _mm_png_jpeg_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL header parses of the real-corpus image formats: even doc_ids
    # become zlib-deflated PNGs (IHDR CRC-verified by the parser), odd
    # ones JPEG header prefixes (SOF found by walking variable-length
    # APP0/COM/DQT segments), every 17th payload magic-corrupted into
    # the NULL-field quarantine path.  The oracle recomputes the
    # closed-form dimensions — a misread endianness, chunk offset or
    # segment length hash-mismatches immediately.
    docs = t_wide(spark, sf_dir, "documents")
    return mm.decode_header_meta(mm.synth_png_jpeg_media(docs, "doc_id"))


register(
    "mm_decode_png_jpeg", _mm_png_jpeg_fn,
    "SELECT CAST(doc_id AS BIGINT) AS media_id, "
    "CASE WHEN doc_id % 17 = 0 THEN NULL "
    "WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format, "
    "CASE WHEN doc_id % 17 = 0 THEN NULL "
    "ELSE CAST(1 + doc_id % 64 AS INT) END AS width, "
    "CASE WHEN doc_id % 17 = 0 THEN NULL "
    "ELSE CAST(1 + (doc_id // 3) % 48 AS INT) END AS height, "
    "CASE WHEN doc_id % 17 = 0 THEN NULL ELSE CAST(8 AS INT) END "
    "AS bit_depth, "
    "CASE WHEN doc_id % 17 = 0 THEN NULL ELSE CAST(3 AS INT) END "
    "AS n_channels "
    "FROM documents",
)


def _mm_png_pixels_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FULL PNG raster decode (VERDICT r12 missing-item 2, closed this
    # round): the even-id synth payloads are real zlib-deflated PNGs
    # whose pixel byte i is (doc_id*31 + i) % 256, so the oracle
    # recomputes width/height/px_sum/topleft_r in closed form while the
    # engine side actually inflates the IDAT stream, CRC-checks every
    # chunk and reverses the scanline filters — a wrong unfilter, a
    # skipped CRC or a miscounted stride hash-mismatches immediately.
    # JPEG prefixes (odd ids) and corrupted-magic payloads (every 17th)
    # exercise the NULL-quarantine arm.  Same sniff-dispatch kernel as
    # mm_decode_image — one quarantine loop serves every raster format.
    docs = t_wide(spark, sf_dir, "documents")
    return mm.decode_image(mm.synth_png_jpeg_media(docs, "doc_id"))


register(
    "mm_decode_png_pixels", _mm_png_pixels_fn,
    "WITH png AS (SELECT doc_id, 1 + doc_id % 64 AS w, "
    "1 + (doc_id // 3) % 48 AS h FROM documents "
    "WHERE doc_id % 2 = 0 AND doc_id % 17 <> 0), "
    "px AS (SELECT doc_id, w, h, SUM((doc_id*31 + r.i) % 256) AS s "
    "FROM png CROSS JOIN range(0, 9216) r(i) WHERE r.i < w * h * 3 "
    "GROUP BY doc_id, w, h) "
    "SELECT CAST(d.doc_id AS BIGINT) AS media_id, "
    "CASE WHEN px.doc_id IS NOT NULL THEN 'png' END AS format, "
    "CAST(px.w AS INT) AS width, CAST(px.h AS INT) AS height, "
    "CAST(px.s AS BIGINT) AS px_sum, "
    "CAST(CASE WHEN px.doc_id IS NOT NULL THEN (d.doc_id*31) % 256 END "
    "AS INT) AS topleft_r "
    "FROM documents d LEFT JOIN px ON px.doc_id = d.doc_id",
)


def _mm_frames_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # real frame sampling: 6 concatenated P6 frames (4×3, raster byte i of
    # frame f of video k = (k·31 + f·7 + i) % 256) generated in the
    # executors, then every 2nd frame parsed back out of the container by
    # walking the P6 headers — width/height/px_sum/first_byte all come
    # from decoded raster bytes, which the oracle recomputes in closed form
    docs = t_wide(spark, sf_dir, "documents")
    return mm.sample_frames(
        mm.synth_video_media(docs, "doc_id", n_frames=6, width=4, height=3),
        every_n=2,
    )


register(
    "mm_sample_frames", _mm_frames_fn,
    "WITH fr AS (SELECT f FROM range(0, 6) t(f) WHERE f % 2 = 0), "
    "px AS (SELECT d.doc_id, fr.f, "
    "SUM((d.doc_id*31 + fr.f*7 + r.i) % 256) AS s "
    "FROM documents d CROSS JOIN fr CROSS JOIN range(0, 36) r(i) "
    "GROUP BY d.doc_id, fr.f) "
    "SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(f AS INT) AS frame_idx, "
    "CAST(4 AS INT) AS width, CAST(3 AS INT) AS height, "
    "CAST(s AS BIGINT) AS px_sum, "
    "CAST((doc_id*31 + f*7) % 256 AS INT) AS first_byte FROM px",
)

from .operators import sampling as sp  # noqa: E402


register(
    # reproducible Bernoulli subsample: keep iff md5-hex draw < rate — a
    # pure pushable filter, independent of partitioning/row order
    "sample_deterministic",
    lambda spark, sf_dir: sp.deterministic_sample(
        t(spark, sf_dir, "documents"), "doc_id", 0.25
    ).select("doc_id", "lang", "source", "n_chars"),
    "SELECT doc_id, lang, source, n_chars FROM documents WHERE "
    + sp.deterministic_sample_sql("doc_id", 0.25),
)

_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]

register(
    # disjoint exhaustive train/val/test assignment (projection, no
    # shuffle, stable under reruns and incremental appends)
    "sample_split",
    lambda spark, sf_dir: sp.assign_splits(
        t(spark, sf_dir, "documents"), "doc_id", _SPLITS
    ).select("doc_id", "lang", "split"),
    "SELECT doc_id, lang, "
    + sp.assign_splits_sql("doc_id", _SPLITS)
    + " AS split FROM documents",
)

_STRATA_RATES = {"en": 0.2, "de": 0.6, "fr": 0.6}

register(
    # language rebalancing: downsample the dominant stratum, keep the tail
    "sample_stratified",
    lambda spark, sf_dir: sp.stratified_sample(
        t(spark, sf_dir, "documents"), "lang", "doc_id",
        _STRATA_RATES, default_rate=1.0,
    ).select("doc_id", "lang"),
    "SELECT doc_id, lang FROM documents WHERE "
    + sp.stratified_sample_sql("lang", "doc_id", _STRATA_RATES, default_rate=1.0),
)

register(
    # exactly-k-per-group deterministic subsample (one hash-partitioned
    # window; (draw, key) order is total, so ranks are reproducible)
    "sample_topk_group",
    lambda spark, sf_dir: sp.topk_per_group(
        t(spark, sf_dir, "documents").select("doc_id", "lang", "source"),
        ["lang", "source"], "doc_id", 3,
    ),
    sp.topk_per_group_sql(
        "documents", ["doc_id", "lang", "source"], ["lang", "source"],
        "doc_id", 3,
    ),
)


def _pack_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # concat-and-chunk packing bookkeeping over per-source token streams:
    # one shard-partitioned window, exact int64 cumsum + integer DIV
    from .operators.text import token_count_cols

    docs = t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", token_count_cols("text")[0])
    return sp.chunk_assignments(base, "doc_id", "n_tokens", 256, "source")


def _pack_sql() -> str:
    from .functions import hashing as _H

    tc = (
        f"SELECT doc_id, source, "
        f"CAST(len({_H.tokens_sql('text')}) AS BIGINT) AS n_tokens "
        f"FROM documents"
    )
    body = sp.chunk_assignments_sql("tc", "doc_id", "n_tokens", 256, "source")
    return f"WITH tc AS ({tc}) {body}"


register("sample_pack_chunks", _pack_fn, _pack_sql())


def _pack_bpe_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the same packing bookkeeping budgeted against REAL BPE-merge token
    # counts (what a trained tokenizer would emit) instead of the
    # whitespace heuristic — the composition VERDICT r07 item 5 asked
    # chunk budgets to run on; still one fused projection + one
    # shard-partitioned window
    # t_wide: the BPE fold is the costliest per-row kernel in the
    # registry and chunk_assignments is partitioning-independent
    docs = t_wide(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", *tx.bpe_token_cols("text", tx.DEMO_BPE_MERGES)
    )
    return sp.chunk_assignments(base, "doc_id", "n_bpe_tokens", 512, "source")


def _pack_bpe_sql() -> str:
    inner = tx.bpe_token_count_sql("documents", "text", "doc_id")
    tc = (
        f"SELECT d.source, b.doc_id, b.n_bpe_tokens "
        f"FROM ({inner}) b JOIN documents d USING (doc_id)"
    )
    body = sp.chunk_assignments_sql(
        "tc", "doc_id", "n_bpe_tokens", 512, "source"
    )
    return f"WITH tc AS ({tc}) {body}"


register("sample_pack_bpe", _pack_bpe_fn, _pack_bpe_sql())
register(
    # the EMISSION step the two bookkeeping entries above stop short
    # of: materialized GPT-style packed sequences (per-source token
    # streams sliced into fixed 128-token windows, actual text out) —
    # one shard window + one context-bounded (shard, chunk) aggregation
    "sample_pack_emit",
    lambda spark, sf_dir: sp.pack_sequences(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", "source", 128
    ),
    sp.pack_sequences_sql("documents", "text", "doc_id", "source", 128),
)
register(
    # exactly-n global deterministic sample: per-partition top-n heaps
    # (TakeOrderedAndProject), no global sort
    "sample_take_n",
    lambda spark, sf_dir: sp.deterministic_take(
        t(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id", 200,
        salt="take",
    ),
    sp.deterministic_take_sql(
        "documents", ["doc_id", "lang"], "doc_id", 200, salt="take"
    ),
)
register(
    # mixture rebalancing: downsample every language to an EXPECTED 100
    # docs (en 218→~100 at sf0.01, the rest kept whole) — k-row count
    # aggregate → literal CASE filter, exact integer thresholds on both
    # engines (floor(target·16⁸/n) vs HUGEINT division)
    "sample_balanced",
    lambda spark, sf_dir: sp.balanced_sample(
        t(spark, sf_dir, "documents"), "lang", "doc_id", 100
    ).select("doc_id", "lang"),
    sp.balanced_sample_sql(
        "documents", ["doc_id", "lang"], "lang", "doc_id", 100
    ),
)
register(
    # corpus vocabulary: top-k terms by total count, tokenizer-training
    # primitive; global top-k is heap-based, never a vocabulary sort
    "text_vocabulary",
    lambda spark, sf_dir: tx.vocabulary(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", k=100, min_df=2
    ),
    tx.vocabulary_sql("documents", "text", "doc_id", k=100, min_df=2),
)

# --- classifier scoring → mixture rebalancing → per-group sampling ---
# (VERDICT r10 items 2-4: the two operators staged in round 10 plus the
# composed loop a training-data curation run actually executes.)

# the demo weight table stands in for a trained model's weights — a
# fixed public literal, identical in both engines (the LSH-hyperplane
# pattern); seed/size are part of the entry's contract
_QL_WEIGHTS = tx.demo_quality_weights(256, seed=7)


def _quality_linear_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # t_wide: the per-row tokenize+fold kernel is compute-bound on the
    # single-file fixture scan (the token_count precedent).  The corpus
    # is AUGMENTED with an empty-text and a NULL-text row so the
    # zero-evidence NULL-score arm is exercised at every SF alongside
    # the real multi-valued scores (the vacuity lesson).
    docs = t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    synth = spark.createDataFrame(
        [(9000001, ""), (9000002, None)], "doc_id: long, text: string"
    )
    return tx.linear_quality_score(
        docs.unionAll(synth), "text", "doc_id", _QL_WEIGHTS, bias=0.25
    )


register(
    "text_quality_linear",
    _quality_linear_fn,
    tx.linear_quality_score_sql(
        "(SELECT doc_id, text FROM documents "
        "UNION ALL SELECT CAST(9000001 AS BIGINT) AS doc_id, '' AS text "
        "UNION ALL SELECT CAST(9000002 AS BIGINT) AS doc_id, NULL AS text)",
        "text", "doc_id", _QL_WEIGHTS, bias=0.25,
    ),
)

# target shares hit every arm of the weight computation at every SF:
# es is OBSERVED but absent from the target (target_share 0.0 →
# mix_weight 0.0), de's derived mass is forced to ZERO (share 0.0 →
# NULL mix_weight/keep_rate — the zero-mass guard), fr is
# under-represented (mix_weight > 1 → keep_rate clamps at 1.0) and
# en over-represented (fractional keep_rate)
_MW_TARGET = {"en": 0.4, "fr": 0.3, "zh": 0.3}


def _mixture_weights_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = (
        F.when(F.col("lang") == "de", F.lit(0))
        .otherwise(F.col("n_chars"))
        .cast("bigint")
    )
    return sp.mixture_weights(
        docs.select("lang", w.alias("w")), "lang", _MW_TARGET,
        weight_col="w",
    )


register(
    "sample_mixture_weights",
    _mixture_weights_fn,
    sp.mixture_weights_sql(
        "(SELECT lang, CASE WHEN lang = 'de' THEN CAST(0 AS BIGINT) "
        "ELSE n_chars END AS w FROM documents)",
        "lang", _MW_TARGET, weight_col="w",
    ),
)


# --- the composed curation loop: score → threshold filter → mixture
# rebalance → in-plan per-group Bernoulli sample.  The score+filter
# pass is PERSISTED once per sf_dir (the production pattern: a pipeline
# persists its scored corpus between stages, keeping scores for audit;
# in-plan, the two consumers — the k-row mass aggregate and the sample
# filter — would each re-run the fold, and filtering on the projected
# score alias would re-inline the fold into the pushed Filter besides:
# the Catalyst alias-inlining trap, avoided by filtering on the
# READ-BACK column where the predicate pushes into the parquet scan).
# The per-group rate is joined back from the k-row mixture frame
# (broadcast) and the row draw — an exact integer — is compared against
# floor(keep_rate·2³²) DERIVED IN-PLAN, so no rate ever round-trips
# through Python (stratified_sample's literal-CASE thresholds need
# rates known up front; this is the same draw < threshold contract with
# the threshold computed from data).  The target hits every sampling
# arm at every SF (the vacuity lesson — an earlier draft clamped ALL
# in-target groups to 1.0 and never exercised the fractional draw
# comparison): en's post-filter token share is ~0.34-0.44 against
# target 0.2 → FRACTIONAL keep_rate (real Bernoulli thinning); fr/zh
# are under-represented → clamp to 1.0 (2³² > every 8-hex draw, the
# stratum kept whole); es/de are observed but absent from the target →
# keep_rate 0.0 drops them outright; a NULL keep_rate would drop via
# NULL comparison.
_CM_TARGET = {"en": 0.2, "fr": 0.3, "zh": 0.5}
_CM_THRESHOLD = 0.0
_CURATE_MIX_CACHE: dict[str, str] = {}


def _curate_mix_scored(spark: SparkSession, sf_dir: str) -> str:
    """Score pass persisted once per sf_dir: linear_quality_score over
    the corpus (group key carried via keep_cols — no id join), ALL rows
    written with their scores; the threshold filter runs on read-back
    where it pushes into the scan."""
    def build(root: str) -> None:
        docs = t_wide(spark, sf_dir, "documents")
        tx.linear_quality_score(
            docs, "text", "doc_id", _QL_WEIGHTS, keep_cols=("lang",)
        ).write.parquet(root + "/scored")

    return _scratch_root(_CURATE_MIX_CACHE, sf_dir, "xhs_curate_mix_",
                         build)


def _curate_mixture_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import hashing as H

    root = _curate_mix_scored(spark, sf_dir)
    filt = (
        spark.read.parquet(root + "/scored")
        .where(F.col("lin_score") >= F.lit(_CM_THRESHOLD))
    )
    mix = sp.mixture_weights(filt, "lang", _CM_TARGET, weight_col="n_tokens")
    rates = F.broadcast(
        mix.select(F.col("lang").alias("_mlang"), "keep_rate")
    )
    joined = filt.join(rates, filt["lang"].eqNullSafe(rates["_mlang"]))
    draw = H.hex8_val(sp.draw_hex(F.col("doc_id"), salt="mix"))
    return joined.where(draw < sp.rate_threshold(F.col("keep_rate"))).select(
        "doc_id", "lang", "n_tokens", "lin_score"
    )


def _curate_mixture_sql() -> str:
    from .binspec import flit
    from .functions import hashing as H

    scored = tx.linear_quality_score_sql(
        "documents", "text", "doc_id", _QL_WEIGHTS, keep_cols=("lang",)
    )
    mix = sp.mixture_weights_sql("__filt", "lang", _CM_TARGET,
                                 weight_col="n_tokens")
    draw = sp.draw_hex_sql("f.doc_id", salt="mix")
    return (
        f"WITH __scored AS ({scored}), "
        f"__filt AS (SELECT * FROM __scored "
        f"WHERE lin_score >= {flit(_CM_THRESHOLD)}), "
        f"__j AS (SELECT f.doc_id, f.lang, f.n_tokens, f.lin_score, "
        f"m.keep_rate, {draw} AS __d8 "
        f"FROM __filt f JOIN ({mix}) m "
        f"ON f.lang IS NOT DISTINCT FROM m.lang) "
        f"SELECT doc_id, lang, n_tokens, lin_score FROM __j "
        f"WHERE {H.hex8_val_sql('__d8')} < "
        f"{sp.rate_threshold_sql('keep_rate')}"
    )


register(
    "pipeline_curate_mixture",
    _curate_mixture_fn,
    _curate_mixture_sql(),
)


# --- temperature (τ) mixture rebalancing: target derived FROM the data ---
# (VERDICT r11 item 2: the operator staged tested+mirrored in round 11.)
# The fixture forces every arm at every SF: `en` carries ~43-50% of the
# character mass, so flattening makes it over-represented against its
# tempered target → FRACTIONAL keep_rate; the tail langs become
# under-represented → clamp to 1.0; `de`'s derived mass is forced to
# ZERO (the sample_mixture_weights pattern) → share 0.0, tempered_mass
# 0, NULL mix_weight/keep_rate (temperature has no dict, hence no
# absent arm — the zero-mass group IS its NULL arm).  TWO sqrt_steps
# values run side by side (tagged) so the default τ=2 AND a deep τ=8
# tempering are both driver-gated: their tempered_mass columns differ
# at every SF (e.g. sf0.01 en: 253 vs 3), making the tag non-vacuous.
_TW_WEIGHT = "CASE WHEN lang = 'de' THEN CAST(0 AS BIGINT) ELSE n_chars END"


def _tw_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = (
        F.when(F.col("lang") == "de", F.lit(0))
        .otherwise(F.col("n_chars"))
        .cast("bigint")
    )
    return docs.select("doc_id", "lang", "n_chars", w.alias("w"))


def _temperature_weights_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _tw_corpus(spark, sf_dir).select("lang", "w")
    out = None
    for steps in (1, 3):
        tw = sp.temperature_weights(
            corpus, "lang", weight_col="w", sqrt_steps=steps
        ).withColumn("sqrt_steps", F.lit(steps))
        out = tw if out is None else out.unionAll(tw)
    return out


register(
    "sample_temperature_weights",
    _temperature_weights_fn,
    " UNION ALL ".join(
        f"SELECT *, CAST({steps} AS INTEGER) AS sqrt_steps FROM ("
        + sp.temperature_weights_sql(
            f"(SELECT lang, {_TW_WEIGHT} AS w FROM documents)",
            "lang", weight_col="w", sqrt_steps=steps,
        )
        + ")"
        for steps in (1, 3)
    ),
)


# --- the composed τ-curation loop: temperature_weights → broadcast
# join-back → in-plan Bernoulli thinning (VERDICT r11 item 8 — the
# no-dict twin of pipeline_curate_mixture: proves the data-derived-rate
# join-back works when the target itself comes FROM the data).  No
# persisted score pass here: unlike the mixture entry there is no
# expensive per-row fold to protect from re-evaluation — the k-row
# mixture frame is one map-combined groupBy over the corpus, broadcast
# back onto a second plain scan; the draw (an exact integer) is
# compared against floor(keep_rate·2³²) DERIVED IN-PLAN, so no rate
# round-trips through Python.  Arms at every SF with sqrt_steps=2:
# en fractional (~0.6-0.68 — real Bernoulli thinning), tail langs clamp
# to 1.0 (kept whole), de's zero mass → NULL keep_rate → dropped by the
# NULL comparison.
_CT_SQRT_STEPS = 2


def _curate_temperature_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import hashing as H

    corpus = _tw_corpus(spark, sf_dir)
    tw = sp.temperature_weights(
        corpus, "lang", weight_col="w", sqrt_steps=_CT_SQRT_STEPS
    )
    rates = F.broadcast(
        tw.select(F.col("lang").alias("_tlang"), "keep_rate")
    )
    joined = corpus.join(rates, corpus["lang"].eqNullSafe(rates["_tlang"]))
    draw = H.hex8_val(sp.draw_hex(F.col("doc_id"), salt="temp"))
    return joined.where(draw < sp.rate_threshold(F.col("keep_rate"))).select(
        "doc_id", "lang", "n_chars"
    )


def _curate_temperature_sql() -> str:
    from .functions import hashing as H

    tw = sp.temperature_weights_sql("__c", "lang", weight_col="w",
                                    sqrt_steps=_CT_SQRT_STEPS)
    draw = sp.draw_hex_sql("c.doc_id", salt="temp")
    return (
        f"WITH __c AS (SELECT doc_id, lang, n_chars, {_TW_WEIGHT} AS w "
        f"FROM documents), "
        f"__j AS (SELECT c.doc_id, c.lang, c.n_chars, m.keep_rate, "
        f"{draw} AS __d8 "
        f"FROM __c c JOIN ({tw}) m "
        f"ON c.lang IS NOT DISTINCT FROM m.lang) "
        f"SELECT doc_id, lang, n_chars FROM __j "
        f"WHERE {H.hex8_val_sql('__d8')} < "
        f"{sp.rate_threshold_sql('keep_rate')}"
    )


register(
    "pipeline_curate_temperature",
    _curate_temperature_fn,
    _curate_temperature_sql(),
)


# --- epoch-repeat upsampling: temperature_weights → epoch_plan →
# upsample_corpus (VERDICT r12 item 2: the materializer pair staged
# tested+mirrored in round 12).  The weight fixture forces every arm at
# every SF (verified by hand from the fixture masses and pinned exactly
# in tests/test_adversarial_oracle.py): `de`'s mass is forced to ZERO →
# NULL plan → its rows contribute nothing (the NULL-plan drop arm);
# `zh`'s mass is divided by 16 (a POWER OF TWO — the double division
# and floor are IEEE-exact in both engines, so the integer masses
# hash-match) making it deeply under-represented → mix_weight ≈ 10.1-
# 10.5 → the n_epochs≥2 DEEP-upsample arm, bounded by a NON-default
# max_repeats=16 (the default 1024 would make the guard arm vacuous);
# `en` carries ~52-60% of the remaining mass → mix_weight < 1 → the
# thinning-degeneration arm (floor 0 + fractional Bernoulli draw);
# `fr`/`es` land at mix_weight ≈ 1.08-1.31 → the one-epoch +
# fractional-extra arm with BOTH draw outcomes present.  Scale shape:
# one map-combined groupBy to k rows + one k-row window (the weights),
# then the k-row plan BROADCAST onto one corpus scan with a map-side
# explode(sequence(...)) fan-out AFTER the join — the shuffle ships no
# repeated bytes and max_repeats bounds the blowup.
_EU_SQRT_STEPS = 2
_EU_WEIGHT_SQL = (
    "CASE WHEN lang = 'de' THEN CAST(0 AS BIGINT) "
    "WHEN lang = 'zh' THEN CAST(floor(n_chars / 16) AS BIGINT) "
    "ELSE n_chars END"
)
_EU_CORPUS_SQL = f"(SELECT doc_id, lang, {_EU_WEIGHT_SQL} AS w FROM documents)"


def _eu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = (
        F.when(F.col("lang") == "de", F.lit(0))
        .when(F.col("lang") == "zh", F.floor(F.col("n_chars") / 16))
        .otherwise(F.col("n_chars"))
        .cast("bigint")
    )
    return docs.select("doc_id", "lang", w.alias("w"))


def _epoch_upsample_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _eu_corpus(spark, sf_dir)
    tw = sp.temperature_weights(
        corpus, "lang", weight_col="w", sqrt_steps=_EU_SQRT_STEPS
    )
    plan = sp.epoch_plan(tw, max_repeats=16)
    return sp.upsample_corpus(corpus, "lang", plan, "doc_id", salt="ep13")


register(
    "sample_epoch_upsample",
    _epoch_upsample_fn,
    sp.upsample_corpus_sql(
        _EU_CORPUS_SQL,
        "lang",
        sp.epoch_plan_sql(
            sp.temperature_weights_sql(
                _EU_CORPUS_SQL, "lang", weight_col="w",
                sqrt_steps=_EU_SQRT_STEPS,
            ),
            max_repeats=16,
        ),
        "doc_id",
        ["doc_id", "lang", "w"],
        salt="ep13",
    ),
)


# --- the END-TO-END pretraining mix (VERDICT r12 item 3): exact
# dedup-keep → quality filter → PII scrub → temperature weights →
# epoch_plan → upsample → pack_sequences, ONE registered entry.  Every
# primitive is individually driver-green; this gate pins the
# COMPOSITION — column flow across stages, the persist boundary, and
# group coverage between the weights pass and the materializer.
#
# Fixture non-vacuity at every SF (measured over the real fixtures,
# pinned in tests/test_adversarial_oracle.py): doc_id%11==5 docs COLLAPSE
# to a per-(lang, PII-variant) boilerplate string → the dedup stage
# drops ~8% of rows; quality threshold 0.605 sits between every
# (lang, SF)'s p05 (≤0.604) and p25 (≥0.611) → the filter drops 5-25%
# of every lang but keeps most rows, and both boilerplate variants
# (0.690 / 0.609) survive it; doc_id%3==0 docs carry an appended
# e-mail + phone contact block → the scrub REDACTS ~a third of rows;
# the τ=4 tempered targets thin en (mix_weight<1) and upsample the
# tail langs (1 epoch + fractional extra), exercising the
# materializer's both live arms downstream of a DATA-derived plan.
#
# Persist boundary (the pipeline_curate_mixture precedent, applied by
# reasoning): the curate stage is EXPENSIVE per row (md5 fingerprint
# window + quality regex folds + the six-pattern PII scrub chain) and
# feeds TWO downstream scans (the k-row weights aggregate and the
# upsample join's corpus side) — without the parquet scratch stage,
# Catalyst's alias-inlining would re-run the whole regex chain once
# per scan.  Downstream of the scratch read the shape is the audited
# one: k-row map-combined groupBy + k-row window → broadcast join back
# onto one pruned scan → map-side explode fan-out → pack's one
# shard-window shuffle + one (shard, chunk) aggregation.
_PM_QMIN = 0.605
_PM_SQRT_STEPS = 2
_PM_CONTEXT = 64
_PM_AUG_SQL = (
    "CASE WHEN doc_id % 11 = 5 THEN "
    "'the shared boilerplate passage kept for ' || lang || "
    "' corpus quality checks' ELSE text END || "
    "CASE WHEN doc_id % 3 = 0 THEN "
    "' Contact staff@corp.example.com or call +15550001234 now.' "
    "ELSE '' END"
)
_PRETRAIN_CACHE: dict[str, str] = {}


def _pm_aug_col():
    return F.concat(
        F.when(
            F.col("doc_id") % 11 == 5,
            F.concat(
                F.lit("the shared boilerplate passage kept for "),
                F.col("lang"),
                F.lit(" corpus quality checks"),
            ),
        ).otherwise(F.col("text")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(" Contact staff@corp.example.com or call "
                  "+15550001234 now."),
        ).otherwise(F.lit("")),
    )


def _pretrain_curated(spark: SparkSession, sf_dir: str) -> str:
    """Curated corpus persisted ONCE per sf_dir: augmented text →
    fingerprint keep-first dedup → quality≥min filter → PII scrub →
    token count, written with (doc_id, lang, scrubbed text, n_tokens);
    both downstream scans (weights aggregate, upsample corpus side)
    read it back with column pruning instead of re-running the regex
    chain."""
    from pyspark.sql.window import Window

    from .functions import hashing as H

    def build(root: str) -> None:
        docs = t_wide(spark, sf_dir, "documents")
        base = docs.select("doc_id", "lang", _pm_aug_col().alias("text"))
        w = Window.partitionBy(H.md5_hex(F.col("text"))).orderBy("doc_id")
        kept = (
            base.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        filt = (
            kept.select("doc_id", "lang", "text",
                        tx.quality_cols("text")[-1])
            .where(F.col("quality") >= F.lit(_PM_QMIN))
        )
        scrub = filt.select("doc_id", "lang", *tx.pii_cols("text"))
        cur = scrub.select(
            "doc_id", "lang", F.col("text_scrubbed").alias("text")
        )
        cur.select(
            "doc_id", "lang", "text", tx.token_count_cols("text")[0]
        ).write.parquet(root + "/curated")

    return _scratch_root(_PRETRAIN_CACHE, sf_dir, "xhs_pretrain_", build)


def _pretrain_mix_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _pretrain_curated(spark, sf_dir)
    cur = spark.read.parquet(root + "/curated")
    tw = sp.temperature_weights(
        cur, "lang", weight_col="n_tokens", sqrt_steps=_PM_SQRT_STEPS
    )
    plan = sp.epoch_plan(tw)
    up = sp.upsample_corpus(
        cur.select("doc_id", "lang", "text"), "lang", plan, "doc_id",
        salt="pretrain",
    )
    rep = up.select(
        (F.col("doc_id") * 1024 + F.col("repeat_idx"))
        .cast("bigint")
        .alias("rep_id"),
        "lang",
        "text",
    )
    return sp.pack_sequences(rep, "text", "rep_id", "lang", _PM_CONTEXT)


def _pretrain_mix_sql() -> str:
    from .binspec import flit
    from .functions import hashing as H

    curated = (
        f"(WITH __aug AS (SELECT doc_id, lang, {_PM_AUG_SQL} AS text "
        f"FROM documents), "
        f"__kept AS (SELECT doc_id, lang, text FROM (SELECT *, "
        f"row_number() OVER (PARTITION BY {H.md5_hex_sql('text')} "
        f"ORDER BY doc_id) AS __rn FROM __aug) k WHERE __rn = 1), "
        f"__q AS ({tx.quality_score_sql('__kept', 'text', 'doc_id')}), "
        f"__filt AS (SELECT k.doc_id, k.lang, k.text FROM __kept k "
        f"JOIN __q q ON k.doc_id = q.doc_id "
        f"WHERE q.quality >= {flit(_PM_QMIN)}), "
        f"__scrub AS ({tx.pii_scrub_sql('__filt', 'text', 'doc_id')}), "
        f"__cur AS (SELECT f.doc_id, f.lang, s.text_scrubbed AS text "
        f"FROM __filt f JOIN __scrub s ON f.doc_id = s.doc_id), "
        f"__tok AS ({tx.token_count_sql('__cur', 'text', 'doc_id')}) "
        f"SELECT c.doc_id, c.lang, c.text, t.n_tokens "
        f"FROM __cur c JOIN __tok t ON c.doc_id = t.doc_id)"
    )
    # the expensive curated chain is bound ONCE as a top-level CTE and
    # referenced by name from both downstream scans (the weights
    # aggregate and the upsample corpus side) — the mirror analog of
    # the engine side's parquet scratch stage (review-found: the
    # inlined form made DuckDB run the regex-heavy chain twice; outer
    # CTEs are visible inside subqueries, the _curate_mixture_sql
    # precedent)
    tw = sp.temperature_weights_sql(
        "__pcur", "lang", weight_col="n_tokens", sqrt_steps=_PM_SQRT_STEPS
    )
    up = sp.upsample_corpus_sql(
        "__pcur", "lang", sp.epoch_plan_sql(tw), "doc_id",
        ["doc_id", "lang", "text"], salt="pretrain",
    )
    rep = (
        f"(SELECT CAST(doc_id * 1024 + repeat_idx AS BIGINT) AS rep_id, "
        f"lang, text FROM ({up}) u)"
    )
    pack = sp.pack_sequences_sql(rep, "text", "rep_id", "lang", _PM_CONTEXT)
    return f"WITH __pcur AS {curated} SELECT * FROM ({pack}) __pk"


register(
    "pipeline_pretrain_mix",
    _pretrain_mix_fn,
    _pretrain_mix_sql(),
)

# --- PII / URL curation over a deterministically AUGMENTED text column ---
# The sf fixtures contain little literal PII and few URLs, so a gate on the
# raw text would be near-vacuous (the round-5 dedup_embed_pairs lesson:
# 0-row == 0-row proves nothing).  Both engines append the SAME synthetic
# contact block — pure doc_id arithmetic, so every row carries a known
# e-mail, phone, IPv4, SSN, card number and two URLs on top of whatever
# the text has.
_PII_AUG_SQL = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@mail' || "
    "CAST(doc_id % 7 AS VARCHAR) || '.example.com or +1555000' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.7, SSN 123-45-6789, card "
    "4111-1111-1111-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    # unseparated PAN whose check digit varies with doc_id: Luhn-valid
    # only at doc_id%10 == 1, so the n_cc_raw gate exercises BOTH the
    # redact branch and the leave-invalid-candidates-alone branch
    "|| '. Ref 411111111111111' || CAST(doc_id % 10 AS VARCHAR) || ' end.'"
)
# Gopher-rules augmentation: the fixture text is single-line word soup,
# so the line-structure rules (bullet / ellipsis fractions) and the
# required-words rule would run vacuously on it.  Deterministically give
# each doc_id%4 class a different structural tail — bullet lines,
# ellipsis-terminated lines (plus required words to/be/that), symbol
# spam, or a benign required-word sentence — so every metric is
# non-zero on some rows and `keep`
# takes both truth values at sf0.001 and sf0.01.
_GOPHER_AUG_SQL = (
    "text || CASE CAST(doc_id % 4 AS INT) "
    "WHEN 0 THEN chr(10) || '- alpha beta' || chr(10) || "
    "'- gamma delta' || chr(10) || '- epsilon' "
    "WHEN 1 THEN chr(10) || 'to be continued...' || chr(10) || "
    "'that part is here...' "
    "WHEN 2 THEN ' # # # # # # # # # #' "
    "ELSE ' to be of use with that and have the rest' END"
)


def _gopher_aug_col():
    d = (F.col("doc_id") % 4).cast("int")
    return F.concat(
        F.col("text"),
        F.when(d == 0, F.lit("\n- alpha beta\n- gamma delta\n- epsilon"))
        .when(d == 1, F.lit("\nto be continued...\nthat part is here..."))
        .when(d == 2, F.lit(" # # # # # # # # # #"))
        .otherwise(
            F.lit(" to be of use with that and have the rest")
        ),
    )


register(
    # Gopher-style rule-based quality filter: the seven structural
    # metrics + keep over the augmented corpus
    "text_gopher_rules",
    lambda spark, sf_dir: tx.gopher_rules(
        t_wide(spark, sf_dir, "documents").withColumn(
            "text", _gopher_aug_col()
        ),
        "text", "doc_id",
    ),
    tx.gopher_rules_sql(
        f"(SELECT doc_id, {_GOPHER_AUG_SQL} AS text FROM documents)",
        "text", "doc_id",
    ),
)


_URL_AUG_SQL = (
    "text || ' See https://src' || CAST(doc_id % 7 AS VARCHAR) || "
    "'.example.org/p/' || CAST(doc_id AS VARCHAR) || "
    "' and http://Mirror' || CAST(doc_id % 3 AS VARCHAR) || '.example.net/' "
    "|| CAST(doc_id AS VARCHAR)"
)


def _pii_aug_col():
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" Contact user"), d.cast("string"),
        F.lit("@mail"), (d % 7).cast("string"),
        F.lit(".example.com or +1555000"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" at 10.0."), (d % 256).cast("string"),
        F.lit(".7, SSN 123-45-6789, card 4111-1111-1111-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(". Ref 411111111111111"), (d % 10).cast("string"),
        F.lit(" end."),
    )


def _url_aug_col():
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" See https://src"), (d % 7).cast("string"),
        F.lit(".example.org/p/"), d.cast("string"),
        F.lit(" and http://Mirror"), (d % 3).cast("string"),
        F.lit(".example.net/"), d.cast("string"),
    )


register(
    # PII scrubbing pass: per-class non-overlapping match counts + the
    # redacted text, chain-ordered identically on both engines
    "text_pii_scrub",
    lambda spark, sf_dir: tx.pii_scrub(
        t_wide(spark, sf_dir, "documents").withColumn("text", _pii_aug_col()),
        "text", "doc_id",
    ),
    tx.pii_scrub_sql(
        f"(SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents)",
        "text", "doc_id",
    ),
)


def _report_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source corpus health report over PII-augmented text (so the
    # PII columns are non-vacuous); min_required_words=1 because the
    # synthetic word soup carries only 'the' from the required list
    from .operators.curate import corpus_report

    docs = t_wide(spark, sf_dir, "documents").withColumn(
        "text", _pii_aug_col()
    )
    return corpus_report(
        docs, "text", "doc_id", "source", min_required_words=1
    )


def _report_sql() -> str:
    from .operators.curate import corpus_report_sql

    return corpus_report_sql(
        f"(SELECT doc_id, source, {_PII_AUG_SQL} AS text FROM documents)",
        "text", "doc_id", "source", min_required_words=1,
    )


register(
    # the k-row per-source ingest dashboard: ONE scan + ONE map-combined
    # groupBy over fused feature projections
    "pipeline_report", _report_fn, _report_sql(),
)


def _top_quality_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quality-threshold pruning: keep the top quarter of the corpus by
    # quality score — exact integer-rank threshold (distributed bucket
    # rank, no global sort), then a pushable literal filter
    from .operators.sampling import filter_top_fraction

    scored = tx.quality_score(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    ).select("doc_id", "quality")
    return filter_top_fraction(scored, "quality", 1, 4)


register(
    "sample_top_quality",
    _top_quality_fn,
    sp.filter_top_fraction_sql(
        f"({tx.quality_score_sql('documents', 'text', 'doc_id')})",
        ["doc_id", "quality"], "quality", 1, 4,
    ),
)


def _await_stream(q, seconds: int = 300) -> None:
    """``awaitTermination(timeout)`` returns False on timeout, which would
    silently hand a PARTIALLY-populated memory table to the oracle gate
    (looking like an operator bug) and leak the still-running query —
    stop it and fail loudly instead."""
    if not q.awaitTermination(seconds):
        q.stop()
        raise TimeoutError(f"streaming query did not finish in {seconds}s")


def _cluster_hist_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition across the engine's two halves: connected-component
    near-dedup (iterative label propagation) feeding a histogram of
    duplicate-cluster sizes (Integer axis + flow) — the dedup health
    panel ('how big are my duplicate groups') as ONE plan."""
    sizes = (
        dd.dedup_components(t_wide(spark, sf_dir, "documents"), "text", "doc_id")
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("csize"))
    )
    return histogramdd(sizes, ["csize"], [Integer(1, 6)], flow=True).df


def _cluster_hist_sql() -> str:
    comp = dd.dedup_components_sql("documents", "text", "doc_id")
    inner = (
        f"(WITH c AS ({comp}) SELECT CAST(COUNT(*) AS BIGINT) AS csize "
        f"FROM c GROUP BY component)"
    )
    return orc.histogram_oracle_sql(inner, ["csize"], [Integer(1, 6)], flow=True)


register("dedup_cluster_size_hist", _cluster_hist_fn, _cluster_hist_sql())

from .operators.joins import (  # noqa: E402
    retention_cohorts as _retention,
    retention_cohorts_sql as _retention_sql,
)

register(
    # cohort-retention triangle: exact integer epoch-period arithmetic,
    # one distinct (user, period) shuffle + window MIN cohort, no joins
    "events_retention",
    lambda spark, sf_dir: _retention(
        t(spark, sf_dir, "events"), "user_id", "ts", period="day"
    ),
    _retention_sql("events", "user_id", "ts", period="day"),
)


def _jsonl_roundtrip_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus source/sink round-trip: parquet → line-delimited JSON
    (the format corpora actually ship in) → explicit-schema PERMISSIVE
    read.  The oracle is simply the original table, so the gate proves
    the JSON encode/decode (unicode escapes, quoting, NULLs) is lossless
    on real multilingual text."""
    import tempfile

    from .sources.corpus import read_jsonl_corpus, write_jsonl_corpus

    docs = t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="xhs_jsonl_") + "/docs"
    write_jsonl_corpus(docs, path)
    back = read_jsonl_corpus(spark, path, docs.schema)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


register(
    "source_jsonl_roundtrip",
    _jsonl_roundtrip_fn,
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)


# the fixture text carries no commas, quotes or NULLs, so a plain
# round-trip would never exercise RFC quoting or the NULL marker (the
# vacuous-gate trap): plant both — quoted/comma'd tails on most rows,
# NULL text on every 7th
_CSV_AUG_SQL = (
    "CASE WHEN doc_id % 7 = 0 THEN NULL "
    "ELSE text || ', \"q' || CAST(doc_id % 5 AS VARCHAR) || '\" fin' END"
)


def _csv_aug_col():
    d = F.col("doc_id")
    return F.when(
        d % 7 != 0,
        F.concat(
            F.col("text"), F.lit(', "q'), (d % 5).cast("string"),
            F.lit('" fin'),
        ),
    )


def _csv_roundtrip_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV corpus source/sink round-trip (the metadata/annotation format
    real pipelines ingest alongside JSONL): parquet → RFC-quoted headered
    CSV → explicit-schema PERMISSIVE read, over text augmented with
    commas, doubled quotes and NULLs so the gate actually exercises
    quoting and the NULL-vs-empty marker (review-found vacuity).  The
    oracle is the same augmented projection, so losslessness — including
    type restoration from text — is exactly what the hash proves."""
    import tempfile

    from .sources.corpus import read_csv_corpus, write_csv_corpus

    docs = t(spark, sf_dir, "documents").withColumn("text", _csv_aug_col())
    # session-scoped scratch, overwritten per call — repeated bench/driver
    # invocations must not accumulate full CSV copies of the corpus
    if sf_dir not in _CSV_SCRATCH:
        _CSV_SCRATCH[sf_dir] = tempfile.mkdtemp(prefix="xhs_csv_") + "/docs"
    path = _CSV_SCRATCH[sf_dir]
    write_csv_corpus(docs, path, mode="overwrite")
    back = read_csv_corpus(spark, path, docs.schema)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


_CSV_SCRATCH: dict[str, str] = {}


register(
    "source_csv_roundtrip",
    _csv_roundtrip_fn,
    f"SELECT doc_id, {_CSV_AUG_SQL} AS text, lang, source, n_chars "
    "FROM documents",
)


def _streaming_pii_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL micro-batch execution of the PII scrubber: the curation
    kernels are pure stateless projections, so they are streaming-legal
    as-is (append mode, no watermark, no state) — the ingest-time
    scrubbing shape.  Result rows are identical to the batch run, so the
    batch oracle gates the streaming execution exactly."""
    import tempfile
    import uuid

    conv = (
        t(spark, sf_dir, "documents")
        .withColumn("text", _pii_aug_col())
        .select("doc_id", "text")
    )
    src = tempfile.mkdtemp(prefix="xhs_pii_stream_")
    conv.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(conv.schema).parquet(src)
    out = tx.pii_scrub(sdf, "text", "doc_id")
    name = "xhs_pii_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    return spark.table(name)


register(
    "streaming_pii_scrub",
    _streaming_pii_fn,
    tx.pii_scrub_sql(
        f"(SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents)",
        "text", "doc_id",
    ),
)
register(
    # URL/domain discovery: one row per match with 1-based position and
    # lowercased host — the input of per-domain curation
    "text_url_extract",
    lambda spark, sf_dir: tx.extract_urls(
        t_wide(spark, sf_dir, "documents").withColumn("text", _url_aug_col()),
        "text", "doc_id",
    ),
    tx.extract_urls_sql(
        f"(SELECT doc_id, {_URL_AUG_SQL} AS text FROM documents)",
        "text", "doc_id",
    ),
)


def _url_cap_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-domain cap: URL discovery composed with the deterministic
    # exactly-k-per-group window.  The rank key is (doc_id, pos) encoded
    # as a string — unique per extracted row, so the kept SET is total-
    # ordered and engine-independent even when the same URL repeats.
    from .operators import sampling as _sp

    urls = tx.extract_urls(
        t_wide(spark, sf_dir, "documents").withColumn("text", _url_aug_col()),
        "text", "doc_id",
    ).withColumn(
        "row_key",
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"),
            F.col("pos").cast("string"),
        ),
    )
    return _sp.topk_per_group(urls, ["domain"], "row_key", 5).select(
        "doc_id", "pos", "url", "domain", "rk"
    )


def _url_cap_sql() -> str:
    from .operators import sampling as _sp

    inner = tx.extract_urls_sql(
        f"(SELECT doc_id, {_URL_AUG_SQL} AS text FROM documents)",
        "text", "doc_id",
    )
    key = "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)"
    return _sp.topk_per_group_sql(
        f"({inner})", ["doc_id", "pos", "url", "domain"], ["domain"],
        key, 5,
    )


register(
    # per-domain capping (the web-corpus "no domain dominates" rule):
    # extraction → ONE window on the domain key, k kept per domain
    "text_url_cap_domain",
    _url_cap_fn,
    _url_cap_sql(),
)


def _merge_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # histogram addition (boost `+` / xarray arithmetic): shard histograms
    # merge exactly into the whole — oracle is simply the full histogram
    df = t(spark, sf_dir, "lineitem")
    spec = Regular(10, 1.0, 51.0)
    h1 = histogramdd(
        df.where(F.col("l_orderkey") % 2 == 0), ["l_quantity"], [spec],
        group_by=["l_returnflag"],
    )
    h2 = histogramdd(
        df.where(F.col("l_orderkey") % 2 == 1), ["l_quantity"], [spec],
        group_by=["l_returnflag"],
    )
    return h1.merge(h2).df


register(
    "hist_merge_shards", _merge_fn,
    orc.histogram_oracle_sql(
        "lineitem", ["l_quantity"], [Regular(10, 1.0, 51.0)],
        group_by=["l_returnflag"],
    ),
)


def _adopt_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-histogram adoption round-trip (reference accessor
    interop, accessor.py:49-130): the PUBLIC histogram frame is written
    as plain parquet — no sidecar, no internal columns — re-read, adopted
    purely from the naming convention (Regular right-edge inference from
    the bin labels), and then NORMALIZED off the inferred spec.  The
    spacing (50-0)/10 = 5.0 is exactly representable, so inferred widths
    are bit-equal to the original's and the pdf hash-matches the direct
    density oracle."""
    import tempfile

    from .plans.result import adopt_dataframe

    spec = Regular(10, 0.0, 50.0)
    h = histogram(
        t(spark, sf_dir, "lineitem"), "l_quantity", spec,
        group_by=["l_returnflag"], flow=True,
    )
    # one session-scoped scratch dir, overwritten per call — repeated
    # bench/driver invocations must not accumulate orphan temp dirs
    # (setdefault would still call mkdtemp eagerly each time, leaking
    # one empty dir per invocation — guard so it runs on first use only)
    if sf_dir not in _ADOPT_SCRATCH:
        _ADOPT_SCRATCH[sf_dir] = tempfile.mkdtemp(prefix="xhs_adopt_") + "/plain"
    path = _ADOPT_SCRATCH[sf_dir]
    h.df.write.mode("overwrite").parquet(path)
    return adopt_dataframe(spark.read.parquet(path)).normalize().df


_ADOPT_SCRATCH: dict[str, str] = {}


def _cleanup_scratch() -> None:
    """Remove the session-scoped scratch roots (registered atexit; ADVICE
    r07: the membership guards stop per-CALL leaks, but each bench/driver
    PROCESS still left one corpus copy under /tmp) and forget them, so a
    call after a mid-process cleanup builds fresh state."""
    import os
    import shutil

    for leaf in list(_CSV_SCRATCH.values()) + list(_ADOPT_SCRATCH.values()):
        shutil.rmtree(os.path.dirname(leaf), ignore_errors=True)
    # the ANN/embed/band-loop/embed-loop/curation caches hold the
    # scratch ROOT itself
    roots = (_ANN_INDEX_CACHE, _EMBED_INDEX_CACHE, _EXTEND_LOOP_CACHE,
             _EMBED_LOOP_CACHE, _CURATE_MIX_CACHE, _PRETRAIN_CACHE)
    for root in [r for cache in roots for r in cache.values()]:
        shutil.rmtree(root, ignore_errors=True)
    for cache in (_CSV_SCRATCH, _ADOPT_SCRATCH, *roots):
        cache.clear()


import atexit  # noqa: E402 — registered next to the state it cleans

atexit.register(_cleanup_scratch)


register(
    "hist_adopt_roundtrip", _adopt_fn,
    orc.histogram_oracle_sql(
        "lineitem", ["l_quantity"], [Regular(10, 0.0, 50.0)],
        group_by=["l_returnflag"], flow=True, density=True,
    ),
)


from .plans.rollup import (
    rollup_histogram,
    rollup_histogram_sql,
    rollup_histogramdd,
    rollup_histogramdd_sql,
)

_RU_SPEC = Regular(10, 1.0, 51.0)

register(
    "hist_rollup_multires",
    lambda spark, sf_dir: rollup_histogram(
        t(spark, sf_dir, "lineitem"), "l_quantity", _RU_SPEC,
        ["l_returnflag", "l_linestatus"],
    ),
    rollup_histogram_sql(
        "lineitem", "l_quantity", _RU_SPEC, ["l_returnflag", "l_linestatus"]
    ),
)
register(
    "hist_rollup_weighted",
    lambda spark, sf_dir: rollup_histogram(
        t(spark, sf_dir, "lineitem"), "l_quantity", _RU_SPEC,
        ["l_returnflag", "l_linestatus"], weights="l_extendedprice",
    ),
    rollup_histogram_sql(
        "lineitem", "l_quantity", _RU_SPEC, ["l_returnflag", "l_linestatus"],
        weights="l_extendedprice",
    ),
)
register(
    "hist_rollup_2d",
    lambda spark, sf_dir: rollup_histogramdd(
        t(spark, sf_dir, "lineitem"), ["l_quantity", "l_discount"],
        [_RU_SPEC, Regular(4, 0.0, 0.12)], ["l_returnflag", "l_linestatus"],
    ),
    rollup_histogramdd_sql(
        "lineitem", ["l_quantity", "l_discount"],
        [_RU_SPEC, Regular(4, 0.0, 0.12)], ["l_returnflag", "l_linestatus"],
    ),
)
register(
    "hist_cube_multires",
    lambda spark, sf_dir: rollup_histogram(
        t(spark, sf_dir, "lineitem"), "l_quantity", _RU_SPEC,
        ["l_returnflag", "l_linestatus"], cube=True,
    ),
    rollup_histogram_sql(
        "lineitem", "l_quantity", _RU_SPEC,
        ["l_returnflag", "l_linestatus"], cube=True,
    ),
)


# ---------------------------------------------------------------------------
# events: time-bucketed histograms (batch analog of the streaming operator;
# the events table stores parquet timestamp[us], which Spark reads as
# TIMESTAMP_NTZ — with the session tz pinned to UTC, `cast(ts as timestamp)`
# is the identity on epoch micros, so unix_micros(ts) == DuckDB epoch_us(ts)
# and bucketing is exact integer division on both engines)
# ---------------------------------------------------------------------------


def _utc_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Registry-wide convention: the whole driver session runs in UTC.

    ``spark.sql.session.timeZone`` is SESSION-global and read at
    execution time, so a scoped set-and-restore would silently flip
    results when the query executes later; instead EVERY tz-sensitive
    registry query routes through this helper and the session stays
    pinned to UTC (the DuckDB oracle is tz-fixed the same way).  Any
    future tz-sensitive registry query must do the same — never rely on
    the driver's ambient timezone."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _utc_ts(spark, t(spark, sf_dir, "events")).withColumn(
        "hour_bucket", F.expr("unix_micros(ts) div 3600000000")
    )


_EV_SPEC = Regular(20, 0.0, 500.0)

register(
    "events_hourly_hist",
    lambda spark, sf_dir: histogramdd(
        _events(spark, sf_dir), ["value"], [_EV_SPEC], group_by=["hour_bucket"]
    ).df,
    orc.histogram_oracle_sql(
        "events", ["value"], [_EV_SPEC], group_by=["hour_bucket"],
        group_exprs={"hour_bucket": "epoch_ns(ts) // 3600000000000"},
    ),
)

def _session_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.histogram_stream import session_histogram

    ev = _utc_ts(spark, t(spark, sf_dir, "events")).select(
        "ts", "event_type", "value"
    )
    return session_histogram(
        ev, "value", _EV_SPEC, "ts", gap="30 minutes", group_by=["event_type"]
    )


def _session_sql(gap_us: int = 1_800_000_000) -> str:
    """Gaps-and-islands mirror of ``session_histogram``: new session when
    ts - prev > gap STRICTLY (Spark merges touching ranges — events exactly
    gap apart share a session; pinned in test_session_boundary_semantics);
    range = [min(ts), max(ts)+gap); dense per-session spine, zero-filled.
    All session arithmetic on exact epoch-micros integers (both engines
    truncate the parquet nanos identically)."""
    bid = _EV_SPEC.raw_id_sql("value")
    spine = orc._spine_values("value", _EV_SPEC, False)
    return (
        # ts IS NOT NULL: session_window is an EVENT-TIME op — Spark drops
        # rows without event time; the islands mirror must too (a NULL t
        # would otherwise land in a NULL-ordered island)
        f"WITH e AS (SELECT event_type, epoch_us(ts) AS t, value FROM events "
        f"WHERE ts IS NOT NULL "
        f"AND value >= {orc.flit(0.0)} AND value < {orc.flit(500.0)}), "
        f"s AS (SELECT event_type, t, value, CASE WHEN t - lag(t) OVER "
        f"(PARTITION BY event_type ORDER BY t) > {gap_us} THEN 1 ELSE 0 END "
        f"AS brk FROM e), "
        f"g AS (SELECT event_type, t, value, SUM(brk) OVER (PARTITION BY "
        f"event_type ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
        f"ROW) AS sid FROM s), "
        f"sess AS (SELECT event_type, sid, MIN(t) AS session_start_us, "
        f"MAX(t) + {gap_us} AS session_end_us FROM g "
        f"GROUP BY event_type, sid), "
        f"binned AS (SELECT event_type, sid, {bid} AS b, count(*) AS c "
        f"FROM g GROUP BY event_type, sid, b) "
        f"SELECT sess.session_start_us, sess.session_end_us, "
        f"sess.event_type, sp_value.value_bin, sp_value.value_bins, "
        f"CAST(coalesce(binned.c, 0) AS BIGINT) AS count "
        f"FROM sess CROSS JOIN {spine} "
        # NULL-safe group equality: a NULL event_type is a real group on
        # the engine side (groupBy keeps it); plain = would orphan its
        # binned counts and zero-fill the whole session
        f"LEFT JOIN binned ON binned.event_type IS NOT DISTINCT FROM "
        f"sess.event_type "
        f"AND binned.sid = sess.sid AND binned.b = sp_value.value_bin"
    )


register("events_session_hist", _session_fn, _session_sql())


def _qbins_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.histogram import quantile_edges

    df = t(spark, sf_dir, "lineitem")
    edges = quantile_edges(df, "l_extendedprice", 8)
    return histogramdd(df, ["l_extendedprice"], [Variable(tuple(edges))]).df


def _qbins_sql(n: int = 8) -> str:
    """Equal-mass binning, fully IN-SQL: rank-based edges (integer rank
    arithmetic ⇒ the exact same doubles the Spark side collects and embeds
    as Variable-axis literals), then the standard dense edge-scan histogram
    over them."""
    return (
        f"WITH t AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x "
        f"FROM lineitem WHERE l_extendedprice IS NOT NULL), "
        f"cnt AS (SELECT count(*) AS c FROM t), "
        f"r AS (SELECT x, row_number() OVER (ORDER BY x) - 1 AS rn FROM t), "
        f"tg AS (SELECT DISTINCT ((c - 1) * i) // {n} AS rn "
        f"FROM cnt, range(0, {n + 1}) AS ri(i)), "
        f"ed AS (SELECT DISTINCT x FROM r JOIN tg USING (rn)), "
        f"ne AS (SELECT count(*) AS m FROM ed), "
        f"eo AS (SELECT x AS e, row_number() OVER (ORDER BY x) - 1 AS ei "
        f"FROM ed), "
        f"spine AS (SELECT CAST(ei AS INT) AS l_extendedprice_bin, "
        f"e AS l_extendedprice_bins FROM eo, ne WHERE ei < m - 1), "
        f"b AS (SELECT (SELECT count(*) FROM ed WHERE ed.x <= t.x) - 1 "
        f"AS bid FROM t), "
        f"binned AS (SELECT bid, count(*) AS k FROM b, ne "
        f"WHERE bid >= 0 AND bid <= m - 2 GROUP BY bid) "
        f"SELECT spine.l_extendedprice_bin, spine.l_extendedprice_bins, "
        f"CAST(coalesce(binned.k, 0) AS DOUBLE) AS l_extendedprice_histogram "
        f"FROM spine LEFT JOIN binned ON binned.bid = spine.l_extendedprice_bin"
    )


register(
    # adaptive equal-mass bins: rank-exact quantile edges (same doubles on
    # both engines via integer rank arithmetic), Variable-axis histogram
    "hist_quantile_bins", _qbins_fn, _qbins_sql(),
)


_EV2_SPECS = [StrCategory(("click", "view", "purchase", "signup", "error")),
              Regular(10, 0.0, 500.0)]

register(
    "events_type_value_hist",
    lambda spark, sf_dir: histogramdd(
        _events(spark, sf_dir), ["event_type", "value"], _EV2_SPECS
    ).df,
    orc.histogram_oracle_sql("events", ["event_type", "value"], _EV2_SPECS),
)


# ---------------------------------------------------------------------------
# additional coverage: boolean axis, join-fed histogram, computed weights,
# fast-path weighted (double sums — rows-only check), bin-coordinate table
# ---------------------------------------------------------------------------


def _bool_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "lineitem").withColumn(
        "is_bulk", (F.col("l_quantity") > F.lit(25.0))
    )
    return histogramdd(df, ["is_bulk"], [Integer(0, 2)]).df


register(
    # boolean column on a flow-off Integer(0,2) axis: the engine emits the
    # reference's False/True bin labels (core.py:542-543) — the oracle spine
    # is boolean-typed too, so the label dtype itself is hash-gated
    "hist_bool_axis", _bool_fn,
    orc.histogram_oracle_sql(
        "(SELECT l_quantity > 25.0 AS is_bulk FROM lineitem) tb",
        ["is_bulk"], [Integer(0, 2, bool_labels=True)],
    ),
)


def _join_revenue_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders")
    j = li.join(od, li["l_orderkey"] == od["o_orderkey"]).withColumn(
        "revenue", F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    )
    return histogramdd(
        j, ["o_totalprice"], [Regular(15, 800.0, 600000.0)],
        weights="revenue", group_by=["o_orderpriority"],
    ).df


register(
    "hist_join_revenue", _join_revenue_fn,
    orc.histogram_oracle_sql(
        "(SELECT o_totalprice, o_orderpriority, "
        "l_extendedprice * (1.0 - l_discount) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey) tj",
        ["o_totalprice"], [Regular(15, 800.0, 600000.0)],
        weights="revenue", group_by=["o_orderpriority"],
    ),
)


def _join_align_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reference broadcast-align parity (core.py:257-269): variables living on
    # different "arrays" (tables) are aligned by an equi-join on the shared
    # dim, then histogrammed together
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    j = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
    return histogramdd(
        j, ["l_quantity", "p_retailprice"],
        [Regular(8, 1.0, 51.0), Regular(6, 900.0, 2000.0)],
    ).df


register(
    "hist_join_align_2var", _join_align_fn,
    orc.histogram_oracle_sql(
        "(SELECT l_quantity, p_retailprice FROM lineitem "
        "JOIN part ON l_partkey = p_partkey) ta",
        ["l_quantity", "p_retailprice"],
        [Regular(8, 1.0, 51.0), Regular(6, 900.0, 2000.0)],
    ),
)


def _weighted_fast_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # production fast path: raw double sums (weight_scale=None).  The weight
    # column is integer-valued (l_quantity ∈ 1..50), so partial sums are
    # exact in double well below 2^53 and order-independent — hash-matchable
    # against the raw-SUM oracle despite the unscaled float accumulation.
    return histogram(
        t(spark, sf_dir, "lineitem"), "l_extendedprice",
        Regular(12, 900.0, 105000.0),
        weights="l_quantity", weight_scale=None,
    ).df


register(
    "hist_weighted_fastpath", _weighted_fast_fn,
    orc.histogram_oracle_sql(
        "lineitem", ["l_extendedprice"], [Regular(12, 900.0, 105000.0)],
        weights="l_quantity", weight_scale=None,
    ),
)

_COORD_SPECS = [Regular(6, 0.0, 3.0), Variable((0.0, 1.0, 3.0, 10.0))]


def _coords_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bin-coordinate algebra surfaced as data: ids, labels, widths, centers,
    # areas (outer product, flow forced to 1) for a 2-axis histogram
    h = histogramdd(
        t(spark, sf_dir, "lineitem"), ["l_tax", "l_quantity"], _COORD_SPECS,
        flow=True,
    )
    d = h._dense
    return d.select(
        "l_tax_bin", "l_quantity_bin", "l_tax_bins", "l_quantity_bins",
        F.col("__l_tax_width").alias("tax_width"),
        F.col("__l_quantity_width").alias("qty_width"),
        F.col("__l_tax_center").alias("tax_center"),
        F.col("__l_quantity_center").alias("qty_center"),
        (
            F.when(F.col("__l_tax_is_flow"), F.lit(1.0)).otherwise(
                F.col("__l_tax_width")
            )
            * F.when(F.col("__l_quantity_is_flow"), F.lit(1.0)).otherwise(
                F.col("__l_quantity_width")
            )
        ).alias("area"),
    )


def _coords_sql() -> str:
    from xarray_histogram_spark.oracle import _spine_values

    sa = _spine_values("l_tax", _COORD_SPECS[0], True)
    sb = _spine_values("l_quantity", _COORD_SPECS[1], True)
    return (
        f"SELECT l_tax_bin, l_quantity_bin, l_tax_bins, l_quantity_bins, "
        f"__l_tax_width AS tax_width, __l_quantity_width AS qty_width, "
        f"__l_tax_center AS tax_center, __l_quantity_center AS qty_center, "
        f"(CASE WHEN __l_tax_is_flow THEN CAST(1.0 AS DOUBLE) ELSE __l_tax_width END) * "
        f"(CASE WHEN __l_quantity_is_flow THEN CAST(1.0 AS DOUBLE) ELSE __l_quantity_width END) AS area "
        f"FROM {sa} CROSS JOIN {sb}"
    )


register("alg_bin_coordinates", _coords_fn, _coords_sql())


def _rebin_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = histogram(t(spark, sf_dir, "lineitem"), "l_quantity", _ALG_SPEC)
    return h.rebin(2).df


def _rebin_sql() -> str:
    """Oracle mirrors the COMPUTATION (10-bin histogram, then integer-div
    merge), not a direct 5-bin histogram: float bucketize at n=5 could
    disagree with n=10//2 by an ulp at edges, and the merged labels are the
    exact OLD edge doubles (MIN per merged bin)."""
    inner = orc.histogram_oracle_sql("lineitem", ["l_quantity"], [_ALG_SPEC])
    return (
        f"SELECT CAST(l_quantity_bin // 2 AS INT) AS l_quantity_bin, "
        f"MIN(l_quantity_bins) AS l_quantity_bins, "
        f"SUM(l_quantity_histogram) AS l_quantity_histogram "
        f"FROM ({inner}) h GROUP BY 1"
    )


register(
    # boost UHI-style rebin: output-bounded re-aggregation, exact old-edge
    # labels via a Variable axis over every 2nd edge
    "alg_rebin", _rebin_fn, _rebin_sql(),
)


def _project_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # boost Histogram.project: marginalize the 2-axis flow=True histogram
    # onto its first axis — with flow on, no rows were filtered, so the
    # projection must exactly equal a direct 1-D flow=True histogram (the
    # oracle), including the flow bins
    h = histogramdd(
        t(spark, sf_dir, "lineitem"), ["l_quantity", "l_discount"],
        [Regular(10, 1.0, 51.0), Regular(5, 0.0, 0.11)], flow=True,
    )
    return h.project("l_quantity").df


register(
    "alg_project", _project_fn,
    orc.histogram_oracle_sql(
        "lineitem", ["l_quantity"], [Regular(10, 1.0, 51.0)], flow=True,
    ),
)


def _binned_stat_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scipy binned_statistic analog: per-price-bin count/sum/mean/min/max of
    # quantity — dense, empty bins NULL (count 0); exact-int sums so mean is
    # one double division of two exact ints on both engines
    from .plans.binned import binned_statistic

    return binned_statistic(
        t(spark, sf_dir, "lineitem"), "l_extendedprice",
        Regular(12, 900.0, 105000.0), "l_quantity",
        ("count", "sum", "mean", "min", "max"),
    )


def _binned_stat_grouped_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.binned import binned_statistic

    return binned_statistic(
        t(spark, sf_dir, "lineitem"), "l_extendedprice",
        Regular(8, 900.0, 105000.0), "l_quantity",
        ("count", "mean"), group_by=["l_returnflag"],
    )


def _binned_stat_sql(grouped: bool) -> str:
    from .plans.binned import binned_statistic_sql

    if grouped:
        return binned_statistic_sql(
            "lineitem", "l_extendedprice", Regular(8, 900.0, 105000.0),
            "l_quantity", ("count", "mean"), group_by=["l_returnflag"],
        )
    return binned_statistic_sql(
        "lineitem", "l_extendedprice", Regular(12, 900.0, 105000.0),
        "l_quantity", ("count", "sum", "mean", "min", "max"),
    )


register("binned_stat_profile", _binned_stat_fn, _binned_stat_sql(False))
register(
    "binned_stat_grouped", _binned_stat_grouped_fn, _binned_stat_sql(True)
)


def _weight_storage_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # boost Weight() storage — per-bin (Σw, Σw²); the reference documents
    # accumulator storages as unsupported (core.py:87-90)
    from .plans.binned import weight_storage_histogram

    return weight_storage_histogram(
        t(spark, sf_dir, "lineitem"), "l_quantity",
        Regular(10, 1.0, 51.0), "l_discount",
    )


def _weight_storage_sql() -> str:
    from .plans.binned import weight_storage_histogram_sql

    return weight_storage_histogram_sql(
        "lineitem", "l_quantity", Regular(10, 1.0, 51.0), "l_discount",
    )


register("hist_weight_storage", _weight_storage_fn, _weight_storage_sql())


def _mean_storage_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # boost Mean() storage — per-bin (count, mean, sample variance)
    from .plans.binned import mean_storage_histogram

    return mean_storage_histogram(
        t(spark, sf_dir, "lineitem"), "l_quantity",
        Regular(10, 1.0, 51.0), "l_extendedprice", weight_scale=1,
    )


def _mean_storage_sql() -> str:
    from .plans.binned import mean_storage_histogram_sql

    return mean_storage_histogram_sql(
        "lineitem", "l_quantity", Regular(10, 1.0, 51.0), "l_extendedprice",
        weight_scale=1,
    )


register("hist_mean_storage", _mean_storage_fn, _mean_storage_sql())


def _slice_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # boost UHI h[2:7]: bins 2..6 of a 10-bin Regular axis — equal to a
    # direct histogram over the sliced value range with the SAME edge
    # doubles (Variable over the original edges, ids re-based), which is
    # exactly what the oracle computes
    h = histogramdd(
        t(spark, sf_dir, "lineitem"), ["l_quantity"], [Regular(10, 1.0, 51.0)]
    )
    return h.slice_bins(2, 7).df


register(
    "alg_slice_bins", _slice_fn,
    orc.histogram_oracle_sql(
        "lineitem", ["l_quantity"],
        [Variable(tuple(Regular(10, 1.0, 51.0).edges()[2:8]))],
    ),
)


# ---------------------------------------------------------------------------
# streaming: a REAL Structured Streaming execution (file source → watermarked
# windowed histogram → memory sink, availableNow) whose final state must
# exactly equal the batch oracle — streaming correctness as a gated query,
# not just a unit test
# ---------------------------------------------------------------------------

_ST_SPEC = Regular(10, 0.0, 500.0)


def _streaming_window_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from .streaming.histogram_stream import streaming_histogram

    conv = _utc_ts(spark, t(spark, sf_dir, "events")).select("ts", "value")
    src = tempfile.mkdtemp(prefix="xhs_stream_q_")
    conv.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(conv.schema).parquet(src)
    out = streaming_histogram(
        sdf, "value", _ST_SPEC, "ts", window_duration="1 day", watermark="1 hour"
    )
    name = "xhs_stream_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    # epoch-seconds window key: integer-typed on both engines, immune to
    # timestamp-unit differences (Spark ns vs DuckDB µs) in the value hash
    return spark.table(name).select(
        F.unix_timestamp("window_start").cast("bigint").alias("window_start_s"),
        "value_bin",
        "value_bins",
        F.col("count").alias("n"),
    )


def _streaming_window_sql() -> str:
    from .oracle import _spine_values

    bucket = _ST_SPEC.raw_id_sql("value")
    spine = _spine_values("value", _ST_SPEC, False)
    return (
        f"WITH raw AS (SELECT CAST(epoch(time_bucket(INTERVAL '1 day', ts)) "
        f"AS BIGINT) AS window_start_s, "
        # NULL ts rows belong to no window on the Spark side — drop
        f"{bucket} AS value_bin FROM events WHERE ts IS NOT NULL), "
        f"agg AS (SELECT window_start_s, value_bin, CAST(COUNT(*) AS DOUBLE) AS n "
        f"FROM raw WHERE value_bin BETWEEN 0 AND {_ST_SPEC.n - 1} "
        f"GROUP BY window_start_s, value_bin) "
        f"SELECT agg.window_start_s, agg.value_bin, sp.value_bins, agg.n "
        f"FROM agg JOIN (SELECT * FROM {spine}) sp ON agg.value_bin = sp.value_bin"
    )


register("streaming_window_hist", _streaming_window_fn, _streaming_window_sql())


def _sliding_window_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window histogram (batch twin of the streaming plan — real
    streaming execution is exercised by streaming_window_hist): every event
    lands in duration/slide = 2 windows."""
    from .streaming.histogram_stream import streaming_histogram

    conv = _utc_ts(spark, t(spark, sf_dir, "events")).select("ts", "value")
    out = streaming_histogram(
        conv, "value", _ST_SPEC, "ts", window_duration="2 days", slide="1 day"
    )
    return out.select(
        F.unix_timestamp("window_start").cast("bigint").alias("window_start_s"),
        "value_bin",
        "value_bins",
        F.col("count").alias("n"),
    )


def _sliding_window_sql() -> str:
    """Mirror with pure integer micros arithmetic: window starts of event t
    are {day_floor(t), day_floor(t) − 1 day} (slide-aligned to epoch, like
    Spark's `window()`); avoids DuckDB `time_bucket` whose multi-day origin
    (2000-01-03) would misalign 2-day buckets."""
    from .oracle import _spine_values

    bucket = _ST_SPEC.raw_id_sql("value")
    spine = _spine_values("value", _ST_SPEC, False)
    day = 86_400_000_000
    return (
        f"WITH raw AS (SELECT epoch_us(ts) AS t, {bucket} AS value_bin "
        # NULL ts rows belong to no window on the Spark side — drop
        f"FROM events WHERE ts IS NOT NULL), "
        f"win AS (SELECT ((t // {day}) - k.k) * 86400 AS window_start_s, "
        f"value_bin FROM raw, (SELECT unnest([0, 1]) AS k) k), "
        f"agg AS (SELECT CAST(window_start_s AS BIGINT) AS window_start_s, "
        f"value_bin, CAST(COUNT(*) AS DOUBLE) AS n FROM win "
        f"WHERE value_bin BETWEEN 0 AND {_ST_SPEC.n - 1} "
        f"GROUP BY 1, 2) "
        f"SELECT agg.window_start_s, agg.value_bin, sp.value_bins, agg.n "
        f"FROM agg JOIN (SELECT * FROM {spine}) sp "
        f"ON agg.value_bin = sp.value_bin"
    )


register("events_sliding_hist", _sliding_window_fn, _sliding_window_sql())


def _props_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured input: histogram over a JSON-extracted field
    (`get_json_object` ≡ DuckDB `json_extract_string` on scalar paths —
    both return the unquoted scalar, cast to BIGINT).

    The parse is entangled with ``spark_partition_id()*0`` (adds exact 0,
    NULL-safe — values identical): round-13 measurement found the
    histogram's internal bin filters re-inlined the projected ``pk``
    alias via predicate pushdown, parsing the JSON THREE times per row
    (3 get_json_object nodes in the optimized plan); a non-deterministic
    projection can be neither pushed through nor duplicated (the
    built-in-expression form of the optimization guide §4.4 fix), so the
    parse runs once and the filters compare the attribute (1457 → 931 ms
    at sf0.1, 1 parse node in the plan)."""
    ev = _events(spark, sf_dir).withColumn(
        "pk",
        F.get_json_object(F.col("props"), "$.k").cast("bigint")
        + (F.spark_partition_id().cast("bigint") * F.lit(0)),
    )
    return histogramdd(ev, ["pk"], [Integer(0, 100)], group_by=["event_type"]).df


register(
    "events_props_json_hist", _props_fn,
    orc.histogram_oracle_sql(
        "(SELECT event_type, "
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS pk "
        "FROM events) tp",
        ["pk"], [Integer(0, 100)], group_by=["event_type"],
    ),
)


def _streaming_stateful_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): cumulative dense
    per-key histogram, state merged across 3 forced micro-batches; the final
    snapshot per key must hash-match the batch dense-histogram oracle."""
    import tempfile
    import uuid

    from .streaming.stateful import latest_snapshot, stateful_cumulative_histogram

    data = t(spark, sf_dir, "events").select("event_type", "value")
    src = tempfile.mkdtemp(prefix="xhs_stateful_src_")
    ckpt = tempfile.mkdtemp(prefix="xhs_stateful_ckpt_")
    data.repartition(3).write.mode("overwrite").parquet(src)
    sdf = (
        spark.readStream.schema(data.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful_cumulative_histogram(sdf, "value", _ST_SPEC, "event_type")
    name = "xhs_stateful_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    return latest_snapshot(spark.table(name), "event_type")


register(
    "streaming_stateful_hist",
    _streaming_stateful_fn,
    orc.histogram_oracle_sql(
        "events", ["value"], [_ST_SPEC], group_by=["event_type"]
    ),
)


def _streaming_dedup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming dedup state: documents (+ planted duplicates under
    shifted ids) replayed as 3 micro-batches; the converged fingerprint
    state (count + min-id keeper, both arrival-order independent) must
    hash-equal the batch oracle."""
    import tempfile
    import uuid

    from .streaming.dedup_stream import streaming_dedup_state

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.where(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    data = docs.unionByName(dups)
    src = tempfile.mkdtemp(prefix="xhs_dedup_src_")
    data.repartition(3).write.mode("overwrite").parquet(src)
    sdf = (
        spark.readStream.schema(data.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_dedup_state(sdf, "text", "doc_id")
    name = "xhs_dedupstate_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    return spark.table(name)


from .streaming.dedup_stream import streaming_dedup_state_sql as _sds_sql

register(
    # oracle composed from the module's own mirror over the same planted
    # union — one fingerprint definition, not a hand-copied twin
    "streaming_dedup_state",
    _streaming_dedup_fn,
    _sds_sql(
        "(SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 10000000 AS doc_id, text FROM documents "
        "WHERE doc_id % 5 = 0) u",
        "text", "doc_id",
    ),
)


# ---------------------------------------------------------------------------
# temporal joins (operators/joins.py): as-of and banded range join over
# events — all arithmetic in integer epoch-micros (unix_micros == epoch_us
# under the _utc_ts session convention)
# ---------------------------------------------------------------------------


def _asof_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click gets the user's most recent error
    at-or-before it, within a 6-hour tolerance.  Union+window plan (one
    keys-shuffle), vs the oracle's LATERAL rank-1 formulation."""
    from .operators.joins import asof_join

    ev = _utc_ts(spark, t(spark, sf_dir, "events")).select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts)").alias("t"),
        "event_type",
        "value",
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "t"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "t", "value"
    )
    return asof_join(
        clicks,
        errors,
        keys=["user_id"],
        ts_col="t",
        value_cols=["value"],
        right_id_col="event_id",
        tolerance=6 * 3_600_000_000,
    )


def _asof_sql() -> str:
    from .operators.joins import asof_join_sql

    return asof_join_sql(
        "SELECT event_id, user_id, epoch_us(ts) AS t FROM events "
        "WHERE event_type = 'click'",
        "SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events "
        "WHERE event_type = 'error'",
        keys=["user_id"],
        ts_col="t",
        value_cols=["value"],
        right_id_col="event_id",
        tolerance=6 * 3_600_000_000,
    )


register("events_asof_join", _asof_fn, _asof_sql())


def _range_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: purchases per user within 24h after each signup.
    Bucketed equi-join plan (right side expanded ≤2×), vs the oracle's
    direct inequality join."""
    from .operators.joins import range_join_count

    ev = _utc_ts(spark, t(spark, sf_dir, "events")).select(
        "event_id", "user_id", F.expr("unix_micros(ts)").alias("t"), "event_type"
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", "t"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "t")
    return range_join_count(
        signups,
        purchases,
        keys=["user_id"],
        ts_col="t",
        window=86_400_000_000,
        left_id_col="event_id",
    )


def _range_join_sql() -> str:
    from .operators.joins import range_join_count_sql

    return range_join_count_sql(
        "SELECT event_id, user_id, epoch_us(ts) AS t FROM events "
        "WHERE event_type = 'signup'",
        "SELECT user_id, epoch_us(ts) AS t FROM events "
        "WHERE event_type = 'purchase'",
        keys=["user_id"],
        ts_col="t",
        window=86_400_000_000,
        left_id_col="event_id",
    )


register("events_range_join", _range_join_fn, _range_join_sql())


def _funnel_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential signup→click→purchase funnel per user (ordered min-chain,
    one keys-exchange regardless of depth), 7-day conversion window."""
    from .operators.joins import funnel_conversion

    ev = _utc_ts(spark, t(spark, sf_dir, "events")).select(
        "user_id", F.expr("unix_micros(ts)").alias("t"), "event_type"
    )
    return funnel_conversion(
        ev, "user_id", "t", "event_type",
        ["signup", "click", "purchase"],
        window=7 * 86_400_000_000,
    )


def _funnel_sql() -> str:
    from .operators.joins import funnel_conversion_sql

    return funnel_conversion_sql(
        "SELECT user_id, epoch_us(ts) AS t, event_type FROM events",
        "user_id", "t", "event_type",
        ["signup", "click", "purchase"],
        window=7 * 86_400_000_000,
    )


register("events_funnel", _funnel_fn, _funnel_sql())


def _streaming_range_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL watermarked stream-stream join: events replayed as 3
    micro-batches; signup→purchase pairs within 24h must hash-equal the
    batch inequality-join oracle.  The replay files are round-robin splits
    (each spans the full time range), so the watermark delay is set beyond
    the fixture span — deliberately: late-data DROPPING is
    arrival-order-dependent and can never be hash-gated; state-expiry
    semantics are exercised in test_streaming.py instead."""
    import tempfile
    import uuid

    from .streaming.join_stream import streaming_range_join

    ev = _utc_ts(spark, t(spark, sf_dir, "events")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    src = tempfile.mkdtemp(prefix="xhs_srj_src_")
    ckpt = tempfile.mkdtemp(prefix="xhs_srj_ckpt_")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_range_join(
        sdf.where(F.col("event_type") == "signup").select(
            "user_id", "ts", F.col("event_id")
        ),
        sdf.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("event_id")
        ),
        key="user_id",
        ts_col="ts",
        window_us=86_400_000_000,
        delay="3650 days",
    )
    name = "xhs_srj_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    return spark.table(name)


def _streaming_range_join_sql() -> str:
    from .streaming.join_stream import streaming_range_join_sql

    return streaming_range_join_sql(
        "SELECT user_id, epoch_us(ts) AS t, event_id AS l_event_id "
        "FROM events WHERE event_type = 'signup'",
        "SELECT user_id, epoch_us(ts) AS t, event_id AS r_event_id "
        "FROM events WHERE event_type = 'purchase'",
        key="user_id",
        window_us=86_400_000_000,
    )


register(
    "streaming_range_join", _streaming_range_join_fn, _streaming_range_join_sql()
)


def _mm_audio_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL byte-level audio decode: deterministic mono PCM16 WAVs (sample
    # s of audio k = (k*31 + s*7) % 256 - 128) are synthesised per doc_id
    # and parsed back by the RIFF chunk walker — rate/n_samples/sums all
    # come from decoded bytes, recomputed in closed form by the oracle
    docs = t_wide(spark, sf_dir, "documents")
    return mm.decode_audio(mm.synth_wav_media(docs, "doc_id", n_samples=32))


register(
    "mm_decode_audio", _mm_audio_fn,
    "WITH sm AS (SELECT doc_id, "
    "SUM((doc_id*31 + r.i*7) % 256 - 128) AS s "
    "FROM documents CROSS JOIN range(0, 32) r(i) GROUP BY doc_id) "
    "SELECT CAST(d.doc_id AS BIGINT) AS media_id, 'wav' AS format, "
    "CAST(8000 AS INT) AS sample_rate, CAST(32 AS BIGINT) AS n_samples, "
    "CAST(sm.s AS BIGINT) AS sample_sum, "
    "CAST((d.doc_id*31) % 256 - 128 AS INT) AS first_sample "
    "FROM documents d JOIN sm ON sm.doc_id = d.doc_id",
)


def _dup_ngram_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplicate-n-gram fraction per doc (cross-document repetition
    signal; window-df plan, one gram shuffle)."""
    from .operators.text import dup_ngram_stats

    return dup_ngram_stats(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", n=3
    )


def _dup_ngram_sql() -> str:
    from .operators.text import dup_ngram_stats_sql

    return dup_ngram_stats_sql("documents", "text", "doc_id", n=3)


register("text_dup_ngrams", _dup_ngram_fn, _dup_ngram_sql())


def _ngram_familiarity_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative n-gram familiarity per doc (the integer-exact
    CCNet/KenLM-analog quality score staged+mirrored in round 13; plan
    shape the dup_ngram_stats audit — one explode + one gram-window
    shuffle + one doc groupBy)."""
    from .operators.text import ngram_familiarity

    return ngram_familiarity(
        t_wide(spark, sf_dir, "documents"), "text", "doc_id", n=2
    )


def _ngram_familiarity_sql() -> str:
    from .operators.text import ngram_familiarity_sql

    return ngram_familiarity_sql("documents", "text", "doc_id", n=2)


register(
    "text_ngram_familiarity", _ngram_familiarity_fn, _ngram_familiarity_sql()
)


def _kmeans_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd rounds over the embedding corpus (iterative algorithm,
    oracle-exact via int64 component quantization + deterministic cosine
    folds — see operators/similarity.py:kmeans_refine)."""
    from .operators.similarity import kmeans_refine

    emb = t_wide(spark, sf_dir, "embeddings")
    return kmeans_refine(emb, k=8, n_iter=2, n_hint=512, dim=64)


def _kmeans_sql() -> str:
    from .operators.similarity import kmeans_refine_sql

    return kmeans_refine_sql("embeddings", k=8, n_iter=2, n_hint=512, dim=64)


register("sim_kmeans_refine", _kmeans_fn, _kmeans_sql())


def _quantize_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization summary per vector (zero-shuffle map stage;
    exact-int code sums + IEEE-identical scale/error on both engines)."""
    from .operators.similarity import quantize_embeddings

    q = quantize_embeddings(t_wide(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        F.aggregate("codes", F.lit(0).cast("bigint"), lambda a, c: a + c)
        .alias("code_sum"),
        F.array_min("codes").cast("int").alias("code_min"),
        F.array_max("codes").cast("int").alias("code_max"),
        "scale",
        "max_err",
    )


def _quantize_sql() -> str:
    from .operators.similarity import quantize_summary_sql

    return quantize_summary_sql("embeddings")


register("sim_quantize_int8", _quantize_fn, _quantize_sql())


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped weighted histogram — the minimum end-to-end slice of SURVEY §7
    plus grouping and weights."""
    df = t(spark, sf_dir, "lineitem")
    return histogram(
        df, "l_extendedprice", Regular(40, 900.0, 105000.0),
        weights="l_quantity", group_by=["l_returnflag"],
    ).df
