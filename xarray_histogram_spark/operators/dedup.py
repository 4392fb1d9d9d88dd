"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-lean and expressed as DataFrame ops (no Python in
the data path) with exact DuckDB oracle mirrors:

- **exact**: hash-groupBy on md5(text) → keeper id + duplicate count.  One
  shuffle on the 32-hex key; at 100 TB this is the canonical dedup shuffle
  (partial aggregation collapses per-partition duplicates map-side).
- **MinHash + LSH**: char-shingles → 8 minhash slices of md5 (string-min —
  see functions.hashing) → 4 bands of 2 → candidate pairs via band-key
  self-join.  Only bucket collisions are joined — the O(n²) pair space is
  never materialised; band keys are uniform hashes so the join is
  skew-resistant by construction.
- **exact n-gram Jaccard**: computed only on LSH candidate pairs
  (|A∩B| via shingle join, |A∪B| = |A|+|B|−|A∩B|).
- **SimHash**: 16-bit sign fingerprint of token md5 nibbles, computed as 16
  conditional aggregates in a single groupBy (no explode, one shuffle).

Reference scope note: the reference engine has no dedup surface; these are
the north-star LLM-pipeline extensions (BASELINE.json) built on the same
deterministic hashing substrate as the histogram oracle gate.
"""

from __future__ import annotations

import atexit
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical texts: (text_md5, keep_id = min id, n_dups)."""
    return (
        df.select(H.md5_hex(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup_sql(table: str, text_col: str, id_col: str) -> str:
    return (
        f"SELECT {H.md5_hex_sql(text_col)} AS text_md5, "
        f"MIN({id_col}) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups "
        f"FROM {table} GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH candidate pairs
# ---------------------------------------------------------------------------

N_HASHES = 8
N_BANDS = 4  # bands of 2 slices


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """Per-doc MinHash signature: 8 string-min slices over shingle md5s,
    computed **per row with zero shuffle** — the md5cc array over all
    shingles is built once (codegen subexpression elimination shares it
    across the 8 slices) and each slice is an ``array_min``.

    Values are bit-identical to the explode + groupBy formulation (the same
    lexicographic min over the same multiset), so the DuckDB oracle mirror
    is unchanged.  No shingle-distinct pass either: MIN is idempotent under
    duplicates (Jaccard, which needs true sets, keeps its own distinct).
    At scale this makes signatures a pure map stage — the only shuffle in
    the LSH pipeline is the (4 rows/doc) band-key join."""
    # NOTE: this must stay a SINGLE nested-lambda output column expanded by
    # element_at in a second select.  Spark 4.1.2's analyzer mis-resolves
    # lambda variables when several output columns each contain nested
    # higher-order functions (array_min(transform(transform(...))) per mh_i
    # silently yields '') — one aggregate over the md5cc array is both
    # correct and a single pass over the shingles.
    slots = ", ".join(
        f"least(element_at(_acc, {i + 1}), substring(_c, {1 + 8 * i}, 8))"
        for i in range(N_HASHES)
    )
    # 'g' > every lowercase hex string
    sig = (
        f"aggregate(transform({H.shingles(H.q(text_col), k)}, "
        f"_s -> {H.md5cc('_s')}), array_repeat('g', {N_HASHES}), "
        f"(_acc, _c) -> array({slots}))"
    )
    # NULL text: the fold's least('g', NULL) keeps the 'g' sentinel (Spark
    # least skips NULLs) while the oracle's MIN over the one NULL shingle
    # row is NULL — a leaked sentinel would also band every NULL-text doc
    # into one fake near-dup bucket.  NULL text → NULL signature, like the
    # explode formulation.
    idc = H.q(id_col)
    return df.selectExpr(
        idc, f"{H.q(text_col)} IS NOT NULL AS _has", f"{sig} AS _sig"
    ).selectExpr(
        idc,
        *[
            f"CASE WHEN _has THEN element_at(_sig, {i + 1}) END AS mh{i}"
            for i in range(N_HASHES)
        ],
    )


def _shingle_rows_sql(table: str, text_col: str, id_col: str, k: int) -> str:
    return (
        f"SELECT DISTINCT {id_col}, sh FROM "
        f"(SELECT {id_col}, unnest({H.shingles_sql(text_col, k)}) AS sh "
        f"FROM {table}) t"
    )


def minhash_signatures_sql(table: str, text_col: str, id_col: str, k: int = 8) -> str:
    cc = H.md5cc_sql("sh")
    aggs = ", ".join(
        f"MIN(substring({cc}, {1 + 8 * i}, 8)) AS mh{i}" for i in range(N_HASHES)
    )
    rows = (
        f"SELECT {id_col}, unnest({H.shingles_sql(text_col, k)}) AS sh FROM {table}"
    )
    return f"SELECT {id_col}, {aggs} FROM ({rows}) s GROUP BY {id_col}"


def _ordered_pairs(arr: str, make) -> str:
    """Expand a SORTED array into its ordered pairs in place — element i
    with every later element, ``make(a, b)`` building each pair struct
    (Spark SQL text in, text out).  Shared by every bucketed candidate
    generator (MinHash-LSH, SimHash bands): m(m−1)/2 rows per bucket, no
    self-join."""
    return (
        f"explode(flatten(transform({arr}, (_a, _i) -> "
        f"transform(slice({arr}, _i + 2, size({arr})), "
        f"_b -> {make('_a', '_b')}))))"
    )


def _band_buckets(bands: DataFrame, id_col: str) -> DataFrame:
    """(bi, bk, ids): each band key's sorted id list, from ``band_rows``
    output — ONE shuffle of the band rows, map-side combined."""
    return bands.groupBy("bi", "bk").agg(
        F.expr(f"sort_array(collect_list({H.q(id_col)})) AS ids")
    )


def _bucket_pairs(buckets: DataFrame, max_bucket: Optional[int]) -> DataFrame:
    """One ``p`` = struct(id_a, id_b) row, id_a < id_b, per pair of ids
    sharing a bucket of ``_band_buckets`` output — every bucket of ≥ 2
    ids (and ≤ ``max_bucket``, when given) expands to its ordered pairs;
    a pair sharing several bands repeats once per band."""
    b = buckets.where("size(ids) > 1")
    if max_bucket is not None:
        b = b.where(f"size(ids) <= {int(max_bucket)}")
    return b.select(F.expr(
        _ordered_pairs("ids", lambda a, bb: f"struct({a} AS id_a, {bb} AS id_b)")
        + " AS p"
    ))


def lsh_candidate_pairs(
    df: DataFrame, text_col: str, id_col: str, k: int = 8,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band; returns
    (id_a, id_b, n_bands) with id_a < id_b.

    Shape: (band, key) buckets are grouped (ONE shuffle of 4 rows/doc,
    map-side combined) and each bucket's sorted id list expands to its
    ordered pairs in-place — the signature subtree is evaluated ONCE.
    A self-join formulation would evaluate the md5 signature fold twice
    (Spark does not share duplicate subtrees) and shuffle both sides.
    Bucket pair expansion is m(m-1)/2 per bucket — the same output
    cardinality the join produces; LSH buckets are small by construction
    (near-dup groups), which is what makes candidate generation tractable
    at all.

    ``max_bucket``: drop buckets larger than this many documents before
    pair expansion — the standard LSH guard at corpus scale.  A
    degenerate key (empty strings, boilerplate pages, templated spam)
    can collect millions of documents whose m²/2 pairs would dominate
    the whole job; such a bucket is an (almost-)exact-duplicate GROUP,
    better handled as one unit by ``exact_dedup`` / the connected
    component it forms than by enumerating every pair.  ``None`` (the
    default) expands everything — right for bounded corpora and for the
    oracle gate; at 100 TB set a cap (e.g. 10_000: ≤5·10⁷ pairs per
    degenerate key, a bounded task).

    NULL-text docs emit no band rows (via ``band_rows``): the oracle's
    NULL band keys never join, and before round 8 the Spark side's
    ``concat_ws`` turned NULL signatures into ``""`` keys that would
    have bucketed every NULL-text doc into one fake near-dup group
    (latent divergence — the fixtures carry no NULL text, review-found)."""
    buckets = _band_buckets(band_rows(df, text_col, id_col, k), id_col)
    return _bucket_pairs(buckets, max_bucket).groupBy(
        F.expr("p.id_a AS id_a"), F.expr("p.id_b AS id_b")
    ).agg(F.expr("count(1) AS n_bands"))


def lsh_candidate_pairs_sql(
    table: str, text_col: str, id_col: str, k: int = 8
) -> str:
    sigs = minhash_signatures_sql(table, text_col, id_col, k)
    band_rows = " UNION ALL ".join(
        f"SELECT {id_col}, {j} AS bi, mh{2 * j} || '_' || mh{2 * j + 1} AS bk FROM sigs"
        for j in range(N_BANDS)
    )
    return (
        f"WITH sigs AS ({sigs}), bands AS ({band_rows}) "
        f"SELECT l.{id_col} AS id_a, r.{id_col} AS id_b, "
        f"CAST(COUNT(*) AS BIGINT) AS n_bands "
        f"FROM bands l JOIN bands r ON l.bi = r.bi AND l.bk = r.bk "
        f"AND l.{id_col} < r.{id_col} "
        f"GROUP BY l.{id_col}, r.{id_col}"
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard on candidate pairs
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, k: int = 8,
    broadcast_pairs: bool = True,
) -> DataFrame:
    """Exact shingle-set Jaccard for every LSH candidate pair:
    (id_a, id_b, jaccard).

    Shape (reworked round 5, VERDICT r04 finding #2): the former
    formulation built a corpus-wide (id, shingle) explode + distinct
    relation and fed it to THREE consumers (sizes, side a, side b) —
    Spark does not share duplicate subtrees, so that shuffle ran three
    times.  Now each document's shingle SET is one per-row
    ``array_distinct`` array (zero shuffle, no explode), its size rides
    in the same row, and the intersection is a per-pair-row
    ``array_intersect`` after joining the candidate pairs to the two set
    rows.  With the (output-bounded) pair list broadcast, the whole
    Jaccard stage adds ZERO exchanges beyond ``lsh_candidate_pairs``'s
    band shuffle: two broadcast joins over corpus map scans.

    Exactness vs the inner-join formulation (and the unchanged DuckDB
    oracle): a candidate pair with an EMPTY shingle intersection produces
    no row there — the inner join on ``sa.sh = sb.sh`` has nothing to
    match — so this form drops empty intersections rather than emitting
    jaccard = 0.0.  That drop is an ``arrays_overlap`` PRECHECK placed
    BEFORE the projection (round 9): filtering on a projected
    ``size(array_intersect(...)) >= 1`` alias re-inlines the whole
    intersect into the Filter node — PushPredicateThroughNonJoin
    substitutes aliases even across a dedicated materializing
    projection (probe-verified; the CollapseProject multi-reference
    trick does NOT apply to Filters), so the intersect ran once in the
    Filter and once in the Project per candidate row.  ``arrays_overlap``
    is equivalent here (a-side null-filtered: true iff a common non-null
    element exists; the no-common-plus-null NULL result drops the row
    exactly like intersection 0) and early-exits on the first shared
    shingle — band candidates share many — leaving the projection's
    single in-node-CSE'd intersect as the only full computation
    (interleaved A/B at sf0.1: ~7% whole-query).  Null faithfulness: a
    null-text document's shingle array is ``[null]`` (size 1) and the
    old join never matched null shingles, so the a-side set is
    null-filtered before ``array_intersect``/``arrays_overlap`` (whose
    own null-matching semantics must not leak in) — a null-null
    candidate pair is dropped, not scored 1.0.

    ``broadcast_pairs=False`` drops the broadcast hint for corpora whose
    candidate set exceeds driver/broadcast memory and lets AQE pick the
    join strategy (same opt-out pattern as ``ngram_contamination``)."""
    pairs = lsh_candidate_pairs(df, text_col, id_col, k).select("id_a", "id_b")
    if broadcast_pairs:
        pairs = F.broadcast(pairs)
    shset = _shingle_set(H.q(text_col), k)
    shs = df.selectExpr(
        f"{H.q(id_col)} AS _sid", f"{shset} AS shset", f"size({shset}) AS nsh"
    )
    joined = (
        pairs.join(shs.alias("a"), F.expr("id_a = a._sid"))
        .join(shs.alias("b"), F.expr("id_b = b._sid"))
    )
    overlap, jac = _jaccard_exprs("a.shset", "a.nsh", "b.shset", "b.nsh")
    return joined.where(overlap).selectExpr(
        "id_a", "id_b", f"{jac} AS jaccard"
    )


def _shingle_set(expr: str, k: int) -> str:
    """A document's distinct k-shingle array (Spark SQL text)."""
    return f"array_distinct({H.shingles(expr, k)})"


def _jaccard_exprs(a_set: str, a_size: str, b_set: str, b_size: str):
    """(overlap precheck, exact Jaccard) Spark SQL text for two shingle
    sets and their sizes — the one spelling of the verification every
    Jaccard join uses.  The a-side set is null-filtered before
    ``arrays_overlap``/``array_intersect`` (see ``jaccard_pairs``)."""
    a_nn = f"filter({a_set}, _x -> _x IS NOT NULL)"
    inter = f"size(array_intersect({a_nn}, {b_set}))"
    return (
        f"arrays_overlap({a_nn}, {b_set})",
        f"CAST({inter} AS DOUBLE) / CAST({a_size} + {b_size} - {inter} AS DOUBLE)",
    )


def jaccard_pairs_sql(table: str, text_col: str, id_col: str, k: int = 8) -> str:
    pairs = lsh_candidate_pairs_sql(table, text_col, id_col, k)
    sh = _shingle_rows_sql(table, text_col, id_col, k)
    return (
        f"WITH pairs AS (SELECT id_a, id_b FROM ({pairs}) p), "
        f"sh AS ({sh}), "
        f"sizes AS (SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS nsh FROM sh "
        f"GROUP BY {id_col}), "
        f"inter AS (SELECT pairs.id_a, pairs.id_b, CAST(COUNT(*) AS BIGINT) AS inter "
        f"FROM pairs JOIN sh sa ON pairs.id_a = sa.{id_col} "
        f"JOIN sh sb ON pairs.id_b = sb.{id_col} AND sa.sh = sb.sh "
        f"GROUP BY pairs.id_a, pairs.id_b) "
        f"SELECT inter.id_a, inter.id_b, "
        f"CAST(inter AS DOUBLE) / CAST(za.nsh + zb.nsh - inter AS DOUBLE) AS jaccard "
        f"FROM inter JOIN sizes za ON inter.id_a = za.{id_col} "
        f"JOIN sizes zb ON inter.id_b = zb.{id_col}"
    )


def near_dedup_keep(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, threshold: float = 0.8
) -> DataFrame:
    """Greedy near-dedup decision: keep a doc unless a LOWER-id doc is
    near-identical (exact Jaccard ≥ threshold on LSH candidates).  One
    anti-join against the flagged ids — the standard "keep first occurrence"
    policy without iterative connected components."""
    j = jaccard_pairs(df, text_col, id_col, k)
    drop = j.where(F.col("jaccard") >= F.lit(float(threshold))).select(
        F.col("id_b").alias(id_col)
    ).distinct()
    return df.select(id_col).join(drop, id_col, "left_anti")


def near_dedup_keep_sql(
    table: str, text_col: str, id_col: str, k: int = 8, threshold: float = 0.8
) -> str:
    from ..binspec import flit

    j = jaccard_pairs_sql(table, text_col, id_col, k)
    # NOT EXISTS, not NOT IN: three-valued logic would return NO rows if
    # a NULL id ever reached the drop list, silently diverging from the
    # Spark path's anti-join (the same latent divergence ADVICE r09 had
    # incremental_dedup_sql fix; unreachable with non-NULL-id corpora).
    return (
        f"SELECT {id_col} FROM {table} __t WHERE NOT EXISTS "
        f"(SELECT 1 FROM ({j}) jp WHERE jp.jaccard >= {flit(threshold)} "
        f"AND jp.id_b = __t.{id_col})"
    )


def components_from_edges(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    max_iter: int = 25,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Connected components over an explicit (id_a, id_b) edge set by
    iterative min-label propagation (see ``dedup_components`` for the
    scale/determinism discussion).  Returns (id, component, keep).

    Lineage truncation per round: ``localCheckpoint`` by default —
    executor-local blocks, fastest, fine on local mode and for short
    jobs.  On a real cluster an executor loss would discard them
    mid-iteration, so pass ``checkpoint_dir`` (HDFS/S3 path) to use
    RELIABLE ``checkpoint()`` instead: each round's labels persist to
    the fault-tolerant store and the job survives executor churn.
    ``setCheckpointDir`` is SparkContext-global; the propagation runs
    eagerly inside this call, and any previously configured checkpoint
    directory is restored on exit (best-effort — if none was set before,
    the new one remains, as Spark has no unset).

    Checkpoint hygiene: Spark never deletes reliable checkpoints on its
    own, so the per-round label/edge checkpoints (up to ``max_iter + 2``
    datasets) would otherwise accumulate in the fault-tolerant store on
    every call.  The loop therefore checkpoints into a per-call scratch
    subdirectory ``{checkpoint_dir}/cc-work-*``, the converged labels are
    re-checkpointed once into ``{checkpoint_dir}/cc-final-*``, and the
    scratch subdirectory is deleted via the Hadoop FileSystem API before
    returning.  Exactly ONE checkpointed dataset (the final labels, which
    back the returned lazy DataFrame) remains; callers own deleting the
    ``cc-final-*`` subdirectory once the result has been consumed."""
    spark = nodes.sparkSession
    if checkpoint_dir is None:
        def _ckpt(d: DataFrame) -> DataFrame:
            return d.localCheckpoint(eager=True)

        return _components_loop(nodes, edges, id_col, max_iter, _ckpt)

    import uuid

    sc = spark.sparkContext
    try:
        opt = sc._jsc.sc().getCheckpointDir()
        prev_dir = opt.get() if opt.isDefined() else None
    except Exception:  # noqa: BLE001 - py4j surface differences
        prev_dir = None
    tag = uuid.uuid4().hex[:12]
    work_dir = f"{checkpoint_dir.rstrip('/')}/cc-work-{tag}"
    final_dir = f"{checkpoint_dir.rstrip('/')}/cc-final-{tag}"

    def _ckpt(d: DataFrame) -> DataFrame:
        return d.checkpoint(eager=True)

    try:
        sc.setCheckpointDir(work_dir)
        result = _components_loop(nodes, edges, id_col, max_iter, _ckpt)
        # One fresh reliable checkpoint of the small (id, component, keep)
        # result so the scratch rounds can be dropped while the returned
        # DataFrame stays fault-tolerantly backed.
        sc.setCheckpointDir(final_dir)
        result = result.checkpoint(eager=True)
        return result
    finally:
        # scratch cleanup runs on BOTH success and failure paths — a
        # mid-iteration error must not leak the per-round checkpoints
        try:
            _hadoop_delete(spark, work_dir)
        except Exception:  # noqa: BLE001 - best-effort on teardown
            pass
        # restore the caller's checkpoint dir; with none previously set,
        # park the global dir on the caller-owned parent so later foreign
        # checkpoint() data never lands inside the deletable cc-final-*
        # subdirectory.  (setCheckpointDir is SparkContext-GLOBAL: running
        # two checkpoint_dir components calls concurrently on one context
        # can cross their scratch dirs — serialize such calls.)
        sc.setCheckpointDir(prev_dir if prev_dir is not None else checkpoint_dir)


def _hadoop_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the JVM Hadoop FileSystem —
    works for any scheme the cluster can reach (HDFS, S3A, local)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def _components_loop(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    max_iter: int,
    _ckpt,
) -> DataFrame:
    sym = _ckpt(
        edges.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ).unionByName(
            edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    labels = _ckpt(
        nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    )
    prev_sum = labels.agg(F.sum("label")).first()[0] or 0
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nl"))
        )
        labels = (
            labels.join(nbr, labels["node"] == nbr["src"], "left")
            .select(
                F.col("node"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                ).alias("label"),
            )
        )
        labels = _ckpt(labels)
        cur_sum = labels.agg(F.sum("label")).first()[0] or 0
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("node").alias(id_col),
        F.col("label").alias("component"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


def dedup_components(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    threshold: float = 0.8,
    max_iter: int = 25,
) -> DataFrame:
    """Connected-component near-dedup: the exact transitive-closure
    semantics the greedy keep-filter approximates.  Edges are verified
    near-dup pairs (exact Jaccard ≥ threshold over LSH candidates);
    ``component`` is the MIN doc id reachable through them (the canonical
    keeper), ``keep`` marks the keeper row.

    Execution: iterative min-label propagation — per round every node takes
    ``min(own label, neighbours' labels)`` (two broadcast-scale joins over
    the EDGE set only, never the corpus), with ``localCheckpoint`` per
    round to truncate lineage.  Labels decrease monotonically to a
    deterministic fixpoint in ≤ component-diameter rounds (near-dup
    clusters are shallow; the loop stops at the first unchanged round via
    the strictly-decreasing label sum).  Deterministic ⇒ hash-matches the
    DuckDB recursive-CTE transitive closure (an oracle-checked ITERATIVE
    algorithm).
    """
    edges = (
        jaccard_pairs(df, text_col, id_col, k)
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b")
    )
    return components_from_edges(df, edges, id_col, max_iter)


def dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    threshold: float = 0.8,
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup dedup that keeps the highest-QUALITY member of each
    cluster — the production alternative to min-id keeping (you want the
    cleanest copy of a duplicated page, not the one that happened to be
    crawled first).  Returns (id, component, quality, keep_best) where
    ``keep_best`` marks the per-component argmax of the quality score
    (ties broken by min id, so the selection is total and deterministic;
    NULL quality sorts last on both engines).

    Scale shape: the component map is the narrow (id, component) output
    of label propagation over the EDGE set; quality is a projection of
    the same corpus scan.  One equi-join on the doc id re-attaches
    quality (co-partitioned narrow frames) and ONE window on the
    component key picks the keeper — cluster-bounded task memory, and a
    pathological giant cluster degrades to one sorted partition, not a
    global sort."""
    from .text import quality_cols

    comp = dedup_components(df, text_col, id_col, k, threshold, max_iter)
    # quality_cols returns [mean_tok_len, alpha_ratio, stop_ratio, quality];
    # only the combined score participates in keeper selection
    quality = df.select(F.col(id_col), quality_cols(text_col)[-1])
    from pyspark.sql.window import Window

    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc_nulls_last(), F.col(id_col)
    )
    return (
        comp.join(quality, id_col)
        .select(
            F.col(id_col),
            F.col("component"),
            F.col("quality"),
            (F.row_number().over(w) == F.lit(1)).alias("keep_best"),
        )
    )


def dedup_keep_best_sql(
    table: str, text_col: str, id_col: str, k: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB mirror: recursive-CTE components + the quality mirror +
    the same NULLS LAST / min-id-tiebreak window."""
    from .text import quality_score_sql

    comp = dedup_components_sql(table, text_col, id_col, k, threshold)
    q = quality_score_sql(table, text_col, id_col)
    return (
        f"WITH __c AS ({comp}), __q AS ({q}) "
        f"SELECT __c.{id_col}, __c.component, __q.quality, "
        f"ROW_NUMBER() OVER (PARTITION BY __c.component "
        f"ORDER BY __q.quality DESC NULLS LAST, __c.{id_col}) = 1 "
        f"AS keep_best "
        f"FROM __c JOIN __q ON __c.{id_col} = __q.{id_col}"
    )


def embed_components(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over embedding near-dup pairs (same-LSH-bucket
    cosine ≥ threshold) — the semantic-dedup analog of
    ``dedup_components``."""
    from .similarity import embed_dup_pairs

    edges = embed_dup_pairs(df, threshold, id_col, vec_col).select(
        "id_a", "id_b"
    )
    return components_from_edges(df, edges, id_col, max_iter)


def embed_components_sql(
    table: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    from .similarity import embed_dup_pairs_sql

    ep = embed_dup_pairs_sql(table, threshold, id_col, vec_col)
    return (
        f"WITH RECURSIVE ep AS ({ep}), "
        f"ed AS (SELECT id_a AS a, id_b AS b FROM ep "
        f"UNION SELECT id_b, id_a FROM ep), "
        f"reach(a, b) AS (SELECT a, b FROM ed "
        f"UNION SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a), "
        f"comp AS (SELECT a, MIN(b) AS mb FROM reach GROUP BY a) "
        f"SELECT t.{id_col}, "
        f"CAST(coalesce(least(comp.mb, t.{id_col}), t.{id_col}) AS BIGINT) "
        f"AS component, "
        f"coalesce(least(comp.mb, t.{id_col}), t.{id_col}) = t.{id_col} AS keep "
        f"FROM {table} t LEFT JOIN comp ON comp.a = t.{id_col}"
    )


def dedup_components_sql(
    table: str, text_col: str, id_col: str, k: int = 8, threshold: float = 0.8
) -> str:
    """Recursive-CTE transitive closure over the same verified edges:
    component = min reachable id (matches the propagation fixpoint)."""
    from ..binspec import flit

    jp = jaccard_pairs_sql(table, text_col, id_col, k)
    return (
        f"WITH RECURSIVE jp AS ({jp}), "
        f"ed AS (SELECT id_a AS a, id_b AS b FROM jp "
        f"WHERE jaccard >= {flit(threshold)} "
        f"UNION SELECT id_b, id_a FROM jp WHERE jaccard >= {flit(threshold)}), "
        f"reach(a, b) AS (SELECT a, b FROM ed "
        f"UNION SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a), "
        f"comp AS (SELECT a, MIN(b) AS mb FROM reach GROUP BY a) "
        f"SELECT t.{id_col}, "
        f"CAST(coalesce(least(comp.mb, t.{id_col}), t.{id_col}) AS BIGINT) "
        f"AS component, "
        f"coalesce(least(comp.mb, t.{id_col}), t.{id_col}) = t.{id_col} AS keep "
        f"FROM {table} t LEFT JOIN comp ON comp.a = t.{id_col}"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16
SIMHASH64_BITS = 64


def _simhash_df(
    df: DataFrame, text_col: str, id_col: str, bits: int, out_name: str
) -> DataFrame:
    """Shared SimHash fold for any width that fits an int64: one per-row
    ``aggregate`` over the token array accumulates ``bits`` ±1 counters
    (md5 hex prefix of ``bits/4`` chars, one nibble per 4 bits), then a
    sign fold packs them; for 64-bit signatures bit 63 folds in as the
    int64 sign term (−2⁶³).  Zero shuffle; documents with no tokens
    produce no row (matching the grouped formulation the 16-bit oracle
    was originally checked against).

    Single-aggregate shape for the same reason as ``minhash_signatures``:
    Spark 4.1.2's analyzer mis-resolves lambda variables when several
    output columns each nest higher-order functions (see NOTE there).

    Round-13 kernel shape: the hex prefix is pre-parsed ONCE per token
    into ≤8-hex-char (32-bit) integer halves — interpreted lambdas have
    no subexpression elimination, so the former per-BIT
    ``substring``+``conv`` nibble extraction ran 64 string parses per
    token; bit b is now a shift+mask off the parsed half.  Bit values
    are identical (the b-th most significant bit of the same hex
    prefix), so signatures are bit-identical — pinned by a full-corpus
    collect comparison during development; measured 822-1307 → 494-550
    ms for the 64-bit corpus fold at sf0.1."""
    hexlen = bits // 4
    # (1-based hex start, n hex chars) spans of ≤8 chars: conv of ≤32
    # bits fits a BIGINT exactly
    spans = []
    p = 1
    while p <= hexlen:
        n = min(8, hexlen - p + 1)
        spans.append((p, n))
        p += n
    toks_arr = F.expr(H.tokens(H.q(text_col)))
    h_arr = F.transform(
        F.transform(
            toks_arr,
            lambda t: F.substring(F.md5(t.cast("binary")), 1, hexlen),
        ),
        lambda c: F.struct(
            *[
                F.conv(F.substring(c, s, n), 16, 10)
                .cast("bigint")
                .alias(f"g{i}")
                for i, (s, n) in enumerate(spans)
            ]
        ),
    )

    def step(acc, c):
        terms = []
        for b in range(bits):
            g = b // 32  # spans are 8 hex = 32 bits each (last may be less)
            _, n = spans[g]
            sh = 4 * n - 1 - (b - 32 * g)
            bit = F.shiftright(c[f"g{g}"], sh).bitwiseAND(F.lit(1))
            terms.append(
                F.element_at(acc, b + 1)
                + F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))
            )
        return F.array(*terms)

    sig = F.aggregate(h_arr, F.array_repeat(F.lit(0), bits), step)
    scored = df.where(F.size(toks_arr) > 0).select(
        F.col(id_col), sig.alias("_s")
    )
    sim = None
    for b in range(bits):
        pos = F.lit(-(2**63)) if b == 63 else F.lit(2**b)
        term = F.when(F.element_at(F.col("_s"), b + 1) > 0, pos).otherwise(
            F.lit(0)
        )
        sim = term if sim is None else sim + term
    return scored.select(F.col(id_col), sim.cast("bigint").alias(out_name))


def _simhash_sql(
    table: str, text_col: str, id_col: str, bits: int, out_name: str
) -> str:
    hexlen = bits // 4
    toks = (
        f"SELECT {id_col}, unnest({H.tokens_sql(text_col)}) AS tok FROM {table}"
    )
    h = f"substring(md5(tok), 1, {hexlen})"
    aggs = []
    for b in range(bits):
        v = H.nibble_val_sql(f"substring({h}, {1 + b // 4}, 1)")
        bit = f"(({v} >> {3 - b % 4}) & 1)"
        aggs.append(f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS s{b}")
    terms = " + ".join(
        f"CASE WHEN s63 > 0 THEN CAST({-(2**63)} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
        if b == 63
        else f"CASE WHEN s{b} > 0 THEN CAST({2**b} AS BIGINT) "
             f"ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return (
        f"WITH toks AS ({toks}), scored AS "
        f"(SELECT {id_col}, {', '.join(aggs)} FROM toks GROUP BY {id_col}) "
        f"SELECT {id_col}, CAST({terms} AS BIGINT) AS {out_name} FROM scored"
    )


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """16-bit SimHash over token md5 nibbles: (id, simhash BIGINT) — the
    near-duplication SCORE for a known pair.  See ``_simhash_df`` for the
    zero-shuffle fold; at corpus scale this is a pure map stage (the old
    shape shuffled every (id, token) row)."""
    return _simhash_df(df, text_col, id_col, SIMHASH_BITS, "simhash")


def simhash_sql(table: str, text_col: str, id_col: str) -> str:
    return _simhash_sql(table, text_col, id_col, SIMHASH_BITS, "simhash")


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash: (id, simhash64 BIGINT).  16 bits is plenty for
    scoring a known pair, but PAIR GENERATION needs band buckets that
    partition the corpus finely — 64 bits gives four 16-bit bands
    (bucket ≈ N/65536) where 16 bits would give 4-bit bands
    (bucket ≈ N/16: a quadratic pair explosion at corpus scale)."""
    return _simhash_df(df, text_col, id_col, SIMHASH64_BITS, "simhash64")


def simhash64_sql(table: str, text_col: str, id_col: str) -> str:
    return _simhash_sql(table, text_col, id_col, SIMHASH64_BITS, "simhash64")


SIMHASH_BANDS = 4  # 4 bands of 16 bits over the 64-bit signature


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """SimHash near-dup pairs: (id_a, id_b, hamming) for every pair whose
    64-bit SimHashes differ in ≤ ``max_hamming`` bits.

    Banded exactly like MinHash-LSH: the 64 bits split into 4 contiguous
    16-bit bands; by pigeonhole any pair with Hamming distance ≤ 3 agrees
    on at least one whole band, so same-(band, value) buckets are a
    COMPLETE candidate set for the default threshold (for
    ``max_hamming`` ≥ 4 it becomes the standard recall-tradeoff
    heuristic).  Shape matches ``lsh_candidate_pairs``: per-row
    zero-shuffle signatures, ONE band-key shuffle of 4 narrow rows/doc
    (expected bucket ≈ N/65536 under the uniform md5 bits — 16-bit bands
    are what keeps the m²/2 expansion linear-ish; 4-bit bands over the
    16-bit signature would put N/16 of the corpus in every bucket),
    in-bucket ordered-pair expansion (no self-join), then the exact
    Hamming filter via ``bit_count(xor)`` on the signatures carried in
    the bucket rows — no corpus re-join.  ``max_bucket`` caps degenerate
    buckets (constant boilerplate produces identical simhashes) before
    the expansion."""
    sigs = simhash64(df, text_col, id_col)
    bands = F.array(
        *[
            F.shiftright(F.col("simhash64"), 16 * j).bitwiseAND(F.lit(65535))
            for j in range(SIMHASH_BANDS)
        ]
    )
    b = sigs.select(
        F.col(id_col),
        F.col("simhash64").alias("simhash"),
        F.posexplode(bands).alias("bi", "bk"),
    )
    buckets = (
        b.groupBy("bi", "bk")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s")))
            ).alias("members")
        )
        .where(F.size("members") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.where(F.size("members") <= F.lit(int(max_bucket)))
    pairs = buckets.select(F.expr(
        _ordered_pairs(
            "members",
            lambda a, bb: f"struct({a}.i AS id_a, {bb}.i AS id_b, "
                          f"{a}.s AS sh_a, {bb}.s AS sh_b)",
        ) + " AS p"
    ))
    ham = F.bit_count(
        F.col("p.sh_a").bitwiseXOR(F.col("p.sh_b"))
    ).cast("int")
    return (
        pairs.select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= F.lit(int(max_hamming)))
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
    )


def simhash_pairs_sql(
    table: str, text_col: str, id_col: str, max_hamming: int = 3
) -> str:
    sigs = simhash64_sql(table, text_col, id_col)
    band_rows = " UNION ALL ".join(
        f"SELECT {id_col}, simhash64 AS simhash, {j} AS bi, "
        f"(simhash64 >> {16 * j}) & 65535 AS bk FROM sigs"
        for j in range(SIMHASH_BANDS)
    )
    return (
        f"WITH sigs AS ({sigs}), bands AS ({band_rows}) "
        f"SELECT id_a, id_b, MIN(hamming) AS hamming FROM ("
        f"SELECT l.{id_col} AS id_a, r.{id_col} AS id_b, "
        f"CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming "
        f"FROM bands l JOIN bands r ON l.bi = r.bi AND l.bk = r.bk "
        f"AND l.{id_col} < r.{id_col}) p "
        f"WHERE hamming <= {int(max_hamming)} GROUP BY id_a, id_b"
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (cross-corpus n-gram overlap)
# ---------------------------------------------------------------------------

def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    min_hits: int = 1,
    broadcast: bool = True,
) -> DataFrame:
    """Corpus documents sharing char n-grams with ANY benchmark document —
    the training-data decontamination primitive (flag or strip training
    docs that leak evaluation content).  Returns (id, n_hits) where
    ``n_hits`` counts the doc's DISTINCT shingles that appear anywhere in
    the benchmark; rows with ``n_hits >= min_hits`` only.

    Scale shape: the benchmark's distinct shingle set is aggregated once
    and BROADCAST (benchmarks are small by definition — a few thousand
    eval documents; the hint makes the join a map-side hash probe, no
    corpus shuffle for the join itself).  The broadcast probe runs
    BELOW the corpus-side distinct (round 13 — formerly the corpus
    exploded to distinct (doc, shingle) pairs first, an
    input-proportional shuffle): only MATCHING pairs reach the distinct
    exchange, and benchmark-hit shingles are rare in a clean corpus, so
    the one shuffle is matched-proportional instead of
    corpus-proportional.  Values identical — the benchmark side is
    distinct, so the inner probe preserves corpus multiplicity and
    dedup before or after the join yields the same (doc, shingle) set
    (interleaved A/B at sf0.1: 702-778 → 593-667 ms even on the
    contamination-HEAVY fixture).  The matched pairs then aggregate per
    doc (map-side combined, output ≤ flagged docs).  With a very large
    benchmark pass ``broadcast=False`` to drop the hint — Spark then
    plans a shuffle join on uniform shingle keys."""
    shingles = H.shingles(H.q(text_col), k)
    sh_b = benchmark.selectExpr(f"explode({shingles}) AS sh").distinct()
    matched = corpus.selectExpr(
        H.q(id_col), f"explode({shingles}) AS sh"
    ).join(F.broadcast(sh_b) if broadcast else sh_b, "sh")
    return (
        matched.distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .where(F.col("n_hits") >= F.lit(int(min_hits)))
    )


def ngram_contamination_sql(
    corpus_sql: str,
    benchmark_sql: str,
    text_col: str,
    id_col: str,
    k: int = 12,
    min_hits: int = 1,
) -> str:
    """DuckDB mirror; ``corpus_sql``/``benchmark_sql`` are table names or
    parenthesized subqueries."""
    sh = H.shingles_sql(text_col, k)
    return (
        f"WITH shc AS (SELECT DISTINCT {id_col}, sh FROM "
        f"(SELECT {id_col}, unnest({sh}) AS sh FROM {corpus_sql}) c), "
        f"shb AS (SELECT DISTINCT sh FROM "
        f"(SELECT unnest({sh}) AS sh FROM {benchmark_sql}) b) "
        f"SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_hits "
        f"FROM shc JOIN shb USING (sh) GROUP BY {id_col} "
        f"HAVING COUNT(*) >= {min_hits}"
    )


# ---------------------------------------------------------------------------
# incremental dedup against a keeper corpus
# ---------------------------------------------------------------------------


def band_rows(df: DataFrame, text_col: str, id_col: str, k: int = 8) -> DataFrame:
    """(id, bi, bk) LSH band-key rows — ``N_BANDS`` per document, a pure
    map stage (the signature fold is evaluated once per row; zero shuffle).

    This is the REUSABLE INDEX for incremental dedup: compute it ONCE for
    the keeper corpus, persist it (parquet, partitioned or bucketed by
    band key), and join every incoming shard against the persisted frame —
    the kept corpus text is never re-shingled per shard (the same
    persisted-index pattern as ``similarity.ann_index``,
    similarity.py:278).  NULL-text documents emit no band rows: their
    signature is NULL, and on the oracle side a NULL band key never joins;
    materializing them as empty-string keys would bucket every NULL-text
    doc into one fake near-dup group.  ``lsh_candidate_pairs`` consumes
    this too, so banding lives in exactly one place per engine.

    The shingle width ``k`` is recorded as ``bk`` column metadata
    (``shingle_k``) and survives a parquet round-trip, so
    ``incremental_dedup`` can refuse a persisted index built with a
    different ``k`` instead of silently matching nothing.

    The NULL filter runs on the RAW text column BEFORE the signature
    projection — filtering on ``mh0`` afterwards would inline the whole
    signature fold into the Filter node, where it cannot share with the
    projection's copy, and the hot md5 kernel would run twice per row
    (bench-found: 0.5 s → 7 s on the sf0.1 gate).  A text-null filter is
    a pushable scan predicate instead, and mh0 is NULL iff text is NULL
    (the 'g'-sentinel contract in minhash_signatures)."""
    sigs = minhash_signatures(
        df.where(f"{H.q(text_col)} IS NOT NULL"), text_col, id_col, k
    )
    bands = ", ".join(
        f"concat_ws('_', mh{2 * j}, mh{2 * j + 1})" for j in range(N_BANDS)
    )
    return (
        sigs.selectExpr(H.q(id_col), f"posexplode(array({bands})) AS (bi, bk)")
        .withMetadata("bk", {"shingle_k": int(k)})
    )


def band_rows_sql(table: str, text_col: str, id_col: str, k: int = 8) -> str:
    """DuckDB mirror of ``band_rows`` (NULL band keys filtered the same
    way — a NULL-signature doc has no index rows on either engine)."""
    sigs = minhash_signatures_sql(table, text_col, id_col, k)
    rows = " UNION ALL ".join(
        f"SELECT {id_col}, {j} AS bi, mh{2 * j} || '_' || mh{2 * j + 1} AS bk "
        f"FROM __sigs"
        for j in range(N_BANDS)
    )
    return (
        f"WITH __sigs AS ({sigs}) "
        f"SELECT {id_col}, bi, bk FROM ({rows}) b WHERE bk IS NOT NULL"
    )


def incremental_dedup(
    new_df: DataFrame,
    kept_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    threshold: float = 0.8,
    kept_bands: Optional[DataFrame] = None,
    broadcast_new: bool = True,
    max_kept_per_band: Optional[int] = None,
) -> DataFrame:
    """Dedup an incoming shard against an existing KEEPER corpus — the
    production shape of crawl-pipeline dedup: each new shard is checked
    against what is already kept, not the whole corpus against itself.
    Returns one row per NEW document:

    - ``dup_of_kept``: shares an LSH band with a kept doc AND the exact
      shingle-set Jaccard against that kept doc is ≥ ``threshold``.
    - ``kept_match``: the MIN kept id among verified matches (NULL when
      ``dup_of_kept`` is false) — the canonical doc this one duplicates.
    - ``dup_within_new``: near-duplicates (same LSH + exact-Jaccard
      verification as ``jaccard_pairs``) a LOWER-id new doc that itself
      SURVIVED the kept check — the same one-level keep-first-occurrence
      policy as ``near_dedup_keep``, not transitive closure.
    - ``keep``: neither verdict — the doc enters the keeper corpus.

    Scale shape (the kept corpus is the 100 TB side, the shard is small):
    the shard's band-key buckets, candidate set and per-doc shingle sets
    are BROADCAST, so the kept corpus contributes exactly two map-side
    probed scans — its band index (pass a persisted ``kept_bands`` frame
    to skip even that signature recompute) and a scan to fetch texts for
    the candidate kept ids only.  No kept-side shuffle anywhere; the only
    shuffles are over shard-sized frames (the shard's band groupBy,
    candidate distinct, per-new-id min, distinct dropped ids).  Each
    piece of work runs ONCE per query: the shard's MinHash fold (the
    band buckets feed both the kept probe and the new-vs-new pairs), the
    shard's shingle sets (one broadcast for the kept check and both
    sides of the new-vs-new check) and the kept-side verification (see
    ``_incremental_verdicts``).  ``broadcast_new=False`` drops the hints
    for giant shards and lets AQE choose.

    ``kept_bands``: a persisted ``band_rows(kept_df, ...)`` output; when
    given, ``kept_df`` is only scanned to fetch candidate texts.

    ``max_kept_per_band``: drop kept band keys held by more than this
    many kept documents before the candidate join — the incremental
    analog of ``lsh_candidate_pairs``'s ``max_bucket`` guard.  A
    degenerate key (boilerplate pages, templated spam) can hold millions
    of kept docs, and ONE new doc sharing it would fan the candidate set
    out by that million; such a key's cluster is better handled by the
    keeper corpus's own dedup than per shard.  Costs one map-combined
    aggregation over the band index; the oversized-key list is tiny and
    broadcast for the anti-join.  ``None`` (default) keeps everything —
    right for bounded corpora and the oracle gate; at 100 TB set a cap
    (or pre-filter the persisted index once at build time, which makes
    this per-shard pass free).
    """
    thr = H.dlit(threshold)
    bc = F.broadcast if broadcast_new else (lambda d: d)
    # The shard's band-key buckets, read by BOTH the kept-index probe
    # below and the new-vs-new pairs further down: one canonical subtree,
    # so physical planning reuses its exchange and the shard's MinHash
    # fold runs once per verdict query (probing with the bare band rows
    # and calling jaccard_pairs ran the fold twice).  Values identical:
    # a bucket's ids are exactly the shard docs carrying that band key
    # (collect_list drops NULL ids, which never join or pair anyway).
    buckets = _band_buckets(band_rows(new_df, text_col, id_col, k), id_col)
    if kept_bands is not None:
        # refuse an index built with a different shingle width — the
        # band keys would come from disjoint shingle spaces and every
        # true duplicate would silently get keep=True (review-found).
        # The stamp is REQUIRED, not best-effort: an index round-tripped
        # through a metadata-dropping writer is indistinguishable from a
        # mismatched one, and silently matching nothing is exactly the
        # contamination this guard exists to prevent (review-found).
        if "bk" not in kept_bands.columns:
            raise ValueError("kept_bands is not a band_rows index "
                             "(no 'bk' column)")
        idx_k = kept_bands.schema["bk"].metadata.get("shingle_k")
        if idx_k is None:
            raise ValueError(
                "kept_bands carries no shingle_k metadata — rebuild the "
                "index with band_rows() and persist it with a "
                "metadata-preserving writer (Spark parquet)"
            )
        if int(idx_k) != int(k):
            raise ValueError(
                f"kept_bands index was built with k={idx_k}, but "
                f"incremental_dedup was called with k={k}"
            )
        kb = kept_bands
    else:
        kb = band_rows(kept_df, text_col, id_col, k)
    kb = kb.withColumnRenamed(id_col, "kept_id")
    if max_kept_per_band is not None:
        big = (
            kb.groupBy("bi", "bk")
            .agg(F.expr("count(1) AS _n"))
            .where(f"_n > {int(max_kept_per_band)}")
            .select("bi", "bk")
        )
        kb = kb.join(F.broadcast(big), ["bi", "bk"], "left_anti")
    cand = (
        kb.join(bc(buckets), ["bi", "bk"])
        .selectExpr("explode(ids) AS new_id", "kept_id")
        .distinct()
    )

    # exact shingle-set Jaccard verification of new-vs-kept candidates
    # (same set/size/intersection semantics as jaccard_pairs: per-row
    # array_distinct sets, a-side nulls filtered before array_intersect,
    # empty intersections dropped — the oracle's inner join has no row)
    nset = _shingle_set(H.q(text_col), k)
    nsh = bc(new_df.selectExpr(
        f"{H.q(id_col)} AS _nid", f"{nset} AS _nset", f"size({nset}) AS _nsz"
    ))
    # Kept side, restructured round 13.  The former spelling broadcast
    # ``cand ⋈ nsh`` — every candidate PAIR row carrying the new doc's
    # FULL shingle-set array (sets duplicated per pair) — and computed
    # the kept shingle set below the join, i.e. for EVERY kept row, the
    # 100 TB side.  Now the broadcasts carry (a) the bare id-pair list
    # and (b) the per-DOC new shingle sets (each set once, not once per
    # pair), the kept corpus is probed map-side shipping only (id,
    # text), and the kept set fold runs once per CANDIDATE in its own
    # projection (shard-bounded, vs corpus-bound before; a projection,
    # not a Filter — in a Filter/join condition the fold is re-inlined
    # per reference, probe-verified 4×).  Values identical: same fold
    # over the same text; NULL-text kept rows were never candidates
    # (band_rows emits no rows for them).
    ktext = kept_df.selectExpr(
        f"{H.q(id_col)} AS _kid", f"{H.q(text_col)} AS _ktxt"
    )
    kset = _shingle_set("_ktxt", k)
    kverif = ktext.join(bc(cand), F.expr("kept_id = _kid")).selectExpr(
        "new_id", "kept_id", f"{kset} AS _kset", f"size({kset}) AS _ksz"
    )
    joined = kverif.join(nsh, F.expr("new_id = _nid"))
    # one Filter, no projected _i: the former select(_i)-then-where
    # shape re-inlined the intersect into the pushed Filter (it cannot
    # CSE with the projection's copy — see jaccard_pairs' round-9 note);
    # here the verdict columns don't need _i at all, so the whole
    # verification is a single short-circuiting Filter — arrays_overlap
    # early-exits non-overlapping candidates, the in-node-CSE'd
    # intersect runs ONCE for the rest.  The predicate references both
    # join sides, so it cannot be pushed into either set projection.
    overlap, jac = _jaccard_exprs("_nset", "_nsz", "_kset", "_ksz")
    verified = joined.where(f"{overlap} AND {jac} >= {thr}").select(
        "new_id", "kept_id"
    )

    # new-vs-new among kept-survivors: one-level min-id-first greedy.
    # The pairs come from the shared buckets and are verified against
    # the same per-doc shard sets as the kept check (one broadcast,
    # reused), with the same Jaccard spelling as jaccard_pairs.  A pair
    # sharing several bands is verified once per band instead of being
    # deduplicated first: a repeat costs one set intersection, the
    # dedup a shuffle (the verdicts only ask whether a pair exists).
    overlap, jac = _jaccard_exprs("a._nset", "a._nsz", "b._nset", "b._nsz")
    nn = (
        _bucket_pairs(buckets, None)
        .selectExpr("p.id_a AS id_a", "p.id_b AS id_b")
        .join(nsh.alias("a"), F.expr("id_a = a._nid"))
        .join(nsh.alias("b"), F.expr("id_b = b._nid"))
        .where(f"{overlap} AND {jac} >= {thr}")
        .select("id_a", "id_b")
    )
    return _incremental_verdicts(new_df, id_col, verified, nn, broadcast_new)


def _incremental_verdicts(
    new_df: DataFrame, id_col: str, verified: DataFrame, nn: DataFrame,
    broadcast_new: bool,
) -> DataFrame:
    """The verdict rows of ``incremental_dedup``/``embed_incremental``
    from the verified new-vs-kept matches ``verified`` (new_id, kept_id)
    and the verified new-vs-new pairs ``nn`` (id_a < id_b).  With
    ``broadcast_new`` the per-new-id matches ``kdup`` and the dropped
    new ids are broadcast (both are shard-bounded), so the verdict rows
    come out of one map-side pass over the shard ids.

    ``kdup`` is read TWICE: the per-new-id left join and the survivor
    filter.  Both must see the IDENTICAL canonical subtree for physical
    planning to reuse its exchange, so the verification (the kept-side
    probe join and the per-candidate folds) runs once.  The survivor
    filter is therefore the same left join followed by "no ``kdup`` row"
    (``new_id IS NULL``), not a left anti-join: column pruning would cut
    ``kept_match`` out of an anti-join's copy (its key is all that join
    needs), turning the aggregate into a distinct with no reusable
    exchange, and a ``kept_match`` test in the anti-join condition is
    pushed into that side as a filter, which still leaves two
    broadcasts of the same rows.  The filter's ``kept_match IS NULL``
    conjunct is implied by ``new_id IS NULL`` (a NULL-extended row); it
    only keeps ``kept_match`` read, so the copy is not pruned."""
    bc = F.broadcast if broadcast_new else (lambda d: d)
    kdup = bc(verified.groupBy("new_id").agg(
        F.expr("min(kept_id) AS kept_match")
    ))
    qid = H.q(id_col)
    nn_drop = bc(
        nn.join(kdup, F.expr("id_a = new_id"), "left")
        .where("new_id IS NULL AND kept_match IS NULL")
        .selectExpr(f"id_b AS {qid}")
        .distinct()
        .selectExpr(qid, "true AS _nn")
    )
    ids = new_df.select(id_col)
    out = (
        ids.join(kdup, F.expr(f"{qid} = new_id"), "left")
        .join(nn_drop, id_col, "left")
    )
    return out.selectExpr(
        qid,
        "kept_match IS NOT NULL AS dup_of_kept",
        "kept_match",
        "coalesce(_nn, false) AS dup_within_new",
        "kept_match IS NULL AND _nn IS NULL AS keep",
    )


def incremental_dedup_sql(
    new_select: str,
    kept_select: str,
    text_col: str,
    id_col: str,
    k: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB mirror; ``new_select``/``kept_select`` are full SELECT
    statements defining the shard and the keeper corpus (they become the
    ``__new``/``__kept`` CTEs every sub-mirror reads)."""
    from ..binspec import flit

    nb = band_rows_sql("__new", text_col, id_col, k)
    kb = band_rows_sql("__kept", text_col, id_col, k)
    nsh = _shingle_rows_sql("__new", text_col, id_col, k)
    ksh = _shingle_rows_sql("__kept", text_col, id_col, k)
    nn = jaccard_pairs_sql("__new", text_col, id_col, k)
    thr = flit(float(threshold))
    return (
        f"WITH __new AS ({new_select}), __kept AS ({kept_select}), "
        f"__nb AS ({nb}), __kb AS ({kb}), "
        f"__cand AS (SELECT DISTINCT n.{id_col} AS new_id, "
        f"kx.{id_col} AS kept_id "
        f"FROM __nb n JOIN __kb kx ON n.bi = kx.bi AND n.bk = kx.bk), "
        f"__nsh AS ({nsh}), __ksh AS ({ksh}), "
        f"__nsz AS (SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS nsh "
        f"FROM __nsh GROUP BY 1), "
        f"__ksz AS (SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS nsh "
        f"FROM __ksh GROUP BY 1), "
        f"__inter AS (SELECT c.new_id, c.kept_id, "
        f"CAST(COUNT(*) AS BIGINT) AS inter "
        f"FROM __cand c JOIN __nsh a ON c.new_id = a.{id_col} "
        f"JOIN __ksh b ON c.kept_id = b.{id_col} AND a.sh = b.sh "
        f"GROUP BY c.new_id, c.kept_id), "
        f"__nk AS (SELECT i.new_id, i.kept_id FROM __inter i "
        f"JOIN __nsz za ON i.new_id = za.{id_col} "
        f"JOIN __ksz zb ON i.kept_id = zb.{id_col} "
        f"WHERE CAST(i.inter AS DOUBLE) / "
        f"CAST(za.nsh + zb.nsh - i.inter AS DOUBLE) >= {thr}), "
        f"__kdup AS (SELECT new_id, MIN(kept_id) AS kept_match "
        f"FROM __nk GROUP BY 1), "
        f"__nn AS (SELECT id_a, id_b FROM ({nn}) jp WHERE jaccard >= {thr}), "
        # NOT EXISTS, not NOT IN: three-valued logic would return NO
        # rows if a NULL id ever reached the pair list, silently
        # diverging from the Spark path's anti-join (advice-found;
        # unreachable with non-NULL-id corpora but latent).
        f"__nndrop AS (SELECT DISTINCT p.id_b FROM __nn p "
        f"WHERE NOT EXISTS (SELECT 1 FROM __kdup kd "
        f"WHERE kd.new_id = p.id_a)) "
        f"SELECT d.{id_col}, (kd.new_id IS NOT NULL) AS dup_of_kept, "
        f"kd.kept_match, "
        f"(nd.id_b IS NOT NULL) AS dup_within_new, "
        f"(kd.new_id IS NULL AND nd.id_b IS NULL) AS keep "
        f"FROM __new d LEFT JOIN __kdup kd ON d.{id_col} = kd.new_id "
        f"LEFT JOIN __nndrop nd ON d.{id_col} = nd.id_b"
    )


# ---------------------------------------------------------------------------
# incremental EMBEDDING dedup against a keeper corpus
# ---------------------------------------------------------------------------


def _planes_fingerprint(planes) -> str:
    """Deterministic digest of the hyperplane literals — the embedding
    analog of ``band_rows``'s ``shingle_k`` stamp.  An index bucketed
    under DIFFERENT planes would silently match nothing (every true
    duplicate gets ``keep=True``), which is exactly the contamination
    the stamp-refusal guard exists to prevent."""
    import hashlib

    s = ";".join(",".join(repr(float(x)) for x in p) for p in planes)
    return hashlib.md5(s.encode()).hexdigest()


def embed_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes=None,
) -> DataFrame:
    """(id, vec, ``bucket``) rows — the REUSABLE keeper-corpus index for
    :func:`embed_incremental`: compute it ONCE, persist it
    (``.write.partitionBy("bucket").parquet(path)`` — one directory per
    LSH bucket, so a shard probe prunes at the FILE level; the same
    layout as ``similarity.write_ann_index``), and probe every incoming
    shard against the persisted frame — the kept corpus is never
    re-bucketized per shard.

    The planes fingerprint is recorded as ``vec_col`` column metadata
    (``lsh_planes_fp``; column metadata survives a Spark parquet
    round-trip) so ``embed_incremental`` can REFUSE an index built under
    different hyperplanes instead of silently matching nothing.  The
    stamp rides on the vector column, not ``bucket``: ``partitionBy``
    turns ``bucket`` into a directory-derived partition column whose
    metadata does NOT survive the round-trip."""
    from .similarity import PLANES, with_lsh_bucket

    planes = PLANES if planes is None else planes
    return with_lsh_bucket(df, vec_col, planes).withMetadata(
        vec_col, {"lsh_planes_fp": _planes_fingerprint(planes)}
    )


def embed_incremental(
    new_df: DataFrame,
    kept_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes=None,
    kept_index: Optional[DataFrame] = None,
    broadcast_new: bool = True,
    max_kept_per_bucket: Optional[int] = None,
) -> DataFrame:
    """Semantic (embedding) dedup of an incoming shard against an
    existing KEEPER corpus — the embedding analog of
    :func:`incremental_dedup`, the production shape of semantic-dedup
    pipelines: each new shard is checked against what is already kept,
    never the whole corpus against itself.  One row per NEW vector:

    - ``dup_of_kept``: shares an LSH bucket with a kept vector AND the
      exact cosine against it is ≥ ``threshold``.
    - ``kept_match``: the MIN kept id among verified matches (NULL when
      ``dup_of_kept`` is false).
    - ``dup_within_new``: same-bucket cosine ≥ ``threshold`` against a
      LOWER-id new vector that itself SURVIVED the kept check (the same
      one-level keep-first-occurrence policy as ``incremental_dedup``,
      via :func:`similarity.embed_dup_pairs` — not transitive closure).
    - ``keep``: neither verdict — the vector enters the keeper corpus.

    Scale shape (the kept corpus is the 100 TB side, the shard is
    small): the shard's bucketed vectors are BROADCAST, so the kept
    corpus contributes exactly ONE map-side probed scan — its persisted
    ``embed_index`` (pass ``kept_index`` to skip even the bucket
    recompute; with the index parquet partitioned by ``bucket``,
    Spark's dynamic partition pruning on the broadcast bucket join
    prunes unprobed bucket directories at the file level).  No
    kept-side shuffle anywhere; the only shuffles are over shard-sized
    frames (the per-new-id min and the shard's own bucket self-join).
    The kept-index probe join and its per-pair cosine run ONCE per
    query: both readers of the verified matches share one subtree (see
    ``_incremental_verdicts``).  ``broadcast_new=False`` drops the hint
    for giant shards and lets AQE choose.  Degenerate vectors (zero-norm / non-finite, NULL
    cosine) match nothing on either engine.

    ``kept_index``: a persisted :func:`embed_index` output; its planes
    fingerprint stamp is REQUIRED and must match ``planes`` — a
    mismatched or stamp-less index is refused (see
    :func:`_planes_fingerprint`).  Mutually exclusive with ``kept_df``:
    exactly one of the two defines the keeper corpus (advice-found — a
    caller supplying a stale index AND fresh kept vectors previously got
    the index with the kept_df silently ignored).

    ``max_kept_per_bucket``: drop kept buckets holding more than this
    many vectors before the probe join — the embedding analog of
    ``incremental_dedup``'s ``max_kept_per_band`` degenerate-key guard
    (one dominant embedding cluster can hold a large share of the
    corpus, and every shard vector landing there fans out by its size).
    Costs one map-combined aggregation over at most 2^|planes| keys;
    ``None`` keeps everything."""
    from .similarity import PLANES, embed_dup_pairs, with_lsh_bucket
    from ..functions import vectors as V

    if kept_df is None and kept_index is None:
        raise ValueError(
            "pass kept_df (vectors, bucketized here) or kept_index "
            "(a persisted embed_index frame)"
        )
    if kept_df is not None and kept_index is not None:
        raise ValueError(
            "kept_df and kept_index are mutually exclusive — exactly one "
            "defines the keeper corpus (the index would win and the "
            "kept_df be silently ignored; if the index is current, drop "
            "kept_df, else rebuild/extend the index first)"
        )
    planes = PLANES if planes is None else planes
    thr = F.lit(float(threshold))
    nb = with_lsh_bucket(new_df, vec_col, planes).select(
        F.col(id_col).alias("new_id"), F.col(vec_col).alias("_nv"), "bucket",
        # round 13: each side's norm fold runs once per ROW before the
        # probe join instead of once per joined PAIR (cosine inline
        # re-folds both self-dots per pair); cosine_pre is bit-identical
        V.norm(F.col(vec_col)).alias("_nvn"),
    )
    if broadcast_new:
        nb = F.broadcast(nb)
    if kept_index is not None:
        if "bucket" not in kept_index.columns or vec_col not in kept_index.columns:
            raise ValueError(
                f"kept_index is not an embed_index frame (needs 'bucket' "
                f"and '{vec_col}' columns)"
            )
        fp = kept_index.schema[vec_col].metadata.get("lsh_planes_fp")
        if fp is None:
            raise ValueError(
                "kept_index carries no lsh_planes_fp metadata — rebuild "
                "it with embed_index() and persist it with a "
                "metadata-preserving writer (Spark parquet)"
            )
        if fp != _planes_fingerprint(planes):
            raise ValueError(
                "kept_index was bucketized under DIFFERENT hyperplanes "
                "than this embed_incremental call — every true duplicate "
                "would silently get keep=True"
            )
        kb = kept_index
    else:
        kb = embed_index(kept_df, id_col, vec_col, planes)
    kb = kb.select(
        F.col(id_col).alias("kept_id"), F.col(vec_col).alias("_kv"), "bucket",
        V.norm(F.col(vec_col)).alias("_kvn"),
    )
    if max_kept_per_bucket is not None:
        big = (
            kb.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > F.lit(int(max_kept_per_bucket)))
            .select("bucket")
        )
        kb = kb.join(F.broadcast(big), "bucket", "left_anti")
    verified = (
        kb.join(nb, "bucket")
        .where(
            V.cosine_pre(
                F.col("_kv"), F.col("_nv"), F.col("_kvn"), F.col("_nvn")
            )
            >= thr
        )
        .select("new_id", "kept_id")
    )
    # new-vs-new among kept-survivors: one-level min-id-first greedy over
    # the shard's own bucketed pairs (shard-sized self-join)
    nn = embed_dup_pairs(
        new_df, float(threshold), id_col, vec_col, planes
    ).select("id_a", "id_b")
    return _incremental_verdicts(new_df, id_col, verified, nn, broadcast_new)


def embed_incremental_sql(
    new_select: str,
    kept_select: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes=None,
) -> str:
    """DuckDB mirror; ``new_select``/``kept_select`` are full SELECT
    statements defining the shard and the keeper corpus.  The
    survivors anti-filter uses NOT EXISTS, not NOT IN — three-valued
    logic would silently drop every row if a NULL id ever reached the
    pair list (the advice-found ``incremental_dedup_sql`` latent
    divergence, avoided here from the start)."""
    from ..binspec import flit
    from ..functions import vectors as V
    from .similarity import PLANES, embed_dup_pairs_sql

    planes = PLANES if planes is None else planes
    bucket = V.lsh_bucket_sql(vec_col, planes)
    cos = V.cosine_sql("n._nv", "k._kv")
    nn = embed_dup_pairs_sql("__new", float(threshold), id_col, vec_col, planes)
    thr = flit(float(threshold))
    return (
        f"WITH __new AS ({new_select}), __kept AS ({kept_select}), "
        f"__nb AS (SELECT {id_col} AS new_id, {vec_col} AS _nv, "
        f"{bucket} AS bucket FROM __new), "
        f"__kb AS (SELECT {id_col} AS kept_id, {vec_col} AS _kv, "
        f"{bucket} AS bucket FROM __kept), "
        f"__ver AS (SELECT n.new_id, k.kept_id FROM __nb n "
        f"JOIN __kb k ON n.bucket = k.bucket WHERE {cos} >= {thr}), "
        f"__kdup AS (SELECT new_id, MIN(kept_id) AS kept_match "
        f"FROM __ver GROUP BY 1), "
        f"__nn AS (SELECT id_a, id_b FROM ({nn}) ep), "
        f"__nndrop AS (SELECT DISTINCT p.id_b FROM __nn p "
        f"WHERE NOT EXISTS (SELECT 1 FROM __kdup kd "
        f"WHERE kd.new_id = p.id_a)) "
        f"SELECT d.{id_col}, (kd.new_id IS NOT NULL) AS dup_of_kept, "
        f"kd.kept_match, "
        f"(nd.id_b IS NOT NULL) AS dup_within_new, "
        f"(kd.new_id IS NULL AND nd.id_b IS NULL) AS keep "
        f"FROM __new d LEFT JOIN __kdup kd ON d.{id_col} = kd.new_id "
        f"LEFT JOIN __nndrop nd ON d.{id_col} = nd.id_b"
    )


# ---------------------------------------------------------------------------
# chunk-level dedup: chunk_windows ∘ exact dedup / minhash
# ---------------------------------------------------------------------------


def _chunk_uid(id_col: str, max_chunks_per_doc: int):
    """(doc, chunk) identity packed into one BIGINT so the generic
    dedup machinery's single-id semantics (min-id keeps, id_a < id_b
    pair ordering) apply chunk-wise in (doc_id, chunk_id)-lexicographic
    order.  Every unpackable input RAISES instead of colliding
    (review-found, twice): a document with
    ``chunk_id >= max_chunks_per_doc`` would silently land in a
    NEIGHBORING doc's uid range; a doc id beyond
    ``(2^63-1) / max_chunks_per_doc`` (snowflake-style ids at the
    default cap) would wrap the bigint multiply under Spark's
    non-ANSI arithmetic and collide across UNRELATED docs — and the
    bound is checked with direct comparisons on BOTH ends, never
    ``abs()``, because ``abs(Long.MIN_VALUE)`` itself wraps negative
    and would sail through an ``abs < bound`` guard; a NULL doc id
    (no chunk identity at all) also lands in the raise arm via the
    condition's NULL, with the message naming it."""
    kv = int(max_chunks_per_doc)
    k = F.lit(kv).cast("bigint")
    id_bound = F.lit((2**63 - 1) // kv).cast("bigint")
    return F.when(
        (F.col("chunk_id") < k)
        & (F.col(id_col) > -id_bound)
        & (F.col(id_col) < id_bound),
        F.col(id_col) * k + F.col("chunk_id"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("(doc_id, chunk_id) uid overflow at "
                      "max_chunks_per_doc="),
                k.cast("string"),
                F.lit(": need a non-NULL doc id, chunk_id < cap "
                      "(raise the cap), and |doc_id| < 2^63/cap "
                      "(renumber or lower the cap)"),
            )
        )
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int,
    stride_tokens: int,
    max_chunks_per_doc: int = 1 << 20,
) -> DataFrame:
    """EXACT dedup at CHUNK granularity — RAG/embedding corpora dedup
    the chunks they index, not the parent documents (two near-identical
    docs chunked with the same window grid share most chunk texts
    verbatim): ``text.chunk_windows`` composed with the exact-dedup
    md5-group semantics, per-chunk verdicts.  One row per emitted chunk:
    (id, ``chunk_id``, ``chunk_md5``, ``keep`` — is this the
    (doc, chunk)-lexicographically FIRST copy of its text —, ``n_dups``
    — total copies of that text corpus-wide).

    Scale shape: the chunk frame is a pure projection + posexplode (no
    shuffle, see ``chunk_windows``); verdicts add exactly ONE exchange —
    a window over ``chunk_md5`` (min-uid + count in the same pass, no
    join-back).  Skew: a boilerplate chunk repeated millions of times
    lands one md5 partition — cap it upstream with
    ``text.remove_repeated_lines`` / per-domain caps, the same
    degenerate-key story as ``lsh_candidate_pairs``'s ``max_bucket``."""
    from .text import chunk_windows
    from pyspark.sql.window import Window

    ch = chunk_windows(df, text_col, id_col, chunk_tokens, stride_tokens)
    base = ch.select(
        F.col(id_col),
        "chunk_id",
        H.md5_hex(F.col("chunk_text")).alias("chunk_md5"),
        _chunk_uid(id_col, max_chunks_per_doc).alias("__uid"),
    )
    w = Window.partitionBy("chunk_md5")
    return base.select(
        F.col(id_col),
        "chunk_id",
        "chunk_md5",
        (F.col("__uid") == F.min("__uid").over(w)).alias("keep"),
        F.count(F.lit(1)).over(w).alias("n_dups"),
    )


def chunk_dedup_sql(
    table: str,
    text_col: str,
    id_col: str,
    chunk_tokens: int,
    stride_tokens: int,
    max_chunks_per_doc: int = 1 << 20,
) -> str:
    """DuckDB mirror: ``chunk_windows_sql`` composed under the same
    min-uid window verdicts.  The engine's ``_chunk_uid`` raise arm has
    NO mirror: the fixture gate never overflows the uid cap, and on
    inputs that DO violate the contract the engines diverge in failure
    MODE, not in any successful answer — bigint overflow errors in
    DuckDB too (loudly, different message), but a NULL doc id yields
    NULL uid here, making ``keep``/``n_dups`` silently NULL where Spark
    raises (advice-found).  Callers running this mirror on untrusted
    corpora should pre-filter ``{id_col} IS NOT NULL`` or accept the
    divergence; the gate's fixtures carry no NULL ids."""
    from .text import chunk_windows_sql

    cw = chunk_windows_sql(table, text_col, id_col, chunk_tokens,
                           stride_tokens)
    k = int(max_chunks_per_doc)
    return (
        f"WITH __ch AS ({cw}), "
        f"__b AS (SELECT {id_col}, chunk_id, "
        f"{H.md5_hex_sql('chunk_text')} AS chunk_md5, "
        f"({id_col} * {k} + chunk_id) AS __uid FROM __ch) "
        f"SELECT {id_col}, chunk_id, chunk_md5, "
        f"(__uid = MIN(__uid) OVER (PARTITION BY chunk_md5)) AS keep, "
        f"CAST(COUNT(*) OVER (PARTITION BY chunk_md5) AS BIGINT) "
        f"AS n_dups FROM __b"
    )


# scratch roots for materialize=True chunk frames, reaped at process
# exit (the entry_queries CSV-root atexit pattern, operator-local)
_CHUNK_SCRATCH: list = []

# caller-supplied scratch_dir → subdirectories this process wrote under
# it (advice-found: the ``xhs_scratch_path`` DataFrame attribute is
# best-effort only — any transformation of the returned frame silently
# drops it — so the caller-owned-deletion contract needs a channel that
# survives; this registry is that channel)
_SCRATCH_PATHS: dict = {}


def scratch_paths(scratch_dir: str) -> list:
    """The ``xhs_chunks_*`` subdirectories THIS process has allocated
    under the caller-supplied ``scratch_dir`` (oldest first) — the
    stable channel for the caller-owned-deletion contract.  The
    ``xhs_scratch_path`` attribute on a returned DataFrame identifies
    which entry belongs to a specific result, but it is an ad-hoc Python
    attribute that any subsequent transformation (``.where``,
    ``.select``, ``.cache``) silently drops; this registry never loses a
    path.  Paths are recorded BEFORE the write on purpose: a failed
    distributed write can leave partial files at the path, and the
    deletion contract must cover those too — so an entry may point at a
    directory that is partial or was never created (delete with
    ignore-missing semantics).  Entries are never removed
    automatically: remote-FS scratch cannot be reaped by a local atexit
    hook, so deletion — and calling this to enumerate what to delete —
    is the caller's — acknowledge completed deletions with
    :func:`discard_scratch_paths` so a long-lived driver's registry
    does not accumulate stale entries (advice-found: without a drain
    side the contract had no way to clear what was already deleted)."""
    return list(_SCRATCH_PATHS.get(scratch_dir.rstrip("/"), ()))


def discard_scratch_paths(
    scratch_dir: str, paths: Optional[list] = None
) -> list:
    """Drain side of the caller-owned-deletion contract: drop ``paths``
    (every recorded entry when None) from ``scratch_dir``'s registry
    and return the entries actually removed, oldest first.  Call it
    AFTER deleting the directories — this only clears bookkeeping,
    it never touches the filesystem (the registry exists precisely
    because remote-FS scratch cannot be reaped locally).  Unknown
    paths are ignored, so acknowledging a deletion twice is safe;
    order of the surviving entries is preserved.  A bare string is
    REFUSED rather than iterated character-wise (review-found:
    ``set("/a/b")`` is the set of the path's characters, so a caller
    passing ``scratch_paths(sd)[0]`` instead of ``[...]`` would
    silently drain nothing — the exact stale-entry accumulation this
    API exists to prevent, with no error signal); member paths are
    slash-normalized like ``scratch_dir`` itself (review-found: a
    trailing-slash member compared verbatim would silently match
    nothing).

    Concurrency (review-found): a long-lived driver runs Spark jobs on
    many threads, so a drain can race ``_materialize_scratch``'s
    recording append.  The drain therefore mutates via per-item
    ``list.remove`` on the SAME list object — each call is a single
    GIL-atomic operation on a built-in, so a concurrent append is
    never overwritten (a rebuild-and-replace ``rec[:] = …`` would
    lose an append landing between its read and its write), and the
    root's (empty) list is deliberately never dropped from the dict —
    deleting the key would orphan a list a concurrent ``setdefault``
    already handed to a recorder.  Two concurrent drains of the same
    entry resolve to one winner (the loser's ``remove`` misses)."""
    if isinstance(paths, str):
        raise TypeError(
            "paths must be a list of paths (or None to drain all), "
            "not a bare string — a string would be matched "
            "character-wise and silently discard nothing"
        )
    root = scratch_dir.rstrip("/")
    rec = _SCRATCH_PATHS.get(root)
    if rec is None:
        return []
    import os

    # os.fspath: accept pathlib.Path members (review-found: a bare
    # AttributeError from the comprehension would bypass the guard's
    # explanatory message); both sides of the membership test are
    # slash-normalized so the promise holds even for a hand-recorded
    # trailing-slash entry
    drop = (
        None if paths is None
        else {os.fspath(p).rstrip("/") for p in paths}
    )
    removed = []
    for p in list(rec):
        if drop is None or p.rstrip("/") in drop:
            try:
                rec.remove(p)
            except ValueError:
                continue  # a concurrent drain already took it
            removed.append(p)
    return removed


def _materialize_scratch(
    df: DataFrame, scratch_dir: Optional[str] = None
) -> DataFrame:
    """Write ``df`` once to a scratch parquet and read it back — the
    persisted-intermediate pattern for plans that would otherwise
    re-evaluate an expensive subtree (Spark does not share duplicate
    subtrees within one plan, and for FILTER consumers there is no
    in-plan fix — see the round-9 alias-inlining lessons).  Parquet,
    not ``cache()``: at 100 TB an evicted cache block silently re-runs
    the subtree mid-job, while a parquet scratch is spill-free,
    survives stage retries, and reads back column-pruned.

    Scratch placement (review-found): the default ``tempfile.mkdtemp``
    is DRIVER-LOCAL, which is only correct in local mode — on a real
    cluster each executor would write its partitions to its own
    node-local /tmp and the read-back would silently see a fraction of
    the data — so a non-local master REFUSES to run without
    ``scratch_dir``, a cluster-visible location (HDFS/S3/NFS).  Local
    default scratch is reaped at process exit (one new directory per
    call — loop over shards via the ``chunks=`` parameter instead of
    repeated ``materialize=True`` calls); a caller-supplied
    ``scratch_dir`` gets a unique subdirectory the CALLER owns deleting
    (the ``components_from_edges`` cc-final-* precedent — a local
    ``shutil.rmtree`` cannot delete remote-FS paths at exit).  The
    written path is surfaced as ``xhs_scratch_path`` on the returned
    DataFrame (and propagated to the operator results built from it) —
    without it the caller-owned-deletion contract would be
    unactionable: concurrent jobs sharing one scratch root could not
    tell which ``xhs_chunks_*`` subdirectory is theirs (review-found).
    The attribute is BEST-EFFORT: any transformation of the returned
    frame yields a new DataFrame without it (advice-found), so every
    caller-supplied path is ALSO recorded in the stable per-root
    registry — see :func:`scratch_paths`."""
    spark = df.sparkSession
    if scratch_dir is None:
        if not spark.sparkContext.master.startswith("local"):
            raise ValueError(
                "materialize=True on a non-local master needs "
                "scratch_dir= (a cluster-visible path): the default "
                "driver-local tempdir would scatter partitions across "
                "executor-local filesystems and silently drop data"
            )
        import tempfile

        root = tempfile.mkdtemp(prefix="xhs_chunks_")
        _CHUNK_SCRATCH.append(root)
        path = root + "/data"
    else:
        import uuid

        path = scratch_dir.rstrip("/") + "/xhs_chunks_" + uuid.uuid4().hex
        _SCRATCH_PATHS.setdefault(scratch_dir.rstrip("/"), []).append(path)
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    out.xhs_scratch_path = path
    return out


def clear_chunk_scratch() -> int:
    """Eagerly delete every atexit-tracked LOCAL scratch root written by
    ``materialize=True`` calls and return how many were removed.  The
    atexit reaper bounds nothing in a long-lived driver (notebook,
    service, shard loop) — each call writes a fresh chunk-frame copy —
    so call this between batches once their results are consumed.
    DataFrames returned by earlier ``materialize=True`` calls read from
    these roots and become invalid.  Caller-supplied ``scratch_dir``
    subdirectories are never tracked here; their lifecycle is the
    caller's."""
    import shutil

    n = len(_CHUNK_SCRATCH)
    for root in _CHUNK_SCRATCH:
        shutil.rmtree(root, ignore_errors=True)
    _CHUNK_SCRATCH.clear()
    return n


atexit.register(clear_chunk_scratch)


def _carry_scratch_path(out: DataFrame, chunks: DataFrame) -> DataFrame:
    """Propagate a materialized chunk frame's ``xhs_scratch_path`` onto
    the operator result the caller actually holds — the scratch
    subdirectory a caller-supplied ``scratch_dir`` owns deleting is
    otherwise unknowable to it (review-found)."""
    path = getattr(chunks, "xhs_scratch_path", None)
    if path is not None:
        out.xhs_scratch_path = path
    return out


def _resolve_chunks(
    df: Optional[DataFrame],
    chunks: Optional[DataFrame],
    text_col: str,
    id_col: str,
    chunk_tokens: int,
    stride_tokens: int,
    materialize: bool,
    scratch_dir: Optional[str],
) -> DataFrame:
    """Exactly-one-of df/chunks input resolution shared by
    ``chunk_near_pairs`` and ``chunk_near_keep`` (review-found: two
    verbatim copies would drift).  ``materialize``/``scratch_dir``
    apply only to the internally-built frame; combining them with
    ``chunks=`` RAISES rather than silently ignoring the flags (the
    embed_incremental kept_df+kept_index lesson) — the caller of a
    pre-built frame owns its materialization."""
    from .text import chunk_windows

    if (df is None) == (chunks is None):
        raise ValueError(
            "pass exactly one of df (chunked here) or chunks (a "
            "chunk_windows output for the same corpus)"
        )
    if chunks is not None:
        if materialize or scratch_dir is not None:
            raise ValueError(
                "materialize/scratch_dir apply to the internally-built "
                "chunk frame and would be silently ignored with "
                "chunks= — materialize the pre-built frame yourself "
                "(persist it, or pass the read-back of a parquet write)"
            )
        return chunks
    if scratch_dir is not None and not materialize:
        raise ValueError(
            "scratch_dir without materialize=True would be silently "
            "ignored — the multi-pass in-plan re-chunk default would "
            "still run; pass materialize=True to enable the "
            "single-tokenize scratch"
        )
    ch = chunk_windows(df, text_col, id_col, chunk_tokens, stride_tokens)
    if materialize:
        ch = _materialize_scratch(
            ch.select(id_col, "chunk_id", "chunk_text"), scratch_dir
        )
    return ch


def chunk_near_pairs(
    df: Optional[DataFrame],
    text_col: str,
    id_col: str,
    chunk_tokens: int,
    stride_tokens: int,
    k: int = 8,
    max_chunks_per_doc: int = 1 << 20,
    chunks: Optional[DataFrame] = None,
    materialize: bool = False,
    scratch_dir: Optional[str] = None,
) -> DataFrame:
    """NEAR-duplicate chunk pairs: ``chunk_windows`` composed straight
    into the LSH + exact-Jaccard machinery (``jaccard_pairs``) over
    ``chunk_text`` with the packed (doc, chunk) uid as identity —
    chunk-granular fuzzy dedup for RAG corpora where exact-md5 misses
    lightly-edited boilerplate.  Returns (``uid_a``, ``uid_b``,
    ``jaccard``) with ``uid_a < uid_b``; unpack doc/chunk with
    ``uid DIV/MOD max_chunks_per_doc``.  Same scale story as
    ``jaccard_pairs`` (banded candidates, never all-pairs), on the
    shuffle-free chunk projection — with one caveat the two keyword
    paths exist to manage: the chunk frame is a SUBTREE consumed three
    times inside the jaccard machinery (band rows, a-side sets, b-side
    sets) and Spark does not share duplicate subtrees, so by default
    the corpus is re-chunked ~3× within the one plan.

    ``materialize=True`` tokenizes the corpus ONCE into a scratch
    parquet and runs the pair machinery over the re-read — at 100 TB
    that trades 2 extra full-corpus tokenize passes for one chunk-frame
    write + 3 column-pruned scans, a clear win for large corpora or
    wide documents.  It stays OFF by default because the default must
    serve the common interactive case: measured interleaved at sf0.1
    (~89k pairs) the scratch write costs more than the re-chunking it
    saves (see PLANS.md / the bench ledger); flip it on when the corpus
    outgrows gate scale.  On a non-local master ``scratch_dir`` (a
    cluster-visible path) is REQUIRED and the caller owns deleting its
    unique subdirectory — surfaced as ``xhs_scratch_path`` on the
    returned DataFrame; the local default is atexit-reaped, one new
    directory per call — a loop over shards should pre-chunk once and
    pass ``chunks=`` rather than re-materializing per call (see
    :func:`_materialize_scratch`).

    ``chunks``: a pre-built :func:`text.chunk_windows` output for the
    same corpus (``id_col``/``chunk_id``/``chunk_text``), mutually
    exclusive with ``df`` — pass it when several chunk-granular
    operators share one materialized chunk frame (e.g.
    :func:`chunk_near_keep` via its own ``chunks=`` and this under the
    same grid); ``text_col``/``chunk_tokens``/``stride_tokens`` are
    then unused and materialization is the caller's business."""
    chunks = _resolve_chunks(df, chunks, text_col, id_col, chunk_tokens,
                             stride_tokens, materialize, scratch_dir)
    chu = chunks.select(
        _chunk_uid(id_col, max_chunks_per_doc).alias("chunk_uid"),
        "chunk_text",
    )
    out = (
        jaccard_pairs(chu, "chunk_text", "chunk_uid", k)
        .withColumnRenamed("id_a", "uid_a")
        .withColumnRenamed("id_b", "uid_b")
    )
    return _carry_scratch_path(out, chunks)


def chunk_near_pairs_sql(
    table: str,
    text_col: str,
    id_col: str,
    chunk_tokens: int,
    stride_tokens: int,
    k: int = 8,
    max_chunks_per_doc: int = 1 << 20,
) -> str:
    """DuckDB mirror of :func:`chunk_near_pairs` (same no-mirror-arm
    caveat as ``chunk_dedup_sql``: a NULL doc id NULLs the packed uid
    here where the Spark path raises, and both uids of such a pair drop
    out of the inner joins — pre-filter NULL ids on untrusted
    corpora)."""
    from .text import chunk_windows_sql

    cw = chunk_windows_sql(table, text_col, id_col, chunk_tokens,
                           stride_tokens)
    kk = int(max_chunks_per_doc)
    jp = jaccard_pairs_sql("__chu", "chunk_text", "chunk_uid", k)
    return (
        f"WITH __ch AS ({cw}), "
        f"__chu AS (SELECT ({id_col} * {kk} + chunk_id) AS chunk_uid, "
        f"chunk_text FROM __ch) "
        f"SELECT id_a AS uid_a, id_b AS uid_b, jaccard FROM ({jp}) jp"
    )


def chunk_near_keep(
    df: Optional[DataFrame],
    text_col: str,
    id_col: str,
    chunk_tokens: int,
    stride_tokens: int,
    k: int = 8,
    threshold: float = 0.8,
    max_chunks_per_doc: int = 1 << 20,
    chunks: Optional[DataFrame] = None,
    materialize: bool = False,
    scratch_dir: Optional[str] = None,
) -> DataFrame:
    """Greedy chunk-level near-dedup KEEP verdicts — the decision a RAG
    pipeline actually consumes (``chunk_near_pairs`` emits evidence,
    this applies the policy): one row per emitted chunk
    (id, ``chunk_id``, ``keep``), with ``keep=False`` iff a
    (doc, chunk)-lexicographically LOWER chunk is near-identical (exact
    shingle-Jaccard ≥ ``threshold`` on banded-LSH candidates) — the
    same one-level keep-first-occurrence policy as
    :func:`near_dedup_keep`, at chunk granularity via the packed uid,
    without iterative connected components.

    Scale shape: ``chunk_near_pairs``' story (banded candidates, never
    all-pairs) + ONE left join of the chunk frame against the flagged
    uid set (the flagged set is pair-output-sized; AQE broadcasts it
    when small).  The chunk frame feeds BOTH the pair machinery and the
    verdict join, so ``materialize=True`` (recommended beyond gate
    scale; ``scratch_dir`` required on a non-local master — see
    ``chunk_near_pairs``) tokenizes the corpus once instead of 4×, and
    ``chunks=`` (mutually exclusive with ``df``, same contract as
    ``chunk_near_pairs``) lets a shard loop or a sibling operator share
    one pre-built chunk frame with zero re-tokenization here."""
    ch = _resolve_chunks(df, chunks, text_col, id_col, chunk_tokens,
                         stride_tokens, materialize, scratch_dir)
    pairs = chunk_near_pairs(
        None, text_col, id_col, chunk_tokens, stride_tokens, k=k,
        max_chunks_per_doc=max_chunks_per_doc, chunks=ch,
    )
    drop = (
        pairs.where(F.col("jaccard") >= F.lit(float(threshold)))
        .select(F.col("uid_b").alias("__drop_uid"))
        .distinct()
    )
    base = ch.select(
        F.col(id_col), "chunk_id",
        _chunk_uid(id_col, max_chunks_per_doc).alias("__uid"),
    )
    out = base.join(
        drop, base["__uid"] == drop["__drop_uid"], "left"
    ).select(
        F.col(id_col), "chunk_id",
        F.col("__drop_uid").isNull().alias("keep"),
    )
    return _carry_scratch_path(out, ch)


def chunk_near_keep_sql(
    table: str,
    text_col: str,
    id_col: str,
    chunk_tokens: int,
    stride_tokens: int,
    k: int = 8,
    threshold: float = 0.8,
    max_chunks_per_doc: int = 1 << 20,
) -> str:
    """DuckDB mirror of :func:`chunk_near_keep` (NOT EXISTS, not NOT IN
    — the ``near_dedup_keep_sql`` three-valued-logic lesson; same
    NULL-doc-id mirror-arm caveat as ``chunk_dedup_sql``).  The pair
    machinery is composed INLINE from the one ``__cb`` chunk CTE rather
    than by embedding ``chunk_near_pairs_sql`` whole — the latter
    carries its own copy of the chunk-window subquery, so the oracle
    would tokenize the corpus twice and a future grid-parameter edit
    could silently desynchronize the two copies (review-found)."""
    from ..binspec import flit
    from .text import chunk_windows_sql

    cw = chunk_windows_sql(table, text_col, id_col, chunk_tokens,
                           stride_tokens)
    kk = int(max_chunks_per_doc)
    jp = jaccard_pairs_sql("__chu", "chunk_text", "chunk_uid", k)
    return (
        f"WITH __cb AS ({cw}), "
        f"__chu AS (SELECT ({id_col} * {kk} + chunk_id) AS chunk_uid, "
        f"chunk_text FROM __cb), "
        f"__u AS (SELECT {id_col}, chunk_id, "
        f"({id_col} * {kk} + chunk_id) AS __uid FROM __cb), "
        f"__drop AS (SELECT DISTINCT id_b AS uid_b FROM ({jp}) cp "
        f"WHERE jaccard >= {flit(float(threshold))}) "
        f"SELECT {id_col}, chunk_id, "
        f"NOT EXISTS (SELECT 1 FROM __drop d WHERE d.uid_b = __u.__uid) "
        f"AS keep FROM __u"
    )


# ---------------------------------------------------------------------------
# keeper-index maintenance: close the incremental-dedup production loop
# ---------------------------------------------------------------------------


def _kept_new(new_df: DataFrame, verdicts: DataFrame, id_col: str) -> DataFrame:
    """The shard rows whose verdict is ``keep`` — the docs that enter the
    keeper corpus after :func:`incremental_dedup` / :func:`embed_incremental`."""
    if "keep" not in verdicts.columns:
        raise ValueError("verdicts frame has no 'keep' column — pass the "
                         "output of incremental_dedup / embed_incremental")
    keep_ids = verdicts.where("keep").select(id_col)
    return new_df.join(F.broadcast(keep_ids), id_col)


def extend_band_index(
    new_df: DataFrame,
    verdicts: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
) -> None:
    """APPEND the kept shard docs' band rows to the persisted
    ``band_rows`` index at ``path`` — the step that closes the
    incremental-dedup production loop (shard N's keepers must be in the
    index before shard N+1 probes it; without this, cross-shard
    duplicates admitted in different shards never see each other).

    The shingle width comes FROM the index's own ``shingle_k`` stamp —
    never from a parameter that could drift from it — and the appended
    rows are written through :func:`band_rows`, which re-stamps it, so
    the extended index stays self-describing.  Scale shape: one
    shard-sized map stage + append write; the existing index is read
    only for its schema (no data scan)."""
    spark = new_df.sparkSession
    idx_schema = spark.read.parquet(path).schema
    if "bk" not in idx_schema.names:
        raise ValueError(f"{path} is not a band_rows index (no 'bk')")
    if id_col not in idx_schema.names:
        # appending under a different id column name writes mixed-schema
        # files: the union read NULLs the old id on new files and every
        # appended keeper silently stops matching (review-found)
        raise ValueError(
            f"index at {path} has id column(s) "
            f"{[n for n in idx_schema.names if n not in ('bi', 'bk')]}, "
            f"not '{id_col}'"
        )
    k = idx_schema["bk"].metadata.get("shingle_k")
    if k is None:
        raise ValueError(
            f"{path} carries no shingle_k metadata — rebuild with "
            "band_rows() and a metadata-preserving writer"
        )
    rows = band_rows(_kept_new(new_df, verdicts, id_col), text_col,
                     id_col, int(k))
    rows.write.mode("append").parquet(path)


def extend_embed_index(
    new_df: DataFrame,
    verdicts: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes=None,
) -> None:
    """APPEND the kept shard vectors to the persisted :func:`embed_index`
    at ``path`` — the embedding analog of :func:`extend_band_index`.
    The hyperplanes must reproduce the index's ``lsh_planes_fp`` stamp;
    a mismatch is refused BEFORE any write (appending rows bucketized
    under different planes would corrupt the index silently).  The
    append MATCHES the existing on-disk layout (review-found): a
    bucket-partitioned index gets ``partitionBy("bucket")`` rows into
    its existing ``bucket=`` directories, preserving partition pruning;
    a flat-written index (stamp-valid, prune-less — legal for
    ``embed_incremental``) gets a flat append — blindly partitioning
    next to flat root files would make the WHOLE index unreadable
    (conflicting directory structures) after a write this function
    promises to refuse up front."""
    from .similarity import PLANES

    planes = PLANES if planes is None else planes
    spark = new_df.sparkSession
    idx = spark.read.parquet(path)
    idx_schema = idx.schema
    if "bucket" not in idx_schema.names or vec_col not in idx_schema.names:
        raise ValueError(f"{path} is not an embed_index (needs 'bucket' "
                         f"and '{vec_col}')")
    if id_col not in idx_schema.names:
        raise ValueError(
            f"index at {path} has columns {idx_schema.names}, "
            f"not id column '{id_col}' — appending would write "
            "mixed-schema files whose ids read back NULL"
        )
    fp = idx_schema[vec_col].metadata.get("lsh_planes_fp")
    if fp is None:
        raise ValueError(
            f"{path} carries no lsh_planes_fp metadata — rebuild with "
            "embed_index() and a metadata-preserving writer"
        )
    if fp != _planes_fingerprint(planes):
        raise ValueError(
            "the given planes do not reproduce the index's stamp — "
            "appending under different hyperplanes would corrupt it"
        )
    rows = embed_index(
        _kept_new(new_df, verdicts, id_col).select(id_col, vec_col),
        id_col, vec_col, planes,
    )
    # Layout detection from a data file's FOOTER, not its path: a
    # bucket-partitioned index stores 'bucket' only in directory names
    # (reading one leaf FILE directly yields just the physical columns —
    # the default basePath is the file's parent, so no partition
    # discovery runs), while a flat index stores it as a physical
    # column.  The previous substring match of '/bucket=' over
    # inputFiles() misfired both ways (advice-found): an index ROOT path
    # containing a literal 'bucket=' segment flagged a flat index as
    # partitioned, and an EMPTY partitioned index (zero data files) was
    # silently misdetected as flat — either append bricks the directory.
    files = idx.inputFiles()
    if not files:
        raise ValueError(
            f"{path} has no data files — an empty index's layout is "
            "undetectable and an append could brick it; write the "
            "initial index with embed_index() first"
        )
    partitioned = "bucket" not in spark.read.parquet(files[0]).schema.names
    if partitioned:
        # cluster the appended shard by bucket (similarity.bucket_clustered)
        # so each extension adds ~1 file per touched bucket, not one sliver
        # per upstream task per bucket — repeated extensions otherwise decay
        # the index into the small-files regime its layout exists to avoid
        from .similarity import bucket_clustered

        rows = bucket_clustered(rows, 2 ** len(planes), id_col)
        rows.write.mode("append").partitionBy("bucket").parquet(path)
    else:
        rows.write.mode("append").parquet(path)
