"""Deterministic sampling / dataset splitting for training-data curation.

A 100 TB corpus is curated by *reproducible* subsetting: the sampling
decision for a row must be a pure function of a stable key — never of
partitioning, row order, or an RNG stream — so reruns, incremental loads
and audits all agree row-for-row.  (``df.sample()`` is seed-stable only
for a fixed partitioning, which no 100 TB pipeline has.)

Mechanism: a row's uniform draw is the first 8 hex chars of
``md5(salt || key)``, compared LEXICOGRAPHICALLY against a literal hex
threshold ``floor(rate·16⁸)``.  Pure Column ops (md5/substring/string
compare — codegen'd, zero Python), mirrored bit-identically in DuckDB:
md5 is the one hash both engines share, and hex-string comparison avoids
any hex→int conversion (DuckDB has no ``conv``).  Granularity is 16⁻⁸
(≈6e-10) per the 32-bit slice.

Operators:
- ``deterministic_sample`` — Bernoulli keep at ``rate``; a pure pushable
  filter: no shuffle, composes with any downstream plan.
- ``assign_splits`` — train/val/test assignment from cumulative
  thresholds; a projection (no shuffle), disjoint and exhaustive.
- ``stratified_sample`` — per-stratum rates (e.g. downsample dominant
  languages); filter with a literal CASE threshold per stratum.
- ``topk_per_group`` — exactly-k per group via ``row_number`` over
  (hash, key) inside each group partition: a single hash-partitioned
  window, skew-bounded by group size.

Each has an `_sql` twin for the oracle gate.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing as H

_SPACE = 16**8


def _hex_threshold(rate: float) -> str:
    """8-char lowercase hex literal of floor(rate·16⁸), clamped to [0, 16⁸)."""
    t = int(rate * _SPACE)
    t = max(0, min(t, _SPACE - 1))
    return format(t, "08x")


def draw_hex(key: Column, salt: str = "") -> Column:
    """The row's uniform draw: first 8 hex chars of md5(salt || key)."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), key.cast("string")).cast("binary")), 1, 8
    )


def draw_hex_sql(key_expr: str, salt: str = "") -> str:
    esc = str(salt).replace("'", "''")  # quote-safe literal
    return f"substring(md5('{esc}' || CAST({key_expr} AS VARCHAR)), 1, 8)"


# 2³² as an exact double: multiplying any double by a power of two is a
# bare exponent shift (never rounds), so floor(rate·2³²) is the same
# bigint in every IEEE engine that agrees on `rate` — the property the
# cross-engine contract of the in-plan thresholds rests on.
_SPACE_F = float(1 << 32)


def rate_threshold(rate: Column) -> Column:
    """In-plan integer sampling threshold from a DATA-DERIVED rate
    column: keep a row iff ``hex8_val(draw_hex(key)) < rate_threshold(
    rate)``.  floor(rate·2³²) as BIGINT, unclamped — rate ≥ 1 yields
    ≥ 2³² (> every 8-hex draw: keep all), 0.0 yields 0 (drop all),
    NULL propagates (a NULL comparison drops the row).  The rate must be NULL or FINITE:
    a NaN rate silently diverges across engines in EVERY Spark mode —
    ``floor()`` over a double returns BIGINT and swallows NaN to 0
    *inside the Floor expression*, so the trailing cast (the one ANSI
    would check) never sees a NaN and Spark emits threshold 0
    (drop-all) even under ANSI, Spark 4's default, while DuckDB's
    float→bigint conversion always raises (review-verified on both
    engines and pinned in tests — an earlier note claimed ANSI raises;
    it does not, the NaN dies in floor first) — :func:`mixture_weights`
    can never produce one (its divisions are guarded to NULL), but a
    hand-computed rate column must uphold this itself.  The literal-CASE thresholds
    (:func:`_hex_threshold`) need rates known in Python; this is the
    same draw < threshold contract with the threshold computed in-plan.
    ONE shared definition per engine — the Spark form and
    :func:`rate_threshold_sql` are a gated cross-engine pair
    (review-found: three hand-written copies of the idiom had
    appeared)."""
    return F.floor(rate * F.lit(_SPACE_F)).cast("bigint")


def rate_threshold_sql(rate_expr: str) -> str:
    """:func:`rate_threshold`'s DuckDB mirror."""
    from ..binspec import flit

    return f"CAST(floor({rate_expr} * {flit(_SPACE_F)}) AS BIGINT)"


def deterministic_sample(
    df: DataFrame, key_col: str, rate: float, salt: str = ""
) -> DataFrame:
    """Keep each row iff draw(key) < rate — reproducible Bernoulli sample,
    independent of partitioning/order; rate ≥ 1 keeps everything."""
    if rate >= 1.0:
        return df
    if rate <= 0.0:
        return df.where(F.lit(False))
    return df.where(
        draw_hex(F.col(key_col), salt) < F.lit(_hex_threshold(rate))
    )


def deterministic_sample_sql(key_expr: str, rate: float, salt: str = "") -> str:
    """WHERE-clause predicate mirroring ``deterministic_sample``."""
    if rate >= 1.0:
        return "TRUE"
    if rate <= 0.0:
        return "FALSE"
    return f"{draw_hex_sql(key_expr, salt)} < '{_hex_threshold(rate)}'"


def assign_splits(
    df: DataFrame,
    key_col: str,
    fractions: Sequence[Tuple[str, float]],
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Disjoint, exhaustive dataset splits (e.g. [("train", .8),
    ("val", .1), ("test", .1)]) from cumulative thresholds on the same
    draw; the LAST split absorbs rounding remainder.  A projection — no
    shuffle, stable across reruns and incremental appends."""
    fractions = list(fractions)
    if len(fractions) < 2:
        raise ValueError("need at least two splits")
    # one Spark SQL CASE string (parsed once) — the Column spelling of
    # the same draw is draw_hex
    d = (
        f"substring(md5(CAST(concat({H.sstr(salt)}, "
        f"CAST({H.q(key_col)} AS STRING)) AS BINARY)), 1, 8)"
    )
    acc, parts = 0.0, []
    for name, frac in fractions[:-1]:
        acc += frac
        parts.append(
            f"WHEN {d} < '{_hex_threshold(acc)}' THEN {H.sstr(name)}"
        )
    case = f"CASE {' '.join(parts)} ELSE {H.sstr(fractions[-1][0])} END"
    return df.withColumn(split_col, F.expr(case))


def assign_splits_sql(
    key_expr: str, fractions: Sequence[Tuple[str, float]], salt: str = ""
) -> str:
    """CASE expression mirroring ``assign_splits``."""
    fractions = list(fractions)
    d = draw_hex_sql(key_expr, salt)
    acc, parts = 0.0, []
    for name, frac in fractions[:-1]:
        acc += frac
        parts.append(f"WHEN {d} < '{_hex_threshold(acc)}' THEN '{name}'")
    return f"CASE {' '.join(parts)} ELSE '{fractions[-1][0]}' END"


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rates: Dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum Bernoulli rates (the language/source-rebalancing
    primitive: downsample dominant strata, keep the tail).  A literal CASE
    threshold per stratum — still a pure pushable filter, no shuffle."""
    d = draw_hex(F.col(key_col), salt)
    dflt = F.lit("g" if default_rate >= 1.0 else _hex_threshold(default_rate))
    thr = None
    for stratum, rate in sorted(rates.items()):
        t = F.lit("g" if rate >= 1.0 else _hex_threshold(rate))
        cond = F.col(strata_col).eqNullSafe(F.lit(stratum))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    # empty rates: every row gets the default threshold (no CASE at all)
    thr = dflt if thr is None else thr.otherwise(dflt)
    # "g" > every hex char, so it means keep-all
    return df.where(d < thr)


def stratified_sample_sql(
    strata_expr: str,
    key_expr: str,
    rates: Dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> str:
    d = draw_hex_sql(key_expr, salt)
    parts = []
    for stratum, rate in sorted(rates.items()):
        t = "g" if rate >= 1.0 else _hex_threshold(rate)
        lit = str(stratum).replace("'", "''")
        parts.append(
            f"WHEN {strata_expr} IS NOT DISTINCT FROM '{lit}' THEN '{t}'"
        )
    dflt = "g" if default_rate >= 1.0 else _hex_threshold(default_rate)
    if not parts:  # empty rates → plain default threshold
        return f"{d} < '{dflt}'"
    return f"{d} < CASE {' '.join(parts)} ELSE '{dflt}' END"


def _hex_threshold_ratio(num: int, den: int) -> str:
    """Exact 8-hex threshold floor(num/den · 16⁸) for 0 < num < den —
    pure integer arithmetic, so any engine that divides the same two
    integers (e.g. the oracle's HUGEINT ``//``) lands on the same hex
    literal, with none of the float-rounding hazards of ``rate * 16⁸``."""
    return format(num * _SPACE // den, "08x")


def balanced_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    target: int,
    salt: str = "",
    max_groups: int = 10_000,
) -> DataFrame:
    """Rebalance a skewed source/language mixture: downsample every group
    to an EXPECTED ``target`` rows (groups already at or under ``target``
    are kept whole) — the uniform-mixture resampling step of a
    training-data pipeline (cf. temperature-sampling mixtures; this is
    the τ→∞ limit with a per-group cap).

    Scale shape: group counts are ONE map-combined k-row aggregate
    collected to the driver (bounded metadata — the same pattern as
    histogram range inference); the keep decision then compiles to a
    literal CASE threshold over the main scan — a pure pushable filter,
    ZERO joins, partitioning- and order-independent.  Keep rates are
    exact integers floor(target·16⁸ / n_g), so the DuckDB oracle
    (HUGEINT division in SQL, an independent computation of the same
    integers) reproduces row membership bit-identically.  A group unseen
    at count time (concurrent append) is kept whole — the conservative
    choice for audit reruns.  NULL group keys form their own group; a
    NULL *sampling key* always drops (NULL draw fails every threshold,
    the same convention as every sampler in this module), even in a
    group kept whole.

    The bounded-metadata assumption is GUARDED: this operator is for
    mixture-sized keys (languages, sources — at most ``max_groups``
    distinct values).  Above the cap the driver-side collect and the
    O(#groups) literal CASE would both blow up silently, so it raises
    instead — for high-cardinality keys use ``stratified_sample`` (rates
    you supply, nothing collected) or ``topk_per_group`` (exactly-k via
    one window, no driver metadata)."""
    if target < 1:
        raise ValueError("target must be >= 1")
    if max_groups < 1:
        raise ValueError("max_groups must be >= 1")
    # take() bounds driver memory even when the guard trips: we pull at
    # most max_groups+1 count rows, never the full distinct-key set
    counts = df.groupBy(group_col).count().take(max_groups + 1)
    if len(counts) > max_groups:
        raise ValueError(
            f"balanced_sample saw more than max_groups={max_groups} "
            f"distinct {group_col!r} values; its per-group literal CASE "
            "filter is sized for mixture keys (languages, sources). For "
            "high-cardinality keys use stratified_sample (explicit "
            "rates, no driver collect) or topk_per_group (exactly-k per "
            "group via one window)."
        )
    d = draw_hex(F.col(key_col), salt)
    thr = None
    for row in counts:
        g, n = row[0], row[1]
        t = F.lit("g" if n <= target else _hex_threshold_ratio(target, n))
        cond = (
            F.col(group_col).isNull()
            if g is None
            else F.col(group_col) == F.lit(g)
        )
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    if thr is None:  # empty input: nothing to filter
        return df
    # "g" > every hex char → keep-all; unseen groups kept whole
    return df.where(d < thr.otherwise(F.lit("g")))


def balanced_sample_sql(
    table: str,
    select_cols: Sequence[str],
    group_expr: str,
    key_expr: str,
    target: int,
    salt: str = "",
) -> str:
    """Oracle mirror of ``balanced_sample``: recomputes the group counts
    in SQL and derives the identical thresholds with exact HUGEINT
    integer division (never a float rate)."""
    d = draw_hex_sql(f"t.{key_expr}", salt)
    thr = (
        f"lower(lpad(to_hex(CAST((CAST({target} AS HUGEINT) * {_SPACE}) "
        f"// c.n AS BIGINT)), 8, '0'))"
    )
    sel = ", ".join(f"t.{c} AS {c}" for c in select_cols)
    return (
        f"WITH __cnt AS (SELECT {group_expr} AS g, COUNT(*) AS n "
        f"FROM {table} GROUP BY {group_expr}) "
        f"SELECT {sel} FROM {table} t "
        f"JOIN __cnt c ON t.{group_expr} IS NOT DISTINCT FROM c.g "
        # keep-whole goes THROUGH the draw comparison ('g' > every hex
        # char) so a NULL sampling key drops on both engines — a bare
        # `c.n <= target OR ...` would short-circuit TRUE and keep it
        f"WHERE {d} < CASE WHEN c.n <= {target} THEN 'g' ELSE {thr} END"
    )


def topk_per_group(
    df: DataFrame,
    group_cols: List[str],
    key_col: str,
    k: int,
    salt: str = "",
    rank_col: str = "rk",
) -> DataFrame:
    """Exactly-k-per-group deterministic subsample: rank rows inside each
    group by (draw, key) — the key tiebreak makes the order total — and
    keep rank ≤ k.  One hash-partitioned window (shuffle on the group
    key); at 100 TB memory per task is bounded by group size, and a hot
    group degrades to a single sorted partition, not a global sort."""
    if k < 1:
        raise ValueError("need k >= 1")
    w = Window.partitionBy(*group_cols).orderBy(
        draw_hex(F.col(key_col), salt), F.col(key_col)
    )
    return df.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= F.lit(k)
    )


def topk_per_group_sql(
    table: str,
    select_cols: Sequence[str],
    group_cols: Sequence[str],
    key_expr: str,
    k: int,
    salt: str = "",
    rank_col: str = "rk",
) -> str:
    d = draw_hex_sql(key_expr, salt)
    cols = ", ".join(select_cols)
    part = ", ".join(group_cols)
    return (
        f"SELECT {cols}, CAST(rk AS INT) AS {rank_col} FROM ("
        f"SELECT {cols}, row_number() OVER ("
        # NULLS FIRST: Spark's ascending default; DuckDB defaults LAST
        f"PARTITION BY {part} ORDER BY {d} NULLS FIRST, "
        f"{key_expr} NULLS FIRST) AS rk "
        f"FROM {table}) t WHERE rk <= {k}"
    )


def chunk_assignments(
    df: DataFrame,
    id_col: str,
    token_col: str,
    context: int,
    shard_col: str,
) -> DataFrame:
    """Concat-and-chunk packing bookkeeping — the GPT-style pretraining
    layout: documents are concatenated in (shard, id) order and the token
    stream is sliced into fixed ``context``-token windows.  Returns
    (shard, id, n_tokens, ``tok_offset``, ``chunk_first``, ``chunk_last``):
    the document's start offset in its shard's token stream and the first/
    last chunk indices its tokens land in (an empty document "lands" in
    the chunk at its offset).

    Scale shape: ONE window shuffle partitioned by SHARD — chunk ids are
    per-shard BY DESIGN, because a corpus-global chunk numbering needs a
    corpus-global order (a single-partition window: the one shape that
    can never scale).  Shards are whatever unit downstream training
    shuffles anyway (source, file, date bucket); window partition size is
    bounded by shard granularity.  All arithmetic is exact int64
    (running SUM + integer DIV), so the assignment is bit-deterministic
    and partitioning-independent — same rows on any cluster layout.

    Duplicate ids: the window orders by (id, token count) — with the
    secondary key, rows that tie on id but differ in length still get
    deterministic offsets on every engine and layout.  Rows identical in
    ALL THREE of (shard, id, tokens) remain interchangeable, which is
    harmless: whichever physical row takes the lower offset, the output
    multiset is the same.
    """
    if context <= 0:
        raise ValueError("context must be > 0")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(F.col(id_col).asc(), F.col(token_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w)
    out = df.select(
        F.col(shard_col),
        F.col(id_col),
        F.col(token_col).cast("bigint").alias(token_col),
        (cum - F.col(token_col)).cast("bigint").alias("tok_offset"),
    )
    return out.select(
        shard_col,
        id_col,
        token_col,
        "tok_offset",
        F.expr(f"tok_offset DIV {int(context)}").cast("bigint").alias("chunk_first"),
        F.when(
            F.col(token_col) > 0,
            F.expr(f"(tok_offset + {token_col} - 1) DIV {int(context)}"),
        )
        .otherwise(F.expr(f"tok_offset DIV {int(context)}"))
        .cast("bigint")
        .alias("chunk_last"),
    )


def chunk_assignments_sql(
    table: str,
    id_col: str,
    token_col: str,
    context: int,
    shard_col: str,
) -> str:
    """DuckDB mirror: same ROWS-framed running sum, same integer division
    (DuckDB ``//`` on BIGINT ≡ Spark ``DIV`` for the non-negative values
    here).  NULLS FIRST pins both sort keys to Spark's ascending default
    (DuckDB defaults NULLS LAST)."""
    cum = (
        f"SUM({token_col}) OVER (PARTITION BY {shard_col} "
        f"ORDER BY {id_col} NULLS FIRST, {token_col} NULLS FIRST "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return (
        f"SELECT {shard_col}, {id_col}, CAST({token_col} AS BIGINT) AS {token_col}, "
        f"CAST(tok_offset AS BIGINT) AS tok_offset, "
        f"CAST(tok_offset // {int(context)} AS BIGINT) AS chunk_first, "
        f"CAST(CASE WHEN {token_col} > 0 "
        f"THEN (tok_offset + {token_col} - 1) // {int(context)} "
        f"ELSE tok_offset // {int(context)} END AS BIGINT) AS chunk_last "
        f"FROM (SELECT {shard_col}, {id_col}, {token_col}, "
        f"{cum} - {token_col} AS tok_offset FROM {table}) t"
    )


def deterministic_take(
    df: DataFrame, key_col: str, n: int, salt: str = ""
) -> DataFrame:
    """Exactly-``n`` deterministic global sample: the ``n`` rows with the
    smallest md5 draw (ties broken by key) — the fixed-size companion to
    ``deterministic_sample``'s fixed-rate filter.  Reruns, incremental
    loads and audits pick the same rows; adding new rows can only evict
    the largest draws (bounded churn), unlike rate-based sampling whose
    membership is stable but whose size drifts.

    Scale shape: Spark plans ``orderBy(draw, key).limit(n)`` as
    TakeOrderedAndProject — a per-partition top-``n`` heap with a
    driver-side merge of ``partitions × n`` candidates.  No global sort,
    no shuffle of the corpus; ``n`` must be driver-bounded (it is a
    sample, not a split)."""
    if n < 1:
        raise ValueError("deterministic_take: need n >= 1")
    d = draw_hex(F.col(key_col), salt)
    return df.orderBy(d.asc(), F.col(key_col).asc()).limit(int(n))


def deterministic_take_sql(
    table: str, select_cols: Sequence[str], key_expr: str, n: int,
    salt: str = "",
) -> str:
    d = draw_hex_sql(key_expr, salt)
    cols = ", ".join(select_cols)
    return (
        f"SELECT {cols} FROM {table} "
        f"ORDER BY {d} NULLS FIRST, {key_expr} NULLS FIRST LIMIT {int(n)}"
    )


def filter_top_fraction(
    df: DataFrame,
    score_col: str,
    keep_num: int,
    keep_den: int,
) -> DataFrame:
    """Keep the TOP ``keep_num/keep_den`` fraction of rows by score —
    the quality-threshold pruning step of a curation pipeline ("train on
    the best quarter of the corpus").

    The threshold is the EXACT value at 0-indexed ascending rank
    ``((c-1)·(den-num)) // den`` over the ``c`` non-NULL/non-NaN scores
    (pure integer rank arithmetic, so the DuckDB oracle's ROW_NUMBER
    formulation lands on the identical double), computed by the same
    distributed two-pass bucket rank as quantile_edges — no global
    sort.  Rows with ``score >= threshold`` are kept, so the kept count
    is ``c - rank`` — at least ``ceil(c·num/den)`` and usually one more
    (the rank floor rounds toward keeping; exact for rank-divisible
    c-1), plus every tie AT the threshold; on tiny inputs the +1
    dominates (c=4, keep 1/4 keeps 2).  NULL/NaN scores always drop.
    Degenerate all-equal scores keep everything (threshold = the single
    value).

    Scale shape: one count/min-max aggregate + the ≤256-row bucket-count
    shuffle + one rank window per bucket to extract ONE scalar, then the
    main scan is filtered by a literal — a pushable predicate, zero
    joins."""
    from ..plans.histogram import values_at_ranks

    if not (0 < keep_num <= keep_den):
        raise ValueError("need 0 < keep_num <= keep_den")
    sc = F.col(score_col).cast("double")
    x = df.where(sc.isNotNull() & ~F.isnan(sc)).select(sc.alias("x"))
    row = x.agg(F.count("x"), F.min("x"), F.max("x")).first()
    c, lo, hi = row[0], row[1], row[2]
    if c == 0:
        raise ValueError(
            f"no non-NULL/non-NaN values in score column {score_col!r}"
        )
    if keep_num == keep_den:
        # keep-all still drops NULL/NaN scores (the contract)
        return df.where(sc.isNotNull() & ~F.isnan(sc))
    rank = ((c - 1) * (keep_den - keep_num)) // keep_den
    if lo == hi:
        thr = lo  # all scores equal: threshold is the single value
    else:
        vals = values_at_ranks(x, [rank], lo, hi)
        if rank not in vals:  # count scan and rank scan disagreed
            raise RuntimeError(
                f"rank {rank} not found on the second scan of "
                f"{score_col!r}: the input changed between passes — "
                "top-fraction filtering needs a deterministic source "
                "(cache() a nondeterministic one first)"
            )
        thr = vals[rank]
    # ~isnan is part of the predicate: BOTH engines order NaN above every
    # double, so a bare >= would quietly keep NaN-scored rows
    return df.where(~F.isnan(sc) & (sc >= F.lit(float(thr))))


def filter_top_fraction_sql(
    table: str,
    select_cols: Sequence[str],
    score_expr: str,
    keep_num: int,
    keep_den: int,
) -> str:
    """Oracle mirror: the identical integer rank over a ROW_NUMBER
    ordering (the value AT any rank of the sorted multiset is
    deterministic even under ties), then the same >= filter.

    One declared divergence: an all-NULL/NaN score column yields an
    EMPTY result here (the threshold CTE is empty) where the Python
    twin raises — SQL has no clean raise; both shapes drop every row,
    so the gate cannot be fooled by it."""
    if not (0 < keep_num <= keep_den):
        raise ValueError("need 0 < keep_num <= keep_den")
    sel = ", ".join(f"t.{c} AS {c}" for c in select_cols)
    return (
        f"WITH __s AS (SELECT CAST({score_expr} AS DOUBLE) AS x, "
        f"ROW_NUMBER() OVER (ORDER BY CAST({score_expr} AS DOUBLE)) - 1 "
        f"AS rn FROM {table} "
        f"WHERE {score_expr} IS NOT NULL AND NOT isnan({score_expr})), "
        f"__c AS (SELECT COUNT(*) AS n FROM __s), "
        f"__t AS (SELECT x AS thr FROM __s, __c "
        f"WHERE __s.rn = ((__c.n - 1) * {keep_den - keep_num}) "
        f"// {keep_den}) "
        f"SELECT {sel} FROM {table} t, __t "
        f"WHERE NOT isnan(CAST({score_expr} AS DOUBLE)) "
        f"AND CAST({score_expr} AS DOUBLE) >= __t.thr"
    )


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shard_col: str,
    context: int,
) -> DataFrame:
    """MATERIALIZE the GPT-style packed training sequences that
    :func:`chunk_assignments` only does the bookkeeping for: documents
    are concatenated in per-shard (id, token count, text) order and the
    token stream is sliced into fixed ``context``-token windows; one row
    per (shard, window) with the actual sequence text — the
    training-ready emission step.  Returns
    (shard, ``chunk_id``, ``n_seq_tokens``, ``seq_text``); every
    sequence is exactly ``context`` tokens except each shard's final
    one.  Tokens are the same whitespace split as ``chunk_windows``
    (case preserved, whitespace normalized to single spaces).
    NULL/token-free documents contribute nothing (and shift no
    offsets).

    Determinism: the packing order carries the full (id, n, text)
    tertiary key, so the output is bit-identical on any partitioning
    EVEN IF ids repeat — with only ``chunk_assignments``' (id, count)
    key, two same-id same-count docs with different text would pack in
    engine-dependent order.  Ids unique per shard (the normal contract)
    never reach the tertiary comparison.

    Scale shape: ONE window shuffle partitioned by SHARD (the same
    corpus-global-order argument as ``chunk_assignments``) + ONE
    (shard, chunk) aggregation whose groups are context-bounded; the
    chunk explode is an inline-expression ``sequence`` (never a
    materialized attribute — the InferFiltersFromGenerate trap), and a
    document's token array is materialized once.  A document spanning
    many windows emits one piece row per window — output-bounded fan-out
    of ceil(n/context) + 1."""
    from ..functions.hashing import tokens_raw

    if context <= 0:
        raise ValueError("context must be > 0")
    k = int(context)
    toks = tokens_raw(F.col(text_col))
    base = df.select(
        F.col(shard_col),
        F.col(id_col),
        F.col(text_col),
        toks.alias("__tk"),
    ).select(
        shard_col,
        id_col,
        text_col,
        "__tk",
        F.when(F.col("__tk").isNotNull(), F.size("__tk"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("__n"),
    )
    w = (
        Window.partitionBy(shard_col)
        .orderBy(
            F.col(id_col).asc(), F.col("__n").asc(), F.col(text_col).asc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = (F.sum("__n").over(w) - F.col("__n")).cast("bigint")
    e = (
        base.select(shard_col, "__tk", "__n", off.alias("__off"))
        .where(F.col("__n") >= 1)
    )
    first = F.expr(f"__off DIV {k}")
    last = F.expr(f"(__off + __n - 1) DIV {k}")
    e = e.select(
        shard_col, "__tk", "__n", "__off",
        F.explode(F.sequence(first, last)).alias("__c"),
    )
    ps = F.greatest(F.lit(0).cast("bigint"), F.col("__c") * k - F.col("__off"))
    pe = (
        F.least(F.col("__off") + F.col("__n"), (F.col("__c") + 1) * k)
        - F.col("__off")
    )
    p = e.select(
        shard_col,
        F.col("__c"),
        F.col("__off"),
        (pe - ps).alias("__plen"),
        F.array_join(
            F.slice(F.col("__tk"), ps + F.lit(1), pe - ps), " "
        ).alias("__ptxt"),
    )
    return (
        p.groupBy(F.col(shard_col), F.col("__c").cast("bigint").alias("chunk_id"))
        .agg(
            F.sum("__plen").cast("bigint").alias("n_seq_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__off").alias("o"),
                                F.col("__ptxt").alias("t"),
                            )
                        )
                    ),
                    lambda x: x["t"],
                ),
                " ",
            ).alias("seq_text"),
        )
    )


def pack_sequences_sql(
    table: str,
    text_col: str,
    id_col: str,
    shard_col: str,
    context: int,
) -> str:
    """DuckDB mirror: same split, same ROWS-framed running sum with the
    (id, n, text) NULLS FIRST order, ``generate_series`` window ids,
    ``list_slice`` 1-based inclusive end = start0 + length, and an
    ORDER BY-ed ``string_agg`` (offsets are unique within a (shard,
    window) group — zero-token docs never emit — so the order is
    total)."""
    from ..functions.hashing import tokens_raw_sql

    if context <= 0:
        raise ValueError("context must be > 0")
    k = int(context)
    toks = tokens_raw_sql(text_col)
    cum = (
        f"SUM(nt) OVER (PARTITION BY {shard_col} "
        f"ORDER BY {id_col} NULLS FIRST, nt, {text_col} NULLS FIRST "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return (
        f"WITH __b AS (SELECT {shard_col}, {id_col}, {text_col}, "
        f"{toks} AS tk FROM {table}), "
        f"__n AS (SELECT *, CAST(CASE WHEN tk IS NULL THEN 0 "
        f"ELSE len(tk) END AS BIGINT) AS nt FROM __b), "
        # SUM() is HUGEINT in DuckDB; generate_series needs BIGINT
        f"__o AS (SELECT *, CAST({cum} - nt AS BIGINT) AS off FROM __n), "
        f"__e AS (SELECT {shard_col}, tk, nt, off, "
        f"unnest(generate_series(off // {k}, (off + nt - 1) // {k})) AS c "
        f"FROM __o WHERE nt >= 1), "
        f"__p AS (SELECT {shard_col}, c, off, "
        f"least(off + nt, (c + 1) * {k}) - off "
        f"- greatest(0, c * {k} - off) AS plen, "
        f"array_to_string(list_slice(tk, greatest(0, c * {k} - off) + 1, "
        f"least(off + nt, (c + 1) * {k}) - off), ' ') AS ptxt FROM __e) "
        f"SELECT {shard_col}, CAST(c AS BIGINT) AS chunk_id, "
        f"CAST(SUM(plen) AS BIGINT) AS n_seq_tokens, "
        f"string_agg(ptxt, ' ' ORDER BY off) AS seq_text "
        f"FROM __p GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# token-weighted mixture rebalancing weights (data-mixing bookkeeping)
# ---------------------------------------------------------------------------
#
# The per-source weight computation a pretraining pipeline runs before
# sampling a mixture toward a target token distribution (cf. the domain
# reweighting in DoReMi / The Pile's per-source epochs): observed mass
# per source → weight = target_share / observed_share.  Composes with
# the existing samplers: feed ``keep_rate`` per group into
# ``stratified_sample`` (rates you supply, nothing collected).
# Round-11 gate candidate: registration deferred because the round-10
# driver window is exactly full; cross-engine pinned in
# tests/test_adversarial_oracle.py + tests/test_oracle_fuzz.py.


def _normalized_target(target: Dict[str, float]) -> Dict[str, float]:
    """Validate + normalize the target dict ONCE for both engine paths —
    the cross-engine contract depends on the Spark literals and the SQL
    literals coming from byte-identical Python doubles, so the
    normalization must not exist as two drift-prone copies
    (review-found)."""
    if not target:
        raise ValueError("target must be a non-empty {group: share} dict")
    tot = float(sum(float(v) for v in target.values()))
    if not tot > 0 or any(float(v) < 0 for v in target.values()):
        raise ValueError("target shares must be non-negative with a "
                         "positive sum")
    return {str(k): float(v) / tot for k, v in target.items()}


def _mass_agg(df: DataFrame, weight_col: Optional[str], op: str):
    """The integer group-mass aggregate shared by the mixture operators
    (one definition, not drift-prone copies): COUNT(*) when unweighted,
    else SUM over the integral ``weight_col`` with two refusals — a
    non-integral column type raises up front (bigint casts TRUNCATE in
    Spark but ROUND in DuckDB: the same value would silently produce
    different masses), and a NEGATIVE weight raises per ROW,
    pre-aggregation (advice-found, then review-found: a k-row check on
    the aggregated mass let mixed-sign rows that NET non-negative
    through silently — [-3, +5] passed as mass 2).  Downstream a
    negative mass would be indistinguishable from the zero-mass NULL
    arm, and a negative TOTAL would silently NULL every share.  One
    codegen'd integer branch per row on a column already being read.
    The TOTAL mass must fit int64 (~9.2e18 — ≈ 9 exa-tokens, orders of
    magnitude past a 100 TB corpus): past that Spark's bigint window
    sum overflows under ANSI while DuckDB silently promotes to
    HUGEINT, so the engines legitimately diverge (fuzz-pinned at the
    boundary)."""
    if weight_col is None:
        return F.count(F.lit(1))
    dt = df.schema[weight_col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"weight_col {weight_col!r} is {dt}, not an integral "
            "type — bigint casts TRUNCATE in Spark but ROUND in "
            "DuckDB, so a fractional mass would silently diverge "
            "between the engines; pre-round it explicitly"
        )
    w = F.col(weight_col).cast("bigint")
    return F.sum(
        F.when(
            w < 0,
            F.raise_error(F.concat(
                F.lit(f"{op}: negative weight "),
                w.cast("string"),
                F.lit(f" in {weight_col} — weight_col must be "
                      "non-negative"),
            )),
        ).otherwise(w)
    )


def _mass_agg_sql(weight_col: Optional[str], op: str) -> str:
    """:func:`_mass_agg`'s DuckDB mirror (type refusal is engine-side
    only — unvalidatable from a SQL string)."""
    if weight_col is None:
        return "COUNT(*)"
    wc = f"CAST({weight_col} AS BIGINT)"
    # the names repeated inside the MESSAGE string literal are
    # quote-escaped (advice-found: a weight_col containing a single
    # quote — legal in a quoted identifier or an expression — produced
    # broken SQL); output is byte-identical for quote-free names,
    # asserted literally in tests/test_adversarial_oracle.py
    mo = str(op).replace("'", "''")
    mw = str(weight_col).replace("'", "''")
    return (
        f"COALESCE(SUM(CASE WHEN {wc} < 0 THEN "
        f"CAST(error('{mo}: negative weight ' || {wc} || "
        f"' in {mw} — weight_col must be non-negative') "
        f"AS BIGINT) ELSE {wc} END), 0)"
    )


def _mix_keep_tail(frame: DataFrame, lead_cols) -> DataFrame:
    """mix_weight + keep_rate from (mass, share, target_share) — the
    guard pair EVERY mixture operator shares, defined once per engine
    (review-found: the two review-found guards below were about to
    exist in four hand-kept copies).  mix_weight is guarded on
    ``mass > 0 AND share IS NOT NULL`` (an unguarded double x/0 ERRORS
    under ANSI Spark and its semantics differ across engines anyway);
    keep_rate is guarded on ``mix_weight IS NOT NULL`` because
    ``least()`` SKIPS NULLs in both engines — least(1.0, NULL) would
    silently keep a zero-mass group whole."""
    mix = F.when(
        (F.col("mass") > 0) & F.col("share").isNotNull(),
        F.col("target_share") / F.col("share"),
    )
    return (
        frame.select(*lead_cols, mix.alias("mix_weight"))
        .withColumn(
            "keep_rate",
            F.when(
                F.col("mix_weight").isNotNull(),
                F.least(F.lit(1.0), F.col("mix_weight")),
            ),
        )
    )


def _mix_keep_tail_sql(select_cols: str) -> str:
    """:func:`_mix_keep_tail`'s DuckDB mirror: the final SELECT over a
    ``__s`` CTE carrying (mass, share, target_share, *select_cols).
    keep_rate's guard additionally requires ``target_share IS NOT
    NULL`` so it is exactly the Spark helper's mix_weight-nullability
    guard (review-found: without it the two shared tails diverge
    whenever target_share is NULL while share is not — DuckDB's
    NULL-skipping least(1.0, NULL) would emit 1.0 where Spark emits
    NULL; unreachable from today's operators, whose share and
    target_share NULL-ness coincide, but the helpers are the shared
    infrastructure future mixture operators build on)."""
    from ..binspec import flit

    guard = "mass > 0 AND share IS NOT NULL"
    return (
        f"SELECT {select_cols}, "
        f"CASE WHEN {guard} THEN target_share / share END AS mix_weight, "
        f"CASE WHEN {guard} AND target_share IS NOT NULL THEN "
        f"least({flit(1.0)}, target_share / share) END AS keep_rate "
        f"FROM __s"
    )


def _guarded_share(num_col: str, total: Column) -> Column:
    """num/total as double, NULL when the integer total is not positive
    (the all-zero-mass arm both engines must agree on)."""
    return F.when(
        total > F.lit(0),
        F.col(num_col).cast("double") / total.cast("double"),
    )


def _guarded_share_sql(num: str, den: str) -> str:
    return (
        f"CASE WHEN {den} > 0 THEN "
        f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) END"
    )


def mixture_weights(
    df: DataFrame,
    group_col: str,
    target: Dict[str, float],
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Per-group mixture rebalancing weights toward ``target`` (a
    group → relative-share dict; normalized here in PYTHON so both
    engines see identical literals).  Returns one row per observed
    group: (group, n_docs, mass, share, target_share, mix_weight,
    keep_rate) where ``mass`` is SUM(``weight_col``) — token counts in
    the intended use — or the row count when ``weight_col`` is None,
    ``share`` = mass/total, ``mix_weight`` = target_share/share and
    ``keep_rate`` = min(1, mix_weight) (the downsample rate for
    ``stratified_sample``; upsampling beyond 1 is the trainer's
    epoch-repeat decision, not a row filter's).

    Determinism across engines: ``mass`` is an INTEGER sum (order-
    independent — a double mass would hash-diverge on partition order),
    ``weight_col`` is therefore REQUIRED to be integral; the grand
    total is an integer window sum over the k group rows; every double
    is then derived by the same IEEE +,×,/ expression shape in both
    engines from exact integers and Python-normalized target literals.
    Groups observed but absent from ``target`` get target_share 0.0 →
    mix_weight 0.0 (dropped by the composed sampler — explicit, never
    silent); a NULL group key forms its own group and can only get the
    absent-arm 0.0 (dict keys are strings).  A zero-mass group gets
    share 0.0 (while the TOTAL is positive) with NULL mix_weight/
    keep_rate; when the TOTAL mass is zero every group's share/
    mix_weight/keep_rate is NULL — identically in BOTH engines
    (review-found, both guarded:
    an unguarded double x/0 ERRORS under ANSI Spark and its semantics
    differ across engines anyway; a non-integral ``weight_col`` is
    REFUSED up front because bigint casts TRUNCATE in Spark but ROUND
    in DuckDB — the same value would silently produce different
    masses).  A NEGATIVE weight RAISES in both engines, checked per ROW
    before aggregation (advice-found, then review-found: a check on the
    aggregated mass alone let mixed-sign rows that net non-negative
    through silently; unchecked, a negative mass would be conflated
    with the zero-mass NULL arm and a negative grand total would NULL
    every share) — ``weight_col`` must be non-negative, and the check
    is one codegen'd integer branch on a column already being read.

    Scale shape: ONE map-combined groupBy to k mixture-sized rows plus
    one k-row window — no join, no driver collect, no literal blowup
    beyond the target dict; the 100 TB corpus is touched exactly once."""
    shares = _normalized_target(target)
    mass = _mass_agg(df, weight_col, "mixture_weights")
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(mass, F.lit(0)).cast("bigint").alias("mass"),
    )
    total = F.sum("mass").over(Window.partitionBy())
    tgt: Column = F.lit(0.0)
    for k, s in shares.items():
        tgt = F.when(F.col(group_col) == F.lit(k), F.lit(s)).otherwise(tgt)
    base = g.select(
        group_col, "n_docs", "mass",
        _guarded_share("mass", total).alias("share"),
        tgt.alias("target_share"),
    )
    return _mix_keep_tail(
        base, [group_col, "n_docs", "mass", "share", "target_share"]
    )


def mixture_weights_sql(
    table: str,
    group_col: str,
    target: Dict[str, float],
    weight_col: Optional[str] = None,
) -> str:
    """DuckDB mirror: identical normalized-share literals (the SAME
    ``_normalized_target`` call as the engine path), integer mass +
    integer window total, and the same guard conditions on every
    division — including ``share IS NOT NULL`` on both mix_weight AND
    keep_rate (review-found: guarding keep_rate on ``mass > 0`` alone
    would let DuckDB's NULL-skipping ``least(1.0, NULL)`` silently emit
    1.0 where the engine emits NULL).  ``weight_col`` must reference an
    integral column per the engine-side contract (unvalidatable from a
    SQL string; the engine path raises for both).  A negative weight
    raises via a per-row ``error()`` arm inside the mass SUM, exactly
    like the engine path's pre-aggregation ``raise_error``."""
    from ..binspec import flit, slit

    shares = _normalized_target(target)
    mass = _mass_agg_sql(weight_col, "mixture_weights")
    arms = " ".join(
        f"WHEN {group_col} = {slit(k)} THEN {flit(s)}"
        for k, s in shares.items()
    )
    tgt = f"CASE {arms} ELSE {flit(0.0)} END"
    return (
        f"WITH __g AS (SELECT {group_col}, "
        f"CAST(COUNT(*) AS BIGINT) AS n_docs, "
        f"CAST({mass} AS BIGINT) AS mass FROM {table} GROUP BY 1), "
        f"__t AS (SELECT *, SUM(mass) OVER () AS total, {tgt} AS "
        f"target_share FROM __g), "
        f"__s AS (SELECT {group_col}, n_docs, mass, "
        f"{_guarded_share_sql('mass', 'total')} AS share, "
        f"target_share FROM __t) "
        + _mix_keep_tail_sql(f"{group_col}, n_docs, mass, share, "
                             f"target_share")
    )


# ---------------------------------------------------------------------------
# temperature-based mixture rebalancing (target derived FROM the data)
# ---------------------------------------------------------------------------
#
# The standard multilingual/pretraining rebalancing when no explicit
# target dict exists: sample group i proportionally to mass_i^α with
# α < 1 (temperature τ = 1/α flattens the mixture — the mT5 / CC-100 /
# The Pile per-source scheme), so dominant sources shrink and the tail
# grows, without anyone hand-writing shares.  Round-12 gate candidate:
# staged tested+mirrored, registration deferred (the round-11 driver
# window is exactly full at 4 new + 5 changed + 40 stale + 1 refresh).


def _check_exact_int(value, name: str, lo: int, hi: Optional[int],
                     rng: str, hint: str = "") -> int:
    """The ONE refuse-don't-approximate integer validator (review-found:
    a second hand-kept copy of the bool-exclusion/operator.index/range
    skeleton had appeared for max_repeats — the two-copies drift hazard
    the shared SQL builders were unified for).  A fractional value must
    refuse, never silently truncate (int(2.5) would quietly run a
    different parameter than the caller asked for); exactly-integral
    types (np.int64, any __index__ carrier) stay accepted; bool is
    excluded explicitly."""
    import operator

    try:
        if isinstance(value, bool):
            raise TypeError
        val = operator.index(value)
    except TypeError:
        val = None
    if val is None or val < lo or (hi is not None and val > hi):
        raise ValueError(
            f"{name} must be an integer {rng}, got {value!r}{hint}"
        )
    return val


def _check_sqrt_steps(sqrt_steps) -> int:
    """EXACT integer 1..4 via the shared validator (review history:
    int(2.5) silently ran τ=4 where the caller asked for α=2^-2.5; a
    strict isinstance(int) then refused np.int64 for no contract
    reason)."""
    return _check_exact_int(
        sqrt_steps, "sqrt_steps", 1, 4,
        "in 1..4 (α = 1/2 .. 1/16; τ = 2 .. 16)",
        " — arbitrary exponents need libm pow, which is not "
        "bit-reproducible across engines",
    )


def temperature_weights(
    df: DataFrame,
    group_col: str,
    weight_col: Optional[str] = None,
    sqrt_steps: int = 1,
) -> DataFrame:
    """Per-group mixture weights toward the TEMPERED target
    target_share_i = mass_i^α / Σ_j mass_j^α with α = 2^-``sqrt_steps``
    (τ = 2, 4, 8, 16 — the useful flattening range; τ→∞ is
    :func:`balanced_sample`'s uniform cap, τ=1 is no-op).  Returns one
    row per observed group: (group, n_docs, mass, tempered_mass, share,
    target_share, mix_weight, keep_rate) with the same column contract
    as :func:`mixture_weights` plus ``tempered_mass``.

    Why α is restricted to 2^-k: the cross-engine contract.  A general
    ``pow(mass, alpha)`` goes through libm and the JVM's and DuckDB's
    last-ulp behavior differ — the mixture would hash-diverge — while
    IEEE-754 ``sqrt`` is CORRECTLY ROUNDED in both engines, so
    ``floor(sqrt(·))`` applied k times over exact integers yields the
    same BIGINT everywhere, and the tempered total stays an
    order-independent INTEGER window sum (a double Σ mass^α would
    depend on partition order).  The integer floor after each sqrt is
    part of the operator's definition, not an approximation of
    something else: tempered masses are exact integers both engines
    agree on.  A trainer needing arbitrary α owns the libm trade-off
    itself.  ``weight_col`` follows :func:`_mass_agg`'s contract
    (integral, non-negative — negative raises per row); a zero-mass
    group tempers to 0: share and target_share are 0.0 (as long as the
    TOTAL is positive) and mix_weight/keep_rate are NULL — exactly
    :func:`mixture_weights`' arms; when the total itself is zero every
    share is NULL; NULL group keys form their own group and
    participate normally (no dict, so no absent arm).

    Scale shape: identical to :func:`mixture_weights` — ONE
    map-combined groupBy to k mixture-sized rows plus one k-row window;
    the corpus is touched exactly once; ``keep_rate`` feeds the
    samplers or :func:`rate_threshold` for the in-plan Bernoulli
    filter."""
    sqrt_steps = _check_sqrt_steps(sqrt_steps)
    mass = _mass_agg(df, weight_col, "temperature_weights")
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(mass, F.lit(0)).cast("bigint").alias("mass"),
    )
    tm: Column = F.col("mass")
    for _ in range(sqrt_steps):
        tm = F.floor(F.sqrt(tm.cast("double")))
    g = g.select(group_col, "n_docs", "mass",
                 tm.cast("bigint").alias("tempered_mass"))
    total = F.sum("mass").over(Window.partitionBy())
    ttotal = F.sum("tempered_mass").over(Window.partitionBy())
    base = g.select(
        group_col, "n_docs", "mass", "tempered_mass",
        _guarded_share("mass", total).alias("share"),
        _guarded_share("tempered_mass", ttotal).alias("target_share"),
    )
    return _mix_keep_tail(
        base,
        [group_col, "n_docs", "mass", "tempered_mass", "share",
         "target_share"],
    )


def temperature_weights_sql(
    table: str,
    group_col: str,
    weight_col: Optional[str] = None,
    sqrt_steps: int = 1,
) -> str:
    """DuckDB mirror: the same integer masses, the same k-fold
    floor(sqrt(·)) tempering (IEEE sqrt is correctly rounded in both
    engines, so the tempered BIGINTs are identical), integer window
    totals, and the same guard on every division."""
    sqrt_steps = _check_sqrt_steps(sqrt_steps)
    mass = _mass_agg_sql(weight_col, "temperature_weights")
    tm = "mass"
    for _ in range(sqrt_steps):
        tm = f"CAST(floor(sqrt(CAST({tm} AS DOUBLE))) AS BIGINT)"
    return (
        f"WITH __g AS (SELECT {group_col}, "
        f"CAST(COUNT(*) AS BIGINT) AS n_docs, "
        f"CAST({mass} AS BIGINT) AS mass FROM {table} GROUP BY 1), "
        f"__m AS (SELECT {group_col}, n_docs, mass, "
        f"{tm} AS tempered_mass FROM __g), "
        f"__t AS (SELECT *, SUM(mass) OVER () AS total, "
        f"SUM(tempered_mass) OVER () AS ttotal FROM __m), "
        f"__s AS (SELECT {group_col}, n_docs, mass, tempered_mass, "
        f"{_guarded_share_sql('mass', 'total')} AS share, "
        f"{_guarded_share_sql('tempered_mass', 'ttotal')} AS "
        f"target_share FROM __t) "
        + _mix_keep_tail_sql(f"{group_col}, n_docs, mass, tempered_mass, "
                             f"share, target_share")
    )


# ---------------------------------------------------------------------------
# epoch-repeat upsampling (materialize the full target composition)
# ---------------------------------------------------------------------------
#
# The trainer-side half the mixture operators deliberately defer:
# ``keep_rate`` = min(1, mix_weight) only THINS over-represented groups
# — under-represented ones (mix_weight > 1) are rebalanced by repeating
# their rows across epochs (the mT5 / The Pile per-source-epochs
# scheme).  ``epoch_plan`` turns a mixture frame's mix_weight into
# (n_epochs = floor, epoch_frac = remainder); ``upsample_corpus``
# materializes it — each row appears n_epochs times plus once more with
# probability epoch_frac, so EVERY group lands on its target share in
# expectation with ONE operator (mix_weight < 1 degenerates to exactly
# the keep_rate Bernoulli thinning: floor 0 + frac w).  Round-13 gate
# candidate: staged tested+mirrored (the temperature_weights pattern).


def _check_max_repeats(max_repeats) -> int:
    """EXACT integer ≥ 1 via the shared validator (review-found:
    int(2.5) would quietly cap at 2 while the caller asked for 2.5)."""
    return _check_exact_int(max_repeats, "max_repeats", 1, None, ">= 1")


def epoch_plan(weights: DataFrame, max_repeats: int = 1024) -> DataFrame:
    """Append ``n_epochs`` (BIGINT floor of mix_weight) and
    ``epoch_frac`` (the fractional remainder, in [0, 1)) to a
    :func:`mixture_weights` / :func:`temperature_weights` output frame.
    A NULL mix_weight (the zero-mass arm) yields NULL/NULL — the group
    contributes nothing downstream, consistently with keep_rate; an
    absent-from-target 0.0 yields (0, 0.0) — dropped by the
    materializer, explicit never silent.  Exactness: floor and the
    subtraction are single IEEE-exact double ops on a value both
    engines already agree on, so n_epochs and epoch_frac hash-match
    bit-identically.  ``mix_weight`` must be NULL or FINITE: the
    mixture operators can never emit NaN, but a hand-computed frame
    could, and the engines would silently diverge on it (advice-found:
    Spark's ``floor`` swallows NaN→0 INSIDE the Floor expression —
    before any ANSI cast check — while DuckDB's CAST raises), so a NaN
    mix_weight RAISES in both engines; -Infinity RAISES its own arm
    (review-found: it would otherwise reach floor(), where DuckDB's
    cast errors but legacy-mode Spark silently yields Long.MIN_VALUE);
    +Infinity falls to the max_repeats raise (inf > mr) — every
    non-finite input is explicit-never-silent.  ``max_repeats`` bounds the TOTAL repeats a row
    can materialize — n_epochs plus the possible fractional extra — so
    the guard raises whenever ``mix_weight > max_repeats`` (exactly
    max_repeats with zero remainder passes; review-found: a guard on
    floor alone let mix_weight 1024.9 materialize 1025 repeats under
    the default).  The RAISE fires in both engines at the k-row level
    (zero corpus cost): a runaway mix_weight — a tiny observed share
    against a big target — would otherwise silently explode the
    materialized corpus by that factor; the trainer that really wants
    more epochs says so."""
    mr = _check_max_repeats(max_repeats)
    n = F.floor(F.col("mix_weight")).cast("bigint")
    checked = F.when(
        F.isnan(F.col("mix_weight")),
        F.raise_error(F.lit(
            "epoch_plan: mix_weight is NaN — the plan requires NULL or "
            "a finite mix_weight (the mixture operators encode the "
            "zero-mass arm as NULL, never NaN)"
        )).cast("bigint"),
    ).when(
        # -Infinity would otherwise reach floor(): DuckDB's cast raises
        # while legacy-mode Spark silently yields Long.MIN_VALUE — the
        # exact silent divergence the NaN arm exists to prevent
        # (review-found; +Infinity falls to the max_repeats raise below)
        F.col("mix_weight") == F.lit(float("-inf")),
        F.raise_error(F.lit(
            "epoch_plan: mix_weight is -Infinity — the plan requires "
            "NULL or a finite mix_weight"
        )).cast("bigint"),
    ).when(
        F.col("mix_weight") > F.lit(float(mr)),
        F.raise_error(F.concat(
            F.lit("epoch_plan: mix_weight "),
            F.col("mix_weight").cast("string"),
            F.lit(f" can materialize more than max_repeats={mr} "
                  "repeats — raise max_repeats explicitly if the "
                  "materialized blowup is intended"),
        )).cast("bigint"),
    ).otherwise(n)
    return weights.withColumn("n_epochs", checked).withColumn(
        "epoch_frac",
        F.when(
            F.col("mix_weight").isNotNull(),
            F.col("mix_weight") - F.floor(F.col("mix_weight")),
        ),
    )


def epoch_plan_sql(inner_sql: str, max_repeats: int = 1024) -> str:
    """:func:`epoch_plan`'s DuckDB mirror over an inner mixture query
    (floor/subtraction are the same IEEE-exact ops; the max_repeats and
    NaN refusals are the same CASE arms via ``error()`` — isnan(NULL)
    is NULL in DuckDB and false in Spark, so the NULL zero-mass arm
    falls through identically in both engines)."""
    from ..binspec import flit

    mr = _check_max_repeats(max_repeats)
    n = "CAST(floor(mix_weight) AS BIGINT)"
    return (
        f"SELECT *, "
        f"CASE WHEN isnan(mix_weight) THEN "
        f"CAST(error('epoch_plan: mix_weight is NaN — the plan "
        f"requires NULL or a finite mix_weight (the mixture operators "
        f"encode the zero-mass arm as NULL, never NaN)') AS BIGINT) "
        f"WHEN mix_weight = CAST('-infinity' AS DOUBLE) THEN "
        f"CAST(error('epoch_plan: mix_weight is -Infinity — the plan "
        f"requires NULL or a finite mix_weight') AS BIGINT) "
        f"WHEN mix_weight > {flit(float(mr))} THEN "
        f"CAST(error('epoch_plan: mix_weight "
        f"' || CAST(mix_weight AS VARCHAR) || ' can materialize more "
        f"than max_repeats={mr} repeats — raise max_repeats explicitly "
        f"if the materialized blowup is intended') AS BIGINT) "
        f"ELSE {n} END AS n_epochs, "
        f"CASE WHEN mix_weight IS NOT NULL THEN "
        f"mix_weight - floor(mix_weight) END AS epoch_frac "
        f"FROM ({inner_sql})"
    )


# Output + join-helper names upsample_corpus reserves across BOTH
# engines (the union — each engine uses a subset, but one contract is
# one contract): a corpus frame carrying any of them would hit
# ambiguous-reference errors or silently duplicate an output column
# (advice-found: re-upsampling a previously materialized frame carries
# repeat_idx; a frame that went through epoch_plan carries
# n_epochs/epoch_frac — the latter are safe now that the helpers are
# __u-prefixed, the former must be dropped or renamed explicitly).
_UPSAMPLE_RESERVED = frozenset({
    "repeat_idx", "__ugrp", "__un_epochs", "__uepoch_frac",
    "__uplanned", "__ud8", "__un",
})


def _check_upsample_columns(cols: Sequence[str], group_col: str) -> None:
    clash = _UPSAMPLE_RESERVED.intersection({*cols, group_col})
    if clash:
        raise ValueError(
            f"upsample_corpus: corpus columns {sorted(clash)} collide "
            "with the reserved output/helper names "
            f"({sorted(_UPSAMPLE_RESERVED)}) — rename or drop them "
            "first (a previously materialized frame carries "
            "repeat_idx; re-upsampling it must re-key explicitly)"
        )


def upsample_corpus(
    df: DataFrame,
    group_col: str,
    plan: DataFrame,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Materialize an :func:`epoch_plan`: each row of ``df`` appears
    ``n_epochs`` times plus ONE more iff its draw (md5 of salt+key,
    partitioning-independent) < floor(epoch_frac·2³²), tagged
    ``repeat_idx`` 1..n — so group i's expected mass lands on
    mix_weight_i × its observed mass, i.e. the target composition, in
    one operator.  mix_weight < 1 groups degenerate to exactly the
    keep_rate Bernoulli thinning (n_epochs 0 + fractional draw);
    NULL-plan groups (zero mass) and 0.0 groups (absent from target)
    contribute nothing.  ``plan`` must hold ONE row per group AND
    cover the corpus, and BOTH violations RAISE in both engines
    (review-found, two passes: an inner join silently dropped
    corpus groups with no plan row — a plan computed over a filtered
    or stale snapshot would silently lose a newly-appeared group —
    and a duplicate plan key silently multiplied the join fan-out,
    materializing the corpus at a multiple of its target with
    duplicate repeat_idx values; the tagged multi-sqrt_steps UNION
    shape the driver gate itself uses makes that mistake easy, so the
    k-row duplicate check is a window count on the broadcast side,
    nearly free; the mixture operators' contract is
    explicit-never-silent).

    Scale shape: the k-row plan broadcasts onto one corpus scan; the
    repeat expansion is a codegen'd ``explode(sequence(...))`` — rows
    fan out map-side AFTER the join, so the shuffle-free plan ships no
    repeated bytes (the write at the end is the only cost that scales
    with the blowup, and max_repeats bounds it).  The Spark sequence()
    RAISES on an empty range (1..0), so the array is guarded NULL for
    n_total < 1 and explode (not explode_outer) drops those rows —
    DuckDB's generate_series(1, 0) is empty and unnest drops the row:
    the same contract through different engine idioms.

    Reserved names: the corpus frame must not carry ``repeat_idx`` or
    any ``__u*`` helper (see ``_UPSAMPLE_RESERVED``) — RAISES up front
    with the full list (advice-found: unqualified helper names made a
    re-upsampled or epoch_plan-annotated corpus fail with an opaque
    ambiguous-reference error; the helpers are now __u-prefixed so
    plan-frame column names like n_epochs/epoch_frac are fine on the
    corpus side, and the one genuinely colliding output column
    repeat_idx gets a contract message instead)."""
    cols = list(df.columns)
    _check_upsample_columns(cols, group_col)
    ndup = F.count(F.lit(1)).over(Window.partitionBy(group_col))
    planned = F.when(
        ndup > 1,
        F.raise_error(F.concat(
            F.lit("upsample_corpus: duplicate plan row for group "),
            F.coalesce(F.col(group_col).cast("string"), F.lit("NULL")),
            F.lit(" — the plan must hold ONE row per group (did a "
                  "tagged/unioned mixture frame reach the "
                  "materializer?)"),
        )).cast("boolean"),
    ).otherwise(F.lit(True))
    rates = F.broadcast(plan.select(
        F.col(group_col).alias("__ugrp"),
        F.col("n_epochs").alias("__un_epochs"),
        F.col("epoch_frac").alias("__uepoch_frac"),
        planned.alias("__uplanned"),
    ))
    joined = df.join(
        rates, df[group_col].eqNullSafe(rates["__ugrp"]), "left"
    )
    draw = H.hex8_val(draw_hex(F.col(key_col), salt))
    extra = F.when(
        draw < rate_threshold(F.col("__uepoch_frac")), F.lit(1)
    ).otherwise(F.lit(0))
    total = F.when(
        F.col("__uplanned").isNull(),
        F.raise_error(F.concat(
            F.lit("upsample_corpus: group "),
            F.coalesce(df[group_col].cast("string"), F.lit("NULL")),
            F.lit(" has no plan row — the plan must be computed over "
                  "the same corpus"),
        )).cast("bigint"),
    ).otherwise((F.col("__un_epochs") + extra).cast("bigint"))
    seq = F.when(
        total >= 1,
        F.sequence(F.lit(1).cast("bigint"), total, F.lit(1).cast("bigint")),
    )
    return joined.select(*cols, F.explode(seq).alias("repeat_idx"))


def upsample_corpus_sql(
    table: str,
    group_col: str,
    plan_sql: str,
    key_col: str,
    cols: Sequence[str],
    salt: str = "",
) -> str:
    """:func:`upsample_corpus`'s DuckDB mirror (``cols`` lists the
    corpus columns to carry — the engine side takes them from
    ``df.columns``; a SQL string cannot).  The draw is bound ONCE as a
    CTE column before the nibble recomposition reads it (the
    hashing.py binding rule — review-found: pasting the md5 expression
    into hex8_val_sql recomputed the hash eight times per row); the
    unplanned-group ``error()`` arm and the LEFT JOIN mirror the
    engine side's explicit-never-silent coverage raise, and the
    duplicate-plan-key window count mirrors its fan-out raise.  NULL n_total
    rows are dropped by the explicit ``WHERE`` (unnest(NULL) would
    drop them anyway — the predicate keeps the contract visible),
    empty generate_series(1, 0) drops the n_total=0 rows exactly like
    the engine side's NULL-guarded sequence.  The same
    ``_UPSAMPLE_RESERVED`` contract raise guards ``cols`` (plus the
    group/key columns) up front — one contract, both engines."""
    _check_upsample_columns([*cols, key_col], group_col)
    # __ud must carry group_col even when the caller's cols omit it —
    # the join ON clause and the coverage-raise message read it
    # (review-found: the draw-binding CTE regressed column subsets
    # that leave the group column out)
    ud_cols = list(cols) + ([group_col] if group_col not in cols else [])
    udcols = ", ".join(f"d.{c}" for c in ud_cols)
    dcols = ", ".join(f"d.{c}" for c in cols)
    jcols = ", ".join(str(c) for c in cols)
    draw = draw_hex_sql(f"d.{key_col}", salt)
    return (
        f"WITH __upl AS ({plan_sql}), "
        f"__ud AS (SELECT {udcols}, {draw} AS __ud8 FROM {table} d), "
        f"__uj AS (SELECT {dcols}, "
        f"CASE WHEN p.__uplanned IS NULL THEN "
        f"CAST(error('upsample_corpus: group ' || "
        f"COALESCE(CAST(d.{group_col} AS VARCHAR), 'NULL') || "
        f"' has no plan row — the plan must be computed over the same "
        f"corpus') AS BIGINT) "
        f"ELSE p.n_epochs + CASE WHEN {H.hex8_val_sql('__ud8')} < "
        f"{rate_threshold_sql('p.epoch_frac')} THEN 1 ELSE 0 END "
        f"END AS __un "
        f"FROM __ud d LEFT JOIN "
        f"(SELECT *, CASE WHEN COUNT(*) OVER (PARTITION BY "
        f"{group_col}) > 1 THEN CAST(error('upsample_corpus: duplicate "
        f"plan row for group ' || COALESCE(CAST({group_col} AS "
        f"VARCHAR), 'NULL') || ' — the plan must hold ONE row per "
        f"group (did a tagged/unioned mixture frame reach the "
        f"materializer?)') AS BOOLEAN) ELSE TRUE END AS __uplanned "
        f"FROM __upl) p "
        f"ON d.{group_col} IS NOT DISTINCT FROM p.{group_col}) "
        f"SELECT {jcols}, unnest(generate_series(CAST(1 AS BIGINT), __un)) "
        f"AS repeat_idx FROM __uj WHERE __un >= 1"
    )
