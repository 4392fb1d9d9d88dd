"""End-to-end document curation: the composed training-data pipeline the
individual operators exist for — exact-dedup keep → text features
(quality / language / token counts) → threshold filters → deterministic
split assignment — as ONE Spark plan.

Scale shape (the point of composing in-engine instead of materializing
stages): the whole pipeline is a single scan with exactly ONE shuffle —
the ``row_number`` window on the text fingerprint that implements
"keep the first occurrence of each distinct text" (an aggregate+join
formulation would shuffle twice and rescan).  Every feature column is
row-level Column arithmetic fused into the same projection, the quality/
language filters cut rows before the (pure-projection, shuffle-free)
split assignment, and nothing Python-side touches the data path.  At
100 TB the one shuffle carries (fingerprint, id) pairs — the dedup cost
floor — and everything else is map work.

Determinism: md5 fingerprints, the deterministic language argmax, exact
double arithmetic for quality, and the md5-draw split thresholds are all
bit-identical in DuckDB, so the full pipeline is oracle-gated end to end
(the oracle composes the per-operator SQL mirrors as CTEs — same values,
engine keeps the fused one-pass plan)."""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..binspec import flit, slit
from ..functions import hashing as H
from .sampling import assign_splits, assign_splits_sql
from .text import (
    GOPHER_METRIC_NAMES,
    STOPWORDS,
    _stop_hits,
    gopher_cols,
    gopher_keep_col,
    gopher_metric_exprs,
    gopher_rules_sql,
    lang_hit_cols,
    lang_id_sql,
    lang_pred_col,
    pii_cols,
    pii_scrub_sql,
    quality_cols,
    quality_score_sql,
    token_count_cols,
    token_count_sql,
)


#: Pushdown-barrier column name (round 13).  Filters over computed feature
#: aliases get pushed below the feature Project with alias substitution,
#: re-inlining the tokenizer/argmax expression trees into the Filter (the
#: built-in-expression form of the UDF-duplication problem the
#: optimization guide §4.4 fixes with asNondeterministic).  The push rule
#: only requires the PROJECT's fields to all be deterministic — predicate
#: determinism is irrelevant — so the barrier is a non-deterministic
#: column (``spark_partition_id()``) in the feature projection that each
#: filter references via an always-true conjunct (partition ids are
#: non-negative, so ``>= -1`` always holds and the filtered rows are
#: identical).  The reference keeps ColumnPruning from deleting the
#: barrier (which would re-deterministify the projection); the column is
#: dropped before the result surfaces.  (``rand() < 2.0`` in the
#: predicate does NOT work: Spark 4 constant-folds out-of-range rand
#: bounds back to true.)
_BARRIER = "__nopush"


def _with_barrier(cond: str) -> str:
    """Spark SQL text: ``cond`` AND the always-true barrier-column guard
    (see _BARRIER)."""
    return f"({cond}) AND {_BARRIER} >= -1"

DEFAULT_SPLITS: Tuple[Tuple[str, float], ...] = (
    ("train", 0.9), ("val", 0.05), ("test", 0.05),
)


def curate_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    quality_min: Optional[float] = None,
    langs: Optional[Sequence[str]] = None,
    splits: Sequence[Tuple[str, float]] = DEFAULT_SPLITS,
    salt: str = "",
    wide_rows: bool = True,
) -> DataFrame:
    """Curated corpus rows: (id, lang_pred, quality features…, token
    counts…, split), exact-duplicate texts collapsed to their lowest-id
    occurrence, optionally filtered to ``quality >= quality_min`` and
    ``lang_pred ∈ langs``.

    ``wide_rows`` picks the dedup shuffle shape (SCALE.md "Curation
    pipeline"); both produce identical rows.  True (default): ONE
    fingerprint ``row_number`` window — the full row rides one shuffle;
    right when the text column dominates the row anyway.  False: the
    narrow two-shuffle alternative — project to (fingerprint, id), take
    ``min(id)`` per fingerprint (map-combined, narrow rows only), then
    semi-join the keeper ids back.  The join-back exchanges the corpus
    ON ITS ID, not the computed fingerprint — so with id-bucketed/sorted
    storage (the realistic 100 TB layout) that exchange disappears into
    a co-located join and the wide text column never moves at all,
    which a window over a computed key can never exploit."""
    splits = list(splits)
    if splits:
        if len(splits) < 2:
            raise ValueError("curate_documents: need >= 2 splits (or ())")
        total = sum(f for _, f in splits)
        if not (0.999 <= total <= 1.001):
            raise ValueError(
                f"curate_documents: split fractions sum to {total}, expected 1"
            )
    qid, qtext = H.q(id_col), H.q(text_col)
    fp = f"md5(CAST({qtext} AS BINARY))"
    if wide_rows:
        kept = df.withColumn(
            "__rn",
            F.expr(f"row_number() OVER (PARTITION BY {fp} ORDER BY {qid})"),
        ).where("__rn = 1")
    else:
        keepers = (
            df.selectExpr(f"{fp} AS __fp", qid)
            .groupBy("__fp")
            .agg(F.expr(f"min({qid}) AS {qid}"))
            .select(id_col)
        )
        kept = df.join(keepers, id_col, "left_semi")
    # Staged feature projections (round 13): tokenize ONCE, materialize
    # the per-language hit counts + count bases, then compute the outputs
    # from attributes — the single-projection form re-tokenized ~19×/row
    # (argmax when-chain re-embeds each hit up to 2^(len(LANGS)-1) times,
    # quality re-embeds the tokenizer per ratio).  Values identical.
    pre = kept.selectExpr(qid, qtext, f"{H.tokens(qtext)} AS __toks")
    base = pre.select(
        F.col(id_col),
        *lang_hit_cols(text_col, toks="__toks"),
        F.expr(
            f"CAST(length(regexp_replace({qtext}, '[^A-Za-z]', '')) AS DOUBLE) "
            "AS __q_alpha"
        ),
        *token_count_cols(text_col, toks="__toks"),
    )
    hits = {lang: f"__h_{lang}" for lang in STOPWORDS}
    # quality's stop base IS the English hit count, and its ntok/nchars
    # are the token/char counts — reuse the materialized columns (the
    # bigint→double casts produce bit-identical doubles for these exact
    # integer counts)
    qbase = {
        "ntok": "CAST(n_tokens AS DOUBLE)",
        "nchars": "CAST(n_chars AS DOUBLE)",
        "alpha": "__q_alpha",
        "stop": "CAST(__h_en AS DOUBLE)",
    }
    out = base.select(
        F.col(id_col),
        lang_pred_col(text_col, hits=hits),
        *quality_cols(text_col, base=qbase),
        *[F.col(c) for c in ("n_tokens", "n_pieces", "n_subwords", "n_chars")],
        F.expr(f"spark_partition_id() AS {_BARRIER}"),
    )
    if quality_min is not None:
        out = out.where(_with_barrier(f"quality >= {H.dlit(quality_min)}"))
    if langs is not None:
        in_langs = ", ".join(H.sstr(x) for x in langs)
        # no languages keep no rows (SQL has no empty IN list)
        cond = f"lang_pred IN ({in_langs})" if in_langs else "false"
        out = out.where(_with_barrier(cond))
    out = out.drop(_BARRIER)
    if splits:
        out = assign_splits(out, id_col, splits, salt=salt)
    return out


def curate_documents_sql(
    table: str,
    text_col: str,
    id_col: str,
    *,
    quality_min: Optional[float] = None,
    langs: Optional[Sequence[str]] = None,
    splits: Sequence[Tuple[str, float]] = DEFAULT_SPLITS,
    salt: str = "",
) -> str:
    """DuckDB mirror: per-operator SQL mirrors composed as CTEs over the
    dedup-kept rows (different plan, identical values)."""
    kept = (
        f"SELECT * FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {H.md5_hex_sql(text_col)} ORDER BY {id_col}) AS __rn "
        f"FROM {table}) kr WHERE __rn = 1"
    )
    preds = []
    if quality_min is not None:
        preds.append(f"q.quality >= {flit(float(quality_min))}")
    if langs is not None:
        preds.append(
            "l.lang_pred IN (" + ", ".join(slit(x) for x in langs) + ")"
        )
    where = f"WHERE {' AND '.join(preds)} " if preds else ""
    split_sel = ""
    if list(splits):
        split_sel = f", {assign_splits_sql(f'q.{id_col}', splits, salt)} AS split"
    return (
        f"WITH kept AS ({kept}), "
        f"q AS ({quality_score_sql('kept', text_col, id_col)}), "
        f"l AS ({lang_id_sql('kept', text_col, id_col)}), "
        f"t AS ({token_count_sql('kept', text_col, id_col)}) "
        f"SELECT q.{id_col}, l.lang_pred, q.mean_tok_len, q.alpha_ratio, "
        f"q.stop_ratio, q.quality, t.n_tokens, t.n_pieces, t.n_subwords, "
        f"t.n_chars{split_sel} "
        f"FROM q JOIN l USING ({id_col}) JOIN t USING ({id_col}) {where}"
    )


# Effective Gopher thresholds for the per-rule breakdown — MUST stay equal
# to text.gopher_cols' keyword defaults (drift-pinned by
# tests/test_operators.py::test_report_gopher_defaults_in_sync; duplicated
# here so the breakdown never perturbs gopher_cols' driver-verified path).
_GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "max_bullet_frac": 0.9,
    "max_ellipsis_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_required_words": 2,
}

# (output column, gopher_cols metric, fail comparison, threshold key):
# '<' fails when metric < threshold (a minimum rule), '>' when metric >
# threshold (a maximum rule).  One entry per conjunct of gopher keep.
_RULE_FAILS = (
    ("n_fail_min_words", "n_words", "<", "min_words"),
    ("n_fail_max_words", "n_words", ">", "max_words"),
    ("n_fail_min_word_len", "mean_word_len", "<", "min_mean_word_len"),
    ("n_fail_max_word_len", "mean_word_len", ">", "max_mean_word_len"),
    ("n_fail_symbol_ratio", "symbol_ratio", ">", "max_symbol_ratio"),
    ("n_fail_bullet_lines", "frac_bullet_lines", ">", "max_bullet_frac"),
    ("n_fail_ellipsis_lines", "frac_ellipsis_lines", ">",
     "max_ellipsis_frac"),
    ("n_fail_alpha_words", "frac_alpha_words", "<", "min_alpha_word_frac"),
    ("n_fail_required_words", "n_required", "<", "min_required_words"),
)

# output aggregates AND the intermediate feature names corpus_report
# selects alongside the group key — a group column shadowing either
# would make the select ambiguous, so both are reserved
_REPORT_RESERVED = frozenset({
    "n_docs", "sum_tokens", "sum_chars", "n_gopher_keep",
    "n_docs_with_pii", "n_pii_spans", "min_quality", "max_quality",
    "n_tokens", "n_chars", "quality", "keep", "n_pii",
    # gopher metric intermediates + the per-rule fail counts
    "n_words", "mean_word_len", "frac_alpha_words", "symbol_ratio",
    "frac_bullet_lines", "frac_ellipsis_lines", "n_required",
    *(name for name, _, _, _ in _RULE_FAILS),
    # round-13 staged-projection internals
    "__toks", "__lines", "__q_alpha", "__q_stop",
})


def corpus_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    **gopher_thresholds,
) -> DataFrame:
    """Per-group corpus health report — the k-row dashboard a 100 TB
    pipeline runs after every ingest: doc/token/char volumes, Gopher-rule
    keep counts, PII incidence (docs and spans), and the quality-score
    envelope, grouped by ``group_col`` (source, language, shard …).

    Scale shape: every feature is a fused row-level projection from the
    shared col builders (token counts, quality, Gopher metrics + keep,
    PII total), so the whole report is ONE scan + ONE map-combined
    groupBy shuffle with a k-row output.  ``id_col`` is unused by the
    engine path (rows need no identity to aggregate) but the oracle
    mirror keys its composed per-operator mirrors on a synthesized row
    number, so duplicate or NULL ids are fine on BOTH sides.
    Determinism: the aggregates are COUNT/integer SUM
    (order-independent) and MIN/MAX of the deterministic quality double
    — never a float SUM/AVG, whose cross-engine accumulation order would
    break the oracle hash.

    Per-rule Gopher breakdown: one ``n_fail_<rule>`` count per conjunct
    of the keep predicate (which rule killed how many docs per source),
    computed from the metric columns ``gopher_cols`` already projects in
    the same fused scan.  A NULL-text doc has NULL metrics, fails no
    individual rule (CASE's ELSE 0 on both engines), and is not counted
    kept — so ``sum(n_fail_*) >= n_docs - n_gopher_keep - n_null_text``
    with multi-rule failures counted once per rule."""
    if group_col in _REPORT_RESERVED:
        raise ValueError(
            f"group_col {group_col!r} collides with a corpus_report "
            "output or intermediate feature column"
        )
    thr = {**_GOPHER_DEFAULTS, **gopher_thresholds}
    # Staged feature projections (round 13): one materialized token/line
    # array level, one metric/base level, then the outputs from
    # attributes — same staging as curate_documents / gopher_rules; the
    # old single fused projection re-tokenized per consumer.  Values
    # identical; still ONE scan + ONE map-combined groupBy exchange.
    text = F.col(text_col)
    pre = df.select(
        F.col(group_col), text,
        F.expr(H.tokens(H.q(text_col))).alias("__toks"),
        F.split(text, "\n", -1).alias("__lines"),
    )
    tok = token_count_cols(text_col, toks="__toks")
    m = gopher_metric_exprs(
        text_col, toks=F.col("__toks"), lines=F.col("__lines")
    )
    stop_en = _stop_hits("__toks", STOPWORDS["en"])
    mid = pre.select(
        F.col(group_col),
        tok[0],                                   # n_tokens
        tok[3],                                   # n_chars
        F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
        .cast("double")
        .alias("__q_alpha"),
        F.expr(f"CAST({stop_en} AS DOUBLE) AS __q_stop"),
        *gopher_cols(text_col, metrics=m, **gopher_thresholds)[:-1],
        pii_cols(text_col)[-1],                   # n_pii
    )
    qbase = {
        "ntok": "CAST(n_tokens AS DOUBLE)",
        "nchars": "CAST(n_chars AS DOUBLE)",
        "alpha": "__q_alpha",
        "stop": "__q_stop",
    }
    feats = mid.select(
        F.col(group_col),
        F.col("n_tokens"),
        F.col("n_chars"),
        quality_cols(text_col, base=qbase)[-1],   # quality
        *[F.col(name) for name in GOPHER_METRIC_NAMES],
        gopher_keep_col(
            {name: F.col(name) for name in GOPHER_METRIC_NAMES},
            **gopher_thresholds,
        ).alias("keep"),
        F.col("n_pii"),
    )
    fail_aggs = [
        F.sum(
            F.when(
                F.col(metric) < F.lit(thr[key]) if op == "<"
                else F.col(metric) > F.lit(thr[key]),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias(out)
        for out, metric, op, key in _RULE_FAILS
    ]
    return feats.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_gopher_keep"),
        *fail_aggs,
        # when/otherwise (not a bare cast) so NULL-text rows contribute 0
        # on BOTH engines even in an all-NULL group
        F.sum(
            F.when(F.col("n_pii") > 0, F.lit(1)).otherwise(F.lit(0))
        ).cast("bigint").alias("n_docs_with_pii"),
        F.sum("n_pii").cast("bigint").alias("n_pii_spans"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


def corpus_report_sql(
    table: str,
    text_col: str,
    id_col: str,
    group_col: str,
    **gopher_thresholds,
) -> str:
    """DuckDB mirror (oracle-side shape only — the engine keeps the
    fused one-pass plan): the table is materialized ONCE with a
    synthesized unique row number (``AS MATERIALIZED`` pins the CTE so
    an inlined re-evaluation cannot renumber rows), the per-operator
    mirrors run over that base keyed on the row number, and the joins
    are therefore exactly 1:1 even when the corpus has duplicate or
    NULL doc ids — the pre-dedup state an ingest report runs on.
    Aggregated with the same order-independent functions."""
    if group_col in _REPORT_RESERVED:
        raise ValueError(
            f"group_col {group_col!r} collides with a corpus_report "
            "output or intermediate feature column"
        )
    base = (
        f"SELECT {group_col}, {text_col}, "
        f"ROW_NUMBER() OVER () AS __rid FROM {table}"
    )
    p = pii_scrub_sql("__b", text_col, "__rid")
    g = gopher_rules_sql("__b", text_col, "__rid", **gopher_thresholds)
    t = token_count_sql("__b", text_col, "__rid")
    q = quality_score_sql("__b", text_col, "__rid")
    thr = {**_GOPHER_DEFAULTS, **gopher_thresholds}

    def _lit(v) -> str:
        return flit(v) if isinstance(v, float) else str(int(v))

    fails = " ".join(
        f"CAST(SUM(CASE WHEN __g.{metric} {op} {_lit(thr[key])} "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS {out},"
        for out, metric, op, key in _RULE_FAILS
    )
    return (
        f"WITH __b AS MATERIALIZED ({base}), "
        f"__p AS ({p}), __g AS ({g}), __t AS ({t}), __q AS ({q}) "
        f"SELECT __b.{group_col}, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        f"CAST(SUM(__t.n_tokens) AS BIGINT) AS sum_tokens, "
        f"CAST(SUM(__t.n_chars) AS BIGINT) AS sum_chars, "
        f"CAST(SUM(CAST(__g.keep AS INT)) AS BIGINT) AS n_gopher_keep, "
        f"{fails} "
        f"CAST(SUM(CASE WHEN __p.n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_docs_with_pii, "
        f"CAST(SUM(__p.n_pii) AS BIGINT) AS n_pii_spans, "
        f"MIN(__q.quality) AS min_quality, MAX(__q.quality) AS max_quality "
        f"FROM __b "
        f"JOIN __p ON __p.__rid = __b.__rid "
        f"JOIN __g ON __g.__rid = __b.__rid "
        f"JOIN __t ON __t.__rid = __b.__rid "
        f"JOIN __q ON __q.__rid = __b.__rid "
        f"GROUP BY __b.{group_col}"
    )
