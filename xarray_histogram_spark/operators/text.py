"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting — row-level Column arithmetic (fully codegen'd, no
shuffle except where aggregation is inherent) with exact DuckDB mirrors."""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..binspec import flit, slit
from ..functions import hashing as H

# small built-in stopword sets (top function words) per language
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "den", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr": ("le", "la", "de", "et", "un", "est", "pas", "pour", "que", "dans"),
}
LANGS = tuple(STOPWORDS)


def _tok(text_col: str) -> Column:
    return F.expr(H.tokens(H.q(text_col)))


# GPT-2-style pre-tokenization pieces: letter runs / digit runs / punctuation
# runs (whitespace separates, never counted).  Restricted to syntax Java
# regex (Spark) and RE2 (DuckDB) interpret identically: explicit character
# classes only — no lookahead, no \s (whose class differs by one codepoint
# between the engines).
BPE_PIECE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]+"


def token_count_cols(text_col: str, toks: Optional[str] = None) -> list:
    """The token-count Column expressions (shared by ``token_count`` and
    the one-pass curation pipeline), each parsed from one Spark SQL
    string.  ``toks`` substitutes a pre-materialized token-array column
    by name (identical values either way)."""
    text = H.q(text_col)
    if toks is None:
        toks = H.tokens(text)
    return [
        F.expr(s) for s in (
            f"CAST(size({toks}) AS BIGINT) AS n_tokens",
            f"CAST(regexp_count({text}, {H.sstr(BPE_PIECE_RE)}) AS BIGINT) "
            "AS n_pieces",
            f"CAST(ceil(CAST(length({text}) AS DOUBLE) / 4.0D) AS BIGINT) "
            "AS n_subwords",
            f"CAST(length({text}) AS BIGINT) AS n_chars",
        )
    ]


def token_count(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace tokens, BPE-ish pre-tokenizer pieces (regex runs — the
    GPT-2 pre-tokenization shape), a ceil(chars/4) subword-count proxy, and
    raw characters."""
    return df.select(F.col(id_col), *token_count_cols(text_col))


def token_count_sql(table: str, text_col: str, id_col: str) -> str:
    toks = H.tokens_sql(text_col)
    return (
        f"SELECT {id_col}, CAST(len({toks}) AS BIGINT) AS n_tokens, "
        f"CAST(len(regexp_extract_all({text_col}, '{BPE_PIECE_RE}')) AS BIGINT) "
        f"AS n_pieces, "
        f"CAST(ceil(CAST(length({text_col}) AS DOUBLE) / {flit(4.0)}) AS BIGINT) "
        f"AS n_subwords, "
        f"CAST(length({text_col}) AS BIGINT) AS n_chars FROM {table}"
    )


def _stop_hits(toks: str, words) -> str:
    """Spark SQL text: how many tokens of the array ``toks`` are in
    ``words``."""
    lst = ", ".join(H.sstr(w) for w in words)
    return f"size(filter({toks}, _w -> _w IN ({lst})))"


def _stop_hits_sql(toks: str, words) -> str:
    lst = ", ".join(slit(w) for w in words)
    return f"len(list_filter({toks}, t -> t IN ({lst})))"


def quality_cols(text_col: str, base: Optional[dict] = None) -> list:
    """The quality-feature Column expressions (shared by ``quality_score``
    and the one-pass curation pipeline), each parsed from one Spark SQL
    string.  ``base`` (ntok/nchars/alpha/stop → Spark SQL text over
    materialized columns) substitutes pre-materialized DOUBLE count
    bases so the ratio / score arithmetic re-references cheap attributes
    instead of re-embedding the tokenizer and regexp subtrees; the
    default inlines them — identical values either way."""
    if base is not None:
        n_tok, n_chars = base["ntok"], base["nchars"]
        alpha, stop = base["alpha"], base["stop"]
    else:
        text = H.q(text_col)
        toks = H.tokens(text)
        n_tok = f"CAST(size({toks}) AS DOUBLE)"
        n_chars = f"CAST(length({text}) AS DOUBLE)"
        alpha = (
            f"CAST(length(regexp_replace({text}, '[^A-Za-z]', '')) AS DOUBLE)"
        )
        stop = f"CAST({_stop_hits(toks, STOPWORDS['en'])} AS DOUBLE)"
    mean_tok_len = f"({n_chars} / nullif({n_tok}, 0.0D))"
    alpha_ratio = f"({alpha} / nullif({n_chars}, 0.0D))"
    stop_ratio = f"({stop} / nullif({n_tok}, 0.0D))"
    score = (
        f"{alpha_ratio} * 0.5D + {stop_ratio} * 0.3D + "
        f"CASE WHEN {mean_tok_len} >= 3.0D AND {mean_tok_len} <= 10.0D "
        "THEN 0.2D ELSE 0.0D END"
    )
    return [
        F.expr(f"{mean_tok_len} AS mean_tok_len"),
        F.expr(f"{alpha_ratio} AS alpha_ratio"),
        F.expr(f"{stop_ratio} AS stop_ratio"),
        F.expr(f"{score} AS quality"),
    ]


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality features + combined score:
    mean token length, alpha ratio, stopword ratio, score = their product
    blend.  Pure row-level double arithmetic (deterministic).

    Stays a SINGLE projection (round-13 measurement): whole-stage codegen
    subexpression elimination already dedups the repeated count subtrees
    within one projection list, so a staged pre-projection only added a
    copy pass (145 → 190 ms at sf0.1).  The staged ``base=`` path exists
    for the curation pipeline, where the filter/projection split defeats
    per-operator CSE."""
    return df.select(F.col(id_col), *quality_cols(text_col))


def quality_score_sql(table: str, text_col: str, id_col: str) -> str:
    toks = H.tokens_sql(text_col)
    n_tok = f"CAST(len({toks}) AS DOUBLE)"
    n_chars = f"CAST(length({text_col}) AS DOUBLE)"
    alpha = f"CAST(length(regexp_replace({text_col}, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
    stop = f"CAST({_stop_hits_sql(toks, STOPWORDS['en'])} AS DOUBLE)"
    mtl = f"({n_chars} / NULLIF({n_tok}, {flit(0.0)}))"
    ar = f"({alpha} / NULLIF({n_chars}, {flit(0.0)}))"
    sr = f"({stop} / NULLIF({n_tok}, {flit(0.0)}))"
    score = (
        f"{ar} * {flit(0.5)} + {sr} * {flit(0.3)} + "
        f"CASE WHEN {mtl} >= {flit(3.0)} AND {mtl} <= {flit(10.0)} "
        f"THEN {flit(0.2)} ELSE {flit(0.0)} END"
    )
    return (
        f"SELECT {id_col}, {mtl} AS mean_tok_len, {ar} AS alpha_ratio, "
        f"{sr} AS stop_ratio, {score} AS quality FROM {table}"
    )


def lang_hit_cols(text_col: str, toks: Optional[str] = None) -> list:
    """Per-language stopword hit counts as aliased ``__h_{lang}`` columns —
    materialize these in a projection and feed the attributes to
    ``lang_pred_col(hits=...)``: the argmax when-chain embeds each hit
    expression up to 2^(len(LANGS)-1) times, so inlined hits re-tokenize
    the text ~12× per row (round-13 measurement: lang_id 277 → 188 ms at
    sf0.1 from this materialization alone, values identical).  ``toks``
    substitutes a pre-materialized token-array column by name."""
    if toks is None:
        toks = H.tokens(H.q(text_col))
    return [
        F.expr(f"{_stop_hits(toks, ws)} AS __h_{lang}")
        for lang, ws in STOPWORDS.items()
    ]


def lang_pred_col(text_col: str, hits: Optional[dict] = None) -> Column:
    """The language-ID Column expression (shared by ``lang_id`` and the
    one-pass curation pipeline).  ``hits`` (lang → Spark SQL text)
    substitutes pre-materialized hit counts (see ``lang_hit_cols``); the
    default inlines them — identical values either way."""
    if hits is None:
        toks = H.tokens(H.q(text_col))
        hits = {lang: _stop_hits(toks, ws) for lang, ws in STOPWORDS.items()}
    # deterministic argmax: fold in declared order, strict > keeps earlier lang
    best, best_n = "'und'", "0"
    for lang in LANGS:
        h = hits[lang]
        best = f"CASE WHEN {h} > {best_n} THEN {H.sstr(lang)} ELSE {best} END"
        best_n = f"CASE WHEN {h} > {best_n} THEN {h} ELSE {best_n} END"
    return F.expr(f"{best} AS lang_pred")


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """n-gram/stopword-heuristic language ID: argmax of per-language stopword
    hit counts (ties broken by LANGS order), 'und' when no hits.

    Plan shape (round 13): hit counts materialize once per row in their
    own projection; the nested when-chain argmax then compares cheap
    attributes instead of re-embedding (and re-tokenizing) each hit
    expression up to 2^(len(LANGS)-1) times."""
    pre = df.select(F.col(id_col), *lang_hit_cols(text_col))
    hits = {lang: f"__h_{lang}" for lang in STOPWORDS}
    return pre.select(F.col(id_col), lang_pred_col(text_col, hits=hits))


def lang_id_sql(table: str, text_col: str, id_col: str) -> str:
    toks = H.tokens_sql(text_col)
    hits = {l: _stop_hits_sql(toks, ws) for l, ws in STOPWORDS.items()}
    best, best_n = "'und'", "0"
    for lang in LANGS:
        h = hits[lang]
        best = f"CASE WHEN {h} > {best_n} THEN {slit(lang)} ELSE {best} END"
        best_n = f"CASE WHEN {h} > {best_n} THEN {h} ELSE {best_n} END"
    return f"SELECT {id_col}, {best} AS lang_pred FROM {table}"


def fingerprint(df: DataFrame, text_col: str, id_col: str, k: int = 8) -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalised lowercase text +
    min-shingle rolling fingerprint (winnowing-style representative hash).

    Plan shape (round 13): the normalised text materializes once in its
    own projection — the shingle transform's lambda body re-evaluates its
    outer-reference argument per element (higher-order functions are
    interpreted, no subexpression elimination), so an inlined ``norm``
    re-ran the lower+regexp_replace chain once per shingle position."""
    # explicit class, not \s: Java \s matches U+000B, RE2's (DuckDB)
    # does not — the same one-codepoint hazard hashing._WS_CLASS documents
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), H._WS_CLASS, " "))
    pre = df.select(F.col(id_col), norm.alias("__norm"))
    nrm = F.col("__norm")
    fp_doc = F.md5(nrm.cast("binary"))
    mins = F.expr(
        f"array_min(transform({H.shingles('__norm', k)}, "
        "_s -> md5(CAST(_s AS BINARY))))"
    )
    return pre.select(
        F.col(id_col), fp_doc.alias("fp_doc"), mins.alias("fp_shingle")
    )


def fingerprint_sql(table: str, text_col: str, id_col: str, k: int = 8) -> str:
    norm = f"trim(regexp_replace(lower({text_col}), '{H._WS_CLASS}', ' ', 'g'))"
    sh = H.shingles_sql(norm, k)
    return (
        f"SELECT {id_col}, md5({norm}) AS fp_doc, "
        f"list_min(list_transform({sh}, s -> md5(s))) AS fp_shingle "
        f"FROM {table}"
    )


def top_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_df: int = 1,
    n_docs: int | None = None,
) -> DataFrame:
    """TF-IDF-style top-``k`` terms per document (BM25's rational idf).

    score = tf · (N − df + 0.5)/(df + 0.5), where tf is the in-document
    term count, df the number of documents containing the term, N the
    corpus size.  The rational idf is BM25's (Robertson-Spärck Jones)
    numerator/denominator WITHOUT the log: the log is monotone, so per-
    document rankings are identical, and the rational form is exact IEEE
    arithmetic — bit-reproducible across engines (a libm ``ln`` is not).
    Ties break on the term string so the emitted rows are deterministic.

    Plan shape (designed for a 100 TB corpus):
    1. tokenize + explode (codegen'd generator, map-only);
    2. tf: groupBy(doc, term) — THE big shuffle, map-side combined, rows
       out ≤ distinct (doc, term) pairs;
    3. df: groupBy(term) over the tf output (already aggregated — the raw
       corpus is NOT rescanned), map-side combined; ``min_df`` prunes the
       long rare-term tail right here, before the join;
    4. tf ⋈ df on term: plain equi-join, left AQE pick broadcast when the
       pruned vocabulary is small; term keys are near-uniform after
       aggregation, no skew handling needed;
    5. top-k: row_number window partitioned by document — one final
       shuffle of aggregated rows.

    ``n_docs``: corpus size N; by default ONE count job runs eagerly at
    plan-build time (same pattern as histogram range inference).
    """
    if k < 1:
        raise ValueError("top_terms: need k >= 1")
    if min_df < 1:
        raise ValueError("top_terms: need min_df >= 1")
    if n_docs is None:
        n_docs = df.count()
    toks = df.select(
        F.col(id_col), F.explode(_tok(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    if min_df > 1:
        dfreq = dfreq.where(F.col("df_t") >= F.lit(min_df))
    n = F.lit(float(n_docs))
    score = tf["tf"].cast("double") * (
        (n - F.col("df_t").cast("double") + F.lit(0.5))
        / (F.col("df_t").cast("double") + F.lit(0.5))
    )
    from pyspark.sql.window import Window

    scored = tf.join(dfreq, "term").select(
        F.col(id_col), F.col("term"), F.col("tf"), score.alias("score")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.lit(k))
        .drop("rn")
    )


def top_terms_sql(
    table: str, text_col: str, id_col: str, k: int = 5, min_df: int = 1
) -> str:
    """DuckDB mirror of ``top_terms`` (same rational idf, same tie-break)."""
    toks = H.tokens_sql(text_col)
    return (
        f"WITH toks AS (SELECT {id_col}, unnest({toks}) AS term FROM {table}), "
        f"tf AS (SELECT {id_col}, term, CAST(COUNT(*) AS BIGINT) AS tf "
        f"FROM toks GROUP BY {id_col}, term), "
        f"dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term "
        f"HAVING COUNT(*) >= {min_df}), "
        f"n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM {table}) "
        f"SELECT {id_col}, term, tf, score FROM ("
        f"SELECT tf.{id_col}, tf.term, tf.tf, "
        f"CAST(tf.tf AS DOUBLE) * ((n.n_docs - CAST(dfreq.df_t AS DOUBLE) + {flit(0.5)}) "
        f"/ (CAST(dfreq.df_t AS DOUBLE) + {flit(0.5)})) AS score, "
        f"row_number() OVER (PARTITION BY tf.{id_col} "
        f"ORDER BY score DESC, tf.term) AS rn "
        f"FROM tf JOIN dfreq USING (term) CROSS JOIN n) "
        f"WHERE rn <= {k}"
    )


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Repetition signals for quality filtering (the Gopher-rules family):

    - ``token_distinct_ratio``: |distinct tokens| / |tokens| — low values
      mean token-level repetition (keyword stuffing, boilerplate loops);
    - ``line_dup_ratio``: 1 − |distinct lines| / |lines| — duplicated-line
      share (templated pages, chat logs);
    - ``shingle3_distinct_ratio``: |distinct char 3-grams| / |3-grams| —
      character-level repetition robust to tokenization.

    Pure per-row Column arithmetic (array_distinct / array ops), no
    shuffle; ratios are single IEEE divisions of exact integer counts, so
    the DuckDB mirror hash-matches bit-for-bit.  NULL when the text has
    no tokens/lines (empty input carries no signal).

    Plan shape (round 13): the token / line / shingle arrays materialize
    once each in stacked projections — every array is consumed twice
    (size + array_distinct), and the shingle transform's lambda would
    otherwise re-run ``lower(text)`` per shingle position (higher-order
    lambdas re-evaluate outer references per element)."""
    text = F.col(text_col)
    toks = _tok(text_col)
    lines = F.filter(F.split(text, "\n"), lambda l: l != "")
    pre = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        lines.alias("__lines"),
        F.lower(text).alias("__low"),
    )
    # shingles in a second level: the transform's substring runs over the
    # materialized __low attribute, not the lower(text) expression
    sh2 = pre.select(
        F.col(id_col), F.col("__toks"), F.col("__lines"), F.col("__low"),
        F.expr(H.shingles("__low", 3)).alias("__sh"),
    )
    n_tok = F.size(F.col("__toks")).cast("double")
    tok_ratio = F.size(F.array_distinct(F.col("__toks"))).cast(
        "double"
    ) / F.nullif(n_tok, F.lit(0.0))
    n_lines = F.size(F.col("__lines")).cast("double")
    line_dup = F.lit(1.0) - F.size(F.array_distinct(F.col("__lines"))).cast(
        "double"
    ) / F.nullif(n_lines, F.lit(0.0))
    n_sh = F.size(F.col("__sh")).cast("double")
    # NULL text must be guarded BEFORE the shingle helper: greatest(NULL-2,
    # 1) manufactures a [NULL] 1-shingle array on both engines, and then
    # Spark's array_distinct KEEPS the NULL (ratio 1.0) while DuckDB's
    # list_distinct DROPS it (ratio 0.0) — NULL text carries no signal, so
    # the ratio is NULL, mirrored with an explicit CASE.  __low is NULL
    # exactly when the text is NULL (lower preserves NULL).
    sh_ratio = F.when(
        F.col("__low").isNotNull(),
        F.size(F.array_distinct(F.col("__sh"))).cast("double") / F.nullif(
            n_sh, F.lit(0.0)
        ),
    )
    return sh2.select(
        F.col(id_col),
        tok_ratio.alias("token_distinct_ratio"),
        line_dup.alias("line_dup_ratio"),
        sh_ratio.alias("shingle3_distinct_ratio"),
    )


def repetition_stats_sql(table: str, text_col: str, id_col: str) -> str:
    toks = H.tokens_sql(text_col)
    n_tok = f"CAST(len({toks}) AS DOUBLE)"
    tok_ratio = (
        f"CAST(len(list_distinct({toks})) AS DOUBLE) / "
        f"NULLIF({n_tok}, {flit(0.0)})"
    )
    lines = (
        f"list_filter(regexp_split_to_array({text_col}, '\\n'), l -> l != '')"
    )
    n_lines = f"CAST(len({lines}) AS DOUBLE)"
    line_dup = (
        f"{flit(1.0)} - CAST(len(list_distinct({lines})) AS DOUBLE) / "
        f"NULLIF({n_lines}, {flit(0.0)})"
    )
    sh = H.shingles_sql(f"lower({text_col})", 3)
    n_sh = f"CAST(len({sh}) AS DOUBLE)"
    sh_ratio = (
        f"CASE WHEN {text_col} IS NOT NULL THEN "
        f"CAST(len(list_distinct({sh})) AS DOUBLE) / "
        f"NULLIF({n_sh}, {flit(0.0)}) END"
    )
    return (
        f"SELECT {id_col}, {tok_ratio} AS token_distinct_ratio, "
        f"{line_dup} AS line_dup_ratio, "
        f"{sh_ratio} AS shingle3_distinct_ratio FROM {table}"
    )


def remove_repeated_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_occurrences: int = 1,
    keep_first: bool = False,
) -> DataFrame:
    """Corpus-wide repeated-line removal (the C4/RefinedWeb boilerplate
    filter): drop every line occurring in more than ``max_occurrences``
    documents-lines across the WHOLE corpus (navigation chrome, cookie
    banners, templated footers), reassembling each document's remaining
    lines in order.  Returns (id, text_clean, n_lines_removed).

    Scale shape: one line explode (generator), ONE map-combined count
    aggregate per distinct line — grouping is skew-safe even for a line
    repeated 10⁸ times (partial aggregation collapses it per task; a
    window-over-line formulation would instead hash all copies to one
    partition) — a join against the BROADCAST offending-line set (bounded
    by lines violating the cap, i.e. the boilerplate vocabulary), and one
    groupBy(doc) to reassemble.  Reassembly sorts each doc's surviving
    (index, line) structs — array_sort on the leading int — so the output
    text is byte-identical to splicing the original.

    ``keep_first`` is not implemented corpus-wide (it would need a global
    order); the filter drops ALL copies of an offending line, matching C4.

    With ``max_occurrences=1`` over a big corpus the offending-line set
    is every line occurring twice or more, which can exceed
    broadcast/driver memory: set ``spark.sql.optimizer.disableHints=true``
    on the session to drop the hint — Spark then picks the join strategy
    by size (the line keys are uniform hashes of content, so a shuffle
    join is skew-safe).
    """
    if keep_first:
        raise NotImplementedError(
            "keep_first needs a corpus-global order; C4 semantics drop all "
            "copies of an offending line"
        )
    parts = F.split(F.col(text_col), "\n")
    lines = df.select(
        F.col(id_col), F.posexplode(parts).alias("__i", "__line")
    )
    bad = (
        lines.groupBy("__line")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > F.lit(int(max_occurrences)))
        .select("__line", F.lit(True).alias("__bad"))
    )
    flagged = lines.join(F.broadcast(bad), "__line", "left")
    kept_arr = F.array_sort(
        F.collect_list(
            F.when(
                F.col("__bad").isNull(),
                F.struct(F.col("__i").alias("i"), F.col("__line").alias("line")),
            )
        )
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n", F.transform(kept_arr, lambda s: s["line"])
            ).alias("text_clean"),
            F.sum(
                F.when(F.col("__bad").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).cast("bigint").alias("n_lines_removed"),
        )
    )


def remove_repeated_lines_sql(
    table: str, text_col: str, id_col: str, max_occurrences: int = 1
) -> str:
    """DuckDB mirror of ``remove_repeated_lines``."""
    return (
        f"WITH parts AS (SELECT {id_col}, "
        f"regexp_split_to_array({text_col}, '\\n') AS ls FROM {table}), "
        f"flat AS (SELECT {id_col}, s['i'] AS i, s['line'] AS line FROM "
        f"(SELECT {id_col}, unnest(list_transform("
        f"generate_series(1, len(ls)), i -> {{'i': i, 'line': ls[i]}})) AS s "
        f"FROM parts) u), "
        f"bad AS (SELECT line FROM flat GROUP BY line "
        f"HAVING COUNT(*) > {int(max_occurrences)}) "
        f"SELECT f.{id_col}, "
        f"COALESCE(string_agg(f.line, chr(10) ORDER BY f.i) "
        f"FILTER (WHERE b.line IS NULL), '') AS text_clean, "
        f"CAST(COUNT(*) FILTER (WHERE b.line IS NOT NULL) AS BIGINT) "
        f"AS n_lines_removed "
        f"FROM flat f LEFT JOIN bad b ON f.line = b.line "
        f"GROUP BY f.{id_col}"
    )


def vocabulary(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 1000,
    min_df: int = 1,
) -> DataFrame:
    """Corpus vocabulary: the top-``k`` terms by total occurrence count —
    the tokenizer-training / frequency-cutoff primitive.  Returns
    (term, tf, df_t, rank): total occurrences, document frequency, and
    the 1-based rank under the deterministic (tf desc, term asc) order.

    Plan shape at corpus scale: tokenize+explode (map-only generator) →
    groupBy(doc, term) — THE input-proportional shuffle, map-side
    combined, rows out ≤ distinct (doc, term) pairs → groupBy(term) over
    that OUTPUT (sum + count — no distinct aggregate, no corpus rescan)
    → ``min_df`` prune → global top-k via TakeOrderedAndProject
    (per-partition heaps, driver merges k rows — output-bounded, never a
    global sort of the vocabulary).  The rank column is a row_number
    over the k already-taken rows (single partition of k rows — bounded
    by construction)."""
    if k < 1:
        raise ValueError("vocabulary: need k >= 1")
    if min_df < 1:
        raise ValueError("vocabulary: need min_df >= 1")
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col), F.explode(_tok(text_col)).alias("term"))
    per_doc = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("c"))
    vocab = per_doc.groupBy("term").agg(
        F.sum("c").cast("bigint").alias("tf"),
        F.count(F.lit(1)).cast("bigint").alias("df_t"),
    )
    if min_df > 1:
        vocab = vocab.where(F.col("df_t") >= F.lit(int(min_df)))
    top = vocab.orderBy(F.col("tf").desc(), F.col("term")).limit(int(k))
    w = Window.orderBy(F.col("tf").desc(), F.col("term"))
    return top.select(
        "term", "tf", "df_t", F.row_number().over(w).cast("int").alias("rank")
    )


def vocabulary_sql(
    table: str, text_col: str, id_col: str, k: int = 1000, min_df: int = 1
) -> str:
    toks = (
        f"SELECT {id_col}, unnest({H.tokens_sql(text_col)}) AS term FROM {table}"
    )
    having = f"HAVING COUNT(*) >= {int(min_df)} " if min_df > 1 else ""
    return (
        f"WITH toks AS ({toks}), "
        f"pd AS (SELECT {id_col}, term, COUNT(*) AS c FROM toks "
        f"GROUP BY {id_col}, term), "
        f"vocab AS (SELECT term, CAST(SUM(c) AS BIGINT) AS tf, "
        f"CAST(COUNT(*) AS BIGINT) AS df_t FROM pd GROUP BY term {having}) "
        f"SELECT term, tf, df_t, CAST(row_number() OVER "
        f"(ORDER BY tf DESC, term) AS INT) AS rank FROM vocab "
        f"ORDER BY tf DESC, term LIMIT {int(k)}"
    )


def dup_ngram_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Corpus-level duplicate-n-gram fraction per document: for each doc,
    the share of its DISTINCT token n-grams that also occur in at least
    one other document.  The cross-document complement of
    ``repetition_stats`` (which scores repetition *inside* a doc) and the
    standard "duplicate n-gram fraction" curation signal.

    Shape: per-row distinct n-gram arrays (zero shuffle), ONE explode +
    hash-partition on the gram with a window ``COUNT(*) OVER (PARTITION BY
    gram)`` for document frequency — no self-join, so the gram relation is
    shuffled once, not twice — then one output-bounded ``groupBy(doc)``.
    A viral gram concentrates its copies in one partition (same skew as
    any df computation); AQE skew handling applies.  Docs with no n-gram
    (null text or fewer than ``n`` tokens) are absent from the output on
    both engines.

    100 TB: two input-proportional shuffles total (gram rows, then
    doc-grouped rows) of narrow (id, gram-hash-sized) rows; everything
    else is per-row array work.
    """
    from pyspark.sql.window import Window

    n = _check_ngram_n(n)
    toks = _tok(text_col)
    grams = _gram_array(toks, n, distinct=True)
    g = df.select(F.col(id_col), F.explode(grams).alias("__g"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("__g"))
    return (
        g.select(F.col(id_col), dfreq.alias("__df"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("__df") >= 2, F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_dup"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "n_dup",
            (F.col("n_dup").cast("double") / F.col("n_grams").cast("double")).alias(
                "dup_frac"
            ),
        )
    )


def dup_ngram_stats_sql(table: str, text_col: str, id_col: str, n: int = 3) -> str:
    """DuckDB mirror: same tokenizer, list_distinct n-grams, window df."""
    n = _check_ngram_n(n)
    toks = H.tokens_sql(text_col)
    grams = _grams_sql(toks, n, distinct=True)
    return (
        f"WITH g AS (SELECT {id_col}, unnest({grams}) AS g FROM {table}), "
        f"d AS (SELECT {id_col}, "
        f"COUNT(*) OVER (PARTITION BY g) AS dfreq FROM g), "
        f"p AS (SELECT {id_col}, COUNT(*) AS n_grams, "
        f"CAST(SUM(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup "
        f"FROM d GROUP BY {id_col}) "
        f"SELECT {id_col}, n_grams, n_dup, "
        f"CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac FROM p"
    )


def _check_ngram_n(n) -> int:
    """EXACT integer n ≥ 1 via the ONE shared validator
    (review-found: a third hand-kept copy of the bool-exclusion/
    __index__/range skeleton appeared here and reintroduced the
    np.int64 refusal the shared validator exists to prevent).  Applied
    by BOTH gram operators and both SQL builders — a fractional n
    would interpolate ``i + 1.5`` into the oracle SQL and bool True
    would silently run n=1 semantics."""
    from .sampling import _check_exact_int

    return _check_exact_int(n, "n", 1, None, ">= 1")


def _gram_array(toks, n: int, distinct: bool):
    """Token n-gram array column shared by :func:`dup_ngram_stats` and
    :func:`ngram_familiarity` (ONE expression, not synced copies — the
    ``tokens_raw`` precedent; review-found: four drifting kernel
    copies): space-joined n-token windows with the short-doc guard —
    Spark's sequence(1, m) REVERSES when m < 1 where DuckDB's
    generate_series is empty, so guard to the empty list and short
    docs drop identically in both engines."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _grams_sql(toks: str, n: int, distinct: bool) -> str:
    """DuckDB twin of :func:`_gram_array` (same sharing contract)."""
    g = (
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )
    return f"list_distinct({g})" if distinct else g


def ngram_familiarity(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Corpus-relative n-gram familiarity per document — the
    integer-exact analog of CCNet/KenLM-style perplexity filtering:
    every token n-gram OCCURRENCE in a doc is scored by that gram's
    total occurrence count across the WHOLE corpus, and the doc's
    familiarity is the mean corpus count per occurrence,
    ``fam_sum / n_grams``.  Fluent text built from corpus-common
    constructions scores high; gibberish, OCR noise and
    foreign-corpus contamination score low (every gram still scores
    ≥ 1 — its own occurrence — so familiarity ≥ 1.0 exactly when a doc
    has grams at all).  Returns (id, ``n_grams``, ``fam_sum``,
    ``familiarity``); docs with NULL text or fewer than ``n`` tokens
    have no grams and are absent from the output on both engines
    (the ``dup_ngram_stats`` contract).  Threshold/top-fraction
    filters compose downstream exactly as with the other quality
    scores.

    Why mean-count instead of mean log-probability: the cross-engine
    contract.  A KenLM-style mean log P needs libm ``log`` — whose
    last-ulp behavior differs between the JVM and DuckDB — AND a
    float SUM whose accumulation order is partition-dependent; either
    would hash-diverge.  ``fam_sum`` is an order-independent INTEGER
    sum and ``familiarity`` is ONE exact IEEE division of two
    integers, so the score is bit-identical everywhere — and the
    monotone ranking a threshold filter actually consumes is the same
    kind of signal.

    Shape (the ``dup_ngram_stats`` audit): per-row gram arrays (zero
    shuffle, occurrences kept — NOT distinct: frequency weighting is
    the point), ONE explode + hash-partition on the gram with a window
    ``COUNT(*) OVER (PARTITION BY gram)`` for the corpus count — no
    counts-table self-join, so the gram relation shuffles once — then
    one output-bounded ``groupBy(doc)`` integer sum.  100 TB: two
    input-proportional shuffles of narrow (id, gram) rows; a viral
    gram skews one partition exactly like any document-frequency
    computation (AQE skew handling applies)."""
    from pyspark.sql.window import Window

    n = _check_ngram_n(n)
    toks = _tok(text_col)
    grams = _gram_array(toks, n, distinct=False)
    g = df.select(F.col(id_col), F.explode(grams).alias("__g"))
    cfreq = F.count(F.lit(1)).over(Window.partitionBy("__g"))
    return (
        g.select(F.col(id_col), cfreq.alias("__c"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("__c").cast("bigint").alias("fam_sum"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "fam_sum",
            (F.col("fam_sum").cast("double")
             / F.col("n_grams").cast("double")).alias("familiarity"),
        )
    )


def ngram_familiarity_sql(
    table: str, text_col: str, id_col: str, n: int = 2
) -> str:
    """DuckDB mirror: same tokenizer, same occurrence-kept gram lists,
    window corpus count, integer sum and the single exact division."""
    n = _check_ngram_n(n)
    toks = H.tokens_sql(text_col)
    grams = _grams_sql(toks, n, distinct=False)
    return (
        f"WITH g AS (SELECT {id_col}, unnest({grams}) AS g FROM {table}), "
        f"c AS (SELECT {id_col}, "
        f"COUNT(*) OVER (PARTITION BY g) AS cfreq FROM g), "
        f"p AS (SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_grams, "
        f"CAST(SUM(cfreq) AS BIGINT) AS fam_sum FROM c GROUP BY {id_col}) "
        f"SELECT {id_col}, n_grams, fam_sum, "
        f"CAST(fam_sum AS DOUBLE) / CAST(n_grams AS DOUBLE) "
        f"AS familiarity FROM p"
    )


# ---------------------------------------------------------------------------
# PII detection + redaction
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB)
# interpret identically: explicit character classes, bounded quantifiers,
# alternation (leftmost-FIRST in both engines) — no lookaround, no \s/\d
# shorthand classes, no backreferences.  Replacement tokens contain no
# '$' or '\' (special in Java's replacement strings, literal in DuckDB's).
# ORDER MATTERS and is part of the contract: each pattern is counted and
# redacted against the text AFTER all earlier patterns were redacted, so
# e.g. digits inside an already-redacted e-mail can never double-fire the
# phone/IPv4 rules.  Both engines apply the same chain.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<ID>"),
    ("phone", r"\+[0-9]{7,15}|[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    # separator-formatted card numbers only — three explicit groupings
    # (Amex 4-6-5, Diners 4-6-4, 16/15/14-digit 4-4-4-x), each anchored
    # on a [3-6] first digit (every real PAN network; kills the
    # year-list/score false positives like "1914 1918 1939 1945" that a
    # bare 4-digit-group run redacts).  A bare [0-9]{14,16} run is too
    # false-positive-prone for a scrubber, and none of these shapes can
    # collide with the 3-3-4 phone / 3-2-4 SSN patterns earlier in the
    # chain (their dash spacing differs).
    (
        "cc",
        r"[3-6][0-9]{3}[ -][0-9]{6}[ -][0-9]{5}"
        r"|[3-6][0-9]{3}[ -][0-9]{6}[ -][0-9]{4}"
        r"|[3-6][0-9]{3}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{2,4}",
        "<CC>",
    ),
    (
        "ipv4",
        r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
        "<IP>",
    ),
)

# Unseparated-PAN candidates — the most common leaked card form, which the
# separator-only "cc" patterns above pass through by design.  A bare
# digit-run regex alone is hopeless on precision, so candidates are (a)
# word-boundary-delimited (\b is the same ASCII [A-Za-z0-9_] boundary in
# Java regex and RE2 — still inside the shared syntax subset), (b)
# anchored on a [3-6] first digit like the separated patterns, (c) 13-16
# digits (every real network length), and (d) REDACTED ONLY IF the Luhn
# checksum holds — computed engine-side as a pure integer fold over the
# digit positions (zero Python, zero UDFs; `list_sum`/`list_filter` in
# the DuckDB mirror).  This step runs in the chain right after "cc"
# (order is part of the contract, see PII_PATTERNS) and reports as
# ``n_cc_raw``.
CC_RAW_RE = r"\b[3-6][0-9]{12,15}\b"

# The chain entry the Luhn step is anchored after.  Guarded at import so
# a rename/split of the separated-card entry cannot silently drop
# bare-PAN scrubbing from BOTH mirrors at once (they would degrade
# identically, so no oracle mismatch would fire).
_CC_RAW_AFTER = "cc"
assert any(n == _CC_RAW_AFTER for n, _, _ in PII_PATTERNS), (
    "PII_PATTERNS no longer contains the %r entry the Luhn bare-PAN "
    "step is anchored after — re-anchor _CC_RAW_AFTER" % (_CC_RAW_AFTER,)
)


def _luhn_ok(p: Column) -> Column:
    """Luhn checksum as a JVM integer fold: 1-based position i from the
    RIGHT, even positions doubled with the classic >9 ⇒ −9 wrap, sum
    divisible by 10.  ``p`` is all-digits by construction (CC_RAW_RE)."""
    rev = F.reverse(p)

    def term(i: Column) -> Column:
        d = F.ascii(rev.substr(i, F.lit(1))) - F.lit(48)
        dbl = d * F.lit(2)
        return F.when(
            i % F.lit(2) == F.lit(0),
            F.when(dbl > F.lit(9), dbl - F.lit(9)).otherwise(dbl),
        ).otherwise(d)

    s = F.aggregate(
        F.sequence(F.lit(1), F.length(p)), F.lit(0),
        lambda acc, i: acc + term(i),
    )
    return s % F.lit(10) == F.lit(0)


def _luhn_sql(var: str) -> str:
    """DuckDB mirror of :func:`_luhn_ok` — same fold, same wrap."""
    d = f"ascii(substr(reverse({var}), i, 1)) - 48"
    return (
        f"list_sum(list_transform(generate_series(1, len({var})), i -> "
        f"CASE WHEN i % 2 = 0 THEN "
        f"CASE WHEN 2*({d}) > 9 THEN 2*({d}) - 9 ELSE 2*({d}) END "
        f"ELSE {d} END)) % 10 = 0"
    )


def pii_cols(text_col: str) -> list:
    """The PII-scrub Column expressions (shared by ``pii_scrub`` and the
    composed corpus report): [text_scrubbed, n_<class>..., n_pii]."""
    cur = F.col(text_col)
    counts = []
    total = None
    for name, pat, rep in PII_PATTERNS:
        c = F.regexp_count(cur, F.lit(pat)).cast("bigint")
        counts.append(c.alias(f"n_{name}"))
        total = c if total is None else total + c
        cur = F.regexp_replace(cur, pat, rep)
        if name == _CC_RAW_AFTER:
            # Luhn-gated unseparated PANs: candidates that fail the
            # checksum are left untouched (precision control), valid
            # ones are redacted by an exact boundary-anchored pattern so
            # a valid PAN embedded in a LONGER digit run elsewhere in
            # the row is never clobbered.
            valid = F.filter(
                F.regexp_extract_all(cur, F.lit(CC_RAW_RE), F.lit(0)),
                _luhn_ok,
            )
            c2 = F.size(valid).cast("bigint")
            counts.append(c2.alias("n_cc_raw"))
            total = total + c2
            cur = F.aggregate(
                valid, cur,
                lambda acc, x: F.regexp_replace(
                    acc,
                    F.concat(F.lit(r"\b"), x, F.lit(r"\b")),
                    F.lit("<CC>"),
                ),
            )
    return [
        cur.alias("text_scrubbed"),
        *counts,
        total.cast("bigint").alias("n_pii"),
    ]


def pii_scrub(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Detect and redact PII spans (e-mail, SSN-like ids, phone numbers,
    separator-formatted card numbers, Luhn-validated unseparated card
    numbers, IPv4 addresses — the C4/Dolma-style scrubbing pass): returns
    (id, scrubbed text, one match count per PII class, total).  Pure
    per-row regex/fold projection — all JVM expressions, no shuffle,
    trivially scale-free; counts are of NON-OVERLAPPING matches in chain
    order (see ``PII_PATTERNS``; the Luhn step runs right after "cc" and
    counts as ``n_cc_raw``), so ``n_pii`` is exactly the number of
    redacted spans in ``text_scrubbed``."""
    reserved = {"text_scrubbed", "n_pii", "n_cc_raw"} | {
        f"n_{name}" for name, _, _ in PII_PATTERNS
    }
    if id_col in reserved:
        raise ValueError(
            f"id_col {id_col!r} collides with a pii_scrub output column"
        )
    return df.select(F.col(id_col), *pii_cols(text_col))


def pii_scrub_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB mirror: same chain order (incl. the post-"cc" Luhn step);
    counts via len(regexp_extract_all), redaction via
    regexp_replace(..., 'g'), Luhn via list_filter + the same integer
    fold, reduction via list_reduce with the text prepended as the
    accumulator seed.  Built as a LINEAR subquery chain — the previous
    nested-expression form would re-expand the whole upstream text
    expression at every reference, which the candidate-list step (two
    references to the filtered list, two to the text) turns exponential."""
    names: list[str] = []
    q = f"SELECT {id_col}, {text_col} AS __t FROM {table}"

    def carried() -> str:
        return "".join(f"n_{n}, " for n in names)

    for name, pat, rep in PII_PATTERNS:
        # DuckDB string literals are escape-free (no backslash doubling);
        # the regex-level backslashes pass through verbatim
        p = pat.replace("'", "''")
        q = (
            f"SELECT {id_col}, {carried()}"
            f"CAST(len(regexp_extract_all(__t, '{p}')) AS BIGINT) "
            f"AS n_{name}, "
            f"regexp_replace(__t, '{p}', '{rep}', 'g') AS __t "
            f"FROM ({q}) __s{len(names)}"
        )
        names.append(name)
        if name == _CC_RAW_AFTER:
            cr = CC_RAW_RE.replace("'", "''")
            q = (
                f"SELECT {id_col}, {carried()}__t, "
                f"list_filter(regexp_extract_all(__t, '{cr}'), "
                f"p -> {_luhn_sql('p')}) AS __v FROM ({q}) __sv"
            )
            q = (
                f"SELECT {id_col}, {carried()}"
                f"CAST(len(__v) AS BIGINT) AS n_cc_raw, "
                f"list_reduce(list_prepend(__t, __v), (acc, x) -> "
                f"regexp_replace(acc, '\\b' || x || '\\b', '<CC>', 'g')) "
                f"AS __t FROM ({q}) __sr"
            )
            names.append("cc_raw")
    total = " + ".join(f"n_{n}" for n in names)
    return (
        f"SELECT {id_col}, __t AS text_scrubbed, "
        + ", ".join(f"n_{n}" for n in names)
        + f", CAST({total} AS BIGINT) AS n_pii FROM ({q}) __f"
    )


# ---------------------------------------------------------------------------
# URL / domain extraction
# ---------------------------------------------------------------------------

# Shared-syntax URL shape: scheme + one run of URL-safe chars.  The class
# deliberately excludes quotes/brackets/trailing-prose chars so the same
# non-overlapping scan terminates identically in both engines.
URL_RE = r"https?://[A-Za-z0-9._/:#?=&%+-]+"
_DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"


def extract_urls(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Explode every URL in the text to one row (id, pos, url, domain) —
    the discovery half of per-domain curation (blocklists, per-domain
    caps).  ``pos`` is the 1-based match index within the document, so
    output rows are a deterministic multiset; ``domain`` is the
    lowercased host part.  Per-row regex scan + explode: no shuffle; at
    100 TB the fan-out is bounded by matches per document, and the
    downstream per-domain cap is one window on the domain key."""
    if id_col in ("pos", "url", "domain", "pos0"):
        raise ValueError(
            f"id_col {id_col!r} collides with an extract_urls "
            "output/intermediate column"
        )
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), F.lit(0))
    ex = df.select(
        F.col(id_col), F.posexplode(urls).alias("pos0", "url")
    )
    return ex.select(
        F.col(id_col),
        (F.col("pos0") + F.lit(1)).cast("int").alias("pos"),
        F.col("url"),
        F.lower(F.regexp_extract(F.col("url"), _DOMAIN_RE, 1)).alias(
            "domain"
        ),
    )


def extract_urls_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB mirror: zipped unnest of (matches, 1..n) for the 1-based
    position; same domain group-extract."""
    pat = URL_RE.replace("'", "''")
    dpat = _DOMAIN_RE.replace("'", "''")
    arr = f"regexp_extract_all({text_col}, '{pat}')"
    return (
        f"SELECT {id_col}, CAST(pos AS INT) AS pos, url, "
        f"lower(regexp_extract(url, '{dpat}', 1)) AS domain FROM ("
        f"SELECT {id_col}, unnest({arr}) AS url, "
        f"unnest(generate_series(1, len({arr}))) AS pos FROM {table}) t"
    )


# ---------------------------------------------------------------------------
# Gopher-style rule-based quality filtering
# ---------------------------------------------------------------------------

# The eight "required words" of the Gopher repetition/quality rule set
# (Rae et al. 2021, table A1): a document should contain at least two.
GOPHER_REQUIRED_WORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


GOPHER_METRIC_NAMES = (
    "n_words", "mean_word_len", "frac_alpha_words", "symbol_ratio",
    "frac_bullet_lines", "frac_ellipsis_lines", "n_required",
)


def gopher_metric_exprs(
    text_col: str,
    toks: Optional[Column] = None,
    lines: Optional[Column] = None,
) -> dict:
    """The seven raw Gopher metric expressions keyed by output name
    (shared by ``gopher_cols`` and the staged operators).  ``toks`` /
    ``lines`` substitute pre-materialized array columns — identical
    values either way."""
    text = F.col(text_col)
    if toks is None:
        toks = _tok(text_col)
    if lines is None:
        lines = F.split(text, "\n", -1)
    n_words = F.size(toks)
    nw = F.nullif(n_words.cast("double"), F.lit(0.0))
    sum_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    mean_wl = sum_len.cast("double") / nw
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / nw
    )
    sym = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit(r"\.\.\.")
    )
    sym_ratio = sym.cast("double") / nw
    n_lines = F.size(lines).cast("double")  # split never returns []
    bullet_frac = (
        F.size(F.filter(lines, lambda l: l.rlike("^[-*] "))).cast("double")
        / n_lines
    )
    # plain suffix test, NOT a '$'-anchored regex: Java's '$' (without
    # MULTILINE) also matches before a trailing line terminator (\r,
    # U+0085, U+2028, U+2029) while RE2's matches only at end of string,
    # so the mirrors would diverge on CRLF text (review-found)
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("double")
        / n_lines
    )
    required = None
    for w in GOPHER_REQUIRED_WORDS:
        c = F.array_contains(toks, w).cast("int")
        required = c if required is None else required + c
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "frac_alpha_words": alpha_frac,
        "symbol_ratio": sym_ratio,
        "frac_bullet_lines": bullet_frac,
        "frac_ellipsis_lines": ellipsis_frac,
        "n_required": required,
    }


def gopher_keep_col(
    metrics: dict,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_words: int = 2,
) -> Column:
    """``keep`` = all Gopher rules hold, over a metric dict (raw
    expressions or materialized attributes — the bigint casts of the
    staged path widen the comparisons without changing any truth value).
    Conjunct order matches the original single-projection form."""
    return (
        (metrics["n_words"] >= F.lit(min_words))
        & (metrics["n_words"] <= F.lit(max_words))
        & (metrics["mean_word_len"] >= F.lit(min_mean_word_len))
        & (metrics["mean_word_len"] <= F.lit(max_mean_word_len))
        & (metrics["symbol_ratio"] <= F.lit(max_symbol_ratio))
        & (metrics["frac_bullet_lines"] <= F.lit(max_bullet_frac))
        & (metrics["frac_ellipsis_lines"] <= F.lit(max_ellipsis_frac))
        & (metrics["frac_alpha_words"] >= F.lit(min_alpha_word_frac))
        & (metrics["n_required"] >= F.lit(min_required_words))
    )


def gopher_cols(
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_words: int = 2,
    metrics: Optional[dict] = None,
) -> list:
    """The Gopher-rule Column expressions (shared by ``gopher_rules`` and
    the composed corpus report): the seven structural metrics and
    ``keep`` = all rules hold (Rae et al. 2021 §A1.1, the rule set
    C4/Dolma/RedPajama pipelines reuse).

    Metrics: word count bounds; mean word length window;
    symbol-to-word ratio ('#' or '...' occurrences per word); fraction
    of lines starting with a bullet ('- ' or '* '); fraction of lines
    ending in '...'; fraction of words containing an alphabetic
    character; count of the eight required stopwords present.  All are
    integer counts or single int/int divisions — bit-deterministic
    across engines.  Pure per-row projection (token/line arrays never
    leave the row): no shuffle, trivially scale-free at 100 TB.

    NULL text yields NULL metrics and NULL keep; an empty/word-free text
    fails the min-word rule, so keep is FALSE (not NULL) via three-valued
    AND on both engines.

    ``metrics`` substitutes pre-built metric expressions (see
    ``gopher_metric_exprs``) — identical values either way."""
    m = metrics if metrics is not None else gopher_metric_exprs(text_col)
    rules = gopher_keep_col(
        m,
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_ratio=max_symbol_ratio,
        max_bullet_frac=max_bullet_frac,
        max_ellipsis_frac=max_ellipsis_frac,
        min_alpha_word_frac=min_alpha_word_frac,
        min_required_words=min_required_words,
    )
    return [
        m["n_words"].cast("bigint").alias("n_words"),
        m["mean_word_len"].alias("mean_word_len"),
        m["frac_alpha_words"].alias("frac_alpha_words"),
        m["symbol_ratio"].alias("symbol_ratio"),
        m["frac_bullet_lines"].alias("frac_bullet_lines"),
        m["frac_ellipsis_lines"].alias("frac_ellipsis_lines"),
        m["n_required"].cast("bigint").alias("n_required"),
        rules.alias("keep"),
    ]


def gopher_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    **thresholds,
) -> DataFrame:
    """Gopher-style rule-based quality filter: per document, the seven
    structural metrics of :func:`gopher_cols` and ``keep``.  Pure
    per-row projection — no shuffle, trivially scale-free at 100 TB.

    NULL text yields NULL metrics and NULL keep; an empty/word-free text
    fails the min-word rule, so keep is FALSE (not NULL) via three-valued
    AND on both engines.

    Stays a SINGLE projection (round-13 measurement): whole-stage codegen
    subexpression elimination already dedups the repeated metric subtrees
    within one projection list, so a staged pre-projection only added a
    copy pass (165 → 190 ms at sf0.1).  The ``metrics=`` path exists for
    the corpus report, where the metric attributes feed aggregates."""
    return df.select(F.col(id_col), *gopher_cols(text_col, **thresholds))


def gopher_rules_sql(
    table: str,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_words: int = 2,
) -> str:
    """DuckDB mirror of :func:`gopher_rules` — same tokenizer, same
    newline split (``string_split`` keeps trailing empties exactly like
    Java's ``split(..., -1)``), same single int/int divisions."""
    toks = H.tokens_sql(text_col)
    sub = (
        f"SELECT {id_col}, {text_col} AS __x, {toks} AS __tk, "
        f"string_split({text_col}, chr(10)) AS __ln FROM {table}"
    )
    nw = "NULLIF(CAST(len(__tk) AS DOUBLE), 0.0)"
    mean_wl = (
        f"(CAST(coalesce(list_sum(list_transform(__tk, t -> length(t))), 0)"
        f" AS DOUBLE) / {nw})"
    )
    alpha = (
        f"(CAST(len(list_filter(__tk, t -> regexp_matches(t, '[A-Za-z]')))"
        f" AS DOUBLE) / {nw})"
    )
    sym = (
        "(CAST(len(regexp_extract_all(__x, '#')) "
        "+ len(regexp_extract_all(__x, '\\.\\.\\.')) AS DOUBLE) "
        f"/ {nw})"
    )
    bullet = (
        "(CAST(len(list_filter(__ln, l -> regexp_matches(l, '^[-*] ')))"
        " AS DOUBLE) / CAST(len(__ln) AS DOUBLE))"
    )
    ellipsis = (
        "(CAST(len(list_filter(__ln, l -> ends_with(l, '...')))"
        " AS DOUBLE) / CAST(len(__ln) AS DOUBLE))"
    )
    req = " + ".join(
        f"CAST(list_contains(__tk, {slit(w)}) AS INT)"
        for w in GOPHER_REQUIRED_WORDS
    )
    keep = (
        f"len(__tk) >= {min_words} AND len(__tk) <= {max_words} "
        f"AND {mean_wl} >= {flit(min_mean_word_len)} "
        f"AND {mean_wl} <= {flit(max_mean_word_len)} "
        f"AND {sym} <= {flit(max_symbol_ratio)} "
        f"AND {bullet} <= {flit(max_bullet_frac)} "
        f"AND {ellipsis} <= {flit(max_ellipsis_frac)} "
        f"AND {alpha} >= {flit(min_alpha_word_frac)} "
        f"AND ({req}) >= {min_required_words}"
    )
    return (
        f"SELECT {id_col}, CAST(len(__tk) AS BIGINT) AS n_words, "
        f"{mean_wl} AS mean_word_len, {alpha} AS frac_alpha_words, "
        f"{sym} AS symbol_ratio, {bullet} AS frac_bullet_lines, "
        f"{ellipsis} AS frac_ellipsis_lines, "
        f"CAST({req} AS BIGINT) AS n_required, "
        f"{keep} AS keep FROM ({sub}) __g"
    )


# ---------------------------------------------------------------------------
# BPE-merge token counting
# ---------------------------------------------------------------------------

# Token-sequence separator for the in-expression BPE state string.  U+001F
# (unit separator) — stripped from the input text first, so token
# boundaries are unambiguous.
_BPE_SEP = "\x1f"

# A small English-biased demo merge table (rank-ordered).  Real vocabularies
# plug in their own ``merges`` list — the fold is table-size-linear and
# stays one JVM expression regardless of length.
DEMO_BPE_MERGES = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("e", "s"), ("s", "t"), ("a", "l"), ("in", "g"),
    ("o", "u"), ("t", "o"), ("i", "s"), ("e", "d"), ("c", "h"),
)


def _check_merges(merges) -> list:
    out = []
    for m in merges:
        a, b = m
        if not a or not b or any(
            c in t for c in (_BPE_SEP, "\x1e") for t in (a, b)
        ):
            raise ValueError(
                "BPE merge tokens must be non-empty and free of "
                "U+001F/U+001E"
            )
        out.append((str(a), str(b)))
    if not out:
        raise ValueError("empty BPE merge table")
    return out


# -- the shared BPE state-fold core -----------------------------------------
#
# Counting (`bpe_token_cols`), encoding (`bpe_encode`) and pair counting
# (`bpe_pair_counts`) all run the SAME double-␟-boundary fold; until round
# 10 each carried a verbatim copy per engine (the round-9 verdict's #1
# maintenance hazard).  The helpers below are the single source of truth:
# they return composable EXPRESSIONS (a Spark Column / a SQL fragment), so
# each consumer still shapes its own projections — the plan-pinned
# materialization staging (one fold per row, inline explode inputs) is the
# CONSUMER's responsibility and unchanged by this extraction.  The
# cross-engine/cross-consumer equivalence is fuzz-pinned in
# tests/test_properties.py.


def _bpe_merge_lit(merges: list) -> Column:
    """The validated merge table as a literal ``array<array<string>>`` —
    Catalyst ships it with the plan (the broadcast-small-dim pattern); an
    EMPTY table (pair counting's step 0) needs the explicit cast because
    ``F.array()`` alone types as ``array<null>``."""
    if merges:
        return F.array(*[F.array(F.lit(a), F.lit(b)) for a, b in merges])
    return F.array().cast("array<array<string>>")


def _bpe_merged_pieces(text_col: str, merges: list) -> Column:
    """``array<string>``: one double-boundary state string per
    ``BPE_PIECE_RE`` piece of ``text_col``, after folding the validated
    ``merges`` in rank order — the shared core of BPE counting, encoding
    and pair counting.

    Encoding/correctness (see :func:`bpe_token_cols` for the full
    argument): each piece starts as its character sequence with a
    DOUBLE-``␟`` boundary between tokens (``␟␟a␟␟b␟␟``); each merge rank
    is ONE literal ``replace`` of ``␟a␟␟b␟ → ␟ab␟`` whose match consumes
    only the INNER half of each boundary, so left-to-right ``replace`` is
    exactly leftmost-first BPE (self-merges included) and one pass per
    rank is that rank's fixpoint.  U+001F is stripped from the text first
    so corpus bytes can't forge boundaries.  NULL text → NULL array;
    whitespace-only text → empty array.

    Consumers must keep this expression's materialization discipline:
    compute it ONCE per row (Spark does not CSE inside
    higher-order-function lambdas) and never hand it to
    ``explode``/``Filter`` as a bare materialized attribute (the two
    plan-pinned Catalyst alias-inlining traps)."""
    sep = F.lit(_BPE_SEP)
    sep2 = F.lit(_BPE_SEP * 2)
    text = F.regexp_replace(F.col(text_col), _BPE_SEP, "")
    pieces = F.regexp_extract_all(text, F.lit(BPE_PIECE_RE), 0)
    merge_arr = _bpe_merge_lit(merges)

    def apply_merge(acc: Column, m: Column) -> Column:
        a, b = F.element_at(m, 1), F.element_at(m, 2)
        return F.replace(
            acc,
            F.concat(sep, a, sep2, b, sep),
            F.concat(sep, a, b, sep),
        )

    def piece_merged(p: Column) -> Column:
        chars = F.regexp_extract_all(p, F.lit(r"[^\n]"), 0)
        init = F.concat(sep2, F.array_join(chars, _BPE_SEP * 2), sep2)
        return F.aggregate(merge_arr, init, apply_merge)

    return F.transform(pieces, piece_merged)


def _bpe_piece_token_arrays(mp: Column) -> Column:
    """``array<array<string>>``: per-piece token lists split back out of
    the merged state strings (``mp`` = a :func:`_bpe_merged_pieces`
    expression or its materialized column).  Kept per-piece because BPE
    never merges across pieces — pair counting reads adjacency WITHIN a
    piece; flatten for the corpus token sequence."""
    return F.transform(
        mp,
        lambda m: F.filter(F.split(m, _BPE_SEP * 2), lambda t: t != ""),
    )


# DuckDB mirrors of the same core.  `m` is the reserved lambda variable
# for a merge pair inside the fold; a piece is bound to `piece_var`.

def _bpe_mlist_sql(merges: list) -> str:
    """The merge table as a DuckDB list literal — each pair rides as one
    ``a␞b`` U+001E-joined string because ``list_reduce``'s
    fold-with-initial idiom (``list_prepend(state, merges)``) needs a
    HOMOGENEOUS list; the lambda splits it back with ``split_part``."""
    if merges:
        return "[" + ", ".join(slit(a + "\x1e" + b) for a, b in merges) + "]"
    return "CAST([] AS VARCHAR[])"


def _bpe_pieces_sql(text_col: str) -> str:
    """``BPE_PIECE_RE`` pieces of ``text_col``, U+001F pre-stripped."""
    return (
        f"regexp_extract_all(replace({text_col}, chr(31), ''), "
        f"'{BPE_PIECE_RE}')"
    )


def _bpe_merged_sql(merges: list, piece_var: str = "p") -> str:
    """The merged double-boundary state string for the piece bound to
    ``piece_var``: ``list_reduce(list_prepend(init, merges), …)`` — the
    fold-with-initial idiom; ``list_reduce`` over the 1-element list an
    EMPTY merge table prepends to returns ``init`` itself, so pair
    counting's step 0 needs no special case."""
    sep = "chr(31)"
    sep2 = "chr(31) || chr(31)"
    chars = f"regexp_extract_all({piece_var}, '[^\\n]')"
    init = (
        f"{sep2} || array_to_string({chars}, chr(31) || chr(31)) || {sep2}"
    )
    ma = "split_part(m, chr(30), 1)"
    mb = "split_part(m, chr(30), 2)"
    pat = f"{sep} || {ma} || {sep2} || {mb} || {sep}"
    rep = f"{sep} || {ma} || {mb} || {sep}"
    return (
        f"list_reduce(list_prepend({init}, {_bpe_mlist_sql(merges)}), "
        f"(acc, m) -> replace(acc, {pat}, {rep}))"
    )


def _bpe_tokens_sql(merged: str) -> str:
    """Token list split back out of one merged state string."""
    return (
        f"list_filter(str_split({merged}, chr(31) || chr(31)), "
        f"t -> t != '')"
    )


def bpe_token_cols(text_col: str, merges) -> list:
    """``n_bpe_tokens``: the number of tokens a BPE tokenizer with the
    given rank-ordered ``merges`` table produces — the count context
    packing (``pack_chunks``) actually budgets against, unlike the
    whitespace/heuristic counts of :func:`token_count_cols`.

    Algorithm, entirely JVM-side Column expressions (zero Python, zero
    shuffle): pre-tokenize with ``BPE_PIECE_RE`` (the GPT-2 piece shape;
    BPE never merges across pieces), start each piece at its character
    sequence encoded as a state string with a DOUBLE-``␟`` boundary
    between tokens (``␟␟a␟␟b␟␟``), then FOLD the broadcast literal
    merges array over it in rank order — ``aggregate(merges, state, …)``
    — applying each merge as ONE literal ``replace`` of
    ``␟a␟␟b␟ → ␟ab␟``.  The match consumes only the INNER half of each
    boundary, so the shared boundary of an immediately following merge
    site stays available and left-to-right ``replace`` IS leftmost-first
    BPE exactly: a match can only start at the second ``␟`` of a
    boundary (the pattern's interior ``␟␟`` must align with a full
    boundary, and tokens cannot contain ``␟``), and one pass per rank is
    the rank's fixpoint because a merge's output token is strictly
    longer than either input, so it can never re-match its own rank.
    Review-found: the earlier single-separator two-pass form was NOT
    maximal for self-merges on runs (``------`` with merge ``(-,-)``
    gave 4 tokens, real BPE 3); this encoding is property-pinned equal
    to a pure-Python leftmost-first BPE on random tables INCLUDING
    self-merges (and to the DuckDB mirror).  Piece token count =
    ``␟``-count/2 − 1; the outer fold sums pieces.

    The merges table rides INSIDE the expression as a literal array —
    Catalyst ships it with the plan (the broadcast-small-dim pattern);
    cost is O(|merges| · piece_len) string work per row, linear in the
    table, no join, no UDF.  NULL text → NULL count; whitespace-only
    text → 0.  U+001F is stripped from the text before encoding so
    corpus bytes can't forge token boundaries.

    Two contract points (advice-found, shared by the DuckDB mirror and
    the Python fuzz reference, so there is no cross-engine risk):
    (1) the table must be CLOSURE-ORDERED — every merge's parts are
    single characters or outputs of EARLIER merges — which every
    LEARNED table is by construction (:func:`learn_bpe_merges`
    included); each rank is applied exactly once in order, so for an
    adversarial table where a later rank's output enables an earlier
    rank's pair (e.g. [(ab,c), (a,b)] on 'abc') the count diverges from
    a min-rank-rescan tokenizer.  (2) whitespace is never counted as
    tokens (``BPE_PIECE_RE`` drops it), so counts run LOWER than
    GPT-2-style tokenizers that carry space-prefixed pieces."""
    merges = _check_merges(merges)
    sep = F.lit(_BPE_SEP)

    # Two-stage shape so each piece's merged state string is computed
    # ONCE: the separator count references its input twice, and Spark
    # does not CSE inside higher-order-function lambdas — counting off
    # the fold expression directly would run the whole merges fold twice
    # per piece (interleaved A/B: ~1.9× slower; same lambda-inlining
    # trap as chunk_windows' split).  A lambda VARIABLE is a bound
    # value, so referencing `m` twice below is free.
    merged_arr = _bpe_merged_pieces(text_col, merges)
    n_bpe = F.aggregate(
        merged_arr,
        F.lit(0).cast("bigint"),
        lambda acc, m: acc + (
            (F.length(m) - F.length(F.replace(m, sep, F.lit(""))))
            / F.lit(2) - F.lit(1)
        ).cast("bigint"),
    )
    return [n_bpe.alias("n_bpe_tokens")]


def bpe_token_count(
    df: DataFrame, text_col: str, id_col: str, merges=DEMO_BPE_MERGES
) -> DataFrame:
    """(id, n_bpe_tokens) per document — see :func:`bpe_token_cols`."""
    return df.select(F.col(id_col), *bpe_token_cols(text_col, merges))


def bpe_token_count_sql(
    table: str, text_col: str, id_col: str, merges=DEMO_BPE_MERGES
) -> str:
    """DuckDB mirror: the same one-``replace``-per-rank double-boundary
    fold via ``list_reduce(list_prepend(state, merges), …)`` (the
    fold-with-initial idiom — which needs a HOMOGENEOUS list, so each
    merge pair rides as one ``a␞b`` U+001E-joined string and is split
    back with ``split_part`` inside the lambda) nested inside a
    piece-sum fold."""
    merges = _check_merges(merges)
    pieces = _bpe_pieces_sql(text_col)
    merged = _bpe_merged_sql(merges)
    piece_n = (
        f"CAST((length({merged}) - length(replace({merged}, chr(31), '')))"
        f" // 2 - 1 AS BIGINT)"
    )
    total = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({pieces}, p -> {piece_n})), (a, x) -> a + x)"
    )
    # NULL text → NULL count (Spark's aggregate over a NULL array);
    # DuckDB's list_prepend(0, NULL) would otherwise fold to 0
    return (
        f"SELECT {id_col}, CASE WHEN {text_col} IS NULL THEN NULL "
        f"ELSE {total} END AS n_bpe_tokens FROM {table}"
    )


def bpe_encode(
    df: DataFrame, text_col: str, id_col: str, merges=DEMO_BPE_MERGES
) -> DataFrame:
    """(id, ``bpe_tokens``, ``n_bpe_tokens``): the actual TOKEN SEQUENCE
    a BPE tokenizer with the given closure-ordered ``merges`` table
    emits — counting (:func:`bpe_token_count`) budgets, learning
    (:func:`learn_bpe_merges`) builds the table, this is the encoding
    step whose output a training pipeline actually packs.  Tokens never
    contain whitespace or the reserved U+001F/U+001E bytes (pieces
    exclude whitespace; the state encoding strips U+001F), so
    ``array_join(bpe_tokens, ' ')`` is a lossless rendering.

    Same state machinery as :func:`bpe_token_cols` (double-boundary
    one-replace-per-rank fold = exact leftmost-first BPE incl.
    self-merges), same whitespace-excluded convention, same
    closure-ordered-table precondition.  Pure two-projection shape —
    the merged-piece array is materialized ONCE, then split/flattened —
    zero shuffle, zero Python, NULL text → NULL tokens, whitespace-only
    → empty array."""
    merges = _check_merges(merges)
    stage1 = df.select(
        F.col(id_col),
        _bpe_merged_pieces(text_col, merges).alias("__mp"),
    )
    toks = F.flatten(_bpe_piece_token_arrays(F.col("__mp")))
    # the token array is materialized in its own projection and the
    # count reads the ATTRIBUTE: lambda-bearing expressions are excluded
    # from codegen subexpression elimination, so an inline `toks` in
    # both output columns would run the per-piece split twice per row
    # (review-found; CollapseProject keeps the non-cheap multi-referenced
    # alias un-inlined — the chunk_windows pattern).  toks is NULL iff
    # __mp is NULL, so the NULL-count contract is unchanged.
    stage2 = stage1.select(F.col(id_col), toks.alias("bpe_tokens"))
    return stage2.select(
        F.col(id_col),
        "bpe_tokens",
        F.when(F.col("bpe_tokens").isNotNull(), F.size("bpe_tokens"))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


def bpe_encode_sql(
    table: str, text_col: str, id_col: str, merges=DEMO_BPE_MERGES
) -> str:
    """DuckDB mirror of :func:`bpe_encode` (same fold-with-initial
    idiom as ``bpe_token_count_sql``; ``flatten`` of the per-piece token
    lists)."""
    merges = _check_merges(merges)
    pieces = _bpe_pieces_sql(text_col)
    toks = (
        f"flatten(list_transform({pieces}, "
        f"p -> {_bpe_tokens_sql(_bpe_merged_sql(merges))}))"
    )
    return (
        f"SELECT {id_col}, "
        f"CASE WHEN {text_col} IS NULL THEN NULL ELSE {toks} END "
        f"AS bpe_tokens, "
        f"CASE WHEN {text_col} IS NULL THEN NULL "
        f"ELSE CAST(len({toks}) AS BIGINT) END AS n_bpe_tokens "
        f"FROM {table}"
    )


# ---------------------------------------------------------------------------
# BPE merge learning: corpus-wide adjacent-pair frequencies
# ---------------------------------------------------------------------------


def _check_merges_maybe_empty(merges) -> list:
    """`_check_merges` minus the non-empty requirement: pair COUNTING is
    well-defined under an empty table (the character-level step-0 state
    merge learning starts from), unlike token counting, where an empty
    table is almost certainly a caller bug.  Materialized ONCE up front:
    measuring a one-shot iterator's length and then re-iterating it
    would silently validate the empty remainder (review-found)."""
    merges = tuple(merges)
    return _check_merges(merges) if merges else []


def bpe_pair_counts(
    df: DataFrame, text_col: str, merges=()
) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies under the CURRENT
    merge table — the aggregation at the heart of BPE merge LEARNING:
    the most frequent pair of the current state is the next merge
    (Sennrich et al. 2016), so one call per step + a 1-row argmax
    drives :func:`learn_bpe_merges`.  Returns
    (``pair_left``, ``pair_right``, ``cnt``) — one row per distinct
    adjacent pair, counted within pieces only (``BPE_PIECE_RE``
    pre-tokenization; BPE never merges across pieces, and whitespace is
    not counted — the same convention as :func:`bpe_token_cols`).
    ``merges=()`` counts character-level pairs (step 0).

    The state encoding IS :func:`bpe_token_cols`' double-``␟``-boundary
    fold — all three consumers share :func:`_bpe_merged_pieces` /
    :func:`_bpe_merged_sql` since round 10 (the equivalence across
    consumers and engines stays fuzz-pinned in
    tests/test_properties.py).  Scale shape: three
    materialized projections (merged pieces → token arrays → pair
    structs; each stage's expensive array is computed ONCE per row —
    Spark does not CSE inside higher-order-function lambdas, so
    inlining would re-run the merges fold per pair) + one explode +
    ONE map-side-combined groupBy.  No Python, no join; the only
    shuffle is the final pair-key aggregation, whose map-side partials
    are bounded by the in-partition distinct-pair count, not the token
    count.  NULL/whitespace-only documents contribute nothing."""
    merges = _check_merges_maybe_empty(merges)

    def piece_pairs(a: Column) -> Column:
        n = F.size(a)
        return F.when(
            n >= F.lit(2),
            F.zip_with(
                F.slice(a, F.lit(1), n - F.lit(1)),
                F.slice(a, F.lit(2), n - F.lit(1)),
                lambda x, y: F.struct(x.alias("l"), y.alias("r")),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))

    stage1 = df.select(
        _bpe_merged_pieces(text_col, merges).alias("__mp")
    )
    stage2 = stage1.select(
        _bpe_piece_token_arrays(F.col("__mp")).alias("__tka")
    )
    # The explode argument stays an INLINE expression over the previous
    # stage's column, never a materialized attribute of its own: explode
    # of a bare attribute triggers InferFiltersFromGenerate's
    # `size(a) > 0 AND isnotnull(a)` row-pruning filter, which
    # PushDownPredicates then pushes below the projection — inlining the
    # ENTIRE merges fold TWICE into a Filter node that cannot CSE with
    # the projection's copy (plan-checked: the fold ran 3× per row; the
    # rule skips non-attribute generator inputs).  Same trap family as
    # the chunk_windows/mh0 lessons, new member: it is the OPTIMIZER
    # that manufactures the second reference.
    return (
        stage2.select(
            F.explode(
                F.flatten(F.transform(F.col("__tka"), piece_pairs))
            ).alias("__pr")
        )
        .groupBy(
            F.col("__pr.l").alias("pair_left"),
            F.col("__pr.r").alias("pair_right"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bpe_pair_counts_sql(table: str, text_col: str, merges=()) -> str:
    """DuckDB mirror: the same double-boundary state fold
    (``list_reduce(list_prepend(init, merges), …)`` — ``list_reduce``
    over the 1-element list an EMPTY merge table prepends to returns
    ``init`` itself, so step-0 needs no special case), then
    ``str_split`` on the double separator, ``generate_series`` pair
    indexing (start > stop yields an empty list, so 1-token pieces need
    no guard), unnest, GROUP BY."""
    merges = _check_merges_maybe_empty(merges)
    sep2 = "chr(31) || chr(31)"
    pcs = _bpe_pieces_sql(text_col)
    merged = _bpe_merged_sql(merges)
    return (
        f"WITH __d AS (SELECT {pcs} AS pcs FROM {table} "
        f"WHERE {text_col} IS NOT NULL), "
        f"__p AS (SELECT unnest(pcs) AS p FROM __d), "
        f"__m AS (SELECT {merged} AS m FROM __p), "
        f"__t AS (SELECT list_filter(str_split(m, {sep2}), "
        f"t -> t != '') AS tk FROM __m), "
        f"__pr AS (SELECT unnest(list_transform("
        f"generate_series(1, len(tk) - 1), "
        f"i -> struct_pack(l := tk[i], r := tk[i + 1]))) AS pr FROM __t) "
        f"SELECT pr.l AS pair_left, pr.r AS pair_right, "
        f"CAST(COUNT(*) AS BIGINT) AS cnt FROM __pr GROUP BY 1, 2"
    )


def learn_bpe_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    merges=(),
) -> list:
    """Learn ``n_merges`` further BPE merges from the corpus: each step
    counts adjacent pairs under the merges so far
    (:func:`bpe_pair_counts`) and takes the argmax with a deterministic
    (cnt DESC, pair_left ASC, pair_right ASC) tie-break — the merge
    tables this produces are closure-ordered by construction, exactly
    the precondition :func:`bpe_token_cols` requires.  Stops early when
    no pair occurs twice.  Returns the FULL merge list (given + learned).

    Pairs whose tokens contain the U+001E/U+001F control bytes are
    EXCLUDED from the argmax (review-found): the state encoding reserves
    them (``_check_merges`` rejects such tables), so learning one from a
    corpus that happens to carry chr(30) in punctuation runs would
    produce a table the encoder itself refuses — and crash the next
    learning step.  Such bytes are corpus noise, not vocabulary.

    Scale shape: ``n_merges`` sequential jobs, each one map-combined
    shuffle + a 1-row driver fetch; driver state is O(merges).  The
    per-step cost grows with the table (the fold is
    O(|merges| · piece_len)), so cache ``df`` and keep step counts
    moderate — vocabulary learning is a run-once corpus pass, not a
    per-query path."""
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    out = list(_check_merges_maybe_empty(merges))
    reserved = "[\x1e\x1f]"
    for _ in range(int(n_merges)):
        top = (
            bpe_pair_counts(df, text_col, out)
            .where(
                (F.col("cnt") >= F.lit(2))
                & ~F.col("pair_left").rlike(reserved)
                & ~F.col("pair_right").rlike(reserved)
            )
            .orderBy(
                F.desc("cnt"), F.asc("pair_left"), F.asc("pair_right")
            )
            .first()
        )
        if top is None:
            break
        out.append((top["pair_left"], top["pair_right"]))
    return out


# ---------------------------------------------------------------------------
# sliding-window text chunking
# ---------------------------------------------------------------------------


def chunk_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int,
    stride_tokens: int,
) -> DataFrame:
    """Sliding-window chunking — the RAG/embedding prep step that EMITS
    chunk text (``chunk_assignments`` only does packing bookkeeping):
    one row per window of ``chunk_tokens`` whitespace tokens starting at
    every multiple of ``stride_tokens``, stopping at the FIRST start
    whose window reaches the document end — any later stride multiple
    would emit a window fully contained in its predecessor (7 tokens,
    chunk 4, stride 2: starts 0/2/4, never the redundant start-6
    ``'g'`` ⊂ ``'e f g'``), which would duplicate content in
    RAG/embedding corpora (advice-found).  Concretely the start bound is
    ``least(n - 1, greatest(n - chunk, 0) + stride - 1)`` under
    ``sequence``'s inclusive stop: the first term keeps the
    ``stride > chunk`` sampling-gap regime unchanged (starts stay
    < n), the second stops overlap-mode starts once the end is covered.
    Returns (id, ``chunk_id``, ``n_chunk_tokens``, ``chunk_text``);
    overlap = ``chunk_tokens - stride_tokens`` tokens when positive, a
    sampling gap when negative.  The final window may be short (it
    clamps at the document end).  Whitespace inside a chunk is
    normalized to single spaces (token-boundary chunking, CASE
    preserved — unlike the hashing tokenizer, no lowercasing).
    NULL-text and token-free documents emit no rows.

    Scale shape: pure per-row projection + ``posexplode`` — no shuffle,
    no UDF; output cardinality is ceil(n_tokens/stride) per doc.  The
    window starts come from ``sequence(0, n-1, stride)``, whose
    inclusive-stop semantics DuckDB's ``generate_series`` shares, so the
    mirror needs no ceil arithmetic.  The token array is MATERIALIZED in
    its own projection before the window transform: Spark neither hoists
    nor CSEs subexpressions inside higher-order-function lambdas, so an
    inlined split would re-tokenize the whole document once per window —
    O(n_tokens × n_windows), measured 140× slower on 20k-token docs
    (review-found); CollapseProject keeps the non-cheap multi-referenced
    alias un-inlined, exactly like the mirror's ``__tk`` subquery.
    ``chunk_id`` is the window's position from ``posexplode`` (starts
    are consecutive stride multiples, so position = start/stride)."""
    if chunk_tokens < 1 or stride_tokens < 1:
        raise ValueError("chunk_tokens and stride_tokens must be >= 1")
    toks = H.tokens_raw(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__tk"))
    tk = F.col("__tk")
    n = F.size(tk)
    stop = F.least(
        n - F.lit(1),
        F.greatest(n - F.lit(int(chunk_tokens)), F.lit(0))
        + F.lit(int(stride_tokens) - 1),
    )
    starts = F.sequence(F.lit(0), stop, F.lit(int(stride_tokens)))
    piece = F.when(n >= F.lit(1), starts).otherwise(
        F.array().cast("array<int>")
    )
    windows = F.transform(
        piece, lambda s: F.slice(tk, s + F.lit(1), F.lit(int(chunk_tokens)))
    )
    exploded = base.select(
        F.col(id_col), F.posexplode(windows).alias("chunk_id", "_w")
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(F.col("_w")).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(F.col("_w"), " ").alias("chunk_text"),
    )


def chunk_windows_sql(
    table: str,
    text_col: str,
    id_col: str,
    chunk_tokens: int,
    stride_tokens: int,
) -> str:
    """DuckDB mirror: same non-lowercased whitespace split, same
    inclusive-stop ``generate_series`` starts with the same
    end-coverage stop bound; ``list_slice``'s end-INDEX argument is
    start + chunk (vs Spark ``slice``'s length)."""
    if chunk_tokens < 1 or stride_tokens < 1:
        raise ValueError("chunk_tokens and stride_tokens must be >= 1")
    toks = H.tokens_raw_sql(text_col)
    base = (
        f"SELECT {id_col}, {toks} AS __tk FROM {table} "
        f"WHERE {text_col} IS NOT NULL"
    )
    stop = (
        f"least(len(__tk) - 1, greatest(len(__tk) - {int(chunk_tokens)}, 0)"
        f" + {int(stride_tokens) - 1})"
    )
    chunks = (
        f"list_transform(generate_series(0, {stop}, "
        f"{int(stride_tokens)}), "
        f"s -> struct_pack(chunk_id := CAST(s // {int(stride_tokens)} "
        f"AS BIGINT), "
        f"w := list_slice(__tk, s + 1, s + {int(chunk_tokens)})))"
    )
    return (
        f"SELECT {id_col}, u.chunk_id AS chunk_id, "
        f"CAST(len(u.w) AS BIGINT) AS n_chunk_tokens, "
        f"array_to_string(u.w, ' ') AS chunk_text "
        f"FROM (SELECT {id_col}, unnest({chunks}) AS u "
        f"FROM ({base}) b WHERE len(__tk) >= 1) t"
    )


# ---------------------------------------------------------------------------
# classifier-based quality scoring (hashing-trick linear model)
# ---------------------------------------------------------------------------
#
# The third standard curation filter family alongside the heuristic
# panel (quality_score) and the rule battery (gopher_rules): a LINEAR
# text classifier over hashed bag-of-words features — the fastText
# shape used for quality/ domain filtering in large pretraining
# pipelines (CCNet, GPT-3's quality classifier).  Round-11 gate
# candidate: registration deferred because the round-10 driver window
# is exactly full (2 new + 7 changed + 41 stale = 50); cross-engine
# pinned in tests/test_adversarial_oracle.py + tests/test_oracle_fuzz.py
# meanwhile.


def demo_quality_weights(n: int = 256, seed: int = 7) -> list:
    """A deterministic demo weight table (seeded standard normal, scaled
    0.1) — the stand-in for a trained model's weights, embedded as plan
    literals in BOTH engines exactly like the LSH hyperplanes."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return (rng.standard_normal(n) * 0.1).tolist()


def linear_quality_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights,
    bias: float = 0.0,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Hashing-trick linear model score: mean over whitespace tokens of
    ``weights[hex4_bucket(token)]``, plus ``bias`` — one JVM fold per
    row, weights shipped as a plan literal (the broadcast-small-dim
    pattern; same as the LSH hyperplanes).  Returns (id, n_tokens,
    lin_score); ``lin_score`` is the RAW linear activation — the
    logistic is monotone, so thresholding the raw score is equivalent
    to thresholding the probability, and emitting it raw keeps the
    cross-engine contract exact (``exp`` may differ between libm
    implementations in the last ulp; +, ×, / are IEEE-exact and
    fold order is left-to-right in both engines).

    Zero-token or NULL text → NULL score (no evidence; the
    ``quality_score`` NULLIF convention).  ``keep_cols`` carries extra
    input columns (e.g. the group key a downstream ``mixture_weights``
    rebalances on) through the projection, so composing the curation
    loop never needs a join back on the id.  Scale shape: a pure
    projection — no shuffle, no join, no driver state; the fold is
    O(tokens) per row with an O(1) literal lookup per token."""
    w = [float(x) for x in weights]
    n = len(w)
    if not 2 <= n <= 4096:
        raise ValueError("weights must have 2..4096 entries")
    toks = _tok(text_col)
    warr = F.array(*[F.lit(x) for x in w])
    # two-stage: per-token weight array first, then a homogeneous
    # left-to-right double fold — DuckDB's fold-with-initial idiom
    # (list_prepend) needs the initial and the items to share a type,
    # and an identically-ordered double sum is what keeps the engines
    # bit-identical.  The bucket is the SHARED H.hex4_bucket primitive,
    # never an inline copy (review-found: a drifting copy of the
    # cross-engine bucketing contract is the BPE three-copies hazard
    # all over again).
    wtok = F.transform(
        toks, lambda t: F.element_at(warr, H.hex4_bucket(t, n) + 1)
    )
    total = F.aggregate(wtok, F.lit(0.0), lambda acc, x: acc + x)
    n_tok = F.size(toks)
    score = F.when(
        n_tok > 0, total / n_tok.cast("double") + F.lit(float(bias))
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_tok.cast("bigint").alias("n_tokens"),
        score.alias("lin_score"),
    )


def linear_quality_score_sql(
    table: str,
    text_col: str,
    id_col: str,
    weights,
    bias: float = 0.0,
    keep_cols: Sequence[str] = (),
) -> str:
    """DuckDB mirror: the same left-to-right double fold over the same
    md5-slice buckets (``hex4_val_sql`` on a bound lambda variable — the
    md5 is computed once per token in a ``list_transform``, never
    re-derived inside the fold).  The weight list is BOUND ONCE as a
    single-row cross join (advice-found: embedding the up-to-4096-entry
    literal inside the lambda may rebuild the list per token) and the
    lambda indexes the bound name — the same binding idiom as the md5
    slice."""
    w = [float(x) for x in weights]
    n = len(w)
    if not 2 <= n <= 4096:
        raise ValueError("weights must have 2..4096 entries")
    toks = H.tokens_sql(text_col)
    hexes = f"list_transform({toks}, t -> substr(md5(t), 1, 4))"
    wlist = "[" + ", ".join(flit(x) for x in w) + "]"
    # same two-stage shape as the Spark path: per-token weights (the
    # md5 slice bound to the lambda variable h — computed once per
    # token), then a homogeneous left-to-right double fold
    wtok = (
        f"list_transform({hexes}, "
        f"h -> __xhs_w[({H.hex4_val_sql('h')} % {n}) + 1])"
    )
    total = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {wtok}), "
        f"(acc, x) -> acc + x)"
    )
    n_tok = f"len({toks})"
    keep = "".join(f"{c}, " for c in keep_cols)
    return (
        f"SELECT {id_col}, {keep}CAST({n_tok} AS BIGINT) AS n_tokens, "
        f"({total} / CAST(NULLIF({n_tok}, 0) AS DOUBLE)) + {flit(bias)} "
        f"AS lin_score FROM {table} "
        f"CROSS JOIN (SELECT {wlist} AS __xhs_w)"
    )
