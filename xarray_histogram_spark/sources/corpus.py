"""JSONL corpus ingestion/export — the interchange format most text
corpora actually ship in (one JSON object per line, usually gzipped).

Design rules for 100 TB ingestion:

- **Explicit schema, never inference.**  ``spark.read.json`` without a
  schema runs a FULL extra pass over the data just to infer types, and
  the inferred schema drifts with corpus content (a shard where every
  ``id`` happens to be small infers INT and overflows later).  The
  schema is a required argument here.
- **PERMISSIVE + captured corrupt records.**  At corpus scale some lines
  are always broken (truncated uploads, encoding damage).  FAILFAST
  would kill a day-long job on row one; DROPMALFORMED silently loses
  data.  Malformed lines land in ``corrupt_col`` with every data column
  explicitly NULLED (PERMISSIVE alone keeps partial parses — see
  ``read_jsonl_corpus``), so ``corrupt_col IS NULL`` is THE trust test.
- JSON decode is JVM-side (no Python), columns prune through the parser,
  and gzip-per-file parallelism is whatever the file layout gives —
  standard corpus sharding (many ~100 MB .jsonl.gz files) parallelises
  perfectly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import q

CORRUPT_COL = "_corrupt_record"


def write_jsonl_corpus(df: DataFrame, path: str, mode: str = "error") -> None:
    """Export as JSON-lines (Spark's json writer is already line-delimited;
    one file per partition — repartition upstream to control shard size)."""
    df.write.mode(mode).format("json").save(path)


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = CORRUPT_COL,
) -> DataFrame:
    """Read a JSONL corpus with an EXPLICIT schema; malformed lines are
    kept, with the raw line in ``corrupt_col`` and data columns NULL.

    Spark's PERMISSIVE mode on its own keeps PARTIAL parses for
    type-mismatch lines (``{"doc_id": "x", "text": "hi"}`` yields
    doc_id NULL but text "hi" alongside the corrupt record), which makes
    "corrupt" ambiguous for downstream filters — so this explicitly
    nulls every data column on quarantined rows.  The contract is then
    clean: ``corrupt_col IS NULL`` ⇔ trust the data columns."""
    if corrupt_col in schema.fieldNames():
        raise ValueError(
            f"corrupt_col {corrupt_col!r} collides with a schema field"
        )
    full = T.StructType(
        schema.fields + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
    return _quarantine(raw, schema, corrupt_col)


def _quarantine(
    raw: DataFrame, schema: T.StructType, corrupt_col: str
) -> DataFrame:
    """Null every data column on rows that carry a corrupt record: ONE
    parsed projection (Spark SQL text), not a Column tree per field."""
    ok = f"{q(corrupt_col)} IS NULL"
    return raw.selectExpr(
        *[f"CASE WHEN {ok} THEN {q(f.name)} END AS {q(f.name)}"
          for f in schema.fields],
        q(corrupt_col),
    )


def corrupt_line_stats(df: DataFrame, corrupt_col: str = CORRUPT_COL) -> DataFrame:
    """One-row quarantine summary: total lines, malformed lines — the
    ingestion health check a pipeline gates on before trusting a shard.

    Spark refuses corrupt-col-only queries on the raw JSON source
    (SPARK-21610: the parser would need a second full pass), and the
    zero-effect-probe tricks constant-fold away — the SUPPORTED pattern
    is materializing the parse first, so this caches ``df`` (Spark's own
    documented workaround).  That is the right cost model for a
    health check: the same cached parse is what the subsequent
    quarantine filter / ingest read consumes, so the parse runs once.
    For a check-only pass over a corpus too large to cache, compare
    ``spark.read.text(path).count()`` against a DROPMALFORMED read
    count instead (two scans, zero cache)."""
    df = df.cache()
    return df.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.col(corrupt_col)).alias("n_corrupt"),
    )


def write_csv_corpus(
    df: DataFrame,
    path: str,
    mode: str = "error",
    sep: str = ",",
    null_marker: str = "\\N",
    validate: bool = True,
) -> None:
    """Export as headered CSV with RFC-4180 quoting.

    Two non-default options are LOAD-BEARING for losslessness and must
    match the reader's: ``escape='"'`` (Spark's default is backslash
    escaping, which standard CSV tools mis-read; the double-quote escape
    is the RFC form) and ``nullValue=null_marker`` (by default Spark
    writes NULL as an empty field, which reads back indistinguishable
    from the empty STRING — the classic silent NULL/'' conflation).

    Three data shapes CANNOT round-trip through default-splittable CSV
    and are REJECTED up front (``validate=True``, one extra scan over
    the string columns — correctness beats the scan on an export path):

    - **embedded newlines**: a default ``multiLine=False`` reader splits
      the record mid-field and TRUSTS the truncated prefix (corrupt_col
      stays NULL) — silent data corruption, not quarantine.  Either
      strip newlines upstream or pass ``validate=False`` and read with
      ``multi_line=True`` (one-task-per-file, see read_csv_corpus).
    - **a field exactly equal to ``null_marker``**: Spark applies
      nullValue after unquoting on read AND quotes the marker on write
      (verified: quoteAll cannot disambiguate), so the literal string
      would silently come back as NULL.  Pick a marker your data cannot
      contain (it is a parameter for exactly this reason).
    - **NUL bytes (U+0000)**: the byte survives on disk, but Spark's
      univocity parser uses ``'\\0'`` as its internal no-char sentinel,
      so a NUL inside a QUOTED field is silently dropped on read while
      an unquoted one survives (hypothesis-found: ``",\\x00"`` came
      back as ``","``) — whether a field gets quoted depends on its
      content, making the corruption data-dependent and silent.  This
      check runs EVEN WITH ``validate=False`` — unlike newlines there
      is no reader configuration that recovers it.  NUL in corpus text
      is pathological anyway; scrub it upstream or use the JSONL
      source, whose ``\\u0000`` escape round-trips (verified).
    """
    str_fields = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
    ]
    if str_fields:
        # the NUL check runs even with validate=False: unlike embedded
        # newlines, NO reader configuration recovers a quoted-field NUL
        # (multi_line=True does not help), so the documented newline
        # escape hatch must not silently disable it (review-found)
        checks = [
            F.max(F.col(f).contains("\u0000")).alias(f"nul_{f}")
            for f in str_fields
        ]
        if validate:
            for f in str_fields:
                c = F.col(f)
                checks.append(
                    F.max(c.contains("\n") | c.contains("\r")).alias(f"nl_{f}")
                )
                checks.append(F.max(c == F.lit(null_marker)).alias(f"mk_{f}"))
        row = df.agg(*checks).first()
        if validate:
            bad_nl = [f for f in str_fields if row[f"nl_{f}"]]
            bad_mk = [f for f in str_fields if row[f"mk_{f}"]]
            if bad_nl:
                raise ValueError(
                    f"columns {bad_nl} contain embedded newlines, which a "
                    "splittable (multiLine=False) CSV reader silently "
                    "TRUNCATES into trusted rows. Strip them upstream, or "
                    "pass validate=False and read with multi_line=True "
                    "(one-task-per-file parallelism)."
                )
            if bad_mk:
                raise ValueError(
                    f"columns {bad_mk} contain the literal null marker "
                    f"{null_marker!r}, which would read back as NULL "
                    "(Spark cannot quote-disambiguate it). Choose a "
                    "null_marker the data cannot contain."
                )
        bad_nul = [f for f in str_fields if row[f"nul_{f}"]]
        if bad_nul:
            raise ValueError(
                f"columns {bad_nul} contain NUL bytes (U+0000), which "
                "Spark's univocity CSV parser silently DROPS inside "
                "quoted fields on read (its internal no-char sentinel) "
                "while unquoted ones survive — data-dependent silent "
                "corruption with no safe reader configuration, so "
                "validate=False does NOT waive this check. Scrub NULs "
                "upstream or export via the JSONL source, whose "
                "\\u0000 escape round-trips."
            )
    (
        df.write.mode(mode)
        .option("header", True)
        .option("sep", sep)
        .option("escape", '"')
        .option("nullValue", null_marker)
        # the WRITER trims field whitespace by default (these two default
        # TRUE on write, FALSE on read) — ' ' would silently come back ''
        # (property-test-found); pin them off on both sides
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )


def read_csv_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = CORRUPT_COL,
    sep: str = ",",
    multi_line: bool = False,
    null_marker: str = "\\N",
) -> DataFrame:
    """Read a CSV corpus with an EXPLICIT schema and the same quarantine
    contract as :func:`read_jsonl_corpus`: malformed lines kept with the
    raw line in ``corrupt_col`` and every data column NULLed, so
    ``corrupt_col IS NULL`` ⇔ trust the data columns.

    ``multi_line`` is a CORRECTNESS switch, not just a parallelism
    trade-off: with the ``False`` default each ~128 MB block parses in
    parallel, but a record with embedded newlines is split mid-field and
    the truncated prefix is TRUSTED (see write_csv_corpus, which rejects
    such data by default).  Set ``multi_line=True`` only for corpora
    that genuinely carry newlines: Spark must then parse each file as
    one unsplittable unit, so a 100 TB ingest degrades to
    one-task-per-file parallelism (re-shard small or ban embedded
    newlines upstream).  ``null_marker`` must match the writer's."""
    if corrupt_col in schema.fieldNames():
        raise ValueError(
            f"corrupt_col {corrupt_col!r} collides with a schema field"
        )
    full = T.StructType(
        schema.fields + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    raw = (
        spark.read.schema(full)
        .option("header", True)
        .option("sep", sep)
        .option("escape", '"')
        .option("nullValue", null_marker)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("multiLine", multi_line)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )
    return _quarantine(raw, schema, corrupt_col)
