"""Cross-engine deterministic text-hashing primitives.

Every primitive here is expressed twice — for Spark and as the equivalent
DuckDB SQL (the ``*_sql`` twins) — built so both produce BIT-IDENTICAL
results (the driver's oracle gate hash-compares values):

- md5 is the only hash both engines share; 64-bit+ signatures are built
  from hex-string slices of (possibly repeated) md5, compared
  lexicographically — a valid uniform "permutation" for MinHash without
  ever converting hex to native ints (DuckDB lacks conv()).
- char-k-shingling via sequence/generate_series + substring (identical
  1-based, inclusive semantics).
- tokenisation via regex split on ``\\s+`` with empty-string filtering
  (Java regex and RE2 agree on this class).

The hot per-document kernels (``md5cc``, ``shingles``, ``tokens``)
build Spark SQL TEXT over a Spark SQL expression (a
column goes in as ``q(name)``): a caller composes the strings and parses
each output column once with ``F.expr``/``selectExpr``.  A Column tree
costs several py4j round trips per node and a Python lambda tens, so the
text form keeps plan construction cheap; the parsed expression is the
same Catalyst tree.  Lambda variables are ``_``-prefixed so they cannot
capture a user column referenced inside the lambda body.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def q(name: str) -> str:
    """A column name as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sstr(s: str) -> str:
    """A Python string as a Spark SQL string literal (the parser
    unescapes backslashes, so they are doubled)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def dlit(v: float) -> str:
    """A finite Python float as a Spark SQL DOUBLE literal (``repr``
    round-trips, and the parser reads it with Java's correctly rounded
    ``parseDouble``: the same double)."""
    return f"{float(v)!r}D"


# ---- md5 ----
def md5_hex(c: Column) -> Column:
    return F.md5(c.cast("binary"))


def md5_hex_sql(expr: str) -> str:
    return f"md5({expr})"


def md5cc(expr: str) -> str:
    """64 hex chars: md5(s) || md5('x' || s) — eight 8-hex-char (32-bit)
    independent hash slices for MinHash signatures (Spark SQL text)."""
    return (
        f"concat(md5(CAST({expr} AS BINARY)), "
        f"md5(CAST(concat('x', {expr}) AS BINARY)))"
    )


def md5cc_sql(expr: str) -> str:
    return f"md5({expr}) || md5('x' || {expr})"


# ---- shingles ----
def shingles(expr: str, k: int) -> str:
    """All char k-shingles (1..len-k+1); whole string if shorter than k
    (Spark SQL text)."""
    return (
        f"transform(sequence(1, greatest(length({expr}) - {k - 1}, 1)), "
        f"_i -> substring({expr}, _i, {k}))"
    )


def shingles_sql(expr: str, k: int) -> str:
    return (
        f"list_transform(generate_series(1, greatest(length({expr}) - {k - 1}, 1)), "
        f"i -> substring({expr}, i, {k}))"
    )


# ---- tokens ----
# Explicit whitespace class instead of \s: Java's \s includes U+000B but
# RE2's (DuckDB's) does not — split identically in both engines (same
# one-codepoint discrepancy operators/text.py's BPE_PIECE_RE documents).
_WS_CLASS = "[ \\t\\n\\r\\f\\x0B]+"


def tokens(expr: str) -> str:
    """Lower-cased whitespace tokens, empty strings dropped (Spark SQL
    text)."""
    return f"filter(split(lower({expr}), {sstr(_WS_CLASS)}), _t -> _t != '')"


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '{_WS_CLASS}'), "
        "t -> t != '')"
    )


def tokens_raw(text: Column) -> Column:
    """Case-PRESERVING whitespace tokens — the text-emitting operators'
    split (chunk windows, packed sequences), shared so their 'same
    tokenization' contract is one expression, not synced copies
    (review-found)."""
    return F.filter(F.split(text, _WS_CLASS), lambda t: t != "")


def tokens_raw_sql(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array({expr}, '{_WS_CLASS}'), "
        "t -> t != '')"
    )


# ---- hex nibble value (for SimHash bits) ----
def nibble_val_sql(expr: str) -> str:
    return f"(strpos('{HEX}', {expr}) - 1)"


# ---- hashed feature bucket (for linear-model scoring) ----
def hex4_bucket(c: Column, n: int) -> Column:
    """Deterministic bucket 0..n-1 from the FIRST FOUR hex chars of
    md5(c) — the hashing-trick feature index for linear text models.
    JVM side converts the 4-char slice in one ``conv``; the SQL mirror
    (no ``conv`` in DuckDB) recomposes the same value from four nibble
    positions, so both engines bucket every string identically.  The
    modulo over a 65,536-value space carries a ≤ n/65536 bias toward
    low buckets — identical in both engines, and irrelevant for the
    determinism the oracle gate checks; keep n ≤ 4096."""
    if not 2 <= n <= 4096:
        raise ValueError("hex4_bucket needs 2 <= n <= 4096")
    return (
        F.conv(F.substring(F.md5(c.cast("binary")), 1, 4), 16, 10)
        .cast("int") % F.lit(n)
    )


def hex8_val(c: Column) -> Column:
    """BIGINT value 0..2³²-1 of an EIGHT-hex-char column (one JVM conv) —
    turns a ``draw_hex`` string draw into an integer so a sampling
    threshold can be DERIVED IN-PLAN from data (floor(rate · 2³²)),
    where the literal-CASE hex-string thresholds need the rate known in
    Python.  Both engines compare exact integers, so the cross-engine
    contract holds for any rate double they agree on."""
    return F.conv(c, 16, 10).cast("bigint")


def _hexn_val_sql(hexn: str, n: int) -> str:
    """Value of an n-hex-char expression recomposed from its nibble
    positions (no ``conv`` in DuckDB) — the ONE builder behind
    ``hex4_val_sql`` and ``hex8_val_sql`` (review-found: two hand-kept
    copies of the recomposition would drift on exactly the subtleties
    that matter, like the overflow cast below).  ``hexn`` is read n
    times, so it MUST be a bound column reference or lambda variable.
    Any term that can exceed INT32 max (15·16⁷ for n=8) is cast to
    BIGINT before the multiply: DuckDB integer arithmetic errors on
    overflow rather than wrapping."""
    nib = [nibble_val_sql(f"substr({hexn}, {i}, 1)") for i in range(1, n + 1)]
    terms = []
    for i, nb in enumerate(nib):
        p = 16 ** (n - 1 - i)
        if 15 * p > 2**31 - 1:
            terms.append(f"CAST({nb} AS BIGINT) * {p}")
        elif p > 1:
            terms.append(f"{nb} * {p}")
        else:
            terms.append(nb)
    return "(" + " + ".join(terms) + ")"


def hex8_val_sql(hex8: str) -> str:
    """:func:`hex8_val`'s mirror — see :func:`_hexn_val_sql` for the
    binding rule and the INT32-overflow cast."""
    return _hexn_val_sql(hex8, 8)


def hex4_val_sql(hex4: str) -> str:
    """Value 0..65535 of a FOUR-hex-char expression.  ``hex4`` is read
    four times (one per nibble), so it MUST be a bound lambda variable
    or a plain column reference, never an expression that recomputes a
    hash — bind ``substr(md5(...), 1, 4)`` with ``list_transform``
    first when hashing inside a list fold (the BPE lambda-variable
    lesson: variable references are free, inline expressions are not).
    Output is BYTE-IDENTICAL to the pre-round-11 hand-written form
    (asserted in tests), so no oracle embedding it changed."""
    return _hexn_val_sql(hex4, 4)
