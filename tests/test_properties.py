"""Property-based tests (hypothesis): the bucketize compilation agrees with a
pure-Python executable spec on arbitrary inputs, including boundary values,
NaN/inf, and values exactly on bin edges.  This is the engine analog of the
reference's parametrized-grid oracle tests (SURVEY §5)."""

import math

import pytest
from hypothesis import given, settings

from .conftest import scaled_examples as _ex
from hypothesis import strategies as st
from pyspark.sql import functions as F

from xarray_histogram_spark.binspec import (
    IntCategory,
    Integer,
    Regular,
    StrCategory,
    Variable,
)


def py_regular_id(spec: Regular, x):
    """Executable spec: raw id per boost semantics (half-open, NaN→overflow)."""
    if x is None or math.isnan(x):
        return spec.n
    if spec.transform == "log":
        if x <= 0:
            return spec.n
        y, lo, hi = math.log(x), math.log(spec.lo), math.log(spec.hi)
    elif spec.transform == "sqrt":
        y, lo, hi = math.sqrt(x), math.sqrt(spec.lo), math.sqrt(spec.hi)
    elif spec.transform == "pow":
        if x < 0:
            return -1  # out of the pow domain → underflow (= exact path)
        p = float(spec.power)
        y = math.pow(x, p)
        lo, hi = math.pow(spec.lo, p), math.pow(spec.hi, p)
    else:
        y, lo, hi = x, float(spec.lo), float(spec.hi)
    if y < lo:
        return -1
    if y >= hi:
        return spec.n
    return min(int(math.floor((y - lo) * spec.n / (hi - lo))), spec.n - 1)


def spark_ids(spark, spec, values, typ="double"):
    df = spark.createDataFrame([(v,) for v in values], f"x: {typ}")
    return [r["b"] for r in df.select(spec.raw_id_col(F.col("x")).alias("b")).collect()]


@settings(max_examples=_ex(20), deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            st.none(),
            st.floats(min_value=-10.0, max_value=10.0),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_regular_bucketize_property(spark, values):
    spec = Regular(7, -3.0, 5.0)
    got = spark_ids(spark, spec, values)
    exp = [py_regular_id(spec, v) for v in values]
    assert got == exp


@settings(max_examples=_ex(10), deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(min_value=-30.0, max_value=30.0),
            st.just(float("nan")),
            st.just(float("inf")),
            st.just(float("-inf")),
            st.none(),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_pow_bucketize_property(spark, values):
    """Fast pow path vs the executable spec, INCLUDING negative inputs:
    x < 0 is out of the pow domain (lo >= 0 enforced) and maps to
    underflow on both the fast and exact paths — without the guard, even
    powers would fold pow(-3, 2) = 9 onto a positive core bin."""
    for p in (0.5, 2.0):
        spec = Regular(5, 0.0, 16.0, transform="pow", power=p)
        got = spark_ids(spark, spec, values)
        exp = [py_regular_id(spec, v) for v in values]
        assert got == exp
        # fast vs exact agreement on bin-interior values (integers sit far
        # from the transform's irrational edges; AT an edge the two paths
        # may legitimately differ by a Math.pow ulp — the documented
        # reason exact=True exists)
        exact = Regular(5, 0.0, 16.0, transform="pow", power=p, exact=True)
        ints = [
            float(round(v)) for v in values
            if v is not None and not math.isnan(v) and not math.isinf(v)
        ]
        assert spark_ids(spark, exact, ints) == spark_ids(spark, spec, ints)


@settings(max_examples=_ex(10), deadline=None)
@given(st.lists(st.floats(min_value=0.0, max_value=20.0), min_size=1, max_size=20))
def test_variable_bucketize_property(spark, values):
    edges = (0.5, 1.0, 4.0, 9.5)
    spec = Variable(edges)

    def py_id(x):
        if x is None or math.isnan(x):
            return spec.n
        c = sum(1 for e in edges if x >= e)
        return min(c - 1, spec.n)

    got = spark_ids(spark, spec, values)
    exp = [py_id(v) for v in values]
    assert got == exp


def test_edge_values_regular(spark):
    """Values exactly on edges go RIGHT (half-open) incl. hi → overflow."""
    spec = Regular(4, 0.0, 4.0)
    vals = [0.0, 1.0, 2.0, 3.0, 4.0, -0.0, 3.9999999999999996]
    got = spark_ids(spark, spec, vals)
    assert got == [0, 1, 2, 3, 4, 0, 3]


def test_edge_values_integer(spark):
    spec = Integer(-2, 3)
    vals = [-3, -2, 0, 2, 3, None]
    got = spark_ids(spark, spec, vals, typ="bigint")
    assert got == [-1, 0, 2, 4, 5, 5]


def test_category_misses(spark):
    spec = IntCategory((5, 1, 9))
    got = spark_ids(spark, spec, [5, 1, 9, 2, None], typ="bigint")
    assert got == [0, 1, 2, 3, 3]
    s2 = StrCategory(("b", "a"))
    got2 = spark_ids(spark, s2, ["b", "a", "zz", None], typ="string")
    assert got2 == [0, 1, 2, 2]


def test_log_axis_edges(spark):
    spec = Regular(3, 1.0, 1000.0, transform="log")
    vals = [0.5, 1.0, 9.999, 10.0, 999.0, 1000.0, -5.0, 0.0]
    got = spark_ids(spark, spec, vals)
    assert got == [-1, 0, 0, 1, 2, 3, 3, 3]  # neg/zero → overflow (NaN rule)


@settings(max_examples=_ex(15), deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            st.floats(min_value=-1.0, max_value=25.0),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_variable_binary_equals_linear(spark, values):
    """The O(log n) binary-search path agrees with the O(n) fold path."""
    edges = (0.0, 0.5, 1.5, 2.0, 7.25, 9.0, 11.5, 20.0)
    lin = Variable(edges)
    bin_ = Variable(edges, binary=True)
    assert spark_ids(spark, lin, values) == spark_ids(spark, bin_, values)


# ---------------------------------------------------------------------------
# keep_pred_col ≡ id-range filter (the raw-value keep predicate used to avoid
# re-evaluating bucketize in the filter must keep EXACTLY the rows whose raw
# id lies in keep_range)
# ---------------------------------------------------------------------------

import numpy as np


def _kept_sets(spark, spec, values, typ, flow):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], f"i: int, x: {typ}"
    )
    lo, hi = spec.keep_range(flow)
    by_id = df.where(
        spec.raw_id_col(F.col("x")).between(F.lit(lo), F.lit(hi))
    )
    pred = spec.keep_pred_col(F.col("x"), flow)
    by_pred = df.where(pred) if pred is not None else df
    key = lambda d: sorted(r["i"] for r in d.select("i").collect())
    return key(by_id), key(by_pred)


def _float_grid(lo, hi):
    return [
        None, float("nan"), float("inf"), float("-inf"),
        lo, hi, (lo + hi) / 2.0,
        float(np.nextafter(lo, -np.inf)), float(np.nextafter(lo, np.inf)),
        float(np.nextafter(hi, -np.inf)), float(np.nextafter(hi, np.inf)),
        0.0, -0.0, 1e308, -1e308,
    ]


@pytest.mark.parametrize("flow", [False, True])
@pytest.mark.parametrize(
    "spec,typ,values",
    [
        (Regular(7, 2.0, 9.5), "double", _float_grid(2.0, 9.5)),
        (Regular(5, 1.0, 1000.0, transform="log"), "double",
         _float_grid(1.0, 1000.0) + [-3.0, 0.5]),
        (Regular(5, 1.0, 1000.0, transform="log", exact=True), "double",
         _float_grid(1.0, 1000.0) + [-3.0, 0.5]),
        (Regular(4, 0.0, 16.0, transform="sqrt"), "double",
         _float_grid(0.0, 16.0) + [-4.0]),
        (Regular(4, 0.0, 16.0, transform="pow", power=0.5), "double",
         _float_grid(0.0, 16.0)),
        (Regular(4, 1.0, 16.0, transform="pow", power=2.0, exact=True),
         "double", _float_grid(1.0, 16.0)),
        (Variable((0.0, 0.5, 2.25, 7.0)), "double", _float_grid(0.0, 7.0)),
        (Variable((0.0, 0.5, 2.25, 7.0), binary=True), "double",
         _float_grid(0.0, 7.0)),
        (Integer(-2, 5), "bigint",
         [None, -3, -2, -1, 0, 4, 5, 6, (1 << 62)]),
        (IntCategory((3, 1, 7)), "bigint", [None, 1, 2, 3, 7, -7, 0]),
        (StrCategory(("N", "R")), "string", [None, "N", "R", "x", "", "NN"]),
    ],
    ids=lambda p: str(getattr(p, "__class__", type(p)).__name__)[:12]
    if isinstance(p, (Regular, Variable, Integer, IntCategory, StrCategory))
    else None,
)
def test_keep_pred_equals_id_filter(spark, spec, typ, values, flow):
    by_id, by_pred = _kept_sets(spark, spec, values, typ, flow)
    assert by_id == by_pred


@settings(max_examples=_ex(30), deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
        min_size=1, max_size=40,
    )
)
def test_scaled_weight_col_matches_numpy_formula(spark, ws):
    """The engine's int64 weight quantization must equal the numpy fill
    path's half-away-from-zero formula bit-for-bit (the cross-engine
    determinism contract), including exact .5 ties."""
    import numpy as np

    from xarray_histogram_spark.plans.histogram import scaled_weight_expr

    ws = ws + [0.5e-6, -0.5e-6, 2.5e-6, -2.5e-6]  # exact ties at scale 1e6
    df = spark.createDataFrame([(float(w),) for w in ws], "w: double")
    got = [
        r[0]
        for r in df.select(F.expr(scaled_weight_expr("w", 1e6))).collect()
    ]
    x = np.array(ws, dtype=np.float64) * 1e6
    want = np.where(x >= 0, np.floor(x + 0.5), -np.floor(-x + 0.5)).astype(np.int64)
    assert got == want.tolist()


@settings(max_examples=_ex(50), deadline=None)
@given(st.floats(min_value=0.0, max_value=1.0))
def test_hex_threshold_monotone(rate):
    """Sampling thresholds are monotone in the rate and 8 lowercase hex
    chars — the lexicographic comparison contract."""
    from xarray_histogram_spark.operators.sampling import _hex_threshold

    t = _hex_threshold(rate)
    assert len(t) == 8 and all(c in "0123456789abcdef" for c in t)
    if rate < 1.0:
        assert _hex_threshold(rate / 2) <= t


def test_quantile_edges_exact_skewed_vs_sorted_oracle(spark):
    """The distributed exact-rank quantile path must survive adversarial
    skew: 99% of rows share one value (one bucket holds nearly everything)
    plus a spread tail.  The recovered edge doubles must be IDENTICAL to a
    driver-side full-sort oracle's — same rank arithmetic
    (edge_i = sorted[(count-1)·i // n]), same dedup."""
    from xarray_histogram_spark.plans.histogram import quantile_edges

    rng = np.random.default_rng(7)
    heavy = np.full(99_000, 42.5)
    tail = rng.uniform(0.0, 1000.0, size=1_000)
    vals = np.concatenate([heavy, tail])
    rng.shuffle(vals)
    df = spark.createDataFrame(
        [(float(v),) for v in vals], "x double"
    ).repartition(8)

    for n in (4, 10):
        got = quantile_edges(df, "x", n)
        s = np.sort(vals.astype(np.float64))
        c = len(s)
        targets = sorted({((c - 1) * i) // n for i in range(n + 1)})
        want = sorted({float(s[t]) for t in targets})
        assert got == want, (n, got, want)
    # the heavy value must collapse duplicate edges (fewer, increasing)
    e = quantile_edges(df, "x", 10)
    assert e == sorted(set(e)) and len(e) >= 2


def test_curate_partitioning_independent(spark, sf_dir):
    """The curation pipeline's output is a pure function of the data —
    identical rows under different input partitionings (the md5 window
    and split draws are value-deterministic, never order/partition
    dependent)."""
    from xarray_histogram_spark.operators.curate import curate_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = curate_documents(docs.repartition(3), "text", "doc_id",
                         quality_min=0.2, salt="s")
    b = curate_documents(docs.repartition(11), "text", "doc_id",
                         quality_min=0.2, salt="s")
    ra = sorted(map(str, a.collect()))
    rb = sorted(map(str, b.collect()))
    assert ra == rb and len(ra) > 0


# ---------------------------------------------------------------------------
# temporal joins: executable brute-force specs on arbitrary event layouts
# ---------------------------------------------------------------------------


def py_asof(left_rows, right_rows, tolerance=None):
    """Spec: per left row, the right row with max (t, rid) among same-key
    rows with non-null key/ts and r.t <= l.t (within tolerance)."""
    out = {}
    for lid, lk, lt in left_rows:
        best = None
        if lk is not None and lt is not None:
            for rid, rk, rt, rv in right_rows:
                if rk is None or rt is None or rk != lk or rt > lt:
                    continue
                if tolerance is not None and rt < lt - tolerance:
                    continue
                key = (rt, rid if rid is not None else -(10**18))
                if best is None or key > best[0]:
                    best = (key, rid, rt, rv)
        out[lid] = (best[1], best[2], best[3]) if best else (None, None, None)
    return out


@settings(max_examples=_ex(15), deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-5, 5)),
        min_size=1, max_size=12,
    ),
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),
            st.one_of(st.none(), st.integers(-5, 5)),
            st.integers(0, 9),
        ),
        min_size=0, max_size=12,
    ),
    st.one_of(st.none(), st.integers(0, 4)),
)
def test_asof_join_property(spark, lrows, rrows, tolerance):
    from xarray_histogram_spark.operators.joins import asof_join

    left_rows = [(i, k, t) for i, (k, t) in enumerate(lrows)]
    right_rows = [
        (100 + i, k, t, float(v)) for i, (k, t, v) in enumerate(rrows)
    ]
    left = spark.createDataFrame(left_rows, "lid long, k long, t long")
    right = spark.createDataFrame(
        right_rows, "rid long, k long, t long, v double"
    )
    got = {
        r["lid"]: (r["asof_rid"], r["asof_ts"], r["asof_v"])
        for r in asof_join(
            left, right, ["k"], "t", ["v"], "rid", tolerance=tolerance
        ).collect()
    }
    assert got == py_asof(left_rows, right_rows, tolerance)


@settings(max_examples=_ex(15), deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-200, 200)),
        min_size=1, max_size=10,
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-200, 200)),
        min_size=0, max_size=15,
    ),
    st.integers(1, 150),
)
def test_range_join_count_property(spark, lrows, rrows, w):
    from xarray_histogram_spark.operators.joins import range_join_count

    left_rows = [(i, k, t) for i, (k, t) in enumerate(lrows)]
    left = spark.createDataFrame(left_rows, "lid long, k long, t long")
    right = spark.createDataFrame(rrows, "k long, t long")
    got = {
        r["lid"]: r["n_in_window"]
        for r in range_join_count(left, right, ["k"], "t", w, "lid").collect()
    }
    exp = {
        lid: sum(1 for rk, rt in rrows if rk == k and t < rt <= t + w)
        for lid, k, t in left_rows
    }
    assert got == exp


# ---------------------------------------------------------------------------
# round-6 surfaces: MonotoneRegular + adoption
# ---------------------------------------------------------------------------


def py_monotone_id(spec, x):
    """Executable spec for the MonotoneRegular FAST path: bucket the
    transformed value against transformed bounds; NULL/NaN input or an
    out-of-domain (NaN/undefined) transform result -> overflow."""
    if x is None or math.isnan(x):
        return spec.n
    try:
        y = spec.fwd(x)
    except (ValueError, OverflowError, ZeroDivisionError):
        return spec.n
    if y is None or math.isnan(y):
        return spec.n
    lo, hi = spec.fwd(spec.lo), spec.fwd(spec.hi)
    if y < lo:
        return -1
    if y >= hi:
        return spec.n
    return min(int(math.floor((y - lo) * spec.n / (hi - lo))), spec.n - 1)


@settings(max_examples=_ex(10), deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(min_value=-2.0, max_value=3.0),
            st.just(float("nan")),
            st.just(float("inf")),
            st.just(float("-inf")),
            st.none(),
            st.floats(min_value=0.005, max_value=0.995),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_monotone_logit_fast_property(spark, values):
    from xarray_histogram_spark.binspec import MonotoneRegular

    spec = MonotoneRegular.logit(6, 0.05, 0.9, exact=False)
    got = spark_ids(spark, spec, values)
    exp = [py_monotone_id(spec, v) for v in values]
    assert got == exp


@settings(max_examples=_ex(10), deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(min_value=-1e12, max_value=1e12),
            st.floats(min_value=-2e8, max_value=-5e7),  # cancellation zone
            st.just(float("nan")),
            st.just(float("inf")),
            st.just(float("-inf")),
            st.none(),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_monotone_asinh_exact_property(spark, values):
    """Exact path: ids equal the literal-edge scan of a Variable over the
    same edges (the defining equivalence), for the full adversarial float
    menagerie including the negative cancellation zone."""
    from xarray_histogram_spark.binspec import MonotoneRegular

    spec = MonotoneRegular.asinh(8, -1e9, 1e9, exact=True)
    v = Variable(tuple(spec.edges()))
    got = spark_ids(spark, spec, values)
    exp = spark_ids(spark, v, values)
    assert got == exp


@settings(max_examples=_ex(8), deadline=None)
@given(
    n=st.integers(min_value=2, max_value=12),
    lo=st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    span=st.floats(min_value=1e-3, max_value=1e6, allow_nan=False),
)
def test_adopt_regular_roundtrip_property(spark, n, lo, span):
    """Any Regular histogram frame adopts back with NO NULL ids/metadata
    and identical public rows — including axes whose recomputed labels
    drift from the stored ones by an ulp (the map is keyed on the frame's
    own labels)."""
    from xarray_histogram_spark import Regular, adopt_dataframe, histogram

    spec = Regular(n, lo, lo + span)
    vals = [lo + span * k / 7.0 for k in range(-2, 10)]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    h = histogram(df, "x", spec, flow=True)
    a = adopt_dataframe(h.df)
    rows = a._dense.collect()
    assert rows
    for r in rows:
        assert r["x_bin"] is not None
        assert r["__x_width"] is not None and r["__x_is_flow"] is not None
    assert sorted(map(tuple, h.df.collect())) == sorted(
        map(tuple, a.df.collect())
    )


@settings(max_examples=_ex(15), deadline=None)
@given(
    st.lists(
        st.one_of(
            # candidate-shaped: 13-16 digits starting 3-6
            st.from_regex(r"[3-6][0-9]{12,15}", fullmatch=True),
            # off-by-length / wrong first digit / embedded in longer runs
            st.from_regex(r"[0-9]{10,20}", fullmatch=True),
            st.from_regex(r"[12789][0-9]{12,15}", fullmatch=True),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_luhn_fold_matches_reference(spark, runs):
    """The engine's JVM Luhn fold (and implicitly the DuckDB mirror,
    which the fuzz/battery gates pin against it) must agree with a
    straightforward pure-Python Luhn on arbitrary digit runs: a doc is
    one run per line, and the n_cc_raw count equals the number of
    candidate-shaped runs whose checksum holds."""
    from xarray_histogram_spark.operators import text as tx

    def luhn(s: str) -> bool:
        tot = 0
        for i, ch in enumerate(reversed(s), start=1):
            d = int(ch)
            if i % 2 == 0:
                d *= 2
                if d > 9:
                    d -= 9
            tot += d
        return tot % 10 == 0

    expected = sum(
        1
        for s in runs
        if 13 <= len(s) <= 16 and s[0] in "3456" and luhn(s)
    )
    doc = "\n".join(runs)
    df = spark.createDataFrame([(1, doc)], "doc_id INT, text STRING")
    row = tx.pii_scrub(df, "text", "doc_id").collect()[0]
    assert row.n_cc_raw == expected


@settings(max_examples=_ex(10), deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_characters="\n\r\x00",
                blacklist_categories=("Cs",),
            ),
            max_size=40,
        ).filter(lambda s: s != "\\N"),
        min_size=1,
        max_size=15,
    )
)
def test_csv_roundtrip_property(spark, tmp_path_factory, texts):
    """Any newline-free, NUL-free, non-marker text — quotes, commas,
    separators, unicode, empty strings, leading/trailing spaces — must
    survive the CSV round-trip byte-exactly, and NULL must stay NULL
    (the writer guards reject the only three shapes excluded by
    construction; NUL joined them when hypothesis found univocity
    silently dropping it inside QUOTED fields on read — ",\\x00" came
    back as "," — see the write_csv_corpus guard)."""
    from xarray_histogram_spark.sources.corpus import (
        read_csv_corpus, write_csv_corpus,
    )

    rows = [(i, t) for i, t in enumerate(texts)] + [(len(texts), None)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    path = str(tmp_path_factory.mktemp("csvprop") / "c")
    write_csv_corpus(df, path)
    back = read_csv_corpus(spark, path, df.schema)
    got = sorted((r.doc_id, r.text) for r in back.collect())
    assert got == sorted(rows)


@settings(max_examples=_ex(10), deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=40,
        ),
        min_size=1,
        max_size=15,
    )
)
def test_jsonl_roundtrip_property(spark, tmp_path_factory, texts):
    """JSONL must round-trip ARBITRARY text — including newlines, quotes
    and backslashes, which JSON escapes (unlike CSV, which rejects
    newlines at write time) — plus NULL, byte-exactly."""
    from xarray_histogram_spark.sources.corpus import (
        read_jsonl_corpus, write_jsonl_corpus,
    )

    rows = [(i, t) for i, t in enumerate(texts)] + [(len(texts), None)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    path = str(tmp_path_factory.mktemp("jsonlprop") / "j")
    write_jsonl_corpus(df, path)
    back = read_jsonl_corpus(spark, path, df.schema)
    got = sorted(
        (r.doc_id, r.text) for r in back.collect()
    )
    assert got == sorted(rows)


# ---- BPE-merge token counting: engine ≡ DuckDB mirror ≡ executable spec ----

def _bpe_spec_count(text, merges):
    """Executable spec of bpe_token_cols: TRUE leftmost-first BPE
    applied rank by rank at the token level (the engine's double-
    boundary one-replace-per-rank encoding is exactly this — the
    review-found self-merge-run divergence of the old single-separator
    form is what this spec guards against)."""
    import re as _re

    from xarray_histogram_spark.operators.text import BPE_PIECE_RE

    if text is None:
        return None
    text = text.replace("\x1f", "")
    total = 0
    for p in _re.findall(BPE_PIECE_RE, text):
        toks = [c for c in p if c != "\n"]
        for a, b in merges:
            i, out = 0, []
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        total += len(toks)
    return total


_BPE_TOKENS = ("a", "b", "t", "h", "e", "1", ".", "é", "th", "he", "ab",
               "aa", "the", "-", "--", "aab")  # incl. self-merges
_BPE_TEXT_ALPHABET = "abthe1 .,é\n\t\x1f\r-"


@settings(max_examples=_ex(15), deadline=None)
@given(
    st.lists(
        st.one_of(
            st.text(alphabet=_BPE_TEXT_ALPHABET, max_size=60),
            st.none(),
        ),
        min_size=1,
        max_size=6,
    ),
    st.lists(
        st.tuples(
            st.sampled_from(_BPE_TOKENS), st.sampled_from(_BPE_TOKENS)
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_bpe_count_matches_spec_and_mirror(spark, texts, merges):
    import duckdb
    import pandas as pd

    from xarray_histogram_spark.operators import text as tx

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in tx.bpe_token_count(df, "text", "doc_id", merges).collect()
    }
    con = duckdb.connect()
    con.register(
        "bpedocs",
        pd.DataFrame(
            {"doc_id": range(len(texts)),
             "text": pd.array(texts, dtype="string")}
        ),
    )
    duck = {
        r[0]: r[1]
        for r in con.execute(
            tx.bpe_token_count_sql("bpedocs", "text", "doc_id", merges)
        ).fetchall()
    }
    for i, t in enumerate(texts):
        exp = _bpe_spec_count(t, merges)
        assert got[i] == exp, (t, merges, got[i], exp)
        assert duck[i] == exp, (t, merges, duck[i], exp)


def test_bpe_demo_table_equals_leftmost_first(spark, sf_dir):
    """On the demo table over real corpus text the engine fold equals
    the leftmost-first executable spec (same _bpe_spec_count the fuzz
    uses — one spec, no inline re-implementation)."""
    from xarray_histogram_spark.operators import text as tx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in tx.bpe_token_count(docs, "text", "doc_id").collect()
    }
    for row in docs.select("doc_id", "text").collect():
        assert got[row["doc_id"]] == _bpe_spec_count(
            row["text"], tx.DEMO_BPE_MERGES
        )
    # non-vacuous: merges actually fire (count < chars of pieces)
    assert any(v and v > 0 for v in got.values())


def test_bpe_merge_table_validation(spark):
    from xarray_histogram_spark.operators import text as tx

    for bad in ([], [("a", "")], [("", "b")], [("a\x1f", "b")],
                [("a", "b\x1e")]):
        with pytest.raises(ValueError):
            tx.bpe_token_cols("text", bad)
        with pytest.raises(ValueError):
            tx.bpe_token_count_sql("docs", "text", "doc_id", bad)


def test_bpe_self_merge_runs_exact(spark):
    """Review-found regression: self-merges on runs must count like real
    BPE ('------' with (-,-) is 3 tokens, not the 4 the old
    single-separator two-pass replace produced); pinned for run lengths
    1..16 and a rank-chained table."""
    import duckdb
    import pandas as pd

    from xarray_histogram_spark.operators import text as tx

    texts = ["-" * n for n in range(1, 17)] + ["--- --- -----", "aaaa aaa"]
    merges = [("-", "-"), ("--", "--"), ("a", "a"), ("aa", "a")]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in tx.bpe_token_count(df, "text", "doc_id", merges).collect()
    }
    con = duckdb.connect()
    con.register(
        "bperuns",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    duck = {
        r[0]: r[1]
        for r in con.execute(
            tx.bpe_token_count_sql("bperuns", "text", "doc_id", merges)
        ).fetchall()
    }
    for i, t in enumerate(texts):
        exp = _bpe_spec_count(t, merges)
        assert got[i] == exp == duck[i], (t, got[i], duck[i], exp)
    # the review's concrete case: 6 dashes -> (--)(--)(--) -> then
    # (--,--) chains -> (----)(--) = 2 tokens
    assert got[5] == 2


def _bpe_pair_spec(texts, merges):
    """Executable spec of bpe_pair_counts: adjacent pairs of the same
    per-piece leftmost-first rank-by-rank merged state _bpe_spec_count
    walks, counted corpus-wide (pairs never cross piece boundaries)."""
    import re as _re
    from collections import Counter

    from xarray_histogram_spark.operators.text import BPE_PIECE_RE

    c = Counter()
    for t in texts:
        if t is None:
            continue
        t = t.replace("\x1f", "")
        for p in _re.findall(BPE_PIECE_RE, t):
            toks = [ch for ch in p if ch != "\n"]
            for a, b in merges:
                i, out = 0, []
                while i < len(toks):
                    if (i + 1 < len(toks) and toks[i] == a
                            and toks[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            for i in range(len(toks) - 1):
                c[(toks[i], toks[i + 1])] += 1
    return dict(c)


@settings(max_examples=_ex(12), deadline=None)
@given(
    st.lists(
        st.one_of(
            st.text(alphabet=_BPE_TEXT_ALPHABET, max_size=60),
            st.none(),
        ),
        min_size=1,
        max_size=6,
    ),
    st.lists(
        st.tuples(
            st.sampled_from(_BPE_TOKENS), st.sampled_from(_BPE_TOKENS)
        ),
        min_size=0,  # empty table = character-level step-0 counting
        max_size=8,
    ),
)
def test_bpe_pair_counts_match_spec_and_mirror(spark, texts, merges):
    """bpe_pair_counts (merge learning's per-step aggregation) equals
    the token-level spec AND the DuckDB mirror on random tables incl.
    self-merges and the EMPTY step-0 table."""
    import duckdb
    import pandas as pd

    from xarray_histogram_spark.operators import text as tx

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    got = {
        (r["pair_left"], r["pair_right"]): r["cnt"]
        for r in tx.bpe_pair_counts(df, "text", merges).collect()
    }
    con = duckdb.connect()
    con.register(
        "bpedocs",
        pd.DataFrame(
            {"doc_id": range(len(texts)),
             "text": pd.array(texts, dtype="string")}
        ),
    )
    duck = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            tx.bpe_pair_counts_sql("bpedocs", "text", merges)
        ).fetchall()
    }
    exp = _bpe_pair_spec(texts, merges)
    assert got == exp, (merges, got, exp)
    assert duck == exp, (merges, duck, exp)


@settings(max_examples=_ex(12), deadline=None)
@given(
    st.lists(
        st.one_of(
            st.text(alphabet="ab c\t\nd-é", max_size=40), st.none()
        ),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=7),
)
def test_chunk_windows_matches_spec_and_mirror(spark, texts, chunk, stride):
    """chunk_windows (round-9 end-coverage stop) equals the executable
    spec and the DuckDB mirror for random texts and window geometries,
    incl. stride > chunk sampling gaps; every emitted window extends
    strictly past its predecessor (no contained trailing windows)."""
    import duckdb
    import pandas as pd

    from xarray_histogram_spark.operators import text as tx

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    got = sorted(
        tuple(r)
        for r in tx.chunk_windows(df, "text", "doc_id", chunk, stride).collect()
    )
    con = duckdb.connect()
    con.register(
        "cdocs",
        pd.DataFrame(
            {"doc_id": range(len(texts)),
             "text": pd.array(texts, dtype="string")}
        ),
    )
    duck = sorted(
        tuple(r)
        for r in con.execute(
            tx.chunk_windows_sql("cdocs", "text", "doc_id", chunk, stride)
        ).fetchall()
    )
    ref = []
    for i, t in enumerate(texts):
        if t is None:
            continue
        toks = t.split()
        n = len(toks)
        if n == 0:
            continue
        stop = min(n - 1, max(n - chunk, 0) + stride - 1)
        for s in range(0, stop + 1, stride):
            w = toks[s:s + chunk]
            ref.append((i, s // stride, len(w), " ".join(w)))
    assert got == sorted(ref), (chunk, stride, got, sorted(ref))
    assert duck == sorted(ref)
    ends = {}
    for (i, cid, nw, _t) in got:
        ends.setdefault(i, []).append(cid * stride + nw)
    for ee in ends.values():
        ee.sort()
        assert all(a < b for a, b in zip(ee, ee[1:]))
