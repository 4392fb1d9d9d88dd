"""Unit tests for BinSpec metadata algebra (no Spark needed).

Mirrors the reference's metadata contract tests
(/root/reference/tests/test_histogram.py:76-254): bin labels, sizes,
flow encodings (±inf / int64 min-max / "_flow_bin"), widths/centers."""

import math

import pytest
from pyspark.sql import functions as F

from xarray_histogram_spark.binspec import (
    FLOW_STR,
    I64_MAX,
    I64_MIN,
    BinSpec,
    IntCategory,
    Integer,
    Regular,
    StrCategory,
    Variable,
)


def test_regular_metadata():
    s = Regular(4, 0.0, 2.0)
    assert s.n == 4
    assert s.extent == 6
    assert s.edges() == [0.0, 0.5, 1.0, 1.5, 2.0]
    assert s.labels(flow=False) == [0.0, 0.5, 1.0, 1.5]
    assert s.labels(flow=True) == [float("-inf"), 0.0, 0.5, 1.0, 1.5, float("inf")]
    assert s.widths(flow=False) == [0.5] * 4
    assert s.widths(flow=True) == [1.0, 0.5, 0.5, 0.5, 0.5, 1.0]
    assert s.centers(flow=False) == [0.25, 0.75, 1.25, 1.75]


def test_regular_flow_flags():
    s = Regular(4, 0.0, 2.0, underflow=False, overflow=True)
    assert s.extent == 5
    assert s.keep_range(flow=True) == (0, 4)
    assert s.keep_range(flow=False) == (0, 3)
    assert s.labels(flow=True) == [0.0, 0.5, 1.0, 1.5, float("inf")]


def test_regular_log_edges():
    s = Regular(3, 1.0, 1000.0, transform="log")
    es = s.edges()
    assert es[0] == 1.0 and es[-1] == 1000.0
    assert es[1] == pytest.approx(10.0)
    assert es[2] == pytest.approx(100.0)


def test_regular_validation():
    with pytest.raises(ValueError):
        Regular(0, 0.0, 1.0)
    with pytest.raises(ValueError):
        Regular(3, 1.0, 1.0)
    with pytest.raises(ValueError):
        Regular(3, -1.0, 1.0, transform="log")
    with pytest.raises(ValueError):
        Regular(3, 0.0, 1.0, transform="exp")
    with pytest.raises(ValueError):
        Regular(3, 0.0, 1.0, transform="pow")  # power missing
    with pytest.raises(ValueError):
        Regular(3, 0.0, 1.0, transform="pow", power=-1.0)
    with pytest.raises(ValueError):
        Regular(3, -1.0, 1.0, transform="pow", power=2.0)
    with pytest.raises(ValueError):
        Regular(3, 0.0, 1.0, power=2.0)  # power without transform="pow"


def test_regular_pow_edges():
    """pow(p) edge spacing: y = x^p uniform => edges = (i/n · span_y)^(1/p);
    p=2 on [0,16] gives sqrt-spaced edges, p=0.5 gives square-spaced."""
    s = Regular(4, 0.0, 16.0, transform="pow", power=0.5)
    assert s.edges() == [0.0, 1.0, 4.0, 9.0, 16.0]
    s2 = Regular(2, 0.0, 4.0, transform="pow", power=2.0)
    es = s2.edges()
    assert es[0] == 0.0 and es[-1] == 4.0
    assert es[1] == pytest.approx(math.sqrt(8.0))
    d = s.to_dict()
    assert BinSpec.from_dict(d) == s


def test_variable_metadata():
    s = Variable((0.0, 1.0, 3.0, 10.0))
    assert s.n == 3
    assert s.labels(flow=False) == [0.0, 1.0, 3.0]
    assert s.widths(flow=False) == [1.0, 2.0, 7.0]
    assert s.centers(flow=False) == [0.5, 2.0, 6.5]
    with pytest.raises(ValueError):
        Variable((1.0, 1.0, 2.0))


def test_integer_metadata():
    s = Integer(0, 5)
    assert s.n == 5
    assert s.labels(flow=False) == [0, 1, 2, 3, 4]
    assert s.labels(flow=True) == [I64_MIN, 0, 1, 2, 3, 4, I64_MAX]
    assert s.centers(flow=False) == [0.5, 1.5, 2.5, 3.5, 4.5]
    assert s.widths(flow=True)[0] == 1.0


def test_intcategory_metadata():
    s = IntCategory((2, 5, 8, 7))
    assert s.n == 4
    assert not s.underflow and s.overflow
    assert s.labels(flow=False) == [2, 5, 8, 7]
    assert s.labels(flow=True) == [2, 5, 8, 7, I64_MAX]
    assert s.keep_range(flow=True) == (0, 4)
    assert s.keep_range(flow=False) == (0, 3)


def test_strcategory_metadata():
    s = StrCategory(("a", "b"))
    assert s.labels(flow=True) == ["a", "b", FLOW_STR]
    with pytest.raises(ValueError):
        StrCategory(("a", "a"))


def test_serialization_roundtrip():
    specs = [
        Regular(10, 1.0, 3.0, transform="log", exact=True),
        Regular(5, 0.0, 1.0, overflow=False),
        Variable((0.0, 1.0, 5.0)),
        Integer(-2, 7),
        IntCategory((4, 1, 9)),
        StrCategory(("x", "y", "z")),
    ]
    for s in specs:
        d = s.to_dict()
        s2 = BinSpec.from_dict(d)
        assert s2 == s, f"roundtrip failed for {s}"


def test_areas_outer_product():
    from xarray_histogram_spark.plans.result import HistogramResult

    r = HistogramResult(
        _agg=None,
        variables=["a", "b"],
        specs={"a": Regular(2, 0.0, 1.0), "b": Variable((0.0, 1.0, 3.0))},
        group_by=[],
        value_col="v",
        density=False,
        flow=False,
    )
    # widths a: [.5,.5]; b: [1,2] → areas row-major: [.5, 1, .5, 1]
    assert r.areas() == [0.5, 1.0, 0.5, 1.0]


def test_integer_bool_labels():
    """Reference bool-axis labeling (core.py:536-543): flow-off Integer(0,2)
    with bool_labels emits boolean False/True labels and no flow bins."""
    from xarray_histogram_spark.binspec import Integer

    s = Integer(0, 2, bool_labels=True)
    assert s.label_type == "boolean"
    assert not s.underflow and not s.overflow
    assert [b.label for b in s.bins(False)] == [False, True]
    assert s.label_sql_lit(True) == "TRUE"
    rt = Integer.from_dict(s.to_dict())
    assert rt == s
    import pytest as _pt
    with _pt.raises(ValueError):
        Integer(0, 3, bool_labels=True)


def test_category_large_set_array_branch_matches_when_chain(spark):
    """Category sets above the when-chain threshold compile to the
    array_position form; both compilations must emit identical ids
    (including NULL → overflow and miss → overflow)."""
    import xarray_histogram_spark.binspec as bs

    cats_i = tuple(range(0, 80, 2))          # 40 int categories
    cats_s = tuple(f"c{i}" for i in range(40))
    rows = [(i, f"c{i % 50}") for i in range(100)] + [(None, None)]
    df = spark.createDataFrame(rows, "iv bigint, sv string")
    for spec, col in (
        (bs.IntCategory(cats_i), "iv"),
        (bs.StrCategory(cats_s), "sv"),
    ):
        assert spec.n > bs._CAT_CASE_MAX
        big = df.select(spec.raw_id_col(F.col(col)).alias("id")).collect()
        # force the when-chain branch by lowering the threshold
        orig = bs._CAT_CASE_MAX
        bs._CAT_CASE_MAX = 10**9
        try:
            small = df.select(spec.raw_id_col(F.col(col)).alias("id")).collect()
        finally:
            bs._CAT_CASE_MAX = orig
        assert [r["id"] for r in big] == [r["id"] for r in small]
        assert all(0 <= r["id"] <= spec.n for r in big)
