"""Error-contract tests (reference §5: malformed inputs fail fast with clear
errors — accessor.py:456-457, 565-568, core.py dtype gates)."""

import pytest

from xarray_histogram_spark import (
    IntCategory,
    Integer,
    Regular,
    StrCategory,
    Variable,
    histogram,
    histogramdd,
)


def test_bins_ranges_arity(lineitem):
    with pytest.raises(ValueError, match="bin specs"):
        histogramdd(lineitem, ["l_quantity", "l_discount"], [Regular(5, 0, 1)])
    with pytest.raises(ValueError, match="ranges"):
        histogramdd(
            lineitem, ["l_quantity", "l_discount"], [5, 5],
            ranges=[(0.0, 1.0), (0.0, 1.0), (0.0, 1.0)],
        )


def test_no_variables(lineitem):
    with pytest.raises(ValueError, match="at least one"):
        histogramdd(lineitem, [], 5)


def test_bad_storage(lineitem):
    with pytest.raises(ValueError, match="storage"):
        histogram(lineitem, "l_quantity", 5, storage="int32")


def test_unknown_column(lineitem):
    with pytest.raises(ValueError, match="not in DataFrame"):
        histogram(lineitem, "nope", Regular(5, 0.0, 1.0))


def test_apply_func_non_monotonic(lineitem):
    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="increasing"):
        h.apply_func(lambda e: -e)
    with pytest.raises(ValueError, match="factor"):
        h.scale(-2.0)


def test_apply_func_on_category(lineitem):
    h = histogram(lineitem, "l_returnflag", StrCategory(("A", "N", "R")))
    with pytest.raises(ValueError, match="interval axis"):
        h.apply_func(lambda e: e)
    with pytest.raises(ValueError, match="no edges"):
        h.edges()


def test_interval_confidence_range(lineitem):
    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="confidence"):
        h.interval(1.5)


def test_moment_order(lineitem):
    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="order"):
        h.moment(0)


def test_unknown_variable(lineitem):
    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="unknown variable"):
        h.mean("l_discount")
    with pytest.raises(ValueError, match="unknown variable"):
        h.normalize(["l_discount"])


def test_spec_validation_errors():
    with pytest.raises(ValueError):
        Variable((1.0,))
    with pytest.raises(ValueError):
        Integer(5, 5)
    with pytest.raises(ValueError):
        IntCategory(())
    with pytest.raises(ValueError):
        IntCategory((1, 1))

def test_infeasible_extent_raises(spark, lineitem):
    from xarray_histogram_spark import Regular, histogramdd

    big = Regular(2**12, 0.0, 1.0)
    with pytest.raises(ValueError, match="infeasible"):
        histogramdd(
            lineitem.selectExpr(
                "l_discount AS a", "l_tax AS b", "l_quantity AS c"
            ),
            ["a", "b", "c"], [big, big, big],
        )


def test_top_terms_validation(spark):
    from xarray_histogram_spark.operators.text import top_terms

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k >= 1"):
        top_terms(docs, "text", "doc_id", k=0)
    with pytest.raises(ValueError, match="min_df >= 1"):
        top_terms(docs, "text", "doc_id", min_df=0)


def test_curate_split_validation(spark):
    from xarray_histogram_spark.operators.curate import curate_documents

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match=">= 2 splits"):
        curate_documents(docs, "text", "doc_id", splits=[("train", 1.0)])
    with pytest.raises(ValueError, match="sum to"):
        curate_documents(
            docs, "text", "doc_id", splits=[("a", 0.5), ("b", 0.2)]
        )
    # splits=() disables split assignment entirely
    cols = curate_documents(docs, "text", "doc_id", splits=()).columns
    assert "split" not in cols


def test_growth_on_fractional_column_raises(lineitem):
    """Growth on a double column would silently truncate values into int
    categories — must fail fast with direction instead."""
    from xarray_histogram_spark import Growth, histogram

    with pytest.raises(TypeError, match="string or integral"):
        histogram(lineitem, "l_extendedprice", Growth())


def test_max_categories_validation():
    """max_categories must be >= 1 everywhere it is accepted; an explicit
    0 used to silently fall back to the 10,000 default (ADVICE r05)."""
    from xarray_histogram_spark import Growth, IntCategory, StrCategory

    for bad in (0, -5):
        with pytest.raises(ValueError, match=">= 1"):
            Growth(max_categories=bad)
        with pytest.raises(ValueError, match=">= 1"):
            IntCategory((), growth=True, max_categories=bad)
        with pytest.raises(ValueError, match=">= 1"):
            StrCategory((), growth=True, max_categories=bad)
    Growth(max_categories=1)
    IntCategory((), growth=True, max_categories=1)
    StrCategory((), growth=True, max_categories=1)


def test_similarity_guards(spark, sf_dir):
    """Missing/duplicate query ids raise; mismatched embedding dimensions
    raise at execution instead of silently returning empty results."""
    from pyspark.sql import functions as F

    from xarray_histogram_spark.operators.similarity import (
        ann_topk, cosine_topk, ivf_topk, with_lsh_bucket,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="not found"):
        cosine_topk(emb, query_id=10**9)
    with pytest.raises(ValueError, match="not found"):
        ann_topk(emb, query_id=10**9)
    with pytest.raises(ValueError, match="not found"):
        ivf_topk(emb, query_id=10**9)
    dup = emb.unionByName(emb.limit(1))
    qid = emb.select("vec_id").first()[0]
    with pytest.raises(ValueError, match="not unique"):
        cosine_topk(dup, query_id=qid)
    # 3-dim embeddings vs 64-dim planes: loud failure, not bucket-0 soup
    from pyspark.errors import SparkRuntimeException

    bad = emb.withColumn("embedding", F.slice("embedding", 1, 3))
    with pytest.raises(SparkRuntimeException, match="dimension mismatch"):
        with_lsh_bucket(bad).select("bucket").collect()


def test_write_result_append_rejected(spark, lineitem, tmp_path):
    from xarray_histogram_spark import Regular, histogram
    from xarray_histogram_spark.sources.io import write_result

    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="append"):
        write_result(h, str(tmp_path / "h"), mode="append")


def test_cdf_nan_raises(lineitem):
    from xarray_histogram_spark import Regular, histogram

    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="NaN"):
        h.cdf(float("nan"))


def test_empty_variable_lists_raise(lineitem):
    from xarray_histogram_spark import Regular, histogram

    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0), flow=True)
    with pytest.raises(ValueError, match="no variables"):
        h.remove_flow([])
    with pytest.raises(ValueError, match="no variables"):
        h.normalize([])


def test_new_curation_ops_collision_guards(spark):
    """Output-name collisions fail fast instead of producing ambiguous
    duplicate columns (the asof_join collision-check convention)."""
    import pytest as _pt

    from xarray_histogram_spark.operators import similarity as sim
    from xarray_histogram_spark.operators import text as tx

    df = spark.createDataFrame([("x", "t")], "n_pii STRING, text STRING")
    with _pt.raises(ValueError, match="collides"):
        tx.pii_scrub(df, "text", "n_pii")
    df2 = spark.createDataFrame([("x", "t")], "domain STRING, text STRING")
    with _pt.raises(ValueError, match="collides"):
        tx.extract_urls(df2, "text", "domain")
    df3 = spark.createDataFrame(
        [(1, [1.0])], "rk LONG, embedding ARRAY<FLOAT>"
    )
    with _pt.raises(ValueError, match="collides"):
        sim.ann_topk_batch(df3, [1], id_col="rk")


def test_lsh_bucket_name_collision_guard(spark):
    """An existing 'bucket' column would be silently overwritten by the
    LSH hash (review finding) — every ANN entry point must fail fast."""
    import pytest as _pt

    from xarray_histogram_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [1.0], 9)], "vec_id LONG, embedding ARRAY<FLOAT>, bucket INT"
    )
    with _pt.raises(ValueError, match="bucket"):
        sim.with_lsh_bucket(df)
    with _pt.raises(ValueError, match="bucket"):
        sim.ann_topk_batch(df, [1])


def test_filter_top_fraction_sql_guard():
    """The SQL builder applies the same fraction guard as the Python
    twin instead of silently emitting an empty-result query
    (review-found mirror divergence)."""
    from xarray_histogram_spark.operators.sampling import (
        filter_top_fraction_sql,
    )

    for num, den in ((0, 4), (5, 4), (1, 0)):
        with pytest.raises(ValueError, match="keep_num"):
            filter_top_fraction_sql("t", ["id"], "score", num, den)


def _planners():
    """Every histogram planner as ``build(df, col, spec, **kw)``."""
    from xarray_histogram_spark import histogram_columns
    from xarray_histogram_spark.plans.binned import (
        binned_statistic,
        mean_storage_histogram,
        weight_storage_histogram,
    )
    from xarray_histogram_spark.plans.fast_fill import histogramdd_fill
    from xarray_histogram_spark.plans.rollup import (
        rollup_histogram,
        rollup_histogramdd,
    )
    from xarray_histogram_spark.streaming.histogram_stream import (
        session_histogram,
        streaming_histogram,
    )
    from xarray_histogram_spark.streaming.stateful import (
        stateful_cumulative_histogram,
    )

    w, g, ts = "l_extendedprice", ["l_returnflag"], "l_shipdate"
    return {
        "histogramdd": lambda df, c, s, **kw: histogramdd(df, [c], [s], **kw),
        "histogram_columns": lambda df, c, s, **kw: histogram_columns(
            df, [c], s, **kw),
        "histogramdd_fill": lambda df, c, s, **kw: histogramdd_fill(
            df, [c], [s], **kw),
        "binned_statistic": lambda df, c, s: binned_statistic(df, c, s, w),
        "weight_storage_histogram": lambda df, c, s: weight_storage_histogram(
            df, c, s, w),
        "mean_storage_histogram": lambda df, c, s: mean_storage_histogram(
            df, c, s, w),
        "rollup_histogram": lambda df, c, s: rollup_histogram(df, c, s, g),
        "rollup_histogramdd": lambda df, c, s: rollup_histogramdd(
            df, [c], [s], g),
        "streaming_histogram": lambda df, c, s: streaming_histogram(
            df, c, s, ts),
        "session_histogram": lambda df, c, s: session_histogram(df, c, s, ts),
        "stateful_cumulative_histogram":
            lambda df, c, s: stateful_cumulative_histogram(df, c, s, g[0]),
    }


_PLANNER_NAMES = list(_planners())
_TAKES_STORAGE = ("histogramdd", "histogram_columns", "histogramdd_fill")


@pytest.mark.parametrize(
    "planner,case",
    [(p, "missing_column") for p in _PLANNER_NAMES]
    + [(p, "integer_on_double") for p in _PLANNER_NAMES]
    + [(p, "bad_storage") for p in _TAKES_STORAGE],
)
def test_planner_input_errors(lineitem, planner, case):
    """Every planner rejects bad input through the one shared input check,
    with the same error as histogramdd — never a late AnalysisException
    or a silent truncation of doubles by an Integer axis."""
    build = _planners()[planner]
    if case == "missing_column":
        with pytest.raises(ValueError, match="not in DataFrame"):
            build(lineitem, "nope", Regular(5, 0.0, 1.0))
    elif case == "integer_on_double":
        with pytest.raises(TypeError, match="Integer axis"):
            build(lineitem, "l_quantity", Integer(0, 50))
    else:
        with pytest.raises(ValueError, match="storage"):
            build(lineitem, "l_quantity", Regular(5, 1.0, 51.0),
                  storage="int32")
