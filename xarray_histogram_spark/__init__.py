"""PySpark-native N-dimensional weighted histogram engine.

A brand-new engine with the query and data-processing capabilities of
Descanonge/xarray-histogram (reference at /root/reference, MIT), re-expressed
Spark-first: bucketize is Catalyst-codegen'd column arithmetic, the fill is
``groupBy().agg()`` (Spark's partial+final HashAggregate replaces the
reference's per-chunk boost fill + Dask tree reduce), bin labels are
literal-array lookups on the bin id and the dense fill is one generated
spine per group (no join), normalization and distribution statistics are
window queries.  Extensions: Structured Streaming histograms and
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) designed for 100 TB scale.
"""

from .binspec import (
    Growth,
    FLOW_STR,
    I64_MAX,
    I64_MIN,
    Bin,
    BinSpec,
    IntCategory,
    Integer,
    MonotoneRegular,
    Regular,
    StrCategory,
    Variable,
)
from .plans.histogram import (
    categories_from_data,
    histogram,
    histogram2d,
    histogram_columns,
    histogramdd,
    quantile_edges,
)
from .plans.binned import (
    binned_statistic,
    mean_storage_histogram,
    weight_storage_histogram,
)
from .plans.result import HistogramResult, adopt_dataframe
from .plans.rollup import rollup_histogram
from .sources.io import read_result, write_result
from .operators.curate import curate_documents
from .operators.sampling import (
    assign_splits,
    balanced_sample,
    deterministic_sample,
    stratified_sample,
    topk_per_group,
)
from .operators.text import extract_urls, pii_scrub
from .operators.similarity import ann_topk, ann_topk_batch, cosine_topk
from .sources.corpus import (
    corrupt_line_stats,
    read_jsonl_corpus,
    write_jsonl_corpus,
)
from .streaming.dedup_stream import (
    streaming_dedup_state,
    streaming_drop_duplicates,
)
from .streaming.histogram_stream import (
    session_histogram,
    streaming_histogram,
    write_stream_histogram,
)

__all__ = [
    "Bin",
    "curate_documents",
    "mean_storage_histogram",
    "weight_storage_histogram",
    "BinSpec",
    "MonotoneRegular",
    "Regular",
    "Variable",
    "Integer",
    "IntCategory",
    "StrCategory",
    "Growth",
    "I64_MIN",
    "I64_MAX",
    "FLOW_STR",
    "histogram",
    "histogram2d",
    "histogram_columns",
    "histogramdd",
    "HistogramResult",
    "adopt_dataframe",
    "quantile_edges",
    "categories_from_data",
    "rollup_histogram",
    "read_result",
    "write_result",
    "streaming_histogram",
    "session_histogram",
    "write_stream_histogram",
    "binned_statistic",
    "deterministic_sample",
    "balanced_sample",
    "pii_scrub",
    "extract_urls",
    "ann_topk",
    "ann_topk_batch",
    "cosine_topk",
    "read_jsonl_corpus",
    "write_jsonl_corpus",
    "corrupt_line_stats",
    "assign_splits",
    "stratified_sample",
    "topk_per_group",
    "streaming_dedup_state",
    "streaming_drop_duplicates",
]

__version__ = "0.1.0"
