"""Custom stateful streaming operator via ``applyInPandasWithState``.

Windowed streaming histograms (histogram_stream.py) need no custom state —
bin counts are a trivially mergeable aggregate, so the built-in watermarked
``groupBy().agg()`` covers them.  What a built-in streaming aggregation
CANNOT produce is a per-key **dense snapshot per trigger**: densification is
a stream-static join *after* an aggregation, which Structured Streaming
disallows in update mode.  This operator keeps the dense count vector itself
as the group state, folds each micro-batch in with a vectorized
``np.bincount`` (Arrow-batched — no per-row Python), and emits the full
zero-filled histogram snapshot for every key the batch touched.

This is the engine's cumulative analog of the reference's incremental
histogram filling (boost ``Histogram.fill`` accumulates across calls,
core.py:335-361); the emitted snapshot matches ``histogramdd`` run on all
rows seen so far, which is what makes it oracle-checkable.

Scale notes: state is O(extent) longs per key (bounded, independent of row
count); the only shuffle is the hash partition on the group key; per-batch
work is one bincount per key per partition.  ``rows_seen`` in the output is
a monotone per-key emission version — consumers (and the gated query) select
each key's latest snapshot with a max-over-key filter.
"""

from __future__ import annotations

from typing import Iterator, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..binspec import BinSpec
from ..functions.hashing import q
from ..plans.histogram import (
    check_inputs,
    id_col,
    keep_and_bucketize,
    label_col,
    value_col_name,
)


def stateful_cumulative_histogram(
    sdf: DataFrame,
    col: str,
    spec: BinSpec,
    key_col: str,
    flow: bool = False,
) -> DataFrame:
    """Cumulative per-key histogram over a STREAMING DataFrame.

    Returns a streaming DataFrame (update semantics) with columns
    ``(key_col, <col>_bin, <col>_bins, <col>_histogram, rows_seen)`` —
    one dense snapshot (every bin, zero-filled) per key per micro-batch.
    """
    import numpy as np
    import pandas as pd

    (spec,), _ = check_inputs(sdf, [col], [spec], flow=flow)
    lo, hi = spec.keep_range(flow)
    extent = hi - lo + 1
    labels = spec.labels(flow)
    vname = value_col_name([col], False)
    # plain-string column names: the closure below must capture ONLY
    # primitives/arrays so cloudpickle ships it fully by value — a reference
    # to any package function would make executors import this package,
    # which fails when the driver runs outside the repo directory
    bin_name, lab_name = id_col(col), label_col(col)
    label_t = {
        "double": T.DoubleType(),
        "bigint": T.LongType(),
        "boolean": T.BooleanType(),  # Integer(bool_labels=True) axes
    }.get(spec.label_type, T.StringType())
    key_t = sdf.schema[key_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(key_col, key_t),
            T.StructField(id_col(col), T.IntegerType()),
            T.StructField(label_col(col), label_t),
            T.StructField(vname, T.DoubleType()),
            T.StructField("rows_seen", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("counts", T.ArrayType(T.LongType())),
            T.StructField("seen", T.LongType()),
        ]
    )
    ids = np.arange(lo, hi + 1, dtype=np.int32)

    def update(
        key: Tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            counts_list, seen = state.get
            counts = np.asarray(counts_list, dtype=np.int64)
        else:
            counts = np.zeros(extent, dtype=np.int64)
            seen = 0
        for pdf in pdfs:
            b = pdf["__bin"].to_numpy(dtype=np.int64) - lo
            counts = counts + np.bincount(b, minlength=extent)
            seen += len(pdf)
        state.update((counts.tolist(), int(seen)))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * extent,
                bin_name: ids,
                lab_name: labels,
                vname: counts.astype(np.float64),
                "rows_seen": np.full(extent, seen, dtype=np.int64),
            }
        )

    src, (bin_id,) = keep_and_bucketize(sdf, [q(col)], [spec], flow)
    bucketized = src.select(F.col(key_col), F.expr(bin_id).alias("__bin"))
    return bucketized.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def latest_snapshot(result: DataFrame, key_col: str) -> DataFrame:
    """Batch post-processor: each key's most recent emitted snapshot
    (``rows_seen`` strictly increases per key per emission)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col)
    return (
        result.withColumn("__max_seen", F.max("rows_seen").over(w))
        .where(F.col("rows_seen") == F.col("__max_seen"))
        .drop("__max_seen", "rows_seen")
    )
