"""Structured Streaming histograms: tumbling/sliding-window bucketized
aggregation with watermarked late-data handling.

The reference has no streaming surface (SURVEY §2.4) — its time-sliced batch
histogram (``dims=['lat','lon']`` over a ``time`` dim) is the batch analog of
exactly this operator.  Histogram state is trivially mergeable (a vector of
counts), so Spark's windowed ``groupBy().agg()`` with a watermark IS the
stateful operator — no ``applyInPandasWithState`` needed; late events inside
the watermark merge into their window's partial counts, windows finalise and
evict when the watermark passes.

Output is SPARSE (window × group × non-empty bin): a dense left join against
the spine inside a streaming agg would need an outer stream-static join after
aggregation, which streaming disallows — densify per emitted batch with
``dense_fill`` in ``foreachBatch`` (the batch is tiny: windows × bins).

Scale notes: state size is |open windows| × |groups| × |non-empty bins|
rows of long counters — bounded by the watermark horizon; the shuffle key is
(window, group, bin), uniform by construction.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..binspec import BinSpec
from ..plans.histogram import (
    check_inputs,
    id_col,
    keep_and_bucketize,
    label_col,
    spine_df,
    value_mode,
)


def streaming_histogram(
    sdf: DataFrame,
    col: str,
    spec: BinSpec,
    ts_col: str,
    window_duration: str = "1 hour",
    slide: Optional[str] = None,
    watermark: str = "1 hour",
    group_by: Sequence[str] = (),
    weights: Optional[str] = None,
    flow: bool = False,
    weight_scale: Optional[int] = 6,
) -> DataFrame:
    """Windowed histogram over a STREAMING DataFrame.

    Returns a streaming DataFrame with columns
    (window_start, window_end, group_by…, <col>_bin, <col>_bins, count).
    Works identically on a batch DataFrame (same plan, no watermark state).
    """
    group_by = list(group_by)
    (spec,), _ = check_inputs(sdf, [col], [spec], flow=flow)
    if sdf.isStreaming:
        sdf = sdf.withWatermark(ts_col, watermark)
    win = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    sdf, (bin_id,) = keep_and_bucketize(sdf, [F.col(col)], [spec], flow)
    base = sdf.select(
        win.alias("__w"),
        *[F.col(g) for g in group_by],
        bin_id.alias(id_col(col)),
        *([F.col(weights).alias("__wt")] if weights else []),
    )
    if weights is not None:
        val = value_mode(weights, weight_scale).display_sum(F.col("__wt"))
    else:
        val = F.count(F.lit(1)).cast("double")
    agg = base.groupBy("__w", *group_by, id_col(col)).agg(val.alias("count"))
    # label via broadcast stream-static equi-join with the literal spine
    sp = spine_df(agg.sparkSession, col, spec, flow).select(
        id_col(col), label_col(col)
    )
    return agg.join(F.broadcast(sp), id_col(col)).select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *group_by,
        F.col(id_col(col)),
        F.col(label_col(col)),
        F.col("count"),
    )


def session_histogram(
    sdf: DataFrame,
    col: str,
    spec: BinSpec,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    group_by: Sequence[str] = (),
    flow: bool = False,
) -> DataFrame:
    """Per-(group, session) histogram using SESSION windows (merging
    stateful windows — ``F.session_window``): a session is a maximal run of
    kept events within ``gap`` of the previous event; its range is
    ``[min(ts), max(ts) + gap)``.  Boundary (empirically pinned in
    test_session_boundary_semantics): two events EXACTLY ``gap`` apart
    MERGE — Spark joins touching ranges, so a new session needs
    ``ts - prev > gap`` strictly.

    Sessions are defined over the KEPT events (the keep filter runs before
    sessionization) — the operator contract is "sessions of the histogrammed
    values", self-consistent with the batch oracle.

    Returns (session_start_us, session_end_us BIGINT epoch-micros — exact
    integers on both engines, group_by…, <col>_bin, <col>_bins, count) —
    DENSE: every emitted spine bin per session, zero-filled.
    Works identically on a batch DataFrame (gaps-and-islands equivalent).

    Shape note: the session window must be grouped ONLY by ``group_by`` —
    adding the bin id to the grouping keys would sessionize each bin
    independently (a different, wrong operator).  So the single stateful
    aggregation collects the session's bin ids; the dense per-bin counts
    are a stateless projection after it (extent is known statically), which
    keeps the whole thing legal in streaming append mode (one stateful op).
    State per open session is its kept-event bin list — bounded by session
    activity; for adversarial unbounded sessions use
    ``streaming.stateful`` (count-vector state) instead.
    

    Densify cost note: the per-bin counts come from ``size(filter(...))``
    over the session's collected bin list — O(n_bins × session_len)
    expression work per session row, the price of staying a SINGLE
    stateful aggregation (a second groupBy after the session agg would
    be illegal in streaming append mode, and Catalyst has no O(len)
    array-histogram primitive).  For large axes emit the sparse form
    and densify in batch with ``dense_fill``.
    """
    group_by = list(group_by)
    (spec,), _ = check_inputs(sdf, [col], [spec], flow=flow)
    if sdf.isStreaming:
        sdf = sdf.withWatermark(ts_col, watermark)
    sdf, (bin_id,) = keep_and_bucketize(sdf, [F.col(col)], [spec], flow)
    base = sdf.select(
        F.session_window(F.col(ts_col), gap).alias("__w"),
        *[F.col(g) for g in group_by],
        bin_id.alias(id_col(col)),
    )
    agg = base.groupBy("__w", *group_by).agg(
        F.collect_list(F.col(id_col(col))).alias("__bins")
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(b.id).alias("id"),
                spec.label_lit(b.label).alias("label"),
                F.size(
                    F.filter(F.col("__bins"), lambda x: x == F.lit(b.id))
                ).cast("bigint").alias("count"),
            )
            for b in spec.bins(flow)
        ]
    )
    return (
        agg.select(
            F.unix_micros(F.col("__w.start")).alias("session_start_us"),
            F.unix_micros(F.col("__w.end")).alias("session_end_us"),
            *group_by,
            F.explode(cells).alias("__c"),
        )
        .select(
            "session_start_us",
            "session_end_us",
            *group_by,
            F.col("__c.id").alias(id_col(col)),
            F.col("__c.label").alias(label_col(col)),
            F.col("__c.count").alias("count"),
        )
    )


def write_stream_histogram(
    out: DataFrame,
    path: str,
    col: str,
    spec: BinSpec,
    checkpoint: str,
    flow: bool = False,
    group_by: Sequence[str] = (),
    available_now: bool = False,
):
    """End-to-end streaming sink for ``streaming_histogram`` output: append
    mode (only watermark-finalised windows emit), each micro-batch
    densified against the spine and written as parquet partitioned by
    ``window_us`` (epoch-micros of the window start — integer partition
    values, prunable by time-range predicates).  Returns the started
    StreamingQuery.

    Exactly-once on top of foreachBatch's at-least-once contract: a
    RETRIED epoch (executor loss / driver restart after a commit but
    before the checkpoint records the batch) re-writes the SAME windows,
    so the sink uses dynamic partition overwrite — re-running an epoch
    replaces its own window partitions with identical rows instead of
    appending duplicates.  Idempotence holds because append-mode windows
    are watermark-finalised: a window is emitted by exactly one epoch.

    At scale this is the materialised rollup store: finalized histogram
    windows land once, partition layout supports both time-range reads and
    `HistogramResult`-style reloads.
    """
    group_by = list(group_by)

    def _sink(batch: DataFrame, _epoch: int) -> None:
        dense = dense_fill(batch, col, spec, flow, group_by)
        (
            dense.withColumn(
                "window_us", F.unix_micros(F.col("window_start"))
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_us")
            .parquet(path)
        )

    writer = (
        out.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dense_fill(
    batch: DataFrame,
    col: str,
    spec: BinSpec,
    flow: bool = False,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Densify one emitted micro-batch (foreachBatch side): every
    (window, group) × bin combination present, zero-filled."""
    group_by = list(group_by)
    keys = ["window_start", "window_end", *group_by]
    sp = spine_df(batch.sparkSession, col, spec, flow).select(
        id_col(col), label_col(col)
    )
    wins = batch.select(*keys).distinct()
    dense = wins.crossJoin(F.broadcast(sp))
    d, b = dense.alias("__d"), batch.alias("__b")
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"__d.{k}").eqNullSafe(F.col(f"__b.{k}")) for k in keys]
        + [F.col(f"__d.{id_col(col)}") == F.col(f"__b.{id_col(col)}")],
    )
    return d.join(b, cond, "left").select(
        *[F.col(f"__d.{k}").alias(k) for k in keys],
        F.col(f"__d.{id_col(col)}").alias(id_col(col)),
        F.col(f"__d.{label_col(col)}").alias(label_col(col)),
        F.coalesce(F.col("__b.count"), F.lit(0.0)).alias("count"),
    )
