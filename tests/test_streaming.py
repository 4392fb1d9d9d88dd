"""Structured Streaming histogram tests: real streaming execution (file
source → watermarked windowed agg → memory sink, availableNow trigger)
compared against the identical batch plan."""

import tempfile

import pytest
from pyspark.sql import functions as F

from xarray_histogram_spark import Regular
from xarray_histogram_spark.streaming.histogram_stream import (
    dense_fill,
    streaming_histogram,
)

SPEC = Regular(10, 0.0, 500.0)


@pytest.fixture(scope="module")
def events_ts(spark, sf_dir):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # parquet timestamp[us] reads as TIMESTAMP_NTZ; with UTC session tz the
    # cast to TIMESTAMP is the identity on epoch micros
    return ev.withColumn("ts", F.col("ts").cast("timestamp")).select(
        "ts", "event_type", "value"
    )


def test_streaming_matches_batch(spark, events_ts):
    src = tempfile.mkdtemp(prefix="xhs_stream_src_")
    events_ts.repartition(3).write.mode("overwrite").parquet(src)
    schema = events_ts.schema
    sdf = spark.readStream.schema(schema).parquet(src)
    assert sdf.isStreaming

    out = streaming_histogram(
        sdf, "value", SPEC, "ts", window_duration="1 day",
        watermark="1 hour", group_by=["event_type"],
    )
    q = (
        out.writeStream.format("memory")
        .queryName("xhs_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), 'stream timed out'

    got = spark.sql("SELECT * FROM xhs_stream_test").collect()
    batch = streaming_histogram(
        events_ts, "value", SPEC, "ts", window_duration="1 day",
        group_by=["event_type"],
    ).collect()

    def key(rows):
        return sorted(
            (
                (r["window_start"], r["event_type"], r["value_bin"]),
                r["count"],
            )
            for r in rows
        )

    assert len(got) > 0
    assert key(got) == key(batch)


def test_sliding_window_batch_plan(spark, events_ts):
    """Sliding windows: each event lands in window_duration/slide windows."""
    out = streaming_histogram(
        events_ts, "value", SPEC, "ts",
        window_duration="2 days", slide="1 day",
    )
    rows = out.collect()
    tumb = streaming_histogram(
        events_ts, "value", SPEC, "ts", window_duration="1 day"
    ).collect()
    # total mass doubles (every event counted in 2 sliding windows)
    assert sum(r["count"] for r in rows) == 2 * sum(r["count"] for r in tumb)


def test_weighted_streaming_hist(spark, events_ts):
    out = streaming_histogram(
        events_ts, "value", SPEC, "ts", window_duration="1 day",
        weights="value",
    ).collect()
    assert all(r["count"] >= 0 for r in out)
    assert sum(r["count"] for r in out) > 0


def test_stateful_cumulative_histogram(spark, events_ts):
    """applyInPandasWithState operator: dense per-key snapshots whose final
    state (after 3 micro-batches) equals the batch histogram."""
    from xarray_histogram_spark import histogram
    from xarray_histogram_spark.streaming.stateful import (
        latest_snapshot,
        stateful_cumulative_histogram,
    )

    src = tempfile.mkdtemp(prefix="xhs_state_src_")
    ckpt = tempfile.mkdtemp(prefix="xhs_state_ckpt_")
    data = events_ts.select("event_type", "value")
    data.repartition(3).write.mode("overwrite").parquet(src)
    sdf = (
        spark.readStream.schema(data.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple batches → state merges
        .parquet(src)
    )
    out = stateful_cumulative_histogram(sdf, "value", SPEC, "event_type")
    q = (
        out.writeStream.format("memory")
        .queryName("xhs_stateful_test")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), 'stream timed out'

    emitted = spark.sql("SELECT * FROM xhs_stateful_test")
    n_keys = data.select("event_type").distinct().count()
    # more emissions than one snapshot per key → state really spanned batches
    assert emitted.count() > n_keys * SPEC.n

    final = latest_snapshot(emitted, "event_type")
    batch = histogram(data, "value", SPEC, group_by=["event_type"]).df

    def key(rows):
        return sorted(
            ((r["event_type"], r["value_bin"]), r["value_bins"], r["value_histogram"])
            for r in rows
        )

    got, want = final.collect(), batch.collect()
    assert len(got) == n_keys * SPEC.n
    assert key(got) == key(want)


def test_stateful_bool_label_axis(spark, events_ts):
    """Bool-label Integer axes stream too: the state schema maps
    label_type 'boolean' to BooleanType (a StringType fallback would die
    at Arrow conversion on the first micro-batch)."""
    from xarray_histogram_spark import Integer, histogram
    from xarray_histogram_spark.streaming.stateful import (
        latest_snapshot,
        stateful_cumulative_histogram,
    )
    from pyspark.sql import functions as F

    spec = Integer(0, 2, bool_labels=True)
    src = tempfile.mkdtemp(prefix="xhs_state_bool_src_")
    ckpt = tempfile.mkdtemp(prefix="xhs_state_bool_ckpt_")
    data = events_ts.select(
        "event_type", (F.col("value") > F.lit(50.0)).alias("hot")
    )
    data.repartition(2).write.mode("overwrite").parquet(src)
    sdf = (
        spark.readStream.schema(data.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful_cumulative_histogram(sdf, "hot", spec, "event_type")
    assert dict(out.dtypes)["hot_bins"] == "boolean"
    q = (
        out.writeStream.format("memory")
        .queryName("xhs_stateful_bool_test")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), 'stream timed out'
    final = latest_snapshot(
        spark.sql("SELECT * FROM xhs_stateful_bool_test"), "event_type"
    )
    batch = histogram(data, "hot", spec, group_by=["event_type"]).df

    def key(rows):
        return sorted(
            ((r["event_type"], r["hot_bin"]), r["hot_bins"], r["hot_histogram"])
            for r in rows
        )

    assert key(final.collect()) == key(batch.collect())


def test_dense_fill(spark, events_ts):
    from xarray_histogram_spark import histogramdd

    # one extra event with a NULL group key: its own dense group
    ev = events_ts.unionByName(events_ts.limit(1).select(
        "ts", F.lit(None).cast("string").alias("event_type"),
        F.lit(100.0).alias("value"),
    ))
    sparse = streaming_histogram(
        ev, "value", SPEC, "ts", window_duration="1 day",
        group_by=["event_type"],
    )
    dense = dense_fill(sparse, "value", SPEC, group_by=["event_type"])
    n_windows = sparse.select("window_start", "event_type").distinct().count()
    assert dense.count() == n_windows * SPEC.n
    # zero-filled rows exist and sums are preserved
    assert dense.agg(F.sum("count")).first()[0] == sparse.agg(
        F.sum("count")
    ).first()[0]
    # every dense row, zero rows included, equals the batch histogram's
    windowed = ev.select(
        F.window("ts", "1 day").alias("w"), "event_type", "value"
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"), "event_type", "value",
    )
    batch = histogramdd(
        windowed, ["value"], [SPEC],
        group_by=["window_start", "window_end", "event_type"],
    ).df

    def key(rows, val):
        return {
            (r["window_start"], r["window_end"], r["event_type"],
             r["value_bin"]): (r["value_bins"], r[val])
            for r in rows
        }

    got = key(dense.collect(), "count")
    assert len(got) == n_windows * SPEC.n
    assert got == key(batch.collect(), "value_histogram")
    assert sum(1 for k in got if k[2] is None) == SPEC.n


def test_session_histogram_streaming_append(spark, events_ts):
    """Session windows under REAL streaming execution: append mode emits
    watermark-closed sessions; every emitted (session, bin) row must equal
    its batch twin, and nearly all sessions must have closed (the data spans
    30 days, the watermark 1 hour)."""
    import tempfile as _tf
    from xarray_histogram_spark.streaming.histogram_stream import (
        session_histogram,
    )

    src = _tf.mkdtemp(prefix="xhs_sess_src_")
    events_ts.repartition(3).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(events_ts.schema).parquet(src)
    out = session_histogram(
        sdf, "value", SPEC, "ts", gap="30 minutes",
        watermark="1 hour", group_by=["event_type"],
    )
    q = (
        out.writeStream.format("memory")
        .queryName("xhs_session_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), 'stream timed out'
    got = spark.sql("SELECT * FROM xhs_session_test").collect()
    batch = session_histogram(
        events_ts, "value", SPEC, "ts", gap="30 minutes",
        group_by=["event_type"],
    ).collect()

    def key(rows):
        return {
            (
                r["session_start_us"], r["session_end_us"], r["event_type"],
                r["value_bin"],
            ): r["count"]
            for r in rows
        }

    gk, bk = key(got), key(batch)
    assert len(gk) > 0
    # emitted rows are exact batch rows
    assert all(bk.get(k) == v for k, v in gk.items())
    # only sessions near the stream's end may still be open
    assert len(gk) >= 0.95 * len(bk)


def test_session_boundary_semantics(spark):
    """Events exactly `gap` apart MERGE into one session (Spark joins
    touching ranges; a split needs a strictly larger gap) — the boundary
    the gaps-and-islands oracle must agree on; duplicate timestamps share
    a session."""
    from xarray_histogram_spark.streaming.histogram_stream import (
        session_histogram,
    )

    gap_us = 60_000_000  # 1 minute
    base = 1_704_067_200_000_000
    rows = [
        # g1: exactly gap apart -> MERGE (touching ranges); gap+1 -> split
        ("g1", base, 10.0),
        ("g1", base + gap_us, 20.0),
        ("g1", base + 2 * gap_us + 1, 20.0),
        # g2: gap-1us apart -> ONE session; plus a duplicate ts
        ("g2", base, 30.0),
        ("g2", base + gap_us - 1, 40.0),
        ("g2", base + gap_us - 1, 41.0),
    ]
    df = spark.createDataFrame(
        [(g, t, v) for g, t, v in rows], "grp: string, us: long, value: double"
    ).select(
        F.timestamp_micros(F.col("us")).alias("ts"), "grp", "value"
    )
    out = session_histogram(
        df, "value", Regular(5, 0.0, 50.0), "ts", gap="1 minute",
        group_by=["grp"],
    ).collect()
    sessions = {
        (r["grp"], r["session_start_us"], r["session_end_us"])
        for r in out
    }
    assert sessions == {
        ("g1", base, base + 2 * gap_us),
        ("g1", base + 2 * gap_us + 1, base + 3 * gap_us + 1),
        ("g2", base, base + 2 * gap_us - 1),
    }
    counts = {
        (r["grp"], r["session_start_us"], r["value_bin"]): r["count"]
        for r in out
    }
    assert counts[("g1", base, 1)] == 1
    assert counts[("g1", base, 2)] == 1
    assert counts[("g1", base + 2 * gap_us + 1, 2)] == 1
    assert counts[("g2", base, 3)] == 1
    assert counts[("g2", base, 4)] == 2
    # dense: zero bins present for every session
    assert counts[("g1", base, 0)] == 0


def test_write_stream_histogram_sink(spark, events_ts):
    """foreachBatch sink: finalized windows land exactly once as dense
    parquet partitioned by window_us, equal to the batch twin on the
    emitted (watermark-closed) windows."""
    import tempfile as _tf
    from xarray_histogram_spark.streaming.histogram_stream import (
        write_stream_histogram,
    )

    src = _tf.mkdtemp(prefix="xhs_sink_src_")
    dst = _tf.mkdtemp(prefix="xhs_sink_dst_")
    ckp = _tf.mkdtemp(prefix="xhs_sink_ckp_")
    events_ts.repartition(3).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(events_ts.schema).parquet(src)
    out = streaming_histogram(
        sdf, "value", SPEC, "ts", window_duration="1 day",
        watermark="1 hour", group_by=["event_type"],
    )
    q = write_stream_histogram(
        out, dst, "value", SPEC, ckp, group_by=["event_type"],
        available_now=True,
    )
    assert q.awaitTermination(120), 'stream timed out'

    got = spark.read.parquet(dst)
    batch = dense_fill(
        streaming_histogram(
            events_ts, "value", SPEC, "ts", window_duration="1 day",
            group_by=["event_type"],
        ),
        "value", SPEC, group_by=["event_type"],
    )
    gp = {
        (r["window_us"], r["event_type"], r["value_bin"]): r["count"]
        for r in got.collect()
    }
    emitted_windows = {k[0] for k in gp}
    assert emitted_windows  # nearly a month of closed windows
    bp = {
        (int(r["window_start"].timestamp() * 1_000_000), r["event_type"],
         r["value_bin"]): r["count"]
        for r in batch.collect()
        if int(r["window_start"].timestamp() * 1_000_000) in emitted_windows
    }
    assert gp == bp
    # dense per window: every bin id present
    one = [k for k in gp if k[0] == min(emitted_windows)]
    assert len({k[2] for k in one}) == SPEC.n


def test_streaming_drop_duplicates_within_watermark(spark, events_ts):
    """Pass-through first-arrival dedup: one survivor per fingerprint; with
    duplicates split across micro-batches the cross-batch state must drop
    the replay."""
    import tempfile

    from xarray_histogram_spark.streaming.dedup_stream import (
        streaming_drop_duplicates,
    )

    base = events_ts.select("ts", F.col("event_type").alias("text")).limit(200)
    src = tempfile.mkdtemp(prefix="xhs_ddw_src_")
    # two identical files -> every row is duplicated across micro-batches
    base.coalesce(1).write.mode("overwrite").parquet(src + "/a")
    one = spark.read.parquet(src + "/a")
    one.write.mode("overwrite").parquet(src + "/b")
    merged = src + "/in"
    spark.read.parquet(src + "/a").unionByName(
        spark.read.parquet(src + "/b")
    ).write.mode("overwrite").parquet(merged)
    sdf = (
        spark.readStream.schema(one.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(merged)
    )
    out = streaming_drop_duplicates(sdf, "text", "ts", watermark="10 days")
    q = (
        out.writeStream.format("memory")
        .queryName("xhs_ddw_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), 'stream timed out'
    got = spark.sql("SELECT * FROM xhs_ddw_test").collect()
    n_distinct = one.select("text").distinct().count()
    assert len(got) == n_distinct
    # batch fallback agrees on the survivor count
    batch = streaming_drop_duplicates(
        spark.read.parquet(merged), "text", "ts"
    ).count()
    assert batch == n_distinct


def test_text_operators_run_in_streaming(spark, sf_dir, tmp_path):
    """The text-curation projections (quality, lang-ID, token counts,
    repetition) are stateless Column arithmetic, so they run UNCHANGED on
    a stream — streamed per-doc results must equal the batch results.
    (The window/aggregation stages of curate/dedup need the watermarked
    streaming operators in streaming/ instead.)"""
    from pyspark.sql import functions as F

    from xarray_histogram_spark.operators.text import (
        lang_pred_col, quality_cols, repetition_stats, token_count_cols,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)

    def features(df):
        return df.select(
            "doc_id", lang_pred_col("text"), *quality_cols("text"),
            *token_count_cols("text"),
        )

    sdf = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        features(sdf).writeStream.format("memory")
        .queryName("stream_text_features").outputMode("append")
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120), 'stream timed out'
    got = spark.table("stream_text_features").orderBy("doc_id").collect()
    exp = features(spark.read.parquet(src)).orderBy("doc_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    assert len(got) == 50
    # repetition_stats streams too (pure projection module-level op)
    q2 = (
        repetition_stats(sdf, "text", "doc_id").writeStream.format("memory")
        .queryName("stream_repetition").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    assert spark.table("stream_repetition").count() == 50


def test_streaming_range_join_ordered_batches_tight_watermark(spark, tmp_path):
    """Stream-stream range join with a TIGHT watermark over time-ordered
    micro-batches: state from day-old rows is expirable, yet every in-band
    pair still emits because arrival order respects event time.  (The
    registry query uses a beyond-span delay instead, because its
    round-robin replay files interleave time — late-drop behaviour is
    arrival-dependent and can never be hash-gated.)"""
    from pyspark.sql import functions as F
    from xarray_histogram_spark.streaming.join_stream import (
        streaming_range_join,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = 1_700_000_000_000_000  # epoch micros
    hour = 3_600_000_000
    rows = []
    # three days; signup at 00:00, purchases at +1h (in band) and +30h (out)
    for day in range(3):
        t0 = base + day * 24 * hour
        rows.append(("signup", 1000 + day, t0))
        rows.append(("purchase", 2000 + day, t0 + hour))
        rows.append(("purchase", 3000 + day, t0 + 30 * hour))
    src = str(tmp_path / "src")
    for day in range(3):  # one time-ordered file per day -> ordered batches
        day_rows = [r for r in rows if (r[2] - base) // (24 * hour) == day]
        spark.createDataFrame(
            day_rows, "event_type string, event_id long, t long"
        ).select(
            "event_type", "event_id",
            F.timestamp_micros(F.col("t")).alias("ts"),
            F.lit(7).alias("user_id"),
        ).coalesce(1).write.mode(
            "append" if day else "overwrite"
        ).parquet(src)
    sdf = (
        spark.readStream.schema(
            "event_type string, event_id long, ts timestamp, user_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = streaming_range_join(
        sdf.where("event_type = 'signup'").select("user_id", "ts", "event_id"),
        sdf.where("event_type = 'purchase'").select("user_id", "ts", "event_id"),
        key="user_id", ts_col="ts", window_us=24 * hour, delay="2 hours",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("srj_tight")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), 'stream timed out'
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.table("srj_tight").collect()
    }
    # +1h purchases pair with their day's signup; a +30h purchase is out
    # of ITS day's band but inside the NEXT day's (24h < 30h <= 48h)
    expected = {(1000 + d, 2000 + d) for d in range(3)}
    expected |= {(1001, 3000), (1002, 3001)}
    assert got == expected
