"""Streaming ↔ batch equivalence (SURVEY.md §5.4): availableNow streaming
results must agree with the batch forms of the same logic, modulo
documented watermark holdback."""

from __future__ import annotations

from pyspark.sql import functions as F

from adlspark import tables


def test_stream_tumbling_subset_of_batch(spark, sf_dir):
    """Append-mode emitted windows must exactly match the batch tumbling
    aggregate for those (window, type) keys; held-back windows (within
    watermark of max event time) are the only difference."""
    from adlspark.streaming.streams import stream_tumbling_watermark

    streamed = stream_tumbling_watermark(spark, sf_dir).withColumnRenamed(
        "n", "n_stream"
    )
    batch = (
        tables.events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_batch"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_batch")
    )
    joined = streamed.join(batch, on=["w_start", "event_type"], how="left")
    bad = joined.filter(
        F.col("n_batch").isNull() | (F.col("n_stream") != F.col("n_batch"))
    )
    assert bad.count() == 0
    # and the stream must have emitted nearly everything: only windows
    # within watermark-reach of max event time are held back — at most
    # ~2 trailing windows × one row per event type
    n_types = 5
    assert streamed.count() >= batch.count() - 2 * n_types


def test_stream_stateful_count_totals(spark, sf_dir):
    from adlspark.streaming.streams import stream_stateful_count

    streamed = stream_stateful_count(spark, sf_dir)
    batch = tables.events(spark, sf_dir).groupBy("user_id").count()
    joined = streamed.join(batch, on="user_id", how="full")
    bad = joined.filter(
        F.col("n_events").isNull()
        | F.col("count").isNull()
        | (F.col("n_events") != F.col("count"))
    )
    assert bad.count() == 0


def test_stream_dedup_unique(spark, sf_dir):
    """event_id is unique in fixtures → dedup keeps every row exactly
    once; totals match the batch per-type counts."""
    from adlspark.streaming.streams import stream_dedup_watermark

    streamed = stream_dedup_watermark(spark, sf_dir).withColumnRenamed(
        "n_unique", "n_s"
    )
    batch = (
        tables.load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    joined = streamed.join(batch, on="event_type", how="full")
    assert joined.filter(F.col("n_s") != F.col("n_b")).count() == 0


def test_stream_ohlc_matches_batch(spark, sf_dir):
    """The streaming min_by/max_by bars must equal the batch window-based
    ts_resample_ohlc on every (user, day) — the strongest check available
    for a streaming key: full value equality against an independently
    derived batch plan."""
    from adlspark.registry import all_queries
    from adlspark.streaming.streams import stream_tumbling_ohlc

    streamed = stream_tumbling_ohlc(spark, sf_dir)
    batch = all_queries()["ts_resample_ohlc"](spark, sf_dir)
    s = {
        (r.user_id, str(r.day)): (r.open_v, r.high_v, r.low_v, r.close_v, r.n)
        for r in streamed.collect()
    }
    b = {
        (r.user_id, str(r.day)): (r.open_v, r.high_v, r.low_v, r.close_v, r.n)
        for r in batch.collect()
    }
    assert s == b


def test_stream_sliding_matches_batch(spark, sf_dir):
    """Complete-mode sliding windows must equal the batch sliding
    aggregate exactly (no watermark, so no holdback)."""
    from adlspark.streaming.streams import stream_sliding_watermark

    streamed = stream_sliding_watermark(spark, sf_dir)
    batch = (
        tables.events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_epoch"), "event_type", "n"
        )
    )
    s = sorted(tuple(r) for r in streamed.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert s == b


def test_stream_hll_distinct_equals_batch(spark, sf_dir):
    """Complete-mode streaming HLL estimates must equal the batch
    hll_sketch_agg over the same day windows — the sketch is
    deterministic for a fixed input multiset, so streaming state
    accumulation cannot change the answer."""
    from adlspark.registry import all_queries
    from adlspark import tables

    got = {
        r["day_start"]: (r["distinct_users_est"], r["n_events"])
        for r in all_queries()["stream_hll_distinct"](spark, sf_dir).collect()
    }
    batch = (
        tables.events(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("w.start").alias("day_start"), "est", "n")
        .collect()
    )
    expected = {r["day_start"]: (r["est"], r["n"]) for r in batch}
    assert got == expected


def test_stream_session_window_matches_batch_sessions(spark, sf_dir):
    """Emitted session windows must match batch sessionization (5-min
    gap): same (user, session_start, count); only sessions within
    watermark-reach of max event time may be held back."""
    from pyspark.sql import Window

    from adlspark.streaming.streams import stream_session_window

    streamed = stream_session_window(spark, sf_dir).select(
        "user_id", F.col("s_start").alias("ts0"), F.col("n").alias("n_stream")
    )
    ev = tables.events(spark, sf_dir).select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    batch = (
        ev.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap >= 5 * 60 * 1_000_000), 1).otherwise(0),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts").alias("ts0"), F.count(F.lit(1)).alias("n_batch"))
        .drop("sess_id")
    )
    joined = streamed.join(batch, on=["user_id", "ts0"], how="left")
    bad = joined.filter(
        F.col("n_batch").isNull() | (F.col("n_stream") != F.col("n_batch"))
    )
    assert bad.count() == 0
    # nearly-complete emission: only trailing sessions can be held back
    assert streamed.count() >= int(batch.count() * 0.8)


def test_stream_static_join_equals_batch(spark, sf_dir):
    """Complete-mode stream-static join counts must EQUAL the batch join
    (no holdback in complete mode)."""
    from adlspark.streaming.streams import stream_static_join

    streamed = stream_static_join(spark, sf_dir)
    batch = (
        tables.events(spark, sf_dir)
        .withColumn("cohort", (F.col("user_id") % 3).cast("int"))
        .groupBy("cohort")
        .agg(F.count(F.lit(1)).alias("n_batch"))
    )
    joined = streamed.join(batch, on="cohort", how="full")
    bad = joined.filter(
        F.col("n").isNull()
        | F.col("n_batch").isNull()
        | (F.col("n") != F.col("n_batch"))
    )
    assert bad.count() == 0


def test_stream_foreach_batch_upsert_totals(spark, sf_dir):
    """The merged micro-batch catalog must hold exactly the batch
    per-type totals (partial counts summed across batches)."""
    from adlspark.streaming.streams import stream_foreach_batch_upsert

    streamed = stream_foreach_batch_upsert(spark, sf_dir)
    batch = (
        tables.events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_batch"))
    )
    joined = streamed.join(batch, on="event_type", how="full")
    bad = joined.filter(
        F.col("n").isNull()
        | F.col("n_batch").isNull()
        | (F.col("n") != F.col("n_batch"))
    )
    assert bad.count() == 0


def test_stream_stream_join_equals_batch_attribution(spark, sf_dir):
    """Stream-stream INNER joins emit on match (state eviction only
    bounds memory), so the attribution counts must equal the batch
    range join exactly."""
    from adlspark.streaming.streams import stream_stream_join

    streamed = stream_stream_join(spark, sf_dir)
    ev = tables.events(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts")
    )
    batch = (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("view_ts") + F.expr("INTERVAL 15 MINUTES")
            ),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_batch"))
    )
    joined = streamed.join(batch, on="user_id", how="full")
    bad = joined.filter(
        F.col("n_attributed").isNull()
        | F.col("n_batch").isNull()
        | (F.col("n_attributed") != F.col("n_batch"))
    )
    assert bad.count() == 0


def test_stream_transform_with_state_totals(spark, sf_dir):
    """Per-user running counts from the stateful-v2 key (or its gated v1
    fallback) must equal batch totals."""
    from adlspark.streaming.streams import stream_transform_with_state

    streamed = stream_transform_with_state(spark, sf_dir)
    batch = tables.events(spark, sf_dir).groupBy("user_id").count()
    joined = streamed.join(batch, on="user_id", how="full")
    bad = joined.filter(
        F.col("n_events").isNull()
        | F.col("count").isNull()
        | (F.col("n_events") != F.col("count"))
    )
    assert bad.count() == 0


def test_checkpoint_recovery_exactly_once_and_counterfactual(
    spark, sf_dir, tmp_path
):
    """stream_checkpoint_recovery's guarantee, plus the counterfactual:
    a restart WITHOUT the original checkpoint re-lists and reprocesses
    the phase-1 files (full count from scratch), so the exactly-once
    result of the shared-checkpoint path is attributable to the offset
    log, not to the source magically remembering old files."""
    from pyspark.sql import functions as F

    from adlspark import tables
    from adlspark.streaming.streams import stream_checkpoint_recovery

    total = tables.events(spark, sf_dir).count()

    got = stream_checkpoint_recovery(spark, sf_dir)
    assert got.agg(F.sum("n")).head()[0] == total

    # counterfactual: same two-phase input, but phase 2 uses a FRESH
    # checkpoint and sink -> every file (old and new) reprocesses
    ev = tables.events(spark, sf_dir).select("event_id", "event_type")
    in_dir = str(tmp_path / "in")
    ev.where(F.col("event_id") % 2 == 0).write.parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema

    def run(ckpt, sink):
        q = (
            spark.readStream.schema(schema)
            .parquet(in_dir)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run(str(tmp_path / "ckpt1"), str(tmp_path / "sink1"))
    ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
    run(str(tmp_path / "ckpt2"), str(tmp_path / "sink2"))  # fresh ckpt

    fresh = spark.read.parquet(str(tmp_path / "sink2")).count()
    assert fresh == total, (
        "a fresh checkpoint must reprocess ALL files — the offset log, "
        f"not the source, provides exactly-once (got {fresh}, want {total})"
    )
    resumed = spark.read.parquet(str(tmp_path / "sink1")).count()
    assert resumed == total - ev.where(F.col("event_id") % 2 == 1).count()


def test_checkpoint_restart_survives_provider_swap(spark, sf_dir, tmp_path):
    """The production upgrade path (round-11 VERDICT item 4): a STATEFUL
    query (streaming dropDuplicates — its dedup state must survive the
    restart) is stopped mid-corpus and resumed from the SAME checkpoint
    with a DIFFERENT configured state-store provider, in both
    directions. Phase 2's arrival REPLAYS every phase-1 row plus the
    new half (at-least-once upstream delivery), so any state loss or
    format corruption at the swap boundary shows up as duplicates in
    the sink, not as a subtle perf change. Spark PINS the provider in
    the offset log's metadata at first start and re-applies it on
    restart (the conflicting session conf is overridden for that
    query) — asserted by reading the pinned conf back out of the
    checkpoint and by the exactly-once output."""
    import json
    import os

    from adlspark.session import ROCKSDB_PROVIDER

    key = "spark.sql.streaming.stateStore.providerClass"
    ev = (
        tables.events(spark, sf_dir)
        .select("event_id", "event_type")
        .where(F.col("event_id") <= 300)
    )
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 == 1)
    n_a, n_b = a.count(), b.count()
    assert n_a > 0 and n_b > 0

    def run_phase(in_dir, ckpt, sink, provider, schema):
        prev = spark.conf.get(key, None)
        try:
            if provider == "rocksdb":
                spark.conf.set(key, ROCKSDB_PROVIDER)
            else:
                try:
                    spark.conf.unset(key)
                except Exception:
                    pass
            q = (
                spark.readStream.schema(schema)
                .parquet(in_dir)
                .dropDuplicates(["event_id"])
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300), "phase did not finish"
        finally:
            if prev is None:
                try:
                    spark.conf.unset(key)
                except Exception:
                    pass
            else:
                spark.conf.set(key, prev)

    for first, second in (("default", "rocksdb"), ("rocksdb", "default")):
        base = tmp_path / f"{first}_to_{second}"
        in_dir = str(base / "in")
        ckpt = str(base / "ckpt")
        sink = str(base / "sink")
        a.coalesce(1).write.parquet(in_dir)
        schema = spark.read.parquet(in_dir).schema
        run_phase(in_dir, ckpt, sink, first, schema)
        # phase-2 arrival: full replay of A plus the new half B
        a.unionByName(b).coalesce(1).write.mode("append").parquet(in_dir)
        run_phase(in_dir, ckpt, sink, second, schema)

        out = spark.read.parquet(sink)
        assert out.count() == n_a + n_b, f"{first}->{second}: dupes or loss"
        assert out.select("event_id").distinct().count() == n_a + n_b

        # the provider the query ACTUALLY ran with is the one pinned at
        # first start, regardless of the restart session conf
        with open(os.path.join(ckpt, "offsets", "0")) as f:
            pinned = None
            for line in f:
                line = line.strip()
                if line.startswith("{") and "conf" in line:
                    pinned = json.loads(line)["conf"].get(key)
                    break
        assert pinned is not None, "offset log carries no conf metadata"
        want = "RocksDB" if first == "rocksdb" else "HDFSBacked"
        assert want in pinned, f"pinned {pinned}, started under {first}"


def test_ssj_oracle_holds_on_directory_layout(spark, sf_dir, tmp_path):
    """The stream_stream_join value oracle's batching premise, pinned:
    a Spark-written DIRECTORY of part files (the production layout,
    and the stress sets') still lands in ONE data micro-batch under
    availableNow without maxFilesPerTrigger, so the append-mode inner
    join equals the batch interval join on this layout too."""
    import os
    import shutil

    import duckdb

    from adlspark import tables as adl_tables
    from adlspark.streaming import streams

    d = str(tmp_path / "dirlayout")
    os.makedirs(d)
    for t in adl_tables.TABLES:
        if t == "events":
            tables.load(spark, sf_dir, "events").repartition(4).write.parquet(
                os.path.join(d, "events.parquet")
            )
        else:
            shutil.copyfile(
                os.path.join(sf_dir, f"{t}.parquet"),
                os.path.join(d, f"{t}.parquet"),
            )
    df = streams.stream_stream_join(spark, d)
    got = sorted(tuple(r) for r in df.collect())
    # one DATA batch (no empty finalization batch: the kernel runs with
    # no-data micro-batches off)
    data_batches = [
        p for p in streams.LAST_QUERY_PROGRESS if p["numInputRows"] > 0
    ]
    assert len(data_batches) == 1, [
        (p["batchId"], p["numInputRows"]) for p in streams.LAST_QUERY_PROGRESS
    ]
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        from adlspark.streaming.streams import _ssj_oracle_sql

        want = sorted(tuple(r) for r in con.execute(_ssj_oracle_sql()).fetchall())
    finally:
        con.close()
    assert got == want


def test_checkpoint_restart_survives_operator_upgrade(spark, sf_dir, tmp_path):
    """The OTHER production upgrade path (round-12, VERDICT r11 item
    6): restart from an existing checkpoint after a SCHEMA-COMPATIBLE
    operator change — a new projected column added DOWNSTREAM of the
    stateful operator (here streaming dropDuplicates; its state schema
    is untouched, so Spark's state-schema validation accepts the
    restart). Phase 2 replays every phase-1 row plus the new half, so
    state reuse is proven two ways:

    - exactly-once: the sink holds each event once (replayed phase-1
      rows were suppressed by RESTORED dedup state, not re-emitted);
    - provenance: only phase-2-emitted rows carry the new column
      (phase-1 parquet files predate it → NULL under mergeSchema), so
      the emitted-in-phase-2 set is exactly the new half.

    Run under both state-store providers — the upgrade must work on
    whichever provider the checkpoint was started with."""
    from adlspark.session import ROCKSDB_PROVIDER

    key = "spark.sql.streaming.stateStore.providerClass"
    ev = (
        tables.events(spark, sf_dir)
        .select("event_id", "event_type")
        .where(F.col("event_id") <= 300)
    )
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 == 1)
    n_a, n_b = a.count(), b.count()
    assert n_a > 0 and n_b > 0

    def run_phase(in_dir, ckpt, sink, provider, schema, upgraded):
        prev = spark.conf.get(key, None)
        try:
            if provider == "rocksdb":
                spark.conf.set(key, ROCKSDB_PROVIDER)
            else:
                try:
                    spark.conf.unset(key)
                except Exception:
                    pass
            s = (
                spark.readStream.schema(schema)
                .parquet(in_dir)
                .dropDuplicates(["event_id"])
            )
            if upgraded:  # the v2 operator graph: projection after state
                s = s.withColumn("etype_up", F.upper("event_type"))
            q = (
                s.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300), "phase did not finish"
        finally:
            if prev is None:
                try:
                    spark.conf.unset(key)
                except Exception:
                    pass
            else:
                spark.conf.set(key, prev)

    for provider in ("default", "rocksdb"):
        base = tmp_path / f"upgrade_{provider}"
        in_dir, ckpt, sink = (
            str(base / "in"), str(base / "ckpt"), str(base / "sink")
        )
        a.coalesce(1).write.parquet(in_dir)
        schema = spark.read.parquet(in_dir).schema
        run_phase(in_dir, ckpt, sink, provider, schema, upgraded=False)
        a.unionByName(b).coalesce(1).write.mode("append").parquet(in_dir)
        run_phase(in_dir, ckpt, sink, provider, schema, upgraded=True)

        out = spark.read.option("mergeSchema", "true").parquet(sink)
        assert out.count() == n_a + n_b, f"{provider}: dupes or loss"
        emitted_v2 = out.where(F.col("etype_up").isNotNull())
        assert emitted_v2.count() == n_b, (
            f"{provider}: phase 2 must emit exactly the new half — "
            "anything more means dedup state was not restored"
        )
        assert (
            emitted_v2.where(F.col("event_id") % 2 == 0).count() == 0
        ), f"{provider}: a replayed phase-1 row leaked through the state"


def test_watermark_evicts_late_data_across_microbatches(spark, tmp_path):
    """The single-batch availableNow harness can't see EVICTION (the
    watermark only advances at batch boundaries), so this test feeds
    four files as four micro-batches via maxFilesPerTrigger=1. Timing
    nuance this pins: the OPERATIVE watermark lags one micro-batch (the
    progress log displays the end-of-batch value), so a late row
    arriving in the same batch where the watermark first passes its
    window is still ABSORBED — batch 3's filler advances the operative
    watermark past the 10:00 window, and only then is batch 4's late
    10:05 row genuinely dropped (numRowsDroppedByWatermark) while the
    batch groupBy over the same files keeps it. This is the late-data
    contract every stream_* key relies on (SURVEY §2 K)."""
    import datetime as dt
    import os
    import time

    from pyspark.sql import functions as F

    d = str(tmp_path / "stream_src")
    os.makedirs(d)

    def write_file(name, rows, mtime):
        p = str(tmp_path / name)
        spark.createDataFrame(
            rows, "ts timestamp, user_id long, value double"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        part = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
        dst = os.path.join(d, name + ".parquet")
        os.rename(os.path.join(p, part), dst)
        os.utime(dst, (mtime, mtime))  # file source orders by mtime

    def ts(h, m):
        return dt.datetime(2026, 1, 1, h, m, 0)

    t0 = ts(10, 0)
    now = time.time()
    write_file("b1", [(ts(10, 0), 1, 1.0), (ts(10, 30), 1, 2.0)], now - 400)
    write_file("b2", [(ts(12, 0), 2, 3.0)], now - 300)   # advances event time
    write_file("b3", [(ts(12, 30), 2, 9.0)], now - 200)  # operative wm catches up
    write_file("b4", [(ts(10, 5), 3, 4.0)], now - 100)   # LATE: must be dropped

    schema = "ts timestamp, user_id long, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("ws"), "n", "total")
    )
    name = "wm_eviction_test"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not finish"
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1, f"late row not dropped by watermark: {dropped}"
    got = {r.ws: (r.n, r.total) for r in spark.table(name).collect()}
    # the 10:00 window was finalized before the late row arrived and
    # carries ONLY batch 1's rows
    assert got[t0] == (2, 3.0), got
    # batch semantics over the same files KEEP the late row
    batch = (
        spark.read.schema(schema).parquet(d)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("w.start") == F.lit(t0))
        .collect()
    )
    assert batch[0].n == 3
