"""§2 K — Structured Streaming operators.

Oracle status: four keys carry computed value oracles since round 12
(stream_tumbling_ohlc, stream_sliding_watermark, stream_stream_join,
stream_transform_with_state — availableNow/complete over static data is
a pure corpus function); the remaining K keys are rows-only by the
SURVEY §2 contract (engine-internal state/progress statistics).

Test harness pattern: ``readStream`` over the events parquet with
``trigger(availableNow=True)`` → memory sink → return the sink table.
The same logical plans run unmodified against a live file/Kafka source in
production; availableNow processes the backlog as micro-batches and
terminates, which makes streaming testable in a batch harness.

Watermark semantics: with a single availableNow batch over static data,
the watermark only advances at batch boundaries — append-mode windows
within watermark-distance of max event time stay in state and are not
emitted (documented, per SURVEY §2 K late-data note).

Multi-batch late-data contract (round 8, pinned by
tests/test_streaming_equivalence.py::test_watermark_evicts_late_data_
across_microbatches): the OPERATIVE watermark lags one micro-batch —
the progress log displays the end-of-batch value — so a late row
arriving in the very batch where the watermark first passes its window
is still absorbed into the closing window; a late row arriving any
batch after that is dropped (numRowsDroppedByWatermark) and the window
emits with only its on-time rows. Capacity planning at 100 TB follows
from this: state size is bounded by (watermark delay × event rate),
never by history.

State-store provider at scale (round-9 hot-key ladder, BASELINE.md):
none of these operators' state grows super-linearly in a hot key
(sessions merge, counts are user-bounded, dedup ids are key-uniform,
join state is watermark-bounded + banded), but the DEFAULT HDFSBacked
provider degrades past ~1 GB of JVM-heap state — the 100× dedup rung
measured 246 s default vs 53.5 s with
``spark.sql.streaming.stateStore.providerClass =
...state.RocksDBStateStoreProvider`` (state 1.8 GB heap → 15 MB).
Kernels stay on the default (KB-scale state at driver-check SF, where
HDFSBacked is faster); deployments past ~100 MB state/partition should
set the RocksDB provider.

Query-scoped sessions: every kernel starts its query on the session
``stream_session`` returns — ``spark.newSession()`` over the same
SparkContext, carrying a copy of the caller's modifiable SQL conf and
the caller's StreamingQueryListeners (a listener registered on the
caller's session sees the kernel's progress). Per-query settings land
on that session only; no kernel writes the caller's conf. The session
is kept per caller and per set of overrides and re-synced to the
caller on each call: Spark registers a listener bus per session and
never removes it. Two settings are made:

- Stateful partitions: ``spark.sql.shuffle.partitions`` becomes the
  count AQE would coalesce a batch shuffle of the backlog's bytes to
  (``stateful_partitions``: target size max(minPartitionSize,
  min(advisory size, bytes / default parallelism)) under the default
  ``parallelismFirst``), clamped to [1, the caller's count]. AQE cannot
  re-plan streaming state, and the count is fixed into the checkpoint
  at first start, so a 0.2 MB backlog otherwise ran 32 state stores per
  micro-batch. On ``local[4]`` a backlog under 1 MB gets one partition,
  one of 4–256 MB gets four (the cores stay busy), and a larger one
  one per 64 MB. The rule reads file bytes, not AQE's post-shuffle
  bytes; shuffled rows are wider than compressed parquet, so it errs
  low between those bounds. A backlog on a non-local path keeps the
  caller's count.
- No-data micro-batches: off only for kernels whose output never
  depends on watermark-driven emission (``no_data_batches=False``:
  the append-mode inner ``stream_stream_join``, which emits each match
  as it is found, and ``stream_dedup_watermark``, which emits each
  first occurrence at once). Their no-data batch only evicts state —
  eviction the next data batch performs with the same watermark — so
  the output is unchanged and availableNow ends after the data
  batches. Window kernels in append mode keep it: their last windows
  are emitted by that batch.
"""

from __future__ import annotations

import math
import os
import shutil
import threading
import uuid
import weakref

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from adlspark import tables
from adlspark.io.ingest import work_dir
from adlspark.registry import query


def _backlog_bytes(paths: list[str]) -> int | None:
    """Bytes of the data files under local ``paths`` (bookkeeping files
    starting with '_' or '.' excluded); None when a path is not local."""
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            for root, _d, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith(("_", "."))
                )
        else:
            return None
    return total


def stateful_partitions(spark: SparkSession, n_bytes: int) -> int:
    """The partition count AQE coalesces a batch shuffle of ``n_bytes``
    to (Spark's ShufflePartitionsUtil rule, read from ``spark``'s
    conf), clamped to [1, ``spark.sql.shuffle.partitions``]: target
    size = max(minPartitionSize, min(advisory size, n_bytes / p)), where
    p is ``coalescePartitions.minPartitionNum`` or else the default
    parallelism when ``coalescePartitions.parallelismFirst`` is on, and
    1 when it is off."""
    conf = spark.conf
    as_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    advisory = as_bytes(conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    min_size = as_bytes(
        conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    )
    p = 1
    if conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst").lower() == "true":
        p = int(
            conf.get("spark.sql.adaptive.coalescePartitions.minPartitionNum")
            or spark.sparkContext.defaultParallelism
        )
    target = max(min_size, min(advisory, math.ceil(n_bytes / p)))
    cap = int(conf.get("spark.sql.shuffle.partitions"))
    return min(cap, max(1, math.ceil(n_bytes / target)))


# caller session -> {per-query overrides: scoped session}. Bounded per
# caller (partition counts ≤ the caller's, two no-data settings): each
# session whose streams manager is touched registers a listener bus on
# the SparkContext that Spark never removes, so one session per call
# would grow the bus by one per kernel run. Module-level because the
# registry signature (spark, sf_dir) leaves no other owner; weak keys
# drop a caller's entries with the caller.
_SCOPED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCOPED_LOCK = threading.Lock()


def _sync(scoped: SparkSession, want: dict[str, str], listeners) -> None:
    """Make ``scoped``'s modifiable conf exactly ``want`` and its
    streaming listeners exactly ``listeners``."""
    have = scoped.conf.getAll
    for k in have:
        if k not in want and scoped.conf.isModifiable(k):
            scoped.conf.unset(k)
    for k, v in want.items():
        if have.get(k) != v:
            scoped.conf.set(k, v)
    jstreams = scoped._jsparkSession.streams()
    held = list(jstreams.listListeners())
    for h in held:
        if not any(h.equals(w) for w in listeners):
            jstreams.removeListener(h)
    for w in listeners:
        if not any(w.equals(h) for h in held):
            jstreams.addListener(w)


def stream_session(
    spark: SparkSession,
    backlog: list[str],
    *,
    no_data_batches: bool = True,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """The query-scoped session a streaming kernel starts its query on
    (module docstring): the caller's modifiable SQL conf and streaming
    listeners as they are now, stateful partitions sized to the
    ``backlog`` paths' bytes, no-data micro-batches off unless
    ``no_data_batches``, then ``conf``. One session per caller and set
    of overrides is kept and re-synced on every call. The caller's
    session is only read."""
    overrides = dict(conf or {})
    n_bytes = _backlog_bytes(backlog)
    if n_bytes is not None:
        overrides["spark.sql.shuffle.partitions"] = str(
            stateful_partitions(spark, n_bytes)
        )
    if not no_data_batches:
        overrides["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    want = {k: v for k, v in spark.conf.getAll.items() if spark.conf.isModifiable(k)}
    want.update(overrides)
    listeners = list(spark._jsparkSession.streams().listListeners())
    with _SCOPED_LOCK:
        sessions = _SCOPED.setdefault(spark, {})
        key = tuple(sorted(overrides.items()))
        if key not in sessions:
            sessions[key] = spark.newSession()
        scoped = sessions[key]
        _sync(scoped, want, listeners)
    return scoped


def events_path(sf_dir: str) -> str:
    return os.path.join(sf_dir, "events.parquet")


def scoped_events(spark, sf_dir, no_data_batches: bool = True):
    """``events_stream`` on a ``stream_session`` sized to the events
    backlog."""
    scoped = stream_session(
        spark, [events_path(sf_dir)], no_data_batches=no_data_batches
    )
    return events_stream(scoped, sf_dir)


def events_stream(spark, sf_dir):
    """readStream over the events fixture with ``ts`` normalized to a
    session-zone µs timestamp.

    ``readStream`` needs an explicit schema, and the fixture's on-disk
    ``ts`` type has varied across driver rounds (ns-epoch long vs native
    µs timestamp), so the schema comes from one driver-side parquet
    footer read of the same path — metadata only, no data scan — and the
    normalization mirrors ``adlspark.tables.events``. Layout handling:
    Spark's file source monitors DIRECTORIES, so a single-file fixture
    is read as a glob over sf_dir while a Spark-written directory of
    part files (the production layout — and the 10x stress set's) is
    monitored directly; both shapes stream identically.
    """
    path = events_path(sf_dir)
    # schema via tables.load: one memoized footer read instead of a
    # per-key schema-inference job (round-14 optimization; see tables.py)
    batch_schema = tables.load(spark, sf_dir, "events").schema
    reader = spark.readStream.schema(batch_schema)
    # Multi-batch seam (round 13): ADLSPARK_STREAM_MAX_FILES forces the
    # backlog through maxFilesPerTrigger-sized micro-batches — the
    # production replay shape — so tests can drive every kernel through
    # real batch boundaries (watermark advancement, state carry-over)
    # instead of the one-data-batch availableNow default. Unset in the
    # driver harness: the single-batch premise several value oracles
    # pin (see _ssj_oracle_sql) stays the default contract.
    max_files = os.environ.get("ADLSPARK_STREAM_MAX_FILES")
    if max_files:
        try:
            n_files = int(max_files)
        except ValueError:
            raise ValueError(
                f"ADLSPARK_STREAM_MAX_FILES={max_files!r} is not an integer"
            ) from None
        if n_files < 1:
            raise ValueError(
                f"ADLSPARK_STREAM_MAX_FILES={max_files!r} must be >= 1"
            )
        reader = reader.option("maxFilesPerTrigger", n_files)
    if os.path.isdir(path):
        s = reader.parquet(path)
    else:
        s = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    ts_type = dict(s.dtypes).get("ts")
    if ts_type == "bigint":
        return s.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


# Diagnostics: recentProgress dicts of the most recent _drain-managed query
# (state-store rows/bytes, watermark drops). Observation only — written
# after the query terminates; tools/stress_stream.py reads it for the
# hot-key state-store ladder. Not part of any kernel's result.
LAST_QUERY_PROGRESS: list = []


def _drain(df, mode: str, name: str):
    """Drain ``df`` into the memory sink ``name`` (output ``mode``) and
    return the sink table, read on ``df``'s scoped session."""
    q = (
        df.writeStream.format("memory")
        .outputMode(mode)
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    LAST_QUERY_PROGRESS[:] = list(q.recentProgress)
    if not finished:
        q.stop()
        raise RuntimeError(f"streaming query {name} did not finish in 600s")
    return df.sparkSession.table(name)


@query("stream_tumbling_watermark")
def stream_tumbling_watermark(spark, sf_dir):
    """Tumbling 1-h windows with a 10-min watermark, append mode: only
    windows finalized by the advancing watermark are emitted."""
    ev = scoped_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )
    return _drain(agg, "append", "s_tumbling")


@query("stream_session_window")
def stream_session_window(spark, sf_dir):
    """Session windows (5-min gap) per user in streaming mode."""
    ev = scoped_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("sw.start").alias("s_start"),
            F.col("sw.end").alias("s_end"),
            "user_id",
            "n",
        )
    )
    return _drain(agg, "append", "s_session")


@query("stream_dedup_watermark")
def stream_dedup_watermark(spark, sf_dir):
    """Stateful dedup on event_id within the watermark horizon
    (dropDuplicatesWithinWatermark, state evicted as watermark passes).
    Each first occurrence is emitted at once, so no no-data batch."""
    ev = scoped_events(spark, sf_dir, no_data_batches=False)
    deduped = ev.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        _drain(
            deduped.select("event_id", "user_id", "event_type"), "append", "s_dedup"
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


@query("stream_static_join")
def stream_static_join(spark, sf_dir):
    """Stream-static enrichment: the event stream joined to a static user
    dimension (derived once, batch-side); the static side is re-read per
    micro-batch and broadcast."""
    ev = scoped_events(spark, sf_dir)
    static_users = (
        tables.events(ev.sparkSession, sf_dir)
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_seen"))
        .withColumn("cohort", (F.col("user_id") % 3).cast("int"))
        .select("user_id", "cohort")
    )
    joined = ev.join(F.broadcast(static_users), on="user_id")
    agg = joined.groupBy("cohort").agg(F.count(F.lit(1)).alias("n"))
    return _drain(agg, "complete", "s_static_join")


@query("stream_stateful_count")
def stream_stateful_count(spark, sf_dir):
    """Arbitrary stateful processing: running per-user event counts kept
    in GroupState across micro-batches (applyInPandasWithState)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def count_fn(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    ev = scoped_events(spark, sf_dir)
    counts = ev.groupBy("user_id").applyInPandasWithState(
        count_fn,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # latest state per user (update mode may emit a row per batch)
    t = _drain(counts, "update", "s_stateful")
    return t.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query("stream_foreach_batch_upsert")
def stream_foreach_batch_upsert(spark, sf_dir):
    """foreachBatch micro-batch upsert into the catalog table (the
    staging-engine write path): each batch's per-type counts are merged
    into a parquet-backed running catalog; exactly-once comes from the
    checkpoint + idempotent overwrite-by-batch layout."""
    base = work_dir(sf_dir, "foreach_upsert")
    out_dir = f"{base}/catalog"
    ckpt = f"{base}/ckpt-{uuid.uuid4().hex[:8]}"
    shutil.rmtree(out_dir, ignore_errors=True)

    def upsert(batch_df, batch_id: int):
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    ev = scoped_events(spark, sf_dir)
    q = (
        ev.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    merged = spark.read.parquet(out_dir)
    return merged.groupBy("event_type").agg(F.sum("n").cast("long").alias("n"))


def _tws_oracle_sql(event_id_mod: int | None = None) -> str:
    """Value oracle for stream_transform_with_state (round-12
    promotion): the final state per user — after the update-mode
    stream drains and the max-per-user projection — is exactly the
    per-user event count, whichever stateful API computed it (TWS v2
    or the applyInPandasWithState fallback; both fold every row into
    the key's counter, NULL user_id keys included — grouped state
    keeps a None key exactly like GROUP BY keeps NULL). No watermark
    is involved, so NULL-ts rows count too. ``event_id_mod`` is the
    mutation hook: a filtered oracle simulates a kernel that lost
    rows between micro-batches."""
    where = (
        f"WHERE event_id % {event_id_mod} = 0" if event_id_mod else ""
    )
    return f"""
SELECT user_id, count(*) AS n_events FROM events {where} GROUP BY user_id
"""


@query("stream_transform_with_state", oracle=_tws_oracle_sql())
def stream_transform_with_state(spark, sf_dir):
    """Spark 4 stateful-processing v2 (transformWithStateInPandas): a
    StatefulProcessor keeping a per-user running count in a ValueState —
    the successor API to applyInPandasWithState, with typed state,
    timers, and RocksDB-backed stores (required provider; set on the
    query-scoped session).

    Value-oracle (round 12, promoted from rows-only): the drained
    final state is a pure corpus function (per-user count) on either
    API path — see _tws_oracle_sql.

    ENV GATE: the TWS python protocol needs google.protobuf, which is
    broken in this container (ImportError: cannot import descriptor —
    verified by probe); when absent, the same semantics run through the
    v1 applyInPandasWithState operator so the key stays exercisable. On
    an environment with protobuf, the v2 path runs as written.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        _tws_available = True
    except ImportError:
        _tws_available = False
    if not _tws_available:
        return stream_stateful_count.__wrapped__(spark, sf_dir) if hasattr(
            stream_stateful_count, "__wrapped__"
        ) else stream_stateful_count(spark, sf_dir)

    from pyspark.sql.streaming import StatefulProcessor

    from adlspark.session import ROCKSDB_PROVIDER

    class CountProcessor(StatefulProcessor):
        def init(self, handle):
            self._count = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self):
            pass

    scoped = stream_session(
        spark,
        [events_path(sf_dir)],
        conf={"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER},
    )
    ev = events_stream(scoped, sf_dir)
    counts = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CountProcessor(),
        outputStructType="user_id long, n_events long",
        outputMode="Update",
        timeMode="None",
    )
    t = _drain(counts, "update", "s_tws")
    return t.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def _ssj_oracle_sql(window_min: int = 15) -> str:
    """Value oracle for stream_stream_join (round-12 promotion): the
    whole backlog lands in ONE data micro-batch — the file source
    without maxFilesPerTrigger gives availableNow everything at once,
    for single-file fixtures AND Spark-written directories alike
    (probed: a 4-part directory reads as batch 0 = all rows, and no
    further batch with no-data batches off; pinned by
    tests/test_streaming_equivalence.py::test_ssj_oracle_holds_on_
    directory_layout). Within one batch an APPEND-mode inner
    stream-stream join emits each match immediately — inner joins
    never wait for the watermark, and no eviction happens mid-batch —
    so the sink equals the batch interval join. The banding is
    exactly-once by construction (each qualifying pair matches in one
    band assignment — ops/banding.py), so the oracle is the UNBANDED
    interval join. NULL ts / NULL user_id rows drop on both engines
    (null join keys / null time predicates). A deployment that SETS
    maxFilesPerTrigger over an out-of-order backlog re-enters the
    documented multi-batch watermark contract — outside this oracle's
    domain. ``window_min`` parameterizes the attribution window for
    the mutation witness."""
    return f"""
WITH v AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts FROM events
  WHERE event_type = 'view' AND ts IS NOT NULL AND user_id IS NOT NULL
), p AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
)
SELECT v.user_id, count(*) AS n_attributed
FROM v JOIN p ON p.user_id = v.user_id
 AND p.purchase_ts >= v.view_ts
 AND p.purchase_ts <= v.view_ts + INTERVAL {window_min} MINUTE
GROUP BY v.user_id
"""


@query("stream_stream_join", oracle=_ssj_oracle_sql())
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join with watermarks + event-time range (the
    view→purchase attribution join): both sides carry a 30-minute
    watermark and the join condition bounds purchase time to [view,
    view+15 min], so state for either side is evictable once the
    watermark passes — bounded state at any scale, the property that
    makes stream-stream joins feasible on an unbounded source. Append
    mode (the only mode stream-stream inner joins support); output is
    the per-user attribution count.

    Value-oracle (round 12, promoted from rows-only): single-batch
    availableNow + append-mode inner join = the batch interval join;
    see _ssj_oracle_sql for the domain statement.

    The join key is BANDED (user_id, 15-min bucket) — the same trick as
    the batch ``join_theta_range``: views duplicate into their own and
    the next bucket, purchases keep one, and a qualifying pair
    (purchase in [view, view+15m]) matches in exactly one assignment.
    Without it, one hot user's state rows all share a single join key
    and every probe scans the user's whole buffered history — the
    10x-skew sweep measured 180 s; banding cuts the per-probe candidate
    set to two 15-minute buckets.

    No no-data batch: an inner join emits each match in the batch that
    finds it (module docstring)."""
    from adlspark.ops.banding import banded_assignments, time_bucket

    BUCKET_US = 900 * 1000000  # one join-window width: 15 minutes
    ev = scoped_events(spark, sf_dir, no_data_batches=False)
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("ts").alias("view_ts"),
            F.explode(banded_assignments("ts", BUCKET_US)).alias("jb"),
        )
        .withWatermark("view_ts", "30 minutes")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            time_bucket("ts", BUCKET_US).alias("jb2"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    attributed = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("jb") == F.col("jb2"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 15 MINUTES")),
    )
    return (
        _drain(
            attributed.select("user_id", "view_ts", "purchase_ts"),
            "append",
            "s_ss_join",
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_attributed"))
    )


def _stream_ohlc_oracle_sql(hours: int = 24) -> str:
    """Value oracle for stream_tumbling_ohlc (round-12 promotion): with
    availableNow over static fixture data and complete output mode, the
    sink table IS the full-corpus aggregate — the same determinism
    argument as the batch ts_tumbling/ts_sliding precedent, pinned
    independently by tests/test_streaming_equivalence. The SQL is the
    ts_resample_ohlc gaps-free form restricted to Spark's streaming
    window domain (F.window DROPS null-ts rows, hence ts IS NOT NULL;
    user_id is coalesced in PARTITION BY only — the DuckDB 1.0
    null-window-key nondeterminism note in
    tests/test_event_null_robustness.py). ``hours`` parameterizes the
    bar width so the mutation witness can prove the oracle pins it."""
    bucket = hours * 3600
    return f"""
WITH e AS (
  SELECT user_id,
         -- make_timestamp(µs) is a NAIVE timestamp (to_timestamp would
         -- be TIMESTAMPTZ and its DATE cast depends on DuckDB's
         -- session TimeZone); FLOOR handles pre-epoch µs correctly
         CAST(make_timestamp(CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))
                  / {bucket}) * {bucket} AS BIGINT) * 1000000)
              AS DATE) AS day,
         CAST(ts AS TIMESTAMP) AS ts, event_id, value
  FROM events WHERE ts IS NOT NULL
), r AS (
  SELECT user_id, day, value,
         -- (user_id IS NULL, coalesce(...)) instead of the bare
         -- sentinel: NULL ids partition as (true, -1), a real -1 id as
         -- (false, -1) — disjoint for ANY id domain, with no NULL
         -- partition key (the DuckDB 1.0 nondeterministic-NULL-window
         -- bug, tests/test_event_null_robustness.py)
         row_number() OVER (
           PARTITION BY (user_id IS NULL), coalesce(user_id, -1), day
           ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (
           PARTITION BY (user_id IS NULL), coalesce(user_id, -1), day
           ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM e
)
SELECT day, user_id,
       max(CASE WHEN rn_a = 1 THEN value END) AS open_v,
       max(value) AS high_v,
       min(value) AS low_v,
       max(CASE WHEN rn_d = 1 THEN value END) AS close_v,
       count(*) AS n
FROM r GROUP BY day, user_id
"""


@query("stream_tumbling_ohlc", oracle=_stream_ohlc_oracle_sql())
def stream_tumbling_ohlc(spark, sf_dir):
    """Daily OHLC bars per user computed IN the stream (complete mode):
    open/close via min_by/max_by on the deterministic (ts, event_id)
    order — the same one-pass declarative aggregates the batch
    ts_resample_ohlc derives with windows, which is exactly what makes
    the bars maintainable incrementally by the state store (no
    row_number, no sort: each new event folds into its (user, day)
    state in O(1)). Streaming/batch equivalence is pytest-asserted.

    Value-oracle (round 12, promoted from rows-only): availableNow +
    complete mode over non-late static data makes the sink table a
    pure corpus function (the ts_tumbling/ts_sliding batch precedent);
    _stream_ohlc_oracle_sql mirrors the full aggregate including the
    (ts, event_id) open/close tiebreak and the null-ts window drop."""
    ev = scoped_events(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "1 day").alias("w"), "user_id"
    ).agg(
        F.expr("min_by(value, struct(ts, event_id))").alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.expr("max_by(value, struct(ts, event_id))").alias("close_v"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.col("w.start").cast("date").alias("day"),
        "user_id",
        "open_v",
        "high_v",
        "low_v",
        "close_v",
        "n",
    )
    return _drain(agg, "complete", "s_ohlc")


def _stream_sliding_oracle_sql(slide: int = 1800) -> str:
    """Value oracle for stream_sliding_watermark (round-12 promotion,
    same argument as _stream_ohlc_oracle_sql): the ts_sliding oracle
    shape — each event expands to its two 1-hour/30-minute windows by
    epoch arithmetic (FLOOR, not integer division: truncation
    disagrees with window bucketing for pre-epoch µs) — plus the
    event_type grouping the streaming key carries. ``slide``
    parameterizes the window step for the mutation witness (slide =
    window width ⇒ one window per event ⇒ a different histogram)."""
    return f"""
WITH e AS (
  SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / {slide}) * {slide}
              AS BIGINT) AS tb, event_type
  FROM events WHERE ts IS NOT NULL
), w AS (
  SELECT tb AS w_epoch, event_type FROM e
  UNION ALL
  SELECT tb - {slide} AS w_epoch, event_type FROM e WHERE {slide} < 3600
)
SELECT w_epoch, event_type, count(*) AS n
FROM w GROUP BY w_epoch, event_type
"""


@query("stream_sliding_watermark", oracle=_stream_sliding_oracle_sql())
def stream_sliding_watermark(spark, sf_dir):
    """Sliding 1-hour windows every 30 minutes per event_type in
    streaming mode (complete output; each event folds into exactly two
    window states — the state store holds one row per (window, type)).
    Mirrors the batch ts_sliding key; streaming/batch equality is
    pytest-asserted in test_streaming_equivalence.

    Value-oracle (round 12, promoted from rows-only): availableNow +
    complete mode over non-late static data makes the sink table a
    pure corpus function; the oracle is the hash-green ts_sliding form
    with the event_type key added."""
    ev = scoped_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_epoch"), "event_type", "n"
        )
    )
    return _drain(agg, "complete", "s_sliding")


@query("stream_hll_distinct")
def stream_hll_distinct(spark, sf_dir):
    """Streaming approximate distinct users per tumbling day — the sketch
    aggregate running INSIDE the streaming state store: each day window
    keeps a single HLL sketch (kilobytes) instead of a per-user exact
    state map, which is what makes distinct-count dashboards viable on
    unbounded cardinality streams. Complete mode surfaces every window;
    the estimate and the per-window event count come out together; the
    batch-equivalence pytest pins the streaming estimates exactly equal
    to the batch hll_sketch_agg of the same windows (same algorithm,
    same multiset — determinism the sketch guarantees)."""
    ev = scoped_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
                "distinct_users_est"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("day_start"), "distinct_users_est", "n_events")
    )
    return _drain(agg, "complete", "s_hll_distinct")


@query(
    "stream_checkpoint_recovery",
    oracle="""
SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum
FROM events GROUP BY event_type
""",
)
def stream_checkpoint_recovery(spark, sf_dir):
    """Exactly-once across a restart — the property that makes streaming
    pipelines trustworthy. The event stream is delivered in two arrivals
    separated by a FULL query shutdown: phase 1 processes half the files
    into a parquet file sink, the query stops, the other half lands,
    and a NEW query resumes from the same checkpoint. On restart the
    source re-lists the directory and sees ALL files — old and new —
    but the checkpointed offset log skips every already-committed path
    and the sink's _spark_metadata commit log makes output atomic, so
    the sink holds each event exactly once. (The guarantee is per-path:
    a replay under a NEW path is new input by contract — upstream
    delivery must be path-stable, which file movers and log compactors
    are. The pytest counterfactual proves the mechanism is load-bearing
    by re-running phase 2 with a FRESH checkpoint: counts double.)

    That guarantee is what lets this key carry a full DuckDB value
    oracle — unique among the stream_* family: per-type counts AND
    event_id checksums over the sink must hash-match a plain batch
    aggregate over the ORIGINAL events table. Any loss at the restart
    boundary or any duplicate from the redelivery flips the hash.

    Scale shape: the recovery contract is O(1) in data size — offsets
    and commit logs are file-count-sized metadata; this is exactly how
    a production pipeline survives executor loss, deploys, and
    backfills without reprocessing corpus-scale input.
    """
    base = work_dir(sf_dir, "ckpt_recovery")
    # wipe prior invocations' staging/checkpoints (they accumulate a full
    # events copy per run), then use a fresh run id: recovery must start
    # from OUR phase-1 checkpoint, not a previous run's completed one
    shutil.rmtree(base, ignore_errors=True)
    run = uuid.uuid4().hex[:8]
    in_dir = f"{base}/in_{run}"
    sink = f"{base}/sink_{run}"
    ckpt = f"{base}/ckpt_{run}"

    ev = tables.events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    half1 = ev.where(F.col("event_id") % 2 == 0)
    half2 = ev.where(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    # both arrivals together are the events backlog
    scoped = stream_session(spark, [events_path(sf_dir)])

    def run_query():
        s = scoped.readStream.schema(schema).parquet(in_dir)
        q = (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # a silent timeout here would append phase-2 files while query 1
        # still runs and start a second query on the SAME checkpoint —
        # exactly the corruption this key exists to rule out
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("recovery phase did not finish in 600s")

    run_query()  # phase 1: half the input, then a clean shutdown

    half2.write.mode("append").parquet(in_dir)  # phase 2 arrival

    run_query()  # phase 2: NEW query object, SAME checkpoint

    out = spark.read.parquet(sink)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("id_sum"),
    )


@query(
    "stream_rate_limited_backfill",
    oracle="""
-- staged files = min(row count, 8) by construction (ntile buckets),
-- so n_batches = ceil(files / 3 per trigger); an EMPTY backlog still
-- commits exactly ONE (empty) micro-batch under availableNow
-- (round-9 empty-partition corpus) — the checkpoint must advance even
-- when nothing arrived
SELECT CAST(CASE WHEN count(*) = 0 THEN 1
            ELSE ceil(least(count(*), 8) / 3.0) END AS INTEGER) AS n_batches,
       count(*)::BIGINT AS total_rows,
       CAST(3 AS INTEGER) AS max_files_per_batch
FROM events
""",
)
def stream_rate_limited_backfill(spark, sf_dir):
    """Rate-limited backlog drain: a staged directory of 8 files is
    caught up through ``maxFilesPerTrigger=3`` under availableNow —
    ceil(8/3) = 3 bounded micro-batches instead of one giant one. This
    is THE production backfill pattern: pointing a new stream at a
    month of staged history must not plan a single micro-batch whose
    state update and sink commit are month-sized; the option caps every
    batch's input so state stores, shuffle, and sink transactions stay
    trigger-sized all the way through the backlog. Batch counts and the
    per-batch file cap are deterministic (they depend only on file
    count); row totals are input-invariant — both are value-checked.
    foreachBatch's callback runs on the DRIVER, so collecting per-batch
    row counts into a local list is cluster-safe.

    The staged backlog is built with exactly min(rows, 8) data files —
    ntile(8) buckets appended one file each — so the oracle can derive
    n_batches = ceil(files/3) from the row count alone. A plain
    repartition(8) only guarantees 8 non-empty partitions for
    comfortably-large inputs (round-robin from several small input
    splits can collide), which made the old hardcoded '3 batches'
    wrong for 1-7-row corpora. The single-partition ntile sort is
    fixture CONSTRUCTION (a real backfill's staged history already
    exists); only the drain below is the pattern under test."""
    from pyspark.sql import Window as _W

    base = work_dir(sf_dir, "backfill")
    staged = os.path.join(base, "staged")
    src = tables.load(spark, sf_dir, "events")
    shutil.rmtree(staged, ignore_errors=True)
    n_rows = tables.fast_count(spark, sf_dir, "events")
    n_files = min(n_rows, 8)
    if n_rows >= 64:
        # cheap path: round-robin repartition — with ≥64 rows every
        # ≥8-row input split covers all 8 outputs, so 8 non-empty files
        src.repartition(8).write.mode("overwrite").parquet(staged)
    elif n_files:
        # tiny backlog: exactly one file per ntile bucket (ntile(8)
        # leaves buckets min(n,8)+1..8 empty, and an empty bucket gets
        # NO file because its write is skipped — a coalesce(1) append
        # of an empty frame would still emit an empty part file).
        # Materialized eagerly: the lazy plan would re-run the ntile
        # per bucket write, and under event_id ties/NULLs each run may
        # assign rows to DIFFERENT buckets — a row staged twice or not
        # at all, diverging total_rows from the oracle while all 8
        # files stay non-empty (same re-evaluation hazard fixed in
        # ingest_idempotent / ingest_schema_evolution, r10).
        bucketed = src.withColumn(
            "_b", F.ntile(8).over(_W.orderBy("event_id"))
        ).localCheckpoint(eager=True)
        for i in range(1, n_files + 1):
            (
                bucketed.where(F.col("_b") == i)
                .drop("_b")
                .coalesce(1)
                .write.mode("append")
                .parquet(staged)
            )
    else:
        # stage the empty dir (schema footer irrelevant — the stream
        # reads with an explicit schema) so the drain still runs
        src.write.mode("overwrite").parquet(staged)
    actual = len(
        [f for f in os.listdir(staged) if f.startswith("part-")]
    )
    if n_rows > 0 and actual != n_files:
        # loud invariant instead of a silent oracle divergence: the
        # round-robin cover argument failed (pathological multi-split
        # tiny-rows layout) — fall back semantics would need re-staging.
        # The empty backlog is exempt: Spark may emit zero or one
        # empty part file there, and either way availableNow commits
        # exactly ONE empty micro-batch (the oracle's CASE count(*)=0
        # arm), so the file count is not observable.
        raise RuntimeError(
            f"staged file count {actual} != expected {n_files}"
        )

    batches: list[tuple[int, int]] = []

    def record(batch_df, batch_id: int):
        batches.append((int(batch_id), batch_df.count()))

    q = (
        stream_session(spark, [staged])
        .readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(staged)
        .writeStream.foreachBatch(record)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            os.path.join(base, f"ckpt-{uuid.uuid4().hex[:8]}"),
        )
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("backfill drain did not finish in 600s")
    return tables.rows_df(
        spark,
        [
            (
                len(batches),
                sum(n for _, n in batches),
                3,
            )
        ],
        "n_batches int, total_rows long, max_files_per_batch int",
    )
