"""Streaming kernels run on a query-scoped session (``streams.stream_session``).

For every ``stream_*`` registry key:
- the caller's session conf (``spark.conf.getAll``) is unchanged after
  the key runs — no kernel writes the caller's conf;
- a StreamingQueryListener registered on the caller's session receives
  the kernel's query progress;
and the no-data micro-batch rule holds: ``stream_stream_join`` (append
inner join, output independent of watermark-driven emission) runs
exactly one micro-batch, while ``stream_tumbling_watermark`` (append
windows emitted by the watermark) still runs its trailing no-data batch.
The stateful partition count follows AQE's coalescing rule applied to
the backlog's bytes, and one scoped session per caller and set of
overrides is reused, re-synced to the caller's conf and listeners.
"""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from adlspark import registry
from adlspark.streaming import streams

STREAM_KEYS = sorted(k for k in registry.all_queries() if k.startswith("stream_"))


class _Progress(StreamingQueryListener):
    """Progress events per query name."""

    def __init__(self):
        self.lock = threading.Lock()
        self.events: list[tuple[str, int, int]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.events.append((p.name, p.batchId, p.numInputRows))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def since(self, n0: int, want: int = 1, timeout: float = 30.0):
        """Events after index ``n0`` once at least ``want`` arrived
        (listener delivery is asynchronous)."""
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            with self.lock:
                if len(self.events) - n0 >= want:
                    break
            time.sleep(0.05)
        time.sleep(0.3)  # let any trailing event of the same query land
        with self.lock:
            return list(self.events[n0:])


@pytest.fixture(scope="module")
def progress(spark):
    listener = _Progress()
    spark.streams.addListener(listener)
    yield listener
    spark.streams.removeListener(listener)


@pytest.fixture(scope="module")
def runs(spark, sf_dir, progress):
    """Each stream key run once: (conf before, conf after, progress events)."""
    out = {}
    for key in STREAM_KEYS:
        before = dict(spark.conf.getAll)
        n0 = len(progress.events)
        df = registry.all_queries()[key](spark, sf_dir)
        df.collect()
        after = dict(spark.conf.getAll)
        out[key] = (before, after, progress.since(n0))
    return out


@pytest.mark.parametrize("key", STREAM_KEYS)
def test_stream_key_leaves_caller_conf_unchanged(runs, key):
    before, after, _ = runs[key]
    assert after == before, set(after.items()) ^ set(before.items())


@pytest.mark.parametrize("key", STREAM_KEYS)
def test_caller_listener_sees_stream_key_progress(runs, key):
    _, _, events = runs[key]
    assert events, f"{key}: no query progress reached the caller's listener"


def test_stream_stream_join_runs_one_micro_batch(runs):
    events = runs["stream_stream_join"][2]
    assert [(b, n > 0) for _, b, n in events] == [(0, True)], events


def test_tumbling_watermark_keeps_its_no_data_batch(runs):
    events = runs["stream_tumbling_watermark"][2]
    assert len(events) >= 2, events
    assert events[-1][2] == 0, events  # the trailing batch has no data
    assert any(n > 0 for _, _, n in events[:-1]), events


def _caller(spark, **conf):
    """A caller session of its own, which stream_session only reads."""
    caller = spark.newSession()
    for k, v in conf.items():
        caller.conf.set(k, v)
    return caller


AQE = "spark.sql.adaptive."
SMALL = {
    AQE + "advisoryPartitionSizeInBytes": "4k",
    AQE + "coalescePartitions.minPartitionSize": "1k",
    AQE + "coalescePartitions.minPartitionNum": "2",
    "spark.sql.shuffle.partitions": "8",
}


def test_stateful_partitions_follow_aqe_coalescing(spark):
    """Target size max(minPartitionSize, min(advisory, bytes / p)), p the
    minimum partition number under parallelismFirst (else 1); the count
    is clamped to [1, the caller's shuffle partitions]."""
    caller = _caller(spark, **SMALL)
    n = lambda b: streams.stateful_partitions(caller, b)  # noqa: E731
    assert [n(0), n(1024), n(2048)] == [1, 1, 2]  # minPartitionSize floor
    assert n(3 * 1024 + 1) == 2  # bytes / p: keeps p partitions busy
    assert n(20 * 1024) == 5  # advisory size caps the target
    assert n(100 * 1024) == 8  # the caller's count caps the result
    caller.conf.set(AQE + "coalescePartitions.parallelismFirst", "false")
    assert [n(3 * 1024 + 1), n(9000)] == [1, 3]  # advisory size alone
    caller.conf.set(AQE + "coalescePartitions.parallelismFirst", "true")
    caller.conf.unset(AQE + "coalescePartitions.minPartitionNum")
    p = spark.sparkContext.defaultParallelism
    assert n(p * 4096) == min(8, p)  # the default parallelism stands in


def test_default_conf_partitions(spark):
    """Spark's defaults (1 MB minimum, 64 MB advisory, p = default
    parallelism): a 0.2 MB backlog runs one state store, 2.5 MB three,
    and a backlog of p MB or more keeps all p cores busy."""
    caller = _caller(spark, **{"spark.sql.shuffle.partitions": "200"})
    p = spark.sparkContext.defaultParallelism
    n = lambda b: streams.stateful_partitions(caller, b)  # noqa: E731
    mb = 1024 * 1024
    assert [n(mb // 5), n(5 * mb // 2)] == [1, min(3, p)]
    assert n(20 * mb) == n(p * mb) == p
    assert n(p * 640 * mb) == 10 * p


def test_stream_session_sizes_from_data_files(spark, tmp_path):
    """File bytes of the backlog (bookkeeping files left out); a
    non-local backlog keeps the caller's count."""
    caller = _caller(
        spark,
        **{
            AQE + "advisoryPartitionSizeInBytes": "1k",
            AQE + "coalescePartitions.minPartitionSize": "1b",
            AQE + "coalescePartitions.parallelismFirst": "false",
            "spark.sql.shuffle.partitions": "8",
        },
    )
    d = tmp_path / "dir"
    d.mkdir()
    for name in ("part-0", "part-1", "_SUCCESS", ".part-0.crc"):
        (d / name).write_bytes(b"x" * 1500)
    scoped = streams.stream_session(caller, [str(d)])
    assert scoped.conf.get("spark.sql.shuffle.partitions") == "3"  # 3000 B of data
    remote = streams.stream_session(caller, ["s3a://bucket/events"])
    assert remote.conf.get("spark.sql.shuffle.partitions") == "8"
    assert caller.conf.get("spark.sql.shuffle.partitions") == "8"


def test_stream_session_copies_conf_and_scopes_overrides(spark, tmp_path):
    caller = _caller(spark, **{"spark.sql.session.timeZone": "America/Lima"})
    p = tmp_path / "b.bin"
    p.write_bytes(b"x")
    scoped = streams.stream_session(caller, [str(p)], no_data_batches=False)
    assert scoped.conf.get("spark.sql.session.timeZone") == "America/Lima"
    assert scoped.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "false"
    assert caller.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "true"


def test_stream_session_is_reused_and_resynced(spark, tmp_path):
    """One scoped session per caller and set of overrides; each call
    brings its conf and listeners back in line with the caller's."""
    caller = _caller(spark)
    p = tmp_path / "b.bin"
    p.write_bytes(b"x")
    first = streams.stream_session(caller, [str(p)])
    assert streams.stream_session(caller, [str(p)]) is first
    assert streams.stream_session(caller, [str(p)], no_data_batches=False) is not first
    assert streams.stream_session(_caller(spark), [str(p)]) is not first

    first.conf.set("spark.sql.ansi.enabled", "false")  # a kernel's leftover
    caller.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    listener = _Progress()
    caller.streams.addListener(listener)
    again = streams.stream_session(caller, [str(p)])
    assert again is first
    assert again.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
    assert "spark.sql.ansi.enabled" not in again.conf.getAll
    held = again._jsparkSession.streams().listListeners()
    assert len(held) == len(caller._jsparkSession.streams().listListeners()) == 1

    caller.streams.removeListener(listener)
    caller.conf.unset("spark.sql.session.timeZone")
    streams.stream_session(caller, [str(p)])
    assert len(first._jsparkSession.streams().listListeners()) == 0
    assert "spark.sql.session.timeZone" not in first.conf.getAll


def test_concurrent_callers_share_one_scoped_session(spark, tmp_path):
    """Check-then-create under the cache lock: many threads asking for
    the same overrides get one session."""
    caller = _caller(spark)
    p = tmp_path / "b.bin"
    p.write_bytes(b"x")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [
                pool.submit(streams.stream_session, caller, [str(p)])
                for _ in range(32)
            ]
            got = {id(f.result(timeout=120)) for f in futures}
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 1


def test_repeated_kernel_calls_add_no_scoped_listener_bus(spark, sf_dir):
    """Every session whose streams manager is touched registers a
    listener bus on the SparkContext that Spark never removes. Each
    streaming query adds one for its own session clone (Spark's, one
    per query); repeated calls of one kernel add no more than that."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    streams.stream_stream_join(spark, sf_dir).collect()
    n0 = bus.listeners().size()
    for _ in range(3):
        streams.stream_stream_join(spark, sf_dir).collect()
    assert bus.listeners().size() - n0 <= 3
