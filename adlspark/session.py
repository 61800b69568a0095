"""SparkSession factory with the engine's baseline configuration.

Config rationale (SURVEY.md §4 baseline):
- ``spark.sql.legacy.parquet.nanosAsLong=true``: in driver rounds 1-2 the
  ``events.ts`` fixture was a nanosecond parquet timestamp, illegal in
  Spark 4.x without this flag (SURVEY.md §1.3); it arrived as LongType
  ns-since-epoch and ``tables.py`` converted it. The round-3 regeneration
  made ``ts`` a native µs timestamp (FIXTURES.md), which this flag does not
  affect — it stays set so the engine still reads the older fixture layout.
- UTC session timezone: timestamp parity with the DuckDB oracle.
- Low shuffle partitions locally + AQE: at sf0.1 the data is small; AQE
  coalescing keeps task overhead down. On a real cluster these are raised
  via ``ADLSPARK_SHUFFLE_PARTITIONS`` / submitted conf — every operator is
  written to be partition-count agnostic.
- Arrow enabled: all pandas-UDF paths transfer via Arrow batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# --- Streaming state-store provider policy (round-9 hot-key ladder) ----
#
# Measured on the 100×-hot dedup rung (BASELINE.md round-9 record): the
# default HDFSBacked provider keeps all state on the JVM heap and
# degrades sharply past ~1 GB total state (233-246 s vs 53.5 s on
# RocksDB, heap 1.8 GB → 15 MB). Below that it is FASTER than RocksDB
# (no JNI/serialization per access), which is why kernels stay on the
# default at driver-check scale. The per-partition capacity rule this
# module encodes: switch to RocksDB when expected state exceeds
# ~100 MB per shuffle partition — i.e. when
#   (watermark delay × event rate × state row width) / partitions
# crosses STATE_HEAP_BYTES_PER_PARTITION.

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
STATE_HEAP_BYTES_PER_PARTITION = 100 * 1024 * 1024


def recommended_state_store(
    expected_state_bytes: int, shuffle_partitions: int = 32
) -> str:
    """'default' (HDFSBacked, JVM heap) below the measured heap-comfort
    bound, 'rocksdb' above it. expected_state_bytes ≈ watermark delay ×
    event rate × bytes/state-row for watermark-bounded operators."""
    per_part = expected_state_bytes / max(1, shuffle_partitions)
    return "rocksdb" if per_part > STATE_HEAP_BYTES_PER_PARTITION else "default"


def session_confs() -> dict[str, str]:
    """The builder conf set, as data (unit-testable without a JVM).

    ``ADLSPARK_STATE_STORE=rocksdb`` opts the session into the RocksDB
    state-store provider — the documented deployment rule for streaming
    state past ~100 MB/partition; unset/'default' keeps HDFSBacked."""
    confs = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": os.environ.get(
            "ADLSPARK_SHUFFLE_PARTITIONS", "32"
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("ADLSPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    if os.environ.get("ADLSPARK_STATE_STORE", "").lower() == "rocksdb":
        confs["spark.sql.streaming.stateStore.providerClass"] = ROCKSDB_PROVIDER
    return confs


def build_spark(app_name: str = "adlspark", master: str | None = None) -> SparkSession:
    master = master or os.environ.get("ADLSPARK_MASTER", "local[*]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make ``adlspark`` importable on executor Python workers regardless
    of their CWD/sys.path: addPyFile the package zip. Kernels whose
    worker code imports ``adlspark`` (the k-means/IVF/kNN Arrow maps,
    ``ts_ewma``) fail with ``No module named 'adlspark'`` without it
    when the working directory is not the repo root. The zip is built
    once per content hash."""
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(pkg_dir)
        for f in fs
        if f.endswith(".py")
    )
    # Content-hash-named zip under a per-user 0700 directory whose
    # ownership and mode are verified before any reuse: a name-only check
    # in the shared world-writable tmp dir would let another local user
    # pre-plant the predictable path and have their code shipped to
    # executors via addPyFile. Reuse is safe only because the parent dir
    # is provably ours and not writable by anyone else; if the dir fails
    # that check we fall back to a fresh private mkdtemp. Concurrent
    # sessions build to a private temp name then os.replace (atomic) —
    # no torn archives.
    import stat

    digest = hashlib.sha256()
    for src in sources:
        digest.update(os.path.relpath(src, pkg_dir).encode())
        with open(src, "rb") as fh:
            digest.update(fh.read())
    uid = os.getuid() if hasattr(os, "getuid") else 0
    base = os.path.join(tempfile.gettempdir(), f"adlspark_pkg_{uid}")
    try:
        os.makedirs(base, mode=0o700, exist_ok=True)
        st = os.lstat(base)
        trusted = (
            stat.S_ISDIR(st.st_mode)
            and st.st_uid == uid
            and not (st.st_mode & 0o077)
        )
    except OSError:
        trusted = False
    if not trusted:
        base = tempfile.mkdtemp(prefix=f"adlspark_pkg_{uid}_")
    zip_path = os.path.join(base, f"{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        fd, tmp_path = tempfile.mkstemp(suffix=".zip", prefix="build_", dir=base)
        os.close(fd)
        with zipfile.ZipFile(tmp_path, "w") as zf:
            for full in sources:
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
        os.replace(tmp_path, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this context, or context shutting down


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an externally-built
    session (the driver passes its own SparkSession to ``entry``)."""
    _ship_package(spark)
    runtime = [
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        (
            "spark.sql.shuffle.partitions",
            os.environ.get("ADLSPARK_SHUFFLE_PARTITIONS", "32"),
        ),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ]
    if os.environ.get("ADLSPARK_STATE_STORE", "").lower() == "rocksdb":
        # providerClass is runtime-settable and read per query start, so
        # the deployment toggle also works on an externally-built session
        runtime.append(
            ("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        )
    for k, v in runtime:
        try:
            spark.conf.set(k, v)
        except Exception:
            # static confs can't be set post-start on some builds; the
            # nanosAsLong flag is the only critical one and IS settable.
            pass
    return spark
