"""§2 A — Scans, sources, sinks, ingestion, catalog.

This category is the reference's identity: ingest → validate →
stage/quarantine → catalog → notify, re-expressed as Spark I/O. The
pipeline implementation lives in adlspark.io.ingest / adlspark.catalog;
these keys drive it end-to-end on fixture-derived raw files.
"""

from __future__ import annotations

import csv
import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from adlspark import catalog as cat
from adlspark import tables
from adlspark.io.ingest import SourceConfig, ingest, work_dir
from adlspark.ops.parity import DEC
from adlspark.registry import query

# column counts per fixture table (for the catalog oracle)
_N_COLS = {
    "region": 2,
    "nation": 3,
    "supplier": 4,
    "customer": 5,
    "part": 6,
    "orders": 6,
    "lineitem": 11,
    "events": 6,
    "documents": 5,
    "embeddings": 3,
}


@query(
    "scan_project",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer WHERE c_acctbal > 5000
""",
)
def scan_project(spark, sf_dir):
    """Parquet scan with column pruning + pushed filter: the explain plan
    shows ReadSchema with exactly 3 columns and PushedFilters on
    c_acctbal — at 100 TB this is the difference between reading 3
    columns' pages and the whole table."""
    c = tables.load(spark, sf_dir, "customer")
    return c.select("c_custkey", "c_name", "c_acctbal").where(
        F.col("c_acctbal") > 5000
    )


@query(
    "scan_all_tables_counts",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, count(*) AS row_count FROM {t}"
        for t in tables.TABLES
    ),
)
def scan_all_tables_counts(spark, sf_dir):
    """Scan every table; UNION of 10 counts (count-only scans read no
    column data — parquet footers only)."""
    out = None
    for t in tables.TABLES:
        df = tables.load(spark, sf_dir, t).agg(
            F.count(F.lit(1)).alias("row_count")
        ).select(F.lit(t).alias("table_name"), "row_count")
        out = df if out is None else out.unionByName(df)
    return out


@query(
    "ingest_validate_json",
    oracle="""
WITH batch AS (
  -- the kernel's batch: first 200 events by event_id (Spark ASC =
  -- NULLS FIRST; only COUNTS cross the boundary, so null-id ties
  -- cannot flip the result). Serialized rows quarantine iff a
  -- required column (event_id, event_type) is NULL; the 3 injected
  -- missing-column rows and 5 malformed lines always quarantine.
  SELECT event_id, event_type
  FROM events
  ORDER BY event_id ASC NULLS FIRST
  LIMIT 200
), counts AS (
  SELECT
    count(*) FILTER (WHERE event_id IS NOT NULL
                       AND event_type IS NOT NULL) AS n_good,
    count(*) FILTER (WHERE event_id IS NULL
                        OR event_type IS NULL) AS n_req_null
  FROM batch
)
SELECT 'good' AS bucket, n_good::BIGINT AS n FROM counts
UNION ALL
SELECT 'quarantined' AS bucket, (n_req_null + 3 + 5)::BIGINT AS n FROM counts
""",
)
def ingest_validate_json(spark, sf_dir):
    """Schema-on-read JSON ingestion with required-column validation and
    corrupt-record quarantine (the staging-engine validate step). A raw
    JSON-lines batch is derived deterministically from events: 200 good
    rows, 3 rows with a missing required column, 5 malformed lines.

    Value-oracle (round 9): both counters are deterministic functions of
    the events fixture — good = batch rows with non-null required
    columns; quarantined = batch rows failing that + the 8 injected bad
    lines. NaN/Infinity doubles survive the JSON roundtrip (Spark's
    allowNonNumericNumbers default) and never affect the counts."""
    raw_dir = work_dir(sf_dir, "ingest_json")
    raw_path = os.path.join(raw_dir, "batch.jsonl")
    ev = (
        tables.load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(200)
        .select("event_id", "user_id", "event_type", "value")
        .collect()
    )
    with open(raw_path, "w") as f:
        for r in ev:
            f.write(json.dumps(r.asDict()) + "\n")
        for i in range(3):  # required column null
            f.write(json.dumps({"event_id": 900000 + i, "user_id": 1}) + "\n")
        for i in range(5):  # malformed
            f.write("{not valid json %d\n" % i)

    cfg = SourceConfig(
        name="events_json",
        fmt="json",
        schema=StructType(
            [
                StructField("event_id", LongType()),
                StructField("user_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
            ]
        ),
        required=["event_id", "event_type"],
    )
    entry = ingest(
        spark,
        cfg,
        raw_path,
        staged_dir=os.path.join(raw_dir, "staged"),
        quarantine_dir=os.path.join(raw_dir, "quarantine"),
    )
    return tables.rows_df(
        spark,
        [
            ("good", entry["n_good"]),
            ("quarantined", entry["n_quarantined"]),
        ],
        "bucket string, n long",
    )


@query(
    "ingest_csv_header",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def ingest_csv_header(spark, sf_dir):
    """CSV ingestion with header + explicit schema + type coercion: the
    nation table round-trips through CSV text and must reproduce the
    parquet original exactly (hence a full value oracle)."""
    raw_dir = work_dir(sf_dir, "ingest_csv")
    raw_path = os.path.join(raw_dir, "nation.csv")
    rows = tables.load(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    with open(raw_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["n_nationkey", "n_name", "n_regionkey"])
        for r in rows:
            w.writerow([r.n_nationkey, r.n_name, r.n_regionkey])
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(raw_path)
    )


@query(
    "catalog_entries",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, count(*) AS row_count, "
        f"{n} AS n_columns, true AS size_ok, true AS hash_ok, "
        f"CAST(0 AS BIGINT) AS seq FROM {t}"
        for t, n in _N_COLS.items()
    ),
)
def catalog_entries(spark, sf_dir):
    """The catalog itself as a query (the DynamoDB DataCatalog + ES
    search hop collapsed into one table): file-level entries built per
    table (byte size, content hash, schema signature, sequence), then
    searched with the catalog's LIKE-based search. The fs-derived fields
    are oracle-checked as well-formedness predicates (DuckDB cannot stat
    the staged files); their exact values are golden-tested in pytest."""
    c = cat.build_catalog(spark, sf_dir, batch_id="batch-0", seq=0)
    hits = cat.search(c, "STAGED")
    return hits.select(
        "table_name",
        "row_count",
        F.col("n_columns").cast("int").alias("n_columns"),
        (F.col("file_size_bytes") > 0).alias("size_ok"),
        (F.length("content_hash") == 32).alias("hash_ok"),
        "seq",
    )


@query(
    "sink_parquet_roundtrip",
    oracle="""
SELECT l_returnflag, count(*) AS n
FROM lineitem GROUP BY l_returnflag
""",
)
def sink_parquet_roundtrip(spark, sf_dir):
    """Partitioned staged write + read-back: lineitem written
    partitionBy(l_returnflag), re-read, per-partition counts must equal
    the source (partition pruning applies on the read side)."""
    out = os.path.join(work_dir(sf_dir, "sink_roundtrip"), "lineitem_staged")
    li = tables.load(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    # explicit schema on the staged read: an EMPTY staged batch writes
    # only _SUCCESS, and schema inference over zero part files throws
    # UNABLE_TO_INFER_SCHEMA (round-9 empty-partition corpus find) — in
    # production the staged schema comes from the catalog, never from
    # inference
    back = spark.read.schema(li.schema).parquet(out)
    return back.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


@query(
    "stream_file_source",
    oracle="""
SELECT event_type, count(*) AS n
FROM events GROUP BY event_type
""",
)
def stream_file_source(spark, sf_dir):
    """Incremental file discovery (the S3-event trigger analogue):
    readStream over the events parquet with availableNow, complete-mode
    counts into a memory sink — output must equal the batch counts. The
    query runs on a ``streams.stream_session`` sized to the events
    backlog."""
    from adlspark.streaming.streams import events_path, stream_session

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType()),  # nanosAsLong
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    scoped = stream_session(spark, [events_path(sf_dir)])
    stream = (
        scoped.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = (
        counts.writeStream.format("memory")
        .queryName("sfs_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return scoped.table("sfs_counts")


@query(
    "catalog_persistent",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, count(*) AS row_count, "
        f"'batch-10' AS latest_batch, CAST(10 AS BIGINT) AS seq FROM {t}"
        for t in tables.TABLES
    ),
)
def catalog_persistent(spark, sf_dir):
    """Append-only persistent catalog with last-writer-wins reads: ELEVEN
    ingest batches are appended to the catalog log; the latest-state view
    must show every table at batch-10/seq=10. Eleven batches on purpose:
    'batch-10' sorts BEFORE 'batch-9' as a string, so this key fails if
    last-writer-wins ever regresses to ordering by the batch-id string
    instead of the numeric sequence (the upsert-over-append-log pattern
    that a Delta/Iceberg catalog would replace 1:1)."""
    import shutil

    cat_dir = os.path.join(work_dir(sf_dir, "catalog_persistent"), "log")
    shutil.rmtree(cat_dir, ignore_errors=True)
    base = cat.build_catalog(spark, sf_dir, batch_id="batch-0", seq=0)
    # 11 batch appends; folded into one write job (the log layout is the
    # same either way — at real cadence each arrival is its own append)
    log = None
    for i in range(11):
        tagged = base.withColumn("ingest_batch", F.lit(f"batch-{i}")).withColumn(
            "seq", F.lit(i).cast("long")
        )
        log = tagged if log is None else log.unionByName(tagged)
    cat.append_entries(log, cat_dir)
    return cat.latest_state(spark, cat_dir).select(
        "table_name",
        "row_count",
        F.col("ingest_batch").alias("latest_batch"),
        "seq",
    )


@query(
    "ingest_partitioned_prune",
    oracle="""
SELECT event_type, count(*) AS n
FROM events
WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-11 00:00:00'
GROUP BY event_type
""",
)
def ingest_partitioned_prune(spark, sf_dir):
    """Staged partition layout + static partition pruning: events staged
    partitionBy(event_date); a one-day query must read exactly one
    partition directory (PartitionFilters in the scan) — the property
    that turns a 100 TB staged lake into per-day reads."""
    out = os.path.join(work_dir(sf_dir, "staged_by_day"), "events_staged")
    ev = tables.events(spark, sf_dir).withColumn(
        "event_date", F.col("ts").cast("date").cast("string")
    )
    # unconditional rewrite: caching behind _SUCCESS would serve stale
    # staged data if the source fixtures ever changed
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    # explicit schema: zero-row staged batches leave no part files and
    # schema inference throws (round-9 empty-partition corpus find);
    # partition-dir discovery and pruning are unaffected
    back = spark.read.schema(ev.schema).parquet(out)
    return (
        back.where(F.col("event_date") == "2024-01-10")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "ingest_idempotent",
    oracle="""
WITH batch AS (
  SELECT event_id FROM events ORDER BY event_id ASC NULLS FIRST LIMIT 100
)
SELECT CAST(1 AS INTEGER) AS arrival, count(*)::BIGINT AS staged_total FROM batch
UNION ALL
SELECT CAST(2 AS INTEGER) AS arrival, count(*)::BIGINT AS staged_total FROM batch
""",
)
def ingest_idempotent(spark, sf_dir):
    """Idempotent re-ingest (the staging engine's at-least-once delivery
    semantics): the same raw batch arrives twice; content-hash dedup at
    the staging boundary keeps exactly one copy. Output: per-arrival
    staged counts — both arrivals must land at the same final count.

    Value-oracle (round 9): the invariant IS the value — arrival 1
    stages the whole batch (event_id is unique, so 100 distinct
    content hashes), arrival 2's anti-join drops every re-arrived row
    (content_hash is never NULL: concat_ws skips null args), so both
    arrivals read back exactly |batch| rows.

    The batch is MATERIALIZED once (written to a raw dir and read
    back) before either arrival: a lazy orderBy+limit DataFrame is
    re-evaluated per use, and under event_id ties (e.g. several NULL
    ids in a hostile corpus) each evaluation may select a different
    100-row set — arrival 2's re-arrived rows would then survive the
    content-hash anti-join and append, breaking idempotence. A real
    at-least-once source re-delivers the SAME bytes, which is exactly
    what the raw file gives both arrivals."""
    import shutil

    base = work_dir(sf_dir, "ingest_idem")
    staged = os.path.join(base, "staged")
    raw = os.path.join(base, "raw")
    shutil.rmtree(staged, ignore_errors=True)
    src = (
        tables.load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(100)
        .select("event_id", "user_id", "event_type", "props")
    )
    src.write.mode("overwrite").parquet(raw)
    # explicit schema: an EMPTY batch writes only _SUCCESS and
    # schema inference would throw UNABLE_TO_INFER_SCHEMA
    batch = spark.read.schema(src.schema).parquet(raw)
    results = []
    for arrival in (1, 2):
        incoming = batch.withColumn(
            "content_hash", F.md5(F.concat_ws("|", "event_id", "props").cast("binary"))
        )
        if os.path.exists(os.path.join(staged, "_SUCCESS")):
            existing = spark.read.parquet(staged).select("content_hash")
            fresh = incoming.join(existing, on="content_hash", how="left_anti")
        else:
            fresh = incoming
        # append-only staged write; dedup happened at the boundary (an
        # empty append is a no-op — no pre-count needed)
        fresh.write.mode("append").parquet(staged)
        results.append((arrival, spark.read.parquet(staged).count()))
    return tables.rows_df(spark, results, "arrival int, staged_total long")


@query(
    "join_dpp_prune",
    oracle="""
WITH dim AS (
  SELECT * FROM (VALUES
    ('2024-01-05', 'normal'), ('2024-01-10', 'peak'),
    ('2024-01-15', 'peak'), ('2024-01-20', 'normal'),
    ('2024-01-25', 'normal')
  ) AS d(event_date, day_label)
  WHERE day_label = 'peak'
)
SELECT CAST(CAST(e.ts AS TIMESTAMP) AS DATE)::VARCHAR AS event_date,
       e.event_type, count(*) AS n
FROM events e
JOIN dim ON CAST(CAST(e.ts AS TIMESTAMP) AS DATE)::VARCHAR = dim.event_date
GROUP BY 1, 2
""",
)
def join_dpp_prune(spark, sf_dir):
    """Dynamic partition pruning: the fact table is staged
    partitionBy(event_date) (same layout as ingest_partitioned_prune),
    the date dimension is a real parquet table filtered at runtime
    (day_label = 'peak'), and the join on the partition column must let
    Spark prune fact partitions USING THE JOIN — the dim filter's
    surviving keys become a runtime subquery in the fact scan's
    PartitionFilters (plan-asserted ``dynamicpruning``). This is the
    mechanism that turns 'join January's peak days' into reading 2 of
    10 000 partition directories at lake scale — static pruning can't do
    it because the date list is only known after filtering the dim.
    """
    base = work_dir(sf_dir, "staged_by_day")
    fact_path = os.path.join(base, "events_staged")
    ev = tables.events(spark, sf_dir).withColumn(
        "event_date", F.col("ts").cast("date").cast("string")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(fact_path)
    dim_path = os.path.join(base, "date_dim")
    tables.rows_df(
        spark,
        [
            ("2024-01-05", "normal"),
            ("2024-01-10", "peak"),
            ("2024-01-15", "peak"),
            ("2024-01-20", "normal"),
            ("2024-01-25", "normal"),
        ],
        "event_date string, day_label string",
    ).write.mode("overwrite").parquet(dim_path)

    # explicit schema on the fact read (empty-staged-batch safety, same
    # as ingest_partitioned_prune); DPP keys on the discovered partition
    # dirs either way
    fact = spark.read.schema(ev.schema).parquet(fact_path)
    dim = spark.read.parquet(dim_path).where(F.col("day_label") == "peak")
    return (
        fact.join(dim, "event_date")
        .groupBy("event_date", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "ingest_csv_malformed",
    oracle="""
SELECT s_suppkey,
       replace(replace(s_name, chr(13), ' '), chr(10), ' ') AS s_name,
       s_nationkey, s_acctbal
FROM supplier WHERE s_suppkey % 7 <> 3
""",
)
def ingest_csv_malformed(spark, sf_dir):
    """CSV ingestion under corruption: the supplier table lands as CSV
    with a deterministic subset of lines mangled (wrong column count,
    text where an integer belongs — suppkey % 7 == 3), is parsed in
    PERMISSIVE mode with a corrupt-record column, and the CLEAN rows are
    returned. The oracle is the uncorrupted subset of the parquet
    original, so the hash check proves the quarantine boundary is exact:
    no good row lost, no mangled row leaked (the validate-or-quarantine
    contract of the reference's ingestion path, applied to CSV).

    Scale shape: schema-on-read parse is a narrow map over file splits;
    the corrupt-record routing adds one projected column and a filter —
    no shuffle, no driver involvement beyond this fixture's file
    generation (driver-side here only because the fixture must be
    WRITTEN; production files arrive from upstream). Doubles survive the
    text round-trip because Python repr emits shortest-round-trip forms
    that Java's parser maps back to the identical IEEE value.
    """
    raw_dir = work_dir(sf_dir, "ingest_csv_malformed")
    raw_path = os.path.join(raw_dir, "supplier.csv")
    rows = tables.load(spark, sf_dir, "supplier").orderBy("s_suppkey").collect()
    with open(raw_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["s_suppkey", "s_name", "s_nationkey", "s_acctbal"])
        for r in rows:
            if r.s_suppkey % 7 == 3:
                # wrong arity + non-numeric key: unparseable under the schema
                f.write(f"oops_{r.s_suppkey},truncated\n")
            else:
                # a NULL acctbal must write as an EMPTY field, not
                # repr(None)='None' (unparseable as double → the row
                # would be wrongly classed malformed; round-8 null-dim
                # corpus find). Names are LINE-ATOMIZED (newlines → a
                # space, mirrored in the oracle): this key's contract
                # is one record per line so the corrupt-row quarantine
                # stays exact and the scan stays file-splittable —
                # multiLine CSV both kills split parallelism at 100 TB
                # and mis-resyncs after a wrong-arity junk line (a
                # short row swallows the following good record; round-8
                # hostile-CSV corpus find).
                name = r.s_name
                if name is not None:
                    name = name.replace("\r", " ").replace("\n", " ")
                w.writerow(
                    [
                        r.s_suppkey,
                        name,
                        r.s_nationkey,
                        "" if r.s_acctbal is None else repr(r.s_acctbal),
                    ]
                )
    schema = StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
            StructField("_bad", StringType()),
        ]
    )
    # escape='"': the fixture is written by Python's csv module, i.e.
    # RFC 4180 — embedded quotes are DOUBLED; Spark's default backslash
    # escape left such a field raw-quoted instead of unescaped (round-8
    # hostile-CSV corpus find). Deliberately NO multiLine (see the
    # writer's line-atomization note): the splittable one-record-per-
    # line layout is the production contract here.
    parsed = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("escape", '"')
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(raw_path)
    )
    return parsed.where(F.col("_bad").isNull()).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


@query(
    "ingest_corrupt_parquet",
    oracle="""
SELECT c_mktsegment, count(*) AS n, count(DISTINCT c_custkey)::BIGINT AS n_keys
FROM customer
GROUP BY c_mktsegment
""",
)
def ingest_corrupt_parquet(spark, sf_dir):
    """Columnar-format corruption tolerance: a staged customer layout
    contains one file that is not a parquet file at all (a truncated
    byte prefix — the torn upload / partial multipart-put every object
    store eventually delivers), and the scan must return exactly the
    intact files' rows instead of failing the whole job.

    Mechanism: ``spark.sql.files.ignoreCorruptFiles`` (set per-read via
    the DataFrameReader option so the session default is untouched) —
    footer-less files are skipped at split planning, which is the only
    recovery possible for parquet: unlike CSV/JSON there is no row-level
    PERMISSIVE mode, the file IS the corruption unit. The oracle is the
    whole customer table, so the hash check proves corruption handling
    is exact: every intact row survives, nothing from the torn file
    leaks. Scale shape: planning-time file filter, zero extra passes,
    no driver involvement beyond writing this fixture's torn file.
    """
    out = os.path.join(work_dir(sf_dir, "ingest_corrupt_pq"), "customer_staged")
    cust = tables.load(spark, sf_dir, "customer")
    cust.write.mode("overwrite").parquet(out)
    # a torn file: valid magic prefix, then garbage, no footer — written
    # AFTER the staged batch so _SUCCESS does not vouch for it
    with open(os.path.join(out, "part-torn.parquet"), "wb") as f:
        f.write(b"PAR1" + b"\x00" * 512)
    back = (
        spark.read.schema(cust.schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(out)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("c_custkey").alias("n_keys"),
    )


@query(
    "sink_compression_codecs",
    oracle="""
SELECT codec, count(*) AS n, CAST(sum(TRY_CAST(CASE WHEN isnan(l_quantity) THEN NULL ELSE (l_quantity) END AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
FROM (
  SELECT 'gzip' AS codec, l_quantity FROM lineitem
  UNION ALL SELECT 'snappy', l_quantity FROM lineitem
  UNION ALL SELECT 'zstd', l_quantity FROM lineitem
)
GROUP BY codec
""",
)
def sink_compression_codecs(spark, sf_dir):
    """Compression-codec breadth: the same staged lineitem batch written
    with snappy (Spark's default), zstd (the modern lake default —
    better ratio at similar speed), and gzip (the interchange fallback),
    each read back and aggregated — the values must be codec-invariant.
    Codec choice is a per-write option, orthogonal to the plan: at
    100 TB it moves storage cost and scan I/O, never results. Read-side
    parallelism is unaffected (parquet pages decompress per split
    regardless of codec). File-size ordering (zstd < gzip < snappy on
    this data) is pinned in pytest, not the oracle — sizes are
    build-dependent."""
    base = work_dir(sf_dir, "sink_codecs")
    li = tables.load(spark, sf_dir, "lineitem").select("l_quantity")
    out = None
    for codec in ("gzip", "snappy", "zstd"):
        path = os.path.join(base, codec)
        li.write.mode("overwrite").option("compression", codec).parquet(path)
        back = (
            spark.read.schema(li.schema)
            .parquet(path)
            .groupBy(F.lit(codec).alias("codec"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity").try_cast(DEC)).cast("double").alias("sum_qty"),
            )
        )
        out = back if out is None else out.unionByName(back)
    return out
