"""§2 A extensions — lake-operations keys: catalog full-text search and
schema-drift ingestion.

These close the round-1 capability gaps vs the reconstructed reference
(SURVEY §1.1/§3.1): the Elasticsearch-style tokenized search over catalog
metadata, and the mergeSchema/type-widening/quarantine discipline for
batches whose schema drifts across re-ingests.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from adlspark import catalog as cat
from adlspark import tables
from adlspark.ops.parity import DEC, dsum_total, o_dsum_total
from adlspark.io.ingest import (
    SourceConfig,
    ingest_evolving,
    ingest_with_alerts,
    read_staged_evolved,
    work_dir,
)
from adlspark.registry import query

# fixture column names (stable; used to build the search oracle's corpus)
_COLS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}

_SEARCH_TERMS = ["staged", "events", "c_acctbal", "s_acctbal", "embedding", "value"]


def _corpus_text(t: str) -> str:
    """The searchable text the oracle reconstructs for a catalog entry:
    table name, file name, status, column names (types stripped)."""
    return f"{t} {t}.parquet STAGED {' '.join(_COLS[t])}".lower()


@query(
    "catalog_search_tokens",
    oracle=(
        "WITH corpus(table_name, ingest_batch, txt) AS (VALUES\n"
        + ",\n".join(
            f"  ('{t}', 'batch-0', '{_corpus_text(t)}')" for t in _COLS
        )
        + "),\n"
        "tok AS (SELECT table_name, ingest_batch,\n"
        "               unnest(list_distinct(string_split_regex(txt, '[^a-z0-9_]+'))) AS tok\n"
        "        FROM corpus),\n"
        "terms(term) AS (VALUES "
        + ", ".join(f"('{s}')" for s in _SEARCH_TERMS)
        + ")\n"
        "SELECT table_name, ingest_batch, count(*) AS n_hits,\n"
        "       array_to_string(list_sort(list_distinct(list(term))), ' ') AS matched_terms\n"
        "FROM tok JOIN terms ON tok.tok = terms.term\n"
        "GROUP BY table_name, ingest_batch"
    ),
)
def catalog_search_tokens(spark, sf_dir):
    """Tokenized full-text catalog search — the reference's Elasticsearch
    entry point collapsed into the engine (SURVEY §3.1 entry point 2):
    each catalog entry's token set (name, filename, status, schema column
    names) is filtered against the term list, returning hit counts +
    matched terms per entry (``catalog.search_tokens``). The oracle
    reconstructs the same corpus from the fixture tables' static schema.
    """
    c = cat.build_catalog(spark, sf_dir, batch_id="batch-0", seq=0)
    return cat.search_tokens(c, _SEARCH_TERMS)


@query(
    "sink_bucketed_colocated_join",
    oracle=f"""
SELECT c_mktsegment, count(*) AS n_orders,
       {o_dsum_total('o_totalprice')} AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def sink_bucketed_colocated_join(spark, sf_dir):
    """Bucketed staged layout + shuffle-free co-located join.

    Both sides are staged ``bucketBy(8, join_key).sortBy(join_key)``; a
    join between them rides the bucket layout — NO Exchange on either
    side (plan-asserted in tests with broadcast disabled). This is the
    single biggest lever for a 100 TB lake: the fact-to-dimension shuffle
    is paid ONCE at staging time and amortized over every subsequent
    join/aggregate on that key. The only remaining shuffle in this query
    is the final tiny per-segment aggregate."""
    base = work_dir(sf_dir, "bucketed")
    for name, src, key in (
        ("adlspark_b_orders", "orders", "o_custkey"),
        ("adlspark_b_customer", "customer", "c_custkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            tables.load(spark, sf_dir, src)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    o = spark.table("adlspark_b_orders")
    c = spark.table("adlspark_b_customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_total("o_totalprice").alias("sum_price"),
        )
    )


@query(
    "mv_incremental_refresh",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {o_dsum_total('l_quantity')} AS sum_qty,
       count(*) AS n_rows,
       round({o_dsum_total('l_quantity')} / count(*), 6) AS avg_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)
def mv_incremental_refresh(spark, sf_dir):
    """Incrementally-maintained materialized aggregate (the lake's
    standing-rollup pattern): lineitem arrives in two batches; each
    refresh merges the NEW batch's partial aggregate into the stored MV —
    touching only batch-sized data, never rescanning history — and writes
    a new MV VERSION directory (readers keep the old version until the
    swap; no in-place overwrite of a file being read). Partial states are
    algebraic (decimal-exact sum + count), so merge order cannot change
    results and avg derives exactly at read time. The oracle is the full
    recompute over all of lineitem — incremental must equal from-scratch.
    """
    base = work_dir(sf_dir, "mv_refresh")
    shutil.rmtree(base, ignore_errors=True)
    li = tables.load(spark, sf_dir, "lineitem")
    batches = [
        li.where(F.col("l_orderkey") % 2 == 0),
        li.where(F.col("l_orderkey") % 2 != 0),
    ]
    mv_path = None
    for version, batch in enumerate(batches, start=1):
        partial = batch.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(F.col("l_quantity").try_cast(DEC)).alias("s_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        if mv_path is not None:
            prev = spark.read.parquet(mv_path)
            partial = (
                prev.unionByName(partial)
                .groupBy("l_returnflag", "l_linestatus")
                .agg(
                    F.sum("s_qty").alias("s_qty"),
                    F.sum("n_rows").alias("n_rows"),
                )
            )
        new_path = os.path.join(base, f"v{version}")
        partial.write.mode("overwrite").parquet(new_path)
        mv_path = new_path
    mv = spark.read.parquet(mv_path)
    sum_qty = F.col("s_qty").cast("double")
    return mv.select(
        "l_returnflag",
        "l_linestatus",
        sum_qty.alias("sum_qty"),
        "n_rows",
        F.round(sum_qty / F.col("n_rows"), 6).alias("avg_qty"),
    )


@query(
    "sink_orc_roundtrip",
    oracle="""
SELECT o_orderstatus, count(*) AS n,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY o_orderstatus
""",
)
def sink_orc_roundtrip(spark, sf_dir):
    """Columnar-format breadth: orders round-trips through ORC (Spark's
    second built-in columnar format — same pushdown/pruning machinery as
    parquet) and must reproduce per-status aggregates exactly. The staged
    write partitions by o_orderstatus, so the read side partition-prunes
    identically to the parquet layouts."""
    out = os.path.join(work_dir(sf_dir, "sink_orc"), "orders_orc")
    orders = tables.load(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").orc(out)
    # explicit schema: empty staged batches leave no data files and ORC
    # schema inference throws (round-9 empty-partition corpus find)
    back = spark.read.schema(orders.schema).orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "ingest_alert_log",
    oracle="""
SELECT * FROM (VALUES
  ('events_alerts', 'corrupt.jsonl', 'FAILED', 0::BIGINT, 3::BIGINT,
   'batch failed validation'),
  ('events_alerts', 'partial.jsonl', 'STAGED', 10::BIGINT, 4::BIGINT,
   '4 rows quarantined')
) AS t(source, raw_file, status, n_good, n_quarantined, detail)
""",
)
def ingest_alert_log(spark, sf_dir):
    """Failure notification as a queryable table (the reference's SNS
    failure topic, SURVEY §1.1): three batches arrive — clean, partially
    quarantined, all-corrupt — and every non-clean outcome appends an
    alert row. The operator's pager query is then just a filter over the
    alert table. Output: the alert log (source, status, counts, detail),
    which must contain exactly the two non-clean batches.

    Value-oracle (round 10, promoted from rows-only): the alert rows
    are fully fixture-determined — batch contents, quarantine counts,
    statuses, and detail strings are all constants of the operator —
    so the oracle is the literal expected table. The alert dir's
    absolute raw_path is projected to its basename (raw_file) to stay
    host-independent; the table input plays no role (the alert log is
    input-invariant by design), so every hostile corpus must produce
    these exact two rows."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    base = work_dir(sf_dir, "alert_log")
    alert_dir = os.path.join(base, "alerts")
    shutil.rmtree(alert_dir, ignore_errors=True)
    cfg = SourceConfig(
        name="events_alerts",
        fmt="json",
        schema=StructType(
            [
                StructField("event_id", LongType()),
                StructField("event_type", StringType()),
            ]
        ),
        required=["event_id", "event_type"],
    )
    batches = {
        "clean": [{"event_id": i, "event_type": "click"} for i in range(20)],
        "partial": [{"event_id": i, "event_type": "click"} for i in range(10)]
        + [{"event_id": 90 + i} for i in range(4)],  # missing required col
        "corrupt": None,  # malformed lines only
    }
    for name, rows in batches.items():
        raw = os.path.join(base, f"{name}.jsonl")
        with open(raw, "w") as f:
            if rows is None:
                f.write("{nope\n{also bad\n{still bad\n")
            else:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
        ingest_with_alerts(
            spark,
            cfg,
            raw,
            staged_dir=os.path.join(base, f"staged_{name}"),
            alert_dir=alert_dir,
            quarantine_dir=os.path.join(base, f"q_{name}"),
        )
    return (
        spark.read.parquet(alert_dir)
        .select(
            "source",
            F.element_at(F.split("raw_path", "/"), -1).alias("raw_file"),
            "status",
            "n_good",
            "n_quarantined",
            "detail",
        )
        .orderBy("raw_file")
    )


@query(
    "ingest_schema_evolution",
    oracle="""
WITH c AS (SELECT least(count(*), 300) AS n FROM events)
SELECT 'b0' AS batch, 'STAGED' AS status, 1::BIGINT AS schema_version,
       'initial' AS detail, least(n, 100)::BIGINT AS n_rows FROM c
UNION ALL
SELECT 'b1', 'STAGED', 2::BIGINT,
       'widen:value:int->double;add:session_id:string',
       least(n, 100)::BIGINT FROM c
UNION ALL
SELECT 'b2', 'QUARANTINED', 2::BIGINT,
       'incompatible:value:double->string',
       least(n, 100)::BIGINT FROM c
UNION ALL
SELECT 'final', 'READ', 2::BIGINT,
       'event_id:bigint,event_type:string,value:double,session_id:string',
       (2 * least(n, 100))::BIGINT FROM c
""",
)
def ingest_schema_evolution(spark, sf_dir):
    """Schema drift across re-ingested batches of one source
    (SURVEY §1.1's per-source schema validation, extended to evolution):

    - batch b0 arrives with (event_id bigint, event_type string,
      value int)            -> schema v1
    - batch b1 adds session_id AND widens value int->double
                            -> widen + null-fill, schema v2
    - batch b2 retypes value to string -> incompatible, QUARANTINED,
      schema stays v2
    - the staged read applies the CURRENT merged schema at read (casts +
      null-fill per batch subdir) — no rewrite of staged data, the only
      viable policy at 100 TB.

    Output: one audit row per batch (status, schema version, change log)
    plus a final row checking the evolved read: total staged rows and the
    merged schema signature.

    Value-oracle (round 10, promoted from rows-only): every output cell
    is fixture-determined — statuses, versions, and change-log strings
    are schema-driven constants (they hold even for EMPTY batches,
    since evolution compares DataFrame schemas, not rows), and the
    counts are pure functions of c = least(|events|, 300): b0/b1/b2
    each carry least(c, 100) rows (b1 is the last 100 of the first
    min(c, 200) — count least(c, 100) for every c), and the evolved
    final read is the two staged batches, 2·least(c, 100). The batch
    source is localCheckpoint-materialized, so event_id ties cannot
    re-select different rows per evaluation.
    """
    base = work_dir(sf_dir, "schema_evolution")
    staged = os.path.join(base, "staged")
    quarantine = os.path.join(base, "quarantine")
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(quarantine, ignore_errors=True)

    ev = (
        tables.load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(300)
        .select("event_id", "event_type", "value", "user_id")
        .localCheckpoint(eager=True)
    )
    b0 = ev.limit(100).select(
        "event_id", "event_type", F.col("value").cast("int").alias("value")
    )
    b1 = (
        ev.orderBy("event_id")
        .limit(200)
        .orderBy(F.desc("event_id"))
        .limit(100)
        .select(
            "event_id",
            "event_type",
            F.col("value").cast("double").alias("value"),
            F.concat(F.lit("sess-"), F.col("user_id")).alias("session_id"),
        )
    )
    b2 = ev.orderBy(F.desc("event_id")).limit(100).select(
        "event_id",
        "event_type",
        F.format_string("%.2f", "value").alias("value"),  # string: incompatible
    )

    state: dict = {}
    audit = []
    for batch_id, df in (("b0", b0), ("b1", b1), ("b2", b2)):
        res = ingest_evolving(
            spark, df, staged, state, batch_id, quarantine_dir=quarantine
        )
        audit.append(
            (
                res["batch"],
                res["status"],
                res["schema_version"],
                ";".join(res["changes"]),
                res["n_rows"],
            )
        )
    final = read_staged_evolved(spark, staged, state)
    sig = ",".join(
        f"{f.name}:{f.dataType.simpleString()}" for f in state["schema"].fields
    )
    audit.append(("final", "READ", state["version"], sig, final.count()))
    return tables.rows_df(
        spark,
        audit,
        "batch string, status string, schema_version long, detail string, n_rows long",
    )


@query(
    "sink_csv_roundtrip",
    oracle=f"""
SELECT s_nationkey, count(*) AS n, {o_dsum_total('s_acctbal')} AS sum_bal
FROM supplier GROUP BY s_nationkey
""",
)
def sink_csv_roundtrip(spark, sf_dir):
    """Text-format breadth: supplier round-trips through headered CSV with
    an EXPLICIT read schema (header-only inference would silently widen
    every column to string — the classic CSV trap) and must reproduce
    per-nation aggregates exactly, doubles included: Spark's CSV writer
    emits round-trippable representations, so the decimal-exact sum is
    unchanged by the text hop. CSV is the interchange format every lake
    still ingests; the staged layout keeps one file per shuffle partition
    and the read side runs the same pushdown machinery as any file scan."""
    import os as _os

    out = _os.path.join(work_dir(sf_dir, "sink_csv"), "supplier_csv")
    sup = tables.load(spark, sf_dir, "supplier")
    # multiLine: Spark's writer QUOTES embedded newlines, but the
    # default reader splits records on every newline regardless —
    # a name containing one silently became two rows (round-8
    # hostile-CSV corpus find). multiLine reads each FILE as one
    # unsplittable unit, so scan parallelism = file count; the staged
    # write therefore fans the table out to shuffle-partition-many
    # files (round-9: measured, pinned by
    # tests/test_plans.py::test_sink_csv_staged_files_are_the_split_unit)
    # instead of whatever partitioning the upstream scan happened to
    # have — at lake scale, bounded-size staged files ARE the read
    # parallelism, with no value mutation (the quarantine key's
    # line-atomization is the other lever, for hostile external text).
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sup.repartition(p).write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    ).option("header", "true").option("multiLine", "true").csv(out)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        dsum_total("s_acctbal").alias("sum_bal"),
    )


def _z_sql(a: str, b: str, bits: int = 16) -> str:
    """DuckDB bit-interleave expression: z = interleave(a, b), a in odd
    bit positions, b in even."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def zvalue(a, b, bits: int = 16):
    """Spark Morton code: interleave the low ``bits`` of two NORMALIZED
    integer columns (a in odd positions). Callers must pre-scale both
    dimensions to the same bit width — raw values with unequal ranges
    let the wider dimension own every high bit and the interleave
    degenerates into a single-column sort."""
    z = None
    for i in range(bits):
        t1 = F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        t2 = F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        z = t1 + t2 if z is None else z + t1 + t2
    return z


def zorder_orders(spark, sf_dir):
    """Orders with a 32-bit z-value over (o_custkey, order-day), both
    dimensions min-max normalized to 16-bit ranks with INTEGER
    arithmetic (exact cross-engine; float scaling could flip a floor at
    the last ulp). The stats row rides a broadcast cross join — the same
    column-stats lookup a table-format z-order rewrite reads from its
    metadata, never a driver collect."""
    o = tables.load(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.to_date(F.lit("1992-01-01")))
    d = o.select("o_custkey", day.alias("day_off"))
    stats = d.agg(
        F.min("o_custkey").alias("lo_c"),
        F.max("o_custkey").alias("hi_c"),
        F.min("day_off").alias("lo_d"),
        F.max("day_off").alias("hi_d"),
    )
    # day_off is a 32-bit datediff: the ×65535 scale must run in BIGINT
    # or ANSI Spark overflows once the date range exceeds ~32k days
    # (pre-epoch/far-future dates — caught by the round-8 extreme-date
    # corpus; DuckDB auto-promotes the same expression, so the widened
    # math is also what the oracle computes). o_custkey is already
    # int64.
    n = d.crossJoin(F.broadcast(stats)).select(
        "o_custkey",
        "day_off",
        F.expr(
            "((o_custkey - lo_c) * 65535) div greatest(hi_c - lo_c, 1)"
        ).alias("cust_n"),
        F.expr(
            "((cast(day_off as bigint) - lo_d) * 65535)"
            " div greatest(cast(hi_d as bigint) - lo_d, 1)"
        ).alias("day_n"),
    )
    return n.select(
        "o_custkey", "day_off", zvalue(F.col("cust_n"), F.col("day_n")).alias("zval")
    )


@query(
    "lake_zorder_layout",
    oracle=f"""
WITH d AS (
  SELECT o_custkey,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day_off
  FROM orders
), s AS (
  SELECT min(o_custkey) AS lo_c, max(o_custkey) AS hi_c,
         min(day_off) AS lo_d, max(day_off) AS hi_d
  FROM d
), nrm AS (
  SELECT o_custkey, day_off,
         ((o_custkey - lo_c) * 65535) // greatest(hi_c - lo_c, 1) AS cust_n,
         ((day_off - lo_d) * 65535) // greatest(hi_d - lo_d, 1) AS day_n
  FROM d CROSS JOIN s
), z AS (
  SELECT o_custkey, day_off,
         {_z_sql('cust_n', 'day_n')} AS zval
  FROM nrm
)
SELECT CAST(zval >> 28 AS BIGINT) AS bucket,
       count(*) AS n,
       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
       min(day_off) AS min_day, max(day_off) AS max_day
FROM z GROUP BY bucket
""",
)
def lake_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering for multi-dimensional data layout —
    the Delta Lake OPTIMIZE ZORDER / Iceberg sort-order analogue, built
    from plain bit arithmetic: min-max normalize (o_custkey, order-day)
    to 16-bit ranks, then interleave their bits so that sorting by the
    single z-value co-locates rows that are close in EITHER dimension.
    (The normalization is load-bearing: raw bit-interleave over columns
    of unequal magnitude lets the wider column own all high bits —
    plan-tested in test_zorder_layout_bounds_both_dimensions.) The
    result reports, per top-4-bit z-bucket, the row count and min/max
    of both source dimensions: bounded ranges in both columns at once
    are exactly the file-level min/max statistics that let a scan prune
    files for predicates on custkey OR orderdate — the property a
    single-column sort cannot provide.

    Scale shape: normalization stats are one tiny broadcast aggregate;
    the z-value is a pure narrow map (64 shift-and-mask terms,
    whole-stage codegen); the bucket summary is one map-side combinable
    aggregate on a 16-value key. In a real table rewrite the same
    z-value feeds ``repartitionByRange(zval)`` + a sorted write — a
    single range shuffle, the layout cost any clustering rewrite pays.
    """
    return (
        zorder_orders(spark, sf_dir)
        .groupBy(F.shiftright(F.col("zval"), 28).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("day_off").alias("min_day"),
            F.max("day_off").alias("max_day"),
        )
    )


@query(
    "lake_scd2",
    oracle="""
WITH ch AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
         CASE WHEN lag(o_orderpriority) OVER w IS NULL
                OR lag(o_orderpriority) OVER w <> o_orderpriority
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY coalesce(o_custkey, -1)
               ORDER BY coalesce(o_orderdate, TIMESTAMP '1900-01-01'),
                        o_orderkey)
), ver AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         CAST(sum(chg) OVER (PARTITION BY coalesce(o_custkey, -1)
                        ORDER BY coalesce(o_orderdate,
                                          TIMESTAMP '1900-01-01'),
                                 o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM ch
), v AS (
  SELECT o_custkey AS custkey, version,
         min(o_orderpriority) AS priority,
         min(o_orderdate) AS valid_from
  FROM ver GROUP BY o_custkey, version
)
SELECT custkey, version, priority, valid_from,
       lead(valid_from) OVER (PARTITION BY coalesce(custkey, -1)
                              ORDER BY version)
         AS valid_to,
       lead(valid_from) OVER (PARTITION BY coalesce(custkey, -1)
                              ORDER BY version) IS NULL
         AS is_current
FROM v
""",
)
def lake_scd2(spark, sf_dir):
    """Slowly-changing-dimension type 2 built from a change stream: each
    order is a change event carrying the customer's current priority
    attribute; contiguous runs of the SAME value collapse into one version
    (gaps-and-islands via a lag-based change flag and its running sum),
    and each version row gets [valid_from, valid_to) effective-dating with
    an is_current flag — the standard dimension-history build every
    warehouse load performs.

    Scale shape: one shuffle by the dimension key feeds ALL THREE window
    passes and the version group-by (Catalyst reuses the single
    hash-partitioning for lag, running sum and groupBy since the keys are
    prefixes of the sort), so the whole build costs one exchange of the
    change stream — at 100 TB the change batch, not the dimension, is the
    big side, and it only moves once. Ordering within a customer is made
    deterministic with the (date, orderkey) tiebreak."""
    o = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderpriority").over(w)
    ch = o.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
        F.when(
            prev.isNull() | (prev != F.col("o_orderpriority")), 1
        ).otherwise(0).alias("chg"),
    )
    ver = ch.select(
        "o_custkey",
        "o_orderdate",
        "o_orderpriority",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("version"),
    )
    v = ver.groupBy(
        F.col("o_custkey").alias("custkey"), "version"
    ).agg(
        F.min("o_orderpriority").alias("priority"),
        F.min("o_orderdate").alias("valid_from"),
    )
    w2 = Window.partitionBy("custkey").orderBy("version")
    valid_to = F.lead("valid_from").over(w2)
    return v.select(
        "custkey",
        "version",
        "priority",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


@query(
    "lake_merge_upsert",
    oracle="""
WITH upd AS (
  SELECT c_custkey, c_name, c_nationkey,
         c_acctbal + 100.0 AS c_acctbal, 'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 300 = 0
  UNION ALL
  SELECT c_custkey + 10000000, 'new-' || CAST(c_custkey AS VARCHAR),
         c_nationkey, 0.0, 'INSERTED'
  FROM customer WHERE c_custkey % 997 = 0
)
SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
       coalesce(u.c_name, b.c_name) AS c_name,
       coalesce(u.c_nationkey, b.c_nationkey) AS c_nationkey,
       coalesce(u.c_acctbal, b.c_acctbal) AS c_acctbal,
       coalesce(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
       CASE WHEN b.c_custkey IS NULL THEN 'insert'
            WHEN u.c_custkey IS NULL THEN 'keep'
            ELSE 'update' END AS merge_action
FROM customer b FULL OUTER JOIN upd u USING (c_custkey)
""",
)
def lake_merge_upsert(spark, sf_dir):
    """Batch MERGE (upsert) semantics — the Delta/Iceberg ``MERGE INTO``
    expressed as relational algebra: a deterministic updates batch
    (every 300th customer's balance bumped + synthetic new customers)
    merged into the base table; matched rows take the update's values,
    unmatched updates insert, untouched base rows pass through, and
    every row is tagged with its merge action. When ACID table-format
    jars are available this function body becomes one MERGE statement;
    the join shape is identical.

    Scale shape: one full-outer shuffle join on the table key — with
    the base table bucketed by key (see sink_bucketed_colocated_join)
    the base side's exchange disappears and the merge cost is the
    updates-batch shuffle only, which is the copy-on-write economics of
    a real lakehouse MERGE."""
    c = tables.load(spark, sf_dir, "customer")
    upd = (
        c.where(F.col("c_custkey") % 300 == 0)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            F.lit("UPDATED").alias("c_mktsegment"),
        )
        .unionByName(
            c.where(F.col("c_custkey") % 997 == 0).select(
                (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
                F.concat(F.lit("new-"), F.col("c_custkey").cast("string")).alias(
                    "c_name"
                ),
                "c_nationkey",
                F.lit(0.0).alias("c_acctbal"),
                F.lit("INSERTED").alias("c_mktsegment"),
            )
        )
    )
    b, u = c.alias("b"), upd.alias("u")
    merged = b.join(u, on="c_custkey", how="full_outer")
    pick = lambda col: F.coalesce(F.col(f"u.{col}"), F.col(f"b.{col}")).alias(col)
    return merged.select(
        "c_custkey",
        pick("c_name"),
        pick("c_nationkey"),
        pick("c_acctbal"),
        pick("c_mktsegment"),
        F.when(F.col("b.c_name").isNull(), "insert")
        .when(F.col("u.c_name").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
    )


@query("lake_compact_small_files")  # rows-only: see docstring
def lake_compact_small_files(spark, sf_dir):
    """Small-file compaction — the lake's OPTIMIZE primitive.

    A deliberately fragmented staging of orders (64 tiny files — the
    classic streaming-ingest pathology: listing cost, footer overhead
    and task-per-file scheduling all scale with file count, not bytes)
    is compacted to ceil(total_bytes / target) files and the before /
    after file statistics are returned.

    ROWS-ONLY BY CAUSE (assessed for promotion round 12, declined):
    the output is physical file statistics — file counts and byte
    sums are functions of the WRITER ENVIRONMENT (parquet library
    version, compression codec, row-group sizing, and Spark's
    round-robin placement, which probe-measurably varies with input
    partitioning for sub-64-row corpora: 2 rows → 3 files), not of
    the corpus, so no DuckDB expression can compute them. The
    invariants that ARE corpus functions (row conservation, the
    ceil-target output-file bound) are pinned by
    tests/test_fixture_invariants.py::test_compaction_invariants
    instead.

    Scale shape: sizing reads the file LISTING only (path + length from
    the binaryFile source's metadata columns — content is never
    deserialized because only those columns are projected); the rewrite
    uses ``coalesce``, a narrow dependency that merges input partitions
    WITHOUT a shuffle — the whole compaction moves each byte exactly
    once. Real table formats add a transactional swap on top; the data
    movement is identical."""
    import math

    base = work_dir(sf_dir, "compaction")
    frag = os.path.join(base, "fragmented")
    compacted = os.path.join(base, "compacted")
    shutil.rmtree(base, ignore_errors=True)
    tables.load(spark, sf_dir, "orders").repartition(64).write.parquet(frag)

    def listing(path):
        return (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.parquet")
            .load(path)
            .select("path", "length")
        )

    before = listing(frag)
    n_files, total = before.agg(
        F.count(F.lit(1)), F.sum("length")
    ).collect()[0]
    target = 8 * 1024 * 1024  # 8 MiB demo target (128 MiB in production)
    n_out = max(1, math.ceil(total / target))
    spark.read.parquet(frag).coalesce(n_out).write.parquet(compacted)
    after = listing(compacted)

    def stats(df, phase):
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").alias("total_bytes"),
            (F.sum("length") / F.count(F.lit(1))).cast("long").alias(
                "avg_file_bytes"
            ),
        )

    return stats(before, "before").unionByName(stats(after, "after"))


@query(
    "lake_profile_columns",
    oracle="""
SELECT 'c_custkey' AS col_name,
       count(*) AS n_rows,
       count(*) - count(c_custkey) AS n_nulls,
       count(DISTINCT c_custkey) AS n_distinct,
       CAST(min(c_custkey) AS VARCHAR) AS min_str,
       CAST(max(c_custkey) AS VARCHAR) AS max_str
FROM customer
UNION ALL
SELECT 'c_name', count(*), count(*) - count(c_name),
       count(DISTINCT c_name), min(c_name), max(c_name)
FROM customer
UNION ALL
SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey),
       count(DISTINCT c_nationkey),
       CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
FROM customer
UNION ALL
SELECT 'c_acctbal', count(*), count(*) - count(c_acctbal),
       count(DISTINCT c_acctbal),
       CAST(CAST(min(c_acctbal) AS DECIMAL(18,2)) AS VARCHAR),
       CAST(CAST(max(c_acctbal) AS DECIMAL(18,2)) AS VARCHAR)
FROM customer
UNION ALL
SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
       count(DISTINCT c_mktsegment), min(c_mktsegment), max(c_mktsegment)
FROM customer
""",
)
def lake_profile_columns(spark, sf_dir):
    """Column-level data profiling — the catalog-quality stats a lake
    publishes per dataset (what AWS Glue data profiling / Deequ
    analyzers compute): per column, row count, null count, exact
    distinct count, and min/max rendered as strings so heterogeneous
    column types share one result schema. Doubles are normalized
    through DECIMAL(18,2) before rendering (both engines print
    '9999.99', avoiding float repr divergence).

    Scale shape: one pass per column over a column-pruned scan — each
    aggregate is map-side combinable; the count(DISTINCT) is the only
    shuffle per column and can be swapped for approx_count_distinct at
    100 TB (same plan otherwise; the exact form is kept here because
    the oracle must agree). Profiles are per-table metadata-sized
    outputs that append to the catalog log."""
    c = tables.load(spark, sf_dir, "customer")

    def prof(col, render=None):
        r = render or (lambda x: x.cast("string"))
        return c.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(F.col(col))).alias("n_nulls"),
            F.countDistinct(F.col(col)).alias("n_distinct"),
            r(F.min(F.col(col))).alias("min_str"),
            r(F.max(F.col(col))).alias("max_str"),
        )

    dec2 = lambda x: x.cast("decimal(18,2)").cast("string")
    out = None
    for col, render in (
        ("c_custkey", None),
        ("c_name", None),
        ("c_nationkey", None),
        ("c_acctbal", dec2),
        ("c_mktsegment", None),
    ):
        p = prof(col, render)
        out = p if out is None else out.unionByName(p)
    return out


@query(
    "lake_schema_diff",
    oracle="""
WITH v1(col_name, col_type) AS (VALUES
  ('c_custkey', 'bigint'), ('c_name', 'string'), ('c_nationkey', 'int'),
  ('c_acctbal', 'double'), ('c_mktsegment', 'string')
), v2(col_name, col_type) AS (VALUES
  ('c_custkey', 'bigint'), ('c_name', 'string'), ('c_nationkey', 'bigint'),
  ('c_acctbal', 'double'), ('c_phone', 'string')
)
SELECT coalesce(v1.col_name, v2.col_name) AS col_name,
       v1.col_type AS old_type,
       v2.col_type AS new_type,
       CASE WHEN v1.col_name IS NULL THEN 'added'
            WHEN v2.col_name IS NULL THEN 'removed'
            ELSE 'retyped' END AS change
FROM v1 FULL OUTER JOIN v2 USING (col_name)
WHERE v1.col_name IS NULL OR v2.col_name IS NULL
   OR v1.col_type <> v2.col_type
""",
)
def lake_schema_diff(spark, sf_dir):
    """Schema-drift diff between two catalog versions of a table — the
    alerting primitive behind ingest_schema_evolution's policy decisions
    (added column → widen, removed → alert, retyped → quarantine or
    widen). Version 1 is the LIVE customer schema read from the real
    DataFrame (name:type per field, the catalog's schema_sig fidelity);
    version 2 is the drifted re-ingest shape (c_nationkey widened
    int→bigint, c_mktsegment dropped, c_phone added). The diff is a
    full-outer join on column name — added / removed / retyped rows
    fall out of the null pattern.

    Scale shape: schema rows are metadata (a handful per table version,
    from catalog entries — never a data scan); the diff join is
    metadata-sized at any lake size."""
    c = tables.load(spark, sf_dir, "customer")
    v1_rows = [(f.name, f.dataType.simpleString()) for f in c.schema.fields]
    drift = {"c_nationkey": "bigint"}
    v2_rows = [
        (n, drift.get(n, t)) for n, t in v1_rows if n != "c_mktsegment"
    ] + [("c_phone", "string")]
    mk = lambda rows: tables.rows_df(spark, rows, "col_name string, col_type string")
    v1, v2 = mk(v1_rows).alias("v1"), mk(v2_rows).alias("v2")
    j = v1.join(v2, on="col_name", how="full_outer")
    return j.select(
        "col_name",
        F.col("v1.col_type").alias("old_type"),
        F.col("v2.col_type").alias("new_type"),
        F.when(F.col("v1.col_type").isNull(), "added")
        .when(F.col("v2.col_type").isNull(), "removed")
        .otherwise("retyped")
        .alias("change"),
    ).where(
        F.col("v1.col_type").isNull()
        | F.col("v2.col_type").isNull()
        | (F.col("v1.col_type") != F.col("v2.col_type"))
    )


@query(
    "lake_time_travel",
    oracle="""
SELECT 'v0' AS as_of, 'nation' AS table_name, 0 AS seq,
       (SELECT count(*) FROM nation) AS row_count
UNION ALL SELECT 'v0', 'region', 0, (SELECT count(*) FROM region)
UNION ALL SELECT 'v1', 'nation', 1, (SELECT count(*) FROM nation)
UNION ALL SELECT 'v1', 'region', 0, (SELECT count(*) FROM region)
UNION ALL SELECT 'v1', 'supplier', 1, (SELECT count(*) FROM supplier)
UNION ALL SELECT 'latest', 'nation', 1, (SELECT count(*) FROM nation)
UNION ALL SELECT 'latest', 'part', 2, (SELECT count(*) FROM part)
UNION ALL SELECT 'latest', 'region', 0, (SELECT count(*) FROM region)
UNION ALL SELECT 'latest', 'supplier', 2, (SELECT count(*) FROM supplier)
""",
)
def lake_time_travel(spark, sf_dir):
    """Time travel over the append-only catalog log: three catalog
    batches (seq 0/1/2) are appended with ``append_entries`` — region and
    nation cataloged at v0, nation re-ingested and supplier added at v1,
    supplier re-ingested and part added at v2 — then ``state_as_of``
    reconstructs the table each reader generation saw: as-of-0, as-of-1,
    and latest. The as-of filter is a pushed-down predicate on the log
    scan before the per-table last-writer window, so historical reads
    cost the same as current ones; a Delta/Iceberg snapshot read slots
    into the same interface (SURVEY §4 ACID note).

    Row counts come from one count per cataloged table (metadata-scale
    driver scalars, exactly what the reference's ingestion writes into
    its catalog items); ``ingested_at`` uses fixed literals so the log —
    and therefore the whole query — is deterministic across runs.
    """
    import shutil as _sh

    from adlspark import catalog as cat

    log_dir = os.path.join(work_dir(sf_dir, "time_travel"), "catalog_log")
    _sh.rmtree(log_dir, ignore_errors=True)

    # footer counts (tables.fast_count): 4 scheduler round-trips -> 0
    counts = {
        t: tables.fast_count(spark, sf_dir, t)
        for t in ("region", "nation", "supplier", "part")
    }
    batches = [
        (0, [("region", counts["region"]), ("nation", counts["nation"])]),
        (1, [("nation", counts["nation"]), ("supplier", counts["supplier"])]),
        (2, [("supplier", counts["supplier"]), ("part", counts["part"])]),
    ]
    for seq, rows in batches:
        df = tables.rows_df(
            spark,
            [(t, seq, n, f"2026-01-0{seq + 1} 00:00:00") for t, n in rows],
            "table_name string, seq int, row_count long, ingested_at string",
        ).withColumn("ingested_at", F.to_timestamp("ingested_at"))
        cat.append_entries(df, log_dir)

    views = [
        cat.state_as_of(spark, log_dir, 0).withColumn("as_of", F.lit("v0")),
        cat.state_as_of(spark, log_dir, 1).withColumn("as_of", F.lit("v1")),
        cat.latest_state(spark, log_dir).withColumn("as_of", F.lit("latest")),
    ]
    out = views[0]
    for v in views[1:]:
        out = out.unionByName(v)
    return out.select("as_of", "table_name", "seq", "row_count")


@query(
    "lake_cdc_diff",
    oracle="""
WITH newsnap AS (
  SELECT c_custkey,
         c_name,
         CASE WHEN c_custkey % 13 = 0 THEN round(c_acctbal + 10.0, 2)
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_acctbal
  FROM customer WHERE c_custkey <= 25
)
SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'I'
            WHEN n.c_custkey IS NULL THEN 'D'
            ELSE 'U' END AS change_type,
       o.c_acctbal AS old_acctbal,
       n.c_acctbal AS new_acctbal
FROM (SELECT c_custkey, c_name, c_acctbal FROM customer) o
FULL OUTER JOIN newsnap n ON o.c_custkey = n.c_custkey
WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
   OR o.c_name <> n.c_name OR o.c_acctbal <> n.c_acctbal
""",
)
def lake_cdc_diff(spark, sf_dir):
    """Snapshot-diff change-data-capture: given yesterday's and today's
    table states, emit the insert/update/delete row set — the feed a
    downstream incremental consumer (or a MERGE writer, lake_merge_upsert)
    applies. Today's snapshot is derived deterministically from customer
    (every 97th key deleted, every 13th balance bumped, 25 keys
    re-inserted under new ids).

    Shape: ONE full-outer hash join on the primary key — both snapshots
    shuffle once, change classification falls out of the null pattern and
    an attribute compare. At 100 TB both sides partition by the same key
    (bucketed table layouts make this exchange-free — see
    lake_bucketed_join); the attribute compare widens to a precomputed
    row-hash column to avoid moving wide rows, which the parity-safe
    version here keeps as explicit column compares (cross-engine float
    formatting makes md5-of-concat unportable).
    """
    c = tables.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    new = (
        c.where(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            "c_name",
            F.when(
                F.col("c_custkey") % 13 == 0, F.round(F.col("c_acctbal") + 10.0, 2)
            )
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            c.where(F.col("c_custkey") <= 25).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                "c_name",
                "c_acctbal",
            )
        )
    )
    o, n = c.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer")
    changed = (
        F.col("o.c_custkey").isNull()
        | F.col("n.c_custkey").isNull()
        | (F.col("o.c_name") != F.col("n.c_name"))
        | (F.col("o.c_acctbal") != F.col("n.c_acctbal"))
    )
    return j.where(changed).select(
        F.coalesce(F.col("o.c_custkey"), F.col("n.c_custkey")).alias("c_custkey"),
        F.when(F.col("o.c_custkey").isNull(), "I")
        .when(F.col("n.c_custkey").isNull(), "D")
        .otherwise("U")
        .alias("change_type"),
        F.col("o.c_acctbal").alias("old_acctbal"),
        F.col("n.c_acctbal").alias("new_acctbal"),
    )


@query("lake_vacuum_orphans")  # rows-only: see lake_compact_small_files
def lake_vacuum_orphans(spark, sf_dir):
    """VACUUM planning: find staged files on disk that no catalog entry
    references — aborted writes, superseded compactions, failed batches
    leave orphans that cost storage and confuse listings; every table
    format ships a vacuum for them. Three batches are staged (b0, b1,
    b2) but the catalog log only records b0 and b2 (b1 simulates an
    aborted ingest that died before its catalog append). The file
    inventory comes from a ``binaryFile`` LISTING scan over the staged
    root (paths + sizes — metadata volume, the payload bytes are never
    read because only metadata columns are selected), anti-joined
    against the referenced-prefix set; the report aggregates per batch.

    Scale shape: listing is distributed (one row per file), the
    referenced set is catalog-sized and broadcast; the anti join is the
    whole algorithm. Deleting the files is the storage layer's move —
    the operator produces the deletion manifest, which is what Delta's
    VACUUM DRY RUN returns.

    ROWS-ONLY BY CAUSE (round 12): bytes_reclaimable is a physical
    file size — a writer-environment function, not a corpus function
    (same analysis as lake_compact_small_files). The corpus-derivable
    invariants (b1 is the only orphan batch; per-batch file count 1;
    reclaimable bytes positive iff events is non-empty) are pinned by
    tests/test_fixture_invariants.py::test_vacuum_invariants.
    """
    import shutil as _sh

    base = work_dir(sf_dir, "vacuum")
    staged_root = os.path.join(base, "staged")
    _sh.rmtree(staged_root, ignore_errors=True)
    ev = tables.load(spark, sf_dir, "events").limit(300)
    for b in ("b0", "b1", "b2"):
        ev.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staged_root, b)
        )
    referenced = tables.rows_df(
        spark,
        [("b0",), ("b2",)], "batch string"
    )  # b1 aborted before its catalog append

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(staged_root)
        .select("path", "length")
    )
    batch_of = F.regexp_extract("path", r"staged/(b\d+)/", 1)
    inv = files.select(batch_of.alias("batch"), "length")
    orphans = inv.join(F.broadcast(referenced), "batch", "left_anti")
    kept = inv.join(F.broadcast(referenced), "batch", "left_semi")
    return (
        orphans.groupBy("batch")
        .agg(
            F.lit("orphan").alias("status"),
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").alias("bytes_reclaimable"),
        )
        .unionByName(
            kept.groupBy("batch").agg(
                F.lit("referenced").alias("status"),
                F.count(F.lit(1)).alias("n_files"),
                F.lit(0).cast("long").alias("bytes_reclaimable"),
            )
        )
        .select("batch", "status", "n_files", "bytes_reclaimable")
    )


@query(
    "lake_dynamic_partition_overwrite",
    oracle=f"""
SELECT o_orderstatus, count(*) AS n,
       {o_dsum_total("CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 0.9 ELSE o_totalprice END")}
         AS sum_price
FROM orders
GROUP BY o_orderstatus
""",
)
def lake_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — the lake's partition-level upsert:
    a partitioned orders table is staged once, then a corrected batch
    (status-'O' orders repriced at 90%) overwrites ONLY the partitions
    it contains, leaving every other partition's files untouched.
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` scopes the
    overwrite to partitions present in the incoming data — the static
    default would truncate the whole table; at 100 TB this is the
    difference between rewriting one day and rewriting the lake. The
    oracle recomputes the expected final state relationally, so the
    hash certifies the on-disk result of the write protocol itself.
    """
    import shutil as _sh

    base = work_dir(sf_dir, "dyn_overwrite")
    path = os.path.join(base, "orders_part")
    _sh.rmtree(path, ignore_errors=True)

    o = tables.load(spark, sf_dir, "orders")
    o.write.partitionBy("o_orderstatus").parquet(path)

    fixed = (
        o.where(F.col("o_orderstatus") == "O")
        .withColumn("o_totalprice", F.col("o_totalprice") * 0.9)
    )
    (
        fixed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    # explicit schema (empty-staged-batch safety, round-9 corpus find)
    back = spark.read.schema(o.schema).parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum_total("o_totalprice").alias("sum_price"),
    )


@query(
    "lake_snapshot_rollback",
    oracle="""
SELECT 'pre_rollback' AS state, 'nation' AS table_name, 1 AS seq,
       (SELECT count(*) FROM nation) AS row_count
UNION ALL SELECT 'pre_rollback', 'part', 2,
       (SELECT CAST(count(*) * 0 AS BIGINT) FROM part)
UNION ALL SELECT 'pre_rollback', 'region', 0, (SELECT count(*) FROM region)
UNION ALL SELECT 'pre_rollback', 'supplier', 2,
       (SELECT CAST(count(*) // 2 AS BIGINT) FROM supplier)
UNION ALL SELECT 'rolled_back', 'nation', 1, (SELECT count(*) FROM nation)
UNION ALL SELECT 'rolled_back', 'region', 0, (SELECT count(*) FROM region)
UNION ALL SELECT 'rolled_back', 'supplier', 3,
       (SELECT count(*) FROM supplier)
""",
)
def lake_snapshot_rollback(spark, sf_dir):
    """Snapshot rollback the lakehouse way: a bad batch (seq 2 ingests a
    truncated supplier and an empty part) is undone by APPENDING a
    compensating snapshot (seq 3) — supplier's last-good entry is
    re-asserted and part, which first appeared in the bad batch, is
    tombstoned — never by deleting history. The output shows both the
    corrupted pre-rollback state and the restored current state; the
    full log (including the bad batch) remains readable underneath,
    which is exactly how Delta RESTORE / Iceberg rollback-to-snapshot
    behave (new snapshot pointing at old files, history intact).

    Scale shape: rollback writes one metadata-scale batch — cost is
    O(tables touched), zero data movement; both state reads are the
    same pushed-down seq-filter + last-writer window as
    ``lake_time_travel``. The tombstone is a `deleted` flag honored at
    read time, the append-only analogue of a delete marker.
    """
    import shutil as _sh

    from adlspark import catalog as cat

    log_dir = os.path.join(work_dir(sf_dir, "snapshot_rollback"), "catalog_log")
    _sh.rmtree(log_dir, ignore_errors=True)

    # footer counts (tables.fast_count): 4 scheduler round-trips -> 0
    n = {
        t: tables.fast_count(spark, sf_dir, t)
        for t in ("region", "nation", "supplier", "part")
    }
    batches = [
        (0, [("region", n["region"], False), ("nation", n["nation"], False)]),
        (1, [("nation", n["nation"], False), ("supplier", n["supplier"], False)]),
        # the BAD batch: supplier truncated to half, part landed empty
        (2, [("supplier", n["supplier"] // 2, False), ("part", 0, False)]),
        # compensating snapshot: restore supplier, tombstone part
        (3, [("supplier", n["supplier"], False), ("part", 0, True)]),
    ]
    for seq, rows in batches:
        df = tables.rows_df(
            spark,
            [
                (t, seq, rc, f"2026-01-0{seq + 1} 00:00:00", dele)
                for t, rc, dele in rows
            ],
            "table_name string, seq int, row_count long, "
            "ingested_at string, deleted boolean",
        ).withColumn("ingested_at", F.to_timestamp("ingested_at"))
        cat.append_entries(df, log_dir)

    pre = (
        cat.state_as_of(spark, log_dir, 2)
        .where(~F.col("deleted"))
        .withColumn("state", F.lit("pre_rollback"))
    )
    cur = (
        cat.latest_state(spark, log_dir)
        .where(~F.col("deleted"))
        .withColumn("state", F.lit("rolled_back"))
    )
    return pre.unionByName(cur).select(
        "state", "table_name", "seq", "row_count"
    )


@query(
    "lake_write_audit_publish",
    oracle="""
WITH good AS (
  SELECT * FROM orders WHERE o_totalprice > 0 AND o_custkey IS NOT NULL
), audit AS (
  SELECT 'row_count_positive' AS rule,
         (SELECT count(*) FROM good) > 0 AS passed
  UNION ALL
  SELECT 'no_negative_price', NOT EXISTS (
    SELECT 1 FROM good WHERE o_totalprice <= 0)
  UNION ALL
  SELECT 'keys_unique', (SELECT count(*) FROM good) =
                        (SELECT count(DISTINCT o_orderkey) FROM good)
)
SELECT a.rule, a.passed,
       (SELECT count(*) FROM good) AS published_rows,
       -- coalesce: the checksum of an EMPTY staged batch is 0 on both
       -- sides (round-9 empty-partition seam), not NULL
       CAST(coalesce((SELECT sum(o_orderkey) FROM good), 0) AS BIGINT)
         AS published_key_sum,
       (SELECT bool_and(passed) FROM audit) AS published
FROM audit a
""",
)
def lake_write_audit_publish(spark, sf_dir):
    """Write-Audit-Publish — the production lakehouse write pattern
    (Netflix WAP / Iceberg branch workflow): new data lands in an
    UNPUBLISHED staging location, an expectation suite audits the staged
    files, and only if every rule passes does an atomic, metadata-only
    catalog swap make the data visible to readers. Readers never see a
    half-written or failing batch; a failed audit leaves the staging dir
    for debugging and publishes nothing.

    Spark-first composition of existing pieces: the stage write is a
    plain parquet write, the audit is `lake_validate_rules`-style
    conditional sums in ONE pass over the STAGED files (re-read — the
    audit must check what was actually written, not the pre-write
    DataFrame), and the publish step appends one catalog batch
    (`catalog.append_entries`) whose presence IS the visibility flip —
    the same O(1)-metadata commit a real table format performs. Output:
    the audit verdicts plus the published state (row count + key
    checksum over the staged files), hash-checked end-to-end, so a
    silent row loss or dup in the stage→audit→publish path flips the
    oracle.
    """
    import shutil as _sh
    import uuid

    from adlspark import catalog as cat

    base = work_dir(sf_dir, "wap")
    # prior invocations each staged a full orders copy — wipe them first
    _sh.rmtree(base, ignore_errors=True)
    run = uuid.uuid4().hex[:8]
    stage = f"{base}/stage_{run}"
    log_dir = f"{base}/catalog_{run}"

    o = tables.load(spark, sf_dir, "orders")
    good = o.where((F.col("o_totalprice") > 0) & F.col("o_custkey").isNotNull())
    good.write.mode("overwrite").parquet(stage)

    # explicit schema (empty-staged-batch safety, round-9 corpus find)
    staged = spark.read.schema(o.schema).parquet(stage)
    audit_row = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("n_bad_price"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum("o_orderkey").alias("key_sum"),
    ).head()
    rules = [
        ("row_count_positive", audit_row["n"] > 0),
        # n_bad_price is NULL over an empty staged batch; "no negative
        # prices among zero rows" is vacuously TRUE (matches the
        # oracle's NOT EXISTS) — round-9 empty-partition seam
        ("no_negative_price", (audit_row["n_bad_price"] or 0) == 0),
        ("keys_unique", audit_row["n"] == audit_row["n_keys"]),
    ]
    publish = all(p for _, p in rules)

    if publish:
        entry = tables.rows_df(
            spark,
            [("orders_staged", 0, audit_row["n"], "2026-01-01 00:00:00")],
            "table_name string, seq int, row_count long, ingested_at string",
        ).withColumn("ingested_at", F.to_timestamp("ingested_at"))
        cat.append_entries(entry, log_dir)

    return tables.rows_df(
        spark,
        [
            (
                rule,
                bool(p),
                int(audit_row["n"]),
                # key_sum is NULL when the staged batch is empty (sum
                # over zero rows); the published checksum is then 0
                int(audit_row["key_sum"] or 0),
                bool(publish),
            )
            for rule, p in rules
        ],
        "rule string, passed boolean, published_rows long, "
        "published_key_sum long, published boolean",
    )
