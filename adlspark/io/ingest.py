"""Ingestion / validation / staging — the engine's analogue of the
reference's staging pipeline (S3-event → validate → stage/quarantine →
catalog), re-expressed as one Spark job per arriving batch:

    read (explicit schema, PERMISSIVE) → validate required columns →
    split good/quarantine → write staged parquet (partitioned) →
    append a catalog entry

Control crosses a process boundary once (driver → executors), vs the
reference's per-state Lambda hops. At 100 TB the staged write is the
only shuffle-free full pass; validation predicates are Catalyst columns
so they fuse into the scan.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from adlspark import tables


@dataclass
class SourceConfig:
    """Per-source ingestion config (the reference's DataSources entry)."""

    name: str
    fmt: str  # 'json' | 'csv' | 'parquet'
    schema: StructType
    required: list[str] = field(default_factory=list)
    options: dict = field(default_factory=dict)


def read_raw(spark: SparkSession, cfg: SourceConfig, path: str) -> DataFrame:
    """Schema-on-read with corrupt-record capture (PERMISSIVE)."""
    if cfg.fmt == "json":
        # StructType.add mutates in place — copy so a SourceConfig can be
        # reused across ingest calls (at-least-once delivery re-uses cfgs)
        read_schema = StructType(list(cfg.schema.fields)).add(
            "_corrupt_record", "string"
        )
    else:
        read_schema = cfg.schema
    reader = spark.read.schema(read_schema)
    for k, v in cfg.options.items():
        reader = reader.option(k, v)
    if cfg.fmt == "json":
        return reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        ).json(path)
    if cfg.fmt == "csv":
        return reader.option("mode", "PERMISSIVE").csv(path)
    return reader.parquet(path)


def split_valid(df: DataFrame, cfg: SourceConfig) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine): corrupt rows + required-column nulls quarantine."""
    has_corrupt = "_corrupt_record" in df.columns
    bad_pred = F.lit(False)
    if has_corrupt:
        bad_pred = bad_pred | F.col("_corrupt_record").isNotNull()
    for col in cfg.required:
        bad_pred = bad_pred | F.col(col).isNull()
    good = df.where(~bad_pred)
    bad = df.where(bad_pred)
    if has_corrupt:
        good = good.drop("_corrupt_record")
    return good, bad


def stage(
    good: DataFrame,
    staged_dir: str,
    partition_by: list[str] | None = None,
) -> None:
    writer = good.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staged_dir)


def ingest(
    spark: SparkSession,
    cfg: SourceConfig,
    raw_path: str,
    staged_dir: str,
    quarantine_dir: str | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """Full staging pipeline; returns the catalog entry for the batch."""
    df = read_raw(spark, cfg, raw_path)
    good, bad = split_valid(df, cfg)
    stage(good, staged_dir, partition_by)
    n_bad = bad.count()
    if quarantine_dir and n_bad:
        bad.write.mode("overwrite").json(quarantine_dir)
    # footer count of the batch just committed (optimization round 14,
    # guide §1.2): the staged files' parquet footers hold the exact row
    # count — no need for a read-back count() job; fallback to the real
    # count if the footers are unreadable
    from adlspark.catalog import parquet_num_rows

    n_good = parquet_num_rows(staged_dir)
    if n_good is None:
        n_good = spark.read.parquet(staged_dir).count()
    return {
        "source": cfg.name,
        "raw_path": raw_path,
        "staged_path": staged_dir,
        "n_good": n_good,
        "n_quarantined": n_bad,
        "status": "STAGED" if n_good else "FAILED",
    }


# ---------------------------------------------------------------------------
# Schema evolution (drift across batches of one source)
# ---------------------------------------------------------------------------

# Safe automatic widenings (old simpleString -> new simpleString). Anything
# else that changes a column's type is incompatible drift -> quarantine.
WIDEN_OK = {
    ("int", "bigint"),
    ("int", "double"),
    ("bigint", "double"),
    ("float", "double"),
}


def merge_schema(old: StructType, new: StructType):
    """Merge an incoming batch schema into the source's current schema.

    Policy (the mergeSchema/type-widening discipline a lake needs on
    re-ingest): added columns are appended (old rows null-fill); a column
    retyped along WIDEN_OK is widened in place; an incoming column that is
    NARROWER than current is fine (the batch upcasts at read); any other
    type change is incompatible drift.

    Returns ``(merged StructType | None, changes)`` — ``None`` means
    incompatible (caller quarantines the batch); ``changes`` is an audit
    list like ``['add:session_id:string', 'widen:value:int->double']``
    destined for the catalog entry.
    """
    from pyspark.sql.types import StructField

    changes: list[str] = []
    merged = list(old.fields)
    index = {f.name: i for i, f in enumerate(merged)}
    for f in new.fields:
        if f.name not in index:
            merged.append(StructField(f.name, f.dataType, True))
            changes.append(f"add:{f.name}:{f.dataType.simpleString()}")
            continue
        cur = merged[index[f.name]]
        if cur.dataType == f.dataType:
            continue
        o_s, n_s = cur.dataType.simpleString(), f.dataType.simpleString()
        if (o_s, n_s) in WIDEN_OK:
            merged[index[f.name]] = StructField(f.name, f.dataType, True)
            changes.append(f"widen:{f.name}:{o_s}->{n_s}")
        elif (n_s, o_s) in WIDEN_OK:
            changes.append(f"upcast-batch:{f.name}:{n_s}->{o_s}")
        else:
            return None, [f"incompatible:{f.name}:{o_s}->{n_s}"]
    return StructType(merged), changes


def ingest_evolving(
    spark: SparkSession,
    batch_df: DataFrame,
    staged_root: str,
    state: dict,
    batch_id: str,
    quarantine_dir: str | None = None,
) -> dict:
    """Schema-evolving staged append for one source.

    Batches land in per-batch subdirectories (``staged_root/batch=<id>``)
    — never a rewrite of existing staged data, the only option at 100 TB.
    ``state`` carries the source's current merged schema + version
    (in production this lives in the catalog; callers persist it there).
    Incompatible batches quarantine and leave schema/state untouched.
    """
    current: StructType | None = state.get("schema")
    if current is None:
        merged, changes = batch_df.schema, ["initial"]
    else:
        merged, changes = merge_schema(current, batch_df.schema)
    if merged is None:
        if quarantine_dir:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(quarantine_dir, f"batch={batch_id}")
            )
        return {
            "batch": batch_id,
            "status": "QUARANTINED",
            "changes": changes,
            "schema_version": state.get("version", 0),
            "n_rows": batch_df.count(),
        }
    batch_df.write.mode("overwrite").parquet(
        os.path.join(staged_root, f"batch={batch_id}")
    )
    bumped = current is None or any(
        c.startswith(("add:", "widen:")) for c in changes
    )
    state["schema"] = merged
    state["version"] = state.get("version", 0) + (1 if bumped else 0)
    state.setdefault("batches", []).append(batch_id)
    return {
        "batch": batch_id,
        "status": "STAGED",
        "changes": changes,
        "schema_version": state["version"],
        "n_rows": batch_df.count(),
    }


def read_staged_evolved(spark: SparkSession, staged_root: str, state: dict) -> DataFrame:
    """Read every staged batch under the source's CURRENT merged schema:
    each batch directory is read with its own (frozen) file schema, cast
    column-by-column to the merged types, missing columns null-filled —
    schema applied at read, no data rewrite (the Iceberg/Delta metadata-
    cast pattern)."""
    merged: StructType = state["schema"]
    out = None
    for batch_id in state.get("batches", []):
        df = spark.read.parquet(os.path.join(staged_root, f"batch={batch_id}"))
        cols = []
        for f in merged.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        df = df.select(*cols)
        out = df if out is None else out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# Failure notification log (the SNS-topic analogue)
# ---------------------------------------------------------------------------

ALERT_SCHEMA = (
    "source string, raw_path string, status string, n_good long, "
    "n_quarantined long, alerted_at timestamp, detail string"
)


def record_alert(spark: SparkSession, alert_dir: str, entry: dict, detail: str = "") -> None:
    """Append one alert row for a non-clean ingest outcome. The reference
    publishes failures to an SNS topic; here the notification channel IS a
    queryable table — operators subscribe with a query (or a readStream
    over the directory) instead of an email hook."""
    import datetime

    row = (
        entry["source"],
        entry["raw_path"],
        entry["status"],
        entry["n_good"],
        entry["n_quarantined"],
        datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None),
        detail,
    )
    tables.rows_df(spark, [row], ALERT_SCHEMA).write.mode("append").parquet(alert_dir)


def ingest_with_alerts(
    spark: SparkSession,
    cfg: SourceConfig,
    raw_path: str,
    staged_dir: str,
    alert_dir: str,
    quarantine_dir: str | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """ingest() + alert on FAILED or any quarantined rows."""
    entry = ingest(spark, cfg, raw_path, staged_dir, quarantine_dir, partition_by)
    if entry["status"] == "FAILED" or entry["n_quarantined"]:
        detail = (
            "batch failed validation"
            if entry["status"] == "FAILED"
            else f"{entry['n_quarantined']} rows quarantined"
        )
        record_alert(spark, alert_dir, entry, detail)
    return entry


def work_dir(sf_dir: str, name: str) -> str:
    """Deterministic scratch dir per (sf, operator) under /tmp."""
    tag = sf_dir.strip("/").replace("/", "_")
    d = f"/tmp/adlspark_work/{tag}/{name}"
    os.makedirs(d, exist_ok=True)
    return d
