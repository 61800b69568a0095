"""Data-quality operators: rule-driven validation and referential
integrity.

Reference parity: the upstream project (`aws-samples/accelerated-data-lake`)
is an ingestion framework whose core loop validates every staged batch
against declarative expectations before cataloging it (SURVEY.md §1.1 —
the DataSourceTableProperties validation spec and the failed/quarantine
path). These operators re-express that contract Spark-first:

- ``lake_validate_rules``: a declarative rule list (not-null, range,
  domain, cross-field, date-window) evaluated in ONE map-side-combinable
  pass over the fact table — no per-rule scans. The single aggregated row
  is unpivoted to one row per rule. At 100 TB this is exactly one full
  scan with a count/sum-only aggregate: no shuffle wider than one row per
  rule, no driver-side data.
- ``lake_ri_check``: orphan detection for every foreign-key edge of the
  star schema via LEFT joins against the parent key sets, one aggregate
  row per edge. Guaranteed-tiny parents (region, nation) are broadcast
  explicitly; growing parents (customer, part, supplier, orders) are left
  to AQE, which picks broadcast at bench scale and sort-merge at 100 TB —
  the orphan counts are partial-aggregated before the union, so the
  7-edge union moves 7 rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from adlspark import tables
from adlspark.registry import query

# (rule_id, column, SQL predicate that is TRUE when the row VIOLATES the
# rule). The same predicate strings drive the Spark plan and the DuckDB
# oracle, so the two engines can never drift on rule semantics.
_LINEITEM_RULES = [
    ("not_null_quantity", "l_quantity", "l_quantity IS NULL"),
    ("not_null_orderkey", "l_orderkey", "l_orderkey IS NULL"),
    ("range_quantity_le_45", "l_quantity", "l_quantity > 45"),
    ("range_discount_le_008", "l_discount", "l_discount > 0.08"),
    ("positive_extendedprice", "l_extendedprice", "l_extendedprice <= 0"),
    ("domain_returnflag", "l_returnflag", "l_returnflag NOT IN ('A','N','R')"),
    ("domain_linestatus", "l_linestatus", "l_linestatus NOT IN ('O','F')"),
    ("range_tax_le_008", "l_tax", "l_tax > 0.08"),
    (
        "shipdate_window",
        "l_shipdate",
        "l_shipdate < TIMESTAMP '1992-01-01' OR l_shipdate >= TIMESTAMP '2003-01-01'",
    ),
]


def _validate_oracle() -> str:
    cols = ", ".join(
        f"sum(CASE WHEN {pred} THEN 1 ELSE 0 END)::BIGINT AS v{i}"
        for i, (_, _, pred) in enumerate(_LINEITEM_RULES)
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT '{rid}' AS rule_id, '{col}' AS column_name, n AS n_checked,"
        f" v{i}::BIGINT AS n_violations,"
        f" round(v{i} / n, 6) AS violation_rate FROM agg"
        for i, (rid, col, _) in enumerate(_LINEITEM_RULES)
    )
    return f"""
WITH agg AS (
  SELECT count(*) AS n, {cols} FROM lineitem
)
{arms}
"""


@query("lake_validate_rules", oracle=_validate_oracle())
def lake_validate_rules(spark, sf_dir):
    """Declarative expectation suite over lineitem, evaluated in one pass.

    Every rule becomes a conditional sum inside a single global aggregate
    (partial-aggregated map-side; the exchange carries one row), then the
    one aggregated row is unpivoted with ``stack`` into one output row per
    rule. Adding a rule adds a column to the same scan, never a scan.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    agg_cols = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.when(F.expr(pred), 1).otherwise(0)).alias(f"v{i}")
        for i, (_, _, pred) in enumerate(_LINEITEM_RULES)
    ]
    one = li.agg(*agg_cols)
    stack_args = ", ".join(
        f"'{rid}', '{col}', v{i}" for i, (rid, col, _) in enumerate(_LINEITEM_RULES)
    )
    return one.select(
        F.expr(
            f"stack({len(_LINEITEM_RULES)}, {stack_args})"
            " AS (rule_id, column_name, n_violations)"
        ),
        F.col("n").alias("n_checked"),
    ).select(
        "rule_id",
        "column_name",
        "n_checked",
        F.col("n_violations").cast("long").alias("n_violations"),
        F.round(F.col("n_violations") / F.col("n_checked"), 6).alias(
            "violation_rate"
        ),
    )


# (edge name, child table, child FK column, parent table, parent key column,
#  force-broadcast parent?) — broadcast only the parents whose cardinality
# is bounded by the schema itself (25 nations, 5 regions) at ANY scale.
_FK_EDGES = [
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey", False),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey", True),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey", True),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey", True),
]


def _ri_oracle() -> str:
    arms = "\nUNION ALL\n".join(
        f"""
SELECT '{name}' AS relationship,
       count(*) AS n_child,
       count(*) FILTER (p.{pk} IS NULL) AS n_orphan_rows,
       count(DISTINCT c.{fk}) FILTER (p.{pk} IS NULL) AS n_orphan_keys
FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
  ON c.{fk} = p.{pk}"""
        for (name, child, fk, parent, pk, _) in _FK_EDGES
    )
    return arms


@query("lake_ri_check", oracle=_ri_oracle())
def lake_ri_check(spark, sf_dir):
    """Referential-integrity audit: orphan counts for every FK edge.

    Each edge is a LEFT join of the child against the parent's distinct
    key set with a hit flag, aggregated to a single row (child rows,
    orphan rows, distinct orphan keys) before the 7-row union. The parent
    key sets are deduplicated pre-join so the join never fans out; nation
    and region are broadcast explicitly (schema-bounded cardinality),
    the rest resolve via AQE — broadcast at bench scale, sort-merge at
    lake scale.
    """
    parts = []
    for name, child, fk, parent, pk, bcast in _FK_EDGES:
        c = tables.load(spark, sf_dir, child)
        p = tables.load(spark, sf_dir, parent).select(pk).distinct()
        if bcast:
            p = F.broadcast(p)
        joined = c.join(p, c[fk] == p[pk], "left")
        parts.append(
            joined.agg(
                F.lit(name).alias("relationship"),
                F.count(F.lit(1)).alias("n_child"),
                # coalesce: sum over an EMPTY child is NULL, but "no
                # rows" means 0 orphans (round-9 empty-partition find;
                # the oracle's count(*) FILTER is 0 there)
                F.coalesce(
                    F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0)), F.lit(0)
                )
                .cast("long")
                .alias("n_orphan_rows"),
                F.count_distinct(
                    F.when(F.col(pk).isNull(), F.col(fk))
                ).alias("n_orphan_keys"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


@query(
    "lake_gdpr_delete",
    oracle="""
WITH del AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0
), kept AS (
  SELECT e.user_id FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.user_id = e.user_id)
), audit AS (
  SELECT d.user_id,
         (SELECT count(*) FROM events e WHERE e.user_id = d.user_id)
           AS n_rows_deleted
  FROM del d
)
SELECT 'deleted_user' AS record_type,
       user_id,
       n_rows_deleted AS n_rows
FROM audit
UNION ALL
SELECT 'summary', NULL,
       (SELECT count(*) FROM kept)
""",
)
def lake_gdpr_delete(spark, sf_dir):
    """Right-to-be-forgotten erasure: given a deletion list (every 37th
    user id), remove all of those users' events and emit the compliance
    audit — one tombstone row per erased subject with the row count
    removed, plus the surviving-table summary. This is the lake operation
    GDPR/CCPA mandates and the reference's catalog-driven lake must
    support (delete + auditable proof).

    Shape: the deletion list is DISTINCT-ed and broadcast (subject lists
    are human-scale); the erase is one broadcast ANTI join — a narrow
    pass over the fact table, exactly what a Delta DELETE compiles to —
    and the audit is one broadcast SEMI join + per-subject count on the
    same scan. Nothing shuffles the fact table; rewritten-file planning
    (the physical delete) is the table format's job downstream.
    """
    ev = tables.load(spark, sf_dir, "events")
    del_list = (
        ev.where(F.col("user_id") % 37 == 0).select("user_id").distinct()
    )
    kept_n = ev.join(F.broadcast(del_list), "user_id", "left_anti").count()
    audit = (
        ev.join(F.broadcast(del_list), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit("deleted_user").alias("record_type"),
            "user_id",
            "n_rows",
        )
    )
    summary = tables.rows_df(
        spark,
        [("summary", None, kept_n)], "record_type string, user_id long, n_rows long"
    )
    return audit.unionByName(summary)
