"""The benchmark's two workloads, ``lake_cycle`` and ``llm_curation``:
which operations a pass runs, the inputs they run on, and how each
operation's output is checked. The read-only SQL keys run inside
``lake_cycle``.

An operation is one timed call into the engine's public surface. Its timed
region matches ``bench.py``'s ``time_key``: the call that returns a
DataFrame, then a ``noop`` write of it. Calls that return no DataFrame
(``ingest``, ``entry_for``, ``append_entries``) are timed as the call.
Every operation carries its check, which runs after the timed region.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks

# lake_cycle, keys: for each layer module the workload covers, its
# costliest key in the per-key sf0.1 timings of BENCH_DETAIL.json (seconds
# in the comments) among the keys that carry a check and write nowhere
# outside the run. The keys left out as writers (every ingest_* and sink_*
# key, join_dpp_prune, catalog_persistent, six lake_* keys,
# mv_incremental_refresh, three stream_* keys) write under the engine's
# fixed /tmp/adlspark_work.
# Read-only SQL keys run on the run's input tables, the same paths every
# pass, like an analyst's session over the curated tables.
ANALYTICS = [
    "agg_heavy_hitters_cms",  # ops.aggs 3.41
    "join_theta_range",  # ops.joins 2.56
    "win_range_frame",  # ops.windows 1.26
    "ts_session",  # ops.timeseries 2.58
    "fn_math",  # ops.functions 1.60
    "subq_corr_scalar_agg",  # ops.subqueries 1.22
    "set_except_all",  # ops.setops 0.45
    "project_compute",  # ops.filters 0.56
    "sort_multi",  # ops.sorts 0.36
    "catalog_entries",  # ops.scans 2.47
    "udf_python",  # ops.udfs 1.22
]

# Lake keys run on each pass's fresh copy of the tables.
LAKE_KEYS = [
    "catalog_search_tokens",  # ops.lake 4.52
    "lake_ri_check",  # ops.quality 2.79
    "stream_stream_join",  # streaming.streams 8.01
]

# llm_curation: every key of the LLM family's cost-dominant tail, plus
# cheap text keys so the median operation is not only the tail.
LLM_CURATION = [
    "llm_near_dup_auto", "llm_ngram_jaccard", "llm_dedup_canonical",
    "llm_dedup_cluster", "llm_graph_triangles", "llm_graph_pagerank",
    "llm_near_dup_pairs", "llm_containment_dedup", "llm_ann_ivf",
    "llm_ann_ivf_pq", "llm_ann_ivf_scaled", "llm_mmr_diverse_sample",
    "llm_knn_graph", "llm_kmeans", "llm_dedup_minhash",
    "llm_minhash_signature", "llm_minhash_estimate",
    "llm_text_stats", "llm_token_count", "llm_langid", "llm_dedup_exact",
]

# rows-only keys, checked by a property instead of an oracle
PROPERTY_CHECKS: dict[str, Callable] = {
    "llm_dedup_minhash": checks.check_minhash_pairs,
}

# catalog search terms: column names some sources carry and others do not
SEARCH_TERMS = ["user_id", "o_totalprice", "l_tax", "no_such_column"]


@dataclass
class Op:
    """One timed operation of a pass."""

    name: str
    module: str  # layer the operation is attributed to
    call: Callable[[], Any]
    check: Callable[[Any], str | None]


class Context:
    """What operations share within one run: the session (set once it has
    started), the run's input tree, the DuckDB connection over it and the
    oracle results."""

    def __init__(self, sf_dir: str, con) -> None:
        from adlspark import registry

        self.spark = None
        self.sf_dir = sf_dir
        self.con = con
        self.queries = registry.all_queries()
        self.oracle_sql = registry.all_oracles()
        self._oracle: dict[str, pa.Table] = {}

    def oracle(self, key: str) -> pa.Table:
        if key not in self._oracle:
            self._oracle[key] = self.con.execute(self.oracle_sql[key]).arrow()
        return self._oracle[key]

    def prefetch_oracles(self, keys: list[str]) -> None:
        """Run the oracles of ``keys`` now, so that the checks only compare."""
        for k in keys:
            if k in self.oracle_sql:
                self.oracle(k)

    def key_op(self, key: str, sf_dir: str | None = None) -> Op:
        """A registry key as an operation on ``sf_dir`` (default: the run's
        input tree), checked against its oracle or its property."""
        fn = self.queries[key]
        where = sf_dir or self.sf_dir
        if key in self.oracle_sql:
            def check(df):
                return checks.compare_tables(df.toArrow(), self.oracle(key))
        elif key in PROPERTY_CHECKS:
            prop = PROPERTY_CHECKS[key]

            def check(df):
                return prop(df.toArrow(), self.con)
        else:
            raise ValueError(f"{key} has neither an oracle nor a property check")
        return Op(key, fn.__module__.removeprefix("adlspark."), lambda: fn(self.spark, where), check)


# --------------------------------------------------------------------------
# lake_cycle raw batches
# --------------------------------------------------------------------------

# rows per raw batch, and the shares of rows made bad
LAKE_ROWS = {"orders": 3000, "events": 2000, "lineitem": 6000}
BAD_SHARE = 0.02  # unparseable rows (CSV key, truncated JSON line)
NULL_SHARE = 0.01  # rows with a required column left empty


@dataclass
class Batch:
    source: str  # catalog table name
    fmt: str
    file: str  # file name under the raw directory
    schema: str  # Spark DDL schema the batch is read with
    required: list[str]
    options: dict
    valid: pa.Table  # the rows that must be staged, in staged types
    written: int
    injected_bad: int


def _row_kinds(rng, n: int, bad_share: float = BAD_SHARE) -> np.ndarray:
    """0 = valid, 1 = unparseable, 2 = required column empty; exactly
    ``bad_share`` and NULL_SHARE of the rows, at seeded positions."""
    n_bad, n_null = round(n * bad_share), round(n * NULL_SHARE)
    kinds = np.zeros(n, dtype=np.int8)
    pos = rng.permutation(n)
    kinds[pos[:n_bad]] = 1
    kinds[pos[n_bad:n_bad + n_null]] = 2
    return kinds


def make_batches(tables: dict[str, pa.Table], seed: int, raw_dir: str) -> list[Batch]:
    """Write the three raw batches under ``raw_dir`` and describe them."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(raw_dir, exist_ok=True)
    out = []

    # orders as CSV: unparseable order keys and empty customer keys
    n = LAKE_ROWS["orders"]
    orders = tables["orders"].slice(0, n)
    o = orders.to_pydict()
    kinds = _row_kinds(rng, n)
    lines = ["o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority"]
    for i in range(n):
        key = f"x{o['o_orderkey'][i]}" if kinds[i] == 1 else str(o["o_orderkey"][i])
        cust = "" if kinds[i] == 2 else str(o["o_custkey"][i])
        lines.append(
            f"{key},{cust},{o['o_orderstatus'][i]},{o['o_totalprice'][i]!r},"
            f"{o['o_orderdate'][i].date().isoformat()},{o['o_orderpriority'][i]}"
        )
    with open(os.path.join(raw_dir, "orders.csv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    valid = orders.filter(pa.array(kinds == 0))
    valid = valid.set_column(4, "o_orderdate", valid.column("o_orderdate").cast(pa.date32()))
    out.append(Batch(
        "orders_raw", "csv", "orders.csv",
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
        ["o_orderkey", "o_custkey"], {"header": "true"},
        valid, n, int((kinds != 0).sum()),
    ))

    # events as JSON lines: truncated lines and null user ids
    n = LAKE_ROWS["events"]
    events = tables["events"].slice(0, n)
    e = events.to_pydict()
    kinds = _row_kinds(rng, n)
    ts_text = [t.isoformat() for t in e["ts"]]
    with open(os.path.join(raw_dir, "events.json"), "w") as fh:
        for i in range(n):
            line = json.dumps({
                "event_id": e["event_id"][i],
                "ts": ts_text[i],
                "user_id": None if kinds[i] == 2 else e["user_id"][i],
                "event_type": e["event_type"][i],
                "value": e["value"][i],
                "props": e["props"][i],
            })
            fh.write((line[: len(line) // 2] if kinds[i] == 1 else line) + "\n")
    keep = kinds == 0
    valid = events.filter(pa.array(keep)).set_column(
        1, "ts", pa.array([t for t, k in zip(ts_text, keep) if k], pa.string())
    )
    out.append(Batch(
        "events_raw", "json", "events.json",
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
        ["event_id", "user_id"], {},
        valid, n, int((kinds != 0).sum()),
    ))

    # lineitem as parquet: null order keys
    n = LAKE_ROWS["lineitem"]
    li = tables["lineitem"].slice(0, n)
    nulls = _row_kinds(rng, n, bad_share=0.0) == 2
    key = li.column("l_orderkey").combine_chunks()
    raw = li.set_column(
        0, "l_orderkey", pc.if_else(pa.array(nulls), pa.scalar(None, pa.int64()), key)
    )
    pq.write_table(raw, os.path.join(raw_dir, "lineitem.parquet"))
    out.append(Batch(
        "lineitem_raw", "parquet", "lineitem.parquet",
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp_ntz",
        ["l_orderkey", "l_partkey"], {},
        li.filter(pa.array(~nulls)), n, int(nulls.sum()),
    ))
    return out


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in checks.data_files(path)
        if p.endswith(".parquet")
    )


def json_lines(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    n = 0
    for p in checks.data_files(path):
        with open(p, "rb") as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def search_expected(batches: list[Batch], staged: dict[str, str], terms: list[str]) -> set:
    """(table_name, n_hits, matched_terms) a token search over the catalog
    must return: an entry's searchable tokens are its name, staged file
    name, status and column names."""
    want = set()
    for b in batches:
        cols = [c.strip().split()[0] for c in b.schema.split(",")]
        text = f"{b.source} {os.path.basename(staged[b.source])} STAGED {' '.join(cols)}"
        toks = {t for t in re.split(r"[^a-z0-9_]+", text.lower()) if t}
        hit = sorted(t for t in set(terms) if t in toks)
        if hit:
            want.add((b.source, len(hit), " ".join(hit)))
    return want


def lake_pass(
    ctx: Context, batches: list[Batch], raw_dir: str, pass_dir: str, keys: list[str]
) -> list[Op]:
    """One staging cycle on a fresh copy of the raw batches and the input
    tables under ``pass_dir``: ingest each batch, catalog the staged
    output and query the catalog, then run ``keys`` (lake keys on the
    fresh copy, read-only SQL keys on the run's input tables)."""
    from pyspark.sql.types import StructType

    from adlspark import catalog
    from adlspark.io import ingest

    spark = ctx.spark
    raw = os.path.join(pass_dir, "raw")
    sf = os.path.join(pass_dir, "sf")
    shutil.copytree(raw_dir, raw)
    shutil.copytree(ctx.sf_dir, sf)
    cat_dir = os.path.join(pass_dir, "catalog")
    staged = {b.source: os.path.join(pass_dir, "staged", b.source) for b in batches}
    quarantine = {b.source: os.path.join(pass_dir, "quarantine", b.source) for b in batches}
    entries: list[tuple] = []
    ops: list[Op] = []

    for seq, b in enumerate(batches, start=1):
        cfg = ingest.SourceConfig(
            b.source, b.fmt, StructType.fromDDL(b.schema), b.required, b.options
        )

        def do_ingest(b=b, cfg=cfg):
            return ingest.ingest(
                spark, cfg, os.path.join(raw, b.file), staged[b.source], quarantine[b.source]
            )

        def check_ingest(entry, b=b):
            n_staged = parquet_rows(staged[b.source])
            n_quar = json_lines(quarantine[b.source])
            bad = checks.check_conservation(b.written, n_staged, n_quar, b.injected_bad)
            if bad:
                return bad
            if (entry["n_good"], entry["n_quarantined"]) != (n_staged, n_quar):
                return f"entry counts {entry['n_good']}/{entry['n_quarantined']} vs files {n_staged}/{n_quar}"
            got = ctx.con.execute(
                f"SELECT * FROM read_parquet('{staged[b.source]}/*.parquet')"
            ).arrow()
            return checks.compare_tables(got, b.valid)

        ops.append(Op(f"ingest:{b.source}", "io.ingest", do_ingest, check_ingest))

        def do_entry(b=b, seq=seq):
            e = catalog.entry_for(
                spark.read.parquet(staged[b.source]), b.source, staged[b.source],
                f"batch-{seq}", seq,
            )
            entries.append(e)
            return e

        ops.append(Op(f"catalog.entry_for:{b.source}", "catalog", do_entry, _check_entry(staged[b.source])))

    def do_append():
        catalog.append_entries(catalog.entries_df(spark, entries), cat_dir)

    def check_append(_):
        n = parquet_rows(cat_dir)
        return None if n == len(batches) else f"catalog log holds {n} rows, want {len(batches)}"

    ops.append(Op("catalog.append_entries", "catalog", do_append, check_append))

    def check_state(max_seq):
        def check(df):
            got = df.toArrow().to_pylist()
            want = {b.source: staged[b.source] for s, b in enumerate(batches, 1) if s <= max_seq}
            if sorted(r["table_name"] for r in got) != sorted(want):
                return f"state holds {sorted(r['table_name'] for r in got)}, want {sorted(want)}"
            for r in got:
                size, digest = checks.content_hash(want[r["table_name"]])
                rows = parquet_rows(want[r["table_name"]])
                if (r["row_count"], r["file_size_bytes"], r["content_hash"]) != (rows, size, digest):
                    return (
                        f"{r['table_name']}: catalog {r['row_count']}/{r['file_size_bytes']}/"
                        f"{r['content_hash']} vs files {rows}/{size}/{digest}"
                    )
            return None

        return check

    ops.append(Op("catalog.latest_state", "catalog",
                  lambda: catalog.latest_state(spark, cat_dir), check_state(len(batches))))
    ops.append(Op("catalog.state_as_of", "catalog",
                  lambda: catalog.state_as_of(spark, cat_dir, 2), check_state(2)))

    def check_search(df):
        got = {(r["table_name"], r["n_hits"], r["matched_terms"]) for r in df.toArrow().to_pylist()}
        want = search_expected(batches, staged, SEARCH_TERMS)
        return None if got == want else f"search returned {sorted(got)}, want {sorted(want)}"

    ops.append(Op(
        "catalog.search_tokens", "catalog",
        lambda: catalog.search_tokens(catalog.latest_state(spark, cat_dir), SEARCH_TERMS),
        check_search,
    ))
    ops.extend(ctx.key_op(k, sf if k in LAKE_KEYS else None) for k in keys)
    return ops


def _check_entry(path: str):
    def check(entry):
        size, digest = checks.content_hash(path)
        rows = parquet_rows(path)
        # entry tuple: table_name, path, row_count, n_columns, size, hash, ...
        if (entry[2], entry[4], entry[5]) != (rows, size, digest):
            return f"entry {entry[2]}/{entry[4]}/{entry[5]} vs files {rows}/{size}/{digest}"
        return None

    return check
