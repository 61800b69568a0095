"""Seeded input tables for the benchmark, in the fixture layout the engine
reads: one parquet file per table (``<dir>/<table>.parquet``) with the
schemas and value domains of the TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``.

The same seed gives byte-identical files. Row counts are fixed (``ROWS``),
so the cost of a workload does not depend on the seed; only values move.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table: the sf0.01 fixture's, except 200 documents and 200
# embeddings (the pair, graph and kNN oracles are quadratic in them).
ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 100,
    "customer": 1_500,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 200,
    "embeddings": 200,
}
N_USERS = 150
EMBED_DIM = 64
# documents written as an edited copy of an earlier one, so the dedup and
# near-duplicate keys have pairs to find (5 % of the corpus)
NEAR_DUPS = 10

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["small", "new", "blue", "old", "red", "hot", "large", "cold"]
P_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_US = pa.timestamp("us")


def _days(rng, n, start: datetime.date, end: datetime.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(rng.choice(WORDS, n_words))


def tables(seed: int) -> dict[str, pa.Table]:
    """Every input table, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    r = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(r["region"]), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nk = np.arange(r["nation"], dtype=np.int32)
    out["nation"] = pa.table(
        {
            "n_nationkey": nk,
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": nk % r["region"],
        }
    )
    sk = np.arange(r["supplier"], dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, r["nation"], len(sk)).astype(np.int32),
            "s_acctbal": _money(rng, len(sk), -999.99, 9999.99),
        }
    )
    ck = np.arange(r["customer"], dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, r["nation"], len(ck)).astype(np.int32),
            "c_acctbal": _money(rng, len(ck), -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, len(ck)),
        }
    )
    pk = np.arange(r["part"], dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(P_ADJ, len(pk)), rng.choice(P_NOUN, len(pk)))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, len(pk))],
            "p_type": rng.choice(P_TYPES, len(pk)),
            "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    ok = np.arange(r["orders"], dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, r["customer"], len(ok)),
            "o_orderstatus": rng.choice(["O", "F", "P"], len(ok)),
            "o_totalprice": _money(rng, len(ok), 1000.0, 500000.0),
            "o_orderdate": pa.array(
                _days(rng, len(ok), datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
                _US,
            ),
            "o_orderpriority": rng.choice(PRIORITIES, len(ok)),
        }
    )
    n_li = r["lineitem"]
    l_order = np.sort(rng.integers(0, r["orders"], n_li))
    # 1-based line number within each order
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    counts = np.diff(np.r_[starts, n_li])
    l_line = (np.arange(n_li) - np.repeat(starts, counts) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, r["part"], n_li),
            "l_suppkey": rng.integers(0, r["supplier"], n_li),
            "l_linenumber": l_line,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": pa.array(
                _days(rng, n_li, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4)),
                _US,
            ),
        }
    )
    n_ev = r["events"]
    span_us = 30 * 86_400 * 1_000_000
    # strictly increasing µs offsets, so no two events share a timestamp
    ts_off = np.sort(rng.choice(span_us, n_ev, replace=False))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_off, _US),
            "user_id": rng.integers(0, N_USERS, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _money(rng, n_ev, 0.01, 490.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = r["documents"]
    # a fixed multiset of lengths (10..99 words) in seeded order, and
    # exactly NEAR_DUPS documents that copy an original with two words
    # replaced: the dedup kernels' work (pairs, cluster sizes, fixpoint
    # rounds) then does not vary with the seed
    lengths = rng.permutation(10 + np.arange(n_doc) * 90 // n_doc)
    dup_at = set(rng.choice(np.arange(n_doc // 4, n_doc), NEAR_DUPS, replace=False).tolist())
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_doc):
        if i in dup_at:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for j in rng.choice(len(words), 2, replace=False):
                words[j] = str(rng.choice([w for w in WORDS if w != words[j]]))
            texts.append(" ".join(words))
        else:
            originals.append(i)
            texts.append(_text(rng, int(lengths[i])))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    n_emb = r["embeddings"]
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), pa.float32()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write_tables(seed: int, sf_dir: str) -> dict[str, pa.Table]:
    """Write every table under ``sf_dir``; returns the in-memory tables."""
    os.makedirs(sf_dir, exist_ok=True)
    data = tables(seed)
    for name, t in data.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return data
