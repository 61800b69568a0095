"""NaN / zero-norm / NULL / empty-embedding robustness gates for the
vector-operator family (round-7 wave 5 — the embeddings twin of
tests/test_event_null_robustness.py).

The fixtures carry only well-formed fixed-dimension vectors, so these
seams were unverified until this corpus:

- A NULL or EMPTY embedding is not a vector (the domain contract in
  adlspark/llm/vector.py): letting one reach an Arrow batch makes the
  batch RAGGED and np.asarray raises on the executor. Every vector
  operator loads through load_embeddings(); every oracle carries
  O_EMB_WHERE.
- A zero-norm vector has no cosine: vector.cosine() uses try_divide
  (NULL, like DuckDB's /0) where Spark's ANSI `/` aborted the job.
- NaN similarities never enter a top-k: DuckDB ranks NaN ABOVE every
  real cosine while numpy kernels drop them — the knn_graph oracle
  excludes NaN/NULL sims before ranking and the block-matmul local
  top-k masks non-finite sims.
- Spark silently casts NaN→DECIMAL to NULL where DuckDB ERRORS — the
  centroid oracle takes the same NULL explicitly, so a NaN element
  drops out of the exact sum but stays in count(*) on both engines.
- DuckDB's list_reduce ERRORS on an empty list and a CASE guard does
  NOT protect it over parquet-sourced rows — fn_higher_order prepends
  the fold seed instead (exactly Spark's aggregate seed semantics);
  fn_array uses try_element_at (ANSI element_at aborts on [] and on
  out-of-range indices where DuckDB's [i] is NULL).

Remaining input contract, stated not tested: non-empty embeddings
share one dimension, and |x| stays within DECIMAL(38,10) exact-sum
headroom (~1e27) for the decimal-disciplined keys.

NULL ELEMENTS (round 8, ENFORCED round 12): the raw-column fn_* array
keys skip null elements explicitly and are gated below
(null_elem_dir). For the VECTOR kernels, null-element vectors were
OUTSIDE the domain by convention only until round 12: Arrow→pandas
degrades a null float element to NaN, so a null-element vector reached
every numpy kernel as the NaN-element case — but DuckDB sees NULL, not
NaN, and the r11 ADVICE probe showed the promoted oracles (PQ
quantize's CASE, MMR's list_sum domain test, kmeans' fold) silently
diverging on such corpora. The shared domain guard
(vector.load_embeddings / O_EMB_WHERE) now EXCLUDES null-element
vectors on both engines, and test_null_element_parity sweeps EVERY
embedding-oracle key over the null_elem corpus so the exclusion is
verified, not asserted.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.functions import col as F_col

from adlspark import tables as adl_tables
from adlspark.registry import all_oracles, all_queries

SLICE = 80


@pytest.fixture(scope="module")
def edge_embed_dir(tmp_path_factory, sf_dir):
    """Arrow-level mutation (pandas would degrade NaN to NULL): two
    identical NaN-element vectors, two identical zero vectors, a NULL
    embedding, an EMPTY embedding, and two identical huge-norm (1e6,
    within decimal headroom) vectors — with NULL labels mixed in."""
    d = tmp_path_factory.mktemp("edgeembed")
    for t in adl_tables.TABLES:
        tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        if t == "embeddings":
            import pyarrow.compute as pc

            base = tbl.filter(
                pc.less(tbl["vec_id"], SLICE)
            ).replace_schema_metadata(None)
            dim = len(base["embedding"][0])
            sch = base.schema
            nan_vec = [float("nan")] + [0.25] * (dim - 1)
            zero_vec = [0.0] * dim
            big_vec = [1e6] + [0.0] * (dim - 1)
            extra = pa.table({
                "vec_id": pa.array(
                    [980001, 980002, 980011, 980012, 980021,
                     980031, 980041, 980042],
                    sch.field("vec_id").type),
                "embedding": pa.array(
                    [nan_vec, nan_vec, zero_vec, zero_vec, None,
                     [], big_vec, big_vec],
                    sch.field("embedding").type),
                "label": pa.array(
                    [0, 0, 1, 1, None, 2, None, 2],
                    sch.field("label").type),
            }).select(base.column_names)
            tbl = pa.concat_tables([base, extra.cast(sch)])
        pq.write_table(tbl, str(d / f"{t}.parquet"))
    return str(d)


def _ddb(corpus_dir):
    con = duckdb.connect()
    for t in adl_tables.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')"
        )
    return con


# Derived from the registry so a NEW embeddings key automatically
# enters these gates the day it is registered.
def _embed_oracle_keys():
    import inspect

    qs, os_ = all_queries(), all_oracles()
    out = []
    for k, fn in qs.items():
        if k not in os_:
            continue
        try:
            src = inspect.getsource(fn)
        except Exception:
            src = ""
        if "embedding" in (src + " " + os_[k]):
            out.append(k)
    return out


EMBED_ORACLE_KEYS = _embed_oracle_keys()


def test_embed_surface_is_stable():
    assert len(EMBED_ORACLE_KEYS) >= 15, len(EMBED_ORACLE_KEYS)


@pytest.mark.parametrize("key", EMBED_ORACLE_KEYS)
def test_edge_embed_parity(spark, edge_embed_dir, key):
    from adlspark.testing import compare

    con = _ddb(edge_embed_dir)
    try:
        df = all_queries()[key](spark, edge_embed_dir)
        compare(df, con, all_oracles()[key], key=key)
    finally:
        con.close()


def test_fixture_contains_true_nan(edge_embed_dir):
    """The corpus must actually CONTAIN NaN elements — a pandas
    round-trip silently degrades them to NULL, which would test the
    null path instead of the NaN ordering/casting traps."""
    flat = (
        pq.read_table(
            f"{edge_embed_dir}/embeddings.parquet", columns=["embedding"]
        )
        .column("embedding")
        .combine_chunks()
        .flatten()
    )
    vals = flat.to_numpy(zero_copy_only=False)
    assert np.isnan(vals).sum() == 2


@pytest.fixture(scope="module")
def null_elem_dir(tmp_path_factory, sf_dir):
    """Vectors with NULL ELEMENTS (distinct from NULL/empty vectors):
    a null first element (the fold-seed trap — a max fold seeded with
    element 1 stays NULL forever), a null mid element, and an all-null
    vector. The fn_* array-surface keys read the embedding column raw
    and skip nulls explicitly; every VECTOR kernel excludes these rows
    through the shared load_embeddings/O_EMB_WHERE domain guard (round
    12) — both behaviors are parity-swept below."""
    d = tmp_path_factory.mktemp("nullelem")
    for t in adl_tables.TABLES:
        tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        if t == "embeddings":
            import pyarrow.compute as pc

            base = tbl.filter(
                pc.less(tbl["vec_id"], SLICE)
            ).replace_schema_metadata(None)
            dim = len(base["embedding"][0])
            sch = base.schema
            null_first = [None, 0.5] + [0.25] * (dim - 2)
            null_mid = [0.5] + [None] * 2 + [-0.75] * (dim - 3)
            all_null = [None] * dim
            extra = pa.table({
                "vec_id": pa.array(
                    [990001, 990002, 990003], sch.field("vec_id").type
                ),
                "embedding": pa.array(
                    [null_first, null_mid, all_null],
                    sch.field("embedding").type,
                ),
                "label": pa.array([0, 1, 2], sch.field("label").type),
            }).select(base.column_names)
            tbl = pa.concat_tables([base, extra.cast(sch)])
        pq.write_table(tbl, str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "key",
    sorted(set(EMBED_ORACLE_KEYS) | {"fn_higher_order", "fn_array"}),
)
def test_null_element_parity(spark, null_elem_dir, key):
    """Round-8 advice fix + round-12 domain enforcement. For the fn_*
    array keys: fn_higher_order's max fold must skip null elements
    (oracle: list_aggregate 'max'), not go permanently NULL off a NULL
    seed; exists/forall run on the null-filtered array to match
    DuckDB's null-ignoring list_contains. For every vector-kernel key:
    the null-element rows are excluded by the shared domain guard on
    BOTH engines, so kernel and oracle must agree on this corpus (the
    r11 ADVICE divergence class: NULL→NaN Arrow degradation vs
    DuckDB's 3VL NULL)."""
    from adlspark.testing import compare

    con = _ddb(null_elem_dir)
    try:
        df = all_queries()[key](spark, null_elem_dir)
        compare(df, con, all_oracles()[key], key=key)
    finally:
        con.close()


@pytest.fixture(scope="module")
def single_vec_dir(tmp_path_factory, sf_dir):
    """An embeddings table of ONE vector: the only corpus whose
    covariance is exactly 0 (several identical rows leave
    E[xxᵀ] − μμᵀ cancellation noise)."""
    d = tmp_path_factory.mktemp("singlevec")
    for t in adl_tables.TABLES:
        tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        if t == "embeddings":
            tbl = tbl.slice(0, 1)
        pq.write_table(tbl, str(d / f"{t}.parquet"))
    return str(d)


def test_pca_power_single_vector_parity(spark, single_vec_dir):
    """C = 0 and trace = 0: every matvec has zero norm (both engines
    keep the previous iterate), every eigenvalue rounds through the
    λ = 0 guard of the relative rounding rule (log10 is undefined
    there), and explained_ratio is pinned to 0 — kernel and oracle
    must agree row for row."""
    from adlspark.testing import compare

    con = _ddb(single_vec_dir)
    try:
        df = all_queries()["llm_pca_power"](spark, single_vec_dir)
        compare(df, con, all_oracles()["llm_pca_power"], key="llm_pca_power")
        oracle_ratios = [
            r[0] for r in con.execute(
                f"SELECT explained_ratio FROM"
                f" ({all_oracles()['llm_pca_power']})"
            ).fetchall()
        ]
    finally:
        con.close()
    rows = df.collect()
    assert len(rows) == 5 and len(oracle_ratios) == 5
    assert all(r.eigenvalue == 0.0 for r in rows)
    assert all(r.explained_ratio == 0.0 for r in rows)
    assert all(x == 0.0 for x in oracle_ratios)


def test_null_element_max_is_real(spark, null_elem_dir):
    """Direct statement of the fixed behavior: the null-first vector's
    max_elem is the real max of its non-null elements, not NULL."""
    rows = {
        r.vec_id: r
        for r in all_queries()["fn_higher_order"](spark, null_elem_dir)
        .where(F_col("vec_id") >= 990001)
        .collect()
    }
    assert rows[990001].max_elem == 0.5
    assert rows[990002].max_elem == 0.5
    assert rows[990003].max_elem is None


def test_invalid_vectors_outside_domain(spark, edge_embed_dir):
    """Direct statement of the domain: NULL/empty embeddings never
    reach a vector kernel (no output rows carry their ids), while the
    NaN / zero-norm ones are in-domain but never pair."""
    rows = all_queries()["llm_knn_graph"](spark, edge_embed_dir).collect()
    ids = {r.vec_id for r in rows} | {r.neighbor_id for r in rows}
    assert ids.isdisjoint({980021, 980031}), "out-of-domain vector leaked"
    assert ids.isdisjoint({980001, 980002, 980011, 980012}), (
        "NaN/zero-norm vector acquired neighbors"
    )
    sims = [r.sim for r in rows]
    assert all(s is not None and not np.isnan(s) for s in sims)
