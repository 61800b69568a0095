"""Shared vector expressions for similarity operators.

Cosine similarity is computed with an identical left-to-right double
summation on both engines (Spark `aggregate(zip_with(...))` ↔ DuckDB
`list_sum(list_transform(list_zip(...)))`) so dot products are
bit-identical; DuckDB's built-in list_cosine_similarity is float32 and NOT
comparable. All expressions are JVM-side Catalyst higher-order functions —
no Python in the loop; at 100 TB the same expressions run inside
whole-stage-codegen'd stages after a broadcast of the probe set.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double dot product of two float-array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, ndigits: int = 4) -> Column:
    # try_divide: a zero-norm vector has no cosine — NULL on both
    # engines (DuckDB /0 is NULL; Spark's ANSI `/` would abort the
    # job). Downstream `sim >= t` / rank filters drop NULLs, the same
    # outcome as the oracle's.
    return F.round(F.try_divide(dot(a, b), norm(a) * norm(b)), ndigits)


def o_dot(a: str, b: str) -> str:
    """DuckDB twin of ``dot`` — same element order, same double ops."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def o_cosine(a: str, b: str, ndigits: int = 4) -> str:
    return (
        f"round({o_dot(a, b)} / "
        f"(sqrt({o_dot(a, a)}) * sqrt({o_dot(b, b)})), {ndigits})"
    )


def np_round_half_away(x, ndigits: int = 4):
    """Round a numpy double array half-AWAY-from-zero, matching DuckDB.

    DuckDB's round(DOUBLE, n) scales by 10^n and applies C++
    ``std::round`` (ties away from zero); ``np.round`` is banker's
    (ties to even), so an exactly-representable half value — e.g. a
    cosine of exactly 0.25005 — would round differently in the two
    engines and flip a top-k rank. ``copysign(floor(|x·10^n| + 0.5), x)``
    reproduces std::round on the identically-scaled double, so the tie
    POLICY is now structurally identical; the only residual divergence is
    the summation-order float noise (≤ 1.7e-16 measured), not the
    rounding rule. |x·10^n| + 0.5 is exact for |x·10^n| < 2^52 — always
    true for similarities (|x| ≤ 1, scale 10^4).
    """
    import numpy as np

    scale = 10.0 ** ndigits
    s = np.asarray(x, dtype=np.float64) * scale
    # in-place pipeline: |s|+0.5 → floor → restore sign → unscale.
    # Two buffers total (s, out) — same allocation budget as np.round,
    # which matters when x is an N²-sized similarity matrix.
    out = np.abs(s)
    out += 0.5
    np.floor(out, out=out)
    np.copysign(out, s, out=out)
    out /= scale
    return out


def round_half_away(x: float, ndigits: int) -> float:
    """Scalar twin of DuckDB's round(DOUBLE, n) for ANY sign of n.

    DuckDB scales by 10^n (n ≥ 0: ``x·10^n``; n < 0: ``x / 10^-n``),
    applies ``std::round`` and undoes the scale. ``std::round`` is
    reproduced exactly — integer part plus one iff the fractional part
    is ≥ 0.5, sign restored by copysign (so -0.3 → -0.0, like C++) —
    with no magnitude precondition, unlike ``np_round_half_away``'s
    |x·10^n| + 0.5 trick. Finite x only (the non-finite fallbacks of
    DuckDB's round are not mirrored).
    """
    scale = 10.0 ** abs(ndigits)
    s = x / scale if ndigits < 0 else x * scale
    a = abs(s)
    r = float(math.floor(a))
    if a - r >= 0.5:  # a - floor(a) is exact for every double
        r += 1.0
    r = math.copysign(r, s)
    return r * scale if ndigits < 0 else r / scale


def round_rel(x: float) -> float:
    """Round x to 6 decimals AND at most 6 significant digits — the
    presentation grain for cross-engine doubles whose magnitude scales
    with the data (|x|² outputs such as covariance eigenvalues). A fixed
    1e-6 grain quantises nothing once the double's ulp exceeds it
    (|x| ≳ 2^33), so summation-order noise would reach the output; a
    grain relative to |x| keeps absorbing it. For |x| < 1 this is
    exactly ``round(x, 6)``. Twin of ``o_round_rel`` bit for bit (same
    libm log10 and pow on both sides — pinned by
    tests/test_properties.py)."""
    n = 6 if x == 0 else min(6, 5 - math.floor(math.log10(abs(x))))
    return round_half_away(x, n)


def o_round_rel(x: str) -> str:
    """DuckDB twin of ``round_rel`` over the SQL expression ``x``."""
    return (
        f"round({x}, CAST(CASE WHEN {x} = 0 THEN 6"
        f" ELSE LEAST(6, 5 - floor(log10(abs({x})))) END AS INTEGER))"
    )


# ---------------------------------------------------------------------------
# Vector-domain contract (round-7 wave 5)
# ---------------------------------------------------------------------------
# A row whose embedding is NULL or empty is NOT a vector: it cannot
# participate in dot products, quantization, SRP codes, or k-NN, and
# letting it reach an Arrow batch makes the batch RAGGED — np.asarray
# over mixed-length rows raises on the executor (reproduced via the
# NULL/empty-embedding corpus in tests/test_embed_robustness.py).
# Every vector operator loads the table through load_embeddings(), and
# each paired oracle carries the identical WHERE (O_EMB_WHERE), so both
# engines agree the row is out of domain. Remaining input contract,
# asserted implicitly by the fixed-width matmul kernels: all non-empty
# embeddings share one dimension, and |x| stays within DECIMAL(38,10)
# whenever a key uses exact decimal summation (~1e27 headroom).
# Outputs that scale with |x|² and are NOT exact-decimal sums (the
# llm_pca_power eigenvalues) are rounded at a grain relative to their
# size (round_rel / o_round_rel: 6 decimals, at most 6 significant
# digits) rather than a fixed 1e-6, whose grain falls below a double's
# ulp above ~2^33 — so a corpus with norms like 1e6 (λ ≈ 1e10) stays
# in parity instead of exposing the engines' summation-order noise.
#
# NULL ELEMENTS (round 8, ENFORCED round 12): also outside the vector
# domain. Until round 12 this was convention only — Arrow→pandas
# degrades a null float element to NaN, so a null-element vector
# reached every numpy kernel as the already-handled NaN-element case,
# while DuckDB kept NULL (≠ NaN) and the oracles silently diverged
# (r11 ADVICE: the PQ quantize CASE maps a NULL element to +8e6, the
# MMR list_sum admits it, the kmeans fold NULL-poisons). The guard now
# EXCLUDES any vector containing a NULL element on both sides
# (exists(x -> x IS NULL) ↔ len(list_filter(x -> x IS NULL)) > 0), and
# the null_elem corpus in tests/test_embed_robustness.py sweeps every
# embedding-oracle key for parity. The raw-column
# fn_array/fn_higher_order keys, which are NOT vector kernels, still
# handle null elements explicitly (skip-null folds, same corpus).

# MIXED DIMENSIONS (probed round 11, guard landed same round): a
# wrong-dimension vector — the model-version-mixup reality of a 100 TB
# embedding lake — is ALSO outside the vector domain. Before the guard
# a ragged pair DIVERGED rather than crashed — Spark's
# aggregate(zip_with(...)) NULL-pads the short side and acc+NULL
# poisons the whole dot product to NULL, while DuckDB's
# list_sum(list_transform(list_zip(...))) SKIPS the NULL products and
# returns the truncated partial dot (probed: [1,2,3]x[1,1] -> Spark
# NULL, DuckDB 3.0 — pinned by tests/test_mixed_dim.py). The guard:
# the table's REFERENCE DIMENSION is the dimension of the lowest-
# vec_id non-empty row (deterministic on both engines — vec_id is
# unique), and any row of a different dimension is out of domain,
# exactly like NULL/empty rows. One edit point on each side:
# load_embeddings() broadcast-joins the 1-row reference dim and
# filters on it; O_EMB_WHERE carries the equivalent scalar subquery
# and is interpolated into every vector-kernel oracle. At 100 TB the
# reference dim is a catalog constant, not a scan — the subquery form
# is the self-describing test-fixture equivalent, and its cost is one
# arg_min over (vec_id, len) pairs, broadcast once.

_O_EMB_VALID = (
    "embedding IS NOT NULL AND len(embedding) > 0"
    " AND len(list_filter(embedding, x -> x IS NULL)) = 0"
)


def o_emb_where(alias: str = "") -> str:
    """The full vector-domain predicate with an optional table alias —
    for oracle sites that filter an ALIASED embeddings relation (a join
    side), where the bare O_EMB_WHERE text would be ambiguous. The
    reference-dim scalar subquery always binds the base table.

    vec_id IS NOT NULL (round 11, with the dim guard): a NULL id has no
    place in any deterministic tie-break — Spark sorts NULLS FIRST
    where DuckDB sorts NULLS LAST, so a NULL-id row would silently
    diverge in every ranked/argmax kernel. Out of domain, like
    NULL/empty/ragged vectors. (The ref-dim subquery itself is immune:
    min_by/arg_min skip NULL ordering keys identically — probed.)"""
    a = f"{alias}." if alias else ""
    return (
        f"{a}vec_id IS NOT NULL "
        f"AND {a}embedding IS NOT NULL AND len({a}embedding) > 0 "
        f"AND len(list_filter({a}embedding, x -> x IS NULL)) = 0 "
        f"AND len({a}embedding) = "
        f"(SELECT arg_min(len(embedding), vec_id) FROM embeddings "
        f"WHERE {_O_EMB_VALID})"
    )


O_EMB_WHERE = o_emb_where()


def valid_embedding(col: Column) -> Column:
    """Spark twin of the row-local half of O_EMB_WHERE — non-NULL,
    non-empty, and no NULL elements (the dimension half needs the
    table-level reference dim — see load_embeddings). The exists
    predicate is x.isNull(), which is always true/false, so the
    negation never 3VL-swallows a row."""
    return (
        col.isNotNull()
        & (F.size(col) > 0)
        & ~F.exists(col, lambda x: x.isNull())
    )


def load_embeddings(spark, sf_dir):
    """The embeddings table restricted to its vector domain: non-NULL
    id, non-NULL non-empty vector with no NULL elements, and matching
    the table's reference dimension (the dimension of the lowest-vec_id
    valid row — Spark twin of O_EMB_WHERE's scalar subquery). The 1-row
    dim relation is broadcast, so the guard is a narrow filter, not a
    shuffle."""
    from adlspark import tables

    # NOT spread (round-14 interleaved A/B, tools/ab_key.py): fanning
    # this scan out regressed 6 of 8 vector keys 1.06-1.27× — the
    # numpy kernels over 5k×64 doubles are sub-100 ms single-task, and
    # consumers re-evaluate this frame several times, repeating the
    # exchange each time.
    e = tables.load(spark, sf_dir, "embeddings")
    valid = e.where(
        F.col("vec_id").isNotNull()
        & valid_embedding(F.col("embedding"))
    )
    ref = valid.agg(
        F.min_by(F.size("embedding"), F.col("vec_id")).alias("_ref_dim")
    )
    return (
        valid.join(F.broadcast(ref))
        .where(F.size("embedding") == F.col("_ref_dim"))
        .drop("_ref_dim")
    )
