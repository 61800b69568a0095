"""§2 M — Similarity search over the embeddings table.

Brute-force exact cosine is the correctness baseline; the norms are
precomputed per vector (never per pair), probes/centroids are broadcast,
and the IVF variant shows the 100 TB path: coarse-quantize into cells,
search only nprobe cells — candidate count drops from O(N) to
O(N·nprobe/ncells) per probe.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from adlspark import tables
from adlspark.llm.vector import (
    O_EMB_WHERE,
    o_emb_where,
    cosine,
    dot,
    load_embeddings,
    norm,
    np_round_half_away,
    o_cosine,
    o_dot,
    o_round_rel,
    round_half_away,
    round_rel,
)
from adlspark.registry import query


@query(
    "llm_sim_topk",
    oracle=f"""
WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
           WHERE vec_id < 5 AND {O_EMB_WHERE}),
     c AS (SELECT vec_id, embedding FROM embeddings WHERE {O_EMB_WHERE})
SELECT probe_id, neighbor_id, sim, rnk FROM (
  SELECT p.probe_id, c.vec_id AS neighbor_id,
         {o_cosine('p.pe', 'c.embedding')} AS sim,
         row_number() OVER (
           PARTITION BY p.probe_id
           ORDER BY {o_cosine('p.pe', 'c.embedding')} DESC, c.vec_id
         ) AS rnk
  FROM p JOIN c ON c.vec_id <> p.probe_id
) t WHERE rnk <= 10
""",
)
def llm_sim_topk(spark, sf_dir):
    """Exact top-10 cosine neighbors for each probe vector (vec_id < 5).

    Probes are broadcast against the candidate scan — no shuffle of the
    big side; ranking is on the ROUNDED similarity (both engines) so rank
    order is stable cross-engine, with vec_id as tiebreak.
    """
    e = load_embeddings(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    pairs = e.crossJoin(F.broadcast(probes)).where(
        F.col("vec_id") != F.col("probe_id")
    )
    sim = cosine(F.col("pe"), F.col("embedding"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        pairs.select(
            "probe_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim")
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 10)
    )


@query(
    "llm_sim_threshold_join",
    oracle=f"""
WITH n AS (
  SELECT vec_id, embedding, sqrt({o_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
  WHERE {O_EMB_WHERE}
)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round({o_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 4) AS sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {o_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= 0.4
  AND NOT isnan({o_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm))
""",
)
# The NOT isnan conjunct states the operator contract explicitly:
# NaN-element and zero-norm vectors (sim = NaN) never pair. SQL engines
# order NaN ABOVE every numeric, so a bare `sim >= 0.4` would EMIT every
# NaN pair in DuckDB (and Spark SQL) while the kernel's numpy matmul
# drops them (NaN comparisons are false in IEEE semantics) — the guard
# makes oracle and kernel agree on the IEEE reading. Observation-
# equivalent on the NaN-free fixtures; exercised with true-NaN vectors
# by tests/test_null_robustness.py (mutation-checked in both
# directions: deleting either this conjunct or the kernel's
# ~isnan(sq_norm) guard fails the gate).
def llm_sim_threshold_join(spark, sf_dir):
    """All vector pairs with cosine ≥ 0.4 (similarity self-join).

    Block-partitioned distributed matmul — no driver-side collect:

    1. Every vector is assigned a block ``blk = vec_id mod B``.
    2. A tiny broadcast table of the B(B+1)/2 unordered block pairs
       (bi ≤ bj) replicates each block's vectors to the block pairs it
       participates in (replication factor B+1 — the classic O(√P)
       all-pairs scheme; B grows with cluster size, not data size per
       executor).
    3. ``applyInPandas`` per (bi, bj) group stacks the two sides into
       numpy matrices and computes their cosine block as ONE BLAS
       matmul, keeping pairs over threshold (min(id), max(id) ordering;
       the bi == bj diagonal group deduplicates via id1 < id2).

    Each executor only ever holds 2·N/B vectors; there is no full-matrix
    broadcast and no toPandas anywhere in the lineage — the shape that
    survives 100 TB. numpy's pairwise summation is not bit-identical to
    sequential, but products are exact (float32 pairs in double) and
    τ/round-4 sit ≫ the ~1e-15 drift (fixtures measured clear of both
    boundaries).

    QUOTIENTED by identical embedding first (the dedup-kernel pattern,
    dedup.py): k exact copies of a vector turn the O(N²) matmul into
    O(U²) on the U unique vectors plus pure output expansion — on the
    100× stress corpus (100 copies per vector, N=200k, U=2k) the
    unquotiented matmul is 10⁴× the flops and Arrow traffic for the
    same ~19M output rows and blew past 560 s; quotiented it runs at
    the unique-vector cost. Within a group every pair is exactly 1.0
    after the 4-decimal round (zero-norm groups excluded — their
    normalized sims are NaN, never emitted, in the direct computation
    too); a cross-group pair inherits its representatives' rounded sim
    verbatim, so output rows are identical to the unquotiented join.
    Expansion goes through chunked_cartesian/chunked_self_pairs so a
    mega-group's k² never lands on one Generate task."""
    import math
    import os

    import numpy as np
    import pandas as pd

    from adlspark.llm.dedup import chunked_self_pairs, expand_member_pairs

    # Block count: B(B+1)/2 block-pair groups should cover the available
    # parallelism — B ≈ ceil(sqrt(2·defaultParallelism)), floored at 8 so
    # toy sessions still exercise the multi-block path — AND bound the
    # per-task sims matrix, which is (N_unique/B)² float64 and therefore
    # corpus-size-dependent (round 14, same sizing as llm_knn_graph: B
    # also scales with the quotient size so a block holds ≤ ~2048 rows;
    # the count reads off the materialized checkpoint). Result is
    # identical for any B (block assignment only partitions the pair
    # space); ADLSPARK_SIM_BLOCKS overrides for tuning.
    e = load_embeddings(spark, sf_dir).select("vec_id", "embedding")
    g = (
        e.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("gid"),
            F.sort_array(F.collect_list("vec_id")).alias("members"),
        )
        # lazy + sorted members (round 14): first job materializes it
        # (feeds matmul + expansion ×3); deterministic rows, and the
        # expansions orientation-normalize, so outputs are unchanged
        .localCheckpoint(eager=False)
    )
    env_blocks = os.environ.get("ADLSPARK_SIM_BLOCKS")
    n_blocks = (
        int(env_blocks)
        if env_blocks
        else max(
            8,
            math.ceil(math.sqrt(2 * spark.sparkContext.defaultParallelism)),
            # 512 cap: see llm_knn_graph — bounds the driver-built
            # block-pair table; valid to ~1M uniques, beyond which the
            # ANN rungs are the operator of record.
            min(math.ceil(g.count() / 2048), 512),
        )
    )
    eb = g.select(F.col("gid").alias("vec_id"), "embedding").withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    )
    bp = tables.rows_df(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    left = eb.join(F.broadcast(bp), F.col("blk") == F.col("bi")).select(
        "bi", "bj", "vec_id", "embedding", F.lit(0).alias("side")
    )
    right = eb.join(F.broadcast(bp), F.col("blk") == F.col("bj")).select(
        "bi", "bj", "vec_id", "embedding", F.lit(1).alias("side")
    )

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        same_block = bool((pdf["bi"] == pdf["bj"]).iloc[0])
        sides = [pdf[pdf["side"] == s] for s in (0, 1)]
        if len(sides[0]) == 0 or len(sides[1]) == 0:
            return pd.DataFrame({"id1": [], "id2": [], "sim": []}).astype(
                {"id1": "int64", "id2": "int64", "sim": "float64"}
            )
        mats, idss = [], []
        for part in sides:
            ids = np.asarray(part["vec_id"], dtype=np.int64)
            m = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in part["embedding"]]
            )
            mats.append(m / np.linalg.norm(m, axis=1, keepdims=True))
            idss.append(ids)
        (lm, rm), (lid, rid) = mats, idss
        sims = lm @ rm.T
        keep = sims >= 0.4
        if same_block:
            keep &= lid[:, None] < rid[None, :]
        else:
            keep &= lid[:, None] != rid[None, :]
        li, ri = np.nonzero(keep)
        id_lo = np.minimum(lid[li], rid[ri])
        id_hi = np.maximum(lid[li], rid[ri])
        return pd.DataFrame(
            {"id1": id_lo, "id2": id_hi, "sim": np_round_half_away(sims[li, ri], 4)}
        )

    rep_pairs = (
        left.unionByName(right)
        .groupBy("bi", "bj")
        .applyInPandas(score, "id1 long, id2 long, sim double")
    )
    # representative pairs → member pairs (pure output work, chunked so
    # a mega-group's k² never serializes one Generate task)
    cross = expand_member_pairs(rep_pairs, g, ("sim",), "id1", "id2")
    # zero-norm (and NaN) embeddings never emit pairs in the direct
    # computation (their normalized sims are NaN) — excluded here too.
    # The NaN case needs its own predicate: Spark SQL orders NaN above
    # every numeric, so `NaN > 0` is TRUE and the positivity guard
    # alone would let a NaN-element group emit sim-1.0 within pairs.
    sq_norm = F.expr(
        "aggregate(embedding, cast(0 as double),"
        " (a, x) -> a + cast(x as double) * cast(x as double))"
    )
    within = chunked_self_pairs(
        g.where(
            (F.size("members") >= 2) & (sq_norm > 0) & ~F.isnan(sq_norm)
        ).select("members"),
        "members",
        "id1",
        "id2",
    ).select("id1", "id2", F.lit(1.0).alias("sim"))
    return cross.unionByName(within)


@query(
    "llm_knn_label",
    oracle=f"""
WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
           WHERE vec_id % 100 = 0 AND {O_EMB_WHERE}),
     c AS (SELECT vec_id, embedding, label FROM embeddings WHERE {O_EMB_WHERE}),
     nn AS (
       SELECT probe_id, label FROM (
         SELECT p.probe_id, c.label,
                row_number() OVER (
                  PARTITION BY p.probe_id
                  ORDER BY {o_cosine('p.pe', 'c.embedding')} DESC, c.vec_id
                ) AS rnk
         FROM p JOIN c ON c.vec_id <> p.probe_id
       ) t WHERE rnk <= 5
     ),
     votes AS (
       SELECT probe_id, label, count(*) AS n_votes FROM nn
       GROUP BY probe_id, label
     )
SELECT probe_id, label AS pred_label, n_votes FROM (
  SELECT probe_id, label, n_votes,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY n_votes DESC,
                                     coalesce(label, -1)) AS r
  FROM votes
) v WHERE r = 1
""",
)
def llm_knn_label(spark, sf_dir):
    """5-NN majority-vote label per probe (ties → smallest label).

    QUOTIENTED by identity group (the dedup-kernel pattern): the probe ×
    corpus cosine depends on a row only through its embedding, so the
    P×N pair volume (P = N/100 probes — BOTH sides scale with the
    corpus) collapses to unique-probe × unique-(embedding, label) pairs.
    On the 100× stress corpus (100 exact copies per vector) the direct
    form ran 400M expression-fold cosines plus a 400M-row rank shuffle
    (475 s); quotiented, the kernel cost is the unique-pair count.

    The expansion is LOSSLESS via a margin-6 keep rule: expanded
    candidates order by (sim desc, vec_id) and members of one group are
    sim-ties, so any group holding one of a probe's global top-6
    expanded rows has strictly-better cumulative member count < 6 and is
    kept; per probe member the self-exclusion (vec_id != probe_id)
    removes at most one row, so the kept set always contains the
    member's true non-self top-5. Sims are computed with the identical
    ``cosine`` expression on the identical arrays — bit-equal to the
    direct form, so rank tie-breaks and the oracle hash are unchanged.
    """
    from adlspark.llm.dedup import chunked_cartesian

    e = load_embeddings(spark, sf_dir)
    g = e.groupBy("embedding", "label").agg(
        F.min("vec_id").alias("gid"),
        F.sort_array(F.collect_list("vec_id")).alias("members"),
        F.count(F.lit(1)).alias("cnt"),
    )
    pg = (
        e.filter(F.col("vec_id") % 100 == 0)
        .groupBy("embedding")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("probe_members"))
        .select(
            F.col("embedding").alias("pe"),
            "probe_members",
            F.element_at("probe_members", 1).alias("pu"),
        )
    )
    sim = cosine(F.col("pe"), F.col("embedding"))
    pairs_u = g.crossJoin(F.broadcast(pg)).select(
        "pu", "probe_members", "gid", "members", "cnt", "label", sim.alias("sim")
    )
    # strictly-better expanded-row count = running member total minus the
    # current sim-tie block's running total; keep while < 6 (5 + one
    # possible self-exclusion)
    w_cum = (
        Window.partitionBy("pu")
        .orderBy(F.desc("sim"), "gid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tie = (
        Window.partitionBy("pu", "sim")
        .orderBy("gid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = (
        pairs_u.withColumn(
            "_better", F.sum("cnt").over(w_cum) - F.sum("cnt").over(w_tie)
        )
        .where(F.col("_better") < 6)
        .drop("_better")
    )
    pairs = chunked_cartesian(
        kept, "members", "probe_members", "vec_id", "probe_id",
        payload=("sim", "label"),
    ).where(F.col("vec_id") != F.col("probe_id"))
    w_nn = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.col("vec_id"))
    nn = (
        pairs.select("probe_id", "vec_id", "label", "sim")
        .withColumn("rnk", F.row_number().over(w_nn))
        .where(F.col("rnk") <= 5)
    )
    votes = nn.groupBy("probe_id", "label").agg(F.count(F.lit(1)).alias("n_votes"))
    w_v = Window.partitionBy("probe_id").orderBy(F.desc("n_votes"), F.col("label"))
    return (
        votes.withColumn("r", F.row_number().over(w_v))
        .where(F.col("r") == 1)
        .select("probe_id", F.col("label").alias("pred_label"), "n_votes")
    )


@query(
    "llm_embed_centroids",
    oracle=f"""
WITH expl AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
  WHERE {O_EMB_WHERE}
), cent AS (
  SELECT label, pos,
         -- isnan guard: Spark's NaN→DECIMAL cast is silently NULL (the
         -- element drops out of the exact sum but stays in count(*));
         -- DuckDB's would ERROR, so it takes the same NULL explicitly
         round(CAST(sum(CASE WHEN isnan(val) THEN NULL
                             ELSE TRY_CAST((val) AS DECIMAL(38,10)) END)
                    AS DOUBLE) / count(*), 6)
           AS centroid
  FROM expl GROUP BY label, pos
)
SELECT label, pos, centroid,
       round(sqrt(sum(centroid * centroid)
                    OVER (PARTITION BY coalesce(label, -1))), 6)
         AS label_norm
FROM cent
""",
)
def llm_embed_centroids(spark, sf_dir):
    """Per-label centroid (element-wise mean via posexplode + decimal-exact
    average) + the centroid's L2 norm. The explode is the scalable form:
    (N·64)-row shuffle keyed by (label, pos), perfectly parallel."""
    e = load_embeddings(spark, sf_dir)
    expl = e.select("label", F.posexplode("embedding")).select(
        "label", "pos", F.col("col").cast("double").alias("val")
    )
    cent = expl.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("val").try_cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid")
    )
    w = Window.partitionBy("label")
    return cent.select(
        "label",
        F.col("pos").cast("long").alias("pos"),
        "centroid",
        F.round(F.sqrt(F.sum(F.col("centroid") * F.col("centroid")).over(w)), 6).alias(
            "label_norm"
        ),
    )


@query(
    "llm_multimodal_struct",
    oracle=f"""
WITH probe AS (SELECT embedding AS pe FROM embeddings
               WHERE vec_id = 0 AND {O_EMB_WHERE}),
     m AS (
       SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
              e.embedding, e.label, probe.pe
       FROM documents d
         JOIN embeddings e
           ON d.doc_id = e.vec_id AND {o_emb_where('e')}
         CROSS JOIN probe
     )
SELECT doc_id, lang, n_chars, label,
       {o_cosine('embedding', 'pe')} AS sim
FROM m
WHERE text LIKE '%table%' AND {o_cosine('embedding', 'pe')} >= 0.1
""",
)
def llm_multimodal_struct(spark, sf_dir):
    """Multimodal column: struct(meta, vector, label) built from
    documents⋈embeddings, nested-field access + a mixed text/vector
    predicate. The oracle checks the flat projection; Spark routes every
    output through the struct to exercise nested access."""
    d = tables.load(spark, sf_dir, "documents")
    e = load_embeddings(spark, sf_dir)
    probe = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("pe"))
    )
    m = (
        d.join(e, d.doc_id == e.vec_id)
        .crossJoin(probe)
        .select(
            F.struct(
                F.struct("lang", "source", "n_chars").alias("meta"),
                F.col("embedding").alias("vec"),
                F.col("label").alias("label"),
            ).alias("doc"),
            "doc_id",
            "text",
            "pe",
        )
    )
    sim = cosine(F.col("doc.vec"), F.col("pe"))
    return (
        m.where(F.col("text").like("%table%") & (sim >= 0.1))
        .select(
            "doc_id",
            F.col("doc.meta.lang").alias("lang"),
            F.col("doc.meta.n_chars").alias("n_chars"),
            F.col("doc.label").alias("label"),
            sim.alias("sim"),
        )
    )


def _ann_ivf_oracle_sql(nprobe: int = 3) -> str:
    """Direct-form oracle for the IVF search (round-11 promotion): the
    IVF result is DETERMINISTIC — approximate only relative to exact
    kNN, not to a re-run — so it gets a value oracle. The oracle is the
    pre-quotient direct form (the same shape as
    tests/test_dup_density._direct_ann_ivf): per-label exact-decimal
    centroid means rounded to 9, argmax cell assignment and nprobe=3
    probe cells via the identical rounded-4 cosine with (DESC sim,
    cell ASC NULLS FIRST) ordering — Spark sorts NULL cells (NULL
    label) first on ASC where DuckDB defaults last, and DESC puts
    NaN first / NULL last identically on both engines (probed) — then
    top-10 per probe by (sim DESC, neighbor_id). The quotient
    machinery on the Spark side is thereby value-verified end to end
    on every corpus, not just the dup-density fixture."""
    from adlspark.ops.parity import _o_dec_total

    dx = _o_dec_total("x")
    csim = o_cosine("d.embedding", "c.centroid")
    return f"""WITH dom AS MATERIALIZED (
  SELECT vec_id, embedding, label FROM embeddings WHERE {O_EMB_WHERE}
), cent AS MATERIALIZED (
  SELECT label AS cell, list(m ORDER BY pos) AS centroid FROM (
    SELECT label, pos,
           round(CAST(sum({dx}) AS DOUBLE) / count({dx}), 9) AS m
    FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM dom)
    GROUP BY label, pos
  ) GROUP BY label
), assigned AS MATERIALIZED (
  SELECT vec_id, embedding, cell FROM (
    SELECT d.vec_id, d.embedding, c.cell,
           row_number() OVER (PARTITION BY d.vec_id
             ORDER BY {csim} DESC, c.cell ASC NULLS FIRST) AS r
    FROM dom d CROSS JOIN cent c
  ) WHERE r = 1
), pc AS MATERIALIZED (
  SELECT probe_id, pe, cell FROM (
    SELECT d.vec_id AS probe_id, d.embedding AS pe, c.cell,
           row_number() OVER (PARTITION BY d.vec_id
             ORDER BY {csim} DESC, c.cell ASC NULLS FIRST) AS r
    FROM dom d CROSS JOIN cent c
    WHERE d.vec_id % 100 = 0
  ) WHERE r <= {nprobe}
)
SELECT probe_id, neighbor_id, sim, rnk FROM (
  SELECT p.probe_id, a.vec_id AS neighbor_id,
         {o_cosine('p.pe', 'a.embedding')} AS sim,
         row_number() OVER (PARTITION BY p.probe_id
           ORDER BY {o_cosine('p.pe', 'a.embedding')} DESC, a.vec_id) AS rnk
  FROM pc p JOIN assigned a ON p.cell = a.cell
  WHERE a.vec_id <> p.probe_id
) WHERE rnk <= 10"""


@query("llm_ann_ivf", oracle=_ann_ivf_oracle_sql())
def llm_ann_ivf(spark, sf_dir):
    """IVF-style approximate nearest neighbor — the scale path for
    llm_sim_topk. Coarse quantizer = per-label centroids; every vector is
    assigned to its nearest centroid cell; probes search only the
    nprobe=3 nearest cells. At 100 TB: centroids are broadcast, the big
    side is scanned once for assignment (a narrow map), and the search
    join hits only cell partitions — candidate count scales with
    N·nprobe/ncells instead of N.

    Value-oracle (round 11, promoted from rows-only): 'approximate'
    describes the recall vs exact kNN, not the result's determinism —
    with exact-decimal centroid means (rounded 9) the whole search is
    a pure corpus function, and _ann_ivf_oracle_sql verifies the
    quotiented kernel against the direct form on every corpus."""
    from adlspark.ops.parity import DEC

    e = load_embeddings(spark, sf_dir)
    expl = e.select("label", F.posexplode("embedding")).select(
        "label", "pos", F.col("col").cast("double").alias("val")
    )
    _dv = F.col("val").try_cast(DEC)
    cent = (
        expl.groupBy("label", "pos")
        .agg(F.round(F.sum(_dv).cast("double") / F.count(_dv), 9).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pc", lambda s: s.getField("c")).alias("centroid"),
        )
        # cell-count-sized (the label domain): collected once, so the
        # probe search's assignment and probe crossJoin both read the
        # driver-side list instead of replaying the centroid aggregation
        .collect()
    )
    # QUOTIENTED probe search (the llm_knn_label pattern): cell
    # assignment and every probe-candidate cosine depend on a row only
    # through its embedding, so identical vectors collapse to one
    # representative for assignment AND search — on the 100× stress
    # corpus (100 copies/vector) the direct form scanned ~120M
    # candidate pairs (cells 100× denser × 100× more probes, 140 s);
    # quotiented, the search runs at unique-vector cost. Expansion uses
    # the margin-11 keep rule (top-10 + one possible self-exclusion per
    # probe member — see llm_knn_label for the losslessness argument).
    g = e.groupBy("embedding").agg(
        F.min("vec_id").alias("gid"),
        F.sort_array(F.collect_list("vec_id")).alias("members"),
        F.count(F.lit(1)).alias("cnt"),
    ).localCheckpoint(eager=False)  # lazy: first job materializes (assignment + probe quotient)
    return _ivf_probe_search(g, [(r["cell"], r["centroid"]) for r in cent])


def _ivf_probe_search(g, cent_list, nprobe: int = 3, topk: int = 10):
    """The quotiented IVF probe search shared by ``llm_ann_ivf`` (label
    cells) and ``llm_ann_ivf_scaled`` (trained √N cells) — factored in
    round 14, expression-for-expression the round-11/12 kernel, so the
    label-cell key's plan is unchanged. ``g`` is the embedding quotient
    (gid, members, cnt, embedding — localCheckpointed by the caller),
    ``cent_list`` the model-sized [(cell, centroid)] list, broadcast to
    the probes as an Arrow local relation.
    Probes = groups holding a member with id % 100 == 0; ranking is the
    round-4 cosine with (sim DESC, id ASC) order and count-aware
    margin-(topk+1) keeps before member expansion."""
    from adlspark.llm.dedup import chunked_cartesian

    # assign each unique vector to its nearest cell — one narrow
    # Arrow/numpy pass against the model-sized centroid list
    # (optimization round 14: replaces crossJoin(broadcast(cent)) →
    # interpreted-HOF cosine → window argmax, same round-4 cosine
    # doubles and (csim DESC, cell ASC) order — see _cells_assign)
    cent = tables.rows_df(
        g.sparkSession, cent_list, "cell int, centroid array<double>"
    )
    assigned = _cells_assign(
        g.select("gid", "members", "cnt", "embedding"), cent_list, metric="cos"
    )
    # unique probe embeddings search their 3 nearest cells
    probe_cells = (
        g.select(
            F.col("embedding").alias("pe"),
            F.expr("filter(members, m -> m % 100 = 0)").alias("probe_members"),
        )
        .where(F.size("probe_members") > 0)
        .withColumn("pu", F.element_at("probe_members", 1))
        .crossJoin(F.broadcast(cent))
        .select(
            "pu",
            "probe_members",
            "pe",
            "cell",
            cosine(F.col("pe"), F.col("centroid")).alias("csim"),
        )
        .withColumn("r", F.row_number().over(
            Window.partitionBy("pu").orderBy(F.desc("csim"), F.col("cell"))
        ))
        .where(F.col("r") <= nprobe)
        .select("pu", "probe_members", "pe", "cell")
    )
    sim = cosine(F.col("pe"), F.col("embedding"))
    pairs_u = probe_cells.join(assigned, on="cell").select(
        "pu", "probe_members", "gid", "members", "cnt", sim.alias("sim")
    )
    w_cum = (
        Window.partitionBy("pu")
        .orderBy(F.desc("sim"), "gid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tie = (
        Window.partitionBy("pu", "sim")
        .orderBy("gid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = (
        pairs_u.withColumn(
            "_better", F.sum("cnt").over(w_cum) - F.sum("cnt").over(w_tie)
        )
        .where(F.col("_better") < topk + 1)
        .drop("_better")
    )
    cands = chunked_cartesian(
        kept, "members", "probe_members", "neighbor_id", "probe_id",
        payload=("sim",),
    ).where(F.col("neighbor_id") != F.col("probe_id"))
    w_nn = Window.partitionBy("probe_id").orderBy(
        F.desc("sim"), F.col("neighbor_id")
    )
    return (
        cands.select("probe_id", "neighbor_id", "sim")
        .withColumn("rnk", F.row_number().over(w_nn).cast("long"))
        .where(F.col("rnk") <= topk)
    )


def _np_fold_l2(X, C):
    """n×k squared-L2 distances with the KERNEL'S EXACT float semantics:
    the JVM form is a left-to-right ``aggregate(zip_with(...))`` fold of
    (x_j - c_j)² per cell, so the numpy twin accumulates PER DIMENSION
    in index order (``acc += diff²`` for j = 0..d-1) — every add happens
    in the same order on the same IEEE-754 doubles, hence bit-identical
    results, unlike one BLAS/einsum call whose summation order is
    pairwise. The d-round Python loop is over DIMENSIONS (model-sized),
    not rows; each round is one vectorized (n, k) op."""
    import numpy as np

    n, d = X.shape
    acc = np.zeros((n, C.shape[0]), dtype=np.float64)
    for j in range(d):
        diff = X[:, j, None] - C[None, :, j]
        acc += diff * diff
    return acc


def _np_fold_dot(X, C):
    """n×k dot products as a per-dimension left fold — bit-parity with
    the JVM ``dot`` fold for the same reason as ``_np_fold_l2``."""
    import numpy as np

    n, d = X.shape
    acc = np.zeros((n, C.shape[0]), dtype=np.float64)
    for j in range(d):
        acc += X[:, j, None] * C[None, :, j]
    return acc


def _cells_assign(df, cents, metric: str):
    """Nearest-cell assignment against a model-sized centroid list as ONE
    narrow Arrow/numpy pass (optimization round 14, guide §4.2/§2.4).

    Replaces the crossJoin(broadcast(cent_df)) → interpreted-HOF
    distance → window/row_number argmin shape: that form evaluates the
    zip_with/aggregate lambdas INTERPRETED on n·k rows (~0.7 s per
    assignment at bench scale) and ships every row — embedding payload
    included — through a partitionBy(id) window exchange just to keep
    rank 1. Here the centroid matrix rides the task closure (the
    canonical broadcast-variable kmeans pattern), distances for a whole
    batch are computed by vectorized numpy in dimension-fold order
    (bit-identical doubles — see _np_fold_l2), and the argmin/argmax is
    taken per row, so the operator is a pure narrow map: NO broadcast
    exchange, NO n·k intermediate rows, NO window shuffle, and the
    decision (one int per row) is computed where the data sits — at
    100 TB the win is the removed n·k-row exchange, at bench scale the
    removed interpreted-lambda evaluation and per-iteration broadcast.

    Ordering parity with the window forms it replaces, pinned by the
    value oracles and tests/test_plans.py:

    - ``metric="l2"`` ≡ row_number over (dist ASC, cell ASC): NaN sorts
      LAST (Spark: NaN greater than any double), ties break to the
      lowest cell (np.argmin returns the first minimum). A row with
      both a genuine +inf and a NaN distance falls back to an exact
      per-row comparison (inf < NaN in Spark's asc order, which the
      NaN→inf masking alone would mis-rank).
    - ``metric="cos"`` ≡ row_number over (csim DESC, cell ASC NULLS
      FIRST) where csim = round(try_divide(dot, |a|·|b|), 4): NaN
      sorts FIRST (greatest), NULL csim sorts LAST, ties to the
      lowest cell with a NULL cell id before all non-NULL ids (Spark
      asc default). NULL-csim precedence matches try_divide exactly: a
      ZERO divisor yields NULL whatever the numerator (even NaN), a
      NaN from nan inputs or inf/inf stays NaN. Encoded: rounded
      cosines live in [-1, 1], so NaN→+2, NULL→-2, ±inf→±1.5 is a
      faithful total order.

    ``cents`` is a list of (cell_id, centroid) pairs; ids need not be
    contiguous or non-NULL (llm_ann_ivf's cells are LABEL values, and
    a NULL label is a real cell). They are sorted by id — NULL id
    first, per Spark's asc-nulls-first — before the argmin so that
    numpy's first-minimum tie-break is exactly the window's ``cell
    ASC`` tie-break, and the emitted ``cell`` column carries the true
    ids. A centroid containing a NULL element NULL-poisons every
    distance against it (zip_with product NULL → fold NULL), so that
    cell ranks LAST in cos order and FIRST in l2 order (asc nulls
    first). Output: the input columns plus ``cell`` (int). Empty
    centroid lists are the caller's guard (kmeans_cells returns None
    before this point)."""
    fields = df.schema.fields
    emb_idx = [f.name for f in fields].index("embedding")
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in fields]
        + ["cell int"]
    )
    cents_s = sorted(
        (
            (None if i is None else int(i),
             [0.0 if x is None else float(x) for x in c],
             any(x is None for x in c))
            for i, c in cents
        ),
        key=lambda ic: (ic[0] is not None, ic[0] if ic[0] is not None else 0),
    )
    ids_l = [i for i, _, _ in cents_s]
    cents_l = [c for _, c, _ in cents_s]
    # positions (post-sort) of centroids holding a NULL element — their
    # fold distance is NULL against every row (see docstring)
    null_cells_l = [p for p, (_, _, has_null) in enumerate(cents_s) if has_null]
    has_null_id = any(i is None for i in ids_l)
    cos = metric == "cos"

    def assign(batch_iter):
        import numpy as np
        import pyarrow as pa

        ids = (None if has_null_id
               else np.asarray(ids_l, dtype=np.int32))
        C = np.asarray(cents_l, dtype=np.float64)
        k, d = C.shape
        if cos:
            cn = np.zeros(k, dtype=np.float64)
            for j in range(d):
                cn += C[:, j] * C[:, j]
            cn = np.sqrt(cn)
        for batch in batch_iter:
            n = batch.num_rows
            if n == 0:
                continue
            # Arrow, not pandas: the pandas boundary degrades a NULL
            # list element to NaN, but SQL NULL and NaN rank at
            # OPPOSITE ends of both window orders (the fixture's r11
            # divergence class). A row whose embedding is NULL, holds
            # a NULL element, or has the wrong length folds to a NULL
            # distance against EVERY centroid (zip_with pads the
            # shorter side with NULL).
            lst = batch.column(emb_idx)
            lens = np.nan_to_num(
                lst.value_lengths().to_numpy(zero_copy_only=False),
                nan=0.0,
            ).astype(np.int64)
            row_null = np.asarray(lst.is_null()) | (lens != d)
            flat = lst.flatten()
            flat_np = flat.to_numpy(zero_copy_only=False)
            flat_null = np.asarray(flat.is_null())
            starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
            if flat_null.any():
                row_of_elem = np.repeat(np.arange(n), lens)
                row_null[row_of_elem[flat_null]] = True
            X = np.zeros((n, d), dtype=np.float64)
            good = np.flatnonzero(~row_null)
            if good.size:
                gather = starts[good][:, None] + np.arange(d)[None, :]
                X[good] = flat_np[gather]
            if cos:
                D = _np_fold_dot(X, C)
                xn = np.zeros(n, dtype=np.float64)
                for j in range(d):
                    xn += X[:, j] * X[:, j]
                xn = np.sqrt(xn)
                denom = xn[:, None] * cn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = D / denom
                key = np_round_half_away(raw, 4)
                # faithful total order for the (csim DESC, cell ASC)
                # rank: ±inf between NaN and the reals, NaN (nan
                # inputs, inf/inf) first, try_divide-NULL (ZERO
                # divisor — whatever the numerator) last, NULL-element
                # centroids last (fold NULL)
                key = np.where(np.isinf(key), np.copysign(1.5, key), key)
                key = np.where(np.isnan(raw), 2.0, key)
                key = np.where(denom == 0.0, -2.0, key)
                if null_cells_l:
                    key[:, null_cells_l] = -2.0
                if row_null.any():
                    key[row_null, :] = -2.0
                pos = np.argmax(key, axis=1)
            else:
                D = _np_fold_l2(X, C)
                nan_mask = np.isnan(D)
                combined = np.where(nan_mask, np.inf, D)
                # NULL fold distances sort FIRST in asc-nulls-first;
                # ties among NULLs fall to the cell order (= position)
                if null_cells_l:
                    combined[:, null_cells_l] = -np.inf
                    nan_mask[:, null_cells_l] = False
                if row_null.any():
                    combined[row_null, :] = -np.inf
                    nan_mask[row_null, :] = False
                pos = np.argmin(combined, axis=1)
                # exact corner: a row holding BOTH a genuine +inf and a
                # NaN — the masking above makes them tie at +inf, but
                # Spark's asc order puts inf BEFORE NaN
                mixed = nan_mask.any(axis=1) & np.isinf(D).any(axis=1)
                for i in np.nonzero(mixed)[0]:
                    if null_cells_l:
                        continue  # a NULL cell already won row i
                    row = D[i]
                    pos[i] = min(
                        range(k),
                        key=lambda c: (
                            bool(np.isnan(row[c])),
                            row[c] if not np.isnan(row[c]) else 0.0,
                            c,
                        ),
                    )
            if ids is None:
                # a NULL id must survive into the (nullable) int column
                cell_arr = pa.array(
                    [ids_l[p] for p in pos], type=pa.int32()
                )
            else:
                cell_arr = pa.array(ids[pos], type=pa.int32())
            yield batch.append_column("cell", cell_arr)

    return df.mapInArrow(assign, out_schema)


def kmeans_cells(spark, g, k: int, iters: int = 2):
    """Fixed-round Lloyd over the UNIQUE-vector quotient ``g`` (gid,
    embedding, ...), returning the [(cell, centroid)] list — the
    coarse-quantizer trainer for ``llm_ann_ivf_scaled``.

    Same determinism discipline as ``kmeans_fit`` (init = the k
    lowest-gid embeddings; exact-decimal centroid means rounded to 9
    with per-coordinate carry-forward on empty clusters; bit-parity L2
    folds; lowest-cell argmin tie-break), but the assignment runs as
    ``_cells_assign`` — one narrow Arrow/numpy map with the centroid
    matrix riding the task closure — instead of kmeans_fit's
    literal-matrix expression: k here scales with the corpus (√N cells
    ≈ 448 at 200k uniques), and baking k×dim VALUES into the expression
    tree forces a full re-analysis + codegen compile every round
    because the literals change, while closure data needs no compile at
    all (probed three ways in the round-14 optimization pass: the
    literal-matrix narrow map re-compiled per round and measured ~35%
    slower end-to-end than the join form; a struct-min aggregate argmin
    fell back to SortAggregate — struct buffers cannot hash-aggregate —
    and was slower still; the closure-matrix mapInPandas beats the
    crossJoin(broadcast)+window form by removing the per-iteration
    BroadcastExchange, the n·k interpreted-HOF lambda evaluations and
    the full-payload window exchange). Driver state stays k × dim
    doubles per round — bounded by the MODEL, independent of corpus.
    Returns None for an empty domain."""
    from adlspark.ops.parity import DEC

    init = g.select("gid", "embedding").orderBy("gid").limit(k).collect()
    cents = [[float(x) for x in r["embedding"]] for r in init]
    if not cents:
        return None
    for it in range(iters):
        # Optimization round 14: assignment was crossJoin(broadcast) →
        # interpreted-HOF L2 → window argmin — per iteration that cost a
        # fresh BroadcastExchange, n·k interpreted lambda evaluations
        # and a full-payload window shuffle. _cells_assign computes the
        # same argmin (same fold doubles, same NaN/tie order) as one
        # narrow Arrow/numpy map; the update aggregate is unchanged.
        assign = _cells_assign(
            g.select("embedding"), list(enumerate(cents)), metric="l2"
        )
        d = F.col("x").cast("double").try_cast(DEC)
        upd = (
            assign.select("cell", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.round(F.sum(d).cast("double") / F.count(d), 9).alias("m"))
            .collect()
        )
        new = {c: list(cen) for c, cen in enumerate(cents)}
        for r in upd:
            if r["m"] is not None:
                new[r["cell"]][r["pos"]] = float(r["m"])
        cents = [new[c] for c in range(len(cents))]
    return list(enumerate(cents))


def _ann_ivf_scaled_oracle_sql(nprobe: int = 3, iters: int = 2) -> str:
    """Direct-form oracle for the √N-cell IVF: the dynamic cell count
    rides a subquery LIMIT (k = ceil(sqrt(count(dom_u))) — DuckDB
    evaluates expression LIMITs), the Lloyd unroll is
    _kmeans_oracle_sql's term-for-term shape over the quotient, and the
    probe/assign/search tail is _ann_ivf_oracle_sql's direct form
    against the trained cells. Training assigns by the bit-parity L2
    fold (kmeans discipline); cell assignment and ranking in the search
    phase use the round-4 cosine (the ANN-family contract), mirrored on
    both engines."""
    from adlspark.ops.parity import _o_dec_total

    def dist(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
            f"* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
        )

    dx = _o_dec_total("x")
    csim = o_cosine("d.embedding", "c.cen")
    parts = [
        f"""WITH dom AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE {O_EMB_WHERE}
), dom_u AS MATERIALIZED (
  SELECT min(vec_id) AS gid, embedding FROM dom GROUP BY embedding
), c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY gid) - 1 AS INT) AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cen
  FROM (SELECT gid, embedding FROM dom_u ORDER BY gid
        LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM dom_u))
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", b{i} AS MATERIALIZED (
  SELECT gid, embedding, cell FROM (
    SELECT d.gid, d.embedding, c.cell,
           row_number() OVER (
             PARTITION BY d.gid
             ORDER BY {dist('d.embedding', 'c.cen')} ASC, c.cell ASC
           ) AS rn
    FROM dom_u d CROSS JOIN c{i - 1} c
  ) WHERE rn = 1
), m{i} AS MATERIALIZED (
  SELECT cell, pos,
         round(CAST(sum({dx}) AS DOUBLE) / count({dx}), 9) AS m
  FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM b{i})
  GROUP BY cell, pos
), c{i} AS MATERIALIZED (
  SELECT p.cell, list(COALESCE(m.m, p.val) ORDER BY p.pos) AS cen
  FROM (SELECT cell, generate_subscripts(cen, 1) AS pos,
               unnest(cen) AS val FROM c{i - 1}) p
  LEFT JOIN m{i} m ON m.cell = p.cell AND m.pos = p.pos
  GROUP BY p.cell
)"""
        )
    parts.append(
        f""", assigned AS MATERIALIZED (
  SELECT vec_id, embedding, cell FROM (
    SELECT d.vec_id, d.embedding, c.cell,
           row_number() OVER (PARTITION BY d.vec_id
             ORDER BY {csim} DESC, c.cell ASC NULLS FIRST) AS r
    FROM dom d CROSS JOIN c{iters} c
  ) WHERE r = 1
), pc AS MATERIALIZED (
  SELECT probe_id, pe, cell FROM (
    SELECT d.vec_id AS probe_id, d.embedding AS pe, c.cell,
           row_number() OVER (PARTITION BY d.vec_id
             ORDER BY {csim} DESC, c.cell ASC NULLS FIRST) AS r
    FROM dom d CROSS JOIN c{iters} c
    WHERE d.vec_id % 100 = 0
  ) WHERE r <= {nprobe}
)
SELECT probe_id, neighbor_id, sim, rnk FROM (
  SELECT p.probe_id, a.vec_id AS neighbor_id,
         {o_cosine('p.pe', 'a.embedding')} AS sim,
         row_number() OVER (PARTITION BY p.probe_id
           ORDER BY {o_cosine('p.pe', 'a.embedding')} DESC, a.vec_id) AS rnk
  FROM pc p JOIN assigned a ON p.cell = a.cell
  WHERE a.vec_id <> p.probe_id
) WHERE rnk <= 10"""
    )
    return "".join(parts)


@query("llm_ann_ivf_scaled", oracle=_ann_ivf_scaled_oracle_sql())
def llm_ann_ivf_scaled(spark, sf_dir):
    """IVF with a TRAINED, corpus-scaled coarse quantizer — the
    deployment form the round-14 vector stress rungs showed
    ``llm_ann_ivf`` needs at scale: with ncells pinned to the 10 label
    cells, candidates grow Θ(probes × N/ncells) and the 100× dup-free
    rung read 119.4M candidates / 540 s (SCALE.md round-14 addendum).
    Here ncells = ceil(√N_unique) (the FAISS sizing rule), trained by a
    fixed-round deterministic Lloyd over the embedding QUOTIENT
    (``kmeans_cells``: k lowest-gid init, 2 rounds, exact-decimal means
    rounded 9), so expected cell occupancy is √N and per-probe
    candidate volume is Θ(nprobe·√N) instead of Θ(nprobe·N/10).

    The search is ``_ivf_probe_search`` — the identical quotiented
    probe machinery as ``llm_ann_ivf`` (round-4 cosine, count-aware
    margin keeps, chunked member expansion) — against the trained
    cells, so the two keys differ ONLY in the quantizer: label cells
    (free, fixed) vs trained √N cells (one N_u×k assignment pass per
    training round, the price of scale-proportional pruning).

    Value-oracle: determinism end to end — dynamic k via a subquery
    LIMIT, the Lloyd unroll in chained MATERIALIZED CTEs
    (_kmeans_oracle_sql's shape over the quotient), then the direct
    probe/assign/search form; the quotient machinery is value-verified
    against the direct form on every corpus, per the ANN-family
    pattern."""
    import math

    e = load_embeddings(spark, sf_dir).select("vec_id", "embedding")
    g = e.groupBy("embedding").agg(
        F.min("vec_id").alias("gid"),
        F.sort_array(F.collect_list("vec_id")).alias("members"),
        F.count(F.lit(1)).alias("cnt"),
    ).localCheckpoint(eager=False)  # lazy: n_u count below materializes it (training, assignment, probes)
    n_u = g.count()
    if n_u == 0:
        return tables.rows_df(
            spark, [], "probe_id long, neighbor_id long, sim double, rnk long"
        )
    cent = kmeans_cells(spark, g, k=int(math.ceil(math.sqrt(n_u))), iters=2)
    return _ivf_probe_search(g, cent)


@query(
    "llm_embed_near_dup",
    oracle=f"""
WITH n AS (
  SELECT vec_id, embedding, sqrt({o_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
  WHERE {O_EMB_WHERE}
), pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         round({o_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 4)
           AS cos_sim
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE {o_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= 0.4
)
SELECT p.id1, p.id2, p.cos_sim,
       d1.lang AS lang1, d2.lang AS lang2,
       (d1.lang = d2.lang) AS same_lang
FROM pairs p
JOIN documents d1 ON p.id1 = d1.doc_id
JOIN documents d2 ON p.id2 = d2.doc_id
WHERE p.cos_sim >= 0.45
""",
)
def llm_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate DOCUMENTS: vector pairs over the
    cosine threshold joined back to document metadata — the semantic
    (embedding-space) rung of the dedup ladder, catching paraphrase-level
    duplicates that token Jaccard misses. Reuses the broadcast-matmul
    kernel from llm_sim_threshold_join; the metadata joins broadcast the
    (small) pair list against the documents table."""
    pairs = llm_sim_threshold_join(spark, sf_dir).where(F.col("sim") >= 0.45)
    d = tables.load(spark, sf_dir, "documents").select("doc_id", "lang")
    d1 = d.select(F.col("doc_id").alias("id1"), F.col("lang").alias("lang1"))
    d2 = d.select(F.col("doc_id").alias("id2"), F.col("lang").alias("lang2"))
    return (
        pairs.join(d1, on="id1")
        .join(d2, on="id2")
        .select(
            "id1",
            "id2",
            F.col("sim").alias("cos_sim"),
            "lang1",
            "lang2",
            (F.col("lang1") == F.col("lang2")).alias("same_lang"),
        )
    )


@query(
    "llm_embed_quantize",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(greatest(least(CAST(x AS DOUBLE), 1.0), -1.0) * 127
                           + 0.5) AS BIGINT)) AS codes,
         list_transform(embedding,
           x -> greatest(least(CAST(x AS DOUBLE), 1.0), -1.0)) AS clipped
  FROM embeddings
  WHERE {O_EMB_WHERE}
)
SELECT vec_id,
       array_to_string(codes, ' ') AS codes_str,
       round(sqrt(list_sum(list_transform(list_zip(codes, clipped),
             p -> (CAST(p[1] AS DOUBLE) / 127 - CAST(p[2] AS DOUBLE))
                * (CAST(p[1] AS DOUBLE) / 127 - CAST(p[2] AS DOUBLE))))), 6)
         AS recon_err
FROM q
""",
)
def llm_embed_quantize(spark, sf_dir):
    """Scalar int8 quantization of embeddings + reconstruction error —
    the storage-scale path for vector search (4× smaller than float32,
    8× smaller than the float64 working form; IVF + int8 is the standard
    billion-vector layout). Quantization is a pure element-wise map
    (clip to [-1,1], scale by 127, round-half-up) — a narrow projection
    at any scale, no shuffle. Codes are emitted as a space-joined string
    (driver canonicalizer cannot hash array cells) and the per-vector L2
    reconstruction error uses the engine-identical left-to-right
    summation from vector.py's discipline."""
    e = load_embeddings(spark, sf_dir)
    clipped = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(F.least(x.cast("double"), F.lit(1.0)), F.lit(-1.0)),
    )
    codes = F.transform(
        clipped, lambda x: F.floor(x * 127 + F.lit(0.5)).cast("long")
    )
    diff_sq = F.zip_with(
        codes,
        clipped,
        lambda c, x: (c.cast("double") / 127 - x) * (c.cast("double") / 127 - x),
    )
    err = F.sqrt(F.aggregate(diff_sq, F.lit(0.0), lambda acc, v: acc + v))
    return e.select(
        "vec_id",
        F.concat_ws(" ", codes).alias("codes_str"),
        F.round(err, 6).alias("recon_err"),
    )


def _srp_coef(p: int, i: int) -> int:
    """Hyperplane coefficient (plane p, dimension i) — the salted
    md5-prefix recipe in [-8, 7]. hashlib md5 of the ASCII bytes
    "p:i" is byte-identical to the JVM's F.md5(concat(...)), so this
    is the SAME hash family the expression form computed per row."""
    import hashlib

    return (int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:2], 16) % 16) - 8


def srp_codes(e):
    """16-bit sign-random-projection code per embedding row: int8-quantize
    (llm_embed_quantize scheme), integer-project against md5-derived
    hyperplanes in [-8, 7] (salt "plane:dim"), pack sign bits. Pure
    narrow map, integer-exact cross-engine (see llm_srp_bits docstring).
    Returns (vec_id, srp_code).

    Optimization round 14 (guide §4.1/§4.2): the expression form
    recomputed the DATA-INDEPENDENT coefficient md5("p:i") per ROW —
    16 planes × dim interpreted md5/conv evaluations per row (~1024
    at dim 64). Now one narrow Arrow/numpy map: the coefficient
    matrix is built once per task from hashlib md5 (byte-identical
    digests) and the projection is an int64 matmul — INTEGER
    arithmetic end to end, so the result is bit-equal to the JVM fold
    regardless of summation order. Semantics parity (pinned by
    tests/test_plans.py::test_srp_codes_matches_expression_form):
    least/greatest SKIP NULL and NaN operands, so a NULL or NaN (or
    +inf) element quantizes to 127 and −inf to −127 — np.fmin/np.fmax
    reproduce exactly that, and Arrow's NULL→NaN degradation is
    therefore harmless here; a NULL embedding row yields a NULL code
    (transform(NULL) = NULL); an EMPTY array folds every plane to 0,
    all 16 sign bits set, code 65535; rows of ANY length project
    against coefficients 0..len-1 (the cache grows on demand)."""

    def kern(batch_iter):
        import numpy as np
        import pyarrow as pa

        coefs = {}  # dim count -> (16, dim) int64 matrix

        def cmat(dim):
            m = coefs.get(dim)
            if m is None:
                m = np.array(
                    [[_srp_coef(p, i) for i in range(dim)] for p in range(16)],
                    dtype=np.int64,
                ).T  # (dim, 16)
                coefs[dim] = m
            return m

        shifts = np.arange(16, dtype=np.int64)
        for batch in batch_iter:
            n = batch.num_rows
            if n == 0:
                continue
            lst = batch.column(1)
            lens = np.nan_to_num(
                lst.value_lengths().to_numpy(zero_copy_only=False), nan=0.0
            ).astype(np.int64)
            row_null = np.asarray(lst.is_null())
            flat = lst.flatten().to_numpy(zero_copy_only=False)
            # NULL elements arrive as NaN — identical to NaN's clip-high
            # fate under least/greatest's null/NaN skipping
            q = np.floor(
                np.fmax(np.fmin(flat, 1.0), -1.0) * 127.0 + 0.5
            ).astype(np.int64)
            codes = np.zeros(n, dtype=np.int64)
            if lens.size and (lens == lens[0]).all() and lens[0] > 0:
                d = int(lens[0])
                S = q.reshape(n, d) @ cmat(d)  # (n, 16) int64, exact
                codes = ((S >= 0).astype(np.int64) << shifts).sum(axis=1)
            else:
                starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
                for r in range(n):
                    ln = int(lens[r])
                    if ln == 0:
                        codes[r] = 65535  # empty fold: all plane sums 0
                        continue
                    S = q[starts[r] : starts[r] + ln] @ cmat(ln)
                    codes[r] = int(((S >= 0).astype(np.int64) << shifts).sum())
            ids = batch.column(0)
            yield pa.record_batch(
                [ids, pa.array(codes, type=pa.int64(), mask=row_null)],
                names=["vec_id", "srp_code"],
            )

    return e.select("vec_id", "embedding").mapInArrow(
        kern, "vec_id long, srp_code long"
    )


@query(
    "llm_srp_bits",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(greatest(least(CAST(x AS DOUBLE), 1.0), -1.0) * 127
                           + 0.5) AS BIGINT)) AS qv
  FROM embeddings
  WHERE {O_EMB_WHERE}
), planes AS (
  SELECT vec_id, p,
         CAST(list_sum(list_transform(generate_series(1, len(qv)), i ->
           qv[CAST(i AS INT)]
           * ((CAST('0x' || substring(md5(CAST(p AS VARCHAR) || ':'
                    || CAST(i - 1 AS VARCHAR)), 1, 2) AS BIGINT) % 16) - 8)))
           AS BIGINT) AS s
  FROM q, unnest(generate_series(0, 15)) AS t(p)
)
SELECT vec_id,
       CAST(sum(CASE WHEN s >= 0 THEN 1 << CAST(p AS INT) ELSE 0 END) AS BIGINT)
         AS srp_code,
       CAST(count(*) OVER (PARTITION BY
         CAST(sum(CASE WHEN s >= 0 THEN 1 << CAST(p AS INT) ELSE 0 END) AS BIGINT))
         AS BIGINT) AS n_bucket
FROM planes GROUP BY vec_id
""",
)
def llm_srp_bits(spark, sf_dir):
    """Sign-random-projection LSH over embeddings (SimHash for vectors,
    Charikar 2002): 16 hyperplanes, each bit the sign of the embedding's
    projection, packed into a 16-bit bucket code — the cheap candidate
    generator for angular near-neighbor search (P[bit agree] =
    1 - angle/pi, so Hamming distance on codes estimates cosine).

    Cross-engine exactness: floats never touch the sign decision. The
    embedding is first int8-quantized (the llm_embed_quantize scheme),
    the hyperplane entries are md5-derived integers in [-8, 7] (salt
    "plane:dim" — the same engine-independent hash-family trick as
    llm_minhash_signature), and the projection is an integer dot product,
    so the oracle agrees bit-for-bit; a float dot product would risk
    sign flips near zero from summation-order differences.

    Scale shape: code computation is a pure narrow map (16 integer
    aggregates over a 64-element array per row — no shuffle, no UDF);
    the only shuffle is the bucket-size window keyed by the 16-bit code,
    which is the same shuffle an ANN bucket join would pay anyway.
    """
    e = load_embeddings(spark, sf_dir)
    coded = srp_codes(e)
    w = Window.partitionBy("srp_code")
    return coded.select(
        "vec_id", "srp_code", F.count(F.lit(1)).over(w).alias("n_bucket")
    )


def _kmeans_assign(df, centroids):
    """kmeans_fit's per-iteration argmin as ONE narrow Arrow/numpy map
    (optimization round 14, guide §4.1/§4.2) — the closure carries the
    k×dim centroid matrix, so nothing is compiled per round and no
    interpreted HOF runs per row·cell.

    Reproduces the literal-form semantics
    ``array_position(_ds, array_min(_ds)) - 1`` / ``array_min(_ds)``
    EXACTLY, where _ds[j] is the left-to-right per-dimension fold
    Σ (x_i − c_j_i)² (bit-identical doubles via ``_np_fold_l2``):

    - a NULL embedding, wrong-length array, or NULL element NULL-poisons
      every fold ⇒ cluster NULL, sq_dist NULL (zip_with pads / NULL
      arithmetic);
    - a NaN element makes every fold NaN ⇒ array_min = NaN,
      array_position matches the FIRST NaN (Spark's NaN==NaN equality)
      ⇒ cluster 0, sq_dist NaN;
    - mixed NaN/non-NaN rows (possible only via non-finite CENTROID
      values, e.g. an inf init vector meeting an inf element) take the
      smallest NON-NaN fold — NaN ranks greatest — at its first
      position;
    - ties break to the first (lowest) cluster index.

    ``centroids`` must be a list of k clean float lists (kmeans_fit's
    invariant: init collect + carry-forward never yield None). Output:
    the input columns plus ``cluster int, sq_dist double``."""
    fields = df.schema.fields
    emb_idx = [f.name for f in fields].index("embedding")
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in fields]
        + ["cluster int", "sq_dist double"]
    )
    cents_l = [[float(x) for x in c] for c in centroids]

    def assign(batch_iter):
        import numpy as np
        import pyarrow as pa

        C = np.asarray(cents_l, dtype=np.float64)
        k, dim = C.shape
        for batch in batch_iter:
            n = batch.num_rows
            if n == 0:
                continue
            # Arrow, not pandas: the pandas boundary degrades NULL list
            # elements to NaN, but NULL and NaN folds land at OPPOSITE
            # ends here (NULL ⇒ NULL cluster, NaN ⇒ cluster 0).
            lst = batch.column(emb_idx)
            lens = np.nan_to_num(
                lst.value_lengths().to_numpy(zero_copy_only=False), nan=0.0
            ).astype(np.int64)
            row_null = np.asarray(lst.is_null()) | (lens != dim)
            flat = lst.flatten()
            flat_np = flat.to_numpy(zero_copy_only=False)
            flat_null = np.asarray(flat.is_null())
            starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
            if flat_null.any():
                row_of_elem = np.repeat(np.arange(n), lens)
                row_null[row_of_elem[flat_null]] = True
            X = np.zeros((n, dim), dtype=np.float64)
            good = np.flatnonzero(~row_null)
            if good.size:
                gather = starts[good][:, None] + np.arange(dim)[None, :]
                X[good] = flat_np[gather]
            D = _np_fold_l2(X, C)
            nan_mask = np.isnan(D)
            all_nan = nan_mask.all(axis=1)
            key = np.where(nan_mask, np.inf, D)
            rowmin = key.min(axis=1)
            # first position holding the min — NaN cells are eligible
            # only when the whole row is NaN (array_min skips NaN unless
            # nothing else exists; array_position then matches NaN)
            eligible = (key == rowmin[:, None]) & (
                ~nan_mask | all_nan[:, None]
            )
            pos = eligible.argmax(axis=1)
            sq = D[np.arange(n), pos]
            cluster_arr = pa.array(
                np.where(row_null, 0, pos).astype(np.int32),
                type=pa.int32(),
                mask=row_null,
            )
            sq_arr = pa.array(
                np.where(row_null, 0.0, sq), type=pa.float64(), mask=row_null
            )
            yield (
                batch.append_column("cluster", cluster_arr).append_column(
                    "sq_dist", sq_arr
                )
            )

    return df.mapInArrow(assign, out_schema)


def kmeans_fit(spark, sf_dir, k=8, iters=5, track_inertia=False):
    """Lloyd's k-means over the embedding table. Deterministic init (the
    k lowest vec_ids' embeddings), fixed iteration count. Returns
    (assignment DataFrame, inertia-per-iteration list — empty unless
    ``track_inertia``).

    Scale shape — the canonical Spark KMeans pattern (what MLlib does):
    centroids are k x dim doubles collected to the driver once per
    iteration (bounded, independent of corpus size) and shipped in the
    task closure, so ASSIGNMENT is a pure narrow map (``_kmeans_assign``
    — one vectorized Arrow/numpy pass, no shuffle, no per-round
    compile); the UPDATE is one posexplode + (cluster, dim)-keyed mean —
    a map-side-combinable aggregate shuffling k*dim cells. Nothing else
    touches the driver.

    DETERMINISM (round 11, the oracle-promotion discipline): every
    float decision in the iteration is order-independent, so the whole
    fit is a pure corpus function mirrorable in SQL —
    - centroid means use the repo's exact-decimal summation
      (davg_total shape, rounded to 9) instead of F.avg, so the update
      does not depend on partition order; a coordinate whose member
      values are all non-representable (NaN) keeps its previous value
      (the round-10 totality convention);
    - squared distances are left-to-right folds of identical double
      op trees on both engines (the o_dot bit-parity result), so no
      rounding is needed before the argmin;
    - argmin tie-breaks on the LOWEST cluster index
      (array_position → first match; oracle: ORDER BY dist, cluster).
    """
    from adlspark.ops.parity import DEC

    # lazy checkpoint (optimization round 14, guide §1.2): the loop
    # reads this frame iters+1 times — without it every iteration
    # re-ran the scan, the validity filter AND load_embeddings'
    # broadcast ref-dim aggregate; the init collect below materializes
    # it once. Same pattern as llm_ann_ivf_scaled's quotient.
    e = (
        load_embeddings(spark, sf_dir)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=False)
    )
    init = e.orderBy("vec_id").limit(k).collect()
    centroids = [[float(x) for x in r["embedding"]] for r in init]
    inertia = []
    assign = None
    if not centroids:
        return (
            tables.rows_df(spark, [], "vec_id long, cluster int, sq_dist double"),
            inertia,
        )
    for it in range(iters):
        # Optimization round 14 (guide §4.1/§4.2): the assignment was a
        # k-wide literal-matrix transform HOF — every iteration baked a
        # NEW k×dim literal tree (fresh analysis + codegen compile per
        # round because the centroid values change) and evaluated the
        # zip_with/aggregate lambdas INTERPRETED per row·cell.
        # _kmeans_assign computes the same per-dimension fold distances
        # in one narrow Arrow/numpy map with the centroids riding the
        # task closure (no compile, no interpreter), reproducing the
        # array_min/array_position semantics exactly — ties to the
        # first minimal index, all-NaN rows → cluster 0 with NaN
        # sq_dist, NULL/short/long/NULL-element embeddings → NULL
        # cluster and sq_dist, and mixed NaN/inf rows rank NaN above
        # every non-NaN (pinned by
        # tests/test_plans.py::test_kmeans_assign_matches_literal_form).
        assign = _kmeans_assign(e.select("vec_id", "embedding"), centroids)
        if track_inertia:
            inertia.append(assign.agg(F.sum("sq_dist")).collect()[0][0])
        if it == iters - 1:
            break  # the final update would be dead — output is this assignment
        d = F.col("x").cast("double").try_cast(DEC)
        upd = (
            assign.select("cluster", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                F.round(F.sum(d).cast("double") / F.count(d), 9).alias("m")
            )
            .collect()
        )
        new = {c: list(cen) for c, cen in enumerate(centroids)}
        for r in upd:
            if r["m"] is not None:
                new[r["cluster"]][r["pos"]] = float(r["m"])
        centroids = [new[c] for c in range(len(centroids))]
    return assign.select("vec_id", "cluster", F.round("sq_dist", 6).alias("sq_dist")), inertia


def _kmeans_oracle_sql(k: int = 8, iters: int = 5) -> str:
    """Unroll the deterministic Lloyd iteration into chained
    MATERIALIZED DuckDB CTEs (the round-11 computed-oracle promotion,
    per the llm_bpe_learn / llm_graph_pagerank precedent).

    Mirrors kmeans_fit term by term: init = the k lowest-vec_id domain
    rows; per iteration, squared distance is the identical
    left-to-right double fold (bit-parity per the o_dot result), argmin
    tie-breaks on the lowest cluster index, and the centroid update is
    the exact-decimal mean rounded to 9 (o_davg_total shape) with
    per-coordinate carry-forward when a mean is NULL (empty cluster, or
    all member values non-representable). The final iteration's update
    is dead — output is the last assignment — so it isn't generated.
    MATERIALIZED pins each stage to one evaluation (a{i} and pl{i} both
    read c{i-1})."""
    from adlspark.ops.parity import _o_dec_total

    def dist(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
            f"* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
        )

    dx = _o_dec_total("x")
    parts = [
        f"""WITH dom AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE {O_EMB_WHERE}
), c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cen
  FROM (SELECT vec_id, embedding FROM dom ORDER BY vec_id LIMIT {k})
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", b{i} AS MATERIALIZED (
  SELECT vec_id, embedding, cluster, dist FROM (
    SELECT d.vec_id, d.embedding, c.cluster,
           {dist('d.embedding', 'c.cen')} AS dist,
           row_number() OVER (
             PARTITION BY d.vec_id
             ORDER BY {dist('d.embedding', 'c.cen')} ASC, c.cluster ASC
           ) AS rn
    FROM dom d CROSS JOIN c{i - 1} c
  ) WHERE rn = 1
)"""
        )
        if i == iters:
            break
        parts.append(
            f""", m{i} AS MATERIALIZED (
  SELECT cluster, pos,
         round(CAST(sum({dx}) AS DOUBLE) / count({dx}), 9) AS m
  FROM (SELECT cluster, generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM b{i})
  GROUP BY cluster, pos
), c{i} AS MATERIALIZED (
  SELECT p.cluster, list(COALESCE(m.m, p.val) ORDER BY p.pos) AS cen
  FROM (SELECT cluster, generate_subscripts(cen, 1) AS pos,
               unnest(cen) AS val FROM c{i - 1}) p
  LEFT JOIN m{i} m ON m.cluster = p.cluster AND m.pos = p.pos
  GROUP BY p.cluster
)"""
        )
    parts.append(
        f"\nSELECT vec_id, cluster, round(dist, 6) AS sq_dist FROM b{iters}"
    )
    return "".join(parts)


@query("llm_kmeans", oracle=_kmeans_oracle_sql(k=8, iters=5))
def llm_kmeans(spark, sf_dir):
    """K-means clustering of the embedding corpus (k=8, 5 Lloyd
    iterations, deterministic seeding) — the workhorse for corpus
    topic bucketing, domain-mixture analysis, and IVF coarse-quantizer
    training (llm_ann_ivf's cell structure is exactly a k-means
    codebook).

    Value-oracle (round 11, promoted from rows-only): with the
    kmeans_fit determinism discipline (exact-decimal centroid means
    rounded to 9, bit-parity distance folds, lowest-index argmin
    tie-break) the fixed-round fit is a pure corpus function, unrolled
    into chained MATERIALIZED DuckDB CTEs by _kmeans_oracle_sql — an
    oracle that stays honest on every corpus, including the hostile
    NaN/zero-norm/mixed-dimension gates it auto-enrolls in. The pytest
    property suite additionally asserts determinism, per-iteration
    inertia behavior, and assignment optimality against the final
    centroids.
    """
    df, _ = kmeans_fit(spark, sf_dir, k=8, iters=5)
    return df


@query(
    "llm_semantic_dedup",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(greatest(least(CAST(x AS DOUBLE), 1.0), -1.0) * 127
                           + 0.5) AS BIGINT)) AS qv
  FROM embeddings
  WHERE {O_EMB_WHERE}
), planes AS (
  SELECT vec_id, p,
         CAST(list_sum(list_transform(generate_series(1, len(qv)), i ->
           qv[CAST(i AS INT)]
           * ((CAST('0x' || substring(md5(CAST(p AS VARCHAR) || ':'
                    || CAST(i - 1 AS VARCHAR)), 1, 2) AS BIGINT) % 16) - 8)))
           AS BIGINT) AS s
  FROM q, unnest(generate_series(0, 15)) AS t(p)
), codes AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN s >= 0 THEN 1 << CAST(p AS INT) ELSE 0 END)
              AS BIGINT) AS srp_code
  FROM planes GROUP BY vec_id
)
SELECT vec_id, srp_code,
       min(vec_id) OVER (PARTITION BY srp_code) AS canonical_id,
       vec_id = min(vec_id) OVER (PARTITION BY srp_code) AS keep
FROM codes
""",
)
def llm_semantic_dedup(spark, sf_dir):
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, collapsed to
    its LSH form): embeddings landing in the same sign-random-projection
    bucket are semantic near-duplicates; each bucket keeps one canonical
    representative (lowest id — deterministic) and marks the rest for
    drop. This is the embedding-space rung of the dedup ladder (exact →
    shingle/MinHash → SimHash → semantic): it removes *paraphrase*
    duplicates that every lexical method misses.

    Scale shape: code computation is the llm_srp_bits narrow map (no
    shuffle, integer-exact); the canonical pick is one window keyed by
    the 16-bit bucket code — the same single shuffle any per-bucket
    reduction pays. At corpus scale buckets are bounded by the code
    space, so no reducer sees more than corpus/65536-ish rows under
    uniform hashing."""
    e = load_embeddings(spark, sf_dir)
    coded = srp_codes(e)
    w = Window.partitionBy("srp_code")
    canonical = F.min("vec_id").over(w)
    return coded.select(
        "vec_id",
        "srp_code",
        canonical.alias("canonical_id"),
        (F.col("vec_id") == canonical).alias("keep"),
    )


def pq_fit(spark, sf_dir, m=8, k=16, iters=3, sample_mod=None):
    """Train a product-quantization codebook over the embedding corpus.

    The embedding space splits into ``m`` contiguous subspaces; each gets
    its own ``k``-codeword k-means codebook. Training input is BOUNDED BY
    DESIGN: codebook quality needs a representative sample, not the
    corpus (FAISS trains IVF/PQ on a capped sample too), so a
    deterministic 1/``sample_mod`` sample targeting ~4096 vectors (~2 MB)
    is collected once and all ``m`` codebooks run their Lloyd iterations
    driver-local in vectorized numpy — microseconds, zero per-round
    Spark jobs. An earlier version ran each Lloyd round as a distributed
    job; with the sample capped that paid ~4 s of fixed job latency per
    round to average 4096 rows, the wrong side of the trade at every
    scale. What stays distributed is what actually grows with the lake:
    ENCODING and SEARCH (see llm_ann_ivf_pq).

    INTEGER DOMAIN (round 11, the oracle-promotion discipline): inputs
    clamp to [-8, 8] and quantize to a 1e-6 grid as int64 (real PQ
    assumes roughly unit-norm inputs; the clamp is the declared input
    domain, the grid is far below codebook error). Every distance,
    argmin, and ADC lookup is then EXACT int64 arithmetic — identical
    on numpy, Spark, and DuckDB regardless of summation order — and
    the only float ops left (centroid mean, final de-scale) are
    provably correctly-rounded on both engines (sums < 2^53, one
    division, half-even int cast). That makes the whole train → encode
    → search pipeline a pure corpus function.

    Returns (codebook nested list [m][k][d] of int64 grid values, sub)
    — or (None, 0) when the sample is empty (empty partition / no
    in-domain vectors).
    """
    import numpy as np

    e = load_embeddings(spark, sf_dir).select("vec_id", "embedding")
    if sample_mod is None:
        n_total = e.count()
        # Floor of 4 keeps the toy fixtures exercising the sampled path.
        sample_mod = max(4, n_total // 4096)
    sample = (
        e.where(F.col("vec_id") % sample_mod == 0)
        .orderBy("vec_id")
        .collect()
    )  # bounded: ~4096 rows regardless of corpus size
    if not sample:  # empty corpus / no sampled ids: no trainable model
        return None, 0
    x = np.asarray(
        [np.asarray(r["embedding"], dtype=np.float64) for r in sample]
    )  # (n, dim)
    xq = pq_quantize(x)  # (n, dim) int64 on the 1e-6 grid
    dim = xq.shape[1]
    if dim % m:  # PQ requires dim divisible by m (FAISS rule) — the
        return None, 0  # corpus is out of the PQ domain, mirrored in SQL
    sub = dim // m
    xs = xq.reshape(len(xq), m, sub)  # (n, m, sub)
    codebook = np.transpose(xs[:k], (1, 0, 2)).copy()  # init: first k rows

    for _ in range(iters):
        # (n, m, k) int distances, argmin per subspace → (n, m) codes
        # (np.argmin takes the FIRST min — the lowest-code tiebreak)
        d2 = ((xs[:, :, None, :] - codebook[None, :, :, :]) ** 2).sum(axis=3)
        codes = d2.argmin(axis=2)
        for ms in range(m):
            for c in range(k):
                mask = codes[:, ms] == c
                if mask.any():
                    # exact: int sums < 2^53 are exact in float64, the
                    # division is correctly rounded, np.rint is
                    # half-even — DuckDB's CAST(sum AS DOUBLE)/count
                    # then CAST(.. AS BIGINT) is the identical op tree
                    codebook[ms, c] = np.rint(
                        xs[mask, ms, :].astype(np.float64).mean(axis=0)
                    ).astype(np.int64)
    return codebook.tolist(), sub


PQ_SCALE = 1_000_000  # 1e-6 quantization grid
PQ_CLAMP = 8.0  # declared PQ input domain: values saturate at ±8


def pq_quantize(x):
    """Clamp to ±PQ_CLAMP and quantize to the int64 grid (half-even,
    matching DuckDB's CAST(DOUBLE AS BIGINT)). NaN → 0 on both engines'
    mirrored op trees (DuckDB isnan guard; np.nan_to_num here)."""
    import numpy as np

    c = np.clip(np.nan_to_num(x, nan=0.0), -PQ_CLAMP, PQ_CLAMP)
    return np.rint(c * PQ_SCALE).astype(np.int64)


def _pq_encode_udf(codebook, sub):
    """Vectorized PQ encoder: embedding → array of per-subspace argmin
    codes. One Arrow batch becomes an (n, m, sub) tensor; distances to
    all k codewords per subspace are one einsum-shaped broadcastted
    subtraction — no per-row Python, no JVM expression blow-up.
    All arithmetic is exact int64 on the pq_quantize grid (round 11)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebook, dtype=np.int64)  # (m, k, sub)
    m = cb.shape[0]

    @pandas_udf("array<int>")
    def encode(col: pd.Series) -> pd.Series:
        x = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in col]
        )  # (n, dim)
        n = x.shape[0]
        if n == 0:
            return pd.Series([], dtype=object)
        xs = pq_quantize(x).reshape(n, m, sub)  # (n, m, sub) int64
        # (n, m, k): squared distance to every codeword in every subspace
        d2 = ((xs[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        codes = d2.argmin(axis=2).astype("int32")  # (n, m)
        return pd.Series(list(codes))

    return encode


def _pq_oracle_sql(m: int = 8, k: int = 16, iters: int = 3) -> str:
    """Direct-form oracle for the PQ-ANN search (round 11, the last
    promotion of the ANN family). Mirrors the integer-domain pipeline
    term by term: pq_quantize (isnan->0, clamp +-PQ_CLAMP, *PQ_SCALE,
    half-even BIGINT cast — DuckDB's CAST(DOUBLE AS BIGINT) == np.rint),
    the sampled trainer (mod = greatest(4, n // 4096), init = first k
    sample rows, per-round exact int distances with lowest-code argmin
    tie-break and half-even integer centroid means with per-cell
    carry-forward), full-corpus encoding, per-probe ADC lookup tables,
    and the final (de-scaled double, neighbor_id) top-10 rank. A corpus
    whose reference dimension is not divisible by m is OUT of the PQ
    domain on both sides (zero rows)."""
    q = (
        "CAST(CASE WHEN isnan(x) THEN 0.0 "
        f"ELSE greatest(least(x, {PQ_CLAMP}), -{PQ_CLAMP}) END "
        f"* {PQ_SCALE}.0 AS BIGINT)"
    )
    descale = f"{float(PQ_SCALE) * float(PQ_SCALE)!r}"
    parts = [
        f"""WITH dom AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE {O_EMB_WHERE}
    AND len(embedding) % {m} = 0
), vq AS MATERIALIZED (
  SELECT vec_id, CAST((pos - 1) // (len // {m}) AS INT) AS ms,
         CAST((pos - 1) % (len // {m}) AS INT) AS d, {q} AS v
  FROM (SELECT vec_id, len(embedding) AS len,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM dom)
), sid_map AS MATERIALIZED (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS sid
  FROM dom
  WHERE vec_id % (SELECT greatest(4, count(*) // 4096) FROM dom) = 0
), sq AS MATERIALIZED (
  SELECT s.sid, v.ms, v.d, v.v
  FROM sid_map s JOIN vq v ON v.vec_id = s.vec_id
), c0 AS MATERIALIZED (
  SELECT ms, CAST(sid AS INT) AS c, d, v FROM sq WHERE sid < {k}
)"""
    ]
    for r in range(1, iters + 1):
        parts.append(
            f""", pa{r} AS MATERIALIZED (
  SELECT sid, ms, c FROM (
    SELECT s.sid, s.ms, cb.c,
           row_number() OVER (PARTITION BY s.sid, s.ms
             ORDER BY sum((s.v - cb.v) * (s.v - cb.v)), cb.c) AS rn
    FROM sq s JOIN c{r - 1} cb ON cb.ms = s.ms AND cb.d = s.d
    GROUP BY s.sid, s.ms, cb.c
  ) WHERE rn = 1
), up{r} AS MATERIALIZED (
  SELECT q.ms, a.c, q.d,
         CAST(CAST(CAST(sum(q.v) AS BIGINT) AS DOUBLE) / count(*)
              AS BIGINT) AS v
  FROM sq q JOIN pa{r} a ON a.sid = q.sid AND a.ms = q.ms
  GROUP BY q.ms, a.c, q.d
), c{r} AS MATERIALIZED (
  SELECT p.ms, p.c, p.d, coalesce(u.v, p.v) AS v
  FROM c{r - 1} p LEFT JOIN up{r} u
    ON u.ms = p.ms AND u.c = p.c AND u.d = p.d
)"""
        )
    parts.append(
        f""", enc AS MATERIALIZED (
  SELECT vec_id, ms, c FROM (
    SELECT v.vec_id, v.ms, cb.c,
           row_number() OVER (PARTITION BY v.vec_id, v.ms
             ORDER BY sum((v.v - cb.v) * (v.v - cb.v)), cb.c) AS rn
    FROM vq v JOIN c{iters} cb ON cb.ms = v.ms AND cb.d = v.d
    GROUP BY v.vec_id, v.ms, cb.c
  ) WHERE rn = 1
), lut AS MATERIALIZED (
  SELECT p.vec_id AS probe_id, p.ms, cb.c,
         CAST(sum((p.v - cb.v) * (p.v - cb.v)) AS BIGINT) AS pd2
  FROM vq p JOIN c{iters} cb ON cb.ms = p.ms AND cb.d = p.d
  WHERE p.vec_id % 100 = 0
  GROUP BY p.vec_id, p.ms, cb.c
), adc AS MATERIALIZED (
  SELECT l.probe_id, e.vec_id AS neighbor_id,
         CAST(sum(l.pd2) AS BIGINT) AS di
  FROM enc e JOIN lut l ON l.ms = e.ms AND l.c = e.c
  GROUP BY l.probe_id, e.vec_id
)
SELECT probe_id, neighbor_id, adc_dist, CAST(rnk AS INT) AS rnk FROM (
  SELECT probe_id, neighbor_id,
         CAST(di AS DOUBLE) / {descale} AS adc_dist,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY CAST(di AS DOUBLE) / {descale}, neighbor_id) AS rnk
  FROM adc
) WHERE rnk <= 10"""
    )
    return "".join(parts)


@query("llm_ann_ivf_pq", oracle=_pq_oracle_sql())
def llm_ann_ivf_pq(spark, sf_dir):
    """Product-quantized ANN — the MEMORY lever for 100 TB vector search
    (Jégou et al. 2011). Each 64-dim float vector (256 B) compresses to
    8 small codes (8 B as ints, 4 B packed): at lake scale the code
    table fits in a fraction of the raw footprint, which is what makes
    post-IVF candidate scans affordable.

    Pipeline: ``pq_fit`` trains the 8 subspace codebooks (sampled
    driver-local Lloyd over a bounded sample, per ``pq_fit``'s own
    docstring; the driver holds only the 1024-double codebook — the model);
    ENCODING is one narrow Arrow pass (the float vectors are never
    shuffled); SEARCH is asymmetric distance computation with the
    block-replication scheme of ``llm_sim_threshold_join``: the code
    table is hashed into B blocks, the (deterministic 1%) probe set is
    replicated to each block, and ``applyInPandas`` per block computes
    every probe's per-subspace lookup table once and gathers approximate
    distances for the whole block in numpy — per-block top-10, then one
    window for the global top-10 per probe. No driver state beyond the
    codebook; block count scales with the cluster. ``llm_ann_ivf``'s
    cell pruning composes in front of this scan in production; here the
    scan is exhaustive so the pytest recall check isolates quantization
    error alone.

    Value-oracle (round 11, promoted from rows-only — the last ANN
    key): on the pq_quantize integer grid every distance, argmin and
    ADC lookup is exact int64 arithmetic, so train -> encode -> search
    is a pure corpus function; _pq_oracle_sql unrolls the sampled
    trainer and mirrors the full search in SQL. The quotient machinery
    (block scan, count-aware keeps, member expansion) is thereby
    value-verified against the direct form on every corpus.
    """
    import numpy as np
    import pandas as pd

    codebook, sub = pq_fit(spark, sf_dir)
    if codebook is None:  # empty partition: nothing to index (round 9)
        return tables.rows_df(
            spark, [], "probe_id long, neighbor_id long, adc_dist double, rnk int"
        )
    cb = np.asarray(codebook, dtype=np.int64)  # (m, k, sub), grid ints
    m = cb.shape[0]
    e = load_embeddings(spark, sf_dir).select("vec_id", "embedding")

    # QUOTIENTED scan (the llm_knn_label pattern): encoding and ADC
    # distance depend on a row only through its embedding, and the probe
    # set (N/100) scales with the corpus, so the direct P×N gather is
    # quadratic in duplicate density (72 s at the 100× stress). Identical
    # vectors collapse to one representative for encode + scan; the
    # per-block and global keeps are member-count-aware with margin 10
    # (no self-exclusion here — the probe's own group is a legitimate
    # neighbor), so the expanded top-10 is preserved; with all counts 1
    # this reduces exactly to the unquotiented kernel.
    from adlspark.llm.dedup import chunked_cartesian

    g = e.groupBy("embedding").agg(
        F.min("vec_id").alias("gid"),
        F.sort_array(F.collect_list("vec_id")).alias("members"),
        F.count(F.lit(1)).alias("cnt"),
    ).localCheckpoint(eager=False)  # lazy: first job materializes (encode, probe quotient, expansion)

    # Block-count sizing (round 14, the SAME rule as llm_knn_graph /
    # llm_sim_threshold_join, env override included): the per-task peak
    # is the ADC distance gather — probes × block_rows int64 — so a
    # fixed B is corpus-size-blind (at 200k unique vectors B=8 gathers
    # a 2000×25k ≈ 400 MB matrix per task). B scales with the quotient
    # size to hold blocks at ≤ ~2048 code rows, capped at 512 (the
    # probe-replication row count and block table are B-proportional);
    # the count reads off the materialized checkpoint. Results are
    # B-invariant (the global window re-ranks).
    import math as _math
    import os

    _env_blocks = os.environ.get("ADLSPARK_SIM_BLOCKS")
    n_blocks = (
        int(_env_blocks)
        if _env_blocks
        else max(
            8,
            _math.ceil(_math.sqrt(2 * spark.sparkContext.defaultParallelism)),
            min(_math.ceil(g.count() / 2048), 512),
        )
    )
    coded = g.select(
        "gid", "cnt", _pq_encode_udf(codebook, sub)("embedding").alias("codes")
    ).withColumn("blk", F.pmod(F.col("gid"), F.lit(n_blocks)).cast("int"))

    pg = (
        g.select(
            F.col("embedding").alias("pe"),
            F.expr("filter(members, m -> m % 100 = 0)").alias("probe_members"),
        )
        .where(F.size("probe_members") > 0)
        .withColumn("pu", F.element_at("probe_members", 1))
        .localCheckpoint(eager=False)  # lazy: first job materializes (block replication + expansion)
    )
    blocks = spark.range(n_blocks).select(F.col("id").cast("int").alias("blk"))
    probe_rep = pg.crossJoin(F.broadcast(blocks)).select(
        "blk",
        F.col("pu").alias("vec_id"),
        F.col("pe").alias("payload"),
        F.lit(1).alias("is_probe"),
        F.lit(1).cast("long").alias("cnt"),
    )
    code_rows = coded.select(
        "blk",
        F.col("gid").alias("vec_id"),
        F.col("codes").cast("array<double>").alias("payload"),
        F.lit(0).alias("is_probe"),
        "cnt",
    )
    both = code_rows.unionByName(probe_rep)

    def search_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        codes_part = pdf[pdf["is_probe"] == 0]
        probe_part = pdf[pdf["is_probe"] == 1]
        if len(codes_part) == 0 or len(probe_part) == 0:
            return pd.DataFrame(
                {"probe_id": [], "neighbor_id": [], "adc_dist": []}
            ).astype(
                {"probe_id": "int64", "neighbor_id": "int64", "adc_dist": "float64"}
            )
        codes = np.asarray(
            [np.asarray(v, dtype=np.int64) for v in codes_part["payload"]]
        )  # (u, m)
        nids = np.asarray(codes_part["vec_id"], dtype=np.int64)
        ncnt = np.asarray(codes_part["cnt"], dtype=np.int64)
        pids = np.asarray(probe_part["vec_id"], dtype=np.int64)
        pe = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in probe_part["payload"]]
        )  # (p, dim)
        ps = pq_quantize(pe).reshape(len(pids), m, sub)  # (p, m, sub) int
        # per-probe LUT: (p, m, k) EXACT int squared distances
        lut = ((ps[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        # gather: dist (p, u) = sum_m lut[p, m, codes[u, m]] — int64,
        # exact, so no rounding discipline is needed anywhere. The
        # parity invariant is that the block keep, the global keep, the
        # oracle, and the final rank ALL order the IDENTICAL de-scaled
        # doubles, so any ties collapse identically on every side. The
        # de-scale itself is NOT injective past 2^53 (64 dims saturated
        # at the ±8 clamp reach ~1.6e16 > 2^53, where distinct ints CAN
        # collapse to equal doubles) — so never rank the raw ints on
        # one side and the doubles on another.
        dist = np.zeros((len(pids), len(nids)), dtype=np.int64)
        for ms in range(m):
            dist += lut[:, ms, codes[:, ms]]
        out = []
        for pi in range(len(pids)):
            # deterministic count-aware keep: order by (dist, neighbor
            # gid); keep every group whose strictly-better expanded
            # count is < 10 (covers the block's expanded top-10).
            dist_r = dist[pi].astype(np.float64) / (
                float(PQ_SCALE) * float(PQ_SCALE)
            )
            order = np.lexsort((nids, dist_r))
            ds = dist_r[order]
            cum = np.cumsum(ncnt[order])
            first_eq = np.searchsorted(ds, ds, side="left")
            better = np.where(first_eq > 0, cum[first_eq - 1], 0)
            keep = order[better < 10]
            out.append(
                pd.DataFrame(
                    {
                        "probe_id": pids[pi],
                        "neighbor_id": nids[keep],
                        "adc_dist": dist_r[keep],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    per_block = both.groupBy("blk").applyInPandas(
        search_block, "probe_id long, neighbor_id long, adc_dist double"
    )
    # global count-aware keep over the block survivors (on the rounded
    # distances the final rank uses), then member expansion + final rank
    surv = per_block.join(
        g.select(F.col("gid").alias("neighbor_id"), "members", "cnt"),
        "neighbor_id",
    )
    w_cum = (
        Window.partitionBy("probe_id")
        .orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tie = (
        Window.partitionBy("probe_id", "adc_dist")
        .orderBy(F.col("neighbor_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = (
        surv.withColumn(
            "_better", F.sum("cnt").over(w_cum) - F.sum("cnt").over(w_tie)
        )
        .where(F.col("_better") < 10)
        .drop("_better")
    )
    expanded = chunked_cartesian(
        kept.join(
            pg.select(F.col("pu").alias("probe_id"), "probe_members"),
            "probe_id",
        ),
        "members",
        "probe_members",
        "neighbor_id_m",
        "probe_id_m",
        payload=("adc_dist",),
    ).select(
        F.col("probe_id_m").alias("probe_id"),
        F.col("neighbor_id_m").alias("neighbor_id"),
        "adc_dist",
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        expanded.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
    )


@query(
    "llm_hard_negative_mine",
    oracle=f"""
WITH p AS (SELECT vec_id AS probe_id, label AS probe_label, embedding AS pe
           FROM embeddings WHERE vec_id < 10 AND {O_EMB_WHERE})
SELECT probe_id, probe_label, neighbor_id, neighbor_label, sim, rnk FROM (
  SELECT p.probe_id, p.probe_label, c.vec_id AS neighbor_id,
         c.label AS neighbor_label,
         {o_cosine('p.pe', 'c.embedding')} AS sim,
         row_number() OVER (
           PARTITION BY p.probe_id
           ORDER BY {o_cosine('p.pe', 'c.embedding')} DESC, c.vec_id
         ) AS rnk
  FROM p JOIN embeddings c
    ON c.label <> p.probe_label AND {o_emb_where('c')}
) t WHERE rnk <= 5
""",
)
def llm_hard_negative_mine(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each probe
    vector, the 5 most-similar vectors carrying a DIFFERENT label — the
    near-misses that produce the largest contrastive gradients (the
    standard batch-mining step for embedding-model training, e.g. Xiong
    et al. 2021 ANCE).

    Same distributed shape as ``llm_sim_topk``: the probe set is
    broadcast, the candidate corpus is scanned once with the cross-label
    predicate applied pre-ranking (so positives never enter the top-k
    heap), cosine is the JVM-side exact expression, and ranking is on
    the rounded similarity with vec_id tiebreak. At 100 TB the probe set
    is a training batch (thousands of rows — still broadcastable) and
    the corpus-side scan parallelizes per partition; the per-probe top-k
    is a window over probe_id, shuffled by probe — bounded by
    |probes|·k, never by corpus size.
    """
    e = load_embeddings(spark, sf_dir)
    probes = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("pe"),
    )
    pairs = e.crossJoin(F.broadcast(probes)).where(
        F.col("label") != F.col("probe_label")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        pairs.select(
            "probe_id",
            "probe_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            cosine(F.col("pe"), F.col("embedding")).alias("sim"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
    )


PCA_COMPONENTS = 5
PCA_ITERS = 16


def _pca_power_oracle_sql(n_comp: int = PCA_COMPONENTS,
                          iters: int = PCA_ITERS) -> str:
    """Value oracle for llm_pca_power (round-13 promotion from
    rows-only): the kernel is FIXED-ROUND power iteration with
    deflation — a deterministic recurrence over the covariance matrix,
    the same shape the kmeans/pagerank unrolled-CTE promotions handled
    — so the oracle unrolls the identical recurrence in chained
    MATERIALIZED CTEs: covariance cells from a vec_id self-join, then
    per component k: ``iters`` × (matvec → L2-normalize), Rayleigh
    quotient λ_k = vᵀC_k v, deflate C_{k+1} = C_k − λ_k vvᵀ, init reset
    to 1/√d each component. MATERIALIZED is load-bearing: the 20M-row
    covariance self-join must compute once, not once per CTE reference.
    ``n_comp``/``iters`` parameterize the unroll so the mutation
    witness can prove the oracle pins the round count.

    Presentation rule: each eigenvalue is rounded to 6 decimals AND at
    most 6 significant digits (``o_round_rel``, twin of the kernel's
    ``round_rel``), in the ``eigenvalue`` column and in the
    ``row_number`` ORDER BY alike. λ scales with |x|², and above ~2^33
    a double's ulp exceeds a fixed 1e-6 grain, so plain ``round(l, 6)``
    would let summation-order noise (DuckDB's multi-threaded sum vs
    numpy's) reach the output hash — a corpus with norm-1e6 vectors
    gives λ ≈ 2.3e10 and the engines differ there by one ulp. For
    |λ| < 1 (every shipped fixture) the rule is exactly round(l, 6).
    ``explained_ratio`` is scale-free and keeps round(x, 6)."""
    nan_free = "len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) = 0"
    parts = [f"""WITH e AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  WHERE {O_EMB_WHERE} AND {nan_free}
), x AS MATERIALIZED (
  SELECT vec_id, t.i AS i, CAST(embedding[t.i] AS DOUBLE) AS v
  FROM e, unnest(generate_series(1, len(embedding))) AS t(i)
), nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
mu AS MATERIALIZED (
  SELECT i, sum(v) / (SELECT n FROM nn) AS m FROM x GROUP BY i
), cov1 AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j,
         sum(a.v * b.v) / (SELECT n FROM nn) - ma.m * mb.m AS c
  FROM x a JOIN x b USING (vec_id)
  JOIN mu ma ON ma.i = a.i JOIN mu mb ON mb.i = b.i
  GROUP BY a.i, b.i, ma.m, mb.m
), tr AS MATERIALIZED (SELECT sum(c) AS t FROM cov1 WHERE i = j),
v0 AS MATERIALIZED (
  SELECT i, 1.0 / sqrt((SELECT CAST(count(*) AS DOUBLE) FROM mu)) AS val
  FROM mu
)"""]
    for k in range(1, n_comp + 1):
        prev = "v0"
        for t in range(1, iters + 1):
            w, s, v = f"w{k}_{t}", f"s{k}_{t}", f"v{k}_{t}"
            parts.append(f""", {w} AS MATERIALIZED (
  SELECT c.i AS i, sum(c.c * v.val) AS wv
  FROM cov{k} c JOIN {prev} v ON c.j = v.i GROUP BY c.i
), {s} AS MATERIALIZED (SELECT sqrt(sum(wv * wv)) AS s FROM {w}),
{v} AS MATERIALIZED (
  SELECT w.i,
         CASE WHEN coalesce((SELECT s FROM {s}), 0.0) = 0.0 THEN p.val
              ELSE w.wv / (SELECT s FROM {s}) END AS val
  FROM {w} w JOIN {prev} p ON p.i = w.i
)""")
            prev = v
        parts.append(f""", lw{k} AS MATERIALIZED (
  SELECT c.i AS i, sum(c.c * v.val) AS wv
  FROM cov{k} c JOIN {prev} v ON c.j = v.i GROUP BY c.i
), lam{k} AS MATERIALIZED (
  SELECT sum(w.wv * v.val) AS l FROM lw{k} w JOIN {prev} v ON v.i = w.i
)""")
        if k < n_comp:
            parts.append(f""", cov{k + 1} AS MATERIALIZED (
  SELECT c.i, c.j,
         c.c - (SELECT l FROM lam{k}) * va.val * vb.val AS c
  FROM cov{k} c JOIN {prev} va ON va.i = c.i JOIN {prev} vb ON vb.i = c.j
)""")
    union = "\nUNION ALL ".join(
        f"SELECT {k} AS dk, (SELECT l FROM lam{k}) AS l"
        for k in range(1, n_comp + 1)
    )
    # component = DESCENDING-VALUE rank (deflation index dk breaks
    # rounded ties deterministically): on a spectrum without dominant
    # gaps the fixed-round Rayleigh values need not come out of the
    # deflation chain sorted, and the 'top-5' contract presents them
    # largest-first on both engines
    parts.append(f"""
SELECT CAST(row_number() OVER (ORDER BY {o_round_rel('l')} DESC, dk)
             AS INT) AS component,
       {o_round_rel('l')} AS eigenvalue,
       round(CASE WHEN (SELECT t FROM tr) = 0 THEN 0.0
                  ELSE l / (SELECT t FROM tr) END, 6) AS explained_ratio
FROM ({union})
WHERE (SELECT n FROM nn) > 0""")
    return "".join(parts)


@query("llm_pca_power", oracle=_pca_power_oracle_sql())
def llm_pca_power(spark, sf_dir):
    """Distributed PCA of the embedding corpus: FIXED-ROUND
    power-iteration ESTIMATES of the top-5 covariance eigenvalues +
    explained-variance ratios (16 matvec rounds per component with
    deflation, init 1/√d reset per component, Rayleigh-quotient
    values, reported in descending order). On spectra with dominant
    gaps the estimates converge to the true eigenvalues at rate
    (λ₂/λ₁)^16; on near-isotropic spectra they are Rayleigh quotients
    within the spectrum's range — see the honesty note below.

    The scale architecture is the classic two-phase Gram accumulation
    (the same shape MLlib's RowMatrix.computePrincipalComponents uses):

    1. ``mapInPandas`` emits ONE partial per input partition — the tuple
       (n, Σx, Σxxᵀ) with the d×d Gram flattened to d² doubles, computed
       as a single BLAS ``X.T @ X`` per Arrow batch. Data never leaves
       its partition; the map output is O(partitions · d²), independent
       of row count.
    2. The partials are reduced by position (posexplode + sum — a
       map-side-combinable aggregation of ≤ partitions · (d²+d+1)
       doubles), and only the d²+d+1 aggregated cells reach the driver —
       model-sized state (d=64 → 33 KB), never the corpus.

    The driver then forms C = E[xxᵀ] − μμᵀ and runs the FIXED-ROUND
    recurrence on the 64×64 matrix — O(n_comp·iters·d²) once, trivially
    cheap. At 100 TB nothing changes: phase 1 stays embarrassingly
    parallel, phase 2's reduction tree is logarithmic, the driver still
    sees 33 KB.

    Value-oracle (round 13, promoted from rows-only — VERDICT r12 item
    4): fixed iteration count + deterministic init makes the output a
    pure corpus function, so _pca_power_oracle_sql unrolls the same
    recurrence in DuckDB (the kmeans/pagerank precedent). Power
    iteration replaced numpy's eigvalsh AT THE SAME ARCHITECTURE — the
    eigensolver was the only non-SQL-expressible step. Honesty note on
    fidelity: the FIXTURE spectrum is near-isotropic (true top-8 at
    sf0.001 span only 0.0289..0.0231), so 16 rounds do NOT converge to
    the sorted true eigenvalues there — each reported value is the
    fixed-round Rayleigh quotient (always within [λ_min, λ_max], here
    within 6% of the true top-5 band) and THAT deterministic value is
    the contract both engines compute; on a corpus with dominant
    components (real embedding lakes) the same 16 rounds converge at
    rate (λ₂/λ₁)^16. Production use wanting exact spectra should raise
    PCA_ITERS — the contract form is unchanged.
    Eigenvalues are presented at 6 decimals and at most 6 significant
    digits (``round_rel``; the oracle docstring says why): a huge-norm
    corpus would otherwise leak one-ulp summation-order noise into the
    output, while fixture values (|λ| < 1) round exactly as round(λ, 6).
    Zero-norm matvec (C exactly 0 — only a SINGLE-vector corpus gives
    that) keeps the previous iterate on both sides, and trace 0 pins
    explained_ratio to 0. An all-identical corpus of several rows does
    NOT give C = 0: E[xxᵀ] − μμᵀ leaves cancellation noise, so λ rounds
    to ±0.0 but explained_ratio is noise over noise and can leave
    [0, 1].
    Mutation witness: tests/test_promotion_mutation.py (iters and init
    both pinned); empty/hostile corpus gates: tests/test_promoted_empty
    + the embed-robustness sweeps.
    """
    import numpy as np
    import pandas as pd

    # Domain: NaN-free vectors — a single NaN element would poison the
    # accumulated Gram matrix and the driver's eigensolver with it
    # (numpy LinAlgError: eigenvalues did not converge)
    e = load_embeddings(spark, sf_dir).where(
        ~F.exists("embedding", lambda x: F.isnan(x.cast("double")))
    ).select("embedding")
    head = e.head(1)
    if not head:  # empty partition: no spectrum (round-9 corpus)
        return tables.rows_df(
            spark, [], "component int, eigenvalue double, explained_ratio double"
        )
    d = len(head[0]["embedding"])

    def partials(batches):
        n = 0
        s = np.zeros(d)
        g = np.zeros(d * d)
        for pdf in batches:
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += X.shape[0]
            s += X.sum(axis=0)
            g += (X.T @ X).ravel()
        if n:
            yield pd.DataFrame(
                {"n": [n], "cell": [np.concatenate(([float(n)], s, g)).tolist()]}
            )

    parts = e.mapInPandas(partials, "n long, cell array<double>")
    agg = (
        parts.select(F.posexplode("cell").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
        .collect()  # d²+d+1 cells: model-sized, not data-sized
    )
    cells = np.zeros(d * d + d + 1)
    for r in agg:
        cells[r["pos"]] = r["v"]
    n_total = cells[0]
    mu = cells[1 : d + 1] / n_total
    C = cells[d + 1 :].reshape(d, d) / n_total - np.outer(mu, mu)
    trace = float(np.trace(C))
    v0 = np.full(d, 1.0 / np.sqrt(d))
    Ck = C
    vals = []
    for comp in range(1, PCA_COMPONENTS + 1):
        v = v0
        for _ in range(PCA_ITERS):
            w = Ck @ v
            s = float(np.sqrt(w @ w))
            if s != 0.0:
                v = w / s
            # s == 0 (zero matrix): keep the previous iterate — the
            # oracle's CASE does the same
        lam = float((Ck @ v) @ v)
        ratio = 0.0 if trace == 0.0 else lam / trace
        vals.append((round_rel(lam), round_half_away(ratio, 6)))
        if comp < PCA_COMPONENTS:
            Ck = Ck - lam * np.outer(v, v)
    # present largest-first (component = descending-value rank, rounded
    # value with deflation-index tiebreak — mirrored in the oracle's
    # row_number): the deflation chain need not emit sorted values on a
    # spectrum without dominant gaps
    order = sorted(range(len(vals)), key=lambda i: (-vals[i][0], i))
    rows = [
        (rank + 1, vals[i][0], vals[i][1]) for rank, i in enumerate(order)
    ]
    return tables.rows_df(
        spark, rows, "component int, eigenvalue double, explained_ratio double"
    )


@query(
    "llm_knn_graph",
    oracle=f"""
WITH n AS (
  SELECT vec_id, embedding FROM embeddings WHERE {O_EMB_WHERE}
)
SELECT vec_id, neighbor_id, sim, rnk FROM (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         {o_cosine('a.embedding', 'b.embedding')} AS sim,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY {o_cosine('a.embedding', 'b.embedding')} DESC, b.vec_id
         ) AS rnk
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  -- NaN/zero-norm pairs have no similarity: DuckDB ranks NaN ABOVE
  -- every real cosine (and NULL /0 below), while the numpy kernel's
  -- NaN rows never reach a top-k — exclude them before ranking
  WHERE {o_cosine('a.embedding', 'b.embedding')} IS NOT NULL
    AND NOT isnan({o_cosine('a.embedding', 'b.embedding')})
) t WHERE rnk <= 5
""",
)
def llm_knn_graph(spark, sf_dir):
    """Exact 5-NN graph over ALL vectors (every vector a probe) — the
    input for graph-based dedup/cluster/curation steps (kNN-graph
    clustering, SemDeDup-style neighborhoods, UMAP/hNSW builds).

    Unlike ``llm_sim_topk`` (a handful of broadcast probes), the probe
    set here IS the corpus, so it reuses ``llm_sim_threshold_join``'s
    block-pair matmul: B ≈ √(2·parallelism) blocks, broadcast of the
    B(B+1)/2 block-pair table, one BLAS matmul per pair group. The new
    element is the two-level top-k: each group emits only its LOCAL
    top-k per vector under the exact final order (round-4 sim DESC,
    neighbor_id ASC — partial top-k under the same total order is
    lossless), so the merge shuffle carries N·B·k rows, never N² —
    followed by one vec_id-keyed window for the global top-k. Each
    executor still holds only 2·N/B vectors; nothing is collected.

    Float discipline: the kernel normalizes then BLAS-matmuls while the
    oracle sums dot/(norm·norm) left-to-right — different summation
    orders. Measured across ALL 124,750 fixture pairs at sf0.001 AND
    sf0.01: cross-method divergence ≤ 1.7e-16 vs a minimum round-4
    boundary distance of 2.0e-6 — a 10-order margin. The rounding TIE
    policy is structural, not fixture-dependent: the kernel rounds with
    ``np_round_half_away`` (vector.py), which reproduces DuckDB
    round(DOUBLE,4)'s std::round ties-away-from-zero exactly, so an
    exactly-half value can no longer flip a rank between engines; rank
    ties at equal rounded sims break on vec_id identically in both."""
    import math
    import os

    import numpy as np

    K = 5
    e = load_embeddings(spark, sf_dir).select("vec_id", "embedding")
    # QUOTIENTED by identical embedding (the dedup-kernel pattern): both
    # the probe side and the corpus side scale with N, so duplicate
    # density makes the block matmul quadratic in copies (the 100×
    # stress corpus would run 100× the unique-pair flops). Identical
    # vectors collapse to one representative; every keep below is
    # member-count-aware with margin K+1 (a member's non-self top-K is
    # contained in its with-self top-(K+1), and the self row is the only
    # one expansion removes). The diagonal (g, g) pair is kept — for
    # cnt ≥ 2 it carries the sim-1.0 sibling pairs; for cnt == 1 the
    # post-expansion vec≠neighbor filter drops it. Expansion only needs
    # each neighbor group's K+2 smallest member ids: expanded candidates
    # order by (sim DESC, id ASC), members of one group are sim-ties, so
    # at most K+1 non-self rows per group can rank — K+2 covers the one
    # possible self among them. With all counts 1 this reduces exactly
    # to the unquotiented kernel.
    from adlspark.llm.dedup import chunked_cartesian

    g = e.groupBy("embedding").agg(
        F.min("vec_id").alias("gid"),
        F.sort_array(F.collect_list("vec_id")).alias("members"),
        F.count(F.lit(1)).alias("cnt"),
    ).localCheckpoint(eager=False)  # lazy: first job materializes (both block sides + 2 expansions)
    # Block-count sizing (round 14): the per-task peak is the block-pair
    # sims matrix — (N_unique/B)² float64, allocated in the PYTHON
    # worker — so a parallelism-only B is corpus-size-blind: at 200k
    # unique vectors a forced B=8 puts a ~5 GB matrix inside one worker
    # and the kernel OOM-killer shoots it at 6.9 GB RSS, aborting the
    # job (measured; SCALE.md round-14 addendum). B now also scales
    # with the quotient size so a block holds ≤ ~2048 rows (sims ≤
    # 2048² ≈ 34 MB/task, bounded for any corpus — same rung measured
    # clean: 20.2B sims, B=98, 525 s at a 6 GB JVM); the count reads
    # off the already-materialized checkpoint, so it costs no extra
    # scan. Fixtures (≤ 2000 unique) keep B = max(8, √(2·parallelism))
    # — bit-identical plans.
    env_blocks = os.environ.get("ADLSPARK_SIM_BLOCKS")
    n_unique = g.count()
    n_blocks = (
        int(env_blocks)
        if env_blocks
        else max(
            8,
            math.ceil(math.sqrt(2 * spark.sparkContext.defaultParallelism)),
            # capped at 512: the B(B+1)/2 block-pair table is built
            # driver-side and broadcast, so an uncapped quotient term
            # would make IT quadratic in the corpus (~12M tuples at 10M
            # uniques). 512 keeps the pair table <= 131k rows and the
            # per-task sims bound holds to ~1M uniques (~2k rows/block)
            # — beyond that exact all-pairs kNN is the wrong operator
            # and the docstring's IVF/PQ handoff applies.
            min(math.ceil(n_unique / 2048), 512),
        )
    )
    eb = g.select("gid", "embedding", "cnt").withColumn(
        "blk", F.pmod(F.col("gid"), F.lit(n_blocks)).cast("int")
    )
    bp = tables.rows_df(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    left = eb.join(F.broadcast(bp), F.col("blk") == F.col("bi")).select(
        "bi", "bj", F.col("gid").alias("vec_id"), "embedding", "cnt",
        F.lit(0).alias("side"),
    )
    right = eb.join(F.broadcast(bp), F.col("blk") == F.col("bj")).select(
        "bi", "bj", F.col("gid").alias("vec_id"), "embedding", "cnt",
        F.lit(1).alias("side"),
    )

    def local_topk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {"vec_id": [], "neighbor_id": [], "sim": []}
        ).astype({"vec_id": "int64", "neighbor_id": "int64", "sim": "float64"})
        same_block = bool((pdf["bi"] == pdf["bj"]).iloc[0])
        sides = [pdf[pdf["side"] == s] for s in (0, 1)]
        if len(sides[0]) == 0 or len(sides[1]) == 0:
            return empty
        mats, idss, cntss = [], [], []
        for part in sides:
            ids = np.asarray(part["vec_id"], dtype=np.int64)
            m = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in part["embedding"]]
            )
            mats.append(m / np.linalg.norm(m, axis=1, keepdims=True))
            idss.append(ids)
            cntss.append(np.asarray(part["cnt"], dtype=np.int64))
        (lm, rm), (lid, rid), (lcnt, rcnt) = mats, idss, cntss
        sims = np_round_half_away(lm @ rm.T, 4)

        def topk_rows(src_ids, dst_ids, dst_cnt, sm):
            # count-aware local keep under the exact final order
            # (sim DESC, id ASC): keep every group whose strictly-better
            # expanded-row count is < K+1
            rows, cols, vals = [], [], []
            for i in range(len(src_ids)):
                # NaN sims (zero-norm or NaN-element vectors) have no
                # similarity and never enter a top-k — mirror the
                # oracle's NOT isnan / IS NOT NULL pre-rank filter
                fin = np.flatnonzero(np.isfinite(sm[i]))
                if fin.size == 0:
                    continue
                d_ids, d_cnt, s_row = dst_ids[fin], dst_cnt[fin], sm[i][fin]
                order = np.lexsort((d_ids, -s_row))
                neg = -s_row[order]  # ascending
                cum = np.cumsum(d_cnt[order])
                first_eq = np.searchsorted(neg, neg, side="left")
                better = np.where(first_eq > 0, cum[first_eq - 1], 0)
                keep = order[better < K + 1]
                rows.append(np.full(len(keep), src_ids[i], dtype=np.int64))
                cols.append(d_ids[keep])
                vals.append(s_row[keep])
            if not rows:
                return empty
            return pd.DataFrame(
                {
                    "vec_id": np.concatenate(rows),
                    "neighbor_id": np.concatenate(cols),
                    "sim": np.concatenate(vals),
                }
            )
        out = [topk_rows(lid, rid, rcnt, sims)]
        if not same_block:
            out.append(topk_rows(rid, lid, lcnt, sims.T))
        return pd.concat(out, ignore_index=True) if out else empty

    partial = (
        left.unionByName(right)
        .groupBy("bi", "bj")
        .applyInPandas(local_topk, "vec_id long, neighbor_id long, sim double")
    )
    # global count-aware keep over block survivors, then member expansion
    surv = partial.join(
        g.select(
            F.col("gid").alias("neighbor_id"),
            F.slice("members", 1, K + 2).alias("nbr_members"),
            F.col("cnt").alias("ncnt"),
        ),
        "neighbor_id",
    )
    w_cum = (
        Window.partitionBy("vec_id")
        .orderBy(F.desc("sim"), "neighbor_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tie = (
        Window.partitionBy("vec_id", "sim")
        .orderBy("neighbor_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = (
        surv.withColumn(
            "_better", F.sum("ncnt").over(w_cum) - F.sum("ncnt").over(w_tie)
        )
        .where(F.col("_better") < K + 1)
        .join(
            g.select(
                F.col("gid").alias("vec_id"),
                F.col("members").alias("src_members"),
            ),
            "vec_id",
        )
    )
    expanded = chunked_cartesian(
        kept, "src_members", "nbr_members", "vid", "nid", payload=("sim",)
    ).where(F.col("vid") != F.col("nid"))
    w = Window.partitionBy("vid").orderBy(F.desc("sim"), F.col("nid"))
    return (
        expanded.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= K)
        .select(
            F.col("vid").alias("vec_id"),
            F.col("nid").alias("neighbor_id"),
            "sim",
            "rnk",
        )
    )


def _mmr_oracle_sql(k: int = 8, lam: float = 0.7) -> str:
    """Unroll the greedy MMR chain into chained MATERIALIZED DuckDB
    CTEs (round-11 computed-oracle promotion, the greedy sibling of
    _kmeans_oracle_sql's fixed-round unroll).

    Mirrors llm_mmr_diverse_sample term by term: the domain filter
    (vector domain + NaN-free + positive norm), unit normalization and
    every dot product as identical left-to-right double folds, the
    corpus centroid as the exact-decimal per-dimension mean rounded to
    9 then normalized by the same fold, λ/(1−λ) emitted as the exact
    Python double literals (repr — 1−0.7 is 0.30000000000000004, not
    0.3), argmax via ORDER BY score DESC, vec_id LIMIT 1, and
    half-away-from-zero rounding of the reported score. A round whose
    pool is exhausted contributes zero rows, so pk{i} degrades to
    pk{i-1} exactly like the kernel's loop break."""
    from adlspark.ops.parity import _o_dec_total

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        )

    sq = (
        "list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    dx = _o_dec_total("x")
    w_lam, w_div = repr(float(lam)), repr(1.0 - float(lam))
    parts = [
        f"""WITH dom AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  WHERE {O_EMB_WHERE}
    AND len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) = 0
    AND sqrt({sq}) > 0
), cent AS MATERIALIZED (
  SELECT list(m ORDER BY pos) AS c FROM (
    SELECT pos,
           round(CAST(sum({dx}) AS DOUBLE) / count({dx}), 9) AS m
    FROM (SELECT generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM dom)
    GROUP BY pos)
), centn AS MATERIALIZED (
  SELECT CASE
           WHEN sqrt(list_sum(list_transform(c, u -> u * u))) > 0
           THEN list_transform(c, v -> v / sqrt(
                  list_sum(list_transform(c, u -> u * u))))
           ELSE c
         END AS c
  FROM cent
), scored AS MATERIALIZED (
  SELECT d.vec_id,
         list_transform(d.embedding,
                        x -> CAST(x AS DOUBLE) / sqrt({sq})) AS emb_n,
         {dot(
            'list_transform(d.embedding, x -> CAST(x AS DOUBLE) / sqrt(' + sq + '))',
            'cn.c')} AS rel
  FROM dom d CROSS JOIN centn cn
), pk1 AS MATERIALIZED (
  SELECT 1 AS pick_rank, vec_id, emb_n, rel AS score
  FROM scored ORDER BY rel DESC, vec_id LIMIT 1
)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""", t{i} AS MATERIALIZED (
  SELECT s.vec_id, s.emb_n,
         {w_lam} * s.rel - {w_div} * max({dot('s.emb_n', 'p.emb_n')}) AS score
  FROM scored s CROSS JOIN pk{i - 1} p
  WHERE s.vec_id NOT IN (SELECT vec_id FROM pk{i - 1})
  GROUP BY s.vec_id, s.emb_n, s.rel
  ORDER BY score DESC, s.vec_id LIMIT 1
), pk{i} AS MATERIALIZED (
  SELECT * FROM pk{i - 1}
  UNION ALL
  SELECT {i} AS pick_rank, vec_id, emb_n, score FROM t{i}
)"""
        )
    parts.append(
        f"""
SELECT CAST(pick_rank AS INT) AS pick_rank, vec_id,
       round(score, 6) AS score
FROM pk{k}"""
    )
    return "".join(parts)


def _mmr_round_score(df, picked_vecs, lam):
    """One MMR round's scoring as a narrow Arrow/numpy map (optimization
    round 14) — df must carry (vec_id, emb_n, rel); returns
    (vec_id, emb_n, score) with score = λ·rel − (1−λ)·max_p dot(emb_n, p)
    over the closure-shipped picked matrix. Bit-parity with the literal
    HOF form it replaces: dots are per-dimension left folds
    (``_np_fold_dot``), max over the picked axis matches array_max (all
    values non-NULL doubles; NaN — only reachable via an inf element
    that survives the load_embeddings gates — is greatest/propagates in
    both), and λ/(1−λ) are the same Python-computed double literals.
    emb_n rows are guaranteed dimension-uniform and element-non-NULL by
    load_embeddings; the scoring frame passes emb_n through so the
    argmax row's vector feeds the next round, exactly as before.
    Pinned by tests/test_plans.py::test_mmr_round_score_matches_hof."""
    P_l = [[float(x) for x in pv] for pv in picked_vecs]
    lam_l = float(lam)
    one_minus = 1 - lam

    def score(batch_iter):
        import numpy as np
        import pyarrow as pa

        P = np.asarray(P_l, dtype=np.float64)
        k, d = P.shape
        for batch in batch_iter:
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            emb = batch.column(names.index("emb_n"))
            rel = batch.column(names.index("rel")).to_numpy(
                zero_copy_only=False
            )
            X = emb.flatten().to_numpy(zero_copy_only=False).reshape(n, d)
            ms = _np_fold_dot(X, P).max(axis=1)
            s = lam_l * rel - one_minus * ms
            yield pa.record_batch(
                [
                    batch.column(names.index("vec_id")),
                    emb,
                    pa.array(s, type=pa.float64()),
                ],
                names=["vec_id", "emb_n", "score"],
            )

    return df.mapInArrow(
        score, "vec_id long, emb_n array<double>, score double"
    )


@query("llm_mmr_diverse_sample", oracle=_mmr_oracle_sql(k=8, lam=0.7))
def llm_mmr_diverse_sample(spark, sf_dir):
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) diverse
    subset selection: greedily pick k=8 vectors maximizing
    λ·relevance − (1−λ)·max-sim-to-already-picked (λ=0.7, relevance =
    cosine to the corpus centroid) — the standard recipe for choosing a
    small representative-but-diverse sample (eval seeds, annotation
    batches, prompt exemplars) from an embedding corpus.

    Scale shape: the centroid is one combinable aggregate; vectors are
    unit-normalized ONCE into a checkpointed column, so every cosine
    thereafter is a pure array dot (zip_with + aggregate — one compact
    expression node, not an unrolled per-dimension tree; the unrolled
    form cost 20 s in Catalyst analysis alone). Each of the k rounds
    ships the ≤k picked vectors as ONE array literal (model-sized
    state, like kmeans centroids), scores all candidates in one
    distributed pass, and collects exactly one argmax row via
    orderBy+limit(1) — TakeOrdered, no full sort. Driver traffic is k
    rows total; candidate data never moves.

    Value-oracle (round 11, promoted from rows-only): with the
    determinism discipline — double-first squares/dots as left-to-right
    folds (bit-parity per the o_dot result), the exact-decimal centroid
    mean rounded to 9, driver-side centroid normalization as an
    explicit left fold (numpy's pairwise summation would NOT mirror),
    and half-away-from-zero score rounding — the greedy chain is a pure
    corpus function, unrolled by _mmr_oracle_sql. The pytest bar
    additionally re-runs the selection in numpy and requires the same
    picked set and order, plus determinism across invocations."""
    import math

    from adlspark.ops.parity import DEC

    K, LAM = 8, 0.7
    # Domain: unit-normalizable vectors — a zero-norm vector has no
    # direction (its x/nrm would abort under ANSI) and a NaN element
    # poisons every cosine it touches. Squares are DOUBLE-first (a
    # float32 multiply would not mirror the oracle's double op tree).
    _nrm0 = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double") * x.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    e = load_embeddings(spark, sf_dir).where(
        ~F.exists("embedding", lambda x: F.isnan(x.cast("double")))
        & (_nrm0 > 0)
    ).select("vec_id", "embedding")
    # centroid: posexplode -> per-dimension exact-decimal mean (order-
    # independent, rounded 9 — the determinism discipline) —
    # map-side-combinable, driver receives dim rows (the model), never
    # the vectors
    _d = F.col("x").cast("double").try_cast(DEC)
    cent_rows = (
        e.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.round(F.sum(_d).cast("double") / F.count(_d), 9).alias("m"))
        .collect()
    )
    cent_v = [
        float(r["m"]) for r in sorted(cent_rows, key=lambda r: r["pos"])
    ]
    # normalize with an explicit left-to-right fold — numpy's pairwise
    # summation would not reproduce the oracle's list_sum order
    _cn = 0.0
    for v in cent_v:
        _cn += v * v
    _cn = math.sqrt(_cn)
    if _cn > 0:  # exact-cancellation centroid: keep unnormalized (oracle mirrors)
        cent_v = [v / _cn for v in cent_v]

    def dot_lit(col, vec):
        return F.aggregate(
            F.zip_with(col, F.lit([float(x) for x in vec]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    nrm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double") * x.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = (
        e.select(
            "vec_id",
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") / nrm
            ).alias("emb_n"),
        )
        .withColumn("rel", dot_lit(F.col("emb_n"), cent_v))
        .localCheckpoint(eager=False)
    )

    picked: list[tuple[int, float]] = []
    picked_vecs: list[list[float]] = []
    remaining = scored
    for _ in range(K):
        if picked_vecs:
            # Optimization round 14 (guide §4.1/§4.2): the max-sim term
            # was a GROWING picked-vector literal matrix folded by
            # interpreted zip_with/aggregate HOFs — a fresh analysis +
            # compile every round (the literals change) plus n·|picked|
            # interpreted dot folds. _mmr_round_score is one narrow
            # Arrow/numpy map with the picked matrix in the task
            # closure: per-dimension fold dots (bit-identical doubles,
            # _np_fold_dot), np.max ≡ array_max over clean doubles
            # (emb_n can carry NaN only via an inf element surviving
            # the load_embeddings gates, and NaN is greatest for BOTH
            # array_max and np.max propagation), and the identical
            # λ·rel − (1−λ)·max_sim arithmetic (same Python-computed
            # literals).
            to_rank = _mmr_round_score(remaining, picked_vecs, LAM)
        else:
            to_rank = remaining.select(
                "vec_id", "emb_n", F.col("rel").alias("score")
            )
        top = (
            to_rank.orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
            .head()
        )
        if top is None:  # pool exhausted (or empty partition): K > |pool|
            break
        picked.append((int(top["vec_id"]), float(top["score"])))
        picked_vecs.append([float(x) for x in top["emb_n"]])
        remaining = remaining.where(F.col("vec_id") != top["vec_id"])

    def _round_away(x: float, nd: int = 6) -> float:
        # DuckDB round(DOUBLE, n) is std::round — ties AWAY from zero;
        # Python round() is banker's. Same scalar trick as
        # vector.np_round_half_away.
        s = x * (10.0 ** nd)
        return math.copysign(math.floor(abs(s) + 0.5), s) / (10.0 ** nd)

    return tables.rows_df(
        spark,
        [(r + 1, vid, _round_away(s)) for r, (vid, s) in enumerate(picked)],
        "pick_rank int, vec_id long, score double",
    )
