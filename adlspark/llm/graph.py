"""Graph operators over the document-similarity graph.

Beyond connected components (llm_dedup_cluster), corpus curation uses
centrality: within a near-duplicate cluster the highest-centrality copy
is the natural canonical pick, and graph-wide PageRank surfaces template
hubs (boilerplate that near-duplicates *many* other pages) that exact
dedup misses. Edges come from the MinHash band buckets — the linear-time
candidate generator — so the graph build never goes all-pairs.

The iteration follows the classic Spark PageRank shape: ranks and
out-degrees live in DataFrames keyed by node, each round is one join +
one aggregate, lineage is truncated with localCheckpoint (same
discipline as llm_dedup_cluster's label propagation). Rank mass is a
probability distribution (sums to 1); dangling-node mass is
redistributed uniformly each round, so conservation is testable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from adlspark import tables
from adlspark.registry import query


def _band_edges(spark, sf_dir):
    """Undirected candidate edges: docs sharing any MinHash band bucket
    (4 bands x 2 rows over the 8 salted-md5 signatures). Linear in corpus
    size; bucket self-join only pairs docs inside a bucket."""
    from adlspark.llm.dedup import band_bucket_pairs, llm_minhash_signature

    sig = llm_minhash_signature(spark, sf_dir)
    pairs = band_bucket_pairs(sig, "doc_id").select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    )
    return pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


_SIG_MIN = ",\n".join(
    f"         min(CAST('0x' || substring(md5('{i}:' || s), 1, 8)"
    f" AS BIGINT)) AS sig{i}" for i in range(8)
)
_SIG_EQ = " AND ".join(f"ds.sig{i} = g.sig{i}" for i in range(8))
_SIG_COLS = ", ".join(f"sig{i}" for i in range(8))


def _pagerank_round_sql(r: int) -> str:
    """One unrolled Jacobi round as a MATERIALIZED CTE. Float op tree
    mirrors the kernel term by term — ``e0`` literals keep DuckDB in
    DOUBLE arithmetic (a bare 0.85 is DECIMAL there, and (1.0 - 0.85)
    in decimal is the exact 0.15, not the kernel's Python double
    0.15000000000000002); the only cross-engine difference left is the
    inflow sum's addition order, absorbed by the final round(rank, 9)."""
    return f"""r{r} AS MATERIALIZED (
  SELECT g.gid,
         (1e0 - 0.85e0) / nn.n
           + 0.85e0 * (coalesce(inf.inflow, 0e0) + dm.dm / nn.n) AS rank
  FROM g
  LEFT JOIN (
    SELECT e.dst AS gid, sum(r.rank * e.w) AS inflow
    FROM r{r - 1} r JOIN edges e ON r.gid = e.src GROUP BY e.dst
  ) inf USING (gid)
  CROSS JOIN (
    SELECT coalesce(sum(rank), 0e0) AS dm FROM r{r - 1}
    WHERE gid IN (SELECT gid FROM dang)
  ) dm
  CROSS JOIN nn
)"""


def _pagerank_oracle(rounds: int = 8) -> str:
    """Computed oracle for llm_graph_pagerank (round-11 promotion from
    rows-only): the signature CTE is llm_minhash_signature's oracle
    verbatim, the quotient-graph construction mirrors the kernel's
    lumped form (internal (k-1)-weight self edges, complete-bipartite
    class adjacency, per-member degree k-1+Σ k_adj), and the 8 damped
    rounds unroll into chained MATERIALIZED CTEs. A fixture-literal
    VALUES oracle would lie on every hostile corpus; this one computes."""
    rounds_sql = ",\n".join(_pagerank_round_sql(r) for r in range(1, rounds + 1))
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
  FROM w
), sig AS MATERIALIZED (
  SELECT doc_id,
{_SIG_MIN}
  FROM sh GROUP BY doc_id
), ds AS MATERIALIZED (
  SELECT d.doc_id, {", ".join(f"s.sig{i}" for i in range(8))}
  FROM documents d LEFT JOIN sig s USING (doc_id)
), g AS MATERIALIZED (
  SELECT min(doc_id) AS gid, CAST(count(*) AS BIGINT) AS k, {_SIG_COLS}
  FROM ds WHERE sig0 IS NOT NULL GROUP BY {_SIG_COLS}
  UNION ALL
  SELECT doc_id, CAST(1 AS BIGINT), {_SIG_COLS}
  FROM ds WHERE sig0 IS NULL
), memb AS MATERIALIZED (
  SELECT ds.doc_id, g.gid FROM ds JOIN g ON {_SIG_EQ}
  WHERE ds.sig0 IS NOT NULL
  UNION ALL
  SELECT doc_id, doc_id FROM ds WHERE sig0 IS NULL
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
), bands AS MATERIALIZED (
  SELECT gid, k, b.band,
         CASE b.band WHEN 0 THEN sig0 WHEN 1 THEN sig2
                     WHEN 2 THEN sig4 ELSE sig6 END AS bk1,
         CASE b.band WHEN 0 THEN sig1 WHEN 1 THEN sig3
                     WHEN 2 THEN sig5 ELSE sig7 END AS bk2
  FROM g, (SELECT unnest([0, 1, 2, 3]) AS band) b
  WHERE sig0 IS NOT NULL
), rp AS MATERIALIZED (
  SELECT DISTINCT a.gid AS src, c.gid AS dst, a.k AS ksrc, c.k AS kdst
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.bk1 = c.bk1 AND a.bk2 = c.bk2
   AND a.gid < c.gid
), nbk AS (
  -- CAST: DuckDB widens sum(BIGINT) to HUGEINT; deg would carry it
  -- into the edge-weight division (intermediate-CTE lint)
  SELECT gid, CAST(sum(nk) AS BIGINT) AS nbk FROM (
    SELECT src AS gid, kdst AS nk FROM rp
    UNION ALL SELECT dst AS gid, ksrc AS nk FROM rp
  ) GROUP BY gid
), deg AS MATERIALIZED (
  SELECT g.gid, CAST(g.k - 1 + coalesce(nbk.nbk, 0) AS BIGINT) AS deg
  FROM g LEFT JOIN nbk USING (gid)
), edges AS MATERIALIZED (
  SELECT e.src, e.dst, CAST(e.mult AS DOUBLE) / deg.deg AS w
  FROM (
    SELECT src, dst, ksrc AS mult FROM rp
    UNION ALL SELECT dst AS src, src AS dst, kdst AS mult FROM rp
    UNION ALL SELECT gid AS src, gid AS dst, k - 1 AS mult FROM g
    WHERE k >= 2
  ) e JOIN deg ON deg.gid = e.src
), dang AS MATERIALIZED (
  SELECT gid FROM g WHERE gid NOT IN (SELECT src FROM edges)
), r0 AS MATERIALIZED (
  SELECT gid, 1e0 / nn.n AS rank FROM g CROSS JOIN nn
),
{rounds_sql}
SELECT m.doc_id, round(r.rank, 9) AS rank
FROM memb m JOIN r{rounds} r ON r.gid = m.gid
"""


@query("llm_graph_pagerank", oracle=_pagerank_oracle())
def llm_graph_pagerank(spark, sf_dir):
    """PageRank over the near-duplicate candidate graph. 8 Jacobi
    iterations, d=0.85, uniform teleport, dangling mass redistributed
    uniformly. VALUE-ORACLED since round 11 (was rows-only): the
    iteration is a fixed-round deterministic function of the corpus, so
    it unrolls into DuckDB CTEs (``_pagerank_oracle``); the kernel's
    float op tree is mirrored term by term and round(rank, 9) absorbs
    the one remaining degree of freedom (inflow summation order).

    Scale shape: the static graph structure is built ONCE — edge
    transition weights (src, dst, 1/out-degree) are checkpointed before
    the loop — so each of the 8 iterations is a single job: ranks join
    edge-weights on src, dst-keyed sum. The dangling mass is a scalar
    CLOSED FORM (dangling ⟺ edgeless ⟺ zero inflow, so all dangling
    ranks are one value; dm_t = n_dang·r_t recurrence on the driver —
    two bounded driver scalars total: node count and dangling count).
    Rank partitioning is node-keyed and stable across rounds;
    localCheckpoint truncates the lineage every 4 rounds.
    """
    from adlspark.llm.dedup import band_bucket_pairs, llm_minhash_signature

    docs = tables.load(spark, sf_dir, "documents").select("doc_id")
    n = tables.fast_count(spark, sf_dir, "documents")
    if n == 0:  # empty partition: no nodes, no ranks (round-9 corpus)
        return tables.rows_df(spark, [], "doc_id long, rank double")

    # LUMPED (quotient-graph) iteration: docs with identical MinHash
    # signatures share every band bucket, so in the candidate graph they
    # are adjacent to exactly the same groups plus each other — a graph
    # automorphism orbit. Symmetric nodes have equal PageRank, so the
    # iteration runs exactly on signature classes: a class of size k is
    # an internal k-clique (self edge weight (k-1)/deg) and class
    # adjacency is complete-bipartite (edge h→g carries k_h/deg_h per
    # g-member). The 100× stress corpus (100 copies/doc) expands to
    # ~50M member edges — the expanded build OOM'd the aggregation —
    # while the quotient graph stays at the unique-corpus size; member
    # ranks are exactly their class rank, expanded at the end.
    sig_cols = [f"sig{i}" for i in range(8)]
    sig = llm_minhash_signature(spark, sf_dir)
    # lazy checkpoint (round 15): joined feeds TWO union branches below
    # (the isNotNull quotient and the defensive isNull singleton path),
    # and each branch re-evaluated the whole signature subtree — after
    # the Arrow kernel rewrite that is twice the full 8-salt mapInArrow
    # pass, since an opaque kernel is not column-prunable the way the
    # old per-salt expressions were. Rows are deterministic (doc_id +
    # min-aggregate signatures), so racing consumer stages compute
    # identical partitions; g's own materializing job computes this
    # cache in place — no extra scheduler round-trip.
    joined = docs.join(sig, "doc_id", "left").localCheckpoint(eager=False)
    # Sig-less docs (left-join miss) become SINGLETON classes, never one
    # merged all-NULL class: groupBy treats NULL keys as equal, and a
    # merged class of k ≥ 2 would get an internal self-edge — cycling
    # rank mass between docs that are ISOLATED dangling nodes in the
    # expanded graph. Unreachable today (every doc, even NULL text,
    # yields the [''] shingle and thus a signature — probed), but the
    # defensive path must be correct, not merely present.
    grouped = (
        joined.where(F.col(sig_cols[0]).isNotNull())
        .groupBy(*sig_cols)
        .agg(
            F.min("doc_id").alias("gid"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
            F.count(F.lit(1)).alias("k"),
        )
    )
    lone = joined.where(F.col(sig_cols[0]).isNull()).select(
        *sig_cols,
        F.col("doc_id").alias("gid"),
        F.array("doc_id").alias("members"),
        F.lit(1).cast("long").alias("k"),
    )
    # lazy (round 14): the n_dang count below materializes g and edge_w
    # in ONE job instead of three scheduler round-trips; rows are
    # deterministic (min/sort_array/count aggregates), so concurrent
    # consumer stages compute identical partitions
    g = grouped.unionByName(lone).localCheckpoint(eager=False)
    # shared banding helper — the sig-less singletons carry NULL band
    # keys and could never match the equi-join anyway; the pre-filter
    # just keeps their rows out of the bucket join
    rep_pairs = band_bucket_pairs(
        g.where(F.col(sig_cols[0]).isNotNull()), "gid", payload=("k",)
    ).select(
        F.col("id1").alias("src"),
        F.col("id2").alias("dst"),
        F.col("k1").alias("ksrc"),
        F.col("k2").alias("kdst"),
    )
    # per-member degree of class g: (k_g - 1) internal + Σ_adj k_h
    nbk = (
        rep_pairs.select(F.col("src").alias("gid"), F.col("kdst").alias("nk"))
        .unionByName(
            rep_pairs.select(F.col("dst").alias("gid"), F.col("ksrc").alias("nk"))
        )
        .groupBy("gid")
        .agg(F.sum("nk").alias("nbk"))
    )
    deg = g.select("gid", "k").join(nbk, "gid", "left").select(
        "gid",
        (F.col("k") - 1 + F.coalesce(F.col("nbk"), F.lit(0))).alias("deg"),
    )
    cross = rep_pairs.select(
        "src", "dst", F.col("ksrc").cast("double").alias("mult")
    ).unionByName(
        rep_pairs.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.col("kdst").cast("double").alias("mult"),
        )
    )
    self_e = g.where(F.col("k") >= 2).select(
        F.col("gid").alias("src"),
        F.col("gid").alias("dst"),
        (F.col("k") - 1).cast("double").alias("mult"),
    )
    edge_w = (
        cross.unionByName(self_e)
        .join(deg.withColumnRenamed("gid", "src"), "src")
        .select("src", "dst", (F.col("mult") / F.col("deg")).alias("w"))
        .localCheckpoint(eager=False)
    )
    # Round 15 (guide §2.4, the llm_dedup_cluster loop restructure):
    # hash-partition the cached edge weights on dst so each iteration's
    # inflow aggregate (groupBy gid == dst) needs NO exchange when ranks
    # ride in as a broadcast. The repartition subplan is planned with
    # AQE momentarily OFF because AdaptiveSparkPlan hides its
    # outputPartitioning from the checkpoint's LogicalRDD; only this
    # trivial scan->exchange loses AQE — the expensive graph build above
    # is checkpointed first, under AQE, unchanged.
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        edge_w = edge_w.repartition(p, F.col("dst")).localCheckpoint(eager=False)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
    # dangling classes: no incident edges at all (necessarily k == 1,
    # since k >= 2 classes carry their internal self edge). Their rank
    # trajectory is CLOSED-FORM (optimization round 14, guide §2.4):
    # a dangling class receives no inflow, so every dangling class
    # holds the identical rank r_t each round, and the dangling mass
    # is the scalar recurrence dm_t = n_dang·r_t,
    # r_{t+1} = (1-d)/n + d·dm_t/n. Computing it as a Python double
    # replaces the per-round semi-join + aggregate + BroadcastExchange
    # (8 broadcast builds) with a literal. Parity: the old form's
    # dm was a float sum over n_dang IDENTICAL doubles, whose
    # summation-order freedom the output's round(rank, 9) already
    # absorbs (same clause that licenses the oracle's own dm sum);
    # n_dang·r differs from any such sum by ≤ ulps. Verified
    # bit-identical on the sf0.1 collected output and HASH-PASS vs the
    # unrolled-CTE oracle at sf0.01/sf0.001.
    n_dang = g.select("gid").join(
        edge_w.select("src").distinct().withColumnRenamed("src", "gid"),
        "gid",
        "left_anti",
    ).count()

    d = 0.85
    r_dang = 1.0 / n
    # rank rows = quotient classes <= n docs; same broadcast size gate
    # as the CC label loop (a rank row is a long + a double)
    from adlspark.llm.dedup import LABEL_BROADCAST_CAP

    small = n <= LABEL_BROADCAST_CAP
    ranks = g.select("gid", F.lit(1.0 / n).alias("rank"))
    for it in range(8):
        # dangling ⟹ k == 1, so class rank sum == member rank sum
        dm = n_dang * r_dang
        rk = F.broadcast(ranks) if small else ranks
        contribs = (
            edge_w.join(rk, ranks.gid == edge_w.src)
            .select(F.col("dst").alias("gid"), (F.col("rank") * F.col("w")).alias("c"))
            .groupBy("gid")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            g.select("gid")
            .join(contribs, "gid", "left")
            .select(
                "gid",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.lit(dm / n))
                ).alias("rank"),
            )
        )
        r_dang = (1.0 - d) / n + d * (dm / n)
        # Lineage truncation: with the dm subplan gone each round is one
        # join+agg, so four rounds compose into a shallow plan — every-4
        # halves the materialization jobs vs the old every-2 cadence
        # (A/B probed this round: every-2 2.3 s, every-4/8 ~2.0 s).
        if it % 4 == 3:
            # lazy: no mid-loop materialization job — the final expand
            # job computes through both checkpoint caches in one pass;
            # the checkpoint still truncates the LOGICAL plan each 4
            # rounds, which is what keeps Catalyst analysis bounded
            ranks = ranks.localCheckpoint(eager=False)
    return (
        g.select("gid", "members")
        .join(ranks, "gid")
        .select(
            F.explode("members").alias("doc_id"),
            F.round("rank", 9).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), "doc_id")
    )


@query(
    "llm_graph_triangles",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
), pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        >= 0.95
), tri AS (
  SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.id1 = e1.id2
  JOIN pairs e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2
), nodes AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT doc_id, count(*) AS n_triangles
FROM nodes GROUP BY doc_id
""",
)
def llm_graph_triangles(spark, sf_dir):
    """Per-node triangle counts on the >=0.95 Jaccard similarity graph —
    the local-clustering primitive that separates true duplicate
    CLUSTERS (triangle-dense near-cliques, safe to collapse) from chain
    artifacts (A~B~C with A,C genuinely different: zero triangles).

    Scale shape — QUOTIENT-GRAPH counting. Docs with identical token
    sets form identity groups; within a group every pair is an edge
    (J=1.0) and a cross-group member pair exists iff the representative
    pair does (identical sets -> identical Jaccard). The expanded graph
    is therefore EXACTLY the clique blow-up of the representative
    graph, and per-member triangle counts have a closed form from
    rep-level quantities — for a member of group A (size a):

        T = C(a-1,2)                       -- both others inside A
          + (a-1) * sum_{B~A} b            -- one in A, one in adjacent B
          + sum_{B~A} C(b,2)               -- both in the same adjacent B
          + sum_{rep triangles {A,B,C}} b*c  -- two distinct adjacent groups

    so the iteration (degree-ordered wedge enumeration, the Suri &
    Vassilvitskii MapReduce scheme) runs ONLY on the representative
    graph. This matters enormously on dup-dense corpora: the first
    (expanded) implementation enumerated wedges inside blown-up
    cliques — Theta(k^3) per k-clique — and filled 80 GB of shuffle on
    the 10x-skew stress set before dying; the quotient form's stress
    cost tracks the REP graph, which dedup density shrinks rather than
    grows. Empty-token groups carry no edges (0/0 Jaccard is NaN) and
    are excluded up front, matching the pair kernel's expansion rule.
    """
    from adlspark.llm.dedup import prefix_filter_pairs

    # NOT spread: the map side here is a plain array_distinct(split) —
    # round-14 interleaved A/B read 1.10× WITH the fan-out (exchange
    # overhead, nothing heavy to parallelize)
    d = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    g, rep_pairs = prefix_filter_pairs(d, tau=0.95, expand=False)
    grp = (
        g.where(F.size("toks") > 0)
        .select("gid", "members", F.size("members").cast("long").alias("a"))
        .localCheckpoint(eager=False)
    )
    sizes = grp.select(F.col("gid").alias("node"), "a")
    # Rep-edge-set-sized (the quotient graph, shrunk by dup density).
    # Checkpointed because the wedge enumeration below consumes it SIX
    # ways (und x2, ranked, oriented's two aliases, closure): without
    # this the final plan replayed the entire prefix-filter candidate
    # join + verify once per consumer — 140 Exchanges / 86 joins in the
    # round-14 before plan vs 26 Exchanges after, and the candidate
    # join is the one corpus-sized stage here (guide §3.3: materialise
    # an intermediate consumed by many branches). Lazy: the first
    # downstream job materializes it.
    rp = rep_pairs.select("id1", "id2").localCheckpoint(eager=False)
    und = rp.unionByName(
        rp.select(F.col("id2").alias("id1"), F.col("id1").alias("id2"))
    )

    # adjacency sums per rep: S1 = sum of neighbor sizes, S2 = sum C(b,2)
    adj = (
        und.join(
            sizes.select(F.col("node").alias("id2"), F.col("a").alias("b")),
            "id2",
        )
        .groupBy("id1")
        .agg(
            F.sum("b").alias("s1"),
            F.sum((F.col("b") * (F.col("b") - 1)) / 2).cast("long").alias("s2"),
        )
        .select(F.col("id1").alias("node"), "s1", "s2")
    )

    # rep-graph triangles via degree-ordered wedges (tiny after quotient)
    deg = und.groupBy(F.col("id1").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    d1 = deg.select(F.col("node").alias("id1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("node").alias("id2"), F.col("deg").alias("deg2"))
    ranked = rp.join(d1, "id1").join(d2, "id2")
    lower_first = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("id1") < F.col("id2"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("id1")).otherwise(F.col("id2")).alias("src"),
        F.when(lower_first, F.col("id2")).otherwise(F.col("id1")).alias("dst"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (F.col("e1.dst") < F.col("e2.dst")),
    ).select(
        F.col("e1.src").alias("u"),
        F.col("e1.dst").alias("v"),
        F.col("e2.dst").alias("w"),
    )
    closure = rp.select(F.col("id1").alias("cv"), F.col("id2").alias("cw"))
    tri = wedges.join(
        closure,
        (F.least("v", "w") == F.col("cv"))
        & (F.greatest("v", "w") == F.col("cw")),
    ).select("u", "v", "w")

    # weighted per-rep triangle mass: triangle {u,v,w} adds b*c to u etc.
    tri_sized = (
        tri.join(sizes.select(F.col("node").alias("u"), F.col("a").alias("au")), "u")
        .join(sizes.select(F.col("node").alias("v"), F.col("a").alias("av")), "v")
        .join(sizes.select(F.col("node").alias("w"), F.col("a").alias("aw")), "w")
    )
    tw = (
        tri_sized.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("node"), (F.col("av") * F.col("aw")).alias("m")),
                    F.struct(F.col("v").alias("node"), (F.col("au") * F.col("aw")).alias("m")),
                    F.struct(F.col("w").alias("node"), (F.col("au") * F.col("av")).alias("m")),
                )
            ).alias("e")
        )
        .select("e.node", "e.m")
        .groupBy("node")
        .agg(F.sum("m").alias("tw"))
    )

    per_rep = (
        grp.select(F.col("gid").alias("node"), "members", "a")
        .join(adj, "node", "left")
        .join(tw, "node", "left")
        .select(
            "members",
            (
                ((F.col("a") - 1) * (F.col("a") - 2) / 2).cast("long")
                + (F.col("a") - 1) * F.coalesce(F.col("s1"), F.lit(0))
                + F.coalesce(F.col("s2"), F.lit(0))
                + F.coalesce(F.col("tw"), F.lit(0))
            ).alias("n_triangles"),
        )
        .where(F.col("n_triangles") > 0)
    )
    return per_rep.select(
        F.explode("members").alias("doc_id"), "n_triangles"
    )
