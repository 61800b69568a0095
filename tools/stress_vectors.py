#!/usr/bin/env python
"""Vector-side adversarial scale rungs (VERDICT r13 item 3).

The text dedup ladder has measured 1×/10×/100× dup-dense AND dup-free
rungs (SCALE.md); this is the embedding analogue for the ANN operators
`llm_ann_ivf`, `llm_ann_ivf_pq`, `llm_knn_graph`, `llm_semantic_dedup`.
Two corpus shapes, mirroring the text side:

- **dense** (dup-dense): COPIES exact copies of every sf0.1 embedding
  under fresh vec_ids. The quotient (collapse identical embeddings to
  one representative) must absorb the blow-up: unique-vector work is
  constant across rungs, only expansion grows.
- **unique** (dup-free, adversarial): COPIES per-copy perturbed
  variants — every coordinate shifted by a deterministic
  xxhash64(vec_id, copy, pos)-keyed offset in ±5e-4 — so every vector
  is unique w.h.p. (quotienting collapses NOTHING), while the label/
  cell geometry of the base corpus is preserved. This is the rung that
  measures the kernels' real unique-vector scaling.

Candidate-volume counters (the IVF analogue of the LSH
614-candidates-of-1.25e11 measurement, SCALE.md round 13):

- ivf: Σ over (unique probe, its nprobe=3 nearest cells) of the probed
  cell's unique-vector size — the exact row count of the kernel's
  probe×cell search join, reconstructed here with the same centroid →
  argmax assignment → nprobe probing steps at counter precision.
- pq: unique_probes × unique_vectors — the scan is exhaustive BY
  DESIGN (PQ is the memory lever, IVF the pruning lever; the kernel's
  docstring composes them in production), so the counter documents the
  scan volume the block scheme must bound per task, not a pruning win.
- knn: Σ over block pairs (i ≤ j) of n_i·n_j — the dense sims volume
  the block matmul computes — plus the B chosen by the kernel's
  sizing rule and the peak per-task sims matrix in MB.
- semantic: SRP bucket count + max bucket size (the widest reducer).

Usage:
    python tools/stress_vectors.py build 10 unique   # /tmp/sfvec10u
    python tools/stress_vectors.py run 10 unique
    python tools/stress_vectors.py build 100 dense   # /tmp/sfvec100d
    python tools/stress_vectors.py run 100 dense [key ...]

STRESS_VEC_MEM bounds the JVM (default 6g — the commodity-heap bar the
text rungs are measured at). Results are appended to SCALE.md by hand
with the measuring session's numbers.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SRC = os.environ.get("STRESS_SRC", "/root/testdata/sf0.1")

KEYS = [
    "llm_semantic_dedup", "llm_ann_ivf", "llm_ann_ivf_scaled",
    "llm_ann_ivf_pq", "llm_knn_graph",
]

ID_STRIDE = 10_000_000  # copy c of vec v gets vec_id v + c*ID_STRIDE
# (stride % 100 == 0, so the %100 probe set scales with the corpus on
# both shapes, exactly like the base fixture's)


def dst(copies: int, shape: str) -> str:
    return f"/tmp/sfvec{copies}{shape[0]}"


def build(spark, copies: int, shape: str):
    from pyspark.sql import functions as F

    out = dst(copies, shape)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents",
    ]:
        shutil.copyfile(
            os.path.join(SRC, f"{t}.parquet"), os.path.join(out, f"{t}.parquet")
        )

    e = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    copies_df = spark.range(copies).select(F.col("id").alias("copy"))
    rep = e.crossJoin(copies_df).select(
        (F.col("vec_id") + F.col("copy") * ID_STRIDE).alias("vec_id"),
        F.col("copy"),
        "embedding",
        "label",
    )
    if shape == "unique":
        # deterministic per-(vec, copy, coordinate) offsets in ±5e-4:
        # far above float32 eps and the PQ 1e-6 grid (visible to every
        # kernel), far below the cell geometry (labels stay coherent)
        rep = rep.withColumn(
            "embedding",
            F.expr(
                "transform(embedding, (x, i) -> cast(x +"
                " (pmod(xxhash64(vec_id, copy, i), 1001) - 500) * 1e-6"
                " as float))"
            ),
        )
    (
        rep.select("vec_id", "embedding", "label")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(out + "/_emb")
    )
    # single-file layout like the fixtures: coalesce the part files
    import glob as _glob

    files = _glob.glob(out + "/_emb/part-*.parquet")
    if len(files) == 1:
        shutil.move(files[0], os.path.join(out, "embeddings.parquet"))
    else:
        spark.read.parquet(out + "/_emb").coalesce(1).write.mode(
            "overwrite"
        ).parquet(out + "/_emb1")
        shutil.move(
            _glob.glob(out + "/_emb1/part-*.parquet")[0],
            os.path.join(out, "embeddings.parquet"),
        )
        shutil.rmtree(out + "/_emb1", ignore_errors=True)
    shutil.rmtree(out + "/_emb", ignore_errors=True)
    n = spark.read.parquet(os.path.join(out, "embeddings.parquet")).count()
    print(f"built {out}: {n} vectors ({copies}x {shape})", flush=True)


def _quotient(spark, sf_dir):
    from pyspark.sql import functions as F

    from adlspark.llm.similarity import load_embeddings

    e = load_embeddings(spark, sf_dir).select("vec_id", "embedding", "label")
    return e.groupBy("embedding").agg(
        F.min("vec_id").alias("gid"),
        F.min("label").alias("label"),
        F.sort_array(F.collect_list("vec_id")).alias("members"),
    )


def ivf_candidates(spark, sf_dir, nprobe=3, trained=False) -> dict:
    """Unique-level probe×cell join volume of llm_ann_ivf (label-mean
    cells) or llm_ann_ivf_scaled (``trained=True``: the kernel's OWN
    √N-cell Lloyd trainer) — the same centroid → argmax cell assignment
    → nprobe probing the kernel runs (counter precision: plain doubles
    for the label means; the trained path reuses kmeans_cells
    verbatim, so its cells are the kernel's exactly)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from adlspark.llm.similarity import cosine

    g = _quotient(spark, sf_dir).localCheckpoint(eager=True)
    if trained:
        import math

        from adlspark.llm.similarity import kmeans_cells
        from adlspark.tables import rows_df

        k = int(math.ceil(math.sqrt(g.count())))
        cent = rows_df(
            spark, kmeans_cells(spark, g, k=k, iters=2),
            "cell int, centroid array<double>",
        )
    else:
        expl = g.select("label", F.posexplode("embedding")).select(
            "label", "pos", F.col("col").cast("double").alias("val")
        )
        cent = (
            expl.groupBy("label", "pos")
            .agg(F.round(F.avg("val"), 9).alias("c"))
            .groupBy("label")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc")
            )
            .select(
                F.col("label").alias("cell"),
                F.transform("pc", lambda s: s.getField("c")).alias("centroid"),
            )
        )
    w = Window.partitionBy("gid").orderBy(F.desc("csim"), F.col("cell"))
    ranked = (
        g.crossJoin(F.broadcast(cent))
        .select(
            "gid",
            "members",
            "cell",
            cosine(F.col("embedding"), F.col("centroid")).alias("csim"),
        )
        .withColumn("r", F.row_number().over(w))
    )
    cell_sizes = (
        ranked.where(F.col("r") == 1)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("csz"))
    )
    probe_cells = ranked.where(
        (F.col("r") <= nprobe)
        & (F.size(F.expr("filter(members, m -> m % 100 = 0)")) > 0)
    ).select("gid", "cell")
    row = (
        probe_cells.join(cell_sizes, "cell")
        .agg(
            F.coalesce(F.sum("csz"), F.lit(0)).alias("cand"),
            F.countDistinct("gid").alias("probes"),
        )
        .collect()[0]
    )
    n_u = g.count()
    out = {
        "unique": n_u,
        "probes_unique": int(row["probes"]),
        "ivf_candidates": int(row["cand"]),
        "all_pairs": int(row["probes"]) * n_u,
    }
    if trained:
        out["n_cells"] = cent.count()
    return out


def knn_block_stats(spark, sf_dir) -> dict:
    """B under the kernel's round-14 sizing rule, the dense sims volume
    Σ n_i·n_j over block pairs (i ≤ j), and the peak per-task matrix."""
    from pyspark.sql import functions as F

    g = _quotient(spark, sf_dir)
    n_u = g.count()
    b = max(
        8,
        math.ceil(math.sqrt(2 * spark.sparkContext.defaultParallelism)),
        math.ceil(n_u / 2048),
    )
    sizes = {
        r["blk"]: r["n"]
        for r in g.select(F.pmod(F.col("gid"), F.lit(b)).alias("blk"))
        .groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    ns = [sizes.get(i, 0) for i in range(b)]
    pair_rows = sum(
        ns[i] * ns[j] for i in range(b) for j in range(i, b)
    )
    peak = max(
        (ns[i] * ns[j] for i in range(b) for j in range(i, b)), default=0
    )
    return {
        "unique": n_u,
        "n_blocks": b,
        "sims_rows": pair_rows,
        "peak_task_sims_mb": round(peak * 8 / 1e6, 1),
    }


def srp_bucket_stats(spark, sf_dir) -> dict:
    from pyspark.sql import functions as F

    from adlspark.llm.similarity import load_embeddings, srp_codes

    coded = srp_codes(load_embeddings(spark, sf_dir))
    row = (
        coded.groupBy("srp_code")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket"),
        )
        .collect()[0]
    )
    return {"srp_buckets": int(row["buckets"]), "max_bucket": int(row["max_bucket"])}


def run(spark, copies: int, shape: str, only=None):
    from adlspark import registry

    sf_dir = dst(copies, shape)
    queries = registry.all_queries()
    for key in only or KEYS:
        t0 = time.time()
        n = queries[key](spark, sf_dir).count()
        sec = round(time.time() - t0, 2)
        extra: dict = {}
        if key == "llm_ann_ivf":
            extra = ivf_candidates(spark, sf_dir)
        elif key == "llm_ann_ivf_scaled":
            extra = ivf_candidates(spark, sf_dir, trained=True)
        elif key == "llm_ann_ivf_pq":
            c = ivf_candidates(spark, sf_dir)
            extra = {
                "unique": c["unique"],
                "probes_unique": c["probes_unique"],
                "scan_volume": c["all_pairs"],
            }
        elif key == "llm_knn_graph":
            extra = knn_block_stats(spark, sf_dir)
        elif key == "llm_semantic_dedup":
            extra = srp_bucket_stats(spark, sf_dir)
        print(
            json.dumps(
                {"key": key, "copies": copies, "shape": shape, "sec": sec,
                 "rows": n, **extra}
            ),
            flush=True,
        )


def main():
    from pyspark.sql import SparkSession

    from adlspark import session

    mode, copies, shape = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    assert shape in ("dense", "unique"), shape
    mem = os.environ.get("STRESS_VEC_MEM", "6g")
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", mem)
        .appName(f"stress-vectors-{mode}-{copies}{shape[0]}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    session.configure(spark)
    if mode == "build":
        build(spark, copies, shape)
    else:
        run(spark, copies, shape, only=sys.argv[4:] or None)


if __name__ == "__main__":
    main()
