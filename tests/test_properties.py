"""Property-based spot checks (SURVEY.md §5.4): randomized predicates and
window invariants, Spark vs DuckDB on the same fixtures."""

from __future__ import annotations

import operator

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from adlspark import tables

_COLS = {
    "o_totalprice": st.floats(min_value=0, max_value=550000, allow_nan=False),
    "o_custkey": st.integers(min_value=0, max_value=2000),
}
_OPS = {
    ">": operator.gt,
    "<": operator.lt,
    ">=": operator.ge,
    "<=": operator.le,
}

predicate = st.tuples(
    st.sampled_from(sorted(_COLS)),
    st.sampled_from(sorted(_OPS)),
    st.data(),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=predicate)
def test_random_filter_matches_duckdb(pred, spark, ddb, sf_dir):
    colname, opname, data = pred
    value = data.draw(_COLS[colname], label="value")
    o = tables.load(spark, sf_dir, "orders")
    spark_n = o.filter(_OPS[opname](F.col(colname), F.lit(value))).count()
    ddb_n = ddb.execute(
        f"SELECT count(*) FROM orders WHERE {colname} {opname} {value!r}"
    ).fetchone()[0]
    assert spark_n == ddb_n


def test_running_count_equals_row_number(spark, sf_dir):
    """Window-frame invariant: a running sum of 1s is row_number."""
    o = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    df = o.select(
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("rc"),
    )
    assert df.filter(F.col("rn") != F.col("rc")).count() == 0


def test_dedup_is_minimal_and_subset(spark, sf_dir):
    """ts_dedup: exactly one survivor per (user, type, minute); survivors
    are a subset of the input."""
    from adlspark.ops.timeseries import ts_dedup

    out = ts_dedup(spark, sf_dir)
    groups = out.groupBy("user_id", "event_type", "minute_bucket").count()
    assert groups.filter(F.col("count") > 1).count() == 0
    ev_ids = {r.event_id for r in tables.events(spark, sf_dir).select("event_id").collect()}
    assert all(r.event_id in ev_ids for r in out.collect())


@pytest.mark.parametrize("how", ["left_semi", "left_anti"])
def test_semi_anti_partition_customer(spark, sf_dir, how):
    """semi(J) ∪ anti(J) partitions the left table for any join pred."""
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    pred = c.c_custkey == o.o_custkey
    semi = c.join(o, pred, "left_semi").count()
    anti = c.join(o, pred, "left_anti").count()
    if how == "left_semi":
        assert semi + anti == c.count()
    else:
        assert anti == c.count() - semi


@pytest.mark.parametrize("tau,seed", [(0.95, 1), (0.8, 2), (0.5, 3)])
def test_prefix_filter_pairs_matches_brute_force(spark, tau, seed):
    """The prefix-filter kernel's core claim — EXACT results, zero false
    negatives — verified against a brute-force O(n²) Jaccard on adversarial
    random corpora: tiny shared vocabularies (hot tokens in every prefix),
    near-identical doc families straddling the threshold, and multiple
    langs. Any missed pair is a correctness bug, not a tuning issue."""
    import itertools
    import random

    from adlspark.llm.dedup import prefix_filter_pairs

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]  # small vocab: hot tokens
    docs = []
    doc_id = 0
    for fam in range(12):  # families of near-identical docs
        base = rng.sample(vocab, rng.randint(5, 18))
        lang = rng.choice(["en", "de"])
        for _ in range(rng.randint(1, 4)):
            toks = list(base)
            for _ in range(rng.randint(0, 2)):  # small mutations
                if rng.random() < 0.5 and len(toks) > 3:
                    toks.remove(rng.choice(toks))
                else:
                    w = rng.choice(vocab)
                    if w not in toks:
                        toks.append(w)
            docs.append((doc_id, lang, sorted(set(toks))))
            doc_id += 1

    expected = set()
    for (i1, l1, t1), (i2, l2, t2) in itertools.combinations(docs, 2):
        if l1 != l2:
            continue
        inter = len(set(t1) & set(t2))
        if inter / (len(t1) + len(t2) - inter) >= tau:
            expected.add((min(i1, i2), max(i1, i2)))

    d = spark.createDataFrame(
        docs, "doc_id long, lang string, toks array<string>"
    ).localCheckpoint(eager=True)
    got = {
        (r.id1, r.id2) for r in prefix_filter_pairs(d, tau=tau).collect()
    }
    assert got == expected


def test_doc_chunk_invariants(spark, sf_dir):
    """Chunking must cover every token (no boundary loss), start chunks
    exactly at stride multiples, keep every chunk within [1, 32] tokens,
    and make consecutive chunks overlap by chunk-stride tokens — the
    invariants that let a downstream tokenizer reconstruct context."""
    from adlspark.registry import all_queries

    rows = all_queries()["llm_doc_chunk"](spark, sf_dir).collect()
    docs = {}
    for r in rows:
        docs.setdefault(r.doc_id, []).append(r)
    d = {
        r.doc_id: len(r.text.split(" "))
        for r in tables.load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    for doc_id, chunks in docs.items():
        chunks.sort(key=lambda r: r.chunk_id)
        n = d[doc_id]
        # chunk ids are dense 0..k-1 and starts cover all n tokens
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        covered = 0
        for c in chunks:
            start = c.chunk_id * 24
            assert 1 <= c.n_tokens <= 32
            assert c.n_tokens == min(32, n - start)
            assert len(c.chunk_text.split(" ")) == c.n_tokens
            covered = max(covered, start + c.n_tokens)
        assert covered == n  # every token is in at least one chunk


def test_stratified_sample_is_deterministic_and_stratified(spark, sf_dir):
    """Sample membership is a pure function of doc_id: two runs agree
    exactly; and every lang's kept count stays at or under its threshold
    expectation band (the point of per-stratum rates)."""
    from adlspark.registry import all_queries

    q = all_queries()["llm_stratified_sample"]
    a = sorted((r.doc_id, r.lang) for r in q(spark, sf_dir).collect())
    b = sorted((r.doc_id, r.lang) for r in q(spark, sf_dir).collect())
    assert a == b
    per_lang = {}
    for _id, lang in a:
        per_lang[lang] = per_lang.get(lang, 0) + 1
    totals = {
        r.lang: r.n
        for r in tables.load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for lang, kept in per_lang.items():
        # small strata (≤100 docs) are kept whole; larger ones sample
        if totals[lang] <= 100:
            assert kept == totals[lang]
        else:
            assert kept < totals[lang]


def test_pagerank_mass_conservation_and_determinism(spark, sf_dir):
    """PageRank is a probability distribution over docs: total mass 1
    (teleport + damped inflow + redistributed dangling mass account for
    every unit), every rank at least the teleport floor (1-d)/N, and the
    iteration is deterministic (pure function of the fixture corpus)."""
    from adlspark.registry import all_queries

    q = all_queries()["llm_graph_pagerank"]
    rows = q(spark, sf_dir).collect()
    n = len(rows)
    mass = sum(r["rank"] for r in rows)
    assert abs(mass - 1.0) < 1e-6
    floor = (1.0 - 0.85) / n
    assert all(r["rank"] >= floor - 1e-12 for r in rows)
    again = q(spark, sf_dir).collect()
    assert sorted((r.doc_id, r["rank"]) for r in rows) == sorted(
        (r.doc_id, r["rank"]) for r in again
    )


def test_bpe_pair_count_matches_python_recount(spark, sf_dir):
    """The top-50 weighted pair counts agree with a direct Python recount
    over the corpus (independent of the vocab-collapse optimization)."""
    from collections import Counter

    from adlspark.registry import all_queries

    docs = tables.load(spark, sf_dir, "documents").select("text").collect()
    counts = Counter()
    for (text,) in docs:
        for w in text.split(" "):
            for i in range(len(w) - 1):
                counts[w[i : i + 2]] += 1
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [
        (r.pair, r.pair_count)
        for r in all_queries()["llm_bpe_pair_count"](spark, sf_dir).collect()
    ]
    assert got == expect


def test_kmeans_inertia_monotone_and_assignment_optimal(spark, sf_dir):
    """Lloyd's invariants: per-iteration inertia never increases;
    the run is deterministic; and every point's final cluster is the
    argmin over the final centroids (recomputed independently here)."""
    from adlspark.llm.similarity import kmeans_fit

    df, hist = kmeans_fit(spark, sf_dir, k=8, iters=5, track_inertia=True)
    assert all(b <= a + 1e-9 for a, b in zip(hist, hist[1:]))
    rows = df.collect()
    assert len({r.cluster for r in rows}) <= 8
    again, _ = kmeans_fit(spark, sf_dir, k=8, iters=5)
    assert sorted((r.vec_id, r.cluster) for r in rows) == sorted(
        (r.vec_id, r.cluster) for r in again.collect()
    )
    # independent optimality check: centroids from the final assignment,
    # then every point must sit in its nearest centroid's cluster
    import numpy as np

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in tables.load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    by_c = {}
    for r in rows:
        by_c.setdefault(r.cluster, []).append(emb[r.vec_id])
    cents = {c: np.mean(v, axis=0) for c, v in by_c.items()}
    # one more Lloyd step from these centroids cannot increase inertia
    cur = sum(
        float(np.sum((emb[r.vec_id] - cents[r.cluster]) ** 2)) for r in rows
    )
    best = sum(
        min(float(np.sum((emb[r.vec_id] - c) ** 2)) for c in cents.values())
        for r in rows
    )
    assert best <= cur + 1e-9


def test_dsir_weights_favor_target_domain(spark, sf_dir):
    """The semantic point of importance weighting: documents from the
    target domain ('en') must have a higher mean log-weight than the
    rest of the corpus — otherwise the tilt is broken even if the
    arithmetic matches the oracle."""
    from adlspark.registry import all_queries

    w = all_queries()["llm_dsir_weight"](spark, sf_dir)
    d = tables.load(spark, sf_dir, "documents").select("doc_id", "lang")
    j = w.join(d, "doc_id").groupBy(F.col("lang") == "en").agg(
        F.avg("log_weight").alias("m")
    )
    rows = {r[0]: r["m"] for r in j.collect()}
    assert rows[True] > rows[False]


def test_compaction_reduces_file_count_preserves_rows(spark, sf_dir):
    """Compaction must reduce the file count without touching a row."""
    from adlspark.registry import all_queries

    rows = {
        r["phase"]: r
        for r in all_queries()["lake_compact_small_files"](spark, sf_dir).collect()
    }
    assert rows["after"]["n_files"] < rows["before"]["n_files"]
    assert rows["after"]["n_files"] >= 1
    # row preservation checked against the source table directly
    from adlspark import tables
    from adlspark.io.ingest import work_dir
    import os

    n_src = tables.load(spark, sf_dir, "orders").count()
    n_after = spark.read.parquet(
        os.path.join(work_dir(sf_dir, "compaction"), "compacted")
    ).count()
    assert n_after == n_src


def test_pq_ann_recall_and_determinism(spark, sf_dir):
    """PQ is lossy by design; the check is that (a) quantization preserves
    neighborhood structure — mean recall@10 of the ADC scan vs exact
    L2 top-10 stays above a floor calibrated on the fixture — and (b) the
    whole pipeline (sampled training, Arrow encoding, blocked search) is
    bit-deterministic across runs."""
    import numpy as np

    from adlspark.registry import all_queries

    qs = all_queries()
    got = qs["llm_ann_ivf_pq"](spark, sf_dir).collect()
    by_probe: dict[int, list[int]] = {}
    for r in got:
        by_probe.setdefault(r["probe_id"], []).append(r["neighbor_id"])

    e = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in tables.load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    ids = np.asarray(sorted(e), dtype=np.int64)
    mat = np.stack([e[i] for i in ids])
    recalls = []
    for pid, approx in by_probe.items():
        d = ((mat - e[pid][None, :]) ** 2).sum(axis=1)
        exact = ids[np.lexsort((ids, d))[:10]]
        recalls.append(len(set(exact) & set(approx)) / 10.0)
    assert by_probe, "no probes produced results"
    # The synthetic embeddings are near-uniform random — PQ's worst case
    # (true-neighbor distance gaps are tiny vs quantization error), so the
    # floor is calibrated against CHANCE, not a real-corpus recall: random
    # ranking recalls 10/N ≈ 0.02 here; measured mean is ~0.32 (16x
    # chance). A floor of 0.15 (7x chance) catches a broken encoder or a
    # mis-gathered LUT while tolerating sampling noise.
    assert sum(recalls) / len(recalls) >= 0.15, recalls

    again = qs["llm_ann_ivf_pq"](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_bloom_dedup_no_false_negatives(spark, sf_dir):
    """The Bloom guarantee: every exact duplicate must be flagged
    might_be_dup (no false negatives); false positives are allowed but
    must be a strict subset relationship, and the mutated (odd-id) batch
    docs must all be true-novel."""
    from adlspark.registry import all_queries

    rows = all_queries()["llm_dedup_bloom"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["is_true_dup"]:
            assert r["might_be_dup"], f"false negative at doc {r['doc_id']}"
        if r["doc_id"] % 2 == 1:
            assert not r["is_true_dup"]  # ' zz' mutation makes it novel


def test_cms_never_underestimates(spark, sf_dir):
    """Count-min's one-sided error guarantee: the sketch estimate is
    always >= the true count, and with 15 users in 1024 buckets there
    are no collisions at fixture scale, so est == true here."""
    from adlspark.registry import all_queries

    rows = all_queries()["agg_heavy_hitters_cms"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["est_count"] >= r["true_count"]


def test_hll_merge_equals_direct_and_error_band(spark, sf_dir):
    """Sketch mergeability: the union of daily partials must estimate
    exactly what the single-pass sketch estimates (same algorithm, same
    input multiset), and both must sit inside the lgK=12 error band of
    the exact distinct count."""
    from adlspark.registry import all_queries

    r = all_queries()["agg_hll_partial_merge"](spark, sf_dir).collect()[0]
    assert r["merged_distinct_est"] == r["direct_distinct_est"]
    exact = r["exact_distinct"]
    assert abs(r["merged_distinct_est"] - exact) / max(exact, 1) < 0.05


def test_approx_distinct_within_error_band(spark, sf_dir):
    """agg_approx_distinct (HLL++, rsd=0.01) must land within 5% of the
    exact per-group distinct count — a broken sketch config or merge
    blows this band immediately; the sketch is deterministic on a fixed
    fixture so the test cannot flake."""
    from adlspark.registry import all_queries

    approx = {
        r["o_orderstatus"]: r["approx_customers"]
        for r in all_queries()["agg_approx_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in tables.load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, e in exact.items():
        assert abs(approx[k] - e) <= max(2, 0.05 * e), (k, approx[k], e)


def test_approx_percentile_rank_error_bounded(spark, sf_dir):
    """agg_approx_percentile (accuracy=10000 → rank error ≤ n/10000)
    must return values whose true rank is within a generous multiple of
    the guarantee for every (group, quantile)."""
    from adlspark.registry import all_queries

    import bisect

    got = all_queries()["agg_approx_percentile"](spark, sf_dir).collect()
    vals = {}
    for r in (
        tables.load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .collect()
    ):
        vals.setdefault(r["l_returnflag"], []).append(r["l_extendedprice"])
    for v in vals.values():
        v.sort()
    for r in got:
        xs = vals[r["l_returnflag"]]
        n = len(xs)
        tol = max(2.0, 10 * n / 10000.0)
        for q, est in zip((0.5, 0.95, 0.99), (r["p50"], r["p95"], r["p99"])):
            lo = bisect.bisect_left(xs, est)
            hi = bisect.bisect_right(xs, est)
            target = q * (n - 1)
            # true rank interval of the estimate must come within tol
            # of the target rank
            dist = max(lo - target, target - (hi - 1), 0)
            assert dist <= tol, (r["l_returnflag"], q, est, dist, tol)


def test_minhash_lsh_sound_and_high_jaccard_complete(spark, sf_dir):
    """llm_dedup_minhash: every reported pair must truly have shingle
    Jaccard ≥ 0.8 (the verify step is exact — zero false positives),
    and no true pair at J ≥ 0.95 may be missed (at 16 hashes / 4×4
    banding a J≥0.95 pair collides with probability ~1-(1-0.95^4)^4 ≈
    0.9988; on the fixed fixture the outcome is deterministic). Also
    pins run-to-run determinism."""
    from adlspark.registry import all_queries

    docs = {
        r["doc_id"]: r["text"]
        for r in tables.load(spark, sf_dir, "documents").collect()
    }

    def shingles(t):
        w = t.split(" ")
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sh = {k: shingles(t) for k, t in docs.items()}

    def jac(a, b):
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        return inter / union if union else 0.0

    out = all_queries()["llm_dedup_minhash"](spark, sf_dir).collect()
    cols = out[0].asDict().keys() if out else []
    ids = sorted(docs)
    pairs = {
        (min(r[0], r[1]), max(r[0], r[1])): True
        for r in [tuple(row)[:2] for row in out]
    }
    for a, b in pairs:
        assert jac(a, b) >= 0.8 - 1e-9, (a, b, jac(a, b))
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if jac(a, b) >= 0.95:
                assert (a, b) in pairs, (a, b, jac(a, b))
    again = all_queries()["llm_dedup_minhash"](spark, sf_dir).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_ingest_validate_json_bucket_counts(spark, sf_dir):
    """The validate/quarantine split is fully determined by the derived
    batch: 200 good rows, 3 + 5 = 8 quarantined (missing required column
    + malformed lines). Conservation: good + quarantined = lines written."""
    from adlspark.registry import all_queries

    got = {
        r["bucket"]: r["n"]
        for r in all_queries()["ingest_validate_json"](spark, sf_dir).collect()
    }
    assert got == {"good": 200, "quarantined": 8}


def test_mm_binary_pipeline_decode_invariants(spark, sf_dir):
    """The binary decode path must conserve the corpus: per-lang doc
    counts equal the documents table, total payload bytes equal total
    n_chars (payload = utf-8 of ASCII text), and the stubbed features
    land in [0, 1] (sha256 byte / 255)."""
    from adlspark.registry import all_queries

    got = all_queries()["mm_binary_pipeline"](spark, sf_dir).collect()
    exp = {
        r["lang"]: (r["n"], r["total"])
        for r in tables.load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total"))
        .collect()
    }
    assert {r["lang"] for r in got} == set(exp)
    for r in got:
        n, total = exp[r["lang"]]
        assert r["n_docs"] == n
        assert r["total_bytes"] == total
        assert 0.0 <= r["avg_f0"] <= 1.0 and 0.0 <= r["avg_f1"] <= 1.0


def test_pca_power_matches_numpy_reference(spark, sf_dir):
    """llm_pca_power's distributed Gram accumulation + fixed-round
    recurrence must reproduce an INDEPENDENT single-machine reference:
    covariance via np.cov on the collected data, then the same
    16-round power iteration with deflation coded inline here. Also
    sanity-bounds each Rayleigh value inside the true spectrum's
    [λ_min, λ_max] (a Rayleigh quotient can never leave it)."""
    import numpy as np

    from adlspark import registry
    from adlspark.llm.similarity import PCA_COMPONENTS, PCA_ITERS

    out = {
        r["component"]: (r["eigenvalue"], r["explained_ratio"])
        for r in registry.all_queries()["llm_pca_power"](spark, sf_dir).collect()
    }
    X = np.stack(
        [
            np.array(r["embedding"], dtype=np.float64)
            for r in tables.load(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    C = np.cov(X, rowvar=False, bias=True)
    d = C.shape[0]
    trace = float(np.trace(C))
    evals = np.linalg.eigvalsh(C)
    lo, hi = float(evals.min()), float(evals.max())
    Ck = C.copy()
    ref = []
    for comp in range(1, PCA_COMPONENTS + 1):
        v = np.full(d, 1.0 / np.sqrt(d))
        for _ in range(PCA_ITERS):
            w = Ck @ v
            s = float(np.sqrt(w @ w))
            if s != 0.0:
                v = w / s
        lam = float((Ck @ v) @ v)
        ref.append(lam)
        Ck = Ck - lam * np.outer(v, v)
    # kernel reports descending-value rank order (rounded, deflation
    # index tiebreak) — mirror it
    ref_sorted = sorted(
        range(len(ref)), key=lambda i: (-round(ref[i], 6), i)
    )
    for rank, i in enumerate(ref_sorted, start=1):
        got_ev, got_ratio = out[rank]
        assert abs(got_ev - ref[i]) < 1e-6, (rank, got_ev, ref[i])
        assert abs(got_ratio - ref[i] / trace) < 1e-6
        assert lo - 1e-9 <= got_ev <= hi + 1e-9, (rank, got_ev, lo, hi)
    # descending presentation is part of the contract
    evs = [out[r][0] for r in range(1, PCA_COMPONENTS + 1)]
    assert evs == sorted(evs, reverse=True), evs


def test_containment_dedup_sound_and_flags_planted_prefix_dups(spark, sf_dir):
    """Every reported containment must equal the exact shingle-set
    containment recomputed from scratch (soundness of the token-level
    verify), and the contained side must always be the smaller set."""
    from pyspark.sql import functions as F

    from adlspark import registry

    rows = registry.all_queries()["llm_containment_dedup"](spark, sf_dir).collect()
    assert rows, "expected at least one containment pair in the fixture"
    d = tables.load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sequence(0, greatest(size(split(text,' '))-3, 0)),"
            " i -> concat_ws(' ', slice(split(text,' '), i+1, 3))))"
        ).alias("sh"),
    )
    shingles = {r["doc_id"]: set(r["sh"]) for r in d.collect()}
    for r in rows:
        a = shingles[r["contained_id"]]
        b = shingles[r["container_id"]]
        assert len(a) <= len(b)
        exact = len(a & b) / len(a)
        assert abs(exact - r["containment"]) < 1e-6
        assert exact >= 0.6


def test_bpe_encode_matches_independent_reference(spark, sf_dir):
    """llm_bpe_encode (rows-only) bar: per-doc token counts must equal an
    INDEPENDENT pure-Python BPE encoder given the same learned merge
    table, for every fixture document; plus the n_tokens <= n_chars /
    n_words <= n_tokens sandwich and determinism across invocations."""
    import duckdb

    from adlspark.llm.vocab import _bpe_learn_merges, llm_bpe_encode
    from adlspark import tables
    from pyspark.sql import functions as F

    sample_words = (
        tables.load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
    )
    merges = [(m[1], m[2]) for m in _bpe_learn_merges(spark, sample_words, 8)]
    assert len(merges) == 8 and len(set(merges)) == 8

    def ref_encode(word: str) -> list[str]:
        # reference implementation: repeatedly merge the FIRST applicable
        # pair occurrence per rank — written against the Sennrich paper,
        # not the production kernel's loop structure
        toks = list(word)
        for lo, hi in merges:
            while True:
                hit = next(
                    (
                        i
                        for i in range(len(toks) - 1)
                        if toks[i] == lo and toks[i + 1] == hi
                    ),
                    None,
                )
                if hit is None:
                    break
                toks = toks[:hit] + [lo + hi] + toks[hit + 2 :]
        return toks

    docs = {
        r["doc_id"]: r["text"]
        for r in tables.load(spark, sf_dir, "documents").collect()
    }
    got = {
        r["doc_id"]: r
        for r in llm_bpe_encode(spark, sf_dir).collect()
    }
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        words = [w for w in text.split(" ") if w]
        want_tokens = sum(len(ref_encode(w)) for w in words)
        row = got[doc_id]
        assert row["n_words"] == len(words)
        assert row["n_chars"] == sum(len(w) for w in words)
        assert row["n_tokens"] == want_tokens, (
            f"doc {doc_id}: engine={row['n_tokens']} reference={want_tokens}"
        )
        assert row["n_words"] <= row["n_tokens"] <= row["n_chars"]

    again = {r["doc_id"]: r for r in llm_bpe_encode(spark, sf_dir).collect()}
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_mmr_sample_matches_numpy_reference(spark, sf_dir):
    """llm_mmr_diverse_sample (rows-only) bar: the engine's greedy pick
    sequence must equal an independent numpy re-implementation of MMR
    (same λ, same centroid relevance, same vec_id tie-break), and the
    selection must be deterministic across invocations."""
    import numpy as np

    from adlspark import tables
    from adlspark.llm.similarity import llm_mmr_diverse_sample

    rows = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = mat.mean(axis=0)
    cent /= np.linalg.norm(cent)
    rel = mat_n @ cent

    K, LAM = 8, 0.7
    picked_idx: list[int] = []
    for _ in range(K):
        if picked_idx:
            ms = (mat_n @ mat_n[picked_idx].T).max(axis=1)
            score = LAM * rel - (1 - LAM) * ms
        else:
            score = rel.copy()
        score[picked_idx] = -np.inf
        # argmax with vec_id tie-break
        best = min(
            ((-score[i], ids[i], i) for i in range(len(ids))
             if i not in picked_idx)
        )[2]
        picked_idx.append(best)
    want = [int(ids[i]) for i in picked_idx]

    got_rows = llm_mmr_diverse_sample(spark, sf_dir).collect()
    got = [r["vec_id"] for r in sorted(got_rows, key=lambda r: r["pick_rank"])]
    assert got == want, f"engine {got} != reference {want}"

    again_rows = llm_mmr_diverse_sample(spark, sf_dir).collect()
    again = [r["vec_id"] for r in sorted(again_rows, key=lambda r: r["pick_rank"])]
    assert again == got


def test_banded_range_join_equals_brute_force_on_boundaries(spark):
    """The banded (user, bucket) rewrite of join_theta_range claims every
    qualifying pair matches in EXACTLY one bucket assignment. Pin it
    against a brute-force pair scan on a fixture engineered around the
    hazards: events exactly ON bucket boundaries, gaps of exactly the
    window width, same-timestamp events, pairs one microsecond
    inside/outside the window, and negative-epoch (pre-1970) events where
    ``div``'s truncation-toward-zero makes bucket 0 two windows wide."""
    import itertools

    from pyspark.sql import functions as F

    BUCKET_US = 600 * 1000000
    base = 1_700_000_000_000_000  # µs epoch
    rows = []
    eid = 0
    # user 1: events sitting exactly on and around bucket boundaries
    for off in [
        0, 1, BUCKET_US - 1, BUCKET_US, BUCKET_US + 1,
        2 * BUCKET_US, 2 * BUCKET_US + 1,
        3 * BUCKET_US - 1, 3 * BUCKET_US,
    ]:
        eid += 1
        rows.append((eid, 1, base + off))
    # user 2: same-timestamp events and exact-window gaps
    for off in [0, 0, BUCKET_US, BUCKET_US, 2 * BUCKET_US + 1]:
        eid += 1
        rows.append((eid, 2, base + off))
    # user 3: pre-1970 timestamps straddling epoch 0 — with trunc-toward-
    # zero division bucket 0 spans (-W, W); qualifying pairs must still
    # land in exactly one of the two banded assignments
    for us in [
        -2 * BUCKET_US, -BUCKET_US - 1, -BUCKET_US, -BUCKET_US + 1,
        -1, 0, 1, BUCKET_US - 1, BUCKET_US,
    ]:
        eid += 1
        rows.append((eid, 3, us))
    df = spark.createDataFrame(
        [(e, u, t) for e, u, t in rows], "event_id long, user_id long, us long"
    ).select("event_id", "user_id", F.timestamp_micros(F.col("us")).alias("ts"))

    # engine path: the SAME shared banding helper the operators use
    # (adlspark.ops.banding) — a formula drift there fails here
    from adlspark.ops.banding import banded_assignments, time_bucket

    e = df.select(
        "event_id", "user_id", "ts",
        time_bucket("ts", BUCKET_US).alias("bkt"),
    )
    left = e.select(
        F.col("event_id").alias("id1"), "user_id", F.col("ts").alias("ts1"),
        F.explode(banded_assignments("ts", BUCKET_US)).alias("jb"),
    )
    right = e.select(
        F.col("event_id").alias("id2"), F.col("user_id").alias("user_id2"),
        F.col("ts").alias("ts2"), F.col("bkt").alias("jb2"),
    )
    got = sorted(
        (r["id1"], r["id2"])
        for r in left.join(
            right,
            (F.col("user_id") == F.col("user_id2"))
            & (F.col("jb") == F.col("jb2"))
            & (F.col("id2") > F.col("id1"))
            & (F.col("ts2") >= F.col("ts1"))
            & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    )

    want = sorted(
        (a_id, b_id)
        for (a_id, a_u, a_t), (b_id, b_u, b_t) in itertools.permutations(rows, 2)
        if a_u == b_u and b_id > a_id and 0 <= b_t - a_t <= BUCKET_US
    )
    assert got == want, f"banded={got}\nbrute={want}"
    assert len(got) == len(set(got)), "duplicate pair emitted by banding"


def test_np_round_half_away_matches_duckdb_round():
    """The numpy-kernel rounding helper must reproduce DuckDB's
    round(DOUBLE, n) bit-for-bit — including exact-half values where
    np.round (banker's, ties-to-even) disagrees with DuckDB's
    std::round (ties away from zero). This makes the similarity-kernel
    tie policy structural instead of resting on a measured fixture
    margin (round-4 ADVICE)."""
    import duckdb
    import numpy as np

    from adlspark.llm.vector import np_round_half_away

    # exact halves, signs, boundaries, and random sims in [-1, 1]
    rng = np.random.default_rng(42)
    xs = np.concatenate(
        [
            np.array(
                [0.00005, 0.00015, 0.25005, -0.00005, -0.25005,
                 0.5, -0.5, 0.99995, -0.99995, 0.0, 1.0, -1.0]
            ),
            rng.uniform(-1, 1, 5000),
        ]
    )
    got = np_round_half_away(xs, 4)
    want = np.array(
        [
            r[0]
            for r in duckdb.connect()
            .execute(
                "SELECT round(x, 4) FROM (SELECT unnest(?::DOUBLE[]) AS x)",
                [xs.tolist()],
            )
            .fetchall()
        ]
    )
    mism = np.nonzero(got != want)[0]
    assert mism.size == 0, f"{mism.size} mismatches, first at x={xs[mism[:5]]}"
    # and at least one of the seeded halves is a case where np.round differs
    assert np.any(np.round(xs, 4) != got), "fixture never exercises the tie gap"


def test_round_rel_matches_duckdb_round():
    """llm_pca_power rounds eigenvalues to 6 decimals and at most 6
    significant digits on both engines: round_rel in the kernel,
    o_round_rel in the oracle. The two halves must agree bit for bit
    (sign of zero included) from 1e-20 to 1e25 — above ~2^33 a fixed
    1e-6 grain is below a double's ulp, which is what the relative
    grain exists for — and at the rule's edges: zero (the log10
    guard), a value that rounds up to the next decade (999999.5),
    exact powers of ten, and tiny values that round to ±0.0."""
    import duckdb
    import numpy as np

    from adlspark.llm.vector import o_round_rel, round_rel

    rng = np.random.default_rng(7)
    sweep = 10.0 ** rng.uniform(-20, 25, 20000)
    sweep *= rng.choice([-1.0, 1.0], sweep.size)
    edges = [0.0, -0.0, 1e-18, -1e-18, 1.0, -1.0, 999999.5, -999999.5,
             1e10, 1e25, 0.5e-6, 2.5e-6, 0.49999999999999994,
             23242630815.175564, 23242630815.175568]
    xs = np.concatenate([np.array(edges), sweep])
    got = np.array([round_rel(float(x)) for x in xs])
    want = np.array(
        [
            r[0]
            for r in duckdb.connect()
            .execute(
                f"SELECT {o_round_rel('x')}"
                " FROM (SELECT unnest(?::DOUBLE[]) AS x)",
                [xs.tolist()],
            )
            .fetchall()
        ]
    )
    # compare bit patterns: == would equate 0.0 with -0.0
    mism = np.nonzero(got.view(np.int64) != want.view(np.int64))[0]
    assert mism.size == 0, (
        f"{mism.size} mismatches, first at x={xs[mism[:5]]}:"
        f" kernel {got[mism[:5]]} vs duckdb {want[mism[:5]]}"
    )
    # the sweep reaches the regime the relative grain exists for, where
    # one ulp of summation-order noise must round away
    assert np.any(np.abs(xs) > 2.0 ** 33)
    assert round_rel(23242630815.175564) == round_rel(23242630815.175568)


def test_kmeans_determinism_inertia_monotone_and_numpy_parity(spark, sf_dir):
    """The llm_kmeans bars its docstring promises: (a) the fixed-seed
    run is bit-deterministic; (b) per-iteration inertia is monotone
    non-increasing (Lloyd's guarantee — a broken update step breaks
    this); (c) assignments match an independent numpy Lloyd
    implementation from the same deterministic init, with mismatches
    tolerated only on genuine distance ties."""
    import numpy as np

    from adlspark.llm.similarity import kmeans_fit
    from adlspark.registry import all_queries

    K, ITERS = 8, 5
    q = all_queries()["llm_kmeans"]
    a = sorted((r.vec_id, r.cluster, r.sq_dist) for r in q(spark, sf_dir).collect())
    b = sorted((r.vec_id, r.cluster, r.sq_dist) for r in q(spark, sf_dir).collect())
    assert a == b, "kmeans run is not deterministic"

    _, inertia = kmeans_fit(spark, sf_dir, k=K, iters=ITERS, track_inertia=True)
    assert len(inertia) == ITERS
    for prev, nxt in zip(inertia, inertia[1:]):
        assert nxt <= prev * (1 + 1e-9) + 1e-9, inertia

    # independent numpy Lloyd from the same init (k lowest vec_ids)
    rows = (
        tables.load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.asarray(sorted(r.vec_id for r in rows), dtype=np.int64)
    e = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    mat = np.stack([e[i] for i in ids])
    # spark's returned assignment is w.r.t. the final iteration's START
    # centroids — so run iters-1 numpy updates then one labeling pass
    cent = mat[np.searchsorted(ids, ids[:K])].astype(np.float64).copy()
    for _ in range(ITERS - 1):
        d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        cent = np.stack(
            [
                mat[lab == c].mean(axis=0) if np.any(lab == c) else cent[c]
                for c in range(K)
            ]
        )
    d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    np_lab = d.argmin(axis=1)
    spark_lab = {v: c for v, c, _ in a}
    n_mism = 0
    for i, vid in enumerate(ids):
        if spark_lab[int(vid)] != np_lab[i]:
            two = np.partition(d[i], 1)[:2]
            assert abs(two[0] - two[1]) < 1e-9, (
                f"vec {vid}: spark={spark_lab[int(vid)]} numpy={np_lab[i]}, "
                f"not a tie (d0={two[0]}, d1={two[1]})"
            )
            n_mism += 1
    assert n_mism <= len(ids) * 0.01, f"{n_mism} tie-flips of {len(ids)}"


def test_pagerank_matches_numpy_power_iteration_and_converges(spark, sf_dir):
    """Two bars the mass-conservation test can't provide: (a) the Spark
    8-iteration ranks match an independent numpy power iteration with
    identical semantics (damping, uniform teleport, dangling mass
    redistributed uniformly) to float tolerance; (b) the iteration is
    CONVERGING the way PageRank theory demands — per-step L1 residual
    contracts by at least the damping factor d (geometric, so a
    diverging or oscillating implementation fails), which also bounds
    the fixed-8-iteration truncation error by d^8/(1-d)·r0."""
    import numpy as np

    from adlspark.llm.graph import _band_edges
    from adlspark.registry import all_queries

    rows = all_queries()["llm_graph_pagerank"](spark, sf_dir).collect()
    got = {r.doc_id: r["rank"] for r in rows}
    n = len(got)
    ids = sorted(got)
    idx = {v: i for i, v in enumerate(ids)}

    edges = [(r.src, r.dst) for r in _band_edges(spark, sf_dir).collect()]
    deg = np.zeros(n)
    for s, _ in edges:
        deg[idx[s]] += 1
    d = 0.85
    r = np.full(n, 1.0 / n)
    residuals = []
    history = {}
    for it in range(50):
        dm = r[deg == 0].sum()
        inflow = np.zeros(n)
        for s, t in edges:
            inflow[idx[t]] += r[idx[s]] / deg[idx[s]]
        nxt = (1.0 - d) / n + d * (inflow + dm / n)
        residuals.append(np.abs(nxt - r).sum())
        r = nxt
        history[it + 1] = r.copy()

    spark_vec = np.array([got[v] for v in ids])
    assert np.abs(spark_vec - history[8]).max() < 1e-9, "Spark != numpy at iter 8"
    # geometric contraction at rate <= d (the Markov-chain guarantee);
    # also implies the 8-iteration result is within d^8/(1-d)*r0 of the
    # true fixpoint in L1
    for a, b in zip(residuals[:20], residuals[1:21]):
        assert b <= a * (d + 1e-9), residuals[:21]
    assert np.abs(history[8] - history[50]).sum() <= (d ** 8 / (1 - d)) * residuals[
        0
    ], "truncation error exceeds the geometric bound"


@pytest.mark.parametrize("tau,seed", [(0.95, 11), (0.8, 12), (0.5, 13)])
def test_minhash_lsh_pairs_precision_and_guaranteed_recall(spark, tau, seed):
    """The LSH rung's structural invariants on the same adversarial
    random-family corpora the exact kernel is property-tested on:

    - PRECISION is exact by construction (every candidate is verified
      with array_intersect): output ⊆ brute-force tau-pairs, with the
      exact Jaccard values;
    - IDENTICAL sets are recalled with probability 1 (the quotient
      collapses them before hashing — never hash luck).

    Recall BELOW J=1.0 is deliberately NOT asserted per-corpus: it is
    probabilistic by design and pinned analytically by lsh_plan's
    formula tests (>= 0.98 collision probability at tau), not by any
    fixed-seed sample.
    """
    import itertools
    import random

    from adlspark.llm.dedup import minhash_lsh_pairs

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    doc_id = 0
    for fam in range(10):
        base = rng.sample(vocab, rng.randint(5, 18))
        lang = rng.choice(["en", "de"])
        n_exact = rng.randint(2, 3)  # exact copies: recall must be 1.0
        for _ in range(n_exact):
            docs.append((doc_id, lang, sorted(set(base))))
            doc_id += 1
        for _ in range(rng.randint(0, 2)):  # mutated siblings
            toks = list(base)
            if rng.random() < 0.5 and len(toks) > 3:
                toks.remove(rng.choice(toks))
            else:
                w = rng.choice(vocab)
                if w not in toks:
                    toks.append(w)
            docs.append((doc_id, lang, sorted(set(toks))))
            doc_id += 1

    brute = {}
    identical = set()
    for (i1, l1, t1), (i2, l2, t2) in itertools.combinations(docs, 2):
        if l1 != l2:
            continue
        inter = len(set(t1) & set(t2))
        j = inter / (len(t1) + len(t2) - inter)
        if j >= tau:
            brute[(min(i1, i2), max(i1, i2))] = round(j, 6)
        if t1 == t2:
            identical.add((min(i1, i2), max(i1, i2)))

    d = spark.createDataFrame(
        docs, "doc_id long, lang string, toks array<string>"
    ).localCheckpoint(eager=True)
    got = {
        (r.id1, r.id2): r.jaccard for r in minhash_lsh_pairs(d, tau=tau).collect()
    }
    assert set(got) <= set(brute), set(got) - set(brute)
    for k, v in got.items():
        assert abs(v - brute[k]) < 1e-9, (k, v, brute[k])
    assert identical <= set(got), identical - set(got)
    for k in identical:
        assert got[k] == 1.0
