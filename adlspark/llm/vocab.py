"""Vocabulary-induction operators for training-data pipelines.

BPE-style tokenizer training starts from a word-frequency table and
repeatedly merges the most frequent adjacent symbol pair; the expensive,
corpus-wide step is the weighted pair count, which is exactly one
explode + one aggregate here. (Reference parity: the upstream project
`aws-samples/accelerated-data-lake` delegates analytics to Athena and has
no tokenizer tooling; this extends the engine toward the LLM-pipeline
north star documented in SURVEY.md §2 M.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from adlspark import tables
from adlspark.registry import query


@query(
    "llm_bpe_pair_count",
    oracle="""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), wc AS (
  SELECT word, count(*) AS wn FROM w WHERE word <> '' GROUP BY word
), wf AS (
  -- word-length domain: 2..1000 chars. A single megatoken "word"
  -- (the round-10 giant-doc corpus carries a 1 MB one) is garbage to
  -- a BPE trainer, and char-pair expansion over it is quadratic in
  -- BOTH engines (substring(word, i, 2) re-scans to char i per pair);
  -- real tokenizers pre-tokenize and cap symbol length the same way.
  -- The filter lives in its OWN CTE so the lateral series is never
  -- generated for the megaword (a post-join WHERE still paid ~5 min).
  SELECT word, wn FROM wc WHERE len(word) BETWEEN 2 AND 1000
), p AS (
  SELECT substring(word, CAST(i AS INT), 2) AS pair, wn
  FROM wf, unnest(generate_series(1, len(word) - 1)) AS t(i)
)
SELECT pair, CAST(sum(wn) AS BIGINT) AS pair_count
FROM p GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 50
""",
)
def llm_bpe_pair_count(spark, sf_dir):
    """One BPE merge step: corpus-weighted adjacent character-pair
    frequencies, top 50. This is the inner loop of byte-pair-encoding
    tokenizer training (Sennrich et al. 2016): count every adjacent
    symbol pair weighted by word frequency, merge the winner, repeat.

    Shape at scale: the corpus collapses to its word-frequency table
    first (vocabulary-sized — millions of rows at 100 TB, not billions),
    so the pair explode and the pair aggregate run over vocab-sized
    input no matter how large the corpus is; both aggregates are
    map-side combinable, and the top-50 is TakeOrderedAndProject (no
    global sort materialization). Later merge iterations operate on the
    same vocab-sized table with re-segmented symbols — the corpus is
    touched exactly once.
    """
    words = (
        tables.load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("wn"))
    # word-length domain 2..1000 (mirrors the oracle): a megatoken
    # "word" is tokenizer garbage and its char-pair expansion is
    # quadratic (substring re-scans to position i per pair) — capped
    # identically on both engines (round-10 giant-doc corpus)
    pairs = wc.where(
        (F.length("word") >= 2) & (F.length("word") <= 1000)
    ).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "wn",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wn").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair"))
        .limit(50)
    )


@query(
    "llm_dsir_weight",
    oracle="""
WITH tok AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(unnest(string_split(text, ' '))), 1, 4)
              AS BIGINT) % 256 AS b
  FROM documents
), tgt AS (
  SELECT CAST('0x' || substring(md5(unnest(string_split(text, ' '))), 1, 4)
              AS BIGINT) % 256 AS b
  FROM documents WHERE lang = 'en'
), tc AS (
  SELECT b, count(*) AS nt FROM tgt GROUP BY b
), sc AS (
  SELECT b, count(*) AS ns FROM tok GROUP BY b
), tot AS (
  SELECT (SELECT count(*) FROM tgt) AS t_total,
         (SELECT count(*) FROM tok) AS s_total
), feat AS (
  SELECT sc.b,
         ln(((coalesce(tc.nt, 0) + 1.0) / (tot.t_total + 256))
            / ((sc.ns + 1.0) / (tot.s_total + 256))) AS lw
  FROM sc LEFT JOIN tc USING (b) CROSS JOIN tot
)
SELECT tok.doc_id,
       count(*) AS n_tokens,
       round(sum(feat.lw), 6) AS log_weight
FROM tok JOIN feat USING (b)
GROUP BY tok.doc_id
""",
)
def llm_dsir_weight(spark, sf_dir):
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    per-document log importance weight log(p_target/p_source) under
    hashed unigram feature distributions — the standard trick for
    tilting a huge raw corpus toward a target domain (here: the 'en'
    slice) without training a classifier. Documents are then kept with
    probability proportional to exp(weight) (the resampling step rides
    the same hash-bucket primitive as llm_train_split).

    Engine-exactness: features are md5-hashed into 256 buckets (the
    same engine-independent hash family as llm_minhash_signature);
    Laplace +1 smoothing keeps every bucket's log finite; the only
    float op is the final ln/sum, rounded to 6 places like
    llm_unigram_logprob.

    Scale shape: the feature table is 256 rows — a broadcast join
    against the exploded token stream; both distribution counts are
    map-side combinable aggregates; per-doc weights are one doc-keyed
    sum. The corpus is scanned twice (target slice + full) and never
    shuffled except by the 256-key counts and the doc-keyed final
    aggregate — linear at any corpus size.
    """
    d = tables.load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 4), 16, 10).cast(
            "long"
        )
        % 256
    ).alias("b")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).select("doc_id", "lang", bucket)
    tc = tok.where(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("nt")
    )
    sc = tok.groupBy("b").agg(F.count(F.lit(1)).alias("ns"))
    totals = (
        tok.agg(
            F.count(F.lit(1)).alias("s_total"),
            F.sum((F.col("lang") == "en").cast("long")).alias("t_total"),
        )
    )
    feat = (
        sc.join(tc, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.log(
                ((F.coalesce(F.col("nt"), F.lit(0)) + 1.0) / (F.col("t_total") + 256))
                / ((F.col("ns") + 1.0) / (F.col("s_total") + 256))
            ).alias("lw"),
        )
    )
    return (
        tok.join(F.broadcast(feat), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lw"), 6).alias("log_weight"),
        )
    )


@query(
    "llm_mixture_weights",
    oracle="""
WITH t AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
  FROM documents
), per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
  FROM t GROUP BY lang
), tot AS (
  SELECT CAST(sum(avail_tokens) AS BIGINT) AS total_tokens,
         count(*) AS n_langs
  FROM per_lang
)
SELECT lang, n_docs, avail_tokens,
       round(1.0 / n_langs, 6) AS target_share,
       round(least(1.0, (CAST(total_tokens AS DOUBLE) / n_langs)
                        / avail_tokens), 6) AS sampling_rate,
       CAST(floor(least(1.0, (CAST(total_tokens AS DOUBLE) / n_langs)
                             / avail_tokens) * avail_tokens) AS BIGINT)
         AS expected_tokens
FROM per_lang CROSS JOIN tot
""",
)
def llm_mixture_weights(spark, sf_dir):
    """Training-mixture weighting: per-language sampling rates that tilt
    the corpus toward a target mix (here: equal token share per
    language) under the constraint that no slice is upsampled past 1.0
    — the data-mixing step every multilingual training run performs
    between curation and packing (cf. the hand-tuned mixture tables of
    public LLM recipes). Rates then feed the deterministic hash-bucket
    sampler (llm_stratified_sample / llm_train_split) to realize the
    mix.

    Scale shape: one narrow token-count map, one lang-keyed aggregate
    (map-side combinable), a 1-row totals broadcast — the corpus never
    shuffles; output is mixture-table-sized (one row per slice).
    """
    d = tables.load(spark, sf_dir, "documents")
    t = d.select("lang", F.size(F.split("text", " ")).alias("n_tokens"))
    per_lang = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("avail_tokens"),
    )
    tot = per_lang.agg(
        F.sum("avail_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    rate = F.least(
        F.lit(1.0),
        (F.col("total_tokens").cast("double") / F.col("n_langs"))
        / F.col("avail_tokens"),
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "avail_tokens",
        F.round(F.lit(1.0) / F.col("n_langs"), 6).alias("target_share"),
        F.round(rate, 6).alias("sampling_rate"),
        F.floor(rate * F.col("avail_tokens")).cast("long").alias(
            "expected_tokens"
        ),
    )


def _fold_merge_sql(sym: str, a: str) -> str:
    """DuckDB expression: greedy left-to-right pair merge of the symbol
    list ``sym`` under the (possibly-NULL) merge row in CTE ``a``.

    list_reduce folds the space-free tokens into a space-joined string;
    the accumulator's LAST token is ``regexp_extract(acc, '[^ ]*$')``.
    The fold is EXACTLY the kernel's greedy scan: a merge emits lo||hi,
    which can never equal lo again (hi is non-empty), so a token merged
    in this pass can't immediately re-merge — the same non-overlap rule
    as the pandas loop. A NULL merge row (the round ran dry) folds to
    the identity, keeping the CTE chain alive past the dry round just
    like the kernel's early ``break``."""
    return (
        f"CASE WHEN {sym} IS NULL THEN NULL"
        f" WHEN {a}.lo IS NULL THEN {sym}"
        f" ELSE string_split(list_reduce({sym}, (acc, x) -> CASE"
        f" WHEN regexp_extract(acc, '[^ ]*$') = {a}.lo AND x = {a}.hi"
        f" THEN regexp_replace(acc, '[^ ]*$', '') || {a}.lo || {a}.hi"
        f" ELSE acc || ' ' || x END), ' ') END"
    )


def _bpe_round_ctes(rounds: int, last_vocab: bool) -> str:
    """The unrolled BPE merge rounds as chained DuckDB CTEs.

    Round r reads vocab v{r-1} (wn, sym LIST), picks argmax pair m{r}
    (count DESC, pair ASC — the kernel's exact tiebreak), aggregates it
    to the always-one-row a{r} (max over <=1 row: NULL lo/hi when the
    round ran dry, so later rounds keep running as identities instead
    of cross-joining the vocab away), and rewrites vocab v{r}.
    MATERIALIZED pins each stage to one evaluation — the chain is
    re-referenced and DuckDB would otherwise inline it exponentially."""
    parts = []
    for r in range(1, rounds + 1):
        prev = f"v{r - 1}"
        parts.append(
            f"""p{r} AS (
  SELECT sym[i] || ' ' || sym[i + 1] AS pair, wn
  FROM {prev}, unnest(generate_series(1, len(sym) - 1)) AS t(i)
), m{r} AS MATERIALIZED (
  SELECT pair, CAST(sum(wn) AS BIGINT) AS cnt
  FROM p{r} GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1
), a{r} AS MATERIALIZED (
  SELECT max(string_split(pair, ' ')[1]) AS lo,
         max(string_split(pair, ' ')[2]) AS hi FROM m{r}
)"""
        )
        if r < rounds or last_vocab:
            parts.append(
                f"""v{r} AS MATERIALIZED (
  SELECT wn, {_fold_merge_sql('sym', f'a{r}')} AS sym
  FROM {prev} CROSS JOIN a{r}
)"""
            )
    return ", ".join(parts)


def _bpe_learn_oracle(rounds: int = 6) -> str:
    """Computed oracle for llm_bpe_learn: the full 6-round trainer in
    DuckDB (round-11 promotion from rows-only — the merge schedule is a
    deterministic function of the corpus, so it is SQL-computable, and a
    computed oracle stays correct on every hostile corpus where a
    fixture-literal VALUES would lie)."""
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_rank,"
        f" string_split(pair, ' ')[1] AS \"left\","
        f" string_split(pair, ' ')[2] AS \"right\","
        f" replace(pair, ' ', '') AS merged,"
        f" cnt AS pair_count FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return f"""
WITH wc AS (
  SELECT word, count(*) AS wn FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> '' AND len(word) <= 1000 GROUP BY word
), v0 AS MATERIALIZED (
  SELECT wn, string_split(word, '') AS sym FROM wc
), {_bpe_round_ctes(rounds, last_vocab=False)}
{unions}
"""


def _bpe_encode_oracle(rounds: int = 8) -> str:
    """Computed oracle for llm_bpe_encode: train {rounds} merges on the
    doc_id < 200 sample vocab (same unrolled machinery as the learn
    oracle), then encode the DISTINCT corpus words — the SQL mirror of
    the kernel's per-batch memo — and aggregate per doc. Words outside
    the 2..1000-char symbol domain pass through as ONE opaque token
    (the kernel's pre-tokenizer cap); NULL/empty texts produce the
    all-zero row with NULL fertility."""
    folds = "".join(
        f""", e{r} AS MATERIALIZED (
  SELECT word, {_fold_merge_sql('sym', f'a{r}')} AS sym
  FROM e{r - 1} CROSS JOIN a{r}
)"""
        for r in range(1, rounds + 1)
    )
    return f"""
WITH wc AS (
  SELECT word, count(*) AS wn FROM (
    SELECT unnest(string_split(text, ' ')) AS word
    FROM documents WHERE doc_id < 200
  ) WHERE word <> '' AND len(word) <= 1000 GROUP BY word
), v0 AS MATERIALIZED (
  SELECT wn, string_split(word, '') AS sym FROM wc
), {_bpe_round_ctes(rounds, last_vocab=False)},
cw AS (
  SELECT DISTINCT word FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> ''
), e0 AS MATERIALIZED (
  SELECT word,
         CASE WHEN len(word) > 1000 THEN NULL
              ELSE string_split(word, '') END AS sym
  FROM cw
){folds},
tok AS MATERIALIZED (
  SELECT word,
         CASE WHEN sym IS NULL THEN CAST(1 AS BIGINT)
              ELSE CAST(len(sym) AS BIGINT) END AS n_tok
  FROM e{rounds}
), dw AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> ''
), per AS (
  SELECT dw.doc_id,
         count(*) AS n_words,
         CAST(sum(t.n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(len(dw.word)) AS BIGINT) AS n_chars
  FROM dw JOIN tok t USING (word) GROUP BY dw.doc_id
)
SELECT d.doc_id,
       coalesce(per.n_words, 0) AS n_words,
       coalesce(per.n_tokens, 0) AS n_tokens,
       coalesce(per.n_chars, 0) AS n_chars,
       CASE WHEN per.n_words > 0
            THEN round(CAST(per.n_tokens AS DOUBLE) / per.n_words, 4)
            ELSE NULL END AS fertility
FROM documents d LEFT JOIN per USING (doc_id)
"""


def _bpe_merges_local(word_counts: dict, rounds: int) -> list[tuple]:
    """Driver-side twin of ``_bpe_learn_merges`` for BOUNDED samples
    (optimization round 14): ``llm_bpe_encode`` trains on a ≤200-doc
    sample whose distinct-word count table is model-sized by contract,
    yet the distributed loop paid 2 Spark jobs per round (16 for the
    8-merge trainer) on driver-roundtrip latency. Identical algorithm
    and tie-breaks: word domain ≤1000 chars, pair count = Σ wn over
    adjacent symbol pairs, winner = (count DESC, pair string ASC —
    Python str compare == Spark's binary UTF8String order, both are
    code-point order), leftmost-greedy single-pass merge per round.
    Equality with the distributed trainer on the fixture sample is
    pinned by tests/test_plans.py::test_bpe_local_trainer_matches_spark.
    """
    syms = {}
    counts = {}
    for w, n in word_counts.items():
        if len(w) <= 1000:
            syms[w] = list(w)
            counts[w] = n
    merges: list[tuple] = []
    for rank in range(1, rounds + 1):
        pair_cnt: dict[str, int] = {}
        for w, toks in syms.items():
            if len(toks) < 2:
                continue
            n = counts[w]
            for i in range(len(toks) - 1):
                p = toks[i] + " " + toks[i + 1]
                pair_cnt[p] = pair_cnt.get(p, 0) + n
        if not pair_cnt:
            break
        top_pair = min(pair_cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        left, right = top_pair[0].split(" ")
        cnt = top_pair[1]
        merges.append((rank, left, right, left + right, cnt))
        for w, toks in syms.items():
            out, i, n = [], 0, len(toks)
            while i < n:
                if i + 1 < n and toks[i] == left and toks[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            syms[w] = out
    return merges


def _bpe_learn_merges(spark, words, rounds: int) -> list[tuple]:
    """Sennrich et al. (2016) BPE outer loop over a word-column DataFrame.

    Returns the learned merge list [(rank, left, right, merged, count)].
    Shared by ``llm_bpe_learn`` (full corpus) and ``llm_bpe_encode``
    (sample-trained model applied corpus-wide). See llm_bpe_learn's
    docstring for the scale analysis."""
    from pyspark.sql.functions import pandas_udf

    # Trainer word domain 2..1000 chars (same rule as
    # llm_bpe_pair_count): a megatoken "word" is garbage to a BPE
    # trainer, and the per-round pair explode re-splits the symbol
    # string inside the transform lambda — quadratic on a 1 MB word
    # (the round-10 giant-doc corpus hung llm_bpe_learn here). Real
    # tokenizers pre-tokenize and cap symbol length identically.
    # Length-1 words carry no pairs and are kept (harmless).
    wc = (
        words.where(F.length("word") <= 1000)
        .groupBy("word")
        .agg(F.sum(F.lit(1)).alias("wn"))
    )
    # Optimization round 14 (guide §1.2 "don't compute things you throw
    # away"): sym is kept as an ARRAY column, split ONCE here and
    # materialized by the checkpoint. The old string form re-ran
    # split(sym, ' ') FOUR times inside the per-round pair expression —
    # and element_at(split(sym,' '), i) inside transform() re-split the
    # whole string per ELEMENT, O(n²) per word per round. Symbols never
    # contain spaces (they are concatenations of characters of
    # space-split words), so the array is exactly the old string's
    # split and the emitted pair strings are byte-identical.
    sym = wc.select(
        "wn",
        F.expr("filter(split(word, ''), x -> x <> '')").alias("sym"),
    ).localCheckpoint(eager=False)  # round-1 pair count materializes it

    merges = []
    for rank in range(1, rounds + 1):
        pairs = (
            sym.where(F.size("sym") >= 2)
            .select(
                "wn",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(sym) - 1), i ->"
                        " concat_ws(' ', element_at(sym, i),"
                        " element_at(sym, i + 1)))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("wn").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair"))
            .limit(1)
        )
        top = pairs.collect()  # ONE model row per round, like kmeans centroids
        if not top:
            break
        left, right = top[0]["pair"].split(" ")
        cnt = top[0]["cnt"]
        merges.append((rank, left, right, left + right, cnt))

        def _merge_udf(lo: str, hi: str):
            @pandas_udf("array<string>")
            def _merge(col: pd.Series) -> pd.Series:
                def one(toks) -> list:
                    out = []
                    i = 0
                    n = len(toks)
                    while i < n:
                        if (
                            i + 1 < n
                            and toks[i] == lo
                            and toks[i + 1] == hi
                        ):
                            out.append(lo + hi)
                            i += 2
                        else:
                            out.append(toks[i])
                            i += 1
                    return out

                return col.map(one)

            return _merge

        # lazy checkpoint: the NEXT round's pairs.collect() (or the
        # caller's first action) materializes it — one job per round,
        # not two (same trick as llm_dedup_cluster's label loop)
        sym = sym.select(
            "wn", _merge_udf(left, right)("sym").alias("sym")
        ).localCheckpoint(eager=False)

    return merges


@query("llm_bpe_learn", oracle=_bpe_learn_oracle())
def llm_bpe_learn(spark, sf_dir):
    """BPE tokenizer training: learn the first 6 merges over the corpus.

    VALUE-ORACLED since round 11 (was rows-only): the merge schedule is
    a deterministic corpus function — fixed round count, count-then-pair
    tiebreak — so the whole trainer unrolls into DuckDB CTEs
    (``_bpe_learn_oracle``), with the greedy merge expressed as a
    ``list_reduce`` fold proven equivalent to the kernel's scan.

    Full Sennrich et al. (2016) outer loop on top of the
    ``llm_bpe_pair_count`` inner step: the corpus collapses to its
    word-frequency table ONCE (the only corpus-wide shuffle), words are
    re-segmented into space-joined symbols, then each round (a) counts
    corpus-weighted adjacent symbol pairs — explode + map-combinable
    aggregate over the vocab-sized table, (b) collects the single argmax
    row to the driver (ties broken by pair text, so the learned merge
    list is deterministic), and (c) rewrites the vocab with an
    Arrow-batched pandas UDF applying the standard greedy left-to-right
    merge. ``localCheckpoint`` truncates lineage each round, exactly as
    in ``llm_dedup_cluster``.

    Scale shape: rounds operate on the vocabulary (millions of rows at
    100 TB, not billions); the per-round driver traffic is ONE row. The
    returned DataFrame is the learned model — merge table rows, naturally
    driver-sized, like kmeans centroids.
    """
    words = (
        tables.load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
    )
    merges = _bpe_learn_merges(spark, words, rounds=6)
    return tables.rows_df(
        spark,
        merges,
        "merge_rank int, left string, right string, merged string, pair_count long",
    )


@query("llm_bpe_encode", oracle=_bpe_encode_oracle())
def llm_bpe_encode(spark, sf_dir):
    """BPE corpus tokenization: train 8 merges on a SAMPLE (doc_id <
    200 — the train-tokenizer-on-a-subset discipline real pipelines use;
    GPT-2's BPE saw a fraction of WebText), then encode EVERY document
    with the learned merge table and report per-doc token statistics —
    the step that sits between text curation and sequence packing
    (``llm_pack_bins``) in a training-data pipeline.

    The model is driver-sized (8 merge rows) and closes over the encode
    UDF like broadcast centroids; encoding is one Arrow-batched pandas
    UDF pass over the corpus — no shuffle at all, embarrassingly
    parallel, with a per-batch word→tokens memo exploiting Zipf repeat
    rates. Fertility (tokens/word) is the standard tokenizer-quality
    metric; n_tokens feeds packing/budgeting downstream.

    VALUE-ORACLED since round 11 (was rows-only): the sample training
    unrolls into the same CTE machinery as llm_bpe_learn's oracle and
    the encode runs over DISTINCT corpus words (the SQL mirror of the
    per-batch memo). Domain declarations shared by both engines:
    words >1000 chars pass through as ONE opaque token (the
    pre-tokenizer length cap / byte-fallback-unit convention — folding
    a megatoken is quadratic in ANY engine, and the round-10 giant-doc
    corpus carries a 1 MB one); NULL text encodes to the all-zero row
    (fertility NULL, as for any 0-word doc). Tests additionally pin
    encode parity against an independent pure-Python BPE reference.
    """
    import pandas as pd  # noqa: F811
    from pyspark.sql.functions import pandas_udf

    sample_words = (
        tables.load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
    )
    # driver-side trainer (round-14): the sample's distinct-word count
    # table is bounded by the 200-doc cap — one collect of model-sized
    # state instead of 16 driver-roundtrip jobs (2 per merge round);
    # _bpe_merges_local is algorithm- and tie-break-identical (pinned
    # by pytest against the distributed trainer on this very sample)
    wc_rows = (
        sample_words.where(F.length("word") <= 1000)
        .groupBy("word")
        .agg(F.sum(F.lit(1)).alias("wn"))
        .collect()
    )
    merge_list = [
        (m[1], m[2])
        for m in _bpe_merges_local(
            {r["word"]: r["wn"] for r in wc_rows}, rounds=8
        )
    ]

    @pandas_udf("struct<n_words: long, n_tokens: long, n_chars: long>")
    def encode_stats(texts: pd.Series) -> pd.DataFrame:
        memo: dict[str, int] = {}

        def tokens_of(word: str) -> int:
            hit = memo.get(word)
            if hit is not None:
                return hit
            if len(word) > 1000:
                # pre-tokenizer cap (mirrored in the oracle): an
                # unsplittable >1000-char run is one opaque token —
                # merging it char-by-char is quadratic for nothing
                memo[word] = 1
                return 1
            toks = list(word)
            for lo, hi in merge_list:
                i, out = 0, []
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == lo and toks[i + 1] == hi:
                        out.append(lo + hi)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            memo[word] = len(toks)
            return memo[word]

        rows = []
        for t in texts:
            # NULL text: the all-zero row. Found by the round-11 oracle
            # promotion — the rows-only crash gate's count() PRUNED the
            # deterministic UDF projection, so None never reached this
            # loop until values were actually compared.
            words = [] if t is None else [w for w in t.split(" ") if w]
            rows.append(
                (
                    len(words),
                    sum(tokens_of(w) for w in words),
                    sum(len(w) for w in words),
                )
            )
        return pd.DataFrame(rows, columns=["n_words", "n_tokens", "n_chars"])

    # spread: one scan task = one Python worker encoding the whole
    # corpus otherwise (guide §2.5/§4); the per-batch word memo is
    # per-task either way
    d = tables.spread(tables.load(spark, sf_dir, "documents"))
    return d.select("doc_id", encode_stats("text").alias("s")).select(
        "doc_id",
        F.col("s.n_words").alias("n_words"),
        F.col("s.n_tokens").alias("n_tokens"),
        F.col("s.n_chars").alias("n_chars"),
        # 0-word docs (NULL/empty text): NULL fertility on both engines
        # — under ANSI a plain 0/0 would abort the whole batch
        F.when(
            F.col("s.n_words") > 0,
            F.round(F.col("s.n_tokens") / F.col("s.n_words"), 4),
        ).alias("fertility"),
    )
