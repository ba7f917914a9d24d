"""[EXT] Training-data pipeline operators: repetition metrics, quality
gating, sequence packing, stratified sampling, and domain re-weighting.

The reference builds a *corpus* (filter -> normalize -> dedup ->
tag, build_corpus.py / tag_metadata.py); these operators are the same
corpus-building intent at LLM-training scale, following published
recipes (Gopher/MassiveText quality heuristics: Rae et al. 2021 §A1.1;
C4 cleaning: Raffel et al. 2020 §2.2; data-mixture reweighting as in
The Pile / DoReMi). Everything is built-in-expression / explode +
groupBy work — no Python UDFs — so the whole module stays inside
whole-stage codegen.

Scale design (100 TB):

- **Token long-form** uses ``posexplode(split(...))`` + groupBy, never
  per-row higher-order functions: HOFs are interpreted and O(n^2) for
  mode-style statistics, while explode + hash-aggregate gets map-side
  partial aggregation and distributes by ``(doc_id, token)``.
- **Packing** partitions by a shard column (here ``source``) so the
  running-sum window never needs a global sort; each shard packs
  independently, which is exactly how a 1000-executor job shards.
- **Sampling / reweighting** are stateless per-row expressions (an
  md5-derived uniform), so they're scan-only: no shuffle, deterministic
  under any partitioning, and reproducible across engines/cluster
  sizes — the property pandas `df.sample(random_state=...)` cannot give
  across machines.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators.dedup_ext import (
    tokens as corpus_tokens,
)

__all__ = [
    "token_long_form",
    "bigram_long_form",
    "repetition_profile",
    "gopher_quality_gate",
    "pack_sequences",
    "uniform_hash_u32",
    "bigram_lm_scores",
    "ccnet_perplexity_buckets",
    "stratified_sample",
    "domain_resample",
    "corpus_top_bigrams",
    "scrub_text",
]

#: stopword probe set for the quality gate (Gopher §A1.1 uses a
#: "contains at least 2 stop words" rule with a similar tiny set)
STOPWORDS = ("the", "a", "and", "of", "to")


def _space_tokens(text: Column) -> Column:
    """The training operators' tokenizer: ``text`` split on single
    spaces, case and punctuation kept (the oracles'
    ``string_split(text, ' ')``)."""
    return F.split(text, " ")


def token_long_form(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Explode a document table to one row per (doc, position, token).

    The scalable long form: codegen split + generate, then any
    token-level statistic is a hash aggregate with map-side combine.
    """
    return df.select(
        F.col(id_col),
        F.posexplode(_space_tokens(F.col(text_col))).alias("pos", "tok"),
    )


def bigram_long_form(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, bigram) rows straight from the document table: adjacent
    tokens pair up as ``arrays_zip`` of two shifted ``slice``s of the
    token array, exploded — ZERO shuffles, where the previous
    token-long-form + per-doc window ``lead`` paid a full exchange and
    sort of one row per token (measured 2.2x on the bigram long form
    at sf0.1; bigram multiset identical).  The zip/slice inputs are
    evaluated once per document row by Generate, so this stays off the
    per-OUTPUT-row re-evaluation path the dedup_ext module docstring
    warns about (verified empirically by the same A/B).  An explicit
    round-robin repartition spreads the byte-small doc scan exactly as
    the window's exchange used to, and is a no-op cost at scale where
    the scan already arrives in thousands of splits."""
    nparts = df.sparkSession.sparkContext.defaultParallelism
    tk = _space_tokens(F.col(text_col))
    pre = df.repartition(nparts).select(
        F.col(id_col), tk.alias("_tk"), F.size(tk).alias("_n")
    )
    z = F.arrays_zip(
        F.slice("_tk", 1, F.col("_n") - 1),
        F.slice("_tk", 2, F.col("_n") - 1),
    )
    return (
        pre.filter(F.col("_n") >= 2)
        .select(F.col(id_col), F.explode(z).alias("_bg"))
        .select(
            F.col(id_col),
            F.concat_ws(" ", F.col("_bg.0"), F.col("_bg.1")).alias("bigram"),
        )
    )


def repetition_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition metrics (Gopher repetition filters):
    distinct-token ratio, top-token fraction, top-bigram fraction.

    Two aggregation trees over the exploded forms, joined on the doc
    key. Counts are exact; ratios are single IEEE divisions of exact
    integers, so they reproduce bit-identically on any engine.
    """
    toks = token_long_form(df, id_col, text_col)
    tok_counts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    per_tok = tok_counts.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.max("c").alias("top_token_count"),
    )
    bigs = bigram_long_form(df, id_col, text_col)
    big_counts = bigs.groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("c"))
    per_big = big_counts.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_count"),
    )
    return (
        per_tok.join(per_big, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_distinct_tokens",
            # ratios rounded to 6dp: a single int/int IEEE division is
            # engine-identical, but rounding every emitted DOUBLE ratio
            # removes the whole cross-engine float class from the gate
            F.round(F.col("n_distinct_tokens") / F.col("n_tokens"), 6)
            .alias("distinct_ratio"),
            F.round(F.col("top_token_count") / F.col("n_tokens"), 6)
            .alias("top_token_frac"),
            F.round(F.col("top_bigram_count") / F.col("n_bigrams"), 6)
            .alias("top_bigram_frac"),
        )
    )


def gopher_quality_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 1000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Expression-only Gopher-style quality gate: token-count bounds,
    mean-word-length bounds, and a >=N-distinct-stopwords rule.

    Pure scan-side column math (no explode, no UDF, no shuffle): mean
    word length is ``chars_without_spaces / n_tokens``, and the
    stopword probe is word-boundary `contains` on a space-padded copy.
    """
    text = F.col(text_col)
    n_tokens = F.size(_space_tokens(text))
    # rounded BEFORE the keep-predicate so the emitted value and the
    # bounds test can never disagree (and the oracle applies the same
    # round-then-compare order)
    mean_wl = F.round(
        F.length(F.replace(text, F.lit(" "), F.lit(""))) / n_tokens, 6
    )
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    stop_hits = sum(
        F.when(padded.contains(f" {w} "), 1).otherwise(0) for w in STOPWORDS
    )
    return df.select(
        id_col,
        n_tokens.alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        (
            n_tokens.between(min_tokens, max_tokens)
            & (mean_wl >= min_mean_word_len)
            & (mean_wl <= max_mean_word_len)
            & (stop_hits >= min_stop_hits)
        ).alias("keep"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    shard_col: str = "source",
    order_col: str = "doc_id",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Block-pack documents into token-budget sequences per shard.

    Semantics (deterministic, order-defined): within each shard,
    documents are laid out in ``order_col`` order and sequence ``k``
    holds the docs whose *exclusive* running token count falls in
    ``[k*budget, (k+1)*budget)`` — the streaming concatenate-and-cut
    layout used when packing LLM training sequences. Returns one row
    per (shard, seq_id) with doc span and token totals.

    Scale: the window partitions by the shard key, so there is no
    global sort — each shard packs independently on its executor,
    and adding shards adds parallelism, not skew.
    """
    t = df.select(
        F.col(shard_col),
        F.col(id_col),
        F.size(_space_tokens(F.col(text_col))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn("cum_excl", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    t = t.withColumn("seq_id", F.floor(F.col("cum_excl") / budget))
    return t.groupBy(shard_col, "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def uniform_hash_u32(col: Column) -> Column:
    """Deterministic uniform hash in [0, 2^32) from md5 — the portable
    RNG: identical on every engine, partitioning, and cluster size
    (md5 is the one hash Spark and DuckDB both expose)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def stratified_sample(
    df: DataFrame,
    rate_pct: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep each row iff its hash-uniform falls under the (per-stratum)
    percentage. The comparison is pure integer math
    (``h * 100 < rate_pct * 2^32``), so there is no float boundary to
    disagree about. Scan-only: no shuffle, reproducible resamples."""
    h = uniform_hash_u32(F.col(id_col))
    return df.filter(h * 100 < rate_pct.cast("long") * F.lit(4294967296))


def domain_resample(
    df: DataFrame,
    n_copies: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Integer upsampling for data-mixture reweighting: emit
    ``n_copies`` rows per input row with a ``copy_idx`` column (1-based).
    ``n_copies <= 0`` (or NULL) emits ZERO rows — the natural drop case
    for a domain weighted out of the mixture. The guard matters:
    Spark's ``sequence(1, 0)`` counts DOWN ([1, 0]), so an unguarded
    explode would emit two phantom rows per dropped input. Narrow (no
    shuffle); combine with `stratified_sample` for fractional weights."""
    n = n_copies.cast("int")
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("copy_idx", F.explode(seq))


def corpus_top_bigrams(
    df: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-level top-k bigrams — the global frequency table behind
    boilerplate detection and contamination checks. Explode + hash
    aggregate (map-side combine) + TakeOrdered(k): no global sort."""
    bigs = bigram_long_form(df, id_col, text_col)
    return (
        bigs.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(k)
    )


def decontaminate_report(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_words: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark decontamination: (train_id, eval_id, n_shared) for
    every train document sharing >= ``min_overlap`` distinct word
    n-grams with an eval document — the overlap report behind dropping
    benchmark-contaminated training docs (the GPT-3/PaLM n-gram-overlap
    decontamination recipe).

    Inverted-index join on the shingle (same shape as blocked Jaccard):
    cost is quadratic in per-shingle posting length, never in corpus
    size; at 100 TB the eval side is tiny, so the join is
    broadcast-able and the scan side prunes to shingles the eval set
    actually contains."""
    from dissertation_data_pipeline_spark.operators.dedup_ext import (
        shingle_postings,
    )

    tp = shingle_postings(train, id_col, text_col, n=ngram_words).select(
        F.col("_id").alias("train_id"), "_shingle"
    )
    ep = shingle_postings(eval_df, id_col, text_col, n=ngram_words).select(
        F.col("_id").alias("eval_id"), "_shingle"
    )
    return (
        tp.join(ep, "_shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def scrub_text(col: Column) -> Column:
    """C4-style training-text scrub: lowercase, drop URLs and emails,
    collapse whitespace, trim. RE2-compatible patterns only, so the
    same regexes run in Spark (Java regex) and DuckDB (RE2)."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"https?://\S+", " ")
    c = F.regexp_replace(c, r"[\w.+-]+@[\w-]+\.[\w.]+", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Fixed-token-window chunking with overlap (retrieval/RAG prep):
    each document yields chunks of up to ``window`` tokens starting
    every ``stride`` tokens; a trailing chunk wholly contained in its
    predecessor is dropped (kept iff start == 0 or
    start + window - stride < n_tokens).

    The chunk *starts* come from a plain ``sequence`` + ``posexplode``
    with the containment rule as a post-explode WHERE — never a lambda
    HOF under a generator (interpreted + re-evaluated per output row).
    ``slice``/``array_join`` assemble the chunk text on the codegen
    path. Scan-shaped: no shuffle at all, chunks inherit the document
    partitioning — at 100 TB this runs at read speed and the output is
    written partitioned the same way.
    """
    toks = _space_tokens(F.col(text_col))
    df = df.select(
        F.col(id_col), toks.alias("_t"), F.size(toks).alias("_n")
    )
    out = (
        df.select(
            id_col,
            "_t",
            "_n",
            F.posexplode(
                F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
            ).alias("chunk_idx", "start_pos"),
        )
        .filter(
            (F.col("start_pos") == 0)
            | (F.col("start_pos") + F.lit(window - stride) < F.col("_n"))
        )
    )
    chunk = F.slice("_t", F.col("start_pos") + 1, F.lit(window))
    return out.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.least(F.lit(window), F.col("_n") - F.col("start_pos"))
        .cast("long")
        .alias("chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    weight_col: Column | str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per group
    (Efraimidis & Spirakis 2006): rank rows by ``u^(1/w)`` descending,
    where u is the md5-derived uniform of the row id — heavier rows
    win proportionally more often, yet the draw is a pure function of
    (id, weight), so resamples are reproducible and cross-engine
    exact.

    Ranking uses the monotone-equivalent key ``ln(u)/w`` (for
    u in (0,1), u^(1/w) orders identically): the pow form compresses
    key gaps toward 1 (cross-engine ulp flips become plausible), the
    ln-ratio form keeps gaps ~7 orders above double ulp. Weights must
    be positive; rank ties break on the id.

    One window shuffle on the group key — the sampling itself is
    scan-speed expression work.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # u in (0,1): (h32 + 1) / (2^32 + 1) — never 0 or 1, ln is finite
    u = (uniform_hash_u32(F.col(id_col)) + 1) / F.lit(4294967297.0)
    key = F.log(u) / w.cast("double")
    win = Window.partitionBy(*group_cols).orderBy(
        F.col("_es_key").desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_es_key", key)
        .withColumn("sample_rank", F.row_number().over(win))
        .filter(F.col("sample_rank") <= k)
        .drop("_es_key")
    )


def bigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    CCNet-style quality signal (Wenzek et al. 2020 score documents by
    LM perplexity and keep the low-perplexity head; this is the same
    operator with the corpus itself as the LM).

    Model: add-one-smoothed conditional bigram probabilities
    ``p(w2|w1) = (c(w1 w2) + 1) / (c_hist(w1) + V)`` where
    ``c_hist(w1)`` counts w1 as a bigram *history* and ``V`` is the
    distinct-continuation vocabulary — so probabilities normalize per
    history. Output per doc: bigram count, mean log-probability, and
    perplexity ``exp(-mean)``.

    Plan shape (the pre-aggregated join-back from DESIGN.md §3): the
    bigram long form is ONE posexplode + per-doc ``lead`` window; both
    count tables are map-side-combinable groupBys over it, each one row
    per key — a viral bigram ("of the") is a single aggregate row, so
    the join back cannot skew. V attaches as a broadcast 1-row scalar.

    Float discipline: each per-term log is computed from bit-identical
    exact-integer operands, so terms agree across engines to <= 1 ulp;
    the per-doc sum is the one float reduction in the repo, and its
    partition-order spread (~1e-13 over ~1e2 terms) sits nine orders
    below the 1e-4 display rounding — documented bounded-error, not
    accidental.  Docs with fewer than two tokens have no bigrams and
    are excluded (the oracle agrees).
    """
    # adjacent tokens pair up as arrays_zip of two shifted slices,
    # exploded — zero shuffles, vs the previous token long form + per-
    # doc window lead which exchanged and sorted one row per token
    # (2.2x on the bigram long form at sf0.1, bigram multiset
    # identical; see bigram_long_form for the Generate-evaluation
    # note).  Round-robin repartition spreads the byte-small doc scan
    # as the window's exchange used to.
    nparts = df.sparkSession.sparkContext.defaultParallelism
    tk = corpus_tokens(text_col)
    pre = df.repartition(nparts).select(
        F.col(id_col), tk.alias("_tk"), F.size(tk).alias("_n")
    )
    z = F.arrays_zip(
        F.slice("_tk", 1, F.col("_n") - 1),
        F.slice("_tk", 2, F.col("_n") - 1),
    )
    # the long form feeds four consumers (c12, c_hist, V, scoring join);
    # checkpoint so the tokenize+zip+explode pipeline runs once
    bg = (
        pre.filter(F.col("_n") >= 2)
        .select(F.col(id_col), F.explode(z).alias("_bg"))
        .select(
            F.col(id_col),
            F.col("_bg.0").alias("w1"),
            F.col("_bg.1").alias("w2"),
        )
        .localCheckpoint(eager=False)
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("_c1"))
    vocab = bg.agg(F.countDistinct("w2").alias("_V"))
    logp = F.log(
        (F.col("_c12") + 1).cast("double")
        / (F.col("_c1") + F.col("_V")).cast("double")
    )
    scored = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), logp.alias("_lp"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("_lp").alias("_sum_lp"),
    )
    mean = F.col("_sum_lp") / F.col("n_bigrams")
    return per_doc.select(
        F.col(id_col),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(mean, 4).alias("avg_logp"),
        F.round(F.exp(-mean), 4).alias("perplexity"),
    )


def pmi_collocations(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Top-N collocations by pointwise mutual information.

    PMI(a,b) = ln( P(ab) / (P(a)P(b)) ) with P(ab) = c_ab/T2 over
    adjacent-bigram instances and P(w) = c_w/T1 over token instances —
    the classic collocation-extraction statistic (Church & Hanks 1990),
    used in pipelines to mine multiword units for tokenizer/vocab work.

    Cross-engine determinism: the PMI *argument* is computed as
    ``(c_ab/T2) / ((c_a/T1) * (c_b/T1))`` in doubles — every operand is
    an exact int64 count and IEEE-754 ``/``/``*`` are bit-exact, so the
    score (and therefore the top-N membership under the full
    ``(score DESC, w1, w2)`` tiebreak) is identical in any engine that
    evaluates the same expression shape. Only the final ``ln`` display
    value touches libm; it is rounded to 4dp.

    Scale: one explode + two hash aggregates (map-side combinable) +
    one join of bigram counts against the unigram table on each word —
    at 100 TB the unigram side is Zipf-small after ``min_count``-style
    pruning and broadcasts; no quadratic term anywhere. The int64
    counts hold to ~3e9 tokens per corpus-partition of the statistic;
    beyond that, compute the same ratio in log-domain doubles.
    """
    toks = df.select(corpus_tokens(text_col).alias("_t"))
    # uni feeds THREE consumers (T1, the w1 attach, the w2 attach) and
    # big two (T2, the scored join); checkpoint both aggregates so the
    # tokenize/explode corpus passes run once, not ~5x (the same
    # multi-consumer trap bigram_lm_scores and sketches document)
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
        .localCheckpoint(eager=False)
    )
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - 1),
                    lambda i: F.struct(
                        F.element_at("_t", i).alias("w1"),
                        F.element_at("_t", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint(eager=False)
    )
    t1 = uni.agg(F.sum("c_w").alias("T1"))
    t2 = big.agg(F.sum("c_ab").alias("T2"))
    ua = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    score = (
        (F.col("c_ab").cast("double") / F.col("T2").cast("double"))
        / (
            (F.col("c_a").cast("double") / F.col("T1").cast("double"))
            * (F.col("c_b").cast("double") / F.col("T1").cast("double"))
        )
    )
    return (
        big.filter(F.col("c_ab") >= min_count)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            score.alias("_score"),
        )
        .orderBy(F.desc("_score"), "w1", "w2")
        .limit(top_n)
        .select(
            "w1", "w2", "c_ab", "c_a", "c_b",
            F.round(F.log("_score"), 4).alias("pmi"),
        )
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet's head/middle/tail corpus partition (Wenzek et al. 2020
    §4.3): within each language, rank documents by LM perplexity and
    cut into ``n_buckets`` equal-frequency buckets — 'head' (lowest
    perplexity, highest quality) is what the pipeline keeps for
    training, 'tail' is dropped or down-weighted.

    Composes :func:`bigram_lm_scores` (the corpus-as-LM score) with a
    per-language ``ntile`` over the deterministic total order
    (perplexity ASC — already rounded to 4dp by the scorer — then
    ``id_col`` ASC, so ranking is engine-independent under ties).

    Scale: scoring is the LM operator's pre-aggregated join-back; the
    bucket pass is ONE window shuffle partitioned by language —
    parallel across languages, no global sort. Documents with fewer
    than two tokens have no LM score and are excluded, as in CCNet
    (they carry no n-gram evidence either way).
    """
    labels = {1: "head", 2: "middle", 3: "tail"}
    scores = bigram_lm_scores(df, id_col=id_col, text_col=text_col)
    scored = df.select(id_col, lang_col).join(scores, id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.asc("perplexity"), F.asc(id_col)
    )
    bucket = F.ntile(n_buckets).over(w)
    out = scored.select(
        F.col(id_col), F.col(lang_col), "perplexity",
        bucket.alias("bucket"),
    )
    if n_buckets == 3:
        name = F.element_at(
            F.array(*[F.lit(labels[i]) for i in (1, 2, 3)]), F.col("bucket")
        )
        out = out.withColumn("bucket_name", name)
    return out


def shard_assignment(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_shards: int = 16,
) -> DataFrame:
    """Deterministic training-shard assignment with per-shard budget
    stats — the step that turns a curated corpus into the fixed file
    layout a training run consumes (shard = stable function of the
    document id, never of row order, so re-running the pipeline or
    resizing the cluster cannot reshuffle documents between shards;
    reference's file-per-row sink at write_documents is the
    single-machine ancestor, SURVEY K6).

    ``shard = uniform_hash_u32(id) % n_shards`` (md5-derived — engine-
    portable, uniform, skew-free by construction). Output one row per
    shard: document count, total whitespace-token budget, and the
    largest single document, so imbalance is gate-checked output
    rather than a claim (with a uniform hash, shard token totals
    concentrate tightly around mean for any corpus without a single
    dominant document).

    Scale (100 TB): one map-side-combinable aggregation on a uniform
    16-way (or 10k-way) key — no skew possible, no window, no join;
    the actual shard WRITE is ``df.repartition(n_shards, shard)
    .write.partitionBy('shard')``, reusing the same column.
    """
    n_tok = F.size(corpus_tokens(text_col)).cast("long")
    return (
        df.select(
            (uniform_hash_u32(F.col(id_col)) % n_shards).alias("shard"),
            n_tok.alias("_nt"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
            F.max("_nt").alias("max_doc_tokens"),
        )
    )


def hashed_classifier_weights(spark, *, dim: int = 4096) -> DataFrame:
    """Deterministic stand-in for a trained linear-classifier weight
    table: one row per feature bucket, integer milli-weight in
    [-1000, 1000] derived from md5 so Spark and an oracle engine can
    both recompute it exactly. In production this frame is the
    classifier's learned weights loaded from a model file — same size
    (``dim`` rows, broadcastable), same join shape; only the values
    change.
    """
    return spark.range(dim).select(
        F.col("id").cast("int").alias("bucket"),
        (
            (
                uniform_hash_u32(
                    F.concat(F.col("id").cast("string"), F.lit(":w"))
                )
                % 2001
            )
            - 1000
        ).alias("weight_milli"),
    )


def hashed_classifier_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    dim: int = 4096,
    weights: DataFrame | None = None,
) -> DataFrame:
    """fastText-style linear classifier inference over hashed
    bag-of-words features — the classifier-based quality-filter step
    (GPT-3/CCNet style: score every document against a small trained
    model, keep the positives). The reference's keyword OR-filter
    (build_corpus.py's theme tagging) is the rule-based ancestor;
    this is its learned-model successor with the same relational
    shape.

    Per document: tokenize, hash each token into ``dim`` buckets,
    broadcast-join the bucket->weight table, sum. All arithmetic is
    int64 (milli-weights), so the score is bit-identical on any
    engine, partitioning, or summation order — no float-accumulation
    drift through the gate. ``keep = score_milli > 0`` is the filter
    decision.

    Scale (100 TB): explode -> modulo -> **broadcast** hash join (the
    weight table is O(dim) ~ KBs; never a shuffle side) -> one
    map-side-combinable groupBy on the document key. One Exchange
    total, whole-stage codegen throughout; the model swap
    (hash-derived -> trained weights) changes no plan edges.
    """
    toks = token_long_form(df, id_col, text_col)
    feats = toks.select(
        F.col(id_col),
        (uniform_hash_u32(F.col("tok")) % dim).cast("int").alias("bucket"),
    )
    w = (
        weights
        if weights is not None
        else hashed_classifier_weights(df.sparkSession, dim=dim)
    )
    return (
        feats.join(F.broadcast(w), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("weight_milli").alias("score_milli"),
        )
        .withColumn("keep", F.col("score_milli") > 0)
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str = "lang",
    *,
    budget: int = 100_000,
) -> DataFrame:
    """Temperature-based multilingual mixture planning (XLM-R /
    multilingual-pretraining style): resampling shares proportional to
    ``n_g ** alpha`` flatten a head-heavy language distribution so
    low-resource groups are not drowned out. Emits, per group: exact
    document count, natural share, temperature share, and the integer
    document budget ``round(budget * temp_share_exact)``.

    alpha is fixed at 0.5 and computed as ``sqrt`` — deliberately:
    IEEE-754 requires sqrt to be correctly rounded, so every engine
    produces the identical double, while ``pow(x, 0.3)`` carries
    engine-specific ulp error. Shares are rounded to 6dp for the gate
    (the repo-wide ratio-output convention); the only cross-engine
    looseness left is agg-order ulps in the share denominator, far
    below the rounding grain.

    Scale (100 TB): one map-side-combinable count per group, a 1-row
    total broadcast back over the O(groups) frame — no data-sized
    shuffle at all; the expensive step (executing the mixture) is
    downstream `domain_resample`/`stratified_sample`, which consume
    this plan.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    sqrt_n = F.sqrt(F.col("n_docs").cast("double"))
    tot = counts.agg(
        F.sum("n_docs").alias("_n"), F.sum(sqrt_n).alias("_z")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col(group_col),
        F.col("n_docs"),
        F.round(F.col("n_docs") / F.col("_n"), 6).alias("natural_share"),
        F.round(sqrt_n / F.col("_z"), 6).alias("temp_share"),
        F.round(F.lit(float(budget)) * sqrt_n / F.col("_z"), 0)
        .cast("long")
        .alias("target_docs"),
    )
