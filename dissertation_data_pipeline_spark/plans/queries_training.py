"""[EXT] Training-data pipeline queries: repetition metrics, Gopher
quality gate, sequence packing, stratified sampling, domain
reweighting, corpus n-gram stats, text scrubbing, LM-based quality
signals, PMI collocations, shard assignment, classifier filtering,
temperature mixtures and BPE pair counts.

These extend the reference's corpus-building intent (build_corpus.py's
filter -> dedup -> tag flow) to the LLM-data-pipeline scale called for
by BASELINE.json's north star; each query is DuckDB-oracle-checked.
All Spark plans stay on the codegen path (explode + hash aggregate,
window, scan-side expressions) — see operators/training.py for the
100 TB design notes per operator.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators.bpe import (
    initial_symbols,
    pair_counts,
    word_frequencies,
)
from dissertation_data_pipeline_spark.operators.training import (
    bigram_lm_scores,
    weighted_sample_per_group,
    chunk_documents,
    corpus_top_bigrams,
    decontaminate_report,
    domain_resample,
    gopher_quality_gate,
    pack_sequences,
    pmi_collocations,
    repetition_profile,
    scrub_text,
    stratified_sample,
)
from dissertation_data_pipeline_spark.plans.registry import register
from dissertation_data_pipeline_spark.tables import load_table

#: shared DuckDB CTE: token long form with positions (the oracle twin
#: of operators.training.token_long_form)
_TOKS_CTE = """
    toks AS (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
    ),
    bigs AS (
      SELECT doc_id, tok || ' ' || nxt AS bigram FROM (
        SELECT doc_id, tok,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM toks)
      WHERE nxt IS NOT NULL
    )
"""

#: md5-hex -> uint32 as explicit digit arithmetic (DuckDB has no conv();
#: generated as 8 fixed terms, not a lambda — see oracle notes)
_H_EXPR = " + ".join(
    "CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), "
    f"{i + 1}, 1)) - 1) AS BIGINT) * {16 ** (7 - i)}"
    for i in range(8)
)

_SRC_NUM = "CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER)"


@register(
    "ext_repetition_profile",
    f"""
    WITH {_TOKS_CTE},
    per_tok AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct_tokens,
             max(c) AS top_token_count
      FROM (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)
      GROUP BY 1
    ),
    per_big AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             max(c) AS top_bigram_count
      FROM (SELECT doc_id, bigram, count(*) AS c FROM bigs GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT p.doc_id, n_tokens, n_distinct_tokens,
           round(n_distinct_tokens / n_tokens, 6) AS distinct_ratio,
           round(top_token_count / n_tokens, 6) AS top_token_frac,
           round(top_bigram_count / n_bigrams, 6) AS top_bigram_frac
    FROM per_tok p LEFT JOIN per_big b ON p.doc_id = b.doc_id
    """,
)
def ext_repetition_profile(spark, sf_dir):
    """Gopher-style repetition metrics per document (Rae et al. 2021
    §A1.1: duplicate-fraction filters). Explode + two hash-aggregate
    trees; ratios are single IEEE divisions of exact counts."""
    return repetition_profile(load_table(spark, sf_dir, "documents"))


@register(
    "ext_gopher_quality_gate",
    """
    SELECT doc_id, n_tokens, mean_word_len, stop_hits,
           (n_tokens BETWEEN 10 AND 1000
            AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
            AND stop_hits >= 2) AS keep
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             round(length(replace(text, ' ', ''))
                   / len(string_split(text, ' ')), 6) AS mean_word_len,
             (CASE WHEN contains(' ' || text || ' ', ' the ') THEN 1 ELSE 0 END
              + CASE WHEN contains(' ' || text || ' ', ' a ') THEN 1 ELSE 0 END
              + CASE WHEN contains(' ' || text || ' ', ' and ') THEN 1 ELSE 0 END
              + CASE WHEN contains(' ' || text || ' ', ' of ') THEN 1 ELSE 0 END
              + CASE WHEN contains(' ' || text || ' ', ' to ') THEN 1 ELSE 0 END)
               AS stop_hits
      FROM documents)
    """,
)
def ext_gopher_quality_gate(spark, sf_dir):
    """Expression-only quality gate (token bounds, mean word length,
    stopword presence) — scan-side, no shuffle, no UDF."""
    return gopher_quality_gate(load_table(spark, sf_dir, "documents"))


@register(
    "ext_pack_sequences",
    """
    WITH t AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT *, COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
      FROM t
    )
    SELECT source, CAST(floor(cum_excl / 512.0) AS BIGINT) AS seq_id,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY 1, 2
    """,
)
def ext_pack_sequences(spark, sf_dir):
    """Block-pack docs into 512-token training sequences per source
    shard: running-sum window partitioned by shard (no global sort),
    then a rollup per sequence."""
    return pack_sequences(load_table(spark, sf_dir, "documents"), budget=512)


@register(
    "ext_stratified_sample",
    f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             {_H_EXPR} AS h,
             20 + 3 * ({_SRC_NUM} % 5) AS rate_pct
      FROM documents)
    WHERE h * 100 < rate_pct * CAST(4294967296 AS BIGINT)
    """,
)
def ext_stratified_sample(spark, sf_dir):
    """Per-source stratified sampling with an md5-uniform and integer
    threshold math — deterministic on any engine or cluster size."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"([0-9]+)", 1).cast("int")
    rate_pct = F.lit(20) + F.lit(3) * (src_num % 5)
    return stratified_sample(docs, rate_pct).select("doc_id", "source")


@register(
    "ext_domain_resample",
    f"""
    SELECT doc_id, source,
           unnest(range(1, 1 + ({_SRC_NUM} % 3) + 1)) AS copy_idx
    FROM documents
    """,
)
def ext_domain_resample(spark, sf_dir):
    """Data-mixture upsampling: 1-3 copies per doc keyed on source —
    a narrow explode, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"([0-9]+)", 1).cast("int")
    n_copies = F.lit(1) + (src_num % 3)
    return domain_resample(docs, n_copies).select("doc_id", "source", "copy_idx")


@register(
    "ext_decontamination",
    r"""
    WITH lt AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    ltoks AS (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos
        FROM lt)
    ),
    tris AS (
      SELECT DISTINCT doc_id,
             tok || ' ' || n1 || ' ' || n2 AS shingle
      FROM (
        SELECT doc_id, tok,
               lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
               lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS n2
        FROM ltoks)
      WHERE n2 IS NOT NULL
      UNION
      SELECT doc_id, array_to_string(t, ' ') AS shingle
      FROM lt WHERE len(t) < 3
    )
    SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
           count(*) AS n_shared
    FROM (SELECT * FROM tris WHERE doc_id % 97 <> 0) tr
    JOIN (SELECT * FROM tris WHERE doc_id % 97 = 0) ev
      ON tr.shingle = ev.shingle
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def ext_decontamination(spark, sf_dir):
    """Benchmark decontamination report: train docs (doc_id % 97 != 0)
    sharing >= 2 distinct word-3-grams with any eval doc (% 97 == 0).
    Inverted-index shingle join — eval side tiny, broadcast-able."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate_report(train, eval_df, min_overlap=2)


@register(
    "ext_corpus_top_bigrams",
    f"""
    WITH {_TOKS_CTE}
    SELECT bigram, count(*) AS cnt FROM bigs
    GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20
    """,
)
def ext_corpus_top_bigrams(spark, sf_dir):
    """Corpus-level top-20 bigrams (boilerplate/contamination probe):
    hash aggregate with map-side combine + TakeOrdered."""
    return corpus_top_bigrams(load_table(spark, sf_dir, "documents"), k=20)


@register(
    "ext_scrub_text",
    r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(
             lower(text || ' See HTTPS://Ex.com/a?b=1 or mail '
                        || 'Bob.Smith+x@ex-ample.org end'),
             'https?://\S+', ' ', 'g'),
             '[\w.+-]+@[\w-]+\.[\w.]+', ' ', 'g'),
             '\s+', ' ', 'g')) AS scrubbed
    FROM documents
    """,
)
def ext_scrub_text(spark, sf_dir):
    """C4-style scrub (lowercase, strip URLs/emails, collapse
    whitespace) over text with injected dirt, so removal is actually
    exercised. RE2-safe patterns shared verbatim with the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" See HTTPS://Ex.com/a?b=1 or mail Bob.Smith+x@ex-ample.org end"),
    )
    return docs.select("doc_id", scrub_text(dirty).alias("scrubbed"))


@register(
    "ext_chunk_documents",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    st AS (
      SELECT doc_id, t, len(t) AS n,
             unnest(range(0, len(t), 24)) AS start
      FROM toks
    )
    SELECT doc_id,
           CAST(start / 24 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_pos,
           CAST(least(32, n - start) AS BIGINT) AS chunk_tokens,
           md5(array_to_string(t[start + 1 : start + 32], ' ')) AS chunk_md5
    FROM st
    WHERE start = 0 OR start + 8 < n
    """,
)
def ext_chunk_documents(spark, sf_dir):
    """[EXT] fixed-window token chunking with overlap (32-token
    windows every 24 tokens; trailing fully-contained windows
    dropped). Scan-shaped retrieval/RAG prep — no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", "text", window=32, stride=24)


@register(
    "ext_weighted_sample",
    r"""
    WITH u AS (
      SELECT doc_id, lang, n_chars,
             ((strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1)) - 1) * 16^7
              + (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 2, 1)) - 1) * 16^6
              + (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 3, 1)) - 1) * 16^5
              + (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 4, 1)) - 1) * 16^4
              + (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 5, 1)) - 1) * 16^3
              + (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 6, 1)) - 1) * 16^2
              + (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 7, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 8, 1)) - 1)
             ) AS h32
      FROM documents
    ), keyed AS (
      SELECT doc_id, lang, n_chars,
             ln((h32 + 1) / 4294967297.0) / n_chars AS es_key
      FROM u
    )
    SELECT lang, doc_id, n_chars, sample_rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY es_key DESC, doc_id ASC
      ) AS sample_rank
      FROM keyed
    ) WHERE sample_rank <= 5
    """,
)
def ext_weighted_sample(spark, sf_dir):
    """[EXT] Efraimidis-Spirakis weighted sampling without
    replacement: 5 docs per language, weight = n_chars, md5-derived
    uniforms — deterministic, reproducible, one window shuffle
    (operators/training.py::weighted_sample_per_group)."""
    d = load_table(spark, sf_dir, "documents")
    return weighted_sample_per_group(
        d, ["lang"], "n_chars", 5, id_col="doc_id"
    ).select("lang", "doc_id", "n_chars", "sample_rank")


# ---------------------------------------------------------------------------
# Corpus quality signals and data mixing: unigram-frequency quality,
# bigram-LM perplexity (CCNet-style), CCNet buckets, PMI collocations
# (Church & Hanks 1990), shard assignment, a hashed linear quality
# classifier, temperature-sampled mixtures, and the first BPE merge
# round. Every hash is md5-derived; the one floating sum (LM log-probs)
# is documented bounded-error (terms bit-identical across engines,
# partition-order spread ~1e-13 vs 1e-4 display rounding).
# ---------------------------------------------------------------------------

@register(
    "ext_token_freq_quality",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), td AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
    ), corpus AS (
      SELECT tok, CAST(SUM(c) AS BIGINT) AS freq FROM td GROUP BY 1
    )
    SELECT td.doc_id,
           CAST(SUM(td.c) AS BIGINT) AS n_tokens,
           CAST(SUM(td.c * corpus.freq) AS BIGINT) AS freq_sum,
           round(CAST(SUM(td.c * corpus.freq) AS DOUBLE)
                 / CAST(SUM(td.c) AS DOUBLE), 6) AS avg_tok_freq
    FROM td JOIN corpus USING (tok)
    GROUP BY 1
    """,
)
def ext_token_freq_quality(spark, sf_dir):
    """[EXT] Unigram corpus-frequency quality score — the cheap LM
    proxy used by web-scale curation pipelines (docs whose tokens are
    rare corpus-wide are disproportionately boilerplate/garbage; cf.
    the CCNet/KenLM perplexity bucket, here with the corpus itself as
    the unigram model). All-integer accumulation: per-doc score is
    SUM(tf * corpus_freq), exact in any partitioning; the single final
    division is the only float op.

    Plan: one explode pass -> groupBy (doc_id, token) with map-side
    combine -> token-level re-aggregate for the corpus table (vocab
    rows only) -> broadcast-size join back -> groupBy doc_id. The
    vocabulary aggregate is tiny relative to the corpus at any scale
    (Heaps' law), so the join-back broadcasts at 100 TB too.
    """
    d = load_table(spark, sf_dir, "documents")
    td = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    corpus = td.groupBy("tok").agg(F.sum("c").alias("freq"))
    return (
        td.join(F.broadcast(corpus), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("freq")).alias("freq_sum"),
            F.round(
                F.sum(F.col("c") * F.col("freq")).cast("double")
                / F.sum("c").cast("double"),
                6,
            ).alias("avg_tok_freq"),
        )
    )


@register(
    "ext_bigram_lm_score",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
      FROM documents
    ),
    bg AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(tk))) AS i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT count(DISTINCT w2) AS vocab FROM bg),
    scored AS (
      SELECT bg.doc_id,
             ln((c12 + 1)::DOUBLE / (c1 + vocab)::DOUBLE) AS lp
      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(lp) / count(*), 4) AS avg_logp,
           round(exp(-sum(lp) / count(*)), 4) AS perplexity
    FROM scored GROUP BY 1
    """,
)
def ext_bigram_lm_score(spark, sf_dir):
    """[EXT] corpus-trained bigram LM score per document — the CCNet
    quality signal (Wenzek et al. 2020 rank documents by LM perplexity
    and keep the low-perplexity head). Add-one-smoothed
    ``p(w2|w1) = (c12+1)/(c_hist(w1)+V)``; output = bigram count, mean
    log-prob, perplexity. See operators/training.py::bigram_lm_scores
    for the pre-aggregated join-back plan shape and the bounded-error
    float-sum argument."""
    return bigram_lm_scores(load_table(spark, sf_dir, "documents"))


@register(
    "ext_ccnet_buckets",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
      FROM documents
    ),
    bg AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(tk))) AS i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT count(DISTINCT w2) AS vocab FROM bg),
    scored AS (
      SELECT bg.doc_id,
             ln((c12 + 1)::DOUBLE / (c1 + vocab)::DOUBLE) AS lp
      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
    ),
    ppl AS (
      SELECT doc_id, round(exp(-sum(lp) / count(*)), 4) AS perplexity
      FROM scored GROUP BY 1
    ),
    ranked AS (
      SELECT d.doc_id, d.lang, p.perplexity,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY p.perplexity ASC, d.doc_id ASC) AS bucket
      FROM documents d JOIN ppl p ON p.doc_id = d.doc_id
    )
    SELECT doc_id, lang, perplexity, bucket,
           (['head', 'middle', 'tail'])[bucket] AS bucket_name
    FROM ranked
    """,
)
def ext_ccnet_buckets(spark, sf_dir):
    """[EXT] CCNet head/middle/tail corpus partition (Wenzek et al.
    2020 §4.3): per-language equal-frequency perplexity buckets over
    the corpus-trained bigram LM score — 'head' is the training-set
    keep, 'tail' the drop. Deterministic: the ntile order is
    (4dp-rounded perplexity ASC, doc_id ASC), a total order both
    engines agree on. One window shuffle on the language key beyond
    the LM scorer's plan."""
    from dissertation_data_pipeline_spark.operators.training import (
        ccnet_perplexity_buckets,
    )

    return ccnet_perplexity_buckets(load_table(spark, sf_dir, "documents"))


@register(
    "ext_pmi_collocations",
    r"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
    ),
    uc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c_w
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
    ),
    bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
      FROM (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
      ) GROUP BY 1, 2
    ),
    tot AS (
      SELECT (SELECT CAST(sum(c_w) AS BIGINT) FROM uc) AS T1,
             (SELECT CAST(sum(c_ab) AS BIGINT) FROM bc) AS T2
    )
    SELECT w1, w2, c_ab, c_a, c_b, round(ln(score), 4) AS pmi FROM (
      SELECT bc.w1, bc.w2, bc.c_ab, ua.c_w AS c_a, ub.c_w AS c_b,
             (bc.c_ab::DOUBLE / T2::DOUBLE)
             / ((ua.c_w::DOUBLE / T1::DOUBLE) * (ub.c_w::DOUBLE / T1::DOUBLE))
               AS score
      FROM bc
      JOIN uc ua ON bc.w1 = ua.w
      JOIN uc ub ON bc.w2 = ub.w
      CROSS JOIN tot
      WHERE bc.c_ab >= 5
    ) ORDER BY score DESC, w1, w2 LIMIT 100
    """,
)
def ext_pmi_collocations(spark, sf_dir):
    """[EXT] top-100 collocations by PMI over the documents corpus
    (min bigram count 5). Ranking runs on the raw probability-ratio
    double (exact-int operands, IEEE-deterministic ops — see
    operators/training.py::pmi_collocations); ln() only touches the
    4dp display column."""
    return pmi_collocations(
        load_table(spark, sf_dir, "documents"), min_count=5, top_n=100
    )


@register(
    "ext_shard_assignment",
    rf"""
    WITH t AS (
      SELECT CAST(({_H_EXPR}) % 16 AS BIGINT) AS shard,
             CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                  AS BIGINT) AS nt
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS total_tokens,
           CAST(max(nt) AS BIGINT) AS max_doc_tokens
    FROM t GROUP BY shard
    """,
)
def ext_shard_assignment(spark, sf_dir):
    """[EXT] Deterministic training-shard assignment (see
    :func:`operators.training.shard_assignment`): shard =
    md5-hash(doc_id) % 16, per-shard document count / token budget /
    largest doc. The assignment is a pure function of the document id
    — identical under any partitioning, cluster size, or re-run — and
    the oracle recomputes it from scratch in SQL, so determinism is
    gate-verified, not claimed."""
    from dissertation_data_pipeline_spark.operators.training import (
        shard_assignment,
    )

    return shard_assignment(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n_shards=16
    )


def _h32(expr: str) -> str:
    """DuckDB twin of operators.training.uniform_hash_u32 for an
    arbitrary VARCHAR expression: md5-hex first 8 digits -> uint32 as
    explicit digit arithmetic (DuckDB has no conv())."""
    return " + ".join(
        f"CAST((strpos('0123456789abcdef', substr(md5({expr}), "
        f"{i + 1}, 1)) - 1) AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )


@register(
    "ext_classifier_quality_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    feats AS (
      SELECT doc_id, ({_h32("tok")}) % 4096 AS bucket FROM toks
    ),
    w AS (
      SELECT b AS bucket,
             (({_h32("CAST(b AS VARCHAR) || ':w'")}) % 2001) - 1000
               AS weight_milli
      FROM range(4096) t(b)
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(weight_milli) AS BIGINT) AS score_milli
      FROM feats JOIN w USING (bucket) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, score_milli, score_milli > 0 AS keep
    FROM agg
    """,
)
def ext_classifier_quality_filter(spark, sf_dir):
    """[EXT] fastText-style hashed linear classifier inference (see
    :func:`operators.training.hashed_classifier_score`): the
    classifier-based quality-filter step. Integer milli-weight
    arithmetic end to end, so the oracle match is exact, not
    float-tolerant; the weight table is recomputed identically by both
    engines from md5."""
    from dissertation_data_pipeline_spark.operators.training import (
        hashed_classifier_score,
    )

    return hashed_classifier_score(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", dim=4096
    )


@register(
    "ext_temperature_mixture",
    """
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS _n,
             sum(sqrt(CAST(n_docs AS DOUBLE))) AS _z
      FROM counts
    )
    SELECT lang, n_docs,
           round(CAST(n_docs AS DOUBLE) / _n, 6) AS natural_share,
           round(sqrt(CAST(n_docs AS DOUBLE)) / _z, 6) AS temp_share,
           CAST(round(100000.0 * sqrt(CAST(n_docs AS DOUBLE)) / _z, 0)
                AS BIGINT) AS target_docs
    FROM counts, tot
    """,
)
def ext_temperature_mixture(spark, sf_dir):
    """[EXT] Temperature (alpha=0.5) multilingual mixture planning (see
    :func:`operators.training.temperature_mixture`): per-language
    natural vs flattened sampling shares and integer document budgets.
    sqrt is IEEE-exact on both engines (pow is not) — that is why the
    temperature is 0.5 and not a config float."""
    from dissertation_data_pipeline_spark.operators.training import (
        temperature_mixture,
    )

    return temperature_mixture(
        load_table(spark, sf_dir, "documents"), "lang", budget=100_000
    )


# ---------------------------------------------------------------------------
# BPE training (operators.bpe): the iterative merge loop is
# driver-pattern (per-round global argmax -> 1-row collect) and thus not
# one-statement-SQL-expressible; the gate-checked query is its first
# iteration — corpus-wide adjacent symbol-pair counts over the char+EOW
# initialization — which pins the word-frequency reduction, the symbol
# initialization, and the pair-count aggregate that every later round
# reuses. Full-loop parity vs an independent pure-Python reference lives
# in tests/test_wave6.py.
# ---------------------------------------------------------------------------

@register(
    "ext_bpe_pair_counts",
    r"""
    WITH words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents
      )
      WHERE len(word) > 0 GROUP BY 1
    ),
    syms AS (
      SELECT freq,
             list_concat(
               list_transform(range(1, len(word) + 1), i -> word[i:i]),
               ['</w>']
             ) AS s
      FROM words
    ),
    pairs AS (
      SELECT freq,
             unnest(list_transform(range(1, len(s)),
                                   i -> {'a': s[i], 'b': s[i + 1]})) AS p
      FROM syms
    )
    SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
    FROM pairs GROUP BY 1, 2
    ORDER BY cnt DESC, a, b LIMIT 20
    """,
)
def ext_bpe_pair_counts(spark, sf_dir):
    """[EXT] BPE training round 1: top-20 adjacent symbol pairs (char +
    end-of-word initialization, counts weighted by word frequency,
    deterministic (cnt DESC, a, b) tiebreak). This is exactly the
    argmax input of operators/bpe.py::bpe_train's first iteration —
    the corpus->word-frequency reduction and the pair aggregate that
    every round reuses, value-checked; the loop itself is verified by
    reference-implementation parity in tests."""
    words = initial_symbols(
        word_frequencies(load_table(spark, sf_dir, "documents"))
    )
    return (
        pair_counts(words)
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(20)
    )
