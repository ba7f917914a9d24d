"""[EXT] Training-data pipeline operators: semantics + plan contracts.

Value-exactness vs DuckDB is covered by test_registry_oracle (the
ext_* training queries); these tests pin the operator *semantics*
(packing invariants, sampling determinism, resample multiplicities)
and the physical-plan contracts (codegen path, no Python UDFs).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators.bpe import (
    EOW,
    bpe_segment,
    bpe_train,
    bpe_train_batched,
)
from dissertation_data_pipeline_spark.operators.training import (
    domain_resample,
    gopher_quality_gate,
    pack_sequences,
    pmi_collocations,
    repetition_profile,
    scrub_text,
    stratified_sample,
    uniform_hash_u32,
)
from dissertation_data_pipeline_spark.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_pack_sequences_partitions_every_doc_once(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    packed = pack_sequences(docs, budget=512)
    rows = packed.collect()
    # every document lands in exactly one sequence
    assert sum(r["n_docs"] for r in rows) == docs.count()
    # sequence ids are dense from 0 per shard and spans don't overlap:
    # consecutive seq_ids have non-overlapping [first_doc, last_doc]
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, seqs in by_src.items():
        seqs.sort(key=lambda r: r["seq_id"])
        assert [s["seq_id"] for s in seqs] == list(range(len(seqs)))
        for a, b in zip(seqs, seqs[1:]):
            assert a["last_doc"] < b["first_doc"]
    # exclusive-cumsum semantics: every sequence except possibly the
    # shard's last one reaches the budget (a doc straddles the cut)
    for src, seqs in by_src.items():
        for s in seqs[:-1]:
            assert s["seq_tokens"] >= 512 - 200  # docs are < ~120 tokens


def test_stratified_sample_is_deterministic_and_rate_shaped(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    rate = F.lit(50)  # 50% of every stratum
    a = sorted(r["doc_id"] for r in stratified_sample(docs, rate).collect())
    b = sorted(r["doc_id"] for r in stratified_sample(docs, rate).collect())
    assert a == b  # same rows every run — md5, not a session RNG
    n = docs.count()
    assert 0.35 * n < len(a) < 0.65 * n
    # monotone: a higher rate strictly contains the lower-rate sample
    big = sorted(r["doc_id"] for r in stratified_sample(docs, F.lit(80)).collect())
    assert set(a) <= set(big)


def test_domain_resample_multiplicities(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(30)
    out = domain_resample(docs, F.lit(3)).groupBy("doc_id").count().collect()
    assert all(r["count"] == 3 for r in out)
    idx = domain_resample(docs.limit(1), F.lit(4)).select("copy_idx").collect()
    assert sorted(r["copy_idx"] for r in idx) == [1, 2, 3, 4]


def test_gopher_gate_flags_degenerate_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on a mat and looked out of the window to rest"),
            (2, "word"),  # too short
            (3, "aa " * 20 + "aa"),  # no stopwords
            (4, "pneumonoultramicroscopics " * 15),  # mean word length high
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["keep"] for r in gopher_quality_gate(df).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False}


def test_repetition_profile_detects_repeats(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam eggs"), (2, "all tokens here are unique")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in repetition_profile(df).collect()}
    assert got[1]["top_token_frac"] == 0.8
    assert got[1]["top_bigram_frac"] == 0.75  # "spam spam" 3 of 4
    assert got[2]["distinct_ratio"] == 1.0
    assert got[2]["top_token_frac"] == 0.2


def test_scrub_text_removes_urls_and_emails(spark):
    df = spark.createDataFrame(
        [(1, "Visit HTTPS://A.example/x?y=1  or  mail Bob.Smith+x@ex.org now")],
        "doc_id int, text string",
    )
    [r] = df.select(scrub_text(F.col("text")).alias("s")).collect()
    assert r["s"] == "visit or mail now"


def test_training_plans_stay_on_codegen_path(spark, sf_dir):
    """No Python UDF stages (BatchEvalPython / ArrowEvalPython) in any
    training-operator plan — the whole module is JVM-side."""
    docs = _docs(spark, sf_dir)
    plans = [
        repetition_profile(docs),
        gopher_quality_gate(docs),
        pack_sequences(docs, budget=512),
        stratified_sample(docs, F.lit(30)),
        domain_resample(docs, F.lit(2)),
    ]
    for df in plans:
        physical = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in physical
        assert "ArrowEvalPython" not in physical


def test_uniform_hash_matches_reference_value(spark):
    """Pin the md5-uniform definition: first 8 hex digits of
    md5(cast(id as string)) — the cross-engine contract the oracle
    relies on."""
    import hashlib

    [r] = (
        spark.range(42, 43)
        .select(uniform_hash_u32(F.col("id")).alias("h"))
        .collect()
    )
    assert r["h"] == int(hashlib.md5(b"42").hexdigest()[:8], 16)


def test_decontaminate_report_finds_planted_overlap(spark):
    from dissertation_data_pipeline_spark.operators.training import (
        decontaminate_report,
    )

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated words about spark shuffles and joins"),
            (3, "the quick brown fox jumps high"),  # shares 3-grams with eval 100
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over a fence")],
        "doc_id long, text string",
    )
    got = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in decontaminate_report(train, eval_df, min_overlap=2).collect()
    }
    # doc 1 shares: "the quick brown","quick brown fox","brown fox jumps","fox jumps over" = 4
    # doc 3 shares the first three = 3; doc 2 shares none
    assert got == {(1, 100): 4, (3, 100): 3}


def test_chunk_documents_windows_and_containment(spark):
    from dissertation_data_pipeline_spark.operators.training import chunk_documents

    mk = lambda n: " ".join(f"t{i}" for i in range(n))
    df = spark.createDataFrame(
        [(1, mk(40)), (2, mk(30)), (3, mk(10)), (4, mk(100))],
        "doc_id long, text string",
    )
    out = chunk_documents(df, window=32, stride=24)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["start_pos"], r["chunk_tokens"]))
        for r in out.collect()
    )
    by_doc = {}
    for d, i, s, n in rows:
        by_doc.setdefault(d, []).append((i, s, n))
    # 40 tokens -> [0:32] and [24:40]
    assert by_doc[1] == [(0, 0, 32), (1, 24, 16)]
    # 30 tokens -> single chunk covers all; start=24 chunk is contained -> dropped
    assert by_doc[2] == [(0, 0, 30)]
    assert by_doc[3] == [(0, 0, 10)]
    # 100 tokens -> starts 0,24,48,72,96; 96+8 >= 100 -> last dropped
    assert [s for _, s, _ in by_doc[4]] == [0, 24, 48, 72]
    assert by_doc[4][-1][2] == 28  # 100 - 72


def test_weighted_sample_is_deterministic_and_biased(spark):
    """Heavier rows must win more often across many independent groups,
    and resamples must be byte-identical."""
    from dissertation_data_pipeline_spark.operators.training import (
        weighted_sample_per_group,
    )

    # 200 groups, each with one heavy (w=1000) and nine light (w=10) rows
    rows = []
    for grp in range(200):
        for i in range(10):
            rows.append((grp, grp * 10 + i, 1000 if i == 0 else 10))
    df = spark.createDataFrame(rows, "grp int, doc_id long, w int")
    pick = weighted_sample_per_group(df, ["grp"], "w", 1, id_col="doc_id")
    got = {r["grp"]: r["doc_id"] for r in pick.collect()}
    assert len(got) == 200
    heavy_wins = sum(1 for g, d in got.items() if d == g * 10)
    # P(heavy wins) = 1000/1090 ~ 0.917; with 200 trials, <150 wins is
    # astronomically unlikely (and the draw is deterministic anyway)
    assert heavy_wins > 150, heavy_wins
    again = {r["grp"]: r["doc_id"] for r in pick.collect()}
    assert got == again


def test_weighted_sample_without_replacement(spark):
    from dissertation_data_pipeline_spark.operators.training import (
        weighted_sample_per_group,
    )

    df = spark.createDataFrame(
        [(1, i, 5) for i in range(4)], "grp int, doc_id long, w int"
    )
    out = weighted_sample_per_group(df, ["grp"], "w", 3, id_col="doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids)) == 3
    assert sorted(r["sample_rank"] for r in out) == [1, 2, 3]


def test_bigram_lm_scores_hand_computed(spark):
    """Add-one smoothed bigram LM on a 3-doc corpus where every
    probability is hand-computable: bigrams (a b) x2 and (a c) x1,
    history count c(a)=3, vocabulary V={b, c} -> p(b|a)=3/5,
    p(c|a)=2/5."""
    import math

    from dissertation_data_pipeline_spark.operators.training import (
        bigram_lm_scores,
    )

    rows = [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    assert set(out) == {1, 2, 3}  # the single-token doc has no bigrams
    assert out[1]["n_bigrams"] == 1
    assert out[1]["avg_logp"] == round(math.log(3 / 5), 4)
    assert out[3]["avg_logp"] == round(math.log(2 / 5), 4)
    assert out[1]["perplexity"] == round(5 / 3, 4)
    assert out[3]["perplexity"] == round(5 / 2, 4)


def test_domain_resample_zero_copies_drops_row(spark):
    # sequence(1, 0) counts DOWN in Spark — the guard must emit zero
    # rows for n_copies<=0 (the dropped-domain case), not two phantoms
    from pyspark.sql import Row

    from dissertation_data_pipeline_spark.operators.training import domain_resample

    df = spark.createDataFrame(
        [Row(doc_id=1, w=3), Row(doc_id=2, w=0), Row(doc_id=3, w=-2),
         Row(doc_id=4, w=None)]
    )
    got = {}
    for r in domain_resample(df, F.col("w")).collect():
        got.setdefault(r.doc_id, []).append(r.copy_idx)
    assert got == {1: [1, 2, 3]}


def test_ccnet_buckets_semantics(spark, sf_dir):
    """Head bucket has the lowest perplexities; buckets are
    equal-frequency per language (ntile contract: sizes differ by at
    most 1); every scored doc lands in exactly one bucket."""
    from dissertation_data_pipeline_spark.operators.training import (
        bigram_lm_scores,
        ccnet_perplexity_buckets,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = ccnet_perplexity_buckets(docs).collect()
    n_scored = bigram_lm_scores(docs).count()
    assert len(out) == n_scored  # every scored doc bucketed once
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        sizes = {}
        for r in rows:
            sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1, lang
        head_max = max(r.perplexity for r in rows if r.bucket == 1)
        tail_min = min(r.perplexity for r in rows if r.bucket == 3)
        assert head_max <= tail_min or abs(head_max - tail_min) < 1e-9
        assert all(
            {1: "head", 2: "middle", 3: "tail"}[r.bucket] == r.bucket_name
            for r in rows
        )


# --- PMI collocations ------------------------------------------------------

def test_pmi_prefers_exclusive_pair(spark):
    # "tick tock" always together (exclusive) vs common filler pairs:
    # PMI must rank the exclusive pair first.
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="tick tock " + "the of " * 8) for i in range(5)]
    )
    out = pmi_collocations(docs, min_count=5, top_n=3).collect()
    assert (out[0].w1, out[0].w2) == ("tick", "tock")
    assert out[0].c_ab == 5
    assert out[0].pmi > 0


def test_pmi_min_count_prunes(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="rare pair"), Row(doc_id=2, text="x y " * 10)]
    )
    got = {(r.w1, r.w2) for r in pmi_collocations(docs, min_count=5, top_n=10).collect()}
    assert ("rare", "pair") not in got


# --- sharding, hashed classifier, temperature mixture ----------------------

def test_shard_assignment_deterministic_and_balanced(spark, sf_dir):
    """Sharding is a pure function of doc_id (identical result under
    a different partitioning) and md5-uniform (every shard populated;
    token budgets within a loose band of the mean at 5k docs)."""
    from dissertation_data_pipeline_spark.operators.training import (
        shard_assignment,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r.shard: (r.n_docs, r.total_tokens, r.max_doc_tokens)
         for r in shard_assignment(docs).collect()}
    b = {r.shard: (r.n_docs, r.total_tokens, r.max_doc_tokens)
         for r in shard_assignment(docs.repartition(7)).collect()}
    assert a == b
    assert set(a) == set(range(16))
    n_total = docs.count()
    assert sum(v[0] for v in a.values()) == n_total
    mean_docs = n_total / 16
    for shard, (n_docs, _, _) in a.items():
        assert abs(n_docs - mean_docs) / mean_docs < 0.5, (shard, n_docs)


def test_hashed_classifier_score_exact_and_partition_invariant(spark):
    """Integer milli-weight scoring is bit-exact: a hand-computed md5
    score on a 2-doc frame matches, and any repartitioning produces the
    identical result (the portability claim its oracle states)."""
    import hashlib

    from dissertation_data_pipeline_spark.operators.training import (
        hashed_classifier_score,
    )

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "gamma")], ["doc_id", "text"]
    )

    def expected(text: str) -> tuple[int, int]:
        toks = text.split(" ")
        score = sum(
            (h32(f"{h32(t) % 4096}:w") % 2001) - 1000 for t in toks
        )
        return len(toks), score

    got = {
        r.doc_id: (r.n_tokens, r.score_milli, r.keep)
        for r in hashed_classifier_score(docs).collect()
    }
    for doc_id, text in [(1, "alpha beta alpha"), (2, "gamma")]:
        n, s = expected(text)
        assert got[doc_id] == (n, s, s > 0), (doc_id, got[doc_id], (n, s))

    re_got = {
        r.doc_id: (r.n_tokens, r.score_milli, r.keep)
        for r in hashed_classifier_score(docs.repartition(5)).collect()
    }
    assert re_got == got


def test_hashed_classifier_broadcasts_weights(spark, sf_dir):
    """The weight table must enter as a broadcast join — a shuffle on
    the exploded token stream would be the 100 TB killer."""
    from dissertation_data_pipeline_spark.operators.training import (
        hashed_classifier_score,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    plan = hashed_classifier_score(
        load_table(spark, sf_dir, "documents")
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_temperature_mixture_flattens_the_head(spark, sf_dir):
    """Temperature alpha=0.5 moves mass from the head language to the
    tail: head temp_share < natural_share, tail temp_share >
    natural_share; shares each sum to ~1 and integer budgets sum to
    ~the requested budget (rounding slack only)."""
    from dissertation_data_pipeline_spark.operators.training import (
        temperature_mixture,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = temperature_mixture(docs, "lang", budget=100_000).collect()
    by_lang = {r.lang: r for r in rows}
    head = max(rows, key=lambda r: r.n_docs)
    tail = min(rows, key=lambda r: r.n_docs)
    assert head.temp_share < head.natural_share
    assert tail.temp_share > tail.natural_share
    assert abs(sum(r.natural_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.target_docs for r in rows) - 100_000) <= len(rows)
    # deterministic under repartition
    again = {
        r.lang: r for r in temperature_mixture(
            docs.repartition(9), "lang", budget=100_000
        ).collect()
    }
    assert {k: tuple(v) for k, v in again.items()} == {
        k: tuple(v) for k, v in by_lang.items()
    }


# --- BPE training: parity with an independent reference (Sennrich 2016, sequential) ---

def _ref_word_freqs(texts):
    c = Counter()
    for t in texts:
        for w in t.lower().strip().split():
            if w:
                c[w] += 1
    return c


def _ref_pair_counts(word_syms, freqs):
    pc = Counter()
    for w, syms in word_syms.items():
        for i in range(len(syms) - 1):
            pc[(syms[i], syms[i + 1])] += freqs[w]
    return pc


def _ref_merge_word(syms, a, b):
    out = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return out


def _ref_bpe_train(texts, num_merges, min_pair_count=2):
    freqs = _ref_word_freqs(texts)
    word_syms = {w: list(w) + [EOW] for w in freqs}
    merges = []
    for _ in range(num_merges):
        pc = _ref_pair_counts(word_syms, freqs)
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_count:
            break
        merges.append((a, b, cnt))
        word_syms = {w: _ref_merge_word(s, a, b) for w, s in word_syms.items()}
    return merges, word_syms


TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest new low",
    "the lowest and the newest",
]


def test_bpe_train_matches_reference(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)]
    )
    merges, words = bpe_train(docs, num_merges=12)
    ref_merges, ref_syms = _ref_bpe_train(TEXTS, 12)
    assert merges == ref_merges
    got = {r.word: list(r.syms) for r in words.collect()}
    assert got == ref_syms


def test_bpe_segment_empty_doc_yields_no_tokens(spark):
    # empty/whitespace-only docs must tokenize to ZERO tokens — the
    # whitespace split's empty words are filtered before segmentation,
    # matching the training path's length>0 rule (an unfiltered empty
    # word would emit a phantom '</w>' and inflate token counts)
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text="   "), Row(doc_id=3, text="ab")]
    )
    got = {r.doc_id: list(r.bpe_tokens) for r in bpe_segment(docs, []).collect()}
    assert got[1] == [] and got[2] == []
    assert got[3] == ["a", "b", EOW]


def test_bpe_train_early_stop(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    # every word is a single char: pairs are (char, EOW) with count 1
    merges, _ = bpe_train(docs, num_merges=10, min_pair_count=2)
    assert merges == []


def test_bpe_segment_applies_merges(spark):
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)])
    merges, _ = bpe_train(docs, num_merges=8)
    seg = bpe_segment(docs, merges).select("doc_id", "bpe_tokens").collect()
    ref_merges, ref_syms = _ref_bpe_train(TEXTS, 8)
    for r in seg:
        expect = []
        for w in TEXTS[r.doc_id].lower().strip().split():
            syms = list(w) + [EOW]
            for a, b, _ in ref_merges:
                syms = _ref_merge_word(syms, a, b)
            expect.extend(syms)
        assert list(r.bpe_tokens) == expect


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bpe_train_randomized_parity(spark, seed):
    rng = np.random.default_rng(seed)
    vocab = ["ab", "abc", "bca", "aa", "cab", "bb", "abab", "ca"]
    texts = [
        " ".join(rng.choice(vocab, size=rng.integers(3, 9)))
        for _ in range(12)
    ]
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    merges, _ = bpe_train(docs, num_merges=6)
    ref_merges, _ = _ref_bpe_train(texts, 6)
    assert merges == ref_merges


def test_bpe_batched_batch1_is_exact_sequential(spark):
    """batch=1 must reproduce the sequential trainer exactly (same
    argmax, same tiebreak) — the parity anchor for the batched path."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)]
    )
    seq_merges, _ = bpe_train(docs, num_merges=10)
    bat_merges, _, rounds = bpe_train_batched(docs, num_merges=10, batch=1)
    assert bat_merges == seq_merges
    assert rounds == len(seq_merges)


def test_bpe_batched_reduces_rounds(spark):
    """The whole point: ~batch-fold fewer driver round-trips, and each
    round's accepted pairs are pairwise symbol-disjoint."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)]
    )
    merges, words, rounds = bpe_train_batched(docs, num_merges=12, batch=4)
    assert len(merges) == 12
    assert rounds <= (12 + 3) // 4 + 2  # ~12/4 rounds, conflict slack
    assert rounds < 12  # strictly fewer jobs than sequential
    # final symbol table is consistent: every word re-joins to itself
    for r in words.collect():
        assert "".join(s for s in r.syms if s != EOW).replace(EOW, "") \
            == r.word.replace(EOW, "")


def test_bpe_batched_same_vocabulary_on_separated_corpus(spark):
    """Well-separated frequencies over disjoint alphabets: batched BPE
    learns the SAME merge set as sequential (order differs — sequential
    cascades each word's (token, EOW) merge immediately; batching
    defers it one round because every EOW pair shares the EOW symbol)
    in strictly fewer driver round-trips."""
    texts = ["ab"] * 40 + ["cd"] * 30 + ["ef"] * 20 + ["gh"] * 10
    docs = spark.createDataFrame([Row(doc_id=0, text=" ".join(texts))])
    seq_merges, _ = bpe_train(docs, num_merges=8)
    bat_merges, _, rounds = bpe_train_batched(docs, num_merges=8, batch=8)
    assert sorted(bat_merges) == sorted(seq_merges)
    assert rounds < 8  # 5: chars round + one EOW merge per round
