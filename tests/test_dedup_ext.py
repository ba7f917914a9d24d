"""Unit tests for the [EXT] dedup operators on controlled inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators import dedup_ext as dx


def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "a"),
        (2, "the quick brown fox jumps over the lazy dog", "en", "a"),  # exact dup of 1
        (3, "lazy dog the over jumps fox brown quick the", "en", "a"),  # shuffled dup of 1
        (4, "the quick brown fox jumps over the sleepy dog", "en", "a"),  # near dup of 1
        (5, "completely different text about spark engines", "en", "a"),
        (6, "short", "en", "a"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_dedup_groups(spark):
    out = {r["canonical_id"]: r["n_copies"] for r in dx.exact_dedup_groups(docs(spark), "doc_id", "text").collect()}
    assert out[1] == 2  # docs 1+2 share content
    assert sum(out.values()) == 6


def test_tokenset_dedup_groups(spark):
    out = {r["canonical_id"]: r["n_copies"] for r in dx.tokenset_dedup_groups(docs(spark), "doc_id", "text").collect()}
    assert out[1] == 3  # 1, 2 (exact) and 3 (shuffled) share the token set


def test_minhash_auto_banding_s_curve():
    """The adaptive rule: largest rows_per_band whose S-curve crossover
    (1/b)^(1/r) stays at or below the threshold. The 12/0.5 default
    MUST resolve to 6x2 — the measured >=0.95-recall banding — and the
    pinned value here is what the gate oracles render their SQL from."""
    assert dx.minhash_auto_banding(12, 0.5) == (6, 2)
    assert dx.minhash_auto_banding(12, 0.7) == (4, 3)
    assert dx.minhash_auto_banding(12, 0.8) == (3, 4)
    # below every crossover: fall back to single-row bands (max recall)
    assert dx.minhash_auto_banding(12, 0.3) == (12, 1)
    assert dx.minhash_auto_banding(12, 0.05) == (12, 1)
    # crossover math holds for non-12 signature widths too
    assert dx.minhash_auto_banding(16, 0.5) == (8, 2)
    for k, t in [(12, 0.5), (16, 0.6), (8, 0.75)]:
        b, r = dx.minhash_auto_banding(k, t)
        assert b * r == k
        assert (1.0 / b) ** (1.0 / r) <= t or r == 1


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dx.minhash_lsh_pairs(docs(spark), "doc_id", "text", threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and 0.3 <= pairs[(1, 4)] < 1.0
    assert not any({5, 6} & set(p) for p in pairs)


def test_simhash_exact_dup_is_zero_distance(spark):
    vals = {r["doc_id"]: r["simhash"] for r in docs(spark).select(
        "doc_id", dx.simhash("text").alias("simhash")).collect()}
    assert vals[1] == vals[2] == vals[3]  # token-set-identical -> same signature
    assert vals[1] != vals[5]
    assert all(0 <= v < (1 << 48) for v in vals.values())


def test_blocked_jaccard_requires_blocks(spark):
    try:
        dx.blocked_jaccard_pairs(docs(spark), "doc_id", "text", [])
        assert False, "expected AssertionError"
    except AssertionError:
        pass
    out = dx.blocked_jaccard_pairs(docs(spark), "doc_id", "text", ["lang", "source"], threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in got


def test_duplicated_shingle_fraction(spark):
    from dissertation_data_pipeline_spark.operators.dedup_ext import (
        duplicated_shingle_fraction,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d"),          # shingles: "a b c", "b c d"
            (2, "a b c x"),          # shares "a b c" with doc 1
            (3, "p q r s"),          # unique
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicated_shingle_fraction(df, "doc_id", "text").collect()
    }
    assert out[1]["n_shingles"] == 2 and out[1]["n_dup"] == 1
    assert out[1]["dup_frac"] == 0.5
    assert out[2]["n_dup"] == 1
    assert out[3]["n_dup"] == 0 and out[3]["dup_frac"] == 0.0


def test_curation_pipeline_funnel_is_monotone(spark):
    from dissertation_data_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["ext_curation_pipeline"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["n_raw"] >= r["n_quality"] >= r["n_exact"] >= r["n_final"] >= 0
        if r["n_final"]:
            assert r["tokens_final"] > 0


# ---------------------------------------------------------- incremental dedup
def test_dedup_incremental_probe_vs_stored_index(spark):
    from dissertation_data_pipeline_spark.operators.dedup_incremental import (
        dedup_incremental,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    base = "alpha beta gamma delta epsilon zeta eta theta " * 3
    other = "one two three four five six seven eight nine ten " * 3
    batch1 = mk([(1, base), (2, base), (3, other)])
    empty_index = spark.createDataFrame(
        [], "_id long, band_idx int, band_key string"
    )

    s1, idx1 = dedup_incremental(batch1, empty_index, "doc_id", "text")
    ids1 = {r["doc_id"] for r in s1.collect()}
    assert ids1 == {1, 3}  # within-batch family keeps min id

    # next increment: same contents under new ids + one fresh doc
    fresh = "totally different words nowhere else seen in corpus " * 3
    batch2 = mk([(11, base), (13, other), (14, fresh)])
    s2, idx2 = dedup_incremental(batch2, idx1, "doc_id", "text")
    ids2 = {r["doc_id"] for r in s2.collect()}
    assert ids2 == {14}  # stored index caught both re-ingested texts

    # the index grew by exactly the survivors' entries
    assert idx2.select("_id").distinct().count() == 3  # {1, 3, 14}
    # replaying batch2 against the new index drops everything
    s3, _ = dedup_incremental(batch2, idx2, "doc_id", "text")
    assert s3.count() == 0


def test_containment_detects_doc_inside_doc(spark):
    """A short doc quoted whole inside a long doc: Jaccard is small but
    containment from the quote's side is 1.0."""
    quote = "alpha beta gamma delta epsilon zeta"
    page = quote + " " + " ".join(f"filler{i} word{i} extra{i}" for i in range(12))
    rows = [(1, quote, "en"), (2, page, "en"), (3, "unrelated text entirely", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
        for r in dx.containment_pairs(
            df, "doc_id", "text", ["lang"], threshold=0.9
        ).collect()
    }
    assert (1, 2) in pairs
    ca, cb = pairs[(1, 2)]
    assert ca == 1.0  # every shingle of the quote occurs in the page
    assert cb < 0.5  # but the page is mostly not the quote
    assert not any(3 in p for p in pairs)


def test_winnowing_guarantee_and_dup_digest(spark):
    """Every w-window selects >= 1 fingerprint (density bound holds),
    identical docs share the digest, and short docs degrade cleanly."""
    from pyspark.sql import functions as F

    rows = [
        (1, "the winnowing algorithm selects minima from sliding windows"),
        (2, "the winnowing algorithm selects minima from sliding windows"),
        (3, "a completely different document body with other characters"),
        (4, "tiny"),  # shorter than k=5 -> zero grams
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", dx.winnowing_fingerprints("text", k=5, w=4).alias("w")
        )
        .select("doc_id", "w.n_grams", "w.n_fingerprints", "w.fp_digest")
        .collect()
    }
    assert out[1]["fp_digest"] == out[2]["fp_digest"]
    assert out[1]["fp_digest"] != out[3]["fp_digest"]
    # density: selections cover every window, and winnowing never keeps
    # more than one fingerprint per window start
    n_windows = out[1]["n_grams"] - 3
    assert 1 <= out[1]["n_fingerprints"] <= n_windows
    # w consecutive windows share at least one selection => at least
    # ceil(n_windows / (2w-1)) distinct fingerprints is a safe floor
    assert out[1]["n_fingerprints"] >= n_windows // (2 * 4)
    assert out[4]["n_grams"] == 0 and out[4]["n_fingerprints"] == 0
    assert out[5]["n_grams"] == 0
    assert out[4]["fp_digest"] == out[5]["fp_digest"]


def test_winnowing_selects_window_minimum(spark):
    """The fingerprint set is exactly {min of each w-window} (rightmost
    tie), cross-checked against a pure-Python reimplementation."""
    import hashlib

    text = "abcdefgabcdefgabcdefg"
    k, w = 5, 4
    s = text.lower()
    grams = [s[i : i + k] for i in range(len(s) - k + 1)]
    hashes = [
        int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
    ]
    keys = [h * (1 << 20) + ((1 << 20) - 1 - i) for i, h in enumerate(hashes)]
    wlen = min(w, len(keys))
    expected = set()
    for j in range(max(len(keys) - w + 1, 1)):
        mk = min(keys[j : j + wlen])
        pos = (1 << 20) - 1 - (mk & ((1 << 20) - 1))
        expected.add(f"{pos}:{mk >> 20}")
    digest = hashlib.md5("|".join(sorted(expected)).encode()).hexdigest()

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = (
        df.select(dx.winnowing_fingerprints("text", k=k, w=w).alias("w"))
        .select("w.n_fingerprints", "w.fp_digest")
        .collect()[0]
    )
    assert row["n_fingerprints"] == len(expected)
    assert row["fp_digest"] == digest


def test_repeated_substring_spans_merging(spark):
    """Two docs sharing one long substring produce one maximal span
    each covering exactly the shared region; unique text yields none."""
    shared = "this exact sentence is repeated across two documents verbatim"
    rows = [
        (1, "XXXXX " + shared + " YYYYY"),
        (2, "aaaaa " + shared + " bbbbb"),
        (3, "nothing here repeats anywhere at all in this tiny corpus"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_chars"])
        for r in dx.repeated_substring_spans(
            df, "doc_id", "text", gram_chars=15, min_span_chars=30
        ).collect()
    }
    assert set(spans) == {1, 2}
    # the surrounding spaces are shared too (both prefixes end and both
    # suffixes begin with one), so the maximal span is space + sentence
    # + space starting at 1-based position 6
    for d in (1, 2):
        start, end, n = spans[d]
        assert start == 6
        assert n == len(shared) + 2
        assert end == start + n - 1


def test_exact_dedup_null_text_rows_are_singletons(spark):
    from pyspark.sql import Row

    from dissertation_data_pipeline_spark.operators.dedup_ext import (
        exact_dedup_groups,
        tokenset_dedup_groups,
    )

    df = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text=None),
         Row(doc_id=3, text="same"), Row(doc_id=4, text="same")],
        "doc_id long, text string",
    )
    for fn in (exact_dedup_groups, tokenset_dedup_groups):
        out = fn(df, "doc_id", "text").collect()
        by_canon = {r.canonical_id: r.n_copies for r in out}
        # NULL-text docs must NOT merge into one duplicate family
        assert by_canon.get(1) == 1 and by_canon.get(2) == 1
        assert by_canon.get(3) == 2


def test_stop_shingle_cap_bounds_pathological_pairs(spark):
    """The 100 TB guard: a boilerplate shingle shared by EVERY doc
    makes the uncapped inverted index emit n^2/2 candidate pairs; with
    max_df the boilerplate posting list is dropped and pair counts are
    bounded by the true near-dup structure."""
    n = 40
    # every doc: the same license banner (one common 3-shingle source)
    # + a unique tail; docs 2k/2k+1 additionally share a rare phrase
    rows = []
    for i in range(n):
        rare = f"rare phrase number {i // 2} appears twice here"
        rows.append((i, f"all rights reserved {rare} unique tail {i}", "en"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    uncapped = dx.blocked_jaccard_pairs(
        df, "doc_id", "text", ["lang"], threshold=0.01
    )
    capped = dx.blocked_jaccard_pairs(
        df, "doc_id", "text", ["lang"], threshold=0.01, max_df=5
    )
    n_uncapped, n_capped = uncapped.count(), capped.count()
    # boilerplate connects everything: ~n^2/2 pairs without the cap
    assert n_uncapped >= (n * (n - 1)) // 2 // 2
    # with the cap only the genuine rare-phrase partners remain
    assert n_capped == n // 2
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(2 * k, 2 * k + 1) for k in range(n // 2)}


def test_stop_shingle_report_accounts_dropped_mass(spark):
    """No silent caps: the report quantifies exactly what max_df drops."""
    rows = [
        (i, "common common common banner text here plus word " + str(i), "en")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    rep = dx.stop_shingle_report(
        df, "doc_id", "text", ["lang"], max_df=5
    ).collect()[0]
    assert rep.n_stop_shingles > 0
    assert rep.dropped_postings > 0
    assert rep.total_postings > rep.dropped_postings
    assert 0.0 < rep.dropped_frac < 1.0
    # the accounting identity the log line relies on
    assert rep.dropped_frac == round(
        rep.dropped_postings / rep.total_postings, 6
    )


def test_simhash_multiblock_banding_equals_legacy(spark, sf_dir):
    """Recall proof in data: the C(6,3) 24-bit-key block scheme and the
    legacy 4x12-bit one-block scheme must produce the IDENTICAL pair
    set (both are pigeonhole-exact; the refinement only removes random
    band collisions from the candidate stage)."""
    from dissertation_data_pipeline_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").limit(400)
    legacy = {
        (r.id_a, r.id_b, r.hamming)
        for r in dx.simhash_pairs(d, "doc_id", "text", max_hamming=3).collect()
    }
    refined = {
        (r.id_a, r.id_b, r.hamming)
        for r in dx.simhash_pairs(
            d, "doc_id", "text", max_hamming=3, n_blocks=6
        ).collect()
    }
    assert refined == legacy
    assert legacy  # non-vacuous: the corpus ships near-dups


def test_signature_pairs_multiblock_synthetic_radius(spark):
    """Synthetic signatures at every Hamming distance 0..6 from a base:
    the refined scheme keeps exactly the <= max_hamming ones."""
    base_sig = int("5a5a5a5a5a5a", 16)
    rows, sig = [], base_sig
    for i in range(7):  # flip one more bit each step: distance i
        rows.append((i, sig))
        sig ^= 1 << (i * 7)
    df = spark.createDataFrame(rows, "_id long, _sh long")
    out = {
        (r.sh_a, r.sh_b)
        for r in dx._signature_pairs(df, 3, 48, 6).collect()
    }
    sigs = dict(rows)
    for i in range(1, 7):
        a, b = sorted((sigs[0], sigs[i]))
        dist = bin(sigs[0] ^ sigs[i]).count("1")
        assert ((a, b) in out) == (dist <= 3), (i, dist)


def test_auto_n_blocks_threshold(spark, sf_dir):
    """Scheme auto-selection from PLANNING-TIME stats (zero jobs):
    classic d+1 blocks below the corpus-size threshold, 6-block
    multi-table at/above it; never multi-block when 6 doesn't divide
    the signature width or doesn't exceed the radius."""
    from dissertation_data_pipeline_spark.tables import load_table

    # rowCount path: a bare Range leaf carries an exact row count
    small = spark.range(10)
    assert dx._auto_n_blocks(small, 3, 48) == 4
    big = spark.range(dx._MULTIBLOCK_MIN_ROWS)
    assert dx._auto_n_blocks(big, 3, 48) == 6
    assert dx._auto_n_blocks(big, 3, 64) == 4  # 64 % 6 != 0
    assert dx._auto_n_blocks(big, 5, 48) == 6  # 6 > 5 still valid
    # sizeInBytes path: a Project drops rowCount in size-only stats
    # estimation, so the decision falls back to bytes / _APPROX_DOC_BYTES
    small_proj = spark.range(10).selectExpr("id as _id", "id as _sh")
    assert dx._auto_n_blocks(small_proj, 3, 48) == 4
    big_bytes = spark.range(
        dx._MULTIBLOCK_MIN_ROWS * dx._APPROX_DOC_BYTES // 8
    ).selectExpr("id as _id", "id as _sh")
    assert dx._auto_n_blocks(big_bytes, 3, 48) == 6
    # parquet-scan path: exact matched-file bytes (the gate-query shape)
    docs = load_table(spark, sf_dir, "documents")
    assert dx._auto_n_blocks(docs, 3, 48) == 4  # ~60 KB at sf0.01


# --- chunk-level boilerplate removal ---------------------------------------

def test_chunk_dedup_removes_cross_doc_chunks_only(spark, sf_dir):
    from dissertation_data_pipeline_spark.plans.registry import QUERIES

    rows = {
        r["doc_id"]: r
        for r in QUERIES["ext_chunk_dedup_clean"]
        .fn(spark, sf_dir)
        .collect()
    }
    # every doc fully accounted for; cleaned text length consistent
    for r in rows.values():
        assert 0 <= r["n_kept"] <= r["n_chunks"]
        if r["n_kept"] == 0:
            assert r["cleaned"] == ""
        else:
            # kept chunks reassemble to at most the original token count
            assert len(r["cleaned"].split(" ")) <= r["n_chunks"] * 8


def test_chunk_dedup_tiny_corpus(spark):
    # doc 1 and 2 share their first 8 tokens exactly; doc 3 is unique
    shared = "a b c d e f g h"
    df = spark.createDataFrame(
        [
            (1, shared + " u1 u2 u3 u4 u5 u6 u7 u8"),
            (2, shared + " v1 v2 v3 v4 v5 v6 v7 v8"),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8"),
        ],
        "doc_id long, text string",
    )
    toks = F.split(F.col("text"), " ")
    n = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    ch = df.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    freq = ch.groupBy("chunk").agg(F.countDistinct("doc_id").alias("nd"))
    kept = (
        ch.join(freq, "chunk")
        .filter(F.col("nd") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    got = {r["doc_id"]: r["n_kept"] for r in kept.collect()}
    assert got == {1: 1, 2: 1, 3: 1}  # each doc keeps only its unique chunk
