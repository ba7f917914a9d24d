"""Unit tests for [EXT] similarity + text-analysis operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators import similarity as sim
from dissertation_data_pipeline_spark.operators import textanalysis as ta


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
        "a array<float>, b array<float>",
    )
    out = [r[0] for r in df.select(F.round(sim.cosine("a", "b"), 6).alias("c")).collect()]
    assert out == [1.0, 0.0, 1.0]


def test_brute_force_topk_ranks_exact(spark):
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0 + i / 10.0]) for i in range(1, 6)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.1])], "query_id long, query_vec array<float>"
    )
    out = sim.brute_force_topk(queries, corpus, k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 2]  # vec 1 == [1, .1] exactly
    assert out[0]["sim"] == 1.0 and out[0]["rank"] == 1


def test_lsh_bucket_deterministic(spark):
    planes = sim.hyperplanes(8, 4)
    df = spark.createDataFrame(
        # powers of two: no ±1-signed combination sums to exactly 0,
        # so negation provably flips every projection's sign
        [(1, [1.0, 2.0, 4.0, 8.0]), (2, [1.0, 2.0, 4.0, 8.0]), (3, [-1.0, -2.0, -4.0, -8.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r["b"] for r in df.select(
        "vec_id", sim.lsh_bucket("embedding", planes).alias("b")).collect()}
    assert out[1] == out[2]            # identical vectors -> same cell
    assert out[1] + out[3] == 255      # negated vector flips every bit
    assert 0 <= out[1] < 256


def test_lang_id_profiles(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house and that is fine",),
            ("der hund und die katze ist nicht da",),
            ("el perro y la casa en que vivo",),
            ("zzz qqq xxx",),  # no profile hits -> tie -> first in order (en)
        ],
        "text string",
    )
    out = [r[0] for r in df.select(ta.lang_id("text").alias("o")).collect()]
    assert out == ["en", "de", "es", "en"]


def test_quality_score_bounds_and_monotonicity(spark):
    df = spark.createDataFrame(
        [
            ("the quick brown fox and the lazy dog in a field of wheat that runs",),
            ("@@@@ #### $$$$ %%%%",),
            ("",),
        ],
        "text string",
    )
    out = [r[0] for r in df.select(ta.quality_score("text").alias("q")).collect()]
    assert all(0.0 <= q <= 1.0 for q in out)
    assert out[0] > out[1]  # clean prose beats symbol soup


def test_token_counts(spark):
    df = spark.createDataFrame([("hello, world! it's 42",), ("",)], "text string")
    rows = df.select(
        *[c.alias(n) for n, c in ta.token_counts("text").items()]
    ).collect()
    assert rows[0]["ws_tokens"] == 4
    # hello , world ! it ' s 42 -> 8 BPE-ish pieces
    assert rows[0]["bpe_ish_tokens"] == 8
    assert rows[1]["ws_tokens"] == 0 and rows[1]["bpe_ish_tokens"] == 0


def test_doc_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([("ab",), ("ba",), ("ab",)], "text string")
    out = [r[0] for r in df.select(ta.doc_fingerprint("text").alias("f")).collect()]
    assert out[0] == out[2] != out[1]
    assert out[0] == (ord("a") * 31 + ord("b")) % ta.FINGERPRINT_MOD


def test_ivf_centroids_deterministic_and_cell_count(spark, sf_dir):
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sim.ivf_centroids(emb, n_cells=4).select("cell_id").collect()
    b = sim.ivf_centroids(emb, n_cells=4).select("cell_id").collect()
    assert sorted(r["cell_id"] for r in a) == [0, 1, 2, 3]
    assert [r["cell_id"] for r in a] == [r["cell_id"] for r in b]


def test_ivf_topk_subset_of_brute_rank_quality(spark, sf_dir):
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # queries are drawn from the corpus id space here -> opt in to the
    # self-match exclusion (see _maybe_exclude_self)
    ivf = sim.ivf_topk(queries, emb, k=5, n_cells=4, n_probe=2, exclude_self=True)
    rows = ivf.collect()
    # k bounded, ranks dense from 1, no self-matches
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["query_id"] != r["vec_id"]
    for q, rs in by_q.items():
        assert sorted(x["rank"] for x in rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
    # probing half the cells must find a nonempty candidate set
    assert len(by_q) == queries.count()


def test_quantize_int8_error_bound(spark, sf_dir):
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.quantize_int8_stats(emb).collect()
    assert len(out) == emb.count()
    for r in out:
        assert r["scale"] >= 0
        # symmetric quantization reconstruction bound
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12


def test_kmeans_refine_monotone_sse_and_deterministic(spark, sf_dir):
    """Lloyd rounds never increase the within-cluster SSE, and the
    decimal-mean recompute is partitioning-independent."""
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    c0 = sim.ivf_centroids(emb, n_cells=4)
    sse0 = sim.kmeans_sse(emb, c0)
    c1 = sim.kmeans_refine(emb, c0, rounds=1)
    sse1 = sim.kmeans_sse(emb, c1)
    c2 = sim.kmeans_refine(emb, c1, rounds=1)
    sse2 = sim.kmeans_sse(emb, c2)
    assert sse1 <= sse0
    assert sse2 <= sse1
    # determinism under a different input partitioning
    c1b = sim.kmeans_refine(emb.repartition(13), c0, rounds=1)
    a = {r["cell_id"]: list(r["centroid"]) for r in c1.collect()}
    b = {r["cell_id"]: list(r["centroid"]) for r in c1b.collect()}
    assert a == b


def test_semantic_dedup_keeps_one_per_family(spark):
    # three exact duplicates + one far-away vector: the smallest id of
    # the family survives, the rest are marked semantic duplicates
    dup = [1.0, 0.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, dup), (2, dup), (3, dup), (9, [0.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in sim.semantic_dedup(
            df, tau=0.9, n_cells=1
        ).collect()
    }
    assert out[1]["keep"] == 1 and out[1]["max_prior_sim"] == -1.0
    assert out[2]["keep"] == 0 and out[2]["max_prior_sim"] == 1.0
    assert out[3]["keep"] == 0
    assert out[9]["keep"] == 1  # orthogonal to everything


def test_semantic_dedup_cluster_scoped(spark):
    # duplicates split across cells are NOT compared (the SemDeDup
    # trade: pairwise work is bounded by the clustering) — with one
    # cell they are. n_cells=1 here pins the within-cell contract.
    dup = [1.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, dup), (2, dup)], "vec_id long, embedding array<float>"
    )
    out = sim.semantic_dedup(df, tau=0.5, n_cells=1).collect()
    assert sum(r["keep"] for r in out) == 1


def test_redact_counts_and_rewrite(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b@x.co or https://x.co/y now"),
            (2, "call 555-123-4567 about the customer vector"),
            (3, "customers are not redacted, customer is"),
        ],
        "doc_id long, text string",
    )
    r = ta.redact("text")
    rows = {
        row["doc_id"]: row
        for row in df.select(
            "doc_id",
            r["n_email"].alias("e"),
            r["n_url"].alias("u"),
            r["n_phone"].alias("p"),
            r["n_terms"].alias("t"),
            r["redacted"].alias("red"),
        ).collect()
    }
    assert (rows[1]["e"], rows[1]["u"]) == (1, 1)
    assert "[PII:email]" in rows[1]["red"] and "[PII:url]" in rows[1]["red"]
    assert rows[2]["p"] == 1 and rows[2]["t"] == 2
    assert "[PII:phone]" in rows[2]["red"]
    assert rows[2]["red"].count("[TERM]") == 2
    # whole-word: "customers" survives, bare "customer" does not
    assert rows[3]["t"] == 1
    assert "customers" in rows[3]["red"] and " customer " not in rows[3]["red"]


def test_pq_codes_cover_and_selfencode_exactly(spark, sf_dir):
    from dissertation_data_pipeline_spark.operators.similarity import (
        ivf_centroids,
        pq_codes,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = pq_codes(emb)
    n_vec = emb.count()
    assert out.count() == n_vec * 8  # one code per (vector, subspace)
    assert out.filter((F.col("code") < 0) | (F.col("code") >= 16)).count() == 0
    assert out.filter(F.col("d2") < 0).count() == 0
    # a codebook-source vector reconstructs itself: d2 == 0 in every subspace
    src = ivf_centroids(emb, n_cells=16).select("cell_id").count()
    assert src == 16
    zero_rows = out.filter(F.col("d2") == 0.0)
    per_vec_zero = (
        zero_rows.groupBy("vec_id").count().filter(F.col("count") == 8).count()
    )
    assert per_vec_zero >= 16  # at least the 16 sampled codebook sources


def test_lsh_bucket_expr_parity(spark, sf_dir):
    """lsh_bucket's server-side SQL build (one expr parse per call,
    taken for plain column names) must emit bit-identical buckets to
    the per-plane Column build (still taken for Column inputs) — the
    parsed tree is claimed node-identical, and every ANN/LSH family
    query rides on that claim."""
    from pyspark.sql import functions as F

    from dissertation_data_pipeline_spark.operators.similarity import (
        hyperplanes,
        lsh_bucket,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    planes = hyperplanes(40, 64)
    new = lsh_bucket("embedding", planes)  # str -> expr path
    old = lsh_bucket(F.col("embedding"), planes)  # Column -> legacy path
    assert (
        emb.select(new.alias("a"), old.alias("b")).filter("a <> b").count()
        == 0
    )
    # a dotted struct-field name is not a plain column: it must take the
    # Column path and resolve as struct access, not as one quoted name
    nested = emb.select(F.struct("embedding").alias("s"))
    dotted = lsh_bucket("s.embedding", planes)
    via_col = lsh_bucket(F.col("s.embedding"), planes)
    assert (
        nested.select(dotted.alias("a"), via_col.alias("b"))
        .filter("a <> b")
        .count()
        == 0
    )


@pytest.mark.parametrize(
    "ref",
    ["EMBEDDING", "s.embedding", "`s`.embedding", "s.`embedding`",
     "`odd name`", "`a.b`"],
)
def test_lsh_bucket_name_forms_resolve_like_col(spark, sf_dir, ref):
    """Every column-reference string F.col accepts names the same vector
    in lsh_bucket: its buckets equal the plain-name SQL path's.  Only
    simple identifiers may be spliced into the one-parse SQL; quoted,
    dotted or spaced names would break it or resolve a different column."""
    from dissertation_data_pipeline_spark.operators.similarity import (
        hyperplanes,
        lsh_bucket,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    planes = hyperplanes(8, 64)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "embedding",
        F.struct("embedding").alias("s"),
        F.col("embedding").alias("odd name"),
        F.col("embedding").alias("a.b"),
    )
    got = lsh_bucket(ref, planes)
    want = lsh_bucket("embedding", planes)
    assert (
        emb.select(got.alias("a"), want.alias("b")).filter("a <> b").count()
        == 0
    )


def test_pq_codes_prebuilt_codebook_identical(spark, sf_dir):
    """pq_codes(codebook=...) must emit byte-identical codes to the
    self-derived path: the rerank compositions materialize ONE codebook
    for the encode and query-LUT consumers (an optimization — shared
    subtree, not a second derivation), so any divergence between the
    two paths would silently desync codes from lookup tables."""
    from dissertation_data_pipeline_spark.operators.similarity import (
        _pq_codebook,
        pq_codes,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = _pq_codebook(
        emb, id_col="vec_id", vec_col="embedding", n_sub=8, sub_dim=8,
        n_codes=16, code_col="code", sub_col="subspace",
    ).localCheckpoint(eager=False)
    base = {
        (r["vec_id"], r["subspace"]): (r["code"], r["d2"])
        for r in pq_codes(emb).collect()
    }
    pre = {
        (r["vec_id"], r["subspace"]): (r["code"], r["d2"])
        for r in pq_codes(emb, codebook=cb).collect()
    }
    assert pre == base


def test_pq_codes_small_corpus_incomplete_codebook(spark):
    """Corpus smaller than n_codes -> incomplete codebook: the packed
    positional slice would misalign every subspace after the first and
    emit silently-wrong codes; the per-row subspace-filter fallback
    must keep codes valid and self-encoding exact (every vector IS a
    codebook source when n < n_codes)."""
    import random

    from pyspark.sql import Row

    from dissertation_data_pipeline_spark.operators.similarity import pq_codes

    rng = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(64)])
        for i in range(5)  # 5 < n_codes=16 -> codebook incomplete
    ]
    df = spark.createDataFrame(rows)
    out = pq_codes(df).collect()
    assert len(out) == 5 * 8
    assert all(0 <= r["code"] < 16 for r in out)
    # with every vector in the codebook, self-encoding is exact
    assert all(r["d2"] == 0.0 for r in out)


def test_redact_escapes_regex_metachars_in_terms(spark):
    from pyspark.sql import Row

    from dissertation_data_pipeline_spark.operators.textanalysis import redact

    df = spark.createDataFrame([Row(text="see c++ code and a(b too")])
    out = df.select(
        *[c.alias(k) for k, c in redact("text", terms=("c++", "a(b")).items()]
    ).collect()[0]
    assert out.n_terms == 2
    assert out.redacted == "see [TERM] code and [TERM] too"


def test_ivf_partitioned_layout_prunes_and_matches(spark, tmp_path):
    """The 100 TB IVF claim, executable: the partitioned layout's
    probe (a) plans a PartitionFilters predicate on cell_id so
    unprobed cells are never scanned, and (b) returns exactly the
    in-memory ivf_topk results over the same corpus."""
    from dissertation_data_pipeline_spark.operators import similarity as sim
    from dissertation_data_pipeline_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    path = str(tmp_path / "ivf_index")
    sim.write_ivf_partitioned(emb, path, n_cells=8)

    got = sim.ivf_topk_partitioned(
        spark, path, queries, k=5, n_probe=2, exclude_self=True
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan

    want = sim.ivf_topk(
        queries, emb, k=5, n_probe=2, n_cells=8, exclude_self=True
    )
    def key(rows):
        return sorted((r.query_id, r.vec_id, r.sim, r.rank) for r in rows)
    assert key(got.collect()) == key(want.collect())

    # pruning is physical: a single-cell scan plans a partition filter
    # resolved against the directory listing, and the stored layout
    # partitions the corpus completely (cells are disjoint and total)
    one = spark.read.parquet(f"{path}/cells").filter(F.col("cell_id") == 0)
    scan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in scan
    assert spark.read.parquet(f"{path}/cells").count() == emb.count()


def test_normalize_unicode_nfc_composes_and_passes_null(spark):
    """NFC: composed and decomposed spellings converge to the same
    string (the hash-before-dedup property the operator exists for);
    already-NFC text is a fixed point; NULL passes through."""
    from dissertation_data_pipeline_spark.operators.text_udf import (
        normalize_unicode_nfc,
    )

    rows = [
        (1, "café"),              # composed é
        (2, "café"),             # decomposed e + U+0301
        (3, "plain ascii"),
        (4, None),
        (5, "Ångström"),   # Å and ö decomposed
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    out = {
        r.id: r.n
        for r in normalize_unicode_nfc(df, "t", "n").collect()
    }
    assert out[1] == out[2] == "café"
    assert out[3] == "plain ascii"
    assert out[4] is None
    assert out[5] == "Ångström"
    # idempotent: a second pass changes nothing
    df2 = spark.createDataFrame([(k, v) for k, v in out.items()], ["id", "t"])
    again = {
        r.id: r.n
        for r in normalize_unicode_nfc(df2, "t", "n").collect()
    }
    assert again == out


def test_recall_at_10_full_probe_is_exact(spark, sf_dir):
    """recall@10 harness sanity: probing ALL cells degenerates IVF to
    brute force — recall must be exactly 1.0 for every query; and the
    registered 2-probe query emits n_true=10 with 0 <= n_hits <= 10."""
    from pyspark.sql import functions as F

    from dissertation_data_pipeline_spark.operators import similarity as sim
    from dissertation_data_pipeline_spark.plans.registry import QUERIES
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {
        (r.query_id, r.vec_id)
        for r in sim.brute_force_topk(
            queries, emb, k=10, exclude_self=True
        ).collect()
    }
    full = {
        (r.query_id, r.vec_id)
        for r in sim.ivf_topk(
            queries, emb, k=10, n_cells=8, n_probe=8, exclude_self=True
        ).collect()
    }
    assert full == brute

    rows = QUERIES["ext_ann_recall_at_10"].fn(spark, sf_dir).collect()
    assert rows and all(r.n_true == 10 for r in rows)
    assert all(0 <= r.n_hits <= 10 for r in rows)
    assert all(abs(r.recall - r.n_hits / 10) < 1e-9 for r in rows)


def test_ivfpq_rerank_contract_and_candidates_from_probed_cells(spark, sf_dir):
    """IVF-PQ composition: dense per-query ranks, no self-matches,
    exact_pd agrees with a recomputed strict-fold L2, and every
    returned candidate lives in one of its query's probed cells —
    the pruning actually constrains the result set."""
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = sim.ivfpq_rerank_topk(
        q, emb, n_cells=4, n_probe=2, shortlist=10, k=3, exclude_self=True
    )
    rows = out.collect()
    by_q = {}
    for r in rows:
        assert r["query_id"] != r["vec_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == q.count()
    for rs in by_q.values():
        assert sorted(x["rank"] for x in rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        # rank order IS exact_pd order (ties broken by vec_id)
        srt = sorted(rs, key=lambda x: (x["exact_pd"], x["vec_id"]))
        assert [x["vec_id"] for x in srt] == [
            x["vec_id"] for x in sorted(rs, key=lambda x: x["rank"])
        ]
    # candidate cells ⊆ probed cells per query
    cents = sim.ivf_centroids(emb, n_cells=4)
    cells = {
        r["vec_id"]: r["cell_id"]
        for r in sim.ivf_assign(
            emb, cents, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    probes = {}
    for r in sim.ivf_assign(
        q, cents, id_col="query_id", vec_col="qv", rank_upto=2
    ).collect():
        probes.setdefault(r["query_id"], set()).add(r["cell_id"])
    for r in rows:
        assert cells[r["vec_id"]] in probes[r["query_id"]]
    # exact_pd is the floored-picodistance strict-fold L2
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    import math

    for r in rows[:10]:
        acc = 0.0
        for x, y in zip(vecs[r["query_id"]], vecs[r["vec_id"]]):
            acc += (float(x) - float(y)) * (float(x) - float(y))
        assert r["exact_pd"] == math.floor(acc * 1_000_000_000_000)


def test_adaptive_lsh_planes_rule_and_bucket_consistency(spark):
    """The corpus-size -> plane-count rule is exact and shared with the
    oracle CASE; below the first step the buckets are bit-identical to
    the historical fixed-8-plane formulation (gate scales unchanged)."""
    assert sim.adaptive_lsh_planes(0) == 8
    assert sim.adaptive_lsh_planes(19_999) == 8
    assert sim.adaptive_lsh_planes(20_000) == 12
    assert sim.adaptive_lsh_planes(199_999) == 12
    assert sim.adaptive_lsh_planes(200_000) == 16
    # a 16-plane bucket's low 8 bits are exactly the 8-plane bucket
    # (plane j is the same md5-derived row regardless of how many
    # planes follow it)
    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 - 2) for j in range(64)]) for i in range(20)],
        "vec_id int, embedding array<float>",
    )
    b8 = df.select(
        "vec_id", sim.lsh_bucket("embedding", sim.hyperplanes(8, 64)).alias("b")
    ).collect()
    b16 = df.select(
        "vec_id", sim.lsh_bucket("embedding", sim.hyperplanes(16, 64)).alias("b")
    ).collect()
    m8 = {r["vec_id"]: r["b"] for r in b8}
    for r in b16:
        assert r["b"] % 256 == m8[r["vec_id"]]


def test_multiprobe_dominates_single_probe(spark, sf_dir):
    """Multi-probe candidates strictly contain the single-probe set,
    so per-query best similarity must dominate; flip buckets differ
    from the own bucket by exactly one bit."""
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    single = sim.hyperplane_lsh_topk(q, emb, k=1, exclude_self=True).collect()
    multi = sim.hyperplane_lsh_multiprobe_topk(
        q, emb, k=1, n_flip=2, exclude_self=True
    ).collect()
    s1 = {r["query_id"]: r["sim"] for r in single}
    m1 = {r["query_id"]: r["sim"] for r in multi}
    # every single-probe query still answers, and never worse
    for qid, s in s1.items():
        assert qid in m1
        assert m1[qid] >= s, (qid, s, m1[qid])
    assert len(m1) >= len(s1)
    # probe-set shape: own bucket first, flips one bit away
    planes = sim.hyperplanes(8, 64)
    rows = q.select(
        "query_id",
        sim.lsh_bucket("query_vec", planes).alias("b"),
        sim.lsh_probe_buckets("query_vec", planes, 2).alias("ps"),
    ).collect()
    for r in rows:
        assert r["ps"][0] == r["b"]
        for flip in r["ps"][1:]:
            x = flip ^ r["b"]
            assert x != 0 and (x & (x - 1)) == 0  # exactly one bit


def test_adaptive_ivf_cells_staircase():
    from dissertation_data_pipeline_spark.operators.similarity import (
        IVF_CELLS_MAX,
        adaptive_ivf_cells,
    )

    assert adaptive_ivf_cells(0) == 8
    assert adaptive_ivf_cells(19_999) == 8
    assert adaptive_ivf_cells(20_000) == 32
    assert adaptive_ivf_cells(199_999) == 32
    assert adaptive_ivf_cells(200_000) == IVF_CELLS_MAX == 64


def test_ivf_layout_fingerprint_skips_rebuild(spark, tmp_path):
    """The probe query's ensure-layout helper must rebuild once, then
    hit the fingerprint: a second call performs NO write (mtime of the
    fingerprint is unchanged), and a corpus-size change invalidates."""
    import os

    import dissertation_data_pipeline_spark.plans.queries_similarity as qs
    from dissertation_data_pipeline_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sf_key = str(tmp_path / "sfX")  # unique -> unique layout dir
    p1 = qs._ensure_ivf_layout(spark, emb, sf_key)
    stamp1 = os.path.getmtime(os.path.join(p1, "_fingerprint.json"))
    p2 = qs._ensure_ivf_layout(spark, emb, sf_key)
    stamp2 = os.path.getmtime(os.path.join(p2, "_fingerprint.json"))
    assert p1 == p2 and stamp1 == stamp2  # no rebuild, no restamp
    # stale fingerprint -> rebuild
    smaller = emb.limit(10)
    p3 = qs._ensure_ivf_layout(spark, smaller, sf_key)
    stamp3 = os.path.getmtime(os.path.join(p3, "_fingerprint.json"))
    assert stamp3 > stamp2
    # SAME row count, different CONTENT -> the xxhash signature must
    # invalidate (a count-only fingerprint would silently reuse the
    # layout and probe vectors that no longer exist)
    import pyspark.sql.functions as SF

    perturbed = smaller.withColumn(
        "embedding", SF.transform("embedding", lambda x: x * SF.lit(2.0))
    )
    p4 = qs._ensure_ivf_layout(spark, perturbed, sf_key)
    stamp4 = os.path.getmtime(os.path.join(p4, "_fingerprint.json"))
    assert stamp4 > stamp3
