"""Wave 5: MERGE upsert, CDC apply, PMI, late-data report, sketches."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators.merge import (
    apply_changes,
    latest_changes,
    merge_upsert,
)
from dissertation_data_pipeline_spark.operators.sketches import (
    bottomk_sketches,
    sketch_overlap_pairs,
)
from dissertation_data_pipeline_spark.operators.temporal import late_event_report
from dissertation_data_pipeline_spark.operators.training import pmi_collocations


def _target(spark):
    return spark.createDataFrame(
        [Row(k=1, v="a", n=10), Row(k=2, v="b", n=20), Row(k=3, v="c", n=30)]
    )


def test_merge_upsert_all_four_fates(spark):
    source = spark.createDataFrame(
        [Row(k=2, nv=200), Row(k=3, nv=300), Row(k=4, nv=400)]
    )
    out = merge_upsert(
        _target(spark),
        source,
        "k",
        update_set={"n": F.col("s.nv")},
        insert_values={"k": F.col("s.k"), "v": F.lit("ins"), "n": F.col("s.nv")},
        delete_when=F.col("t.v") == "c",  # k=3 matched & deleted
    )
    rows = {r.k: r for r in out.collect()}
    assert set(rows) == {1, 2, 4}  # 3 deleted
    assert rows[1].v == "a" and rows[1].n == 10  # target-only kept
    assert rows[2].v == "b" and rows[2].n == 200  # matched updated
    assert rows[4].v == "ins" and rows[4].n == 400  # inserted
    assert out.columns == ["k", "v", "n"]  # target schema preserved


def test_merge_upsert_update_only_drops_source_only(spark):
    source = spark.createDataFrame([Row(k=2, nv=99), Row(k=9, nv=1)])
    out = merge_upsert(
        _target(spark), source, "k", update_set={"n": F.col("s.nv")}
    )
    rows = {r.k: r.n for r in out.collect()}
    assert rows == {1: 10, 2: 99, 3: 30}  # k=9 not inserted


def test_latest_changes_deterministic_tiebreak(spark):
    log = spark.createDataFrame(
        [Row(k=1, ts=5, cid=1, op="a"), Row(k=1, ts=5, cid=2, op="b")]
    )
    out = latest_changes(log, "k", [F.desc("ts"), F.desc("cid")]).collect()
    assert len(out) == 1 and out[0].op == "b"


def test_apply_changes_delete_upsert_insert(spark):
    base = spark.createDataFrame([Row(k=1, name="x"), Row(k=2, name="y")])
    log = spark.createDataFrame(
        [
            Row(k=1, ts=1, cid=1, op="upsert", val=1.0),
            Row(k=1, ts=2, cid=2, op="delete", val=None),  # latest: delete k=1
            Row(k=2, ts=1, cid=3, op="delete", val=None),
            Row(k=2, ts=2, cid=4, op="upsert", val=7.0),  # latest: upsert k=2
            Row(k=5, ts=1, cid=5, op="upsert", val=5.0),  # insert k=5
            Row(k=6, ts=1, cid=6, op="delete", val=None),  # delete absent: no-op
        ]
    )
    out = apply_changes(
        base,
        log,
        "k",
        order_by=[F.desc("ts"), F.desc("cid")],
        is_delete=F.col("op") == "delete",
    )
    rows = {r.k: r for r in out.collect()}
    assert set(rows) == {2, 5}
    assert rows[2].change_status == "updated" and rows[2].val == 7.0
    assert rows[5].change_status == "inserted" and rows[5].name is None


def test_apply_changes_kept_rows_pass_through(spark):
    base = spark.createDataFrame([Row(k=1, name="x")])
    log = spark.createDataFrame([Row(k=9, ts=1, cid=1, op="upsert", val=0.5)])
    rows = {r.k: r for r in apply_changes(
        base, log, "k",
        order_by=[F.desc("ts"), F.desc("cid")],
        is_delete=F.col("op") == "delete",
    ).collect()}
    assert rows[1].change_status == "kept" and rows[1].val is None
    assert rows[9].change_status == "inserted"


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


def test_late_event_report_flags_out_of_order(spark):
    # arrival order (aid) vs event time (sec): event 3 arrives after the
    # watermark from event 2 has passed it by > 10s allowed lateness.
    rows = [
        Row(aid=1, k=1, sec=100, g="a"),
        Row(aid=2, k=1, sec=200, g="a"),
        Row(aid=3, k=1, sec=150, g="a"),  # late: wm=200-10=190 > 150
        Row(aid=4, k=1, sec=185, g="b"),  # not late: 185 >= 190? NO -> late
        Row(aid=5, k=2, sec=50, g="a"),   # first arrival for key 2: no wm
    ]
    df = spark.createDataFrame(rows).select(
        "aid", "k", F.timestamp_seconds("sec").alias("ts"), "g"
    )
    rep = {
        r.g: r
        for r in late_event_report(
            df, key="k", ts_col="ts", arrival_col="aid",
            allowed_lateness_s=10, group_col="g",
        ).collect()
    }
    assert rep["a"].n_events == 4 and rep["a"].n_late == 1
    assert rep["a"].max_lateness_us == (190 - 150) * 1_000_000
    assert rep["b"].n_events == 1 and rep["b"].n_late == 1
    assert rep["b"].max_lateness_us == (190 - 185) * 1_000_000


def test_bottomk_sketch_identical_groups_estimate_one(spark):
    text = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [Row(doc_id=1, g="a", text=text), Row(doc_id=2, g="b", text=text),
         Row(doc_id=3, g="c", text="totally different words here now " * 8)]
    )
    sk = bottomk_sketches(docs, "g", "text", id_col="doc_id", k=16)
    got = {r.g: r for r in sk.collect()}
    assert got["a"].sketch == got["b"].sketch
    assert got["a"].sketch == sorted(got["a"].sketch)
    assert len(got["a"].sketch) <= 16
    pairs = {
        (r.g_a, r.g_b): r
        for r in sketch_overlap_pairs(sk, "g", k=16).collect()
    }
    assert pairs[("a", "b")].jaccard_est == 1.0
    assert pairs[("a", "c")].jaccard_est < 0.5
    assert pairs[("a", "b")].sample_size == len(got["a"].sketch)


def test_bottomk_sketch_caps_at_k(spark):
    long_text = " ".join(f"tok{i}" for i in range(500))
    docs = spark.createDataFrame([Row(doc_id=1, g="a", text=long_text)])
    got = bottomk_sketches(docs, "g", "text", id_col="doc_id", k=8).collect()[0]
    assert len(got.sketch) == 8
    assert got.n_distinct == 498  # 500 tokens -> 498 word-3-grams


def test_count_min_guarantee_and_mergeability(spark, sf_dir):
    """CMS one-sided guarantee on real data (est >= truth for every
    probed heavy hitter) and the property that makes it the streaming
    structure: the sketch of a union is the cell-wise sum of the
    parts' sketches."""
    from dissertation_data_pipeline_spark.operators import dedup_ext as dx
    from dissertation_data_pipeline_spark.operators.sketches import (
        count_min_heavy_hitters,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = count_min_heavy_hitters(docs).collect()
    assert len(out) == 10
    assert all(r.est_cnt >= r.true_cnt for r in out)

    # mergeability: split the corpus, build each half's counter matrix
    # with the same bucket fns, and check cell-wise sums reproduce the
    # full-corpus matrix
    def matrix(df):
        toks = df.select(F.explode(dx.tokens("text")).alias("tok")).filter(
            F.length("tok") > 0
        )
        cells = toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.conv(
                                F.substring(
                                    F.md5(F.concat(F.lit(f"{d}:"), F.col("tok"))),
                                    1,
                                    2,
                                ),
                                16,
                                10,
                            ).cast("int").alias("b"),
                        )
                        for d in range(4)
                    ]
                )
            ).alias("_db")
        )
        rows = (
            cells.groupBy("_db.d", "_db.b").count().collect()
        )
        return {(r.d, r.b): r["count"] for r in rows}

    full = matrix(docs)
    a = matrix(docs.filter(F.col("doc_id") % 2 == 0))
    b = matrix(docs.filter(F.col("doc_id") % 2 == 1))
    merged = dict(a)
    for k, v in b.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == full


def _py_rho(hexstr: str) -> int:
    """Reference rho: 1 + leading zero bits of the 48-bit tail."""
    tail = hexstr[2:14]
    v = int(tail, 16)
    if v == 0:
        return 49
    return 48 - v.bit_length() + 1


def test_hll_rho_matches_bitwise_reference(spark):
    """The string-ops rho expression equals the arithmetic definition
    (1 + leading-zero bits) for tokens covering every nibble class."""
    import hashlib

    from dissertation_data_pipeline_spark.operators.sketches import _hll_rho

    toks = [f"tok{i}" for i in range(200)]
    df = spark.createDataFrame([Row(tok=t) for t in toks])
    out = {
        r.tok: r.rho
        for r in df.select(
            "tok", _hll_rho(F.substring(F.md5("tok"), 3, 12)).alias("rho")
        ).collect()
    }
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest()
        assert out[t] == _py_rho(h), (t, h)


def test_hll_estimate_accuracy_and_exactness_columns(spark, sf_dir):
    """HLL-256 typical error is 1.04/sqrt(256) ~ 6.5%; assert every
    per-source estimate lands within 4 sigma (26%) of the exact count
    it is reported beside."""
    from dissertation_data_pipeline_spark.operators.sketches import (
        hll_distinct_by_group,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = hll_distinct_by_group(docs, "source").collect()
    assert rows
    for r in rows:
        assert r.n_exact > 0
        assert abs(r.hll_est - r.n_exact) / r.n_exact < 0.26, r


def test_hll_registers_merge_by_cellwise_max(spark, sf_dir):
    """The property that makes HLL the distributed structure: the
    union's register vector is the cell-wise max of the parts'."""
    from dissertation_data_pipeline_spark.operators import dedup_ext as dx
    from dissertation_data_pipeline_spark.operators.sketches import _hll_rho
    from dissertation_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def registers(df):
        toks = (
            df.select(F.explode(dx.tokens("text")).alias("tok"))
            .filter(F.length("tok") > 0)
            .distinct()
        )
        h = F.md5(F.col("tok"))
        rows = (
            toks.select(
                F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("j"),
                _hll_rho(F.substring(h, 3, 12)).alias("rho"),
            )
            .groupBy("j")
            .agg(F.max("rho").alias("r"))
            .collect()
        )
        return {r.j: r.r for r in rows}

    full = registers(docs)
    a = registers(docs.filter(F.col("doc_id") % 2 == 0))
    b = registers(docs.filter(F.col("doc_id") % 2 == 1))
    merged = dict(a)
    for j, r in b.items():
        merged[j] = max(merged.get(j, 0), r)
    assert merged == full


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
