"""Incremental ingest and table maintenance: the §2.9 state-table
protocol (I1 content-hash change detection, I2/I3 processed-set
resume), MERGE INTO, CDC apply, incremental aggregates and dense ids.

The reference keeps this state as JSON files (legiscan_api.py:21-56,
utils.py:14-53); the engine keeps it as a keyed parquet ``StateTable``
probed with joins.  The protocol row drives the REAL protocol end-to-end —
``StateTable.upsert`` twice (second batch overwrites a key subset, so
update-wins is exercised), ``read`` back, then the two membership
operators — and oracles the outcome with plain SQL that restates the
state's content independently.  Everything is deterministic: the state
is derived from the orders table by exact key rules both engines can
reproduce.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators.merge import apply_changes, merge_upsert
from dissertation_data_pipeline_spark.plans.registry import register
from dissertation_data_pipeline_spark.tables import load_table

#: The simulated ingest state, as exact key rules:
#:   - keys % 3 == 0 were processed before (they are IN the state);
#:   - of those, keys % 9 == 0 have since changed upstream (the state
#:     holds a stale hash — the second upsert batch overwrote them).
#: Work to do = keys never processed ('new') + keys whose current
#: content hash differs from the recorded one ('changed').
_STATE_SQL = """
    WITH work AS (
      SELECT o_orderkey AS key,
             md5(o_orderstatus || '|' || o_orderpriority) AS content_hash
      FROM orders
    ),
    state AS (
      SELECT key,
             CASE WHEN key % 9 = 0 THEN 'stale-hash' ELSE content_hash END
               AS content_hash
      FROM work WHERE key % 3 = 0
    )
    SELECT w.key,
           CASE WHEN s.key IS NULL THEN 'new' ELSE 'changed' END AS reason
    FROM work w LEFT JOIN state s USING (key)
    WHERE s.key IS NULL OR w.content_hash <> s.content_hash
    """


@register("i1_i3_state_protocol", _STATE_SQL)
def i1_i3_state_protocol(spark, sf_dir):
    """I1-I3 as a gate row: build a processed-set StateTable on disk
    through two real upserts (the second overwrites the %9 keys with a
    stale hash — deterministic-tiebreak update-wins), read it back,
    and report the work that remains: rows absent from the state
    (``filter_unprocessed`` — 'new') plus rows whose content hash
    drifted from the recorded one (``content_changed`` — 'changed').
    At 100 TB the state table is a small keyed side input and both
    probes are one join each — membership never touches the driver."""
    import shutil

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from dissertation_data_pipeline_spark.sources.state import (
        StateTable,
        content_changed,
        filter_unprocessed,
    )

    work = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.md5(F.concat_ws("|", "o_orderstatus", "o_orderpriority")).alias(
            "content_hash"
        ),
    )
    schema = StructType(
        [
            StructField("key", LongType()),
            StructField("content_hash", StringType()),
        ]
    )
    from dissertation_data_pipeline_spark.plans.queries_fixtures import (
        _tmp_layout,
    )

    path = _tmp_layout("state", sf_dir)
    shutil.rmtree(path, ignore_errors=True)  # fresh protocol run
    st = StateTable(spark, path, schema, key="key")
    # batch 1: everything % 3 recorded at its CURRENT hash
    st.upsert(work.filter(F.col("key") % 3 == 0))
    # batch 2: the % 9 subset re-recorded with a stale hash — the
    # upsert's update-wins path, and the I1 'changed' population
    st.upsert(
        work.filter(F.col("key") % 9 == 0).withColumn(
            "content_hash", F.lit("stale-hash")
        )
    )
    state = st.read()
    new = filter_unprocessed(work, state, "key").select(
        "key", F.lit("new").alias("reason")
    )
    changed = (
        content_changed(work, state, "key")
        .join(state.select("key"), "key", "left_semi")
        .select("key", F.lit("changed").alias("reason"))
    )
    return new.unionByName(changed)


#: I4 as exact key rules over the %7 needs-enrichment slice.  Seed
#: order matters: %14 keys are seeded NEGATIVE even when %21 also
#: divides them, so the oracle checks %14 first.  The injected fetch
#: returns the poison value 'LEAKED-<key>' for any key the cache
#: should have answered — a broken negative-cache anti-join therefore
#: surfaces as a VALUE mismatch here, not just a perf regression.
_I4_SQL = """
    SELECT c_custkey AS key,
           CASE
             WHEN c_custkey % 14 = 0 THEN NULL
             WHEN c_custkey % 21 = 0
               THEN 'cached-' || CAST(c_custkey AS VARCHAR)
             WHEN c_custkey % 5 = 0 THEN NULL
             ELSE 'fetched-' || CAST(c_custkey AS VARCHAR)
           END AS phone
    FROM customer
    WHERE c_custkey % 7 = 0
    """


@register("i4_negative_cache", _I4_SQL)
def i4_negative_cache(spark, sf_dir):
    """I4 negative-result cache as a gate row (reference
    legiscan_enricher.py:171-427: misses are cached so a key is never
    re-fetched, found or not).  Drives ``enrich_with_cache`` twice over
    customers whose phone is blanked on the %7 slice, against a cache
    pre-seeded with positives (%21, not %14) and NEGATIVES (%14):

    - pass 1's injected fetch returns ``LEAKED-<key>`` for any seeded
      key it is asked for — if the cache anti-join (positive OR
      negative) ever leaked, the leak lands in the output phone and
      hash-mismatches the oracle;
    - pass 1's real misses (%5 == 0) are upserted as negatives;
    - pass 2 runs with a fetch that RAISES on any non-empty key batch:
      after one pass every needed key is cached — including the
      negatives — so the second enrichment must fetch nothing.

    At 100 TB the cache is a keyed state table probed with one
    anti-join per run and the fetch touches only never-seen keys —
    API spend is O(new keys), not O(corpus)."""
    import shutil

    from pyspark.sql.types import (
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    from dissertation_data_pipeline_spark.sources.rest import (
        enrich_with_cache,
    )
    from dissertation_data_pipeline_spark.sources.state import StateTable
    from dissertation_data_pipeline_spark.plans.queries_fixtures import (
        _tmp_layout,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("cust_id"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_name"))
        .alias("phone"),
    )
    schema = StructType(
        [
            StructField("cust_id", StringType()),
            StructField("value", StringType()),
            StructField("found", BooleanType()),
        ]
    )
    path = _tmp_layout("i4cache", sf_dir)
    shutil.rmtree(path, ignore_errors=True)  # fresh protocol run
    cache = StateTable(spark, path, schema, key="cust_id")
    keys = cust.select(F.col("cust_id").cast("long").alias("k"))
    cache.upsert(
        keys.filter((F.col("k") % 7 == 0) & (F.col("k") % 14 == 0)).select(
            F.col("k").cast("string").alias("cust_id"),
            F.lit(None).cast("string").alias("value"),
            F.lit(False).alias("found"),
        )
    )
    cache.upsert(
        keys.filter(
            (F.col("k") % 21 == 0) & (F.col("k") % 14 != 0)
        ).select(
            F.col("k").cast("string").alias("cust_id"),
            F.concat(F.lit("cached-"), F.col("k")).alias("value"),
            F.lit(True).alias("found"),
        )
    )

    def fetch_pass1(ks):
        out = {}
        for k in ks:
            n = int(k)
            if n % 14 == 0 or (n % 21 == 0):
                out[k] = f"LEAKED-{k}"  # cache should have answered
            elif n % 5 == 0:
                out[k] = None  # genuine miss -> cached as negative
            else:
                out[k] = f"fetched-{k}"
        return out

    def fetch_pass2(ks):
        raise AssertionError(
            f"I4 violated: second pass re-fetched {len(ks)} keys "
            f"(negative results were not cached): {sorted(ks)[:5]}"
        )

    # pass 1: the fetch + cache-upsert side effects run eagerly inside
    # the call (rest.py checkpoints the fetch before probing it) — the
    # returned frame itself is not needed
    enrich_with_cache(cust, "cust_id", "phone", cache, fetch_pass1)
    out = enrich_with_cache(cust, "cust_id", "phone", cache, fetch_pass2)
    return out.filter(F.col("cust_id").cast("long") % 7 == 0).select(
        F.col("cust_id").cast("long").alias("key"),
        F.col("phone"),
    )


# ---------------------------------------------------------------------------
# Table maintenance. MERGE INTO (operators.merge) is the set-based form
# of the reference's read-patch-rewrite snapshot maintenance
# (build_master_corpus.py concat-then-dedup; the enricher's
# read-patch-write loop) — one full-outer shuffle join. CDC apply
# replays a change log (latest-op-per-key, deletes win) onto a base
# snapshot — the incremental sibling of MERGE.
# ---------------------------------------------------------------------------

@register(
    "ext_merge_upsert",
    """
    WITH t AS (
      SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 3 != 2
    ),
    u AS (
      SELECT doc_id, lang AS u_lang, n_chars + 100 AS u_n
      FROM documents WHERE doc_id % 2 = 0
    ),
    j AS (
      SELECT t.doc_id AS t_id, u.doc_id AS u_id,
             t.lang, t.source, t.n_chars, u.u_lang, u.u_n
      FROM t FULL JOIN u ON t.doc_id = u.doc_id
    )
    SELECT COALESCE(t_id, u_id) AS doc_id,
           CASE WHEN t_id IS NOT NULL THEN lang ELSE u_lang END AS lang,
           CASE WHEN t_id IS NOT NULL AND u_id IS NOT NULL THEN 'merged'
                WHEN t_id IS NOT NULL THEN source
                ELSE 'inserted' END AS source,
           CASE WHEN t_id IS NOT NULL AND u_id IS NOT NULL THEN u_n
                WHEN t_id IS NOT NULL THEN n_chars
                ELSE u_n END AS n_chars
    FROM j
    WHERE NOT (t_id IS NOT NULL AND u_id IS NOT NULL
               AND COALESCE(source = 'src0', FALSE))
    """,
)
def ext_merge_upsert(spark, sf_dir):
    """[EXT] MERGE INTO semantics on the documents snapshot: the
    doc_id%2 slice plays the incoming batch against the doc_id%3
    target. Matched rows in 'src0' are deleted, other matches update
    (source='merged', n_chars from the batch), unmatched batch rows
    insert with source='inserted'. One full-outer shuffle join on the
    key; output schema == target schema (overwrite-ready)."""
    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 3 != 2).select(
        "doc_id", "lang", "source", "n_chars"
    )
    updates = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.col("lang").alias("u_lang"),
        (F.col("n_chars") + 100).alias("u_n"),
    )
    return merge_upsert(
        target,
        updates,
        "doc_id",
        update_set={"source": F.lit("merged"), "n_chars": F.col("s.u_n")},
        insert_values={
            "doc_id": F.col("s.doc_id"),
            "lang": F.col("s.u_lang"),
            "source": F.lit("inserted"),
            "n_chars": F.col("s.u_n"),
        },
        delete_when=F.col("t.source") == "src0",
    )


@register(
    "ext_cdc_apply",
    """
    WITH base AS (
      SELECT c_custkey AS user_id, c_name FROM customer WHERE c_custkey < 100
    ),
    ch AS (
      SELECT user_id, ts, event_id, event_type AS ch_type, value AS ch_value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ),
    latest AS (
      SELECT user_id, ts, event_id, ch_type, ch_value FROM ch WHERE rn = 1
    ),
    j AS (
      SELECT b.user_id AS b_id, l.user_id AS c_id,
             b.c_name, l.ts, l.event_id, l.ch_type, l.ch_value
      FROM base b FULL JOIN latest l ON b.user_id = l.user_id
    )
    SELECT COALESCE(b_id, c_id) AS user_id, c_name, ts, event_id,
           ch_type, ch_value,
           CASE WHEN c_id IS NULL THEN 'kept'
                WHEN b_id IS NOT NULL THEN 'updated'
                ELSE 'inserted' END AS change_status
    FROM j
    WHERE NOT (c_id IS NOT NULL AND COALESCE(ch_type = 'error', FALSE))
    """,
)
def ext_cdc_apply(spark, sf_dir):
    """[EXT] CDC replay: the events table as a change log over a
    customer snapshot (user_id keys; 'error' = tombstone/delete, any
    other latest op upserts). Latest-op-per-key by the deterministic
    (ts DESC, event_id DESC) order, then one full-outer join applies
    kept/updated/inserted/deleted fates. Users >= 100 exercise the
    insert leg; latest-op deletes remove their key entirely."""
    base = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 100)
        .select(F.col("c_custkey").alias("user_id"), "c_name")
    )
    changes = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("ch_type"),
        F.col("value").alias("ch_value"),
    )
    return apply_changes(
        base,
        changes,
        "user_id",
        order_by=[F.desc("ts"), F.desc("event_id")],
        is_delete=F.col("ch_type") == "error",
    )


# ---------------------------------------------------------------------------
# Incremental maintenance and enumeration: an aggregate refreshed from a
# persisted state table plus a delta batch (operators.merge), and
# contiguous global ids without a single-partition sort (operators.ids).
# ---------------------------------------------------------------------------

@register(
    "ext_incremental_agg",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS value_cents
    FROM events GROUP BY 1
    """,
)
def ext_incremental_agg(spark, sf_dir):
    """[EXT] incremental aggregate maintenance: the per-user event
    rollup is refreshed from a persisted state table (the event_id%10
    != 0 slice's aggregate) plus a delta batch aggregate (the %10 == 0
    slice) via operators/merge.py::merge_aggregates — ONE full-outer
    join of two key-sized tables, O(delta) new data read. The oracle
    re-aggregates the whole corpus: the merged state must equal the
    full recompute exactly (counts and cent-sums are exact int64)."""
    from dissertation_data_pipeline_spark.operators.merge import merge_aggregates

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )

    def agg(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )

    old = agg(ev.filter(F.col("event_id") % 10 != 0))
    delta = agg(ev.filter(F.col("event_id") % 10 == 0))
    return merge_aggregates(
        old, delta, "user_id", count_col="n_events", sum_cols=["value_cents"]
    )


@register(
    "ext_dense_ids",
    """
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)))
                - 1 AS BIGINT) AS dense_id
    FROM documents
    """,
)
def ext_dense_ids(spark, sf_dir):
    """[EXT] scalable global enumeration (operators/ids.py dense_ids):
    contiguous 0-based ids over the corpus in a total key order
    WITHOUT the single-partition global-sort window the naive
    ``row_number() OVER (ORDER BY ...)`` plans — range-partitioned
    sorted layout, Arrow-batched per-partition enumeration (zero extra
    shuffles), prefix-sum offsets broadcast back.  The order key is
    md5(doc_id) so the assigned ids are a nontrivial permutation (by
    raw doc_id the op would be the identity and the row vacuous); the
    oracle is the very window the operator exists to avoid, which at
    gate SF is cheap and exact."""
    from dissertation_data_pipeline_spark.operators.ids import dense_ids

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("sort_key")
    )
    return dense_ids(docs, "sort_key").select("doc_id", "dense_id")
