"""[EXT] similarity-search queries over the embeddings table.

The oracle reproduces the double math exactly: products are widened to
double and summed with ``list_reduce`` (strict left fold), matching
Spark's ``F.aggregate`` fold order, so cosine values are bit-identical
before the 6-decimal display rounding.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators import similarity as sim
from dissertation_data_pipeline_spark.plans.registry import register
from dissertation_data_pipeline_spark.session import pin_spread
from dissertation_data_pipeline_spark.tables import load_table

#: query set: every 100th vector — scales with the table
_QUERY_PRED = "vec_id % 100 = 0"

# strict-left-fold dot/norm helpers in DuckDB SQL (match F.aggregate order)
_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (acc, x) -> acc + x)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)), (acc, x) -> acc + x))"
)
# squared L2 distance, same strict left fold as operators.similarity.l2_dist2
_D2 = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), "
    "(acc, x) -> acc + x)"
)


def _cos(a: str, b: str) -> str:
    d = _DOT.format(a=a, b=b)
    na = _NORM.format(a=a)
    nb = _NORM.format(a=b)
    return (
        f"CASE WHEN {na} > 0 AND {nb} > 0 THEN {d} / ({na} * {nb}) ELSE 0.0 END"
    )


@register(
    "ext_ann_brute_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS query_vec
      FROM embeddings WHERE {_QUERY_PRED}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id,
             round({_cos('q.query_vec', 'c.embedding')}, 6) AS sim
      FROM q JOIN embeddings c ON q.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 10
    """,
)
def ext_ann_brute_topk(spark, sf_dir):
    """[EXT] exact cosine top-10 per query vector (every 100th vec_id):
    broadcast queries x partitioned corpus scan, deterministic
    tie-break (sim desc, vec_id asc)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.brute_force_topk(queries, emb, k=10, exclude_self=True)


def _plane_proj_sqls(
    vec: str, n_planes: int = 8, start: int = 0
) -> list[str]:
    """Per-plane signed projections as explicit nested arithmetic (no
    lambda/list work in the inner loop — a per-row list literal inside
    a lambda is O(n^2) in DuckDB). The left-fold order matches Spark's
    ``F.aggregate``. Shared by the bucket expression and the
    multi-probe margin expressions, which must read the IDENTICAL
    projection doubles.  ``start`` offsets into the deterministic
    plane sequence (band ``i`` of a banded bucket uses planes
    ``[i*rows, (i+1)*rows)`` — same slicing as the engine's
    ``hyperplanes(...)[i*rows:(i+1)*rows]``)."""
    planes = sim.hyperplanes(start + n_planes, 64)[start:]
    out = []
    for plane in planes:
        proj = "0.0"
        for i, cfg in enumerate(plane):
            proj = f"({proj} + ({vec}[{i + 1}]::DOUBLE * {cfg}))"
        out.append(proj)
    return out


def _bucket_sql(vec: str, n_planes: int = 8) -> str:
    """Bucket id: bit j set where projection j is positive."""
    bits = [
        f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)"
        for j, proj in enumerate(_plane_proj_sqls(vec, n_planes))
    ]
    return "(" + " + ".join(bits) + ")"


@register(
    "ext_ann_lsh_topk",
    f"""
    WITH corpus AS MATERIALIZED (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS query_vec, bucket
      FROM corpus WHERE {_QUERY_PRED}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id,
             round({_cos('q.query_vec', 'c.embedding')}, 6) AS sim
      FROM q JOIN corpus c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 10
    """,
)
def ext_ann_lsh_topk(spark, sf_dir):
    """[EXT] LSH-bucketed approximate top-10: 8 md5-derived signed
    hyperplanes -> 256 cells; a query scores only its own cell. The
    scale path: bucket becomes a partition column, probes prune reads."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.hyperplane_lsh_topk(queries, emb, k=10, exclude_self=True)


#: adaptive coarse-cell count — the exact COUNT(*) staircase shared
#: verbatim with the engine (operators/similarity.py IVF_CELL_STEPS):
#: fixed cells would freeze the probed fraction as the corpus grows.
_IVF_CELLS_SQL = (
    "(SELECT CASE WHEN count(*) < 20000 THEN 8 "
    "WHEN count(*) < 200000 THEN 32 ELSE 64 END FROM embeddings)"
)

#: centroid sample order shared by both IVF CTE legs
_CENT_ORDER = "md5(CAST(vec_id AS VARCHAR)), vec_id"


#: IVF-Flat top-10 oracle — shared verbatim by the in-memory query
#: (``ext_ann_ivf_topk``) and the partitioned-layout query
#: (``ext_ann_ivf_partitioned_topk``): same centroids, same assignment,
#: same probe set, so the storage-layout path must reproduce the
#: in-memory result bit-for-bit.
_IVF_TOPK_SQL = f"""
    WITH cents AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY {_CENT_ORDER}) - 1 AS cell_id,
             embedding AS centroid
      FROM embeddings ORDER BY {_CENT_ORDER} LIMIT {_IVF_CELLS_SQL}
    ),
    cells AS MATERIALIZED (
      SELECT vec_id, embedding, cell_id FROM (
        SELECT c.vec_id, c.embedding, k.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY {_cos('c.embedding', 'k.centroid')} DESC,
                          k.cell_id ASC) AS cr
        FROM embeddings c, cents k) WHERE cr = 1
    ),
    probes AS (
      SELECT query_id, query_vec, cell_id FROM (
        SELECT q.vec_id AS query_id, q.embedding AS query_vec, k.cell_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_cos('q.embedding', 'k.centroid')} DESC,
                          k.cell_id ASC) AS cr
        FROM embeddings q, cents k WHERE {_QUERY_PRED}) WHERE cr <= 2
    ),
    scored AS (
      SELECT p.query_id, c.vec_id,
             round({_cos('p.query_vec', 'c.embedding')}, 6) AS sim
      FROM probes p JOIN cells c USING (cell_id)
      WHERE p.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 10
    """


@register("ext_ann_ivf_topk", _IVF_TOPK_SQL)
def ext_ann_ivf_topk(spark, sf_dir):
    """[EXT] IVF-Flat approximate top-10: 8 md5-sampled coarse
    centroids, nearest-cell corpus assignment, 2-probe queries. The
    second scale path beside LSH: cells partition the corpus, a probe
    reads n_probe/n_cells of it."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.ivf_topk(queries, emb, k=10, n_probe=2, exclude_self=True)


def _ivf_layout_path(sf_dir: str) -> str:
    from dissertation_data_pipeline_spark.plans.queries_fixtures import (
        _tmp_layout,
    )

    # reusable=True: cross-process-stable on purpose — the layout's
    # point is amortizing the build across runs (fingerprint-guarded).
    # Rebuilds serialize on _ivf_build_lock instead.
    return _tmp_layout("ivf", sf_dir, reusable=True)


class _ivf_build_lock:
    """flock-guard for IVF layout rebuilds: two concurrent drivers at
    the same SF share the reusable layout path, and an unguarded
    rebuild can clobber a probe's scan mid-flight (ADVICE r5).  The
    lock covers check+rebuild+stamp so a second process either waits
    and sees a fresh fingerprint (skips its rebuild) or rebuilds after
    the first finishes — never interleaved."""

    def __init__(self, path: str):
        self._lock_path = path + ".lock"
        self._fh = None

    def __enter__(self):
        import fcntl

        self._fh = open(self._lock_path, "a")
        fcntl.flock(self._fh, fcntl.LOCK_EX)
        return self

    def downgrade(self):
        """Convert the held exclusive lock to a SHARED one (atomic on
        the same fd under POSIX flock): rebuilds wait, but other
        readers proceed.  Lets a probe hold the layout stable while it
        materializes without serializing probe-vs-probe."""
        import fcntl

        fcntl.flock(self._fh, fcntl.LOCK_SH)

    def __exit__(self, *exc):
        import fcntl

        fcntl.flock(self._fh, fcntl.LOCK_UN)
        self._fh.close()
        return False


def _ivf_fingerprint(emb) -> dict:
    """Corpus identity for layout freshness: row count, the adaptive
    cell count derived from it, and a CONTENT signature (bit_xor of
    xxhash64 over id+vector — order-independent, overflow-free under
    ANSI mode, one narrow agg). The signature is what catches a
    regenerated corpus with the same row count but different vectors;
    count alone would silently reuse the stale layout and probe data
    that no longer exists."""
    row = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(vec_id, embedding))").alias("sig"),
    ).first()
    n_rows = int(row["n"])
    return {
        "n_rows": n_rows,
        "n_cells": sim.adaptive_ivf_cells(n_rows),
        "content_sig": str(row["sig"]),
    }


def _ensure_ivf_layout(spark, emb, sf_dir: str, probe=None):
    """Build the partitioned-IVF layout iff it is missing or stale.
    Splits index maintenance from probing: ``ext_ann_ivf_build``
    always rebuilds and carries the build cost; the probe query calls
    this and pays one narrow count+signature scan when the layout is
    current (the freshness check itself — O(corpus scan), not
    O(corpus x cells assignment + write)) — so the benched probe
    number is the per-query-batch deployment cost, not probe +
    rebuild.

    With ``probe`` (a ``path -> DataFrame`` callable), the exclusive
    lock is DOWNGRADED to shared after the freshness check and the
    probe's result is materialized (localCheckpoint) before release —
    a concurrent rebuild can therefore never delete files out from
    under an in-flight scan, and the returned frame no longer depends
    on the layout bytes at all.  Without ``probe`` the bare path is
    returned (tests use this form); callers scanning it lazily accept
    the documented single-process assumption."""
    import json
    import os

    path = _ivf_layout_path(sf_dir)
    fp = _ivf_fingerprint(emb)
    fp_file = os.path.join(path, "_fingerprint.json")
    with _ivf_build_lock(path) as lock:
        fresh = False
        try:
            with open(fp_file) as fh:
                fresh = json.load(fh) == fp
        except (OSError, ValueError):
            pass
        if not fresh:
            sim.write_ivf_partitioned(emb, path, n_cells=fp["n_cells"])
            with open(fp_file, "w") as fh:
                json.dump(fp, fh)
        if probe is None:
            return path
        lock.downgrade()  # readers share; rebuilds wait
        return probe(path).localCheckpoint()


@register(
    "ext_ann_ivf_build",
    f"""
    WITH cents AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY {_CENT_ORDER}) - 1 AS cell_id,
             embedding AS centroid
      FROM embeddings ORDER BY {_CENT_ORDER} LIMIT {_IVF_CELLS_SQL}
    ),
    cells AS (
      SELECT vec_id, cell_id FROM (
        SELECT c.vec_id, k.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY {_cos('c.embedding', 'k.centroid')} DESC,
                          k.cell_id ASC) AS cr
        FROM embeddings c, cents k) WHERE cr = 1
    )
    SELECT cell_id, CAST(count(*) AS BIGINT) AS n_vectors
    FROM cells GROUP BY 1
    """,
)
def ext_ann_ivf_build(spark, sf_dir):
    """[EXT] partitioned-IVF index MAINTENANCE as its own query: always
    (re)build the cell-partitioned layout + stored centroids, stamp the
    fingerprint, and return the per-cell occupancy read back FROM THE
    WRITTEN LAYOUT — so the gate verifies the bytes on disk, and the
    bench bills the one-time build cost here instead of to every
    probe.  Occupancy is also the operational health metric for an IVF
    index (empty/overfull cells = bad quantizer)."""
    import json
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    path = _ivf_layout_path(sf_dir)
    fp = _ivf_fingerprint(emb)
    with _ivf_build_lock(path):
        sim.write_ivf_partitioned(emb, path, n_cells=fp["n_cells"])
        with open(os.path.join(path, "_fingerprint.json"), "w") as fh:
            json.dump(fp, fh)
        # occupancy read-back materialized INSIDE the lock — it must
        # verify the bytes this build wrote, not whatever a concurrent
        # rebuild leaves on disk by collect() time
        return (
            spark.read.parquet(f"{path}/cells")
            .groupBy(F.col("cell_id").cast("int").alias("cell_id"))
            .agg(F.count(F.lit(1)).alias("n_vectors"))
            .localCheckpoint()
        )


@register("ext_ann_ivf_partitioned_topk", _IVF_TOPK_SQL)
def ext_ann_ivf_partitioned_topk(spark, sf_dir):
    """[EXT] the IVF index AS A STORAGE LAYOUT, probe side: answer the
    top-10 probes by scanning ONLY the probed cell directories —
    planning-time partition pruning, no search service. Oracled by the
    identical SQL as the in-memory ``ext_ann_ivf_topk``: the layout
    path must agree bit-for-bit. At 100 TB this is the ANN shape that
    matters — each probe touches n_probe/n_cells of the data and zero
    files elsewhere (the physical plan's PartitionFilters, asserted by
    test).  The layout comes from ``_ensure_ivf_layout``: current
    fingerprint -> probe-only (the deployment steady state;
    ``ext_ann_ivf_build`` carries the maintenance cost), missing or
    stale -> built here once."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # probe + materialize under the (shared) layout lock: a concurrent
    # ext_ann_ivf_build cannot clobber the scan mid-flight
    return _ensure_ivf_layout(
        spark,
        emb,
        sf_dir,
        probe=lambda path: sim.ivf_topk_partitioned(
            spark, path, queries, k=10, n_probe=2, exclude_self=True
        ),
    )


@register(
    "ext_ann_ivf_trained_topk",
    f"""
    WITH cents0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY {_CENT_ORDER}) - 1 AS cell_id,
             embedding AS centroid
      FROM embeddings ORDER BY {_CENT_ORDER} LIMIT 8
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, embedding, cell_id FROM (
        SELECT c.vec_id, c.embedding, k.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY {_D2.format(a='c.embedding', b='k.centroid')} ASC,
                          k.cell_id ASC) AS rk
        FROM embeddings c, cents0 k) WHERE rk = 1
    ),
    comps AS (
      SELECT cell_id, i - 1 AS dim, embedding[i] AS val
      FROM assigned, (SELECT unnest(range(1, 65)) AS i)
    ),
    means AS (
      SELECT cell_id, dim,
             CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS comp
      FROM comps GROUP BY 1, 2
    ),
    cents AS MATERIALIZED (
      SELECT cell_id, list(CAST(comp AS FLOAT) ORDER BY dim) AS centroid
      FROM means GROUP BY 1
    ),
    cells AS MATERIALIZED (
      SELECT vec_id, embedding, cell_id FROM (
        SELECT c.vec_id, c.embedding, k.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY {_cos('c.embedding', 'k.centroid')} DESC,
                          k.cell_id ASC) AS cr
        FROM embeddings c, cents k) WHERE cr = 1
    ),
    probes AS (
      SELECT query_id, query_vec, cell_id FROM (
        SELECT q.vec_id AS query_id, q.embedding AS query_vec, k.cell_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_cos('q.embedding', 'k.centroid')} DESC,
                          k.cell_id ASC) AS cr
        FROM embeddings q, cents k WHERE {_QUERY_PRED}) WHERE cr <= 2
    ),
    scored AS (
      SELECT p.query_id, c.vec_id,
             round({_cos('p.query_vec', 'c.embedding')}, 6) AS sim
      FROM probes p JOIN cells c USING (cell_id)
      WHERE p.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 10
    """,
)
def ext_ann_ivf_trained_topk(spark, sf_dir):
    """[EXT] IVF with ONE Lloyd refinement round over the sampled
    centroids, then the same 2-probe top-10 search. The oracle
    reproduces the full pipeline: md5-sampled seeds, nearest-L2
    assignment (strict-left-fold distance), per-dimension means as
    exact DECIMAL(28,12) sums divided once and cast to float, then the
    cosine assignment/probe/rank tail shared with ext_ann_ivf_topk.
    The SSE-monotone Lloyd contract is additionally pinned in
    test_similarity_textanalysis."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the refined centroids end in a localCheckpoint, so the packed
    # 1-row broadcast both assignments share is computed once
    cents = sim.kmeans_refine(emb, sim.ivf_centroids(emb, n_cells=8), rounds=1)
    cells = sim.ivf_assign(
        emb, cents, id_col="vec_id", vec_col="embedding"
    ).withColumnRenamed("_vn", "_cn")
    # spread the broadcast-join scoring pass (see sim.ivf_topk)
    cells = pin_spread(cells)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    probes = sim.ivf_assign(
        queries, cents, id_col="query_id", vec_col="query_vec", rank_upto=2
    ).withColumnRenamed("_vn", "_qn")
    scored = (
        F.broadcast(probes)
        .join(cells, "cell_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                sim.cosine_pre(
                    "query_vec", "embedding", F.col("_qn"), F.col("_cn")
                ),
                6,
            ).alias("sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "sim", "rank")
    )


@register(
    "ext_embedding_quantize",
    """
    SELECT vec_id, scale,
           CASE WHEN scale > 0
                THEN CAST(list_sum(list_transform(embedding,
                       x -> CAST(floor(x::DOUBLE / scale + 0.5) AS BIGINT)))
                     AS BIGINT)
                ELSE 0 END AS q_sum,
           CASE WHEN scale > 0
                THEN list_max(list_transform(embedding,
                       x -> abs(x::DOUBLE - floor(x::DOUBLE / scale + 0.5) * scale)))
                ELSE 0.0 END AS max_abs_err
    FROM (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
               AS scale
      FROM embeddings)
    """,
)
def ext_embedding_quantize(spark, sf_dir):
    """[EXT] symmetric int8 quantization stats per embedding (4x
    storage cut): scale, integer checksum of the quantized vector, max
    reconstruction error (bound: scale/2). floor(x/s + .5) rounding —
    identical in both engines, unlike round()'s half-way semantics."""
    return sim.quantize_int8_stats(load_table(spark, sf_dir, "embeddings"))


@register(
    "ext_vector_stats",
    f"""
    SELECT label,
           count(*) AS n_vectors,
           CAST(SUM(CAST({_NORM.format(a='embedding')} AS DECIMAL(18,9))) AS DOUBLE)
             / count(*) AS avg_norm
    FROM embeddings GROUP BY 1
    """,
)
def ext_vector_stats(spark, sf_dir):
    """[EXT] per-label vector stats; norms summed as DECIMAL(18,9) so
    the group aggregate is order-independent and engine-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (
            F.sum(sim.l2_norm("embedding").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_norm"),
    )


def _semdedup_sql(src: str) -> str:
    """The SemDeDup oracle over an arbitrary embeddings relation —
    shared by the corpus-wide row and the fixed-block row."""
    return f"""
    WITH cents AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY {_CENT_ORDER}) - 1 AS cell_id,
             embedding AS centroid
      FROM {src} ORDER BY {_CENT_ORDER} LIMIT 16
    ),
    cells AS MATERIALIZED (
      SELECT vec_id, embedding, cell_id FROM (
        SELECT c.vec_id, c.embedding, k.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY {_cos('c.embedding', 'k.centroid')} DESC,
                          k.cell_id ASC) AS cr
        FROM {src} c, cents k) WHERE cr = 1
    ),
    prior AS (
      SELECT a.vec_id, max({_cos('a.embedding', 'b.embedding')}) AS mps
      FROM cells a JOIN cells b
        ON a.cell_id = b.cell_id AND b.vec_id < a.vec_id
      GROUP BY a.vec_id
    )
    SELECT c.vec_id, c.cell_id,
           round(coalesce(p.mps, -1.0), 6) AS max_prior_sim,
           CASE WHEN coalesce(p.mps, -1.0) >= 0.35 THEN 0 ELSE 1 END AS keep
    FROM cells c LEFT JOIN prior p USING (vec_id)
    """


@register("ext_semantic_dedup", _semdedup_sql("embeddings"))
def ext_semantic_dedup(spark, sf_dir):
    """[EXT] SemDeDup semantic deduplication: coarse-quantizer
    clustering bounds pairwise cosine work to within-cell; a vector is
    dropped when a smaller-id cluster-mate is more similar than tau.
    One decision row per vector (keep in {{0,1}}). The within-cell
    pairwise oracle is corpus-quadratic, so sf>=1 value coverage comes
    from ``ext_semantic_dedup_block``."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", tau=0.35, n_cells=16
    )


@register(
    "ext_semantic_dedup_block",
    _semdedup_sql("(SELECT * FROM embeddings WHERE vec_id < 500)"),
)
def ext_semantic_dedup_block(spark, sf_dir):
    """[EXT] the SAME SemDeDup operator (same tau, cell count, centroid
    selection rule, tiebreaks) with the CLUSTER SCOPE fixed to a
    500-vector block — the fixed-block oracle protocol
    (``ext_curation_block_pipeline``) applied to this family (r8
    verdict Next #3): centroids, cell assignment, and the keep/drop
    decision are all derived from the block, so the oracle's pairwise
    cost is block-bounded and the decision VALUES stay oracle-green at
    sf1/sf10 where the corpus-wide oracle is execute-only."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return sim.semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", tau=0.35, n_cells=16
    )


@register(
    "ext_ann_pq_codes",
    f"""
    WITH cents AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY {_CENT_ORDER}) - 1 AS code_id,
             embedding AS centroid
      FROM embeddings ORDER BY {_CENT_ORDER} LIMIT 16
    ),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
      SELECT code_id, s, centroid[(s*8+1):(s*8+8)] AS subc FROM cents, subs
    ),
    vx AS (
      SELECT vec_id, s, embedding[(s*8+1):(s*8+8)] AS subv
      FROM embeddings, subs
    ),
    scored AS (
      SELECT vx.vec_id, vx.s, cb.code_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, 9),
               i -> (subv[i]::DOUBLE - subc[i]::DOUBLE)
                    * (subv[i]::DOUBLE - subc[i]::DOUBLE))),
               (acc, x) -> acc + x) AS d2
      FROM vx JOIN cb USING (s)
    ),
    ranked AS (
      SELECT vec_id, s, code_id, d2,
             row_number() OVER (PARTITION BY vec_id, s
                                ORDER BY d2 ASC, code_id ASC) AS rn
      FROM scored
    )
    SELECT vec_id, s AS subspace, code_id AS code, round(d2, 6) AS d2
    FROM ranked WHERE rn = 1
    """,
)
def ext_ann_pq_codes(spark, sf_dir):
    """[EXT] Product-quantization encoding (Jégou et al. 2011, the
    IVF-PQ memory layout): 64-dim vectors -> 8 subspace codes from
    16-entry md5-sampled codebooks; strict-left-fold L2 per subspace so
    the assignment (and its tiebreaks) is bit-identical on both
    engines. See operators/similarity.py::pq_codes for the scale
    shape (broadcast codebook, one exploded scan, map-side-argmin
    collapse at 100 TB)."""
    return sim.pq_codes(load_table(spark, sf_dir, "embeddings"))


# shared PQ-ADC oracle CTE chain, ending in `scored(query_id, vec_id,
# adc)` — reused by the top-k read and the two-stage re-rank
# (``ext_ann_pq_rerank``). Mirrors operators.similarity.pq_adc_scores.
PQ_ADC_SCORED_CTE = f"""
    cents AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY {_CENT_ORDER}) - 1 AS code_id,
             embedding AS centroid
      FROM embeddings ORDER BY {_CENT_ORDER} LIMIT 16
    ),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
      SELECT code_id, s, centroid[(s*8+1):(s*8+8)] AS subc FROM cents, subs
    ),
    vx AS (
      SELECT vec_id, s, embedding[(s*8+1):(s*8+8)] AS subv
      FROM embeddings, subs
    ),
    codes AS (
      SELECT vec_id, s, code_id FROM (
        SELECT vx.vec_id, vx.s, cb.code_id,
               row_number() OVER (PARTITION BY vx.vec_id, vx.s ORDER BY
                 list_reduce(list_prepend(0.0, list_transform(range(1, 9),
                   i -> (subv[i]::DOUBLE - subc[i]::DOUBLE)
                        * (subv[i]::DOUBLE - subc[i]::DOUBLE))),
                   (acc, x) -> acc + x) ASC, cb.code_id ASC) AS rn
        FROM vx JOIN cb USING (s)
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS query_id, cb.s, cb.code_id,
             CAST(floor(list_reduce(list_prepend(0.0, list_transform(range(1, 9),
               i -> (q.embedding[(cb.s*8+1):(cb.s*8+8)][i]::DOUBLE - subc[i]::DOUBLE)
                    * (q.embedding[(cb.s*8+1):(cb.s*8+8)][i]::DOUBLE - subc[i]::DOUBLE))),
               (acc, x) -> acc + x) * 1000000000000) AS BIGINT) AS qd
      FROM embeddings q, cb WHERE q.vec_id % 100 = 0
    ),
    scored AS (
      SELECT lut.query_id, codes.vec_id,
             CAST(SUM(lut.qd) AS BIGINT) AS adc
      FROM codes JOIN lut USING (s, code_id)
      WHERE codes.vec_id <> lut.query_id
      GROUP BY 1, 2
    )
"""


@register(
    "ext_ann_pq_adc_topk",
    f"""
    WITH {PQ_ADC_SCORED_CTE}
    SELECT query_id, vec_id, adc, rank FROM (
      SELECT query_id, vec_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc ASC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def ext_ann_pq_adc_topk(spark, sf_dir):
    """[EXT] PQ asymmetric-distance top-10 (the IVF-PQ query path):
    corpus vectors are REPRESENTED ONLY BY THEIR 8 CODES; each query
    builds a (subspace, code) -> distance lookup table against the
    codebook (8x16 = 128 entries, broadcast), and a corpus vector's
    approximate distance is the sum of 8 table lookups — no corpus
    floats touched at query time, which is what makes PQ indexes fit
    in memory at 100 TB scale.

    Exactness: per-entry lookup distances are strict-fold doubles
    floored to integer picodistance units, so the 8-way sum (a shuffle
    aggregation — order-free only for integers) is engine- and
    partitioning-invariant. The top-10 rank has a full deterministic
    tiebreak."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = sim.pq_adc_scores(emb, q, exclude_self=True)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "adc", "rank")
    )


@register(
    "ext_ann_recall_at_10",
    f"""
    WITH bq AS (
      SELECT vec_id AS query_id, embedding AS query_vec
      FROM embeddings WHERE {_QUERY_PRED}
    ),
    bscored AS (
      SELECT bq.query_id, c.vec_id,
             round({_cos('bq.query_vec', 'c.embedding')}, 6) AS sim
      FROM bq JOIN embeddings c ON bq.query_id <> c.vec_id
    ),
    brute AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id ASC) AS rank
        FROM bscored) WHERE rank <= 10
    ),
    cents AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY {_CENT_ORDER}) - 1 AS cell_id,
             embedding AS centroid
      FROM embeddings ORDER BY {_CENT_ORDER} LIMIT {_IVF_CELLS_SQL}
    ),
    cells AS MATERIALIZED (
      SELECT vec_id, embedding, cell_id FROM (
        SELECT c.vec_id, c.embedding, k.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY {_cos('c.embedding', 'k.centroid')} DESC,
                          k.cell_id ASC) AS cr
        FROM embeddings c, cents k) WHERE cr = 1
    ),
    probes AS (
      SELECT query_id, query_vec, cell_id FROM (
        SELECT q.vec_id AS query_id, q.embedding AS query_vec, k.cell_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_cos('q.embedding', 'k.centroid')} DESC,
                          k.cell_id ASC) AS cr
        FROM embeddings q, cents k WHERE {_QUERY_PRED}) WHERE cr <= 2
    ),
    iscored AS (
      SELECT p.query_id, c.vec_id,
             round({_cos('p.query_vec', 'c.embedding')}, 6) AS sim
      FROM probes p JOIN cells c USING (cell_id)
      WHERE p.query_id <> c.vec_id
    ),
    ivf AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id ASC) AS rank
        FROM iscored) WHERE rank <= 10
    )
    SELECT b.query_id,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(count(i.vec_id) AS BIGINT) AS n_hits,
           round(CAST(count(i.vec_id) AS DOUBLE) / count(*), 6) AS recall
    FROM brute b LEFT JOIN ivf i
      ON b.query_id = i.query_id AND b.vec_id = i.vec_id
    GROUP BY b.query_id
    """,
)
def ext_ann_recall_at_10(spark, sf_dir):
    """[EXT] ANN evaluation harness: per-query recall@10 of the 2-probe
    IVF search against the exact brute-force ground truth — the metric
    that decides n_probe/n_cells in production, computed as a query
    instead of a notebook. Both legs are the already-gate-verified
    bit-exact pipelines, so recall itself is oracle-checked (n_hits is
    an int; recall = n_hits/10 is the same double on every engine).

    Scale (100 TB): ground truth is computed over the SAMPLED query
    set only (the standard eval protocol) — the brute leg is
    |queries| x corpus, the IVF leg is the production plan, the final
    join is O(k x |queries|) rows. Tuning recall happens at this
    sample size no matter how big the corpus is."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = sim.brute_force_topk(queries, emb, k=10, exclude_self=True).select(
        "query_id", "vec_id"
    )
    ivf = (
        sim.ivf_topk(queries, emb, k=10, n_probe=2, exclude_self=True)
        .select("query_id", "vec_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        brute.join(ivf, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("_hit").alias("n_hits"),
        )
        .withColumn(
            "recall",
            F.round(F.col("n_hits").cast("double") / F.col("n_true"), 6),
        )
    )


def _rp_proj_sqls() -> list[str]:
    """The 16 JL projection components as nested-arithmetic SQL,
    divided by sqrt(16)=4 — the identical fold order and planes as
    ``sim.random_projection`` (md5-derived, inlined literals)."""
    return [
        f"round(({proj}) / 4.0, 6)"
        for proj in _plane_proj_sqls("embedding", 16)
    ]


@register(
    "ext_random_projection",
    f"""
    WITH base AS (
      SELECT vec_id, [{", ".join(_rp_proj_sqls())}] AS proj
      FROM embeddings
    ),
    longf AS (
      SELECT vec_id,
             UNNEST(range(16)) AS dim,
             UNNEST(proj) AS component
      FROM base
    )
    SELECT vec_id, dim, component FROM longf
    """,
)
def ext_random_projection(spark, sf_dir):
    """[EXT] Johnson-Lindenstrauss reduction 64 -> 16 dims with an
    md5-derived Rademacher matrix (Achlioptas 2003) — the dimensionality
    lever before int8/PQ quantization.  Map-side only (zero shuffles);
    the oracle re-states all 16 components as explicit left-fold
    arithmetic over the same inlined ±1 literals.

    Gate shape: the gate row returns LONG form — (vec_id, dim,
    component) via posexplode — because the driver's pandas canon
    cannot hash array values (r5 red: ``unhashable type: 'list'``).
    The DuckDB oracle zips ``UNNEST(range(16))`` with ``UNNEST(proj)``
    (lockstep unnest) for the same ordinality.  Internal composition
    keeps :func:`sim.random_projection`'s array form."""
    emb = load_table(spark, sf_dir, "embeddings")
    wide = sim.random_projection(emb, n_dims=16)
    return wide.select(
        "vec_id", F.posexplode("proj").alias("dim", "component")
    ).withColumn("dim", F.col("dim").cast("bigint"))


# ---------------------------------------------------------------------------
# Embedding near-dup recall (the MinHash recall protocol, r8 verdict #4)
# ---------------------------------------------------------------------------

#: The embedding recall rows' working point.  The testdata embeddings
#: are near-orthogonal (max pair cosine ~0.5 — no high-cosine truth
#: exists), so the harness PLANTS it: 250 originals (vec_id < 250,
#: present at every sf) plus 250 deterministic mixture twins
#: (0.85*v_i + 0.15*v_{(i+1) mod 250}, cosine ~0.985 to the original),
#: and measures detector recall against exact all-pairs cosine >= tau
#: on the 500-vector block.  Same protocol at every scale — truth cost
#: is block-constant.
_NEARDUP_RECALL_TAU = 0.95
_NEARDUP_RECALL_N = 250
_NEARDUP_TWIN_OFFSET = 250_000

#: the banding the auto rule picks for this block (5 bands x 8 planes
#: at tau=0.95, n=500) — the oracle renders its band CTEs from the
#: SAME function the operator calls (the minhash_auto_banding pattern)
_NEARDUP_BANDS, _NEARDUP_ROWS = sim.hyperplane_auto_banding(
    _NEARDUP_RECALL_TAU, 2 * _NEARDUP_RECALL_N
)


def _band_bucket_sql(vec: str, band_idx: int, rows: int) -> str:
    """Bucket id for band ``band_idx`` of a banded hyperplane scheme:
    bit j set where projection of plane ``band_idx*rows + j`` is
    positive — local bit numbering, exactly as the engine's
    ``lsh_bucket(vec, planes[i*rows:(i+1)*rows])``."""
    bits = [
        f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)"
        for j, proj in enumerate(
            _plane_proj_sqls(vec, rows, start=band_idx * rows)
        )
    ]
    return "(" + " + ".join(bits) + ")"


_NEARDUP_CORPUS_CTE = f"""
    orig AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
      FROM embeddings WHERE vec_id < {_NEARDUP_RECALL_N}
    ),
    twin AS (
      SELECT a.vec_id + {_NEARDUP_TWIN_OFFSET} AS vec_id,
             list_transform(range(1, 65),
               k -> 0.85 * a.embedding[k] + 0.15 * b.embedding[k]) AS embedding
      FROM orig a JOIN orig b
        ON b.vec_id = (a.vec_id + 1) % {_NEARDUP_RECALL_N}
    ),
    corpus AS MATERIALIZED (
      SELECT * FROM orig UNION ALL SELECT * FROM twin
    ),
    truth AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE round({_cos('a.embedding', 'b.embedding')}, 6)
            >= {_NEARDUP_RECALL_TAU}
    )
"""


def _embedding_recall_sql(cand_cte: str) -> str:
    return f"""
    WITH {_NEARDUP_CORPUS_CTE},
    {cand_cte},
    hits AS (
      SELECT t.id_a, t.id_b
      FROM truth t JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
    )
    SELECT (SELECT count(*) FROM truth) AS n_true_pairs,
           (SELECT count(*) FROM hits) AS n_detected,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
                ELSE round((SELECT count(*) FROM hits)::DOUBLE
                           / (SELECT count(*) FROM truth), 6) END AS recall
    """


_BANDED_CAND_CTE = "cand AS (\n      " + "\n      UNION\n      ".join(
    f"""SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM corpus a JOIN corpus b
        ON a.vec_id < b.vec_id
       AND {_band_bucket_sql('a.embedding', i, _NEARDUP_ROWS)}
         = {_band_bucket_sql('b.embedding', i, _NEARDUP_ROWS)}"""
    for i in range(_NEARDUP_BANDS)
) + "\n    )"

_SINGLE_CAND_CTE = f"""cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM corpus a JOIN corpus b
        ON a.vec_id < b.vec_id
       AND {_bucket_sql('a.embedding', _NEARDUP_ROWS)}
         = {_bucket_sql('b.embedding', _NEARDUP_ROWS)}
    )"""


def _twin_corpus(spark, sf_dir):
    orig = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _NEARDUP_RECALL_N)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )
    oa, ob = orig.alias("a"), orig.alias("b")
    twins = oa.join(
        ob,
        F.col("b.vec_id") == (F.col("a.vec_id") + 1) % _NEARDUP_RECALL_N,
    ).select(
        (F.col("a.vec_id") + _NEARDUP_TWIN_OFFSET).alias("vec_id"),
        F.zip_with(
            "a.embedding",
            "b.embedding",
            lambda x, y: F.lit(0.85) * x + F.lit(0.15) * y,
        ).alias("embedding"),
    )
    return orig.unionByName(twins)


def _embedding_pair_recall(spark, sf_dir, *, banded: bool):
    # no localCheckpoint: the corpus is block-bounded (500 rows) and
    # re-deriving it from the filtered parquet scan keeps EXACT size
    # stats flowing to the planner — every self-join side then
    # broadcasts (a checkpointed LogicalRDD has unknown stats, which
    # planned 8-13 shuffle Exchanges here and blew the plan budget)
    corpus = _twin_corpus(spark, sf_dir)
    nbkt = 32
    sides = corpus.select(
        "vec_id",
        F.col("embedding").alias("_v"),
        sim.l2_norm("embedding").alias("_n"),
        (F.col("vec_id") % nbkt).alias("_bkt"),
    )
    # bucketed pair grid (see _simhash_pair_recall): an equi-join over
    # `nbkt` bucket keys instead of one const key, so the 125k-pair
    # cosine workload spreads across tasks instead of one hash bucket.
    # The right side broadcasts, so left-side partitioning sets task
    # granularity — an explicit round-robin repartition (AQE-exempt)
    # spreads the byte-small block across cores (measured: the verify
    # leg otherwise ran as ONE 2.2 s task); block size is fixed, so
    # this is constant work at any corpus scale.
    nparts = spark.sparkContext.defaultParallelism
    ca = (
        sides.withColumn(
            "_rb", F.explode(F.sequence(F.lit(0), F.lit(nbkt - 1)))
        )
        .repartition(nparts)
        .alias("a")
    )
    cb = sides.alias("b")
    truth = (
        ca.join(
            cb,
            (F.col("a._rb") == F.col("b._bkt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(
                sim.cosine_pre(
                    F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
                ),
                6,
            ).alias("_cos"),
        )
        .filter(F.col("_cos") >= _NEARDUP_RECALL_TAU)
        .select("id_a", "id_b")
    )
    if banded:
        detected = sim.embedding_near_dup_banded(
            corpus, "vec_id", "embedding", tau=_NEARDUP_RECALL_TAU
        ).select("id_a", "id_b")
    else:
        planes = sim.hyperplanes(_NEARDUP_ROWS, 64)
        b = sides.withColumn("_bucket", sim.lsh_bucket("_v", planes))
        ba, bb = b.alias("a"), b.alias("b")
        detected = (
            ba.join(
                bb,
                (F.col("a._bucket") == F.col("b._bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                F.round(
                    sim.cosine_pre(
                        F.col("a._v"),
                        F.col("b._v"),
                        F.col("a._n"),
                        F.col("b._n"),
                    ),
                    6,
                ).alias("_cos"),
            )
            .filter(F.col("_cos") >= _NEARDUP_RECALL_TAU)
            .select("id_a", "id_b")
        )
    marked = truth.join(
        detected.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left"
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.count("_hit").alias("n_detected"),
    ).withColumn(
        "recall",
        F.when(
            F.col("n_true_pairs") == 0, F.lit(None).cast("double")
        ).otherwise(
            F.round(
                F.col("n_detected").cast("double") / F.col("n_true_pairs"), 6
            )
        ),
    )


@register(
    "ext_embedding_near_dup_recall", _embedding_recall_sql(_BANDED_CAND_CTE)
)
def ext_embedding_near_dup_recall(spark, sf_dir):
    """[EXT] measured embedding near-dup recall OF THE BANDED
    DETECTOR: planted-twin ground truth (see _NEARDUP_RECALL_TAU
    note) vs the real ``embedding_near_dup_banded`` operator at
    tau=0.95 — the MinHash recall-harness protocol (r8 verdict Next
    #4) applied to the hyperplane-LSH family.  The banding
    (``hyperplane_auto_banding``: 5 bands x 8 planes here) is
    rendered into the oracle from the same function the operator
    calls.  Expected ~0.99+ at the twins' 0.985 working point (per
    band p^8 = 0.64, miss (1-0.64)^5 = 0.006), vs 0.64 for the
    single-bucket scheme this operator replaces
    (``ext_embedding_near_dup_recall_single``)."""
    return _embedding_pair_recall(spark, sf_dir, banded=True)


@register(
    "ext_embedding_near_dup_recall_single",
    _embedding_recall_sql(_SINGLE_CAND_CTE),
)
def ext_embedding_near_dup_recall_single(spark, sf_dir):
    """[EXT] the recall lever's LOW side: the same planted-twin truth
    measured against the SINGLE all-planes bucket that
    ``ext_embedding_near_dup`` uses (one 8-plane bucket, candidates
    must agree on every plane) — kept as a gate row so the recall
    cliff of un-amplified sign-LSH at high tau stays measured, not
    remembered (the b4r3 pattern).  Theory: p(agree/plane at cosine
    0.985) = 1 - acos(0.985)/pi = 0.945; 0.945^8 = 0.64."""
    return _embedding_pair_recall(spark, sf_dir, banded=False)


# ---------------------------------------------------------------------------
# Embedding near-duplicate pairs (hyperplane-LSH candidates, exact
# cosine verification)
# ---------------------------------------------------------------------------

def _near_dup_sql() -> str:
    from dissertation_data_pipeline_spark.operators.similarity import (
        LSH_PLANE_STEPS,
        LSH_PLANES_MAX,
    )

    # the identical corpus-size -> plane-count rule as
    # similarity.adaptive_lsh_planes, as an exact-count CASE: each
    # branch inlines that plane count's full bucket expression
    branches = "".join(
        f"""
           WHEN (SELECT c FROM n) < {bound}
             THEN {_bucket_sql('embedding', planes)}"""
        for bound, planes in LSH_PLANE_STEPS
    )
    return f"""
    WITH n AS (SELECT count(*) AS c FROM embeddings),
    corpus AS MATERIALIZED (
      SELECT vec_id, embedding,
             CASE {branches}
               ELSE {_bucket_sql('embedding', LSH_PLANES_MAX)}
             END AS bucket
      FROM embeddings
    )
    SELECT id_a, id_b, cos FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({_cos('a.embedding', 'b.embedding')}, 6) AS cos
      FROM corpus a JOIN corpus b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ) WHERE cos >= 0.3
    """


@register("ext_embedding_near_dup", _near_dup_sql())
def ext_embedding_near_dup(spark, sf_dir):
    """[EXT] embedding-cosine near-duplicate pairs: hyperplane-LSH
    buckets generate candidates, exact cosine >= threshold verifies.
    The vector analog of minhash_lsh_pairs. The oracle reproduces the
    md5-derived hyperplane buckets and the strict-left-fold cosine
    bit-for-bit (same helpers as ext_ann_lsh_topk). The testdata
    embeddings are near-orthogonal random vectors (max pair cosine
    ~0.5), so the registered query uses threshold 0.3 to push real
    pairs through the candidate->verify path instead of vacuously
    matching on an empty set; production near-dup would use ~0.99.

    The plane count is SIZE-ADAPTIVE (adaptive_lsh_planes; the exact
    same row-count rule in the oracle's CASE): fixed 8 planes means
    256 buckets forever, so random (non-similar) collisions grow
    quadratically with the corpus — measured 372 s at sf10 (200k
    vectors) with 8 planes vs seconds with the rule's 16. Unchanged
    at every gate scale (sf0.001-0.1 are all < 20k vectors -> 8
    planes, bit-identical to the fixed-plane formulation). Norms are
    precomputed per vector (cosine_pre): re-folding them per pair
    multiplied the HOF work by pairs/vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = sim.hyperplanes(sim.adaptive_lsh_planes(emb.count()), 64)
    b = (
        emb.withColumn("_bucket", sim.lsh_bucket("embedding", planes))
        .withColumn("_n", sim.l2_norm("embedding"))
        .transform(lambda d: pin_spread(d, "_bucket"))
    )
    a2, b2 = b.alias("a"), b.alias("b")
    pairs = (
        a2.join(
            b2,
            (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(
                sim.cosine_pre(
                    F.col("a.embedding"),
                    F.col("b.embedding"),
                    F.col("a._n"),
                    F.col("b._n"),
                ),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.3)
    )
    return pairs


# ---------------------------------------------------------------------------
# Two-stage PQ retrieval and the IVF-PQ composition.
#
# Exhaustive PQ-ADC retrieval (``ext_ann_pq_rerank``: shortlist by
# asymmetric code distance, re-rank the shortlist against true vectors)
# measured >40 min at sf10: its lookup join is O(corpus x queries) by
# construction, the documented cost of an *exhaustive baseline*. What
# production indexes run is the IVF-PQ composition (Jégou et al. 2011's
# IVFADC): coarse-quantizer pruning (IVF) in front of code-distance
# ranking (PQ) in front of a point-lookup exact re-rank, so per-query
# work is bounded by n_probe/n_cells of the corpus. Distances are
# strict-fold doubles floored into integer picodistance units before any
# reduction.
# ---------------------------------------------------------------------------

@register(
    "ext_ann_pq_rerank",
    f"""
    WITH {PQ_ADC_SCORED_CTE},
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc ASC, vec_id ASC) AS rank
        FROM scored
      ) WHERE rank <= 20
    ),
    rr AS (
      SELECT s.query_id, s.vec_id,
             CAST(floor({_D2.format(a='q.embedding', b='c.embedding')}
                        * 1000000000000) AS BIGINT) AS exact_pd
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, exact_pd, rank FROM (
      SELECT query_id, vec_id, exact_pd,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY exact_pd ASC, vec_id ASC) AS rank
      FROM rr
    ) WHERE rank <= 5
    """,
)
def ext_ann_pq_rerank(spark, sf_dir):
    """[EXT] two-stage PQ retrieval — the query path every production
    PQ index runs: shortlist top-20 per query by asymmetric code
    distance (corpus touched only through its 8 nibble codes), then
    re-rank the 20 candidates against their TRUE vectors with exact L2
    and keep the top-5. The expensive exact distances run on 20 rows
    per query instead of the whole corpus — at 100 TB the re-rank
    stage reads a point-lookup's worth of full vectors.

    Exactness: shortlist membership is decided on exact-integer ADC
    picodistances with a full tiebreak; re-rank distances are
    strict-fold doubles floored to integer picodistance units —
    bit-identical in both engines before any comparison.

    Scale status: the shortlist stage here is EXHAUSTIVE ADC —
    O(corpus x queries) by construction (measured >40 min at sf10),
    the PQ analog of ``ext_ann_brute_topk``'s yardstick role. The
    production-shaped path is ``ext_ann_ivfpq_rerank``
    (below), which bounds the ADC stage to n_probe/n_cells
    of the corpus via coarse-cell pruning."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    short = (
        sim.pq_adc_scores(emb, q, exclude_self=True)
        .withColumn("_rn", F.row_number().over(wa))
        .filter(F.col("_rn") <= 20)
        .select("query_id", "vec_id")
    )
    qv = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    cv = emb.select(F.col("vec_id"), F.col("embedding").alias("_cv"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("_qv"),
            F.col("_cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rr = (
        short.join(qv, "query_id")
        .join(cv, "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.floor(d2 * F.lit(1_000_000_000_000)).cast("long").alias("exact_pd"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.asc("exact_pd"), F.asc("vec_id"))
    return (
        rr.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "exact_pd", "rank")
    )


# per-subspace squared L2 between an 8-wide slice of a query vector and
# a codebook subcentroid — the same strict left fold as the engine
_SUB_D2 = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 9), "
    "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) "
    "* ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), (acc, x) -> acc + x)"
)


@register(
    "ext_ann_ivfpq_rerank",
    f"""
    WITH coarse AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY {_CENT_ORDER}) - 1 AS cell_id,
             embedding AS centroid
      FROM embeddings ORDER BY {_CENT_ORDER} LIMIT 32
    ),
    cells AS MATERIALIZED (
      SELECT vec_id, cell_id FROM (
        SELECT c.vec_id, k.cell_id,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY {_cos('c.embedding', 'k.centroid')} DESC,
                          k.cell_id ASC) AS cr
        FROM embeddings c, coarse k) WHERE cr = 1
    ),
    probes AS (
      SELECT query_id, cell_id FROM (
        SELECT q.vec_id AS query_id, k.cell_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_cos('q.embedding', 'k.centroid')} DESC,
                          k.cell_id ASC) AS cr
        FROM embeddings q, coarse k WHERE {_QUERY_PRED}) WHERE cr <= 2
    ),
    pqcents AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY {_CENT_ORDER}) - 1 AS code_id,
             embedding AS centroid
      FROM embeddings ORDER BY {_CENT_ORDER} LIMIT 16
    ),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
      SELECT code_id, s, centroid[(s*8+1):(s*8+8)] AS subc FROM pqcents, subs
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, s, code_id FROM (
        SELECT vx.vec_id, vx.s, cb.code_id,
               row_number() OVER (PARTITION BY vx.vec_id, vx.s ORDER BY
                 {_SUB_D2.format(a='subv', b='subc')} ASC,
                 cb.code_id ASC) AS rn
        FROM (SELECT vec_id, s, embedding[(s*8+1):(s*8+8)] AS subv
              FROM embeddings, subs) vx
        JOIN cb USING (s)
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT p.query_id, p.cell_id, cb.s, cb.code_id,
             CAST(floor(
               {_SUB_D2.format(a="q.embedding[(cb.s*8+1):(cb.s*8+8)]", b="subc")}
               * 1000000000000) AS BIGINT) AS qd
      FROM probes p
      JOIN embeddings q ON q.vec_id = p.query_id
      CROSS JOIN cb
    ),
    scored AS (
      SELECT lut.query_id, codes.vec_id, CAST(SUM(lut.qd) AS BIGINT) AS adc
      FROM codes
      JOIN cells USING (vec_id)
      JOIN lut ON lut.cell_id = cells.cell_id
              AND lut.s = codes.s AND lut.code_id = codes.code_id
      WHERE codes.vec_id <> lut.query_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc ASC, vec_id ASC) AS rk
        FROM scored) WHERE rk <= 20
    ),
    rr AS (
      SELECT s.query_id, s.vec_id,
             CAST(floor({_D2.format(a='q.embedding', b='c.embedding')}
                        * 1000000000000) AS BIGINT) AS exact_pd
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, exact_pd, rank FROM (
      SELECT query_id, vec_id, exact_pd,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY exact_pd ASC, vec_id ASC) AS rank
      FROM rr
    ) WHERE rank <= 5
    """,
)
def ext_ann_ivfpq_rerank(spark, sf_dir):
    """[EXT] IVF-PQ two-stage retrieval (Jégou et al. 2011 IVFADC —
    the composition production vector indexes run): 32 coarse cells
    prune each query to its 2 nearest cells, PQ asymmetric code
    distances shortlist the top-20 of ONLY those cells' vectors, and
    the 20 survivors are re-ranked against true vectors with exact L2
    into a top-5.

    The per-query ADC work is n_probe/n_cells (1/16) of the
    exhaustive ``ext_ann_pq_rerank``; at 100 TB the cells are the
    partition layout (``write_ivf_partitioned``), so pruning is a
    planning-time partition filter and the exact stage is a
    shortlist-sized point lookup. Determinism matches the exhaustive
    path: integer picodistance ADC sums, full (adc, id) and
    (exact_pd, id) tiebreaks."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return sim.ivfpq_rerank_topk(
        q,
        emb,
        n_cells=32,
        n_probe=2,
        shortlist=20,
        k=5,
        exclude_self=True,
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH top-10 (Lv et al. 2007): each query also scores the
# buckets its lowest-margin sign-bit flips reach
# ---------------------------------------------------------------------------

def _multiprobe_sql() -> str:
    bucket_c = _bucket_sql("embedding")
    projs = _plane_proj_sqls("embedding")
    margins = ", ".join(
        f"{{'m': abs({p}), 'j': {j}}}" for j, p in enumerate(projs)
    )
    return f"""
    WITH corpus AS MATERIALIZED (
      SELECT vec_id, embedding, {bucket_c} AS bucket FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS query_vec,
             {bucket_c} AS bucket,
             list_sort([{margins}]) AS ms
      FROM embeddings WHERE {_QUERY_PRED}
    ),
    probes AS (
      SELECT query_id, query_vec,
             unnest(list_prepend(bucket,
               list_transform(ms[1:2], f -> xor(bucket, 1 << f.j))))
               AS bucket
      FROM q
    ),
    scored AS (
      SELECT p.query_id, c.vec_id,
             round({_cos('p.query_vec', 'c.embedding')}, 6) AS sim
      FROM probes p JOIN corpus c USING (bucket)
      WHERE p.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 10
    """


@register("ext_ann_lsh_multiprobe_topk", _multiprobe_sql())
def ext_ann_lsh_multiprobe_topk(spark, sf_dir):
    """[EXT] multi-probe LSH top-10 (Lv et al. 2007): each query
    scores its own bucket PLUS the buckets reached by flipping its 2
    lowest-|margin| sign bits — the planes the query sits closest to,
    the likeliest single-bit differences for a true neighbor. The
    standard recall lever for single-table LSH: ~3x the candidate
    reads recover most of what a second hash table would buy without
    storing the corpus twice; at 100 TB the corpus stays written once
    (partitioned by bucket) and multi-probe is a query-side fan-out
    over 3 partition keys. Candidates strictly contain the
    single-probe set, so per-query top-1 similarity dominates
    ``ext_ann_lsh_topk``'s (pinned by test). Margins are the identical
    projection doubles as the bucket bits on both engines, so flip
    selection (and therefore the candidate set) matches exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.hyperplane_lsh_multiprobe_topk(
        queries, emb, k=10, n_flip=2, exclude_self=True
    )
