"""[EXT] Similarity search over embedding columns (north-star op).

Embeddings are ``array<float>`` columns; all math is widened to double
and folded left-to-right (``F.aggregate``), which makes the result
bit-reproducible across engines and partitionings — the same property
the dedup layer gets from md5.

Operators:
- ``cosine`` / ``dot`` / ``l2_norm`` — expression builders (JVM-side,
  no UDF; 64-dim fold stays inside codegen).
- ``brute_force_topk`` — exact top-k: broadcast the (small) query set
  against the corpus, per-query window top-k. The corpus scan stays
  fully partitioned; the only shuffle is the per-query ranking, whose
  input is already reduced to (queries x corpus) rows with only id +
  similarity columns.
- ``hyperplane_lsh_topk`` — the scale path: 8 signed random
  hyperplanes bucket the corpus into 256 cells; queries probe only
  their own cell. Hyperplane coefficients (±1) are derived from md5 in
  *driver Python* and inlined as literals, so any engine reproduces
  them. At 100 TB the bucketed corpus is written partitioned by
  bucket id -> a probe reads 1/256th of the data; multi-probe (flip
  lowest-margin bits) trades recall for reads.

- ``ivf_topk`` — the second scale path: IVF-Flat with *sampled* coarse
  centroids (the ``n_cells`` corpus vectors with smallest md5(id) — a
  uniform deterministic sample, a standard coarse-quantizer
  initialization that needs no training loop). Corpus vectors join to
  their nearest centroid's cell; a query probes its ``n_probe``
  nearest cells. At 100 TB the corpus is written partitioned by
  ``cell_id`` and a probe reads n_probe/n_cells of the data.
- ``quantize_int8_stats`` — storage path: per-vector symmetric int8
  quantization (scale = max|x|/127, floor(x/scale + .5)) — 4x smaller
  embedding storage with bounded reconstruction error (<= scale/2).

A *trained* k-means IVF (Lloyd iterations) would refine the sampled
centroids; recall improves but the plan shape — broadcast centroids,
argmax-affinity assign, cell-pruned probe — is identical, so the
sampled variant is what the engine ships and oracle-checks.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.session import pin_spread

#: Column names the lsh_bucket SQL fast path may splice in backticks.
#: Anything else (``a.field`` struct access, names with backticks) goes
#: through ``F.col``, which resolves them as the caller meant.
_SIMPLE_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _fold_sum(products: Column) -> Column:
    """Strict left-fold sum (deterministic double summation order)."""
    return F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)


def _lit_doubles(values) -> Column:
    """Literal double array in ONE py4j call.  ``F.array(*[F.lit(v) ...])``
    costs one driver->JVM round trip per element; a 64-dim plane built
    that way is ~65 calls, and a 40-plane banding ~2,600 — measured at
    1.5-2.5 s of pure driver-side build time per ANN query (the JVM
    answers each call in ~0.6 ms).  ``F.expr`` parses the same Literal
    nodes server-side in one call.  ``repr(float)`` round-trips exactly
    (shortest-repr), so the parsed literals are bit-identical to
    ``F.lit``'s.

    Non-finite elements (NaN/inf centroids from degenerate input
    vectors) would render as ``nanD``/``infD``, which the SQL parser
    rejects — where ``F.lit`` built a valid NaN/Infinity literal.  The
    slow-but-always-correct per-element path handles that rare case
    (r9 ADVICE)."""
    import math

    vals = [float(v) for v in values]
    if all(math.isfinite(v) for v in vals):
        return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])


def dot(a: Column | str, b: Column | str) -> Column:
    return _fold_sum(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        _fold_sum(F.transform(_c(a), lambda x: x.cast("double") * x.cast("double")))
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def cosine_pre(a: Column | str, b: Column | str, na: Column, nb: Column) -> Column:
    """Cosine with *precomputed* norms. A vector's norm is constant,
    but ``cosine()`` inside a pair-join re-folds it per PAIR — an
    n_pairs/n_vectors-fold blowup of interpreted HOF work. Values are
    identical (same fold, same order), so oracles are unaffected."""
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def hyperplanes(num_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 hyperplane coefficients from md5 — computed in
    driver Python, inlined as literals, identical in any engine."""
    planes = []
    for j in range(num_planes):
        row = []
        for i in range(dim):
            digit = int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[0], 16)
            row.append(1.0 if digit % 2 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-of-projection bucket id: bit j = (vec . plane_j) > 0.

    Built as ONE server-side SQL parse when ``vec`` is a simple
    identifier (``_SIMPLE_IDENT``) and every coefficient is finite —
    the per-plane Column build costs ~10 py4j round trips per plane
    (zip_with + fold + CASE + accumulate), and a banded detector calls
    this per band: the banded recall verify leg measured 3.0 s of its
    4.5 s wall in Python-side plan-build time alone.  The parsed tree is
    node-identical to the Column build (same literal doubles via
    shortest-repr, same cast/multiply/left-fold/CASE nodes), so bucket
    values are bit-identical — pinned by test_lsh_bucket_expr_parity.
    Column inputs, other names and non-finite coefficients keep the
    slow-but-general path (the ``_lit_doubles`` contract)."""
    import math

    if isinstance(vec, str) and _SIMPLE_IDENT.fullmatch(vec) and all(
        math.isfinite(float(c)) for plane in planes for c in plane
    ):
        terms = []
        for j, plane in enumerate(planes):
            arr = "array(" + ",".join(f"{float(c)!r}D" for c in plane) + ")"
            proj = (
                f"aggregate(zip_with(`{vec}`, {arr}, "
                "(x, cfg) -> CAST(x AS DOUBLE) * cfg), "
                "0.0D, (acc, x) -> acc + x)"
            )
            terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
        return F.expr("0 + " + " + ".join(terms))
    out = F.lit(0)
    for j, plane in enumerate(planes):
        proj = _fold_sum(
            F.zip_with(
                _c(vec),
                _lit_doubles(plane),
                lambda x, cfg: x.cast("double") * cfg,
            )
        )
        out = out + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out


def _rank_topk(
    scored: DataFrame, query_id: str, corpus_id: str, k: int
) -> DataFrame:
    """Shared ranking tail of every retrieval function: deterministic
    (sim DESC, corpus id ASC) top-k with a 1-based rank. ONE place owns
    the ranking contract — the 6dp-rounded sim and the full tiebreak —
    so the exact/IVF/LSH paths cannot drift apart."""
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "sim", "rank")
    )


def _maybe_exclude_self(
    scored: DataFrame, query_id: str, corpus_id: str, exclude_self: bool
) -> DataFrame:
    """Self-match exclusion, opt-in ONLY: valid when queries are drawn
    from the corpus id space (the benchmark queries do this). With
    independently-numbered queries an id collision is a coincidence and
    filtering it would silently drop a legitimate candidate — same
    contract as ``pq_adc_scores``."""
    if exclude_self:
        return scored.filter(F.col(query_id) != F.col(corpus_id))
    return scored


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k per query. Ranking key is (rounded similarity
    desc, corpus id asc) — fully deterministic under ties. Queries are
    broadcast; the corpus is never re-shuffled for the scoring pass."""
    # spread the corpus scan: a small single-file read is one partition,
    # and a broadcast cross join inherits the probe side's parallelism
    corpus = pin_spread(corpus, F.col(corpus_id)).withColumn(
        "_cn", l2_norm(corpus_vec)
    )
    queries = queries.withColumn("_qn", l2_norm(query_vec))
    scored = _maybe_exclude_self(
        F.broadcast(queries).crossJoin(corpus),
        query_id,
        corpus_id,
        exclude_self,
    ).select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            cosine_pre(query_vec, corpus_vec, F.col("_qn"), F.col("_cn")), 6
        ).alias("sim"),
    )
    return _rank_topk(scored, query_id, corpus_id, k)


def ivf_centroids(
    corpus: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    n_cells: int = 8,
) -> DataFrame:
    """Deterministic sampled coarse centroids: the ``n_cells`` corpus
    vectors with smallest (md5(id), id) — a uniform sample with no RNG
    and no training, reproducible on any engine. Returns
    (cell_id 0.., centroid)."""
    w = Window.orderBy("_o", "cell_src")
    return (
        corpus.select(
            F.col(corpus_id).alias("cell_src"),
            F.col(corpus_vec).alias("centroid"),
            F.md5(F.col(corpus_id).cast("string")).alias("_o"),
        )
        .orderBy("_o", "cell_src")
        .limit(n_cells)  # TakeOrdered: no global sort materialized
        .withColumn("cell_id", F.row_number().over(w) - 1)
        .select("cell_id", "centroid", l2_norm("centroid").alias("_kn"))
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame | list,
    *,
    id_col: str,
    vec_col: str,
    rank_upto: int = 1,
) -> DataFrame:
    """Attach the ``rank_upto`` highest-affinity (cosine) cell ids to
    each vector — MAP-SIDE: the centroid table (a few dozen rows, the
    coarse quantizer) is collected once at the driver and inlined as
    literal arrays, so assignment is a per-row argmax expression with
    ZERO shuffle — no crossJoin row blowup, no per-vector rank window.
    The affinity math is the identical ``cosine_pre`` fold (float
    centroid components widen to the same doubles as literals), so
    results match the relational formulation and the SQL oracles
    bit-for-bit; ties break on ascending cell_id exactly as before.

    Scale: the per-row cost is n_cells folds — the same arithmetic the
    old crossJoin-per-centroid version paid, minus materializing
    corpus x n_cells rows and shuffling them through a window. At
    100 TB this is the only formulation that survives: assignment
    stays inside the scan stage and the corpus is never re-partitioned
    just to pick a cell.

    Two centroid transports, same math:

    - **DataFrame** (default): the centroid table is aggregated into
      ONE packed row (``collect_list`` of (cell_id, centroid, norm)
      structs) and broadcast-crossJoined — fully lazy, no driver
      round-trip, no extra Spark job, and the whole query stays one
      fused job. This is the 1-row-broadcast pattern the rest of the
      engine uses for scalar state.
    - **list** (pre-collected rows): inlined as constant-folded
      literal arrays — for callers that already hold the quantizer
      driver-side (e.g. a trained codebook loaded from a file).
    """
    df = df.withColumn("_vn", l2_norm(vec_col))
    if isinstance(centroids, list):
        cent_rows = sorted(centroids, key=lambda r: r["cell_id"])
        if not cent_rows:
            # no cells exist; zero rows with the contract schema (a
            # zero-element struct-array literal would be VOID-typed)
            return df.filter(F.lit(False)).select(
                F.col(id_col),
                F.col(vec_col),
                F.col("_vn"),
                F.lit(None).cast("int").alias("cell_id"),
            )
        packed_col = F.array(
            *[
                F.struct(
                    F.lit(int(r["cell_id"])).alias("cell_id"),
                    _lit_doubles(float(v) for v in r["centroid"]).alias(
                        "centroid"
                    ),
                    F.lit(float(r["_kn"])).alias("_kn"),
                )
                for r in cent_rows
            ]
        )
        tagged = df.withColumn("_cents", packed_col)
    else:
        packed = centroids.agg(
            F.array_sort(
                F.collect_list(F.struct("cell_id", "centroid", "_kn"))
            ).alias("_cents")
        )
        tagged = df.crossJoin(F.broadcast(packed))
    # array<struct<_na: -affinity, cell_id>>: ascending struct sort ==
    # (affinity DESC, cell_id ASC).  cosine_pre never yields NaN (zero
    # norms guard to 0.0), so negation preserves the total order. An
    # empty centroid table gives an empty _cents array -> explode
    # yields zero rows, types intact.
    affs = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (
                -cosine_pre(
                    vec_col, c["centroid"], F.col("_vn"), c["_kn"]
                )
            ).alias("_na"),
            c["cell_id"].alias("cell_id"),
        ),
    )
    return tagged.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("_vn"),
        F.explode(
            F.slice(F.array_sort(affs), 1, rank_upto)
        ).alias("_cell"),
    ).select(id_col, vec_col, "_vn", F.col("_cell.cell_id").alias("cell_id"))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_cells: int | None = None,
    n_probe: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-Flat approximate top-k: a query scores only the corpus
    vectors assigned to its ``n_probe`` nearest cells. Cells partition
    the corpus (each vector lives in exactly one), so no pair is scored
    twice and the probe set bounds read volume by n_probe/n_cells.

    .. warning:: **Behavioral break vs rounds 1-4:** ``n_cells`` used
       to default to ``8``; it now defaults to ``None`` = adaptive
       (:func:`adaptive_ivf_cells` staircase 8/32/64).  Callers that
       relied on the old fixed default get different (better-bucketed)
       cells above 20k vectors — pass ``n_cells=8`` explicitly for the
       old behavior.  The adaptive default also triggers **one eager
       count() Spark job at composition time**, re-evaluating the full
       upstream plan of ``corpus`` — at heavy call sites, ``cache()``
       or ``localCheckpoint()`` the corpus first (or pass ``n_cells``
       explicitly to keep composition fully lazy)."""
    if n_cells is None:
        n_cells = adaptive_ivf_cells(corpus.count())
    # both assignments broadcast the same packed 1-row centroid
    # aggregate; exchange reuse makes it one broadcast, zero collects
    cents = ivf_centroids(
        corpus, corpus_id=corpus_id, corpus_vec=corpus_vec, n_cells=n_cells
    )
    cells = ivf_assign(
        corpus, cents, id_col=corpus_id, vec_col=corpus_vec
    ).withColumnRenamed("_vn", "_cn")
    # Spread the scoring: the probe side is broadcast, so the join
    # needs NO co-partitioning — but it inherits the corpus scan's
    # partitioning, and a compact corpus (one parquet row group) would
    # run the whole scoring pass on one task.  Round-robin costs one
    # narrow pass over the vectors and buys full-width scoring — the
    # same spread the brute/LSH paths already pin.
    cells = pin_spread(cells)
    probes = ivf_assign(
        queries, cents, id_col=query_id, vec_col=query_vec,
        rank_upto=n_probe,
    ).withColumnRenamed("_vn", "_qn")
    scored = _maybe_exclude_self(
        F.broadcast(probes).join(cells, "cell_id"),
        query_id,
        corpus_id,
        exclude_self,
    ).select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            cosine_pre(query_vec, corpus_vec, F.col("_qn"), F.col("_cn")), 6
        ).alias("sim"),
    )
    return _rank_topk(scored, query_id, corpus_id, k)


def write_ivf_partitioned(
    corpus: DataFrame,
    path: str,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    n_cells: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize the IVF index AS A STORAGE LAYOUT: the corpus is
    written partitioned by ``cell_id`` (one directory per coarse cell,
    precomputed norms stored alongside the vectors) plus a sibling
    ``centroids`` table holding the exact quantizer.

    This is the claim every IVF docstring here makes, made executable:
    at 100 TB the index IS the directory structure — a probe that
    touches ``n_probe`` of ``n_cells`` cells becomes a planning-time
    partition-pruned scan that never lists, opens, or reads the other
    cells' files. No search service, no external index; the lakehouse
    layout carries the recall/IO trade-off.

    .. warning:: Same behavioral break as :func:`ivf_topk`: ``n_cells``
       now defaults to ``None`` = adaptive (was ``8`` through round 4),
       and the adaptive path runs one eager ``count()`` job at call
       time — cache the corpus or pass ``n_cells`` explicitly at heavy
       call sites.
    """
    if n_cells is None:
        n_cells = adaptive_ivf_cells(corpus.count())
    cents = ivf_centroids(
        corpus, corpus_id=corpus_id, corpus_vec=corpus_vec, n_cells=n_cells
    )
    cells = ivf_assign(corpus, cents, id_col=corpus_id, vec_col=corpus_vec)
    (
        cells.withColumnRenamed("_vn", "norm")
        .write.mode(mode)
        .partitionBy("cell_id")
        .parquet(f"{path}/cells")
    )
    cents.write.mode(mode).parquet(f"{path}/centroids")


def ivf_topk_partitioned(
    spark,
    path: str,
    queries: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_probe: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """Probe a :func:`write_ivf_partitioned` layout: assign each query
    its ``n_probe`` cells with the STORED centroids (so probe-side
    assignment is bit-identical to the one that placed the corpus),
    collect the tiny distinct probe-cell set, and scan ``cells/`` with
    a ``cell_id IN (...)`` predicate — a partition filter, resolved at
    planning time against the directory listing: unprobed cells
    contribute zero files to the scan (asserted by test against the
    physical plan's PartitionFilters).

    The one driver action is the distinct probe-cell collect —
    n_queries x n_probe values, the price of planning-time pruning
    (the same move as dynamic partition pruning, done explicitly).
    Results are identical to the in-memory :func:`ivf_topk` over the
    same corpus — pinned by test."""
    cents = spark.read.parquet(f"{path}/centroids")
    probes = ivf_assign(
        queries, cents, id_col=query_id, vec_col=query_vec, rank_upto=n_probe
    ).withColumnRenamed("_vn", "_qn")
    probe_cells = [
        r["cell_id"] for r in probes.select("cell_id").distinct().collect()
    ]
    cells = (
        spark.read.parquet(f"{path}/cells")
        .filter(F.col("cell_id").isin(probe_cells))
        .withColumnRenamed("norm", "_cn")
    )
    # spread the scoring pass OFF the pruned scan's file layout: the
    # probed-cell directories are few files (and skewed when the
    # corpus clusters), so the broadcast-probe join would otherwise
    # run the whole cosine pass on a handful of straggling tasks —
    # measured 210 s vs 56 s for the same math in-memory at sf10.
    # Round-robin AFTER the filter: partition pruning already happened
    # at the scan, this only evens out the surviving rows.
    cells = pin_spread(cells)
    scored = _maybe_exclude_self(
        F.broadcast(probes).join(cells, "cell_id"),
        query_id,
        corpus_id,
        exclude_self,
    ).select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            cosine_pre(query_vec, corpus_vec, F.col("_qn"), F.col("_cn")), 6
        ).alias("sim"),
    )
    return _rank_topk(scored, query_id, corpus_id, k)


def l2_dist2(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance, strict left fold."""
    return _fold_sum(
        F.zip_with(
            _c(a),
            _c(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    rounds: int = 2,
) -> DataFrame:
    """Lloyd refinement of the IVF coarse centroids: assign every vector
    to its nearest (L2) centroid, recompute each centroid as the cell
    mean, repeat. Within-cluster SSE is non-increasing per round (the
    classic Lloyd guarantee — pinned by test).

    Determinism at any partitioning: per-dimension means are computed
    as exact DECIMAL sums divided once (a double sum would be
    partition-order-dependent — the same rule as the money aggregates).
    Each round is: broadcast-assign -> posexplode to (cell, dim, value)
    -> hash-aggregate -> array rebuild; ``localCheckpoint`` truncates
    the per-round plan exactly as in the connected-components loop.
    Returns the refined (cell_id, centroid) table — ALWAYS with every
    input cell_id: a cell that attracts zero vectors this round (e.g.
    duplicate sampled seeds, where the distance tie-break routes every
    vector to the lower cell_id) keeps its previous centroid rather
    than silently vanishing, so downstream n_probe/n_cells sizing and
    cell-id joins stay valid.
    """
    # one round-robin spread before the rounds: a compact corpus (one
    # parquet row group) would otherwise run every per-round
    # assign+posexplode (|corpus| x dims rows) on one task
    corpus = pin_spread(corpus)
    for _ in range(rounds):
        assigned = (
            corpus.crossJoin(F.broadcast(centroids))
            .select(
                F.col(corpus_id),
                F.col(corpus_vec),
                F.col("cell_id"),
                l2_dist2(corpus_vec, "centroid").alias("_d2"),
            )
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy(corpus_id).orderBy(
                        F.asc("_d2"), F.asc("cell_id")
                    )
                ),
            )
            .filter(F.col("_rk") == 1)
        )
        comps = assigned.select(
            "cell_id", F.posexplode(F.col(corpus_vec)).alias("dim", "val")
        )
        means = comps.groupBy("cell_id", "dim").agg(
            (
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("comp")
        )
        refined = means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "comp"))),
                lambda s: s["comp"].cast("float"),
            ).alias("_new")
        )
        centroids = (
            centroids.select("cell_id", F.col("centroid").alias("_prev"))
            .join(refined, "cell_id", "left")
            .select(
                "cell_id", F.coalesce("_new", "_prev").alias("centroid")
            )
            .localCheckpoint(eager=False)
        )
    return centroids.select("cell_id", "centroid", l2_norm("centroid").alias("_kn"))


def kmeans_sse(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> float:
    """Within-cluster SSE under nearest-L2 assignment (the Lloyd
    objective), as an exact-decimal sum of per-vector distances."""
    d2 = (
        corpus.crossJoin(F.broadcast(centroids))
        .select(F.col(corpus_id), l2_dist2(corpus_vec, "centroid").alias("_d2"))
        .groupBy(corpus_id)
        .agg(F.min("_d2").alias("_d2"))
    )
    return d2.agg(F.sum(F.col("_d2").cast("decimal(28,10)"))).first()[0]


def random_projection(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int = 16,
    in_dims: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce ``in_dims``-dim
    embeddings to ``n_dims`` with a Rademacher (±1) matrix scaled by
    1/sqrt(n_dims) — pairwise distances are preserved in expectation
    (Achlioptas 2003: ±1 entries suffice, no Gaussians needed).  The
    storage/compute lever BEFORE quantization: 4x fewer dims, then
    int8 or PQ on top.

    The matrix is md5-derived (:func:`hyperplanes`) and inlined as
    literals — deterministic on any engine, no RNG, no fit step.  Each
    output component is a strict left fold over the input (the module's
    cross-engine summation rule), rounded to 6dp.  Map-side only: rides
    the corpus scan, zero shuffles at any scale.
    """
    planes = hyperplanes(n_dims, in_dims)
    scale = float(n_dims) ** 0.5
    comps = [
        F.round(
            _fold_sum(
                F.zip_with(
                    _c(vec_col),
                    _lit_doubles(plane),
                    lambda x, cfg: x.cast("double") * cfg,
                )
            )
            / F.lit(scale),
            6,
        )
        for plane in planes
    ]
    return df.select(F.col(id_col), F.array(*comps).alias("proj"))


def quantize_int8_stats(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization summary: scale
    (max|x|/127), the quantized-value sum (an order-free integer
    checksum), and the max reconstruction error (bounded by scale/2).

    Rounding is ``floor(x/scale + 0.5)`` — a fixed definition both
    engines evaluate identically (engine round() half-way semantics
    differ). The scale lands in its own projection first: referencing
    the array_max fold from inside a per-element lambda would
    re-evaluate it per element (expression-reuse trap).
    """
    v = F.col(vec_col)
    with_scale = df.select(
        F.col(id_col),
        v,
        (
            F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / 127.0
        ).alias("scale"),
    )
    s = F.col("scale")
    q = F.transform(v, lambda x: F.floor(x.cast("double") / s + 0.5))
    err = F.zip_with(
        v, q, lambda x, qi: F.abs(x.cast("double") - qi.cast("double") * s)
    )
    return with_scale.select(
        id_col,
        "scale",
        F.when(s > 0, F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x))
        .otherwise(F.lit(0))
        .alias("q_sum"),
        F.when(s > 0, F.array_max(err)).otherwise(F.lit(0.0)).alias("max_abs_err"),
    )


def hyperplane_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    cell. Join on bucket id replaces the cross join — at scale this is
    a partition-pruned read, not a scan."""
    planes = hyperplanes(num_planes, dim)
    cb = (
        corpus.withColumn("_bucket", lsh_bucket(corpus_vec, planes))
        .transform(lambda d: pin_spread(d, "_bucket"))
        .withColumn("_cn", l2_norm(corpus_vec))
    )
    qb = queries.withColumn("_bucket", lsh_bucket(query_vec, planes)).withColumn(
        "_qn", l2_norm(query_vec)
    )
    scored = _maybe_exclude_self(
        F.broadcast(qb).join(cb, "_bucket"), query_id, corpus_id, exclude_self
    ).select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            cosine_pre(query_vec, corpus_vec, F.col("_qn"), F.col("_cn")), 6
        ).alias("sim"),
    )
    return _rank_topk(scored, query_id, corpus_id, k)


def semantic_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.35,
    n_cells: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the coarse quantizer,
    then *within each cluster* mark a vector as a semantic duplicate
    when some cluster-mate with a smaller id is cosine-similar above
    ``tau``. Keep-first-by-id is the deterministic stand-in for the
    paper's keep-lowest-centroid-similarity rule — the removal *set
    size* per duplicate family is identical (all but one survive).

    The clustering bounds the pairwise work to sum(|cell|^2) instead
    of |corpus|^2 — the property that makes SemDeDup run at dataset
    scale. At 100 TB: corpus written partitioned by ``cell_id`` makes
    the self-join co-partitioned (no shuffle beyond the assignment),
    and cells are sized ~sqrt(N) via ``n_cells``.

    Returns one row per corpus vector:
    (id, cell_id, max_prior_sim, keep) where ``max_prior_sim`` is the
    highest cosine to any smaller-id cluster-mate (-1.0 when the
    vector is the smallest id in its cell) and ``keep`` = 0/1.

    Reference analog: the reference dedups rows by exact key
    (/root/reference/build_master_corpus.py:238-258); this extends the
    same keep-one-survivor contract to embedding space.
    """
    cents = ivf_centroids(
        corpus, corpus_id=id_col, corpus_vec=vec_col, n_cells=n_cells
    )
    # assignment is referenced three times (both self-join sides + the
    # final survivor list); checkpoint so the crossJoin+rank runs once
    cells = pin_spread(
        ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col).select(
            F.col(id_col), F.col(vec_col), F.col("_vn"), F.col("cell_id")
        ),
        "cell_id",
    ).localCheckpoint(eager=False)
    a = cells.select(
        "cell_id",
        F.col(id_col).alias("_a_id"),
        F.col(vec_col).alias("_a_vec"),
        F.col("_vn").alias("_a_n"),
    )
    b = cells.select(
        "cell_id",
        F.col(id_col).alias("_b_id"),
        F.col(vec_col).alias("_b_vec"),
        F.col("_vn").alias("_b_n"),
    )
    prior_max = (
        a.join(b, "cell_id")
        .filter(F.col("_b_id") < F.col("_a_id"))
        .groupBy(F.col("_a_id").alias(id_col))
        .agg(
            F.max(
                cosine_pre("_a_vec", "_b_vec", F.col("_a_n"), F.col("_b_n"))
            ).alias("_mps")
        )
    )
    return (
        cells.select(id_col, "cell_id")
        .join(prior_max, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell_id"),
            F.round(F.coalesce(F.col("_mps"), F.lit(-1.0)), 6).alias(
                "max_prior_sim"
            ),
            F.when(
                F.coalesce(F.col("_mps"), F.lit(-1.0)) >= F.lit(float(tau)),
                F.lit(0),
            )
            .otherwise(F.lit(1))
            .alias("keep"),
        )
    )


def _pq_codebook(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_sub: int,
    sub_dim: int,
    n_codes: int,
    code_col: str,
    sub_col: str,
) -> DataFrame:
    """The per-subspace PQ codebook ``(code_col, sub_col, subc)``:
    md5-sampled corpus vectors (``ivf_centroids``) sliced into
    ``n_sub`` subvectors. ONE builder shared by ``pq_codes`` (encode
    path) and ``pq_adc_scores`` (query path) — the sampling and slicing
    must agree bit-for-bit or codes and lookup tables silently diverge,
    so they cannot be two copies."""
    cents = ivf_centroids(
        df, corpus_id=id_col, corpus_vec=vec_col, n_cells=n_codes
    ).select(F.col("cell_id").alias(code_col), "centroid")
    subs = F.array(*[F.lit(s) for s in range(n_sub)])
    return cents.select(
        code_col, "centroid", F.explode(subs).alias(sub_col)
    ).select(
        code_col,
        sub_col,
        F.slice(
            F.col("centroid"), F.col(sub_col) * sub_dim + 1, sub_dim
        ).alias("subc"),
    )


def pq_codes(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization codes (Jégou et al. 2011): split each
    vector into ``n_sub`` subvectors and encode each as its nearest of
    ``n_codes`` codebook entries — compressing a 64-dim float vector to
    8 nibble codes (64x smaller) while distances remain approximable
    code-wise (the memory layout behind IVF-PQ indexes).

    Codebooks here are md5-sampled corpus vectors sliced per subspace
    (the same deterministic no-training sampling as ``ivf_centroids``;
    a Lloyd refinement per subspace would slot in exactly like the
    trained-IVF variant). Assignment is MAP-SIDE, same pattern as
    ``ivf_assign``: the whole codebook (n_sub x n_codes rows) is
    packed into ONE sorted array row and broadcast, and each
    subspace-exploded vector row picks its nearest code with an
    ``array_sort`` over per-candidate strict-left-fold L2 structs —
    (d2 ASC, code_id ASC), the identical total order the relational
    rank used, so values and tiebreaks match the SQL oracle
    bit-for-bit. The former per-(vector, subspace) rank window (an
    Exchange + sort over rows x n_sub x n_codes scored candidates) is
    gone; encoding never leaves the scan stage.

    Returns (id, subspace, code, d2). Long form on purpose: the
    downstream consumer (asymmetric-distance scoring, code histogram
    balance checks) groups/joins by subspace or code — the same
    long-form argument as ``feature_hash_long``.

    Scale: the packed codebook is one row (broadcast — always); the
    exploded frame is rows x n_sub, scanned once, zero shuffles —
    at 100 TB encoding rides the corpus scan exactly as the cell
    assignment does.
    """
    # ``codebook``: a caller-prebuilt _pq_codebook frame (same layout,
    # any column names — renamed positionally here).  The rerank
    # compositions need the codebook TWICE (encode + query LUT); built
    # independently each side re-derives the md5 sample from a fresh
    # corpus scan, so they materialize it once and pass it in.
    if codebook is not None:
        c0, c1, c2 = codebook.columns
        cb = codebook.select(
            F.col(c0).alias("code_id"), F.col(c1).alias("s"),
            F.col(c2).alias("subc"),
        )
    else:
        cb = _pq_codebook(
            df, id_col=id_col, vec_col=vec_col, n_sub=n_sub,
            sub_dim=sub_dim, n_codes=n_codes, code_col="code_id",
            sub_col="s",
        )
    # one packed row, sorted by (s, code_id): subspace s's candidates
    # are the contiguous slice [s*n_codes+1, n_codes] — O(1) access,
    # no per-row filtering
    packed = cb.agg(
        F.array_sort(F.collect_list(F.struct("s", "code_id", "subc"))).alias(
            "_cb"
        )
    )
    subs = F.array(*[F.lit(s) for s in range(n_sub)])
    # spread the encode pass: the argmin inherits the corpus scan's
    # partitioning, and a compact corpus (one parquet row group) would
    # encode on one task
    df = pin_spread(df)
    vx = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode(subs).alias("s"),
    ).select(
        "_id",
        "s",
        F.slice(F.col("_v"), F.col("s") * sub_dim + 1, sub_dim).alias("subv"),
    )
    tagged = vx.crossJoin(F.broadcast(packed))
    # the positional slice assumes a COMPLETE codebook (exactly n_codes
    # entries per subspace); a corpus smaller than n_codes yields fewer
    # centroids and would misalign every subspace after the first —
    # silently wrong codes.  Guard per row with zero extra jobs: when
    # the packed array has the full n_sub*n_codes entries use the O(1)
    # slice, otherwise fall back to an explicit subspace filter over
    # the (tiny, broadcast) packed array.
    cands = F.when(
        F.size(F.col("_cb")) == n_sub * n_codes,
        F.slice(F.col("_cb"), F.col("s") * n_codes + 1, n_codes),
    ).otherwise(F.filter(F.col("_cb"), lambda c: c["s"] == F.col("s")))

    def cand_d2(c: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                F.col("subv"),
                c["subc"],
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    affs = F.transform(
        cands,
        lambda c: F.struct(
            cand_d2(c).alias("d2"), c["code_id"].alias("code_id")
        ),
    )
    # unpack in a second projection: _best is referenced twice, so
    # CollapseProject keeps the projections apart and the 16-candidate
    # fold runs once per row
    best = tagged.select(
        "_id", "s", F.element_at(F.array_sort(affs), 1).alias("_best")
    )
    # coalesce makes `code` PROVABLY non-null, so downstream equi-joins
    # on it do not push an isnotnull(<the whole argmin expression>)
    # null-filter below this projection and evaluate the fold twice
    # per row.  -1 is unreachable: a non-empty corpus yields >= 1
    # codebook entry per subspace, and an empty corpus yields no rows.
    return best.select(
        F.col("_id").alias(id_col),
        F.col("s").alias("subspace"),
        F.coalesce(F.col("_best.code_id"), F.lit(-1)).alias("code"),
        F.round("_best.d2", 6).alias("d2"),
    )


def pq_adc_scores(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qv",
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    exclude_self: bool = False,
) -> DataFrame:
    """Asymmetric-distance scores against the PQ-coded corpus: every
    (query, corpus vector) pair reachable through the code table gets
    ``adc`` = the sum of the query's per-subspace lookup distances for
    the vector's codes, in exact integer picodistance units.

    This is the shared first stage of the PQ query path — top-k reads
    rank it directly (``ext_ann_pq_adc_topk``); two-stage retrieval
    shortlists on it and re-ranks the shortlist against true vectors
    (``ext_ann_pq_rerank``). Corpus vectors are touched ONLY through
    their codes; the query-side lookup table is n_sub x n_codes rows
    (broadcast — always).

    Exactness: per-entry lookup distances are strict-fold doubles
    floored to integer picodistance units, so the n_sub-way sum (a
    shuffle aggregation — order-free only for integers) is engine- and
    partitioning-invariant.

    ``exclude_self`` drops pairs where ``id_col == query_id`` — ONLY
    valid when queries are drawn from the corpus id space (the
    benchmark queries do this; they set it True). Default False: with
    independently-numbered queries an id collision is a coincidence,
    and filtering it would silently drop a legitimate candidate.
    """
    # ONE codebook derivation for both consumers (encode + query LUT):
    # built independently, each side re-ran the md5-sample TakeOrdered
    # from its own corpus scan.  n_sub x n_codes rows — a lazy
    # localCheckpoint dedups the subtree without an extra job.
    cb = _pq_codebook(
        corpus, id_col=id_col, vec_col=vec_col, n_sub=n_sub,
        sub_dim=sub_dim, n_codes=n_codes, code_col="code", sub_col="subspace",
    ).localCheckpoint(eager=False)
    codes = pq_codes(
        corpus, id_col=id_col, vec_col=vec_col, n_sub=n_sub,
        sub_dim=sub_dim, n_codes=n_codes, codebook=cb,
    ).select(id_col, "subspace", "code")
    qsub = F.slice(F.col(query_vec), F.col("subspace") * sub_dim + 1, sub_dim)
    d2 = F.aggregate(
        F.zip_with(
            qsub,
            F.col("subc"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = queries.crossJoin(F.broadcast(cb)).select(
        query_id,
        "subspace",
        "code",
        F.floor(d2 * F.lit(1_000_000_000_000)).cast("long").alias("qd"),
    )
    # spread the ADC join: its OUTPUT is |codes| x |queries| while its
    # inputs are small (AQE would coalesce to a couple of tasks and
    # serialize the explosion — see session.pinned_partitions).  The
    # lookup table is broadcast, so the join needs no co-partitioning:
    # round-robin gives a perfectly even spread.
    codes = pin_spread(codes)
    # the LUT is ALWAYS the broadcast side (n_queries x n_sub x
    # n_codes rows).  The hint is load-bearing since the map-side
    # pq_codes rewrite: the codes plan now descends from a packed
    # 1-row codebook crossJoin, whose size estimate makes the planner
    # broadcast the ENTIRE encoded corpus (BuildLeft) instead —
    # measured 4.9 -> 14.3 s on the sf1 rerank, and a guaranteed OOM
    # at real corpus sizes.
    scored = codes.join(F.broadcast(lut), ["subspace", "code"])
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id))
    return scored.groupBy(query_id, id_col).agg(F.sum("qd").alias("adc"))


def ivfpq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "qv",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 32,
    n_probe: int = 2,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    shortlist: int = 20,
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-PQ retrieval — the composition every production vector index
    runs at scale (Jégou et al. 2011's IVFADC): a coarse quantizer
    prunes the corpus to each query's ``n_probe`` nearest cells, PQ
    asymmetric code distances rank ONLY the probed cells' vectors into
    a ``shortlist``, and the shortlist alone is re-ranked against true
    vectors with exact L2.

    This exists because exhaustive ADC (``pq_adc_scores``) is
    O(corpus x queries): at sf10 (200k vectors, 2k queries) its
    lookup join materializes 3.2e9 rows and the two-stage re-rank ran
    >40 min where this composition touches n_probe/n_cells of the
    corpus per query. At 100 TB the coarse cells are the partition
    layout (``write_ivf_partitioned``), the codes fit in memory, and
    the exact re-rank reads ``shortlist`` full vectors per query — a
    point lookup.

    Everything is reused, not re-derived: the coarse quantizer is
    ``ivf_centroids``/``ivf_assign`` (map-side packed broadcast, zero
    shuffles), codes are ``pq_codes``, and the query lookup tables are
    the same strict-fold integer picodistances as ``pq_adc_scores`` —
    the per-(query, cell) LUT is n_sub x n_codes rows, broadcast.
    Determinism contract matches the exhaustive path bit-for-bit:
    integer ADC sums, full (adc, id) and (exact_pd, id) tiebreaks.
    """
    # The quantizer subtrees are DUAL-CONSUMED: cents feeds corpus
    # assignment AND query probing, the codebook feeds encoding AND the
    # query LUT — built per consumer each re-derived its md5-sample
    # TakeOrdered from a fresh corpus scan (9 corpus scans in the
    # before plan).  Lazy localCheckpoints (32 / n_sub x n_codes rows)
    # dedup them without an extra job; the downstream values are
    # byte-identical — the checkpoint only pins WHERE the subtree
    # computes, never what.
    cents = ivf_centroids(
        corpus, corpus_id=id_col, corpus_vec=vec_col, n_cells=n_cells
    ).localCheckpoint(eager=False)
    cells = ivf_assign(
        corpus, cents, id_col=id_col, vec_col=vec_col
    ).select(id_col, "cell_id")
    cb = _pq_codebook(
        corpus, id_col=id_col, vec_col=vec_col, n_sub=n_sub,
        sub_dim=sub_dim, n_codes=n_codes, code_col="code", sub_col="s",
    ).localCheckpoint(eager=False)
    codes = pq_codes(
        corpus, id_col=id_col, vec_col=vec_col, n_sub=n_sub,
        sub_dim=sub_dim, n_codes=n_codes, codebook=cb,
    ).select(id_col, F.col("subspace").alias("s"), "code")
    # codes and cells co-key on the vector id; at 100 TB both are
    # columns of the partitioned index layout and this join is a
    # zero-shuffle stroll through the cell directories
    coded = codes.join(cells, id_col)
    probes = ivf_assign(
        queries, cents, id_col=query_id, vec_col=query_vec,
        rank_upto=n_probe,
    ).select(query_id, query_vec, "cell_id")
    qsub = F.slice(F.col(query_vec), F.col("s") * sub_dim + 1, sub_dim)
    qd2 = F.aggregate(
        F.zip_with(
            qsub,
            F.col("subc"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # per-(query, probed cell) lookup table: queries x n_probe x
    # n_sub x n_codes rows — thousands, broadcast always
    lut = probes.crossJoin(F.broadcast(cb)).select(
        query_id,
        "cell_id",
        "s",
        "code",
        F.floor(qd2 * F.lit(1_000_000_000_000)).cast("long").alias("qd"),
    )
    # spread the pruned ADC join (output explodes n_probe/n_cells of
    # |corpus| x |queries|; AQE sees only the tiny input — see
    # session.pinned_partitions)
    coded = pin_spread(coded)
    scored = coded.join(F.broadcast(lut), ["cell_id", "s", "code"])
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id))
    adc = scored.groupBy(query_id, id_col).agg(F.sum("qd").alias("adc"))
    wa = Window.partitionBy(query_id).orderBy(F.asc("adc"), F.asc(id_col))
    short = (
        adc.withColumn("_rn", F.row_number().over(wa))
        .filter(F.col("_rn") <= shortlist)
        .select(query_id, id_col)
    )
    qv = queries.select(query_id, F.col(query_vec).alias("_qv"))
    cv = corpus.select(id_col, F.col(vec_col).alias("_cv"))
    exact = F.floor(
        l2_dist2("_qv", "_cv") * F.lit(1_000_000_000_000)
    ).cast("long")
    # the shortlist (queries x shortlist rows) is the broadcast side of
    # the true-vector lookup — the corpus is only ever point-read here
    rr = (
        F.broadcast(short.join(F.broadcast(qv), query_id))
        .join(cv, id_col)
        .select(query_id, id_col, exact.alias("exact_pd"))
    )
    wr = Window.partitionBy(query_id).orderBy(
        F.asc("exact_pd"), F.asc(id_col)
    )
    return (
        rr.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "exact_pd", "rank")
    )


#: Corpus-size steps for the single-table LSH plane count, shared
#: verbatim by the engine and the SQL oracles (the rule must be an
#: EXACT row-count decision both engines can replicate — Catalyst
#: stats, which _auto_n_blocks uses, are not visible to SQL).  Unlike
#: the SimHash banding choice (recall-exact either way), plane count
#: CHANGES the candidate set: it is the knob production single-table
#: LSH turns with corpus growth — fixed 8 planes means 256 buckets
#: forever, so random (non-near-dup) collisions grow quadratically
#: with the corpus: measured 372 s / 306x growth at sf10 (200k
#: vectors) before this rule, seconds after.  Recall for genuinely
#: similar pairs falls slowly with planes ((1 - theta/pi)^k); the
#: corpus sizes below keep expected RANDOM collisions per bucket ~O(1)
#: while clusters (which agree on most hyperplanes) stay together.
LSH_PLANE_STEPS: tuple[tuple[int, int], ...] = ((20_000, 8), (200_000, 12))
LSH_PLANES_MAX = 16


def adaptive_lsh_planes(n_rows: int) -> int:
    """Plane count for ``n_rows`` corpus vectors (see LSH_PLANE_STEPS)."""
    for bound, planes in LSH_PLANE_STEPS:
        if n_rows < bound:
            return planes
    return LSH_PLANES_MAX


def hyperplane_auto_banding(
    tau: float,
    n_rows: int,
    *,
    target_recall: float = 0.9,
    max_bands: int = 32,
) -> tuple[int, int]:
    """(bands, rows_per_band) for a target cosine threshold — the
    hyperplane-LSH analog of ``minhash_auto_banding`` (round-9 recall
    fix).  A SINGLE all-planes bucket is a recall cliff: a pair at
    cosine ``tau`` agrees on each plane with ``p = 1 - acos(tau)/pi``
    (Charikar 2002), so one 8-plane bucket catches it with only
    ``p^8`` (0.43 at tau=0.95 — the fixed-block harness number,
    ``ext_embedding_near_dup_recall_single``).  Banding restores the
    OR-amplification MinHash banding provides: rows_per_band comes
    from the size staircase (``adaptive_lsh_planes`` — wide enough
    bands that random collisions stay O(1) per bucket as the corpus
    grows), and bands is the smallest ``b`` with ``1-(1-p^r)^b >=
    target_recall``, clamped to ``max_bands`` (at very low tau the
    S-curve flattens and banding cannot win — the clamp keeps the
    plan bounded and the measured-recall row states what was
    achieved).  For (0.95, 500, 0.9): r=8, b=5 — measured block
    recall 1.0 at the planted-twin working point
    (``ext_embedding_near_dup_recall``).  Pure arithmetic on
    call-site constants, so oracles mirror it by calling this SAME
    function while rendering their SQL."""
    import math

    assert 0 < tau < 1 and 0 < target_recall < 1
    rows = adaptive_lsh_planes(n_rows)
    p_row = (1.0 - math.acos(tau) / math.pi) ** rows
    if p_row >= 1.0:
        return 1, rows
    bands = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_row))
    return max(1, min(max_bands, bands)), rows


def embedding_near_dup_banded(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    tau: float,
    target_recall: float = 0.9,
    bands: int | None = None,
    rows: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with BANDED hyperplane
    LSH: ``bands`` independent ``rows``-plane buckets generate
    candidates (a pair is a candidate when it collides in ANY band),
    exact cosine >= ``tau`` verifies — the vector analog of
    ``minhash_lsh_pairs``, with the banding derived from (tau,
    corpus size, target recall) by ``hyperplane_auto_banding``.

    Plan shape (the MinHash pattern, scale-critical): band entries
    are narrow (id, band_idx, bucket) rows — vectors never ride
    through the exploded self-join; candidates are DISTINCT pairs
    from the within-band bucket join (quadratic only inside a
    bucket); verification joins the vectors back by id and computes
    one cosine per candidate with precomputed norms.  The band count
    is a planning-time constant, so the entries explode is a literal
    array — no HOF in the join key path."""
    n_rows_est = df.count()
    if rows is None or bands is None:
        auto_b, auto_r = hyperplane_auto_banding(
            tau, n_rows_est, target_recall=target_recall
        )
        bands = bands if bands is not None else auto_b
        rows = rows if rows is not None else auto_r
    planes = hyperplanes(bands * rows, dim)
    base = df.select(
        F.col(id_col),
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    lsh_bucket(vec_col, planes[i * rows : (i + 1) * rows]).alias(
                        "bucket"
                    ),
                )
                for i in range(bands)
            ]
        ).alias("_bands"),
    )
    ent = base.select(
        id_col, F.explode("_bands").alias("_e")
    ).select(
        id_col,
        F.col("_e.band_idx").alias("band_idx"),
        F.col("_e.bucket").alias("bucket"),
    )
    ent = pin_spread(ent, "band_idx", "bucket")
    ea, eb = ent.alias("a"), ent.alias("b")
    cand = (
        ea.join(
            eb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sides = df.select(
        F.col(id_col), _c(vec_col).alias("_v"), l2_norm(vec_col).alias("_n")
    )
    va = sides.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    vb = sides.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_pre(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= tau)
    )


#: Corpus-size steps for the IVF coarse-cell count — the same
#: exact-row-count contract as LSH_PLANE_STEPS (Catalyst stats are not
#: SQL-visible, so the rule both engines replicate is a COUNT(*) CASE).
#: Fixed 8 cells means a 2-probe query scans 1/4 of the corpus forever;
#: stepping the cell count with corpus growth keeps the probed fraction
#: falling (2/8 -> 2/32 -> 2/64) while each cell stays large enough
#: that per-cell scheduling overhead doesn't dominate.  Production
#: would use ~sqrt(n) cells; the steps are the gate-reproducible
#: staircase of that curve at the tested scales (500..200k vectors).
IVF_CELL_STEPS: tuple[tuple[int, int], ...] = ((20_000, 8), (200_000, 32))
IVF_CELLS_MAX = 64


def adaptive_ivf_cells(n_rows: int) -> int:
    """Coarse-cell count for ``n_rows`` corpus vectors (IVF_CELL_STEPS)."""
    for bound, cells in IVF_CELL_STEPS:
        if n_rows < bound:
            return cells
    return IVF_CELLS_MAX


def lsh_probe_buckets(
    vec: Column | str, planes: list[list[float]], n_flip: int
) -> Column:
    """Multi-probe LSH probe set (Lv et al. 2007): the query's own
    bucket plus the buckets reached by flipping each of its ``n_flip``
    LOWEST-MARGIN sign bits — the planes the point sits closest to,
    i.e. the likeliest single-bit differences for a true neighbor.
    Returns an array of 1 + n_flip bucket ids (own bucket first, then
    flips in ascending (|margin|, plane) order — deterministic).

    The standard recall lever for single-table LSH: probing T buckets
    multiplies candidate reads by ~T while recovering most of the
    recall a second hash table would buy, WITHOUT storing the corpus
    twice — at 100 TB the corpus is written once, partitioned by
    bucket, and multi-probe is purely a query-side fan-out over
    1 + n_flip partition keys.
    """
    assert 0 <= n_flip <= len(planes)
    projs = [
        _fold_sum(
            F.zip_with(
                _c(vec),
                _lit_doubles(plane),
                lambda x, cfg: x.cast("double") * cfg,
            )
        )
        for plane in planes
    ]
    bucket = F.lit(0)
    for j, p in enumerate(projs):
        bucket = bucket + F.when(p > 0, F.lit(1 << j)).otherwise(F.lit(0))
    # the struct carries the flip MASK (1 << j), not j: shiftleft()
    # takes a literal bit count, and 2^j is monotone in j so the
    # (margin, mask) sort order equals the oracle's (margin, j) order
    margins = F.array(
        *[
            F.struct(F.abs(p).alias("m"), F.lit(1 << j).alias("mask"))
            for j, p in enumerate(projs)
        ]
    )
    flips = F.slice(F.array_sort(margins), 1, n_flip)
    return F.concat(
        F.array(bucket),
        F.transform(flips, lambda f: bucket.bitwiseXOR(f["mask"])),
    )


def hyperplane_lsh_multiprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    num_planes: int = 8,
    n_flip: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """Multi-probe variant of ``hyperplane_lsh_topk``: each query
    scores the corpus vectors in its own bucket AND in its ``n_flip``
    lowest-margin single-bit-flip buckets. Candidates are a superset
    of the single-probe candidate set, so per-query top-k similarity
    dominates single-probe's (pinned by test). Same deterministic
    ranking contract as every retrieval path (_rank_topk)."""
    planes = hyperplanes(num_planes, 64)
    b = corpus.withColumn("_bucket", lsh_bucket(corpus_vec, planes)).withColumn(
        "_cn", l2_norm(corpus_vec)
    )
    # spread the scoring join off a compact corpus scan (same move as
    # every scoring pass in this module)
    b = pin_spread(b, "_bucket")
    qb = queries.withColumn(
        "_probe",
        F.explode(lsh_probe_buckets(query_vec, planes, n_flip)),
    ).withColumn("_qn", l2_norm(query_vec))
    scored = _maybe_exclude_self(
        F.broadcast(qb).join(b, qb["_probe"] == b["_bucket"]),
        query_id,
        corpus_id,
        exclude_self,
    ).select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            cosine_pre(query_vec, corpus_vec, F.col("_qn"), F.col("_cn")), 6
        ).alias("sim"),
    )
    return _rank_topk(scored, query_id, corpus_id, k)
