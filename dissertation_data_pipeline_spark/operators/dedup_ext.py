"""[EXT] Scalable deduplication operators (BASELINE.json north-star).

The reference deduplicates only on surrogate keys (SURVEY §2.5); a
training-data pipeline at 100 TB needs *content* dedup. This module
implements the standard family — exact, MinHash+LSH, SimHash, blocked
n-gram Jaccard — as pure DataFrame/array expressions (no Python UDFs:
hashing is md5 via JVM, set ops are higher-order array functions).

Portability-by-construction: every hash is derived from ``md5`` hex
strings, which DuckDB computes identically, so each operator has an
exact SQL oracle. (Spark's ``xxhash64``/``hash`` would be faster but
engine-private; md5's cost is still JVM-side and vectorizable, and at
scale the dominant cost is the shuffle, not the hash.)

Scale design:
- **Exact / token-set dedup**: one groupBy shuffle on a 128-bit digest —
  the minimum possible. Digest keys distribute uniformly (no skew).
- **MinHash LSH**: one md5 per shingle, ``num_hashes`` integer
  permutations of it (`(a*h+b) mod 2^31-1`); candidate generation is an
  explode (rows × bands) + self-join *within band buckets only* — the
  quadratic term is bounded by bucket size, the classic LSH trade.
- **SimHash**: 48-bit signature; ``max_hamming+1`` bands (pigeonhole ⇒
  recall-exact); band width sized to fight the bit bias of
  shared-vocabulary corpora; Hamming verified *before* the pair-dedup
  shuffle.
- **Blocked Jaccard**: inverted-index join (postings on
  (block, shingle)) — quadratic in posting-list length, never in block
  size; the operator refuses unblocked all-pairs by design.

Expression-reuse trap (measured): an expression subtree referenced N
times in one projection is evaluated N times — fold with the value as
a *lambda variable* (``transform`` then ``aggregate``) so md5 runs
once per element regardless of fan-out.

Generator/HOF trap (measured, 7-30x): higher-order functions
(``transform``/``aggregate``/``array_distinct``) run on the
interpreted expression path, and feeding one to ``explode`` (directly
or via projection collapse) re-evaluates it per *output* row. The
pair operators therefore never explode an HOF-built array: shingles
are built by ``posexplode(split(...))`` + window ``lead`` (pure
codegen), and signatures by plain groupBy aggregation over the
postings — which is also the right 100 TB shape (map-side partial
aggregation, no wide rows, skew-free posting keys).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.session import pin_spread


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _md5(col: Column) -> Column:
    return F.md5(col.cast("binary"))


def tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.lower(F.trim(_c(col).cast("string"))), r"\s+")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles; texts shorter than n words fall
    back to a single whole-text shingle."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.array_join(toks, " ")))
    )


def shingle_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Long-form distinct word-n-gram shingles: one (carry..., id,
    shingle) row per distinct shingle per document — semantically
    ``explode(word_shingles(text, n))`` but built entirely on the
    codegen path (see the generator/HOF trap in the module docstring):
    ``posexplode(split(...))`` then window ``lead`` assembles each
    n-gram; documents shorter than n words contribute their whole text
    as a single shingle, matching ``word_shingles``'s fallback.

    Documented deviation for NULL text: ``word_shingles`` yields a NULL
    array (an ``explode`` of it emits nothing; the column form carries
    NULL), while this long form emits ZERO rows for the document — the
    doc simply has no shingles and therefore no signature/postings.
    Both engines of every oracle pair agree on this (DuckDB's
    ``unnest(NULL)`` is also empty); content-less docs are dedup
    no-ops by design (see ``exact_dedup_groups``'s NULL rationale).
    """
    from pyspark.sql.window import Window

    carry = [F.col(c) for c in carry_cols]
    toks = tokens(text_col)
    # explicit-count repartition BY THE DOC ID before exploding: it
    # already satisfies the lead-window's clustering (so the window
    # plans no exchange of the much larger posting rows), and —
    # unlike the ENSURE_REQUIREMENTS exchange the window would insert
    # — REPARTITION_BY_NUM is exempt from AQE coalescing, which on a
    # byte-small doc table would serialize the tokenize/shingle work
    # onto one core
    nparts = df.sparkSession.sparkContext.defaultParallelism
    tp = df.repartition(nparts, F.col(id_col)).select(
        *carry,
        F.col(id_col).alias("_id"),
        F.size(toks).alias("_ntok"),
        F.posexplode(toks).alias("_pos", "_tok"),
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    leads = [F.col("_tok")] + [F.lead("_tok", k).over(w) for k in range(1, n)]
    grams = tp.select(
        *[F.col(c) for c in carry_cols],
        "_id",
        "_ntok",
        "_pos",
        F.concat_ws(" ", *leads).alias("_shingle"),
        leads[-1].alias("_last"),
    ).filter(
        # full n-grams, plus — for documents shorter than n words — the
        # whole text as a single shingle, emitted from position 0
        # (concat_ws skips the null leads, so the pos-0 row already IS
        # the whole-text fallback; no separate union leg, whose
        # differently-partitioned child would force the dedup below
        # back into a full exchange)
        F.col("_last").isNotNull()
        | ((F.col("_pos") == 0) & (F.col("_ntok") < n))
    ).select(*[F.col(c) for c in carry_cols], "_id", "_shingle")
    # the lead window leaves the rows hash-partitioned on _id, which
    # satisfies the (carry, _id, _shingle) clustering — this per-doc
    # dedup therefore plans as a partial+final aggregate with NO
    # exchange between them
    return grams.dropDuplicates([*carry_cols, "_id", "_shingle"])


# MinHash permutation family: h_i(x) = (a_i * x + b_i) mod P over a 31-bit
# prime field. One md5 per shingle (vs one per shingle PER permutation with
# salted-md5 minhash — a num_hashes-fold reduction in hash work, the dominant
# signature cost). Constants are fixed so the DuckDB oracle reproduces the
# signature bit-for-bit; a_i < 2^30 and x < 2^32 keep a*x < 2^62 — no int64
# overflow in either engine (DuckDB *errors* on overflow rather than wrapping).
MINHASH_PRIME = (1 << 31) - 1
MINHASH_COEFFS: list[tuple[int, int]] = [
    (387420489, 12190),
    (268435399, 94907),
    (536870909, 65537),
    (715827883, 40503),
    (999999937, 11213),
    (805306457, 77041),
    (402653189, 23981),
    (910092721, 59359),
    (645775807, 86243),
    (339991221, 30269),
    (173741827, 50021),
    (258280327, 70607),
]


def shingle_hash(s: Column) -> Column:
    """32-bit integer hash of a shingle: the first 8 hex digits of its
    md5 (portable — DuckDB parses the same digits positionally)."""
    return F.conv(F.substring(_md5(s), 1, 8), 16, 10).cast("long")


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays, as double."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-content dedup: md5 digest groupBy; emits one row per
    distinct content with the canonical (min) id and the copy count.
    One shuffle on a uniform 128-bit key — no skew at any scale.

    NULL text is NOT content: md5(NULL) is NULL and groupBy treats
    NULL keys as equal, which would merge every content-less document
    into one "duplicate" family and delete all but one. Each NULL-text
    row instead gets a per-row digest (``NULL:<id>``) — a singleton
    group that passes through dedup untouched."""
    digest = F.coalesce(
        _md5(_c(text_col)),
        F.concat(F.lit("NULL:"), F.col(id_col).cast("string")),
    )
    return (
        df.select(F.col(id_col), digest.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin a too-small-to-parallelize scan to full parallelism
    — now just :func:`session.spread_small_scan` (promoted there so
    plans can share it without importing this module's dep closure,
    and so the probe is planning-time stats, not a second physical
    planning of the subtree — r9 ADVICE + verdict item 4)."""
    from dissertation_data_pipeline_spark.session import spread_small_scan

    return spread_small_scan(df)


def tokenset_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Order-insensitive exact dedup: digest of the *sorted distinct
    token set* — catches shuffled/reordered copies that byte-exact
    dedup misses. The token sort/distinct runs on the interpreted HOF
    path, so the input is spread across cores first (2.7x at sf0.1)."""
    df = _spread(df)
    # NULL text: per-row singleton digest, same rationale as
    # exact_dedup_groups
    key = F.coalesce(
        _md5(F.array_join(F.array_sort(F.array_distinct(tokens(text_col))), " ")),
        F.concat(F.lit("NULL:"), F.col(id_col).cast("string")),
    )
    return (
        df.select(F.col(id_col), key.alias("tokenset_hash"))
        .groupBy("tokenset_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature_frame(
    post: DataFrame, *, num_hashes: int = 12
) -> DataFrame:
    """(_id, _shingle) postings -> one signature row per doc:
    (_id, _n shingle count, _s0.._s{k-1} minima). A plain groupBy —
    map-side partial aggregation does most of the min work before the
    shuffle; one md5-derived hash per posting, projected once."""
    coeffs = MINHASH_COEFFS[:num_hashes]
    assert len(coeffs) == num_hashes, "extend MINHASH_COEFFS for more hashes"
    hp = post.select("_id", shingle_hash(F.col("_shingle")).alias("_h"))
    return hp.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
                f"_s{i}"
            )
            for i, (a, b) in enumerate(coeffs)
        ],
    )


def minhash_band_entries(
    sig: DataFrame, *, bands: int, rows_per_band: int
) -> DataFrame:
    """Signature rows -> (_id, band_idx, band_key) — band keys from the
    signature columns, exploded as a plain-column array (never explode
    an HOF-built array; see the generator/HOF trap in the module
    docstring). This long form is also the *storable* LSH index layout:
    persist it bucketed by (band_idx, band_key) and incremental batches
    probe it without touching corpus text (``dedup_incremental``)."""
    return (
        sig.select(
            "_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            _md5(
                                F.concat_ws(
                                    "|",
                                    *[
                                        F.col(f"_s{b * rows_per_band + j}").cast(
                                            "string"
                                        )
                                        for j in range(rows_per_band)
                                    ],
                                )
                            ).alias("band_key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band"),
        ).select("_id", "band.band_idx", "band.band_key")
    )


def minhash_auto_banding(num_hashes: int, threshold: float) -> tuple[int, int]:
    """(bands, rows_per_band) for a target Jaccard threshold, from the
    LSH S-curve: a pair with Jaccard ``j`` becomes a candidate with
    probability ``1 - (1 - j^r)^b``, whose inflection ("crossover")
    sits at ``t* = (1/b)^(1/r)``.  Pairs above t* are caught with
    rapidly-rising probability, pairs below are increasingly ignored —
    so recall at the operator's threshold demands ``t* <= threshold``.
    Among the factorizations of ``num_hashes``, pick the LARGEST
    rows_per_band whose crossover stays at or below the threshold:
    longer band keys collide less (fewer false candidates to verify),
    so this is the cheapest banding that still recalls at the target.

    For the engine's default (num_hashes=12, threshold=0.5) this picks
    6 bands x 2 rows (t*=0.408) — measured pair recall 0.961 at sf1 on
    the fixed-block harness, vs 0.745 for the 4x3 scheme (t*=0.63,
    crossover ABOVE the threshold) that a hardcoded default shipped
    until round 8.  Falls back to (num_hashes, 1) — max recall, max
    candidates — when even single-row bands cross above the threshold.
    This is the MinHash analog of ``_auto_n_blocks``' planning-time
    banding pick on the SimHash side; it is pure arithmetic on the two
    call-site constants, so oracles mirror it by calling this SAME
    function while rendering their SQL."""
    assert num_hashes >= 1 and 0 < threshold <= 1
    for rows_per_band in range(num_hashes, 0, -1):
        if num_hashes % rows_per_band:
            continue
        bands = num_hashes // rows_per_band
        if (1.0 / bands) ** (1.0 / rows_per_band) <= threshold:
            return bands, rows_per_band
    return num_hashes, 1


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 12,
    bands: int | None = None,
    threshold: float = 0.5,
    shingle_words: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH, verified with exact
    shingle Jaccard >= ``threshold``.

    Plan shape (scale-critical, fully on the codegen path):
    1. ``shingle_postings`` builds long-form (id, shingle) rows;
    2. the signature is a plain groupBy: one md5-derived hash per
       posting (projected once — attribute reads are free, expression
       subtrees are not), ``num_hashes`` min-aggregates — map-side
       partial aggregation does most of the work before the shuffle;
    3. band keys from the signature columns, exploded (a plain-column
       array — never explode an HOF array), self-joined within band
       buckets: quadratic only inside a bucket, the classic LSH trade;
    4. verification is an inverted-index intersection count over the
       postings restricted to candidate pairs — |A∪B| falls out of
       per-doc shingle counts, no array materialization anywhere.

    Output: (id_a, id_b, jaccard) with id_a < id_b.

    ``bands=None`` (the default) derives the banding from the threshold
    via :func:`minhash_auto_banding`; pass an explicit count only to
    A/B the knob (the ``ext_dedup_pair_recall_*`` harness rows).
    """
    assert threshold > 0, "zero-overlap pairs are not representable"
    if bands is None:
        bands, rows_per_band = minhash_auto_banding(num_hashes, threshold)
    else:
        rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"
    coeffs = MINHASH_COEFFS[:num_hashes]
    assert len(coeffs) == num_hashes, "extend MINHASH_COEFFS for more hashes"

    # postings feed the signature AND both verification legs, and the
    # signature feeds banding AND the union-size lookup — Spark does
    # not reliably reuse exchanges across self-references, so without
    # checkpoints the posexplode+lead+distinct pipeline runs three
    # times (measured; same trap as simhash_signatures)
    post = shingle_postings(df, id_col, text_col, n=shingle_words).localCheckpoint()
    sig = minhash_signature_frame(post, num_hashes=num_hashes).localCheckpoint()

    # repartition by the band bucket: distributes candidate generation
    # across the cluster (a small single-file scan otherwise probes a
    # broadcast join on ONE partition) and co-locates the self-join
    band_entries = minhash_band_entries(
        sig, bands=bands, rows_per_band=rows_per_band
    ).transform(lambda d: pin_spread(d, "band_idx", "band_key"))
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )

    # Exact size-ratio prefilter BEFORE the posting-intersection join:
    # inter <= min(|A|,|B|) and union >= max(|A|,|B|), so j <= min/max —
    # any candidate whose smaller shingle set is under threshold*larger
    # cannot pass the final filter and is dropped on two cheap size
    # joins instead of exploding through the postings.  Purely an
    # optimization (the final jaccard >= threshold filter is unchanged,
    # so the oracle needs no mirror); it matters most under the
    # adaptive 6x2 banding, whose shorter band keys admit many
    # near-threshold candidates that this bound kills for free.
    # Join strategy is left to AQE on purpose: candidates sit behind a
    # distinct() shuffle stage, so AQE sizes them from RUNTIME stats
    # and broadcasts only when genuinely small (at sf10 the candidate
    # set is ~10 MB — a correct broadcast; at corpus scales where it
    # grows past the threshold AQE falls back to shuffle joins on its
    # own).  An earlier round pinned merge joins here after a driver
    # "Not enough memory to build and broadcast" in the bench harness —
    # that OOM was a harness leak (memory-sink temp views accumulating
    # driver heap across warmups; fixed in session.drop_blocks), and
    # the pinned SMJ cost 14-20 exchanges per plan vs <=6.
    sizes = sig.select("_id", "_n")
    candidates = (
        candidates.join(
            sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")),
            "id_b",
        )
        .filter(
            # epsilon slack: the FINAL filter compares round(j, 6) >=
            # threshold, which admits true jaccard down to t - 5e-7; the
            # size bound must not be tighter than the rounded filter or
            # a pair in [t-5e-7, t) with ~2M+ distinct shingles could be
            # dropped here yet kept by the oracle.  1e-6 covers the
            # rounding half-interval with margin and rejects nothing the
            # final filter would keep.
            F.least("_na", "_nb").cast("double")
            >= F.lit(threshold - 1e-6) * F.greatest("_na", "_nb").cast("double")
        )
    )
    pa = post.select(F.col("_id").alias("id_a"), "_shingle")
    pb = post.select(F.col("_id").alias("id_b"), "_shingle")
    inter = (
        candidates.join(pa, "id_a")
        .join(pb, ["id_b", "_shingle"])
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    union = F.col("_na") + F.col("_nb") - F.col("_inter")
    jac = F.round(F.col("_inter").cast("double") / union.cast("double"), 6)
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(col: Column | str, bits: int = 48) -> Column:
    """SimHash over the distinct token set (default 48-bit — wide
    enough to discriminate within a shared vocabulary, and still a
    positive int64 so band extraction needs no sign handling).

    Per token, bits come from the leading hex digits of ``md5(token)``
    (4 bits per digit). Each bit position accumulates +1/-1 across
    tokens; the signature bit is 1 where the sum is positive. Pure
    array expressions, md5-portable.

    The per-token digest is parsed ONCE into a ``bits``-bit integer by
    an inner ``transform`` (hex digit k of the md5 lands at bit
    ``bits-1-4k`` downward, so old-style "bit b of the hex string" is
    bit ``bits-1-b`` of the integer — signature values are identical
    to the digit-at-a-time formulation the oracle uses). The fold then
    advances all bit counters with shift/mask on a lambda-bound long —
    no string ops in the loop (48 substring+conv per token was ~half
    the pair-query runtime).
    """
    assert bits % 4 == 0, "bits must be whole hex digits"
    toks = F.array_distinct(tokens(col))
    vals = F.transform(
        toks, lambda t: F.conv(F.substring(_md5(t), 1, bits // 4), 16, 10).cast("long")
    )

    # single fold: all bit counters advanced together (one aggregate per
    # bit would re-evaluate the array per bit — a `bits`-fold blowup)
    def step(acc: Column, v: Column) -> Column:
        return F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(v, bits - 1 - b).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
                    for b in range(bits)
                ]
            ),
            lambda a, x: a + x,
        )

    counts = F.aggregate(vals, F.array_repeat(F.lit(0), bits), step)
    # assemble via one zip_with + fold so `counts` appears once in the
    # expression tree (48 separate references would re-run the fold 48x)
    weights = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    contrib = F.zip_with(
        counts, weights, lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(contrib, F.lit(0).cast("long"), lambda a, x: a + x)


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, bits: int = 48
) -> DataFrame:
    """Per-document SimHash as a plain aggregation over distinct-token
    postings — identical values to ``simhash()``, but safe to feed
    generators/joins (the fold-based column form must not reach an
    explode; see the generator/HOF trap in the module docstring).
    ``bits`` int sums with map-side partial aggregation; the final long
    is assembled from the count columns with plain arithmetic.
    Returns (_id, _sh)."""
    assert bits % 4 == 0, "bits must be whole hex digits"
    # ONE exchange total: hash-partition the raw documents by id (this
    # both spreads a narrow single-row-group scan across cores and
    # moves whole docs, not postings), then tokenize/dedup/aggregate
    # pipeline within partitions — HashPartitioning(_id) satisfies the
    # clustering required by both the (_id, _tok) dedup and the
    # groupBy(_id), so neither plans an exchange
    # explicit partition count: REPARTITION_BY_NUM is exempt from AQE
    # coalescing, which would otherwise fold this byte-small but
    # compute-heavy shuffle onto one core (measured: 1-partition post-
    # shuffle tokenization serialized the whole query)
    nparts = df.sparkSession.sparkContext.defaultParallelism
    tp = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
        .repartition(nparts, F.col("_id"))
        .select("_id", F.explode(tokens("_text")).alias("_tok"))
        .dropDuplicates(["_id", "_tok"])
    )
    tv = tp.select(
        "_id",
        F.conv(F.substring(_md5(F.col("_tok")), 1, bits // 4), 16, 10)
        .cast("long")
        .alias("_v"),
    )
    # The 48 bit-counter sums and the 48-term signature assembly are
    # built as SQL strings parsed server-side in ~50 py4j calls — the
    # Column-composition form was ~700 round trips and dominated the
    # QUERY (1.47 s of driver plan-build vs 0.38 s of execution,
    # measured r10; same _lit_doubles lever as the r9 ANN fix).  The
    # parsed expressions are the identical Catalyst nodes: shiftright
    # on the long, AND 1, CAST INT, *2-1, SUM — integer arithmetic,
    # bit-identical signatures (A/B-verified zero mismatches).
    counts = tv.groupBy("_id").agg(
        *[
            F.expr(
                f"sum(CAST(shiftright(_v, {bits - 1 - b}) & 1 AS INT) * 2 - 1)"
            ).alias(f"_c{b}")
            for b in range(bits)
        ]
    )
    sig_sql = " + ".join(
        f"(CASE WHEN _c{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return counts.select("_id", F.expr(sig_sql).alias("_sh"))


#: Corpus size (document rows) above which the C(6,3) multi-block
#: scheme beats the classic (d+1)-block one.  The quadratic
#: random-collision term the wider keys suppress needs a big corpus to
#: matter: measured (warm, interleaved reps) 5k docs: 2.7 s classic vs
#: 3.2 s multi-block; 50k docs: 27% faster multi-block; 500k docs:
#: 70.1 -> 10.5 s.  Crossover sits between 5k and 50k; 20k splits it.
_MULTIBLOCK_MIN_ROWS = 20_000

#: Bytes-per-document divisor when the input plan exposes only
#: sizeInBytes (a parquet scan: exact matched-file bytes).  Measured
#: ~119 B/doc compressed on the documents table; 100 keeps the rows
#: estimate conservative-high, and the crossover band above is a full
#: decade wide, so 2-3x slop cannot cross it from the wrong side.
_APPROX_DOC_BYTES = 100


def _auto_n_blocks(df, max_hamming: int, bits: int) -> int:
    """Pick the banding scheme by corpus size (recall-exact either
    way, so this changes cost only, never results): the classic
    ``d+1``-block scheme below ``_MULTIBLOCK_MIN_ROWS`` input rows,
    the 6-block/C(6,3)-table scheme at/above.

    The size probe is planning-time Catalyst statistics — zero jobs,
    zero actions (an earlier version ran ``count()`` on the signature
    checkpoint; that extra ~0.2 s sync is pure overhead at bench
    scale and the decision never needed exactness).  ``rowCount`` when
    the plan provides it (Range, CBO), else ``sizeInBytes`` (exact
    file bytes for a parquet scan) over ``_APPROX_DOC_BYTES``.  Plans
    whose stats are unknown report Long.Max and pick the multi-block
    scheme — the scale-safe direction, identical results."""
    def _smallest_divisor_block_count() -> int:
        # _signature_pairs needs m | bits and m > max_hamming; the
        # classic scheme's m = d+1 satisfies this for the historical
        # (48, 3) call sites, but tau-derived radii (simhash_hamming_for
        # -> d=6) land between divisors — take the next one up (more
        # blocks = shorter per-block keys but MORE tables keyed on
        # m-d blocks; still recall-exact by pigeonhole)
        for m in range(max_hamming + 1, bits + 1):
            if bits % m == 0:
                return m
        return bits

    if bits % 6 != 0 or 6 <= max_hamming:
        return _smallest_divisor_block_count()
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        est_rows = int(str(rc.get()))
    else:
        est_rows = int(str(stats.sizeInBytes())) // _APPROX_DOC_BYTES
    return 6 if est_rows >= _MULTIBLOCK_MIN_ROWS else _smallest_divisor_block_count()


def simhash_hamming_for(
    bits: int, tau: float, *, target_recall: float = 0.9
) -> int:
    """Hamming cutoff for a target token-set Jaccard threshold — the
    SimHash analog of ``minhash_auto_banding`` (round-9 recall fix).

    A fixed cutoff silently sets the detector's similarity working
    point: the fixed-block harness measured ``max_hamming=3`` at 48
    bits catching only 0.61 of Jaccard>=0.95 pairs
    (``ext_simhash_pair_recall_h3``), because a pair AT the threshold
    sits near the middle of its Hamming distribution.  Derivation:
    token sets at Jaccard ``tau`` (comparable sizes) have cosine
    ``2*tau/(1+tau)``; each SimHash bit flips independently with
    probability ``theta/pi`` (Charikar 2002), so the pair's Hamming
    distance is Binomial(bits, theta/pi).  The cutoff is the normal
    upper quantile ``mu + z*sigma`` at the target recall — pairs at
    the threshold are caught with ~``target_recall`` probability, and
    pairs above it (smaller theta) with strictly more.  For (48,
    0.95, 0.9): mu=3.46, sigma=1.80, z=1.2816 -> cutoff 6, measured
    block recall 0.99 (``ext_simhash_pair_recall``).  Pure arithmetic
    on call-site constants, so oracles mirror it by calling this SAME
    function while rendering their SQL."""
    import math
    from statistics import NormalDist

    assert bits >= 1 and 0 < tau <= 1 and 0 < target_recall < 1
    theta = math.acos(min(1.0, 2.0 * tau / (1.0 + tau)))
    p = theta / math.pi
    mu = bits * p
    sigma = math.sqrt(bits * p * (1.0 - p))
    z = NormalDist().inv_cdf(target_recall)
    return max(1, math.ceil(mu + z * sigma))


def _signature_pairs(
    base, max_hamming: int, bits: int, n_blocks: int | None = None
) -> DataFrame:
    """Distinct near-dup SIGNATURE pairs (sh_a < sh_b) by pigeonhole
    banding over the distinct signatures of ``base`` (_id, _sh).

    Recall-exact for any ``n_blocks > max_hamming`` (Manku, Jain &
    Das Sarma 2007): split the signature into ``m = n_blocks``
    blocks and key each of the ``C(m, m-d)`` tables on a distinct
    ``(m-d)``-block subset. A pair within Hamming radius ``d``
    differs in at most ``d`` blocks, so at least ``m-d`` blocks
    agree — some table's whole key matches. ``m = d+1`` (the
    default) is the classic one-block-key scheme; larger ``m``
    trades more table rows per signature (C(m, m-d) vs d+1) for
    exponentially more selective keys ((m-d)*width bits vs width),
    which is what kills the quadratic random-collision term as the
    corpus grows: at 48 bits / d=3, moving from 4x12-bit keys to
    C(6,3)=20x24-bit keys costs 5x the (tiny) band rows and divides
    expected random band collisions by 2^12 / 5 ~ 800. Measured at
    sf10 (500k docs): 70.1 -> 10.5 s; sf1 27% faster; sf0.1 within
    noise. Every table key packs (table_idx, block values...) into
    ONE long, so the candidate join shuffles a single int64 key.
    """
    m = n_blocks if n_blocks is not None else max_hamming + 1
    assert m > max_hamming, "need more blocks than the Hamming radius"
    assert bits % m == 0, "block count must divide signature width"
    width = bits // m
    mask = (1 << width) - 1
    keep = m - max_hamming
    from itertools import combinations

    combos = list(combinations(range(m), keep))
    assert keep * width + max(len(combos) - 1, 1).bit_length() < 63

    def packed_key(idx: int, blocks: tuple[int, ...]) -> Column:
        key = F.lit(idx).cast("long")
        for b in blocks:
            key = F.shiftleft(key, width) + (
                F.shiftright(F.col("_sh"), width * b).bitwiseAND(F.lit(mask))
            )
        return key

    sigs = base.select("_sh").distinct()
    sbands = sigs.select(
        "_sh",
        F.explode(
            F.array(
                *[
                    packed_key(i, blocks)
                    for i, blocks in enumerate(combos)
                ]
            )
        ).alias("band_key"),
    ).transform(lambda d: pin_spread(d, "band_key"))
    return (
        sbands.selectExpr("band_key", "_sh as sh_a")
        .join(
            sbands.selectExpr("band_key", "_sh as sh_b"),
            ["band_key"],
        )
        .filter(F.col("sh_a") < F.col("sh_b"))
        .filter(F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= max_hamming)
        .select("sh_a", "sh_b")
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    bits: int = 48,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash banding, verified by Hamming distance
    <= ``max_hamming``.

    Banding is **recall-exact by pigeonhole**: ``max_hamming + 1``
    bands means any pair within the radius agrees on at least one whole
    band, so the verified output is identical to a brute-force O(n^2)
    Hamming join — which is exactly what the oracle computes.

    Scale notes (measured on the homogeneous-vocabulary corpus):
    - SimHash bits are *biased* when documents share a vocabulary, so
      band buckets skew hard. Wider bands (48/4 = 12 bits here, vs
      8-bit bytes) cut the largest bucket ~16x; AQE skew-join handles
      the residue.
    - **Signature contraction**: Hamming distance depends only on
      signatures, so the band join runs over the *distinct signatures*
      and member pairs are expanded afterwards. A k-document duplicate
      family contributes 1 band row instead of k, so skew-bucket
      candidate counts shrink with the square of the duplication
      factor, and the expansion join is output-bound — every row it
      produces is a true pair. This also eliminates the final
      ``distinct`` entirely: distinct signature pairs are emitted once
      (not once per agreeing band), and same-signature pairs are
      disjoint from cross-signature ones by construction.
    """
    # checkpoint: feeds the band join and both expansion legs (Spark
    # re-evaluates the token-posting aggregation per consumer otherwise)
    base = simhash_signatures(df, id_col, text_col, bits=bits).localCheckpoint()
    if n_blocks is None:
        n_blocks = _auto_n_blocks(df, max_hamming, bits)
    sig_pairs = _signature_pairs(base, max_hamming, bits, n_blocks)
    ma = base.select(F.col("_id").alias("_ida"), F.col("_sh").alias("sh_a"))
    mb = base.select(F.col("_id").alias("_idb"), F.col("_sh").alias("sh_b"))
    cross = (
        sig_pairs.join(ma, "sh_a")
        .join(mb, "sh_b")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("int")
            .alias("hamming"),
        )
    )
    x, y = base.alias("x"), base.alias("y")
    same = (
        x.join(
            y,
            (F.col("x._sh") == F.col("y._sh")) & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.union(same)


def simhash_component_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    bits: int = 48,
    n_blocks: int | None = None,
) -> DataFrame:
    """A *reduced* edge list whose connected components are provably
    identical to ``connected_components(simhash_pairs(df))`` — built
    for cluster resolution, where materializing every near-dup pair is
    quadratic waste.

    Hamming distance depends only on signatures, so signature-equal
    documents are interchangeable: contract each signature group to its
    min-id representative, band-join only the **distinct signatures**
    (a k-document duplicate family collapses from k band rows to 1),
    then attach members to their representative by a star edge.

    Exactness: every emitted edge is a true near-dup pair (member~rep
    has Hamming 0; rep~rep pairs are Hamming-verified), so reduced
    components refine the true ones; conversely any true pair (x, y)
    is connected through rep(x)~rep(y) (same group, or a verified
    distinct-signature pair), so the components are equal. Groups that
    would contribute no pair at all (size 1, no partner signature) are
    excluded, preserving the "nodes appearing in >= 1 pair" contract.

    Edge count is linear (n_members + n_signature_pairs) versus the
    pair list's sum of quadratic clique terms — at sf0.1 this is ~9k
    edges instead of ~425k, and at 100 TB it is the difference between
    an edge list proportional to the corpus and one proportional to
    the square of the duplication factor.
    """
    # The signature aggregation is the expensive stage and feeds every
    # consumer below; Spark does not reliably reuse exchanges across
    # self-references, so checkpoint the two tiny contracted tables
    # (two longs per doc / per signature) — one pass over the corpus,
    # then all graph construction runs on contracted data.
    base = simhash_signatures(df, id_col, text_col, bits=bits).localCheckpoint()
    if n_blocks is None:
        n_blocks = _auto_n_blocks(df, max_hamming, bits)
    groups = (
        base.groupBy("_sh")
        .agg(F.min("_id").alias("_gid"), F.count(F.lit(1)).alias("_gsize"))
        .localCheckpoint()
    )
    ga = groups.select(F.col("_sh").alias("sh_a"), F.col("_gid").alias("_gida"))
    gb = groups.select(F.col("_sh").alias("sh_b"), F.col("_gid").alias("_gidb"))
    rep_pairs = (
        _signature_pairs(base, max_hamming, bits, n_blocks)
        .join(ga, "sh_a")
        .join(gb, "sh_b")
        .select(
            F.least("_gida", "_gidb").alias("id_a"),
            F.greatest("_gida", "_gidb").alias("id_b"),
        )
    )
    paired_gids = (
        rep_pairs.select(F.col("id_a").alias("_gid"))
        .union(rep_pairs.select(F.col("id_b").alias("_gid")))
        .distinct()
    )
    qualifying = (
        groups.filter(F.col("_gsize") > 1)
        .select("_sh", "_gid")
        .union(groups.join(paired_gids, "_gid", "left_semi").select("_sh", "_gid"))
        .distinct()
    )
    member_edges = (
        base.join(qualifying, "_sh")
        .filter(F.col("_id") != F.col("_gid"))
        .select(F.col("_id").alias("id_a"), F.col("_gid").alias("id_b"))
    )
    return rep_pairs.union(member_edges)


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard
# ---------------------------------------------------------------------------

def _blocked_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    *,
    ngram_words: int,
    max_df: int | None = None,
) -> DataFrame:
    """Shared inverted-index stage of the blocked pair operators:
    ``(block..., id_a, id_b, _inter, _na, _nb)`` for every in-block
    pair sharing >= 1 distinct word-n-gram shingle.

    Postings are checkpointed once (they feed the size lookup and BOTH
    self-join legs; self-joins do not reuse exchanges) and
    repartitioned on (block, shingle) so posting lists co-locate and
    the quadratic term is bounded by posting-list length, never block
    size. Jaccard and containment are one extra division each on this
    frame.

    ``max_df`` is the STOP-SHINGLE CAP — the 100 TB guard: a shingle
    occurring in more than ``max_df`` documents of a block (boilerplate
    headers, license banners, "all rights reserved") contributes a
    posting list whose self-join is df^2 rows while carrying no
    discriminative signal. With the cap, such shingles are dropped
    from the postings BEFORE sizes and intersections, so similarity is
    computed over the capped shingle universe on BOTH sides of every
    ratio (set sizes shrink consistently with intersections — the
    standard stop-word treatment, not a biased intersection trim).
    Pair counts become bounded by sum(min(df, max_df)^2) regardless of
    how pathological the corpus is. Dropped shingles are observable
    via :func:`stop_shingle_report` — the cap is never silent.
    """
    from pyspark.sql.window import Window

    post = shingle_postings(
        df, id_col, text_col, n=ngram_words, carry_cols=block_cols
    )
    # co-locate BEFORE the optional df-count window: the window's
    # clustering requirement is exactly this hash partitioning, so the
    # cap adds a sort but never a second Exchange on the posting rows
    post = pin_spread(post, *block_cols, "_shingle")
    if max_df is not None:
        wdf = Window.partitionBy(*block_cols, "_shingle")
        post = (
            post.withColumn("_df", F.count(F.lit(1)).over(wdf))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    # checkpoint AFTER the spread (and cap): the checkpoint feeds the
    # size lookup and BOTH self-join legs, and self-joins do not reuse
    # exchanges — checkpointing the raw postings (the old placement)
    # left each leg to re-run the (block, shingle) repartition and the
    # df-cap window independently (measured at sf0.1: two identical
    # 10-17 s stages re-reading the checkpoint).  Materializing the
    # final, already-partitioned, already-capped form runs that work
    # once, stores the SMALLER post-cap postings, and preserves the
    # hash partitioning both legs need.
    post = post.localCheckpoint()
    sizes = post.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    postings = post
    a, b = postings.alias("a"), postings.alias("b")
    cond = (F.col("a._shingle") == F.col("b._shingle")) & (
        F.col("a._id") < F.col("b._id")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (
        a.join(b, cond)
        .groupBy(
            *[F.col(f"a.{c}").alias(c) for c in block_cols],
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    # ids are globally unique, so the shingle-set sizes attach by id alone
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def stop_shingle_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    *,
    ngram_words: int = 3,
    max_df: int,
) -> DataFrame:
    """The non-silent half of the stop-shingle cap: which shingles a
    ``max_df`` cap drops per block and how much posting mass goes with
    them — ``(block..., n_stop_shingles, dropped_postings,
    total_postings, dropped_frac)``. Run (and log) this beside any
    capped :func:`blocked_jaccard_pairs`/:func:`containment_pairs` so
    a coverage bound is recorded, never assumed."""
    post = shingle_postings(
        df, id_col, text_col, n=ngram_words, carry_cols=block_cols
    )
    dfreq = post.groupBy(*block_cols, "_shingle").agg(
        F.count(F.lit(1)).alias("_df")
    )
    dropped = F.when(F.col("_df") > max_df, F.col("_df")).otherwise(F.lit(0))
    return dfreq.groupBy(*block_cols).agg(
        F.sum((F.col("_df") > max_df).cast("long")).alias("n_stop_shingles"),
        F.sum(dropped).alias("dropped_postings"),
        F.sum("_df").alias("total_postings"),
        F.round(
            F.sum(dropped).cast("double") / F.sum("_df").cast("double"), 6
        ).alias("dropped_frac"),
    )


def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    *,
    ngram_words: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard for all pairs *within each block*,
    computed by **inverted index** rather than a block-quadratic
    self-join with array intersections.

    Plan shape: explode each doc's distinct shingle set to
    (block, shingle, id) postings; self-join postings on
    (block, shingle) — quadratic only in per-shingle posting-list
    length, not block size; groupBy pair counts the intersection;
    the union size is |A| + |B| - |A∩B| from per-doc shingle counts.
    Any pair with jaccard >= threshold > 0 shares at least one
    shingle, so the output is identical to the all-pairs form (and
    the oracle keeps the straightforward quadratic formulation).

    Blocking keys (language, source, LSH bucket, ...) still bound the
    candidate space and are part of the output contract; the operator
    intentionally requires them. ``max_df`` additionally caps
    pathological posting lists (the stop-shingle guard a 100 TB corpus
    needs — see ``_blocked_intersections``); similarity is then over
    the capped shingle universe, consistently on both sides of the
    ratio.
    """
    assert block_cols, "blocked_jaccard_pairs requires blocking columns"
    assert threshold > 0, "zero-overlap pairs are not representable"
    out = _blocked_intersections(
        df, id_col, text_col, block_cols, ngram_words=ngram_words,
        max_df=max_df,
    )
    union = F.col("_na") + F.col("_nb") - F.col("_inter")
    jac = F.round(F.col("_inter").cast("double") / union.cast("double"), 6)
    return (
        out.select(*block_cols, "id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    *,
    ngram_words: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment pairs within blocks: for each
    candidate pair, ``containment_a = |A∩B| / |A|`` (the fraction of
    A's distinct shingles that also occur in B) and symmetrically
    ``containment_b``. Emitted when either direction reaches
    ``threshold``.

    Jaccard misses subset relationships — a paragraph quoted whole
    inside a much longer page has tiny Jaccard but containment ≈ 1
    from the quote's side. Containment is the signal the dedup
    literature uses for doc-inside-doc / quote / boilerplate-envelope
    detection (Broder's original resemblance/containment pairing).

    Plan shape is identical to ``blocked_jaccard_pairs`` (inverted
    index over (block, shingle) postings — quadratic only in
    posting-list length), and both sides' set sizes come from per-doc
    shingle counts, so the containment divisions are two extra codegen
    expressions on the same aggregate, not a new pass.
    """
    assert block_cols, "containment_pairs requires blocking columns"
    assert threshold > 0, "zero-overlap pairs are not representable"
    out = _blocked_intersections(
        df, id_col, text_col, block_cols, ngram_words=ngram_words,
        max_df=max_df,
    )
    ca = F.round(F.col("_inter").cast("double") / F.col("_na").cast("double"), 6)
    cb = F.round(F.col("_inter").cast("double") / F.col("_nb").cast("double"), 6)
    return (
        out.select(
            *block_cols,
            "id_a",
            "id_b",
            ca.alias("containment_a"),
            cb.alias("containment_b"),
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
    )


#: winnowing position encoding: 20 bits of position packed under the
#: 32-bit gram hash so ONE integer min realizes (min value, rightmost
#: position) — documents must stay under 2^20 k-grams per row
WINNOW_POS_BITS = 20
WINNOW_POS_MASK = (1 << WINNOW_POS_BITS) - 1


def winnowing_fingerprints(
    col: Column | str, *, k: int = 5, w: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): hash every character ``k``-gram, slide
    a window of ``w`` consecutive hashes, record the minimum of each
    window (rightmost position on ties), and keep the distinct
    (position, hash) selections. Guarantees a fingerprint in every
    ``w``-window, with expected density 2/(w+1) — the standard
    position-aware local fingerprinting for plagiarism / near-dup
    evidence (vs SimHash/MinHash which lose position entirely).

    Returns ONE struct column (``n_grams``, ``n_fingerprints``,
    ``fp_digest``) — the digest is md5 over the sorted distinct
    "pos:hash" selections, so two docs share it iff their fingerprint
    sets agree. Alias the struct into its own projection and
    unpack fields in a SECOND select: the field reads are then free
    attribute accesses, and CollapseProject leaves the two projections
    apart (the struct is referenced three times), so the fingerprint
    pipeline runs once per row, not once per output column.

    Implementation: one packed-integer array per document —
    ``hash * 2^20 + (2^20-1-pos)`` — so the per-window rightmost-argmin
    is a single ``array_min`` over a slice (no struct folds), and the
    whole computation is two nested HOF passes over arrays that are
    **lambda-bound once** (see the expression-reuse trap in the module
    docstring). Per-doc work is O(grams × w); embarrassingly parallel,
    no shuffle at any scale. At 100 TB the long-form variant (posexplode
    positions + frame-bounded window min, all codegen) is the drop-in
    upgrade — same selections, same digest.
    """
    def _select(ks: Column) -> Column:
        """Build the full output struct from the bound keys array —
        ``ks`` is a lambda variable, so every reference is free."""
        g = F.size(ks)
        wlen = F.least(F.lit(w), g)
        n_windows = F.greatest(g - (w - 1), F.lit(1))
        mins = F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(ks, j, wlen)),
        )
        # sorted-distinct selections: the digest must be canonical, and
        # engines disagree on whether distinct preserves encounter order
        # (DuckDB's list_distinct does not) — a sorted set is the same
        # fingerprint SET with an order both engines produce identically
        fps = F.array_sort(
            F.array_distinct(
                F.transform(
                    mins,
                    lambda mk: F.concat_ws(
                        ":",
                        (
                            F.lit(WINNOW_POS_MASK)
                            - mk.bitwiseAND(F.lit(WINNOW_POS_MASK))
                        ).cast("string"),
                        F.shiftright(mk, WINNOW_POS_BITS).cast("string"),
                    ),
                )
            )
        )
        empty = g == F.lit(0)
        # fps appears twice (size + join) — both re-walk the integer
        # window mins, neither re-hashes; the md5 stage lives in ks
        return F.struct(
            g.cast("long").alias("n_grams"),
            F.when(empty, F.lit(0))
            .otherwise(F.size(fps))
            .cast("long")
            .alias("n_fingerprints"),
            F.when(empty, F.md5(F.lit("")))
            .otherwise(F.md5(F.array_join(fps, "|")))
            .alias("fp_digest"),
        )

    def _compute(ss: Column) -> Column:
        n_grams = F.greatest(F.length(ss) - (k - 1), F.lit(0))
        # enforce the documented packing limit: at positions beyond
        # POSMASK, (POSMASK - i) goes negative and borrows into the
        # hash field — silently corrupt fingerprints. Fail loudly.
        n_grams = F.when(
            n_grams <= WINNOW_POS_MASK, n_grams
        ).otherwise(
            F.raise_error(
                F.lit(
                    "winnowing_fingerprints: document exceeds "
                    f"{WINNOW_POS_MASK} k-grams (the {WINNOW_POS_BITS}"
                    "-bit position packing limit); chunk it first"
                )
            ).cast("int")
        )
        # packed keys: hash(gram at 0-based pos i)*2^POS + (POSMASK - i);
        # the when-guard keeps the descending sequence(0, -1) an empty
        # doc would produce from ever being evaluated
        keys = F.when(
            n_grams > 0,
            F.transform(
                F.sequence(F.lit(0), n_grams - 1),
                lambda i: (
                    F.conv(
                        F.substring(_md5(F.substring(ss, i + 1, k)), 1, 8), 16, 10
                    ).cast("long")
                    * F.lit(1 << WINNOW_POS_BITS)
                    + (F.lit(WINNOW_POS_MASK) - i)
                ),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
        # bind the keys array ONCE (transform over a 1-element wrapper);
        # referencing `keys` from each window slice directly would re-run
        # the md5 pipeline per window
        return F.transform(F.array(keys), _select).getItem(0)

    # bind the normalized text once as well — substring(ss, ...) inside
    # the per-gram lambda must read a lambda variable, not re-normalize
    # the whole document per gram
    raw = F.lower(F.trim(_c(col).cast("string")))
    return F.transform(F.array(raw), _compute).getItem(0)


def duplicated_shingle_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
) -> DataFrame:
    """Cross-document duplicated-n-gram diagnostic (the corpus-level
    twin of Gopher's within-doc repetition filters; RefinedWeb prunes
    on exactly this signal): for each document, the fraction of its
    *distinct* word-n-gram shingles that also occur in at least one
    other document. High ``dup_frac`` marks boilerplate/template docs
    that survive exact dedup.

    Plan: the shingle long form (codegen, no HOF explode) feeds a
    document-frequency hash aggregate (map-side combine on the shingle
    key), joined back to the postings and re-aggregated per doc — two
    shuffles total, both on high-cardinality keys, no pairwise work at
    all. At 100 TB this is strictly cheaper than any pair join and is
    the right first-pass filter before LSH.
    """
    post = shingle_postings(df, id_col, text_col, n=n).localCheckpoint(
        eager=False
    )
    dfreq = post.groupBy("_shingle").agg(F.count(F.lit(1)).alias("_df"))
    return (
        post.join(dfreq, "_shingle")
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("_df") > 1, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_dup").cast("long").alias("n_dup"),
            F.round(
                F.col("n_dup").cast("double") / F.col("n_shingles"), 6
            ).alias("dup_frac"),
        )
    )


def repeated_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    gram_chars: int = 15,
    min_span_chars: int = 30,
) -> DataFrame:
    """Maximal repeated-substring spans — the scalable char-gram
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    removes every substring >= 50 chars occurring twice in the corpus).

    A position is *duplicated* when its ``gram_chars``-gram occurs more
    than once in the corpus (any document, including elsewhere in the
    same one). Maximal runs of consecutive duplicated positions merge
    into spans (gaps-and-islands: ``pos - row_number`` is constant
    exactly on step-1 runs); spans shorter than ``min_span_chars`` are
    dropped. Approximation vs a true suffix array: adjacent duplicated
    grams may match *different* sources, so a span certifies "every
    window of it is duplicated somewhere", not one contiguous match —
    the standard trade for making this a groupBy instead of a global
    suffix sort.

    Plan shape: positions long-form (codegen substring over an exploded
    sequence), gram-frequency hash aggregate (map-side combine), join
    back on the gram key (aggregate side is one row per key — viral
    boilerplate grams cannot skew the join), one per-doc window for run
    grouping, one groupBy for span extents. No pairwise work anywhere —
    at 100 TB this is shuffle-bound on (gram) and (doc) keys only.

    Returns (id, span_start, span_end, span_chars) with 1-based
    inclusive character offsets.
    """
    from pyspark.sql.window import Window

    nparts = df.sparkSession.sparkContext.defaultParallelism
    s = F.lower(F.trim(_c(text_col).cast("string")))
    # repartition before the explode for the same two reasons as
    # shingle_postings: spread a narrow scan, and pre-satisfy the
    # per-doc window's clustering
    posts = (
        df.select(F.col(id_col).alias("_id"), s.alias("_s"))
        .repartition(nparts, F.col("_id"))
        .select(
            "_id",
            # when-guard: a doc shorter than gram_chars would hand
            # sequence() a stop below its start, which generates a
            # DESCENDING [1, 0] — not an empty list
            F.explode(
                F.when(
                    F.length("_s") >= gram_chars,
                    F.sequence(
                        F.lit(1), F.length("_s") - (gram_chars - 1)
                    ),
                ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
            ).alias("_pos"),
            "_s",
        )
        # the gram itself is the grouping key: equality on the raw
        # 15-char substring is exact (md5 would only approximate it),
        # skips ~n_chars md5 computations per doc, and shuffles fewer
        # bytes (15-char gram vs 32-char hex digest)
        .select(
            "_id",
            "_pos",
            F.substring(F.col("_s"), F.col("_pos"), gram_chars).alias("_g"),
        )
    )
    freq = posts.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
    dup = (
        posts.join(freq.filter(F.col("_n") > 1), "_g", "left_semi")
        .select("_id", "_pos")
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    runs = dup.withColumn("_grp", F.col("_pos") - F.row_number().over(w))
    return (
        runs.groupBy("_id", "_grp")
        .agg(F.min("_pos").alias("span_start"), F.max("_pos").alias("_last"))
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            (F.col("_last") + (gram_chars - 1)).alias("span_end"),
            (F.col("_last") + (gram_chars - 1) - F.col("span_start") + 1).alias(
                "span_chars"
            ),
        )
        .filter(F.col("span_chars") >= min_span_chars)
    )
