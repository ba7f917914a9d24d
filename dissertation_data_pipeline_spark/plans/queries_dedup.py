"""[EXT] dedup queries over the documents table, with DuckDB oracles:
near-duplicate detection (MinHash, SimHash, Jaccard), curation
pipelines, chunk-level boilerplate removal, entity resolution,
containment pairs, winnowing and repeated-substring spans.

Every hash in these operators is md5-derived (see operators.dedup_ext),
so the oracle reproduces signatures, bands, candidates, and verified
pairs *exactly* — not just row counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators import dedup_ext as dx
from dissertation_data_pipeline_spark.plans.registry import register
from dissertation_data_pipeline_spark.tables import load_table

# DuckDB rendering of operators.dedup_ext.shingle_hash: positional parse of
# the first 8 hex digits of md5 (DuckDB has no hex→int cast that round-trips
# through BIGINT portably).  Explicit unrolled arithmetic — a list literal
# inside a lambda is rebuilt per element in DuckDB (O(n^2)).
_HEXVAL = " + ".join(
    f"(strpos('0123456789abcdef', md5(s)[{k}:{k}]) - 1) * {16 ** (8 - k)}"
    for k in range(1, 9)
)

# the 12-permutation signature as an explicit SQL list literal, constants
# inlined from operators.dedup_ext.MINHASH_COEFFS
_SIG_LIST = ", ".join(
    f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {dx.MINHASH_PRIME}))"
    for a, b in dx.MINHASH_COEFFS
)

# shared oracle CTEs: tokens + word-3-gram shingle sets
#: Template for the shared shingling CTE.  ``{src}`` is a relation
#: expression (table name or parenthesized subquery) — parameterized
#: rather than post-hoc string-replaced so the recall variant below
#: stays correct if this CTE ever gains a second ``FROM documents``
#: reference or a WHERE clause (ADVICE r5).
_SHINGLE_CTE_TMPL = r"""
  toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
    FROM {src}
  ),
  sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+2], ' '))
             ELSE [array_to_string(t, ' ')] END) AS shingles
    FROM toks
  )
"""

_SHINGLE_CTE = _SHINGLE_CTE_TMPL.format(src="documents")


def _band_cte(bands: int, rows: int) -> str:
    """The banding CTE body for a (bands x rows) split of the 12-hash
    signature list ``sig`` — band keys exactly as the engine's
    ``minhash_band_entries`` computes them (md5 of the '|'-joined
    row values).  DuckDB list slicing is 1-based inclusive."""
    idxs = ", ".join(str(i) for i in range(bands))
    return f"""
      SELECT doc_id, band_idx,
             md5(array_to_string(
               sig[band_idx*{rows}+1 : band_idx*{rows}+{rows}], '|'))
               AS band_key
      FROM sig, (SELECT unnest([{idxs}]) AS band_idx)
    """


#: Fixed block for the sf-invariant curation/CC oracle row — same
#: protocol as _RECALL_BLOCK below (constant oracle cost at any sf).
_CURATION_BLOCK = 500

#: The production banding: derived from (num_hashes=12, threshold=0.5)
#: by the SAME S-curve rule the engine applies at the default call —
#: the oracles below render their band CTEs from these values, so an
#: engine/oracle banding drift is structurally impossible.
_AUTO_BANDS, _AUTO_ROWS = dx.minhash_auto_banding(12, 0.5)


@register(
    "ext_dedup_exact",
    """
    SELECT coalesce(md5(text), 'NULL:' || doc_id) AS content_hash,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def ext_dedup_exact(spark, sf_dir):
    """[EXT] exact-content dedup: md5 groupBy, canonical id = min id.
    Single shuffle on a uniform digest key."""
    return dx.exact_dedup_groups(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "ext_dedup_tokenset",
    r"""
    SELECT tokenset_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
    FROM (
      SELECT doc_id,
             coalesce(md5(array_to_string(list_sort(list_distinct(
               string_split_regex(lower(trim(text)), '\s+'))), ' ')),
               'NULL:' || doc_id) AS tokenset_hash
      FROM documents
    ) GROUP BY 1
    """,
)
def ext_dedup_tokenset(spark, sf_dir):
    """[EXT] order-insensitive exact dedup: digest of the sorted distinct
    token set — catches the generator's shuffled near-copies."""
    return dx.tokenset_dedup_groups(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "ext_minhash_lsh_pairs",
    f"""
    WITH {_SHINGLE_CTE},
    hv AS (
      SELECT doc_id, shingles,
             list_transform(shingles, s -> {_HEXVAL}) AS hs
      FROM sh
    ),
    sig AS (
      SELECT doc_id, shingles, [{_SIG_LIST}] AS sig
      FROM hv
    ),
    bands AS ({_band_cte(_AUTO_BANDS, _AUTO_ROWS)}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                   / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    ) WHERE jaccard >= 0.5
    """,
)
def ext_minhash_lsh_pairs(spark, sf_dir):
    """[EXT] MinHash+LSH near-dup pairs (12 integer permutations of one
    md5-derived shingle hash, threshold-adaptive banding — 6 bands of 2
    for threshold 0.5, see minhash_auto_banding), verified by exact
    shingle Jaccard >= 0.5. The oracle reproduces the permutation
    arithmetic, the banding (rendered from the SAME auto rule), *and*
    the verification bit-for-bit."""
    return dx.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=12,
        threshold=0.5,
    )


#: Template for the SimHash CTE.  ``{src}`` is a relation placeholder
#: (same pattern as ``_SHINGLE_CTE`` — a post-hoc string .replace on
#: the instantiated SQL silently over-rewrites if the CTE ever gains a
#: second ``FROM documents`` reference).
_SIMHASH_CTE_TMPL = r"""
  toks AS (
    SELECT doc_id,
           list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS t
    FROM {src}
  ),
  dig AS (SELECT doc_id, list_transform(t, x -> md5(x)) AS d FROM toks),
  simh AS (
    -- CAST to BIGINT: list_sum yields HUGEINT (int128), which the
    -- driver gate's pandas canon mis-hashes; the value fits 48 bits.
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 48), b ->
             CASE WHEN list_sum(list_transform(d, h ->
                    (((strpos('0123456789abcdef', h[(b // 4 + 1):(b // 4 + 1)]) - 1)
                      >> (3 - (b % 4))) & 1) * 2 - 1)) > 0
                  THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sh
    FROM dig
  )
"""

#: the common instantiation over the raw documents table
_SIMHASH_CTE = _SIMHASH_CTE_TMPL.format(src="documents")


@register(
    "ext_simhash_values",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT doc_id, lpad(to_hex(sh), 12, '0') AS simhash FROM simh
    """,
)
def ext_simhash_values(spark, sf_dir):
    """[EXT] 48-bit SimHash signature per document (md5-bit voting over
    the distinct token set).

    The signature is emitted as a fixed-width (12-char) uppercase hex
    string on both sides: the driver gate's pandas canon mis-hashes wide
    integers (DuckDB list_sum yields HUGEINT), while a hex string is
    representation-stable. ext_simhash_pairs proves the signatures agree
    bitwise via the XOR/Hamming join over the same CTE."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.lpad(F.hex(dx.simhash("text")), 12, "0").alias("simhash")
    )


@register(
    "ext_simhash_pairs",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM simh a JOIN simh b
      ON a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def ext_simhash_pairs(spark, sf_dir):
    """[EXT] SimHash near-dup pairs: banded candidates + Hamming <= 3
    verification. The band scheme auto-selects by corpus size (see
    ``_auto_n_blocks``): the classic 4x12-bit one-block-key tables on
    small corpora, the Manku et al. 2007 multi-block scheme (6 blocks,
    C(6,3)=20 tables keyed on 24 bits) at >= 20k docs, where the wider
    keys suppress the quadratically-growing random band collisions
    (measured sf10/500k docs: 70 -> 10.5 s). Any scheme with more
    blocks than the radius is recall-exact by pigeonhole, so the oracle
    is the brute-force O(n^2) Hamming join — banding must not (and does
    not) change the result set."""
    return dx.simhash_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        max_hamming=3,
    )


@register(
    "ext_near_dup_components",
    f"""
    WITH RECURSIVE {_SIMHASH_CTE},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM simh a JOIN simh b
        ON a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT DISTINCT src AS id, src AS label FROM edges
      UNION
      SELECT e.src AS id, r.label FROM edges e JOIN reach r ON r.id = e.dst
    )
    SELECT id AS doc_id, min(label) AS component_id FROM reach GROUP BY 1
    """,
)
def ext_near_dup_components(spark, sf_dir):
    """[EXT] pairs -> duplicate clusters: iterative min-label
    propagation (operators/clusters.py) over the signature-contracted
    SimHash edge list (simhash_component_edges: duplicate families
    collapse to star edges, distinct signatures band-join — provably
    the same components as the full pair list at a linear edge count).
    The oracle is a recursive CTE computing min reachable id over the
    *full* pair list — the fixpoint both formulations converge to,
    which is itself the proof the contraction loses nothing."""
    from dissertation_data_pipeline_spark.operators.clusters import (
        connected_components,
    )

    edges = dx.simhash_component_edges(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        max_hamming=3,
    )
    return connected_components(edges)


def _blocked_jaccard_sql(src: str) -> str:
    """The blocked-Jaccard oracle over an arbitrary documents relation
    — shared by the corpus-wide row and the fixed-block row."""
    return f"""
    WITH {_SHINGLE_CTE_TMPL.format(src=src)},
    blocked AS (
      SELECT d.doc_id, d.lang, d.source, sh.shingles
      FROM {src} d JOIN sh ON sh.doc_id = d.doc_id
    )
    SELECT lang, source, id_a, id_b, jaccard FROM (
      SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
             round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                   / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
      FROM blocked a JOIN blocked b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.2
    """


@register("ext_blocked_jaccard_pairs", _blocked_jaccard_sql("documents"))
def ext_blocked_jaccard_pairs(spark, sf_dir):
    """[EXT] blocked exact n-gram Jaccard: all-pairs only within
    (lang, source) blocks — the operator requires blocking keys, the
    quadratic term is bounded by block size. The all-pairs-within-block
    oracle is corpus-quadratic, so sf>=1 value coverage comes from
    ``ext_blocked_jaccard_block_pairs``."""
    return dx.blocked_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["lang", "source"],
        threshold=0.2,
    )


#: The jaccard twin uses a 2x-wider block than the curation/recall
#: rows: the sf1 generator happens to place no same-(lang,source)
#: near-dup pair inside doc_id<500 (a vacuously-green 0-row check),
#: while doc_id<1000 carries pairs at every generated scale — still
#: block-bounded (measured 0.4 s oracle at sf1, 1.3 s at 2000).
_JACCARD_BLOCK = 1000


@register(
    "ext_blocked_jaccard_block_pairs",
    _blocked_jaccard_sql(
        f"(SELECT * FROM documents WHERE doc_id < {_JACCARD_BLOCK})"
    ),
)
def ext_blocked_jaccard_block_pairs(spark, sf_dir):
    """[EXT] the SAME blocked-Jaccard operator (same blocking keys,
    threshold, shingling) restricted to a FIXED 1000-doc block — the
    fixed-block oracle protocol (``ext_curation_block_pipeline``)
    applied to this family (r8 verdict Next #3): the oracle's
    within-block quadratic cost is bounded by the block, not the
    corpus, so the pair VALUES stay oracle-green at sf1/sf10 where
    the corpus-wide oracle is execute-only."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _JACCARD_BLOCK
    )
    return dx.blocked_jaccard_pairs(
        docs, "doc_id", "text", ["lang", "source"], threshold=0.2
    )


@register(
    "ext_dup_ngram_fraction",
    f"""
    WITH {_SHINGLE_CTE},
    post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    dfreq AS (SELECT s, count(*) AS df FROM post GROUP BY s)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           round(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS dup_frac
    FROM post p JOIN dfreq d ON p.s = d.s
    GROUP BY p.doc_id
    """,
)
def ext_dup_ngram_fraction(spark, sf_dir):
    """[EXT] per-document duplicated-3-gram fraction: share of a doc's
    distinct shingles that occur in other docs (the corpus-level
    boilerplate signal RefinedWeb prunes on). Postings -> document
    frequency -> per-doc re-aggregate; no pairwise work."""
    d = load_table(spark, sf_dir, "documents")
    return dx.duplicated_shingle_fraction(d, "doc_id", "text", n=3)


#: the SimHash CTE over an arbitrary source CTE (same math as
#: _SIMHASH_CTE, which is pinned to the raw documents table)
def _simhash_cte_over(src: str) -> str:
    return _SIMHASH_CTE_TMPL.format(src=src)


def _curation_sql(src: str) -> str:
    """The full curation-funnel oracle over an arbitrary source
    relation — shared by the corpus-wide row (tractable at sf<=0.1;
    the recursive CC CTE is hours-intractable at sf1, BASELINE.md
    round-7 note) and the fixed-block row that gives the family an
    oracle-green signal at EVERY scale."""
    return f"""
    WITH RECURSIVE quality AS (
      SELECT * FROM {src} WHERE n_chars >= 150
    ),
    exact AS (
      SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ),
    {_simhash_cte_over("exact")},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM simh a JOIN simh b
        ON a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT DISTINCT src AS id, src AS label FROM edges
      UNION
      SELECT e.src AS id, r.label FROM edges e JOIN reach r ON r.id = e.dst
    ),
    comp AS (
      SELECT id AS doc_id, min(label) AS component_id FROM reach GROUP BY 1
    ),
    final AS (
      SELECT e.* FROM exact e
      LEFT JOIN comp c ON e.doc_id = c.doc_id
      WHERE c.doc_id IS NULL OR c.component_id = e.doc_id
    )
    SELECT l.lang,
           l.n_raw,
           COALESCE(q.n, 0) AS n_quality,
           COALESCE(x.n, 0) AS n_exact,
           COALESCE(f.n, 0) AS n_final,
           COALESCE(f.toks, 0) AS tokens_final
    FROM (SELECT lang, COUNT(*) AS n_raw FROM {src} GROUP BY 1) l
    LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM quality GROUP BY 1) q USING (lang)
    LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM exact GROUP BY 1) x USING (lang)
    LEFT JOIN (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT) AS toks
      FROM final GROUP BY 1
    ) f USING (lang)
    """


def _curation_funnel(docs):
    """The curation pipeline over an arbitrary documents relation —
    shared by the corpus-wide row and the fixed-block row."""
    from dissertation_data_pipeline_spark.operators.clusters import (
        connected_components,
        dedup_survivors,
    )
    from pyspark.sql.window import Window

    quality = docs.filter(F.col("n_chars") >= 150)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact = (
        quality.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text", "lang")
        # eager: materialize BEFORE the CC iterations start. A lazy
        # checkpoint materializes inside CC's first action, interleaved
        # with iteration jobs — measured slower (interleaved A/B at
        # sf0.1: eager 3.23 s vs lazy 3.47 s median-of-6) and the
        # suspected source of a bimodal 2.6x inflation seen under a
        # contended driver bench (BASELINE.md round-7 note)
        .localCheckpoint(eager=True)
    )
    comp = connected_components(
        dx.simhash_component_edges(exact, "doc_id", "text", max_hamming=3)
    )
    final = dedup_survivors(exact, comp)
    n_tokens = F.size(dx.tokens("text")).cast("long")
    raw = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_raw"))
    nq = quality.groupBy("lang").agg(F.count(F.lit(1)).alias("n_quality"))
    nx = exact.groupBy("lang").agg(F.count(F.lit(1)).alias("n_exact"))
    nf = final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_final"), F.sum(n_tokens).alias("tokens_final")
    )
    return (
        raw.join(nq, "lang", "left")
        .join(nx, "lang", "left")
        .join(nf, "lang", "left")
        .select(
            "lang",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
            F.coalesce("tokens_final", F.lit(0)).alias("tokens_final"),
        )
    )


@register("ext_curation_pipeline", _curation_sql("documents"))
def ext_curation_pipeline(spark, sf_dir):
    """[EXT] the end-to-end corpus-curation pipeline as ONE query:
    length gate -> exact dedup (min-id canonical per content digest)
    -> SimHash near-dup cluster survivors -> per-language funnel
    report (raw / quality / exact / final doc counts + surviving
    tokens). Composes quality gating, exact_dedup semantics,
    signature-contracted component edges, iterative CC, and
    dedup_survivors — the full curation funnel a training-data run
    executes, verified stage-by-stage against one recursive-CTE
    oracle. The recursive-CTE oracle is hours-intractable beyond
    sf0.1 (BASELINE.md round-7 note: killed at 106 min at sf1), so
    sf>=1 coverage comes from ``ext_curation_block_pipeline``."""
    return _curation_funnel(load_table(spark, sf_dir, "documents"))


@register(
    "ext_curation_block_pipeline",
    _curation_sql(
        f"(SELECT * FROM documents WHERE doc_id < {_CURATION_BLOCK})"
    ),
)
def ext_curation_block_pipeline(spark, sf_dir):
    """[EXT] the SAME curation pipeline (same operators: quality gate,
    window exact-dedup, simhash_component_edges, iterative
    connected_components, dedup_survivors, funnel rollup) restricted
    to a FIXED 500-doc block (_CURATION_BLOCK) — the recall-harness trick
    applied to the CC/curation family (r7 verdict Next #6): the
    recursive-CTE oracle's cost is bounded by the block, not the
    corpus, so this row keeps the family oracle-GREEN at sf1/sf10
    where the corpus-wide oracle is execute-only. The engine side
    still runs the real iterative CC operator (on block-sized input),
    so the drop/survive semantics of every stage stay value-checked
    at every scale."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _CURATION_BLOCK
    )
    return _curation_funnel(docs)


@register(
    "ext_dedup_incremental",
    f"""
    WITH {_SHINGLE_CTE},
    hv AS (
      SELECT doc_id, shingles,
             list_transform(shingles, s -> {_HEXVAL}) AS hs
      FROM sh
    ),
    sig AS (
      SELECT doc_id, [{_SIG_LIST}] AS sig FROM hv
    ),
    bands AS ({_band_cte(_AUTO_BANDS, _AUTO_ROWS)}),
    cb AS (SELECT * FROM bands WHERE doc_id % 5 != 0),
    ib AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
    vs_dup AS (
      SELECT DISTINCT ib.doc_id
      FROM ib JOIN cb ON ib.band_idx = cb.band_idx AND ib.band_key = cb.band_key
    ),
    bmin AS (
      SELECT band_idx, band_key, MIN(doc_id) AS m FROM ib GROUP BY 1, 2
    ),
    within_dup AS (
      SELECT DISTINCT ib.doc_id
      FROM ib JOIN bmin
        ON ib.band_idx = bmin.band_idx AND ib.band_key = bmin.band_key
      WHERE ib.doc_id > bmin.m
    ),
    dropped AS (
      SELECT doc_id FROM vs_dup UNION SELECT doc_id FROM within_dup
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 5 = 0
      AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
)
def ext_dedup_incremental(spark, sf_dir):
    """[EXT] Incremental near-dup dedup (operators/dedup_incremental):
    the corpus slice (doc_id % 5 != 0) stands in for the persisted LSH
    band index; the increment slice (doc_id % 5 == 0) probes it by
    band-key join — O(increment) work, corpus text never re-read — and
    additionally self-dedups by min-id-per-band-bucket. The oracle
    recomputes bands for both slices and applies the identical drop
    rules, so the probe's candidate geometry is value-checked."""
    from dissertation_data_pipeline_spark.operators.dedup_incremental import (
        batch_band_entries,
        dedup_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    inc = docs.filter(F.col("doc_id") % 5 == 0)
    index = batch_band_entries(corpus, "doc_id", "text")
    survivors, _ = dedup_incremental(inc, index, "doc_id", "text")
    return survivors.select("doc_id", "lang", "source")


@register(
    "ext_capped_jaccard_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    shl AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [array_to_string(t, ' ')] END) AS shingles
      FROM toks
    ),
    post AS (SELECT doc_id, lang, unnest(shingles) AS s FROM shl),
    dfreq AS (SELECT lang, s, count(*) AS dfc FROM post GROUP BY 1, 2),
    kept AS (
      SELECT p.doc_id, p.lang, p.s
      FROM post p JOIN dfreq d ON p.lang = d.lang AND p.s = d.s
      WHERE d.dfc <= 10
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
    inter AS (
      SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM kept a JOIN kept b
        ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3
    )
    SELECT lang, id_a, id_b,
           round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(i::DOUBLE / (sa.n + sb.n - i), 6) >= 0.2
    """,
)
def ext_capped_jaccard_pairs(spark, sf_dir):
    """[EXT] blocked Jaccard WITH the stop-shingle cap (max_df=10):
    shingles occurring in more than 10 documents of a language block
    are dropped before set sizes and intersections — the 100 TB guard
    against boilerplate posting lists whose self-join is df^2 rows.
    The oracle implements the identical capped-universe rule, so the
    gate verifies the cap's semantics, not just its existence."""
    return dx.blocked_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["lang"],
        threshold=0.2,
        max_df=10,
    )


@register(
    "ext_stop_shingle_report",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    shl AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [array_to_string(t, ' ')] END) AS shingles
      FROM toks
    ),
    post AS (SELECT doc_id, lang, unnest(shingles) AS s FROM shl),
    dfreq AS (SELECT lang, s, count(*) AS dfc FROM post GROUP BY 1, 2)
    SELECT lang,
           CAST(sum(CASE WHEN dfc > 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_stop_shingles,
           CAST(sum(CASE WHEN dfc > 10 THEN dfc ELSE 0 END) AS BIGINT)
             AS dropped_postings,
           CAST(sum(dfc) AS BIGINT) AS total_postings,
           round(sum(CASE WHEN dfc > 10 THEN dfc ELSE 0 END)::DOUBLE
                 / sum(dfc), 6) AS dropped_frac
    FROM dfreq GROUP BY 1
    """,
)
def ext_stop_shingle_report(spark, sf_dir):
    """[EXT] the cap's audit twin: per-block stop-shingle count and
    dropped posting mass under max_df=10 — 'no silent caps' as a
    first-class, oracle-checked query."""
    return dx.stop_shingle_report(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["lang"],
        max_df=10,
    )


# ---------------------------------------------------------------------------
# Pair-recall measurement (the dedup counterpart of ext_ann_recall_at_10)
# ---------------------------------------------------------------------------

#: fixed-size evaluation block for LSH pair recall: the first 500 doc
#: ids. FIXED SIZE on purpose — exact ground truth is all-pairs within
#: the block, so its cost is constant no matter how large the corpus
#: grows (the standard sampled-recall protocol; a %-of-corpus sample
#: would re-quadratize with scale).
_RECALL_BLOCK = 500

_SHINGLE_CTE_RECALL = _SHINGLE_CTE_TMPL.format(
    src=f"(SELECT * FROM documents WHERE doc_id < {_RECALL_BLOCK})"
)


def _pair_recall_sql(bands: int, rows: int) -> str:
    """The pair-recall oracle for a (bands x rows) banding of the
    12-hash signature — truth leg identical, band slicing
    parameterized (rendered by the shared ``_band_cte``)."""
    return f"""
    WITH {_SHINGLE_CTE_RECALL},
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
            / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
    ),
    hv AS (
      SELECT doc_id, shingles,
             list_transform(shingles, s -> {_HEXVAL}) AS hs
      FROM sh
    ),
    sig AS (
      SELECT doc_id, [{_SIG_LIST}] AS sig FROM hv
    ),
    bands AS ({_band_cte(bands, rows)}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    hits AS (
      SELECT t.id_a, t.id_b
      FROM truth t JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
    )
    SELECT (SELECT count(*) FROM truth) AS n_true_pairs,
           (SELECT count(*) FROM hits) AS n_lsh_hits,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
                ELSE round((SELECT count(*) FROM hits)::DOUBLE
                           / (SELECT count(*) FROM truth), 6) END AS recall
    """


def _pair_recall(spark, sf_dir, *, bands: int | None):
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _RECALL_BLOCK
    )
    sample = docs.withColumn("blk", F.lit(1))
    truth = dx.blocked_jaccard_pairs(
        sample, "doc_id", "text", ["blk"], threshold=0.5
    ).select("id_a", "id_b")
    lsh = dx.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=12, bands=bands, threshold=0.5
    ).select("id_a", "id_b")
    # one aggregation computes both counts (a left join marks hits) —
    # no 1-row crossJoin, so the registry's no-cartesian plan test
    # holds for this query too
    marked = truth.join(
        lsh.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left"
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.count("_hit").alias("n_lsh_hits"),
    ).withColumn(
        "recall",
        F.when(
            F.col("n_true_pairs") == 0, F.lit(None).cast("double")
        ).otherwise(
            F.round(
                F.col("n_lsh_hits").cast("double") / F.col("n_true_pairs"), 6
            )
        ),
    )


@register("ext_dedup_pair_recall", _pair_recall_sql(_AUTO_BANDS, _AUTO_ROWS))
def ext_dedup_pair_recall(spark, sf_dir):
    """[EXT] measured LSH pair recall OF THE PRODUCTION DEFAULT: exact
    all-pairs Jaccard>=0.5 ground truth on a FIXED 500-doc block vs the
    MinHash-LSH candidates the default (threshold-adaptive) banding
    produces over the same block — the quality number that justifies
    the banding rule, computed as a query (the dedup counterpart of
    ``ext_ann_recall_at_10``).  ``bands=None`` here is the point: this
    row measures whatever ``minhash_auto_banding(12, 0.5)`` picks (6x2
    today — 0.961 at sf1, vs 0.745 for the 4x3 default it replaced),
    and the oracle renders its banding from the same call.  A verified
    LSH pair is a candidate with true Jaccard>=0.5, so recall(LSH
    verified | truth) == recall(candidates | truth).

    Scale: ground-truth cost is constant (block size is fixed, not a
    corpus fraction), and the truth leg itself runs on the inverted-
    index plan (``blocked_jaccard_pairs`` with a constant block key),
    not a quadratic self-join — only the ORACLE states it all-pairs."""
    return _pair_recall(spark, sf_dir, bands=None)


@register("ext_dedup_pair_recall_b6r2", _pair_recall_sql(6, 2))
def ext_dedup_pair_recall_b6r2(spark, sf_dir):
    """[EXT] the banding recall LEVER, measured with bands pinned
    EXPLICITLY to 6x2 (coincides with today's adaptive pick — this row
    keeps its own green history and stays meaningful if the auto rule
    ever picks differently).  Theory: a threshold-j pair (j=0.5)
    collides with probability 1-(1-j^r)^b — 0.41 at 4x3, 0.80 at 6x2 —
    at the cost of more candidate pairs (shorter band keys collide
    more).  Paired with ``ext_dedup_pair_recall_b4r3`` the knob is two
    measured recall numbers on identical ground truth, not a docstring
    claim (BASELINE.md records them at sf0.01 and sf1)."""
    return _pair_recall(spark, sf_dir, bands=6)


@register("ext_dedup_pair_recall_b4r3", _pair_recall_sql(4, 3))
def ext_dedup_pair_recall_b4r3(spark, sf_dir):
    """[EXT] the banding recall lever's LOW side: the same 12-hash
    signature banded 4x3 — the hardcoded default shipped through round
    7 (S-curve crossover 0.63, ABOVE the 0.5 threshold, hence the
    measured 0.745 sf1 recall that motivated the adaptive rule).  Kept
    as a gate row so the quality cost of a crossover-above-threshold
    banding stays measured, not remembered."""
    return _pair_recall(spark, sf_dir, bands=4)


# ---------------------------------------------------------------------------
# SimHash detector recall (the MinHash recall protocol, r8 verdict #4)
# ---------------------------------------------------------------------------

#: The SimHash recall rows' semantic working point: token-set Jaccard
#: ground truth at this threshold.  0.95 is where a 48-bit SimHash
#: claims to operate (hamming<=3 ~ cosine 0.974 ~ equal-size Jaccard
#: 0.95) — the harness measures whether it actually does.
_SIMHASH_RECALL_TAU = 0.95

#: The tau-derived cutoff (6 at 48 bits) — rendered into the oracle
#: from the SAME function the engine calls, so drift is structurally
#: impossible (the minhash_auto_banding pattern).
_SIMHASH_RECALL_CUTOFF = dx.simhash_hamming_for(48, _SIMHASH_RECALL_TAU)


def _simhash_recall_sql(cutoff: int) -> str:
    """The SimHash pair-recall oracle: token-set Jaccard >=
    ``_SIMHASH_RECALL_TAU`` all-pairs ground truth on the fixed block
    vs the Hamming<=``cutoff`` detections over the same block (the
    ``toks`` CTE inside ``_SIMHASH_CTE_TMPL`` already carries the
    distinct token sets, so truth and signatures derive from ONE
    tokenization)."""
    blk = f"(SELECT * FROM documents WHERE doc_id < {_RECALL_BLOCK})"
    return f"""
    WITH {_SIMHASH_CTE_TMPL.format(src=blk)},
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.t, b.t))::DOUBLE
            / len(list_distinct(list_concat(a.t, b.t)))
            >= {_SIMHASH_RECALL_TAU}
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM simh a JOIN simh b
        ON a.doc_id < b.doc_id
       AND bit_count(xor(a.sh, b.sh)) <= {cutoff}
    ),
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


def _simhash_pair_recall(spark, sf_dir, *, cutoff: int):
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _RECALL_BLOCK
    )
    nbkt = 32
    toksets = docs.select(
        "doc_id",
        F.array_distinct(dx.tokens("text")).alias("_t"),
        (F.col("doc_id") % nbkt).alias("_bkt"),
    ).withColumn("_sz", F.size("_t"))
    # bucketed pair grid: a single const-key equi-join puts the whole
    # 125k-pair array-intersection workload in ONE task (one hash
    # bucket); bucketing docs `nbkt` ways and exploding the left side
    # over all right-buckets keeps the join an equi-join (no cartesian)
    # while spreading the quadratic work across the keys.  The tiny
    # right side broadcasts, so task granularity comes from the LEFT
    # side's partitioning — which a byte-small block scan leaves at 1-2
    # scan tasks (measured: the whole 125k-intersection verify leg ran
    # in ONE 4.4 s task).  An explicit round-robin repartition (exempt
    # from AQE coalescing) spreads it across cores; block size is
    # FIXED, so at any corpus scale this stays constant work.
    nparts = spark.sparkContext.defaultParallelism
    ta = (
        toksets.withColumn(
            "_rb", F.explode(F.sequence(F.lit(0), F.lit(nbkt - 1)))
        )
        .repartition(nparts)
        .alias("a")
    )
    tb = toksets.alias("b")
    # exact size-ratio prefilter (guide §3.2's drop-before-the-work
    # idea applied per pair): J = |A∩B|/|A∪B| <= min(|A|,|B|)/
    # max(|A|,|B|), so a truth pair at J >= tau must satisfy the size
    # ratio >= tau.  Stated in integer arithmetic one ulp BELOW tau
    # (floor(tau*1e5) - 1) so float rounding of the _j division can
    # never drop a boundary pair — the guard admits a strict superset
    # of the truth set, and the expensive array_intersect/union in the
    # projection below runs only for pairs that survive the join
    # condition (measured at sf0.1: 80.8% of the 124,750 grid pairs
    # die on the integer compare before any array work).
    ratio_num = int(_SIMHASH_RECALL_TAU * 100_000) - 1
    size_ok = (
        F.least(F.col("a._sz"), F.col("b._sz")) * 100_000
        >= F.greatest(F.col("a._sz"), F.col("b._sz")) * ratio_num
    )
    truth = ta.join(
        tb,
        (F.col("a._rb") == F.col("b._bkt"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & size_ok,
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        (
            F.size(F.array_intersect("a._t", "b._t")).cast("double")
            / F.size(F.array_union("a._t", "b._t"))
        ).alias("_j"),
    ).filter(F.col("_j") >= _SIMHASH_RECALL_TAU).select("id_a", "id_b")
    detected = dx.simhash_pairs(
        docs, "doc_id", "text", max_hamming=cutoff
    ).select("id_a", "id_b")
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
    "ext_simhash_pair_recall", _simhash_recall_sql(_SIMHASH_RECALL_CUTOFF)
)
def ext_simhash_pair_recall(spark, sf_dir):
    """[EXT] measured SimHash detector recall AT THE DERIVED CUTOFF:
    exact all-pairs token-set Jaccard >= 0.95 ground truth on the
    fixed 500-doc block vs the real banded ``simhash_pairs`` operator
    run with ``max_hamming = simhash_hamming_for(48, 0.95)`` (= 6) —
    the MinHash recall-harness protocol (r8 verdict Next #4) applied
    to the SimHash family.  The banding itself is recall-exact by
    pigeonhole (ext_simhash_pairs' brute-force oracle pins that); what
    was unmeasured is the DETECTOR's similarity working point, and the
    legacy cutoff failed it: hamming<=3 catches 0.61 of
    Jaccard>=0.95 pairs (``ext_simhash_pair_recall_h3``), the derived
    cutoff 0.99 — because a pair at the threshold sits mid-
    distribution (Binomial mean 3.5 at 48 bits), so the cutoff must
    be an upper quantile, not the mean.  Scale: truth cost is
    block-constant; the detector leg is the production banded plan."""
    return _simhash_pair_recall(
        spark, sf_dir, cutoff=_SIMHASH_RECALL_CUTOFF
    )


@register("ext_simhash_pair_recall_h3", _simhash_recall_sql(3))
def ext_simhash_pair_recall_h3(spark, sf_dir):
    """[EXT] the SimHash cutoff lever's LOW side: the same ground
    truth measured against the classic ``max_hamming=3`` working
    point every ``simhash_pairs`` call site inherited before round 9
    — kept as a gate row so the 0.61-recall cost of treating the
    Hamming-ball definition as a similarity threshold stays measured,
    not remembered (the b4r3 pattern)."""
    return _simhash_pair_recall(spark, sf_dir, cutoff=3)


# ---------------------------------------------------------------------------
# Corpus boilerplate removal (cross-document chunk dedup) and entity
# resolution. Accumulations stay in integer space, so results are
# partition-order invariant.
# ---------------------------------------------------------------------------

_CHUNK = 8  # tokens per chunk for cross-doc chunk dedup


@register(
    "ext_chunk_dedup_clean",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), chunks AS (
      SELECT doc_id, i AS pos,
             array_to_string(ts[(i*{_CHUNK}+1):(i*{_CHUNK}+{_CHUNK})], ' ') AS chunk
      FROM toks, UNNEST(range(CAST(ceil(len(ts)/{_CHUNK}.0) AS BIGINT))) AS u(i)
    ), freq AS (
      SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN f.nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN f.nd = 1 THEN c.chunk END, ' '
                               ORDER BY c.pos), '') AS cleaned
    FROM chunks c JOIN freq f USING (chunk)
    GROUP BY 1
    """,
)
def ext_chunk_dedup_clean(spark, sf_dir):
    """[EXT] Cross-document boilerplate removal at token-chunk
    granularity (the RefinedWeb/Falcon line-dedup recipe, applied to
    8-token chunks because this corpus has no newlines): a chunk whose
    exact text appears in more than one document is boilerplate; each
    document is reconstructed from its surviving chunks in order.

    Plan: chunking is pure codegen (split + transform/slice — no
    explode until the chunk table), then one groupBy on chunk text for
    the corpus frequency, one shuffle join back (fact x pre-aggregated
    frequency — the aggregate side carries one row per distinct chunk,
    so a viral chunk is ONE row, not a skewed key), and one groupBy
    doc_id to reassemble. At 100 TB this is exactly the shape used in
    production line-dedup: hash-partition on chunk digest, join,
    regroup by doc — three shuffles, no global sort, no driver state.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.ceil(F.size(toks) / F.lit(float(_CHUNK))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(toks, i * _CHUNK + 1, _CHUNK), " "),
    )
    ch = d.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    freq = ch.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    kept_entry = F.when(
        F.col("nd") == 1, F.struct(F.col("pos"), F.col("chunk"))
    )  # NULL (dropped by collect_list) when the chunk is cross-doc dup
    return (
        ch.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("nd") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_entry)),
                    lambda s: s.getField("chunk"),
                ),
                " ",
            ).alias("cleaned"),
        )
    )


def _entity_resolution_sql(src: str) -> str:
    """The entity-resolution oracle over an arbitrary part relation —
    shared by the corpus-wide row and the fixed-block row."""
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM {src} a JOIN {src} b
        ON a.p_brand = b.p_brand AND a.p_type = b.p_type
       AND a.p_partkey < b.p_partkey
      WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        AND levenshtein(a.p_name, b.p_name) <= 2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT DISTINCT src AS id, src AS label FROM edges
      UNION
      SELECT e.src AS id, r.label FROM edges e JOIN reach r ON r.id = e.dst
    ),
    comp AS (SELECT id, MIN(label) AS component_id FROM reach GROUP BY 1)
    SELECT component_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           arg_min(p_name, p_partkey) AS canonical_name,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_retail,
           array_to_string(list(CAST(id AS VARCHAR) ORDER BY id), ',')
             AS members
    FROM comp JOIN {src} part ON comp.id = part.p_partkey
    GROUP BY 1
    """


@register("ext_entity_resolution", _entity_resolution_sql("part"))
def ext_entity_resolution(spark, sf_dir):
    """[EXT] End-to-end entity resolution, the full composition:
    (1) blocking + fuzzy match — ``fuzzy_resolution_edges`` within
    (brand, type) blocks: exact-text groups collapse to min-id
    representatives (rep->member star edges), only the DISTINCT texts
    per block fuzzy-join (length-gap prefilter, edit distance <= 2) —
    connectivity-equivalent to the full pair set but O(rows +
    distinct-texts^2 per block), never quadratic in rows (the full
    pair set grew 22x across the sf0.1 -> sf1 decade; this form is
    ~linear);
    (2) cluster resolution — ``connected_components`` (two-level:
    union-find under the small-edge threshold, distributed min-label
    propagation with pointer jumping above it);
    (3) golden record — one aggregation per cluster: representative =
    min id (== component_id by construction), canonical name via
    min-struct (arg-min, deterministic since ids are unique), exact
    decimal rollup, and the member list serialized to a sorted CSV
    string (driver-hashable).

    The oracle recomputes all three stages in SQL over the FULL
    quadratic pair set (recursive-CTE fixpoint for the components) —
    so the gate also value-checks the rep-edge contraction's
    components-equivalence claim, not just each stage. Scale: the
    quadratic term is bounded by distinct texts per block, the cluster
    step switches to distributed propagation past 2M edges, and the
    golden-record pass is one shuffle on component_id."""
    return _resolve_entities(load_table(spark, sf_dir, "part"))


def _resolve_entities(part):
    """The three-stage resolution pipeline over an arbitrary part
    relation — shared by the corpus-wide row and the fixed-block row."""
    from dissertation_data_pipeline_spark.operators.analytics import (
        fuzzy_resolution_edges,
    )
    from dissertation_data_pipeline_spark.operators.clusters import (
        connected_components,
    )

    pairs = fuzzy_resolution_edges(
        part, "p_partkey", "p_name", ["p_brand", "p_type"], max_distance=2
    )
    comp = connected_components(pairs)
    return (
        comp.join(part, comp.doc_id == part.p_partkey)
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.struct("p_partkey", "p_name"))
            .getField("p_name")
            .alias("canonical_name"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_retail"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
    )


@register(
    "ext_entity_resolution_block",
    _entity_resolution_sql(
        "(SELECT * FROM part WHERE p_partkey < 500)"
    ),
)
def ext_entity_resolution_block(spark, sf_dir):
    """[EXT] the SAME three-stage entity-resolution pipeline (same
    fuzzy_resolution_edges blocking + edit-distance match, same
    iterative connected_components, same golden-record aggregation)
    with the FUZZY-MATCH SCOPE fixed to a 500-part block — the
    fixed-block oracle protocol (``ext_curation_block_pipeline``)
    applied to this family (r8 verdict Next #3): the oracle's
    quadratic pair set and recursive-CTE fixpoint are block-bounded,
    so the resolved clusters and golden records stay oracle-green at
    sf1/sf10 where the corpus-wide oracle is execute-only."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return _resolve_entities(part)


# ---------------------------------------------------------------------------
# Shapes the Jaccard/SimHash rows lack:
#
# - containment pairs (Broder's resemblance/containment twin):
#   asymmetric doc-inside-doc detection that Jaccard structurally misses;
# - winnowing fingerprints (Schleimer et al. 2003 / MOSS): position-aware
#   local fingerprinting with a per-window guarantee — the
#   evidence-producing complement to SimHash/MinHash;
# - maximal repeated-substring spans (a char-gram approximation of Lee et
#   al. 2022's suffix-array substring dedup).
# ---------------------------------------------------------------------------

@register(
    "ext_containment_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    shl AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [array_to_string(t, ' ')] END) AS shingles
      FROM toks
    ),
    post AS (SELECT doc_id, lang, unnest(shingles) AS s FROM shl),
    dfreq AS (SELECT lang, s, count(*) AS dfc FROM post GROUP BY 1, 2),
    kept AS (
      SELECT p.doc_id, p.lang, p.s
      FROM post p JOIN dfreq d ON p.lang = d.lang AND p.s = d.s
      WHERE d.dfc <= 16
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
    inter AS (
      SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM kept a JOIN kept b
        ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3
    )
    SELECT lang, id_a, id_b, containment_a, containment_b FROM (
      SELECT lang, id_a, id_b,
             round(i::DOUBLE / sa.n, 6) AS containment_a,
             round(i::DOUBLE / sb.n, 6) AS containment_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ) WHERE containment_a >= 0.5 OR containment_b >= 0.5
    """,
)
def ext_containment_pairs(spark, sf_dir):
    """[EXT] asymmetric shingle-containment pairs within language
    blocks: |A∩B|/|A| and |A∩B|/|B| over the CAPPED shingle universe
    (max_df=16), kept when either direction >= 0.5 — the
    doc-inside-doc / quote-envelope signal Jaccard structurally misses
    (a paragraph wholly quoted in a 10x longer page has Jaccard ~0.1
    but containment ~1.0).

    The stop-shingle cap is load-bearing here, not optional: this
    query blocks on language ALONE (cross-source quote detection is
    the point), so block population grows with the corpus and
    boilerplate posting lists grow linearly — measured 453 s at sf10
    (500k docs) uncapped vs seconds capped, the df^2 blowup the cap
    exists to kill. A contained quote's discriminative shingles are
    low-df, so the signal survives; dropped mass is observable via
    ``ext_stop_shingle_report``. The oracle implements the identical
    capped-universe rule."""
    return dx.containment_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["lang"],
        threshold=0.5,
        max_df=16,
    )


# winnowing parameters: 5-char grams, window of 4 consecutive hashes
_WINNOW_HEXVAL = " + ".join(
    f"(strpos('0123456789abcdef', md5(substr(s, i + 1, 5))[{k}:{k}]) - 1) "
    f"* {16 ** (8 - k)}"
    for k in range(1, 9)
)


@register(
    "ext_winnowing_fingerprints",
    f"""
    WITH norm AS (
      SELECT doc_id, lower(trim(text)) AS s FROM documents
    ),
    keyed AS (
      SELECT doc_id,
             CASE WHEN length(s) >= 5
               THEN list_transform(range(0, length(s) - 4),
                      i -> CAST(({_WINNOW_HEXVAL}) AS BIGINT) * 1048576
                           + (1048575 - i))
               ELSE CAST([] AS BIGINT[]) END AS ks
      FROM norm
    ),
    sel AS (
      SELECT doc_id, len(ks) AS n_grams,
             CASE WHEN len(ks) = 0 THEN CAST([] AS VARCHAR[])
               ELSE list_sort(list_distinct(list_transform(
                 range(0, greatest(len(ks) - 3, 1)),
                 j -> concat(
                   CAST(1048575 - (list_min(ks[j+1 : j+least(4, len(ks))])
                                   & 1048575) AS VARCHAR),
                   ':',
                   CAST(list_min(ks[j+1 : j+least(4, len(ks))]) >> 20
                        AS VARCHAR)))))
               END AS fps
      FROM keyed
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(fps, '|')) AS fp_digest
    FROM sel
    """,
)
def ext_winnowing_fingerprints(spark, sf_dir):
    """[EXT] winnowing document fingerprints (Schleimer, Wilkerson,
    Aiken 2003 — MOSS): hash every 5-char gram, slide a window of 4
    hashes, keep each window's minimum (rightmost on ties via a packed
    position key), digest the sorted distinct selections. Guaranteed
    >= 1 fingerprint per window, expected density 2/(w+1) — the
    position-aware local fingerprint for plagiarism/near-dup evidence.

    Per-doc expression work only (no shuffle); both engines realize
    the rightmost-min as ONE integer ``min`` over packed
    ``hash*2^20 + (2^20-1-pos)`` keys, so selections match
    bit-for-bit."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", dx.winnowing_fingerprints("text", k=5, w=4).alias("_w")
    )
    # unpack in a second projection: _w is referenced three times, so
    # CollapseProject keeps the projections apart and the fingerprint
    # pipeline runs once per row (see operator docstring)
    return d.select(
        "doc_id",
        F.col("_w.n_grams").alias("n_grams"),
        F.col("_w.n_fingerprints").alias("n_fingerprints"),
        F.col("_w.fp_digest").alias("fp_digest"),
    )


@register(
    "ext_repeated_substring_spans",
    r"""
    WITH posts AS (
      SELECT doc_id, i AS pos, substr(s, i, 15) AS g
      FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents),
           LATERAL (SELECT unnest(range(1, greatest(length(s) - 14, 0) + 1)) AS i)
    ),
    freq AS (SELECT g FROM posts GROUP BY g HAVING count(*) > 1),
    dup AS (SELECT doc_id, pos FROM posts WHERE g IN (SELECT g FROM freq)),
    runs AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup
    )
    SELECT doc_id, span_start, span_end, span_chars FROM (
      SELECT doc_id,
             CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) + 14 AS BIGINT) AS span_end,
             CAST(max(pos) + 14 - min(pos) + 1 AS BIGINT) AS span_chars
      FROM runs GROUP BY doc_id, grp
    ) WHERE span_chars >= 30
    """,
)
def ext_repeated_substring_spans(spark, sf_dir):
    """[EXT] maximal repeated-substring spans (the scalable char-gram
    approximation of Lee et al. 2022's suffix-array substring dedup):
    every position whose 15-gram recurs anywhere in the corpus is
    flagged, consecutive flagged positions merge into maximal spans
    (gaps-and-islands), spans under 30 chars drop. The spans are what
    an exact-substring dedup pass would cut from the training corpus.
    See operators/dedup_ext.py::repeated_substring_spans for the
    no-pairwise-work plan shape."""
    out = dx.repeated_substring_spans(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        gram_chars=15,
        min_span_chars=30,
    )
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_chars").cast("long").alias("span_chars"),
    )
