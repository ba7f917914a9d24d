"""Scalar-function queries (SURVEY §2.8) with DuckDB oracles.

Each query synthesizes the reference's messy inputs *deterministically*
from the shared testdata (so both engines see identical raw values),
applies the engine's expression-library function on the Spark side, and
re-expresses the same transformation in portable SQL on the oracle side.

Regex portability note: Spark uses Java regex, DuckDB uses RE2. RE2 has
no lookahead, and DuckDB's ``regexp_replace`` is first-match unless the
``'g'`` flag is passed — oracle SQL below is written to the RE2 dialect
while the Spark side keeps the engine's Java-regex builders; equivalence
is what the hash check proves.

The module also holds [EXT] URL canonicalization, the crawl pipeline's
zeroth dedup tier.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dissertation_data_pipeline_spark import functions as fx
from dissertation_data_pipeline_spark.functions import urls as fu
from dissertation_data_pipeline_spark.plans.registry import register
from dissertation_data_pipeline_spark.tables import load_table


# -- F-s1: bill-number normalization over synthesized messy formats ---------

_MESSY_BILL_SQL = """
  SELECT p_partkey,
         CASE p_partkey % 5
           WHEN 0 THEN 'HB ' || (p_partkey % 1000)
           WHEN 1 THEN 'H.B. ' || (p_partkey % 1000)
           WHEN 2 THEN 'AL HB' || (p_partkey % 1000)
           WHEN 3 THEN ' sb' || (p_partkey % 1000) || '-269 '
           ELSE 'HJR' || (p_partkey % 1000)
         END AS raw_bill
  FROM part
"""


def _messy_bill(df):
    k = F.col("p_partkey")
    n = (k % 1000).cast("string")
    return df.select(
        "p_partkey",
        F.when(k % 5 == 0, F.concat(F.lit("HB "), n))
        .when(k % 5 == 1, F.concat(F.lit("H.B. "), n))
        .when(k % 5 == 2, F.concat(F.lit("AL HB"), n))
        .when(k % 5 == 3, F.concat(F.lit(" sb"), n, F.lit("-269 ")))
        .otherwise(F.concat(F.lit("HJR"), n))
        .alias("raw_bill"),
    )


@register(
    "fs1_normalize_bill_number",
    f"""
    SELECT p_partkey, raw_bill,
           regexp_replace(
             regexp_replace(
               regexp_replace(trim(upper(raw_bill)),
                 '^([A-Z]{{2}}) +([A-Z](\\.?[A-Z])*\\.? *[0-9])', '\\2'),
               '\\.', '', 'g'),
             ' +', '', 'g') AS bill_number
    FROM ({_MESSY_BILL_SQL})
    """,
)
def fs1_normalize_bill_number(spark, sf_dir):
    """F-s1 (build_master_corpus.py:43-49): strip state prefix, collapse
    dots/spaces, upper+trim — pure regexp_replace chain, JVM-side."""
    df = _messy_bill(load_table(spark, sf_dir, "part"))
    return df.select(
        "p_partkey", "raw_bill", fx.normalize_bill_number("raw_bill").alias("bill_number")
    )


@register(
    "fs2_bill_number_variants",
    f"""
    WITH norm AS (
      SELECT p_partkey, trim(upper(raw_bill)) AS s,
             string_split_regex(trim(upper(raw_bill)), '\\s+') AS toks
      FROM ({_MESSY_BILL_SQL})
    ), based AS (
      SELECT p_partkey,
             CASE WHEN len(toks) > 1
                       AND regexp_matches(toks[1], '^[A-Z][A-Z]$')
                       AND regexp_matches(array_to_string(toks[2:], ' '),
                                          '^[A-Z](\\.?[A-Z])*\\.? *[0-9]')
                  THEN array_to_string(toks[2:], ' ') ELSE s END AS base
      FROM norm
    ), built AS (
      SELECT p_partkey, base,
             regexp_replace(base, '[ .]', '', 'g') AS no_spaces,
             regexp_extract(regexp_replace(base, '[ .]', '', 'g'),
                            '^([A-Z]+)([0-9]+)', 1) AS prefix,
             regexp_extract(regexp_replace(base, '[ .]', '', 'g'),
                            '^([A-Z]+)([0-9]+)', 2) AS num
      FROM based
    ), arrs AS (
      SELECT p_partkey,
             list_filter([
               base,
               CASE WHEN no_spaces <> base THEN no_spaces END,
               CASE WHEN prefix <> '' THEN prefix || ' ' || num END,
               CASE WHEN prefix <> '' AND length(prefix) >= 2
                    THEN array_to_string(
                           [x || '.' FOR x IN string_split(prefix, '')], '')
                         || ' ' || num END
             ], x -> x IS NOT NULL) AS arr
      FROM built
    )
    SELECT p_partkey,
           coalesce(array_to_string(
             list_filter(arr, (x, i) -> NOT list_contains(arr[1:i-1], x)),
             '|'), '') AS variants
    FROM arrs
    """,
)
def fs2_bill_number_variants(spark, sf_dir):
    """F-s2 (legiscan_enricher.py:129-168, mirrored step-for-step):
    strip a 2-letter first token iff the remainder looks like a bill
    number (the F-s1 guard — deliberate divergence from the reference's
    unconditional strip, which destroys 'HB 12'), then ordered variants
    (stripped original; no-space/no-dot; 'PREFIX NUMBER' from the
    anchored letters+digits match; dotted for prefixes of length >= 2),
    order-preserving dedup. Parity with a Python port of the reference
    is pinned in tests/test_reference_parity.py, divergence cases
    expected-different.

    The variant array is final-projected through ``array_join(..., '|')``
    (``array_to_string`` in the oracle) because the driver's correctness
    gate canonicalizes rows via pandas and cannot hash list values —
    semantics are unchanged, the output is the same ordered variant
    sequence as one scalar string."""
    df = _messy_bill(load_table(spark, sf_dir, "part"))
    return df.select(
        "p_partkey",
        F.array_join(fx.bill_number_variants("raw_bill"), "|").alias("variants"),
    )


# -- F-s3/F-s4: status normalization ----------------------------------------

_RAW_STATUS_SQL = """
  SELECT o_orderkey,
         CASE o_orderkey % 7
           WHEN 0 THEN 'SIGNED by governor'
           WHEN 1 THEN 'CHAPTER 123'
           WHEN 2 THEN 'Public Act 99'
           WHEN 3 THEN 'ENROLLED'
           WHEN 4 THEN 'Third reading PASSED'
           WHEN 5 THEN 'Vetoed'
           ELSE 'In Committee'
         END AS raw_status
  FROM orders
"""


def _raw_status(df):
    k = F.col("o_orderkey")
    return df.select(
        "o_orderkey",
        F.when(k % 7 == 0, F.lit("SIGNED by governor"))
        .when(k % 7 == 1, F.lit("CHAPTER 123"))
        .when(k % 7 == 2, F.lit("Public Act 99"))
        .when(k % 7 == 3, F.lit("ENROLLED"))
        .when(k % 7 == 4, F.lit("Third reading PASSED"))
        .when(k % 7 == 5, F.lit("Vetoed"))
        .otherwise(F.lit("In Committee"))
        .alias("raw_status"),
    )


@register(
    "fs3_normalize_status",
    f"""
    SELECT status, count(*) AS cnt FROM (
      SELECT CASE
        WHEN regexp_matches(upper(coalesce(raw_status, '')), 'ENACT|CHAPTER|SIGNED|PUBLIC ACT') THEN 'Enacted'
        WHEN regexp_matches(upper(coalesce(raw_status, '')), 'PASS|ENROLL') THEN 'Passed'
        ELSE 'Other' END AS status
      FROM ({_RAW_STATUS_SQL})
    ) GROUP BY 1
    """,
)
def fs3_normalize_status(spark, sf_dir):
    """F-s3 (build_master_corpus.py:52-58): contains-classification into
    the Enacted|Passed|Other enum, then an A1 rollup."""
    df = _raw_status(load_table(spark, sf_dir, "orders"))
    return (
        df.select(fx.normalize_status("raw_status").alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# -- F-s12/F-s14: text cleanup + word count over documents ------------------

@register(
    "fs12_normalize_text_plain",
    r"""
    WITH messy AS (
      SELECT doc_id,
             'HEAD &amp; &#8212; start' || chr(12) || text
               || chr(10) || chr(10) || chr(10) || chr(10) || '42'
               || chr(10) || 'tail  &lt;end&gt;' AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       replace(replace(replace(replace(lower(raw),
                         '&amp;', '&'), '&nbsp;', ' '),
                         '&lt;', '<'), '&gt;', '>'),
                       '&#\d+;', ' ', 'g'),
                     '\f', chr(10), 'g'),
                   '[ \t]+', ' ', 'g'),
                 '\n{3,}', chr(10) || chr(10), 'g'),
               '(?m)^\s*\d+\s*$', '', 'g'),
             '^\s+', ''), '\s+$', '') AS clean_text
    FROM messy
    """,
)
def fs12_normalize_text_plain(spark, sf_dir):
    """F-s12 (normalize_corpus.py:118-133): the reference's
    normalize_plain_text chain IN ITS ORDER — lowercase, entity
    decode ('&amp;' first), all numeric entities to a space,
    form-feed -> newline, space collapse, 3+-newline collapse, THEN
    digit-only-line blanking, full-whitespace strip. Parity with a
    Python port of the reference is pinned in
    tests/test_reference_parity.py."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HEAD &amp; &#8212; start"),
        F.lit("\f"),
        F.col("text"),
        F.lit("\n\n\n\n42\ntail  &lt;end&gt;"),
    )
    return docs.select(
        "doc_id", fx.normalize_text_plain(raw).alias("clean_text")
    )


@register(
    "fs14_word_count",
    r"""
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
           length(text) AS n_chars
    FROM documents
    """,
)
def fs14_word_count(spark, sf_dir):
    """F-s14/F-s15 (normalize_corpus.py:182,225): whitespace word count +
    length, vectorized."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        fx.word_count("text").alias("n_words"),
        F.length("text").alias("n_chars"),
    )


@register(
    "fs13_doc_id_from_url",
    """
    SELECT o_orderkey,
           CAST(nullif(regexp_extract(
             'https://legiscan.com/CO/text/HB' || o_orderkey || '/id/' || (o_orderkey * 7),
             '/(\\d+)/?\\s*$', 1), '') AS BIGINT) AS doc_id
    FROM orders
    """,
)
def fs13_doc_id_from_url(spark, sf_dir):
    """F-s13 (fetch_texts.py:46-53): last integer path segment of a URL."""
    o = load_table(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://legiscan.com/CO/text/HB"),
        F.col("o_orderkey").cast("string"),
        F.lit("/id/"),
        (F.col("o_orderkey") * 7).cast("string"),
    )
    return o.select("o_orderkey", fx.doc_id_from_url(url).alias("doc_id"))


@register(
    "j4_make_bill_id",
    """
    SELECT c_custkey,
           upper(trim(substr(c_mktsegment, 1, 2))) || '_' || upper(trim(c_name)) AS bill_id
    FROM customer
    """,
)
def j4_make_bill_id(spark, sf_dir):
    """J4/F-s11 (build_master_corpus.py:125): surrogate-key construction
    upper(trim(a)) || '_' || upper(trim(b))."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        fx.make_bill_id(F.substring("c_mktsegment", 1, 2), F.col("c_name")).alias("bill_id"),
    )


# -- F-d1/F-d2/F-d3: date parsing -------------------------------------------

_MESSY_DATE_SQL = """
  SELECT o_orderkey, o_orderdate,
         CASE o_orderkey % 9
           WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
           WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
           WHEN 2 THEN strftime(o_orderdate, '%Y/%m/%d')
           WHEN 3 THEN strftime(o_orderdate, '%m-%d-%Y')
           WHEN 4 THEN strftime(o_orderdate, '%B %-d, %Y')
           WHEN 5 THEN strftime(o_orderdate, '%-m/%-d/%Y')
           WHEN 6 THEN strftime(o_orderdate, '%m/%d/%y')
           WHEN 7 THEN upper(strftime(o_orderdate, '%B %-d, %Y'))
           ELSE '0000-00-00'
         END AS raw_date
  FROM orders
"""


def _messy_date(df, *, spread=False):
    # ``spread=True`` round-robins the (narrow, 2-column) projection
    # across cores before the consumer's 8-format try_to_timestamp
    # chain, which on the 1-task scan of a byte-small orders file ran
    # serially (measured 2.1 s in ONE task at sf0.1).  Only fd1's
    # rollup benefits; the r9 placement also spread fd2, whose output
    # is the full per-row projection, and there the added exchange of
    # FULL-WIDTH orders rows (9 columns incl. the comment string)
    # cost more than it parallelized (0.79x at 8c — r9 verdict item
    # 1).  The projection now happens BEFORE the spread either way.
    df = df.select("o_orderkey", "o_orderdate")
    if spread:
        from dissertation_data_pipeline_spark.session import spread_small_scan

        df = spread_small_scan(df)
    k = F.col("o_orderkey")
    d = F.col("o_orderdate")
    return df.select(
        "o_orderkey",
        "o_orderdate",
        F.when(k % 9 == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(k % 9 == 1, F.date_format(d, "MM/dd/yyyy"))
        .when(k % 9 == 2, F.date_format(d, "yyyy/MM/dd"))
        .when(k % 9 == 3, F.date_format(d, "MM-dd-yyyy"))
        .when(k % 9 == 4, F.date_format(d, "MMMM d, yyyy"))
        .when(k % 9 == 5, F.date_format(d, "M/d/yyyy"))
        .when(k % 9 == 6, F.date_format(d, "MM/dd/yy"))
        .when(k % 9 == 7, F.upper(F.date_format(d, "MMMM d, yyyy")))
        .otherwise(F.lit("0000-00-00"))
        .alias("raw_date"),
    )


@register(
    "fd2_parse_date_multi",
    rf"""
    SELECT o_orderkey, raw_date,
           CAST(CASE
             WHEN regexp_matches(raw_date, '^\d{{4}}-\d{{1,2}}-\d{{1,2}}$')
               THEN try_strptime(raw_date, '%Y-%m-%d')
             WHEN regexp_matches(raw_date, '^\d{{1,2}}/\d{{1,2}}/\d{{4}}$')
               THEN try_strptime(raw_date, '%m/%d/%Y')
             WHEN regexp_matches(raw_date, '^\d{{1,2}}/\d{{1,2}}/\d{{2}}$')
               THEN try_strptime(raw_date, '%m/%d/%y')
             WHEN regexp_matches(raw_date, '^\d{{4}}/\d{{1,2}}/\d{{1,2}}$')
               THEN try_strptime(raw_date, '%Y/%m/%d')
             WHEN regexp_matches(raw_date, '^\d{{1,2}}-\d{{1,2}}-\d{{4}}$')
               THEN try_strptime(raw_date, '%m-%d-%Y')
             WHEN regexp_matches(raw_date, '^\d{{1,2}}-\d{{1,2}}-\d{{2}}$')
               THEN try_strptime(raw_date, '%m-%d-%y')
             ELSE coalesce(try_strptime(raw_date, '%B %d, %Y'),
                           try_strptime(raw_date, '%b %d, %Y'))
           END AS DATE) AS parsed
    FROM ({_MESSY_DATE_SQL})
    WHERE NOT regexp_matches(raw_date, '^0000')
    UNION ALL
    SELECT o_orderkey, raw_date, NULL::DATE
    FROM ({_MESSY_DATE_SQL})
    WHERE regexp_matches(raw_date, '^0000')
    """,
)
def fd2_parse_date_multi(spark, sf_dir):
    """F-d2 (legiscan_normalizer.py:172-216): multi-format fallback parse
    with the 0000-00-00 guard, NULL on failure (coerce semantics)."""
    df = _messy_date(load_table(spark, sf_dir, "orders"))
    return df.select(
        "o_orderkey", "raw_date", fx.parse_date_multi("raw_date").alias("parsed")
    )


@register(
    "fd1_lenient_year_rollup",
    rf"""
    SELECT y AS year, count(*) AS cnt FROM (
      SELECT year(CAST(CASE
             WHEN regexp_matches(raw_date, '^\d{{4}}-\d{{1,2}}-\d{{1,2}}$')
               THEN try_strptime(raw_date, '%Y-%m-%d')
             WHEN regexp_matches(raw_date, '^\d{{1,2}}/\d{{1,2}}/\d{{4}}$')
               THEN try_strptime(raw_date, '%m/%d/%Y')
             WHEN regexp_matches(raw_date, '^\d{{1,2}}/\d{{1,2}}/\d{{2}}$')
               THEN try_strptime(raw_date, '%m/%d/%y')
             WHEN regexp_matches(raw_date, '^\d{{4}}/\d{{1,2}}/\d{{1,2}}$')
               THEN try_strptime(raw_date, '%Y/%m/%d')
             WHEN regexp_matches(raw_date, '^\d{{1,2}}-\d{{1,2}}-\d{{4}}$')
               THEN try_strptime(raw_date, '%m-%d-%Y')
             WHEN regexp_matches(raw_date, '^\d{{1,2}}-\d{{1,2}}-\d{{2}}$')
               THEN try_strptime(raw_date, '%m-%d-%y')
             ELSE coalesce(try_strptime(raw_date, '%B %d, %Y'),
                           try_strptime(raw_date, '%b %d, %Y'))
           END AS DATE)) AS y
      FROM ({_MESSY_DATE_SQL})
      WHERE NOT regexp_matches(raw_date, '^0000')
      UNION ALL
      SELECT NULL FROM ({_MESSY_DATE_SQL}) WHERE regexp_matches(raw_date, '^0000')
    ) GROUP BY 1
    """,
)
def fd1_lenient_year_rollup(spark, sf_dir):
    """F-d1 (build_master_corpus.py:69): errors='coerce' year derivation,
    NULL bucket included — then the A1 by-year frequency the reference
    prints (build_corpus.py:119)."""
    df = _messy_date(load_table(spark, sf_dir, "orders"), spread=True)
    return (
        df.select(fx.lenient_year("raw_date").alias("year"))
        .groupBy("year")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "fd3_year_from_prefix",
    """
    SELECT o_orderkey,
           CASE WHEN y BETWEEN 1000 AND 9999 THEN y END AS year
    FROM (
      SELECT o_orderkey,
             TRY_CAST(substr(trim(strftime(o_orderdate, '%Y-%m-%d')), 1, 4) AS INTEGER) AS y
      FROM orders
    )
    """,
)
def fd3_year_from_prefix(spark, sf_dir):
    """F-d3 (build_corpus.py:28-32): year by 4-char string slice; NULL
    (not 0) on junk — documented deviation from the reference."""
    o = load_table(spark, sf_dir, "orders")
    iso = F.date_format("o_orderdate", "yyyy-MM-dd")
    return o.select("o_orderkey", fx.year_from_prefix(iso).alias("year"))


# -- F-a1/F-a3/F-a4/P9: keyword + theme ops over documents ------------------

KEYWORDS = ["spark", "window", "stream", "shuffle"]

THEME_RULES = {
    "perf": ["fast", "slow"],
    "relational": ["join", "filter", "merge"],
    "storage": ["table", "row", "batch"],
}


@register(
    "fa3_matched_keywords",
    """
    SELECT doc_id,
           coalesce(array_to_string(list_filter(['spark', 'window', 'stream', 'shuffle'],
                       k -> contains(lower(coalesce(text, '')), k)), '|'), '') AS matched,
           coalesce(array_to_string(list_filter(['spark', 'window', 'stream', 'shuffle'],
                       k -> contains(lower(coalesce(text, '')), k)), ', '), '') AS matched_joined
    FROM documents
    """,
)
def fa3_matched_keywords(spark, sf_dir):
    """P9/F-a3 (text_processor.py:99-111): case-insensitive substring
    OR-match; matched subset in keyword-list order + the reference's
    comma-joined parity column (legiscan_collector.py:222).

    Arrays are serialized with ``array_join`` in the final projection so
    the driver's pandas canonicalizer can hash the rows (it cannot sort
    list-valued cells); the keyword-order semantics are unchanged."""
    d = load_table(spark, sf_dir, "documents")
    matched = fx.matched_keywords("text", KEYWORDS)
    return d.select(
        "doc_id",
        F.array_join(matched, "|").alias("matched"),
        F.array_join(matched, ", ").alias("matched_joined"),
    )


@register(
    "p9_keyword_filter",
    """
    SELECT doc_id, lang FROM documents
    WHERE len(list_filter(['spark', 'window', 'stream', 'shuffle'],
              k -> contains(lower(coalesce(text, '')), k))) > 0
    """,
)
def p9_keyword_filter(spark, sf_dir):
    """P9 (legiscan_collector.py:210-212): keep rows matching any keyword."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(fx.keyword_filter_predicate("text", KEYWORDS)).select("doc_id", "lang")


@register(
    "fa1_theme_tags",
    """
    SELECT doc_id,
           coalesce(array_to_string(list_sort(list_filter([
             CASE WHEN regexp_matches(lower(coalesce(text, '')), 'fast|slow') THEN 'perf' END,
             CASE WHEN regexp_matches(lower(coalesce(text, '')), 'join|filter|merge') THEN 'relational' END,
             CASE WHEN regexp_matches(lower(coalesce(text, '')), 'table|row|batch') THEN 'storage' END
           ], x -> x IS NOT NULL)), '|'), '') AS tags
    FROM documents
    """,
)
def fa1_theme_tags(spark, sf_dir):
    """F-a1 (tag_metadata.py:7-26): per-theme any-of-regex tagging into a
    sorted tag array, serialized with ``array_join(..., '|')`` so the
    driver gate can hash the rows (lists are unhashable in its pandas
    canonicalizer)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_join(fx.theme_tags("text", THEME_RULES), "|").alias("tags"),
    )


@register(
    "fj3_base64_roundtrip",
    """
    SELECT doc_id,
           octet_length(from_base64(to_base64(encode(text)))) AS decoded_len,
           length(text) AS orig_len
    FROM documents
    """,
)
def fj3_base64_roundtrip(spark, sf_dir):
    """F-j3 (text_processor.py:30, legiscan_api.py:120-125): base64
    decode path — unbase64(base64(x)) roundtrip, byte length preserved."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length(F.unbase64(F.base64(F.col("text").cast("binary")))).alias(
            "decoded_len"
        ),
        F.length("text").alias("orig_len"),
    )


# -- W3/F-j2/P6: nested-array ops -------------------------------------------

@register(
    "w3_fj2_nested_arrays",
    """
    WITH agg AS (
      SELECT l_orderkey,
             list(l_quantity ORDER BY l_quantity ASC, l_linenumber ASC) AS qty_list
      FROM lineitem GROUP BY 1
    )
    SELECT l_orderkey,
           coalesce(array_to_string(
             list_transform(qty_list, q -> CAST(CAST(q AS BIGINT) AS VARCHAR)), '|'), '')
             AS qty_list,
           qty_list[-1] AS max_qty,
           len(list_filter(qty_list, q -> q >= 49)) > 0 AS has_big
    FROM agg
    """,
)
def w3_fj2_nested_arrays(spark, sf_dir):
    """W3/F-j2/P6 (legiscan_enricher.py:299-301, legiscan_collector.py:
    82-89): nested-list build (deterministic sort), latest/last element
    extraction, exists-predicate over the array.

    The nested list itself is final-projected as a '|'-joined string of
    integral quantities (l_quantity is integral in the testdata) so the
    driver gate can hash it; max/exists still run over the real array."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.array_sort(F.collect_list(F.struct("l_quantity", "l_linenumber")))
    return (
        li.groupBy("l_orderkey")
        .agg(F.transform(qty, lambda s: s["l_quantity"]).alias("qty_arr"))
        .select(
            "l_orderkey",
            F.array_join(
                F.transform("qty_arr", lambda q: q.cast("long").cast("string")), "|"
            ).alias("qty_list"),
            F.element_at("qty_arr", -1).alias("max_qty"),
            F.exists("qty_arr", lambda q: q >= 49).alias("has_big"),
        )
    )


# -- P6/P7: status-set + year-range predicates ------------------------------

@register(
    "p6_p7_predicates",
    """
    SELECT o_orderkey, o_orderstatus, o_orderdate FROM orders
    WHERE o_orderstatus IN ('F', 'P')
      AND year(o_orderdate) BETWEEN 1996 AND 1999
    """,
)
def p6_p7_predicates(spark, sf_dir):
    """P6/P7 (legiscan_collector.py:26-30,102-109): final-status set
    membership + year-in-range predicate."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        & F.year("o_orderdate").between(1996, 1999)
    ).select("o_orderkey", "o_orderstatus", "o_orderdate")


# -- F-s4/F-s5/F-s10: status decode, title case, safe filename --------------

@register(
    "fs4_status_decode",
    """
    SELECT o_orderkey,
           CASE (o_orderkey % 8)
             WHEN 0 THEN 'N/A'
             WHEN 1 THEN 'Introduced' WHEN 2 THEN 'Engrossed'
             WHEN 3 THEN 'Enrolled' WHEN 4 THEN 'Passed'
             WHEN 5 THEN 'Vetoed' WHEN 6 THEN 'Failed'
             ELSE 'Status ' || CAST(o_orderkey % 8 AS VARCHAR)
           END AS status_label
    FROM orders
    """,
)
def fs4_status_decode(spark, sf_dir):
    """F-s4 (legiscan_collector.py:91-100): int status code -> label,
    including the reference's 0 -> 'N/A' default and the
    'Status <n>' rendering for unknown codes (the %8 synthesis
    exercises code 7). The progress-event override is exercised in
    the collect_bills pipeline tests."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        fx.decode_status_code(F.col("o_orderkey") % 8).alias("status_label"),
    )


@register(
    "fs5_title_case",
    """
    SELECT c_custkey,
           array_to_string(
             list_transform(string_split(lower(c_mktsegment || ' ' || c_name), ' '),
                            w -> upper(w[1:1]) || w[2:]),
             ' ') AS titled
    FROM customer
    """,
)
def fs5_title_case(spark, sf_dir):
    """F-s5 (legiscan_normalizer.py:165-169): title case via initcap.
    Documented deviation from Python str.title(): word boundaries are
    whitespace only (initcap semantics), which the oracle mirrors."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        fx.title_case(F.lower(F.concat_ws(" ", "c_mktsegment", "c_name"))).alias("titled"),
    )


@register(
    "fs10_safe_filename",
    r"""
    SELECT p_partkey,
           regexp_replace(p_name || '/' || p_brand, '[/\\ ]', '_', 'g') AS fname
    FROM part
    """,
)
def fs10_safe_filename(spark, sf_dir):
    """F-s10 (text_processor.py:127): slash/backslash/space -> underscore."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        fx.safe_filename(F.concat_ws("/", "p_name", "p_brand")).alias("fname"),
    )


# -- F-a2/F-a4, F-j1, F-s9: amendment heuristic, flatten, state code --------

@register(
    "fa4_is_amendment",
    """
    SELECT doc_id,
           (contains(lower(coalesce(title, '')), 'amend')
            OR contains(lower(coalesce(title, '')), 'relating to')
            OR contains(lower(coalesce(title, '')), 'concerning')
            OR contains(lower(coalesce(title, '')), 'modifying')
            OR contains(lower(coalesce(title, '')), 'revising')
            OR contains(lower(coalesce(title, '')), 'repealing')
            OR contains(lower(coalesce(title, '')), 'adding to')
            OR (contains(lower(coalesce(body, '')), 'be it enacted')
                AND contains(lower(substr(coalesce(body, ''), 1, 500)),
                             'amend'))
           ) AS is_amendment
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN 'An act to amend the school code'
                  WHEN doc_id % 5 = 1 THEN 'Relating to firearm storage'
                  WHEN doc_id % 5 = 2 THEN 'Revising chapter 12'
                  ELSE 'A new appropriations act' END AS title,
             CASE WHEN doc_id % 4 = 1
                  THEN 'amend this statute. ' || text || ' be it enacted'
                  ELSE text END AS body
      FROM documents
    )
    """,
)
def fa4_is_amendment(spark, sf_dir):
    """F-a4 (normalize_corpus.py:64-81): amendment heuristic with the
    reference's FULL signal list (incl. 'relating to' / 'revising')
    and the asymmetric text rule — enacting clause ANYWHERE in the
    text, 'amend' within the first 500 chars. The %4==1 bodies append
    the clause at the END, past 500 chars for most documents, so the
    full-text scope is genuinely exercised. Parity with a Python port
    of the reference is pinned in tests/test_reference_parity.py."""
    d = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    staged = d.select(
        "doc_id",
        F.when(k % 5 == 0, F.lit("An act to amend the school code"))
        .when(k % 5 == 1, F.lit("Relating to firearm storage"))
        .when(k % 5 == 2, F.lit("Revising chapter 12"))
        .otherwise(F.lit("A new appropriations act"))
        .alias("title"),
        F.when(
            k % 4 == 1,
            F.concat(
                F.lit("amend this statute. "),
                F.col("text"),
                F.lit(" be it enacted"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("body"),
    )
    return staged.select(
        "doc_id", fx.is_amendment("title", "body").alias("is_amendment")
    )


@register(
    "fj1_flatten_structs",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
    FROM events
    """,
)
def fj1_flatten_structs(spark, sf_dir):
    """F-j1 (normalize_json.py:10): one-level flatten of nested records
    — parse the JSON column to a struct, then star-expand with dotted
    names projected flat (pd.json_normalize(max_level=1) semantics)."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_id", "event_type", F.from_json("props", "k BIGINT").alias("props")
    )
    # star-expansion: each struct field becomes a flat prefixed column
    return parsed.select(
        "event_id",
        "event_type",
        F.col("props.k").alias("props_k"),
    )


@register(
    "fs9_state_code",
    """
    SELECT c_custkey,
           CASE WHEN regexp_matches(upper(trim(raw)), '^[A-Z]{2}$')
                THEN upper(trim(raw)) END AS state_code
    FROM (
      SELECT c_custkey,
             CASE c_custkey % 3 WHEN 0 THEN ' co ' WHEN 1 THEN 'Colorado'
                                ELSE 'WY' END AS raw
      FROM customer
    )
    """,
)
def fs9_state_code(spark, sf_dir):
    """F-s9 (legiscan_enricher.py:250-252): 2-letter state codes pass
    through (upper/trim), anything else -> NULL (the reference sliced
    full names blindly — documented fix, full names go through the dim
    join J2)."""
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    raw = (
        F.when(k % 3 == 0, F.lit(" co "))
        .when(k % 3 == 1, F.lit("Colorado"))
        .otherwise(F.lit("WY"))
    )
    return c.select("c_custkey", fx.state_code(raw).alias("state_code"))


# -- F-s6/F-s7/F-s15, F-s11/F-a2: string normalize + field concat -----------

@register(
    "fs6_fs7_fs15_string_normalize",
    """
    SELECT s_suppkey,
           upper(trim(s_name)) AS name_upper,
           lower(trim(s_name)) AS name_lower,
           trim(concat('  ', s_name, '\t')) AS url_norm,
           length(s_name) AS name_len
    FROM supplier
    """,
)
def fs6_fs7_fs15_string_normalize(spark, sf_dir):
    """F-s6 (trim/upper/lower, pervasive e.g. build_corpus.py:68-75) +
    F-s7 (legiscan_normalizer.py:219-223: URL str-cast + strip) +
    F-s15 (build_corpus.py:84: ``str.len``) — pure built-in columns."""
    s = load_table(spark, sf_dir, "supplier")
    padded = F.concat(F.lit("  "), F.col("s_name"), F.lit("\t"))
    return s.select(
        "s_suppkey",
        F.upper(F.trim("s_name")).alias("name_upper"),
        F.lower(F.trim("s_name")).alias("name_lower"),
        F.trim(padded).alias("url_norm"),
        F.length("s_name").alias("name_len"),
    )


@register(
    "fs11_fa2_concat_fields",
    """
    SELECT n_nationkey,
           concat_ws('_', upper(trim(n_name)), CAST(n_regionkey AS VARCHAR))
             AS dim_key,
           concat_ws(' ',
             coalesce(CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_name END, ''),
             coalesce(CASE WHEN n_nationkey % 4 = 0 THEN NULL
                           ELSE lower(n_name) END, ''))
             AS search_text
    FROM nation
    """,
)
def fs11_fa2_concat_fields(spark, sf_dir):
    """F-s11 (legiscan_collector.py:222: label/key concat) + F-a2
    (tag_metadata.py:24-25: row-wise multi-column text concat with
    NaN→'' fill) — ``concat_ws`` over coalesced columns; missing
    fields synthesized deterministically."""
    n = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    return n.select(
        "n_nationkey",
        F.concat_ws(
            "_", F.upper(F.trim("n_name")), F.col("n_regionkey").cast("string")
        ).alias("dim_key"),
        F.concat_ws(
            " ",
            F.coalesce(F.when(k % 3 != 0, F.col("n_name")), F.lit("")),
            F.coalesce(F.when(k % 4 != 0, F.lower(F.col("n_name"))), F.lit("")),
        ).alias("search_text"),
    )


# -- [EXT] URL canonicalization (the crawl pipeline's zeroth dedup tier)----

def _url_variants_sql() -> str:
    """Deterministic synthetic raw URLs from customer keys — one
    variant per canonicalization rule (case, default/non-default
    ports, tracking params, param order, fragment, empty path,
    non-http scheme, non-URL garbage)."""
    return """
      CASE c_custkey % 6
        WHEN 0 THEN 'HTTP://WWW.Example' || (c_custkey % 5)
                    || '.COM:80/Path/' || c_custkey
                    || '?utm_source=news&b=2&a=1#frag'
        WHEN 1 THEN 'https://Example' || (c_custkey % 5)
                    || '.com:443/a/b?z=9&a=1&utm_campaign=x'
        WHEN 2 THEN 'https://sub.example' || (c_custkey % 5)
                    || '.co:8443/x?fbclid=abc'
        WHEN 3 THEN 'http://example' || (c_custkey % 5) || '.org'
        WHEN 4 THEN 'ftp://Files.Example' || (c_custkey % 5)
                    || '.net/data?ref=h&q=1'
        ELSE 'not a url ' || c_custkey
      END
    """


def _url_variants_col():
    k = F.col("c_custkey")
    m5 = (k % 5).cast("string")
    return (
        F.when(
            k % 6 == 0,
            F.concat(
                F.lit("HTTP://WWW.Example"), m5, F.lit(".COM:80/Path/"),
                k.cast("string"), F.lit("?utm_source=news&b=2&a=1#frag"),
            ),
        )
        .when(
            k % 6 == 1,
            F.concat(
                F.lit("https://Example"), m5,
                F.lit(".com:443/a/b?z=9&a=1&utm_campaign=x"),
            ),
        )
        .when(
            k % 6 == 2,
            F.concat(
                F.lit("https://sub.example"), m5, F.lit(".co:8443/x?fbclid=abc")
            ),
        )
        .when(k % 6 == 3, F.concat(F.lit("http://example"), m5, F.lit(".org")))
        .when(
            k % 6 == 4,
            F.concat(
                F.lit("ftp://Files.Example"), m5, F.lit(".net/data?ref=h&q=1")
            ),
        )
        .otherwise(F.concat(F.lit("not a url "), k.cast("string")))
    )


@register(
    "ext_url_canonicalize",
    f"""
    WITH raw AS (
      SELECT c_custkey, {_url_variants_sql()} AS raw_url FROM customer
    ),
    u AS (
      SELECT c_custkey, raw_url,
             {fu.url_canonical_sql('raw_url')} AS u
      FROM raw
    )
    SELECT c_custkey, u.canon AS url_canon, u.host AS host,
           u.domain AS registered_domain
    FROM u
    """,
)
def ext_url_canonicalize(spark, sf_dir):
    """[EXT] URL canonicalization (functions/urls.py) — the crawl
    pipeline's zeroth dedup tier, run before any content is fetched:
    lowercase scheme/host, drop fragments / default ports / tracking
    params (utm_*, fbclid, gclid, ref), sort surviving params, '/'
    for empty paths, two-label registered-domain heuristic (a PSL
    snapshot would rot; documented approximation). Non-URLs
    canonicalize to NULL. Raw URLs are synthesized deterministically
    from customer keys — one variant per rule — the same move the
    reference-shape scalar queries use for shapes the testdata lacks
    (e.g. fs9 state codes). Pure regex/array codegen expressions; the
    oracle applies the IDENTICAL regexes via url_canonical_sql, which
    lives beside the engine function so the rules cannot drift."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", _url_variants_col().alias("raw_url")
    )
    return c.select(
        "c_custkey",
        fu.canonicalize_url("raw_url").alias("url_canon"),
        fu.url_host("raw_url").alias("host"),
        fu.url_registered_domain("raw_url").alias("registered_domain"),
    )
