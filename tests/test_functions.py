"""Unit tests for the scalar expression library (SURVEY §2.8)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from dissertation_data_pipeline_spark import functions as fx


def vals(spark, col, rows, schema="v string"):
    df = spark.createDataFrame([(r,) for r in rows], schema)
    return [r[0] for r in df.select(col.alias("out")).collect()]


def test_normalize_bill_number(spark):
    out = vals(
        spark,
        fx.normalize_bill_number("v"),
        ["AL HB209", "H.B. 123", "HB 209", "hb1336", " SB18-269 ", "HJR19"],
    )
    assert out == ["HB209", "HB123", "HB209", "HB1336", "SB18-269", "HJR19"]


def test_bill_number_variants(spark):
    # guarded strip (deliberate divergence from legiscan_enricher.py:
    # 138-144, which strips ANY 2-char first token and destroys
    # 'HB 209' -> '209'): the prefix is dropped only when the
    # remainder looks like a bill number, so 'HB 209' stays intact
    # and every variant re-normalizes to normalize_bill_number's
    # compact form (divergence pinned in test_reference_parity.py)
    out = vals(spark, fx.bill_number_variants("v"), ["HB 209"])
    assert out == [["HB 209", "HB209", "H.B. 209"]]
    out = vals(spark, fx.bill_number_variants("v"), ["SB70"])
    assert out == [["SB70", "SB 70", "S.B. 70"]]
    out = vals(spark, fx.bill_number_variants("v"), ["CA AB123"])
    assert out == [["AB123", "AB 123", "A.B. 123"]]


def test_normalize_status(spark):
    out = vals(
        spark,
        fx.normalize_status("v"),
        ["SIGNED by governor", "CHAPTER 123", "Public Act 99", "enrolled", "passed", "Vetoed", None],
    )
    assert out == ["Enacted", "Enacted", "Enacted", "Passed", "Passed", "Other", "Other"]


def test_make_bill_id(spark):
    df = spark.createDataFrame([(" co ", " hb1336 ")], "s string, b string")
    assert df.select(fx.make_bill_id("s", "b").alias("o")).collect()[0][0] == "CO_HB1336"


def test_is_missing(spark):
    out = vals(spark, fx.is_missing("v").cast("string"), [None, "", "  ", "not found", "x"])
    assert out == ["true", "true", "true", "true", "false"]


def test_parse_date_multi(spark):
    cases = {
        "2020-01-15": datetime.date(2020, 1, 15),
        "01/15/2020": datetime.date(2020, 1, 15),
        "01/15/20": datetime.date(2020, 1, 15),
        "2020/01/15": datetime.date(2020, 1, 15),
        "01-15-2020": datetime.date(2020, 1, 15),
        "January 15, 2020": datetime.date(2020, 1, 15),
        "Jan 15, 2020": datetime.date(2020, 1, 15),
        "0000-00-00": None,
        "garbage": None,
        None: None,
    }
    out = vals(spark, fx.parse_date_multi("v"), list(cases))
    assert out == list(cases.values())


def test_word_count(spark):
    out = vals(spark, fx.word_count("v"), ["a b  c", "", None, " x "])
    assert out == [3, 0, 0, 1]


def test_doc_id_from_url(spark):
    out = vals(
        spark,
        fx.doc_id_from_url("v"),
        ["https://legiscan.com/CO/text/HB1336/id/383705", "https://x/id/99/", "nope"],
    )
    assert out == [383705, 99, None]


def test_normalize_text_plain(spark):
    raw = "A &amp; B\f\n\n\n\n42\nkeep  this"
    out = vals(spark, fx.normalize_text_plain("v"), [raw])
    # lowercased per the reference (normalize_corpus.py:121)
    assert out == ["a & b\n\nkeep this"]


def test_matched_keywords_and_tags(spark):
    kws = ["school shooting", "firearm"]
    out = vals(spark, fx.matched_keywords("v", kws), ["About FIREARM safety", "none here"])
    assert out == [["firearm"], []]
    rules = {"guns": ["firearm", "weapon"], "safety": ["safety"]}
    out = vals(spark, fx.theme_tags("v", rules), ["Firearm safety act"])
    assert out == [["guns", "safety"]]


def test_is_amendment(spark):
    df = spark.createDataFrame(
        [
            ("An act to amend title 22", "whatever"),
            ("New school act", "Be it enacted ... to amend section 3"),
            ("New school act", "nothing relevant"),
        ],
        "t string, x string",
    )
    out = [r[0] for r in df.select(fx.is_amendment("t", "x").alias("o")).collect()]
    assert out == [True, True, False]


def test_state_code(spark):
    out = vals(spark, fx.state_code("v"), ["co", " CO ", "Colorado", None])
    assert out == ["CO", "CO", None, None]


# ------------------------------------------------------- column encryption
def test_aes_roundtrip_and_mode_semantics(spark):
    from pyspark.sql import functions as F

    from dissertation_data_pipeline_spark.functions.crypto import (
        decrypt_col,
        encrypt_col,
    )

    key = "0123456789abcdef"  # 16-byte AES-128 key
    df = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "alice")], "id long, name string"
    )
    # GCM: roundtrip exact, but NOT deterministic (random IV per value)
    gcm = df.select(
        "id", "name", encrypt_col("name", key).alias("ct")
    )
    back = gcm.select("id", "name", decrypt_col("ct", key).alias("pt"))
    assert all(r["pt"] == r["name"] for r in back.collect())
    cts = [r["ct"] for r in gcm.filter(F.col("name") == "alice").collect()]
    assert cts[0] != cts[1]  # equal plaintexts, different ciphertexts

    # ECB: deterministic -> usable as join/group key (documented tradeoff)
    ecb = df.select(
        "name", encrypt_col("name", key, mode="ECB").alias("ct")
    )
    cts = [r["ct"] for r in ecb.filter(F.col("name") == "alice").collect()]
    assert cts[0] == cts[1]
    groups = ecb.groupBy("ct").count().collect()
    assert sorted(r["count"] for r in groups) == [1, 2]


def test_normalize_bill_number_dotted_state_prefix(spark):
    from dissertation_data_pipeline_spark.functions.text import (
        bill_number_variants,
        normalize_bill_number,
    )

    df = spark.createDataFrame(
        [("AL H.B. 209",), ("AL HB209",), ("HB 209",), ("H.B. 123",)],
        "raw string",
    )
    out = [r[0] for r in df.select(normalize_bill_number("raw")).collect()]
    # the state prefix strips even when the bill prefix is dotted
    assert out == ["HB209", "HB209", "HB209", "HB123"]
    v = df.limit(1).select(bill_number_variants("raw").alias("v")).collect()[0].v
    assert "HB209" in v and "HB 209" in v  # usable lookup variants


def test_normalize_text_plain_amp_first_double_decode(spark):
    from dissertation_data_pipeline_spark.functions.text import normalize_text_plain

    df = spark.createDataFrame([("&amp;lt;tag&amp;gt; and &amp; x",)], "t string")
    got = df.select(normalize_text_plain("t")).collect()[0][0]
    # the reference decodes '&amp;' FIRST (normalize_corpus.py:122),
    # so '&amp;lt;' double-decodes to '<' — parity over prettiness
    assert got == "<tag> and & x"


def test_parse_date_multi_two_digit_year_pivot(spark):
    # strptime %y semantics: 00-68 -> 2000s, 69-99 -> 1900s
    from dissertation_data_pipeline_spark.functions.dates import parse_date_multi

    df = spark.createDataFrame(
        [("01/15/99",), ("01/15/20",), ("01/15/69",), ("01/15/2099",)],
        "raw string",
    )
    got = [str(r[0]) for r in df.select(parse_date_multi("raw")).collect()]
    assert got == ["1999-01-15", "2020-01-15", "1969-01-15", "2099-01-15"]


def test_matched_keywords_preserves_original_casing(spark):
    from dissertation_data_pipeline_spark.functions.arrays import matched_keywords

    df = spark.createDataFrame([("about school shooting laws",)], "t string")
    got = df.select(
        matched_keywords("t", ["School Shooting", "Firearm"]).alias("m")
    ).collect()[0].m
    assert list(got) == ["School Shooting"]  # matched, original case kept


# --- URL canonicalization --------------------------------------------------

def test_url_canonicalize_rules(spark):
    """Each canonicalization rule, pinned on handwritten URLs."""
    from dissertation_data_pipeline_spark.functions import urls as fu

    rows = [
        ("HTTP://WWW.Ex.COM:80/P/1?utm_source=n&b=2&a=1#f",
         "http://www.ex.com/P/1?a=1&b=2", "www.ex.com", "ex.com"),
        ("https://Ex.com:443/a/b?z=9&a=1&utm_campaign=x",
         "https://ex.com/a/b?a=1&z=9", "ex.com", "ex.com"),
        # non-default port kept; tracking-only query drops entirely
        ("https://sub.ex.co:8443/x?fbclid=abc",
         "https://sub.ex.co:8443/x", "sub.ex.co:8443", "ex.co"),
        # empty path -> '/'
        ("http://ex.org", "http://ex.org/", "ex.org", "ex.org"),
        # non-http scheme: port rules don't apply, ref param dropped
        ("ftp://F.Ex.net:80/data?ref=h&q=1",
         "ftp://f.ex.net:80/data?q=1", "f.ex.net:80", "ex.net"),
        # not a URL -> NULL canon
        ("not a url 7", None, "", ""),
        # case preserved in path/query
        ("https://A.B/Path?Q=Vv", "https://a.b/Path?Q=Vv", "a.b", "a.b"),
    ]
    df = spark.createDataFrame([(r[0],) for r in rows], "raw string")
    got = df.select(
        "raw",
        fu.canonicalize_url("raw").alias("c"),
        fu.url_host("raw").alias("h"),
        fu.url_registered_domain("raw").alias("d"),
    ).collect()
    by_raw = {r["raw"]: r for r in got}
    for raw, canon, host, dom in rows:
        r = by_raw[raw]
        assert r["c"] == canon, (raw, r["c"])
        assert r["h"] == host, (raw, r["h"])
        assert r["d"] == dom, (raw, r["d"])
