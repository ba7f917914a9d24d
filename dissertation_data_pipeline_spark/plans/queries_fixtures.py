"""Gate rows for the IO surfaces that have no data-plane table: the
bulk-dataset DataSource (S7), the stdlib Excel reader (S2), and PDF
text extraction (U-f2) run against small fixtures COMMITTED to the
repo, so the external DuckDB gate hash-verifies them like any other
query instead of trusting pytest alone.

The fixtures are deterministic by construction (hand-written JSON, a
one-sheet xlsx written by the engine's own codec, a Flate text-object
PDF), and the oracles are independent re-statements: DuckDB reads the
same JSON files for S7; the xlsx/PDF oracles are literal VALUES — the
expected content written down separately from the code under test.
These queries ignore ``sf_dir`` on purpose: their input is the
fixture, the same at every scale factor.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dissertation_data_pipeline_spark.plans.registry import register
from dissertation_data_pipeline_spark.session import plan_text
from dissertation_data_pipeline_spark.sources.layout import zorder_value
from dissertation_data_pipeline_spark.tables import load_table

#: repo root, derived from this file's location so the driver's cwd
#: never matters (plans/ -> package -> repo)
_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_FIX = os.path.join(_REPO, "tests", "fixtures")


@register(
    "s7_bulk_datasets_fixture",
    f"""
    SELECT l.dataset_id,
           l.content_hash,
           r.record_id,
           r.payload
    FROM read_json('{_FIX}/s7_bulk/datasets.json',
                    columns = {{'dataset_id': 'VARCHAR',
                                'content_hash': 'VARCHAR'}}) l
    JOIN (
      SELECT regexp_extract(filename, 'dataset-(.*)\\.json', 1) AS dataset_id,
             record_id, payload
      FROM read_json('{_FIX}/s7_bulk/dataset-*.json',
                     columns = {{'record_id': 'VARCHAR',
                                 'payload': 'VARCHAR'}},
                     filename = true)
    ) r USING (dataset_id)
    """,
)
def s7_bulk_datasets_fixture(spark, sf_dir):
    """S7 as a gate row: the batch bulk-dataset DataSource reads the
    committed fixture feed (one partition per dataset, no state file
    so every dataset is 'changed'); the oracle joins the same listing
    and dataset JSON files in DuckDB."""
    from dissertation_data_pipeline_spark.sources.datasource import (
        HAVE_DATASOURCE_API,
        BulkDatasetsDataSource,
    )

    if not HAVE_DATASOURCE_API:  # pragma: no cover - pyspark>=4 here
        raise RuntimeError("bulk_datasets needs the pyspark-4 DataSource API")
    spark.dataSource.register(BulkDatasetsDataSource)
    return (
        spark.read.format("bulk_datasets")
        .option("endpoint", f"file://{_FIX}/s7_bulk")
        .load()
    )


@register(
    "s2_excel_fixture",
    """
    SELECT * FROM (VALUES
      ('CO', 'HB1',  'School Finance', 2023),
      ('WY', 'SB2',  NULL,             2022),
      ('CO', 'HB22', 'Water Rights',   2024)
    ) AS t(state, bill_number, title, year)
    """,
)
def s2_excel_fixture(spark, sf_dir):
    """S2 as a gate row: the stdlib xlsx codec reads the committed
    one-sheet workbook and conforms it to a typed contract; the oracle
    states the expected sheet content as literal VALUES."""
    from dissertation_data_pipeline_spark.sources.io import read_excel

    schema = StructType(
        [
            StructField("state", StringType()),
            StructField("bill_number", StringType()),
            StructField("title", StringType()),
            StructField("year", IntegerType()),
        ]
    )
    return read_excel(spark, f"{_FIX}/s2_bills.xlsx", schema)


@register(
    "uf2_pdf_fixture",
    """
    SELECT 'B1' AS bill_id,
           'Colorado HB1 establishes school finance '
           || 'provisions for the 2023 fiscal year.' AS raw_text
    """,
)
def uf2_pdf_fixture(spark, sf_dir):
    """U-f2 as a gate row: extract_documents (the mapInPandas decision
    stage) decodes the committed Flate text-object PDF; the oracle
    states the expected extracted text literally.  Extracted text is
    whitespace-normalized on the Spark side so the row is
    environment-independent: pdf_to_text prefers pypdf when installed,
    and pypdf's line-break/layout whitespace differs from the stdlib
    fallback while the token stream is identical."""
    import base64

    from dissertation_data_pipeline_spark.operators.text_udf import (
        extract_documents,
    )

    with open(f"{_FIX}/uf2_bill.pdf", "rb") as fh:
        payload = base64.b64encode(fh.read()).decode()
    docs = spark.createDataFrame(
        [("B1", "application/pdf", payload)],
        "bill_id string, mime string, doc_b64 string",
    )
    return extract_documents(docs).select(
        "bill_id",
        F.regexp_replace(F.trim(F.col("raw_text")), r"\s+", " ").alias(
            "raw_text"
        ),
    )


@register(
    "uf1_html_fixture",
    """
    SELECT 'B2' AS bill_id,
           'html' AS original_format,
           'Colorado HB2 Water Storage House Bill 2 Concerning water '
           || 'rights & storage projects in the state. The commission '
           || 'shall adopt rules by July 1. Section 2: remains in '
           || 'force. Appropriation: "5,000 dollars" from the general '
           || 'fund.' AS normalized_text,
           TRUE AS strikethrough_detected,
           CAST(131 AS INT) AS strikethrough_chars_removed,
           'html_tags_and_css' AS strikethrough_detection_method,
           FALSE AS strikethrough_limitation_flag
    """,
)
def uf1_html_fixture(spark, sf_dir):
    """U-f1/U-f3 as a gate row: extract_documents decodes the committed
    HTML bill (reference text_processor.py:43-64, normalize_corpus.py:
    84-133 cases: <s>/<del> elements, a CSS line-through span,
    script/style blocks, &amp;/&quot; entities, a standalone
    line-number line) and the oracle states the expected normalized
    text and the full strikethrough decision literally — 131 chars
    struck via both detection methods, the "12" line gone, entities
    decoded, script/style dropped.

    Environment note: normalized_text (not raw_text) is asserted,
    whitespace-collapsed on the Spark side — bs4-present and
    regex-fallback extraction differ in whitespace but now decode
    entities identically (the fallback applies stdlib html.unescape,
    matching bs4's parse-time decoding; numeric entities like &#8217;
    yield U+2019 on both paths — pinned in
    tests/test_sources_and_udfs.py)."""
    import base64

    from dissertation_data_pipeline_spark.operators.text_udf import (
        extract_documents,
    )

    with open(f"{_FIX}/uf1_bill.html", "rb") as fh:
        payload = base64.b64encode(fh.read()).decode()
    docs = spark.createDataFrame(
        [("B2", "text/html", payload)],
        "bill_id string, mime string, doc_b64 string",
    )
    return extract_documents(docs).select(
        "bill_id",
        "original_format",
        F.regexp_replace(F.trim(F.col("normalized_text")), r"\s+", " ").alias(
            "normalized_text"
        ),
        "strikethrough_detected",
        "strikethrough_chars_removed",
        "strikethrough_detection_method",
        "strikethrough_limitation_flag",
    )


# ---------------------------------------------------------------------------
# Gate rows for the remaining T-only IO surfaces — S1 CSV, S4
# JSONL, S5 JSON-in-ZIP, S9 text-dir scans, plus K1/K2/K4 sink
# round-trips.  Scans read committed fixtures oracled by DuckDB's OWN
# independent readers where one exists (read_csv / read_json /
# read_text) and literal VALUES where none does (ZIP).  Round-trips
# write engine output to a temp layout, re-read it through the matching
# scan, and oracle the CONTENT (the same SQL that produced it) — so a
# quoting, NULL-canonicalization, or partition-column bug on either
# side of the sink breaks the hash.
# ---------------------------------------------------------------------------


@register(
    "s1_csv_fixture",
    f"""
    SELECT * FROM read_csv('{_FIX}/s1_bills.csv',
      columns = {{'state': 'VARCHAR', 'bill_number': 'VARCHAR',
                  'title': 'VARCHAR', 'year': 'INT'}},
      header = true)
    """,
)
def s1_csv_fixture(spark, sf_dir):
    """S1 as a gate row: the contract CSV scan reads the committed file
    (quoted comma field, RFC-4180 doubled quotes, empty-cell NULL, int
    cast); the oracle is DuckDB's independent CSV reader over the same
    bytes.  Reference: pd.read_csv ingest (build_master_corpus.py:64)."""
    from dissertation_data_pipeline_spark.sources.io import read_csv

    schema = StructType(
        [
            StructField("state", StringType()),
            StructField("bill_number", StringType()),
            StructField("title", StringType()),
            StructField("year", IntegerType()),
        ]
    )
    return read_csv(spark, f"{_FIX}/s1_bills.csv", schema)


@register(
    "s4_jsonl_fixture",
    f"""
    SELECT * FROM read_json('{_FIX}/s4_records.jsonl',
      columns = {{'record_id': 'VARCHAR', 'state': 'VARCHAR',
                  'score': 'BIGINT'}},
      format = 'newline_delimited')
    """,
)
def s4_jsonl_fixture(spark, sf_dir):
    """S4 as a gate row: the JSONL scan with a pinned schema reads the
    committed file (one record missing a field, one explicit null —
    both must land as NULL); DuckDB's read_json is the oracle.
    Reference: normalize_json.py:8."""
    from dissertation_data_pipeline_spark.sources.io import read_jsonl

    schema = StructType(
        [
            StructField("record_id", StringType()),
            StructField("state", StringType()),
            StructField("score", LongType()),
        ]
    )
    return read_jsonl(spark, f"{_FIX}/s4_records.jsonl", schema)


@register(
    "s5_zip_fixture",
    """
    SELECT * FROM (VALUES
      ('doc_a.json', 'a', 'passed', CAST(3 AS BIGINT)),
      ('doc_b.json', 'b', 'failed', CAST(5 AS BIGINT))
    ) AS t(member, doc_id, status, n)
    """,
)
def s5_zip_fixture(spark, sf_dir):
    """S5 as a gate row: the binaryFile+unzip scan explodes the
    committed archive's ``*.json`` members (a ``.json.bak`` member is
    present and must NOT appear — the member_glob contract).  DuckDB
    cannot open ZIPs, so the oracle states the expected members as
    literal VALUES.  Reference: legiscan_collector.py:241-251."""
    from dissertation_data_pipeline_spark.sources.io import read_json_zip

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("status", StringType()),
            StructField("n", LongType()),
        ]
    )
    return read_json_zip(spark, f"{_FIX}/s5_archive.zip", schema)


@register(
    "s9_textdir_fixture",
    f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS filename,
           content AS text
    FROM read_text('{_FIX}/s9_docs/*.txt')
    """,
)
def s9_textdir_fixture(spark, sf_dir):
    """S9 as a gate row: the per-document text scan turns the committed
    file-per-bill directory into (filename, text) rows; DuckDB's
    read_text is the oracle (basename-normalized — the two engines
    report paths differently, content identically).  Reference:
    normalize_corpus.py:171-177."""
    from dissertation_data_pipeline_spark.sources.io import read_text_dir

    return read_text_dir(spark, f"{_FIX}/s9_docs")


def _tmp_layout(name: str, sf_dir: str, *, reusable: bool = False) -> str:
    """Per-(query, sf) temp path for sink round-trips — mode=overwrite
    keeps reruns clean; the tiny layout persists so the caller can
    collect() after the query fn returns (same pattern as the
    partitioned-IVF gate row).

    Non-reusable layouts (the default) also key on the driver PID: two
    drivers running the same suite concurrently at the same SF (a
    documented scenario — it motivated the 600 s streaming drain
    timeouts) must not overwrite each other's round-trip bytes
    mid-scan.  ``reusable=True`` keeps the cross-process-stable path
    for layouts whose point IS amortization across runs (the
    fingerprinted IVF index); those guard rebuilds with a lock file
    instead.

    PID-keyed paths are unique per process, so unlike the old stable
    paths they are never overwritten by a later run — each is
    registered for atexit removal so repeated fresh-process suites
    (bench_scale's per-SF isolation, concurrent drivers) don't grow
    /tmp without bound."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    if not reusable:
        tag = f"{tag}_p{os.getpid()}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{name}_{tag}")
    if not reusable and path not in _CLEANUP_REGISTERED:
        import atexit
        import shutil

        _CLEANUP_REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


#: PID-keyed layout paths already scheduled for atexit removal
_CLEANUP_REGISTERED: set = set()


#: shared oracle body for the K1 round-trip: a small money aggregate —
#: DECIMAL(18,2) survives CSV stringification bit-exactly (doubles
#: would not), but the GATE projection final-casts to DOUBLE per the
#: house rule "DECIMAL internally, DOUBLE at the edge" (r5 verdict: the
#: driver's pandas canon floats DuckDB DECIMALs, so a DECIMAL in the
#: final schema hash-mismatches even when bit-exact).
_K1_AGG_SQL = """
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY 1, 2
    """


@register("k1_csv_roundtrip", _K1_AGG_SQL)
def k1_csv_roundtrip(spark, sf_dir):
    """K1 as a gate row: aggregate orders, write the result through the
    CSV sink (header + RFC-4180 escaping), re-read it through the S1
    contract scan, and oracle the CONTENT — the round-trip must be
    value-transparent including quoted strings and DECIMAL money.
    Reference sink: build_master_corpus.py to_csv."""
    from pyspark.sql.types import DecimalType

    from dissertation_data_pipeline_spark.sources.io import read_csv, write_table

    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total_price"),
        )
    )
    path = _tmp_layout("k1csv", sf_dir)
    write_table(agg, path, fmt="csv")
    schema = StructType(
        [
            StructField("status", StringType()),
            StructField("priority", StringType()),
            StructField("n_orders", LongType()),
            StructField("total_price", DecimalType(18, 2)),
        ]
    )
    # DECIMAL through the sink/scan cycle (the round-trip's point:
    # text-format exactness), DOUBLE at the gate edge (driver canon).
    return read_csv(spark, path, schema).withColumn(
        "total_price", F.col("total_price").cast("double")
    )


#: K2 oracle: grouped counts whose group key becomes the partition
#: column of the written layout.
_K2_AGG_SQL = """
    SELECT o_orderstatus AS status,
           EXTRACT(year FROM o_orderdate) AS order_year,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1, 2
    """


@register("k2_parquet_roundtrip", _K2_AGG_SQL)
def k2_parquet_roundtrip(spark, sf_dir):
    """K2 as a gate row: write a grouped result PARTITIONED BY its
    status column (hive-style directories — the 100 TB pruning layout,
    SURVEY O-m8), re-read the directory tree, and oracle the content.
    Catches partition-column round-trip bugs (value lost to the path,
    type drift on read-back).  Reference sink: parquet artifact writes."""
    from dissertation_data_pipeline_spark.sources.io import read_parquet, write_table

    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    path = _tmp_layout("k2parquet", sf_dir)
    write_table(agg, path, fmt="parquet", partition_by=["status"])
    out = read_parquet(spark, path)
    # partition columns come back LAST and as read-time strings under
    # partition-type inference; conform to the written contract
    return out.select(
        F.col("status").cast("string").alias("status"),
        F.col("order_year").cast("bigint").alias("order_year"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
    )


_K4_PROJ_SQL = """
    SELECT c_custkey AS custkey,
           c_name AS name,
           c_mktsegment AS segment,
           CAST(CAST(c_acctbal AS DECIMAL(15,2)) AS DOUBLE) AS acctbal
    FROM customer WHERE c_custkey % 100 = 0
    """


@register("k4_jsonl_roundtrip", _K4_PROJ_SQL)
def k4_jsonl_roundtrip(spark, sf_dir):
    """K4 as a gate row: project a customer slice, write it through the
    JSONL sink, re-read with the pinned schema, oracle the content —
    numbers (DECIMAL money), strings with punctuation, and keys must
    survive the text encoding.  Reference sink: normalize_json.py."""
    from pyspark.sql.types import DecimalType

    from dissertation_data_pipeline_spark.sources.io import read_jsonl, write_jsonl

    proj = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 == 0)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").cast("decimal(15,2)").alias("acctbal"),
        )
    )
    path = _tmp_layout("k4jsonl", sf_dir)
    write_jsonl(proj, path)
    schema = StructType(
        [
            StructField("custkey", LongType()),
            StructField("name", StringType()),
            StructField("segment", StringType()),
            StructField("acctbal", DecimalType(15, 2)),
        ]
    )
    # DECIMAL through the JSONL cycle, DOUBLE at the gate edge.
    return read_jsonl(spark, path, schema).withColumn(
        "acctbal", F.col("acctbal").cast("double")
    )


_K3_AGG_SQL = """
    SELECT r.r_name AS region,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """


@register("k3_excel_roundtrip", _K3_AGG_SQL)
def k3_excel_roundtrip(spark, sf_dir):
    """K3 as a gate row: write a report-sized aggregate through the
    styled Excel sink (stdlib SpreadsheetML codec, auto-sized columns)
    and read it back through the S2 contract scan; the oracle restates
    the aggregate.  Proves the WRITE side of the xlsx codec under the
    gate (s2_excel_fixture proves the read side against committed
    bytes).  Reference: legiscan_normalizer.py:386-399."""
    from dissertation_data_pipeline_spark.sources.io import (
        read_excel,
        write_excel,
    )

    agg = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )
    path = _tmp_layout("k3xlsx", sf_dir) + ".xlsx"
    write_excel(agg, path, sheet_name="Regions")
    schema = StructType(
        [
            StructField("region", StringType()),
            StructField("n_nations", LongType()),
        ]
    )
    return read_excel(spark, path, schema)


#: content oracle for the compaction row: if the rewrite lost or
#: duplicated a single row, count or the exact decimal money sum
#: breaks; files_reduced restates the maintenance claim itself.
_COMPACT_SQL = """
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
             AS total_cents,
           TRUE AS files_reduced
    FROM orders GROUP BY 1
    """


@register("ext_compact_small_files", _COMPACT_SQL)
def ext_compact_small_files(spark, sf_dir):
    """[EXT] small-file compaction as a gate row (sources/layout.py::
    compact_parquet — the snapshot-swap rewrite): fragment a projected
    orders slice into 48 tiny files (the micro-batch-append layout that
    silently kills 100 TB tables: task counts, footer reads, planner
    time all scale with file count), compact to ~128 MiB-target files,
    re-read, and oracle the CONTENT plus the files_reduced claim.
    Row-exactness is carried by the exact BIGINT columns — n_orders
    catches lost/duplicated rows, total_cents (the DECIMAL sum in
    cents, exact at any magnitude) catches value corruption the
    DOUBLE edge column alone could hide inside the gate's
    6-significant-digit float canon.  File counts are measured from
    the directory, not assumed."""
    import glob

    from dissertation_data_pipeline_spark.sources.layout import (
        compact_parquet,
    )

    frag = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("total_price"),
    )
    path = _tmp_layout("compact", sf_dir)
    frag.repartition(48).write.mode("overwrite").parquet(path)
    n_before = len(glob.glob(os.path.join(path, "*.parquet")))
    n_after = compact_parquet(spark, path, target_bytes=128 * 1024 * 1024)
    return (
        spark.read.parquet(path)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("total_price").cast("decimal(18,2)").cast("double")
            .alias("total_price"),
            (F.sum("total_price") * 100).cast("long").alias("total_cents"),
        )
        .withColumn("files_reduced", F.lit(n_after < n_before))
    )


#: bucketed-join oracle: plain content equality — the bucketed path's
#: value (zero Exchange in the join plan) is asserted in
#: tests/test_bucketing.py and below; the gate proves the LAYOUT
#: round-trip returns exactly the rows a shuffled join would.
_BUCKETED_JOIN_SQL = """
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """


@register("ext_bucketed_join", _BUCKETED_JOIN_SQL)
def ext_bucketed_join(spark, sf_dir):
    """[EXT] bucketed-table co-located join as a gate row
    (sources/bucketing.py): write orders and customer as external
    parquet tables bucketed 8 ways on the join key, read them back
    THROUGH THE CATALOG (a path read loses bucketing metadata), join
    and aggregate.  The oracle is the plain shuffled join's content;
    the plan-shape claim — the bucket-key join plans ZERO shuffle
    Exchanges because both sides are already co-partitioned on disk —
    is asserted here too, so the row fails if the catalog round-trip
    silently drops the bucket spec.  This is the 100 TB co-location
    lever: the shuffle is paid once at write time, then every
    downstream join/agg on the key rides it for free."""
    from dissertation_data_pipeline_spark.sources.bucketing import (
        read_bucketed,
        write_bucketed,
    )

    import re as _re

    tag = f"p{os.getpid()}"  # concurrent drivers: no catalog collisions
    names = {}
    for t, key, cols in (
        ("orders", "o_custkey", ["o_custkey", "o_orderstatus", "o_totalprice"]),
        ("customer", "c_custkey", ["c_custkey", "c_mktsegment"]),
    ):
        tbl = f"ddp_bkt_{t}_{tag}"
        write_bucketed(
            load_table(spark, sf_dir, t).select(*cols),
            tbl,
            _tmp_layout(f"bkt_{t}", sf_dir),
            [key],
            8,
        )
        names[t] = tbl
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable broadcast so the join's distribution requirement is real
    # (at test SF customer would broadcast and the no-Exchange claim
    # would hold vacuously; at production SF neither side broadcasts
    # and the bucket layout is the only thing avoiding the shuffle)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = read_bucketed(spark, names["orders"])
        c = read_bucketed(spark, names["customer"])
        joined = o.join(c, o["o_custkey"] == c["c_custkey"])
        agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_price"),
        )
        plan = plan_text(joined)
        # formatted op lists render shuffle nodes as '(4) Exchange'
        # with the partitioning on a separate Arguments: line — match
        # the node name exactly (BroadcastExchange is a distinct
        # name), same detection as tests/test_bucketing.py
        if any(
            n == "Exchange"
            for n in _re.findall(r"^\(\d+\) (\w+)", plan, flags=_re.M)
        ):
            raise AssertionError(
                "bucketed join planned a shuffle Exchange — bucket "
                "metadata lost in the catalog round-trip"
            )
        # materialize before the catalog tables are dropped below
        out = agg.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        for tbl in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    return out


_ORC_AGG_SQL = """
    SELECT l_returnflag AS returnflag,
           l_linestatus AS linestatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE)
             AS sum_qty
    FROM lineitem GROUP BY 1, 2
    """


@register("k_orc_roundtrip", _ORC_AGG_SQL)
def k_orc_roundtrip(spark, sf_dir):
    """ORC sink/scan round-trip: write a lineitem aggregate PARTITIONED
    BY returnflag as ORC (write_table fmt='orc' — the splittable
    columnar sibling of parquet), re-read via read_orc, oracle the
    content.  Covers the one built-in columnar format the gate didn't
    touch; DECIMAL survives the ORC round-trip bit-exactly."""
    from pyspark.sql.types import DecimalType

    from dissertation_data_pipeline_spark.sources.io import (
        read_orc,
        write_table,
    )

    agg = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("sum_qty"),
        )
    )
    path = _tmp_layout("korc", sf_dir)
    write_table(agg, path, fmt="orc", partition_by=["returnflag"])
    out = read_orc(spark, path)
    return out.select(
        F.col("returnflag").cast("string").alias("returnflag"),
        F.col("linestatus").cast("string").alias("linestatus"),
        F.col("n_lines").cast("bigint").alias("n_lines"),
        # DECIMAL survives the ORC cycle; DOUBLE at the gate edge.
        F.col("sum_qty").cast("decimal(18,2)").cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# SURVEY §2 T-only conversions: gate rows for operators otherwise covered
# only by pytest because their output is a file layout, a report string,
# or a schema transform rather than a plain table. Each is expressed so
# the DuckDB oracle can state the expected CONTENT (and, where the
# operator's point is the layout, the layout invariant as an oracled
# literal):
#
# - P11 skip-list scan       -> surviving files' (filename, text)
# - J5  file-key join        -> scan side joined to a dim by the key
#                               embedded in the filename
# - K6  file-per-row sink    -> re-scanned rows + oracled file count
# - O3  glob-latest artifact -> the newest artifact's rows (a wrong
#                               pick hash-mismatches)
# - A11 stats counters       -> the counters as one aggregate row
# - F-s8 column normalize    -> data under contract names (the gate's
#                               schema compare IS the assertion)
# - K5  report sink          -> the formatted report string itself,
#                               reconstructed literally in SQL
# ---------------------------------------------------------------------------

@register(
    "p11_skip_list_scan",
    f"""
    SELECT filename, text FROM (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS filename,
             content AS text
      FROM read_text('{_FIX}/p11_dir/*.txt')
    )
    -- both skip conventions stated: the loader's name skip — the glob
    -- is 'draft_*', so the SQL escapes the underscore ('draft%' would
    -- also exclude a draftX.txt the engine KEEPS — ADVICE r7) — and
    -- the dot-file hiding Spark's listing applies natively but
    -- DuckDB's glob does not
    WHERE filename NOT LIKE 'draft\\_%' ESCAPE '\\' AND filename NOT LIKE '.%'
    """,
)
def p11_skip_list_scan(spark, sf_dir):
    """P11 as a gate row (legiscan_normalizer.py:127-129): the loader's
    name-based skip list applied to a committed fixture directory that
    contains two ingestable bills, a 'draft_*' file the skip list must
    drop, a dot-file (hidden by listing convention in BOTH engines),
    and a config.ini the include glob excludes. The oracle re-states
    the skip as a WHERE over DuckDB's read_text."""
    from dissertation_data_pipeline_spark.sources.io import read_text_dir_skip

    return read_text_dir_skip(
        spark,
        f"{_FIX}/p11_dir",
        include_glob="*.txt",
        skip_globs=("draft_*",),
    )


@register(
    "j5_file_key_join",
    f"""
    SELECT regexp_extract(filename, 'bill_([A-Z0-9_]+)\\.txt$', 1) AS bill_key,
           v.state_name,
           content AS text
    FROM read_text('{_FIX}/s9_docs/*.txt')
    JOIN (VALUES ('CO_HB1', 'Colorado'),
                 ('UT_HJR3', 'Utah'),
                 ('WY_SB2', 'Wyoming')) v(bill_key, state_name)
      ON regexp_extract(filename, 'bill_([A-Z0-9_]+)\\.txt$', 1) = v.bill_key
    """,
)
def j5_file_key_join(spark, sf_dir):
    """J5 as a gate row (normalize_corpus.py:171-177 + the downstream
    key join): the file-per-bill directory scan keyed by the id
    embedded in each filename, joined to a small dim — the reference's
    'match fetched text files back to corpus rows' step. The dim
    broadcasts (3 rows); the scan side never shuffles."""
    from dissertation_data_pipeline_spark.sources.io import read_text_dir

    dim = spark.createDataFrame(
        [("CO_HB1", "Colorado"), ("UT_HJR3", "Utah"), ("WY_SB2", "Wyoming")],
        "bill_key string, state_name string",
    )
    docs = read_text_dir(spark, f"{_FIX}/s9_docs").select(
        F.regexp_extract("filename", r"bill_([A-Z0-9_]+)\.txt$", 1).alias(
            "bill_key"
        ),
        "text",
    )
    return docs.join(F.broadcast(dim), "bill_key").select(
        "bill_key", "state_name", "text"
    )


@register(
    "k6_file_per_row_sink",
    """
    SELECT n.n_name AS k,
           'nation ' || CAST(n.n_nationkey AS VARCHAR) || ' of ' || r.r_name
             AS value,
           CAST(25 AS BIGINT) AS n_files
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def k6_file_per_row_sink(spark, sf_dir):
    """K6 as a gate row (text_processor.py:113-155, fetch_texts.py:
    121-125: one text file per bill). The engine's layout for
    file-per-row is ``partitionBy(key)`` over a text sink — one
    hive directory per key, one file inside (SURVEY's
    'prefer columns-not-files' note documents why this is the sink,
    not the working representation). The round-trip re-scans the tree
    (partition discovery restores the key) and the oracle also pins
    the layout invariant: exactly one part-file per row, stated as the
    literal 25 (nation's fixed cardinality at every TPC-H SF)."""
    import glob as _glob

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    per_row = nation.join(
        F.broadcast(region),
        nation["n_regionkey"] == region["r_regionkey"],
    ).select(
        F.concat(
            F.lit("nation "),
            F.col("n_nationkey").cast("string"),
            F.lit(" of "),
            F.col("r_name"),
        ).alias("value"),
        F.col("n_name").alias("k"),
    )
    path = _tmp_layout("k6rows", sf_dir)
    per_row.repartition("k").write.mode("overwrite").partitionBy("k").text(path)
    n_files = len(_glob.glob(os.path.join(path, "k=*", "part-*")))
    out = spark.read.text(path)  # partition discovery restores k
    return out.select(
        F.col("k").cast("string").alias("k"),
        F.col("value").alias("value"),
        F.lit(n_files).cast("long").alias("n_files"),
    )


@register(
    "o3_latest_artifact_scan",
    """
    SELECT o_orderkey AS orderkey, o_orderstatus AS status
    FROM orders WHERE o_orderkey % 3 = 2
    """,
)
def o3_latest_artifact_scan(spark, sf_dir):
    """O3 as a gate row (fetch_texts.py:55-59, normalize_corpus.py:
    234-240: newest timestamped artifact wins). Three timestamped CSV
    artifacts are written from DISJOINT slices of orders; the engine
    resolves the stage input via glob-latest and returns its rows —
    the oracle states the newest slice, so resolving any other
    artifact (or sorting names wrongly) hash-mismatches."""
    from dissertation_data_pipeline_spark.sources.io import (
        latest_artifact,
        read_csv,
        write_table,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
    )
    base = _tmp_layout("o3art", sf_dir)
    for i, day in enumerate(("20260101", "20260102", "20260103")):
        write_table(
            orders.filter(F.col("orderkey") % 3 == i),
            os.path.join(base, f"results_{day}.csv"),
            fmt="csv",
        )
    newest = latest_artifact(os.path.join(base, "results_*.csv"))
    schema = StructType(
        [StructField("orderkey", LongType()), StructField("status", StringType())]
    )
    return read_csv(spark, newest, schema)


@register(
    "a11_stats_counters",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS INT) AS n_langs,
           CAST(count_if(n_chars < 150) AS BIGINT) AS n_short,
           CAST(count_if(lang = 'en') AS BIGINT) AS n_en,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    """,
)
def a11_stats_counters(spark, sf_dir):
    """A11 as a gate row (legiscan_collector.py:238-276,
    legiscan_enricher.py:519-525: per-run counter dicts). The engine's
    counters are ONE aggregate row over the data — map-side partial
    aggregation makes this a single reduce of five longs at any scale,
    replacing the reference's imperative `stats['x'] += 1` loops."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").cast("int").alias("n_langs"),
        F.count_if(F.col("n_chars") < 150).alias("n_short"),
        F.count_if(F.col("lang") == "en").alias("n_en"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "fs8_column_normalize",
    """
    SELECT c_custkey AS cust_id, c_name AS name, c_mktsegment AS segment
    FROM customer
    """,
)
def fs8_column_normalize(spark, sf_dir):
    """F-s8 as a gate row (legiscan_normalizer.py:59-101: fuzzy header
    mapping). Messy source headers — padding, case, interior
    whitespace — are mapped onto contract names by ``fuzzy_rename``;
    the driver gate's SCHEMA comparison is the assertion (a missed or
    shadowed mapping changes the output columns), and the value hash
    proves the rename never reorders or corrupts data."""
    from dissertation_data_pipeline_spark.schemas import fuzzy_rename

    messy = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("Cust  Key"),
        F.col("c_name").alias("CUSTOMER NAME"),
        F.col("c_mktsegment").alias(" Mkt Segment "),
    )
    return fuzzy_rename(
        messy,
        {
            "cust_id": ["cust key"],
            "name": ["customer name"],
            "segment": ["mkt segment"],
        },
    ).select("cust_id", "name", "segment")


@register(
    "s6_rest_pages_fixture",
    f"""
    SELECT jurisdiction, session, identifier, title,
           CAST(regexp_extract(filename, 'page-(\\d+)\\.json', 1) AS INT)
             AS page
    FROM read_json('{_FIX}/s6_pages/page-*.json',
                    columns = {{'jurisdiction': 'VARCHAR',
                                'session': 'VARCHAR',
                                'identifier': 'VARCHAR',
                                'title': 'VARCHAR'}},
                    filename = true)
    """,
)
def s6_rest_pages_fixture(spark, sf_dir):
    """S6 as a gate row: the paginated-feed DataSource reads the
    committed 3-page fixture through its file:// transport with
    ``max_parallel_pages=2`` — pages round-robined into 2 partitions,
    each fetching ITS pages sequentially (the hard concurrency bound
    against rate-limited APIs), so the gate exercises the REAL
    partition planning, not a happy path. The oracle reads the same
    page files and restates the page tag from the filename.
    Reference: legiscan_collector.py paginated getMasterList."""
    from dissertation_data_pipeline_spark.sources.datasource import (
        HAVE_DATASOURCE_API,
        RestPagesDataSource,
    )

    if not HAVE_DATASOURCE_API:  # pragma: no cover - pyspark>=4 here
        raise RuntimeError("rest_pages needs the pyspark-4 DataSource API")
    spark.dataSource.register(RestPagesDataSource)
    return (
        spark.read.format("rest_pages")
        .option("endpoint", f"file://{_FIX}/s6_pages")
        .option("pages", "3")
        .option("max_parallel_pages", "2")
        .load()
    )


@register(
    "s8_point_lookup",
    """
    SELECT key,
           CASE WHEN hit THEN 'v-' || substr(md5(key), 1, 8) END AS value,
           hit AS found
    FROM (
      SELECT DISTINCT c_name AS key,
             CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) % 3 <> 0
               AS hit
      FROM customer WHERE c_custkey % 50 = 0
    )
    """,
)
def s8_point_lookup(spark, sf_dir):
    """S8 as a gate row (legiscan_enricher.py:171-427 per-key lookup,
    re-shaped distinct-keys-first): ``fetch_missing_keys`` runs the
    injected fetch over DISTINCT keys in a bounded number of client
    partitions (here 1 — the reference's sequential client), emitting
    misses as first-class found=false rows (I4). The injected fetch is
    deterministic (md5 of the key; every third key a miss) so the
    oracle restates the whole lookup in SQL — what the gate proves is
    the distinct/repartition/mapInPandas machinery and the
    negative-result contract, with no network anywhere."""
    from dissertation_data_pipeline_spark.sources.rest import fetch_missing_keys

    def fetch(keys):
        import hashlib
        import re as _re

        out = {}
        for k in keys:
            m = _re.search(r"(\d+)$", k)
            n = int(m.group(1)) if m else 0
            out[k] = (
                "v-" + hashlib.md5(k.encode()).hexdigest()[:8]
                if n % 3
                else None
            )
        return out

    keys = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 50 == 0)
        .select(F.col("c_name").alias("key"))
    )
    return fetch_missing_keys(keys, "key", fetch, fetch_partitions=1)


@register(
    "k5_report_fixture",
    """
    SELECT '== status_counts ==' || chr(10) ||
           string_agg('  status=' || status || ', n=' || CAST(n AS VARCHAR),
                      chr(10) ORDER BY status) || chr(10) AS report
    FROM (SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n
          FROM orders GROUP BY 1)
    """,
)
def k5_report_fixture(spark, sf_dir):
    """K5 as a gate row (normalize_corpus.py:308-330: the human-readable
    run report). ``write_report`` formats aggregate sections driver-side
    (collect is legal by construction — rows = groups); the oracle
    reconstructs the exact report string in SQL, so format drift
    (separators, ordering, trailing newline) hash-mismatches."""
    from dissertation_data_pipeline_spark.sources.io import write_report

    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )
    text = write_report({"status_counts": counts})
    return spark.createDataFrame([(text,)], "report string")


# ---------------------------------------------------------------------------
# [EXT] Z-order (Morton) curve values: the layout key that
# ``sources.layout.write_zordered`` sorts files by.
# ---------------------------------------------------------------------------

def _zorder_sql_expr(a: str, b: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


@register(
    "ext_zorder_values",
    f"""
    WITH keyed AS (
      SELECT o_orderkey,
             o_custkey % 256 AS a,
             (CAST(o_orderdate AS DATE) - DATE '1992-01-01') % 256 AS b
      FROM orders
    )
    SELECT o_orderkey, a, b,
           CAST({_zorder_sql_expr('a', 'b', 8)} AS BIGINT) AS zval
    FROM keyed
    """,
)
def ext_zorder_values(spark, sf_dir):
    """[EXT] Z-order (Morton) curve values over (customer, order-date)
    buckets — the multi-dimensional data-layout key behind Delta/Iceberg
    OPTIMIZE ZORDER. Sorting/range-partitioning files by this key makes
    per-file min/max ranges tight in BOTH dimensions simultaneously, so
    predicate pushdown skips files for either-column filters — at 100 TB
    layout is the cheapest query accelerator there is. The interleave
    is a pure bitwise codegen expression (16 shift/mask terms, no UDF);
    ``sources.layout.write_zordered`` applies it as
    repartitionByRange(zval) + sortWithinPartitions for writing, and the
    layout test measures the file-skipping effect on real parquet
    footers.
    """
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("a"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
            )
            % 256
        ).alias("b"),
    )
    return keyed.select(
        "o_orderkey",
        "a",
        "b",
        zorder_value(F.col("a"), F.col("b"), 8).alias("zval"),
    )
