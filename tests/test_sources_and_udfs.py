"""Tests for io readers/sinks, parquet layout (Z-order, compaction),
state tables, mockable REST enrichment, text-extraction UDFs, and
multimodal plumbing."""

from __future__ import annotations

import base64
import io
import os
import shutil
import tempfile
import zipfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from dissertation_data_pipeline_spark.operators import multimodal as mm
from dissertation_data_pipeline_spark.operators import text_udf
from dissertation_data_pipeline_spark.schemas import BILLS_RAW
from dissertation_data_pipeline_spark.sources import io as sio
from dissertation_data_pipeline_spark.sources import state as sstate
from dissertation_data_pipeline_spark.sources.layout import (
    file_minmax_stats,
    skipped_fraction,
    write_zordered,
    zorder_value,
)
from dissertation_data_pipeline_spark.sources.rest import enrich_with_cache


@pytest.fixture()
def tmpd():
    d = tempfile.mkdtemp(prefix="ddp-src-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_read_csv_conforms(spark, tmpd):
    p = f"{tmpd}/bills.csv"
    with open(p, "w") as f:
        f.write("state,bill_number,title\nCO,HB1,  \nWY,SB2,Real Title\n")
    df = sio.read_csv(spark, p, BILLS_RAW)
    rows = {r["state"]: r for r in df.collect()}
    assert rows["CO"]["title"] is None  # blank -> NULL
    assert rows["CO"]["status"] is None  # missing column -> typed NULL
    assert len(df.columns) == len(BILLS_RAW.fields)


def test_read_json_zip(spark, tmpd):
    schema = StructType([StructField("bill_id", IntegerType()), StructField("state", StringType())])
    zp = f"{tmpd}/data.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("2023/bill/1.json", '{"bill_id": 1, "state": "CO"}')
        zf.writestr("2023/bill/2.json", '{"bill_id": 2, "state": "WY"}')
        zf.writestr("readme.txt", "not json")
    out = sio.read_json_zip(spark, zp, schema)
    assert {(r["bill_id"], r["state"]) for r in out.collect()} == {(1, "CO"), (2, "WY")}


def test_read_keywords_and_text_dir(spark, tmpd):
    kp = f"{tmpd}/input.txt"
    with open(kp, "w") as f:
        f.write("# comment\nschool shooting\n\nfirearm\n")
    assert sio.read_keywords(spark, kp) == ["school shooting", "firearm"]

    td = f"{tmpd}/texts"
    os.makedirs(td)
    with open(f"{td}/CO_HB1.txt", "w") as f:
        f.write("bill text")
    out = sio.read_text_dir(spark, td).collect()
    assert out[0]["filename"] == "CO_HB1.txt" and out[0]["text"] == "bill text"


def test_state_table_upsert_and_filters(spark, tmpd):
    schema = StructType(
        [StructField("key", StringType()), StructField("content_hash", StringType())]
    )
    st = sstate.StateTable(spark, f"{tmpd}/state", schema, "key")
    st.upsert(spark.createDataFrame([("a", "h1"), ("b", "h2")], schema))
    st.upsert(spark.createDataFrame([("b", "h2-new"), ("c", "h3")], schema))
    got = {r["key"]: r["content_hash"] for r in st.read().collect()}
    assert got == {"a": "h1", "b": "h2-new", "c": "h3"}

    work = spark.createDataFrame([("a", "h1"), ("b", "zzz"), ("d", "h4")], schema)
    unproc = sstate.filter_unprocessed(work, st.read(), "key")
    assert {r["key"] for r in unproc.collect()} == {"d"}
    changed = sstate.content_changed(work, st.read(), "key")
    assert {r["key"] for r in changed.collect()} == {"b", "d"}


def test_enrich_with_cache_mocked_fetch(spark, tmpd):
    def fetch(keys):
        # only the distinct *missing* keys may ever reach the fetcher
        assert set(keys) <= {"CO_HB1", "CO_MISS"}, keys
        return {k: f"fetched-{k}" for k in keys if k != "CO_MISS"}

    def fetch_forbidden(keys):
        raise AssertionError(f"fetch called on cached keys: {keys}")

    from pyspark.sql.types import BooleanType

    schema = StructType(
        [
            StructField("key", StringType()),
            StructField("value", StringType()),
            StructField("found", BooleanType()),
        ]
    )
    cache = sstate.StateTable(spark, f"{tmpd}/cache", schema, "key")
    df = spark.createDataFrame(
        [("CO_HB1", None), ("CO_HB1", ""), ("CO_MISS", None), ("CO_OK", "already")],
        "key string, title string",
    )
    out = enrich_with_cache(df, "key", "title", cache, fetch)
    got = {(r["key"], r["title"]) for r in out.collect()}
    assert ("CO_HB1", "fetched-CO_HB1") in got
    assert ("CO_OK", "already") in got
    assert ("CO_MISS", None) in got
    cached = {r["key"]: r["found"] for r in cache.read().collect()}
    assert cached == {"CO_HB1": True, "CO_MISS": False}  # negative cached too

    # second run: everything (incl. the negative) served from cache —
    # the fetcher must never fire
    out2 = enrich_with_cache(df, "key", "title", cache, fetch_forbidden)
    assert ("CO_HB1", "fetched-CO_HB1") in {(r["key"], r["title"]) for r in out2.collect()}


HTML_DOC = (
    "<html><head><style>p{}</style></head><body>"
    "<p>Keep this &amp; that</p><s>struck text</s>"
    '<span style="text-decoration: line-through">also struck</span>'
    "<script>var x;</script>123\n</body></html>"
)


def test_read_text_dir_skip(spark):
    from dissertation_data_pipeline_spark.sources.io import read_text_dir_skip

    fix = os.path.join(os.path.dirname(__file__), "fixtures", "p11_dir")
    got = {
        r["filename"]
        for r in read_text_dir_skip(
            spark, fix, include_glob="*.txt", skip_globs=("draft_*",)
        ).collect()
    }
    # draft_* skipped by the list; .hidden.txt never listed (glob);
    # config.ini excluded by the include glob
    assert got == {"bill_100.txt", "bill_200.txt"}

    with pytest.raises(FileNotFoundError):
        read_text_dir_skip(
            spark, fix, include_glob="*.txt", skip_globs=("*",)
        )


def test_html_entity_convergence_with_and_without_bs4(monkeypatch):
    # numeric + named entities extract identically on the bs4 and
    # regex-fallback paths: bs4 decodes during parsing, the fallback
    # applies stdlib html.unescape (single pass, so the escaped
    # "&amp;#38;" yields the literal "&#38;" on both)
    src = "<p>It&#8217;s A &amp; B &#8212; &amp;#38; &quot;q&quot;</p>"
    expected = "It’s A & B — &#38; \"q\""

    import sys

    monkeypatch.setitem(sys.modules, "bs4", None)  # force the fallback
    assert " ".join(text_udf.html_to_text(src).split()) == expected
    monkeypatch.undo()

    try:
        import bs4  # noqa: F401
    except ImportError:
        return  # no bs4 in this environment; the fallback IS the path
    assert " ".join(text_udf.html_to_text(src).split()) == expected


def test_extract_documents_html_pdf_plain(spark):
    docs = spark.createDataFrame(
        [
            ("B1", "text/html", base64.b64encode(HTML_DOC.encode()).decode()),
            ("B2", "application/pdf", base64.b64encode(b"%PDF-1.4 fake").decode()),
            ("B3", "text/plain", base64.b64encode(b"plain  text\f42").decode()),
            ("B4", "text/plain", None),
        ],
        "bill_id string, mime string, doc_b64 string",
    )
    out = {r["bill_id"]: r for r in text_udf.decisions_from_extraction(
        text_udf.extract_documents(docs)).collect()}

    b1 = out["B1"]
    assert b1["original_format"] == "html"
    assert b1["strikethrough_detected"] and b1["strikethrough_chars_removed"] > 0
    assert b1["strikethrough_detection_method"] == "html_tags_and_css"
    assert "struck" not in b1["normalized_text"]
    assert "Keep this & that" in b1["normalized_text"]
    assert "var x" not in b1["normalized_text"]

    b2 = out["B2"]
    assert b2["original_format"] == "pdf" and b2["strikethrough_limitation_flag"]

    b3 = out["B3"]
    # \f + digit-line cleanup; the trailing newline survives because the
    # final trim is space-only — F.trim semantics, matching the engine
    # twin exactly (verified: normalize_text_plain gives the same bytes)
    assert b3["normalized_text"] == "plain text\n"
    assert b3["raw_word_count"] >= b3["normalized_word_count"]

    assert out["B4"]["notes"] == "no_text_available"


def test_multimodal_plumbing(spark):
    import hashlib

    payloads = [
        b"\xff\xd8\xff fakejpeg",
        b"\x89PNG\r\n fakepng",
        b"RIFF\x10\x00\x00\x00WAVEfake",  # RIFF + WAVE form tag
        b"RIFF\x10\x00\x00\x00WEBPVP8 ",  # RIFF but NOT audio (WebP)
    ]
    media = spark.createDataFrame(
        [(i, "image", "application/octet-stream", p, None) for i, p in enumerate(payloads)],
        mm.MEDIA_SCHEMA,
    )
    sniffed = {r["media_id"]: r["sniffed_mime"] for r in mm.attach_metadata(media).collect()}
    assert sniffed == {
        0: "image/jpeg",
        1: "image/png",
        2: "audio/wav",
        3: "application/octet-stream",  # generic RIFF must NOT sniff as wav
    }

    feats = {r["media_id"]: r for r in mm.extract_image_features(media).collect()}
    assert len(feats) == 4
    w, h, c, luma = mm.fake_image_decoder(payloads[0])
    assert (feats[0]["width"], feats[0]["height"]) == (w, h)  # deterministic fake

    with pytest.raises(NotImplementedError):
        mm.sample_video_frames(media)


def _encode_png(width, height, pixels, *, color_type=2, filters=None):
    """Minimal stdlib PNG encoder for tests: 8-bit, per-row filter
    selection (default all-0) so the decoder's unfilter paths can be
    exercised deliberately."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 6: 4}[color_type]
    stride = width * channels

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = bytearray(stride)
    filters = filters or [0] * height
    for y in range(height):
        line = bytearray(pixels[y * stride : (y + 1) * stride])
        ftype = filters[y]
        enc = bytearray(line)
        for i in range(stride - 1, -1, -1):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if ftype == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif ftype == 2:
                enc[i] = (line[i] - b) & 0xFF
            elif ftype == 3:
                enc[i] = (line[i] - (a + b) // 2) & 0xFF
            elif ftype == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        raw += bytes([ftype]) + enc
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_real_decode_all_filters():
    """The stdlib PNG decoder performs a REAL decode: exact dimensions,
    channels, and Rec.601 mean luma, across every scanline filter."""
    w, h = 5, 4
    pixels = bytes((i * 7 + 13) % 256 for i in range(w * h * 3))
    expect_luma = (
        sum(
            0.299 * pixels[i] + 0.587 * pixels[i + 1] + 0.114 * pixels[i + 2]
            for i in range(0, len(pixels), 3)
        )
        / (w * h)
        / 255.0
    )
    for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h, [0, 1, 2, 4]):
        png = _encode_png(w, h, pixels, filters=filters)
        got = mm.png_image_decoder(png)
        assert got[:3] == (w, h, 3)
        assert got[3] == pytest.approx(expect_luma, abs=1e-12)


def test_png_decoder_greyscale():
    pixels = bytes(range(16))
    png = _encode_png(4, 4, pixels, color_type=0)
    w, h, c, luma = mm.png_image_decoder(png)
    assert (w, h, c) == (4, 4, 1)
    assert luma == pytest.approx(sum(range(16)) / 16 / 255.0)


def test_extract_image_features_with_real_decoder(spark):
    """Same mapInPandas signature, real decoder plugged in: decoded
    dimensions (not digest-derived fakes) flow through the Spark plan."""
    pngs = [
        _encode_png(3, 2, bytes((i * 11 + j) % 256 for j in range(18)))
        for i in range(4)
    ]
    media = spark.createDataFrame(
        [(i, "image", "image/png", p, None) for i, p in enumerate(pngs)],
        mm.MEDIA_SCHEMA,
    )
    feats = {
        r["media_id"]: r
        for r in mm.extract_image_features(
            media, decoder=mm.real_image_decoder()
        ).collect()
    }
    assert len(feats) == 4
    for i, png in enumerate(pngs):
        w, h, c, luma = mm.png_image_decoder(png)
        row = feats[i]
        assert (row["width"], row["height"], row["channels"]) == (3, 2, 3) == (w, h, c)
        assert row["mean_luma"] == pytest.approx(luma)


def test_pil_decoder_matches_png_decoder():
    """Skip-gated: where Pillow exists, the PIL decoder and the stdlib
    PNG decoder agree bit-for-bit on dimensions and luma."""
    pytest.importorskip("PIL")
    png = _encode_png(6, 3, bytes((i * 5 + 1) % 256 for i in range(54)))
    assert mm.pil_image_decoder(png)[:3] == mm.png_image_decoder(png)[:3]
    assert mm.pil_image_decoder(png)[3] == pytest.approx(mm.png_image_decoder(png)[3])


def test_state_table_upsert_duplicate_keys_deterministic(spark, tmpd):
    """A batch with duplicate keys picks the same survivor on every run
    (total order over stringified non-key columns, not partition order)."""
    schema = StructType(
        [StructField("key", StringType()), StructField("content_hash", StringType())]
    )
    for trial in range(2):
        st = sstate.StateTable(spark, f"{tmpd}/dupstate{trial}", schema, "key")
        dup = spark.createDataFrame(
            [("k", "h-alpha"), ("k", "h-zulu"), ("k", "h-mike")], schema
        ).repartition(3 + trial)  # different partitionings, same winner
        st.upsert(dup)
        got = st.read().collect()
        assert len(got) == 1
        assert got[0]["content_hash"] == "h-zulu"  # max stringified value


def test_load_table_events_restores_nanos_conf(spark, sf_dir):
    from dissertation_data_pipeline_spark.tables import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    df = load_table(spark, sf_dir, "events")
    assert spark.conf.get(key) == "false"  # restored, not left session-wide
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert df.count() > 0  # conf captured at plan time; execution unaffected
    spark.conf.unset(key)


def test_write_excel_styled_roundtrip(spark, tmpd):
    """S2/K3 ungated: the stdlib xlsx codec writes the reference's
    styled report sheet and reads it back — no openpyxl anywhere."""
    from dissertation_data_pipeline_spark.sources import xlsx

    df = spark.createDataFrame(
        [("CO_HB1", "x" * 80), ("CO_HB22", "short")], "bill_id string, title string"
    )
    path = f"{tmpd}/out.xlsx"
    sio.write_excel(df, path)
    rows = xlsx.read_rows(path)
    assert rows[0] == ["bill_id", "title"]
    assert sorted(r[0] for r in rows[1:]) == ["CO_HB1", "CO_HB22"]
    # reference sizing: min(max(cell, header), 50) + 2
    widths = xlsx.read_col_widths(path)
    assert widths[1] == len("CO_HB22") + 2
    assert widths[2] == 50 + 2


def test_read_excel_types_and_roundtrip(spark, tmpd):
    """read_excel conforms a written sheet to a typed contract: ints,
    doubles, booleans and NULL blanks all survive the string hop."""
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField, StructType,
    )

    src = spark.createDataFrame(
        [("a", 1, 1.5, True), ("b", None, 2.25, False), (None, 3, None, None)],
        "name string, n long, x double, flag boolean",
    )
    path = f"{tmpd}/typed.xlsx"
    sio.write_excel(src, path, sheet_name="T")
    schema = StructType(
        [
            StructField("name", StringType()),
            StructField("n", LongType()),
            StructField("x", DoubleType()),
            StructField("flag", BooleanType()),
        ]
    )
    back = sio.read_excel(spark, path, schema)
    assert back.schema == schema
    got = sorted(
        [tuple(r) for r in back.collect()],
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == [("a", 1, 1.5, True), ("b", None, 2.25, False),
                   (None, 3, None, None)]


def test_read_excel_shared_strings_and_sparse_rows(spark, tmpd):
    """Foreign xlsx shapes the stdlib writer never emits: sharedStrings
    cells and sparse rows addressed only by cell reference."""
    import zipfile

    from dissertation_data_pipeline_spark.sources import xlsx

    path = f"{tmpd}/foreign.xlsx"
    sheet = (
        '<?xml version="1.0"?><worksheet xmlns='
        '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="B2"><v>42</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>2</v></c></row>'
        "</sheetData></worksheet>"
    )
    shared = (
        '<?xml version="1.0"?><sst xmlns='
        '"http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3">'
        "<si><t>k</t></si><si><t>v</t></si><si><t>zed</t></si></sst>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        z.writestr("xl/sharedStrings.xml", shared)
    assert xlsx.read_rows(path) == [["k", "v"], [None, 42], ["zed", None]]


def test_wav_decoder_roundtrip():
    """REAL WAV decode: a synthesized PCM-8 file parses back to its
    exact parameters, and a full-scale square wave has RMS 1.0."""
    import math

    # full-scale square wave in unsigned 8-bit: 0 and 256 are out of
    # range, so use 0/255 -> offsets -128/+127
    pcm = bytes([0, 255] * 100)
    wav = mm.make_pcm8_wav(pcm, sample_rate=16000)
    rate, ch, n, rms = mm.wav_audio_decoder(wav)
    assert (rate, ch, n) == (16000, 1, 200)
    expected = math.sqrt((100 * 128**2 + 100 * 127**2) / (128**2 * 200))
    assert rms == expected  # exact: integer sum of squares + IEEE sqrt

    # silence (midpoint samples) has RMS 0
    assert mm.wav_audio_decoder(mm.make_pcm8_wav(bytes([128] * 50)))[3] == 0.0


def test_wav_decoder_16bit():
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(struct.pack("<6h", 0, 16384, -16384, 32767, -32768, 0))
    rate, ch, n, rms = mm.wav_audio_decoder(buf.getvalue())
    assert (rate, ch, n) == (44100, 2, 3)  # 3 frames x 2 channels
    assert 0.5 < rms < 0.8


def test_extract_audio_features_real_decode(spark):
    rows = [(1, bytes((i * 7) % 256 for i in range(80))), (2, bytes([128] * 40))]
    media = spark.createDataFrame(
        [
            (mid, "audio", "audio/wav", mm.make_pcm8_wav(pcm), None)
            for mid, pcm in rows
        ],
        mm.MEDIA_SCHEMA,
    )
    got = {r["media_id"]: r for r in mm.extract_audio_features(media).collect()}
    assert got[1]["n_samples"] == 80 and got[1]["sample_rate"] == 8000
    assert got[1]["duration_s"] == 80 / 8000
    assert got[2]["rms"] == 0.0


def test_orc_roundtrip_with_pushdown(spark, tmpd):
    from dissertation_data_pipeline_spark.sources.io import read_orc, write_table
    from dissertation_data_pipeline_spark.tables import load_table

    o = load_table(spark, "/root/testdata/sf0.001", "orders").limit(500)
    path = f"{tmpd}/orders_orc"
    write_table(o, path, fmt="orc", compression="zstd")
    back = read_orc(spark, path)
    assert back.count() == 500
    assert [f.name for f in back.schema] == [f.name for f in o.schema]
    # predicate reaches the ORC scan
    plan = (
        back.filter(F.col("o_orderkey") == 42)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan, plan


def test_max_records_per_file_governs_file_count(spark, tmpd):
    import glob

    from dissertation_data_pipeline_spark.sources.io import write_table
    from dissertation_data_pipeline_spark.tables import load_table

    o = load_table(spark, "/root/testdata/sf0.001", "orders").coalesce(1)
    path = f"{tmpd}/orders_sized"
    write_table(o, path, max_records_per_file=400)
    n_rows = o.count()
    files = glob.glob(f"{path}/*.parquet")
    assert len(files) >= n_rows // 400, files


# ------------------------------------------------------- schema evolution
def test_read_parquet_evolving_merges_schema_versions(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from dissertation_data_pipeline_spark.sources.io import (
        read_parquet_evolving,
    )

    p = str(tmp_path / "evolving")
    # v1 files: (id, name); v2 files add quality
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string").write.parquet(p)
    spark.createDataFrame(
        [(3, "c", 0.9)], "id long, name string, quality double"
    ).write.mode("append").parquet(p)

    contract = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("quality", StringType()),  # contract says string
        ]
    )
    got = {r["id"]: r for r in read_parquet_evolving(spark, p, contract).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["quality"] is None  # v1 file -> NULL for the new column
    assert got[3]["quality"] == "0.9"  # conformed to the contract type


# --------------------------------------------------------------- UDTF demo
def test_python_udtf_chunker_matches_codegen_semantics(spark):
    from pyspark.sql.functions import lit

    from dissertation_data_pipeline_spark.operators.udtfs import (
        ChunkText,
        register_udtfs,
    )

    rows = ChunkText(lit("a b c d e f g"), lit(3)).collect()
    assert [(r["pos"], r["chunk"], r["n_tokens"]) for r in rows] == [
        (0, "a b c", 3),
        (1, "d e f", 3),
        (2, "g", 1),
    ]

    # SQL surface: registered and LATERAL-joinable
    register_udtfs(spark)
    got = spark.sql(
        "SELECT t.pos, t.chunk FROM VALUES ('x y z w') AS v(s), "
        "LATERAL chunk_text(v.s, 2) AS t ORDER BY t.pos"
    ).collect()
    assert [(r["pos"], r["chunk"]) for r in got] == [(0, "x y"), (1, "z w")]


def test_statetable_recovers_from_crashed_swap(spark, tmp_path):
    # simulate a crash between the two renames of upsert's snapshot
    # swap: current moved to .bak, tmp never promoted — read() must
    # restore the .bak snapshot, and the next upsert must succeed even
    # with stale .tmp/.bak directories lying around
    import os
    import shutil

    from pyspark.sql.types import StructType, StructField, StringType

    from dissertation_data_pipeline_spark.sources import state as sstate

    schema = StructType(
        [StructField("key", StringType()), StructField("val", StringType())]
    )
    path = str(tmp_path / "state")
    st = sstate.StateTable(spark, path, schema, "key")
    st.upsert(spark.createDataFrame([("k1", "v1")], schema))
    # crash simulation: current -> .bak done, promotion never happened
    shutil.copytree(path, path + ".tmp")
    os.rename(path, path + ".bak")
    got = {(r.key, r.val) for r in st.read().collect()}
    assert got == {("k1", "v1")}  # recovered from .bak
    # stale .tmp still present: the next upsert must clear it and work
    st.upsert(spark.createDataFrame([("k2", "v2")], schema))
    got = {(r.key, r.val) for r in st.read().collect()}
    assert got == {("k1", "v1"), ("k2", "v2")}
    assert not os.path.exists(path + ".bak")


def test_pdf_and_base64_corruption_yield_sentinels_not_failures(spark):
    from dissertation_data_pipeline_spark.operators import text_udf as tu

    # corrupt PDF bytes: sentinel None, never an exception
    assert tu.pdf_to_text(b"%PDF-1.4 truncated garbage") in (None, "")
    # corrupt base64 payload flows through extract_documents as a row
    docs = spark.createDataFrame(
        [("B1", "text/html", "!!!not-base64!!!")],
        "bill_id string, mime string, doc_b64 string",
    )
    out = {r.bill_id: r for r in tu.extract_documents(docs).collect()}
    assert out["B1"].notes == "undecodable_payload"
    assert out["B1"].normalized_text is None


def test_compact_parquet_handles_partitioned_layout(spark, tmp_path):
    import os

    from dissertation_data_pipeline_spark.sources.layout import compact_parquet
    from dissertation_data_pipeline_spark.tables import load_table

    path = str(tmp_path / "part_table")
    load_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "bucket", (F.col("o_orderkey") % 3).cast("int")
    ).repartition(6).write.partitionBy("bucket").parquet(path)
    before = spark.read.parquet(path).count()
    n = compact_parquet(spark, path)
    assert n >= 1
    assert spark.read.parquet(path).count() == before  # no rows lost
    assert not os.path.exists(path + ".compact-bak")


def test_read_excel_error_and_date_cells_surface_as_text(spark, tmpd):
    """t=\"e\" error cells and t=\"d\" ISO dates are outside the codec's
    numeric model — they must surface as text (conform casts or NULLs
    them), never crash the numeric parse."""
    import zipfile

    from dissertation_data_pipeline_spark.sources import xlsx

    path = f"{tmpd}/odd.xlsx"
    sheet = (
        '<?xml version="1.0"?><worksheet xmlns='
        '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        '<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>'
        '<row r="2"><c r="A2" t="e"><v>#DIV/0!</v></c></row>'
        '<row r="3"><c r="A3" t="d"><v>2023-05-01T00:00:00</v></c></row>'
        '<row r="4"><c r="A4"><v>1E2</v></c></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    rows = xlsx.read_rows(path)
    assert rows == [["k"], ["#DIV/0!"], ["2023-05-01T00:00:00"], [100.0]]


def test_read_csv_headerless_maps_positionally(spark, tmpd):
    """header=False must map file columns onto the contract by
    POSITION — conform's by-name matching sees _c0.._cN and would
    silently return an all-NULL frame."""
    from dissertation_data_pipeline_spark.schemas import BILLS_RAW

    names = [f.name for f in BILLS_RAW.fields]
    p = os.path.join(tmpd, "noheader.csv")
    with open(p, "w", encoding="utf-8") as fh:
        fh.write(",".join(["CO" if n == "state" else f"v_{n}" for n in names]) + "\n")
    out = sio.read_csv(spark, p, BILLS_RAW, header=False)
    row = out.collect()[0]
    assert row["state"] == "CO"  # not NULL: positional mapping applied
    # too-few columns is an error, not an all-NULL frame
    p2 = os.path.join(tmpd, "short.csv")
    with open(p2, "w", encoding="utf-8") as fh:
        fh.write("a,b\n")
    with pytest.raises(ValueError, match="headerless"):
        sio.read_csv(spark, p2, BILLS_RAW, header=False)


def test_read_col_widths_no_worksheet_raises_value_error(tmpd):
    import zipfile

    from dissertation_data_pipeline_spark.sources import xlsx

    p = os.path.join(tmpd, "empty.xlsx")
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/workbook.xml", "<workbook/>")
    with pytest.raises(ValueError, match="no worksheet part"):
        xlsx.read_col_widths(p)


# --- Z-order layout and compaction -----------------------------------------

def test_zorder_value_interleaves_bits(spark):
    df = spark.range(1).select(
        zorder_value(F.lit(0b1010), F.lit(0b0110), 4).alias("z")
    )
    # a bits -> odd positions, b bits -> even: a=1010, b=0110
    # z = b0*1 + a0*2 + b1*4 + a1*8 + ... = interleave(a,b)
    a, b = 0b1010, 0b0110
    expect = sum(((a >> i) & 1) << (2 * i + 1) for i in range(4)) | sum(
        ((b >> i) & 1) << (2 * i) for i in range(4)
    )
    assert df.collect()[0]["z"] == expect


def test_zorder_layout_skips_files_in_both_dims(spark, tmp_path):
    # 64x64 grid of (a, b) keys, one row each — worst case for 1-D sort
    grid = (
        spark.range(64 * 64)
        .select(
            (F.col("id") % 64).alias("a"),
            (F.col("id") / 64).cast("long").alias("b"),
            F.col("id").alias("payload"),
        )
    )
    zpath = str(tmp_path / "zorder")
    apath = str(tmp_path / "asort")
    write_zordered(grid, zpath, "a", "b", bits=6, n_files=16)
    (
        grid.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(apath)
    )
    zstats = file_minmax_stats(zpath, ["a", "b"])
    astats = file_minmax_stats(apath, ["a", "b"])
    assert len(zstats) == 16
    # filter on a: both layouts skip
    assert skipped_fraction(zstats, "a", 0, 7) >= 0.5
    assert skipped_fraction(astats, "a", 0, 7) >= 0.5
    # filter on b: ONLY the z-order layout skips — the point of the curve
    z_b = skipped_fraction(zstats, "b", 0, 7)
    a_b = skipped_fraction(astats, "b", 0, 7)
    assert z_b >= 0.5
    assert a_b == 0.0


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from dissertation_data_pipeline_spark.sources.layout import compact_parquet

    p = str(tmp_path / "frag")
    spark.range(50_000).selectExpr(
        "id", "id % 97 AS k", "repeat('x', 64) AS pad"
    ).repartition(64).write.parquet(p)
    import glob

    assert len(glob.glob(p + "/*.parquet")) == 64
    before = spark.read.parquet(p).orderBy("id").collect()

    n = compact_parquet(spark, p, target_bytes=16 * 1024 * 1024)
    files = glob.glob(p + "/*.parquet")
    assert len(files) == n and n < 8  # tiny table -> a handful of files
    after = spark.read.parquet(p).orderBy("id").collect()
    assert after == before  # byte-identical contents

    # sorted compaction restores clustering: per-file key ranges disjoint
    from dissertation_data_pipeline_spark.sources.layout import (
        file_minmax_stats,
    )

    compact_parquet(spark, p, target_bytes=4 * 1024 * 1024, sort_cols=["k"])
    stats = sorted(
        file_minmax_stats(p, ["k"]), key=lambda s: (s["k_min"], s["k_max"])
    )
    for lo, hi in zip(stats, stats[1:]):
        assert lo["k_max"] <= hi["k_min"]
