"""Sources: binaryFile scan + format dispatch + parse UDFs (text path real,
library paths degrade to row errors) + multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.io import (
    read_landing_dir,
    upsert_parquet,
)
from multiagent_document_etl_system_spark.sources import (
    fixtures,
    multimodal,
    parsers,
)


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    (d / "a.txt").write_bytes("hello landing".encode())
    (d / "b.TXT").write_bytes("upper ext".encode())
    (d / "c.pdf").write_bytes(b"%PDF-1.4 fake")
    (d / "d.docx").write_bytes(b"PK fake docx")
    (d / "e.png").write_bytes(b"\x89PNG fake")
    (d / "f.bin").write_bytes(b"\xff\xfe\x00binary")
    return str(d)


def test_binary_scan_and_dispatch(spark, landing):
    df = read_landing_dir(spark, landing)
    assert df.count() == 6
    fmt = {r["name"]: r["fmt"] for r in df.select(
        F.element_at(F.split("path", "/"), -1).alias("name"),
        parsers.file_format(F.col("path")).alias("fmt")).collect()}
    assert fmt["a.txt"] == "text"
    assert fmt["c.pdf"] == "pdf"
    assert fmt["d.docx"] == "docx"
    assert fmt["e.png"] == "image"
    assert fmt["f.bin"] == "text"


def test_parse_documents_text_path_and_row_errors(spark, landing):
    out = parsers.parse_documents(read_landing_dir(spark, landing))
    rows = {r["name"]: r for r in out.select(
        F.element_at(F.split("path", "/"), -1).alias("name"),
        "content", "raw_text", "parse_error").collect()}
    # the single-document dispatch gives what the parse UDF gave
    for r in rows.values():
        assert parsers.parse_bytes(
            parsers.format_for_path(r["name"]), r["content"]) == \
            (r["raw_text"], r["parse_error"])
    assert rows["a.txt"]["raw_text"] == "hello landing"
    assert rows["a.txt"]["parse_error"] is None
    # pdf/docx/image libs absent OR fake bytes → row-level error, no task failure
    for f in ("c.pdf", "d.docx", "e.png"):
        assert rows[f]["raw_text"] is None
        assert rows[f]["parse_error"]
    # invalid utf-8 → decode error captured per-row
    assert rows["f.bin"]["raw_text"] is None
    assert "decode" in rows["f.bin"]["parse_error"] or \
        "parse failed" in rows["f.bin"]["parse_error"]


def test_docx_parses_end_to_end_via_stdlib_fallback(spark):
    """A REAL (in-memory, stdlib-built) .docx flows through parse_documents
    and yields extracted text with the reference's paragraph + table
    ' | '-join semantics (/root/reference/src/parsers.py:53-86) — works
    with or without python-docx in the environment."""
    b = fixtures.make_demo_docx_bytes(
        ["Hello world", "  ", "Second para"],
        [["name", "qty"], ["widget", "3"]],
    )
    df = spark.createDataFrame(
        [("report.docx", bytearray(b))], "path string, content binary")
    row = parsers.parse_documents(df).select("format", "raw_text",
                                             "parse_error").collect()[0]
    assert row["format"] == "docx"
    assert row["parse_error"] is None
    assert row["raw_text"] == \
        "Hello world\nSecond para\nname | qty\nwidget | 3"


def test_docx_stdlib_parser_direct():
    """The stdlib extractor handles empty paragraphs, empty cells, and
    multi-paragraph cells like python-docx would."""
    b = fixtures.make_demo_docx_bytes(["Only para"], [["a", "", "b"]])
    assert parsers._docx_parse_stdlib(b) == "Only para\na | b"
    # corrupt zip → caller's per-row error channel handles it
    parse = parsers._PARSERS["docx"]
    text, err = parse(b"PK not a real zip")
    assert text is None and "docx parse failed" in err


def test_demo_docx_bytes_do_not_depend_on_the_clock(monkeypatch):
    """The same paragraphs give the same .docx bytes at any wall-clock
    time: zip member dates are fixed, not stamped by ``zipfile``."""
    import time

    real = time.localtime
    out = []
    for stamp in (946684800, 1767225600):  # 2000-01-01, 2026-01-01
        monkeypatch.setattr(time, "localtime",
                            lambda secs=None, stamp=stamp: real(stamp))
        out.append(fixtures.make_demo_docx_bytes(["Same para"], [["a"]]))
    assert out[0] == out[1]


def test_pdf_parses_end_to_end_via_stdlib_fallback(spark):
    """A REAL (in-memory, stdlib-built, Flate-compressed) PDF flows through
    parse_documents and yields the shown text lines — works with or
    without pdfplumber in the environment."""
    b = fixtures.make_demo_pdf_bytes(
        ["Invoice INV-9", "Total due: 42.00 (net)"], compress=True)
    df = spark.createDataFrame(
        [("inv.pdf", bytearray(b))], "path string, content binary")
    row = parsers.parse_documents(df).select(
        "format", "raw_text", "parse_error").collect()[0]
    assert row["format"] == "pdf"
    assert row["parse_error"] is None
    assert row["raw_text"] == "Invoice INV-9\nTotal due: 42.00 (net)"


def test_pdf_stdlib_parser_direct():
    """Uncompressed streams, TJ arrays, escapes, and the honest failure
    modes of the subset parser."""
    # uncompressed + escaped parens round-trip
    b = fixtures.make_demo_pdf_bytes(["a (x) b"], compress=False)
    assert parsers._pdf_parse_stdlib(b) == "a (x) b"
    # TJ array form with kerning numbers between strings
    raw = (b"%PDF-1.4\nstream\nBT [(Hel) -20 (lo)] TJ ET\nendstream\n")
    assert parsers._pdf_parse_stdlib(raw) == "Hello"
    # octal + newline escapes
    raw2 = b"%PDF-1.4\nstream\nBT (A\\012B\\(C) Tj ET\nendstream\n"
    assert parsers._pdf_parse_stdlib(raw2) == "A\nB(C"
    # non-PDF bytes and textless PDFs raise (→ per-row error upstream)
    parse = parsers._PARSERS["pdf"]
    assert "pdf parse failed" in parse(b"not a pdf")[1]
    assert "pdf parse failed" in parse(b"%PDF-1.4 no streams here")[1]


def test_multimodal_decode_features(spark):
    media = multimodal.make_demo_media(spark, n=32)
    out = multimodal.decode_features(media, dim=8)
    rows = out.collect()
    assert len(rows) == 32
    for r in rows:
        assert r["decode_error"] is None
        assert len(r["feature"]) == 8
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
        assert r["n_bytes"] > 0
    # deterministic across runs
    again = {r["media_id"]: r["feature"]
             for r in multimodal.decode_features(media, dim=8).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)


def test_multimodal_frame_sampling(spark):
    """1→N frame fan-out: bounded frames per video, monotone timestamps,
    chunked payload bytes, deterministic across runs."""
    media = multimodal.make_demo_media(spark, n=30).filter(
        F.col("media_type") == "video")
    n_videos = media.count()
    frames = multimodal.sample_frames(media, every_ms=1000, max_frames=4)
    rows = frames.collect()
    by_vid = {}
    for r in rows:
        assert r["decode_error"] is None
        by_vid.setdefault(r["media_id"], []).append(r)
    assert len(by_vid) == n_videos
    for vid, fs in by_vid.items():
        fs = sorted(fs, key=lambda r: r["frame_idx"])
        assert 1 <= len(fs) <= 4
        assert [f["frame_ts_ms"] for f in fs] == \
            [i * 1000 for i in range(len(fs))]
        assert all(f["frame_bytes"] for f in fs)
    # deterministic
    again = sorted((r["media_id"], r["frame_idx"], bytes(r["frame_bytes"]))
                   for r in multimodal.sample_frames(
                       media, every_ms=1000, max_frames=4).collect())
    first = sorted((r["media_id"], r["frame_idx"], bytes(r["frame_bytes"]))
                   for r in rows)
    assert again == first


def test_multimodal_metadata_prunes_without_bytes(spark, tmp_path):
    """Metadata-only projection over a parquet-backed media table must not
    read the binary column: the scan's ReadSchema excludes `content`, so the
    bytes pages are never touched (the property that matters at 100 TB)."""
    path = str(tmp_path / "media.parquet")
    multimodal.make_demo_media(spark, n=8).write.parquet(path)
    meta_only = spark.read.parquet(path).select(
        "media_id", "media_type", "meta.width")
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        meta_only.explain("formatted")
    plan = buf.getvalue()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "content" not in read_schema[0]
    assert "media_id" in read_schema[0]


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    """K3 MERGE emulation: incoming batch wins on key collision, new keys
    insert, untouched rows survive, and the operation is idempotent."""
    path = str(tmp_path / "schemas.parquet")
    spark.createDataFrame(
        [("invoice", "v1"), ("receipt", "v1")], "doc_type string, body string"
    ).write.parquet(path)

    batch = spark.createDataFrame(
        [("invoice", "v2"), ("contract", "v1")], "doc_type string, body string"
    )
    upsert_parquet(spark, batch, path, ["doc_type"])
    rows = {r["doc_type"]: r["body"] for r in spark.read.parquet(path).collect()}
    assert rows == {"invoice": "v2", "receipt": "v1", "contract": "v1"}

    # idempotent re-apply
    upsert_parquet(spark, batch, path, ["doc_type"])
    again = {r["doc_type"]: r["body"] for r in spark.read.parquet(path).collect()}
    assert again == rows


def test_upsert_parquet_self_heals_after_crash(spark, tmp_path):
    """Crash-window recovery: if a previous upsert died between the two
    swap renames (live table parked at __upsert_old, nothing at path), the
    next upsert restores the backup BEFORE merging — prior rows survive."""
    import os

    path = str(tmp_path / "schemas.parquet")
    spark.createDataFrame(
        [("invoice", "v1"), ("receipt", "v1")], "doc_type string, body string"
    ).write.parquet(path)
    # simulate the crash state
    os.rename(path, path + "__upsert_old")
    assert not os.path.exists(path)

    batch = spark.createDataFrame(
        [("contract", "v1")], "doc_type string, body string")
    upsert_parquet(spark, batch, path, ["doc_type"])
    rows = {r["doc_type"]: r["body"] for r in spark.read.parquet(path).collect()}
    assert rows == {"invoice": "v1", "receipt": "v1", "contract": "v1"}
    assert not os.path.exists(path + "__upsert_old")


def test_events_load_restores_nanos_conf(spark):
    """load_table('events') must not leak the nanosAsLong legacy flag into
    the caller's session (it would silently turn later TIMESTAMP(NANOS)
    reads into BIGINT columns)."""
    from multiagent_document_etl_system_spark.io import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prior = spark.conf.get(key)
    except Exception:
        prior = None
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == prior
    # the returned DataFrame still executes fine after the restore
    assert df.count() > 0
    assert str(df.schema["ts"].dataType) == "TimestampType()"


def test_upsert_parquet_creates_table(spark, tmp_path):
    path = str(tmp_path / "fresh.parquet")
    batch = spark.createDataFrame([(1, "a")], "id long, v string")
    upsert_parquet(spark, batch, path, ["id"])
    assert spark.read.parquet(path).count() == 1


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """write_parquet(partition_by=...) → a filtered read shows
    PartitionFilters and scans only matching directories — the 100 TB
    layout lever (SCALE.md)."""
    import contextlib
    import io as _io

    from multiagent_document_etl_system_spark.io import (
        load_table,
        write_parquet,
    )

    path = str(tmp_path / "docs_by_lang")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    write_parquet(docs, path, partition_by=["lang"])

    q = spark.read.parquet(path).filter(F.col("lang") == "en") \
        .select("doc_id", "n_chars")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "lang" in pf[0], plan[:1500]
    # correctness: pruned read equals filtered full read
    assert q.count() == docs.filter(F.col("lang") == "en").count()


def test_resize_images_nearest_neighbor_exact(spark):
    """resize_images is REAL pixel work: verify against a hand-computed
    nearest-neighbor downsample of a known 4x4 raster."""
    import numpy as np
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.sources import multimodal

    raster = bytes(range(16))  # 4x4: rows [0..3],[4..7],[8..11],[12..15]
    df = spark.createDataFrame(
        [(1, "image", raster, (4, 4, None, "raw8"))],
        multimodal.MEDIA_SCHEMA)
    out = multimodal.resize_images(df, width=2, height=2).collect()[0]
    assert out["resize_error"] is None
    # yi = [0, 2], xi = [0, 2] -> pixels (0,0),(0,2),(2,0),(2,2)
    assert bytes(out["pixels"]) == bytes([0, 2, 8, 10])

    # non-raster payload -> per-row error, not a task failure
    bad = spark.createDataFrame(
        [(2, "image", b"\x01\x02\x03", (4, 4, None, "png"))],
        multimodal.MEDIA_SCHEMA)
    err = multimodal.resize_images(bad, width=2, height=2).collect()[0]
    assert err["pixels"] is None
    assert "raster" in err["resize_error"]


def test_demo_media_images_are_full_rasters(spark):
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.sources import multimodal

    imgs = multimodal.make_demo_media(spark, n=30).filter(
        F.col("media_type") == "image")
    rows = imgs.select(
        F.length("content").alias("n"),
        (F.col("meta.width") * F.col("meta.height")).alias("wh")).collect()
    assert rows and all(r["n"] == r["wh"] for r in rows)


def test_schema_evolution_merge_read(spark, tmp_path):
    """Dataset-versioning companion: a table written by an older pipeline
    version (fewer columns) and a newer one (added column) reads back as
    ONE unified schema with nulls for the missing column — Spark's
    mergeSchema path, the zero-downtime way to add response fields."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "doc_id long, doc_type string") \
        .write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 0.9)], "doc_id long, doc_type string, quality double") \
        .write.mode("append").parquet(path)
    got = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(got.columns) == {"doc_id", "doc_type", "quality"}
    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows[1]["quality"] is None and rows[2]["quality"] == 0.9


def test_jsonl_corpus_per_row_fault_capture(spark, tmp_path):
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.io import read_jsonl_corpus

    p = tmp_path / "corpus.jsonl"
    p.write_text("\n".join([
        '{"doc_id": 1, "text": "hello world", "lang": "en"}',
        '{"doc_id": 2, "text": "bonjour"}',          # missing field -> NULL
        '{"doc_id": 3, "text": "broken',             # malformed line
        '{"doc_id": 4, "text": "ok", "lang": "de", "extra": 9}',  # drift
    ]))
    df = read_jsonl_corpus(spark, str(p), "doc_id long, text string, lang string")
    rows = {r["doc_id"]: r for r in df.collect()}
    assert df.count() == 4
    assert rows[1]["lang"] == "en"
    assert rows[2]["lang"] is None and rows[2]["_corrupt_record"] is None
    assert rows[4]["text"] == "ok"          # unknown extra field ignored
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and '"broken' in bad[0]["_corrupt_record"]
    assert bad[0]["doc_id"] is None


def test_csv_corpus_per_row_fault_capture(spark, tmp_path):
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.io import read_csv_corpus

    p = tmp_path / "corpus.csv"
    p.write_text("\n".join([
        "doc_id,text,n",
        "1,hello,10",
        "2,world",              # short line -> NULL-padded
        "3,bad,notanumber",     # type mismatch -> corrupt capture
    ]))
    df = read_csv_corpus(spark, str(p), "doc_id long, text string, n long")
    rows = {r["doc_id"]: r for r in df.collect()}
    assert df.count() == 3
    assert rows[1]["n"] == 10 and rows[1]["_corrupt_record"] is None
    # short line: parsed prefix kept, raw line parked for the audit trail
    assert rows[2]["text"] == "world" and rows[2]["n"] is None
    assert rows[2]["_corrupt_record"] == "2,world"
    # type mismatch: same contract
    assert rows[3]["n"] is None and rows[3]["_corrupt_record"] is not None
    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 2


def test_ignore_corrupt_files_scan(spark, tmp_path):
    """File-level fault tolerance, complementing the row-level
    _corrupt_record capture: with ignoreCorruptFiles a garbage file in a
    100 TB drop costs its own rows only, not the job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "drop"
    d.mkdir()
    pq.write_table(pa.table({"id": list(range(10))}),
                   str(d / "good.parquet"))
    (d / "junk.parquet").write_bytes(b"this is not a parquet file")
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        got = spark.read.parquet(str(d)).count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
    assert got == 10


def test_ocr_parses_rendered_bmp_end_to_end(spark, tmp_path):
    """S4 upgraded (round-4): a machine-rendered BMP flows through
    parse_documents and yields the text back via the pure-stdlib OCR rung
    (BMP decode -> binarize -> line/char segmentation -> 5x7 template
    match) — the same constrained-but-genuine-subset contract as the
    stdlib PDF/DOCX rungs. pytesseract remains the first rung for real
    scans when importable."""
    bmp = fixtures.render_text_bmp("INVOICE 42 TOTAL 1337\nPAID IN FULL")
    (tmp_path / "scan.png").write_bytes(bmp)  # .png ext routes to "image"
    out = parsers.parse_documents(read_landing_dir(spark, str(tmp_path)))
    r = out.select("raw_text", "parse_error").collect()[0]
    assert r["parse_error"] is None
    assert r["raw_text"] == "INVOICE 42 TOTAL 1337\nPAID IN FULL"


def test_ocr_parses_rendered_jpeg_end_to_end(spark, tmp_path):
    """S4 round-6: a machine-rendered baseline JPEG (YCbCr 4:2:0 with
    restart markers — the shape a real screenshot-as-JPEG encoder emits)
    flows through parse_documents and yields the text back via the
    pure-stdlib JPEG decode + template OCR rung."""
    jpg = fixtures.render_text_jpeg("RECEIPT 77 TOTAL 450",
                                    subsampling="420", restart_interval=2)
    (tmp_path / "scan.jpg").write_bytes(jpg)
    out = parsers.parse_documents(read_landing_dir(spark, str(tmp_path)))
    r = out.select("raw_text", "parse_error").collect()[0]
    assert r["parse_error"] is None
    assert r["raw_text"] == "RECEIPT 77 TOTAL 450"


def test_ocr_tolerates_noise_and_flags_unreadable_glyphs():
    """Template matching is tolerant (Hamming budget), not a byte
    round-trip: salt-noise pixels do not change the reading, and a glyph
    mangled beyond the budget reads as '?' instead of a wrong letter."""
    import random

    bmp = bytearray(fixtures.render_text_bmp("QUICK BROWN FOX 0189"))
    rng = random.Random(5)
    flips = 0
    while flips < 8:
        i = rng.randrange(54, len(bmp))
        if bmp[i] == 255:
            bmp[i] = 0
            flips += 1
    assert parsers._ocr_parse_stdlib(bytes(bmp)) == "QUICK BROWN FOX 0189"
    # obliterate one glyph entirely -> '?', neighbors unharmed
    solid = fixtures.render_text_bmp("AB")
    px = parsers._decode_bmp_24(solid)
    h, w = len(px), len(px[0])
    blotted = bytearray(solid)
    # fill the SECOND glyph slot (cols 8..13 at margin 2) with ink
    stride = (w * 3 + 3) // 4 * 4
    off = 54
    for r in range(2, h - 2):
        for c in range(8, min(13, w)):
            bmp_row = h - 1 - r  # bottom-up
            for byte in range(3):
                blotted[off + bmp_row * stride + 3 * c + byte] = 0
    got = parsers._ocr_parse_stdlib(bytes(blotted))
    assert got.startswith("A")
    assert "?" in got


def test_ocr_rejects_non_bmp_per_row():
    import pytest

    with pytest.raises(ValueError):
        parsers._ocr_parse_stdlib(b"\x89PNG\r\n\x1a\n garbage")


def test_decode_luma_matches_each_format_decoder():
    """The one image-container dispatch returns exactly what the format's
    own decoder returns, and None for a payload that is no BMP, PNG or
    JPEG container (each caller applies its own policy to None)."""
    text = "INVOICE 42"
    aa = fixtures.render_text_aa_pixels(text, scale=2)
    cases = [
        (fixtures.render_text_bmp(text), parsers._decode_bmp_24),
        (fixtures.render_text_png(text), parsers._decode_png),
        (fixtures.render_text_png("", pixels=aa), parsers._decode_png),
        (fixtures.render_text_jpeg(text, subsampling="420",
                                   restart_interval=2),
         parsers._decode_jpeg_luma),
        (fixtures.render_text_jpeg_progressive(text),
         parsers._decode_jpeg_progressive),
    ]
    for payload, decode in cases:
        want = decode(payload)
        assert want and parsers.decode_luma(payload) == want, decode.__name__
    for other in (b"", b"plain text body", b"RIFF....WAVE", b"%PDF-1.4"):
        assert parsers.decode_luma(other) is None


def test_ocr_reads_anti_aliased_renders_at_any_scale():
    """The r8 S4 boundary extension: machine-rendered text stays REAL
    under anti-aliasing (gray edge ramps) at 2x/3x/4x scale, through
    both the PNG and the lossy JPEG container — Otsu binarization plus
    the line-height-scaled space threshold do the work."""
    text = "INVOICE 42 TOTAL 99\nITEM A 1 ITEM B 2"
    for scale in (2, 3, 4):
        aa = fixtures.render_text_aa_pixels(text, scale=scale)
        # AA really produced intermediate grays, not a bilevel image
        flat = {v for row in aa for v in row}
        assert any(30 < v < 220 for v in flat), sorted(flat)[:8]
        assert parsers._ocr_parse_stdlib(
            fixtures.render_text_png("", pixels=aa)) == text
        assert parsers._ocr_parse_stdlib(
            fixtures.render_text_jpeg("", pixels=aa, quality=90)) == text


def test_phash_invariants_and_pairing(spark):
    """Perceptual image hash (r8): the SAME rendered content survives
    container and rendering changes (BMP == PNG exactly; anti-aliased and
    lossy-JPEG versions within a small Hamming budget), DIFFERENT content
    is far; the banded pair query finds exactly the same-content groups."""
    from multiagent_document_etl_system_spark.sources import multimodal

    def ph(payload):
        rows = multimodal._decode_luma_rows(payload, {"codec": "file"})
        return multimodal._phash64(rows)

    a_bmp = ph(fixtures.render_text_bmp("INVOICE 42 TOTAL 99"))
    a_png = ph(fixtures.render_text_png("INVOICE 42 TOTAL 99"))
    a_aa = ph(fixtures.render_text_png(
        "", pixels=fixtures.render_text_aa_pixels("INVOICE 42 TOTAL 99",
                                                  scale=2)))
    a_jpg = ph(fixtures.render_text_jpeg("INVOICE 42 TOTAL 99", quality=90))
    b_png = ph(fixtures.render_text_png("REPORT AGG GROUP 7"))

    def ham(x, y):
        return bin(x ^ y).count("1")

    assert a_bmp == a_png  # identical rasters -> identical hash
    assert ham(a_bmp, a_aa) <= 16, ham(a_bmp, a_aa)
    assert ham(a_bmp, a_jpg) <= 16, ham(a_bmp, a_jpg)
    assert ham(a_bmp, b_png) > 16, ham(a_bmp, b_png)
    assert 0 <= a_bmp < (1 << 63)  # fits a non-negative int64

    # the registry fixture: 4 texts x 4 containers -> pairs ONLY within
    # each text's container group (C(4,2)=6 pairs per text)
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    pairs = QUERIES["mm_phash_pairs"][0](
        spark, "/root/testdata/sf0.001").collect()
    groups = {r["id_a"] // 4 for r in pairs} | {r["id_b"] // 4
                                                for r in pairs}
    assert all(r["id_a"] // 4 == r["id_b"] // 4 for r in pairs)
    assert len(pairs) == 6 * 4, len(pairs)
    assert groups == {0, 1, 2, 3}


def test_ocr_photograph_gate_errors_per_row():
    """The declared S4 limit (r7 verdict #6, closed r8): a photograph —
    binarization inks most of the frame, or glyph cells mostly fail the
    template match — raises the pinned pytesseract message instead of
    emitting silent '?' garbage; parse_documents surfaces it as the
    row's parse_error."""
    import math

    import pytest

    w = h = 48
    photo = [[max(0, min(255, int(
        128 + 90 * math.sin(r / 3.1) * math.cos(c / 4.3) + r + c))) % 256
        for c in range(w)] for r in range(h)]
    png = fixtures.render_text_png("", pixels=photo)
    with pytest.raises(ValueError, match="requires pytesseract"):
        parsers._ocr_parse_stdlib(png)
    fn = parsers._PARSERS["image"]
    text, err = fn(bytearray(png))
    assert text is None and "requires pytesseract" in err


def test_orc_round_trip_and_pushdown(spark, tmp_path):
    """ORC sink/source: values and schema survive a partitioned
    round-trip, and a partition filter prunes to the selected lang
    directories (same contract as the parquet path)."""
    from multiagent_document_etl_system_spark.io import (
        load_table,
        read_orc,
        write_orc,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path, partition_by=["lang"])

    back = read_orc(spark, path)
    assert {f.name for f in back.schema.fields} \
        == {f.name for f in docs.schema.fields}
    a = {(r.doc_id, r.text, r.lang, r.source, r.n_chars)
         for r in docs.collect()}
    b = {(r.doc_id, r.text, r.lang, r.source, r.n_chars)
         for r in back.collect()}
    assert a == b

    pruned = back.filter(F.col("lang") == "en").select("doc_id")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan
    assert pruned.count() == docs.filter(F.col("lang") == "en").count()


def test_read_xml_corpus(spark, tmp_path):
    """Spark 4 built-in XML source: schema'd PERMISSIVE read with the
    same per-row corrupt-record contract as the JSONL/CSV ingests — a
    type-mismatched record costs one row, not the job."""
    from multiagent_document_etl_system_spark.io import read_xml_corpus

    p = tmp_path / "corpus.xml"
    p.write_text(
        "<docs>"
        "<doc><doc_id>1</doc_id><text>hello</text><n>10</n></doc>"
        "<doc><doc_id>2</doc_id><text>world</text></doc>"
        "<doc><doc_id>3</doc_id><text>bad</text><n>notanum</n></doc>"
        "</docs>")
    df = read_xml_corpus(spark, str(p), row_tag="doc",
                         schema="doc_id long, text string, n long")
    rows = {r["doc_id"]: r for r in df.collect()}
    assert df.count() == 3
    assert rows[1]["n"] == 10 and rows[1]["_corrupt_record"] is None
    # missing field: schema drift tolerated, NULL, not corrupt
    assert rows[2]["n"] is None and rows[2]["_corrupt_record"] is None
    # type mismatch: raw record parked for the audit trail
    assert rows[3]["n"] is None and rows[3]["_corrupt_record"] is not None
    # schema-inference path (no schema given)
    inf = read_xml_corpus(spark, str(p), row_tag="doc")
    assert inf.count() == 3 and "text" in inf.columns


def test_mm_decode_real_pixels_for_bmp_png_jpeg(spark):
    """The multimodal decode rung ladder mirrors S4: BMP/PNG/baseline-JPEG
    payloads are REALLY decoded (stdlib + numpy IDCT for JPEG) and the
    feature is a luminance histogram of actual pixels — a rendered
    white-background image must put most mass in the top bin. A file that
    CLAIMS baseline JPEG but is corrupt is a per-row decode_error (same
    contract as corrupt BMP/PNG); r7: PROGRESSIVE JPEG decodes for real
    too (same histogram as the baseline twin — identical quantization),
    and only the arithmetic-coded tier falls back to the deterministic
    fake."""
    from multiagent_document_etl_system_spark.sources.multimodal import (
        decode_features,
    )
    from multiagent_document_etl_system_spark.sources.fixtures import (
        render_text_bmp,
        render_text_jpeg,
        render_text_jpeg_progressive,
        render_text_png,
    )

    bmp = render_text_bmp("HI")
    png = render_text_png("HI")
    jpg = render_text_jpeg("HI")
    prog = render_text_jpeg_progressive("HI")
    arith = bytearray(render_text_jpeg("HI"))
    arith[arith.find(b"\xff\xc0") + 1] = 0xC9  # arithmetic SOF marker
    rows = [(1, "image", bytearray(bmp), None),
            (2, "image", bytearray(png), None),
            (3, "image", bytearray(b"\xff\xd8 jpeg-ish junk"), None),
            (4, "image", bytearray(jpg), None),
            (5, "image", bytearray(prog), None),
            (6, "image", bytearray(bytes(arith)), None)]
    from multiagent_document_etl_system_spark.sources.multimodal import (
        MEDIA_SCHEMA,
    )

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in decode_features(df).collect()}
    assert all(out[i].decode_error is None for i in (1, 2, 4, 5, 6))
    assert out[3].decode_error is not None  # corrupt baseline -> error
    # white background dominates -> top luminance bin carries most mass
    for i in (1, 2, 4, 5):
        feat = out[i].feature
        assert abs(sum(feat) - 1.0) < 1e-6
        assert feat[-1] == max(feat) and feat[-1] > 0.5
    # BMP and PNG render the same glyphs -> identical histograms
    assert [round(x, 6) for x in out[1].feature] == \
        [round(x, 6) for x in out[2].feature]
    # progressive decodes for REAL: identical quantization to the
    # baseline twin -> byte-identical luma -> identical histogram
    assert [round(x, 6) for x in out[4].feature] == \
        [round(x, 6) for x in out[5].feature]
    # JPEG is lossy: histogram close to the BMP one, not byte-equal
    l1 = sum(abs(a - b) for a, b in zip(out[1].feature, out[4].feature))
    assert l1 < 0.1, l1


def test_mm_decode_real_wav_energy_envelope(spark):
    """Audio rung: a WAV built as loud-then-silent must put its energy
    mass in the early envelope segments — real PCM decode, not the byte
    fake. Truncated/garbage RIFF is a per-row decode_error."""
    from multiagent_document_etl_system_spark.sources.fixtures import (
        make_demo_wav,
    )
    from multiagent_document_etl_system_spark.sources.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
    )

    loud_then_silent = make_demo_wav([(20_000, 4000), (0, 4000)])
    rows = [(1, "audio", bytearray(loud_then_silent), None),
            (2, "audio", bytearray(b"RIFF....WAVEgarbage"), None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in decode_features(df).collect()}
    feat = out[1].feature
    assert out[1].decode_error is None
    assert abs(sum(feat) - 1.0) < 1e-6
    # first half (loud) carries ~all the mass
    assert sum(feat[:4]) > 0.99
    assert out[2].decode_error is not None


def test_read_fixed_width_corpus_fault_contract(spark, tmp_path):
    """Fixed-width ingest (S6 variant): byte-range fields slice cleanly,
    a short line NULLs the missing field and lands in _corrupt_record,
    a mistyped field NULLs that field only — same per-row audit contract
    as the JSONL/CSV/XML readers, and the whole parse is substring +
    try_cast codegen (no UDF, no format library)."""
    from multiagent_document_etl_system_spark.io import (
        read_fixed_width_corpus,
    )

    # layout: id[1..8] lang[9..10] amount[11..18]
    lines = [
        "00000001en  123.50",  # clean
        "00000002de   77.25",  # clean
        "00000003fr",          # short: amount missing
        "eightchr!!  999.99",  # id not numeric
    ]
    p = tmp_path / "fw.txt"
    p.write_text("\n".join(lines) + "\n")
    out = read_fixed_width_corpus(
        spark, str(p),
        [("doc_id", 1, 8, "bigint"), ("lang", 9, 2, "string"),
         ("amount", 11, 8, "double")])
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["lang"] == "en" and rows[1]["amount"] == 123.50
    assert rows[1]["_corrupt_record"] is None
    assert rows[2]["amount"] == 77.25
    # short line: amount NULL, line audited
    assert rows[3]["amount"] is None
    assert rows[3]["_corrupt_record"] == "00000003fr"
    # mistyped id: field NULL, line audited, other fields survive
    bad = rows[None]
    assert bad["amount"] == 999.99
    assert bad["_corrupt_record"].startswith("eightchr")
    # audit-only query works (the thing the raw CSV source refuses)
    assert out.filter(out["_corrupt_record"].isNotNull()).count() == 2


def test_doc_landing_datasource_matches_parse_documents(spark, landing):
    """r10: the Spark 4 Python DataSource route
    (spark.read.format('doc_landing')) must emit exactly the rows the
    binaryFile + parse_documents route computes — same dispatch table,
    same per-row error capture — while never materializing file bytes
    into a DataFrame column."""
    from multiagent_document_etl_system_spark.sources.landing_ds import (
        DocLandingDataSource,
    )

    spark.dataSource.register(DocLandingDataSource)
    got = {r["path"].removeprefix("file:"): (
               r["format"], r["raw_text"], r["parse_error"] is None)
           for r in spark.read.format("doc_landing").load(landing)
           .collect()}
    want = {r["path"].removeprefix("file:"): (
                r["fmt"], r["raw_text"], r["parse_error"] is None)
            for r in parsers.parse_documents(read_landing_dir(spark, landing))
            .select("path", parsers.file_format(F.col("path")).alias("fmt"),
                    "raw_text", "parse_error").collect()}
    assert got == want and len(got) == 6
    # n_bytes carries the real on-disk size
    import os
    for r in spark.read.format("doc_landing").load(landing).collect():
        assert r["n_bytes"] == os.path.getsize(
            r["path"].removeprefix("file:"))


def test_doc_landing_datasource_partition_planning(spark, landing):
    """filesPerPartition drives task fan-out: 6 files at 1 per group =>
    6 input partitions; the default groups more densely."""
    from multiagent_document_etl_system_spark.sources.landing_ds import (
        DocLandingDataSource,
        DocLandingReader,
    )

    spark.dataSource.register(DocLandingDataSource)
    fine = (spark.read.format("doc_landing")
            .option("filesPerPartition", "1").load(landing))
    assert fine.rdd.getNumPartitions() == 6
    # reader-level contract (no Spark needed): grouping math + rejections
    r = DocLandingReader({"path": landing, "filesperpartition": "4"})
    parts = r.partitions()
    assert [len(p.paths) for p in parts] == [4, 2]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="local/mounted"):
        DocLandingReader({"path": "s3a://bucket/drop"})
    with _pytest.raises(ValueError, match="requires a load path"):
        DocLandingReader({})


def test_doc_landing_stream_reads_new_files_exactly_once(
        spark, tmp_path):
    """r10: the doc_landing STREAMING flavor (Spark 4
    SimpleDataSourceStreamReader) — each micro-batch parses exactly the
    files that appeared since the last committed offset, and a restart
    against the same checkpoint never re-emits a seen file
    (exactly-once via the replayable seen-set offset)."""
    import os

    from multiagent_document_etl_system_spark.sources.landing_ds import (
        DocLandingDataSource,
    )

    spark.dataSource.register(DocLandingDataSource)
    drop = tmp_path / "drop"
    drop.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    (drop / "one.txt").write_bytes(b"first file")
    (drop / "two.txt").write_bytes(b"second file")

    def run_round():
        # parquet sink: the memory sink refuses checkpoint RECOVERY, and
        # the restart is exactly what this test exists to exercise
        q = (spark.readStream.format("doc_landing").load(str(drop))
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()  # availableNow terminates; blocking await
        rows = spark.read.parquet(out).collect()
        return {os.path.basename(r["path"]): r["raw_text"] for r in rows}, \
            len(rows)

    got, n = run_round()
    assert got == {"one.txt": "first file", "two.txt": "second file"}
    assert n == 2

    # a new drop lands; the restarted query (same checkpoint) must emit
    # ONLY the new file — note its name sorts BEFORE the seen ones, the
    # case a max-path offset would lose
    (drop / "aaa_three.txt").write_bytes(b"third file")
    got, n = run_round()
    assert got == {"one.txt": "first file", "two.txt": "second file",
                   "aaa_three.txt": "third file"}
    assert n == 3  # one/two NOT re-emitted across the restart


def test_doc_landing_stream_reader_partition_planning(tmp_path):
    """r11 (verdict #2): the streaming flavor is partition-planned — the
    driver only LISTS; parse work is chunked into filesPerPartition
    groups executed by reader tasks. Pure reader-level contract: offset
    math, fan-out math, seen-set accumulation (a file deleted after
    being seen stays seen), and restart re-seeding via partitions()."""
    from multiagent_document_etl_system_spark.sources.landing_ds import (
        DocLandingStreamReader,
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    for i in range(5):
        (drop / f"f{i}.txt").write_bytes(b"x" * (i + 1))

    r = DocLandingStreamReader({"path": str(drop),
                                "filesperpartition": "2"})
    assert r.initialOffset() == {"files": {}}
    end1 = r.latestOffset()
    assert len(end1["files"]) == 5
    parts = r.partitions({"files": {}}, end1)
    assert [len(p.paths) for p in parts] == [2, 2, 1]  # executor fan-out
    # read() is per-partition and parses only that group's files
    rows = list(r.read(parts[0]))
    assert len(rows) == 2 and all(rw[4] is None for rw in rows)

    # a seen file vanishes; a new one lands: the cumulative offset keeps
    # the deleted file (no re-emit on re-creation) and only the new file
    # is planned
    (drop / "f0.txt").unlink()
    (drop / "new.txt").write_bytes(b"fresh")
    end2 = r.latestOffset()
    assert str(drop / "f0.txt") in end2["files"]  # still seen
    new_parts = r.partitions(end1, end2)
    assert [len(p.paths) for p in new_parts] == [1]
    assert new_parts[0].paths == [str(drop / "new.txt")]

    # empty range (start == end) => no partitions, per the API contract
    assert r.partitions(end2, end2) == []

    # restart: a FRESH reader replaying from checkpointed offsets folds
    # them into its seen set, so its next latestOffset re-emits nothing
    r2 = DocLandingStreamReader({"path": str(drop),
                                 "filesperpartition": "2"})
    r2.partitions(end1, end2)  # the replay call Spark makes on restart
    end3 = r2.latestOffset()
    assert r2.partitions(end2, end3) == []


from hypothesis import given, settings
from hypothesis import strategies as hst


@settings(max_examples=60, deadline=None)
@given(
    script=hst.lists(
        hst.tuples(
            hst.lists(hst.integers(0, 30), max_size=4),   # files created
            hst.lists(hst.integers(0, 30), max_size=2),   # files deleted
        ),
        min_size=1, max_size=8),
    restart_after=hst.integers(0, 7),
)
def test_doc_landing_stream_offsets_exactly_once(tmp_path_factory, script,
                                                 restart_after):
    """Property (r11): under ANY interleaving of file creations and
    deletions across triggers — including a reader restart that replays
    the last offset range — the seen-set offset model emits every
    created path AT MOST once, never re-emits across a restart, and
    emits every file that exists at listing time and was never deleted
    before it (exactly-once for stable files)."""
    import os

    from multiagent_document_etl_system_spark.sources.landing_ds import (
        DocLandingStreamReader,
    )

    drop = tmp_path_factory.mktemp("prop_drop")
    opts = {"path": str(drop), "filesperpartition": "3"}
    r = DocLandingStreamReader(opts)
    prev = r.initialOffset()
    emitted: list[str] = []
    ever_stable: set[str] = set()  # created and never later deleted
    deleted: set[str] = set()

    def drain(reader, start, end):
        out = []
        for part in reader.partitions(start, end):
            out.extend(part.paths)
        return out

    for i, (creates, deletes) in enumerate(script):
        for n in creates:
            p = drop / f"f{n:02d}.txt"
            p.write_bytes(b"x")
            deleted.discard(str(p))
        for n in deletes:
            p = drop / f"f{n:02d}.txt"
            if p.exists():
                p.unlink()
                deleted.add(str(p))
        end = r.latestOffset()
        batch = drain(r, prev, end)
        emitted.extend(batch)
        if i == restart_after:
            # crash + restart: a FRESH reader replays the last committed
            # range (Spark's recovery path), then resumes from `end`
            r2 = DocLandingStreamReader(opts)
            replay = drain(r2, prev, end)
            assert sorted(replay) == sorted(batch)  # deterministic replay
            r = r2  # continue on the restarted reader (replay NOT kept:
            # Spark replaces the failed batch's output, not appends)
        prev = end
    # final settle trigger
    end = r.latestOffset()
    emitted.extend(drain(r, prev, end))

    # at-most-once: no path emitted twice
    assert len(emitted) == len(set(emitted)), emitted
    # exactly-once for files present at the end (they appeared at some
    # listing and were never missed)
    present = {os.path.join(str(drop), f) for f in os.listdir(drop)}
    assert present <= set(emitted)
