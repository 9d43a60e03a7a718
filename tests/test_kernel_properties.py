"""Property-based cross-checks: the Spark column kernels vs plain-Python
reference implementations over hypothesis-generated inputs.

One Spark job per property (all examples in one DataFrame) — validates the
documented Java-regex/DuckDB-RE2 semantic claims on adversarial strings,
not just the fixtures.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.functions.text import (
    clean_text,
    occurrence_count,
    safe_filename,
)

# printable-ish text incl. unicode, newlines, regex metacharacters
TEXTS = st.lists(
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80),
    min_size=1, max_size=40,
)


def py_clean(s: str) -> str:
    # re.ASCII on BOTH subs: the engine's documented divergence from the
    # reference is ASCII regex classes (Java/RE2), where Python's unicode
    # \s also matches \x1c-\x1f and unicode spaces
    return re.sub(r"[^\w\s.,\-():]", "",
                  re.sub(r"\s+", " ", s, flags=re.ASCII),
                  flags=re.ASCII).strip()


def py_safe(s: str) -> str:
    return re.sub(r"[^\w\s\-.]", "", s, flags=re.ASCII)


@settings(max_examples=15, deadline=None)
@given(TEXTS)
def test_clean_text_matches_python_reference(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, t string")
    got = {r["i"]: r["c"] for r in
           df.select("i", clean_text(F.col("t")).alias("c")).collect()}
    for i, t in enumerate(texts):
        # \w is ASCII in Spark's Java regex (documented divergence from
        # Python's unicode \w) — compare against re.ASCII semantics
        assert got[i] == py_clean(t), repr(t)


@settings(max_examples=15, deadline=None)
@given(TEXTS)
def test_safe_filename_matches_python_reference(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, t string")
    got = {r["i"]: r["c"] for r in
           df.select("i", safe_filename(F.col("t")).alias("c")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == py_safe(t), repr(t)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="abc ", max_size=60), min_size=1,
                max_size=30),
       st.sampled_from(["a", "ab", "abc", "bc"]))
def test_occurrence_count_matches_python(spark, texts, word):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, t string")
    got = {r["i"]: r["n"] for r in df.select(
        "i", occurrence_count(F.col("t"), word).alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == t.count(word), repr((t, word))


def py_repetition(s: str) -> float:
    toks = s.strip().split() if s.strip() else [""]
    tris = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
    if not tris:
        return 0.0
    return round(1.0 - len(set(tris)) / len(tris), 4)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="ab x", max_size=60), min_size=1,
                max_size=30))
def test_repetition_matches_python_reference(spark, texts):
    """ta_repetition's trigram ratio vs a plain-Python reference —
    including degenerate inputs (empty, <3 tokens, all-identical)."""
    from multiagent_document_etl_system_spark.operators.textstats import (
        repetition_expr,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, t string")
    got = {r["i"]: r["c"] for r in
           df.select("i", repetition_expr(F.col("t")).alias("c")).collect()}
    for i, t in enumerate(texts):
        exp = py_repetition(t.lower())
        assert abs(got[i] - exp) < 1e-9, (repr(t), got[i], exp)
        assert 0.0 <= got[i] <= 1.0


@settings(max_examples=10, deadline=None)
@given(st.lists(st.sampled_from(["a b c d e", "a b c", "x y z w", ""]),
                min_size=2, max_size=12))
def test_containment_bounds_and_symmetric_intersection(spark, texts):
    """neighbor_containment: both directions ∈ [0,1]; cont_ab == cont_ba
    whenever the docs have equally many distinct shingles."""
    from multiagent_document_etl_system_spark.operators.dedup import (
        neighbor_containment,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    rows = neighbor_containment(df).collect()
    assert len(rows) == len(texts) - 1
    for r in rows:
        assert 0.0 <= r["cont_ab"] <= 1.0
        assert 0.0 <= r["cont_ba"] <= 1.0


def test_token_budget_pack_invariants(spark):
    """Shards are contiguous in doc_id order within a language and no
    shard (except possibly a doc bigger than the budget) starts past the
    budget boundary: shard_id == floor(exclusive_prefix_sum / 2000)."""
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    rows = QUERIES["td_token_budget_pack"][0](
        spark, "/root/testdata/sf0.001").collect()
    by_lang: dict = {}
    for r in sorted(rows, key=lambda r: (r["lang"], r["doc_id"])):
        cum = by_lang.get(r["lang"], 0)
        assert r["shard_id"] == cum // 2000, r
        by_lang[r["lang"]] = cum + r["n_tokens"]


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 4095), st.integers(0, 4095)),
                min_size=2, max_size=30))
def test_zorder_key_is_injective_and_monotone_per_dim(spark, pts):
    """Morton interleave is a bijection on the grid: distinct (x, y)
    pairs get distinct z-values, and fixing one coordinate, z is
    monotone in the other (the property that makes z-ranges contiguous
    per dimension slice)."""
    from multiagent_document_etl_system_spark.operators.curation import (
        zorder_key,
    )
    df = spark.createDataFrame(list(set(pts)), "x long, y long")
    rows = df.select("x", "y",
                     zorder_key(F.col("x"), F.col("y"), 12).alias("z")) \
        .collect()
    seen = {}
    for r in rows:
        assert (r.x, r.y) not in seen or seen[(r.x, r.y)] == r.z
        seen[(r.x, r.y)] = r.z
    assert len({z for z in seen.values()}) == len(seen)  # injective
    by_x = {}
    for (x, y), z in seen.items():
        by_x.setdefault(x, []).append((y, z))
    for pairs in by_x.values():
        pairs.sort()
        zs = [z for _, z in pairs]
        assert zs == sorted(zs)  # monotone in y for fixed x


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"]),
             min_size=5, max_size=120),
    st.integers(2, 5),      # partitions
    st.integers(3, 8),      # inv_epsilon
)
def test_heavy_hitters_equals_bruteforce_any_partitioning(
        spark, toks, n_parts, inv_eps):
    """The Misra-Gries candidate pass + exact recount must equal the
    brute-force answer for EVERY partitioning and epsilon — the
    superset guarantee is partition-layout-independent."""
    from collections import Counter

    from multiagent_document_etl_system_spark.operators.textstats import (
        heavy_hitters,
    )
    docs = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(docs, "doc_id long, text string") \
        .repartition(n_parts)
    got = {(r.token, r.freq)
           for r in heavy_hitters(df, inv_epsilon=inv_eps).collect()}
    c = Counter(toks)
    n = sum(c.values())
    want = {(t, f) for t, f in c.items() if f * inv_eps >= n}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.lists(st.floats(min_value=-100.0, max_value=100.0,
                       allow_nan=False, width=32),
             min_size=1, max_size=8),
    min_size=1, max_size=20))
def test_int8_quantize_matches_python_reference(spark, vecs):
    """quantize_int8 vs plain-Python: scale, L1, index checksum and error
    bound agree on arbitrary float vectors (incl. all-zero)."""
    import math

    from multiagent_document_etl_system_spark.operators.similarity import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    for i, v in enumerate(vecs):
        v = [float(F32(x)) for x in v]
        scale = max(abs(x) for x in v) / 127.0
        q = [0] * len(v) if scale == 0 else \
            [math.floor(x / scale + 0.5) for x in v]
        r = got[i]
        assert r["scale_q"] == math.floor(scale * 1e9 + 0.5)
        assert r["q_l1"] == sum(abs(x) for x in q)
        assert r["q_idx_sum"] == sum(x * (j + 1) for j, x in enumerate(q))
        if scale:
            err = max(math.floor(abs(x * scale - y) * 1e9 + 0.5)
                      for x, y in zip(q, v))
            assert r["max_err_q"] == err
        else:
            assert r["max_err_q"] == 0


def F32(x: float) -> float:
    import struct
    return struct.unpack("f", struct.pack("f", x))[0]


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(alphabet="ab c", max_size=40), min_size=1,
                max_size=15))
def test_bigram_logprob_matches_python_reference(spark, texts):
    """bigram_logprob vs a plain-Python add-one bigram LM on arbitrary
    whitespace-noisy corpora."""
    import math

    from multiagent_document_etl_system_spark.operators.textstats import (
        bigram_logprob,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_logprob_q1e4"])
           for r in bigram_logprob(df).collect()}
    toks = {i: [w for w in t.lower().split() if w]
            for i, t in enumerate(texts)}
    uni: dict = {}
    big: dict = {}
    for ts in toks.values():
        for w in ts:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ts, ts[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    v = len(uni)
    for i, ts in toks.items():
        lps = [math.floor(
            math.log((big[(a, b)] + 1.0) / (uni[a] + v)) * 1e6 + 0.5)
            for a, b in zip(ts, ts[1:])]
        n = len(lps)
        # integer mean contract: avg_logprob_q1e4 = -round(-S·1e4/(1e6·n))
        # half-up via the exact (2a+b)//(2b) identity (lps are ≤ 0)
        s = sum(lps)
        want = (n, -((2 * -s * 10_000 + 1_000_000 * n)
                     // (2 * 1_000_000 * n)) if n else 0)
        assert got[i] == want, (i, got[i], want)


# ----------------------------------------------------------- OCR round-trip

@given(st.lists(
    st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ",
            min_size=1, max_size=30).map(lambda s: s.strip()),
    min_size=1, max_size=4))
@settings(max_examples=40, deadline=None)
def test_ocr_round_trips_any_rendered_text(lines):
    """Property: for ANY machine-rendered A-Z/0-9/space text, the stdlib
    OCR rung reads back exactly what the renderer drew (whitespace
    normalized: blank lines vanish, runs of spaces read as one — the
    segmenter cannot see how many blank columns a render intended)."""
    import re

    from multiagent_document_etl_system_spark.sources import fixtures, parsers

    lines = [re.sub(r" +", " ", ln).strip() for ln in lines]
    expected = [ln for ln in lines if ln]
    text = "\n".join(lines)
    got = parsers._ocr_parse_stdlib(fixtures.render_text_bmp(text))
    assert [ln for ln in got.split("\n") if ln] == expected


@given(st.lists(
    st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ",
            min_size=1, max_size=30).map(lambda s: s.strip()),
    min_size=1, max_size=4))
@settings(max_examples=40, deadline=None)
def test_ocr_round_trips_any_rendered_png(lines):
    """The PNG rung: render → zlib-compressed grayscale PNG → stdlib
    decode (inflate + filter reconstruction) → OCR reads back the text.
    Same whitespace-normalization contract as the BMP property."""
    import re

    from multiagent_document_etl_system_spark.sources import fixtures, parsers

    lines = [re.sub(r" +", " ", ln).strip() for ln in lines]
    expected = [ln for ln in lines if ln]
    text = "\n".join(lines)
    got = parsers._ocr_parse_stdlib(fixtures.render_text_png(text))
    assert [ln for ln in got.split("\n") if ln] == expected


def test_png_decoder_reconstructs_every_filter_type():
    """The PNG filter reconstruction (Sub/Up/Average/Paeth) must invert
    each spec filter exactly — encode a known raster once per filter type
    (and cycling through all of them) and assert pixel-exact decode."""
    import struct
    import zlib

    from multiagent_document_etl_system_spark.sources.parsers import (
        _PNG_SIG,
        _decode_png,
    )

    def encode_gray(px, filters):
        h, w = len(px), len(px[0])

        def chunk(typ, data):
            raw = typ + data
            return (struct.pack(">I", len(data)) + raw
                    + struct.pack(">I", zlib.crc32(raw) & 0xFFFFFFFF))

        raw = bytearray()
        prev = bytes(w)
        for r, row in enumerate(px):
            ft = filters[r % len(filters)]
            cur = bytes(row)
            if ft == 0:
                enc = cur
            elif ft == 1:  # Sub
                enc = bytes((cur[i] - (cur[i - 1] if i else 0)) & 0xFF
                            for i in range(w))
            elif ft == 2:  # Up
                enc = bytes((cur[i] - prev[i]) & 0xFF for i in range(w))
            elif ft == 3:  # Average
                enc = bytes((cur[i] - ((cur[i - 1] if i else 0)
                                       + prev[i]) // 2) & 0xFF
                            for i in range(w))
            else:  # Paeth
                def paeth(a, b, c):
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    return a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                enc = bytes((cur[i] - paeth(cur[i - 1] if i else 0, prev[i],
                                            prev[i - 1] if i else 0)) & 0xFF
                            for i in range(w))
            raw += bytes([ft]) + enc
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (_PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    import random
    rng = random.Random(5)
    px = [[rng.randrange(256) for _ in range(13)] for _ in range(9)]
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        assert _decode_png(encode_gray(px, filters)) == px, filters


@given(st.lists(
    st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ",
            min_size=1, max_size=24).map(lambda s: s.strip()),
    min_size=1, max_size=3),
    st.sampled_from([("gray", 0), ("420", 0), ("gray", 3), ("420", 2)]))
@settings(max_examples=20, deadline=None)
def test_ocr_round_trips_any_rendered_jpeg(lines, mode):
    """The round-6 JPEG rung: render → baseline sequential JPEG (DCT +
    quantization + Annex K Huffman, grayscale or interleaved YCbCr 4:2:0,
    with and without restart markers) → luma-only stdlib decode → OCR
    reads back the text. JPEG is LOSSY, so the contract is the OCR
    reading (binarized template match), not a byte round-trip — the
    quantization noise at q=90 must stay inside the Hamming budget."""
    import re

    from multiagent_document_etl_system_spark.sources import fixtures, parsers

    subsampling, dri = mode
    lines = [re.sub(r" +", " ", ln).strip() for ln in lines]
    expected = [ln for ln in lines if ln]
    text = "\n".join(lines)
    jb = fixtures.render_text_jpeg(text, subsampling=subsampling,
                                   restart_interval=dri)
    got = parsers._ocr_parse_stdlib(jb)
    assert [ln for ln in got.split("\n") if ln] == expected


def test_jpeg_decode_fidelity_and_unsupported_tiers():
    """(a) Decoded luminance stays close to the source raster (mean |err|
    ≤ 3, binarized agreement 100% on rendered text — the bound the OCR
    budget relies on); (b) the 4:2:0 interleaved path yields the same
    reading as grayscale; (c) progressive files raise (the documented
    environment-gated tier) and truncated bitstreams raise rather than
    returning fabricated pixels."""
    import struct

    import pytest

    from multiagent_document_etl_system_spark.sources import fixtures, parsers

    text = "ABCDEF 012345\nGHIJK 6789"
    px = fixtures._render_text_pixels(text, 3)
    jb = fixtures.render_text_jpeg(text, 3, quality=90)
    rows = parsers._decode_jpeg_luma(jb)
    assert len(rows) == len(px) and len(rows[0]) == len(px[0])
    n = err = 0
    agree = True
    for a_row, b_row in zip(px, rows):
        for a, b in zip(a_row, b_row):
            err += abs(a - b)
            n += 1
            agree &= (a < 128) == (b < 128)
    assert err / n <= 3.0, err / n
    assert agree
    assert parsers._ocr_parse_stdlib(
        fixtures.render_text_jpeg(text, subsampling="420")) == \
        parsers._ocr_parse_stdlib(jb)
    # a baseline stream FORGED as SOF2 is a malformed progressive file
    # (its single scan mixes DC and AC bands) → error, never silence
    prog = bytearray(fixtures.render_text_jpeg("A"))
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        parsers._decode_jpeg_luma(bytes(prog))
    # arithmetic coding (SOF9) stays the unsupported tier — and raises
    # the DEDICATED type (ADVICE r7 #3: callers route on the type, so a
    # message reword can never silently reclassify files between the
    # deterministic-fake tier and per-row errors)
    ar = bytearray(fixtures.render_text_jpeg("A"))
    ar[ar.find(b"\xff\xc0") + 1] = 0xC9
    with pytest.raises(parsers.UnsupportedJpegTier, match="arithmetic"):
        parsers._decode_jpeg_luma(bytes(ar))
    # truncated entropy data → error, not silence
    with pytest.raises(ValueError):
        parsers._decode_jpeg_luma(bytes(fixtures.render_text_jpeg("AB")[:-40]))
    # 12-bit precision → error
    tw = bytearray(fixtures.render_text_jpeg("A"))
    sof = tw.find(b"\xff\xc0")
    tw[sof + 4] = 12
    with pytest.raises(parsers.UnsupportedJpegTier, match="precision"):
        parsers._decode_jpeg_luma(bytes(tw))
    # a malformed progressive stream whose AC scan claims TWO components
    # violates T.81 B.2.3 — it must fail loudly (bitstream desync would
    # otherwise decode garbage), and as a CORRUPT-stream ValueError, not
    # the unsupported-tier type (ADVICE r7 #4)
    bad = bytearray(fixtures.render_text_jpeg_progressive("A"))
    pos = 2
    while pos + 4 <= len(bad):
        if bad[pos] != 0xFF:
            break
        m = bad[pos + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            pos += 2
            continue
        (ln,) = struct.unpack_from(">H", bad, pos + 2)
        if m == 0xDA:
            ns = bad[pos + 4]
            ss = bad[pos + 5 + ns * 2]
            if ss > 0:  # first AC scan: duplicate its one member
                cs, tabs = bad[pos + 5], bad[pos + 6]
                bad[pos + 2:pos + 4] = struct.pack(">H", ln + 2)
                bad[pos + 4] = 2
                bad[pos + 5:pos + 5] = bytes([cs, tabs])
                break
            # DC scan: skip its entropy-coded data to the next marker
            pos += 2 + ln
            while pos + 1 < len(bad):
                if (bad[pos] == 0xFF and bad[pos + 1] != 0x00
                        and not 0xD0 <= bad[pos + 1] <= 0xD7):
                    break
                pos += 1
            continue
        pos += 2 + ln
    with pytest.raises(ValueError, match="single-component") as exc_info:
        parsers._decode_jpeg_luma(bytes(bad))
    assert not isinstance(exc_info.value, parsers.UnsupportedJpegTier)
    # a DQT delivered as 16-bit values must decode identically (real
    # encoders emit Pq=1 for quality>some threshold): rebuild the segment
    jb2 = bytearray(jb)
    dqt = jb2.find(b"\xff\xdb")
    (ln,) = struct.unpack_from(">H", jb2, dqt + 2)
    tbl = jb2[dqt + 5:dqt + 2 + ln]
    wide = struct.pack(">BBHB", 0xFF, 0xDB, 2 + 1 + 128, 0x10) \
        + b"".join(struct.pack(">H", v) for v in tbl)
    jb16 = bytes(jb2[:dqt]) + wide + bytes(jb2[dqt + 2 + ln:])
    assert parsers._decode_jpeg_luma(jb16) == rows


# ------------------------------------------- integer quality kernel

ASCII_TEXTS = st.lists(
    st.text(alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E)
            | st.sampled_from("\t\n"),
            max_size=120),
    min_size=1, max_size=30,
)


def py_quality_q1e4(s: str) -> int:
    """Exact Python twin of textstats.quality_q1e4_expr — pure integers."""
    import re as _re

    def idiv(a: int, b: int) -> int:
        return (2 * a + b) // (2 * b)

    def occ(hay: str, word: str) -> int:
        return (len(hay) - len(hay.replace(word, ""))) // len(word)

    n = len(s)
    padded = f" {s.lower()} "
    stop = occ(padded, " the ") + occ(padded, " a ")
    # Spark trim strips 0x20 only; Java \s+ == Python ASCII \s+
    toks = _re.split(r"\s+", s.strip(" "), flags=_re.ASCII)
    word_cnt = max(len(toks), 1)
    punct = len(_re.sub(r"[^.,:()\-]", "", s, flags=_re.ASCII))
    ls = min(20 * n, 10_000)
    sr = min(idiv(stop * 100_000, word_cnt), 10_000)
    pp = min(idiv(punct * 50_000, max(n, 1)), 10_000)
    return idiv(5 * ls + 3 * sr + 2 * (10_000 - pp), 10)


@settings(max_examples=15, deadline=None)
@given(ASCII_TEXTS)
def test_quality_q1e4_matches_python_reference(spark, texts):
    """The integer quality kernel (the r5 float-channel fix) must equal an
    independent pure-Python integer implementation on arbitrary printable
    text — and its DuckDB SQL twin must produce the identical integers on
    the same rows."""
    import duckdb

    from multiagent_document_etl_system_spark.operators.textstats import (
        quality_q1e4_expr,
        quality_q1e4_sql,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["q"]
           for r in df.select(
               "doc_id", quality_q1e4_expr(F.col("text")).alias("q"))
           .collect()}
    want = {i: py_quality_q1e4(t) for i, t in enumerate(texts)}
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, t) for i, t in enumerate(texts)])
    duck = {i: q for i, q in con.execute(
        f"SELECT doc_id, {quality_q1e4_sql('text')} FROM t").fetchall()}
    assert duck == want


# ------------------------------------------- span dedup interval union

@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=12)
    .map(lambda ws: " ".join(ws)),
    min_size=2, max_size=10))
def test_span_dedup_matches_bruteforce(spark, docs):
    """span_dedup's removal accounting must equal a brute-force Python
    model on arbitrary tiny corpora: a token is removed iff covered by a
    3-gram window whose shingle occurs in >= 2 distinct docs (short docs
    contribute their whole-doc shingle)."""
    import hashlib

    from multiagent_document_etl_system_spark.operators.dedup import (
        span_dedup,
    )

    n = 3
    tok = {i: [w for w in d.split() if w] for i, d in enumerate(docs)}
    tok = {i: ts for i, ts in tok.items() if ts}

    def doc_shingles(ts):
        if len(ts) <= n:
            return [(1, " ".join(ts))]
        return [(s + 1, " ".join(ts[s:s + n]))
                for s in range(len(ts) - n + 1)]

    df_count: dict[str, set] = {}
    for i, ts in tok.items():
        for _, sh in doc_shingles(ts):
            df_count.setdefault(sh, set()).add(i)
    want = {}
    for i, ts in tok.items():
        covered = set()
        for s0, sh in doc_shingles(ts):
            if len(df_count[sh]) >= 2:
                covered.update(range(s0, min(s0 + n - 1, len(ts)) + 1))
        kept = [t for p, t in enumerate(ts, 1) if p not in covered]
        want[i] = (len(ts), len(covered),
                   hashlib.md5(" ".join(kept).encode()).hexdigest())

    sdf = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_fp"])
           for r in span_dedup(sdf, n=n, min_df=2).collect()}
    assert got == want


# ----------------------------------------------- hashed quality classifier

def py_classifier(text: str) -> tuple[int, int, bool]:
    """Exact Python twin of curation.quality_classifier — pure integers."""
    import hashlib
    import re as _re

    toks = [t for t in _re.split(r"\s+", text.lower().strip(" "),
                                 flags=_re.ASCII) if t]
    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    n = len(feats)
    wsum = sum(
        int(hashlib.md5(f"11:{f}".encode()).hexdigest()[:15], 16)
        % 2001 - 1000
        for f in feats)
    if n == 0:
        return 0, 0, False
    a = wsum + 1000 * n
    score = (2 * a + n) // (2 * n) - 1000
    return n, score, score >= 0


@settings(max_examples=15, deadline=None)
@given(ASCII_TEXTS)
def test_quality_classifier_matches_python_reference(spark, texts):
    """The hashed linear classifier (unigram+bigram features, q1e3 integer
    weights, half-up integer mean) must equal an independent pure-Python
    integer implementation on arbitrary printable text — and its DuckDB
    twin must produce identical integers on the same rows."""
    import duckdb

    from multiagent_document_etl_system_spark.operators.curation import (
        quality_classifier,
        quality_classifier_sql,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_feats"], r["score_q1e3"], r["keep"])
           for r in quality_classifier(df).collect()}
    want = {i: py_classifier(t) for i, t in enumerate(texts)}
    assert got == want

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") t(doc_id, text)", texts)
    oracle = {r[0]: (r[1], r[2], r[3])
              for r in con.execute(quality_classifier_sql()).fetchall()}
    assert oracle == want


# -------------------------------------------------- exact integer sqrt

@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.integers(0, 9_200_000_000_000_000_000)
    | st.integers(0, 3_000_000_000).map(lambda k: k * k)
    | st.integers(1, 3_000_000_000).map(lambda k: k * k - 1),
    min_size=1, max_size=60))
def test_isqrt_matches_math_isqrt(spark, xs):
    """curation._isqrt (floor(sqrt) guess + exact-integer ±1 correction)
    must equal math.isqrt across the full int64 domain, including the
    adversarial perfect-square ± 1 boundaries where the double guess is
    most likely to land one off — and the DuckDB twin must agree."""
    import math

    import duckdb

    from multiagent_document_etl_system_spark.operators.curation import (
        _isqrt,
        _isqrt_sql,
    )

    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)],
                               "i long, x long")
    got = {r["i"]: r["g"]
           for r in df.select("i", _isqrt(F.col("x")).alias("g")).collect()}
    want = {i: math.isqrt(x) for i, x in enumerate(xs)}
    assert got == want

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, {x}::BIGINT)" for i, x in enumerate(xs))
                + ") t(i, x)")
    oracle = {r[0]: r[1] for r in con.execute(
        f"SELECT i, {_isqrt_sql('x')} FROM t").fetchall()}
    assert oracle == want


@settings(max_examples=12, deadline=None)
@given(st.dictionaries(
    st.text(alphabet=st.characters(min_codepoint=0x61, max_codepoint=0x7A),
            min_size=1, max_size=8),
    st.integers(1, 500_000), min_size=1, max_size=12))
def test_temperature_mix_matches_python_reference(spark, counts):
    """temperature_mix's q1e4 shares/boosts must equal a Python model
    built on math.isqrt + the half-up identity, for arbitrary per-source
    doc counts; temperature shares must sum to 10000 within rounding slack
    and up-weight below-average sources (√ smoothing's defining property)."""
    import math

    from multiagent_document_etl_system_spark.operators.curation import (
        temperature_mix,
    )

    def idiv(a: int, b: int) -> int:
        return (2 * a + b) // (2 * b)

    rows = [(f"{src}#{i}", src) for src, n in counts.items()
            for i in range(n % 97 + 1)]  # cap per-source rows, keep ratios
    eff = {}
    for _, src in rows:
        eff[src] = eff.get(src, 0) + 1
    sq = {s: math.isqrt(n * 10_000) for s, n in eff.items()}
    n_tot, s_tot = sum(eff.values()), sum(sq.values())
    want = {}
    for s, n in eff.items():
        nat = idiv(n * 10_000, n_tot)
        temp = idiv(sq[s] * 10_000, s_tot)
        want[s] = (n, nat, temp, idiv(temp * 10_000, max(nat, 1)))

    df = spark.createDataFrame(rows, "doc_id string, source string")
    got = {r["source"]: (r["n_docs"], r["nat_share_q1e4"],
                         r["temp_share_q1e4"], r["boost_q1e4"])
           for r in temperature_mix(df).collect()}
    assert got == want
    assert abs(sum(v[2] for v in got.values()) - 10_000) <= len(got)
    mean_n = n_tot / len(eff)
    for s, (n, nat, temp, _) in got.items():
        if n < mean_n:
            assert temp >= nat - 1  # √ smoothing never down-weights small


def test_jpeg_decoder_handles_noise_and_zrl_paths():
    """Pure-noise blocks maximize non-zero AC coefficients and
    high-magnitude categories, and checkerboard-with-long-flat-runs
    exercises ZRL (16-zero runs) — paths a text render never hits hard.
    The test builds the file from the module's own encoder primitives
    (same tables/bit writer the product encoder uses) so only the
    DECODER is under test; fidelity bound: mean |err| ≤ 6 at q=95 even
    on noise (quantization at q=95 is near-lossless for 8x8 energy)."""
    import random
    import struct

    import numpy as np

    from multiagent_document_etl_system_spark.sources import fixtures
    from multiagent_document_etl_system_spark.sources import parsers as P

    rng = random.Random(77)
    h, w = 24, 40
    cases = {
        "noise": [[rng.randrange(256) for _ in range(w)] for _ in range(h)],
        # mostly-flat rows with a single hot pixel per block row → long
        # zero runs between isolated AC spikes (the ZRL regime)
        "sparse": [[255 if (r % 8 == 3 and c % 16 == 5) else 128
                    for c in range(w)] for r in range(h)],
    }
    qtab = fixtures._jpeg_scaled_qtable(95)
    qmat = np.asarray(qtab, float).reshape(8, 8)
    t = P._jpeg_dct_matrix()
    dc_tab = fixtures._huff_encode_table(fixtures._JPEG_DC_BITS,
                                         fixtures._JPEG_DC_VALS)
    ac_tab = fixtures._huff_encode_table(fixtures._JPEG_AC_BITS,
                                         fixtures._JPEG_AC_VALS)

    def encode_gray(px):
        plane = np.asarray(px, float)
        hh, ww = plane.shape
        wr = fixtures._JpegBitWriter()
        pred = 0
        for by in range((hh + 7) // 8):
            for bx in range((ww + 7) // 8):
                blk = np.full((8, 8), 128.0)
                ys, xs = min(8, hh - by * 8), min(8, ww - bx * 8)
                blk[:ys, :xs] = plane[by * 8:by * 8 + ys,
                                      bx * 8:bx * 8 + xs]
                q = np.floor((t @ (blk - 128.0) @ t.T) / qmat + 0.5)
                zz = [int(q.reshape(64)[i]) for i in P._JPEG_ZZ]
                pred = fixtures._jpeg_encode_block(zz, pred, wr, dc_tab,
                                                   ac_tab)
        wr.align()

        def seg(marker, payload):
            return struct.pack(">BBH", 0xFF, marker,
                               len(payload) + 2) + payload

        out = bytearray(b"\xff\xd8")
        out += seg(0xDB, bytes([0]) + bytes(qtab[i] for i in P._JPEG_ZZ))
        out += seg(0xC0, struct.pack(">BHHB", 8, hh, ww, 1)
                   + bytes((1, 0x11, 0)))
        out += seg(0xC4, bytes([0x00]) + bytes(fixtures._JPEG_DC_BITS)
                   + bytes(fixtures._JPEG_DC_VALS))
        out += seg(0xC4, bytes([0x10]) + bytes(fixtures._JPEG_AC_BITS)
                   + bytes(fixtures._JPEG_AC_VALS))
        out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        out += bytes(wr.buf) + b"\xff\xd9"
        return bytes(out)

    for name, px in cases.items():
        rows = P._decode_jpeg_luma(encode_gray(px))
        assert len(rows) == h and len(rows[0]) == w, name
        err = sum(abs(a - b) for ra, rb in zip(px, rows)
                  for a, b in zip(ra, rb)) / (h * w)
        assert err <= 6.0, (name, err)


def test_jpeg_fill_bytes_before_markers_decode():
    """T.81 B.1.1.2: markers may be preceded by any number of 0xFF fill
    bytes — encoders that pad must still decode (ADVICE r6). Insert fill
    bytes ahead of every header segment and decode identically."""
    from multiagent_document_etl_system_spark.sources import fixtures, parsers

    text = "FILL 99"
    jb = fixtures.render_text_jpeg(text, 3)
    base = parsers._decode_jpeg_luma(jb)
    padded = bytearray()
    i = 0
    sos_seen = False
    while i < len(jb):
        if (not sos_seen and jb[i] == 0xFF and i + 1 < len(jb)
                and jb[i + 1] not in (0x00, 0xD8)):
            padded += b"\xff\xff\xff"  # three fill bytes before the marker
            sos_seen = jb[i + 1] == 0xDA
        padded.append(jb[i])
        i += 1
    assert parsers._decode_jpeg_luma(bytes(padded)) == base
    assert parsers._ocr_parse_stdlib(bytes(padded)) == \
        parsers._ocr_parse_stdlib(jb)


@given(st.lists(
    st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ",
            min_size=1, max_size=24).map(lambda s: s.strip()),
    min_size=1, max_size=3),
    st.sampled_from([("gray", 0), ("420", 0), ("gray", 3), ("420", 2)]))
@settings(max_examples=20, deadline=None)
def test_progressive_jpeg_decodes_identically_to_baseline(lines, mode):
    """The round-7 progressive rung: the progressive twin quantizes
    identically to the baseline twin, so the Annex G decode (DC first +
    refine, spectral-selection AC first with EOB runs, AC refinement
    correction bits, restart markers, interleaved-DC 4:2:0) must produce
    BYTE-IDENTICAL luma rows — an exact cross-check of every scan
    species, not a lossy similarity bound."""
    import re

    from multiagent_document_etl_system_spark.sources import fixtures, parsers

    subsampling, dri = mode
    lines = [re.sub(r" +", " ", ln).strip() for ln in lines]
    expected = [ln for ln in lines if ln]
    text = "\n".join(lines)
    base = parsers._decode_jpeg_luma(
        fixtures.render_text_jpeg(text, subsampling=subsampling))
    jb = fixtures.render_text_jpeg_progressive(
        text, subsampling=subsampling, restart_interval=dri)
    assert parsers._decode_jpeg_luma(jb) == base
    got = parsers._ocr_parse_stdlib(jb)
    assert [ln for ln in got.split("\n") if ln] == expected


def test_progressive_jpeg_error_tiers():
    """Truncated progressive streams and missing tables raise — never
    fabricated pixels."""
    import pytest

    from multiagent_document_etl_system_spark.sources import fixtures, parsers

    jb = fixtures.render_text_jpeg_progressive("AB")
    with pytest.raises(ValueError):
        parsers._decode_jpeg_luma(jb[:-40])  # truncated entropy data
    # strip the DHT segments -> table-missing error, not garbage output
    out = bytearray()
    pos = 0
    while pos < len(jb):
        if jb[pos] == 0xFF and pos + 1 < len(jb) and jb[pos + 1] == 0xC4:
            ln = (jb[pos + 2] << 8) | jb[pos + 3]
            pos += 2 + ln
            continue
        out.append(jb[pos])
        pos += 1
    with pytest.raises(ValueError, match="missing|Huffman"):
        parsers._decode_jpeg_luma(bytes(out))


@given(st.integers(0, 2**32 - 1),
       st.sampled_from([5, 15, 50, 90]),
       st.sampled_from([("gray", 0), ("420", 0), ("gray", 5), ("420", 3)]))
@settings(max_examples=24, deadline=None)
def test_progressive_noise_rasters_decode_identically(seed, quality, mode):
    """Noise rasters hit coefficient regimes rendered text never
    produces — dense high-magnitude ACs at q=5..15 and long EOB runs /
    ZRL-inside-refinement windows at q=50..90 — and the progressive
    decode must STILL be byte-identical to the baseline decode of the
    same pixels (same quantization)."""
    import random

    from multiagent_document_etl_system_spark.sources import fixtures, parsers

    rng = random.Random(seed)
    h, w = rng.choice([(8, 8), (11, 19), (24, 33), (16, 40)])
    # mix regimes: pure noise, mostly-flat with speckles, blocky
    kind = rng.randrange(3)
    if kind == 0:
        px = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
    elif kind == 1:
        px = [[255 if rng.random() > 0.03 else rng.randrange(256)
               for _ in range(w)] for _ in range(h)]
    else:
        px = [[(r // 4 * 67 + c // 4 * 41) % 256 for c in range(w)]
              for r in range(h)]
    subsampling, dri = mode
    base = parsers._decode_jpeg_luma(fixtures.render_text_jpeg(
        "", quality=quality, subsampling=subsampling, pixels=px))
    prog = parsers._decode_jpeg_luma(fixtures.render_text_jpeg_progressive(
        "", quality=quality, subsampling=subsampling,
        restart_interval=dri, pixels=px))
    assert prog == base
