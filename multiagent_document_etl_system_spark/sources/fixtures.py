"""Fixture encoders: the writers of the formats sources/parsers.py reads
(minimal PDF and DOCX; 5x7-glyph text as BMP, PNG, baseline and
progressive JPEG; PCM16 WAV), for tests, perfbench and registry staging.
No parse path imports this module and ``cli.PIPELINE_VERSION`` does not
digest it."""

from __future__ import annotations

from multiagent_document_etl_system_spark.sources.parsers import (
    _FONT_5X7, _GLYPH_H, _GLYPH_W, _JPEG_ZZ, _PNG_SIG, _jpeg_dct_matrix)


def make_demo_pdf_bytes(lines: list[str], compress: bool = True) -> bytes:
    """A minimal valid single-page PDF (stdlib only) with one text line per
    Tj operator; ``compress=True`` Flate-encodes the content stream the way
    real generators do."""
    import zlib

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    content = b"BT /F1 12 Tf 72 720 Td 14 TL\n" + b"\n".join(
        f"({esc(ln)}) Tj T*".encode("latin-1") for ln in lines) + b"\nET"
    flt = b""
    if compress:
        content = zlib.compress(content)
        flt = b" /Filter /FlateDecode"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + flt
        + b" >>\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def make_demo_docx_bytes(paragraphs: list[str],
                         table_rows: list[list[str]] | None = None) -> bytes:
    """A minimal valid .docx (zip + document.xml) built with the stdlib —
    test/demo fixture so the docx path can parse for real in environments
    without binary fixtures. Every member carries the fixed date
    1980-01-01, so the same paragraphs always give the same bytes."""
    import io
    import zipfile
    from xml.sax.saxutils import escape

    parts = []
    for p in paragraphs:
        parts.append(f"<w:p><w:r><w:t>{escape(p)}</w:t></w:r></w:p>")
    for row in (table_rows or []):
        cells = "".join(
            f"<w:tc><w:p><w:r><w:t>{escape(c)}</w:t></w:r></w:p></w:tc>"
            for c in row
        )
        parts.append(f"<w:tbl><w:tr>{cells}</w:tr></w:tbl>")
    doc_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        + "".join(parts) + "</w:body></w:document>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types"><Default Extension="xml" ContentType="application/'
        'xml"/><Override PartName="/word/document.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.wordprocessingml.'
        'document.main+xml"/></Types>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in (("[Content_Types].xml", content_types),
                           ("word/document.xml", doc_xml)):
            member = zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0))
            member.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(member, data)
    return buf.getvalue()


def _render_text_pixels(text: str, margin: int = 2) -> list[list[int]]:
    """A-Z/0-9/space text → top-down luminance raster (white canvas,
    black 5x7 glyphs) — shared by the BMP and PNG renderer twins."""
    lines = [ln.upper() for ln in text.split("\n")]
    n_cols = max((len(ln) for ln in lines), default=0)
    w = margin * 2 + max(n_cols * (_GLYPH_W + 1) - 1, 1)
    h = margin * 2 + len(lines) * (_GLYPH_H + 1) - 1
    px = [[255] * w for _ in range(h)]
    for li, ln in enumerate(lines):
        y0 = margin + li * (_GLYPH_H + 1)
        for ci, ch in enumerate(ln):
            rows = _FONT_5X7.get(ch)
            if rows is None:
                continue  # space and unknowns stay blank
            x0 = margin + ci * (_GLYPH_W + 1)
            for r, bits in enumerate(rows):
                for c in range(_GLYPH_W):
                    if bits >> (_GLYPH_W - 1 - c) & 1:
                        px[y0 + r][x0 + c] = 0
    return px


def render_text_aa_pixels(text: str, scale: int = 2,
                          margin: int = 2) -> list[list[int]]:
    """ANTI-ALIASED raster: the bilevel glyph raster supersampled
    ``scale``× then box-filtered ((4·center + 4-neighborhood)/8), the way
    a screenshot of scaled text actually looks — glyph edges become gray
    ramps (ink ≤ ~96, halo ≥ ~223) instead of a 0/255 step. The OCR rung
    reads these through Otsu binarization (r8: the S4 boundary extension
    — machine-rendered text stays REAL at any integer scale with AA)."""
    base = _render_text_pixels(text, margin)
    h0, w0 = len(base), len(base[0])
    big = [[base[r // scale][c // scale] for c in range(w0 * scale)]
           for r in range(h0 * scale)]
    h, w = len(big), len(big[0])

    def at(r: int, c: int) -> int:
        return big[min(max(r, 0), h - 1)][min(max(c, 0), w - 1)]

    return [[(4 * at(r, c) + at(r - 1, c) + at(r + 1, c)
              + at(r, c - 1) + at(r, c + 1)) // 8
             for c in range(w)] for r in range(h)]


def render_text_bmp(text: str, margin: int = 2) -> bytes:
    """Render A-Z/0-9/space text (newlines = line breaks) as an
    uncompressed 24-bit BMP — the deterministic twin of the OCR rung."""
    import struct

    px = _render_text_pixels(text, margin)
    h, w = len(px), len(px[0])
    row_pad = (-(w * 3)) % 4
    body = bytearray()
    for row in reversed(px):  # BMP is bottom-up
        for v in row:
            body += bytes((v, v, v))
        body += b"\x00" * row_pad
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return bytes(hdr + dib + body)


def render_text_png(text: str, margin: int = 2,
                    pixels: list[list[int]] | None = None) -> bytes:
    """Render text as an 8-bit grayscale zlib-compressed PNG (filter 0)
    — the deterministic twin of the PNG OCR rung. ``pixels`` bypasses the
    glyph renderer (the JPEG encoders' hook, mirrored): encode an
    arbitrary raster — anti-aliased renders, synthetic photographs."""
    import struct
    import zlib

    px = pixels if pixels is not None else _render_text_pixels(text, margin)
    h, w = len(px), len(px[0])

    def chunk(typ: bytes, data: bytes) -> bytes:
        raw = typ + data
        return struct.pack(">I", len(data)) + raw \
            + struct.pack(">I", zlib.crc32(raw) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # gray, no interlace
    raw = b"".join(b"\x00" + bytes(row) for row in px)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


#: Annex K.1 luminance quantization table, natural (raster) order
_JPEG_QLUM = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)

#: Annex K.3 typical Huffman tables: luminance DC and AC (BITS, HUFFVAL)
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)


def _jpeg_scaled_qtable(quality: int) -> list[int]:
    q = max(1, min(100, quality))
    s = 5000 // q if q < 50 else 200 - 2 * q
    return [max(1, min(255, (k * s + 50) // 100)) for k in _JPEG_QLUM]


def _huff_encode_table(bits, vals) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: symbol -> (code, nbits)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, code: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (code & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def align(self) -> None:
        if self._n:
            self.put(0x7F, 8 - self._n)  # pad with 1-bits per spec


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(category, additional bits) for a DC diff / AC coefficient."""
    s, a = 0, abs(v)
    while a:
        s += 1
        a >>= 1
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _jpeg_encode_block(zz: list[int], pred: int, wr: _JpegBitWriter,
                       dc_tab, ac_tab) -> int:
    """Encode one zigzag-scanned quantized block; returns its DC value."""
    dc = zz[0]
    s, extra = _jpeg_magnitude(dc - pred)
    code, n = dc_tab[s]
    wr.put(code, n)
    if s:
        wr.put(extra, s)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i]:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        if zz[i] == 0:
            run += 1
            continue
        while run > 15:
            code, n = ac_tab[0xF0]  # ZRL
            wr.put(code, n)
            run -= 16
        s, extra = _jpeg_magnitude(zz[i])
        code, n = ac_tab[(run << 4) | s]
        wr.put(code, n)
        wr.put(extra, s)
        run = 0
    if last_nz != 63:
        code, n = ac_tab[0x00]  # EOB
        wr.put(code, n)
    return dc


def render_text_jpeg(text: str, margin: int = 2, quality: int = 90,
                     subsampling: str = "gray",
                     restart_interval: int = 0,
                     pixels: list[list[int]] | None = None) -> bytes:
    """Render A-Z/0-9/space text as a baseline sequential JPEG — the
    deterministic twin of the JPEG OCR rung. ``subsampling``: 'gray'
    (one component) or '420' (YCbCr 4:2:0 interleaved MCUs with neutral
    chroma — exercises the multi-component + subsampled decode path a
    real screenshot-as-JPEG takes). ``restart_interval`` > 0 emits DRI
    + RSTn markers every N MCUs. ``pixels`` (rows of 0-255 luma)
    bypasses text rendering — the fuzz hook for coefficient
    distributions text never produces."""
    import struct

    import numpy as np

    px = pixels if pixels is not None else _render_text_pixels(text, margin)
    h, w = len(px), len(px[0])
    plane = np.asarray(px, dtype=np.float64)
    qtab = _jpeg_scaled_qtable(quality)
    qmat = np.asarray(qtab, dtype=np.float64).reshape(8, 8)
    t = _jpeg_dct_matrix()
    dc_tab = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_tab = _huff_encode_table(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def block_zz(y0: int, x0: int) -> list[int]:
        blk = np.full((8, 8), 255.0)
        ys, xs = min(8, h - y0), min(8, w - x0)
        if ys > 0 and xs > 0:
            blk[:ys, :xs] = plane[y0:y0 + ys, x0:x0 + xs]
        # replicate edge pixels into the pad (keeps AC energy low)
        if ys > 0:
            blk[ys:, :] = blk[ys - 1, :]
        if xs > 0:
            blk[:, xs:] = blk[:, xs - 1:xs]
        coef = t @ (blk - 128.0) @ t.T
        q = np.floor(coef / qmat + 0.5).astype(int)
        flat = q.reshape(64)
        return [int(flat[i]) for i in _JPEG_ZZ]

    gray = subsampling == "gray"
    wr = _JpegBitWriter()
    zero_zz = [0] * 64
    if gray:
        mcux, mcuy = (w + 7) // 8, (h + 7) // 8
    else:
        mcux, mcuy = (w + 15) // 16, (h + 15) // 16
    preds = [0, 0, 0]
    mcu_done = 0
    rst = 0
    body_parts: list[bytes] = []
    for my in range(mcuy):
        for mx in range(mcux):
            if gray:
                preds[0] = _jpeg_encode_block(
                    block_zz(my * 8, mx * 8), preds[0], wr, dc_tab, ac_tab)
            else:
                for bv in range(2):
                    for bh in range(2):
                        preds[0] = _jpeg_encode_block(
                            block_zz((my * 2 + bv) * 8, (mx * 2 + bh) * 8),
                            preds[0], wr, dc_tab, ac_tab)
                for ci in (1, 2):  # neutral chroma: all-zero blocks
                    preds[ci] = _jpeg_encode_block(
                        zero_zz, preds[ci], wr, dc_tab, ac_tab)
            mcu_done += 1
            last = my == mcuy - 1 and mx == mcux - 1
            if (restart_interval and not last
                    and mcu_done % restart_interval == 0):
                wr.align()
                body_parts.append(bytes(wr.buf))
                body_parts.append(bytes((0xFF, 0xD0 + rst)))
                rst = (rst + 1) % 8
                wr = _JpegBitWriter()
                preds = [0, 0, 0]
    wr.align()
    body_parts.append(bytes(wr.buf))
    body = b"".join(body_parts)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(qtab[i] for i in _JPEG_ZZ))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    if gray:
        sof += bytes((1, 0x11, 0))
    else:
        sof += bytes((1, 0x22, 0)) + bytes((2, 0x11, 0)) + bytes((3, 0x11, 0))
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
               + bytes(_JPEG_DC_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS)
               + bytes(_JPEG_AC_VALS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes((cid, 0x00))
    sos += bytes((0, 63, 0))
    out += seg(0xDA, sos)
    out += body
    out += b"\xff\xd9"  # EOI
    return bytes(out)


#: Huffman table for the progressive encoder's AC scans: the baseline
#: Annex K.3 table lacks the EOBn symbols (r<<4, r>0) progressive EOB-run
#: coding emits, so progressive scans carry their own table — every
#: symbol the emitters can produce (EOB0..EOB14, ZRL, (run,size) for
#: size 1..10) as a flat canonical code: 176 symbols, all 8 bits long
#: (Kraft-valid: 176 ≤ 256, and the all-ones max-length code stays
#: unused as B.2.4.2 requires).
_JPEG_PROG_AC_VALS = tuple(sorted(
    [r << 4 for r in range(15)] + [0xF0]
    + [(run << 4) | s for run in range(16) for s in range(1, 11)]))
_JPEG_PROG_AC_BITS = tuple(176 if ln == 8 else 0 for ln in range(1, 17))


class _ProgressiveScanWriter:
    """Entropy writer for one progressive scan: bit writer + EOB-run /
    buffered-correction-bit state + restart-marker segmentation. The
    encoder-side mirror of Annex G.1.2.2/G.1.2.3 (same contract as
    libjpeg's emit_eobrun/emit_buffered_bits)."""

    def __init__(self, ac_tab=None) -> None:
        self.wr = _JpegBitWriter()
        self.ac_tab = ac_tab
        self.eobrun = 0
        self.pending: list[int] = []  # correction bits riding the EOB
        self.parts: list[bytes] = []
        self._rst = 0

    def sym(self, symbol: int, tab) -> None:
        code, n = tab[symbol]
        self.wr.put(code, n)

    def flush_eob(self) -> None:
        if self.eobrun == 0 and not self.pending:
            return
        r = self.eobrun.bit_length() - 1
        self.sym(r << 4, self.ac_tab)
        if r:
            self.wr.put(self.eobrun - (1 << r), r)
        for bit in self.pending:
            self.wr.put(bit, 1)
        self.eobrun = 0
        self.pending = []

    def restart(self) -> None:
        self.flush_eob()
        self.wr.align()
        self.parts.append(bytes(self.wr.buf))
        self.parts.append(bytes((0xFF, 0xD0 + self._rst)))
        self._rst = (self._rst + 1) % 8
        self.wr = _JpegBitWriter()

    def finish(self) -> bytes:
        self.flush_eob()
        self.wr.align()
        self.parts.append(bytes(self.wr.buf))
        return b"".join(self.parts)


def _emit_ac_first_block(sw: _ProgressiveScanWriter, zz: list[int],
                         ss: int, se: int, al: int) -> None:
    """One block of an AC first scan (G.1.2.2): point-transformed values
    sign·(|c|>>Al), EOB deferred into the scan-wide EOB run."""
    t = [(abs(zz[k]) >> al) * (1 if zz[k] >= 0 else -1)
         for k in range(ss, se + 1)]
    last_nz = -1
    for i, v in enumerate(t):
        if v:
            last_nz = i
    if last_nz < 0:
        sw.eobrun += 1
        if sw.eobrun == 0x7FFF:
            sw.flush_eob()
        return
    sw.flush_eob()
    run = 0
    for i in range(last_nz + 1):
        v = t[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            sw.sym(0xF0, sw.ac_tab)  # ZRL
            run -= 16
        s, extra = _jpeg_magnitude(v)
        sw.sym((run << 4) | s, sw.ac_tab)
        sw.wr.put(extra, s)
        run = 0
    if last_nz < se - ss:
        sw.eobrun += 1  # trailing zeros → deferred EOB


def _emit_ac_refine_block(sw: _ProgressiveScanWriter, zz: list[int],
                          ss: int, se: int, al: int) -> None:
    """One block of an AC refinement scan (G.1.2.3, Ah = Al+1): newly
    significant coefficients as (run,1)+sign, history-nonzero coefficients
    as positionally-interleaved correction bits, tails folded into the
    EOB run with their correction bits buffered — a faithful mirror of
    the decoder's advance loop, so bit order matches exactly."""
    absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
    eobpos = -1
    for i, v in enumerate(absv):
        if v == 1:  # |c|>>Al == 1 ∧ |c|>>Ah == 0 ⇔ newly significant
            eobpos = i
    if eobpos < 0:
        if sw.eobrun == 0x7FFF:
            sw.flush_eob()
        sw.eobrun += 1
        sw.pending += [v & 1 for v in absv if v > 1]
        return
    sw.flush_eob()
    i = 0
    while True:
        j = -1
        for x in range(i, eobpos + 1):
            if absv[x] == 1:
                j = x
                break
        if j < 0:
            break
        r = sum(1 for x in range(i, j) if absv[x] == 0)
        while r > 15:
            # ZRL consumes exactly 16 zero-history positions; correction
            # bits of history coefs inside that window follow the symbol
            sw.sym(0xF0, sw.ac_tab)
            cnt = 0
            bits: list[int] = []
            while cnt < 16:
                if absv[i] == 0:
                    cnt += 1
                elif absv[i] > 1:
                    bits.append(absv[i] & 1)
                i += 1
            for bit in bits:
                sw.wr.put(bit, 1)
            r -= 16
        bits = []
        while i < j:
            if absv[i] > 1:
                bits.append(absv[i] & 1)
            i += 1
        sw.sym((r << 4) | 1, sw.ac_tab)
        sw.wr.put(1 if zz[ss + j] >= 0 else 0, 1)
        for bit in bits:
            sw.wr.put(bit, 1)
        i = j + 1
    tail = [absv[x] & 1 for x in range(i, len(absv)) if absv[x] > 1]
    if i <= se - ss or tail:
        sw.eobrun += 1
        sw.pending += tail


def render_text_jpeg_progressive(text: str, margin: int = 2,
                                 quality: int = 90,
                                 subsampling: str = "gray",
                                 restart_interval: int = 0,
                                 pixels: list[list[int]] | None = None
                                 ) -> bytes:
    """Render text as a PROGRESSIVE JPEG (SOF2) — the encoder twin of
    ``_decode_jpeg_progressive``, exercising every scan species the
    decoder implements: interleaved DC first + DC refinement, spectral-
    selection AC first scans with EOB-run coding across blocks, and AC
    refinement with correction bits (Ah=Al+1 successive approximation).
    ``subsampling='420'`` adds the 3-component interleaved-DC path and
    all-zero chroma AC scans (pure EOB runs — the r>0 EOBn exercise);
    ``restart_interval`` > 0 segments every scan with RSTn markers.
    Quantization is identical to ``render_text_jpeg``, so the decoded
    luma is BIT-IDENTICAL to decoding the baseline twin of the same
    text — the round-trip tests pin that equality. ``pixels`` bypasses
    text rendering (noise-raster fuzzing: dense/sparse coefficient
    regimes text never produces)."""
    import struct

    import numpy as np

    px = pixels if pixels is not None else _render_text_pixels(text, margin)
    h, w = len(px), len(px[0])
    plane = np.asarray(px, dtype=np.float64)
    qtab = _jpeg_scaled_qtable(quality)
    qmat = np.asarray(qtab, dtype=np.float64).reshape(8, 8)
    t = _jpeg_dct_matrix()
    dc_tab = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_tab = _huff_encode_table(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)

    def block_zz(y0: int, x0: int) -> list[int]:
        blk = np.full((8, 8), 255.0)
        ys, xs = min(8, h - y0), min(8, w - x0)
        if ys > 0 and xs > 0:
            blk[:ys, :xs] = plane[y0:y0 + ys, x0:x0 + xs]
        if ys > 0:
            blk[ys:, :] = blk[ys - 1, :]
        if xs > 0:
            blk[:, xs:] = blk[:, xs - 1:xs]
        coef = t @ (blk - 128.0) @ t.T
        q = np.floor(coef / qmat + 0.5).astype(int)
        flat = q.reshape(64)
        return [int(flat[i]) for i in _JPEG_ZZ]

    gray = subsampling == "gray"
    zero_zz = [0] * 64
    if gray:
        ybw, ybh = (w + 7) // 8, (h + 7) // 8
        mcux, mcuy = ybw, ybh
    else:
        mcux, mcuy = (w + 15) // 16, (h + 15) // 16
        ybw, ybh = mcux * 2, mcuy * 2
    yblocks = [[block_zz(by * 8, bx * 8) for bx in range(ybw)]
               for by in range(ybh)]

    def dc_scan(ah: int, al: int) -> bytes:
        sw = _ProgressiveScanWriter()
        preds = [0, 0, 0]
        done = 0
        for my in range(mcuy):
            for mx in range(mcux):
                blocks = ([(0, yblocks[my][mx])] if gray else
                          [(0, yblocks[my * 2 + bv][mx * 2 + bh_])
                           for bv in range(2) for bh_ in range(2)]
                          + [(1, zero_zz), (2, zero_zz)])
                for ci, zz in blocks:
                    if ah == 0:
                        v = zz[0] >> al
                        s, extra = _jpeg_magnitude(v - preds[ci])
                        code, n = dc_tab[s]
                        sw.wr.put(code, n)
                        if s:
                            sw.wr.put(extra, s)
                        preds[ci] = v
                    else:
                        sw.wr.put((zz[0] >> al) & 1, 1)
                done += 1
                last = my == mcuy - 1 and mx == mcux - 1
                if restart_interval and not last \
                        and done % restart_interval == 0:
                    sw.restart()
                    preds = [0, 0, 0]
        return sw.finish()

    def ac_scan(comp: int, ss: int, se: int, ah: int, al: int) -> bytes:
        sw = _ProgressiveScanWriter(ac_tab)
        # non-interleaved scans walk the COMPONENT's ceil(dim/8) grid
        # (T.81 A.2.2), not the MCU-padded grid — off-by-a-column desync
        # otherwise whenever a dimension isn't an MCU multiple
        if comp == 0:
            bw, bh_n = (w + 7) // 8, (h + 7) // 8
            blocks = [yblocks[by][bx]
                      for by in range(bh_n) for bx in range(bw)]
        else:  # chroma planes (half resolution in 4:2:0), all zero
            bw = (-(-w // 2) + 7) // 8
            bh_n = (-(-h // 2) + 7) // 8
            blocks = [zero_zz] * (bw * bh_n)
        for i, zz in enumerate(blocks):
            if ah == 0:
                _emit_ac_first_block(sw, zz, ss, se, al)
            else:
                _emit_ac_refine_block(sw, zz, ss, se, al)
            if restart_interval and i < len(blocks) - 1 \
                    and (i + 1) % restart_interval == 0:
                sw.restart()
        return sw.finish()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    def sos(members: list[int], ss: int, se: int, ah: int, al: int,
            body: bytes) -> bytes:
        hdr = bytes([len(members)])
        for cid in members:
            hdr += bytes((cid, 0x00))  # DC table 0, AC table 0
        hdr += bytes((ss, se, (ah << 4) | al))
        return seg(0xDA, hdr) + body

    ncomp = 1 if gray else 3
    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(qtab[i] for i in _JPEG_ZZ))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    if gray:
        sof += bytes((1, 0x11, 0))
    else:
        sof += bytes((1, 0x22, 0)) + bytes((2, 0x11, 0)) + bytes((3, 0x11, 0))
    out += seg(0xC2, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
               + bytes(_JPEG_DC_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(_JPEG_PROG_AC_BITS)
               + bytes(_JPEG_PROG_AC_VALS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    all_ids = [1] if gray else [1, 2, 3]
    out += sos(all_ids, 0, 0, 0, 1, dc_scan(0, 1))       # DC first, Al=1
    out += sos([1], 1, 5, 0, 1, ac_scan(0, 1, 5, 0, 1))  # Y AC low band
    out += sos([1], 6, 63, 0, 1, ac_scan(0, 6, 63, 0, 1))
    if not gray:
        out += sos([2], 1, 63, 0, 1, ac_scan(1, 1, 63, 0, 1))
        out += sos([3], 1, 63, 0, 1, ac_scan(2, 1, 63, 0, 1))
    out += sos(all_ids, 0, 0, 1, 0, dc_scan(1, 0))       # DC refine
    out += sos([1], 1, 63, 1, 0, ac_scan(0, 1, 63, 1, 0))  # Y AC refine
    if not gray:
        out += sos([2], 1, 63, 1, 0, ac_scan(1, 1, 63, 1, 0))
        out += sos([3], 1, 63, 1, 0, ac_scan(2, 1, 63, 1, 0))
    out += b"\xff\xd9"
    return bytes(out)


def make_demo_wav(freq_frames: list[tuple[int, int]],
                  rate: int = 8000) -> bytes:
    """Deterministic PCM16 WAV: concatenated (amplitude, n_frames) square
    segments — the media fixture for the real audio rung."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        for amp, n in freq_frames:
            frames = b"".join(
                struct.pack("<h", amp if i % 2 == 0 else -amp)
                for i in range(n))
            w.writeframes(frames)
    return buf.getvalue()
