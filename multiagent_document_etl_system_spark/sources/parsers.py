"""Format-dispatch document parsing (SURVEY.md §2.1, S1–S5).

The reference routes a file to a parser by extension — pdfplumber /
python-docx / pytesseract OCR / UTF-8 fallback
(/root/reference/src/parsers.py:4-105). Spark-first restatement:

- scan a landing directory with ``binaryFile`` (path, content) — io.py;
- dispatch on extension with ``F.when`` (S1);
- per-format parsing as **Arrow-batched Pandas UDFs over the binary
  content** — each format uses the reference's library (pdfplumber,
  python-docx, pytesseract) when importable, else a pure-stdlib rung
  that parses simple PDFs, DOCX and rendered-text BMP/PNG/JPEG; what
  neither rung can read becomes a per-row error string (never a task
  failure — the pipeline's per-row fault tolerance, SURVEY.md §2.7 D5);
  plain text (S5) parses directly;
- one per-document dispatch, :func:`parse_bytes`, behind the parse UDF,
  the doc_landing DataSource and the server's single-upload path;
- one image-container dispatch, :func:`decode_luma`, behind the OCR rung
  and the media features and pHash of sources/multimodal.py.

This module is the decode side only. The writers of the formats it
reads (demo PDF/DOCX, the BMP/PNG/JPEG text renderers) are test and
bench fixtures and live in ``sources/fixtures.py``, which no executor
imports and ``cli.PIPELINE_VERSION`` does not digest. Unit tests
exercise the dispatch + the text path with synthetic bytes
(tests/test_sources.py); parse UDFs never sit in the oracle path
(SURVEY.md §7.4).

Scale: parsing is a narrow map over (path, content) — partition count
follows file count; ``spark.sql.files.maxPartitionBytes`` balances batch
size; per-executor library state lives in the UDF closure (lazy import
singleton), the standard pattern for heavyweight per-partition init.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PARSE_RESULT = T.StructType([
    T.StructField("raw_text", T.StringType()),
    T.StructField("parse_error", T.StringType()),
])

# S1 extension routing (/root/reference/src/parsers.py:14-29)
PDF_EXTS = (".pdf",)
DOCX_EXTS = (".docx", ".doc")
IMAGE_EXTS = (".png", ".jpg", ".jpeg", ".tiff")


def file_format(path: Column) -> Column:
    """S1 — extension dispatch column: pdf | docx | image | text."""
    lower = F.lower(path)
    fmt = F.lit("text")
    for exts, label in ((PDF_EXTS, "pdf"), (DOCX_EXTS, "docx"),
                        (IMAGE_EXTS, "image")):
        cond = None
        for e in exts:
            c = lower.endswith(e)
            cond = c if cond is None else (cond | c)
        fmt = F.when(cond, F.lit(label)).otherwise(fmt)
    return fmt


def format_for_path(path: str) -> str:
    """Python-side twin of :func:`file_format` (same dispatch table, same
    precedence) — used where no Column expression is available, e.g. the
    doc_landing Python DataSource's executor-side read loop. Kept next to
    the Column form so the two cannot drift."""
    low = path.lower()
    if low.endswith(PDF_EXTS):
        return "pdf"
    if low.endswith(DOCX_EXTS):
        return "docx"
    if low.endswith(IMAGE_EXTS):
        return "image"
    return "text"


def _pdf_parse(lib, b: bytes) -> str:
    # pdfplumber page-concat semantics (/root/reference/src/parsers.py:35-50)
    import io
    with lib.open(io.BytesIO(b)) as pdf:
        return "\n".join((page.extract_text() or "") for page in pdf.pages)


_PDF_TEXT_OP = None  # lazily compiled regexes (executor-side)


def _pdf_parse_stdlib(b: bytes) -> str:
    """Pure-stdlib PDF text extraction for the common simple subset:
    content streams (raw or FlateDecode/zlib — stdlib) scanned for the
    text-showing operators ``(…) Tj`` / ``[(…)…] TJ`` inside BT/ET blocks,
    with PDF string escapes (\\\\ \\( \\) \\n octal) decoded. No layout
    analysis — shown strings join in stream order, one line per text op,
    matching pdfplumber's reading order on simple generated documents
    (/root/reference/src/parsers.py:35-50). Encrypted, CID-font, or
    object-stream PDFs fall out as a parse_error via the caller's per-row
    error channel — the honest subset boundary."""
    import re
    import zlib

    global _PDF_TEXT_OP
    if _PDF_TEXT_OP is None:
        _PDF_TEXT_OP = (
            re.compile(rb"\(((?:[^()\\]|\\.)*)\)\s*Tj"
                       rb"|\[((?:[^\]\\]|\\.)*)\]\s*TJ", re.S),
            re.compile(rb"\(((?:[^()\\]|\\.)*)\)"),
            re.compile(rb"stream\r?\n(.*?)endstream", re.S),
        )
    op_re, str_re, stream_re = _PDF_TEXT_OP

    if not b.startswith(b"%PDF"):
        raise ValueError("not a PDF (missing %PDF header)")

    def unescape(s: bytes) -> str:
        out = bytearray()
        i = 0
        while i < len(s):
            c = s[i]
            if c == 0x5C and i + 1 < len(s):  # backslash
                n = s[i + 1]
                i += 2
                if n in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8,
                                0x66: 12}[n])
                elif 0x30 <= n <= 0x37:  # octal, up to 3 digits
                    oct_digits = chr(n)
                    while (i < len(s) and len(oct_digits) < 3
                           and 0x30 <= s[i] <= 0x37):
                        oct_digits += chr(s[i])
                        i += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                else:
                    out.append(n)
            else:
                out.append(c)
                i += 1
        return out.decode("latin-1")

    lines: list[str] = []
    for m in stream_re.finditer(b):
        data = m.group(1)
        try:
            data = zlib.decompress(data)
        except zlib.error:
            pass  # raw (uncompressed) content stream
        for op in op_re.finditer(data):
            if op.group(1) is not None:          # (…) Tj
                lines.append(unescape(op.group(1)))
            else:                                # [(…) kern (…)] TJ
                parts = [unescape(sm.group(1))
                         for sm in str_re.finditer(op.group(2))]
                lines.append("".join(parts))
    if not lines:
        raise ValueError("no extractable text operators found")
    return "\n".join(lines)


def _docx_parse(lib, b: bytes) -> str:
    # python-docx paragraphs + tables rows joined ' | '
    # (/root/reference/src/parsers.py:53-86)
    import io
    doc = lib.Document(io.BytesIO(b))
    chunks = [p.text for p in doc.paragraphs if p.text.strip()]
    for table in doc.tables:
        for row in table.rows:
            cells = [c.text.strip() for c in row.cells if c.text.strip()]
            if cells:
                chunks.append(" | ".join(cells))
    return "\n".join(chunks)


_W_NS = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"


def _docx_parse_stdlib(b: bytes) -> str:
    """Pure-stdlib DOCX text extraction — a .docx is a zip whose body lives
    in word/document.xml. Reproduces the reference's python-docx semantics
    (/root/reference/src/parsers.py:53-86): body-level non-empty paragraphs
    first, then each table row flattened with non-empty cells joined
    ``' | '``, all chunks joined with newlines. This makes DOCX the one
    non-trivial format that parses end-to-end even without python-docx in
    the environment (the library path above is preferred when present)."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(io.BytesIO(b)) as z:
        root = ET.fromstring(z.read("word/document.xml"))
    body = root.find(_W_NS + "body")
    if body is None:
        return ""

    def para_text(p) -> str:
        return "".join(t.text or "" for t in p.iter(_W_NS + "t"))

    chunks: list[str] = []
    tables = []
    for child in body:
        if child.tag == _W_NS + "p":
            txt = para_text(child)
            if txt.strip():
                chunks.append(txt)
        elif child.tag == _W_NS + "tbl":
            tables.append(child)
    for tbl in tables:
        for tr in tbl.iter(_W_NS + "tr"):
            cells = []
            for tc in tr.findall(_W_NS + "tc"):
                # python-docx cell.text: paragraph texts joined with \n
                ctext = "\n".join(
                    para_text(p) for p in tc.findall(_W_NS + "p")).strip()
                if ctext:
                    cells.append(ctext)
            if cells:
                chunks.append(" | ".join(cells))
    return "\n".join(chunks)


def _image_parse(lib, b: bytes) -> str:
    # pytesseract full-page OCR (/root/reference/src/parsers.py:90-105)
    import io

    from PIL import Image
    return lib.image_to_string(Image.open(io.BytesIO(b)))


# --- S4 stdlib OCR rung -----------------------------------------------------
#
# The reference OCRs with pytesseract (reference src/parsers.py:90-105).
# Without it, the stdlib rung is real OCR for machine-rendered text:
# decode BMP, PNG or JPEG luma (:func:`decode_luma`), binarize, segment
# lines/characters on blank rows/columns, and match each cell against a
# 5x7 glyph font (Hamming distance with tolerance, '?' when nothing is
# close). Photographs and arbitrary fonts need the real engine.

_FONT_5X7: dict[str, tuple[int, ...]] = {
    "A": (0b01110, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "B": (0b11110, 0b10001, 0b10001, 0b11110, 0b10001, 0b10001, 0b11110),
    "C": (0b01110, 0b10001, 0b10000, 0b10000, 0b10000, 0b10001, 0b01110),
    "D": (0b11110, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b11110),
    "E": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b11111),
    "F": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b10000),
    "G": (0b01110, 0b10001, 0b10000, 0b10111, 0b10001, 0b10001, 0b01111),
    "H": (0b10001, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "I": (0b01110, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "J": (0b00111, 0b00010, 0b00010, 0b00010, 0b00010, 0b10010, 0b01100),
    "K": (0b10001, 0b10010, 0b10100, 0b11000, 0b10100, 0b10010, 0b10001),
    "L": (0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b11111),
    "M": (0b10001, 0b11011, 0b10101, 0b10101, 0b10001, 0b10001, 0b10001),
    "N": (0b10001, 0b10001, 0b11001, 0b10101, 0b10011, 0b10001, 0b10001),
    "O": (0b01110, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "P": (0b11110, 0b10001, 0b10001, 0b11110, 0b10000, 0b10000, 0b10000),
    "Q": (0b01110, 0b10001, 0b10001, 0b10001, 0b10101, 0b10010, 0b01101),
    "R": (0b11110, 0b10001, 0b10001, 0b11110, 0b10100, 0b10010, 0b10001),
    "S": (0b01111, 0b10000, 0b10000, 0b01110, 0b00001, 0b00001, 0b11110),
    "T": (0b11111, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100),
    "U": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "V": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01010, 0b00100),
    "W": (0b10001, 0b10001, 0b10001, 0b10101, 0b10101, 0b10101, 0b01010),
    "X": (0b10001, 0b10001, 0b01010, 0b00100, 0b01010, 0b10001, 0b10001),
    "Y": (0b10001, 0b10001, 0b01010, 0b00100, 0b00100, 0b00100, 0b00100),
    "Z": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b10000, 0b11111),
    "0": (0b01110, 0b10001, 0b10011, 0b10101, 0b11001, 0b10001, 0b01110),
    "1": (0b00100, 0b01100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "2": (0b01110, 0b10001, 0b00001, 0b00010, 0b00100, 0b01000, 0b11111),
    "3": (0b11111, 0b00010, 0b00100, 0b00010, 0b00001, 0b10001, 0b01110),
    "4": (0b00010, 0b00110, 0b01010, 0b10010, 0b11111, 0b00010, 0b00010),
    "5": (0b11111, 0b10000, 0b11110, 0b00001, 0b00001, 0b10001, 0b01110),
    "6": (0b00110, 0b01000, 0b10000, 0b11110, 0b10001, 0b10001, 0b01110),
    "7": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b01000, 0b01000),
    "8": (0b01110, 0b10001, 0b10001, 0b01110, 0b10001, 0b10001, 0b01110),
    "9": (0b01110, 0b10001, 0b10001, 0b01111, 0b00001, 0b00010, 0b01100),
}

_GLYPH_W, _GLYPH_H = 5, 7
#: worst acceptable Hamming distance for a match (of 35 cells); above it
#: the cell reads as '?' rather than guessing
_OCR_MAX_HAMMING = 8


def _trim_resample(bits: list[list[bool]]) -> list[list[bool]]:
    """Bounding-box trim + nearest-neighbor resample to the 5x7 grid —
    the shared normalization for scanned cells AND font templates, so a
    narrow glyph ('I', '1') whose blank flanks the column segmenter strips
    still lands on the same grid as its template."""
    rs = [r for r, row in enumerate(bits) if any(row)]
    cs = [c for c in range(len(bits[0])) if any(row[c] for row in bits)]
    if not rs or not cs:
        return [[False] * _GLYPH_W for _ in range(_GLYPH_H)]
    r0, r1, c0, c1 = rs[0], rs[-1] + 1, cs[0], cs[-1] + 1
    ch, cw = r1 - r0, c1 - c0
    return [
        [bits[r0 + min(ch - 1, r * ch // _GLYPH_H)]
             [c0 + min(cw - 1, c * cw // _GLYPH_W)]
         for c in range(_GLYPH_W)]
        for r in range(_GLYPH_H)
    ]


def _glyph_templates() -> dict[str, list[list[bool]]]:
    out = {}
    for name, rows in _FONT_5X7.items():
        bits = [[bool(rows[r] >> (_GLYPH_W - 1 - c) & 1)
                 for c in range(_GLYPH_W)] for r in range(_GLYPH_H)]
        out[name] = _trim_resample(bits)
    return out


_TEMPLATES = _glyph_templates()


class UnsupportedJpegTier(ValueError):
    """A legitimate JPEG of a tier the pure-stdlib decoder doesn't
    implement (arithmetic-coded SOF9+, hierarchical, 12-bit precision,
    mixed frame types) — as opposed to a CORRUPT stream, which raises
    plain ValueError. Callers route on the TYPE, never on message text
    (ADVICE r7 #3): sources/multimodal.py degrades this tier to the
    deterministic fake while corrupt files surface as per-row errors."""


def _decode_bmp_24(b: bytes) -> list[list[int]]:
    """Uncompressed 24-bit BMP -> top-down luminance rows (0-255)."""
    import struct

    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP file")
    (_, _, _, _, offset) = struct.unpack_from("<2sIHHI", b, 0)
    (hsz, w, h, _, bpp, comp) = struct.unpack_from("<IiiHHI", b, 14)[:6]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    rows = []
    for r in range(h):
        src = r * stride + offset
        row = [
            (b[src + 3 * c] + b[src + 3 * c + 1] + b[src + 3 * c + 2]) // 3
            for c in range(w)
        ]
        rows.append(row)
    return rows[::-1] if bottom_up else rows


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png(b: bytes) -> list[list[int]]:
    """8-bit non-interlaced PNG (gray / gray+alpha / RGB / RGBA / palette)
    → top-down luminance rows, pure stdlib: chunk walk + zlib inflate +
    full filter reconstruction (None/Sub/Up/Average/Paeth per the PNG
    spec §9). Covers what screenshot and render tools actually emit; 16-bit
    and interlaced files raise and degrade per-row honestly."""
    import struct
    import zlib

    if not b.startswith(_PNG_SIG):
        raise ValueError("not a PNG file")
    pos, idat, palette = len(_PNG_SIG), bytearray(), None
    w = h = ctype = None
    while pos + 8 <= len(b):
        (ln,) = struct.unpack_from(">I", b, pos)
        typ = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + ln]
        pos += 12 + ln  # chunk header + payload + CRC
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", data)
            if depth != 8 or comp != 0 or filt != 0 or ilace != 0:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, interlace={ilace})")
            if ctype not in (0, 2, 3, 4, 6):
                raise ValueError(f"unsupported PNG color type {ctype}")
        elif typ == b"PLTE":
            palette = [data[i:i + 3] for i in range(0, len(data), 3)]
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    stride = w * nch
    rows: list[list[int]] = []
    prev = bytearray(stride)
    off = 0
    for _ in range(h):
        ft = raw[off]
        off += 1
        cur = bytearray(raw[off:off + stride])
        off += stride
        if ft == 1:  # Sub
            for i in range(nch, stride):
                cur[i] = (cur[i] + cur[i - nch]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                cur[i] = (cur[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = cur[i - nch] if i >= nch else 0
                cur[i] = (cur[i] + (a + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = cur[i - nch] if i >= nch else 0
                up = prev[i]
                c = prev[i - nch] if i >= nch else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (up if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        prev = cur
        if ctype == 0:
            lum = list(cur)
        elif ctype == 4:
            lum = [cur[i] for i in range(0, stride, 2)]
        elif ctype == 2:
            lum = [(cur[i] + cur[i + 1] + cur[i + 2]) // 3
                   for i in range(0, stride, 3)]
        elif ctype == 6:
            lum = [(cur[i] + cur[i + 1] + cur[i + 2]) // 3
                   for i in range(0, stride, 4)]
        else:
            if palette is None:
                raise ValueError("paletted PNG missing PLTE")
            lum = [sum(palette[v]) // 3 for v in cur]
        rows.append(lum)
    return rows


# ----------------------- JPEG (baseline + progressive, luma decode)
#
# Pure stdlib + numpy: baseline sequential DCT (ITU T.81 Annex F) and
# progressive DCT with successive approximation (Annex G, Huffman). Every
# component is entropy-decoded (interleaved scans must be walked in full),
# but only Y is IDCT'd: no chroma upsampling or color conversion. Covers
# 1- and 3-component scans, 1/2 sampling factors and restart markers;
# arithmetic coding (SOF9+) and hierarchical files raise per-row.


def _jpeg_zigzag() -> list[int]:
    """Zigzag scan order as natural-order indices (generated, not typed —
    a transcription typo here would silently corrupt every block)."""
    order, r, c = [], 0, 0
    for _ in range(64):
        order.append(r * 8 + c)
        if (r + c) % 2 == 0:
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return order


_JPEG_ZZ = _jpeg_zigzag()


def _jpeg_dct_matrix():
    """Orthonormal 8x8 DCT-II matrix T: coef = T @ block @ T.T."""
    import math

    import numpy as np

    t = np.zeros((8, 8))
    for u in range(8):
        cu = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            t[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return t


class _JpegBitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG bitstream exhausted")
            self._acc = self.data[self.pos]
            self.pos += 1
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _huff_decode_table(bits, vals) -> dict[tuple[int, int], int]:
    """(nbits, code) -> symbol."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return out


def _huff_read(rd: _JpegBitReader, table) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | rd.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_jpeg_luma(b: bytes) -> list[list[int]]:
    """Baseline sequential JPEG → top-down LUMINANCE rows (0-255).

    Entropy-decodes every component (interleaved MCUs must be walked in
    full) but IDCTs only the first (Y) component; chroma coefficients
    are discarded — no upsampling/color conversion. Progressive (SOF2)
    dispatches to the Annex G decoder (r7 rung); arithmetic (SOF9+),
    12-bit and hierarchical files raise."""
    import struct

    import numpy as np

    if len(b) < 4 or b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file")
    qtabs: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] = []  # (id, h, v, tq)
    w = h = 0
    ri = 0
    pos = 2
    scan: list[tuple[int, int, int]] = []  # (comp_index, dc_id, ac_id)
    data_start = -1
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        # T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes — skip them or the fill byte reads as the marker
        # code and the next bytes as a bogus segment length (ADVICE r6)
        while pos + 2 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        m = b[pos + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            pos += 2
            continue
        (ln,) = struct.unpack_from(">H", b, pos + 2)
        payload = b[pos + 4:pos + 2 + ln]
        if m == 0xDB:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                p += 1
                n = 64 * (2 if pq else 1)
                raw = payload[p:p + n]
                p += n
                vals = (list(struct.unpack(f">{64}H", raw)) if pq
                        else list(raw))
                nat = [0] * 64
                for i, zz in enumerate(_JPEG_ZZ):
                    nat[zz] = vals[i]
                qtabs[tq] = nat
        elif m == 0xC4:
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1:p + 17])
                n = sum(bits)
                vals = list(payload[p + 17:p + 17 + n])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                p += 17 + n
        elif m in (0xC0, 0xC1):
            prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            if prec != 8:
                raise UnsupportedJpegTier(f"unsupported JPEG precision {prec}")
            for ci in range(nc):
                cid, hv, tq = payload[6 + ci * 3:9 + ci * 3]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
        elif m == 0xC2:
            # progressive DCT (Annex G) — the r7 rung decodes it for real
            return _decode_jpeg_progressive(b)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise UnsupportedJpegTier("unsupported JPEG (arithmetic/hierarchical)")
        elif m == 0xDD:
            (ri,) = struct.unpack_from(">H", payload, 0)
        elif m == 0xDA:
            ns = payload[0]
            for ci in range(ns):
                cs, tabs = payload[1 + ci * 2], payload[2 + ci * 2]
                idx = next(i for i, c in enumerate(comps) if c[0] == cs)
                scan.append((idx, tabs >> 4, tabs & 0xF))
            data_start = pos + 2 + ln
            break
        pos += 2 + ln
    if data_start < 0 or not comps:
        raise ValueError("JPEG missing SOF/SOS")

    # split entropy data into restart intervals, unstuffing 0xFF00
    intervals: list[bytes] = []
    cur = bytearray()
    p = data_start
    while p < len(b):
        byte = b[p]
        if byte != 0xFF:
            cur.append(byte)
            p += 1
            continue
        nxt = b[p + 1] if p + 1 < len(b) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            p += 2
        elif 0xD0 <= nxt <= 0xD7:
            intervals.append(bytes(cur))
            cur = bytearray()
            p += 2
        else:  # EOI or next segment
            break
    intervals.append(bytes(cur))

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    y_id, y_h, y_v, y_tq = comps[scan[0][0]] if scan else comps[0]
    t = _jpeg_dct_matrix()
    if y_tq not in qtabs:
        raise ValueError("JPEG luma quant table missing")
    yq = np.asarray(qtabs[y_tq], dtype=np.float64).reshape(8, 8)

    single = len(scan) == 1
    if single:
        ci, _, _ = scan[0]
        cw = -(-w * comps[ci][1] // hmax)
        ch = -(-h * comps[ci][2] // vmax)
        bw, bh = -(-cw // 8), -(-ch // 8)
        n_mcus, units = bw * bh, [(ci, 1, 1)]
        plane_w, plane_h = bw * 8, bh * 8
    else:
        mw, mh = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        n_mcus = mw * mh
        units = [(ci, comps[ci][1], comps[ci][2]) for ci, _, _ in scan]
        plane_w, plane_h = mw * 8 * y_h, mh * 8 * y_v
    plane = np.zeros((plane_h, plane_w), dtype=np.uint8)

    dc_tabs = {ci: huff.get((0, d)) for ci, d, _ in scan}
    ac_tabs = {ci: huff.get((1, a)) for ci, _, a in scan}
    if any(v is None for v in dc_tabs.values()) \
            or any(v is None for v in ac_tabs.values()):
        raise ValueError("JPEG Huffman table missing")

    mcu = 0
    for seg_i, seg_data in enumerate(intervals):
        rd = _JpegBitReader(seg_data)
        preds = {ci: 0 for ci, _, _ in scan}
        seg_mcus = ri if (ri and seg_i < len(intervals) - 1) \
            else n_mcus - mcu
        for _ in range(seg_mcus):
            if mcu >= n_mcus:
                break
            if single:
                bx, by = mcu % bw, mcu // bw
            else:
                bx, by = mcu % mw, mcu // mw
            for ci, ch_, cv_ in units:
                for bv in range(cv_):
                    for bh_ in range(ch_):
                        s = _huff_read(rd, dc_tabs[ci])
                        diff = _jpeg_extend(rd.bits(s), s) if s else 0
                        preds[ci] += diff
                        zz = [0] * 64
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_read(rd, ac_tabs[ci])
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            zz[k] = _jpeg_extend(rd.bits(s), s)
                            k += 1
                        is_y = ci == scan[0][0]
                        if not is_y:
                            continue
                        coef = np.zeros(64)
                        for i, nat in enumerate(_JPEG_ZZ):
                            coef[nat] = zz[i]
                        blk = t.T @ (coef.reshape(8, 8) * yq) @ t + 128.0
                        blk = np.clip(np.rint(blk), 0, 255).astype(np.uint8)
                        if single:
                            py, px0 = by * 8, bx * 8
                        else:
                            py = (by * y_v + bv) * 8
                            px0 = (bx * y_h + bh_) * 8
                        plane[py:py + 8, px0:px0 + 8] = blk
            mcu += 1
    return _jpeg_plane_to_rows(plane, w, h, y_h, y_v, hmax, vmax)


def _jpeg_plane_to_rows(plane, w: int, h: int, y_h: int, y_v: int,
                        hmax: int, vmax: int) -> list[list[int]]:
    """Map a decoded Y plane to full image resolution (nearest neighbor
    when the luma itself is subsampled — legal but never seen in
    practice)."""
    plane_h, plane_w = plane.shape
    rows: list[list[int]] = []
    for r in range(h):
        pr = plane[min(plane_h - 1, r * y_v // vmax)]
        if y_h == hmax:
            rows.append([int(v) for v in pr[:w]])
        else:
            rows.append([int(pr[min(plane_w - 1, c * y_h // hmax)])
                         for c in range(w)])
    return rows


def _split_restart_intervals(b: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from ``start`` split at RSTn markers, with
    0xFF00 stuffing removed; returns (chunks, position of the terminating
    marker's 0xFF)."""
    chunks: list[bytes] = []
    cur = bytearray()
    p = start
    while p < len(b):
        byte = b[p]
        if byte != 0xFF:
            cur.append(byte)
            p += 1
            continue
        nxt = b[p + 1] if p + 1 < len(b) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            p += 2
        elif 0xD0 <= nxt <= 0xD7:
            chunks.append(bytes(cur))
            cur = bytearray()
            p += 2
        else:  # next real marker (another SOS/DHT/EOI/…)
            break
    chunks.append(bytes(cur))
    return chunks, p


def _decode_jpeg_progressive(b: bytes) -> list[list[int]]:
    """Progressive DCT JPEG (ITU T.81 Annex G, Huffman) → top-down
    LUMINANCE rows (0-255) — the r7 S4 rung.

    Implements the full successive-approximation scan algebra: DC first
    (point transform = arithmetic shift) and DC refinement (one raw bit
    per block), AC first with EOB-run coding (G.1.2.2: EOBn symbols skip
    2^r..2^(r+1)-1 all-zero-tail blocks in one code), and AC refinement
    (G.1.2.3: correction bits for history-nonzero coefficients interleaved
    with (run,1) newly-significant insertions — the libjpeg
    decode_mcu_AC_refine contract). DC scans may be interleaved
    (MCU-ordered across components); AC scans are single-component by
    spec (B.2.3) and walk the component's own ceil(dim/8) block raster.
    Restart markers reset DC predictors and the EOB run per interval.
    Huffman tables are SNAPSHOTTED per scan (files legally redefine DHT
    between scans). Only the Y component is IDCTed, exactly like the
    baseline rung. Coefficient state is held per block across scans —
    memory is #blocks × 64 ints, i.e. proportional to the image, same
    class as the output raster."""
    import struct

    import numpy as np

    if len(b) < 4 or b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file")
    qtabs: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] = []  # (id, h, v, tq)
    w = h = 0
    ri = 0
    # (members=[(comp_idx, dc_tab, ac_tab)], ss, se, ah, al, chunks, ri)
    scans: list[tuple] = []
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        while pos + 2 < len(b) and b[pos + 1] == 0xFF:  # fill bytes
            pos += 1
        m = b[pos + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            pos += 2
            continue
        if m == 0xD9:
            break
        (ln,) = struct.unpack_from(">H", b, pos + 2)
        payload = b[pos + 4:pos + 2 + ln]
        if m == 0xDB:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                p += 1
                n = 64 * (2 if pq else 1)
                raw = payload[p:p + n]
                p += n
                vals = (list(struct.unpack(f">{64}H", raw)) if pq
                        else list(raw))
                nat = [0] * 64
                for i, zz in enumerate(_JPEG_ZZ):
                    nat[zz] = vals[i]
                qtabs[tq] = nat
        elif m == 0xC4:
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1:p + 17])
                n = sum(bits)
                vals = list(payload[p + 17:p + 17 + n])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                p += 17 + n
        elif m == 0xC2:
            prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            if prec != 8:
                raise UnsupportedJpegTier(f"unsupported JPEG precision {prec}")
            for ci in range(nc):
                cid, hv, tq = payload[6 + ci * 3:9 + ci * 3]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
        elif m in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise UnsupportedJpegTier("mixed/unsupported JPEG frame type")
        elif m == 0xDD:
            (ri,) = struct.unpack_from(">H", payload, 0)
        elif m == 0xDA:
            ns = payload[0]
            members = []
            for ci in range(ns):
                cs, tabs = payload[1 + ci * 2], payload[2 + ci * 2]
                idx = next(i for i, c in enumerate(comps) if c[0] == cs)
                members.append((idx, huff.get((0, tabs >> 4)),
                                huff.get((1, tabs & 0xF))))
            ss, se, ahal = payload[1 + ns * 2:4 + ns * 2]
            chunks, pos = _split_restart_intervals(b, pos + 2 + ln)
            scans.append((members, ss, se, ahal >> 4, ahal & 0xF,
                          chunks, ri))
            continue
        pos += 2 + ln
    if not comps or not scans:
        raise ValueError("progressive JPEG missing SOF2/SOS")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    # per-component block grids: padded to the MCU grid (interleaved DC
    # scans address up to mcux·h_i × mcuy·v_i blocks); non-interleaved
    # scans walk only the component's own ceil grid
    coefs: list = []
    ceil_dims: list[tuple[int, int]] = []
    for _cid, chf, cvf, _tq in comps:
        bw_pad, bh_pad = mcux * chf, mcuy * cvf
        coefs.append(np.zeros((bh_pad, bw_pad, 64), dtype=np.int32))
        cw = -(-w * chf // hmax)
        chh = -(-h * cvf // vmax)
        ceil_dims.append((-(-cw // 8), -(-chh // 8)))

    for members, ss, se, ah, al, chunks, scan_ri in scans:
        interleaved = len(members) > 1
        if ss == 0 and se != 0:
            raise ValueError("progressive scan mixes DC and AC")
        if ss > 0 and len(members) > 1:
            # T.81 B.2.3: AC scans are single-component by spec; a
            # malformed multi-component AC scan would desync the
            # bitstream and decode garbage — fail loudly like every
            # other malformed-stream path (ADVICE r7 #4)
            raise ValueError("progressive AC scan must be single-component")
        if ss == 0:
            if any(t is None for _, t, _a in members) and ah == 0:
                raise ValueError("JPEG Huffman table missing")
            units = [(ci, comps[ci][1], comps[ci][2]) if interleaved
                     else (ci, 1, 1) for ci, _, _ in members]
            n_mcus = (mcux * mcuy if interleaved
                      else ceil_dims[members[0][0]][0]
                      * ceil_dims[members[0][0]][1])
            row_w = mcux if interleaved else ceil_dims[members[0][0]][0]
            mcu = 0
            for seg_i, seg in enumerate(chunks):
                rd = _JpegBitReader(seg)
                preds = dict.fromkeys((ci for ci, _, _ in members), 0)
                seg_mcus = (scan_ri
                            if scan_ri and seg_i < len(chunks) - 1
                            else n_mcus - mcu)
                for _ in range(seg_mcus):
                    if mcu >= n_mcus:
                        break
                    bx0, by0 = mcu % row_w, mcu // row_w
                    for (ci, dc_tab, _a), (ci2, ch_, cv_) in zip(members,
                                                                 units):
                        cf = coefs[ci]
                        for bv in range(cv_):
                            for bh_ in range(ch_):
                                if interleaved:
                                    by = by0 * cv_ + bv
                                    bx = bx0 * ch_ + bh_
                                else:
                                    by, bx = by0, bx0
                                if ah == 0:
                                    s = _huff_read(rd, dc_tab)
                                    diff = (_jpeg_extend(rd.bits(s), s)
                                            if s else 0)
                                    preds[ci] += diff
                                    cf[by, bx, 0] = preds[ci] << al
                                elif rd.bit():
                                    cf[by, bx, 0] |= 1 << al
                    mcu += 1
        else:  # AC scan: exactly one component (B.2.3)
            ci, _d, ac_tab = members[0]
            if ac_tab is None:
                raise ValueError("JPEG Huffman table missing")
            cf = coefs[ci]
            bw, bh_n = ceil_dims[ci]
            n_blocks = bw * bh_n
            blk = 0
            p1, m1 = 1 << al, -1 << al

            for seg_i, seg in enumerate(chunks):
                rd = _JpegBitReader(seg)
                eobrun = 0
                seg_blocks = (scan_ri
                              if scan_ri and seg_i < len(chunks) - 1
                              else n_blocks - blk)
                for _ in range(seg_blocks):
                    if blk >= n_blocks:
                        break
                    by, bx = blk // bw, blk % bw
                    c = cf[by, bx]
                    if ah == 0:  # AC first (G.1.2.2)
                        if eobrun:
                            eobrun -= 1
                        else:
                            k = ss
                            while k <= se:
                                rs = _huff_read(rd, ac_tab)
                                r, s = rs >> 4, rs & 0xF
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    eobrun = (1 << r) - 1
                                    if r:
                                        eobrun += rd.bits(r)
                                    break
                                k += r
                                if k > se:
                                    raise ValueError(
                                        "JPEG AC index overflow")
                                c[_JPEG_ZZ[k]] = (
                                    _jpeg_extend(rd.bits(s), s) << al)
                                k += 1
                    else:  # AC refinement (G.1.2.3)
                        def _refine(c, zz, rd=rd, p1=p1, m1=m1):
                            if rd.bit() and (c[zz] & p1) == 0:
                                c[zz] += p1 if c[zz] >= 0 else m1

                        k = ss
                        if eobrun == 0:
                            while k <= se:
                                rs = _huff_read(rd, ac_tab)
                                r, s = rs >> 4, rs & 0xF
                                if s == 0:
                                    if r != 15:
                                        eobrun = 1 << r
                                        if r:
                                            eobrun += rd.bits(r)
                                        break
                                    val = 0
                                elif s == 1:
                                    val = p1 if rd.bit() else m1
                                else:
                                    raise ValueError(
                                        "bad refinement magnitude")
                                while k <= se:
                                    zz = _JPEG_ZZ[k]
                                    if c[zz] != 0:
                                        _refine(c, zz)
                                    else:
                                        if r == 0:
                                            break
                                        r -= 1
                                    k += 1
                                if val and k <= se:
                                    c[_JPEG_ZZ[k]] = val
                                k += 1
                        if eobrun > 0:
                            while k <= se:
                                zz = _JPEG_ZZ[k]
                                if c[zz] != 0:
                                    _refine(c, zz)
                                k += 1
                            eobrun -= 1
                    blk += 1

    # IDCT the Y component only (baseline-rung contract)
    y_idx = 0
    _cid, y_h, y_v, y_tq = comps[y_idx]
    if y_tq not in qtabs:
        raise ValueError("JPEG luma quant table missing")
    yq = np.asarray(qtabs[y_tq], dtype=np.float64).reshape(8, 8)
    t = _jpeg_dct_matrix()
    bw, bh_n = ceil_dims[y_idx]
    plane = np.zeros((bh_n * 8, bw * 8), dtype=np.uint8)
    cf = coefs[y_idx]
    for by in range(bh_n):
        for bx in range(bw):
            coef = np.zeros(64)
            coef[:] = cf[by, bx]
            blk_px = t.T @ (coef.reshape(8, 8) * yq) @ t + 128.0
            plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                np.clip(np.rint(blk_px), 0, 255).astype(np.uint8)
    return _jpeg_plane_to_rows(plane, w, h, y_h, y_v, hmax, vmax)


def decode_luma(b: bytes) -> list[list[int]] | None:
    """Luminance rows of a BMP, PNG or JPEG payload, by magic bytes, or
    ``None`` for any other container. A corrupt or unsupported image
    raises its decoder's ``ValueError`` (``UnsupportedJpegTier`` for a
    JPEG tier the decoder lacks)."""
    if b[:2] == b"BM":
        return _decode_bmp_24(b)
    if b.startswith(_PNG_SIG):
        return _decode_png(b)
    if b[:2] == b"\xff\xd8":
        return _decode_jpeg_luma(b)
    return None


def _otsu_threshold(px: list[list[int]]) -> int:
    """Otsu's between-class-variance threshold over the luminance
    histogram — replaces the fixed v<128 cut (r8) so ANTI-ALIASED
    renders (gray edge ramps) and low-contrast scans binarize correctly.
    Degenerate single-mode images fall back to 127 (≡ the old cut)."""
    hist = [0] * 256
    for row in px:
        for v in row:
            hist[v] += 1
    total = sum(hist)
    sum_all = sum(i * h for i, h in enumerate(hist))
    w_b = s_b = 0
    best_t, best_var = 127, -1.0
    for t in range(256):
        w_b += hist[t]
        if w_b == 0:
            continue
        w_f = total - w_b
        if w_f == 0:
            break
        s_b += t * hist[t]
        m_b, m_f = s_b / w_b, (sum_all - s_b) / w_f
        var = w_b * w_f * (m_b - m_f) ** 2
        if var > best_var:
            best_var, best_t = var, t
    return best_t


#: photograph gate thresholds (see _ocr_parse_stdlib): a binarized page
#: of machine-rendered text is mostly background; a photograph's Otsu
#: split inks roughly half the frame
_OCR_MAX_INK_FRACTION = 0.45
_OCR_MIN_PHOTO_AREA = 400


def _ocr_parse_stdlib(b: bytes) -> str:
    """Template-matching OCR over a decoded bitmap (see module comment).
    Accepts uncompressed 24-bit BMP, 8-bit PNG, and baseline-sequential
    OR progressive JPEG (the formats machine renders/screenshots actually
    produce without media libs). Binarization is Otsu-adaptive (r8), so
    anti-aliased renders read as well as bilevel ones.

    PHOTOGRAPH GATE (the S4 boundary, made explicit r8): an image whose
    binarization inks most of the frame, or whose glyph cells mostly fail
    template matching, is NOT machine-rendered text — it raises a per-row
    error naming the pytesseract requirement instead of emitting silent
    '?' garbage. That is the declared, test-pinned limit of the stdlib
    rung: machine-rendered text (any integer scale, AA or bilevel, BMP/
    PNG/JPEG) is REAL; photographs need the real OCR engine."""
    px = decode_luma(b)
    if px is None:
        raise ValueError("not a BMP file")
    thr = _otsu_threshold(px)
    ink = [[v <= thr for v in row] for row in px]
    h, w = len(ink), len(ink[0]) if ink else 0
    if h * w >= _OCR_MIN_PHOTO_AREA:
        ink_frac = sum(v for row in ink for v in row) / (h * w)
        if ink_frac > _OCR_MAX_INK_FRACTION:
            raise ValueError(
                "image is not machine-rendered text (binarization inks "
                f"{ink_frac:.0%} of the frame); photograph-tier OCR "
                "requires pytesseract")
    # segment lines on blank pixel-rows
    lines, start = [], None
    for r in range(h + 1):
        has_ink = r < h and any(ink[r])
        if has_ink and start is None:
            start = r
        elif not has_ink and start is not None:
            lines.append((start, r))
            start = None
    out_lines = []
    for y0, y1 in lines:
        # segment characters on blank pixel-columns; the word-space gap
        # threshold scales with line height (≈ 7×glyph scale), or a
        # narrow glyph's blank flanks plus a scaled inter-char gap would
        # read as a space on anti-aliased 2×/3× renders
        space_thr = max(_GLYPH_W - 1, (9 * (y1 - y0)) // 14)
        cells, cstart, blanks, text = [], None, 0, []
        for c in range(w + 1):
            has_ink = c < w and any(ink[r][c] for r in range(y0, y1))
            if has_ink and cstart is None:
                if cells and blanks >= space_thr:
                    cells.append(None)  # wide gap = space
                cstart, blanks = c, 0
            elif not has_ink and cstart is not None:
                cells.append((cstart, c))
                cstart, blanks = None, 1
            elif not has_ink:
                blanks += 1
        for cell in cells:
            if cell is None:
                text.append(" ")
                continue
            x0, x1 = cell
            bits = _trim_resample(
                [row[x0:x1] for row in ink[y0:y1]])
            best, best_d = "?", _OCR_MAX_HAMMING + 1
            for ch_name, tmpl in _TEMPLATES.items():
                d = sum(
                    bits[r][c] != tmpl[r][c]
                    for r in range(_GLYPH_H) for c in range(_GLYPH_W)
                )
                if d < best_d:
                    best, best_d = ch_name, d
            text.append(best)
        out_lines.append("".join(text))
    result = "\n".join(out_lines)
    cells = sum(1 for ch in result if ch not in " \n")
    if cells >= 8 and result.count("?") * 2 > cells:
        raise ValueError(
            "image is not machine-rendered text (template match failed "
            f"on {result.count('?')}/{cells} glyph cells); "
            "photograph-tier OCR requires pytesseract")
    return result


def _mk_fallback_parser(lib_name: str, lib_fn, stdlib_fn, label: str):
    """Two-rung parser: the reference's library when importable, else the
    pure-stdlib extractor with matching output semantics."""
    state: dict[str, object] = {}

    def parse_bytes(b) -> tuple[str | None, str | None]:
        if b is None:
            return None, f"{label} parse failed: empty content"
        if "lib" not in state:
            try:
                state["lib"] = __import__(lib_name)
            except ImportError:
                state["lib"] = None
        try:
            if state["lib"] is not None:
                return lib_fn(state["lib"], bytes(b)), None
            return stdlib_fn(bytes(b)), None
        except Exception as exc:  # noqa: BLE001 — per-row fault tolerance
            return None, f"{label} parse failed: {exc}"

    return parse_bytes


_PARSERS = {
    # pdf, docx, AND image parse end-to-end in ANY environment: reference
    # library when importable, pure-stdlib extractor otherwise (the OCR
    # stdlib rung handles machine-rendered BMP/PNG/baseline-JPEG text;
    # photographs still need pytesseract and error per-row honestly).
    "pdf": _mk_fallback_parser("pdfplumber", _pdf_parse,
                               _pdf_parse_stdlib, "pdf"),
    "docx": _mk_fallback_parser("docx", _docx_parse,
                                _docx_parse_stdlib, "docx"),
    "image": _mk_fallback_parser("pytesseract", _image_parse,
                                 _ocr_parse_stdlib, "ocr"),
}


def _text_parse(b) -> tuple[str | None, str | None]:
    # S5 — UTF-8 fallback (/root/reference/src/parsers.py:27-29)
    if b is None:
        return None, "text parse failed: empty content"
    try:
        return bytes(b).decode("utf-8"), None
    except UnicodeDecodeError as exc:
        return None, f"text parse failed: {exc}"


def parse_bytes(fmt: str, b) -> tuple[str | None, str | None]:
    """One document's bytes → (raw_text, parse_error), dispatched on its
    :func:`format_for_path` label. The one dispatch behind the parse UDF,
    the doc_landing DataSource and the server's single-upload path."""
    return _PARSERS.get(fmt, _text_parse)(b)


@F.pandas_udf(PARSE_RESULT)
def parse_content(fmt: pd.Series, content: pd.Series) -> pd.DataFrame:
    """Vectorized (format, bytes) → (raw_text, parse_error)."""
    texts, errors = [], []
    for f, b in zip(fmt, content):
        text, err = parse_bytes(f, b)
        texts.append(text)
        errors.append(err)
    return pd.DataFrame({"raw_text": texts, "parse_error": errors})


def parse_documents(binary_df: DataFrame) -> DataFrame:
    """S1–S5 over a binaryFile scan: (path, content, …) →
    + (format, raw_text, parse_error)."""
    out = binary_df.withColumn("format", file_format(F.col("path")))
    parsed = parse_content(F.col("format"), F.col("content"))
    return (
        out.withColumn("_p", parsed)
        .withColumn("raw_text", F.col("_p.raw_text"))
        .withColumn("parse_error", F.col("_p.parse_error"))
        .drop("_p")
    )


@functools.cache
def _shape_columns(with_content_hash: bool) -> tuple[Column, ...]:
    return (
        F.xxhash64("path").alias("doc_id"),
        F.coalesce("raw_text", F.lit("")).alias("text"),
        F.lit("und").alias("lang"),
        F.element_at(F.split("path", "/"), -1).alias("source"),
        F.coalesce(F.length("raw_text"), F.lit(0)).cast("bigint")
        .alias("n_chars"),
        F.col("parse_error"),
        *([F.col("content_hash")] if with_content_hash else []),
    )


def shape_documents(parsed: DataFrame) -> DataFrame:
    """A :func:`parse_documents` result → the pipeline's document contract
    (doc_id, text, lang, source, n_chars, parse_error), as one ``select``.
    ``doc_id`` is ``xxhash64(path)``, ``source`` the file name.
    ``parse_error`` rides along so the response carries the real failure
    detail (e.g. 'pdf library unavailable'), not just the too-short check;
    a ``content_hash`` column, when present, rides along too. The Columns
    are built once per process (two lists, with and without
    ``content_hash``), so a one-document request does not rebuild them."""
    return parsed.select(*_shape_columns("content_hash" in parsed.columns))


def __getattr__(name: str):
    # perfbench/gen.py imports these three fixture writers from this
    # module; forward them lazily so executors never import the encoders.
    # Delete once perfbench/gen.py imports sources.fixtures directly (the
    # next change to the benchmark).
    if name in ("make_demo_docx_bytes", "make_demo_pdf_bytes",
                "render_text_png"):
        from multiagent_document_etl_system_spark.sources import fixtures
        return getattr(fixtures, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
