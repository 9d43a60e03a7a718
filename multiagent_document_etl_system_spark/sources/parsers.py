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
  the doc_landing DataSource and the server's single-upload path.

Unit tests exercise the dispatch + the text path with synthetic bytes
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


def make_demo_docx_bytes(paragraphs: list[str],
                         table_rows: list[list[str]] | None = None) -> bytes:
    """A minimal valid .docx (zip + document.xml) built with the stdlib —
    test/demo fixture so the docx path can parse for real in environments
    without binary fixtures."""
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
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("word/document.xml", doc_xml)
    return buf.getvalue()


def _image_parse(lib, b: bytes) -> str:
    # pytesseract full-page OCR (/root/reference/src/parsers.py:90-105)
    import io

    from PIL import Image
    return lib.image_to_string(Image.open(io.BytesIO(b)))



# --- S4 stdlib OCR rung -----------------------------------------------------
#
# The reference OCRs scanned pages with pytesseract
# (/root/reference/src/parsers.py:90-105). Tesseract is not in this
# container, so until r4 image rows degraded to a per-row error. The stdlib
# rung below is REAL (small) OCR for the machine-rendered case: decode an
# uncompressed 24-bit BMP with struct (r4), an 8-bit PNG via zlib inflate +
# full filter reconstruction (r5), or a JPEG — baseline sequential (r6)
# AND progressive DCT (r7) — via Huffman decode + numpy IDCT, luma only
# — then binarize, segment
# lines/characters by blank rows/columns, and nearest-template-match each
# cell against a 5x7 glyph font (Hamming distance with tolerance, '?' when
# nothing is close). That covers screenshots/renders of text in a known
# font — the same "constrained but genuine subset" contract as the
# pure-stdlib PDF and DOCX rungs; photographs and arbitrary fonts still
# require the real engine. ``render_text_bmp`` / ``render_text_png`` /
# ``render_text_jpeg`` are the matching renderers (used by tests, which
# also add noise pixels to prove the tolerance is doing work).

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
# Round-6 rung: pure stdlib + numpy baseline JPEG (ITU T.81 Annex F
# sequential DCT, the JPEG flavor screenshot/render tools emit).
# OCR needs LUMINANCE only, so the decoder entropy-decodes every
# component (the bitstream is interleaved — chroma must be walked to
# stay in sync) but runs the IDCT only for the first (Y) component:
# no chroma upsampling or color conversion ever happens. Covers 1- and
# 3-component scans, arbitrary 1/2 sampling factors, and restart
# markers. Round-7 adds PROGRESSIVE DCT (Annex G, Huffman): full
# successive-approximation scan algebra — DC first/refine, spectral-
# selection AC first with EOB-run coding, AC refinement correction bits
# (``_decode_jpeg_progressive``), with ``render_text_jpeg_progressive``
# as its encoder twin; quantization matches the baseline twin exactly,
# so the property tests pin BYTE-IDENTICAL luma between the two decodes.
# Arithmetic coding (SOF9+) and hierarchical files raise and degrade
# per-row honestly. Both sides are built from the public Annex K tables
# (plus a flat 8-bit custom AC table for progressive EOBn symbols the
# baseline table lacks).

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
    if b.startswith(_PNG_SIG):
        px = _decode_png(b)
    elif b[:2] == b"\xff\xd8":
        px = _decode_jpeg_luma(b)
    else:
        px = _decode_bmp_24(b)
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
