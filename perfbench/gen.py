"""Seeded input generators for the benchmark.

Every generator takes a ``random.Random`` (or a seed) and writes plain files;
the program under test only ever sees those files. The same seed gives
byte-identical files: the DOCX writer's zip timestamps are pinned, parquet is
written with fixed options, and nothing reads the clock.

Each landing-dir document carries its *expected parsed text* (what the
format's parser must return) and, for the deliberately bad documents, the
exact per-row error the program must report. The output checks compare the
program's results against the DuckDB pipeline oracle over that text.
"""

from __future__ import annotations

import io
import os
import random
import zipfile
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from multiagent_document_etl_system_spark.operators.classify import (
    LABEL_KEYWORDS,
)
from multiagent_document_etl_system_spark.plans.pipeline import MIN_CHARS
from multiagent_document_etl_system_spark.sources.parsers import (
    make_demo_docx_bytes,
    make_demo_pdf_bytes,
    render_text_png,
)

KEYWORDS = sorted({w for kws in LABEL_KEYWORDS.values() for w in kws})
FILLER = ("data", "line", "part", "customer", "spark", "small", "big",
          "fast", "slow", "window", "hash", "vector", "dup", "table")
STOP = ("the", "and", "of", "to", "with", "for", "is", "a")
FORMATS = ("text", "pdf", "docx", "image")
EXT = {"text": ".txt", "pdf": ".pdf", "docx": ".docx", "image": ".png"}
LANGS = ("en", "de", "fr", "es", "zh")
EMB_DIM = 384  # all-MiniLM-L6-v2, the reference's embedding model


@dataclass(frozen=True)
class Doc:
    """One landing-dir file: its bytes, the text its parser must return
    (None when parsing must fail) and the parse error it must report."""
    name: str
    fmt: str
    payload: bytes
    text: str | None
    parse_error: str | None


def _words(rng: random.Random, n: int) -> list[str]:
    label = rng.choice(KEYWORDS)
    pool = KEYWORDS + list(FILLER) + list(STOP)
    return [label if rng.random() < 0.2 else rng.choice(pool)
            for _ in range(n)]


def _fields(rng: random.Random) -> list[str]:
    """Email / date / amount tokens. One date in five is out of range, so
    validation fails and the bounded retry branch runs on those rows."""
    out = []
    if rng.random() < 0.7:
        out.append(f"user{rng.randrange(1000)}@example{rng.randrange(9)}.com")
    if rng.random() < 0.7:
        month = rng.choice((13, 14)) if rng.random() < 0.2 \
            else rng.randrange(1, 13)
        out.append(f"20{rng.randrange(10, 30)}-{month:02d}-"
                   f"{rng.randrange(1, 29):02d}")
    if rng.random() < 0.7:
        out.append(f"{rng.randrange(1, 99999)}.{rng.randrange(100):02d}")
    return out


def _sentence(rng: random.Random, n_words: int) -> str:
    words = _words(rng, n_words)
    for tok in _fields(rng):
        words.insert(rng.randrange(len(words) + 1), tok)
    return " ".join(words)


def _docx(paragraphs: list[str]) -> bytes:
    """The program's DOCX writer, re-packed with pinned zip timestamps so
    the same seed gives the same bytes."""
    src = zipfile.ZipFile(io.BytesIO(make_demo_docx_bytes(paragraphs)))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as dst:
        for info in src.infolist():
            fixed = zipfile.ZipInfo(info.filename, (1980, 1, 1, 0, 0, 0))
            fixed.compress_type = zipfile.ZIP_DEFLATED
            dst.writestr(fixed, src.read(info.filename))
    return buf.getvalue()


def make_doc(rng: random.Random, name: str, fmt: str) -> Doc:
    """A well-formed document of ``fmt`` whose text passes MIN_CHARS."""
    if fmt == "image":
        # the stdlib OCR rung reads A-Z / 0-9 / single spaces, one line
        # per rendered row; keep images short (OCR is pure Python)
        lines = [" ".join(_words(rng, 4)).upper() for _ in range(3)]
        lines.append(f"TOTAL {rng.randrange(100, 999)} REF "
                     f"{rng.randrange(1000, 9999)}")
        text = "\n".join(lines)
        return Doc(name + EXT[fmt], fmt, render_text_png(text), text, None)
    lines = [_sentence(rng, rng.randrange(8, 16)) for _ in range(3)]
    text = "\n".join(lines)
    if fmt == "text":
        payload = text.encode()
    elif fmt == "pdf":
        payload = make_demo_pdf_bytes(lines)
    else:
        payload = _docx(lines)
    return Doc(name + EXT[fmt], fmt, payload, text, None)


def make_bad_doc(rng: random.Random, name: str) -> Doc:
    """A too-short or undecodable text document, with the error the
    program must report for it."""
    if rng.random() < 0.5:
        text = " ".join(_words(rng, 3))
        assert len(text) < MIN_CHARS
        return Doc(name + ".txt", "text", text.encode(), text, None)
    payload = b"\xff\xfe" + " ".join(_words(rng, 12)).encode()
    try:
        payload.decode("utf-8")
    except UnicodeDecodeError as exc:
        err = f"text parse failed: {exc}"
    return Doc(name + ".txt", "text", payload, None, err)


def make_docs(rng: random.Random, n: int, prefix: str,
              bad_share: float = 0.05) -> list[Doc]:
    """``n`` documents cycling through the four formats, with every
    ``1/bad_share``-th one a deliberately bad text document (evenly spaced,
    so every seed sends the same mix)."""
    docs = []
    every = round(1 / bad_share) if bad_share else 0
    for i in range(n):
        name = f"{prefix}{i:05d}"
        if every and i % every == every // 2:
            docs.append(make_bad_doc(rng, name))
        else:
            docs.append(make_doc(rng, name, FORMATS[i % len(FORMATS)]))
    return docs


def write_docs(docs: list[Doc], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for d in docs:
        with open(os.path.join(directory, d.name), "wb") as fh:
            fh.write(d.payload)


def mutate_docs(rng: random.Random, docs: list[Doc], share: float,
                prefix: str) -> tuple[list[Doc], list[str]]:
    """Change, add or delete about ``share`` of ``docs`` (one third each).
    Returns the new document list and the names of deleted files."""
    n = max(3, round(len(docs) * share))
    picked = rng.sample(range(len(docs)), 2 * (n // 3))
    change, delete = picked[: n // 3], set(picked[n // 3:])
    out = list(docs)
    for i in change:
        out[i] = make_doc(rng, docs[i].name.rsplit(".", 1)[0],
                          docs[i].fmt if docs[i].text else "text")
    deleted = [docs[i].name for i in sorted(delete)]
    out = [d for i, d in enumerate(out) if i not in delete]
    out += make_docs(rng, n - 2 * (n // 3), prefix, bad_share=0.0)
    return out, deleted


def write_corpus(rng: random.Random, n: int, path: str,
                 exact_share: float = 0.1, near_share: float = 0.15) -> None:
    """A ``documents.parquet`` with the corpus schema (doc_id, text, lang,
    source, n_chars): 5 langs, 20 sources, and seeded shares of exact
    copies and near duplicates (one word in twelve swapped)."""
    pool = KEYWORDS + list(FILLER) + list(STOP) * 3
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < exact_share:
            texts.append(rng.choice(texts))
        elif texts and r < exact_share + near_share:
            words = rng.choice(texts).split()
            for _ in range(max(1, len(words) // 12)):
                words[rng.randrange(len(words))] = rng.choice(pool)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(pool)
                                  for _ in range(rng.randrange(15, 90))))
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def make_embeddings(seed: int, n: int, n_clusters: int,
                    dim: int = EMB_DIM) -> np.ndarray:
    """``n`` clustered unit-ish float32 vectors: Gaussian blobs around
    ``n_clusters`` random centres."""
    g = np.random.default_rng(seed)
    centres = g.standard_normal((n_clusters, dim))
    assign = g.integers(0, n_clusters, n)
    vecs = centres[assign] + 0.35 * g.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32)


def write_vectors(vecs: np.ndarray, path: str, id_col: str, vec_col: str,
                  first_id: int = 0) -> None:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    lists = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]) \
        .cast(pa.list_(pa.float32()))
    table = pa.table({
        id_col: pa.array(range(first_id, first_id + len(vecs)), pa.int64()),
        vec_col: lists,
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
