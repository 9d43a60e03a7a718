"""Scalar text kernels (SURVEY.md §2.3, P1–P7).

Reference semantics (cited per function) re-expressed as Catalyst column
expressions — JVM-side, whole-stage-codegen'd, no Python in the hot path.

Dialect note: every kernel here has an exact DuckDB twin used by the oracle
(`__spark_entry__.oracle_sql`). Java regex and DuckDB's RE2 agree on the
constructs used (`\\s`, `\\w`, char classes); `\\w` is ASCII in both, a
deliberate, documented divergence from the reference's unicode-aware Python
`\\w` (corpus is ASCII).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# P1 — clean_text (/root/reference/src/utils.py:162-178):
#   collapse \s+ to one space, drop chars outside [\w\s.,\-():], trim.
CLEAN_KEEP_PATTERN = r"[^\w\s.,\-():]"


def clean_text(c: Column) -> Column:
    return F.trim(
        F.regexp_replace(F.regexp_replace(c, r"\s+", " "), CLEAN_KEEP_PATTERN, "")
    )


def clean_text_sql(col: str) -> str:
    """DuckDB twin of :func:`clean_text` (needs the 'g' flag — DuckDB
    regexp_replace is first-match-only by default, Java's replaces all)."""
    return (
        f"trim(regexp_replace(regexp_replace({col}, '\\s+', ' ', 'g'),"
        f" '[^\\w\\s.,\\-():]', '', 'g'))"
    )


# P2 — head truncation (/root/reference/src/utils.py:28 uses [:500];
# /root/reference/src/agents.py:132 uses [:1000]).
def truncate_head(c: Column, n: int = 500) -> Column:
    return F.substring(c, 1, n)


def truncate_head_sql(col: str, n: int = 500) -> str:
    return f"substring({col}, 1, {n})"


# P3 — label normalize (/root/reference/src/agents.py:93-94):
#   first line → strip → lower.
def normalize_label(c: Column) -> Column:
    return F.lower(F.trim(F.split(c, "\n").getItem(0)))


def normalize_label_sql(col: str) -> str:
    return f"lower(trim(split_part({col}, chr(10), 1)))"


# P4 — filename sanitize (/root/reference/src/app.py:29-34):
#   keep only [\w\s\-.] (path-traversal guard).
def safe_filename(c: Column) -> Column:
    return F.regexp_replace(c, r"[^\w\s\-.]", "")


def safe_filename_sql(col: str) -> str:
    return f"regexp_replace({col}, '[^\\w\\s\\-.]', '', 'g')"


# --- tokenization helpers shared by classify/dedup/textstats -------------

def tokens(c: Column) -> Column:
    """Whitespace tokenization of already-clean text → array<string>.

    DuckDB twin: ``string_split_regex(col, '\\s+')``. Both engines return
    [''] for the empty string; callers filter empties where it matters.
    """
    return F.split(F.trim(c), r"\s+")


def tokens_sql(col: str) -> str:
    return f"string_split_regex(trim({col}), '\\s+')"


def occurrence_count(c: Column, word: str) -> Column:
    """# of (possibly overlapping-free) occurrences of ``word`` in ``c`` via
    length arithmetic — pure codegen, no regex. Twin: identical SQL text."""
    return (F.length(c) - F.length(F.replace(c, F.lit(word), F.lit("")))) / len(word)


def occurrence_count_sql(col: str, word: str) -> str:
    return f"(length({col}) - length(replace({col}, '{word}', ''))) / {len(word)}"


# --- PII redaction (training-data curation kernel) -----------------------
#
# The reference sanitizes only FILENAMES (/root/reference/src/app.py:29-34);
# a corpus pipeline must also scrub PII from text before training. Same
# regex-kernel shape as P1/P4, applied in a fixed order (email, then phone,
# then SSN) so the patterns never overlap after earlier replacements.
# Patterns are RE2-and-Java-compatible; DuckDB twins pass the 'g' flag
# (Spark's regexp_replace is global by default).

PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\+\d{1,2}-\d{3}-\d{3}-\d{4}", "[PHONE]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
)


def redact_pii(c: Column) -> Column:
    """Replace every email / phone / SSN match with a typed placeholder."""
    out = c
    for _, pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep.replace("\\", "\\\\"))
    return out


def redact_pii_sql(col: str) -> str:
    out = col
    for _, pat, rep in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


def pii_count(c: Column, kind: str) -> Column:
    """# of matches of one PII pattern (for audit columns)."""
    pat = dict((k, p) for k, p, _ in PII_PATTERNS)[kind]
    return F.regexp_count(c, F.lit(pat)).cast("bigint")


def pii_count_sql(col: str, kind: str) -> str:
    pat = dict((k, p) for k, p, _ in PII_PATTERNS)[kind]
    return f"CAST(len(regexp_extract_all({col}, '{pat}')) AS BIGINT)"
