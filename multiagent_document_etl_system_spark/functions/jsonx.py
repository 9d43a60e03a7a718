"""JSON scalar kernels (SURVEY.md §2.6, J1–J5).

The reference's lenient LLM-output JSON handling
(/root/reference/src/utils.py:147-198) as Catalyst expressions:

- J1 ``safe_json_load``: strict parse, else regex-grab first '{' … last '}'.
- J2 ``extract_json``: strip ```json fences, try candidate blocks.
- J3 nested schema-string decode (metadata carries JSON as a string).
- J5 JSON validity gate.

Dynamic JSON stays a **string column** end-to-end (SURVEY.md §7.4):
`get_json_object` for access, `from_json` only where a doc_type-specific
struct schema is known. This is the 100 TB-friendly choice — no schema
inference pass over the corpus, pushdown-friendly scans.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Greedy first-{ to last-} block, as in /root/reference/src/utils.py:155.
JSON_BLOCK_PATTERN = r"\{[\s\S]*\}"
# Markdown fence stripper, as in /root/reference/src/utils.py:184-186.
FENCE_PATTERN = r"```json|```"


def json_block(c: Column) -> Column:
    """J1 — the lenient-parse candidate: first '{' through last '}'."""
    return F.regexp_extract(c, JSON_BLOCK_PATTERN, 0)


def json_block_sql(col: str) -> str:
    return f"regexp_extract({col}, '\\{{[\\s\\S]*\\}}', 0)"


def strip_fences(c: Column) -> Column:
    """J2 — remove ```json fences before candidate extraction."""
    return F.regexp_replace(c, FENCE_PATTERN, "")


def strip_fences_sql(col: str) -> str:
    return f"regexp_replace({col}, '```json|```', '', 'g')"


def lenient_get(c: Column, path: str) -> Column:
    """J1+J2 composed: fence-strip → block-grab → field access.
    Returns string (null on absent/unparseable) — Spark PERMISSIVE-style."""
    return F.get_json_object(json_block(strip_fences(c)), path)


def lenient_get_sql(col: str, path: str) -> str:
    inner = json_block_sql(strip_fences_sql(col))
    return f"json_extract_string({inner}, '{path}')"


def get_field(c: Column, path: str) -> Column:
    """J3 — field access into a JSON-string column (schema-on-read)."""
    return F.get_json_object(c, path)


def is_valid_json(c: Column) -> Column:
    """J5 — validity gate (/root/reference/src/app.py:141,168-170).
    A value parses iff a '$' extraction is non-null on an object/array."""
    return F.get_json_object(c, "$").isNotNull()
