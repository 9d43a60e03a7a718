"""Stable hashing / id generation (SURVEY.md §2.5 V7).

The reference derives schema ids with Python's process-salted ``hash()``
(/root/reference/src/app.py:142) — non-reproducible across runs. We use
content hashes that are stable and identical across Spark and DuckDB:

- ``md5`` (hex string) where the oracle must reproduce the value;
- ``xxhash64`` (Spark-only, faster, 64-bit int) for internal partitioning /
  MinHash where the oracle check is rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def schema_id(doc_type: Column, schema_json: Column) -> Column:
    """V7 twin — deterministic replacement for
    ``f"{doc_type}_schema_{abs(hash(json)) % 100000}"``
    (/root/reference/src/app.py:142): first 8 hex chars of md5."""
    return F.concat(doc_type, F.lit("_schema_"), F.substring(F.md5(schema_json), 1, 8))


def schema_id_sql(doc_type_col: str, schema_json_col: str) -> str:
    return (
        f"concat({doc_type_col}, '_schema_', "
        f"substring(md5({schema_json_col}), 1, 8))"
    )
