"""Shared spine of the registry package: the QUERIES dict, the
``_q`` registration decorator, table loaders, and every import the
domain modules draw on (re-exported by name). Split out of the
6,700-line plans/registry.py in r11 (verdict #5) -- the domain
modules register into THIS dict in a pinned order; see __init__.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.functions import jsonx
from multiagent_document_etl_system_spark.functions import text as textfns
from multiagent_document_etl_system_spark.functions.hashing import (
    schema_id,
    schema_id_sql,
)
from multiagent_document_etl_system_spark.functions.numeric import (
    idiv_round,
    idiv_round_sql,
    int_avg_round,
    int_avg_round_sql,
    stable_avg_q,
    stable_avg_q_sql,
    stable_sum,
    stable_sum_sql,
)
from multiagent_document_etl_system_spark.functions.text import (
    clean_text,
    clean_text_sql,
    normalize_label,
    normalize_label_sql,
    safe_filename,
    safe_filename_sql,
    tokens,
    truncate_head,
    truncate_head_sql,
)
from multiagent_document_etl_system_spark.io import load_table, once_per_session
from multiagent_document_etl_system_spark.io import (
    read_jdbc_partitioned as io_read_jdbc_partitioned,
    write_jdbc as io_write_jdbc,
)
from multiagent_document_etl_system_spark.operators import (
    ann_index,
    bpe,
    curation,
    dedup,
    similarity,
    textstats,
)
from multiagent_document_etl_system_spark.operators.classify import (
    classify_case_sql,
)
from multiagent_document_etl_system_spark.operators.extract import (
    extract_fields,
    extract_sql_columns,
)
from multiagent_document_etl_system_spark.operators.validate import (
    validate,
    validate_sql_columns,
)
from multiagent_document_etl_system_spark.plans.analytics import RELATIONAL_QUERIES
from multiagent_document_etl_system_spark.plans.pipeline import (
    pipeline_oracle_sql,
    run_pipeline,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, tuple[QueryFn, str | None]] = {}


def _q(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = (fn, oracle)
        return fn
    return deco


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")
