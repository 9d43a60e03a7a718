"""Scalar kernels (P/J/V7), the L1-L3 LLM-twin queries, and the flagship pipeline entries.

Registration-order slice of the former plans/registry.py (r11 split);
order within and across modules is load-bearing -- the driver window and
QUERIES.md read QUERIES in insertion order.
"""

from __future__ import annotations

from multiagent_document_etl_system_spark.io import ensure_parallelism
from multiagent_document_etl_system_spark.plans.registry._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _docs,
    _q,
    classify_case_sql,
    clean_text,
    clean_text_sql,
    extract_fields,
    extract_sql_columns,
    jsonx,
    load_table,
    normalize_label,
    normalize_label_sql,
    pipeline_oracle_sql,
    run_pipeline,
    safe_filename,
    safe_filename_sql,
    schema_id,
    schema_id_sql,
    truncate_head,
    truncate_head_sql,
    validate,
    validate_sql_columns,
)



# ================================================== scalar kernels (P, J, V7)

@_q("k_text_kernels", f"""
SELECT doc_id,
  {clean_text_sql('text')} AS cleaned,
  {truncate_head_sql('text', 500)} AS head500,
  {normalize_label_sql('text')} AS label_norm,
  {safe_filename_sql("concat(source, '/../', doc_id, '.pdf')")} AS fname,
  md5(text) AS content_md5
FROM documents
""")
def k_text_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1–P4 + content hash in one projection (SURVEY.md §2.3)."""
    d = _docs(spark, sf_dir)
    raw_name = F.concat("source", F.lit("/../"), F.col("doc_id"), F.lit(".pdf"))
    return d.select(
        "doc_id",
        clean_text(F.col("text")).alias("cleaned"),
        truncate_head(F.col("text"), 500).alias("head500"),
        normalize_label(F.col("text")).alias("label_norm"),
        safe_filename(raw_name).alias("fname"),
        F.md5("text").alias("content_md5"),
    )


@_q("k_json_kernels", f"""
SELECT event_id,
  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_direct,
  TRY_CAST({jsonx.lenient_get_sql(
      "concat('```json' || chr(10), props, chr(10) || '```')", '$.k')}
    AS BIGINT) AS k_lenient,
  json_extract_string(props, '$') IS NOT NULL AS props_is_json
FROM events
""")
def k_json_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1–J5: direct access, fence-stripped lenient parse, validity gate."""
    ev = load_table(spark, sf_dir, "events")
    fenced = F.concat(F.lit("```json\n"), F.col("props"), F.lit("\n```"))
    return ev.select(
        "event_id",
        jsonx.get_field(F.col("props"), "$.k").try_cast("bigint")
        .alias("k_direct"),
        jsonx.lenient_get(fenced, "$.k").try_cast("bigint").alias("k_lenient"),
        jsonx.is_valid_json(F.col("props")).alias("props_is_json"),
    )


# =========================================================== L1/L2/L3 twins

@_q("l1_classify",
    f"SELECT doc_id, {classify_case_sql('text')} AS doc_type FROM documents")
def l1_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from multiagent_document_etl_system_spark.operators.classify import classify
    return classify(_docs(spark, sf_dir)).select("doc_id", "doc_type")


_ex = extract_sql_columns("text")


@_q("l2_extract", f"""
SELECT doc_id,
  {_ex['email']} AS email,
  {_ex['date_str']} AS date_str,
  {_ex['amount']} AS amount,
  {_ex['first_token']} AS first_token,
  {_ex['n_tokens']} AS n_tokens
FROM documents
""")
def l2_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_fields(_docs(spark, sf_dir)).select(
        "doc_id", "email", "date_str", "amount", "first_token", "n_tokens")


_val = validate_sql_columns()


@_q("l3_validate", f"""
WITH extracted AS (
  SELECT doc_id,
    {_ex['email']} AS email,
    {_ex['date_str']} AS date_str,
    {_ex['amount_str']} AS amount_str
  FROM documents
)
SELECT doc_id, {_val['is_valid']} AS is_valid, {_val['feedback']} AS feedback
FROM extracted
""")
def l3_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = extract_fields(_docs(spark, sf_dir))
    return validate(d).select("doc_id", "is_valid", "feedback")


_FALLBACK_SCHEMA_LIT = "'" + '{"fields":{}}' + "'"


@_q("v7_schema_id", f"""
SELECT doc_id,
  {schema_id_sql(classify_case_sql('text'), _FALLBACK_SCHEMA_LIT)} AS schema_id
FROM documents
""")
def v7_schema_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V7 — stable content-hash schema ids (deliberate divergence from the
    reference's process-salted hash(), /root/reference/src/app.py:142)."""
    from multiagent_document_etl_system_spark.operators.classify import classify
    d = classify(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        schema_id(F.col("doc_type"), F.lit('{"fields":{}}')).alias("schema_id"),
    )


# ============================================================= the pipeline

@_q("pipeline_flagship", pipeline_oracle_sql())
def pipeline_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end document ETL as one plan (SURVEY.md §3.1, §7.2)."""
    return run_pipeline(spark, ensure_parallelism(_docs(spark, sf_dir)))


@_q("pipeline_stats", f"""
WITH resp AS ({pipeline_oracle_sql().strip()})
SELECT coalesce(doc_type, '(errored)') AS doc_type, schema_source,
  count(*) AS n_docs,
  CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
  CAST(sum(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM resp GROUP BY 1, 2
""")
def pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level /stats analogue (SURVEY.md §2.8): aggregates over the
    pipeline response — exercises agg-over-pipeline plan fusion."""
    resp = run_pipeline(spark, ensure_parallelism(_docs(spark, sf_dir)))
    return (
        resp.groupBy(
            F.coalesce("doc_type", F.lit("(errored)")).alias("doc_type"),
            "schema_source",
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("success"), 1).otherwise(0))
            .cast("bigint").alias("n_ok"),
            F.sum(F.when(F.col("is_valid"), 1).otherwise(0))
            .cast("bigint").alias("n_valid"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


# ============================================================ similarity (V)

