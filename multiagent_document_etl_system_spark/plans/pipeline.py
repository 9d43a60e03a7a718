"""The document-ETL pipeline as ONE lazy DataFrame plan (SURVEY.md §2.7, §3.1).

The reference runs a LangGraph state machine per document:
parse → classify → RAG-schema → extract → validate (≤1 retry) → persist →
respond (/root/reference/src/agents.py:329-370). Here the whole DAG is a
corpus-at-a-time Catalyst plan:

- **per-row fault tolerance** (D5): a nullable ``error`` column; every stage
  expression is gated ``WHEN error IS NULL`` — mirroring the reference's
  per-agent ``if state.get("error"): return state`` guards
  (/root/reference/src/agents.py:87-88,110-111,165-166,213-214,271-272).
  Rows never fail tasks; they carry their error to the response projection.
- **schema retrieval** (V5 cascade, /root/reference/src/agents.py:104-156):
  broadcast left-join of the (tiny) schema dim on doc_type, then
  ``coalesce`` to the constant fallback schema. Strategy provenance kept in
  ``schema_source``.
- **bounded retry** (D3, MAX_RETRIES=1 /root/reference/src/agents.py:33):
  statically unrolled — pass-2 extraction over *cleaned* text for rows that
  fail validation, then re-validate. Compile-time constant bound ⇒ no
  iterative plan.
- **persist/respond** (K1–K4): deterministic record ids (md5), storage URLs
  as path expressions, flat response projection.

Scale: one narrow pipeline + one broadcast join. No shuffle at all until a
sink or aggregate asks for one — at 100 TB this is a single pass over the
corpus with full codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.functions.text import (
    clean_text,
    clean_text_sql,
)
from multiagent_document_etl_system_spark.operators.classify import (
    classify,
    classify_case_sql,
)
from multiagent_document_etl_system_spark.operators.extract import (
    AMOUNT_RE,
    DATE_RE,
    EMAIL_RE,
    extract_sql_columns,
)
from multiagent_document_etl_system_spark.operators.validate import (
    validate_sql_columns,
)

# Document-too-short parse failure threshold (the engine's stand-in for the
# reference's parse exceptions, /root/reference/src/agents.py:74-77).
MIN_CHARS = 60
PARSE_ERROR = "Parsing failed: document too short"
EMPTY_ERROR = "Parsing failed: missing document text"

# The registered schema dim — plays the Pinecone "document-schemas" namespace
# (/root/reference/src/pinecone_utils.py:55,98). Deliberately covers only 5
# of the 9 labels so the corpus exercises the V5 fallback branch.
SCHEMA_DIM: list[tuple[str, str, str]] = [
    ("invoice", '{"fields":{"email":"billing contact","amount":"total due"}}',
     "Invoice extraction schema"),
    ("contract", '{"fields":{"date":"effective date","email":"signatory"}}',
     "Contract extraction schema"),
    ("receipt", '{"fields":{"amount":"paid amount"}}',
     "Receipt extraction schema"),
    ("form", '{"fields":{"email":"applicant email"}}',
     "Form extraction schema"),
    ("report", '{"fields":{"date":"reporting date"}}',
     "Report extraction schema"),
]
FALLBACK_SCHEMA = '{"fields":{}}'  # /root/reference/src/agents.py:143-149


def schema_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        SCHEMA_DIM, "doc_type string, schema_json string, description string"
    )


def _gate(error: Column, value: Column) -> Column:
    """D5/P5 error gate: stage output only for healthy rows."""
    return F.when(error.isNull(), value)


def run_pipeline(spark: SparkSession, documents: DataFrame,
                 observation=None) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) → response DataFrame.

    If the input carries a ``parse_error`` column (the parse stage's per-row
    failure detail, sources/parsers.py), it seeds the pipeline ``error``
    ahead of the too-short check — preserving the reference's per-document
    error fidelity (/root/reference/src/agents.py:74-77) instead of
    collapsing every parse failure into the generic too-short message.

    A ``content_hash`` input column (the incremental key cli.process_plan
    derives from the landing bytes) is carried into the response as its
    last column.

    ``observation``: an optional ``pyspark.sql.Observation`` — when given,
    the response projection is instrumented with corpus health metrics
    (n_docs / n_errors / n_valid / n_retried) collected DURING the one
    pass that materializes the result (Spark's observe API), replacing
    the reference's per-request log counting
    (/root/reference/src/app.py:84-93) with zero extra scans — the
    monitoring hook a 100 TB run needs.
    """
    # The pipeline is a CPU-heavy narrow pass (a dozen regex evaluations
    # per row); a single-row-group input would execute it SERIALLY. Fan
    # out round-robin when the scan under-parallelizes (no-op at cluster
    # scale where inputs carry thousands of row groups; not applicable to
    # streaming inputs, whose partitioning the source controls).
    if not documents.isStreaming:
        from multiagent_document_etl_system_spark.io import ensure_parallelism
        documents = ensure_parallelism(documents)

    # NULL text/n_chars must NOT slip through as success: a null too-short
    # comparison is null (no error), so missing payloads are caught first
    err = (F.when(F.col("text").isNull() | F.col("n_chars").isNull(),
                  F.lit(EMPTY_ERROR))
           .when(F.col("n_chars") < MIN_CHARS, F.lit(PARSE_ERROR)))
    if "parse_error" in documents.columns:
        err = F.coalesce(F.col("parse_error"), err)
    df = documents.withColumn("error", err)
    e = F.col("error")

    df = df.withColumn("cleaned", _gate(e, clean_text(F.col("text"))))
    # reuse the materialized cleaned text: clean_text commutes with lower(),
    # so the classifier skips its own full-text regex chain (~2 fewer regex
    # passes per row; error-gated NULLs re-gate to NULL downstream)
    df = classify(df, "text", "_doc_type", cleaned_col="cleaned")
    df = df.withColumn("doc_type", _gate(e, F.col("_doc_type"))).drop("_doc_type")

    dim = schema_dim(spark)
    df = df.join(F.broadcast(dim), "doc_type", "left")
    df = (
        df.withColumn(
            "schema_source",
            _gate(e, F.when(F.col("schema_json").isNotNull(), F.lit("doc_type"))
                  .otherwise(F.lit("fallback"))),
        )
        .withColumn(
            "description",
            _gate(e, F.coalesce(
                F.col("description"),
                F.concat(F.lit("Auto-generated schema for "), F.col("doc_type")),
            )),
        )
        .withColumn(
            "schema_json",
            _gate(e, F.coalesce(F.col("schema_json"), F.lit(FALLBACK_SCHEMA))),
        )
    )

    # pass-1 extraction over raw text (reference extracts from raw_text)
    t = F.col("text")
    toks = F.split(F.trim(t), r"\s+")
    df = (
        df.withColumn("email", _gate(e, F.regexp_extract(t, EMAIL_RE, 0)))
        .withColumn("date_str", _gate(e, F.regexp_extract(t, DATE_RE, 0)))
        .withColumn("amount_str", _gate(e, F.regexp_extract(t, AMOUNT_RE, 0)))
        .withColumn("first_token", _gate(e, toks.getItem(0)))
        .withColumn("n_tokens", _gate(e, F.size(toks).cast("bigint")))
    )

    # pass-1 validation
    df = _validate_stage(df, suffix="")

    # bounded retry (unrolled): re-extract from CLEANED text where invalid
    retry = ~F.coalesce(F.col("is_valid"), F.lit(True))
    c = F.col("cleaned")
    df = (
        df.withColumn(
            "email", F.when(retry, _gate(e, F.regexp_extract(c, EMAIL_RE, 0)))
            .otherwise(F.col("email")))
        .withColumn(
            "date_str", F.when(retry, _gate(e, F.regexp_extract(c, DATE_RE, 0)))
            .otherwise(F.col("date_str")))
        .withColumn(
            "amount_str", F.when(retry, _gate(e, F.regexp_extract(c, AMOUNT_RE, 0)))
            .otherwise(F.col("amount_str")))
        .withColumn("retry_count", _gate(e, retry.cast("int")))
    )
    df = _validate_stage(df, suffix="")  # pass-2 validation (idempotent when no retry)

    # persistence (K1/K2): deterministic ids + storage URLs
    df = (
        df.withColumn("record_id", _gate(e, F.md5(F.concat(F.lit("doc-"), F.col("doc_id")))))
        .withColumn("file_url", _gate(e, F.concat(
            F.lit("s3://documents/"), F.col("doc_id"), F.lit(".txt"))))
        .withColumn("amount", F.col("amount_str").try_cast("double"))
    )

    # response projection (K4, /root/reference/src/agents.py:312-321)
    out = df.select(
        "doc_id",
        e.isNull().alias("success"),
        "error",
        "doc_type",
        "schema_source",
        "description",
        "record_id",
        "file_url",
        "is_valid",
        "feedback",
        "retry_count",
        "email",
        "date_str",
        "amount",
        "first_token",
        "n_tokens",
        *[c for c in ("content_hash",) if c in documents.columns],
    )
    if observation is not None:
        out = observe_health(out, observation)
    return out


def observe_health(responses: DataFrame, observation) -> DataFrame:
    """Instrument response rows with the corpus health metrics n_docs /
    n_errors / n_valid / n_retried, collected by ``observation`` during
    whichever action materializes them. The sums are NULL over no rows."""
    return responses.observe(
        observation,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
        .alias("n_errors"),
        F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("n_valid"),
        F.sum(F.coalesce(F.col("retry_count"), F.lit(0))).alias("n_retried"),
    )


def _validate_stage(df: DataFrame, suffix: str) -> DataFrame:
    """L3 twin over the current extract columns, gated on error."""
    from multiagent_document_etl_system_spark.operators.validate import _checks

    e = F.col("error")
    checks = _checks(F.col("email"), F.col("date_str"), F.col("amount_str"))
    feedback = F.concat_ws("|", *[F.when(c, F.lit(m)) for c, m in checks])
    ok = F.lit(True)
    for cond, _ in checks:
        ok = ok & ~F.coalesce(cond, F.lit(False))
    return df.withColumn("is_valid", _gate(e, ok)) \
        .withColumn("feedback", _gate(e, feedback))


# ------------------------------------------------------------------ oracle

def pipeline_oracle_sql(table: str = "documents",
                        parse_error_col: bool = False) -> str:
    """The whole pipeline as one DuckDB query — stage-for-stage mirror of
    :func:`run_pipeline` (same names, same gating, same constants).

    ``parse_error_col=True`` mirrors run_pipeline's behavior on inputs that
    carry a ``parse_error`` column (it seeds ``error`` ahead of the
    too-short check). The driver's ``documents`` table has no such column,
    so the registry oracle uses the default."""
    ex = extract_sql_columns("text")
    exc = extract_sql_columns("cleaned")
    val = validate_sql_columns()
    dim_rows = ", ".join(
        f"('{t}', '{s.replace(chr(39), chr(39) * 2)}', '{d}')"
        for t, s, d in SCHEMA_DIM
    )
    err_expr = (
        f"CASE WHEN text IS NULL OR n_chars IS NULL THEN '{EMPTY_ERROR}' "
        f"WHEN n_chars < {MIN_CHARS} THEN '{PARSE_ERROR}' END")
    if parse_error_col:
        err_expr = f"coalesce(parse_error, {err_expr})"
    return f"""
WITH parsed AS (
  SELECT doc_id, text, n_chars,
    {err_expr} AS error
  FROM {table}
), cleaned AS (
  SELECT *, CASE WHEN error IS NULL THEN {clean_text_sql('text')} END AS cleaned,
    CASE WHEN error IS NULL THEN {classify_case_sql('text')} END AS doc_type
  FROM parsed
), dim(d_type, schema_json, description) AS (
  VALUES {dim_rows}
), retrieved AS (
  SELECT c.*,
    CASE WHEN c.error IS NULL THEN
      CASE WHEN d.schema_json IS NOT NULL THEN 'doc_type' ELSE 'fallback' END
    END AS schema_source,
    CASE WHEN c.error IS NULL THEN
      coalesce(d.description, concat('Auto-generated schema for ', c.doc_type))
    END AS description,
    CASE WHEN c.error IS NULL THEN
      coalesce(d.schema_json, '{FALLBACK_SCHEMA}')
    END AS schema_json
  FROM cleaned c LEFT JOIN dim d ON c.doc_type = d.d_type
), extracted AS (
  SELECT *,
    CASE WHEN error IS NULL THEN {ex['email']} END AS email,
    CASE WHEN error IS NULL THEN {ex['date_str']} END AS date_str,
    CASE WHEN error IS NULL THEN {ex['amount_str']} END AS amount_str,
    CASE WHEN error IS NULL THEN {ex['first_token']} END AS first_token,
    CASE WHEN error IS NULL THEN {ex['n_tokens']} END AS n_tokens
  FROM retrieved
), validated1 AS (
  SELECT *,
    CASE WHEN error IS NULL THEN {val['is_valid']} END AS is_valid1
  FROM extracted
), retried AS (
  SELECT * EXCLUDE (email, date_str, amount_str),
    CASE WHEN NOT coalesce(is_valid1, true) THEN
      CASE WHEN error IS NULL THEN {exc['email']} END
    ELSE email END AS email,
    CASE WHEN NOT coalesce(is_valid1, true) THEN
      CASE WHEN error IS NULL THEN {exc['date_str']} END
    ELSE date_str END AS date_str,
    CASE WHEN NOT coalesce(is_valid1, true) THEN
      CASE WHEN error IS NULL THEN {exc['amount_str']} END
    ELSE amount_str END AS amount_str,
    CASE WHEN error IS NULL THEN
      CAST(NOT coalesce(is_valid1, true) AS INT) END AS retry_count
  FROM validated1
), validated2 AS (
  SELECT *,
    CASE WHEN error IS NULL THEN {val['is_valid']} END AS is_valid,
    CASE WHEN error IS NULL THEN {val['feedback']} END AS feedback
  FROM retried
)
SELECT doc_id,
  error IS NULL AS success,
  error,
  doc_type,
  schema_source,
  description,
  CASE WHEN error IS NULL THEN md5(concat('doc-', doc_id)) END AS record_id,
  CASE WHEN error IS NULL THEN concat('s3://documents/', doc_id, '.txt') END AS file_url,
  is_valid,
  feedback,
  retry_count,
  email,
  date_str,
  TRY_CAST(amount_str AS DOUBLE) AS amount,
  first_token,
  n_tokens
FROM validated2
"""
