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
  a literal ``map(doc_type → schema)`` lookup built from :data:`SCHEMA_DIM`;
  a miss takes the fallback branch (:data:`FALLBACK_SCHEMA` in the
  oracle). Strategy provenance kept in ``schema_source``.
- **bounded retry** (D3, MAX_RETRIES=1 /root/reference/src/agents.py:33):
  statically unrolled — pass-2 extraction over *cleaned* text for rows that
  fail validation, then re-validate. Compile-time constant bound ⇒ no
  iterative plan.
- **persist/respond** (K1–K4): deterministic record ids (md5), storage URLs
  as path expressions, flat response projection.

Shape: two ``select``s over Columns built once per process. The first
computes every stage as a ``_``-prefixed alias that reads earlier aliases
of the same list (lateral column aliases; this relies on
``spark.sql.lateralColumnAlias.enableImplicitResolution``, default true);
the second renames them to the response columns. Inputs must not carry
the ``_`` names: an input column wins over a lateral alias of the same
name, so :func:`run_pipeline` rejects one.

Scale: the pipeline is a pure projection — no join, no shuffle, no job of
its own until a sink or aggregate asks for one. At 100 TB it is a single
pass over the corpus with full codegen; over a one-row in-memory relation
the optimizer folds it to a constant while planning (the server's path).
Callers choose the fan-out: they know their input's size, the pipeline
does not.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.functions.text import (
    clean_text,
    clean_text_sql,
)
from multiagent_document_etl_system_spark.operators.classify import (
    classify_case_sql,
    classify_stages,
)
from multiagent_document_etl_system_spark.operators.extract import (
    AMOUNT_RE,
    DATE_RE,
    EMAIL_RE,
    extract_sql_columns,
)
from multiagent_document_etl_system_spark.operators.validate import (
    _checks,
    validate_sql_columns,
)

# Document-too-short parse failure threshold (the engine's stand-in for the
# reference's parse exceptions, /root/reference/src/agents.py:74-77).
MIN_CHARS = 60
PARSE_ERROR = "Parsing failed: document too short"
EMPTY_ERROR = "Parsing failed: missing document text"

# The registered schema dim — plays the Pinecone "document-schemas" namespace
# (/root/reference/src/pinecone_utils.py:55,98). Deliberately covers only 5
# of the 9 labels so the corpus exercises the V5 fallback branch. The one
# source of both the pipeline's map lookup and the oracle's VALUES.
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


def _gate(error: Column, value: Column) -> Column:
    """D5/P5 error gate: stage output only for healthy rows."""
    return F.when(error.isNull(), value)


def _dim_lookup(field: int, doc_type: Column) -> Column:
    """``SCHEMA_DIM[doc_type][field]`` as a literal map lookup — NULL for
    a NULL or unregistered doc_type, as a left join on the dim gives."""
    return F.create_map(*[F.lit(v) for row in SCHEMA_DIM
                          for v in (row[0], row[field])])[doc_type]


def _validation(email: Column, date_str: Column, amount_str: Column
                ) -> tuple[Column, Column]:
    """L3 twin over the given extract columns: ``(is_valid, feedback)``."""
    checks = _checks(email, date_str, amount_str)
    ok = F.lit(True)
    for cond, _ in checks:
        ok = ok & ~F.coalesce(cond, F.lit(False))
    return ok, F.concat_ws("|", *[F.when(c, F.lit(m)) for c, m in checks])


#: The regex extractions, each run over raw text and retried over cleaned.
_EXTRACTS = (("email", EMAIL_RE), ("date_str", DATE_RE),
             ("amount_str", AMOUNT_RE))


@functools.cache
def _stages(with_parse_error: bool, with_content_hash: bool
            ) -> tuple[tuple[Column, ...], tuple[Column, ...],
                       frozenset[str]]:
    """The pipeline as ``(lateral, response, names)``: ``lateral`` is one
    flat tuple of ``_``-prefixed aliased Columns in dependency order, each
    reading earlier aliases of the list as lateral column aliases
    (``spark.sql.lateralColumnAlias.enableImplicitResolution``);
    ``response`` renames them to the public columns; ``names`` is the set
    of alias names, which :func:`run_pipeline` checks its input against.
    Pass-1 ``feedback`` and the looked-up ``schema_json`` are not
    computed: nothing reads them.

    Built once per process and input shape (``parse_error`` and
    ``content_hash`` present or not): the expressions are
    session-independent, and rebuilding them cost more driver time than
    running the pipeline over one document."""
    t, e, c = F.col("text"), F.col("_error"), F.col("_cleaned")
    toks = F.split(F.trim(t), r"\s+")
    # NULL text/n_chars must NOT slip through as success: a null too-short
    # comparison is null (no error), so missing payloads are caught first
    err = (F.when(t.isNull() | F.col("n_chars").isNull(), F.lit(EMPTY_ERROR))
           .when(F.col("n_chars") < MIN_CHARS, F.lit(PARSE_ERROR)))
    # reuse the materialized cleaned text: clean_text commutes with lower()
    # (its keep-charclass [\w\s.,\-():] is case-insensitive), so the
    # classifier skips its own full-text regex chain; error-gated NULLs
    # score 'other' and re-gate to NULL below
    cls_cols, label = classify_stages(F.lower(c))
    p1_valid, _ = _validation(*[F.col(f"_p1_{n}") for n, _ in _EXTRACTS])
    retry = ~F.coalesce(F.col("_p1_is_valid"), F.lit(True))
    is_valid, feedback = _validation(*[F.col(f"_{n}") for n, _ in _EXTRACTS])
    doc_type = F.col("_doc_type")
    lateral = {
        "_error": F.coalesce(F.col("parse_error"), err)
        if with_parse_error else err,
        "_cleaned": _gate(e, clean_text(t)),
        # pass-1 extraction over raw text (reference extracts from raw_text)
        **{f"_p1_{n}": _gate(e, F.regexp_extract(t, pattern, 0))
           for n, pattern in _EXTRACTS},
        "_p1_is_valid": _gate(e, p1_valid),
        # bounded retry (unrolled): re-extract from CLEANED text if invalid
        **{f"_{n}": F.when(retry, _gate(e, F.regexp_extract(c, pattern, 0)))
           .otherwise(F.col(f"_p1_{n}")) for n, pattern in _EXTRACTS},
        "_retry_count": _gate(e, retry.cast("int")),
        # pass-2 validation (idempotent when no retry)
        "_is_valid": _gate(e, is_valid),
        "_feedback": _gate(e, feedback),
        "_amount": F.col("_amount_str").try_cast("double"),
        "_first_token": _gate(e, toks.getItem(0)),
        "_n_tokens": _gate(e, F.size(toks).cast("bigint")),
        # persistence (K1/K2): deterministic ids + storage URLs
        "_record_id": _gate(e, F.md5(F.concat(F.lit("doc-"),
                                              F.col("doc_id")))),
        "_file_url": _gate(e, F.concat(F.lit("s3://documents/"),
                                       F.col("doc_id"), F.lit(".txt"))),
        **cls_cols,
        "_doc_type": _gate(e, label),
        "_schema_source": _gate(e, F.when(_dim_lookup(1, doc_type)
                                          .isNotNull(), F.lit("doc_type"))
                                .otherwise(F.lit("fallback"))),
        "_description": _gate(e, F.coalesce(
            _dim_lookup(2, doc_type),
            F.concat(F.lit("Auto-generated schema for "), doc_type))),
    }
    # response projection (K4, reference src/agents.py:312-321)
    response = (
        F.col("doc_id"), e.isNull().alias("success"),
        *[F.col(f"_{n}").alias(n) for n in (
            "error", "doc_type", "schema_source", "description",
            "record_id", "file_url", "is_valid", "feedback", "retry_count",
            "email", "date_str", "amount", "first_token", "n_tokens")],
        *([F.col("content_hash")] if with_content_hash else []),
    )
    return (tuple(v.alias(k) for k, v in lateral.items()), response,
            frozenset(lateral))


def run_pipeline(spark: SparkSession, documents: DataFrame,
                 observation=None) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) → response DataFrame.

    Two projections of ``documents``: ``select("*", *lateral)`` computes
    every stage as a ``_``-prefixed lateral alias, and a response
    ``select`` renames them to the public columns (:func:`_stages`). No
    join, no repartition, no job of its own, so it runs on its input's
    partitions. A table or parquet input that under-parallelizes is
    wrapped in ``io.ensure_parallelism`` by its caller; a landing-dir scan
    and one upload are not. ``spark`` is unused and kept for callers.

    Raises ``ValueError`` when an input column has the name of one of the
    ``_``-prefixed aliases (``_error``, ``_cls_head``, …): it would win
    over the alias and silently change the result. Public names such as
    ``email`` are harmless; the response replaces them.

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
    cols = documents.columns
    lateral, response, names = _stages("parse_error" in cols,
                                       "content_hash" in cols)
    clash = names.intersection(c.lower() for c in cols)
    if clash:
        raise ValueError(f"run_pipeline: input columns {sorted(clash)} "
                         "collide with the pipeline's lateral aliases")
    out = documents.select("*", *lateral).select(*response)
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
