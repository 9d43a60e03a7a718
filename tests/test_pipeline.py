"""Pipeline-semantics tests (SURVEY.md §5 item 4): error gating, bounded
retry, fallback cascade provenance, response shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.plans.pipeline import (
    MIN_CHARS,
    PARSE_ERROR,
    SCHEMA_DIM,
    run_pipeline,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def resp(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = run_pipeline(spark, docs)
    df.cache()
    yield df
    df.unpersist()


def test_all_rows_survive(spark, resp):
    """Corpus keeps flowing: errored rows reach the response projection
    (mirrors /root/reference/src/agents.py:87-88 → :305-310)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert resp.count() == docs.count()


def test_error_gating(resp):
    errored = resp.filter(~F.col("success"))
    if errored.count() == 0:
        pytest.skip("no short docs at this SF")
    r = errored.first()
    assert r["error"] == PARSE_ERROR
    # every downstream stage skipped: all stage outputs null
    for col in ("doc_type", "record_id", "file_url", "is_valid",
                "schema_source", "retry_count"):
        assert r[col] is None, f"{col} should be gated null on error"


def test_healthy_rows_complete(resp):
    ok = resp.filter(F.col("success"))
    assert ok.filter(F.col("doc_type").isNull()).count() == 0
    assert ok.filter(F.col("record_id").isNull()).count() == 0
    assert ok.filter(F.col("is_valid").isNull()).count() == 0


def test_short_doc_threshold_matches(spark, resp):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_short = docs.filter(F.col("n_chars") < MIN_CHARS).count()
    assert resp.filter(~F.col("success")).count() == n_short


def test_fallback_cascade_provenance(resp):
    """Labels outside SCHEMA_DIM must take the fallback branch (V5)."""
    dim_types = {t for t, _, _ in SCHEMA_DIM}
    got = {
        (r["doc_type"], r["schema_source"])
        for r in resp.filter(F.col("success")).select(
            "doc_type", "schema_source").distinct().collect()
    }
    for doc_type, source in got:
        assert source == ("doc_type" if doc_type in dim_types else "fallback")
    assert any(s == "fallback" for _, s in got), \
        "corpus should exercise the fallback branch"
    assert any(s == "doc_type" for _, s in got)


def test_bounded_retry(resp):
    """retry_count ∈ {0, 1} — the unrolled MAX_RETRIES=1 loop
    (/root/reference/src/agents.py:33)."""
    vals = {r["retry_count"] for r in
            resp.filter(F.col("success")).select("retry_count")
            .distinct().collect()}
    assert vals <= {0, 1}


def test_deterministic_record_ids(spark, resp):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    again = run_pipeline(spark, docs).select("doc_id", "record_id")
    a = {r["doc_id"]: r["record_id"] for r in again.collect()}
    b = {r["doc_id"]: r["record_id"] for r in
         resp.select("doc_id", "record_id").collect()}
    assert a == b


def test_null_text_rows_flow_through(spark):
    """Rows with NULL text/n_chars must not crash any stage — they flow to
    the response with error handling intact (per-row fault tolerance)."""
    from multiagent_document_etl_system_spark.plans.pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(1, None, "en", "s3", None),
         (2, "x" * 100 + " billing@example.com 2024-01-02 99.95", "en", "s3", 140)],
        "doc_id long, text string, lang string, source string, n_chars bigint")
    rows = {r["doc_id"]: r for r in run_pipeline(spark, docs).collect()}
    assert len(rows) == 2
    # null n_chars -> parse error predicate is NULL -> treated as healthy,
    # downstream kernels null-propagate without failing the task
    assert rows[2]["success"] and rows[2]["email"] == "billing@example.com"


def test_parse_error_input_matches_oracle(spark, tmp_path):
    """Differential check of the parse_error seeding path: run_pipeline on
    an input WITH a parse_error column must agree with
    pipeline_oracle_sql(parse_error_col=True) — the Spark coalesce and the
    oracle coalesce stay in lockstep (ADVICE r2)."""
    import duckdb

    from multiagent_document_etl_system_spark.plans.pipeline import (
        pipeline_oracle_sql,
    )

    body = "x" * 100 + " billing@example.com 2024-01-02 99.95"
    docs = spark.createDataFrame(
        [(1, body, "en", "s3", 140, None),            # healthy
         (2, body, "en", "s3", 140, "pdf parse failed: boom"),  # parse error
         (3, "tiny", "en", "s3", 4, None),            # too short
         (4, "tiny", "en", "s3", 4, "ocr library unavailable")],  # both
        "doc_id long, text string, lang string, source string,"
        " n_chars bigint, parse_error string")
    pq = str(tmp_path / "docs_pe.parquet")
    docs.write.parquet(pq)

    sres = {r["doc_id"]: (r["success"], r["error"])
            for r in run_pipeline(spark, docs).collect()}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW docs_pe AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    ores = {r[0]: (r[1], r[2]) for r in con.sql(
        "SELECT doc_id, success, error FROM (" +
        pipeline_oracle_sql("docs_pe", parse_error_col=True) + ")"
    ).fetchall()}

    assert sres == ores
    assert sres[2] == (False, "pdf parse failed: boom")
    assert sres[4] == (False, "ocr library unavailable")  # parse_error wins
    assert sres[3] == (False, PARSE_ERROR)
    assert sres[1][0] is True


def test_pipeline_observation_metrics(spark):
    """run_pipeline(observation=...) collects corpus health metrics during
    the SAME pass that materializes the result (observe API) — counts must
    agree with an explicit second-pass aggregation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.io import load_table
    from multiagent_document_etl_system_spark.plans.pipeline import run_pipeline

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    obs = Observation("pipeline_metrics")
    out = run_pipeline(spark, docs, observation=obs)
    out.write.format("noop").mode("overwrite").save()
    got = obs.get
    check = out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
        .alias("n_errors"),
        F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("n_valid"),
    ).first()
    assert got["n_docs"] == check["n_docs"] == 500
    assert got["n_errors"] == check["n_errors"]
    assert got["n_valid"] == check["n_valid"]
    assert got["n_retried"] >= 0


def test_null_text_rows_error_not_success(spark):
    """A NULL text/n_chars row must surface as a per-row ERROR, not sail
    through as success with null fields (a null too-short comparison is
    null, which the error gate would read as 'no error')."""
    from multiagent_document_etl_system_spark.plans.pipeline import (
        EMPTY_ERROR,
        run_pipeline,
    )

    df = spark.createDataFrame(
        [(1, None, "en", "src0", None),
         (2, "x" * 100, "en", "src0", 100)],
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = {r["doc_id"]: r for r in run_pipeline(spark, df).collect()}
    assert rows[1]["success"] is False
    assert rows[1]["error"] == EMPTY_ERROR
    assert rows[1]["doc_type"] is None
    assert rows[2]["success"] is True


def test_lateral_alias_collision_raises(spark):
    """An input column named like one of the pipeline's ``_`` lateral
    aliases would win over the alias, so it is rejected; a public name
    such as ``email`` is replaced by the pipeline's own column."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    for name in ("_error", "_CLS_HEAD"):
        with pytest.raises(ValueError, match=name.lower()):
            run_pipeline(spark, docs.withColumn(name, F.lit("x")))
    want = sorted(run_pipeline(spark, docs).collect())
    got = run_pipeline(spark, docs.withColumn("email", F.lit("x@y.z")))
    assert got.columns == run_pipeline(spark, docs).columns
    assert sorted(got.collect()) == want
