"""Regression tests for the round-1 ADVICE.md findings.

- events.parquet (TIMESTAMP NANOS) must load on a SparkSession that did NOT
  set spark.sql.legacy.parquet.nanosAsLong at build time — the external
  driver supplies its own session (ADVICE high, io.py).
- upsert_parquet must never leave the live table missing and must clean up
  its side directories (ADVICE low, io.py).
- run_pipeline must preserve a per-row parse_error detail instead of
  collapsing it into the generic too-short message (ADVICE low, cli.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_events_load_without_builder_conf(spark):
    """load_table must set nanosAsLong itself (dynamic conf) — a vanilla
    driver session otherwise dies with PARQUET_TYPE_ILLEGAL."""
    from multiagent_document_etl_system_spark.io import load_table

    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(conf_key)
    try:
        ev = load_table(spark, SF_DIR, "events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        assert ev.count() > 0
    finally:
        spark.conf.set(conf_key, "true")


def test_upsert_parquet_no_side_dirs_left(spark, tmp_path):
    from multiagent_document_etl_system_spark.io import upsert_parquet

    path = str(tmp_path / "reg.parquet")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, "b"), (2, "c")], "id long, v string"),
        path, ["id"],
    )
    rows = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert rows == {1: "b", 2: "c"}
    leftovers = [p.name for p in tmp_path.iterdir() if "__upsert" in p.name]
    assert leftovers == []


def test_pipeline_preserves_parse_error_detail(spark):
    from multiagent_document_etl_system_spark.plans.pipeline import (
        PARSE_ERROR,
        run_pipeline,
    )

    docs = spark.createDataFrame(
        [
            # healthy row, long enough text
            (1, "invoice total due 100.00 contact a@b.com " * 4, "en", "s", 160, None),
            # real parse failure: detail must survive to the response
            (2, "", "en", "s", 0, "pdf library unavailable: No module named 'pdfplumber'"),
            # too-short row without a parse error: generic message
            (3, "short", "en", "s", 5, None),
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, parse_error string",
    )
    resp = {r["doc_id"]: r for r in run_pipeline(spark, docs).collect()}
    assert resp[1]["success"] and resp[1]["error"] is None
    assert resp[2]["error"] == "pdf library unavailable: No module named 'pdfplumber'"
    assert not resp[2]["success"]
    assert resp[3]["error"] == PARSE_ERROR


def test_ivf_topk_clamps_tiny_corpus(spark):
    """More IVF cells than points must not fail: the coarse fit's anchor
    rank wraps modulo the sample size and the probe still ranks."""
    from multiagent_document_etl_system_spark.operators.pq_grid import (
        ivf_grid_topk,
    )

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(3)]
    q = spark.createDataFrame(rows, "q_id long, q_vec array<double>")
    c = spark.createDataFrame(rows, "c_id long, c_vec array<double>")
    out = ivf_grid_topk(q, c, dim=4, k=2, n_cells=16, n_probe=16)
    assert out.count() > 0


def test_bigram_frequencies_tiny(spark):
    """Hand-checked bigram counts; empty/one-token/NULL docs contribute
    nothing."""
    from multiagent_document_etl_system_spark.operators.textstats import (
        bigram_frequencies,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran"), (3, "one"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    rows = {(r["bigram"], r["freq"])
            for r in bigram_frequencies(docs).collect()}
    assert rows == {("the cat", 2), ("cat sat", 1), ("cat ran", 1)}


def test_q19_pushes_single_side_conjuncts(spark):
    """Catalyst extracts brand/size and quantity bounds from the OR-of-ANDs
    and pushes them into the respective parquet scans."""
    import contextlib
    import io as _io

    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    df = QUERIES["q19_disjunctive_filter"][0](spark, "/root/testdata/sf0.001")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity" in ln for ln in pushed), plan
    assert any("p_brand" in ln for ln in pushed), plan


def test_runtime_bloom_filter_join_pruning(spark):
    """At cluster scale a selective dim filter should prune the fact scan
    before the shuffle join. Spark injects a runtime Bloom filter
    (bloom_filter_agg on the filtered side, might_contain on the fact side)
    once the size thresholds allow — locally we force them to prove the
    plan rewrite fires with our session settings."""
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.io import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        o = load_table(spark, "/root/testdata/sf0.001", "orders").filter(
            F.col("o_orderpriority") == "1-URGENT")
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .groupBy("o_orderpriority").agg(F.sum("l_quantity").alias("q")))
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in phys.lower() or "BloomFilter" in phys, phys
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
