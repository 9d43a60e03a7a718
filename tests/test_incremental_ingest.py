"""Incremental corpus maintenance (td_incremental_ingest /
st_incremental_ingest): planted exact-dup / near-dup / novel incoming
docs route to the right statuses; the REAL streaming run appends the
same survivors as the batch twin; and the persisted dedup index grows to
exactly what a rebuild over the updated corpus would produce."""

from __future__ import annotations

from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

BASE = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon " * 5)
OTHER = ("one two three four five six seven eight nine ten "
         "eleven twelve thirteen fourteen fifteen " * 5)
NOVEL = ("completely fresh never seen content about spark catalyst "
         "tungsten codegen adaptive execution shuffle partitions " * 5)


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    """documents.parquet with corpus ids {1, 2} (doc_id%10 != 7) and
    incoming ids {7: exact copy, 17: near-dup (one word appended),
    27: novel}."""
    rows = [
        (1, BASE.strip(), "en", "web", len(BASE.strip())),
        (2, OTHER.strip(), "en", "web", len(OTHER.strip())),
        (7, BASE.strip(), "en", "crawl", len(BASE.strip())),
        (17, BASE.strip() + " omega", "en", "crawl",
         len(BASE.strip()) + 6),
        (27, NOVEL.strip(), "en", "crawl", len(NOVEL.strip())),
    ]
    d = tmp_path_factory.mktemp("planted_sf")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_batch_statuses_route_correctly(spark, planted_dir):
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    out = QUERIES["td_incremental_ingest"][0](spark, planted_dir)
    totals = out.agg(
        F.sum("n_before").alias("before"),
        F.sum("n_incoming").alias("incoming"),
        F.sum("n_dropped_exact").alias("ex"),
        F.sum("n_dropped_near").alias("near"),
        F.sum("n_appended").alias("app"),
        F.sum("n_after").alias("after")).first()
    assert totals["before"] == 2
    assert totals["incoming"] == 3
    assert totals["ex"] == 1      # id 7: byte-identical to corpus doc 1
    assert totals["near"] == 1    # id 17: shares a MinHash band with doc 1
    assert totals["app"] == 1     # id 27: novel
    assert totals["after"] == 3


def test_streaming_run_matches_batch_and_updates_index(spark, planted_dir):
    from multiagent_document_etl_system_spark.operators import dedup
    from multiagent_document_etl_system_spark.plans import registry

    out = registry.QUERIES["st_incremental_ingest"][0](spark, planted_dir)
    got = {r["shard"]: r.asDict() for r in out.collect()}
    # the updated corpus = {1, 2, 27}: same manifest the batch recipe
    # implies (exact + near dups never land)
    assert sum(r["n_docs"] for r in got.values()) == 3

    # the returned manifest is an aggregate over <work>/corpus, so its
    # scan's input files name the run's work dir
    works = {urlparse(f).path.split("/corpus/")[0] for f in out.inputFiles()}
    assert len(works) == 1
    work = works.pop()
    # every sink is epoch=N-partitioned (idempotent micro-batch
    # overwrites, ADVICE r7 #2); drop the partition column for the
    # set-semantics comparisons below
    import os

    assert any(e.startswith("epoch=") for e in os.listdir(f"{work}/corpus"))
    updated = spark.read.parquet(f"{work}/corpus").drop("epoch")
    assert sorted(r["doc_id"] for r in updated.select("doc_id").collect()) \
        == [1, 2, 27]

    # persisted index after the run == a from-scratch rebuild over the
    # updated corpus (set semantics — each epoch wrote only survivor rows)
    md5_rebuilt, band_rebuilt = dedup.build_dedup_index(updated)
    md5_stored = (spark.read.parquet(f"{work}/_index_md5")
                  .drop("epoch").distinct())
    band_stored = (spark.read.parquet(f"{work}/_index_band")
                   .drop("epoch").distinct())
    assert md5_stored.exceptAll(md5_rebuilt).count() == 0
    assert md5_rebuilt.exceptAll(md5_stored).count() == 0
    assert band_stored.exceptAll(band_rebuilt).count() == 0
    assert band_rebuilt.exceptAll(band_stored).count() == 0

    # the new index MUST now catch a replay of the appended doc as exact
    flags = dedup.dedup_against_index(
        updated.filter(F.col("doc_id") == 27), md5_stored, band_stored)
    row = flags.first()
    assert row["exact_dup"] is True
