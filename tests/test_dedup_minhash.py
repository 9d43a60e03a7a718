"""Focused pin for the r13 minhash_signature rewrite.

The signature moved from 16 ``array_min(transform(...))`` passes to ONE
``aggregate`` fold with a 16-slot running-minimum accumulator. These
tests assert the fold form equals the per-slot form — the exact
expression shape it replaced — on real corpus rows AND on the three edge
shapes where a naive fold diverges: empty base array (array_min([]) is
NULL per slot), NULL base array (aggregate alone would return NULL, the
old form returned 16 NULLs), and a single-element array (fold seed must
not leak: least(NULL, x) = x).
"""
from __future__ import annotations

from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.operators import dedup


def _per_slot_signature(base_col, n_hashes: int = 16):
    """The pre-r13 expression, verbatim: one array_min(transform(...))
    per hash function."""
    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % dedup.MINHASH_P

    return F.array(*[
        F.array_min(F.transform(base_col, perm(a, b)))
        for a, b in dedup.MINHASH_COEFFS[:n_hashes]
    ])


def test_fold_equals_per_slot_on_corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.select(
        F.col("doc_id").alias("_id"),
        dedup.shingle_base_hashes(
            dedup.shingles(F.col("text"), 3)).alias("_base"))
    both = base.select(
        "_id",
        dedup.minhash_signature(F.col("_base")).alias("new"),
        _per_slot_signature(F.col("_base")).alias("old"))
    assert both.filter(F.col("new") != F.col("old")).count() == 0
    # and no NULL signatures snuck in
    assert both.filter(F.col("new").isNull()).count() == 0


def test_fold_edge_shapes(spark):
    rows = spark.createDataFrame(
        [(1, [5, 17, 4000000]), (2, []), (3, None), (4, [7])],
        "id bigint, base array<bigint>")
    out = rows.select(
        "id",
        dedup.minhash_signature(F.col("base")).alias("new"),
        _per_slot_signature(F.col("base")).alias("old")).collect()
    for r in out:
        assert r["new"] == r["old"], f"id={r['id']}: {r['new']} != {r['old']}"
    by_id = {r["id"]: r for r in out}
    # empty and NULL base both yield the 16-NULL vector, not NULL
    assert by_id[2]["new"] == [None] * 16
    assert by_id[3]["new"] == [None] * 16
    # single element: every slot is that element's permutation
    assert all(v is not None for v in by_id[4]["new"])


def test_ensure_parallelism(spark, tmp_path):
    """The fan-out fires for a single-row-group scan and keeps its rows,
    and the partition count is probed on every call: a dir that scanned
    wide enough, re-read after losing files within the session, fans out
    again."""
    import glob
    import os

    from multiagent_document_etl_system_spark import io as eio

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    target = spark.sparkContext.defaultParallelism
    out = eio.ensure_parallelism(docs)
    assert out.rdd.getNumPartitions() == target
    assert out.count() == docs.count()

    path = str(tmp_path / "shrinking")
    spark.range(2 * target * 100).repartition(2 * target).write.parquet(path)
    wide = spark.read.parquet(path)
    assert wide.rdd.getNumPartitions() >= target
    assert eio.ensure_parallelism(wide).rdd.getNumPartitions() \
        == wide.rdd.getNumPartitions()
    for f in sorted(glob.glob(os.path.join(path, "*.parquet")))[1:]:
        os.remove(f)
    narrow = eio.ensure_parallelism(spark.read.parquet(path))
    assert narrow.rdd.getNumPartitions() == target


def test_once_per_session(spark):
    """The staging helper builds once per application and key and returns
    the same value after; a different key builds again."""
    from multiagent_document_etl_system_spark import io as eio

    built = []

    def build():
        built.append(object())
        return built[-1]

    first = eio.once_per_session(spark, ("once_per_session_test", "a"), build)
    again = eio.once_per_session(spark, ("once_per_session_test", "a"), build)
    other = eio.once_per_session(spark, ("once_per_session_test", "b"), build)
    assert first is again is built[0]
    assert other is built[1]
    assert len(built) == 2
