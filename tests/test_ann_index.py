"""Persisted ANN index (operators/ann_index.py): build → partition-pruned
query, bit-equivalence with the in-memory LSH rungs, and the CLI e2e."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.io import load_table
from multiagent_document_etl_system_spark.operators import similarity
from multiagent_document_etl_system_spark.operators.ann_index import (
    ann_index_topk,
    append_ann_index,
    build_ann_index,
    load_ann_meta,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def _queries(spark, n=10):
    return _emb(spark).filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("annidx") / "idx")
    meta = build_ann_index(_emb(spark), d, n_planes=8, seed=42)
    assert meta["n_vectors"] == _emb(spark).count()
    return d


def test_meta_round_trip(spark, index_dir):
    meta = load_ann_meta(spark, index_dir)
    assert meta["dim"] == 64 and meta["n_planes"] == 8 and meta["seed"] == 42


def test_index_query_matches_in_memory_lsh_rung(spark, index_dir):
    """The persisted-index query is BIT-IDENTICAL to ann_lsh_topk over the
    same vectors: same planes, same rounded scores, same tie-break."""
    q = _queries(spark)
    c = _emb(spark).select(F.col("vec_id").alias("c_id"),
                           F.col("embedding").alias("c_vec"))
    expect = {(r.q_id, r.c_id, r.score, r.rank)
              for r in similarity.ann_lsh_topk(q, c, dim=64, k=5).collect()}
    got = {(r.q_id, r.c_id, r.score, r.rank)
           for r in ann_index_topk(spark, index_dir, q, k=5,
                                   exclude_self=True).collect()}
    assert got == expect and got


def test_index_multiprobe_matches_in_memory_rung(spark, index_dir):
    q = _queries(spark, 5)
    c = _emb(spark).select(F.col("vec_id").alias("c_id"),
                           F.col("embedding").alias("c_vec"))
    expect = {(r.q_id, r.c_id, r.score, r.rank)
              for r in similarity.ann_lsh_topk(
                  q, c, dim=64, k=5, multiprobe=True).collect()}
    got = {(r.q_id, r.c_id, r.score, r.rank)
           for r in ann_index_topk(spark, index_dir, q, k=5,
                                   multiprobe=True,
                                   exclude_self=True).collect()}
    assert got == expect and got


@pytest.mark.parametrize("multiprobe", [False, True])
def test_index_query_prunes_partitions(spark, index_dir, multiprobe):
    """The probe-signature filter lands in PartitionFilters: only the
    buckets the query batch touches are listed/opened, in both probe
    modes."""
    out = ann_index_topk(spark, index_dir, _queries(spark, 3), k=5,
                         multiprobe=multiprobe)
    p = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in p.splitlines()
          if "PartitionFilters" in ln and "sig" in ln]
    assert pf, p[:1500]


def test_append_equals_full_rebuild(spark, tmp_path):
    """Index built on half the corpus then appended with the other half
    answers queries BIT-IDENTICALLY to a from-scratch full build — the
    incremental-ingest invariant."""
    d = str(tmp_path / "idx_half")
    emb = _emb(spark)
    build_ann_index(emb.filter(F.col("vec_id") < 250), d,
                    n_planes=8, seed=42)
    meta = append_ann_index(emb.filter(F.col("vec_id") >= 250), d)
    assert meta["n_vectors"] == emb.count()
    assert load_ann_meta(spark, d)["n_vectors"] == emb.count()

    full = str(tmp_path / "idx_full")
    build_ann_index(emb, full, n_planes=8, seed=42)
    q = _queries(spark)
    got = {(r.q_id, r.c_id, r.score, r.rank)
           for r in ann_index_topk(spark, d, q, k=5,
                                   exclude_self=True).collect()}
    expect = {(r.q_id, r.c_id, r.score, r.rank)
              for r in ann_index_topk(spark, full, q, k=5,
                                      exclude_self=True).collect()}
    assert got == expect and got


def test_append_rejects_colliding_ids(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_ann_index(_emb(spark).filter(F.col("vec_id") < 100), d)
    with pytest.raises(ValueError, match="already exist"):
        append_ann_index(_emb(spark).filter(F.col("vec_id") < 10), d)


def test_build_on_empty_vectors_raises(spark):
    with pytest.raises(ValueError):
        build_ann_index(_emb(spark).limit(0), "/tmp/never-written-annidx")


def test_cli_build_and_query(spark, tmp_path, capsys):
    from multiagent_document_etl_system_spark import cli

    idx = str(tmp_path / "idx")
    assert cli.main(["build-ann-index",
                     f"{SF}/embeddings.parquet", idx]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["success"] and built["n_vectors"] > 0

    assert cli.main(["ann-query", idx, "--query-id", "7", "--k", "3"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["success"] and 0 < res["n_matches"] <= 3
    assert all(m["c_id"] != 7 for m in res["matches"])
    ranks = [m["rank"] for m in res["matches"]]
    assert ranks == sorted(ranks)


def test_cli_append_and_query_parquet(spark, tmp_path, capsys):
    from multiagent_document_etl_system_spark import cli

    lo = str(tmp_path / "lo");  hi = str(tmp_path / "hi")
    _emb(spark).filter(F.col("vec_id") < 250).write.parquet(lo)
    _emb(spark).filter(F.col("vec_id") >= 250).write.parquet(hi)
    idx = str(tmp_path / "idx")
    assert cli.main(["build-ann-index", lo, idx]) == 0
    capsys.readouterr()
    assert cli.main(["build-ann-index", hi, idx, "--append"]) == 0
    appended = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert appended["appended"] and appended["n_vectors"] == 500

    qp = str(tmp_path / "queries")
    _queries(spark, 3).write.parquet(qp)
    assert cli.main(["ann-query", idx, "--query-parquet", qp,
                     "--k", "2", "--multiprobe"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["success"] and res["n_matches"] >= 3  # >=1 per query
