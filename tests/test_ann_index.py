"""Persisted ANN index (operators/ann_index.py): build → partition-pruned
query, bit-equivalence with the in-memory LSH rungs, the Spark job floor of
each entry point, and the CLI e2e."""

from __future__ import annotations

import json
import os
import struct

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
from tests.conftest import jobs_in_group

SF = "/root/testdata/sf0.001"
PLANES = similarity.hyperplanes(64, 8, 42)


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


def _sig(vec) -> int:
    """The LSH signature under PLANES, folded left to right in doubles as
    the Spark ``aggregate`` does: independent of the plane literal."""
    sig = 0
    for i, plane in enumerate(PLANES):
        dot = 0.0
        for x, p in zip(vec, plane):
            dot += float(x) * p
        sig += 2 ** i if dot >= 0 else 0
    return sig


def _buckets(index_dir) -> set[int]:
    return {int(n[len("sig="):])
            for n in os.listdir(os.path.join(index_dir, "vectors"))
            if n.startswith("sig=")}


def _scan_root_paths(df) -> set[str]:
    """Root paths of every file scan over the index in ``df``'s plan."""
    out = set()
    it = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    while it.hasNext():
        leaf = it.next()
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        paths = leaf.relation().location().rootPaths().iterator()
        while paths.hasNext():
            p = paths.next().toString()
            if "/vectors/" in p:
                out.add(p.removeprefix("file:"))
    return out


def test_meta_round_trip(spark, index_dir):
    meta = load_ann_meta(spark, index_dir)
    assert meta["dim"] == 64 and meta["n_planes"] == 8 and meta["seed"] == 42
    assert meta["n_vectors"] == 500
    assert meta["vector_schema"].startswith("c_id bigint, c_vec array<float>")


def test_load_ann_meta_runs_no_job(spark, index_dir):
    meta, jobs = jobs_in_group(spark, "ann-meta",
                                lambda: load_ann_meta(spark, index_dir))
    assert meta["dim"] == 64 and jobs == 0


def test_build_job_floor(spark, tmp_path):
    """On a DataFrame already read: the dimension probe, the spread of a
    one-partition input, the bucket shuffle and the write; the count and
    the dimension check ride on the write."""
    emb = _emb(spark)
    meta, jobs = jobs_in_group(
        spark, "ann-build",
        lambda: build_ann_index(emb, str(tmp_path / "idx"), n_planes=8))
    assert meta["n_vectors"] == 500
    assert jobs <= 4, jobs


@pytest.mark.parametrize("multiprobe,floor", [(False, 5), (True, 6)])
def test_query_job_floor(spark, index_dir, multiprobe, floor):
    q = _queries(spark, 3)
    rows, jobs = jobs_in_group(
        spark, f"ann-query-{multiprobe}",
        lambda: ann_index_topk(spark, index_dir, q, k=5,
                               multiprobe=multiprobe).collect())
    assert rows
    assert jobs <= floor, jobs


def test_plane_literal_is_exact(spark):
    """The folded JSON literal evaluates bit for bit to the planes, and
    the optimizer folds it: no JSON parse is left in the plan."""
    for dim, n in [(64, 8), (384, 6), (384, 16)]:
        planes = similarity.hyperplanes(dim, n, 42)
        df = spark.range(1).select(
            similarity.planes_literal(planes).alias("p"))
        assert "from_json" not in \
            df._jdf.queryExecution().optimizedPlan().toString()
        got = df.first()["p"]
        assert [struct.pack(f"<{dim}d", *r) for r in got] == \
            [struct.pack(f"<{dim}d", *r) for r in planes]


def test_signatures_match_sequential_fold(spark):
    rows = _emb(spark).select(
        "embedding",
        similarity.lsh_signature(F.col("embedding"), PLANES).alias("sig"),
    ).collect()
    assert [r["sig"] for r in rows] == [_sig(r["embedding"]) for r in rows]


def test_parent_format_index_is_refused(spark, tmp_path):
    """An index whose meta is a meta/ parquet directory (the format before
    meta.json) is not read: load_ann_meta names the path and says to
    rebuild."""
    d = tmp_path / "old"
    spark.createDataFrame([(64, 8, 42, 500)],
                          "dim int, n_planes int, seed int, n_vectors long") \
        .write.parquet(str(d / "meta"))
    with pytest.raises(FileNotFoundError,
                       match=r"meta\.json.*rebuild"):
        load_ann_meta(spark, str(d))


def test_build_refuses_wrong_dimension(spark, tmp_path):
    """A 3-d vector in a 64-d build is counted by the write, the build
    raises, and no meta is written, so the index cannot be opened."""
    d = str(tmp_path / "idx")
    bad = _emb(spark).select(
        "vec_id",
        F.when(F.col("vec_id") == 300, F.slice("embedding", 1, 3))
        .otherwise(F.col("embedding")).alias("embedding"))
    with pytest.raises(ValueError, match="1 indexed vector.*not 64-d"):
        build_ann_index(bad, d)
    with pytest.raises(FileNotFoundError):
        load_ann_meta(spark, d)


def test_append_refuses_wrong_dimension(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_ann_index(_emb(spark).filter(F.col("vec_id") < 250), d)
    before = sorted(os.listdir(os.path.join(d, "vectors")))
    bad = _emb(spark).filter(F.col("vec_id") >= 250).select(
        "vec_id",
        F.when(F.col("vec_id") % 100 == 0,
               F.concat("embedding", F.array(F.lit(0.0).cast("float"))))
        .otherwise(F.col("embedding")).alias("embedding"))
    with pytest.raises(ValueError, match="2 incoming vector.*not 64-d"):
        append_ann_index(bad, d)
    assert sorted(os.listdir(os.path.join(d, "vectors"))) == before
    assert load_ann_meta(spark, d)["n_vectors"] == 250


def test_query_refuses_wrong_dimension(spark, index_dir):
    q = _queries(spark, 3).select(
        "q_id", F.when(F.col("q_id") == 1, F.slice("q_vec", 1, 3))
        .otherwise(F.col("q_vec")).alias("q_vec"))
    with pytest.raises(ValueError, match="1 query vector.*not 64-d"):
        ann_index_topk(spark, index_dir, q, k=3)


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
    """The probe-signature filter lands in PartitionFilters, and the scan
    is handed exactly the probed buckets that exist, in both probe
    modes."""
    q = _queries(spark, 3)
    out = ann_index_topk(spark, index_dir, q, k=5, multiprobe=multiprobe)
    p = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in p.splitlines()
          if "PartitionFilters" in ln and "sig" in ln]
    assert pf, p[:1500]
    probes = {_sig(r["q_vec"]) for r in q.collect()}
    if multiprobe:
        probes |= {s ^ (1 << i) for s in probes for i in range(8)}
    vdir = os.path.join(index_dir, "vectors")
    expect = {f"{vdir}/sig={s}" for s in probes & _buckets(index_dir)}
    assert _scan_root_paths(out) == expect and expect


def test_query_without_a_stored_bucket_is_empty(spark, tmp_path):
    """A batch with no queries, or whose probed buckets were never
    written, reads nothing and returns an empty result."""
    d = str(tmp_path / "idx")
    build_ann_index(_emb(spark).filter(F.col("vec_id") < 3), d)
    stored = _buckets(d)
    q = _emb(spark).filter(F.col("vec_id") >= 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    far = [r["q_id"] for r in q.collect() if _sig(r["q_vec"]) not in stored]
    assert far
    for batch in (q.limit(0), q.filter(F.col("q_id") == far[0])):
        out = ann_index_topk(spark, d, batch, k=3)
        assert out.columns == ["q_id", "c_id", "score", "rank"]
        assert out.collect() == []


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
