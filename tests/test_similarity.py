"""V2–V6: cosine correctness vs numpy; top-k determinism; LSH sanity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.operators import similarity
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_cosine_matches_numpy(spark, emb):
    rows = emb.limit(10).collect()
    pairs = spark.createDataFrame(
        [(a["vec_id"], b["vec_id"], a["embedding"], b["embedding"])
         for a in rows for b in rows],
        "ia long, ib long, va array<float>, vb array<float>",
    )
    got = pairs.select(
        "ia", "ib", similarity.cosine(F.col("va"), F.col("vb")).alias("c")
    ).collect()
    by_id = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
             for r in rows}
    for r in got:
        a, b = by_id[r["ia"]], by_id[r["ib"]]
        expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["c"] - expect) < 1e-9


def test_cosine_zero_vector_defined(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0])], "a array<float>, b array<float>")
    assert df.select(similarity.cosine(F.col("a"), F.col("b")).alias("c")) \
        .first()["c"] == 0.0


def test_topk_deterministic_and_bounded(spark, emb):
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("c_id"),
                   F.col("embedding").alias("c_vec"))
    out = similarity.topk_join(q, c, k=5).collect()
    per_q: dict[int, list] = {}
    for r in out:
        per_q.setdefault(r["q_id"], []).append(r)
    assert set(per_q) == {0, 1, 2}
    for rows in per_q.values():
        assert len(rows) == 5
        ranks = [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert ranks == [1, 2, 3, 4, 5]
        scores = [r["score"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
        assert all(r["c_id"] != r["q_id"] for r in rows)


def test_ann_lsh_recall_against_exact(spark, emb):
    """LSH top-5 should recover a decent fraction of exact top-5 on random
    vectors with few planes (buckets are coarse) — sanity, not a guarantee."""
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("c_id"),
                   F.col("embedding").alias("c_vec"))
    exact = similarity.topk_join(q, c, k=5).collect()
    approx = similarity.ann_lsh_topk(q, c, dim=64, k=5, n_planes=4).collect()
    exact_set = {(r["q_id"], r["c_id"]) for r in exact}
    approx_set = {(r["q_id"], r["c_id"]) for r in approx}
    assert approx_set, "LSH produced no candidates"
    # every LSH result is a genuinely scored pair, ranks well-formed
    assert all(r["rank"] <= 5 for r in approx)
    # weak recall floor — hyperplane LSH on uniform vectors, 4 planes
    assert len(exact_set & approx_set) >= 1


def test_embed_text_contract(spark):
    """L4: batched Pandas-UDF embedding — dim, unit norm, determinism
    across executions, null safety."""
    from multiagent_document_etl_system_spark.operators.embed import (
        EMBED_DIM,
        with_embedding,
    )
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, None), (4, "")],
        "id long, text string")
    out = {r["id"]: r["embedding"] for r in with_embedding(df).collect()}
    assert all(len(v) == EMBED_DIM for v in out.values())
    assert out[1] == out[2]                      # same text → same vector
    assert out[3] == out[4]                      # null ≡ empty
    import math
    n = math.sqrt(sum(x * x for x in out[1]))
    assert abs(n - 1.0) < 1e-3                   # unit norm
    again = {r["id"]: r["embedding"] for r in with_embedding(df).collect()}
    assert again == out                          # deterministic re-run


def test_lsh_topk_recall_vs_exact(spark):
    """ANN-LSH recall against exact brute force on the test corpus —
    the approximate path must be 'approximate', not broken."""
    from multiagent_document_etl_system_spark.io import load_table
    from multiagent_document_etl_system_spark.operators import similarity

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))

    exact = {(r["q_id"], r["c_id"])
             for r in similarity.topk_join(q, c, k=5).collect()}
    # few planes -> big buckets -> near-exhaustive candidates -> high recall
    approx = {(r["q_id"], r["c_id"])
              for r in similarity.ann_lsh_topk(
                  q, c, dim=64, k=5, n_planes=2).collect()}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.4, recall
    # every returned pair must be a real scored pair (no phantom ids)
    ids = {r["vec_id"] for r in e.collect()}
    assert all(a in ids and b in ids for a, b in approx)


def test_multiprobe_dominates_single_bucket(spark):
    """Multi-probe (Hamming-1 probing) must produce per-pair-unique results
    and recall >= the single-bucket LSH at the same plane count — probing
    strictly widens the candidate set."""
    from multiagent_document_etl_system_spark.io import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))

    exact = {(r["q_id"], r["c_id"])
             for r in similarity.topk_join(q, c, k=5).collect()}
    single_rows = similarity.ann_lsh_topk(
        q, c, dim=64, k=5, n_planes=6).collect()
    multi_rows = similarity.ann_lsh_topk_multiprobe(
        q, c, dim=64, k=5, n_planes=6).collect()
    single = {(r["q_id"], r["c_id"]) for r in single_rows}
    multi = {(r["q_id"], r["c_id"]) for r in multi_rows}

    # no duplicate (q, c) pairs — each pair matches exactly one probe
    assert len(multi) == len(multi_rows)
    assert all(r["rank"] <= 5 for r in multi_rows)
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_multi >= recall_single, (recall_multi, recall_single)


def test_topk_auto_picks_broadcast_for_small_queries(spark):
    from multiagent_document_etl_system_spark.io import load_table
    from multiagent_document_etl_system_spark.operators import similarity
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    out, strategy = similarity.topk_auto(q, c, dim=64, k=5)
    assert strategy == "broadcast_exact"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_topk_auto_falls_back_to_lsh_for_big_queries(spark):
    from multiagent_document_etl_system_spark.io import load_table
    from multiagent_document_etl_system_spark.operators import similarity
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    # force the "query side too big to broadcast" regime with a tiny cap
    out, strategy = similarity.topk_auto(q, c, dim=64, k=5,
                                         broadcast_limit_rows=10)
    assert strategy == "lsh_bucketed"
    # LSH path = signature equi-join, not a cross join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert out.count() > 0


def test_matmul_topk_matches_exact_fold(spark):
    """topk_join_matmul must select the SAME top-k pairs as the exact JVM
    fold — summation order may flip a score's last decimal, but never the
    selected set on this corpus."""
    from multiagent_document_etl_system_spark.io import load_table
    from multiagent_document_etl_system_spark.operators import similarity
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    exact = {(r.q_id, r.c_id, r.rank) for r in
             similarity.topk_join(q, c, k=5).collect()}
    fast = {(r.q_id, r.c_id, r.rank) for r in
            similarity.topk_join_matmul(q, c, k=5).collect()}
    assert exact == fast


def test_lsh_matmul_matches_lsh_fold(spark):
    """ann_lsh_topk_matmul (cogroup + per-bucket GEMM) must select the
    same top-k sets as ann_lsh_topk (equi-join + JVM per-pair fold) —
    identical bucketing, identical rounded scores."""
    from multiagent_document_etl_system_spark.io import load_table
    from multiagent_document_etl_system_spark.operators import similarity
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    a = {(r.q_id, r.c_id, r.rank) for r in similarity.ann_lsh_topk(
        q, c, dim=64, k=5, n_planes=6).collect()}
    b = {(r.q_id, r.c_id, r.rank) for r in similarity.ann_lsh_topk_matmul(
        q, c, dim=64, k=5, n_planes=6).collect()}
    assert a == b


def test_recall_matrix_shape_and_bounds(spark):
    """v21_recall_matrix: one row per deterministic ANN rung, recall on
    the exact 1e-4 integer grid, and the superset guarantee — multi-probe
    LSH probes a strict superset of the single-bucket LSH's candidates,
    so its recall can never be lower."""
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    rows = {r.method: r for r in
            QUERIES["v21_recall_matrix"][0](
                spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"binary_hamming", "lsh", "lsh_multiprobe",
                         "matryoshka16", "pq_grid_adc100"}
    for r in rows.values():
        assert 0 <= r.n_hits <= r.n_exact
        assert 0 <= r.recall_q1e4 <= 10_000
        assert r.n_exact == rows["lsh"].n_exact  # shared denominator
    assert rows["lsh_multiprobe"].recall_q1e4 >= rows["lsh"].recall_q1e4


def test_recall_matrix_surfaces_checkpoint_error(spark, monkeypatch):
    """When a rung raises while the exact side checkpoints in the
    background, the checkpoint's own failure still surfaces, with the rung
    error chained to it."""
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    class CheckpointError(RuntimeError):
        pass

    class RungError(RuntimeError):
        pass

    def fail(exc):
        def raise_(*args, **kwargs):
            raise exc
        return raise_

    monkeypatch.setattr(similarity, "topk_join",
                        fail(CheckpointError("exact side")))
    monkeypatch.setattr(similarity, "binary_hamming_topk",
                        fail(RungError("rung")))
    with pytest.raises(CheckpointError) as err:
        QUERIES["v21_recall_matrix"][0](spark, SF_DIR)
    assert isinstance(err.value.__context__, RungError)
