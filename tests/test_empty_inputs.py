"""Zero-row robustness: every operator family must return an EMPTY result
with the contract schema on empty input — never raise. At 100 TB a
partition-pruned read, a dry landing directory, or an all-filtered
upstream stage routinely hands an operator zero rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.io import load_table

SF = "/root/testdata/sf0.001"


def _docs0(spark):
    return load_table(spark, SF, "documents").limit(0)


def _q(df, n=None):
    e = df.limit(0) if n is None else df.limit(n)
    return e.select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec"))


def _c(df, n=None):
    e = df.limit(0) if n is not None and n == 0 else df
    return e.select(F.col("vec_id").alias("c_id"),
                    F.col("embedding").alias("c_vec"))


def test_pipeline_and_curation_on_empty_corpus(spark):
    from multiagent_document_etl_system_spark.operators import (
        curation,
        dedup,
        textstats,
    )
    from multiagent_document_etl_system_spark.plans.pipeline import run_pipeline

    d0 = _docs0(spark)
    assert run_pipeline(spark, d0).count() == 0
    assert dedup.minhash_lsh_pairs(d0, threshold=0.5).count() == 0
    assert dedup.duplicate_clusters(
        spark.createDataFrame([], "id_a long, id_b long")).count() == 0
    assert textstats.term_frequencies(d0).count() == 0
    assert curation.gopher_rules(d0).count() == 0
    assert curation.snapshot_diff(d0, d0).count() == 0
    assert curation.decontaminate(d0, d0).count() == 0


def test_similarity_kernels_on_empty_sides(spark):
    from multiagent_document_etl_system_spark.operators import pq_grid, similarity

    emb = load_table(spark, SF, "embeddings")
    q0, q3 = _q(emb), _q(emb, 3)
    c = _c(emb)
    c0 = c.limit(0)

    assert similarity.topk_join(q0, c).count() == 0
    assert similarity.topk_join(q3, c0).count() == 0
    out = similarity.topk_join_matmul(q0, c)
    assert out.count() == 0
    assert set(out.columns) == {"q_id", "c_id", "score", "rank"}
    assert similarity.topk_join_matmul(q3, c0).count() == 0
    assert similarity.ann_lsh_topk(q0, c, dim=64).count() == 0
    assert similarity.ann_lsh_topk_matmul(q0, c, dim=64).count() == 0
    # degenerate IVF corpora: one candidate still ranks; an empty one is
    # refused by the fit, which has no sample to anchor its centroids on
    one = pq_grid.ivf_grid_topk(q3, c.limit(1), dim=64)
    assert one.count() <= 3 and set(one.columns) >= {"q_id", "c_id", "score"}
    with pytest.raises(ValueError, match="pq_grid_fit: empty candidate set"):
        pq_grid.ivf_grid_topk(q3, c0, dim=64)
    auto_out, strategy = similarity.topk_auto(q0, c, dim=64)
    assert strategy == "broadcast_exact" and auto_out.count() == 0


def test_round5_curation_ops_on_empty_corpus(spark):
    from multiagent_document_etl_system_spark.operators import curation

    d0 = _docs0(spark)
    assert curation.quality_classifier(d0).count() == 0
    assert curation.temperature_mix(d0).count() == 0


def test_session4_ops_on_empty_corpus(spark):
    from multiagent_document_etl_system_spark.operators import (
        dedup,
        textstats,
    )

    d0 = _docs0(spark)
    assert dedup.cross_source_matrix(
        d0, key=textstats.fingerprint_expr(F.col("text"))).count() == 0
    # shard manifest over zero docs: zero shards, not a crash
    shard = dedup.hash64(F.col("doc_id").cast("string"), seed=97) % 8
    m = (d0.select(shard.alias("shard"),
                   dedup.hash64(F.col("text"), seed=11).alias("_ch"))
         .groupBy("shard").agg(F.expr("bit_xor(_ch)").alias("x")))
    assert m.count() == 0


def test_recall_matrix_on_empty_corpus(spark):
    """v21 with an empty embeddings table: the report still emits its 4
    method rows (a recall audit of an empty index is 0/0), with integer
    zeros — the idiv_round guard (greatest(n_exact, 1)) never divides by
    zero."""
    from multiagent_document_etl_system_spark.io import load_table
    from multiagent_document_etl_system_spark.operators import similarity
    from multiagent_document_etl_system_spark.functions.numeric import (
        idiv_round,
    )

    e = load_table(spark, SF, "embeddings").limit(0)
    q = e.select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    exact = similarity.topk_join(q, c, k=5).select("q_id", "c_id")
    ann = similarity.ann_lsh_topk(q, c, dim=64, k=5, n_planes=6)
    hits = (ann.select(F.lit("lsh").alias("method"), "q_id", "c_id")
            .join(exact, ["q_id", "c_id"], "left_semi")
            .groupBy("method").agg(F.count("*").alias("_n")))
    base = spark.range(1).select(F.lit("lsh").alias("method"))
    tot = exact.agg(F.count("*").alias("n_exact"))
    nh = F.coalesce(F.col("_n"), F.lit(0)).cast("bigint")
    out = (base.join(hits, "method", "left").crossJoin(F.broadcast(tot))
           .select("method", "n_exact", nh.alias("n_hits"),
                   idiv_round(nh * F.lit(10_000),
                              F.greatest(F.col("n_exact"), F.lit(1)))
                   .alias("recall_q1e4"))).collect()
    assert [(r.method, r.n_exact, r.n_hits, r.recall_q1e4)
            for r in out] == [("lsh", 0, 0, 0)]
