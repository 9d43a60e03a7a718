"""operators/pq_grid — the deterministic integer-grid PQ rung (r12
verdict #4): the fit is anchored-init + grid-Lloyd, every step
SQL-restatable, so v17/v18 carry FULL hash oracles where a KMeans
fit could only ever be rows-only. These tests pin determinism, the
Lloyd improvement direction, recall floors in the band a float KMeans
fit reaches, degenerate corpora, and the Spark↔DuckDB hash parity of
the registry queries."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: N812

from multiagent_document_etl_system_spark.operators import pq_grid, similarity

from tests.conftest import SF_DIR  # the duck fixture registers THESE views


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _qc(spark, every=100):
    e = _emb(spark)
    q = e.filter(F.col("vec_id") % every == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    return q, c


def test_fit_is_deterministic(spark):
    """Two independent fits over the same corpus produce IDENTICAL
    integer codebooks — the property that makes the oracle possible
    (KMeans gives this only per-seed-per-partitioning)."""
    e = _emb(spark)
    b1 = pq_grid.pq_grid_fit(e, dim=64)
    b2 = pq_grid.pq_grid_fit(e, dim=64)
    assert b1 == b2
    assert len(b1) == 4 and all(len(b) == 16 for b in b1)
    # every centroid has width = 64/4 = 16 elements
    assert all(len(ctr) == 16 for b in b1 for ctr in b)


def test_lloyd_iterations_reduce_reconstruction_error(spark):
    """The grid-Lloyd steps must not be decorative: total integer
    reconstruction error after 3 iterations is strictly below the
    anchored init's."""
    e = _emb(spark)
    b0 = pq_grid.pq_grid_fit(e, dim=64, n_iters=0)
    b3 = pq_grid.pq_grid_fit(e, dim=64, n_iters=3)
    err0 = pq_grid.pq_grid_codes(e, 64, b0).agg(
        F.sum("err_sq_grid")).first()[0]
    err3 = pq_grid.pq_grid_codes(e, 64, b3).agg(
        F.sum("err_sq_grid")).first()[0]
    assert err3 < err0


def test_codes_shape_and_bounds(spark):
    e = _emb(spark)
    books = pq_grid.pq_grid_fit(e, dim=64)
    out = pq_grid.pq_grid_codes(e, 64, books)
    rows = out.collect()
    assert len(rows) == e.count()
    for r in rows:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 16 for c in r["codes"])
        assert r["err_sq_grid"] >= 0


def test_assignment_is_narrow(spark):
    """Corpus-wide code assignment is one narrow map: the codebooks ride
    as literals, so no shuffle, no Python evaluation and no join."""
    e = _emb(spark)
    books = pq_grid.pq_grid_fit(e, dim=64)
    plan = pq_grid.pq_grid_codes(e, 64, books)._jdf.queryExecution() \
        .executedPlan().toString()
    for node in ("Exchange", "BatchEvalPython", "ArrowEvalPython",
                 "SortMergeJoin"):
        assert node not in plan, plan


def test_adc_rerank_recall_matches_the_float_rung(spark):
    """Ranking behavior unchanged (r12 verdict #4's gate): the
    deterministic grid fit's ADC-prefilter + exact-rerank recall@5 must
    sit in the same band a float KMeans fit reaches at fixture scale
    (0.80 with k_adc=100; isotropic vectors are PQ's worst case)."""
    q, c = _qc(spark)
    exact = {(r["q_id"], r["c_id"])
             for r in similarity.topk_join(q, c, k=5).collect()}
    got = {(r["q_id"], r["c_id"])
           for r in pq_grid.pq_grid_adc_rerank_topk(
               q, c, dim=64, k=5, k_adc=100).collect()}
    recall = len(exact & got) / max(1, len(exact))
    assert recall >= 0.7, recall


def test_degenerate_tiny_corpus(spark):
    """Fewer candidates than n_subspaces*n_codes anchors: the anchor
    rank wraps modulo the sample size (the SQL twin states the same
    modulo); codes still assign and the ADC path still ranks."""
    e = _emb(spark).limit(3)
    books = pq_grid.pq_grid_fit(e, dim=64)
    assert len(books) == 4 and all(len(b) == 16 for b in books)
    out = pq_grid.pq_grid_codes(e, 64, books).collect()
    assert len(out) == 3
    q = e.select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    ranked = pq_grid.pq_grid_adc_rerank_topk(q, c, dim=64, k=2,
                                             k_adc=3).collect()
    assert all(r["rank"] <= 2 for r in ranked)
    assert all(r["q_id"] != r["c_id"] for r in ranked)


def test_zero_vector_grids_to_zero(spark):
    df = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [1.0] + [0.0] * 63)],
        "vec_id bigint, embedding array<double>")
    gv = df.select(pq_grid.grid_vec("embedding").alias("xq")).collect()
    assert gv[0]["xq"] == [0] * 64
    assert gv[1]["xq"][0] == 10_000 and gv[1]["xq"][1:] == [0] * 63


def test_v17_registry_oracle_parity(spark, duck):
    """v17_pq_codes hash-matches its DuckDB oracle the way the driver
    compares — the fit itself (anchors + 3 Lloyd steps) rides inside
    the SQL."""
    from tests.conftest import driver_compare

    driver_compare(spark, duck, "v17_pq_codes")


def test_v18_registry_oracle_parity(spark, duck):
    """v18_pq_adc_topk (integer ADC prefilter + float rerank)
    hash-matches its DuckDB oracle."""
    from tests.conftest import driver_compare

    driver_compare(spark, duck, "v18_pq_adc_topk")


def test_v8_registry_oracle_parity(spark, duck):
    """v8_ivf_topk (grid-Lloyd coarse quantizer, 2-probe, exact in-cell
    rerank — the late-r12 conversion) hash-matches its DuckDB oracle the
    way the driver compares; the twin restates the fit, inverted file,
    probe, and rerank."""
    from tests.conftest import driver_compare

    driver_compare(spark, duck, "v8_ivf_topk")


def test_v19_registry_oracle_parity(spark, duck):
    """v19_ivfpq_topk (grid coarse routing + global grid-PQ codes +
    integer ADC + exact rerank) hash-matches its DuckDB oracle — the
    cq_/pq_ CTE chains compose in one WITH."""
    from tests.conftest import driver_compare

    driver_compare(spark, duck, "v19_ivfpq_topk")


def test_ivf_grid_recall_band(spark):
    """Ranking quality parity with a float KMeans fit (the v17/v18 gate
    applied to IVF): on a 50-query sample the grid coarse quantizer's
    recall@5 must sit in the float-KMeans band. Measured on this
    fixture: grid p2 0.400 vs float 0.488; grid IVF-PQ p4 0.584 vs
    float 0.700; at sf0.01 the grid rungs MATCH or BEAT the float ones
    (p2 0.520 = 0.520, p4 0.760 vs 0.680) — no systematic determinism
    cost, just cell-assignment luck on isotropic vectors. Floors sit
    just under the fixture numbers; everything upstream of the floor is
    integer-deterministic."""
    e = _emb(spark)
    q = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    exact = {(r["q_id"], r["c_id"])
             for r in similarity.topk_join(q, c, k=5).collect()}
    got_ivf = {(r["q_id"], r["c_id"])
               for r in pq_grid.ivf_grid_topk(
                   q, c, dim=64, k=5, n_cells=16, n_probe=2).collect()}
    got_ivfpq = {(r["q_id"], r["c_id"])
                 for r in pq_grid.ivfpq_grid_topk(
                     q, c, dim=64, k=5, n_cells=16, n_probe=4,
                     k_adc=100).collect()}
    n = max(1, len(exact))
    assert len(exact & got_ivf) / n >= 0.38, len(exact & got_ivf) / n
    assert len(exact & got_ivfpq) / n >= 0.55, len(exact & got_ivfpq) / n


def test_ivf_grid_full_probe_is_exact(spark):
    """Probing every cell scores every candidate, so IVF must return
    exactly the brute-force top-k — the inverted file loses no row."""
    q, c = _qc(spark, every=50)
    exact = {(r["q_id"], r["c_id"])
             for r in similarity.topk_join(q, c, k=5).collect()}
    full = {(r["q_id"], r["c_id"])
            for r in pq_grid.ivf_grid_topk(q, c, dim=64, k=5, n_cells=8,
                                           n_probe=8).collect()}
    assert full == exact


def test_v27_registry_oracle_parity(spark, duck):
    """v27_ivfpq_residual (textbook residual-encoding IVFPQ over
    integer residuals) hash-matches its DuckDB oracle — the residual
    refit rides inside the twin via the gv_src/MATERIALIZED chain."""
    from tests.conftest import driver_compare

    driver_compare(spark, duck, "v27_ivfpq_residual")


def test_residual_recall_band(spark):
    """Honest-measurement pin: on THIS isotropic fixture the residual
    form is a WASH vs raw (measured 0.576 vs 0.584 over 50 queries —
    residual encoding's gain needs clustered data), so the test asserts
    only that residual recall stays in the same band, not that it
    wins."""
    e = _emb(spark)
    q = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    exact = {(r["q_id"], r["c_id"])
             for r in similarity.topk_join(q, c, k=5).collect()}
    got = {(r["q_id"], r["c_id"])
           for r in pq_grid.ivfpq_grid_residual_topk(
               q, c, dim=64, k=5, n_cells=16, n_probe=4,
               k_adc=100).collect()}
    n = max(1, len(exact))
    assert len(exact & got) / n >= 0.52, len(exact & got) / n


def test_ivfpq_residual_beats_raw_on_clustered_data(spark):
    """Residual encoding (codes on x - centroid) must out-recall raw
    encoding at the same code budget when cells capture real structure —
    the textbook IVFPQ claim the isotropic fixture cannot show (its
    centroids sit near 0, so residual ~ raw). A clustered corpus: 8
    separated centers + small noise. Measured recall@5 0.56 raw vs 0.68
    residual at n_probe=1, k_adc=20; every stage is integer-deterministic,
    so the gap is not seed luck."""
    import numpy as np

    rng = np.random.RandomState(5)
    centers = rng.normal(0, 1, (8, 64)) * 3
    rows = [(i, (centers[i % 8] + rng.normal(0, 0.3, 64))
             .astype("float32").tolist()) for i in range(600)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") % 60 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("c_id"),
                   F.col("embedding").alias("c_vec"))
    exact = {(r["q_id"], r["c_id"])
             for r in similarity.topk_join(q, c, k=5).collect()}

    def recall(topk):
        got = {(r["q_id"], r["c_id"]) for r in topk(
            q, c, dim=64, k=5, n_cells=8, n_probe=1, k_adc=20).collect()}
        return len(got & exact) / len(exact)

    r_raw = recall(pq_grid.ivfpq_grid_topk)
    r_res = recall(pq_grid.ivfpq_grid_residual_topk)
    assert r_res > r_raw, (r_raw, r_res)


def test_v21_includes_the_grid_pq_rung(spark, duck):
    """The recall matrix gained the pq_grid_adc100 row (r12) and stays
    hash-oracled — the grid rung's recall NUMBER is pinned
    cross-engine."""
    from multiagent_document_etl_system_spark.plans.registry import QUERIES
    from tests.conftest import driver_compare

    fn, oracle = QUERIES["v21_recall_matrix"]
    got = {r["method"]: r["recall_q1e4"]
           for r in fn(spark, SF_DIR).collect()}
    assert "pq_grid_adc100" in got
    assert got["pq_grid_adc100"] >= 7000  # 0.70 on the 1e-4 grid
    driver_compare(spark, duck, "v21_recall_matrix")

def test_grid_vec_matches_naive_per_element_norm_form(spark):
    """r12 optimization: grid_vec binds the squared-sum via aggregate's
    finish lambda (O(dim) per row) instead of re-evaluating the norm
    fold inside the per-element transform (O(dim²), measured 24× slower
    at 200k×64). This pins bit-identical output against the naive form
    it replaced — including the zero-vector branch."""
    from multiagent_document_etl_system_spark.operators.similarity import (
        norm,
    )

    def naive(vec_col, grid=pq_grid.GRID):
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        nrm = norm(v)
        return F.when(
            nrm == 0, F.transform(v, lambda x: F.lit(0).cast("bigint"))) \
            .otherwise(F.transform(v,
                                   lambda x: F.floor(x / nrm * grid + 0.5)))

    e = _emb(spark).select("vec_id", "embedding").unionAll(
        spark.createDataFrame([(10**9, [0.0] * 64)],
                              "vec_id bigint, embedding array<double>"))
    n_bad = (e.select(pq_grid.grid_vec("embedding").alias("a"),
                      naive("embedding").alias("b"))
             .filter(F.col("a") != F.col("b")).count())
    assert n_bad == 0


def test_numpy_fit_matches_spark_side_lloyd_aggregates(spark):
    """r12 optimization: the grid-Lloyd fit runs on the driver in exact
    int64 NumPy after ONE bounded sample collect (was ~5 Spark job
    round-trips per fit). This restates ONE Lloyd step the old way —
    Spark-side integer argmin assignment + per-code sum/count aggregate,
    floor(sum/count + 0.5) update — and pins book equality, so any
    future drift between the driver arithmetic and the SQL-restatable
    spec fails loudly."""
    import math as _math

    e = _emb(spark)
    n_codes, width, dim = 16, 16, 64
    b0 = pq_grid.pq_grid_fit(e, dim=dim, n_iters=0)
    b1 = pq_grid.pq_grid_fit(e, dim=dim, n_iters=1)
    cap = pq_grid.ivf_fit_cap(n_codes)
    samp = (e.select(F.col("vec_id").alias("_id"),
                     pq_grid.grid_vec("embedding").alias("_xq"))
            .orderBy("_id").limit(cap))
    staged = samp.select(F.explode(F.array(*[
        F.struct(
            F.lit(s).alias("s"),
            F.slice("_xq", s * width + 1, width).alias("sub"),
            pq_grid._best_struct(F.col("_xq"), b0[s], s, width)
            .getField("c").alias("code"))
        for s in range(4)])).alias("x"))
    agg = (staged.groupBy("x.s", "x.code")
           .agg(F.count("*").alias("n"),
                *[F.sum(F.col("x.sub")[i]).alias(f"s{i}")
                  for i in range(width)])
           .collect())
    upd = {(int(r["s"]), int(r["code"])):
           [_math.floor(r[f"s{i}"] / r["n"] + 0.5) for i in range(width)]
           for r in agg}
    expect = [[upd.get((s, c), b0[s][c]) for c in range(n_codes)]
              for s in range(4)]
    assert b1 == expect
