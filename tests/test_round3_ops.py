"""Round-3 additions: int8 quantization, matryoshka rerank, bigram LM score."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.operators import similarity, textstats
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# ------------------------------------------------------------ int8 quantize

def test_quantize_error_bounded_by_half_step(spark, emb):
    out = similarity.quantize_int8(emb).collect()
    assert len(out) == emb.count()
    for r in out:
        # |q*scale - x| <= scale/2 (+1 grid unit for the 1e-9 rounding)
        assert r["max_err_q"] <= r["scale_q"] // 2 + 1, r


def test_quantize_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0, -2.0, 0.5, 0.25])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in similarity.quantize_int8(df).collect()}
    z = rows[1]
    assert (z["scale_q"], z["q_l1"], z["q_idx_sum"], z["max_err_q"]) \
        == (0, 0, 0, 0)
    nz = rows[2]
    # scale = 2/127; q = round(x/scale) = [64, -127, 32, 16]
    assert nz["q_l1"] == 64 + 127 + 32 + 16
    assert nz["q_idx_sum"] == 64 * 1 - 127 * 2 + 32 * 3 + 16 * 4


def test_quantize_plan_is_narrow(spark, emb):
    plan = similarity.quantize_int8(emb)._jdf.queryExecution() \
        .executedPlan().toString()
    for node in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, plan


# ------------------------------------------------------- matryoshka rerank

def test_matryoshka_recall_vs_exact(spark, emb):
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("c_id"),
                   F.col("embedding").alias("c_vec"))
    exact = {(r["q_id"], r["c_id"])
             for r in similarity.topk_join(q, c, k=5).collect()}
    # degenerate composition check: keeping EVERY candidate in stage 1
    # makes the two-stage pipeline exactly the brute-force top-k
    n_c = c.count()
    degen = similarity.truncated_rerank_topk(
        q, c, k=5, prefix_dims=16, k_coarse=n_c).collect()
    assert {(r["q_id"], r["c_id"]) for r in degen} == exact
    # with a real prefilter, recall is bounded by how much signal the
    # prefix carries; the synthetic embeddings are isotropic (no
    # Matryoshka-style energy concentration), so only sanity-check it
    two_stage = similarity.truncated_rerank_topk(
        q, c, k=5, prefix_dims=16, k_coarse=50).collect()
    got = {(r["q_id"], r["c_id"]) for r in two_stage}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.2, f"recall {recall:.2f}"
    # scores of returned pairs are the TRUE full-vector cosines: re-rank
    # stage must not inherit truncated scores
    full = {(r["q_id"], r["c_id"]): r["score"]
            for r in similarity.topk_join(q, c, k=len(two_stage) + 500)
            .collect()}
    for r in two_stage:
        assert abs(full[(r["q_id"], r["c_id"])] - r["score"]) < 1e-9


def test_matryoshka_candidates_bounded(spark, emb):
    # stage-2 input is Q x k_coarse pairs, never the full corpus
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("c_id"),
                   F.col("embedding").alias("c_vec"))
    out = similarity.truncated_rerank_topk(q, c, k=5, prefix_dims=16,
                                           k_coarse=7)
    n_q = q.count()
    assert out.count() <= n_q * 5
    ranks = out.groupBy("q_id").agg(F.max("rank").alias("m")).collect()
    assert all(r["m"] <= 5 for r in ranks)


# ------------------------------------------------------- bigram logprob LM

def _expected_logprob(docs: dict[int, str]) -> dict[int, tuple[int, float]]:
    toks = {i: [t for t in s.lower().split() if t] for i, s in docs.items()}
    uni: dict[str, int] = {}
    big: dict[tuple[str, str], int] = {}
    for ts in toks.values():
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
        for a, b in zip(ts, ts[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    v = len(uni)
    out = {}
    for i, ts in toks.items():
        lps = [math.floor(
            math.log((big[(a, b)] + 1.0) / (uni[a] + v)) * 1e6 + 0.5)
            for a, b in zip(ts, ts[1:])]
        n, sm = len(lps), sum(lps)
        # integer mean contract: -round(-S*1e4/(1e6*n)) half-up (S <= 0)
        out[i] = (n, -((2 * -sm * 10_000 + 1_000_000 * n)
                       // (2 * 1_000_000 * n)) if n else 0)
    return out


def test_bigram_logprob_matches_hand_model(spark):
    docs = {
        1: "the cat sat on the mat",
        2: "the cat sat",
        3: "dog",          # one token -> no bigrams
        4: "",             # empty -> no tokens
        5: "the cat sat on the mat the cat sat on the mat",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_logprob_q1e4"])
           for r in textstats.bigram_logprob(df).collect()}
    want = _expected_logprob(docs)
    assert got == want
    assert got[3] == (0, 0) and got[4] == (0, 0)


def test_bigram_logprob_repetitive_scores_higher(spark):
    # a doc made of the corpus's dominant bigrams must out-score a doc of
    # singleton bigrams — the quality-gate direction the score is used in
    docs = [(i, "alpha beta alpha beta alpha beta") for i in range(10)]
    docs.append((99, "zeta omega"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["avg_logprob_q1e4"]
           for r in textstats.bigram_logprob(df).collect()}
    assert got[0] > got[99]


# ------------------------------------------------ curation funnel plan shape

def test_curation_funnel_plan_is_linear(spark):
    """duplicate_clusters references its label frame twice per round; with-
    out the per-round checkpoint the plan tree doubles each iteration
    (2^max_iters subplan copies — observed: 62 SortMergeJoins, 159
    exchanges). Pin the linear shape."""
    import re
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    df = QUERIES["td_curation_funnel"][0](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_smj = len(re.findall(r"SortMergeJoin", plan))
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_smj <= 6, f"plan blow-up: {n_smj} SortMergeJoins"
    assert n_ex <= 14, f"plan blow-up: {n_ex} exchanges"
    # the flag-set joins carry NO broadcast hint (they scale with the
    # corpus dup rate — r4 fix); AQE must still pick broadcast at runtime
    # when they are actually small. Execute, then read the FINAL adaptive
    # plan.
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    n_bhj = len(re.findall(r"BroadcastHashJoin", final))
    assert n_bhj >= 2, final


# -------------------------------------------- edit distance + readability

def test_neighbor_edit_distance_known_values(spark):
    from multiagent_document_etl_system_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "sitting")],
        "doc_id long, text string")
    rows = {(r["id_a"], r["id_b"]): r
            for r in dedup.neighbor_edit_distance(df).collect()}
    assert rows[(1, 2)]["edit_dist"] == 3
    assert rows[(2, 3)]["edit_dist"] == 0 and rows[(2, 3)]["rel_dist"] == 0.0


def test_readability_orders_simple_above_dense(spark):
    docs = [
        (1, "The cat sat. The dog ran. It was fun."),
        (2, "Notwithstanding interdepartmental reorganization considerations"
            " necessitating comprehensive administrative reevaluation"
            " procedures without terminal punctuation whatsoever"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["flesch"] for r in df.select(
        "doc_id", textstats.readability_expr(F.col("text")).alias("flesch")
    ).collect()}
    assert got[1] > got[2]


# ------------------------------------------------ task-retry determinism

def test_hash_sampling_survives_task_retries():
    """Deterministic hash-Bernoulli sampling (the domain_mix/stratified
    convention) must select the SAME rows when tasks fail and re-execute —
    the reason every sampling decision in this engine is a content hash,
    never rand(). Injects one real task failure per partition on first
    attempt and asserts the sampled id set is identical to the undisturbed
    run. Needs task retries, which plain local[N] masters disable, so it
    runs an isolated local[4,2] session in a subprocess."""
    import subprocess
    import sys

    script = r"""
import sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession, functions as F
from multiagent_document_etl_system_spark.operators.dedup import hash64

spark = (SparkSession.builder.master("local[4,2]")
         .appName("retry-determinism")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
base = spark.range(0, 2000, 1, 4).select(F.col("id"))
sampled = base.filter((hash64(F.col("id").cast("string"), seed=7) % 100) < 25)
want = {r["id"] for r in sampled.collect()}

def flaky(batches):
    from pyspark import TaskContext
    ctx = TaskContext.get()
    first = True
    for pdf in batches:
        if first and ctx is not None and ctx.attemptNumber() == 0:
            raise RuntimeError("injected failure, attempt 0")
        first = False
        yield pdf

got = {r["id"] for r in sampled.mapInPandas(flaky, "id long").collect()}
assert got == want and len(want) > 0, (len(got), len(want))
print("RETRY_DETERMINISM_OK", len(want))
spark.stop()
"""
    out = subprocess.run([sys.executable, "-c", script], cwd=".",
                         capture_output=True, text=True, timeout=300)
    assert "RETRY_DETERMINISM_OK" in out.stdout, (out.stdout[-2000:],
                                                  out.stderr[-2000:])


def test_lateral_topk_decorrelates(spark):
    """The correlated LATERAL LIMIT subquery must decorrelate to a
    window/rank + equi-join plan — never a per-row nested-loop execution."""
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    plan = QUERIES["q_lateral_topk"][0](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan


# ----------------------------------------- reliable checkpoint for clusters

def test_duplicate_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches per-round lineage truncation from
    localCheckpoint (executor-local, lost on executor death) to reliable
    checkpoint() — same results, plan still truncated (no 2^iters
    blow-up), and checkpoint files actually land in the directory."""
    import re

    from multiagent_document_etl_system_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    ckdir = str(tmp_path / "ck")
    local = {(r["id"], r["rep"])
             for r in dedup.duplicate_clusters(pairs).collect()}
    reliable_df = dedup.duplicate_clusters(pairs, checkpoint_dir=ckdir)
    reliable = {(r["id"], r["rep"]) for r in reliable_df.collect()}
    assert local == reliable
    assert {r for _, r in reliable} == {1, 10}
    # lineage truncated either way: the chain A-B-C-D converges via the
    # pointer jump, and the returned plan references checkpointed RDDs,
    # not the full per-round join tree
    plan = reliable_df._jdf.queryExecution().optimizedPlan().toString()
    n_joins = len(re.findall(r"Join", plan))
    assert n_joins <= 1, f"lineage not truncated: {n_joins} joins\n{plan}"
    import os
    assert any(os.scandir(ckdir)), "no reliable checkpoint files written"
