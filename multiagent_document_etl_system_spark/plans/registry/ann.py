"""Similarity / ANN surface: cosine top-k family, LSH/IVF/PQ rungs, recall audits, the persisted namespace registry.

Registration-order slice of the former plans/registry.py (r11 split);
order within and across modules is load-bearing -- the driver window and
QUERIES.md read QUERIES in insertion order.
"""

from __future__ import annotations

from multiagent_document_etl_system_spark.plans.registry._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _docs,
    _emb,
    _q,
    ann_index,
    classify_case_sql,
    idiv_round,
    idiv_round_sql,
    once_per_session,
    schema_id,
    schema_id_sql,
    similarity,
)
from multiagent_document_etl_system_spark.operators import pq_grid
from multiagent_document_etl_system_spark.plans.registry.kernels import (
    _FALLBACK_SCHEMA_LIT,
)

_COS = similarity.cosine_sql("q.embedding::DOUBLE[]", "e.embedding::DOUBLE[]")


@_q("v2_cosine_topk", f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
           WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.q_id, e.vec_id AS c_id, round({_COS}, 4) AS score
  FROM q, embeddings e WHERE e.vec_id != q.q_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 5
""")
def v2_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 — brute-force cosine top-5; query side broadcast."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = similarity.topk_join(q, c, k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@_q("v3_filtered_topk", f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
           WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.q_id, e.vec_id AS c_id, e.label, round({_COS}, 4) AS score
  FROM q, embeddings e WHERE e.vec_id != q.q_id AND e.label = 3
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT q_id, c_id, CAST(label AS INT) AS label, score, rank
FROM ranked WHERE rank <= 5
""")
def v3_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 — metadata filter *before* similarity (Catalyst pushes the label
    predicate below the join: filtered rows are never scored). Same
    operator as V2 (`similarity.topk_join`) with a pre-filtered candidate
    side and the filter attribute carried through."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.filter(F.col("label") == 3).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"),
        F.col("label").cast("int").alias("label"))
    out = similarity.topk_join(q, c, k=5, carry=("label",))
    return out.select("q_id", "c_id", "label", "score",
                      F.col("rank").cast("bigint").alias("rank"))


@_q("v4_top1_argmax", f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
           WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.q_id, e.vec_id AS c_id, round({_COS}, 4) AS score
  FROM q, embeddings e WHERE e.vec_id != q.q_id
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rn
  FROM scored
)
SELECT q_id, c_id AS best_match, score FROM ranked WHERE rn = 1
""")
def v4_top1_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 — matches[0] (/root/reference/src/agents.py:123-125)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return similarity.topk_join(q, c, k=1).select(
        "q_id", F.col("c_id").alias("best_match"), "score")


_COS_QC = similarity.cosine_sql("q.embedding::DOUBLE[]", "c.c_emb::DOUBLE[]")


@_q("v5_fallback_cascade", f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
           WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS c_id, embedding AS c_emb, label AS c_label
      FROM embeddings),
s1 AS (
  SELECT q_id, c_id AS s1_id FROM (
    SELECT q.q_id, c.c_id,
      row_number() OVER (PARTITION BY q.q_id
        ORDER BY round({_COS_QC}, 4) DESC, c.c_id ASC) AS rn
    FROM q JOIN c ON c.c_label = 9 AND q.q_id != c.c_id
  ) WHERE rn = 1
), s2 AS (
  SELECT q_id, c_id AS s2_id FROM (
    SELECT q_id, c_id,
      row_number() OVER (PARTITION BY q_id
        ORDER BY score DESC, c_id ASC) AS rn
    FROM (
      SELECT q.q_id, c.c_id, round({_COS_QC}, 4) AS score
      FROM q JOIN c ON q.q_id != c.c_id
    ) WHERE score >= 0.35
  ) WHERE rn = 1
)
SELECT q.q_id,
  coalesce(CAST(s1_id AS VARCHAR), CAST(s2_id AS VARCHAR),
           'fallback-schema') AS match,
  CASE WHEN s1_id IS NOT NULL THEN 'by_label'
       WHEN s2_id IS NOT NULL THEN 'semantic'
       ELSE 'fallback' END AS strategy
FROM q LEFT JOIN s1 USING (q_id) LEFT JOIN s2 USING (q_id)
""")
def v5_fallback_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5 — the 3-strategy retrieval cascade over embeddings: strategy 1 =
    same-label top-1; strategy 2 = global top-1 with a score floor; strategy
    3 = constant fallback (/root/reference/src/agents.py:104-156).
    Provenance in ``strategy``. Both retrieval strategies are
    `similarity.topk_join(k=1)` calls (filtered candidates / score_floor) —
    the same operator as V2/V3/V4, not a reimplementation."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"),
                 F.col("label").alias("c_label"))
    # strategy 1: filtered by matching label (V3 semantics), rare label → may miss
    s1 = similarity.topk_join(
        q, c.filter(F.col("c_label") == 9).drop("c_label"), k=1) \
        .select("q_id", F.col("c_id").alias("s1_id"))
    # strategy 2: unfiltered global top-1 with a score floor (semantic query)
    s2 = similarity.topk_join(q, c.drop("c_label"), k=1, score_floor=0.35) \
        .select("q_id", F.col("c_id").alias("s2_id"))
    return (
        q.join(s1, "q_id", "left").join(s2, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(
                F.col("s1_id").cast("string"),
                F.col("s2_id").cast("string"),
                F.lit("fallback-schema"),
            ).alias("match"),
            F.when(F.col("s1_id").isNotNull(), "by_label")
            .when(F.col("s2_id").isNotNull(), "semantic")
            .otherwise("fallback").alias("strategy"),
        )
    )


@_q("v9_label_centroids", """
WITH comp AS (
  SELECT label, i,
    sum(CAST(floor(embedding[i] * 1000000 + 0.5) AS BIGINT)) AS s,
    count(*) AS n
  FROM embeddings, generate_series(1, 64) g(i)
  GROUP BY 1, 2
)
SELECT CAST(label AS INT) AS label, CAST(max(n) AS BIGINT) AS n_vectors,
  array_to_string(
    list(CAST(CAST(floor(CAST(s AS DOUBLE) / 1000000.0 / n * 10000.0 + 0.5)
              AS BIGINT) AS VARCHAR) ORDER BY i), ',') AS centroid_q1e4
FROM comp GROUP BY label
""")
def v9_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class prototypes — the building block of
    IVF training, nearest-centroid classification, and cluster summaries).
    Vector aggregation Spark-first: posexplode the components, stable
    scaled-int sum per (label, position) — order-insensitive, so the
    centroid hash-matches the oracle — then reassemble in position order
    via array_sort(collect_list(struct)). Two shuffles: (label, pos)
    partial-agg'd map-side, then label.

    Output encodes the centroid as a CSV of 1e-4-scaled BIGINT components
    (``centroid_q1e4``): the driver's canonicalizer cannot sort array
    cells (r03 red: ``unhashable type: 'list'``), and integer strings are
    immune to cross-engine float-repr drift (Spark's Double.toString emits
    ``1.0E-4`` where DuckDB prints ``0.0001``)."""
    e = _emb(spark, sf_dir)
    comp = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.floor(F.col("v").cast("double") * 1000000 + F.lit(0.5))
                  .cast("bigint").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        )
    )
    # floor-based half-up on the 1e-4 grid, kept as an exact BIGINT —
    # engine round() half-boundary behavior differs by 1 ulp
    mean_q = F.floor(
        F.col("s").cast("double") / 1000000.0 / F.col("n") * 10000.0
        + F.lit(0.5)).cast("bigint")
    return (
        comp.select("label", "pos", mean_q.alias("m"), "n")
        .groupBy("label")
        .agg(
            F.max("n").cast("bigint").alias("n_vectors"),
            F.concat_ws(",", F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st["m"].cast("string"),
            )).alias("centroid_q1e4"),
        )
        .select(F.col("label").cast("int").alias("label"), "n_vectors",
                "centroid_q1e4")
    )


@_q("v8_ivf_topk", pq_grid.ivf_grid_topk_sql(
    query_filter="vid % 100 = 0", k=5, n_cells=16, n_probe=2))
def v8_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, HASH-ORACLED (late-r12 — the v17/v18 grid conversion
    applied to the inverted file): the coarse quantizer is the
    deterministic grid-Lloyd fit with n_subspaces=1 (16 full-width
    integer centroids — operators/pq_grid.ivf_grid_topk), each query
    probes its 2 nearest cells by exact BIGINT distance and exact cosine
    re-ranks only within them. Approximate w.r.t. true top-k, exactly
    specified w.r.t. the oracle (the v6 LSH precedent); the DuckDB twin
    restates the fit, the inverted file, the probe, and the re-rank.
    With every cell probed it equals exact top-k (tests/test_pq_grid)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = pq_grid.ivf_grid_topk(q, c, dim=64, k=5, n_cells=16, n_probe=2)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# The ANN queries use the same deterministic hyperplanes as
# dedup_embedding_cosine (dim=64, 6 planes, seed=42) — plane constants are
# literals, so the DuckDB oracle restates the signature bit-for-bit and the
# "approximate" algorithm is still an EXACTLY-specified function of its
# inputs: approximate w.r.t. true top-k, deterministic w.r.t. the oracle.
_ANN_SIG_SQL = similarity.lsh_signature_sql(
    "embedding::DOUBLE[]", similarity.hyperplanes(dim=64, n_planes=6, seed=42))
_ANN_SIG_CTE = f"""
sig AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {_ANN_SIG_SQL} AS s
  FROM embeddings
)"""
_ANN_COS = similarity.cosine_sql("q.v", "c.v")


@_q("v6_ann_lsh_topk", f"""
WITH {_ANN_SIG_CTE},
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, round({_ANN_COS}, 4) AS score
  FROM sig q JOIN sig c ON q.s = c.s AND c.vec_id <> q.vec_id
  WHERE q.vec_id % 100 = 0
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
  FROM scored
)
SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 5
""")
def v6_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: random-hyperplane LSH bucketing + exact re-rank (the 100 TB
    big×big path). Approximate w.r.t. true top-k, but fully deterministic
    (hash-derived planes, rounded scores, score/id tie-break) — so this is
    a HASH-CHECKED query, not rows-only: the oracle restates the signature
    equi-join and within-bucket re-rank exactly."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return similarity.ann_lsh_topk(q, c, dim=64, k=5, n_planes=6)


@_q("v11_ann_multiprobe", f"""
WITH {_ANN_SIG_CTE},
probes AS (
  SELECT vec_id AS q_id, v,
    unnest([s, xor(s, 1), xor(s, 2), xor(s, 4),
            xor(s, 8), xor(s, 16), xor(s, 32)]) AS ps
  FROM sig WHERE vec_id % 100 = 0
), scored AS (
  SELECT q.q_id, c.vec_id AS c_id, round({_ANN_COS}, 4) AS score
  FROM probes q JOIN sig c ON c.s = q.ps AND c.vec_id <> q.q_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
  FROM scored
)
SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 5
""")
def v11_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: exact bucket + every Hamming-1 neighbor bucket
    (one sign flipped). Recovers near neighbors that fell just across one
    hyperplane — the recall lever that doesn't add hash tables. Query side
    explodes ×7; candidate corpus is hashed once. Deterministic ⇒
    hash-checked against an oracle that probes via unnest([s, xor(s, 2^i)…])."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return similarity.ann_lsh_topk(q, c, dim=64, k=5, n_planes=6,
                                   multiprobe=True)


# persisted-ANN-index staging (operators/ann_index.py): the build is
# fixture setup — the QUERY is the partition-pruned read, exactly the
# v6_namespace_scoped convention
def _ann_index_dir(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    def build() -> str:
        path = tempfile.mkdtemp(prefix="ann_index_")
        ann_index.build_ann_index(_emb(spark, sf_dir), path,
                                  n_planes=6, seed=42)
        return path

    return once_per_session(spark, ("ann_index", sf_dir), build)


@_q("v22_ann_index_topk", f"""
WITH {_ANN_SIG_CTE},
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, round({_ANN_COS}, 4) AS score
  FROM sig q JOIN sig c ON q.s = c.s AND c.vec_id <> q.vec_id
  WHERE q.vec_id % 50 = 7
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
  FROM scored
)
SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 5
""")
def v22_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k against the PERSISTED ANN index (operators/ann_index.py): the
    corpus vectors live in a parquet index partitioned by their 6-bit LSH
    signature (memoized build = fixture), and THIS query is the serving
    read — probe signatures prune the scan to the touched bucket
    directories (PartitionFilters, plan-tested in tests/test_ann_index),
    then the usual exact re-rank. Same planes/rounding/tie-break as
    v6_ann_lsh_topk, so the oracle restates it exactly; the result is the
    amortized-index twin of that in-memory rung, on a different query
    carve (vec_id % 50 == 7)."""
    q = _emb(spark, sf_dir).filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return ann_index.ann_index_topk(
        spark, _ann_index_dir(spark, sf_dir), q, k=5, exclude_self=True)


@_q("v10_ann_recall", f"""
WITH {_ANN_SIG_CTE},
exact_scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, round({_ANN_COS}, 4) AS score
  FROM sig q JOIN sig c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % 100 = 0
), exact AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (
        PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
    FROM exact_scored
  ) WHERE rank <= 5
), ann_scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, round({_ANN_COS}, 4) AS score
  FROM sig q JOIN sig c ON q.s = c.s AND c.vec_id <> q.vec_id
  WHERE q.vec_id % 100 = 0
), ann AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (
        PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
    FROM ann_scored
  ) WHERE rank <= 5
), hits AS (
  SELECT * FROM ann INTERSECT SELECT * FROM exact
)
SELECT CAST(e.n AS BIGINT) AS n_exact, CAST(h.n AS BIGINT) AS n_hits,
  round(CAST(h.n AS DOUBLE) / e.n, 4) AS recall_at_5
FROM (SELECT count(*) AS n FROM exact) e,
     (SELECT count(*) AS n FROM hits) h
""")
def v10_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the LSH path against the exact
    brute-force top-k — the eval harness an ANN index needs before anyone
    trusts it at scale (run on a sample, not the full corpus). Both sides
    are deterministic, so even the recall NUMBER is oracle-checkable. The
    semi-join counts matched (q_id, c_id) pairs; one division at the end
    keeps the double math order-insensitive."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    exact = similarity.topk_join(q, c, k=5)
    ann = similarity.ann_lsh_topk(q, c, dim=64, k=5, n_planes=6)
    hits = ann.join(exact.select("q_id", "c_id"), ["q_id", "c_id"],
                    "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_exact", "n_hits",
            F.round(F.col("n_hits") / F.col("n_exact"), 4)
            .alias("recall_at_5"),
        )
    )


@_q("v13_topk_matmul", None)
def v13_topk_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-throughput dense rerank: brute-force cosine top-5 via
    Arrow-batched NumPy matmul (similarity.topk_join_matmul — measured
    5.7× the JVM fold at 200k vectors). Float summation order differs
    from the sequential fold ⇒ rows-only here; set-equality with the
    exact twin is pytest-asserted (tests/test_similarity.py)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = similarity.topk_join_matmul(q, c, k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@_q("v14_ann_lsh_matmul", None)
def v14_ann_lsh_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The big×big scale composition: LSH signature blocking + per-bucket
    BLAS GEMM rerank via cogroup().applyInPandas
    (similarity.ann_lsh_topk_matmul). Python-side by design ⇒ rows-only;
    set-equality with the JVM-fold LSH path is pytest-asserted."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = similarity.ann_lsh_topk_matmul(q, c, dim=64, k=5, n_planes=6)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@_q("v12_topk_auto", f"""
WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
           WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.q_id, e.vec_id AS c_id, round({_COS}, 4) AS score
  FROM q, embeddings e WHERE e.vec_id != q.q_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT q_id, c_id, score, rank, 'broadcast_exact' AS strategy
FROM ranked WHERE rank <= 5
""")
def v12_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive strategy selection (similarity.topk_auto): a bounded
    ``limit(n+1).count()`` probe of the query side picks broadcast exact
    brute-force vs LSH signature bucketing at runtime — the engine's
    AQE-style answer to 'which physical similarity plan'. Here the query
    side is small, so the choice is deterministically ``broadcast_exact``
    and the result is hash-checkable against the exact oracle (the oracle
    restates the choice as a literal)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out, strategy = similarity.topk_auto(q, c, dim=64, k=5)
    return out.select(
        "q_id", "c_id", "score",
        F.col("rank").cast("bigint").alias("rank"),
        F.lit(strategy).alias("strategy"),
    )


@_q("v17_pq_codes", pq_grid.pq_grid_codes_sql())
def v17_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization storage rung, HASH-ORACLED (r12 verdict #4):
    4 subspace codebooks of 16 entries each — 64 floats become 4 small
    ints per vector (64x vs float32) with an exact-integer
    reconstruction-error audit column. r12 moves this query from the
    KMeans fit (rows-only by construction) onto operators/pq_grid's
    deterministic grid-Lloyd fit: anchored init + 3 Lloyd iterations on
    a 1e-4 integer grid, every step restated clause-by-clause in the
    DuckDB oracle (the fit itself rides INSIDE the SQL), distances exact
    BIGINT sums. Its recall at fixture scale is pinned in
    tests/test_pq_grid.py.

    Registry outputs must be scalar (driver canon crashes on array cells,
    r03), so the 4-code array is emitted dash-joined ('3-0-12-7'); the
    array-typed internal API is pq_grid.pq_grid_codes."""
    e = _emb(spark, sf_dir)
    books = pq_grid.pq_grid_fit(e, dim=64)
    out = pq_grid.pq_grid_codes(e, 64, books)
    return out.withColumn(
        "codes", F.concat_ws("-", F.col("codes").cast("array<string>")))


@_q("v19_ivfpq_topk", pq_grid.ivfpq_grid_topk_sql(
    query_filter="vid % 100 = 0", k=5, n_cells=16, n_probe=4, k_adc=100))
def v19_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ retrieval, HASH-ORACLED (late-r12): the grid coarse
    quantizer routes queries to 4/16 cells, global grid-PQ codes (v17's
    codebooks) shrink in-cell storage 64x, integer ADC lookups score the
    probed cells' codes, exact rerank restores precision — the composed
    100 TB ANN architecture with EVERY stage restated in the DuckDB twin
    (operators/pq_grid.ivfpq_grid_topk; the coarse + PQ fit chains
    compose under cq_/pq_ CTE prefixes). The PQ codes encode the raw
    gridded vector; v27 is the residual form — see the operator
    docstrings."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    out = pq_grid.ivfpq_grid_topk(q, c, dim=64, k=5, n_cells=16,
                                  n_probe=4, k_adc=100)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@_q("v18_pq_adc_topk", pq_grid.pq_grid_adc_sql(
    query_filter="vid % 100 = 0", k=5, k_adc=100))
def v18_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC retrieval, HASH-ORACLED (r12 verdict #4): integer
    distance-table lookups over v17's grid codes prefilter 100
    candidates per query (exact BIGINT adds — no float until the
    rerank), exact cosine reranks to top-5 (rounded-4dp, the proven
    v16/v20 oracle bridge) — the FAISS-PQ query shape. The DuckDB twin
    restates the whole pipeline including the deterministic grid-Lloyd
    fit (see v17 / operators/pq_grid.py); its recall is pinned in
    tests/test_pq_grid.py. Scale: query-side distance tables
    broadcast; the corpus contributes one narrow code map + the ranked
    prefilter window; rerank touches Q x 100 vectors."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    out = pq_grid.pq_grid_adc_rerank_topk(q, c, dim=64, k=5, k_adc=100)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@_q("v15_int8_quantize", similarity.quantize_int8_sql())
def v15_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 storage quantization of the embedding column with exact-integer
    audit outputs (scale step, L1 mass, index-weighted checksum, max
    reconstruction error) — the 4x vector-storage shrink for 100 TB
    retrieval indexes, as a pure narrow map (no shuffle, no UDF). See
    similarity.quantize_int8."""
    return similarity.quantize_int8(_emb(spark, sf_dir))


_V16_COS_PRE = similarity.cosine_sql("q.qv[1:16]", "c.cv[1:16]")
_V16_COS_FULL = similarity.cosine_sql("q.qv", "c.cv")


_V20_COS = similarity.cosine_sql("q.qv", "c.cv")


@_q("v20_binary_hamming_topk", f"""
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
qp AS (
  SELECT q_id, qv,
    sum(CASE WHEN i <= 32 AND qv[i] >= 0
             THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END) AS qlo,
    sum(CASE WHEN i > 32 AND qv[i] >= 0
             THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END) AS qhi
  FROM q, generate_series(1, 64) g(i) GROUP BY q_id, qv
), cp AS (
  SELECT c_id, cv,
    sum(CASE WHEN i <= 32 AND cv[i] >= 0
             THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END) AS clo,
    sum(CASE WHEN i > 32 AND cv[i] >= 0
             THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END) AS chi
  FROM c, generate_series(1, 64) g(i) GROUP BY c_id, cv
), coarse AS (
  SELECT qp.q_id, cp.c_id,
    bit_count(xor(qlo, clo)) + bit_count(xor(qhi, chi)) AS ham
  FROM qp, cp WHERE cp.c_id != qp.q_id
), cranked AS (
  SELECT q_id, c_id, row_number() OVER (
      PARTITION BY q_id ORDER BY ham ASC, c_id ASC) AS crank
  FROM coarse
), cand AS (
  SELECT q_id, c_id FROM cranked WHERE crank <= 50
), exact AS (
  SELECT cand.q_id, cand.c_id, round({_V20_COS}, 4) AS score
  FROM cand JOIN q ON cand.q_id = q.q_id JOIN c ON cand.c_id = c.c_id
), ranked AS (
  SELECT q_id, c_id, score, CAST(row_number() OVER (
      PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS BIGINT) AS rank
  FROM exact
)
SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 5
""")
def v20_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit sign) quantization + Hamming coarse retrieval + exact
    rerank (similarity.binary_hamming_topk) — the 32x storage rung
    completing the ladder (float32 > int8 v15 > PQ v17 > binary v20).
    Coarse distances are 2 XOR+popcounts over packed longs; exact cosine
    restores precision on 50 survivors per query. Fully deterministic
    (integer distances, id tie-breaks) => full hash oracle."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    out = similarity.binary_hamming_topk(q, c, dim=64, k=5, k_coarse=50)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@_q("v16_matryoshka_topk", f"""
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
coarse AS (
  SELECT q.q_id, c.c_id, round({_V16_COS_PRE}, 4) AS cscore
  FROM q, c WHERE c.c_id != q.q_id
), cranked AS (
  SELECT q_id, c_id, row_number() OVER (
      PARTITION BY q_id ORDER BY cscore DESC, c_id ASC) AS crank
  FROM coarse
), cand AS (
  SELECT q_id, c_id FROM cranked WHERE crank <= 50
), exact AS (
  SELECT cand.q_id, cand.c_id, round({_V16_COS_FULL}, 4) AS score
  FROM cand JOIN q ON cand.q_id = q.q_id JOIN c ON cand.c_id = c.c_id
), ranked AS (
  SELECT q_id, c_id, score, CAST(row_number() OVER (
      PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS BIGINT) AS rank
  FROM exact
)
SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 5
""")
def v16_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension prefilter + exact rerank
    (similarity.truncated_rerank_topk): coarse-score on the first 16 of 64
    dims, keep 50 candidates per query, exact-rerank to top-5. The dense
    middle ground between brute force (v2) and LSH/IVF (v6/v8) — 1/4 of
    the bytes and multiplies in the scan-everything stage, full precision
    only on Q x 50 survivors; deterministic, so it carries a full hash
    oracle where the LSH/IVF rungs cannot."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    out = similarity.truncated_rerank_topk(q, c, k=5, prefix_dims=16,
                                           k_coarse=50)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


_V21_COS_EX = similarity.cosine_sql("q.qv", "c.cv")
_V21_COS_PRE = similarity.cosine_sql("q.qv[1:16]", "c.cv[1:16]")

#: the deterministic grid-PQ rung's full fit+ADC+rerank chain (r12) —
#: ends in pq_picks(q_id, c_id, score, rank)
_V21_PQ_CTES = pq_grid.pq_grid_adc_ctes(
    query_filter="vid % 100 = 0", k=5, k_adc=100)


@_q("v21_recall_matrix", f"""
WITH {_ANN_SIG_CTE},
q AS (SELECT vec_id AS q_id, v AS qv, s AS qs FROM sig
      WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS c_id, v AS cv, s AS cs FROM sig),
{_V21_PQ_CTES},
exact_scored AS (
  SELECT q.q_id, c.c_id, round({_V21_COS_EX}, 4) AS score
  FROM q, c WHERE c.c_id <> q.q_id
), exact AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (
        PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
    FROM exact_scored) WHERE rank <= 5
), lsh_scored AS (
  SELECT q.q_id, c.c_id, round({_V21_COS_EX}, 4) AS score
  FROM q JOIN c ON q.qs = c.cs AND c.c_id <> q.q_id
), lsh AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (
        PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
    FROM lsh_scored) WHERE rank <= 5
), probes AS (
  SELECT q_id, qv,
    unnest([qs, xor(qs, 1), xor(qs, 2), xor(qs, 4),
            xor(qs, 8), xor(qs, 16), xor(qs, 32)]) AS ps
  FROM q
), mp_scored AS (
  SELECT q.q_id, c.c_id, round({_V21_COS_EX}, 4) AS score
  FROM probes q JOIN c ON c.cs = q.ps AND c.c_id <> q.q_id
), mp AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (
        PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
    FROM mp_scored) WHERE rank <= 5
), mat_coarse AS (
  SELECT q.q_id, c.c_id, round({_V21_COS_PRE}, 4) AS cscore
  FROM q, c WHERE c.c_id <> q.q_id
), mat_cand AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (
        PARTITION BY q_id ORDER BY cscore DESC, c_id ASC) AS crank
    FROM mat_coarse) WHERE crank <= 50
), mat_scored AS (
  SELECT m.q_id, m.c_id, round({_V21_COS_EX}, 4) AS score
  FROM mat_cand m JOIN q ON m.q_id = q.q_id JOIN c ON m.c_id = c.c_id
), mat AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (
        PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
    FROM mat_scored) WHERE rank <= 5
), qp AS (
  SELECT q_id,
    sum(CASE WHEN i <= 32 AND qv[i] >= 0
             THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END) AS qlo,
    sum(CASE WHEN i > 32 AND qv[i] >= 0
             THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END) AS qhi
  FROM q, generate_series(1, 64) g(i) GROUP BY q_id
), cp AS (
  SELECT c_id,
    sum(CASE WHEN i <= 32 AND cv[i] >= 0
             THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END) AS clo,
    sum(CASE WHEN i > 32 AND cv[i] >= 0
             THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END) AS chi
  FROM c, generate_series(1, 64) g(i) GROUP BY c_id
), bh_cand AS (
  SELECT q_id, c_id FROM (
    SELECT qp.q_id, cp.c_id, row_number() OVER (
        PARTITION BY qp.q_id
        ORDER BY bit_count(xor(qlo, clo)) + bit_count(xor(qhi, chi)) ASC,
                 cp.c_id ASC) AS crank
    FROM qp, cp WHERE cp.c_id <> qp.q_id) WHERE crank <= 50
), bh_scored AS (
  SELECT b.q_id, b.c_id, round({_V21_COS_EX}, 4) AS score
  FROM bh_cand b JOIN q ON b.q_id = q.q_id JOIN c ON b.c_id = c.c_id
), bh AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (
        PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
    FROM bh_scored) WHERE rank <= 5
), ann AS (
  SELECT 'binary_hamming' AS method, q_id, c_id FROM bh
  UNION ALL SELECT 'lsh', q_id, c_id FROM lsh
  UNION ALL SELECT 'lsh_multiprobe', q_id, c_id FROM mp
  UNION ALL SELECT 'matryoshka16', q_id, c_id FROM mat
  UNION ALL SELECT 'pq_grid_adc100', q_id, c_id FROM pq_picks
), hits AS (
  SELECT method, count(*) AS n
  FROM ann JOIN exact USING (q_id, c_id) GROUP BY method
), tot AS (SELECT count(*) AS n FROM exact),
methods AS (SELECT unnest(
  ['binary_hamming', 'lsh', 'lsh_multiprobe', 'matryoshka16',
   'pq_grid_adc100']) AS method)
SELECT m.method, CAST(t.n AS BIGINT) AS n_exact,
  CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
  {idiv_round_sql('coalesce(h.n, 0) * 10000', 'greatest(t.n, 1)')}
    AS recall_q1e4
FROM methods m LEFT JOIN hits h ON m.method = h.method, tot t
ORDER BY m.method
""")
def v21_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of EVERY deterministic ANN rung against the exact
    brute-force top-k, in one evaluation frame — the index-selection
    report a 100 TB retrieval deployment reads before choosing its
    speed/recall point (v10 evaluates the single-bucket LSH rung; this is
    the whole deterministic ladder: LSH, multi-probe LSH, matryoshka
    truncated-prefilter, binary sign+Hamming, and — since r12 — the
    grid-Lloyd PQ-ADC rung, whose deterministic fit rides inside the
    oracle, so ITS recall number is hash-pinned too). The grid IVF and
    IVF-PQ rungs (v8, v19, v27) are hash-pinned query by query and carry
    their recall floors in tests/test_pq_grid.py.

    Every output cell is a string or BIGINT (recall on the exact 1e-4
    integer grid via idiv_round — no float ever leaves the plan), so the
    hash oracle covers the recall NUMBERS themselves. The union of the
    four rungs' (method, q_id, c_id) picks makes this one semi-join
    against the exact set and one tiny groupBy — the exact side runs
    ONCE and its (k·Q ids-only) result is checkpointed for the two
    consumers (hits + denominator; it re-ran per consumer before the
    r12 optimization round).

    Scale: each rung is its own bounded plan (signature equi-joins /
    50-candidate coarse heaps); the exact side is the only Q x N scan and
    runs on the sampled query set (1% of ids), which is how a recall
    audit runs against a production corpus too."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    # the exact ground truth is referenced TWICE (hits semi-join + the
    # denominator count) and each reference re-ran the full Q x N
    # brute-force scan — truncate its lineage once (k·Q ids-only rows,
    # bounded at any scale; the query is in bench.REBUILD_PER_REP so the
    # eager materialization stays inside the timed rep — r12
    # optimization round). The eager checkpoint runs in a BACKGROUND
    # thread (guide §2.6) so its cluster job overlaps the driver-side
    # construction of the five rung plans below (which includes the
    # PQ rung's own fit job — Spark schedules concurrent jobs FIFO);
    # .result() joins before the checkpointed frame is consumed, and also
    # when a rung raises, so a checkpoint failure is never dropped.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        exact_f = pool.submit(
            lambda: similarity.topk_join(q, c, k=5)
            .select("q_id", "c_id").localCheckpoint(eager=True))
        try:
            rungs = {
                "binary_hamming": similarity.binary_hamming_topk(
                    q, c, dim=64, k=5, k_coarse=50),
                "lsh": similarity.ann_lsh_topk(q, c, dim=64, k=5,
                                               n_planes=6),
                "lsh_multiprobe": similarity.ann_lsh_topk(
                    q, c, dim=64, k=5, n_planes=6, multiprobe=True),
                "matryoshka16": similarity.truncated_rerank_topk(
                    q, c, k=5, prefix_dims=16, k_coarse=50),
                "pq_grid_adc100": pq_grid.pq_grid_adc_rerank_topk(
                    q, c, dim=64, k=5, k_adc=100),
            }
        finally:
            exact = exact_f.result()
    tagged = None
    for name in sorted(rungs):
        t = rungs[name].select(F.lit(name).alias("method"), "q_id", "c_id")
        tagged = t if tagged is None else tagged.unionAll(t)
    hits = (tagged.join(exact, ["q_id", "c_id"], "left_semi")
            .groupBy("method").agg(F.count("*").alias("_n")))
    base = spark.range(1).select(F.explode(F.array(
        *[F.lit(m) for m in sorted(rungs)])).alias("method"))
    tot = exact.agg(F.count("*").alias("n_exact"))
    nh = F.coalesce(F.col("_n"), F.lit(0)).cast("bigint")
    return (base.join(hits, "method", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "method", "n_exact", nh.alias("n_hits"),
                idiv_round(nh * F.lit(10_000),
                           F.greatest(F.col("n_exact"), F.lit(1)))
                .alias("recall_q1e4"))
            .orderBy("method"))


_NS_DIM_TYPES = ("contract", "form", "invoice", "receipt", "report")


# namespace-partitioned schema-registry staging, like the streaming
# staging: the write is fixture setup, the QUERY is the pruned read
def _namespace_registry_dir(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    from multiagent_document_etl_system_spark.io import write_parquet
    from multiagent_document_etl_system_spark.operators.classify import (
        classify,
    )

    def build() -> str:
        path = tempfile.mkdtemp(prefix="ns_registry_")
        reg = (
            classify(_docs(spark, sf_dir))
            .groupBy("doc_type").agg(F.count("*").alias("n_docs"))
            .withColumn(
                "namespace",
                F.when(F.col("doc_type").isin(*_NS_DIM_TYPES),
                       F.lit("document-schemas"))
                .otherwise(F.lit("auto-generated")),
            )
            .withColumn(
                "schema_id",
                schema_id(F.col("doc_type"), F.lit('{"fields":{}}')),
            )
        )
        write_parquet(reg, path, partition_by=["namespace"])
        return path

    return once_per_session(spark, ("ns_registry", sf_dir), build)


@_q("v6_namespace_scoped", f"""
WITH reg AS (
  SELECT {classify_case_sql('text')} AS doc_type, count(*) AS n_docs
  FROM documents GROUP BY 1
)
SELECT doc_type, CAST(n_docs AS BIGINT) AS n_docs,
  {schema_id_sql('doc_type', _FALLBACK_SCHEMA_LIT)} AS schema_id,
  'document-schemas' AS namespace
FROM reg
WHERE doc_type IN {_NS_DIM_TYPES!r}
""")
def v6_namespace_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 — namespace scoping as a partition column + pruned scan
    (/root/reference/src/pinecone_utils.py:55,98: every upsert/query
    targets namespace 'document-schemas'). The registry is written
    partitioned by namespace (memoized fixture); THIS query is the
    namespace-scoped read: ``WHERE namespace = 'document-schemas'`` prunes
    to one partition directory — only that namespace's files are ever
    opened (PartitionFilters, plan-tested). The oracle recomputes the same
    registry rows from `documents` and applies the same namespace rule."""
    path = _namespace_registry_dir(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .filter(F.col("namespace") == "document-schemas")
        .select("doc_type", F.col("n_docs").cast("bigint").alias("n_docs"),
                "schema_id", "namespace")
    )


@_q("v27_ivfpq_residual", pq_grid.ivfpq_grid_residual_topk_sql(
    query_filter="vid % 100 = 0", k=5, n_cells=16, n_probe=4, k_adc=100))
def v27_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-encoding IVF-PQ, HASH-ORACLED (late r12) — the textbook
    FAISS IVFPQ form (Jégou et al. 2011) completing the grid family: PQ
    codes encode x − centroid(cell(x)), refit over INTEGER residuals
    (gridded vector minus integer centroid — exact, so the residual form
    keeps the full oracle).
    The query side builds one distance table per (query, probed cell)
    from the query's residual in that cell — residual encoding's
    structural cost, still query-side-bounded. v19 keeps the raw
    (non-residual) form, so raw-vs-residual is a hash-pinned
    side-by-side: measured recall@5 at sf0.01 residual 0.80 vs raw 0.76
    (5 queries), at fixture scale 0.576 vs 0.584 over 50 queries — a
    WASH on this ISOTROPIC corpus, exactly as theory predicts (residual
    gains need clustered data; isotropic is PQ's documented worst
    case). Two lineage cuts ride inside (localCheckpoint on the
    residual columns; MATERIALIZED on the oracle's rs_src CTE) — both
    sides otherwise recompute the coarse chain combinatorially
    (operator docstring)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.select(F.col("vec_id").alias("c_id"),
                 F.col("embedding").alias("c_vec"))
    out = pq_grid.ivfpq_grid_residual_topk(q, c, dim=64, k=5, n_cells=16,
                                           n_probe=4, k_adc=100)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# ================================================================== dedup

