"""Vector-similarity / retrieval operators (SURVEY.md §2.5, V1–V7).

The reference's retrieval is Pinecone cosine top-k over 384-d vectors with
optional metadata filters and a 3-stage fallback cascade
(/root/reference/src/pinecone_utils.py:94-168; /root/reference/src/agents.py:104-156).

Engine design, Spark-first:

- **cosine** is a pure Catalyst expression over array<float> —
  ``aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (s,x) -> s+x)`` for the dot
  product plus the same fold for norms. JVM-side, no UDF, no Arrow hop.
- **top-k** per query = broadcast the (small) query set, score all
  candidates, ``row_number()`` over (query) ordered by (score DESC, id ASC)
  — the deterministic tie-break the reference leaves unspecified
  (SURVEY.md §7.4).
- **metadata filter before similarity** (V3) is just a WHERE — Catalyst
  pushes it below the join so filtered candidates never get scored.

Scale posture (100 TB): the broadcast side must be the small one (queries or
schema dim). For big×big similarity, ``ann_lsh_topk`` buckets candidates
with random hyperplane signatures (SimHash-style LSH) and only scores
within-bucket pairs, then exact re-ranks — the standard
cluster-pruning/LSH two-phase pipeline. Brute force is O(Q×N×d) but
shuffle-free after the broadcast; LSH makes N effectively N/2^bits per
bucket.

Reserved column names: two operators add helper columns to the caller's
DataFrames — :func:`topk_join` adds ``_qn`` to the queries and ``_cn`` to
the candidates; :func:`ann_lsh_topk` adds ``_sig``, ``_qn`` and (with
``multiprobe``) ``_sig0`` to the queries and ``_sig`` and ``_cn`` to the
candidates. Callers must not pass DataFrames that already contain columns
with those names (they would be silently overwritten); project them away
or rename first. Every other operator projects its inputs first.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a codegen'd higher-order-function fold (double math)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double")
        )
    )


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """The one cosine of every vector operator, over norms ``na``/``nb``
    precomputed per row or inline: 0.0 for a zero vector (Pinecone rejects
    those; we define it). The IEEE op order — sqrt per side, multiply,
    divide — is fixed, so the scores are bit-identical either way."""
    denom = na * nb
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for a zero vector."""
    return cosine_from_norms(a, b, norm(a), norm(b))


def rank_topk(scored: DataFrame, k: int, q_id: str = "q_id",
              c_id: str = "c_id") -> DataFrame:
    """Each query's ``k`` best rows of ``scored``, numbered in ``rank`` by
    (score DESC, candidate ASC) — the module's one top-k tie-break."""
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return scored.withColumn("rank", F.row_number().over(w)) \
        .filter(F.col("rank") <= k)


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin. list_cosine_similarity matches the double-math fold to
    float tolerance; callers round scores before hashing."""
    return (
        f"CASE WHEN list_dot_product({a},{a}) = 0 OR list_dot_product({b},{b}) = 0 "
        f"THEN 0.0 ELSE list_cosine_similarity({a}, {b}) END"
    )


def topk_join(queries: DataFrame, candidates: DataFrame, k: int = 5,
              q_id: str = "q_id", c_id: str = "c_id",
              q_vec: str = "q_vec", c_vec: str = "c_vec",
              exclude_self: bool = True,
              score_floor: float | None = None,
              carry: tuple[str, ...] = ()) -> DataFrame:
    """V2 — brute-force cosine top-k: (q_id, c_id, *carry, score, rank).

    ``queries`` is broadcast (the reference's query side is one document /
    a handful of schemas). Deterministic order: score DESC, candidate ASC.

    ``score_floor`` drops pairs below the floor BEFORE ranking (V5's
    semantic-retrieval threshold, /root/reference/src/agents.py:133-141);
    ``carry`` lists candidate metadata columns to keep in the output (V3's
    filtered retrieval carries the filter attribute through).

    Norms are precomputed per ROW before the join (materialized columns) —
    computing them inside the pair expression would fold over each vector
    once per pair instead of once per row (~3× the arithmetic).
    """
    q = queries.withColumn("_qn", norm(F.col(q_vec)))
    c = candidates.withColumn("_cn", norm(F.col(c_vec)))
    j = c.crossJoin(F.broadcast(q))
    if exclude_self:
        j = j.filter(F.col(q_id) != F.col(c_id))
    score = cosine_from_norms(F.col(q_vec), F.col(c_vec),
                              F.col("_qn"), F.col("_cn"))
    scored = j.select(q_id, c_id, *carry, F.round(score, 4).alias("score"))
    if score_floor is not None:
        scored = scored.filter(F.col("score") >= score_floor)
    return rank_topk(scored, k, q_id, c_id)


def topk_join_matmul(queries: DataFrame, candidates: DataFrame, k: int = 5,
                     q_id: str = "q_id", c_id: str = "c_id",
                     q_vec: str = "q_vec", c_vec: str = "c_vec",
                     exclude_self: bool = True) -> DataFrame:
    """Brute-force cosine top-k via Arrow-batched NumPy matmul — the
    HIGH-THROUGHPUT dense kernel: the query matrix is collected once
    (queries are the small side by contract, same as :func:`topk_join`'s
    broadcast) and every candidate Arrow batch scores against it with one
    BLAS GEMM. Measured on 200k×64 vectors, 20 queries, local[32]: 2.2 s
    vs 12.4 s for the JVM ``aggregate``/``zip_with`` fold — per-element
    Catalyst expression eval cannot SIMD; a matrix multiply does. Same
    top-k sets (verified), but float summation ORDER differs from the
    sequential fold, so this kernel is rows-only against the DuckDB
    oracle; :func:`topk_join` stays the hash-checkable exact twin.

    Scale: candidates stream through mapInPandas (no shuffle before the
    per-query rank), queries ride a broadcast variable; memory per batch
    is O(batch × Q). For query sets too big to broadcast, use
    :func:`ann_lsh_topk`.
    """
    import numpy as np
    import pandas as pd

    qpd = queries.select(q_id, q_vec).toPandas()
    if not len(qpd):
        # empty query side: an empty result with the contract schema
        # (np.linalg.norm(axis=1) on a 0-row matrix would AxisError)
        return queries.sparkSession.createDataFrame(
            [], f"{q_id} long, {c_id} long, score double, rank integer")
    qmat = np.array(qpd[q_vec].tolist(), dtype=np.float64)
    qn = np.linalg.norm(qmat, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    qids = qpd[q_id].to_numpy()
    bq = queries.sparkSession.sparkContext.broadcast((qids, qmat / qn))

    def score_partition(batches):
        ids, qunit = bq.value
        nq = len(ids)
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.array(pdf[c_vec].tolist(), dtype=np.float64)
            cn = np.linalg.norm(cmat, axis=1, keepdims=True)
            cn[cn == 0] = 1.0
            scores = (cmat / cn) @ qunit.T          # B × Q
            yield pd.DataFrame({
                q_id: np.repeat(ids, len(pdf)),
                c_id: np.tile(pdf[c_id].to_numpy(), nq),
                "score": np.round(scores.T.ravel(), 4),
            })

    pairs = candidates.select(c_id, c_vec).mapInPandas(
        score_partition, f"{q_id} long, {c_id} long, score double")
    if exclude_self:
        pairs = pairs.filter(F.col(q_id) != F.col(c_id))
    return rank_topk(pairs, k, q_id, c_id)


def ann_lsh_topk_matmul(queries: DataFrame, candidates: DataFrame,
                        dim: int, k: int = 5, n_planes: int = 8,
                        seed: int = 42,
                        q_id: str = "q_id", c_id: str = "c_id",
                        q_vec: str = "q_vec",
                        c_vec: str = "c_vec") -> DataFrame:
    """The full big×big scale composition: LSH signature BLOCKING (both
    sides hash to 2^n_planes buckets, equi-join — shuffle-partitionable)
    + per-bucket GEMM RERANK (cogroup().applyInPandas: one BLAS matmul
    scores each bucket's query block against its candidate block, the
    ~6× kernel win of :func:`topk_join_matmul` applied inside buckets
    where :func:`ann_lsh_topk`'s per-pair JVM fold serializes).

    Same recall as ann_lsh_topk (identical bucketing); same top-k sets
    (pytest-asserted at fixture scale). Memory per task is one bucket's
    Q×C score block — bounded by bucket occupancy, which the uniform
    signature distribution and AQE skew-splitting keep in check.
    """
    import numpy as np
    import pandas as pd

    planes = hyperplanes(dim, n_planes, seed)

    qs = queries.select(
        F.col(q_id).alias("_qid"), F.col(q_vec).alias("_qv")) \
        .withColumn("_sig", lsh_signature(F.col("_qv"), planes))
    cs = candidates.select(
        F.col(c_id).alias("_cid"), F.col(c_vec).alias("_cv")) \
        .withColumn("_sig", lsh_signature(F.col("_cv"), planes))

    def score_bucket(key, qpdf: pd.DataFrame, cpdf: pd.DataFrame):
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(
                {q_id: [], c_id: [], "score": []})
        qm = np.array(qpdf["_qv"].tolist(), dtype=np.float64)
        cm = np.array(cpdf["_cv"].tolist(), dtype=np.float64)
        qn = np.linalg.norm(qm, axis=1, keepdims=True)
        cn = np.linalg.norm(cm, axis=1, keepdims=True)
        qn[qn == 0] = 1.0
        cn[cn == 0] = 1.0
        s = (qm / qn) @ (cm / cn).T                  # Q × C
        nq, nc = s.shape
        return pd.DataFrame({
            q_id: np.repeat(qpdf["_qid"].to_numpy(), nc),
            c_id: np.tile(cpdf["_cid"].to_numpy(), nq),
            "score": np.round(s.ravel(), 4),
        })

    pairs = (
        qs.groupBy("_sig").cogroup(cs.groupBy("_sig"))
        .applyInPandas(score_bucket,
                       schema=f"{q_id} long, {c_id} long, score double")
        .filter(F.col(q_id) != F.col(c_id))
    )
    return rank_topk(pairs, k, q_id, c_id)


def topk_auto(queries: DataFrame, candidates: DataFrame, dim: int,
              k: int = 5, broadcast_limit_rows: int = 100_000,
              q_id: str = "q_id", c_id: str = "c_id",
              q_vec: str = "q_vec", c_vec: str = "c_vec",
              ) -> tuple[DataFrame, str]:
    """Adaptive top-k strategy selection — the AQE-style runtime choice the
    engine makes so callers never hand-pick a physical plan:

    - query side fits a broadcast (≤ ``broadcast_limit_rows``) →
      :func:`topk_join` (broadcast brute force, EXACT recall — the
      reference's regime: a handful of schemas vs a corpus,
      /root/reference/src/pinecone_utils.py:94-132);
    - both sides big → :func:`ann_lsh_topk` (signature equi-join,
      shuffle-partitionable, approximate).

    The probe is a BOUNDED action: ``limit(n+1).count()`` scans at most
    n+1 rows regardless of query-side size — at 100 TB the probe cost is
    constant, exactly like AQE's runtime statistics. Returns
    ``(result, strategy)`` so callers/audits can record the choice.
    """
    probe = queries.limit(broadcast_limit_rows + 1).count()
    if probe <= broadcast_limit_rows:
        out = topk_join(queries, candidates, k=k, q_id=q_id, c_id=c_id,
                        q_vec=q_vec, c_vec=c_vec)
        return out, "broadcast_exact"
    out = ann_lsh_topk(queries, candidates, dim=dim, k=k,
                       q_id=q_id, c_id=c_id, q_vec=q_vec, c_vec=c_vec)
    return out, "lsh_bucketed"


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes via integer hashing (no
    numpy RNG on the driver → reproducible across runs/sessions, and the
    constants are plain literals an SQL oracle can restate)."""
    def h(i: int, j: int) -> float:
        x = (seed * 1_000_003 + i * 10_007 + j * 97) % 2_147_483_647
        # xorshift-ish scramble, mapped to [-1, 1]
        x = (x ^ (x >> 13)) * 1_274_126_177 % 2_147_483_647
        return (x / 2_147_483_647.0) * 2.0 - 1.0

    return [[h(i, j) for j in range(dim)] for i in range(n_planes)]


def planes_literal(planes: list[list[float]]) -> Column:
    """``planes`` as ONE foldable array<array<double>> expression: a JSON
    string literal the optimizer parses once into a constant. Analysis
    sees one node instead of one per value (2,304 at 384-d × 6 planes).
    ``json.dumps`` writes each double in Python's shortest round-trip
    form and the JSON parser restores the nearest double, so the folded
    constant is bit-identical to ``planes`` (asserted by test)."""
    return F.from_json(F.lit(json.dumps(planes)), "array<array<double>>")


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane (SimHash-style) signature: bit i = sign(vec ·
    plane_i), assembled into one long (2^i weights — n_planes ≤ 16 keeps
    this well inside exact double range). A pure Catalyst expression: the
    planes ride along as one folded literal (:func:`planes_literal`)."""
    return F.aggregate(
        F.transform(
            planes_literal(planes),
            lambda p, i: F.when(
                dot(vec, p) >= 0,
                F.pow(F.lit(2.0), i.cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


def lsh_signature_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB twin of :func:`lsh_signature` — the same plane literals, the
    same in-order dot product (list_dot_product folds left-to-right exactly
    like the Spark ``aggregate``), so the sign bits agree bit-for-bit."""
    terms = []
    for i, row in enumerate(planes):
        lit = "[" + ", ".join(repr(v) for v in row) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({vec_expr}, {lit}) >= 0 "
            f"THEN CAST({2 ** i} AS BIGINT) ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def lsh_probes(sig: Column, n_planes: int) -> Column:
    """A signature and its Hamming-1 neighbors (one plane's bit flipped):
    distinct, so a candidate matches at most one probe of a query."""
    return F.array(sig, *[sig.bitwiseXOR(F.lit(2 ** i))
                          for i in range(n_planes)])


def _bucket_self_join(vectors: DataFrame, dim: int, n_planes: int,
                      seed: int, id_col: str,
                      vec_col: str) -> tuple[DataFrame, Column]:
    """Every (id_a, id_b) pair sharing an LSH bucket (callers filter) and
    its cosine over per-ROW norms: O(Σ bucket²) work, never all-pairs."""
    planes = hyperplanes(dim, n_planes, seed)
    sig = vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        lsh_signature(F.col(vec_col), planes).alias("_sig"),
        norm(F.col(vec_col)).alias("_n"))
    a = sig.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
                   F.col("_n").alias("_na"), "_sig")
    b = sig.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
                   F.col("_n").alias("_nb"), "_sig")
    score = cosine_from_norms(F.col("_va"), F.col("_vb"),
                              F.col("_na"), F.col("_nb"))
    return a.join(b, "_sig"), score


def embedding_near_pairs(vectors: DataFrame, dim: int,
                         threshold: float = 0.3, n_planes: int = 8,
                         seed: int = 42, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Embedding near-duplicate pairs: (id_a, id_b, score) for every pair
    in the same hyperplane-LSH bucket with cosine ≥ threshold.

    Blocking key = the ``n_planes``-bit signature — a self equi-join that
    shuffles on a ~2^n_planes-ary uniform key, so pair work is
    O(Σ bucket²) ≈ O(N²/2^n_planes), not label-blocked O(N²/10). Cosine
    near-duplicates agree on most hyperplane signs, so high-threshold pairs
    land in the same bucket with high probability; missed cross-bucket
    pairs are the standard LSH recall trade, tunable via n_planes (fewer
    planes = bigger buckets = higher recall, more work).

    Deterministic plane constants (:func:`hyperplanes`) keep the DuckDB
    twin expressible: the oracle restates the signature with the same
    literals (:func:`lsh_signature_sql`).
    """
    pairs, score = _bucket_self_join(vectors, dim, n_planes, seed,
                                     id_col, vec_col)
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(score, 4).alias("score"))
        .filter(F.col("score") >= threshold)
    )


def ann_lsh_topk(queries: DataFrame, candidates: DataFrame,
                 dim: int, k: int = 5, n_planes: int = 8, seed: int = 42,
                 q_id: str = "q_id", c_id: str = "c_id",
                 q_vec: str = "q_vec", c_vec: str = "c_vec",
                 multiprobe: bool = False) -> DataFrame:
    """Approximate top-k: random-hyperplane signature bucketing + exact
    re-rank inside buckets. The 100 TB path for big query sets: replaces the
    cross join with an equi-join on signature (shuffle-partitionable,
    AQE-skew-splittable). Recall < 1 by construction — callers that need
    exact results use :func:`topk_join`.

    ``multiprobe`` also probes the query's Hamming-1 neighbor buckets
    (:func:`lsh_probes`; Lv et al., VLDB 2007): neighbors just across one
    hyperplane are recovered without more hash tables. Only the query
    side explodes, ×(n_planes+1); the corpus is still hashed once.

    Deterministic (hash-derived planes, rounded scores, :func:`rank_topk`),
    so a SQL oracle restates either probe mode exactly.
    """
    planes = hyperplanes(dim, n_planes, seed)
    qs = queries.withColumn("_sig", lsh_signature(F.col(q_vec), planes)) \
        .withColumn("_qn", norm(F.col(q_vec)))
    if multiprobe:
        qs = (qs.withColumnRenamed("_sig", "_sig0")
              .withColumn("_sig", F.explode(lsh_probes(F.col("_sig0"),
                                                       n_planes)))
              .drop("_sig0"))
    cs = candidates.withColumn("_sig", lsh_signature(F.col(c_vec), planes)) \
        .withColumn("_cn", norm(F.col(c_vec)))
    j = cs.join(qs, "_sig").filter(F.col(q_id) != F.col(c_id))
    score = cosine_from_norms(F.col(q_vec), F.col(c_vec),
                              F.col("_qn"), F.col("_cn"))
    scored = j.select(q_id, c_id, F.round(score, 4).alias("score"))
    return rank_topk(scored, k, q_id, c_id)


# ------------------------------------------------- int8 storage quantization

def quantize_int8(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5). The storage/bandwidth rung of the
    vector surface — at 100 TB a float32 embedding column is the dominant
    byte cost, and int8 + one float scale per vector is the standard 4x
    shrink (FAISS SQ8 / Pinecone compressed-index layout; the reference
    stores raw float32 via pinecone upsert, /root/reference/src/pinecone_utils.py:64-92).

    Everything is an elementwise Catalyst expression (transform/aggregate
    folds, no UDF, no shuffle — a pure narrow map over the corpus). The
    returned audit columns are exact integers so the result is
    hash-comparable cross-engine:

    - ``scale_q``      floor(scale * 1e9 + 0.5) — the quantizer step on a
                        1e-9 grid;
    - ``q_l1``         Σ|q_i| — total quantized mass;
    - ``q_idx_sum``    Σ q_i * i (1-based) — an order-sensitive checksum
                        that pins every element, not just the multiset;
    - ``max_err_q``    max_i |q_i*scale - x_i| on a 1e-9 grid — the
                        reconstruction-error bound (≤ scale/2 by
                        construction, asserted in tests).

    Zero vectors (scale = 0) quantize to all-zero with zero error.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.select(F.col(id_col), v.alias("_v"))
    out = out.withColumn("_scale", F.array_max(F.transform("_v", F.abs)) / 127.0)
    qv = F.when(F.col("_scale") == 0,
                F.transform("_v", lambda x: F.lit(0).cast("bigint"))) \
        .otherwise(F.transform(
            "_v", lambda x: F.floor(x / F.col("_scale") + 0.5)))
    out = out.withColumn("_q", qv)
    idx = F.sequence(F.lit(1).cast("bigint"), F.size("_q").cast("bigint"))
    err = F.array_max(F.zip_with(
        "_q", "_v",
        lambda q, x: F.floor(F.abs(q.cast("double") * F.col("_scale") - x)
                             * 1e9 + 0.5)))
    return out.select(
        F.col(id_col),
        F.floor(F.col("_scale") * 1e9 + 0.5).cast("bigint").alias("scale_q"),
        F.aggregate("_q", F.lit(0).cast("bigint"),
                    lambda s, x: s + F.abs(x)).alias("q_l1"),
        F.aggregate(F.zip_with("_q", idx, lambda q, i: q * i),
                    F.lit(0).cast("bigint"),
                    lambda s, x: s + x).alias("q_idx_sum"),
        F.when(F.col("_scale") == 0, F.lit(0).cast("bigint"))
        .otherwise(err.cast("bigint")).alias("max_err_q"),
    )


def quantize_int8_sql(table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding") -> str:
    """DuckDB twin of :func:`quantize_int8` — same elementwise math over
    ``list_transform`` lambdas, exact-integer outputs."""
    return f"""
WITH v AS (
  SELECT {id_col}, {vec_col}::DOUBLE[] AS emb FROM {table}
), s AS (
  SELECT {id_col}, emb,
         list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
  FROM v
), q AS (
  SELECT {id_col}, emb, scale,
    CASE WHEN scale = 0
         THEN list_transform(emb, x -> CAST(0 AS BIGINT))
         ELSE list_transform(emb, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
    END AS qv
  FROM s
)
SELECT {id_col},
  CAST(floor(scale * 1000000000.0 + 0.5) AS BIGINT) AS scale_q,
  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
  CAST(list_sum(list_transform(range(1, len(qv) + 1),
                               i -> qv[i] * i)) AS BIGINT) AS q_idx_sum,
  CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(list_max(list_transform(range(1, len(qv) + 1),
             i -> floor(abs(qv[i] * scale - emb[i]) * 1000000000.0 + 0.5)))
            AS BIGINT)
  END AS max_err_q
FROM q
"""


# ----------------------------------------------- shared exact-rerank stage

def exact_rerank(survivors: DataFrame, queries: DataFrame,
                 candidates: DataFrame, k: int = 5,
                 q_id: str = "q_id", c_id: str = "c_id",
                 q_vec: str = "q_vec", c_vec: str = "c_vec") -> DataFrame:
    """Full-precision rerank of a small (q_id, c_id) survivor list from any
    prefilter (truncated-prefix, ADC, LSH): two broadcast joins pull the
    true vectors for Q x k_prefilter pairs only — the corpus is never
    shuffled — then exact cosine and :func:`rank_topk`."""
    pairs = (
        candidates.join(F.broadcast(survivors.select(q_id, c_id)), c_id)
        .join(F.broadcast(queries), q_id)
    )
    score = cosine(F.col(q_vec), F.col(c_vec))
    scored = pairs.select(q_id, c_id, F.round(score, 4).alias("score"))
    return rank_topk(scored, k, q_id, c_id)


# --------------------------------------- truncated-dimension prefilter rerank

def truncated_rerank_topk(queries: DataFrame, candidates: DataFrame,
                          k: int = 5, prefix_dims: int = 16,
                          k_coarse: int = 50,
                          q_id: str = "q_id", c_id: str = "c_id",
                          q_vec: str = "q_vec", c_vec: str = "c_vec") -> DataFrame:
    """Matryoshka-style two-stage top-k: coarse-score on the first
    ``prefix_dims`` dimensions, keep ``k_coarse`` candidates per query,
    exact-rerank the survivors on the full vector.

    The scale rationale: stage 1 reads prefix_dims/d of the vector bytes
    (with a prefix-sliced projection the parquet scan shrinks by the same
    ratio) and does prefix_dims/d of the multiplies; stage 2 touches only
    Q x k_coarse full vectors. Against brute force over N candidates the
    arithmetic drops from O(Q*N*d) to O(Q*N*prefix) + O(Q*k_coarse*d).
    Unlike LSH/IVF the coarse stage is still a dense scored ordering, so
    recall degrades gracefully with the information content of the prefix
    (the Matryoshka-representation-learning deployment pattern).

    Fully deterministic (score rounded to 4 decimals, ties by candidate
    id), so unlike the LSH/IVF rungs this one carries a full DuckDB hash
    oracle. Both stages are broadcast joins — queries broadcast in stage
    1, the (q_id, c_id) survivor list broadcasts in stage 2 — the
    candidate corpus is never shuffled.
    """
    q_trunc = queries.select(q_id, F.slice(F.col(q_vec), 1, prefix_dims)
                             .alias(q_vec))
    c_trunc = candidates.select(c_id, F.slice(F.col(c_vec), 1, prefix_dims)
                                .alias(c_vec))
    coarse = topk_join(q_trunc, c_trunc, k=k_coarse,
                       q_id=q_id, c_id=c_id, q_vec=q_vec, c_vec=c_vec)
    return exact_rerank(coarse, queries, candidates, k=k,
                        q_id=q_id, c_id=c_id, q_vec=q_vec, c_vec=c_vec)


# --------------------------------------------- binary (1-bit) quantization

def sign_pack(vec: Column, dim: int = 64) -> tuple[Column, Column]:
    """Sign-bit packing: a ``dim``-float vector becomes two BIGINTs (bit j
    of ``lo`` = vec[j] >= 0 for j < 32; ``hi`` covers 32..63) — the 1-bit
    storage rung (32x vs float32, below int8's 4x and PQ's 64x-with-
    codebooks). Deterministic pure bit arithmetic on both engines, so
    it supports a full hash oracle."""
    if dim != 64:
        raise ValueError(f"sign_pack is specified for dim=64, got {dim}")
    half = dim // 2

    def pack(sl: Column) -> Column:
        # 2^i via double pow (shiftleft needs a literal shift): the sum of
        # distinct powers is < 2^32 — far inside double's exact-integer
        # range — so the bigint cast is exact
        return F.aggregate(
            F.transform(sl, lambda x, i: F.when(
                x >= 0, F.pow(F.lit(2.0), i.cast("double")))
                .otherwise(F.lit(0.0))),
            F.lit(0.0), lambda a, b: a + b).cast("bigint")

    return (pack(F.slice(vec, 1, half)), pack(F.slice(vec, half + 1, half)))


def binary_hamming_topk(queries: DataFrame, candidates: DataFrame,
                        dim: int = 64, k: int = 5, k_coarse: int = 50,
                        q_id: str = "q_id", c_id: str = "c_id",
                        q_vec: str = "q_vec", c_vec: str = "c_vec") -> DataFrame:
    """Binary-quantized retrieval: coarse top-``k_coarse`` per query by
    Hamming distance over the sign packs (XOR + popcount on two longs —
    whole-stage-codegen integer ops, 64 floats of multiply become 2 XORs),
    then exact cosine rerank of the survivors to top-``k``.

    The coarse compare touches 16 BYTES per candidate (vs 256 for raw
    float32), so at 100 TB the scan is 32x smaller and the per-pair cost
    is 2 xor+popcount — the cheapest rung of the ladder; recall comes
    back via the exact rerank, the v16 two-stage pattern. Queries
    broadcast; the corpus is never shuffled. Deterministic end-to-end
    (integer distances, id tie-breaks) => full DuckDB hash oracle."""
    q_lo, q_hi = sign_pack(F.col(q_vec), dim)
    c_lo, c_hi = sign_pack(F.col(c_vec), dim)
    qp = queries.select(q_id, q_lo.alias("_qlo"), q_hi.alias("_qhi"))
    cp = candidates.select(c_id, c_lo.alias("_clo"), c_hi.alias("_chi"))
    ham = (F.bit_count(F.col("_qlo").bitwiseXOR(F.col("_clo")))
           + F.bit_count(F.col("_qhi").bitwiseXOR(F.col("_chi"))))
    w = Window.partitionBy(q_id).orderBy(F.asc("ham"), F.asc(c_id))
    coarse = (
        cp.crossJoin(F.broadcast(qp))
        .filter(F.col(c_id) != F.col(q_id))
        .select(q_id, c_id, ham.alias("ham"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k_coarse)
    )
    return exact_rerank(coarse, queries, candidates, k=k,
                        q_id=q_id, c_id=c_id, q_vec=q_vec, c_vec=c_vec)


# ----------------------------------------------------------- kNN graph

def cosine_parity_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine` with the SAME evaluation shape
    (dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))), zero-vector → 0.0).
    ``list_dot_product`` folds left-to-right exactly like the Spark
    ``aggregate`` (the bit-parity claim :func:`lsh_signature_sql` already
    rides on), so callers may floor-grid the result instead of rounding
    at display precision."""
    na, nb = f"sqrt(list_dot_product({a},{a}))", f"sqrt(list_dot_product({b},{b}))"
    return (f"CASE WHEN {na} * {nb} = 0 THEN 0.0 "
            f"ELSE list_dot_product({a},{b}) / ({na} * {nb}) END")


def _knn_edges(vectors: DataFrame, dim: int, k: int, n_planes: int,
               seed: int, id_col: str, vec_col: str) -> DataFrame:
    """(id_a, id_b, score_q, rank): each vector's ``k`` nearest in-bucket
    neighbours on the 1e-4 score grid, id tie-break — the kNN graph."""
    pairs, score = _bucket_self_join(vectors, dim, n_planes, seed,
                                     id_col, vec_col)
    pairs = (pairs.filter(F.col("id_a") != F.col("id_b"))
             .select("id_a", "id_b",
                     F.floor(score * F.lit(10000.0) + F.lit(0.5))
                     .cast("long").alias("score_q")))
    w = Window.partitionBy("id_a").orderBy(F.desc("score_q"), F.asc("id_b"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def knn_graph_stats(vectors: DataFrame, dim: int, k: int = 3,
                    n_planes: int = 6, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """LSH-blocked mutual-kNN graph over an embedding column — the
    similarity-graph construction under diversity pruning / SemDeDup-style
    curation and graph-based cluster quality checks: each vector's k
    nearest in-bucket neighbours become directed edges; an edge is MUTUAL
    when both endpoints pick each other.

    Returns one row per vector that has at least one in-bucket neighbour:
    ``(id, out_deg, mutual_deg, top1_id)`` — all BIGINT (ranking happens
    on the 1e-4 score grid with an id tie-break, so the integer outputs
    carry a full DuckDB oracle; no float column leaves the operator).

    Plan at 100 TB: the only shuffle of the vector set is the signature
    equi-join of :func:`_knn_edges` (uniform 2^n_planes-ary key); pair
    volume is O(Σ bucket²), never all-pairs.
    The mutual check is a count window over the UNORDERED pair key
    (least, greatest) — an edge is mutual iff its unordered pair holds
    both directions (count == 2; directed pairs are unique by
    construction), which shuffles ≤ k·N ids-only rows once and runs the
    LSH chain once.
    """
    edges = _knn_edges(vectors, dim, k, n_planes, seed, id_col, vec_col)
    wp = Window.partitionBy(F.least("id_a", "id_b"),
                            F.greatest("id_a", "id_b"))
    flagged = edges.withColumn(
        "_m", F.when(F.count("*").over(wp) == 2, F.lit(1))
        .otherwise(F.lit(0)))
    return (flagged.groupBy("id_a")
            .agg(F.count("*").cast("bigint").alias("out_deg"),
                 F.sum("_m").cast("bigint").alias("mutual_deg"),
                 F.min(F.when(F.col("rank") == 1, F.col("id_b")))
                 .cast("bigint").alias("top1_id"))
            .select(F.col("id_a").alias(id_col), "out_deg", "mutual_deg",
                    "top1_id"))


def knn_graph_stats_sql(table: str = "embeddings", dim: int = 64,
                        k: int = 3, n_planes: int = 6, seed: int = 42,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> str:
    """DuckDB twin of :func:`knn_graph_stats` — restates the plane
    literals, the parity cosine, the 1e-4 grid, and the rank tie-break."""
    sig = lsh_signature_sql(f"{vec_col}::DOUBLE[]", hyperplanes(dim, n_planes, seed))
    return f"""
WITH sig AS (
  SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v, {sig} AS s FROM {table}
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
    CAST(floor({cosine_parity_sql('a.v', 'b.v')} * 10000.0 + 0.5)
         AS BIGINT) AS score_q
  FROM sig a JOIN sig b ON a.s = b.s AND a.id <> b.id
), edges AS (
  SELECT id_a, id_b, score_q,
    row_number() OVER (PARTITION BY id_a
                       ORDER BY score_q DESC, id_b ASC) AS rank
  FROM pairs QUALIFY rank <= {k}
)
SELECT e.id_a AS {id_col},
  CAST(count(*) AS BIGINT) AS out_deg,
  CAST(sum(CASE WHEN r.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS mutual_deg,
  CAST(min(CASE WHEN e.rank = 1 THEN e.id_b END) AS BIGINT) AS top1_id
FROM edges e LEFT JOIN edges r ON e.id_a = r.id_b AND e.id_b = r.id_a
GROUP BY e.id_a
"""


# ------------------------------------------------------------- graph ranking

PR_SCALE = 1_000_000
PR_BASE = 150_000  # floor(0.15 * PR_SCALE) — the damping teleport term


def graph_pagerank(vectors: DataFrame, dim: int, k: int = 3,
                   n_planes: int = 6, seed: int = 42, iters: int = 4,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """PageRank over the MUTUAL-kNN similarity graph — graph centrality as
    a curation signal (PageRank-style centrality picks *representative*
    documents inside semantic neighborhoods; low-rank isolates are
    outliers). The graph is the mutual subgraph of :func:`knn_graph_stats`
    (edge kept only when both endpoints choose each other; both operators
    build their edges with :func:`_knn_edges`), so ``deg`` equals
    knn_graph_stats' ``mutual_deg`` and the graph is symmetric: every
    node has out_deg == in_deg == deg ∈ [1, k], so there are no dangling
    nodes and each iteration is one bounded equi-join.

    INTEGER-EXACT damped iteration (hash-oracle-able, no float channel):
    rank is a BIGINT on the 1e-6 grid, rank_0 = PR_SCALE, and

        rank_{t+1}(v) = PR_BASE + (85 * Σ_{u~v} (rank_t(u) div deg(u))) div 100

    with `div` = integer division — both engines evaluate the identical
    integer recurrence, so ``iters`` unrolled rounds match DuckDB's
    unrolled CTEs bit-for-bit.

    Plan at 100 TB: the mutual subgraph (knn_graph_stats' count window
    over the unordered pair key) and the source degree (a count window
    over src) are derived in ONE pass. The (src, dst, deg) edge list
    (≤ k·N rows, 3 longs wide) is localCheckpointed ONCE and every
    downstream relation — deg, the rank init, and each of the ``iters``
    rounds' join(edges, ranks) → groupBy(dst) — reads the checkpoint, so
    the LSH chain executes exactly once per run. Returns (id, deg, pr_q)."""
    edges = _knn_edges(vectors, dim, k, n_planes, seed, id_col, vec_col) \
        .select("id_a", "id_b")
    wp = Window.partitionBy(F.least("id_a", "id_b"),
                            F.greatest("id_a", "id_b"))
    mutual = (edges.withColumn("_c", F.count("*").over(wp))
              .filter(F.col("_c") == 2)
              .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    # one edge relation carrying the source degree, reused every round —
    # truncate lineage so the LSH join runs once, not once per derived
    # relation. repartition on src BEFORE the checkpoint: the
    # checkpointed plan keeps its outputPartitioning, so each
    # iteration's join(e, pr) re-shuffles only the (id, pr) rank rows
    # and never the edge list
    e = (mutual.withColumn(
            "deg", F.count("*").over(Window.partitionBy("src"))
            .cast("long"))
         .repartition("src")
         .localCheckpoint(eager=True))
    deg = e.groupBy("src").agg(F.min("deg").alias("deg"))
    pr = deg.select(F.col("src").alias("id"),
                    F.lit(PR_SCALE).cast("long").alias("pr"))
    for _ in range(iters):
        pr = (e.join(pr, e.src == pr.id)
              .select(F.col("dst"), F.expr("pr div deg").alias("c"))
              .groupBy("dst")
              .agg(F.sum("c").alias("s"))
              .select(F.col("dst").alias("id"),
                      (F.lit(PR_BASE)
                       + F.expr("(85 * s) div 100")).cast("long")
                      .alias("pr")))
    return (deg.join(pr, deg.src == pr.id)
            .select(F.col("src").alias(id_col), F.col("deg"),
                    F.col("pr").alias("pr_q")))


def graph_pagerank_sql(table: str = "embeddings", dim: int = 64,
                       k: int = 3, n_planes: int = 6, seed: int = 42,
                       iters: int = 4, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> str:
    """DuckDB twin of :func:`graph_pagerank` — same plane literals, grid,
    tie-breaks, and the identical integer recurrence unrolled as one CTE
    per iteration (`//` on positive BIGINTs == Spark's `div`)."""
    sig = lsh_signature_sql(f"{vec_col}::DOUBLE[]",
                            hyperplanes(dim, n_planes, seed))
    it_ctes = []
    prev = "r0"
    for t in range(1, iters + 1):
        it_ctes.append(f"""r{t} AS (
  SELECT m.dst AS id,
    {PR_BASE} + (85 * sum(p.pr // d.deg)) // 100 AS pr
  FROM mutual m
  JOIN {prev} p ON m.src = p.id
  JOIN deg d ON m.src = d.src
  GROUP BY m.dst
)""")
        prev = f"r{t}"
    return f"""
WITH sig AS (
  SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v, {sig} AS s FROM {table}
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
    CAST(floor({cosine_parity_sql('a.v', 'b.v')} * 10000.0 + 0.5)
         AS BIGINT) AS score_q
  FROM sig a JOIN sig b ON a.s = b.s AND a.id <> b.id
), edges AS (
  SELECT id_a, id_b,
    row_number() OVER (PARTITION BY id_a
                       ORDER BY score_q DESC, id_b ASC) AS rank
  FROM pairs QUALIFY rank <= {k}
), mutual AS (
  SELECT e.id_a AS src, e.id_b AS dst FROM edges e
  WHERE EXISTS (SELECT 1 FROM edges r
                WHERE e.id_a = r.id_b AND e.id_b = r.id_a)
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM mutual GROUP BY src
), r0 AS (
  SELECT src AS id, CAST({PR_SCALE} AS BIGINT) AS pr FROM deg
), {', '.join(it_ctes)}
SELECT d.src AS {id_col}, d.deg, CAST(p.pr AS BIGINT) AS pr_q
FROM deg d JOIN {prev} p ON d.src = p.id
"""
