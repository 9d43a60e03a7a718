"""Persisted ANN index: build once, query many times with partition-pruned
reads.

The reference keeps its vectors in a hosted index and queries it per
document (`/root/reference/src/pinecone_utils.py:46-53` — upsert + top-k
query against Pinecone). The engine's batch twin is a PARQUET-NATIVE index:
vectors written once, PARTITIONED BY their hyperplane-LSH signature, so a
later query session reads ONLY the bucket directories its query signatures
touch (PartitionFilters prune at file-listing time — the vector-search
equivalent of v6_namespace_scoped's partition pruning, plan-tested in
tests/test_ann_index.py).

Why this matters at 100 TB: the in-memory rungs (similarity.ann_lsh_topk &
friends) re-hash the whole corpus per query batch — right for one-shot
joins, wasteful for a serving/repeated-audit pattern. Persisting the
signature as the PHYSICAL layout amortizes the corpus scan: a query batch
with S distinct probe signatures scans S/2^n_planes of the data.

Determinism contract: planes derive from (seed, n_planes, dim) via
similarity.hyperplanes — a rebuilt index over the same vectors is
byte-stable, and queries against it reproduce similarity.ann_lsh_topk
bit-for-bit in either probe mode (same planes, probes, rounding and
tie-break — asserted by test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.operators.similarity import (
    cosine_from_norms,
    hyperplanes,
    lsh_probes,
    lsh_signature,
    norm,
    rank_topk,
)


def _write_index(vectors: DataFrame, index_dir: str, meta: dict,
                 mode: str, id_col: str, vec_col: str) -> dict:
    """Write ``vectors`` as (c_id, c_vec, c_norm) rows partitioned by sig
    under ``meta``'s planes, then the meta row with the stored count."""
    planes = hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    (
        vectors.select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            norm(F.col(vec_col)).alias("c_norm"),
            lsh_signature(F.col(vec_col), planes).alias("sig"),
        )
        .repartition("sig")
        .write.mode(mode).partitionBy("sig")
        .parquet(f"{index_dir}/vectors")
    )
    spark = vectors.sparkSession
    n = spark.read.parquet(f"{index_dir}/vectors").count()
    meta = dict(meta, n_vectors=n)
    spark.createDataFrame(
        [tuple(meta.values())],
        "dim int, n_planes int, seed int, n_vectors long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/meta")
    return meta


def build_ann_index(vectors: DataFrame, index_dir: str,
                    n_planes: int = 8, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> dict:
    """Write ``<index_dir>/vectors`` (id, vec, norm — partitioned by the
    ``n_planes``-bit LSH signature) + ``<index_dir>/meta`` (1 row: dim,
    n_planes, seed, n_vectors). Rebuild = rerun; queries never restart.

    The vector norm is precomputed at build time — the only per-row float
    work a query then does is the dot product against its own bucket.
    """
    first = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("cannot index an empty vector set")
    meta = {"dim": int(first["d"]), "n_planes": n_planes, "seed": seed}
    return _write_index(vectors, index_dir, meta, "overwrite",
                        id_col, vec_col)


def append_ann_index(vectors: DataFrame, index_dir: str,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> dict:
    """Incrementally add NEW vectors to an existing index — the bounded
    path for a growing corpus: each appended vector lands as new files in
    its signature's partition directory; nothing existing is rewritten.

    Append-only by contract: an id already in the index raises (a true
    MERGE that relocates a re-embedded id across signature partitions
    needs a transactional table format — on Delta/Iceberg this becomes
    MERGE INTO, exactly the io.upsert_parquet note). The collision check
    is one column-pruned scan of the stored ids, not a data read.
    """
    spark = vectors.sparkSession
    meta = load_ann_meta(spark, index_dir)
    existing_ids = spark.read.parquet(f"{index_dir}/vectors").select("c_id")
    n_dup = (vectors.select(F.col(id_col).alias("c_id"))
             .join(existing_ids, "c_id", "left_semi").count())
    if n_dup:
        raise ValueError(
            f"{n_dup} incoming id(s) already exist in the index; "
            "append is new-ids-only (rebuild, or MERGE on a "
            "transactional format, to re-embed)")
    return _write_index(vectors, index_dir, meta, "append", id_col, vec_col)


def load_ann_meta(spark: SparkSession, index_dir: str) -> dict:
    row = spark.read.parquet(f"{index_dir}/meta").first()
    return {k: int(row[k]) for k in ("dim", "n_planes", "seed", "n_vectors")}


def hash_queries(queries: DataFrame, planes: list[list[float]],
                 q_id: str = "q_id", q_vec: str = "q_vec") -> DataFrame:
    """(q_id, q_vec, _qn, sig): queries with their norm and signature under
    the index's ``planes`` — the one projection of the batch and the
    streaming (registry ``st_ann_stream``) index queries."""
    return queries.select(
        F.col(q_id).alias("q_id"),
        F.col(q_vec).alias("q_vec"),
        norm(F.col(q_vec)).alias("_qn"),
        lsh_signature(F.col(q_vec), planes).alias("sig"),
    )


def ann_index_topk(spark: SparkSession, index_dir: str, queries: DataFrame,
                   k: int = 5, multiprobe: bool = False,
                   exclude_self: bool = False,
                   q_id: str = "q_id", q_vec: str = "q_vec") -> DataFrame:
    """Top-k cosine against a persisted index: (q_id, c_id, score, rank).

    Probe signatures are collected to the driver to drive partition
    pruning — a BOUNDED collect by construction: there are at most
    2^n_planes distinct signatures in existence (256 at the default 8
    planes), regardless of corpus or query-batch size, and the pruned
    scan + signature equi-join do the real work on the cluster.
    ``multiprobe`` adds every Hamming-1 neighbor bucket (the recall lever,
    same semantics as ``similarity.ann_lsh_topk(multiprobe=True)``).
    """
    meta = load_ann_meta(spark, index_dir)
    planes = hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    qs = hash_queries(queries, planes, q_id, q_vec)
    if multiprobe:
        qs = (qs.withColumnRenamed("sig", "_sig0")
              .withColumn("sig", F.explode(lsh_probes(F.col("_sig0"),
                                                      meta["n_planes"])))
              .drop("_sig0"))
    # bounded: ≤ min(|queries|·(n_planes+1), 2^n_planes) distinct values
    probe_sigs = [r["sig"] for r in qs.select("sig").distinct().collect()]
    cand = (
        spark.read.parquet(f"{index_dir}/vectors")
        .filter(F.col("sig").isin(probe_sigs))
    )
    j = cand.join(qs, "sig")
    if exclude_self:
        j = j.filter(F.col("q_id") != F.col("c_id"))
    score = cosine_from_norms(F.col("q_vec"), F.col("c_vec"),
                              F.col("_qn"), F.col("c_norm"))
    scored = j.select("q_id", "c_id", F.round(score, 4).alias("score"))
    return rank_topk(scored, k)
