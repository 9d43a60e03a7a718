"""Persisted ANN index: build once, query many times with partition-pruned
reads.

The reference keeps its vectors in a hosted index and queries it per
document (`/root/reference/src/pinecone_utils.py:46-53` — upsert + top-k
query against Pinecone). The engine's batch twin is a PARQUET-NATIVE index:
vectors written once, PARTITIONED BY their hyperplane-LSH signature, so a
later query session reads ONLY the bucket directories its query signatures
touch (the vector-search equivalent of v6_namespace_scoped's partition
pruning, plan-tested in tests/test_ann_index.py).

Layout of ``<index_dir>``:

- ``vectors/sig=<s>/`` — (c_id, c_vec, c_norm) parquet rows of bucket s.
- ``meta.json`` — dim, n_planes, seed, n_vectors and the stored vector
  schema, written last through the Hadoop filesystem API and read on the
  driver, so opening an index runs no Spark job. ``n_vectors`` comes from
  an ``Observation`` on the vector write itself (an append adds to it),
  not from reading the index back.

Every reader goes through :func:`read_index_vectors`: it hands the parquet
reader one glob of the probed ``sig=`` directories, which Spark expands
against a fresh listing of ``vectors/`` on the driver at each call (so a
bucket an append created is seen), and the stored schema. Only probed
buckets that exist are scanned: no schema inference and no listing of
buckets nobody probes. The ``sig`` filter stays in the plan, so
PartitionFilters still show the pruning.

Why this matters at 100 TB: the in-memory rungs (similarity.ann_lsh_topk &
friends) re-hash the whole corpus per query batch — right for one-shot
joins, wasteful for a serving/repeated-audit pattern. Persisting the
signature as the PHYSICAL layout amortizes the corpus scan: a query batch
with S distinct probe signatures scans S/2^n_planes of the data.

Determinism contract: planes derive from (seed, n_planes, dim) via
similarity.hyperplanes — a rebuilt index over the same vectors holds the
same rows in the same buckets, and queries against it reproduce
similarity.ann_lsh_topk bit-for-bit in either probe mode (same planes,
probes, rounding and tie-break — asserted by test). A vector or query
whose size is not the index's dimension is refused with a ValueError
(``zip_with`` would pad the shorter side with NULLs and bucket it in
``sig=0``).
"""

from __future__ import annotations

import json

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.io import (
    _hadoop_fs,
    ensure_parallelism,
)
from multiagent_document_etl_system_spark.operators.similarity import (
    cosine_from_norms,
    hyperplanes,
    lsh_probes,
    lsh_signature,
    norm,
    rank_topk,
)


def _meta_path(index_dir: str) -> str:
    return f"{index_dir.rstrip('/')}/meta.json"


def _vectors_dir(index_dir: str) -> str:
    return f"{index_dir.rstrip('/')}/vectors"


def _wrong_dim(vec: Column, dim: int) -> Column:
    """True where ``vec`` is not ``dim``-d (a NULL vector included)."""
    return ~F.coalesce(F.size(vec) == dim, F.lit(False))


def _refuse_wrong_dim(n_wrong: int, dim: int, what: str) -> None:
    if n_wrong:
        raise ValueError(f"{n_wrong} {what} vector(s) are not {dim}-d, "
                         "the index's dimension")


def _write_meta(spark: SparkSession, index_dir: str, meta: dict) -> None:
    path = _meta_path(index_dir)
    fs, HPath = _hadoop_fs(spark, path)
    out = fs.create(HPath(path), True)
    try:
        out.write(bytearray(json.dumps(meta).encode()))
    finally:
        out.close()


def load_ann_meta(spark: SparkSession, index_dir: str) -> dict:
    """The index's meta (dim, n_planes, seed, n_vectors, vector_schema),
    read on the driver: no Spark job."""
    path = _meta_path(index_dir)
    fs, HPath = _hadoop_fs(spark, path)
    if not fs.exists(HPath(path)):
        raise FileNotFoundError(
            f"{path} not found: {index_dir} is not an ANN index of this "
            "format (an index whose meta is a meta/ parquet directory was "
            "written by an older version); rebuild it with build_ann_index")
    stream = fs.open(HPath(path))
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def read_index_vectors(spark: SparkSession, index_dir: str, meta: dict,
                       sigs: list[int] | None = None) -> DataFrame:
    """The stored (c_id, c_vec, c_norm, sig) rows of the buckets in
    ``sigs`` (every bucket when None) — the one reader of the index.

    The parquet reader gets one glob over ``vectors/``, which Spark expands
    on the driver with one fresh listing, so a bucket an append created is
    seen and only probed buckets that exist become scan roots; the stored
    schema spares it the footer read. When no probed bucket exists the
    result is an empty frame of that schema, which reads nothing."""
    vdir = _vectors_dir(index_dir)
    schema = meta["vector_schema"]
    if sigs is not None and not sigs:
        return spark.createDataFrame([], schema)
    pick = "*" if sigs is None else "{" + ",".join(map(str, sigs)) + "}"
    try:
        rows = (spark.read.schema(schema).option("basePath", vdir)
                .parquet(f"{vdir}/sig={pick}"))
    except AnalysisException as e:
        fs, HPath = _hadoop_fs(spark, vdir)
        if e.getCondition() != "PATH_NOT_FOUND" or not fs.exists(HPath(vdir)):
            raise
        return spark.createDataFrame([], schema)
    if sigs is None:
        return rows
    # one parsed IN: a Column per literal costs a driver round trip each
    return rows.filter(F.expr(f"sig IN ({', '.join(map(str, sigs))})"))


def _write_index(vectors: DataFrame, index_dir: str, meta: dict,
                 mode: str, id_col: str, vec_col: str) -> dict:
    """Write ``vectors`` as (c_id, c_vec, c_norm) rows partitioned by sig
    under ``meta``'s planes, counting them (and any of the wrong
    dimension) in the write itself; then the meta, unless a vector was
    refused.

    The projection's folds are the build's CPU work, so a small input is
    first spread over the session's cores (``io.ensure_parallelism``);
    the write shuffles to a fixed count of that many tasks, which AQE
    does not coalesce back onto one. One task per bucket keeps one file
    per bucket per write, sorted by id."""
    spark = vectors.sparkSession
    dim = meta["dim"]
    planes = hyperplanes(dim, meta["n_planes"], meta["seed"])
    vec = F.col(vec_col)
    rows = ensure_parallelism(vectors).select(
        F.col(id_col).alias("c_id"),
        vec.alias("c_vec"),
        norm(vec).alias("c_norm"),
        lsh_signature(vec, planes).alias("sig"),
    )
    written = Observation()
    (
        rows.observe(written, F.count(F.lit(1)).alias("n"),
                     F.count_if(_wrong_dim(F.col("c_vec"), dim))
                     .alias("wrong"))
        .repartition(spark.sparkContext.defaultParallelism, "sig")
        .sortWithinPartitions("sig", "c_id")
        .write.mode(mode).partitionBy("sig")
        .parquet(_vectors_dir(index_dir))
    )
    counts = written.get
    _refuse_wrong_dim(counts["wrong"], dim, "indexed")
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in rows.schema.fields)
    meta = {**meta, "n_vectors": meta.get("n_vectors", 0) + counts["n"],
            "vector_schema": meta.get("vector_schema", schema)}
    _write_meta(spark, index_dir, meta)
    return meta


def build_ann_index(vectors: DataFrame, index_dir: str,
                    n_planes: int = 8, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> dict:
    """Write ``<index_dir>/vectors`` (id, vec, norm — partitioned by the
    ``n_planes``-bit LSH signature) + ``<index_dir>/meta.json`` (dim,
    n_planes, seed, n_vectors, vector_schema). Rebuild = rerun; queries
    never restart. The dimension is the first vector's; if any other
    differs, the build raises and writes no meta, so the half-built
    index cannot be opened.

    The vector norm is precomputed at build time — the only per-row float
    work a query then does is the dot product against its own bucket.
    """
    first = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("cannot index an empty vector set")
    spark = vectors.sparkSession
    # an earlier build's meta must not open a failed rebuild
    fs, HPath = _hadoop_fs(spark, index_dir)
    fs.delete(HPath(_meta_path(index_dir)), False)
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
    MERGE INTO, exactly the io.upsert_parquet note), and so does a vector
    of another dimension than the index's. Both are counted by one job
    over the incoming rows and a column-pruned scan of the stored ids,
    before anything is written.
    """
    spark = vectors.sparkSession
    meta = load_ann_meta(spark, index_dir)
    stored = read_index_vectors(spark, index_dir, meta).select(
        "c_id", F.lit(True).alias("_stored"))
    found = (
        vectors.select(F.col(id_col).alias("c_id"),
                       _wrong_dim(F.col(vec_col), meta["dim"]).alias("_wrong"))
        .join(stored, "c_id", "left")
        .agg(F.count_if("_wrong").alias("wrong"),
             F.count("_stored").alias("dup"))
        .first()
    )
    _refuse_wrong_dim(found["wrong"], meta["dim"], "incoming")
    if found["dup"]:
        raise ValueError(
            f"{found['dup']} incoming id(s) already exist in the index; "
            "append is new-ids-only (rebuild, or MERGE on a "
            "transactional format, to re-embed)")
    return _write_index(vectors, index_dir, meta, "append", id_col, vec_col)


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
    scan + signature equi-join do the real work on the cluster. The same
    collect counts the query vectors of the wrong dimension, which raise.
    ``multiprobe`` adds every Hamming-1 neighbor bucket (the recall lever,
    same semantics as ``similarity.ann_lsh_topk(multiprobe=True)``).
    """
    meta = load_ann_meta(spark, index_dir)
    dim, n_planes = meta["dim"], meta["n_planes"]
    planes = hyperplanes(dim, n_planes, meta["seed"])
    qs = hash_queries(queries, planes, q_id, q_vec)
    probes = lsh_probes(F.col("sig"), n_planes) if multiprobe \
        else F.array("sig")
    # one global aggregate: at most 2^n_planes distinct probe lists come
    # back, whatever the batch size
    found = qs.agg(
        F.collect_set(probes).alias("probes"),
        F.count_if(_wrong_dim(F.col("q_vec"), dim)).alias("wrong"),
    ).first()
    _refuse_wrong_dim(found["wrong"], dim, "query")
    probe_sigs = sorted({s for p in found["probes"] for s in p})
    if multiprobe:
        qs = qs.withColumn("sig", F.explode(probes))
    cand = read_index_vectors(spark, index_dir, meta, probe_sigs)
    j = cand.join(qs, "sig")
    if exclude_self:
        j = j.filter(F.col("q_id") != F.col("c_id"))
    score = cosine_from_norms(F.col("q_vec"), F.col("c_vec"),
                              F.col("_qn"), F.col("c_norm"))
    scored = j.select("q_id", "c_id", F.round(score, 4).alias("score"))
    return rank_topk(scored, k)
