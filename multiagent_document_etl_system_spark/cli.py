"""Batch CLI — the engine's analogue of the reference's three HTTP entry
points (/root/reference/src/app.py):

- ``process``       POST /process       (src/app.py:46-116): landing dir of
  raw files → parse → full pipeline → parquet sink + one JSON response line
  per the K4 contract (src/agents.py:297-324).
- ``upload-schema`` POST /upload-schema (src/app.py:120-170): register an
  extraction schema — V7 content-hash id + K3 MERGE upsert into the
  parquet-backed schema registry.
- ``stats``         GET /stats          (src/app.py:177-188): engine
  configuration as one JSON object.

Corpus-at-a-time where the reference is request-at-a-time: ``process``
handles a whole directory per invocation; the same transformations run as
a Structured Streaming job for continuous landing (streaming/streamx.py).

Usage:
    python -m multiagent_document_etl_system_spark.cli process <in_dir> <out_dir>
    python -m multiagent_document_etl_system_spark.cli upload-schema \
        <doc_type> '<schema_json>' [--registry PATH]
    python -m multiagent_document_etl_system_spark.cli stats
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
from pathlib import Path

from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.session import get_spark

DEFAULT_REGISTRY = "./schema_registry.parquet"


#: The sources a processed row depends on (parsers and pipeline stages,
#: closed over their package imports; not the fixture writers), and their
#: digest. It is mixed into every ``content_hash``, so an edit to one of
#: them invalidates ``process --incremental`` reuse with no constant to bump.
PIPELINE_SOURCES = (
    "sources/parsers.py", "plans/pipeline.py", "functions/text.py",
    "operators/classify.py", "operators/extract.py", "operators/validate.py")
PIPELINE_VERSION = hashlib.sha256(b"".join(
    (Path(__file__).parent / name).read_bytes()
    for name in PIPELINE_SOURCES)).hexdigest()[:16]


def process_plan(spark, input_dir: str, prior_dir: str | None = None):
    """The ``process`` plan: scan → key → diff → parse only what changed →
    pipeline. Returns ``(output, recomputed, reused)``: the DataFrame to
    write and the Observations (``run_pipeline``'s health metrics) on its
    two union inputs.

    Scan rows keyed ``(doc_id, content_hash)`` that the prior output at
    ``prior_dir`` lacks are parsed (left-anti); prior rows whose key is
    still scanned are carried over (left-semi). ``prior_dir=None`` diffs
    against an empty prior, which the optimizer folds away. The diff
    joins carry (id, hash) pairs only, never text.

    The parse and pipeline run on the scan's own partitions: ``binaryFile``
    packs landing files into partitions by ``openCostInBytes``, so a dir
    of many files already spreads across the cores. Some small file counts
    pack into fewer partitions than cores (on 4 cores, 5 or 9 files scan
    to 3 partitions); such a dir runs on that many tasks. Building the
    plan runs no Spark job.
    """
    from pyspark.sql import Observation

    from multiagent_document_etl_system_spark.io import read_landing_dir
    from multiagent_document_etl_system_spark.plans.pipeline import (
        observe_health,
        run_pipeline,
    )
    from multiagent_document_etl_system_spark.sources.parsers import (
        parse_documents,
        shape_documents,
    )

    def prior(schema):
        if prior_dir is None:
            # limit(0) makes the emptiness visible to the optimizer
            return spark.createDataFrame([], schema).limit(0)
        # an explicit schema skips the footer-inference job; an output
        # without content_hash (or keyed the old way) matches nothing
        return spark.read.schema(schema).parquet(prior_dir)

    keys = ["doc_id", "content_hash"]
    scan = read_landing_dir(spark, input_dir).select(
        F.xxhash64("path").alias("doc_id"),
        F.md5(F.concat(F.lit(PIPELINE_VERSION.encode()), "content"))
        .alias("content_hash"),
        "path", "content",
    )
    todo = scan.join(prior("doc_id bigint, content_hash string"), keys,
                     "left_anti")
    recomputed, reused = Observation("recomputed"), Observation("reused")
    new = run_pipeline(spark, shape_documents(parse_documents(todo)),
                       observation=recomputed)
    kept = observe_health(
        prior(new.schema).join(scan.select(*keys), keys, "left_semi"),
        reused)
    return kept.unionByName(new), recomputed, reused


def cmd_process(args) -> dict:
    """Landing dir → parsed, classified, extracted, validated rows → parquet
    at the output dir, written through a crash-safe swap.

    With ``--incremental`` and an existing output, reuse is keyed on each
    file's content bytes plus ``PIPELINE_VERSION``, the sha256 of the
    files in ``PIPELINE_SOURCES`` (the parsers and the pipeline stages;
    not the fixture writers): only new or changed files are parsed and
    processed, unchanged ones keep their prior rows, deleted ones drop
    out. An edit to a parser or a pipeline stage, or an output written by
    an older release, makes that run recompute every document once. The
    full pass is the same plan run against an empty prior
    (:func:`process_plan`); the summary counts come from Observations on
    the written rows, with no extra job."""
    from multiagent_document_etl_system_spark.io import (
        path_exists,
        safe_overwrite_parquet,
    )

    spark = get_spark("doc-etl-process")
    incremental = (bool(getattr(args, "incremental", False))
                   and path_exists(spark, args.output_dir))
    out, recomputed, reused = process_plan(
        spark, args.input_dir, args.output_dir if incremental else None)
    # the plan may read the prior output: swap-write, never in-place
    safe_overwrite_parquet(spark, out, args.output_dir)
    new, old = recomputed.get, reused.get
    both = lambda k: (new[k] or 0) + (old[k] or 0)  # noqa: E731 — NULL sums
    return {
        "success": True,
        "documents": both("n_docs"),
        "processed_ok": both("n_docs") - both("n_errors"),
        "valid": both("n_valid"),
        "reused": old["n_docs"],
        "recomputed": new["n_docs"],
        "incremental": incremental,
        "output": args.output_dir,
    }


def cmd_upload_schema(args) -> dict:
    from multiagent_document_etl_system_spark.functions.hashing import schema_id
    from multiagent_document_etl_system_spark.io import upsert_parquet

    try:
        json.loads(args.schema_json)  # J5 gate (src/app.py:141,168-170)
    except json.JSONDecodeError as exc:
        return {"success": False, "error": f"Invalid JSON schema: {exc}"}

    spark = get_spark("doc-etl-upload-schema")
    record = spark.createDataFrame(
        [(args.doc_type, args.schema_json,
          args.description or f"Schema for {args.doc_type}")],
        "doc_type string, schema_json string, description string",
    ).withColumn("id", schema_id(F.col("doc_type"), F.col("schema_json")))
    upsert_parquet(spark, record, args.registry, ["id"])
    return {
        "success": True,
        "schema_id": record.first()["id"],
        "doc_type": args.doc_type,
        "registry": args.registry,
    }


def cmd_query(args) -> dict:
    """Run any named registry query (SURVEY.md §2 surface) against an sf
    dir — the engine's ad-hoc query entry point. Lists names with no
    argument; writes parquet with --output, else prints up to --limit rows
    as JSON."""
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    if not args.name:
        return {"success": True,
                "queries": sorted(QUERIES),
                "oracled": sum(1 for _, o in QUERIES.values() if o)}
    if args.name not in QUERIES:
        return {"success": False, "error": f"unknown query: {args.name}",
                "hint": "run with no name to list"}
    spark = get_spark("doc-etl-query")
    df = QUERIES[args.name][0](spark, args.sf_dir)
    if args.explain:
        import contextlib
        import io as _io
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return {"success": True, "query": args.name,
                "plan": buf.getvalue()}
    if args.output:
        from multiagent_document_etl_system_spark.io import write_parquet
        write_parquet(df, args.output)
        return {"success": True, "query": args.name, "output": args.output}
    rows = [r.asDict(recursive=True) for r in df.limit(args.limit).collect()]
    return {"success": True, "query": args.name, "rows": rows,
            "shown": len(rows)}


def cmd_curate(args) -> dict:
    """Write the CURATED corpus: the survivors of the full curation funnel
    (gopher gates → decontamination → exact dedup → near-dup cluster
    removal, plans/registry/curation.py:curation_flags) with PII redacted, as
    parquet partitioned by lang. One job computes both the output and the
    per-stage funnel metrics via the observe API (no second pass)."""
    from pyspark.sql import Observation

    from multiagent_document_etl_system_spark.functions.text import redact_pii
    from multiagent_document_etl_system_spark.plans.registry import (
        curation_flags,
    )

    spark = get_spark("doc-etl-curate")
    flags = curation_flags(spark, args.sf_dir,
                           checkpoint_dir=args.checkpoint_dir)
    c1 = F.col("f_gopher")
    c2 = c1 & F.col("f_decon")
    c3 = c2 & F.col("f_exact")
    c4 = c3 & F.col("f_near")
    obs = Observation("curation_funnel")
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    curated = (
        flags.observe(
            obs,
            F.count(F.lit(1)).alias("n_input"),
            one(c1).alias("n_gopher"),
            one(c2).alias("n_decontam"),
            one(c3).alias("n_unique"),
            one(c4).alias("n_kept"),
        )
        .filter(c4)
        .select(
            "doc_id", "lang",
            redact_pii(F.col("text")).alias("text"),
            "quality", "n_tokens",
        )
    )
    curated.write.mode("overwrite").partitionBy("lang") \
        .parquet(args.output_dir)
    m = obs.get
    return {"success": True, "output": args.output_dir,
            "partitioned_by": "lang", **{k: int(v) for k, v in m.items()}}


def cmd_span_dedup(args) -> dict:
    """Write the corpus with duplicated SPANS removed (passage-level
    dedup, operators/dedup.span_dedup): every token n-gram appearing in
    >= --min-df distinct docs is cut; docs left empty are dropped
    entirely. One job writes the cleaned parquet and counts token mass
    before/after via the observe API."""
    from pyspark.sql import Observation

    from multiagent_document_etl_system_spark.operators.dedup import (
        span_dedup,
    )

    spark = get_spark("doc-etl-span-dedup")
    docs = spark.read.parquet(args.docs_parquet)
    cleaned = span_dedup(docs, n=args.ngram, min_df=args.min_df,
                         emit_text=True)
    obs = Observation("span_dedup")
    out = (
        cleaned.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_in"),
            F.sum("n_removed").alias("tokens_removed"),
            F.sum(F.when(F.col("n_removed") == F.col("n_tokens"), 1)
                  .otherwise(0)).alias("docs_emptied"),
        )
        .filter(F.col("n_removed") < F.col("n_tokens"))
        .select("doc_id", F.col("cleaned_text").alias("text"),
                "n_tokens", "n_removed")
    )
    out.write.mode("overwrite").parquet(args.output_dir)
    m = obs.get
    return {"success": True, "output": args.output_dir,
            **{k: int(v) for k, v in m.items()}}


def cmd_split(args) -> dict:
    """Write the corpus partitioned into train/val/test by the
    deterministic hash-bucket assignment (td_split semantics: seeded md5
    bucket mod 100 of the id — append-stable, engine-stable, retry-stable).
    One job writes the partitioned parquet AND counts each split via the
    observe API; directory layout <out>/split=train|val|test."""
    from pyspark.sql import Observation

    from multiagent_document_etl_system_spark.operators.dedup import hash64

    spark = get_spark("doc-etl-split")
    docs = spark.read.parquet(args.docs_parquet)
    train_pct = 100 - args.val_pct - args.test_pct
    # user-input validation must survive `python -O` (assert would not)
    if not 0 < train_pct < 100:
        raise SystemExit(
            f"--val-pct {args.val_pct} + --test-pct {args.test_pct} must "
            "leave a 1-99% train share")
    b = hash64(F.col(args.id_col).cast("string"), seed=41) % 100
    split = (
        F.when(b < train_pct, "train")
        .when(b < train_pct + args.val_pct, "val")
        .otherwise("test")
    )
    obs = Observation("split_counts")
    one = lambda v: F.sum(F.when(F.col("split") == v, 1).otherwise(0))  # noqa: E731
    out = docs.withColumn("split", split).observe(
        obs, F.count(F.lit(1)).alias("n_total"),
        one("train").alias("n_train"), one("val").alias("n_val"),
        one("test").alias("n_test"))
    out.write.mode("overwrite").partitionBy("split").parquet(args.output_dir)
    return {"success": True, "output": args.output_dir,
            "partitioned_by": "split",
            **{k: int(v) for k, v in obs.get.items()}}


def cmd_export_shards(args) -> dict:
    """Write the corpus as deterministic training shards + a manifest —
    the terminal export step of the pipeline (td_shuffle_order +
    td_shard_manifest as a WRITE): shard = seeded-md5(id) mod N
    (append/retry/engine-stable), rows inside each shard sorted by the
    hash-derived position, directory layout <out>/shard=K. The manifest
    (<out>/_manifest — underscore-prefixed, so readers of <out> never see
    it as data) is computed by READING THE WRITTEN FILES BACK, not from
    the input plan: it describes what is actually on disk (doc/token/char
    counts, id range, order-insensitive bit_xor 60-bit content checksum
    per shard — any lost, duplicated, or altered row flips it).

    Scale: one hash repartition on the shard key + an in-task sort for
    the write; the read-back manifest pass is one scan of the output with
    full map-side partial aggregation (#shards rows cross the network)."""
    from multiagent_document_etl_system_spark.functions.text import tokens
    from multiagent_document_etl_system_spark.operators.dedup import hash64

    spark = get_spark("doc-etl-export-shards")
    docs = spark.read.parquet(args.docs_parquet)
    if not 1 <= args.n_shards <= 100_000:
        raise SystemExit(f"--n-shards {args.n_shards} out of range")
    h = hash64(F.col(args.id_col).cast("string"), seed=97)
    staged = (docs.withColumn("shard", h % args.n_shards)
              .withColumn("_pos", h)
              .repartition(args.n_shards, "shard")
              .sortWithinPartitions("shard", "_pos", args.id_col)
              .drop("_pos"))
    fmt = getattr(args, "format", "parquet")
    staged.write.mode("overwrite").partitionBy("shard") \
        .format(fmt).save(args.output_dir)

    written = spark.read.format(fmt).load(args.output_dir)
    manifest = (
        written.select(
            "shard", F.col(args.id_col).alias("_id"),
            F.size(tokens(F.col(args.text_col))).alias("_nt"),
            F.length(args.text_col).alias("_nc"),
            hash64(F.col(args.text_col), seed=11).alias("_ch"))
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"),
             F.sum("_nt").cast("bigint").alias("n_tokens"),
             F.sum("_nc").cast("bigint").alias("n_chars"),
             F.min("_id").alias("min_id"), F.max("_id").alias("max_id"),
             F.expr("bit_xor(_ch)").alias("content_xor64")))
    manifest_dir = args.output_dir.rstrip("/") + "/_manifest"
    manifest.coalesce(1).write.mode("overwrite").parquet(manifest_dir)
    rows = sorted(spark.read.parquet(manifest_dir).collect(),
                  key=lambda r: r.shard)
    return {"success": True, "output": args.output_dir,
            "manifest": manifest_dir, "n_shards": len(rows),
            "n_docs": int(sum(r.n_docs for r in rows)),
            "n_tokens": int(sum(r.n_tokens for r in rows))}


def cmd_build_dedup_index(args) -> dict:
    """Persist the corpus dedup index (the three tiny parquet sets every
    future drop checks membership against): <index_dir>/md5 (distinct
    content hashes), <index_dir>/bands (distinct MinHash band keys), and
    <index_dir>/bloom (distinct Bloom set-bit positions, ≤ BLOOM_M rows —
    the constant-memory pre-filter tier). Refreshing the index =
    re-running this command; nothing downstream restarts
    (operators/dedup.py:build_dedup_index, build_bloom_bits)."""
    from multiagent_document_etl_system_spark.operators.dedup import (
        build_bloom_bits,
        build_dedup_index,
    )

    spark = get_spark("doc-etl-build-index")
    docs = spark.read.parquet(args.docs_parquet)
    md5_index, band_index = build_dedup_index(docs)
    md5_index.write.mode("overwrite").parquet(f"{args.index_dir}/md5")
    band_index.write.mode("overwrite").parquet(f"{args.index_dir}/bands")
    build_bloom_bits(docs).write.mode("overwrite") \
        .parquet(f"{args.index_dir}/bloom")
    return {
        "success": True,
        "index": args.index_dir,
        "n_md5": spark.read.parquet(f"{args.index_dir}/md5").count(),
        "n_band_keys": spark.read.parquet(f"{args.index_dir}/bands").count(),
        "n_bloom_bits": spark.read.parquet(
            f"{args.index_dir}/bloom").count(),
    }


def cmd_build_ann_index(args) -> dict:
    """Build the parquet-native ANN index: vectors partitioned by their
    hyperplane-LSH signature so later queries partition-prune to the
    buckets they probe (operators/ann_index.py — the batch twin of the
    reference's Pinecone upsert, /root/reference/src/pinecone_utils.py)."""
    from multiagent_document_etl_system_spark.operators.ann_index import (
        append_ann_index,
        build_ann_index,
    )

    spark = get_spark("doc-etl-build-ann-index")
    vecs = spark.read.parquet(args.embeddings_parquet)
    if args.append:
        meta = append_ann_index(vecs, args.index_dir,
                                id_col=args.id_col, vec_col=args.vec_col)
    else:
        meta = build_ann_index(vecs, args.index_dir,
                               n_planes=args.n_planes, seed=args.seed,
                               id_col=args.id_col, vec_col=args.vec_col)
    return {"success": True, "index": args.index_dir,
            "appended": bool(args.append), **meta}


def cmd_ann_query(args) -> dict:
    """Top-k cosine search against a persisted ANN index. Queries come
    from a parquet of (q_id, q_vec) rows (--query-parquet) or from the
    index itself (--query-id, self-match excluded). Writes per-pair rows
    with --output; always returns the (bounded, ≤ k·n_queries) matches."""
    from multiagent_document_etl_system_spark.operators.ann_index import (
        ann_index_topk,
        load_ann_meta,
        read_index_vectors,
    )

    spark = get_spark("doc-etl-ann-query")
    if (args.query_parquet is None) == (args.query_id is None):
        raise SystemExit("pass exactly one of --query-parquet / --query-id")
    if args.query_parquet:
        queries = spark.read.parquet(args.query_parquet)
        exclude_self = False
    else:
        queries = (
            read_index_vectors(spark, args.index_dir,
                               load_ann_meta(spark, args.index_dir))
            .filter(F.col("c_id") == args.query_id)
            .select(F.col("c_id").alias("q_id"),
                    F.col("c_vec").alias("q_vec"))
        )
        exclude_self = True
    out = ann_index_topk(spark, args.index_dir, queries, k=args.k,
                         multiprobe=args.multiprobe,
                         exclude_self=exclude_self)
    if args.output:
        from multiagent_document_etl_system_spark.io import write_parquet
        write_parquet(out, args.output)
        out = spark.read.parquet(args.output)
    rows = out.orderBy("q_id", "rank").collect()
    return {
        "success": True,
        "n_matches": len(rows),
        "matches": [{"q_id": r["q_id"], "c_id": r["c_id"],
                     "score": r["score"], "rank": r["rank"]}
                    for r in rows],
        "output": args.output,
    }


def cmd_dedup_check(args) -> dict:
    """Check a document drop against a persisted dedup index: per doc,
    exact membership (md5) and near-dup band matches — batch twin of the
    st_dedup_vs_corpus streaming query, same operator
    (operators/dedup.py:dedup_against_index). Writes per-doc flags with
    --output; always returns the summary counts.

    ``--tier bloom`` runs only the constant-memory Bloom pre-filter
    (operators/dedup.py:bloom_check_index against <index_dir>/bloom —
    the batch twin of st_bloom_gate): bloom_hit=0 docs are provably new
    and can skip the md5/band tiers entirely on a later full check."""
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.operators.dedup import (
        bloom_check_index,
        dedup_against_index,
    )

    spark = get_spark("doc-etl-dedup-check")
    docs = spark.read.parquet(args.docs_parquet)
    if getattr(args, "tier", "full") == "bloom":
        flags = bloom_check_index(
            docs, spark.read.parquet(f"{args.index_dir}/bloom"))
        if args.output:
            from multiagent_document_etl_system_spark.io import write_parquet
            write_parquet(flags, args.output)
            flags = spark.read.parquet(args.output)
        agg = flags.agg(
            F.count("*").alias("n"),
            F.sum("bloom_hit").alias("hits")).first()
        return {"success": True, "documents": agg["n"],
                "bloom_hits": int(agg["hits"]),
                "provably_new": agg["n"] - int(agg["hits"]),
                "output": args.output}
    flags = dedup_against_index(
        docs,
        spark.read.parquet(f"{args.index_dir}/md5"),
        spark.read.parquet(f"{args.index_dir}/bands"),
    )
    if args.output:
        from multiagent_document_etl_system_spark.io import write_parquet
        write_parquet(flags, args.output)
        # summarize the WRITTEN files, not the plan: re-aggregating
        # `flags` would execute the whole drop-scan + two index joins a
        # second time (and could even disagree with what was persisted if
        # an input changed between runs)
        flags = spark.read.parquet(args.output)
    agg = flags.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("exact_dup"), 1).otherwise(0)).alias("exact"),
        F.sum(F.when(F.col("n_band_matches") > 0, 1).otherwise(0))
        .alias("near"),
    ).first()
    return {
        "success": True,
        "documents": agg["n"],
        "exact_dups": int(agg["exact"]),
        "near_dup_candidates": int(agg["near"]),
        "output": args.output,
    }


def cmd_stats(args) -> dict:
    # static configuration, mirroring GET /stats (src/app.py:177-188)
    return {
        "service": "multiagent-document-etl-spark",
        "engine": "pyspark",
        "embedding_dimension": 384,
        "classifier_labels": 9,
        "max_retries": 1,
        "schema_registry": args.registry,
    }


def cmd_prepare(args) -> dict:
    """The whole training-corpus pipeline as ONE command: curation funnel
    (gopher gates → decontam → exact + near dedup, PII redacted) →
    duplicated-span removal → deterministic train/val/test split →
    sharded train export with a read-back manifest. Each stage is the
    existing battle-tested command run over the previous stage's output
    directory; the response carries every stage's observe metrics, so one
    invocation answers "what did the funnel cost me and what landed on
    disk".

    Layout under <out_dir>: curated/ (parquet, partitioned by lang),
    span_clean/, split/ (partitioned by split), shards/ (train only,
    partitioned by shard, with _manifest). 100 TB posture: nothing here
    adds a plan on top of the stages — it is sequencing + directory
    plumbing; every heavy step keeps its own documented shuffle
    structure."""
    import argparse as _ap

    base = args.output_dir.rstrip("/")
    curated = f"{base}/curated"
    span_clean = f"{base}/span_clean"
    split_dir = f"{base}/split"
    shards = f"{base}/shards"

    m_curate = cmd_curate(_ap.Namespace(
        sf_dir=args.sf_dir, output_dir=curated,
        checkpoint_dir=getattr(args, "checkpoint_dir", None)))
    m_span = cmd_span_dedup(_ap.Namespace(
        docs_parquet=curated, output_dir=span_clean,
        ngram=args.ngram, min_df=args.min_df))
    m_split = cmd_split(_ap.Namespace(
        docs_parquet=span_clean, output_dir=split_dir,
        val_pct=args.val_pct, test_pct=args.test_pct, id_col="doc_id"))
    m_shards = cmd_export_shards(_ap.Namespace(
        docs_parquet=f"{split_dir}/split=train", output_dir=shards,
        n_shards=args.n_shards, id_col="doc_id", text_col="text",
        format="parquet"))
    return {
        "success": all(m.get("success") for m in
                       (m_curate, m_span, m_split, m_shards)),
        "output": base,
        "curate": {k: v for k, v in m_curate.items() if k != "success"},
        "span_dedup": {k: v for k, v in m_span.items() if k != "success"},
        "split": {k: v for k, v in m_split.items() if k != "success"},
        "shards": {k: v for k, v in m_shards.items() if k != "success"},
    }


def cmd_provenance(args) -> dict:
    """Write the per-document removal audit (td_dedup_provenance:
    doc_id, reason ∈ quality_fail|exact_dup|near_dup, ref_id) next to a
    corpus build — partitioned by reason so "show me every near-dup
    casualty" is a partition-pruned read. Returns per-reason counts from
    a read-back of what actually landed on disk."""
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    spark = get_spark(app_name="cli-provenance")
    fn, _ = QUERIES["td_dedup_provenance"]
    out = args.output_dir.rstrip("/")
    fn(spark, args.sf_dir).write.mode("overwrite") \
        .partitionBy("reason").parquet(out)
    back = spark.read.parquet(out)
    counts = {r["reason"]: r["n"] for r in
              back.groupBy("reason").agg(F.count("*").alias("n")).collect()}
    return {"success": True, "output": out,
            "n_removed": sum(counts.values()), "by_reason": counts}


def cmd_validate(args) -> dict:
    """Data-quality validation suite over the star schema + corpus —
    constraint checks of the kind a warehouse runs before trusting a
    drop: primary-key uniqueness, NOT-NULL, referential integrity
    (anti-join orphan counts), domain rules, and derived-column
    consistency. Each rule is one aggregate or anti-join (scale-shaped:
    FK checks shuffle ids only; AQE broadcasts the dim side), and the
    response carries per-rule violation counts so a failure is
    actionable, not boolean."""
    from multiagent_document_etl_system_spark.io import load_table

    spark = get_spark("doc-etl-validate")
    t = lambda n: load_table(spark, args.sf_dir, n)  # noqa: E731

    docs, orders, cust = t("documents"), t("orders"), t("customer")
    li, nation = t("lineitem"), t("nation")
    checks: dict[str, int] = {}

    def dup_keys(df, col):
        return (df.groupBy(col).count().filter(F.col("count") > 1)
                .agg(F.coalesce(F.sum("count"), F.lit(0))).first()[0])

    # primary-key uniqueness
    checks["documents.doc_id_unique"] = int(dup_keys(docs, "doc_id"))
    checks["orders.o_orderkey_unique"] = int(dup_keys(orders, "o_orderkey"))
    # NOT NULL
    checks["documents.text_not_null"] = docs.filter(
        F.col("text").isNull()).count()
    # referential integrity: FK anti-joins (orphan rows)
    checks["orders.custkey_fk"] = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti").count()
    checks["lineitem.orderkey_fk"] = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_anti").count()
    checks["customer.nationkey_fk"] = cust.join(
        nation, cust.c_nationkey == nation.n_nationkey,
        "left_anti").count()
    # domain rules
    checks["documents.lang_in_domain"] = docs.filter(
        ~F.col("lang").isin("en", "de", "fr", "es", "zh")).count()
    checks["lineitem.qty_positive"] = li.filter(
        F.col("l_quantity") <= 0).count()
    # derived-column consistency
    checks["documents.n_chars_consistent"] = docs.filter(
        F.col("n_chars") != F.coalesce(F.length("text"), F.lit(0))
    ).count()
    failed = {k: v for k, v in checks.items() if v}
    return {"success": not failed, "sf_dir": args.sf_dir,
            "n_rules": len(checks), "n_failed": len(failed),
            "violations": checks}


def cmd_compact(args) -> dict:
    """Small-file compaction of a parquet table/partition directory —
    see io.compact_parquet (coalesce rewrite + crash-safe swap)."""
    from multiagent_document_etl_system_spark.io import compact_parquet

    if args.target_mb <= 0:
        raise SystemExit(f"--target-mb {args.target_mb} must be positive")
    spark = get_spark("doc-etl-compact")
    out = compact_parquet(spark, args.path, target_mb=args.target_mb)
    out["success"] = True
    return out


def cmd_bpe_train(args) -> dict:
    """Train a BPE merge table FROM a documents parquet and persist it
    (operators/bpe.bpe_train — the registry's td_bpe_train as a write
    path): one parquet of (step, pair, merged, n_occurrences), the
    artifact a tokenizer build loads. Deterministic end to end (count
    DESC, pair ASC cut per round; greedy left-to-right application)."""
    from multiagent_document_etl_system_spark.operators.bpe import bpe_train

    if args.n_merges <= 0:
        raise SystemExit(f"--n-merges {args.n_merges} must be positive")
    spark = get_spark("doc-etl-bpe-train")
    docs = spark.read.parquet(args.docs_parquet)
    merges = bpe_train(docs, n_merges=args.n_merges)
    spark.createDataFrame(
        merges,
        "step bigint, pair string, merged string, n_occurrences bigint"
    ).coalesce(1).write.mode("overwrite").parquet(args.out_dir)
    return {"success": True, "out": args.out_dir, "n_merges": len(merges),
            "merges": [m[2] for m in merges]}


def ingest_shard_id(spark, incoming: str) -> tuple[str, str]:
    """(path_id, shard_id) for an ingest drop: path_id = md5 of the drop
    path; shard_id = path_id + a CONTENT fingerprint over the sorted
    (full relative path, length, mtime) listing under the path. The
    listing is ONE distributed ``binaryFile`` metadata scan (content
    column pruned, so no bytes are read) — a 10k-part drop costs one
    Spark job, not 10k driver-side Py4J round trips — and keys on the
    FULL path, so same-named files in different subdirectories stay
    distinguishable (both r9 review findings). Works on any
    Spark-readable URI (hdfs://, s3a://, local).

    Two runs over the same drop path resume each other only when the
    listing they saw matches; a reused path with new content gets a
    fresh shard identity. A byte-identical RE-COPY also changes mtimes
    and therefore the shard id — the re-run recomputes instead of
    resuming, which is slower but always correct (the doc_id anti-join
    repair only matters when the staging is genuinely the same
    attempt's)."""
    import hashlib

    files = (spark.read.format("binaryFile")
             .option("recursiveFileLookup", "true").load(incoming)
             .select("path", "length", "modificationTime").collect())
    entries = sorted(
        f"{r['path']}:{r['length']}:{r['modificationTime'].isoformat()}"
        for r in files)
    path_id = hashlib.md5(incoming.encode()).hexdigest()[:12]
    content_id = hashlib.md5("\n".join(entries).encode()).hexdigest()[:12]
    return path_id, f"{path_id}-{content_id}"


def cmd_ingest(args) -> dict:
    """Incremental corpus ingest (the td_incremental_ingest recipe as a
    write path): dedup an incoming shard against the persisted index
    (`cli build-dedup-index` layout: <index_dir>/md5 + /bands), append
    the survivors to the corpus directory, and grow the index with the
    survivors' md5/band rows so the next shard checks against a current
    index without a rebuild.

    Crash-safe (ADVICE r7 #2 — the old three-blind-appends window): the
    survivor set is first materialized to a shard-scoped STAGING dir
    inside the corpus (underscore-prefixed, so corpus reads never see it;
    mode("overwrite") makes the staging step itself idempotent), sealed
    with a _STAGED_OK marker, and only then applied. A re-run after a
    crash detects the sealed staging and RESUMES from it instead of
    recomputing flags (which would wrongly drop the shard as exact-dup if
    the crash fell between the index and corpus appends): the corpus
    append is guarded by a doc_id anti-join against the corpus (bounded
    repair — only the recovery path ever scans corpus doc_ids), and the
    index appends are repeat-safe by set semantics
    (dedup_against_index groupBys per doc, so duplicate index rows can't
    change any flag). Deleting the staging dir is the commit point.
    Recovery only engages when the staging's CONTENT fingerprint matches
    the incoming bytes (see :func:`ingest_shard_id` — r8 ADVICE)."""
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.operators.dedup import (
        band_signatures,
        dedup_against_index,
        shingles,
    )

    spark = get_spark("doc-etl-ingest")

    # ALL marker/existence/delete operations go through Hadoop's
    # FileSystem API, not os/shutil: corpus_dir may be hdfs://, s3a://,
    # or any other Spark-writable URI — the pre-r8 implementation was
    # URI-agnostic and the crash-safety layer must stay so.
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    def _hpath(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    def _fs(p: str):
        return _hpath(p).getFileSystem(hconf)

    # shard identity = path hash + CONTENT fingerprint (r8 ADVICE: keyed
    # on the path alone, a drop path reused with NEW content after a
    # crashed run would silently resume the STALE staged survivors and
    # never dedup the new shard's rows). Same-path stagings from an older
    # content generation are definitively stale — delete them so they
    # can't be resumed by any future run either.
    path_id, shard_id = ingest_shard_id(spark, args.incoming_parquet)
    corpus = args.corpus_dir.rstrip("/")
    staging = f"{corpus}/_staged_{shard_id}"
    # A LEGACY (pre-content-fingerprint) sealed staging for this drop
    # path is a genuinely crashed run this release must still repair —
    # its name carries no content hash to verify, and deleting it would
    # recompute flags against an index that may hold the crashed run's
    # partial appends (double-append, the r9 review's migration hazard).
    # Resume it: crash-safety outranks the (hypothetical-for-legacy)
    # stale-content hazard. Unsealed legacy dirs are incomplete writes —
    # safe to discard.
    legacy = f"{corpus}/_staged_{path_id}"
    if _fs(legacy).exists(_hpath(f"{legacy}/_STAGED_OK")):
        staging = legacy

    def _corpus_doc_ids():
        # committed corpus doc_ids, or None when the corpus holds no
        # data files yet (first-ever ingest crashed: the dir may contain
        # only underscore-prefixed staging dirs, which a parquet read
        # can't infer a schema from)
        entries = _fs(corpus).listStatus(_hpath(corpus)) or []
        if not any(not e.getPath().getName().startswith(("_", "."))
                   for e in entries):
            return None
        return spark.read.parquet(args.corpus_dir).select("doc_id")

    def _apply_staged(sdf, repair: bool):
        """The commit tail: corpus append (doc_id anti-join guarded when
        repairing — only recovery paths ever scan corpus doc_ids) +
        md5/band index appends (repeat-safe by set semantics: duplicate
        index rows can't change any dedup_against_index flag). Returns
        the appended count when repairing, else None (the caller already
        knows n_surv and skips the extra count job)."""
        to_append, n = sdf, None
        if repair:
            committed = _corpus_doc_ids()
            if committed is not None:
                to_append = sdf.join(committed, "doc_id", "left_anti")
                # counted AND appended — one computation
                to_append = to_append.localCheckpoint()
            n = to_append.count()
        to_append.write.mode("append").parquet(args.corpus_dir)
        sdf.select(F.md5("text").alias("h")).distinct() \
            .write.mode("append").parquet(f"{args.index_dir}/md5")
        (band_signatures(
            sdf.select(F.col("doc_id").alias("_id"),
                       shingles(F.col("text"), 3).alias("_sh")))
         .select("band", "bh").distinct()
         .write.mode("append").parquet(f"{args.index_dir}/bands"))
        return n

    # stale stagings for the SAME drop path: unsealed dirs (old-name or
    # a different content generation) are incomplete writes — safe to
    # drop blindly. A SEALED stale-generation staging is different (r9
    # ADVICE, medium): its run may have crashed AFTER appending
    # survivors to the corpus and BEFORE the index appends and the
    # commit-point delete — deleting it as-is would orphan that partial
    # commit (corpus docs with no md5/band index rows ⇒ a later replay
    # of that content is never deduped). But completing the tail
    # UNCONDITIONALLY resurrects content the operator deliberately
    # replaced when the crashed run committed nothing (r10 ADVICE): the
    # repair only runs on EVIDENCE of a partial commit — some staged
    # (doc_id, content-hash) pair already in the corpus (the hash keeps
    # a coincidental doc_id collision from counting as proof).
    # _apply_staged appends corpus-first,
    # so "no staged doc_id in the corpus" proves the index appends never
    # started either (Spark's parquet append commits atomically via the
    # job-commit protocol — a crashed append leaves no committed files).
    # The probe is a LIMIT-1 semi-join, recovery-path-only. This runs
    # before dedup_against_index reads the index, so the current shard
    # dedups against the repaired state.
    stale_glob = _hpath(f"{corpus}/_staged_{path_id}*")
    for st in (_fs(corpus).globStatus(stale_glob) or []):
        stale_path = f"{corpus}/{st.getPath().getName()}"
        if stale_path == staging:
            continue
        if _fs(stale_path).exists(_hpath(f"{stale_path}/_STAGED_OK")):
            sdf = spark.read.parquet(stale_path)
            committed = _corpus_doc_ids()
            # evidence keys on (doc_id, content hash), not doc_id alone:
            # a coincidental doc_id collision with unrelated corpus
            # content must not count as proof and resurrect a replaced
            # generation (r11 review)
            partially_committed = committed is not None and bool(
                sdf.select("doc_id", F.md5("text").alias("_h"))
                   .join(spark.read.parquet(args.corpus_dir)
                         .select("doc_id", F.md5("text").alias("_h")),
                         ["doc_id", "_h"], "left_semi")
                   .limit(1).take(1))
            if partially_committed:
                _apply_staged(sdf, repair=True)
        _fs(corpus).delete(st.getPath(), True)
    ok_marker = f"{staging}/_STAGED_OK"

    incoming = spark.read.parquet(args.incoming_parquet)
    recovering = _fs(ok_marker).exists(_hpath(ok_marker))
    if not recovering:
        md5_idx = spark.read.parquet(f"{args.index_dir}/md5")
        band_idx = spark.read.parquet(f"{args.index_dir}/bands")
        flags = dedup_against_index(incoming, md5_idx, band_idx)
        (incoming.join(flags, "doc_id")
         .filter(~F.col("exact_dup") & (F.col("n_band_matches") == 0))
         .drop("exact_dup", "n_band_matches")
         .write.mode("overwrite").parquet(staging))
        _fs(ok_marker).create(_hpath(ok_marker), True).close()
    surv = spark.read.parquet(staging)
    n_in, n_surv = incoming.count(), surv.count()

    n_new = _apply_staged(surv, repair=recovering)
    if n_new is None:
        n_new = n_surv
    _fs(staging).delete(_hpath(staging), True)  # commit point
    # n_appended counts rows THIS RUN actually appended (0 when the
    # crashed attempt already committed them); n_survivors is the
    # shard's dedup outcome, n_dropped its complement
    return {"success": True, "corpus": args.corpus_dir,
            "n_incoming": n_in, "n_appended": n_new,
            "n_survivors": n_surv,
            "n_dropped": n_in - n_surv, "resumed": recovering}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="doc-etl")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("process")
    pp.add_argument("input_dir")
    pp.add_argument("output_dir")
    pp.add_argument("--incremental", action="store_true",
                    help="reuse the prior output for files whose bytes "
                         "and pipeline sources are unchanged; recompute "
                         "only new/changed")

    up = sub.add_parser("upload-schema")
    up.add_argument("doc_type")
    up.add_argument("schema_json")
    up.add_argument("--description", default=None)
    up.add_argument("--registry", default=DEFAULT_REGISTRY)

    st = sub.add_parser("stats")
    st.add_argument("--registry", default=DEFAULT_REGISTRY)

    cu = sub.add_parser("curate")
    cu.add_argument("output_dir")
    cu.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    cu.add_argument("--checkpoint-dir", default=None,
                    help="reliable (HDFS/object-store) checkpoint dir for "
                         "the cluster-propagation rounds; default is "
                         "executor-local localCheckpoint (fine for "
                         "local[N], lossy under executor death)")

    sd = sub.add_parser("span-dedup")
    sd.add_argument("docs_parquet")
    sd.add_argument("output_dir")
    sd.add_argument("--ngram", type=int, default=3)
    sd.add_argument("--min-df", type=int, default=2,
                    help="a span is duplicated when it appears in at "
                         "least this many distinct documents")

    sp = sub.add_parser("split")
    sp.add_argument("docs_parquet")
    sp.add_argument("output_dir")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--val-pct", type=int, default=5)
    sp.add_argument("--test-pct", type=int, default=5)

    ex = sub.add_parser("export-shards")
    ex.add_argument("docs_parquet")
    ex.add_argument("output_dir")
    ex.add_argument("--n-shards", type=int, default=8)
    ex.add_argument("--id-col", default="doc_id")
    ex.add_argument("--text-col", default="text")
    ex.add_argument("--format", choices=("parquet", "orc"),
                    default="parquet",
                    help="shard file format (both columnar, both "
                         "partition-pruned; orc for Hive/Trino interop)")

    bi = sub.add_parser("build-dedup-index")
    bi.add_argument("docs_parquet")
    bi.add_argument("index_dir")

    dc = sub.add_parser("dedup-check")
    dc.add_argument("docs_parquet")
    dc.add_argument("index_dir")
    dc.add_argument("--output", default=None)
    dc.add_argument("--tier", choices=("full", "bloom"), default="full",
                    help="bloom = constant-memory pre-filter only "
                         "(bloom_hit=0 docs are provably new)")

    ba = sub.add_parser("build-ann-index")
    ba.add_argument("embeddings_parquet")
    ba.add_argument("index_dir")
    ba.add_argument("--n-planes", type=int, default=8)
    ba.add_argument("--seed", type=int, default=42)
    ba.add_argument("--id-col", default="vec_id")
    ba.add_argument("--vec-col", default="embedding")
    ba.add_argument("--append", action="store_true",
                    help="add NEW vectors to an existing index (new files "
                         "in their signature partitions, nothing "
                         "rewritten; colliding ids raise)")

    aq = sub.add_parser("ann-query")
    aq.add_argument("index_dir")
    aq.add_argument("--query-parquet", default=None,
                    help="parquet of (q_id, q_vec) rows")
    aq.add_argument("--query-id", type=int, default=None,
                    help="query BY ID from the index itself "
                         "(self-match excluded)")
    aq.add_argument("--k", type=int, default=5)
    aq.add_argument("--multiprobe", action="store_true",
                    help="probe every Hamming-1 neighbor bucket too "
                         "(higher recall, ~n_planes x the buckets read)")
    aq.add_argument("--output", default=None)

    pr = sub.add_parser("prepare")
    pr.add_argument("sf_dir")
    pr.add_argument("output_dir")
    pr.add_argument("--ngram", type=int, default=3)
    pr.add_argument("--min-df", type=int, default=2)
    pr.add_argument("--val-pct", type=int, default=5)
    pr.add_argument("--test-pct", type=int, default=5)
    pr.add_argument("--n-shards", type=int, default=8)
    pr.add_argument("--checkpoint-dir", default=None)

    va = sub.add_parser("validate")
    va.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    pv = sub.add_parser("provenance")
    pv.add_argument("sf_dir")
    pv.add_argument("output_dir")

    cp = sub.add_parser("compact")
    cp.add_argument("path")
    cp.add_argument("--target-mb", type=int, default=512)

    q = sub.add_parser("query")
    q.add_argument("name", nargs="?", default=None)
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--output", default=None)
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead of rows")

    bt = sub.add_parser("bpe-train")
    bt.add_argument("docs_parquet")
    bt.add_argument("out_dir")
    bt.add_argument("--n-merges", type=int, default=10)

    ig = sub.add_parser("ingest")
    ig.add_argument("incoming_parquet")
    ig.add_argument("corpus_dir")
    ig.add_argument("index_dir")

    args = p.parse_args(argv)
    out = {"process": cmd_process, "upload-schema": cmd_upload_schema,
           "stats": cmd_stats, "query": cmd_query, "curate": cmd_curate,
           "build-dedup-index": cmd_build_dedup_index,
           "dedup-check": cmd_dedup_check, "split": cmd_split,
           "build-ann-index": cmd_build_ann_index,
           "ann-query": cmd_ann_query,
           "span-dedup": cmd_span_dedup,
           "compact": cmd_compact,
           "provenance": cmd_provenance,
           "prepare": cmd_prepare,
           "validate": cmd_validate,
           "bpe-train": cmd_bpe_train,
           "ingest": cmd_ingest,
           "export-shards": cmd_export_shards}[args.cmd](args)
    print(json.dumps(out))
    return 0 if out.get("success", True) else 1


if __name__ == "__main__":
    raise SystemExit(main())
