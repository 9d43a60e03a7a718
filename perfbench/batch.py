"""The ``batch`` workload: one generator thread drives the engine's batch
entry points in a fixed cycle, each stage waiting for the previous one.

1. ``cli.cmd_process``: full pass over a landing dir holding all four
   parser formats plus a share of bad documents.
2. About 5% of the files are changed, added or deleted, then
   ``cli.cmd_process --incremental`` reuses the prior output.
3. The four stages ``cli.cmd_prepare`` sequences (``cmd_curate`` →
   ``cmd_span_dedup`` → ``cmd_split`` → ``cmd_export_shards``), called one
   by one over a generated ``documents.parquet`` with exact and near
   duplicates.
4. ``operators.ann_index.build_ann_index`` over clustered 384-d
   embeddings, then query batches through ``ann_index_topk`` (k=3, half
   of them with ``multiprobe``).

Stages 1-2 load the parse kernels and the regex pipeline, stage 3 the
shuffle-heavy dedup/curation operators, stage 4 the vector search. They
run in one workload, sequentially, because the benchmark's time budget
cannot pay a Spark boot per stage family; the traced run reports each
stage's time separately.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

import check
import gen
import harness as H

N_LANDING = 64
MUTATE_SHARE = 0.05
N_CORPUS = 600
N_VECTORS = 5000
N_CLUSTERS = 32
# 64 signature buckets of ~80 vectors: a probe reads a few hundred
# candidates, so the bucket scan and dot products are real work
N_PLANES = 6
N_BATCHES = 2
BATCH_QUERIES = 16
K = 3                  # the reference's call sites query top-3


class Inputs:
    """Everything the cycle reads, generated from the seed before set-up."""

    def __init__(self, seed: int, root: str, scale: float):
        rng = random.Random(seed)
        n_land = max(8, int(N_LANDING * scale))
        self.docs0 = gen.make_docs(rng, n_land, f"s{seed}_", bad_share=0.05)
        self.docs1, self.deleted = gen.mutate_docs(
            rng, self.docs0, MUTATE_SHARE, f"s{seed}_new_")
        self.sf_dir = os.path.join(root, "sf")
        self.corpus = os.path.join(self.sf_dir, "documents.parquet")
        self.n_corpus = max(200, int(N_CORPUS * scale))
        gen.write_corpus(rng, self.n_corpus, self.corpus)
        n_vec = max(500, int(N_VECTORS * scale))
        self.vecs = gen.make_embeddings(seed, n_vec, N_CLUSTERS)
        self.emb = os.path.join(root, "emb", "vectors.parquet")
        gen.write_vectors(self.vecs, self.emb, "vec_id", "embedding")
        qs = gen.make_embeddings(seed + 7, N_BATCHES * BATCH_QUERIES,
                                 N_CLUSTERS)
        # queries come from the corpus' own clusters: perturbed corpus rows
        g = np.random.default_rng(seed + 8)
        base = self.vecs[g.integers(0, n_vec, len(qs))]
        self.queries = (base + 0.3 * qs).astype(np.float32)
        self.batches = []
        for b in range(N_BATCHES):
            path = os.path.join(root, "queries", f"batch{b}.parquet")
            lo = b * BATCH_QUERIES
            gen.write_vectors(self.queries[lo:lo + BATCH_QUERIES], path,
                              "q_id", "q_vec", first_id=lo)
            self.batches.append(path)


def _ns(**kw):
    return argparse.Namespace(**kw)


def _doc_ids(spark, landing: str) -> dict[str, int]:
    """File name → the doc_id the engine derives from its path."""
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.io import read_landing_dir

    rows = read_landing_dir(spark, landing).select(
        "path", F.xxhash64("path").alias("id")).collect()
    return {r["path"].rsplit("/", 1)[-1]: int(r["id"]) for r in rows}


def _topk(spark, idx: str, query_path: str, multiprobe: bool):
    from multiagent_document_etl_system_spark.operators import ann_index

    df = ann_index.ann_index_topk(spark, idx, spark.read.parquet(query_path),
                                  k=K, multiprobe=multiprobe)
    return df, df.collect()


def _probe_counts(df) -> dict:
    """Buckets the query's pruned scan of the index read, and the
    (query, candidate) pairs its join scored, from the executed plan."""
    nodes = H.plan_metrics(df)
    return {"buckets": sum(n.get("numPartitions", 0) for n in nodes
                           if n["node"].startswith("Scan")
                           and "c_vec" in n["output"]),
            "pairs": sum(n.get("numOutputRows", 0) for n in nodes
                         if n["node"].endswith("Join"))}


def _check_output(out_dir: str, docs, ids: dict[str, int],
                  what: str) -> list[str]:
    rows = pq.read_table(out_dir).to_pylist()
    expected = check.expected_rows([(ids[d.name], d) for d in docs])
    return check.check_table(rows, expected, what)


class Cycle:
    """One pass of the three stage families — ``process``, ``prepare`` and
    ``search`` — each of which also runs on its own in the set-up warm-up.
    With a tracer, each call into the engine runs in a span under its own
    Spark job group."""

    def __init__(self, spark, inp: Inputs, work: str, tracer=None):
        self.spark, self.inp, self.work = spark, inp, work
        self.tracer = tracer
        self.counts: dict = {}
        self.times: dict[str, float] = {}
        self.errors: list[str] = []
        self.attempted = 0
        self.failed_ops = 0
        self.root: int | None = None

    def _call(self, name: str, fn, *args, **kwargs):
        self.attempted += 1
        t0 = time.perf_counter()
        if self.tracer is None:
            out = fn(*args, **kwargs)
        else:
            with self.tracer.span(name, op=0, parent=self.root,
                                  counts=self.counts):
                out = fn(*args, **kwargs)
        self.times[name] = self.times.get(name, 0.0) \
            + time.perf_counter() - t0
        return out

    def _fail(self, errs: list[str]) -> None:
        if errs:
            self.failed_ops += 1
            self.errors += errs

    def run(self) -> None:
        if self.tracer is None:
            self._run()
            return
        with self.tracer.span("batch.cycle", op=0) as root:
            self.root = root["id"]
            self._run()

    def _run(self) -> None:
        self.process()
        self.prepare()
        self.search()

    def process(self) -> None:
        """Full, then incremental ``cmd_process`` over the landing dir."""
        from multiagent_document_etl_system_spark import cli

        inp, w = self.inp, self.work
        landing = os.path.join(w, "landing")
        out = os.path.join(w, "processed")
        gen.write_docs(inp.docs0, landing)
        ids0 = _doc_ids(self.spark, landing)

        self._call("cli.cmd_process", cli.cmd_process,
                   _ns(input_dir=landing, output_dir=out))
        self._fail(_check_output(out, inp.docs0, ids0, "full pass"))

        for name in inp.deleted:
            os.remove(os.path.join(landing, name))
        gen.write_docs(inp.docs1, landing)
        ids1 = _doc_ids(self.spark, landing)
        incr = self._call("cli.cmd_process_incremental", cli.cmd_process,
                          _ns(input_dir=landing, output_dir=out,
                              incremental=True))
        errs = _check_output(out, inp.docs1, ids1, "incremental pass")
        old = {d.name: d.payload for d in inp.docs0}
        want_reused = sum(1 for d in inp.docs1 if old.get(d.name) == d.payload)
        if (incr["reused"], incr["recomputed"]) != \
                (want_reused, len(inp.docs1) - want_reused):
            errs.append(f"incremental reused/recomputed {incr['reused']}/"
                        f"{incr['recomputed']}, expected {want_reused}/"
                        f"{len(inp.docs1) - want_reused}")
        self._fail(errs)
        self.incr = incr

    def prepare(self) -> None:
        """The four stages ``cli.cmd_prepare`` sequences, one call (and
        span) each."""
        from multiagent_document_etl_system_spark import cli

        inp = self.inp
        prep = os.path.join(self.work, "prepared")
        curate = self._call("cli.cmd_curate", cli.cmd_curate, _ns(
            sf_dir=inp.sf_dir, output_dir=f"{prep}/curated",
            checkpoint_dir=None))
        self._call("cli.cmd_span_dedup", cli.cmd_span_dedup, _ns(
            docs_parquet=f"{prep}/curated",
            output_dir=f"{prep}/span_clean", ngram=3, min_df=2))
        split = self._call("cli.cmd_split", cli.cmd_split, _ns(
            docs_parquet=f"{prep}/span_clean", output_dir=f"{prep}/split",
            val_pct=5, test_pct=5, id_col="doc_id"))
        shards = self._call("cli.cmd_export_shards", cli.cmd_export_shards,
                            _ns(docs_parquet=f"{prep}/split/split=train",
                                output_dir=f"{prep}/shards", n_shards=8,
                                id_col="doc_id", text_col="text",
                                format="parquet"))
        errs = []
        want = check.funnel_oracle(inp.corpus)
        got = {k: curate[k] for k in want}
        if got != want:
            errs.append(f"curate funnel {got} != oracle {want}")
        if shards["n_docs"] != split["n_train"]:
            errs.append(f"manifest docs {shards['n_docs']} != split train "
                        f"{split['n_train']}")
        self._fail(errs)
        self.curate = curate

    def search(self) -> None:
        """Build the ANN index, then the query batches."""
        from multiagent_document_etl_system_spark.operators import ann_index

        inp = self.inp
        idx = os.path.join(self.work, "ann_index")
        self._call("operators.ann_index.build_ann_index",
                   ann_index.build_ann_index,
                   self.spark.read.parquet(inp.emb), idx, n_planes=N_PLANES)
        exact, cos = check.exact_topk(inp.vecs, inp.queries, K)
        self.batch_ms: list[float] = []
        self.probes: list[dict] = []
        hits = 0
        for b, path in enumerate(inp.batches):
            t0 = time.perf_counter()
            df, rows = self._call("operators.ann_index.ann_index_topk",
                                  _topk, self.spark, idx, path, b % 2 == 1)
            self.batch_ms.append((time.perf_counter() - t0) * 1000.0)
            if self.tracer is not None:
                self.probes.append(_probe_counts(df))
            errs, h = check.check_topk(rows, cos, exact, K)
            hits += h
            self._fail(errs)
        self.recall = hits / (len(inp.queries) * K)
        self.idx = idx

    @property
    def doc_stage_s(self) -> float:
        return sum(v for k, v in self.times.items()
                   if k.startswith("cli."))

    @property
    def n_docs(self) -> int:
        return len(self.inp.docs0) + len(self.inp.docs1) + self.inp.n_corpus


def _layers(spark, inp: Inputs, cyc: Cycle, tracer, boot_s: float) -> dict:
    """Traced run: per-layer self times by noop-materialized prefixes, plus
    the cycle's spans and counters."""
    from multiagent_document_etl_system_spark.operators import (
        ann_index,
        dedup,
    )

    landing = os.path.join(cyc.work, "landing")
    # three passes over copies of the mutated landing dir; the first also
    # pays code generation, so each layer reports the median self time.
    # Each pass reads a fresh path: ensure_parallelism memoizes its probe
    # per plan, and a request to the program always brings a new plan.
    reps = []
    for r in range(3):
        fresh = os.path.join(cyc.work, f"layer_in{r}")
        shutil.copytree(landing, fresh)
        reps.append(H.doc_layer_prefixes(
            spark, tracer, fresh, op=f"layers{r}",
            out_dir=os.path.join(cyc.work, f"layer_out{r}")))
    med = {k: H.median(r[k] for r in reps) for k in reps[0]}
    layer = {
        "session.get_spark_s": boot_s,
        "io.read_landing_dir_ms": med["scan"] * 1000.0,
        "io.ensure_parallelism_ms": med["ensure"] * 1000.0,
        "sources.parsers.parse_documents_s": med["parse"],
        "plans.pipeline.run_pipeline_s": med["pipeline"],
        "io.write_parquet_s": med["write"],
    }
    for fmt in gen.FORMATS:
        layer[f"sources.parsers.parse_s.{fmt}"] = H.median(
            H.doc_layer_prefixes(spark, tracer, landing, op=f"fmt{r}",
                                 glob=f"*{gen.EXT[fmt]}",
                                 parse_only=True)["parse"]
            for r in range(2))

    def prefix(name, fn):
        with tracer.span(name, op="layers") as s:
            fn()
        return s["end"] - s["start"]

    corpus = spark.read.parquet(inp.corpus)
    pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.5,
                                    materialize_result=False)
    t_pairs = prefix("operators.dedup.minhash_lsh_pairs",
                     lambda: H.noop(pairs))
    t_clu = prefix("operators.dedup.duplicate_clusters",
                   lambda: H.noop(dedup.duplicate_clusters(pairs)))
    t_span = prefix("operators.dedup.span_dedup", lambda: H.noop(
        dedup.span_dedup(corpus, n=3, min_df=2, emit_text=True)))
    layer.update({
        "operators.dedup.minhash_lsh_pairs_s": t_pairs,
        "operators.dedup.duplicate_clusters_s": max(0.0, t_clu - t_pairs),
        "operators.dedup.span_dedup_s": t_span,
        "operators.dedup.near_dup_pairs": pairs.count(),
        "cli.cmd_curate.kept_ratio":
            cyc.curate["n_kept"] / cyc.curate["n_input"],
    })

    meta_s = []
    for _ in range(3):
        with tracer.span("operators.ann_index.load_ann_meta", op="layers") \
                as s:
            ann_index.load_ann_meta(spark, cyc.idx)
        meta_s.append(s["end"] - s["start"])
    # what a span adds to one engine call: each query batch again,
    # untraced and traced
    _, diffs, _ = tracer.paired(
        "operators.ann_index.ann_index_topk",
        [lambda p=path, mp=b % 2 == 1: _topk(spark, cyc.idx, p, mp)
         for b, path in enumerate(inp.batches)])
    n_queries = len(inp.queries)
    cands = sum(p["pairs"] for p in cyc.probes) / n_queries
    t = cyc.times
    layer.update({
        "cli.cmd_process_incremental_s": t["cli.cmd_process_incremental"],
        "cli.cmd_process.reused_docs": cyc.incr["reused"],
        "cli.cmd_process.recomputed_docs": cyc.incr["recomputed"],
        "cli.cmd_process.incremental_over_full":
            t["cli.cmd_process_incremental"] / t["cli.cmd_process"],
        "cli.cmd_curate_s": t["cli.cmd_curate"],
        "cli.cmd_span_dedup_s": t["cli.cmd_span_dedup"],
        "cli.cmd_split_s": t["cli.cmd_split"],
        "cli.cmd_export_shards_s": t["cli.cmd_export_shards"],
        "operators.ann_index.build_ann_index_s":
            t["operators.ann_index.build_ann_index"],
        "operators.ann_index.load_ann_meta_ms": H.median(meta_s) * 1000.0,
        "operators.ann_index.ann_index_topk_ms": H.median(cyc.batch_ms),
        "operators.ann_index.buckets_probed_per_batch":
            H.median(p["buckets"] for p in cyc.probes),
        "operators.ann_index.candidates_per_query": cands,
        "operators.ann_index.scored_per_result": cands / K,
        "spark.jobs_per_op": cyc.counts.get("jobs", 0),
        "spark.stages_per_op": cyc.counts.get("stages", 0),
        "spark.tasks_per_op": cyc.counts.get("tasks", 0),
        "spark.failed_tasks": cyc.counts.get("failed_tasks", 0),
        "trace.overhead_ms": H.median(diffs) * 1000.0,
    })
    return layer


def run(seed: int, seconds: float, trace: bool, work: str, env: dict,
        scale: float = 1.0) -> dict:
    inp = Inputs(seed, os.path.join(work, "inputs"), scale)
    warm_inp = Inputs(seed + 1, os.path.join(work, "warm_inputs"), 0.0)

    from multiagent_document_etl_system_spark import cli
    from multiagent_document_etl_system_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    boot_s = time.perf_counter() - t0
    # each stage family once on tiny inputs, so the measured cycle pays
    # no first-run cost (plan code generation, Python UDF workers): a full
    # cmd_process over one document per format (the incremental pass runs
    # the same parse and pipeline plans), the four prepare stages, and an
    # index build with one query batch per probe mode. At these sizes the
    # jobs leave cores idle, so the three families run side by side.
    warm_dir = os.path.join(work, "warm_landing")
    gen.write_docs(warm_inp.docs0[:len(gen.FORMATS)], warm_dir)
    warm = [Cycle(spark, warm_inp, os.path.join(work, "warm"))
            for _ in range(2)]
    with ThreadPoolExecutor(3) as pool:
        for f in [pool.submit(cli.cmd_process, _ns(
                      input_dir=warm_dir,
                      output_dir=os.path.join(work, "warm_out"))),
                  pool.submit(warm[0].prepare),
                  pool.submit(warm[1].search)]:
            f.result()
    setup_s = time.perf_counter() - t0

    tracer = H.Tracer(spark.sparkContext) if trace else None
    cycles = []
    t_start = time.perf_counter()
    # a cycle usually outlasts --seconds, so a run measures one cycle
    while not cycles or time.perf_counter() - t_start < seconds:
        cw = os.path.join(work, f"cycle{len(cycles)}")
        cyc = Cycle(spark, inp, cw, tracer)
        cyc.run()
        cycles.append(cyc)
        if not trace:
            shutil.rmtree(cw, ignore_errors=True)
        else:
            break  # one traced cycle; its outputs feed the layer breakdown

    cyc_ms = [sum(c.times.values()) * 1000.0 for c in cycles]
    checked = warm + cycles
    attempted = sum(c.attempted for c in checked)
    failed = sum(c.failed_ops for c in checked)
    c0 = cycles[0]
    detail = {
        "cycles": len(cycles),
        "cycle_ms": cyc_ms,
        "stage_s": {k: round(v, 3) for k, v in c0.times.items()},
        "docs_per_s": H.median(c.n_docs / c.doc_stage_s for c in cycles),
        "incremental_docs_per_s": H.median(
            len(c.inp.docs1) / c.times["cli.cmd_process_incremental"]
            for c in cycles),
        "queries_per_s": H.median(
            len(c.inp.queries) / (sum(c.batch_ms) / 1000.0) for c in cycles),
        "batch_latency_p50_ms": H.median(
            x for c in cycles for x in c.batch_ms),
        "index_build_s": H.median(
            c.times["operators.ann_index.build_ann_index"] for c in cycles),
        "recall_at_k": H.median(c.recall for c in cycles),
        "error_rate": failed / attempted,
    }
    result = {
        "attempted": attempted, "failed": failed,
        "messages": [m for c in checked for m in c.errors][:20],
        "metrics": {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (H.median(cyc_ms), "ms"),
            "docs_per_s": (detail["docs_per_s"], "1/s"),
        },
        "detail": detail,
    }
    if trace:
        result["layers"] = _layers(spark, inp, c0, tracer, boot_s)
        detail["trace_bookkeeping_ms"] = tracer.overhead_s * 1000.0
        result["tracer"] = tracer
    return result
