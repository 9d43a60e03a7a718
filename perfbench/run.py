"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed``, sets up, measures for
``--seconds``, checks every output, prints a detail line with every metric
by name and unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics (a layer the workload never
calls into reads 0), and the spans are written to ``perfbench/out/``.

All scratch state (landing dirs, outputs, indexes, Spark local dirs, the
warehouse and Derby home) lives under ``perfbench/work/<run>`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

WORKLOADS = ("interactive", "batch")

DETAIL_UNITS = {
    "latency_p50_ms": "ms", "latency_p90_ms": "ms", "requests_per_s": "1/s",
    "docs_per_s": "1/s", "incremental_docs_per_s": "1/s",
    "queries_per_s": "1/s", "batch_latency_p50_ms": "ms",
    "index_build_s": "s", "recall_at_k": "ratio", "error_rate": "ratio",
    "peak_rss_mb": "MB", "peak_rss_jvm_mb": "MB", "peak_rss_python_mb": "MB",
}


def _spec() -> dict:
    with open(os.path.join(H.REPO_ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier (the smoke test runs tiny)")
    args = p.parse_args(argv)

    if not H.program_present():
        print(f"perfbench: {H.PACKAGE} not found under {H.REPO_ROOT}",
              file=sys.stderr)
        return 2
    spec = _spec()
    sys.path.insert(0, H.REPO_ROOT)

    t_proc = time.perf_counter()
    cpu0 = H.cpu_times()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-"
                                      f"{os.getpid()}")
    os.makedirs(work)
    env = H.hermetic_env(work)
    cwd = os.getcwd()
    os.chdir(work)
    try:
        import batch
        import interactive
        mod = {"interactive": interactive, "batch": batch}[args.workload]
        with H.RssPoller() as rss:
            res = mod.run(args.seed, args.seconds, bool(args.trace), work,
                          env, args.scale)
    except Exception:  # noqa: BLE001 — report, print no result, exit 1
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            H.stop_spark()
        H.reap(H.descendants(os.getpid()))
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    res["detail"].update(rss.peak_mb())
    detail = {k: {"value": v, "unit": DETAIL_UNITS[k]}
              for k, v in res["detail"].items() if k in DETAIL_UNITS}
    detail.update({k: {"value": v, "unit": u} for k, (v, u) in
                   metrics.items()})
    print("perfbench detail " + json.dumps({
        "workload": args.workload, "seed": args.seed,
        "wall_s": time.perf_counter() - t_proc,
        "cpu_steal_share": H.steal_share(cpu0, H.cpu_times()),
        "metrics": detail,
        "other": {k: v for k, v in res["detail"].items()
                  if k not in DETAIL_UNITS}}))
    for m in res["messages"]:
        print("perfbench mismatch: " + m, file=sys.stderr)

    if args.trace:
        layers = res["layers"]
        out = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec["per_layer"]}
        res["tracer"].write(os.path.join(
            HERE, "out", f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        out = {m["name"]: {"value": float(metrics[m["name"]][0]),
                           "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
