"""Run one workload over several seeds and report, per end-to-end metric,
the median and the inter-quartile spread as a share of the median (the
steadiness test the benchmark's bounds are set against).

    python3 perfbench/spread.py --workload batch --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed",
                                 str(seed), "--seconds",
                                 str(spec["run_seconds"]),
                                 "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        detail = next((json.loads(ln[len("perfbench detail "):]) for ln in
                       proc.stdout.splitlines()
                       if ln.startswith("perfbench detail ")), {})
        print(f"seed {seed}: correct={res['correct']} "
              f"wall_s={detail.get('wall_s', 0):.1f} "
              f"steal={detail.get('cpu_steal_share', 0):.3f} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>16}: median {med:.4g}  iqr/median "
              f"{(q3 - q1) / med:.3f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
