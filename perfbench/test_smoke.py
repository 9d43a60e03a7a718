"""Smoke test of the benchmark harness at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that the generators are seeded (same seed → same bytes, another
seed → other bytes), that a traced run of each workload passes every
output check and prints every metric of BENCHMARK.json with its unit, and
that the harness refuses to run without the program beside it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _digest(seed: int, tmp) -> str:
    rng = random.Random(seed)
    docs = gen.make_docs(rng, 12, "d", bad_share=0.2)
    docs, _ = gen.mutate_docs(rng, docs, 0.25, "n")
    h = hashlib.sha256()
    for d in docs:
        h.update(d.name.encode() + d.payload)
    path = os.path.join(str(tmp), f"c{seed}", "documents.parquet")
    gen.write_corpus(rng, 50, path)
    with open(path, "rb") as fh:
        h.update(fh.read())
    h.update(gen.make_embeddings(seed, 20, 3).tobytes())
    return h.hexdigest()


def test_generators_are_seeded(tmp_path):
    assert _digest(1, tmp_path / "a") == _digest(1, tmp_path / "b")
    assert _digest(1, tmp_path / "a") != _digest(2, tmp_path / "a")


def _run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=400)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_reports_every_metric(workload):
    proc = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", "1", "--scale", "0.2")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    got = result["metrics"]
    assert set(got) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert got[m["name"]]["unit"] == m["unit"]
    detail = json.loads(next(ln for ln in lines if
                             ln.startswith("perfbench detail "))
                        [len("perfbench detail "):])
    for m in SPEC["end_to_end"]:
        assert detail["metrics"][m["name"]]["unit"] == m["unit"]
        assert detail["metrics"][m["name"]]["value"] > 0
    assert detail["metrics"]["error_rate"]["value"] == 0


def test_refuses_without_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("work", "out",
                                                  "__pycache__"))
    proc = _run("--workload", "batch", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
