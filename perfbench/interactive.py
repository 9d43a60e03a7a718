"""The ``interactive`` workload: a closed loop of ``POST /process`` calls.

Two client threads each send one generated document to a ``server``
subprocess and wait for the reply before sending the next, as the
reference UI does. Envelopes alternate between multipart/form-data and
JSON-base64; documents cycle through text, PDF, DOCX and rendered-image
(OCR) formats, with a share of too-short and undecodable documents that
must come back with their specific error.

The traced run adds an in-process replay of the same documents through
``server.process_document_bytes`` and a layer breakdown: each layer's
output is materialized with a noop write, and its self time is that
prefix minus the previous one (scan → parse → pipeline).
"""

from __future__ import annotations

import base64
import json
import os
import random
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request

import check
import gen
import harness as H

N_DOCS = 48          # request pool; clients cycle through it
N_CLIENTS = 2
WARM_ROUNDS = 5
BOUNDARY = "perfbench-boundary-7d1c"


def _envelope(doc: gen.Doc, multipart: bool) -> tuple[bytes, str]:
    if multipart:
        body = (f"--{BOUNDARY}\r\nContent-Disposition: form-data; "
                f'name="file"; filename="{doc.name}"\r\n'
                "Content-Type: application/octet-stream\r\n\r\n").encode() \
            + doc.payload + f"\r\n--{BOUNDARY}--\r\n".encode()
        return body, f"multipart/form-data; boundary={BOUNDARY}"
    body = json.dumps({"filename": doc.name,
                       "content_b64": base64.b64encode(doc.payload).decode()})
    return body.encode(), "application/json"


def _post(port: int, doc: gen.Doc, multipart: bool) -> tuple[int, dict]:
    body, ctype = _envelope(doc, multipart)
    req = urllib.request.Request(f"http://127.0.0.1:{port}/process",
                                 data=body, method="POST",
                                 headers={"Content-Type": ctype})
    try:
        with urllib.request.urlopen(req, timeout=170) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as exc:
        return exc.code, {}


class Server:
    """The ``server`` entry point as a subprocess with a hermetic cwd."""

    def __init__(self, work: str, env: dict):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", f"{H.PACKAGE}.server", "--port", "0",
             "--registry", os.path.join(work, "schemas")],
            cwd=work, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True)
        line = self.proc.stdout.readline()
        if not line:
            self.stop()
            raise RuntimeError("server exited before serving")
        self.port = int(json.loads(line)["port"])

    def stop(self) -> None:
        tree = H.descendants(self.proc.pid)
        self.proc.terminate()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self.proc.stdout.close()
        H.reap(tree)


def _client_loop(port, docs, start, step, deadline, out, lock):
    i = start
    while time.perf_counter() < deadline:
        doc_i = i % len(docs)
        t0 = time.perf_counter()
        try:
            status, resp = _post(port, docs[doc_i], multipart=(i // 2) % 2 == 0)
        except OSError as exc:
            status, resp = 0, {"error": str(exc)}
        t1 = time.perf_counter()
        with lock:
            out.append({"client": start, "doc": doc_i, "t0": t0, "t1": t1,
                        "status": status, "resp": resp})
        i += step


def _check(docs, records) -> tuple[int, list[str]]:
    """(#wrong, messages): every response against the DuckDB oracle."""
    pairs, keyed = [], []
    for n, rec in enumerate(records):
        doc = docs[rec["doc"]]
        doc_id = check.doc_id_from_url(rec["resp"])
        if doc_id is None:
            doc_id = -(n + 1)  # failed rows: the error ignores the id
        pairs.append((doc_id, doc))
        keyed.append((doc_id, rec, doc))
    expected = check.expected_rows(pairs)
    wrong, msgs = 0, []
    for doc_id, rec, doc in keyed:
        if rec["status"] != 200:
            errs = [f"{doc.name}: HTTP {rec['status']}"]
        else:
            errs = check.check_response(rec["resp"], expected[doc_id],
                                        doc.name)
        if errs:
            wrong += 1
            msgs += errs
    return wrong, msgs


def _replay(tracer, docs, work):
    """Traced run: in-process replays of ``process_document_bytes``, each
    document untraced and traced, then the layer breakdown by
    noop-materialized prefixes."""
    from multiagent_document_etl_system_spark import server

    spark = server._spark()
    plain, diffs, counts_per_op = tracer.paired(
        "server.process_document_bytes",
        [lambda d=d: server.process_document_bytes(d.name, d.payload)
         for d in docs])

    layers: dict[str, list[float]] = {}
    by_fmt: dict[str, list[float]] = {f: [] for f in gen.FORMATS}
    for n, d in enumerate(docs):
        tmp = os.path.join(work, f"replay{n}")
        os.makedirs(tmp)
        with open(os.path.join(tmp, d.name), "wb") as fh:
            fh.write(d.payload)
        with tracer.span("layer_breakdown", op=n) as root:
            selfs = H.doc_layer_prefixes(spark, tracer, tmp, op=n,
                                         parent=root["id"])
        for k, v in selfs.items():
            layers.setdefault(k, []).append(v)
        by_fmt[d.fmt].append(layers["parse"][-1])
    return plain, diffs, counts_per_op, layers, by_fmt


def run(seed: int, seconds: float, trace: bool, work: str, env: dict,
        scale: float = 1.0) -> dict:
    rng = random.Random(seed)
    docs = gen.make_docs(rng, max(8, int(N_DOCS * scale)), f"s{seed}_",
                         bad_share=0.08)
    # set-up ends after WARM_ROUNDS rounds of two concurrent requests over
    # one warm document per format: the server's JIT and Python workers
    # keep speeding up requests for about that long, and a window that
    # started earlier would measure how far the warm-up got
    wrng = random.Random(seed + 1)
    warm = [gen.make_doc(wrng, f"warm{i}", f)
            for i, f in enumerate(gen.FORMATS)]
    # the traced replay uses the same documents, two of each format
    replay_docs = [d for f in gen.FORMATS for d in
                   [d for d in docs if d.fmt == f and d.parse_error is None
                    and len(d.text) >= gen.MIN_CHARS][:2]]

    boot: dict = {}
    booter = None
    if trace:
        # boot the harness's own session while the server sets up (the
        # traced run reports no end-to-end metric); joined before the
        # request window so the window sees an idle harness JVM
        def _boot():
            from multiagent_document_etl_system_spark import server
            from multiagent_document_etl_system_spark.session import (
                get_spark,
            )
            t0 = time.perf_counter()
            get_spark()
            boot["get_spark_s"] = time.perf_counter() - t0
            for d in warm:
                server.process_document_bytes(d.name, d.payload)
        booter = threading.Thread(target=_boot)
        booter.start()

    t_setup = time.perf_counter()
    srv = Server(work, env)
    try:
        for r in range(WARM_ROUNDS):
            pair = [warm[(2 * r) % len(warm)], warm[(2 * r + 1) % len(warm)]]
            replies: list = []
            ts = [threading.Thread(target=lambda d=d: replies.append(
                _post(srv.port, d, multipart=True))) for d in pair]
            for t in ts:
                t.start()
            for t in ts:
                t.join()
            if len(replies) != len(pair):
                raise RuntimeError("warm request raised")
            for status, resp in replies:
                if status != 200 or not resp.get("success"):
                    raise RuntimeError(f"warm request failed: {status} {resp}")
        setup_s = time.perf_counter() - t_setup
        if booter is not None:
            booter.join()

        records: list[dict] = []
        lock = threading.Lock()
        t_start = time.perf_counter()
        deadline = t_start + seconds
        clients = [threading.Thread(
            target=_client_loop,
            args=(srv.port, docs, c, N_CLIENTS, deadline, records, lock))
            for c in range(N_CLIENTS)]
        for c in clients:
            c.start()
        for c in clients:
            c.join()
    finally:
        srv.stop()
    # each client sends back to back, so its rate is its request count
    # over its own busy time; the clients' rates add up
    rate = 0.0
    for c in range(N_CLIENTS):
        mine = [r["t1"] for r in records if r["client"] == c]
        rate += len(mine) / (max(mine) - t_start)
    wrong, msgs = _check(docs, records)
    lat_ms = [(r["t1"] - r["t0"]) * 1000.0 for r in records]
    n = len(records)
    detail = {
        "requests": n,
        "latency_p50_ms": H.median(lat_ms),
        "latency_p90_ms": H.percentile(lat_ms, 90),
        "latency_p90_samples_beyond": n - int(0.9 * n),
        "requests_per_s": rate,
        "error_rate": wrong / n,
        "bad_docs_sent": sum(1 for r in records
                             if docs[r["doc"]].text is None
                             or len(docs[r["doc"]].text) < gen.MIN_CHARS),
    }
    result = {
        "attempted": n, "failed": wrong, "messages": msgs[:20],
        "metrics": {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (detail["latency_p50_ms"], "ms"),
            "docs_per_s": (detail["requests_per_s"], "1/s"),
        },
        "detail": detail,
    }
    if trace:
        from multiagent_document_etl_system_spark.session import get_spark

        tracer = H.Tracer(get_spark().sparkContext)
        for i, r in enumerate(records):
            tracer.record("client.POST /process", r["t0"], r["t1"], op=i)
        plain, diffs, counts_per_op, layers, by_fmt = _replay(
            tracer, replay_docs, work)
        replay_p50 = H.median(plain) * 1000.0
        layer = {
            "session.get_spark_s": boot["get_spark_s"],
            "server.process_document_bytes_ms": replay_p50,
            "server.http_and_wait_ms": detail["latency_p50_ms"] - replay_p50,
            "io.read_landing_dir_ms": H.median(layers["scan"]) * 1000.0,
            "io.ensure_parallelism_ms": H.median(layers["ensure"]) * 1000.0,
            "sources.parsers.parse_documents_s": H.median(layers["parse"]),
            "plans.pipeline.run_pipeline_s": H.median(layers["pipeline"]),
            "trace.overhead_ms": H.median(diffs) * 1000.0,
        }
        for fmt, xs in by_fmt.items():
            layer[f"sources.parsers.parse_s.{fmt}"] = H.median(xs)
        for k in ("jobs", "stages", "tasks"):
            layer[f"spark.{k}_per_op"] = H.median(
                c.get(k, 0) for c in counts_per_op)
        layer["spark.failed_tasks"] = sum(c.get("failed_tasks", 0)
                                          for c in counts_per_op)
        detail["trace_bookkeeping_ms"] = tracer.overhead_s * 1000.0
        result["layers"] = layer
        result["tracer"] = tracer
    return result
