"""Shared harness pieces: the hermetic work root, the process-tree RSS
poller, the span/Spark-counter tracer, and percentile helpers.

Nothing here imports pyspark at module level: the environment has to be
pinned (``hermetic_env``) before the first SparkSession starts.
"""

from __future__ import annotations

import json
import math
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "multiagent_document_etl_system_spark"


def program_present() -> bool:
    return os.path.isfile(os.path.join(REPO_ROOT, PACKAGE, "__init__.py"))


def hermetic_env(root: str) -> dict:
    """Pin the environment every Spark process (the harness's own, the
    server subprocess's, and their Python workers) inherits, with every
    scratch location under ``root``. Returns the environment."""
    tmp = os.path.join(root, "tmp")
    local = os.path.join(root, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # Spark's Python workers import the package by name; without the repo
    # root on PYTHONPATH every parse fails with ModuleNotFoundError when
    # the harness runs from another directory.
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO_ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={root}'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={root}/spark-warehouse",
        "pyspark-shell",
    ])
    return dict(os.environ)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parens: split after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_times() -> list[int]:
    """The machine's aggregate CPU jiffies from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings — high values flag a run slowed from outside."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class RssPoller:
    """Peak resident memory of the live processes the run started — the
    server subprocess, the JVMs and their Python workers — polled from
    /proc: the peak of the total, and separately of the JVMs and of the
    Python processes. The harness process itself is left out: in the
    in-process workloads it is the PySpark driver, but it also holds the
    output checks' DuckDB and Arrow state."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = {"total": 0, "jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            now = {"total": 0, "jvm": 0, "python": 0}
            for p in descendants(me):
                kb = _rss_kb(p)
                try:
                    with open(f"/proc/{p}/comm") as fh:
                        kind = "jvm" if fh.read().strip() == "java" \
                            else "python"
                except OSError:
                    continue
                now[kind] += kb
                now["total"] += kb
            for k, v in now.items():
                self.peak_kb[k] = max(self.peak_kb[k], v)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self) -> dict[str, float]:
        return {f"peak_rss{'' if k == 'total' else '_' + k}_mb": v / 1024.0
                for k, v in self.peak_kb.items()}


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory and written
    once at exit, plus Spark job/stage/task counts read per span through
    a job group and ``SparkContext.statusTracker()``. ``overhead_s``
    accumulates the time spent in the tracer's own bookkeeping."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._n = 0

    @contextmanager
    def span(self, name: str, op: int | str | None = None,
             parent: int | None = None, counts: dict | None = None):
        """Time the body. With ``counts`` (a dict), run the body under its
        own job group and add its jobs, stages, tasks and failed tasks into
        ``counts``."""
        b0 = time.perf_counter()
        self._n += 1
        sid, group = self._n, None
        if counts is not None:
            group = f"bench-{sid}"
            self.sc.setJobGroup(group, name)
        rec = {"id": sid, "name": name, "op": op, "parent": parent}
        self.overhead_s += time.perf_counter() - b0
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            b1 = time.perf_counter()
            rec.update(start=start, end=end)
            self.spans.append(rec)
            if group is not None:
                for k, v in self.job_counts(group).items():
                    counts[k] = counts.get(k, 0) + v
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - b1

    def paired(self, name: str, calls) -> tuple[list, list, list]:
        """Run each of ``calls`` once untraced and once in a counted span,
        alternating which goes first so that whatever the first run warms
        up cancels out. Returns per call the untraced seconds, the traced
        minus untraced seconds (the tracing overhead), and the span's
        Spark counts."""
        plain, diffs, counts = [], [], []
        for n, call in enumerate(calls):
            c: dict = {}
            t: dict = {}
            for traced in ((False, True) if n % 2 == 0 else (True, False)):
                t0 = time.perf_counter()
                if traced:
                    with self.span(name, op=n, counts=c):
                        call()
                else:
                    call()
                t[traced] = time.perf_counter() - t0
            plain.append(t[False])
            diffs.append(t[True] - t[False])
            counts.append(c)
        return plain, diffs, counts

    def record(self, name: str, start: float, end: float, op=None,
               parent: int | None = None) -> None:
        """Add a span the caller timed itself (e.g. a client request)."""
        self._n += 1
        self.spans.append({"id": self._n, "name": name, "op": op,
                           "parent": parent, "start": start, "end": end})

    def job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is None:
                    continue  # skipped stage: planned, never run
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = min(len(xs), max(1, math.ceil(q / 100.0 * len(xs))))
    return float(xs[k - 1])


def doc_layer_prefixes(spark, tracer, landing: str, op, glob=None,
                       parse_only: bool = False, out_dir: str | None = None,
                       parent: int | None = None) -> dict[str, float]:
    """Self time of each document-path layer over one landing dir, in the
    order scan → parse → (ensure_parallelism) → pipeline → write. Spark is
    lazy, so each layer's span materializes the plan up to that layer with
    a noop write; its self time is that prefix minus the previous one."""
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.io import (
        ensure_parallelism,
        read_landing_dir,
        write_parquet,
    )
    from multiagent_document_etl_system_spark.plans.pipeline import (
        run_pipeline,
    )
    from multiagent_document_etl_system_spark.sources.parsers import (
        parse_documents,
    )

    def span(name, fn):
        with tracer.span(name, op=op, parent=parent) as s:
            fn()
        return s["end"] - s["start"]

    scan = span("io.read_landing_dir",
                lambda: noop(read_landing_dir(spark, landing, glob=glob)))
    parsed = parse_documents(read_landing_dir(spark, landing, glob=glob))
    parse = span("sources.parsers.parse_documents", lambda: noop(parsed))
    out = {"scan": scan, "parse": parse - scan}
    if parse_only:
        return out
    # the document contract cli.cmd_process and the server build
    docs = parsed.select(
        F.xxhash64("path").alias("doc_id"),
        F.coalesce("raw_text", F.lit("")).alias("text"),
        F.lit("und").alias("lang"),
        F.element_at(F.split("path", "/"), -1).alias("source"),
        F.coalesce(F.length("raw_text"), F.lit(0)).cast("bigint")
        .alias("n_chars"),
        "parse_error")
    out["ensure"] = span("io.ensure_parallelism",
                         lambda: ensure_parallelism(docs))
    resp = run_pipeline(spark, docs)
    pipe = span("plans.pipeline.run_pipeline", lambda: noop(resp))
    out["pipeline"] = pipe - parse
    if out_dir is not None:
        write = span("io.write_parquet", lambda: write_parquet(resp, out_dir))
        out["write"] = write - pipe
    return out


def plan_metrics(df) -> list[dict]:
    """The row and partition counts the engine recorded while it last
    executed ``df``: one ``{"node", "output", "numOutputRows",
    "numPartitions"}`` per node of the executed plan, walked through
    adaptive query stages and reused exchanges (a count the node does not
    keep is left out). Read after the action, so the counts are the
    program's own, not a model of it."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        elif name == "ReusedExchange":
            todo.append(node.child())
        else:
            kids = node.children()
            todo += [kids.apply(i) for i in range(kids.size())]
        rec = {"node": name, "output": node.output().toString()}
        for k in ("numOutputRows", "numPartitions"):
            m = node.metrics().get(k)
            if m.isDefined():
                rec[k] = int(m.get().value())
        out.append(rec)
    return out


def noop(df) -> None:
    """Materialize a DataFrame without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


def stop_spark() -> None:
    """Stop the harness's SparkSession and its JVM, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — gateway already gone
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 — fall through to the reaper
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGTERM then SIGKILL stragglers."""
    deadline = time.monotonic() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                    and not _zombie(p)]
            if not pids:
                return
            time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
        return stat[stat.rindex(b")") + 2:].split()[0] == b"Z"
    except OSError:
        return True
