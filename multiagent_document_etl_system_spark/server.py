"""HTTP service facade (SURVEY.md §3): the reference's four endpoints —
``POST /process``, ``POST /upload-schema``, ``GET /health``, ``GET /stats``
(/root/reference/src/app.py:46-188) — served by the engine with ONLY the
Python standard library (http.server); a user of the reference can point
their existing client here unchanged.

- ``POST /process``: multipart/form-data with a ``file`` field (the
  reference's contract) or JSON ``{"filename": ..., "content_b64": ...}``.
  The upload is sanitized (P4 path-traversal guard) and parsed on the
  request thread (the same S1–S5 dispatch as the bulk parse UDF, incl. the
  stdlib PDF/DOCX/BMP/PNG/JPEG rungs). The ONE-plan pipeline
  (plans/pipeline.run_pipeline) over a one-row in-memory upload is
  analysed once per Spark application; a request swaps only that row
  (:func:`_upload_plan`). The optimizer folds the plan to a constant
  while planning, so a request runs no analyzer rule, no Spark job and
  writes no temp file. The response uses the reference's wrapper shape —
  ``{"success", "error", "data": {"record_id", "doc_type", "extracted",
  "file_url"}, "logs", "filename"}`` (reference src/agents.py:303-320,
  src/app.py:81-96). Malformed JSON/base64 is a 400, not a 500.
- ``POST /upload-schema``: ``doc_type`` + ``schema_json`` as
  application/x-www-form-urlencoded or multipart form fields (the
  reference declares them as FastAPI ``Form(...)`` — src/app.py:119-122
  — so its existing clients post forms), with JSON bodies also accepted.
  J5-gated (400 on invalid schema JSON), V7 content-hash id,
  MERGE-emulating upsert into the parquet registry (same path as
  ``cli upload-schema``).
- ``GET /health`` / ``GET /stats``: liveness + static configuration.

Request bodies are capped (``max_body``, default 64 MiB — documents are
single uploads); oversize requests get 413 without buffering the body,
and a ``Content-Length`` that is not a non-negative decimal integer gets
400 before any read. Any other failure is a 500 whose ``error`` is
``"<ExceptionClass>: <first line of its message>"``; the full text goes
to the log.

Scale posture: this facade is the INTERACTIVE path (one document per
request, exactly the reference's shape); bulk work belongs to
``cli process <landing_dir>`` / Structured Streaming, which run the same
pipeline over directories. One SparkSession is shared across requests;
``main`` starts it and analyses the ``/process`` plan before serving, so
a Spark version whose plan shape the leaf swap does not expect fails at
startup. A request only optimizes its plan, and runs no Spark job.
"""

from __future__ import annotations

import base64
import json
import logging
import re
import threading
import uuid
from email.parser import BytesParser
from email.policy import default as _EMAIL_POLICY
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_LOG = logging.getLogger(__name__)
_SPARK = None
_SPARK_LOCK = threading.Lock()


def _spark():
    global _SPARK
    with _SPARK_LOCK:
        if _SPARK is None:
            from multiagent_document_etl_system_spark.session import get_spark
            _SPARK = get_spark(app_name="doc-etl-server")
        return _SPARK


def _safe_filename(name: str) -> str:
    """P4 twin (functions/text.safe_filename, /root/reference/src/app.py:29-34):
    strip path components, keep only word/space/dash/dot characters."""
    base = name.replace("\\", "/").rsplit("/", 1)[-1]
    return re.sub(r"[^\w\s\-.]", "", base) or "upload.bin"


def _multipart_parts(content_type: str, body: bytes):
    """The parts of a multipart/form-data body — stdlib email parser."""
    msg = BytesParser(policy=_EMAIL_POLICY).parsebytes(
        f"Content-Type: {content_type}\r\n\r\n".encode() + body)
    if not msg.is_multipart():
        raise ValueError("not multipart/form-data")
    return list(msg.iter_parts())


def _parse_multipart(content_type: str, body: bytes):
    """(filename, payload) from a multipart/form-data body — returns the
    first file-bearing part."""
    for part in _multipart_parts(content_type, body):
        fname = part.get_filename()
        if fname:
            return fname, part.get_payload(decode=True)
    raise ValueError("multipart body has no file part")


def _form_fields(content_type: str, body: bytes) -> dict:
    """The reference declares /upload-schema's doc_type/schema_json as
    FastAPI ``Form(...)`` fields (src/app.py:119-122), i.e. its clients
    post application/x-www-form-urlencoded or multipart bodies. Accept
    both, plus JSON for convenience. Raises ValueError on bodies that
    parse as none of the three."""
    import urllib.parse

    if content_type.startswith("multipart/form-data"):
        fields = {}
        for part in _multipart_parts(content_type, body):
            name = part.get_param("name", header="content-disposition")
            if name:
                payload = part.get_payload(decode=True)
                fields[name] = payload.decode("utf-8", "replace")
        return fields
    if content_type.startswith("application/x-www-form-urlencoded"):
        qs = urllib.parse.parse_qs(body.decode("utf-8", "replace"),
                                   keep_blank_values=True)
        return {k: v[0] for k, v in qs.items()}
    req = json.loads(body)
    if not isinstance(req, dict):
        raise ValueError("JSON body must be an object")
    return req


#: The upload as the parse stage's output row. Bound to NULLs once per
#: application, so every leaf attribute is nullable (:func:`_upload_plan`).
_UPLOAD_SQL = ("SELECT * FROM VALUES (CAST(:path AS STRING), "
               "CAST(:text AS STRING), CAST(:error AS STRING)) "
               "AS t(path, raw_text, parse_error)")


def _upload_plan(spark):
    """Analyse the ``/process`` plan once; return ``answer(path, text,
    error)``, which swaps only the plan's one-row upload leaf and returns
    the response ``Row``.

    The template is ``run_pipeline(shape_documents(_UPLOAD_SQL))`` with
    every parameter NULL. Its analyzed plan must be a chain of
    single-child nodes over one ``LocalRelation``; any other shape (say,
    after a Spark upgrade) raises ``RuntimeError`` naming the node. A
    request puts its row in a copy of that leaf, rebuilds the chain over
    it, marks it analyzed and collects it: the analyzer skips a plan
    marked analyzed, so a request runs no analyzer rule, and the
    optimizer still folds the plan on the driver, so it runs no Spark
    job.

    This is the one place the server calls Catalyst internals through
    Py4J, and these are all of them: ``Dataset.queryExecution().analyzed``;
    ``TreeNode.children``, ``nodeName`` and ``withNewChildren``;
    ``LocalRelation.output``, ``isStreaming``, ``stream`` and ``copy``;
    ``GenericInternalRow`` and ``UTF8String.fromString`` for the row;
    ``LogicalPlan.setAnalyzed``; ``classic.Dataset.ofRows``; and Scala's
    ``Nil.prepended`` for one-element ``Seq``s. Their class and method
    handles are looked up here once, since each lookup is a round trip."""
    from pyspark.sql import DataFrame

    from multiagent_document_etl_system_spark.plans.pipeline import (
        run_pipeline,
    )
    from multiagent_document_etl_system_spark.sources.parsers import (
        shape_documents,
    )

    template = run_pipeline(spark, shape_documents(spark.sql(
        _UPLOAD_SQL, args={"path": None, "text": None, "error": None})))
    chain, leaf = [], template._jdf.queryExecution().analyzed()
    while leaf.children().size() == 1:
        chain.append(leaf)
        leaf = leaf.children().head()
    if leaf.nodeName() != "LocalRelation":
        raise RuntimeError(
            "the /process plan is not a chain of single-child nodes over "
            f"a LocalRelation: found {leaf.nodeName()}")
    jvm = spark._jvm
    prepend = getattr(getattr(jvm.scala.collection.immutable, "Nil$"),
                      "MODULE$").prepended  # Seq(x) == Nil.prepended(x)
    new_row = jvm.org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    utf8 = jvm.org.apache.spark.unsafe.types.UTF8String.fromString
    of_rows = jvm.org.apache.spark.sql.classic.Dataset.ofRows
    output, streaming = leaf.output(), leaf.isStreaming()
    stream = leaf.stream()
    rebuild = [node.withNewChildren for node in reversed(chain)]

    def answer(path: str, text: str | None, error: str | None):
        row = new_row(3)
        for i, value in enumerate((path, text, error)):
            if value is not None:
                row.update(i, utf8(value))
        plan = leaf.copy(output, prepend(row), streaming, stream)
        for with_child in rebuild:
            plan = with_child(prepend(plan))
        plan.setAnalyzed()
        [out] = DataFrame(of_rows(spark._jsparkSession, plan), spark).collect()
        return out

    return answer


def _process_plan(spark):
    """:func:`_upload_plan` of ``spark``'s application, built once."""
    from multiagent_document_etl_system_spark.io import once_per_session

    return once_per_session(spark, ("process_plan",),
                            lambda: _upload_plan(spark))


def process_document_bytes(filename: str, payload: bytes) -> dict:
    """One document through the whole engine pipeline, wrapped in the
    reference's response shape (src/agents.py:303-320 response_agent +
    src/app.py:81-96 logs/filename attachment): ``{"success", "error",
    "data": {"record_id", "doc_type", "extracted", "file_url", ...},
    "logs", "filename"}`` — ``data`` is None on failure.

    The pipeline plan is analysed once per Spark application
    (:func:`_upload_plan`); a request parses the upload, swaps the plan's
    one-row leaf for it, then optimizes and collects, with no analyzer
    rule and no Spark job. Each upload gets the path
    ``upload:/<uuid4>/<name>``, so its ``doc_id``, ``record_id`` and
    ``file_url`` are unique per upload."""
    from multiagent_document_etl_system_spark.sources.parsers import (
        format_for_path,
        parse_bytes,
    )

    answer = _process_plan(_spark())
    fname = _safe_filename(filename)
    logs = [f"Received file: {fname}", "Starting ETL pipeline..."]
    text, error = parse_bytes(format_for_path(fname), payload)
    row = answer(f"upload:/{uuid.uuid4()}/{fname}", text, error)
    r = row.asDict(recursive=True)
    if r["success"]:
        resp = {
            "success": True,
            "error": None,
            "data": {
                "record_id": r["record_id"],
                "doc_type": r["doc_type"],
                "extracted": {"email": r["email"],
                              "date_str": r["date_str"],
                              "amount": r["amount"]},
                "file_url": r["file_url"],
                # engine extras beyond the reference's four data keys
                "is_valid": r["is_valid"],
                "feedback": r["feedback"],
                "retry_count": r["retry_count"],
            },
        }
        logs.append("Document processed successfully")
    else:
        resp = {"success": False, "error": r["error"], "data": None}
        logs.append(f"Error: {r['error']}")
    resp["logs"] = logs
    resp["filename"] = fname
    return resp


def upload_schema(doc_type: str, schema_json: str,
                  description: str | None = None,
                  registry: str = "spark-warehouse/schemas") -> dict:
    import argparse

    from multiagent_document_etl_system_spark.cli import cmd_upload_schema

    return cmd_upload_schema(argparse.Namespace(
        doc_type=doc_type, schema_json=schema_json,
        description=description, registry=registry))


def stats(registry: str) -> dict:
    import argparse

    from multiagent_document_etl_system_spark.cli import cmd_stats

    return cmd_stats(argparse.Namespace(registry=registry))


class _Handler(BaseHTTPRequestHandler):
    registry = "spark-warehouse/schemas"
    #: request-body cap — single-document uploads; oversize → 413 before
    #: any buffering
    max_body = 64 * 1024 * 1024

    def _send(self, code: int, obj: dict) -> None:
        data = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, fmt, *args):  # quiet by default
        pass

    def do_GET(self):  # noqa: N802 — http.server contract
        if self.path == "/health":
            self._send(200, {"status": "healthy",
                             "service": "multiagent-document-etl-spark"})
        elif self.path == "/stats":
            self._send(200, stats(self.registry))
        else:
            self._send(404, {"error": f"unknown path {self.path}"})

    def do_POST(self):  # noqa: N802
        try:
            raw_length = self.headers.get("Content-Length", "0").strip()
            if not (raw_length.isascii() and raw_length.isdigit()):
                # a negative length would make rfile.read block until the
                # client hangs up; the body's end is unknown, so close
                self.close_connection = True
                self._send(400, {"success": False,
                                 "error": "bad request: invalid "
                                          "Content-Length"})
                return
            length = int(raw_length)
            if length > self.max_body:
                self._send(413, {"success": False,
                                 "error": f"request body exceeds "
                                          f"{self.max_body} bytes"})
                # drain in bounded chunks (never buffered whole) so the
                # client reliably sees the 413 instead of a reset
                remaining = length
                while remaining > 0:
                    chunk = self.rfile.read(min(65536, remaining))
                    if not chunk:
                        break
                    remaining -= len(chunk)
                return
            body = self.rfile.read(length)
            ctype = self.headers.get("Content-Type", "")
            if self.path == "/process":
                # malformed envelopes (bad JSON / bad base64 / missing
                # keys) are client errors — 400, never 500
                try:
                    if ctype.startswith("multipart/form-data"):
                        fname, payload = _parse_multipart(ctype, body)
                    else:
                        req = json.loads(body)
                        fname = req["filename"]
                        payload = base64.b64decode(req["content_b64"],
                                                   validate=True)
                except (ValueError, KeyError, TypeError) as exc:
                    self._send(400, {"success": False,
                                     "error": f"bad request: {exc}",
                                     "data": None, "logs": []})
                    return
                self._send(200, process_document_bytes(fname, payload))
            elif self.path == "/upload-schema":
                try:
                    req = _form_fields(ctype, body)
                except (ValueError, TypeError) as exc:
                    self._send(400, {"success": False,
                                     "error": f"bad request: {exc}"})
                    return
                doc_type = req.get("doc_type")
                if "schema_json" in req:
                    schema_json = req["schema_json"]
                elif "schema" in req:
                    schema_json = json.dumps(req["schema"])
                else:
                    schema_json = None
                if not doc_type or not schema_json:
                    self._send(400, {"success": False,
                                     "error": "doc_type and schema_json "
                                              "are required"})
                    return
                out = upload_schema(doc_type, schema_json,
                                    req.get("description"),
                                    registry=self.registry)
                if out.get("success"):
                    out.setdefault(
                        "message",
                        f"Schema for '{doc_type}' uploaded successfully")
                # J5 gate: invalid schema JSON is a client error
                self._send(200 if out.get("success") else 400, out)
            else:
                self._send(404, {"error": f"unknown path {self.path}"})
        except Exception as exc:  # noqa: BLE001 — request-level fidelity
            # the full text (for a Py4J error, the whole JVM stack) goes to
            # the log; the client gets the class and the first line
            _LOG.exception("POST %s failed", self.path)
            first = next(iter(str(exc).splitlines()), "")
            self._send(500, {"success": False,
                             "error": f"{type(exc).__name__}: {first}"})


def make_server(port: int = 0,
                registry: str = "spark-warehouse/schemas",
                max_body: int | None = None) -> ThreadingHTTPServer:
    """A ready-to-serve ThreadingHTTPServer (port 0 = ephemeral, for
    tests); callers own serve_forever()/shutdown()."""
    attrs: dict = {"registry": registry}
    if max_body is not None:
        attrs["max_body"] = max_body
    handler = type("Handler", (_Handler,), attrs)
    return ThreadingHTTPServer(("127.0.0.1", port), handler)


def main(argv: list[str] | None = None) -> int:
    import argparse

    p = argparse.ArgumentParser(prog="doc-etl-server")
    p.add_argument("--port", type=int, default=8000)
    p.add_argument("--registry", default="spark-warehouse/schemas")
    args = p.parse_args(argv)
    srv = make_server(args.port, args.registry)
    # analyse the /process plan now: a plan shape this Spark version
    # cannot swap fails at startup, not on the first request
    _process_plan(_spark())
    print(json.dumps({"serving": True, "port": srv.server_address[1]}))
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
