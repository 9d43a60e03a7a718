"""HTTP facade (server.py): the reference's four endpoints driven over a
REAL socket — multipart and JSON-b64 uploads through the full parse +
pipeline, schema registration with the J5 gate, health/stats."""

from __future__ import annotations

import base64
import json
import threading
import urllib.request

import pytest


@pytest.fixture(scope="module")
def registry(tmp_path_factory):
    return str(tmp_path_factory.mktemp("registry") / "schemas")


@pytest.fixture(scope="module")
def server(spark, registry):
    from multiagent_document_etl_system_spark import server as srv

    # share the test session instead of booting a second JVM
    srv._SPARK = spark
    s = srv.make_server(0, registry=registry, max_body=256 * 1024)
    t = threading.Thread(target=s.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{s.server_address[1]}"
    s.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return r.status, json.loads(r.read())


def _post(url: str, data: bytes, ctype: str):
    req = urllib.request.Request(url, data=data,
                                 headers={"Content-Type": ctype})
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health_and_stats(server, registry):
    code, h = _get(f"{server}/health")
    assert code == 200 and h["status"] == "healthy"
    code, st = _get(f"{server}/stats")
    assert code == 200 and st["embedding_dimension"] == 384
    assert st["schema_registry"] == registry


def test_process_json_b64_text_document(server):
    # classifier keywords are corpus-vocabulary config: "value"/"order"
    # score the invoice label (operators/classify.LABEL_KEYWORDS)
    text = ("Purchase order of total value due.\n"
            "Billed to client@example.com on 2024-03-15 "
            "for the amount of $1,250.00. " * 3)
    code, out = _post(
        f"{server}/process",
        json.dumps({"filename": "../../etc/invoice one.txt",
                    "content_b64":
                        base64.b64encode(text.encode()).decode()}).encode(),
        "application/json")
    assert code == 200, out
    # reference response wrapper (src/agents.py:303-320 + src/app.py:81-96):
    # success/error/data{record_id,doc_type,extracted,file_url}/logs/filename
    assert out["success"] is True
    assert out["error"] is None
    # P4 path-traversal guard: directory components stripped
    assert out["filename"] == "invoice one.txt"
    data = out["data"]
    assert data["doc_type"] == "invoice"
    assert data["extracted"]["email"] == "client@example.com"
    assert data["extracted"]["date_str"] == "2024-03-15"
    assert data["is_valid"] is True
    assert data["record_id"] and data["file_url"].startswith("s3://")
    assert any("processed successfully" in line for line in out["logs"])


def test_process_multipart_jpeg_through_ocr(server):
    from multiagent_document_etl_system_spark.sources.fixtures import (
        render_text_jpeg,
    )

    jpg = render_text_jpeg("RECEIPT 9 TOTAL 45", subsampling="420")
    boundary = "testboundary42"
    body = (
        f"--{boundary}\r\n"
        f'Content-Disposition: form-data; name="file"; '
        f'filename="scan.jpg"\r\n'
        f"Content-Type: application/octet-stream\r\n\r\n"
    ).encode() + jpg + f"\r\n--{boundary}--\r\n".encode()
    code, out = _post(f"{server}/process", body,
                      f"multipart/form-data; boundary={boundary}")
    assert code == 200, out
    assert out["filename"] == "scan.jpg"
    # the stdlib JPEG OCR rung parsed the upload; the text is short, so
    # the pipeline's too-short gate reports honestly (reference behavior
    # for tiny docs) — parse itself must NOT be the failure
    assert out["error"] is None or "parse failed" not in out["error"]


def test_upload_schema_gate_and_upsert(server):
    good = json.dumps({"doc_type": "invoice",
                       "schema": {"fields": {"email": "string"}}}).encode()
    code, out = _post(f"{server}/upload-schema", good, "application/json")
    assert code == 200 and out["success"] and out["schema_id"]
    # J5 gate: malformed schema_json -> 400, success false
    bad = json.dumps({"doc_type": "invoice",
                      "schema_json": "{not json"}).encode()
    code, out = _post(f"{server}/upload-schema", bad, "application/json")
    assert code == 400 and not out["success"]
    # missing fields -> 400
    code, out = _post(f"{server}/upload-schema",
                      json.dumps({"doc_type": "x"}).encode(),
                      "application/json")
    assert code == 400


def test_unknown_path_404(server):
    import urllib.error

    try:
        urllib.request.urlopen(f"{server}/nope", timeout=30)
        raised = False
    except urllib.error.HTTPError as e:
        raised = e.code == 404
    assert raised


def test_concurrent_process_requests(server):
    """ThreadingHTTPServer + one shared SparkSession: four simultaneous
    /process uploads must all complete correctly (Spark schedules
    concurrent jobs from multiple threads; the session is thread-safe).
    Each document carries a distinct email so responses can't be
    cross-wired between requests."""
    import concurrent.futures

    def one(i: int):
        text = (f"Purchase order of total value due.\n"
                f"Billed to user{i}@example.com on 2024-03-1{i} "
                f"for the amount of $1,000.0{i}. " * 3)
        code, out = _post(
            f"{server}/process",
            json.dumps({"filename": f"doc{i}.txt",
                        "content_b64":
                            base64.b64encode(text.encode()).decode()}
                       ).encode(),
            "application/json")
        return i, code, out

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(one, range(4)))
    for i, code, out in results:
        assert code == 200, out
        assert out["success"] is True
        assert out["filename"] == f"doc{i}.txt"
        assert out["data"]["extracted"]["email"] == f"user{i}@example.com"
        assert out["data"]["extracted"]["date_str"] == f"2024-03-1{i}"


def test_upload_schema_form_encoded(server):
    """The reference declares doc_type/schema_json as FastAPI Form(...)
    fields — its existing clients post urlencoded or multipart forms, and
    both must register the schema (ADVICE r6, medium)."""
    import urllib.parse

    form = urllib.parse.urlencode({
        "doc_type": "receipt",
        "schema_json": json.dumps({"fields": {"total": "double"}}),
    }).encode()
    code, out = _post(f"{server}/upload-schema", form,
                      "application/x-www-form-urlencoded")
    assert code == 200 and out["success"] and out["schema_id"], out
    assert "uploaded successfully" in out["message"]

    boundary = "formboundary7"
    body = b"".join(
        (f"--{boundary}\r\n"
         f'Content-Disposition: form-data; name="{k}"\r\n\r\n'
         f"{v}\r\n").encode()
        for k, v in [("doc_type", "contract"),
                     ("schema_json", json.dumps({"fields": {}}))]
    ) + f"--{boundary}--\r\n".encode()
    code, out = _post(f"{server}/upload-schema", body,
                      f"multipart/form-data; boundary={boundary}")
    assert code == 200 and out["success"], out
    assert out["doc_type"] == "contract"

    # the J5 gate holds on the form path too
    bad = urllib.parse.urlencode({"doc_type": "x",
                                  "schema_json": "{nope"}).encode()
    code, out = _post(f"{server}/upload-schema", bad,
                      "application/x-www-form-urlencoded")
    assert code == 400 and not out["success"]


def test_process_bad_envelope_is_400_not_500(server):
    # malformed JSON body
    code, out = _post(f"{server}/process", b"{not json",
                      "application/json")
    assert code == 400 and not out["success"]
    # bad base64 payload
    code, out = _post(f"{server}/process",
                      json.dumps({"filename": "a.txt",
                                  "content_b64": "!!!notb64"}).encode(),
                      "application/json")
    assert code == 400 and not out["success"]
    # missing keys
    code, out = _post(f"{server}/process",
                      json.dumps({"filename": "a.txt"}).encode(),
                      "application/json")
    assert code == 400 and not out["success"]


def test_oversize_body_is_413(server):
    big = b"x" * (300 * 1024)  # server fixture caps max_body at 256 KiB
    code, out = _post(f"{server}/process", big, "application/json")
    assert code == 413 and not out["success"]


def test_process_hidden_looking_names(server):
    """Upload names starting with '_' or '.' are processed like any other
    (a directory scan would skip them as hidden files)."""
    text = ("Purchase order of total value due. "
            "Billed to client@example.com on 2024-03-15. " * 3)
    for name in ("_invoice.txt", ".invoice.txt"):
        code, out = _post(
            f"{server}/process",
            json.dumps({"filename": name,
                        "content_b64":
                            base64.b64encode(text.encode()).decode()}
                       ).encode(),
            "application/json")
        assert code == 200, out
        assert out["success"] is True, out
        assert out["filename"] == name
        assert out["data"]["doc_type"] == "invoice"


def _oracle_response(doc_id: int, text: str, parse_error: str | None):
    """pipeline_oracle_sql over one document, in the server's body shape."""
    import duckdb

    from multiagent_document_etl_system_spark.plans.pipeline import (
        pipeline_oracle_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE docs AS SELECT * FROM (VALUES "
                "(?::BIGINT, ?::VARCHAR, ?::BIGINT, ?::VARCHAR)) "
                "t(doc_id, text, n_chars, parse_error)",
                [doc_id, text, len(text), parse_error])
    cur = con.execute(pipeline_oracle_sql("docs", parse_error_col=True))
    r = dict(zip([c[0] for c in cur.description], cur.fetchone()))
    if not r["success"]:
        return {"success": False, "error": r["error"], "data": None}
    return {"success": True, "error": None, "data": {
        "record_id": r["record_id"], "doc_type": r["doc_type"],
        "extracted": {"email": r["email"], "date_str": r["date_str"],
                      "amount": r["amount"]},
        "file_url": r["file_url"], "is_valid": r["is_valid"],
        "feedback": r["feedback"], "retry_count": r["retry_count"]}}


def _uploads():
    """(name, payload, text, parse_error) per format: text, PDF, DOCX,
    PNG and an undecodable text file."""
    from multiagent_document_etl_system_spark.sources import fixtures

    body = ("Purchase order of total value due. Billed to "
            "client@example.com on 2024-03-15 for $1,250.00 in full.")
    ocr = "INVOICE 42 ORDER VALUE DUE 15 MARCH 2024 TOTAL 1337 PAID IN FULL"
    bad = b"\xff\xfe\x00 not utf-8"
    try:
        bad.decode("utf-8")
    except UnicodeDecodeError as exc:
        bad_error = f"text parse failed: {exc}"
    return [
        ("memo.txt", body.encode(), body, None),
        ("inv.pdf", fixtures.make_demo_pdf_bytes([body[:40], body[40:]]),
         body[:40] + "\n" + body[40:], None),
        ("inv.docx", fixtures.make_demo_docx_bytes([body]), body, None),
        ("scan.png", fixtures.render_text_png(ocr), ocr, None),
        ("bad.txt", bad, "", bad_error),
    ]


def test_process_runs_no_spark_job_and_matches_oracle(spark):
    """One upload per format is answered without a single Spark job, and
    each body equals the DuckDB pipeline oracle over the document's
    text."""
    from multiagent_document_etl_system_spark import server as srv

    srv._SPARK = spark
    uploads = _uploads()
    sc = spark.sparkContext
    group = "process-no-jobs"
    sc.setJobGroup(group, "process_document_bytes must run no job")
    try:
        bodies = [srv.process_document_bytes(name, payload)
                  for name, payload, _, _ in uploads]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    for (name, _, text, err), out in zip(uploads, bodies):
        url = (out["data"] or {}).get("file_url") or "s3://documents/0.txt"
        doc_id = int(url.removeprefix("s3://documents/").removesuffix(".txt"))
        want = _oracle_response(doc_id, text, err)
        assert {k: out[k] for k in want} == want, name
    assert [b["success"] for b in bodies] == [True] * 4 + [False]


def test_process_issues_few_py4j_commands(spark):
    """A warm ``process_document_bytes`` sends at most 70 Py4J commands
    from the calling thread for every upload format: the analyzed plan is
    built once, and a request only swaps its one-row leaf."""
    from py4j.clientserver import ClientServerConnection

    from multiagent_document_etl_system_spark import server as srv

    srv._SPARK = spark
    uploads = _uploads()
    for name, payload, _, _ in uploads:  # build the per-process Columns
        srv.process_document_bytes(name, payload)
    me, counts = threading.get_ident(), {}
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            counts[current] = counts.get(current, 0) + 1
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        for current, payload, _, _ in uploads:
            srv.process_document_bytes(current, payload)
    finally:
        ClientServerConnection.send_command = send
    assert set(counts) == {u[0] for u in uploads}
    assert max(counts.values()) <= 70, counts


def _fresh_answer(spark, path, text, error):
    """The /process row by a fresh analysis of ``_UPLOAD_SQL``."""
    from multiagent_document_etl_system_spark import server as srv
    from multiagent_document_etl_system_spark.plans.pipeline import (
        run_pipeline,
    )
    from multiagent_document_etl_system_spark.sources.parsers import (
        shape_documents,
    )

    upload = spark.sql(srv._UPLOAD_SQL, args={
        "path": path, "text": text, "error": error})
    [row] = run_pipeline(spark, shape_documents(upload)).collect()
    return row.asDict(recursive=True)


def _prepared_cases():
    """(path, text, error): every ``_uploads()`` fixture as parsed, plus
    a parse failure without text, an empty row, empty text and a text
    under the too-short gate."""
    from multiagent_document_etl_system_spark.sources.parsers import (
        format_for_path,
        parse_bytes,
    )

    cases = [(f"upload:/fixed-{n}/{name}",
              *parse_bytes(format_for_path(name), payload))
             for n, (name, payload, _, _) in enumerate(_uploads())]
    return cases + [
        ("upload:/edge-0/a.pdf", None, "pdf parse failed: x"),
        ("upload:/edge-1/b.txt", None, None),
        ("upload:/edge-2/c.txt", "", None),
        ("upload:/edge-3/d.txt", "Invoice due.", None),
    ]


def test_prepared_plan_matches_fresh_analysis(spark):
    """The leaf-swapped plan answers every upload exactly as a fresh
    ``run_pipeline`` over ``_UPLOAD_SQL`` does, failures included."""
    from multiagent_document_etl_system_spark import server as srv

    answer = srv._process_plan(spark)
    for path, text, error in _prepared_cases():
        got = answer(path, text, error).asDict(recursive=True)
        assert got == _fresh_answer(spark, path, text, error), path


def test_prepared_plan_is_thread_safe(spark):
    """Four threads sharing the one template get the serial answers."""
    import concurrent.futures

    from multiagent_document_etl_system_spark import server as srv

    answer = srv._process_plan(spark)
    cases = _prepared_cases() * 4
    serial = [answer(*c) for c in cases]
    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as ex:
        threaded = list(ex.map(lambda c: answer(*c), cases))
    assert threaded == serial


def test_prepared_plan_is_built_per_application(spark, monkeypatch):
    """The template is keyed on the Spark application, not held in a
    module global: another application id builds its own."""
    import pyspark

    from multiagent_document_etl_system_spark import io as eio
    from multiagent_document_etl_system_spark import server as srv

    first = srv._process_plan(spark)
    assert srv._process_plan(spark) is first
    monkeypatch.setattr(eio, "_SESSION_VALUES", dict(eio._SESSION_VALUES))
    monkeypatch.setattr(pyspark.SparkContext, "applicationId",
                        property(lambda sc: "another-application"))
    second = srv._process_plan(spark)
    assert second is not first
    case = _prepared_cases()[0]
    assert second(*case) == first(*case)


def test_prepared_plan_refuses_another_leaf(spark, monkeypatch):
    """A plan whose leaf is not the one-row ``LocalRelation`` fails when
    the template is built, naming the node it found."""
    from multiagent_document_etl_system_spark import server as srv

    monkeypatch.setattr(srv, "_UPLOAD_SQL", (
        "SELECT CAST(:path AS STRING) AS path, CAST(:text AS STRING) AS "
        "raw_text, CAST(:error AS STRING) AS parse_error FROM range(1)"))
    with pytest.raises(RuntimeError, match="found Range"):
        srv._upload_plan(spark)


def test_warm_process_runs_no_analyzer_rule(spark):
    """A warm request reuses the analyzed plan: over 5 requests the rule
    metrics show optimizer runs but no run of ``ResolveReferences`` or
    ``ResolveLateralColumnAliasReference``."""
    from multiagent_document_etl_system_spark import server as srv

    srv._SPARK = spark
    uploads = _uploads()
    srv.process_document_bytes(*uploads[0][:2])
    rules = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    rules.resetMetrics()
    for name, payload, _, _ in uploads:
        srv.process_document_bytes(name, payload)
    spent = rules.dumpTimeSpent()
    assert "ConvertToLocalRelation" in spent, spent
    for rule in ("ResolveReferences", "ResolveLateralColumnAliasReference"):
        assert rule not in spent, spent


def _raw_post(server: str, headers: str) -> bytes:
    """Send a POST head over a raw socket, keep the sending side open and
    return what the server answers before it closes (20 s per read)."""
    import socket

    host, port = server.removeprefix("http://").split(":")
    with socket.create_connection((host, int(port)), timeout=20) as s:
        s.sendall(f"POST /process HTTP/1.1\r\nHost: {host}\r\n"
                  f"Content-Type: application/json\r\n{headers}\r\n"
                  .encode())
        reply = b""
        while chunk := s.recv(65536):
            reply += chunk
        return reply


def test_bad_content_length_is_400(server):
    """A negative or non-numeric Content-Length is refused before any
    read; a negative one must not leave the handler waiting for the
    client to hang up."""
    for value in ("-1", "abc"):
        reply = _raw_post(server, f"Content-Length: {value}\r\n")
        assert reply.split(b"\r\n", 1)[0].split()[1] == b"400", reply
        body = json.loads(reply.split(b"\r\n\r\n", 1)[1])
        assert body["success"] is False
        assert "Content-Length" in body["error"]


def test_unexpected_error_is_typed_one_line_500(server, monkeypatch):
    """The 500 body names the exception class and the first line of its
    message, never a multi-line JVM stack."""
    from multiagent_document_etl_system_spark import server as srv

    def boom(filename, payload):
        raise RuntimeError("An error occurred while calling o42.select.\n"
                           "\tat org.apache.spark.Foo(Foo.scala:1)\n"
                           "\tat org.apache.spark.Bar(Bar.scala:2)")

    monkeypatch.setattr(srv, "process_document_bytes", boom)
    code, out = _post(
        f"{server}/process",
        json.dumps({"filename": "a.txt",
                    "content_b64": base64.b64encode(b"x").decode()}).encode(),
        "application/json")
    assert code == 500 and out["success"] is False
    assert out["error"] == ("RuntimeError: An error occurred while calling "
                            "o42.select.")
