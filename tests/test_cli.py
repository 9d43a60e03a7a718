"""CLI driver — the reference's three endpoints as batch commands."""

from __future__ import annotations

import json
import os

from multiagent_document_etl_system_spark import cli
from tests.conftest import jobs_in_group


def _run(capsys, argv):
    rc = cli.main(argv)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return rc, json.loads(out)


def test_process_landing_dir(spark, tmp_path, capsys):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "inv.txt").write_text(
        "Invoice order value\nbilling@example.com total due 2024-03-05 129.99")
    (landing / "tiny.txt").write_text("short")
    out_dir = str(tmp_path / "out")

    rc, resp = _run(capsys, ["process", str(landing), out_dir])
    assert rc == 0
    assert resp == {"success": True, "documents": 2, "processed_ok": 1,
                    "valid": 1, "reused": 0, "recomputed": 2,
                    "incremental": False, "output": out_dir}
    got = spark.read.parquet(out_dir).collect()
    by_ok = {r["success"]: r for r in got}
    assert by_ok[False]["error"] == "Parsing failed: document too short"
    assert by_ok[True]["email"] == "billing@example.com"


def test_process_real_pdf_and_docx(spark, tmp_path, capsys):
    """The reference's actual job, end-to-end: a landing dir holding a REAL
    (compressed) PDF and a REAL DOCX flows through binary scan → stdlib
    parse → classify → extract → validate → response, no media libraries
    required."""
    from multiagent_document_etl_system_spark.sources.fixtures import (
        make_demo_docx_bytes,
        make_demo_pdf_bytes,
    )

    body = ["Invoice order value batch row table group",
            "contact billing@corp.example.com due 2024-03-05 total 129.99",
            "thank you for your continued business with our company"]
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.pdf").write_bytes(make_demo_pdf_bytes(body, compress=True))
    (landing / "b.docx").write_bytes(make_demo_docx_bytes(body))
    out_dir = str(tmp_path / "out")

    rc, resp = _run(capsys, ["process", str(landing), out_dir])
    assert rc == 0
    assert resp["documents"] == 2 and resp["processed_ok"] == 2
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 2
    for r in rows:  # both formats extracted identically from the same body
        assert r["success"], r["error"]
        assert r["email"] == "billing@corp.example.com"
        assert r["amount"] == 129.99
        assert r["date_str"] == "2024-03-05"
        assert r["doc_type"] is not None


def test_upload_schema_and_stats(tmp_path, capsys):
    reg = str(tmp_path / "registry.parquet")
    rc, resp = _run(capsys, [
        "upload-schema", "invoice", '{"fields":{"email":"e"}}',
        "--registry", reg])
    assert rc == 0 and resp["success"]
    assert resp["schema_id"].startswith("invoice_schema_")

    # re-upload same content -> same deterministic id (V7), idempotent
    rc2, resp2 = _run(capsys, [
        "upload-schema", "invoice", '{"fields":{"email":"e"}}',
        "--registry", reg])
    assert resp2["schema_id"] == resp["schema_id"]

    rc3, resp3 = _run(capsys, ["upload-schema", "x", "not json"])
    assert rc3 == 1 and not resp3["success"]

    rc4, stats = _run(capsys, ["stats"])
    assert rc4 == 0 and stats["engine"] == "pyspark"


def test_process_incremental_reuses_unchanged(spark, tmp_path, capsys):
    """--incremental recomputes ONLY new/changed documents (content-hash
    diff vs the prior output), drops deleted ones, and the final output is
    row-identical to a full reprocess."""
    body = ("Invoice order value billing@example.com "
            "total due 2024-03-05 129.99 " + "pad " * 20)
    landing = tmp_path / "landing"
    landing.mkdir()
    for name in ("a.txt", "b.txt", "c.txt"):
        (landing / name).write_text(body + name)
    out_dir = str(tmp_path / "out")

    rc, r1 = _run(capsys, ["process", str(landing), out_dir])
    assert rc == 0 and r1["documents"] == 3

    # mutate: change b, add d, delete c
    (landing / "b.txt").write_text(body + "CHANGED")
    (landing / "d.txt").write_text(body + "new doc")
    (landing / "c.txt").unlink()

    rc, r2 = _run(capsys, ["process", str(landing), out_dir, "--incremental"])
    assert rc == 0
    assert r2["incremental"] is True
    assert r2["documents"] == 3          # a, b(changed), d
    assert r2["reused"] == 1             # a
    assert r2["recomputed"] == 2         # b + d

    # ground truth: a fresh full run over the same landing dir
    full_dir = str(tmp_path / "full")
    _run(capsys, ["process", str(landing), full_dir])
    inc = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    full = sorted(map(tuple, spark.read.parquet(full_dir).collect()))
    assert inc == full

    # unchanged dir: nothing is recomputed
    rc, r3 = _run(capsys, ["process", str(landing), out_dir, "--incremental"])
    assert (r3["reused"], r3["recomputed"]) == (3, 0)

    # identical bytes rewritten with a new mtime: still reused
    a = landing / "a.txt"
    a.write_text(body + "a.txt")
    os.utime(a, (a.stat().st_mtime + 60,) * 2)
    rc, r4 = _run(capsys, ["process", str(landing), out_dir, "--incremental"])
    assert (r4["reused"], r4["recomputed"]) == (3, 0)
    assert sorted(map(tuple, spark.read.parquet(out_dir).collect())) == full


def _landing(tmp_path, n=3):
    body = ("Invoice order value billing@example.com "
            "total due 2024-03-05 129.99 " + "pad " * 20)
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(n):
        (landing / f"{i}.txt").write_text(body + str(i))
    return landing


def test_process_incremental_recomputes_on_pipeline_change(
        spark, tmp_path, capsys, monkeypatch):
    """A parser or pipeline source edit (PIPELINE_VERSION) invalidates
    every prior row: the next incremental run recomputes them all."""
    landing = _landing(tmp_path)
    out_dir = str(tmp_path / "out")
    _run(capsys, ["process", str(landing), out_dir])
    before = spark.read.parquet(out_dir).drop("content_hash").collect()

    monkeypatch.setattr(cli, "PIPELINE_VERSION", "edited-pipeline")
    rc, r = _run(capsys, ["process", str(landing), out_dir, "--incremental"])
    assert rc == 0 and r["incremental"] is True
    assert (r["reused"], r["recomputed"]) == (0, 3)
    after = spark.read.parquet(out_dir)
    assert sorted(map(tuple, after.drop("content_hash").collect())) \
        == sorted(map(tuple, before))
    rc, r = _run(capsys, ["process", str(landing), out_dir, "--incremental"])
    assert (r["reused"], r["recomputed"]) == (3, 0)


def test_pipeline_sources_hold_no_fixture_writers():
    """The digested sources define no fixture writer, so an edit to a test
    renderer never invalidates incremental reuse."""
    import ast
    from pathlib import Path

    pkg = Path(cli.__file__).parent
    assert "sources/fixtures.py" not in cli.PIPELINE_SOURCES
    writers = [
        f"{name}:{node.name}"
        for name in cli.PIPELINE_SOURCES
        for node in ast.walk(ast.parse((pkg / name).read_text()))
        if isinstance(node, ast.FunctionDef)
        and node.name.startswith(("make_demo_", "render_text_"))]
    assert not writers, writers


def test_pipeline_sources_are_closed_over_package_imports():
    """Every package module a digested source imports is digested too, so
    a later helper split cannot fall outside the reuse key. A module-level
    ``__getattr__`` only serves names the module does not define (the
    fixture-writer forwarding in sources/parsers.py) and is skipped."""
    import ast
    from pathlib import Path

    pkg = Path(cli.__file__).parent
    root = pkg.name

    def module_file(dotted: str) -> str | None:
        # a module's own file; package __init__s define no row logic
        rel = "/".join(dotted.split(".")[1:]) + ".py"
        return rel if (pkg / rel).is_file() else None

    def imported(tree) -> set[str]:
        out = set()
        for top in tree.body:
            if isinstance(top, ast.FunctionDef) and top.name == "__getattr__":
                continue
            for node in ast.walk(top):
                if isinstance(node, ast.Import):
                    mods = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    assert node.level == 0, "relative import"
                    mods = [node.module] + [f"{node.module}.{a.name}"
                                            for a in node.names]
                else:
                    continue
                out |= {f for m in mods if m and m.split(".")[0] == root
                        for f in [module_file(m)] if f}
        return out

    outside = sorted(
        f"{name} -> {dep}"
        for name in cli.PIPELINE_SOURCES
        for dep in imported(ast.parse((pkg / name).read_text()))
        if dep not in cli.PIPELINE_SOURCES)
    assert not outside, outside


def test_process_incremental_never_reuses_older_outputs(spark, tmp_path,
                                                        capsys):
    """An output written by an older release, keyed on md5 of the parsed
    text or carrying no content_hash at all, is recomputed in full, never
    mis-reused, and the result equals a fresh full run."""
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.io import read_landing_dir
    from multiagent_document_etl_system_spark.sources.parsers import (
        parse_documents,
        shape_documents,
    )

    landing = _landing(tmp_path)
    full_dir = str(tmp_path / "full")
    _run(capsys, ["process", str(landing), full_dir])
    full = spark.read.parquet(full_dir)
    want = sorted(map(tuple, full.collect()))
    text_keys = shape_documents(parse_documents(
        read_landing_dir(spark, str(landing)))).select(
        "doc_id", F.md5("text").alias("content_hash"))
    older = {
        "md5_text": full.drop("content_hash").join(text_keys, "doc_id"),
        "no_hash": full.drop("content_hash"),
    }
    for name, rows in older.items():
        out_dir = str(tmp_path / name)
        rows.write.parquet(out_dir)
        rc, r = _run(capsys,
                     ["process", str(landing), out_dir, "--incremental"])
        assert (r["reused"], r["recomputed"], r["documents"]) == (0, 3, 3), \
            name
        assert sorted(map(tuple, spark.read.parquet(out_dir).collect())) \
            == want, name


def _python_udf_rows(plan) -> list[int]:
    """Rows each Python-UDF evaluation node of an executed plan received
    back from its workers (a scalar UDF returns one row per row sent)."""
    name = plan.nodeName()
    if name.endswith("EvalPython"):
        return [int(plan.metrics().apply("pythonNumRowsReceived").value())]
    if name == "AdaptiveSparkPlan":
        return _python_udf_rows(plan.executedPlan())
    if name.endswith("QueryStage"):
        return _python_udf_rows(plan.plan())
    out, it = [], plan.children().iterator()
    while it.hasNext():
        out += _python_udf_rows(it.next())
    return out


def test_process_plan_parses_each_document_once(spark, tmp_path, capsys):
    """The written plan evaluates the parse UDF in exactly ONE node (no
    join-back of a second parse), and an incremental run over an
    unchanged dir sends no rows into it. Building the incremental plan
    runs no Spark job, and the whole incremental command runs at most
    three."""
    import re

    landing = _landing(tmp_path)
    out_dir = str(tmp_path / "out")

    full, recomputed, _ = cli.process_plan(spark, str(landing))
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\b(?:Arrow|Batch)EvalPython\b", plan)) == 1
    full.write.parquet(out_dir)
    assert recomputed.get["n_docs"] == 3

    ran, _, _ = cli.process_plan(spark, str(landing))
    ran.collect()
    assert sum(_python_udf_rows(ran._jdf.queryExecution().executedPlan())) \
        == 3

    (inc, recomputed, reused), n_jobs = jobs_in_group(
        spark, "process-plan-build",
        lambda: cli.process_plan(spark, str(landing), out_dir))
    assert n_jobs == 0
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\b(?:Arrow|Batch)EvalPython\b", plan)) == 1
    inc.collect()
    assert sum(_python_udf_rows(inc._jdf.queryExecution().executedPlan())) \
        == 0
    assert (recomputed.get["n_docs"], reused.get["n_docs"]) == (0, 3)

    # a dir no plan above has seen
    (tmp_path / "cmd").mkdir()
    landing, out_dir = _landing(tmp_path / "cmd"), str(tmp_path / "cmd_out")
    _run(capsys, ["process", str(landing), out_dir])
    (rc, resp), n_jobs = jobs_in_group(
        spark, "process-incremental",
        lambda: _run(capsys, ["process", str(landing), out_dir,
                              "--incremental"]))
    assert rc == 0 and (resp["recomputed"], resp["reused"]) == (0, 3)
    assert n_jobs <= 3


def test_curate_writes_funnel_survivors(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.plans.registry import (
        QUERIES,
        curation_flags,
    )
    from tests.conftest import SF_DIR

    out_dir = str(tmp_path / "curated")
    rc, resp = _run(capsys, ["curate", out_dir, "--sf-dir", SF_DIR])
    assert rc == 0 and resp["success"]
    # funnel metrics are monotone non-increasing
    assert (resp["n_input"] >= resp["n_gopher"] >= resp["n_decontam"]
            >= resp["n_unique"] >= resp["n_kept"] >= 0)

    written = spark.read.parquet(out_dir)
    assert written.count() == resp["n_kept"]
    assert set(written.columns) == {"doc_id", "lang", "text", "quality",
                                    "n_tokens"}
    # the written set IS the flag-conjunction survivor set
    want = {r["doc_id"] for r in curation_flags(spark, SF_DIR)
            .filter(F.col("f_gopher") & F.col("f_decon") & F.col("f_exact")
                    & F.col("f_near")).select("doc_id").collect()}
    got = {r["doc_id"] for r in written.select("doc_id").collect()}
    assert got == want
    # metrics agree with the reporting query on the same data
    funnel = QUERIES["td_curation_funnel"][0](spark, SF_DIR)
    assert resp["n_kept"] == sum(
        r["n_kept"] for r in funnel.collect())
    # lang partitioning on disk
    import os
    assert any(x.startswith("lang=") for x in os.listdir(out_dir))


def test_dedup_index_roundtrip(spark, tmp_path, capsys):
    """build-dedup-index + dedup-check: an exact copy of an indexed doc is
    flagged exact, a lightly edited copy is flagged near-dup, fresh text
    is clean — and the batch CLI agrees with the streaming query's
    operator (same function)."""
    from tests.conftest import SF_DIR

    corpus_dir = str(tmp_path / "corpus")
    drop_dir = str(tmp_path / "drop")
    index_dir = str(tmp_path / "index")

    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.write.parquet(corpus_dir)
    base = docs.orderBy("doc_id").limit(2).collect()
    near = " ".join(base[1]["text"].split()[:-1]) + " zzz"
    spark.createDataFrame(
        [(900001, base[0]["text"]),          # exact copy
         (900002, near),                     # near dup (one token changed)
         (900003, "completely fresh text never indexed " * 10)],
        "doc_id long, text string").write.parquet(drop_dir)

    rc, resp = _run(capsys, ["build-dedup-index", corpus_dir, index_dir])
    assert rc == 0 and resp["n_md5"] > 0 and resp["n_band_keys"] > 0
    from multiagent_document_etl_system_spark.operators.dedup import BLOOM_M
    assert 0 < resp["n_bloom_bits"] <= BLOOM_M

    out_dir = str(tmp_path / "flags")
    rc, resp = _run(capsys, ["dedup-check", drop_dir, index_dir,
                             "--output", out_dir])
    assert rc == 0 and resp["documents"] == 3
    flags = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert flags[900001]["exact_dup"]
    assert flags[900001]["n_band_matches"] > 0
    assert not flags[900002]["exact_dup"]
    assert flags[900002]["n_band_matches"] > 0
    assert not flags[900003]["exact_dup"]
    assert flags[900003]["n_band_matches"] == 0

    # bloom pre-filter tier: the exact copy MUST hit (no false
    # negatives); the summary partitions the drop
    bloom_out = str(tmp_path / "bloom_flags")
    rc, resp = _run(capsys, ["dedup-check", drop_dir, index_dir,
                             "--tier", "bloom", "--output", bloom_out])
    assert rc == 0 and resp["documents"] == 3
    assert resp["bloom_hits"] + resp["provably_new"] == 3
    bflags = {r["doc_id"]: r
              for r in spark.read.parquet(bloom_out).collect()}
    assert bflags[900001]["bloom_hit"] == 1


def test_split_writes_partitioned_deterministic(spark, tmp_path, capsys):
    """cli split: partitioned train/val/test layout, observe counts match
    the files, and the assignment is append-stable — re-splitting a GROWN
    corpus never moves an old doc between splits."""
    import json

    from multiagent_document_etl_system_spark import cli

    src = str(tmp_path / "docs")
    spark.range(500).selectExpr(
        "id AS doc_id", "concat('text ', id) AS text").write.parquet(src)
    out = str(tmp_path / "splits")
    assert cli.main(["split", src, out]) == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["n_total"] == 500
    assert m["n_train"] + m["n_val"] + m["n_test"] == 500
    assert m["n_train"] > m["n_val"] > 0 and m["n_test"] > 0
    first = {r["doc_id"]: r["split"]
             for r in spark.read.parquet(out).collect()}
    # grow the corpus and re-split into a fresh dir
    src2 = str(tmp_path / "docs2")
    spark.range(1000).selectExpr(
        "id AS doc_id", "concat('text ', id) AS text").write.parquet(src2)
    out2 = str(tmp_path / "splits2")
    assert cli.main(["split", src2, out2]) == 0
    capsys.readouterr()
    second = {r["doc_id"]: r["split"]
              for r in spark.read.parquet(out2).collect()}
    assert all(second[k] == v for k, v in first.items())


def test_curate_accepts_reliable_checkpoint_dir(spark, tmp_path, capsys):
    import json
    import os

    from multiagent_document_etl_system_spark import cli

    out = str(tmp_path / "curated")
    ck = str(tmp_path / "ck")
    assert cli.main(["curate", out, "--sf-dir", "/root/testdata/sf0.001",
                     "--checkpoint-dir", ck]) == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["success"] and m["n_input"] > 0
    assert any(os.scandir(ck)), "reliable checkpoints not written"


def test_curate_checkpoint_dir_reaches_every_lineage_cut(spark, tmp_path,
                                                         capsys, monkeypatch):
    """With --checkpoint-dir, no cut of the curate plan (the LSH bucket and
    candidate cuts, the cluster rounds) falls back to the executor-local
    localCheckpoint."""
    from tests.conftest import SF_DIR

    def local_cut(self, *args, **kwargs):
        raise AssertionError("localCheckpoint used despite --checkpoint-dir")

    # the session's concrete DataFrame class (PySpark 4's classic
    # DataFrame overrides the method of pyspark.sql.DataFrame)
    monkeypatch.setattr(type(spark.range(0)), "localCheckpoint", local_cut)
    out = str(tmp_path / "curated")
    ck = str(tmp_path / "ck")
    assert cli.main(["curate", out, "--sf-dir", SF_DIR,
                     "--checkpoint-dir", ck]) == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["success"] and m["n_input"] > 0


def test_span_dedup_writes_cleaned_corpus(spark, tmp_path, capsys):
    """cli span-dedup: shared passages are cut from the written text,
    fully-duplicated docs are dropped, observe metrics account for the
    removed token mass."""
    import json

    from multiagent_document_etl_system_spark import cli

    boiler = "all rights reserved by the example corporation"
    rows = [
        (1, f"alpha beta gamma {boiler} delta epsilon zeta"),
        (2, f"one two three {boiler} four five six"),
        (3, "totally unique text with no shared passages here"),
        (4, "clone clone text body identical everywhere"),
        (5, "clone clone text body identical everywhere"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(src)
    out = str(tmp_path / "cleaned")
    assert cli.main(["span-dedup", src, out]) == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["n_docs"] == 5 and m["docs_emptied"] == 2
    assert m["tokens_removed"] == 7 * 2 + 6 * 2  # passages + both clones
    got = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2, 3}  # emptied clones dropped
    assert got[1] == "alpha beta gamma delta epsilon zeta"
    assert got[2] == "one two three four five six"
    assert got[3] == rows[2][1]


def test_export_shards_manifest_matches_files(spark, tmp_path, capsys):
    """export-shards end-to-end: the written shard files and the read-back
    manifest agree on counts AND the order-insensitive bit_xor content
    checksum (recomputed here from the shard files), rows inside each
    shard are sorted by the hash position, and the _manifest dir is
    invisible to a plain read of the output."""
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.operators.dedup import hash64

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "shards")
    rc, resp = _run(capsys, ["export-shards", src, out, "--n-shards", "4"])
    assert rc == 0 and resp["success"] and resp["n_shards"] == 4
    n_src = spark.read.parquet(src).count()
    assert resp["n_docs"] == n_src

    data = spark.read.parquet(out)
    assert "shard" in data.columns and data.count() == n_src
    # the _manifest dir must not leak into the data read
    assert "n_docs" not in data.columns

    manifest = {r.shard: r for r in
                spark.read.parquet(out + "/_manifest").collect()}
    recomputed = {r.shard: r for r in (
        data.select("shard", hash64(F.col("text"), seed=11).alias("_ch"))
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"),
             F.expr("bit_xor(_ch)").alias("x")).collect())}
    assert set(manifest) == set(recomputed) == {0, 1, 2, 3}
    for s, m in manifest.items():
        assert m.n_docs == recomputed[s].n_docs
        assert m.content_xor64 == recomputed[s].x

    # in-shard order: position = seeded id hash, ascending within files
    one = (spark.read.parquet(out + "/shard=0")
           .withColumn("_h", hash64(F.col("doc_id").cast("string"),
                                    seed=97)).collect())
    hs = [r._h for r in one]
    assert hs == sorted(hs)


def test_export_shards_orc_format(spark, tmp_path, capsys):
    """--format orc produces the same rows and manifest counts as the
    parquet path (format is a layout choice, not a semantics one)."""
    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "shards_orc")
    rc, resp = _run(capsys, ["export-shards", src, out,
                             "--n-shards", "2", "--format", "orc"])
    assert rc == 0 and resp["success"] and resp["n_shards"] == 2
    data = spark.read.orc(out)
    src_ids = {r.doc_id for r in spark.read.parquet(src).collect()}
    assert {r.doc_id for r in data.collect()} == src_ids
    manifest = spark.read.parquet(out + "/_manifest")
    assert sum(r.n_docs for r in manifest.collect()) == len(src_ids)


def test_prepare_end_to_end(tmp_path):
    """The one-command training-corpus pipeline: curate -> span-dedup ->
    split -> shard. Stage metrics must chain (each stage's input count
    equals the previous stage's survivors) and the shard manifest must
    account for exactly the train split."""
    import contextlib
    import io as _io
    import json as _json

    from multiagent_document_etl_system_spark.cli import main

    out = str(tmp_path / "corpus")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["prepare", "/root/testdata/sf0.001", out,
                   "--n-shards", "4", "--min-df", "3"])
    assert rc == 0
    m = _json.loads(buf.getvalue())
    assert m["success"]
    assert m["curate"]["n_kept"] == m["span_dedup"]["n_docs"]
    survivors = m["span_dedup"]["n_docs"] - m["span_dedup"]["docs_emptied"]
    assert m["split"]["n_total"] == survivors
    assert m["split"]["n_train"] + m["split"]["n_val"] \
        + m["split"]["n_test"] == m["split"]["n_total"]
    assert m["shards"]["n_docs"] == m["split"]["n_train"]
    assert m["shards"]["n_shards"] == 4


def test_validate_passes_on_clean_data_and_catches_violations(spark,
                                                              tmp_path):
    """The validation suite passes on the generated testdata; a corpus
    with planted violations (duplicate key, NULL text, unknown lang,
    inconsistent n_chars) reports each rule's violation count."""
    import contextlib
    import io as _io
    import json as _json

    from multiagent_document_etl_system_spark.cli import main

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["validate", "--sf-dir", "/root/testdata/sf0.001"])
    m = _json.loads(buf.getvalue())
    assert rc == 0 and m["success"] and m["n_failed"] == 0

    # planted-violation corpus: copy the tables, corrupt documents
    bad = tmp_path / "bad_sf"
    bad.mkdir()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet") \
            .write.parquet(str(bad / f"{t}.parquet"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    planted = docs.union(docs.limit(1)) \
        .union(spark.createDataFrame(
            [(999_999, None, "xx", "srcX", 5)], docs.schema))
    planted.write.parquet(str(bad / "documents.parquet"))

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["validate", "--sf-dir", str(bad)])
    m = _json.loads(buf.getvalue())
    assert rc == 1 and not m["success"]
    v = m["violations"]
    assert v["documents.doc_id_unique"] == 2     # both copies counted
    assert v["documents.text_not_null"] == 1
    assert v["documents.lang_in_domain"] == 1
    assert v["documents.n_chars_consistent"] == 1


def test_provenance_writes_partitioned_audit(spark, tmp_path, capsys):
    """cli provenance writes the per-document removal audit partitioned
    by reason; the response counts come from a read-back, and every
    removed doc carries the contract columns (near/exact rows have a
    ref, gate rows don't)."""
    import json as _json

    from multiagent_document_etl_system_spark.cli import main

    out = str(tmp_path / "prov")
    rc = main(["provenance", "/root/testdata/sf0.001", out])
    m = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and m["success"]
    assert m["n_removed"] == sum(m["by_reason"].values()) > 0
    back = spark.read.parquet(out)
    assert set(back.columns) == {"doc_id", "ref_id", "reason"}
    # partition pruning works: reading one reason dir yields only it
    import os
    reasons = [d.split("=", 1)[1] for d in os.listdir(out)
               if d.startswith("reason=")]
    assert set(reasons) == set(m["by_reason"])
    for r in reasons:
        cnt = spark.read.parquet(f"{out}/reason={r}").count()
        assert cnt == m["by_reason"][r]


def test_bpe_train_writes_merge_table(spark, tmp_path, capsys):
    """bpe-train: the persisted merge table equals the in-process trainer
    on the same corpus (deterministic cut), schema pinned."""
    from multiagent_document_etl_system_spark.operators.bpe import bpe_train

    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "aaab " * 9 + "ab ab ab"), (2, "aaab aaab xy xy")],
        "doc_id long, text string").write.parquet(docs_dir)
    out_dir = str(tmp_path / "merges")
    rc, resp = _run(capsys, ["bpe-train", docs_dir, out_dir,
                             "--n-merges", "4"])
    assert rc == 0 and resp["n_merges"] >= 1
    got = [tuple(r) for r in spark.read.parquet(out_dir)
           .orderBy("step").collect()]
    want = bpe_train(spark.read.parquet(docs_dir), n_merges=4)
    assert got == want
    assert resp["merges"] == [m[2] for m in want]


def test_ingest_appends_survivors_and_grows_index(spark, tmp_path, capsys):
    """ingest: exact/near dups vs the persisted index are dropped, the
    novel doc appends, and the index grows so an immediate replay of the
    appended doc is now an exact dup."""
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    incoming_dir = str(tmp_path / "incoming")

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron " * 5).strip()
    novel = ("totally new content about adaptive query execution and "
             "shuffle partition coalescing " * 5).strip()
    spark.createDataFrame(
        [(1, base, "en", "web", len(base))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long").write.parquet(corpus_dir)
    rc, _ = _run(capsys, ["build-dedup-index", corpus_dir, index_dir])
    assert rc == 0
    spark.createDataFrame(
        [(7, base, "en", "crawl", len(base)),              # exact dup
         (17, base + " omega", "en", "crawl", len(base) + 6),  # near dup
         (27, novel, "en", "crawl", len(novel))],          # novel
        "doc_id long, text string, lang string, source string, "
        "n_chars long").write.parquet(incoming_dir)
    rc, resp = _run(capsys, ["ingest", incoming_dir, corpus_dir, index_dir])
    assert rc == 0
    assert resp["n_incoming"] == 3
    assert resp["n_appended"] == 1 and resp["n_dropped"] == 2
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus_dir).select("doc_id").collect())
    assert ids == [1, 27]
    # replaying the appended doc must now hit the grown index exactly
    rc, resp = _run(capsys, ["ingest", incoming_dir, corpus_dir, index_dir])
    assert rc == 0 and resp["n_appended"] == 0 and resp["n_dropped"] == 3


def test_ingest_resumes_after_crash_without_double_append(
        spark, tmp_path, capsys):
    """ADVICE r7 #2: a re-run after a crash between the corpus append and
    the index appends must NOT double-append the survivors (the sealed
    staging dir routes the re-run through the doc_id anti-join guard) and
    must still grow the index so a replay is caught as an exact dup."""
    import os

    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    incoming_dir = str(tmp_path / "incoming")

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron " * 5).strip()
    novel = ("fresh prose on columnar shuffle compaction and adaptive "
             "skew splitting strategies " * 5).strip()
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    spark.createDataFrame([(1, base, "en", "web", len(base))],
                          schema).write.parquet(corpus_dir)
    rc, _ = _run(capsys, ["build-dedup-index", corpus_dir, index_dir])
    assert rc == 0
    spark.createDataFrame([(27, novel, "en", "crawl", len(novel))],
                          schema).write.parquet(incoming_dir)

    # simulate the crashed first attempt: staging sealed, corpus already
    # appended, index appends never ran, staging never deleted
    from multiagent_document_etl_system_spark.cli import ingest_shard_id
    _, shard_id = ingest_shard_id(spark, os.path.abspath(incoming_dir))
    staging = os.path.join(corpus_dir, f"_staged_{shard_id}")
    inc = spark.read.parquet(incoming_dir)
    inc.write.mode("overwrite").parquet(staging)
    open(os.path.join(staging, "_STAGED_OK"), "w").close()
    inc.write.mode("append").parquet(corpus_dir)

    rc, resp = _run(capsys, ["ingest", incoming_dir, corpus_dir, index_dir])
    assert rc == 0 and resp["resumed"] is True
    # the crashed attempt already committed the doc: THIS run appended 0,
    # while the shard's dedup outcome (n_survivors) is still 1
    assert resp["n_appended"] == 0 and resp["n_survivors"] == 1
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus_dir).select("doc_id").collect())
    assert ids == [1, 27]  # no double-append
    assert not os.path.exists(staging)  # committed

    # the resumed run grew the index: a replay is now an exact dup
    rc, resp = _run(capsys, ["ingest", incoming_dir, corpus_dir, index_dir])
    assert rc == 0 and resp["resumed"] is False
    assert resp["n_appended"] == 0 and resp["n_dropped"] == 1


def test_ingest_does_not_resume_stale_staging_after_content_change(
        spark, tmp_path, capsys):
    """r8 ADVICE: recovery keyed on md5(path) alone would resume a
    crashed run's STALE staged survivors when the same drop path is
    reused with NEW content — the new shard's rows would never be
    deduped or ingested. The content fingerprint in the shard id must
    route the re-run through a FRESH dedup of the new bytes. The stale
    SEALED staging here carries NO partial-commit evidence (its run
    crashed right after sealing — nothing reached the corpus or index),
    so the sweep deletes it WITHOUT completing the commit tail (r10
    ADVICE: unconditional tail-completion resurrected content the
    operator deliberately replaced); see
    test_ingest_stale_sealed_staging_completes_partial_commit for the
    evidence-present branch."""
    import os
    import shutil

    from multiagent_document_etl_system_spark.cli import ingest_shard_id

    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    incoming_dir = str(tmp_path / "incoming")
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron " * 5).strip()
    spark.createDataFrame([(1, base, "en", "web", len(base))],
                          schema).write.parquet(corpus_dir)
    rc, _ = _run(capsys, ["build-dedup-index", corpus_dir, index_dir])
    assert rc == 0

    # generation 1 of the drop path: one novel doc, crashed after sealing
    gen1 = ("first generation prose about columnar layouts and shuffle "
            "free aggregation pushdown " * 5).strip()
    spark.createDataFrame([(101, gen1, "en", "crawl", len(gen1))],
                          schema).write.parquet(incoming_dir)
    _, stale_shard = ingest_shard_id(spark, incoming_dir)
    staging = os.path.join(corpus_dir, f"_staged_{stale_shard}")
    spark.read.parquet(incoming_dir).write.mode("overwrite").parquet(staging)
    open(os.path.join(staging, "_STAGED_OK"), "w").close()

    # the drop path is REUSED with generation 2: different content
    shutil.rmtree(incoming_dir)
    gen2 = ("second generation prose with entirely different vocabulary "
            "about watermark eviction semantics " * 5).strip()
    spark.createDataFrame([(202, gen2, "en", "crawl", len(gen2))],
                          schema).write.parquet(incoming_dir)

    rc, resp = _run(capsys, ["ingest", incoming_dir, corpus_dir, index_dir])
    assert rc == 0
    # NOT a resume: gen2 was deduped and ingested fresh
    assert resp["resumed"] is False
    assert resp["n_incoming"] == 1 and resp["n_appended"] == 1
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus_dir).select("doc_id").collect())
    # gen1's crashed run committed NOTHING (no staged doc_id in the
    # corpus), so the sweep deleted its staging without resurrecting the
    # deliberately-replaced content: only the seed and gen2 remain
    assert ids == [1, 202]
    assert not os.path.exists(staging)  # stale staging cleaned up
    # gen1's content never reached corpus or index — replaying it
    # through the same path ingests it as NEW content, not a dup
    shutil.rmtree(incoming_dir)
    spark.createDataFrame([(303, gen1, "en", "crawl", len(gen1))],
                          schema).write.parquet(incoming_dir)
    rc, resp = _run(capsys, ["ingest", incoming_dir, corpus_dir, index_dir])
    assert rc == 0 and resp["n_appended"] == 1 and resp["n_dropped"] == 0


def test_ingest_stale_sealed_staging_completes_partial_commit(
        spark, tmp_path, capsys):
    """r9 ADVICE (medium): a SEALED staging from an older content
    generation can belong to a run that crashed AFTER appending its
    survivors to the corpus and BEFORE the index appends. Blindly
    deleting it would orphan that partial commit — corpus docs with no
    md5/band index rows, so a later replay of the same content is never
    deduped (double-append). The sweep must complete the commit tail
    (anti-join-guarded corpus append — no double-append — plus the index
    appends) before deleting."""
    import os
    import shutil

    from multiagent_document_etl_system_spark.cli import ingest_shard_id

    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    incoming_dir = str(tmp_path / "incoming")
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron " * 5).strip()
    spark.createDataFrame([(1, base, "en", "web", len(base))],
                          schema).write.parquet(corpus_dir)
    rc, _ = _run(capsys, ["build-dedup-index", corpus_dir, index_dir])
    assert rc == 0

    # generation 1: crashed AFTER the corpus append, BEFORE the index
    # appends and the commit-point delete (the exact partial-commit
    # window the sweep used to orphan)
    gen1 = ("first generation prose about vectorized parquet decoding "
            "and late materialization " * 5).strip()
    spark.createDataFrame([(101, gen1, "en", "crawl", len(gen1))],
                          schema).write.parquet(incoming_dir)
    _, stale_shard = ingest_shard_id(spark, incoming_dir)
    staging = os.path.join(corpus_dir, f"_staged_{stale_shard}")
    inc1 = spark.read.parquet(incoming_dir)
    inc1.write.mode("overwrite").parquet(staging)
    open(os.path.join(staging, "_STAGED_OK"), "w").close()
    inc1.write.mode("append").parquet(corpus_dir)  # partial commit

    # the drop path is reused with generation 2 (different content)
    shutil.rmtree(incoming_dir)
    gen2 = ("second generation prose about dynamic partition pruning "
            "and runtime filters " * 5).strip()
    spark.createDataFrame([(202, gen2, "en", "crawl", len(gen2))],
                          schema).write.parquet(incoming_dir)
    rc, resp = _run(capsys, ["ingest", incoming_dir, corpus_dir, index_dir])
    assert rc == 0 and resp["resumed"] is False
    assert not os.path.exists(staging)
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus_dir).select("doc_id").collect())
    assert ids == [1, 101, 202]  # tail-completed, NOT double-appended

    # the repaired index must now catch a replay of gen1's content —
    # the exact missed-dedup the orphaned partial commit used to cause
    shutil.rmtree(incoming_dir)
    spark.createDataFrame([(301, gen1, "en", "crawl", len(gen1))],
                          schema).write.parquet(incoming_dir)
    rc, resp = _run(capsys, ["ingest", incoming_dir, corpus_dir, index_dir])
    assert rc == 0
    assert resp["n_appended"] == 0 and resp["n_dropped"] == 1
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus_dir).select("doc_id").collect())
    assert ids == [1, 101, 202]  # no double-append of gen1's content


def test_ingest_resumes_legacy_named_staging(spark, tmp_path, capsys):
    """r9 review (migration hazard): a sealed staging dir written by the
    pre-content-fingerprint release (`_staged_<path_id>`, no content
    suffix) is a genuinely crashed run — the re-run must RESUME it (the
    anti-join repair path), not recompute flags against a possibly
    partially-updated index."""
    import hashlib
    import os

    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    incoming_dir = str(tmp_path / "incoming")
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron " * 5).strip()
    novel = ("legacy staging resume prose about stride partitioned "
             "ingest repair " * 5).strip()
    spark.createDataFrame([(1, base, "en", "web", len(base))],
                          schema).write.parquet(corpus_dir)
    rc, _ = _run(capsys, ["build-dedup-index", corpus_dir, index_dir])
    assert rc == 0
    spark.createDataFrame([(55, novel, "en", "crawl", len(novel))],
                          schema).write.parquet(incoming_dir)

    # the legacy layout: staging named by path hash ONLY, sealed, corpus
    # already appended (crash fell before the index appends)
    path_id = hashlib.md5(incoming_dir.encode()).hexdigest()[:12]
    staging = os.path.join(corpus_dir, f"_staged_{path_id}")
    inc = spark.read.parquet(incoming_dir)
    inc.write.mode("overwrite").parquet(staging)
    open(os.path.join(staging, "_STAGED_OK"), "w").close()
    inc.write.mode("append").parquet(corpus_dir)

    rc, resp = _run(capsys, ["ingest", incoming_dir, corpus_dir, index_dir])
    assert rc == 0 and resp["resumed"] is True
    assert resp["n_appended"] == 0 and resp["n_survivors"] == 1
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(corpus_dir).select("doc_id").collect())
    assert ids == [1, 55]  # no double-append
    assert not os.path.exists(staging)  # committed + cleaned
