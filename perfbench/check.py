"""Output checks. Each returns a list of human-readable mismatch strings
(empty = correct), so the caller can count them into ``error_rate``.

The expected document results come from the DuckDB twin of the pipeline
(``plans.pipeline.pipeline_oracle_sql``) evaluated over the generator's
expected parsed text — a check of both the parse layer and the pipeline.
"""

from __future__ import annotations

import duckdb
import numpy as np

from multiagent_document_etl_system_spark.plans.pipeline import (
    pipeline_oracle_sql,
)

RESPONSE_COLS = ("doc_id", "success", "error", "doc_type", "schema_source",
                 "description", "record_id", "file_url", "is_valid",
                 "feedback", "retry_count", "email", "date_str", "amount",
                 "first_token", "n_tokens")


def expected_rows(docs_with_ids) -> dict[int, dict]:
    """``[(doc_id, Doc)]`` → {doc_id: expected response row} via DuckDB."""
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                    "n_chars BIGINT, parse_error VARCHAR)")
        rows = [(int(i), d.text or "", len(d.text or ""), d.parse_error)
                for i, d in docs_with_ids]
        if rows:
            con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
        res = con.execute(pipeline_oracle_sql("documents",
                                              parse_error_col=True))
        cols = [c[0] for c in res.description]
        out = {}
        for r in res.fetchall():
            row = dict(zip(cols, r))
            out[int(row["doc_id"])] = row
        return out
    finally:
        con.close()


def check_response(resp: dict, exp: dict, name: str) -> list[str]:
    """A ``/process`` response against its expected pipeline row."""
    if not exp["success"]:
        if resp.get("success") or resp.get("error") != exp["error"]:
            return [f"{name}: expected error {exp['error']!r}, "
                    f"got {resp.get('success')} {resp.get('error')!r}"]
        return []
    data = resp.get("data") or {}
    got = {
        "success": resp.get("success"), "error": resp.get("error"),
        "doc_type": data.get("doc_type"), "record_id": data.get("record_id"),
        "file_url": data.get("file_url"), "is_valid": data.get("is_valid"),
        "feedback": data.get("feedback"),
        "retry_count": data.get("retry_count"),
        **(data.get("extracted") or {}),
    }
    bad = [k for k, v in got.items() if v != exp.get(k)]
    return [f"{name}: field {k} = {got[k]!r}, expected {exp.get(k)!r}"
            for k in bad]


def doc_id_from_url(resp: dict) -> int | None:
    url = (resp.get("data") or {}).get("file_url") or ""
    if url.startswith("s3://documents/") and url.endswith(".txt"):
        return int(url[len("s3://documents/"):-len(".txt")])
    return None


def check_table(got_rows: list[dict], expected: dict[int, dict],
                what: str) -> list[str]:
    """Bulk output rows (one per document) against expected rows."""
    errs = []
    seen = set()
    for r in got_rows:
        i = int(r["doc_id"])
        if i in seen:
            errs.append(f"{what}: duplicate doc_id {i}")
            continue
        seen.add(i)
        exp = expected.get(i)
        if exp is None:
            errs.append(f"{what}: unexpected doc_id {i}")
            continue
        for c in RESPONSE_COLS:
            if r.get(c) != exp.get(c):
                errs.append(f"{what}: doc {i} column {c} = {r.get(c)!r}, "
                            f"expected {exp.get(c)!r}")
                break
    missing = set(expected) - seen
    if missing:
        errs.append(f"{what}: {len(missing)} documents missing")
    return errs


def funnel_oracle(documents_parquet: str) -> dict[str, int]:
    """The registry's ``td_curation_funnel`` DuckDB oracle over a
    generated table, summed over languages."""
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()["td_curation_funnel"]
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{documents_parquet}')")
        res = con.execute(sql)
        cols = [c[0] for c in res.description]
        out = {k: 0 for k in ("n_input", "n_gopher", "n_decontam",
                              "n_unique", "n_kept")}
        for r in res.fetchall():
            row = dict(zip(cols, r))
            for k in out:
                out[k] += int(row[k])
        return out
    finally:
        con.close()


def exact_topk(corpus: np.ndarray, queries: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k (ids ascending on ties) and the full cosine
    matrix, in float64."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    cos = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1),
                               np.linalg.norm(c, axis=1))
    ids = np.arange(c.shape[0])
    top = np.stack([np.lexsort((ids, -row))[:k] for row in cos])
    return top, cos


def check_topk(rows, cos: np.ndarray, exact_ids: np.ndarray,
               k: int) -> tuple[list[str], int]:
    """ANN rows (q_id, c_id, score, rank) against exact NumPy cosines:
    every score must equal the exact cosine to 4 decimal places. Returns
    (mismatches, exact top-k hits) — the hits feed recall@k."""
    errs, hits = [], 0
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["q_id"]), []).append(r)
    for qi, rs in by_q.items():
        ranks = sorted(int(r["rank"]) for r in rs)
        if ranks != list(range(1, len(rs) + 1)) or len(rs) > k:
            errs.append(f"query {qi}: bad ranks {ranks}")
        for r in rs:
            want = cos[qi, int(r["c_id"])]
            if abs(float(r["score"]) - want) > 0.5e-4 + 1e-9:
                errs.append(f"query {qi} cand {r['c_id']}: score "
                            f"{r['score']} vs exact {want:.6f}")
        hits += len({int(r["c_id"]) for r in rs} & set(exact_ids[qi].tolist()))
    return errs, hits
