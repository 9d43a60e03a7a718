"""Model-based tests for the session-7 ops: Bloom membership pre-filter,
content-defined chunking, and the LSH-blocked mutual-kNN graph.

Each op is checked against a pure-Python replica of its exact contract
(the md5 hash family and the deterministic hyperplane constants make all
three fully reproducible outside Spark), plus the structural guarantees a
user relies on (no Bloom false negatives, CDC shift-robustness, degree
bounds)."""

from __future__ import annotations

import hashlib
import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.operators import (
    dedup,
    similarity,
    textstats,
)


def _h64(s: str, seed: int | None = None) -> int:
    keyed = s if seed is None else f"{seed}:{s}"
    return int(hashlib.md5(keyed.encode()).hexdigest()[:15], 16)


def _bloom_pos(key: str, m: int, k: int) -> list[int]:
    return [_h64(key, seed=i) % m for i in range(k)]


# ------------------------------------------------------------------ bloom

def _kv_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bloom_no_false_negatives_and_exact_flags(spark):
    corpus = _kv_frame(spark, [(1, "alpha"), (2, "beta"), (3, "gamma")])
    probes = _kv_frame(spark, [(10, "alpha"), (11, "delta"), (12, "beta")])
    out = {r.doc_id: r for r in dedup.bloom_membership(
        corpus, probes, key=F.md5("text"), probe_key=F.md5("text"),
    ).collect()}
    assert set(out) == {10, 11, 12}
    # members MUST hit (the Bloom guarantee) and be flagged exact
    assert out[10].bloom_hit == 1 and out[10].exact_hit == 1
    assert out[12].bloom_hit == 1 and out[12].exact_hit == 1
    # non-member: exact 0; bloom_hit may be 0 or 1 (FP), never < exact
    assert out[11].exact_hit == 0
    for r in out.values():
        assert r.bloom_hit >= r.exact_hit


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6),
                min_size=1, max_size=12, unique=True),
       st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6),
                min_size=1, max_size=8, unique=True))
def test_bloom_matches_python_model(spark, corpus_keys,
                                    probe_keys):
    """bloom_hit / exact_hit agree EXACTLY with a pure-Python replica of
    the seeded-md5 position family (the construction is deterministic,
    so the comparison is equality, not a statistical bound)."""
    m, k = 64, 3  # tiny bitmap so FPs actually occur in the fuzz
    corpus = _kv_frame(spark, [(i, t) for i, t in enumerate(corpus_keys)])
    probes = _kv_frame(
        spark, [(100 + i, t) for i, t in enumerate(probe_keys)])
    got = {r.doc_id: (r.bloom_hit, r.exact_hit)
           for r in dedup.bloom_membership(
               corpus, probes, key=F.md5("text"), probe_key=F.md5("text"),
               m=m, k=k).collect()}
    bits = {p for t in corpus_keys
            for p in _bloom_pos(hashlib.md5(t.encode()).hexdigest(), m, k)}
    exact = {hashlib.md5(t.encode()).hexdigest() for t in corpus_keys}
    want = {}
    for i, t in enumerate(probe_keys):
        key = hashlib.md5(t.encode()).hexdigest()
        want[100 + i] = (
            int(all(p in bits for p in _bloom_pos(key, m, k))),
            int(key in exact),
        )
    assert got == want


# ------------------------------------------------------------ CDC chunks

def _cdc_model(docs: dict[int, str], mod: int = 16):
    """Pure-Python replica of textstats.cdc_chunks."""
    per_doc_chunks: dict[int, list[list[str]]] = {}
    for did, text in docs.items():
        toks = [t for t in text.strip().split() if t]
        if not toks:
            continue
        chunks, cur = [], []
        for t in toks:
            cur.append(t)
            if _h64(t) % mod == 0:
                chunks.append(cur)
                cur = []
        if cur:
            chunks.append(cur)
        per_doc_chunks[did] = chunks
    dfreq: dict[int, set[int]] = {}
    for did, chunks in per_doc_chunks.items():
        for c in chunks:
            dfreq.setdefault(_h64(" ".join(c)), set()).add(did)
    out = {}
    for did, chunks in per_doc_chunks.items():
        out[did] = (
            sum(len(c) for c in chunks),
            len(chunks),
            sum(1 for c in chunks if len(dfreq[_h64(" ".join(c))]) >= 2),
            max(len(c) for c in chunks),
        )
    return out


def _cut_token() -> str:
    """A token the md5 cut rule fires on (found, not hard-coded)."""
    for i in range(10_000):
        if _h64(f"w{i}") % textstats.CDC_BOUNDARY_MOD == 0:
            return f"w{i}"
    raise AssertionError("no cut token in w0..w9999")


def test_cdc_chunks_shift_robust_and_matches_model(spark):
    """Inserting ONE token before a copied passage must not destroy the
    shared chunks after the first content-defined boundary — the property
    fixed-size chunking lacks."""
    cut = _cut_token()
    passage = f"p1 p2 {cut} q1 q2 q3 {cut} r1 r2"
    docs = {
        1: passage,
        2: f"zshift {passage}",   # one-token prefix insertion
        3: "u1 u2 u3 u4",          # unrelated
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_chunks, r.n_dup_chunks,
                      r.max_chunk_tokens)
           for r in textstats.cdc_chunks(df).collect()}
    assert got == _cdc_model(docs)
    # the copied tail chunks survive the shift: both docs report overlap
    assert got[1][2] > 0 and got[2][2] > 0
    assert got[3][2] == 0


@settings(max_examples=15, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from([f"t{i}" for i in range(30)]),
             min_size=1, max_size=25),
    min_size=1, max_size=6))
def test_cdc_chunks_fuzz_vs_model(spark, token_lists):
    docs = {i + 1: " ".join(toks) for i, toks in enumerate(token_lists)}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_chunks, r.n_dup_chunks,
                      r.max_chunk_tokens)
           for r in textstats.cdc_chunks(df, boundary_mod=4).collect()}
    assert got == _cdc_model(docs, mod=4)


def test_cdc_chunks_empty_and_null_docs_absent(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, None), (4, "   ")],
        "doc_id long, text string")
    ids = {r.doc_id for r in textstats.cdc_chunks(df).collect()}
    assert ids == {1}


# ------------------------------------------------------------- kNN graph

def _knn_model(vecs: dict[int, list[float]], dim: int, k: int,
               n_planes: int, seed: int):
    planes = similarity.hyperplanes(dim, n_planes, seed)

    def sig(v):
        s = 0
        for i, p in enumerate(planes):
            d = 0.0
            for x, y in zip(v, p):
                d += x * y
            if d >= 0:
                s += 2 ** i
        return s

    def cos(a, b):
        da = db = dab = 0.0
        for x, y in zip(a, b):
            da += x * x
            db += y * y
            dab += x * y
        n = math.sqrt(da) * math.sqrt(db)
        return 0.0 if n == 0 else dab / n

    buckets: dict[int, list[int]] = {}
    for vid, v in vecs.items():
        buckets.setdefault(sig(v), []).append(vid)
    edges: dict[int, list[int]] = {}
    for bucket in buckets.values():
        for a in bucket:
            cands = sorted(
                ((math.floor(cos(vecs[a], vecs[b]) * 10000.0 + 0.5), b)
                 for b in bucket if b != a),
                key=lambda t: (-t[0], t[1]))
            if cands:
                edges[a] = [b for _, b in cands[:k]]
    out = {}
    for a, nbrs in edges.items():
        mutual = sum(1 for b in nbrs if a in edges.get(b, []))
        out[a] = (len(nbrs), mutual, nbrs[0])
    return out


def test_knn_graph_matches_python_model(spark):
    import random
    rng = random.Random(7)
    dim, n = 8, 24
    vecs = {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.out_deg, r.mutual_deg, r.top1_id)
           for r in similarity.knn_graph_stats(
               df, dim=dim, k=3, n_planes=3, seed=42).collect()}
    want = _knn_model(vecs, dim=dim, k=3, n_planes=3, seed=42)
    assert got == want
    for out_deg, mutual_deg, top1 in got.values():
        assert 1 <= out_deg <= 3
        assert 0 <= mutual_deg <= out_deg


def test_knn_graph_mutual_is_symmetric_count(spark):
    """Sum of mutual degrees is even (every mutual edge counted once per
    endpoint)."""
    import random
    rng = random.Random(11)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)],
        "vec_id long, embedding array<double>")
    rows = similarity.knn_graph_stats(df, dim=6, k=2, n_planes=2).collect()
    assert sum(r.mutual_deg for r in rows) % 2 == 0


# -------------------------------------------------------- count-min sketch

def _cms_model(docs: list[str], d: int, w: int, probe_k: int):
    toks = [t for text in docs
            for t in text.strip().lower().split() if t]
    cells: dict[tuple[int, int], int] = {}
    for t in toks:
        for i in range(d):
            cells[(i, _h64(t, seed=i) % w)] = \
                cells.get((i, _h64(t, seed=i) % w), 0) + 1
    freq: dict[str, int] = {}
    for t in toks:
        freq[t] = freq.get(t, 0) + 1
    probes = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:probe_k]
    return {t: (f, min(cells[(i, _h64(t, seed=i) % w)] for i in range(d)))
            for t, f in probes}


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from([f"t{i}" for i in range(25)]),
             min_size=1, max_size=30),
    min_size=1, max_size=5))
def test_countmin_matches_python_model(spark, token_lists):
    docs = [" ".join(toks) for toks in token_lists]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               "doc_id long, text string")
    got = {r.token: (r.freq, r.cms_est)
           for r in textstats.countmin_freq(df, d=2, w=8, probe_k=10)
           .collect()}
    assert got == _cms_model(docs, d=2, w=8, probe_k=10)
    for f, est in got.values():
        assert est >= f  # one-sided CMS guarantee


def test_mutual_edge_window_form_matches_transpose_join_form(spark):
    """r12 optimization: knn_graph_stats / graph_pagerank detect mutual
    edges with a count window over the unordered pair key (count == 2)
    instead of joining the edge list with its own transpose — the join's
    two inputs each re-derived the full LSH chain, so the expensive
    signature-join + cosine scoring executed twice (v23) / three times
    (v24) per run. This pins the rewrite rule itself: on any directed
    edge set with unique (src, dst) pairs and src != dst, the two
    formulations select the same mutual subset."""
    import random
    from pyspark.sql import Window

    rng = random.Random(13)
    rows = list({(rng.randrange(20), rng.randrange(20))
                 for _ in range(120)})
    edges = spark.createDataFrame(
        [(a, b) for a, b in rows if a != b], "id_a long, id_b long")

    wp = Window.partitionBy(F.least("id_a", "id_b"),
                            F.greatest("id_a", "id_b"))
    new_form = {(r.id_a, r.id_b) for r in
                edges.withColumn("_c", F.count("*").over(wp))
                .filter(F.col("_c") == 2).select("id_a", "id_b").collect()}

    rev = edges.select(F.col("id_a").alias("id_b"),
                       F.col("id_b").alias("id_a"))
    old_form = {(r.id_a, r.id_b) for r in
                edges.join(rev, ["id_a", "id_b"], "semi").collect()}

    assert new_form == old_form and len(new_form) > 0
