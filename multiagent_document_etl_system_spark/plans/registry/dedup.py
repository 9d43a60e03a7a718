"""The dedup ladder (exact/MinHash/SimHash/embedding), corpus-prep composites and their stage-bisection diagnostics.

Registration-order slice of the former plans/registry.py (r11 split);
order within and across modules is load-bearing -- the driver window and
QUERIES.md read QUERIES in insertion order.
"""

from __future__ import annotations

from multiagent_document_etl_system_spark.plans.registry._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _docs,
    _emb,
    _q,
    curation,
    dedup,
    int_avg_round,
    int_avg_round_sql,
    similarity,
    textstats,
)

@_q("dedup_exact_stats", """
SELECT count(*) AS n_docs,
  count(DISTINCT md5(text)) AS n_distinct,
  count(*) - count(DISTINCT md5(text)) AS n_dup_rows
FROM documents
""")
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # narrow projection first: the DISTINCT branch's Expand then carries
    # a 32-char hash per row, never the document payload (same r6 plan
    # fix as td_dataset_card)
    h = _docs(spark, sf_dir).select(F.md5("text").alias("_h"))
    return h.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("_h").alias("n_distinct"),
        (F.count("*") - F.countDistinct("_h")).alias("n_dup_rows"),
    )


@_q("dedup_exact_keep", """
SELECT doc_id, md5(text) AS content_md5 FROM (
  SELECT doc_id, text,
    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""")
def dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-dedup operator itself (keep lowest id per content hash) —
    dedup_exact_stats checks the counts, this checks the survivor set."""
    kept = dedup.exact_dedup(_docs(spark, sf_dir))
    return kept.select("doc_id", F.md5("text").alias("content_md5"))


@_q("dedup_exact_groups", """
SELECT md5(text) AS content_md5,
  count(*) AS n_copies, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1
""")
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate GROUPS (content hash → copy count → survivor id) —
    the audit view next to dedup_exact_keep's survivor set."""
    return dedup.exact_dup_groups(_docs(spark, sf_dir))


@_q("dedup_fingerprint_groups", f"""
SELECT fingerprint, count(*) AS n_copies, min(doc_id) AS keep_id
FROM (SELECT doc_id, {textstats.fingerprint_sql('text')} AS fingerprint
      FROM documents)
GROUP BY fingerprint HAVING count(*) > 1
""")
def dedup_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffled-copy duplicate groups: byte-exact dedup (dedup_exact_groups)
    misses reordered copies, so this rung groups on the order-insensitive
    token-set fingerprint (md5 of the sorted distinct tokens,
    operators/textstats.py) — the middle rung between exact md5 and
    MinHash near-dup. One shuffle on the fingerprint (uniform key)."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id",
                 textstats.fingerprint_expr(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


@_q("dedup_cross_source_matrix", f"""
WITH per AS (
  SELECT {textstats.fingerprint_sql('text')} AS h, source, count(*) AS n
  FROM documents GROUP BY 1, source
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
    CASE WHEN a.source = b.source THEN (a.n * (a.n - 1)) // 2
         ELSE a.n * b.n END AS p
  FROM per a JOIN per b ON a.h = b.h AND a.source <= b.source
)
SELECT source_a, source_b,
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(p) AS BIGINT) AS dup_pairs
FROM pairs WHERE p > 0
GROUP BY source_a, source_b
ORDER BY source_a, source_b
""")
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair (a <= b),
    how many duplicate document pairs span them — the diagnostic that
    decides dedup ORDER and source trust when assembling a corpus from
    overlapping crawls/dumps (which feed plagiarizes which). Within-
    source cells (a = b) count C(n,2) internal copies. Keyed on the
    order-insensitive token-set fingerprint (the dedup_fingerprint_groups
    rung — catches reordered copies; swap in md5(text) for byte-exact).

    Scale shape + the no-pair-explosion contract: see
    dedup.cross_source_matrix."""
    return dedup.cross_source_matrix(
        _docs(spark, sf_dir), key=textstats.fingerprint_expr(F.col("text")))


_SHINGLE_SQL = """
list_distinct([array_to_string(__toks[i:i+2], ' ')
               for i in generate_series(1, greatest(len(__toks)-2, 1))])
""".strip()


@_q("dedup_neighbor_jaccard", f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLE_SQL} AS sh
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS __toks
        FROM documents)
), a AS (SELECT id AS id_a, sh AS sh_a FROM sh),
b AS (SELECT id - 1 AS id_a, id AS id_b, sh AS sh_b FROM sh)
SELECT a.id_a, b.id_b,
  round(CASE WHEN len(list_distinct(list_concat(sh_a, sh_b))) = 0 THEN 1.0
    ELSE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
       / len(list_distinct(list_concat(sh_a, sh_b))) END, 4) AS jaccard
FROM a JOIN b USING (id_a)
""")
def dedup_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard on consecutive-id pairs — the
    oracle-checkable exact rung of near-dup detection."""
    return dedup.neighbor_jaccard(_docs(spark, sf_dir))


@_q("dedup_edit_distance", """
WITH s AS (SELECT doc_id AS id, substr(text, 1, 200) AS h FROM documents),
a AS (SELECT id AS id_a, h AS h_a FROM s),
b AS (SELECT id - 1 AS id_a, id AS id_b, h AS h_b FROM s)
SELECT a.id_a, b.id_b,
  CAST(levenshtein(h_a, h_b) AS BIGINT) AS edit_dist,
  round(CAST(levenshtein(h_a, h_b) AS DOUBLE)
        / greatest(length(h_a), length(h_b), 1), 4) AS rel_dist
FROM a JOIN b USING (id_a)
""")
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup rung (dedup.neighbor_edit_distance):
    Levenshtein over bounded 200-char prefixes of consecutive-id pairs —
    catches single-character/OCR-noise edits that token-level shingles
    dilute. At scale the pair source is the LSH blocker, the prefix bound
    keeps the O(len²) kernel constant-cost per pair."""
    return dedup.neighbor_edit_distance(_docs(spark, sf_dir))


@_q("dedup_containment", f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLE_SQL} AS sh
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS __toks
        FROM documents)
), a AS (SELECT id AS id_a, sh AS sh_a FROM sh),
b AS (SELECT id - 1 AS id_a, id AS id_b, sh AS sh_b FROM sh)
SELECT a.id_a, b.id_b,
  round(CASE WHEN len(sh_a) = 0 THEN 1.0
    ELSE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / len(sh_a)
    END, 4) AS cont_ab,
  round(CASE WHEN len(sh_b) = 0 THEN 1.0
    ELSE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / len(sh_b)
    END, 4) AS cont_ba
FROM a JOIN b USING (id_a)
""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (|A∩B|/|A|, both directions) on
    consecutive-id pairs — the sub-document/quotation rung Jaccard
    misses (operators/dedup.py:neighbor_containment)."""
    return dedup.neighbor_containment(_docs(spark, sf_dir))


_H64_MOD = (
    "CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % "
    f"{dedup.MINHASH_P}"
)


def _minhash_pairs_sql(threshold: float) -> str:
    """DuckDB twin of dedup.minhash_lsh_pairs as a standalone SELECT
    (id_a, id_b, jaccard) — shared by dedup_minhash_lsh and the composite
    corpus-preparation query.

    Round 6: the threshold SELECTION is the pure-integer test
    ``|A∩B|·10⁴ ≥ t_q1e4·|A∪B|`` in BOTH engines — ``round(jaccard,4) >= t``
    left a double comparison in the survivor path, the one place DuckDB's
    half-away-from-zero vs Spark's HALF_UP could in principle diverge (the
    4-round driver-red bisection, VERDICT r5 §What's wrong #1). The rounded
    jaccard remains as an OUTPUT column only."""
    return f"""
WITH toks AS (
  SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS __toks
  FROM documents
), sh AS (
  SELECT id, {_SHINGLE_SQL} AS sh FROM toks
), based AS (
  SELECT id, sh, list_transform(sh, s -> {_H64_MOD}) AS base FROM sh
), sig AS (
  SELECT id, sh, {dedup.minhash_signature_sql('base', 16)} AS sig
  FROM based
), banded AS (
  SELECT id, sh, b AS band, array_to_string(sig[b*4+1 : b*4+4], ',') AS bh
  FROM sig, generate_series(0, 3) g(b)
  QUALIFY count(*) OVER (PARTITION BY band, bh) BETWEEN 2 AND 1000
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
    round(CASE WHEN uni = 0 THEN 1.0
      ELSE CAST(inter AS DOUBLE) / uni END, 4) AS jaccard
  FROM (
    SELECT id_a, id_b,
      len(list_intersect(sh_a, sh_b)) AS inter,
      len(list_distinct(list_concat(sh_a, sh_b))) AS uni
    FROM cand
  ) WHERE inter * 10000 >= {int(round(threshold * 10000))} * uni
)
"""


@_q("dedup_minhash_lsh", _minhash_pairs_sql(0.3))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup pairs — md5-derived hash family makes the full
    signature → band → bucket → verify chain bit-reproducible in the DuckDB
    oracle.

    Terminal single consumer: the verified result is read exactly once
    (by whoever collects this query), so materialize_result=False skips
    the composite-amortizing result checkpoint (r9 verdict: the bare
    query paid 1.76→2.06 s at sf0.1 for a truncation nobody re-read);
    the bucket checkpoint — the actual lineage fix — still runs."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.3,
                                   materialize_result=False)


@_q("dedup_threshold_sweep", f"""
WITH pairs AS ({_minhash_pairs_sql(0.3)}),
pq AS (
  SELECT id_a, id_b,
    CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) AS jq
  FROM pairs
),
t AS (SELECT unnest({list(dedup.SWEEP_THRESHOLDS)}) AS threshold_q1e4)
SELECT CAST(threshold_q1e4 AS BIGINT) AS threshold_q1e4,
  CAST(count(id_a) AS BIGINT) AS n_pairs,
  CAST(count(DISTINCT id_b) AS BIGINT) AS n_dup_docs
FROM t LEFT JOIN pq ON pq.jq >= t.threshold_q1e4
GROUP BY threshold_q1e4 ORDER BY threshold_q1e4
""")
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup THRESHOLD TUNING report: how many verified near-dup pairs —
    and how many docs a keep-lowest-id policy would remove — survive at
    each Jaccard threshold from 0.30 to 0.90. The knob-selection artifact
    a corpus build reads before committing to a dedup pass (too low ⇒
    distinct docs merged; too high ⇒ boilerplate mirrors survive);
    the dedup analog of v21_recall_matrix's ANN index-selection report.
    Pair source is the LSH-verified stream (bounded by banding +
    max_bucket — never all-pairs); see dedup.threshold_sweep for the
    single-pass conditional-aggregate plan. threshold_sweep consumes the
    pair stream in ONE conditional-aggregate pass, so this caller is
    consume-once: materialize_result=False skips the result checkpoint
    (bucket checkpoint stays — it is the operator's own lineage fix)."""
    return dedup.threshold_sweep(
        dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.3,
                                materialize_result=False))


@_q("dedup_cross_source_links", f"""
WITH pairs AS ({_minhash_pairs_sql(0.3)}),
src AS (SELECT doc_id, source FROM documents),
oriented AS (
  SELECT p.id_a AS doc_id, sa.source AS doc_source,
         p.id_b AS match_id, sb.source AS match_source,
         CAST(floor(p.jaccard * 10000 + 0.5) AS BIGINT) AS jaccard_q1e4
  FROM pairs p JOIN src sa ON sa.doc_id = p.id_a
               JOIN src sb ON sb.doc_id = p.id_b
  WHERE sa.source <> sb.source
  UNION ALL
  SELECT p.id_b, sb.source, p.id_a, sa.source,
         CAST(floor(p.jaccard * 10000 + 0.5) AS BIGINT)
  FROM pairs p JOIN src sa ON sa.doc_id = p.id_a
               JOIN src sb ON sb.doc_id = p.id_b
  WHERE sa.source <> sb.source
)
SELECT doc_id, doc_source, match_id, match_source, jaccard_q1e4
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id
    ORDER BY jaccard_q1e4 DESC, match_id ASC) AS rn
  FROM oriented
) WHERE rn = 1
""")
def dedup_cross_source_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source RECORD LINKAGE: for every document that has a
    near-duplicate in a DIFFERENT source, its single best cross-source
    match (highest verified Jaccard, doc_id tie-break) — the link table
    behind snapshot/crawl alignment ("which feed carries this article"),
    where dedup_cross_source_matrix only counts. The blocking-join
    pattern: candidates come from banded MinHash LSH (never all-pairs),
    verify is exact shingle Jaccard, and the per-doc argmax is a
    row_number window over a doc's own handful of matches (no skew
    surface: partition size = a doc's cross-source match count).
    Consume-once since r13: symmetrization is a two-struct explode
    (one reference) instead of a two-branch union (two references that
    re-ran the whole verify chain per branch — the r9
    subtree-non-sharing lesson), so the pair-result checkpoint is
    skipped. Integer 1e-4-grid scores ⇒ full hash oracle."""
    docs = _docs(spark, sf_dir)
    # Consume-once since r13: the symmetrize step references the scored
    # pair relation ONCE (a two-struct explode instead of the former
    # two-branch union), so the verify chain runs once per execution
    # without the pair-result checkpoint — the same single-reference
    # rewrite duplicate_clusters' adjacency got. Row set identical: one
    # row per (pair, orientation), same columns.
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3,
                                    materialize_result=False)
    src = docs.select("doc_id", "source")
    jq = F.floor(F.col("jaccard") * 10000 + F.lit(0.5)).cast("bigint")
    p = (pairs
         .join(src.select(F.col("doc_id").alias("id_a"),
                          F.col("source").alias("src_a")), "id_a")
         .join(src.select(F.col("doc_id").alias("id_b"),
                          F.col("source").alias("src_b")), "id_b")
         .filter(F.col("src_a") != F.col("src_b"))
         .select("id_a", "src_a", "id_b", "src_b", jq.alias("jaccard_q1e4")))
    oriented = (
        p.select(F.explode(F.array(
            F.struct(F.col("id_a").alias("doc_id"),
                     F.col("src_a").alias("doc_source"),
                     F.col("id_b").alias("match_id"),
                     F.col("src_b").alias("match_source"),
                     F.col("jaccard_q1e4")),
            F.struct(F.col("id_b").alias("doc_id"),
                     F.col("src_b").alias("doc_source"),
                     F.col("id_a").alias("match_id"),
                     F.col("src_a").alias("match_source"),
                     F.col("jaccard_q1e4")),
        )).alias("_o"))
        .select("_o.*"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("jaccard_q1e4"), F.asc("match_id"))
    return (oriented.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))


@_q("dedup_simhash", f"""
WITH tok AS (
  SELECT doc_id AS id,
    unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
  FROM documents
), h AS (
  SELECT id, CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) AS h
  FROM tok
), bits AS (
  SELECT id, b,
    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, generate_series(0, 15) g(b)
  GROUP BY id, b
), sig AS (
  SELECT id,
    CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
         AS BIGINT) AS simhash
  FROM bits GROUP BY id
), blocked AS (
  SELECT id, simhash, simhash >> 8 AS blk FROM sig
)
SELECT id_a, id_b, hamming FROM (
  SELECT a.id AS id_a, b.id AS id_b,
    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.id < b.id
) WHERE hamming <= 3
""")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 on 16-bit sign-sum signature);
    md5 hash family → fully oracle-checked."""
    return dedup.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


_EMB_DEDUP_PLANES = similarity.hyperplanes(dim=64, n_planes=6, seed=42)
_EMB_SIG_SQL = similarity.lsh_signature_sql(
    "embedding::DOUBLE[]", _EMB_DEDUP_PLANES)


@_q("dedup_embedding_cosine", f"""
WITH sig AS (
  SELECT vec_id, embedding, {_EMB_SIG_SQL} AS bucket FROM embeddings
)
SELECT id_a, id_b, score FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round({similarity.cosine_sql("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")}, 4)
      AS score
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
) WHERE score >= 0.3
""")
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, blocked on a 6-bit hyperplane-LSH
    signature (τ=0.3 on this synthetic corpus — random vectors top out
    ≈0.5; production would use ≥0.95 and more planes). Round 2 blocked on
    ``label`` (~10 distinct values ⇒ quadratic within label at corpus
    scale); the signature equi-join keys on a uniform 2^6-ary bucket
    instead, and near-identical vectors agree on hyperplane signs so they
    still collide. The plane constants are deterministic literals, so the
    DuckDB oracle restates the signature exactly — this stays a full
    hash-checked query, not rows-only."""
    return similarity.embedding_near_pairs(
        _emb(spark, sf_dir), dim=64, threshold=0.3, n_planes=6, seed=42)


_EMB_PAIRS_IDS_SQL = f"""
SELECT id_a, id_b FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round({similarity.cosine_sql("a.embedding::DOUBLE[]",
                                 "b.embedding::DOUBLE[]")}, 4) AS score
  FROM (SELECT vec_id, embedding, {{SIG}} AS bucket FROM embeddings) a
  JOIN (SELECT vec_id, embedding, {{SIG}} AS bucket FROM embeddings) b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
) WHERE score >= 0.3
"""


@_q("dedup_semantic_clusters", dedup.duplicate_clusters_sql(
    _EMB_PAIRS_IDS_SQL.replace("{SIG}", _EMB_SIG_SQL)))
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC duplicate clusters: embedding near-dup pairs (LSH-blocked
    exact-cosine, dedup_embedding_cosine's pair generator) resolved into
    connected components with the smallest-id representative — the
    operator composition (ANN blocking → exact verify → cluster → rep)
    that semantic dedup runs at corpus scale, where lexical MinHash
    misses paraphrased near-copies. Same bounded min-label propagation as
    dedup_clusters; oracle = recursive-CTE exact transitive closure over
    the restated pair SQL."""
    pairs = similarity.embedding_near_pairs(
        _emb(spark, sf_dir), dim=64, threshold=0.3, n_planes=6, seed=42)
    return dedup.duplicate_clusters(pairs.select("id_a", "id_b"))


@_q("td_prepare_corpus", f"""
WITH pairs AS ({_minhash_pairs_sql(0.5)}),
scored AS (
  SELECT doc_id, lang, text,
    {{QUALITY_Q}} AS quality_q1e4
  FROM documents
), passed AS (
  SELECT * FROM scored WHERE quality_q1e4 >= 5000
), kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM passed
  ) WHERE rn = 1
), clean AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT id_b FROM pairs)
)
SELECT lang, count(*) AS n_docs,
  CAST(sum({{TOKENS}}) AS BIGINT) AS total_tokens,
  {int_avg_round_sql('quality_q1e4')} AS avg_quality_q1e4
FROM clean GROUP BY lang
""".replace("{QUALITY_Q}", textstats.quality_q1e4_sql("text"))
   .replace("{TOKENS}", textstats.token_count_sql("text")))
def td_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data corpus preparation — the whole dedup/quality
    ladder as ONE lazy plan: quality-filter (integer grid, q1e4 ≥ 5000) →
    exact dedup (keep lowest id per content hash) → near-dup removal (drop
    the higher id of every MinHash-LSH pair with verified jaccard ≥ 0.5) →
    per-lang corpus stats. Everything JVM-side; the near-dup pair set is
    tiny, so its anti-join is left to AQE (on a dup-heavy corpus the pair
    set scales with corpus size, so a forced broadcast hint would OOM at
    100 TB; AQE broadcasts it exactly when it is actually small) — the
    survivors never shuffle, only the LSH banding and the final (lang)
    agg do.

    Round 6 (4th-round driver-red bisection): the survival path and every
    output are now 100% integer — the gate compares the q1e4 BIGINT (never
    the /1e4 double), the pair threshold is dedup.minhash_lsh_pairs'
    integer test, and the average is int_avg_round over the integer grid
    (identical value to the old stable_avg_q chain). No double exists
    anywhere in this plan, on either engine. The 6 diag_prep_* queries
    check each stage's survivor checksum independently."""
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    docs = _docs(spark, sf_dir)
    # quality map is heavy-narrow; fan the scan to session parallelism
    # first (r12 optimization round)
    scored = ensure_parallelism(docs).withColumn(
        "quality_q1e4", textstats.quality_q1e4_expr(F.col("text")))
    passed = scored.filter(F.col("quality_q1e4") >= 5000)
    kept = dedup.exact_dedup(passed)
    # consume-once (r13): one distinct projection reads the pair stream,
    # so the result checkpoint is skipped (bucket checkpoint stays)
    dups = dedup.minhash_lsh_pairs(docs, threshold=0.5,
                                   materialize_result=False) \
        .select(F.col("id_b").alias("_dup")).distinct()
    clean = kept.join(dups, kept.doc_id == F.col("_dup"), "left_anti")
    return clean.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(textstats.token_count(F.col("text"))).cast("bigint")
        .alias("total_tokens"),
        int_avg_round(F.col("quality_q1e4")).alias("avg_quality_q1e4"),
    )


@_q("dedup_clusters", dedup.duplicate_clusters_sql(
    _minhash_pairs_sql(0.3).replace("SELECT id_a, id_b, jaccard",
                                    "SELECT id_a, id_b")))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: MinHash-LSH pairs → connected
    components → (id, rep) with rep = smallest id in the component. Pairs
    alone under-dedup (A~B, B~C without A~C keeps two of three); the
    cluster rep is the survivor everyone else dedups against. Spark =
    bounded min-label propagation (joins on id); oracle = DuckDB recursive
    CTE transitive closure — exact fixpoint, so this differential check
    also proves the iteration bound covers the corpus's real cluster
    diameters."""
    # cluster-only consumer: duplicate_clusters references the pair
    # relation ONCE (single-explode adjacency, r13), so the result
    # checkpoint would materialize a relation nobody re-reads
    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.3,
                                    materialize_result=False)
    return dedup.duplicate_clusters(pairs)


@_q("dedup_keep_best", f"""
WITH clusters AS ({dedup.duplicate_clusters_sql(
    _minhash_pairs_sql(0.3).replace("SELECT id_a, id_b, jaccard",
                                    "SELECT id_a, id_b"))}),
scored AS (
  SELECT c.id, c.rep, {textstats.quality_q1e4_sql('d.text')} AS q
  FROM clusters c JOIN documents d ON c.id = d.doc_id
), ranked AS (
  SELECT id, rep, q,
    row_number() OVER (PARTITION BY rep ORDER BY q DESC, id ASC) AS rn,
    count(*) OVER (PARTITION BY rep) AS sz
  FROM scored
)
SELECT rep AS cluster_rep, CAST(sz AS BIGINT) AS cluster_size,
  id AS keep_id, CAST(q AS BIGINT) AS keep_q1e4
FROM ranked WHERE rn = 1
""")
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection: exact duplicates are
    interchangeable, but NEAR duplicates differ (one copy is truncated,
    boilerplate-wrapped, or OCR-mangled) — keeping the lowest id throws
    away quality for determinism. This keeps the argmax-quality member
    of every MinHash cluster (integer quality grid, id tie-break — still
    fully deterministic), emitting (cluster_rep, size, kept id, its
    quality). Composition: LSH pairs → connected components → one
    per-cluster window over the ids-only cluster relation joined to the
    quality kernel; the extra cost over dedup_clusters is one
    hash-partitioned window on rep. Oracle: the recursive-CTE closure
    plus the same rank logic."""
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    # cluster-only pair consumer (r13): see dedup_clusters
    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.3,
                                    materialize_result=False)
    clusters = dedup.duplicate_clusters(pairs)
    scored = clusters.join(
        ensure_parallelism(_docs(spark, sf_dir).select("doc_id", "text"))
        .select(
            F.col("doc_id").alias("id"),
            textstats.quality_q1e4_expr(F.col("text")).alias("q")),
        "id")
    w = Window.partitionBy("rep").orderBy(F.desc("q"), F.asc("id"))
    ranked = scored.select(
        "id", "rep", "q",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("rep")).alias("sz"))
    return (ranked.filter(F.col("rn") == 1)
            .select(F.col("rep").alias("cluster_rep"),
                    F.col("sz").cast("bigint").alias("cluster_size"),
                    F.col("id").alias("keep_id"),
                    F.col("q").cast("bigint").alias("keep_q1e4")))


@_q("td_prepare_corpus_v2", f"""
WITH clusters AS ({dedup.duplicate_clusters_sql(
    _minhash_pairs_sql(0.5).replace("SELECT id_a, id_b, jaccard",
                                    "SELECT id_a, id_b"))}),
scored AS (
  SELECT doc_id, lang, text, {{QUALITY_Q}} AS quality_q1e4 FROM documents
), passed AS (
  SELECT * FROM scored WHERE quality_q1e4 >= 5000
), kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM passed
  ) WHERE rn = 1
), clean AS (
  SELECT k.* FROM kept k LEFT JOIN clusters c ON k.doc_id = c.id
  WHERE c.id IS NULL OR c.rep = k.doc_id
)
SELECT lang, count(*) AS n_docs,
  CAST(sum({{TOKENS}}) AS BIGINT) AS total_tokens,
  {int_avg_round_sql('quality_q1e4')} AS avg_quality_q1e4
FROM clean GROUP BY lang
""".replace("{QUALITY_Q}", textstats.quality_q1e4_sql("text"))
   .replace("{TOKENS}", textstats.token_count_sql("text")))
def td_prepare_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus preparation with CLUSTER-correct near-dup removal: where
    td_prepare_corpus drops the higher id of each PAIR (which over-keeps
    on transitive chains A~B~C), v2 resolves connected components and
    keeps exactly the smallest-id representative per duplicate cluster —
    the canonical modern recipe (quality gate → exact dedup → cluster →
    keep rep → stats). The cluster map is pair-graph-sized (tiny next to
    the corpus) on a typical web corpus, but scales WITH the corpus when
    duplication is heavy — so the join strategy is left to AQE instead of
    a forced broadcast hint; the oracle recomputes the exact closure with
    a recursive CTE.

    Round 6: survival path and outputs are 100% integer (quality gate on
    the q1e4 BIGINT, integer pair-threshold test, int_avg_round) — see
    td_prepare_corpus; the diag_prep_* stage checksums bisect this plan."""
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    docs = _docs(spark, sf_dir)
    # quality_q1e4_expr is a heavy narrow map (tokenize + n-gram stats per
    # row); fan the scan to session parallelism first (r12 optimization
    # round — a single-row-group scan serializes the whole stage)
    scored = ensure_parallelism(docs).withColumn(
        "quality_q1e4", textstats.quality_q1e4_expr(F.col("text")))
    passed = scored.filter(F.col("quality_q1e4") >= 5000)
    kept = dedup.exact_dedup(passed)
    clusters = dedup.duplicate_clusters(
        dedup.minhash_lsh_pairs(docs, threshold=0.5,
                                materialize_result=False))
    clean = (
        kept.join(clusters, kept.doc_id == clusters.id, "left")
        .filter(F.col("id").isNull() | (F.col("rep") == F.col("doc_id")))
    )
    return clean.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(textstats.token_count(F.col("text"))).cast("bigint")
        .alias("total_tokens"),
        int_avg_round(F.col("quality_q1e4")).alias("avg_quality_q1e4"),
    )


# ---- stage-level bisection diagnostics for the corpus-prep composites ----
#
# td_prepare_corpus/_v2 have been driver-hash-red for 4 consecutive rounds
# while (a) local differential checks pass at sf0.001/0.01/0.1 and (b) every
# individual ingredient is driver-GREEN (ta_quality_score, ta_gopher_rules,
# td_curation_funnel with the identical cluster-removal). VERDICT r5: stop
# guessing, bisect ON the driver. Each diagnostic below checks ONE stage of
# the composite with an order-insensitive integer checksum (count +
# bit_xor(doc_id) + sum(doc_id) — bit-identical on any engine); whichever
# goes red names the diverging stage, and the column split (counts vs
# tokens vs avg-quality) names the diverging output. Beyond the bisection
# these are a real operator: per-stage corpus-audit checksums are how a
# 100 TB curation run proves stage N's input equals stage N-1's output
# after a re-run/backfill, without comparing payload bytes.

_PREP_PASSED_SQL = (
    "SELECT * FROM (SELECT doc_id, lang, text, "
    f"{textstats.quality_q1e4_sql('text')} AS quality_q1e4 FROM documents"
    ") WHERE quality_q1e4 >= 5000"
)

_PREP_KEPT_SQL = f"""SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM ({_PREP_PASSED_SQL})
) WHERE rn = 1"""

_PREP_CLUSTERS_SQL = dedup.duplicate_clusters_sql(
    _minhash_pairs_sql(0.5).replace("SELECT id_a, id_b, jaccard",
                                    "SELECT id_a, id_b"))

_ID_CHECKSUM_SQL = ("CAST(count(*) AS BIGINT) AS n_docs, "
                    "CAST(bit_xor(doc_id) AS BIGINT) AS xor_ids, "
                    "CAST(sum(doc_id) AS BIGINT) AS sum_ids")


def _prep_passed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    # quality map is heavy-narrow; fan the scan to session parallelism
    # first (r12 optimization round)
    return (ensure_parallelism(_docs(spark, sf_dir))
            .withColumn("quality_q1e4",
                        textstats.quality_q1e4_expr(F.col("text")))
            .filter(F.col("quality_q1e4") >= 5000))


def _id_checksum_aggs() -> list:
    return [F.count("*").alias("n_docs"),
            F.bit_xor("doc_id").cast("bigint").alias("xor_ids"),
            F.sum("doc_id").cast("bigint").alias("sum_ids")]


@_q("diag_prep_gate", f"""
SELECT lang, {_ID_CHECKSUM_SQL},
  CAST(sum({textstats.token_count_sql('text')}) AS BIGINT) AS total_tokens,
  {int_avg_round_sql('quality_q1e4')} AS avg_quality_q1e4
FROM ({_PREP_PASSED_SQL}) GROUP BY lang
""")
def diag_prep_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1 checksum: the integer quality gate (q1e4 ≥ 5000) alone —
    per-lang survivor count, doc-id xor/sum, token mass, and the integer
    average the composites emit. Green here proves the quality kernel,
    token kernel, and int_avg_round agree on the driver; red here means
    the divergence is BEFORE any dedup."""
    return _prep_passed(spark, sf_dir).groupBy("lang").agg(
        *_id_checksum_aggs(),
        F.sum(textstats.token_count(F.col("text"))).cast("bigint")
        .alias("total_tokens"),
        int_avg_round(F.col("quality_q1e4")).alias("avg_quality_q1e4"),
    )


@_q("diag_prep_exact", f"""
SELECT lang, {_ID_CHECKSUM_SQL}
FROM ({_PREP_KEPT_SQL}) GROUP BY lang
""")
def diag_prep_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 2 checksum: quality gate → exact dedup (keep lowest id per
    md5(text)). Red here with diag_prep_gate green isolates the
    row_number window / md5 grouping as the diverging stage."""
    kept = dedup.exact_dedup(_prep_passed(spark, sf_dir))
    return kept.groupBy("lang").agg(*_id_checksum_aggs())


@_q("diag_prep_pairs", f"""
WITH pairs AS ({_minhash_pairs_sql(0.5)})
SELECT id_a, id_b,
  CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) AS jaccard_q1e4
FROM pairs
""")
def diag_prep_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 3 relation: the FULL verified near-dup pair set at the
    composites' threshold (0.5), ids plus the exact 1e-4-grid jaccard.
    This is the whole pair relation, not a checksum — it is small by
    construction (banded LSH + bucket cap), and a red here pinpoints
    signature/banding/verify divergence pair-by-pair. Consume-once:
    one projection reads the verified stream, so the result checkpoint
    is skipped (bucket checkpoint stays)."""
    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5,
                                    materialize_result=False)
    return pairs.select(
        "id_a", "id_b",
        F.floor(F.col("jaccard") * 10000 + F.lit(0.5)).cast("bigint")
        .alias("jaccard_q1e4"))


@_q("diag_prep_clusters", _PREP_CLUSTERS_SQL)
def diag_prep_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 4 relation: the connected-component cluster map (id → rep)
    over the 0.5-threshold pairs — v2's removal relation, exactly as the
    composite consumes it. Oracle = recursive-CTE exact closure."""
    return dedup.duplicate_clusters(
        dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5,
                                materialize_result=False))


@_q("diag_prep_survivors", f"""
WITH pairs AS ({_minhash_pairs_sql(0.5)}),
clusters AS ({_PREP_CLUSTERS_SQL}),
kept AS ({_PREP_KEPT_SQL}),
v1 AS (
  SELECT lang, doc_id FROM kept
  WHERE doc_id NOT IN (SELECT id_b FROM pairs)
), v2 AS (
  SELECT k.lang, k.doc_id FROM kept k LEFT JOIN clusters c ON k.doc_id = c.id
  WHERE c.id IS NULL OR c.rep = k.doc_id
)
SELECT variant, lang, {_ID_CHECKSUM_SQL} FROM (
  SELECT 'pair_anti' AS variant, lang, doc_id FROM v1
  UNION ALL
  SELECT 'cluster_rep' AS variant, lang, doc_id FROM v2
) GROUP BY variant, lang
""")
def diag_prep_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 5 checksum: BOTH composites' final survivor id sets — v1's
    pair-anti-join semantics and v2's cluster-representative semantics —
    tagged by variant. Green here with the composites red means the
    survivor sets agree and the divergence is in the output aggregates
    (see diag_prep_gate / diag_prep_tokens for the column split)."""
    docs = _docs(spark, sf_dir)
    kept = dedup.exact_dedup(_prep_passed(spark, sf_dir))
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    dups = pairs.select(F.col("id_b").alias("_dup")).distinct()
    v1 = (kept.join(dups, kept.doc_id == F.col("_dup"), "left_anti")
          .select(F.lit("pair_anti").alias("variant"), "lang", "doc_id"))
    clusters = dedup.duplicate_clusters(pairs)
    v2 = (kept.join(clusters, kept.doc_id == clusters.id, "left")
          .filter(F.col("id").isNull() | (F.col("rep") == F.col("doc_id")))
          .select(F.lit("cluster_rep").alias("variant"), "lang", "doc_id"))
    return (v1.unionByName(v2)
            .groupBy("variant", "lang").agg(*_id_checksum_aggs()))


@_q("diag_prep_tokens", f"""
WITH clusters AS ({_PREP_CLUSTERS_SQL}),
kept AS ({_PREP_KEPT_SQL}),
clean AS (
  SELECT k.* FROM kept k LEFT JOIN clusters c ON k.doc_id = c.id
  WHERE c.id IS NULL OR c.rep = k.doc_id
)
SELECT lang,
  CAST(sum({textstats.token_count_sql('text')}) AS BIGINT) AS total_tokens
FROM clean GROUP BY lang
""")
def diag_prep_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 6 column split: the token-mass aggregate alone over v2's
    survivor set. With diag_prep_survivors green, a red composite now
    decomposes column-by-column: n_docs (survivors), total_tokens (this),
    avg_quality_q1e4 (the only remaining cell)."""
    kept = dedup.exact_dedup(_prep_passed(spark, sf_dir))
    clusters = dedup.duplicate_clusters(
        dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5,
                                materialize_result=False))
    clean = (
        kept.join(clusters, kept.doc_id == clusters.id, "left")
        .filter(F.col("id").isNull() | (F.col("rep") == F.col("doc_id")))
    )
    return clean.groupBy("lang").agg(
        F.sum(textstats.token_count(F.col("text"))).cast("bigint")
        .alias("total_tokens"))


_V3_SURVIVORS_SQL = f"""(
WITH clusters AS ({{CLUSTERS}}),
passed AS (
  SELECT * FROM (
    SELECT doc_id, source, lang, text,
      {textstats.quality_q1e4_sql('text')} AS quality_q1e4
    FROM documents
  ) WHERE quality_q1e4 >= 5000
), kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM passed
  ) WHERE rn = 1
), ranked AS (
  SELECT k.*, c.rep,
    row_number() OVER (PARTITION BY coalesce(c.rep, k.doc_id)
                       ORDER BY k.quality_q1e4 DESC, k.doc_id ASC) AS rnn
  FROM kept k LEFT JOIN clusters c ON k.doc_id = c.id
)
SELECT * FROM ranked WHERE rnn = 1
) AS survivors"""


@_q("td_prepare_corpus_v3", curation.temperature_mix_sql(
    table=_V3_SURVIVORS_SQL.replace("{CLUSTERS}", dedup.duplicate_clusters_sql(
        _minhash_pairs_sql(0.5).replace("SELECT id_a, id_b, jaccard",
                                        "SELECT id_a, id_b")))))
def td_prepare_corpus_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL modern corpus recipe in one lazy plan — v2's ladder with
    two upgrades the standalone ops already proved (dedup_keep_best,
    td_mix_post_dedup, both local-green since r5): (1) the near-dup
    survivor is the ARGMAX-QUALITY member of each cluster (id tie-break),
    not the smallest id — near-copies differ (truncation, boilerplate,
    OCR noise), so keeping the lowest id throws quality away for
    determinism; (2) the output is the temperature-T=2 source-mixing
    table computed ON the survivors — weights derived before dedup
    over-weight sources whose volume is duplication.

    Stages: integer quality gate (q1e4 ≥ 5000) → exact dedup (md5 window)
    → MinHash-LSH clusters at 0.5 → keep best-quality member per cluster
    → temperature mix per source. Survival path is 100% integer (the
    td_prepare_corpus r6 rule) and the mix's isqrt is exact, so every
    output cell is a single-valued BIGINT.

    Scale: the keep-best window partitions by coalesce(rep, doc_id) —
    singleton partitions for non-duplicated docs, cluster-sized for the
    rest — a hash-partitioned window with no giant NULL partition (the
    pitfall of partitioning by rep directly). Cluster join left to AQE
    (the map scales with corpus duplication); mix totals via the
    #sources-row empty-frame window, kilobytes at any scale."""
    docs = _docs(spark, sf_dir)
    kept = dedup.exact_dedup(_prep_passed(spark, sf_dir))
    clusters = dedup.duplicate_clusters(
        dedup.minhash_lsh_pairs(docs, threshold=0.5,
                                materialize_result=False))
    scored = kept.join(clusters, kept.doc_id == clusters.id, "left")
    w = Window.partitionBy(F.coalesce("rep", "doc_id")) \
        .orderBy(F.desc("quality_q1e4"), F.asc("doc_id"))
    survivors = (scored.withColumn("_rnn", F.row_number().over(w))
                 .filter(F.col("_rnn") == 1))
    return curation.temperature_mix(survivors)


