"""Round-6+ report/BPE/ingest operators: dataset card, LSH bucket report, provenance, BPE lifecycle, incremental ingest.

Registration-order slice of the former plans/registry.py (r11 split);
order within and across modules is load-bearing -- the driver window and
QUERIES.md read QUERIES in insertion order.
"""

from __future__ import annotations

from multiagent_document_etl_system_spark.io import ensure_parallelism
from multiagent_document_etl_system_spark.plans.registry._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _docs,
    _q,
    bpe,
    dedup,
    idiv_round,
    idiv_round_sql,
    int_avg_round,
    int_avg_round_sql,
    load_table,
    once_per_session,
    stable_avg_q,
    stable_avg_q_sql,
    textfns,
    textstats,
)
from multiagent_document_etl_system_spark.plans.registry.dedup import (
    _H64_MOD,
    _PREP_CLUSTERS_SQL,
    _SHINGLE_SQL,
    _minhash_pairs_sql,
)
from multiagent_document_etl_system_spark.plans.registry.sources_streaming import (
    _band_rows_sql,
    _staged_incoming_docs_dir,
)

@_q("td_dataset_card", f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum({textstats.token_count_sql('text')}) AS BIGINT) AS n_tokens,
  CAST(sum(n_chars) AS BIGINT) AS n_chars,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
  {idiv_round_sql("10000 * (count(*) - count(DISTINCT md5(text)))",
                  "count(*)")} AS dup_rate_q1e4,
  {stable_avg_q_sql(textstats.quality_q1e4_sql('text') + ' / 10000.0')}
    AS avg_quality_q1e4
FROM documents
""")
def td_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD — the datasheet header every corpus release
    ships: document/token/char mass, language and source cardinality,
    exact-duplicate rate (1e-4 grid), and mean quality (exact scaled-int
    average — the td_prepare_corpus lesson: no float leaves the query).

    Plan shape (r6 fix): three DISTINCT aggregates make Catalyst EXPAND
    every input row once per distinct column — and with the aggregate
    sitting directly on the scan, the 4× multiplication carried the full
    ``text`` payload and re-evaluated nothing-prunable kernels. The
    narrow projection below runs the kernels ONCE per row and hands
    Expand a ~60-byte fixed-width row (hash, two dim strings, three
    longs) instead of the document — at 100 TB that is the difference
    between a 4× corpus shuffle-amplification and a 4× amplification of
    a few percent of it. Measured sf0.1: 2.72 s → 0.6-0.9 s."""
    d = _docs(spark, sf_dir)
    base = d.select(
        F.md5("text").alias("_h"),
        "lang", "source", "n_chars",
        textstats.token_count(F.col("text")).alias("_tok"),
        textstats.quality_q1e4_expr(F.col("text")).alias("_q"),
    )
    q = F.col("_q").cast("double") / 10000.0
    dup = F.count("*") - F.countDistinct("_h")
    return base.agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("_h").alias("n_unique"),
        idiv_round(F.lit(10_000) * dup, F.count("*"))
        .alias("dup_rate_q1e4"),
        stable_avg_q(q).alias("avg_quality_q1e4"),
    )


# -------------------------------------------- round-6 corpus-ops additions

#: the shared DuckDB signature chain (toks → shingles → base hashes →
#: 16-slot MinHash signature), used by the bucket audit and the
#: estimator-calibration report below
_SIG_CHAIN_SQL = f"""toks AS (
  SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS __toks
  FROM documents
), sh AS (
  SELECT id, {_SHINGLE_SQL} AS sh FROM toks
), based AS (
  SELECT id, sh, list_transform(sh, s -> {_H64_MOD}) AS base FROM sh
), sig AS (
  SELECT id, sh, {dedup.minhash_signature_sql('base', 16)} AS sig
  FROM based
)"""


@_q("dedup_lsh_bucket_report", f"""
WITH {_SIG_CHAIN_SQL}, banded AS (
  SELECT id, b AS band, array_to_string(sig[b*4+1 : b*4+4], ',') AS bh
  FROM sig, generate_series(0, 3) g(b)
), sizes AS (
  SELECT band, bh, count(*) AS n FROM banded GROUP BY band, bh
)
SELECT CAST(band AS BIGINT) AS band,
  CAST(count(*) FILTER (WHERE n >= 2) AS BIGINT) AS n_buckets,
  CAST(count(*) FILTER (WHERE n = 1) AS BIGINT) AS n_singletons,
  CAST(max(n) AS BIGINT) AS max_bucket_size,
  CAST(count(*) FILTER (WHERE n > 1000) AS BIGINT) AS n_capped,
  CAST(coalesce(sum(CASE WHEN n BETWEEN 2 AND 1000
                         THEN n * (n - 1) // 2 END), 0) AS BIGINT)
    AS pairs_kept,
  CAST(coalesce(sum(CASE WHEN n > 1000 THEN n * (n - 1) // 2 END), 0)
    AS BIGINT) AS pairs_dropped
FROM sizes GROUP BY band ORDER BY band
""")
def dedup_lsh_bucket_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-cap AUDIT: minhash_lsh_pairs drops buckets larger than
    max_bucket from the pair stream (the production guard against
    boilerplate mega-clusters) — silently, from the pair consumer's view.
    This report makes the cap explicit per band: bucket counts,
    singleton mass, the largest bucket, how many buckets the cap
    dropped, and the C(n,2) pair mass kept vs forgone (counted by
    multiplication — a 10⁶-member bucket moves one aggregate row). The
    dedup analog of v21_recall_matrix: the knob-audit you read before
    trusting a dedup pass's coverage."""
    return dedup.lsh_bucket_report(_docs(spark, sf_dir))


@_q("ta_minhash_est_vs_exact", f"""
WITH {_SIG_CHAIN_SQL}, pairs AS ({_minhash_pairs_sql(0.3)})
SELECT p.id_a, p.id_b,
  CAST(floor(p.jaccard * 10000 + 0.5) AS BIGINT) AS exact_q1e4,
  CAST(len(list_filter([{', '.join(str(i) for i in range(1, 17))}],
                       i -> a.sig[i] = b.sig[i])) * 625 AS BIGINT)
    AS est_q1e4,
  CAST(abs(len(list_filter([{', '.join(str(i) for i in range(1, 17))}],
                           i -> a.sig[i] = b.sig[i])) * 625
           - CAST(floor(p.jaccard * 10000 + 0.5) AS BIGINT)) AS BIGINT)
    AS abs_err_q1e4
FROM pairs p
JOIN sig a ON p.id_a = a.id
JOIN sig b ON p.id_b = b.id
""")
def ta_minhash_est_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR CALIBRATION: per verified near-dup pair, the
    Jaccard the 16-slot signature estimates (matching-slot fraction,
    exactly matches·625 on the 1e-4 grid) against the exact shingle
    Jaccard — the measurement that tells you whether 16 permutations are
    enough before you trust LSH banding at corpus scale (E[est] = J,
    σ = √(J(1−J)/16) ≈ 0.12 at J = 0.5; systematic |err| beyond that
    band means the hash family, not the variance, is the problem).
    Plan: the pair stream (bounded by banding) joined twice against the
    signature relation — signatures are 16 longs, kilobyte-class rows;
    everything integer."""
    docs = _docs(spark, sf_dir)
    # Consume-once: the pair stream enters ONE join chain below, so the
    # result checkpoint is skipped (bucket checkpoint stays).
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3,
                                    materialize_result=False)
    # the signature relation is referenced TWICE (pair sides a and b) and
    # each reference re-ran the shingle+md5+MinHash chain — truncate its
    # lineage once (N rows of 16 longs: exactly the signature index a
    # production run materializes anyway; r12 optimization round)
    sigs = dedup.minhash_signatures(docs).localCheckpoint(eager=True)
    a = sigs.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sg_a"))
    b = sigs.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sg_b"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    matches = F.size(F.filter(
        F.zip_with("sg_a", "sg_b", lambda x, y: x == y), lambda v: v))
    est = (matches.cast("bigint") * F.lit(625)).cast("bigint")
    exact = F.floor(F.col("jaccard") * 10000 + F.lit(0.5)).cast("bigint")
    return j.select(
        "id_a", "id_b",
        exact.alias("exact_q1e4"),
        est.alias("est_q1e4"),
        F.abs(est - exact).cast("bigint").alias("abs_err_q1e4"),
    )


@_q("td_length_mix_report", f"""
WITH t AS (
  SELECT source, {textstats.token_count_sql('text')} AS n_tok FROM documents
), b AS (
  SELECT source,
    CASE WHEN n_tok <= 64 THEN 'a_0_64'
         WHEN n_tok <= 256 THEN 'b_65_256'
         WHEN n_tok <= 1024 THEN 'c_257_1024'
         WHEN n_tok <= 4096 THEN 'd_1025_4096'
         ELSE 'e_4097_plus' END AS len_bucket,
    n_tok FROM t
), agg AS (
  SELECT source, len_bucket, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM b GROUP BY source, len_bucket
), tot AS (
  SELECT source, CAST(sum(n_docs) AS BIGINT) AS src_docs
  FROM agg GROUP BY source
)
SELECT a.source, a.len_bucket, a.n_docs, a.n_tokens,
  {idiv_round_sql('a.n_docs * 10000', 't.src_docs')} AS docs_share_q1e4
FROM agg a JOIN tot t ON a.source = t.source
""")
def td_length_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source SEQUENCE-LENGTH mix: doc and token mass in fixed
    token-length buckets (≤64 / ≤256 / ≤1024 / ≤4096 / longer) plus each
    bucket's within-source share on the 1e-4 grid — the report packing
    (td_token_budget_pack) and curriculum (td_curriculum_phases) planning
    read first: a source that is 80% sub-64-token fragments packs badly
    and up-weights noise. One scan → per-(source, bucket) agg → share via
    a join against the #sources-row totals (kilobytes; AQE broadcasts
    it)."""
    d = _docs(spark, sf_dir)
    n_tok = textstats.token_count(F.col("text"))
    bucket = (F.when(n_tok <= 64, "a_0_64")
              .when(n_tok <= 256, "b_65_256")
              .when(n_tok <= 1024, "c_257_1024")
              .when(n_tok <= 4096, "d_1025_4096")
              .otherwise("e_4097_plus"))
    agg = (d.select("source", bucket.alias("len_bucket"),
                    n_tok.alias("n_tok"))
           .groupBy("source", "len_bucket")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_tok").cast("bigint").alias("n_tokens")))
    w = Window.partitionBy("source")
    return agg.select(
        "source", "len_bucket", "n_docs", "n_tokens",
        idiv_round(F.col("n_docs") * F.lit(10_000),
                   F.sum("n_docs").over(w)).alias("docs_share_q1e4"),
    )


@_q("td_dedup_provenance", f"""
WITH clusters AS ({_PREP_CLUSTERS_SQL}),
scored AS (
  SELECT doc_id, {textstats.quality_q1e4_sql('text')} AS q, text
  FROM documents
), gate_fail AS (
  SELECT doc_id, 'quality_fail' AS reason, CAST(NULL AS BIGINT) AS ref_id
  FROM scored WHERE q < 5000
), exact_ AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
  FROM scored WHERE q >= 5000
), exact_dup AS (
  SELECT doc_id, 'exact_dup' AS reason, keep_id AS ref_id
  FROM exact_ WHERE doc_id <> keep_id
), near_dup AS (
  SELECT k.doc_id, 'near_dup' AS reason, c.rep AS ref_id
  FROM (SELECT doc_id FROM exact_ WHERE doc_id = keep_id) k
  JOIN clusters c ON k.doc_id = c.id
  WHERE c.rep <> k.doc_id
)
SELECT * FROM gate_fail
UNION ALL SELECT * FROM exact_dup
UNION ALL SELECT * FROM near_dup
""")
def td_dedup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation PROVENANCE: one row per REMOVED document naming the stage
    that removed it and the document it lost to — (doc_id, reason ∈
    quality_fail | exact_dup | near_dup, ref_id = the kept twin/rep,
    NULL for the gate). The audit trail a production corpus build writes
    next to the survivor set, and the explainability artifact behind
    "why is my page not in the training set" — td_prepare_corpus_v2's
    removal semantics restated per-document. Same plan pieces as the
    composite (gate filter, md5 keep-lowest window, cluster left join);
    no new shuffle shapes."""
    d = _docs(spark, sf_dir)
    # the quality map is heavy-narrow and this relation is re-derived by
    # three consumers — fan the scan to session parallelism first (r12
    # optimization round)
    scored = ensure_parallelism(d.select("doc_id", "text")).select(
        "doc_id", "text",
        textstats.quality_q1e4_expr(F.col("text")).alias("q"))
    gate_fail = (scored.filter(F.col("q") < 5000)
                 .select("doc_id", F.lit("quality_fail").alias("reason"),
                         F.lit(None).cast("bigint").alias("ref_id")))
    w = Window.partitionBy(F.md5("text"))
    exact = (scored.filter(F.col("q") >= 5000)
             .select("doc_id", F.min("doc_id").over(w).alias("keep_id")))
    exact_dup = (exact.filter(F.col("doc_id") != F.col("keep_id"))
                 .select("doc_id", F.lit("exact_dup").alias("reason"),
                         F.col("keep_id").alias("ref_id")))
    clusters = dedup.duplicate_clusters(
        dedup.minhash_lsh_pairs(d, threshold=0.5,
                                materialize_result=False))
    near_dup = (exact.filter(F.col("doc_id") == F.col("keep_id"))
                .join(clusters, F.col("doc_id") == clusters.id)
                .filter(F.col("rep") != F.col("doc_id"))
                .select("doc_id", F.lit("near_dup").alias("reason"),
                        F.col("rep").alias("ref_id")))
    return gate_fail.unionByName(exact_dup).unionByName(near_dup)


@_q("td_bpe_first_merges", """
WITH words AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
), pairs AS (
  SELECT unnest([substr(w, i, 2)
                 for i in generate_series(1, length(w) - 1)]) AS pair
  FROM words WHERE length(w) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair LIMIT 50
""")
def td_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIRST ITERATION of BPE vocabulary training, exactly: count
    every adjacent character pair within every (lowercased) word across
    the corpus and rank the top-50 merge candidates — the highest-count
    pair is the first merge rule a BPE trainer (Sennrich et al. 2016)
    would emit. Full BPE is inherently sequential (each merge changes
    the next count table), but the per-iteration count is THE
    corpus-scale step, and this query is its plan: explode to
    (word→pairs) with a transform over substring windows (no UDF), one
    hash-partitioned count shuffle of O(corpus chars) 2-char keys, then
    TakeOrderedAndProject for the top-50 (never a global sort).
    Deterministic at the cut: (count DESC, pair ASC) is a total order.
    An iterative driver would loop this plan with the merge applied via
    regexp_replace — each round the same shape."""
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    d = ensure_parallelism(_docs(spark, sf_dir))
    words = (d.select(F.explode(textfns.tokens(F.lower(F.col("text"))))
                      .alias("w"))
             .filter(F.length("w") >= 2))
    pairs = words.select(F.explode(F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.substring("w", i, 2))).alias("pair"))
    return (pairs.groupBy("pair")
            .agg(F.count("*").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("pair"))
            .limit(50))


@_q("dedup_cluster_size_histogram", f"""
WITH clusters AS ({dedup.duplicate_clusters_sql(
    _minhash_pairs_sql(0.3).replace("SELECT id_a, id_b, jaccard",
                                    "SELECT id_a, id_b"))}),
sizes AS (
  SELECT rep, CAST(count(*) AS BIGINT) AS sz FROM clusters GROUP BY rep
)
SELECT sz AS cluster_size,
  CAST(count(*) AS BIGINT) AS n_clusters,
  CAST(sum(sz) AS BIGINT) AS n_docs,
  CAST(sum(sz - 1) AS BIGINT) AS n_removable
FROM sizes GROUP BY sz ORDER BY sz
""")
def dedup_cluster_size_histogram(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE distribution: how duplication mass is shaped
    — many small pairs (benign mirroring) vs a few mega-clusters
    (boilerplate explosion, the case that demands source-level fixes
    before dedup). Per cluster size: cluster count, doc mass, and docs a
    keep-one policy removes (size−1 each) — the report that predicts a
    dedup pass's yield BEFORE running it, and the companion to
    dedup_lsh_bucket_report's cap audit (a capped bucket hides exactly
    the mega-cluster tail this histogram would otherwise show). Plan:
    the cluster map rolled up twice (rep → size → histogram); both
    aggregates move id-sized rows only."""
    clusters = dedup.duplicate_clusters(
        dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.3,
                                materialize_result=False))
    sizes = clusters.groupBy("rep").agg(F.count("*").alias("sz"))
    return (sizes.groupBy(F.col("sz").alias("cluster_size"))
            .agg(F.count("*").alias("n_clusters"),
                 F.sum("sz").cast("bigint").alias("n_docs"),
                 F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"))
            .orderBy("cluster_size"))


@_q("td_dedup_policy_ablation", f"""
WITH clusters AS ({_PREP_CLUSTERS_SQL}),
scored AS (
  SELECT c.id, c.rep, {textstats.quality_q1e4_sql('d.text')} AS q,
    {textstats.token_count_sql('d.text')} AS n_tok
  FROM clusters c JOIN documents d ON c.id = d.doc_id
), lowest AS (
  SELECT 'keep_lowest_id' AS policy, q, n_tok FROM scored WHERE id = rep
), best AS (
  SELECT 'keep_best_quality' AS policy, q, n_tok FROM (
    SELECT q, n_tok,
      row_number() OVER (PARTITION BY rep ORDER BY q DESC, id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT policy, CAST(count(*) AS BIGINT) AS n_survivors,
  CAST(sum(q) AS BIGINT) AS total_q1e4,
  {int_avg_round_sql('q')} AS avg_q1e4,
  CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM (SELECT * FROM lowest UNION ALL SELECT * FROM best) GROUP BY policy
""")
def td_dedup_policy_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-selection ABLATION: for the same near-dup cluster map
    (0.5 threshold), the quality and token mass kept by the two
    policies — keep-lowest-id (v2's deterministic default) vs
    keep-best-quality (v3's upgrade). One row per policy; the avg_q1e4
    delta IS the measured value of quality-aware survivor selection,
    the number that justifies (or kills) v3's extra window before a
    100 TB run commits to it. Survivor counts are equal by construction
    (one per cluster) — a sanity check the differential encodes for
    free. Plan: cluster map joined once to the quality/token kernels,
    then one window + two tiny rollups."""
    docs = _docs(spark, sf_dir)
    clusters = dedup.duplicate_clusters(
        dedup.minhash_lsh_pairs(docs, threshold=0.5,
                                materialize_result=False))
    scored = clusters.join(
        ensure_parallelism(docs.select("doc_id", "text"))
        .select(F.col("doc_id").alias("id"),
                textstats.quality_q1e4_expr(F.col("text")).alias("q"),
                textstats.token_count(F.col("text")).alias("n_tok")),
        "id")
    lowest = (scored.filter(F.col("id") == F.col("rep"))
              .select(F.lit("keep_lowest_id").alias("policy"), "q", "n_tok"))
    w = Window.partitionBy("rep").orderBy(F.desc("q"), F.asc("id"))
    best = (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.lit("keep_best_quality").alias("policy"),
                    "q", "n_tok"))
    return (lowest.unionByName(best).groupBy("policy").agg(
        F.count("*").alias("n_survivors"),
        F.sum("q").cast("bigint").alias("total_q1e4"),
        int_avg_round(F.col("q")).alias("avg_q1e4"),
        F.sum("n_tok").cast("bigint").alias("total_tokens")))


#: entropy-proxy prefix bound: bigram diversity is statistically stable
#: on a document HEAD, so the kernel reads 4000 chars max — the same
#: bounded-prefix trick as dedup.neighbor_edit_distance's 200-char cap
_DIVERSITY_HEAD = 4000


@_q("ta_bigram_diversity", f"""
SELECT doc_id, lang,
  CAST(n_bigrams AS BIGINT) AS n_bigrams,
  CAST(n_distinct AS BIGINT) AS n_distinct,
  {idiv_round_sql('n_distinct * 10000', 'greatest(n_bigrams, 1)')}
    AS diversity_q1e4
FROM (
  SELECT doc_id, lang,
    greatest(length(h) - 1, 0) AS n_bigrams,
    len(list_distinct([substr(h, i, 2)
                       for i in generate_series(1, length(h) - 1)]))
      AS n_distinct
  FROM (SELECT doc_id, lang, substr(text, 1, {_DIVERSITY_HEAD}) AS h
        FROM documents)
)
""")
def ta_bigram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram DIVERSITY — the log-free entropy proxy gibberish
    filters key on: distinct char-bigrams over total bigrams, 1e-4 grid.
    Repetitive spam ("aaaa…", keyboard mash loops, boilerplate runs)
    scores low; natural prose scores high — a quality signal orthogonal
    to the length/stopword/punct blend in quality_q1e4, and the
    fixed-point cousin of the compression-ratio filters production
    pipelines run (zlib ratio needs a library call per row; the distinct
    ratio is pure Catalyst). Narrow per-row transform + array_distinct,
    no shuffle; the kernel is bounded to the first 4000 chars (the
    standard prefix trick — diversity saturates in the head, and an
    unbounded per-char transform measured 3 s vs 0.3 s at sf0.1 with
    byte-identical verdicts on every sub-4000-char doc)."""
    # stage the head as a REAL column (referencing the substring
    # expression inside the transform lambda would inline a fresh copy
    # into every element), and fan the scan out first: the per-char
    # kernel is the textbook expensive narrow map that a single-row-
    # group local input would otherwise run SERIALLY (io.ensure_
    # parallelism — no-op at cluster scale; 2.9 s → 0.36 s at sf0.1)
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    base = ensure_parallelism(_docs(spark, sf_dir)).select(
        "doc_id", "lang",
        F.substring("text", 1, _DIVERSITY_HEAD).alias("_h"))
    h = F.col("_h")
    n_big = F.greatest(F.length(h) - 1, F.lit(0)).cast("bigint")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(h) - 1, F.lit(1))),
        lambda i: F.substring(h, i, 2))
    n_dist = F.when(F.length(h) < 2, F.lit(0).cast("bigint")) \
        .otherwise(F.size(F.array_distinct(grams)).cast("bigint"))
    return base.select(
        "doc_id", "lang",
        n_big.alias("n_bigrams"),
        n_dist.alias("n_distinct"),
        idiv_round(n_dist * F.lit(10_000),
                   F.greatest(n_big, F.lit(1).cast("bigint")))
        .alias("diversity_q1e4"),
    )


@_q("st_diversity_gate", f"""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_in,
  CAST(sum(CASE WHEN dq >= 3000 THEN 1 ELSE 0 END) AS BIGINT) AS n_diverse,
  CAST(min(dq) AS BIGINT) AS min_div_q1e4,
  CAST(max(dq) AS BIGINT) AS max_div_q1e4
FROM (
  SELECT lang, {idiv_round_sql('nd * 10000', 'greatest(nb, 1)')} AS dq
  FROM (
    SELECT lang, greatest(length(h) - 1, 0) AS nb,
      CASE WHEN length(h) < 2 THEN 0
        ELSE len(list_distinct([substr(h, i, 2)
                 for i in generate_series(1, length(h) - 1)])) END AS nd
    FROM (SELECT lang, substr(text, 1, {_DIVERSITY_HEAD}) AS h
          FROM documents WHERE doc_id % 10 = 7)
  )
) GROUP BY lang
""")
def st_diversity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run, oracle-checked: the ENTROPY-PROXY gate on
    continuous ingest — each arriving document's prefix-bounded bigram
    diversity is computed per micro-batch and the per-language funnel
    (inputs, gate survivors at 3000, min/max diversity) runs in complete
    mode. Same Catalyst kernel as the batch ta_bigram_diversity (zero
    streaming-only code paths); the only streaming state is the per-lang
    aggregate row. Pure-integer outputs ⇒ fully hash-checked against the
    batch restatement — the gibberish/spam front-door gate of a
    continuous training-data pipeline."""
    import uuid

    from multiagent_document_etl_system_spark.streaming import streamx

    stage = _staged_incoming_docs_dir(spark, sf_dir)
    stream = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint").parquet(stage)
    staged = stream.withColumn(
        "_h", F.substring("text", 1, _DIVERSITY_HEAD))
    h = F.col("_h")
    nb = F.greatest(F.length(h) - 1, F.lit(0)).cast("bigint")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(h) - 1, F.lit(1))),
        lambda i: F.substring(h, i, 2))
    nd = F.when(F.length(h) < 2, F.lit(0).cast("bigint")) \
        .otherwise(F.size(F.array_distinct(grams)).cast("bigint"))
    dq = idiv_round(nd * F.lit(10_000),
                    F.greatest(nb, F.lit(1).cast("bigint")))
    flagged = staged.select("lang", dq.alias("dq"))
    agg = flagged.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_in"),
        F.sum(F.when(F.col("dq") >= 3000, 1).otherwise(0)).cast("bigint")
        .alias("n_diverse"),
        F.min("dq").cast("bigint").alias("min_div_q1e4"),
        F.max("dq").cast("bigint").alias("max_div_q1e4"),
    )
    name = f"st_diversity_{uuid.uuid4().hex[:8]}"
    streamx.run_to_memory(agg, name, output_mode="complete")
    return spark.table(name)


@_q("td_bpe_train", bpe.bpe_train_sql(10))
def td_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE BPE vocabulary training — td_bpe_first_merges promoted
    from one count to the full trainer (VERDICT r6 #2): 10 rounds of
    count → argmax → greedy left-to-right merge, emitting the merge table
    (step, pair, merged, n_occurrences) a tokenizer build would persist.
    Deterministic end-to-end: every round's cut is the (count DESC,
    pair ASC) total order, and greedy application is the same string fold
    in both engines (operators/bpe.merge_apply vs the oracle's
    list_reduce — fuzzed identical in tests/test_bpe.py). The reference
    ships a FIXED pretrained encoder (src/pinecone_utils.py:46-53); this
    TRAINS the vocab from the corpus.

    Scale: ONE corpus-scale shuffle (word→frequency); all 10 rounds run
    over the vocabulary-sized word-type table, localCheckpointed per
    round (linear plan); each argmax is a 1-row TakeOrderedAndProject
    collect — bounded by construction."""
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    merges = bpe.bpe_train(ensure_parallelism(_docs(spark, sf_dir)),
                           n_merges=10)
    return spark.createDataFrame(
        merges,
        "step bigint, pair string, merged string, n_occurrences bigint")


_INGEST_FLAGS_SQL = f"""cmd5 AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 7
), cband AS (
  SELECT DISTINCT band, bh FROM ({_band_rows_sql('doc_id % 10 <> 7')})
), iband AS (
  {_band_rows_sql('doc_id % 10 = 7')}
), bm AS (
  SELECT i.id AS doc_id, count(*) AS n
  FROM iband i JOIN cband USING (band, bh) GROUP BY 1
), flags AS (
  SELECT d.doc_id, (c.h IS NOT NULL) AS exact_dup,
    coalesce(bm.n, 0) > 0 AS near_dup
  FROM (SELECT doc_id, md5(text) AS h0 FROM documents WHERE doc_id % 10 = 7) d
  LEFT JOIN cmd5 c ON d.h0 = c.h
  LEFT JOIN bm USING (doc_id)
)"""

_SURVIVING = "status IN ('before', 'appended')"

@_q("td_incremental_ingest", f"""
WITH {_INGEST_FLAGS_SQL}, rows_ AS (
  SELECT doc_id, text, n_chars,
    CASE WHEN doc_id % 10 <> 7 THEN 'before'
         WHEN f.exact_dup THEN 'dropped_exact'
         WHEN f.near_dup THEN 'dropped_near'
         ELSE 'appended' END AS status
  FROM documents LEFT JOIN flags f USING (doc_id)
)
SELECT {dedup.hash64_sql('CAST(doc_id AS VARCHAR)', seed=97)} % 8 AS shard,
  CAST(sum(CASE WHEN status = 'before' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_before,
  CAST(sum(CASE WHEN status <> 'before' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_incoming,
  CAST(sum(CASE WHEN status = 'dropped_exact' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped_exact,
  CAST(sum(CASE WHEN status = 'dropped_near' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped_near,
  CAST(sum(CASE WHEN status = 'appended' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_appended,
  CAST(sum(CASE WHEN {_SURVIVING} THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
  CAST(sum(CASE WHEN {_SURVIVING}
           THEN len({textfns.tokens_sql('text')}) ELSE 0 END) AS BIGINT)
    AS n_tokens_after,
  CAST(sum(CASE WHEN {_SURVIVING} THEN n_chars ELSE 0 END) AS BIGINT)
    AS n_chars_after,
  bit_xor(CASE WHEN {_SURVIVING}
          THEN {dedup.hash64_sql('text', seed=11)} END) AS content_xor64_after
FROM rows_ GROUP BY 1 ORDER BY shard
""")
def td_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL CORPUS MAINTENANCE, end-to-end (VERDICT r6 #3): the
    daily-ingest recipe a 100 TB corpus actually runs, as ONE oracled
    composite. A new shard arrives (the staged doc_id%10==7 split — the
    same incoming set the streaming gates use), is deduplicated against
    the PERSISTED corpus index (exact via the md5 set, near via
    banded-MinHash membership — dedup.build_dedup_index /
    dedup_against_index, the st_dedup_vs_corpus machinery), survivors are
    appended, and the output is the manifest DIFF per shard: docs
    before/incoming/dropped(exact|near)/appended/after, surviving token
    and char mass, and td_shard_manifest's order-insensitive bit_xor
    content checksum over the UPDATED corpus. Within-shard self-dedup is
    deliberately out of scope here (covered by dedup_exact_keep et al.;
    the next index refresh catches intra-shard pairs) — the contract is
    membership-vs-index, identical in both engines.

    Scale: the index frames are bytes-tiny next to the corpus (distinct
    md5s + 4 band keys/doc); incoming text shuffles only its md5 and band
    rows; the final rollup is one 8-row shard aggregation with full
    map-side combine. No all-pairs work anywhere."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 10 != 7)
    incoming = d.filter(F.col("doc_id") % 10 == 7)
    md5_idx, band_idx = dedup.build_dedup_index(corpus)
    flags = dedup.dedup_against_index(incoming, md5_idx, band_idx)
    inc = incoming.join(flags, "doc_id", "left").withColumn(
        "status",
        F.when(F.col("exact_dup"), F.lit("dropped_exact"))
        .when(F.col("n_band_matches") > 0, F.lit("dropped_near"))
        .otherwise(F.lit("appended")))
    rows = (corpus.withColumn("status", F.lit("before"))
            .select("doc_id", "text", "n_chars", "status")
            .unionByName(inc.select("doc_id", "text", "n_chars", "status")))
    surv = F.col("status").isin("before", "appended")
    narrow = rows.select(
        (dedup.hash64(F.col("doc_id").cast("string"), seed=97) % 8)
        .alias("shard"),
        "status", "n_chars",
        F.size(textfns.tokens(F.col("text"))).alias("_nt"),
        F.when(surv, dedup.hash64(F.col("text"), seed=11)).alias("_ch"),
    )
    return (narrow.groupBy("shard").agg(
        F.sum(F.when(F.col("status") == "before", 1).otherwise(0))
        .cast("bigint").alias("n_before"),
        F.sum(F.when(F.col("status") != "before", 1).otherwise(0))
        .cast("bigint").alias("n_incoming"),
        F.sum(F.when(F.col("status") == "dropped_exact", 1).otherwise(0))
        .cast("bigint").alias("n_dropped_exact"),
        F.sum(F.when(F.col("status") == "dropped_near", 1).otherwise(0))
        .cast("bigint").alias("n_dropped_near"),
        F.sum(F.when(F.col("status") == "appended", 1).otherwise(0))
        .cast("bigint").alias("n_appended"),
        F.sum(F.when(surv, 1).otherwise(0)).cast("bigint").alias("n_after"),
        F.sum(F.when(surv, F.col("_nt")).otherwise(0)).cast("bigint")
        .alias("n_tokens_after"),
        F.sum(F.when(surv, F.col("n_chars")).otherwise(0)).cast("bigint")
        .alias("n_chars_after"),
        F.expr("bit_xor(_ch)").alias("content_xor64_after"),
    ).orderBy("shard"))


@_q("st_incremental_ingest", f"""
WITH {_INGEST_FLAGS_SQL}, surv AS (
  SELECT doc_id FROM flags WHERE NOT exact_dup AND NOT near_dup
), updated AS (
  SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 10 <> 7
  UNION ALL
  SELECT d.doc_id, d.text, d.n_chars FROM documents d JOIN surv USING (doc_id)
)
SELECT {dedup.hash64_sql('CAST(doc_id AS VARCHAR)', seed=97)} % 8 AS shard,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(len({textfns.tokens_sql('text')})) AS BIGINT) AS n_tokens,
  CAST(sum(n_chars) AS BIGINT) AS n_chars,
  bit_xor({dedup.hash64_sql('text', seed=11)}) AS content_xor64
FROM updated GROUP BY 1 ORDER BY shard
""")
def st_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the incremental-ingest recipe, hash-oracled:
    the staged incoming shard replays as a MULTI-FILE file stream
    (maxFilesPerTrigger=1 → one foreachBatch append per file); each
    micro-batch dedups against the PERSISTED corpus index (stream-static
    joins only), appends its survivors to the working corpus parquet AND
    appends their md5/band rows to the persisted index files
    (io.upsert-style growth — the index stays current without a rebuild);
    the returned frame is td_shard_manifest re-derived over the UPDATED
    corpus directory. Deterministic at the cut regardless of micro-batch
    boundaries: membership flags are batch-independent (the index is
    static for the day's run; intra-shard pairs wait for the next
    refresh, exactly like the batch twin) and the manifest's bit_xor
    checksum is order-insensitive — so the ORACLE can restate the whole
    streaming run as batch SQL.

    Exactly-once (ADVICE r7 #2): every sink lives in an ``epoch=N``
    partition directory written with mode("overwrite") — the base corpus
    and index land in epoch=-1, each micro-batch in its own epoch. A
    retried micro-batch rewrites ITS partition instead of blind-appending,
    and a crash between the three per-batch writes self-heals on replay
    (all three are re-overwritten from the same deterministic survivor
    set), honoring write_foreach_batch's idempotent-batch_fn contract."""
    import tempfile
    import uuid

    from multiagent_document_etl_system_spark.streaming import streamx

    def build() -> str:
        stage = tempfile.mkdtemp(prefix="st_docs_in_multi_")
        _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 7) \
            .repartition(3).write.mode("overwrite").parquet(stage)
        return stage

    stage = once_per_session(spark, ("st_docs_in_multi", sf_dir), build)

    corpus = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 != 7) \
        .select("doc_id", "text", "n_chars")
    md5_idx, band_idx = dedup.build_dedup_index(corpus)

    work = tempfile.mkdtemp(prefix="incr_corpus_")
    idx_md5_dir = f"{work}/_index_md5"
    idx_band_dir = f"{work}/_index_band"
    corpus_dir = f"{work}/corpus"
    # The three day-start writes are INDEPENDENT jobs (corpus snapshot,
    # md5 set, band rows — no write reads another's output): submit them
    # from a small thread pool so each job's task tail back-fills the
    # executors the others free (guide §2.6). Exceptions propagate
    # through pool.map.
    from concurrent.futures import ThreadPoolExecutor

    def _write(pair):
        df, path = pair
        df.write.parquet(path)

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(_write, [
            (corpus, f"{corpus_dir}/epoch=-1"),
            (md5_idx, f"{idx_md5_dir}/epoch=-1"),
            (band_idx, f"{idx_band_dir}/epoch=-1"),
        ]))
    # Read the day-start index BACK from the epoch=-1 files just written
    # (r12 optimization round): the static index is referenced by every
    # micro-batch's stream-static join, and a DataFrame reference
    # re-executes its lineage per use — so each of the N micro-batches
    # re-derived the CORPUS-WIDE md5 set and shingle/MinHash band chain
    # from scratch (N+1 corpus scans per run). The parquet read-back is
    # identical rows by construction (it IS the persisted index the
    # docstring describes) and costs one file scan per batch.
    md5_idx = spark.read.parquet(f"{idx_md5_dir}/epoch=-1")
    band_idx = spark.read.parquet(f"{idx_band_dir}/epoch=-1")

    stream = (spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
        .option("maxFilesPerTrigger", 1).parquet(stage))

    def ingest_batch(batch_df, epoch):
        flags = dedup.dedup_against_index(batch_df, md5_idx, band_idx)
        surv = (batch_df.join(flags, "doc_id")
                .filter(~F.col("exact_dup") & (F.col("n_band_matches") == 0))
                .select("doc_id", "text", "n_chars"))
        # The corpus write IS the survivor materialization (r13
        # optimization round): the two index appends re-read the
        # just-written epoch partition — identical rows by construction
        # (it is the same idempotent-overwrite pattern the static index
        # uses at epoch=-1) — so the dedup join runs once and the batch
        # pays 3 actions, not the previous localCheckpoint + 3 writes.
        # idempotent epoch-scoped overwrites, never blind appends: a
        # micro-batch retry rewrites its own epoch=N partition
        surv.write.mode("overwrite").parquet(f"{corpus_dir}/epoch={epoch}")
        surv = batch_df.sparkSession.read.parquet(
            f"{corpus_dir}/epoch={epoch}")
        # the two index appends both read the committed survivor
        # partition and are independent of each other — overlap them
        # (guide §2.6); each is idempotent per the epoch contract above
        from concurrent.futures import ThreadPoolExecutor

        def _w_md5():
            surv.select(F.md5("text").alias("h")) \
                .write.mode("overwrite") \
                .parquet(f"{idx_md5_dir}/epoch={epoch}")

        def _w_band():
            (dedup.band_signatures(
                surv.select(F.col("doc_id").alias("_id"),
                            dedup.shingles(F.col("text"), 3).alias("_sh")))
             .select("band", "bh").distinct()
             .write.mode("overwrite")
             .parquet(f"{idx_band_dir}/epoch={epoch}"))

        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(_w_md5), pool.submit(_w_band)]:
                f.result()

    q = streamx.write_foreach_batch(
        stream, f"{work}/_chk_{uuid.uuid4().hex[:8]}", ingest_batch)
    q.awaitTermination()

    updated = spark.read.parquet(corpus_dir)
    return (updated.select(
        (dedup.hash64(F.col("doc_id").cast("string"), seed=97) % 8)
        .alias("shard"),
        "n_chars",
        F.size(textfns.tokens(F.col("text"))).alias("_nt"),
        dedup.hash64(F.col("text"), seed=11).alias("_ch"))
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"),
             F.sum("_nt").cast("bigint").alias("n_tokens"),
             F.sum("n_chars").cast("bigint").alias("n_chars"),
             F.expr("bit_xor(_ch)").alias("content_xor64"))
        .orderBy("shard"))


@_q("td_bpe_segment", bpe.bpe_segment_sql(10))
def td_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer APPLIED: after td_bpe_train's 10 merges,
    how the vocabulary segments — per tokens-per-word-type count, the
    number of word types, their corpus occurrence mass, and the total
    BPE tokens they contribute. This is the fertility/compression report
    a tokenizer build reads before committing a vocab (avg tokens per
    word = sum(n_tokens)/sum(n_word_occurrences)); the oracle replays
    the whole train+apply chain, so the driver hash-checks training AND
    application end-to-end. Scale: the trainer's plan plus one
    vocabulary-sized rollup."""
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    _merges, types = bpe.bpe_train(
        ensure_parallelism(_docs(spark, sf_dir)), n_merges=10,
        return_types=True)
    syms = F.split("sym", " ")
    return (types.select(F.size(syms).cast("bigint").alias("n_symbols"),
                         "c")
            .groupBy("n_symbols")
            .agg(F.count("*").alias("n_word_types"),
                 F.sum("c").cast("bigint").alias("n_word_occurrences"),
                 F.sum(F.col("c") * F.col("n_symbols")).cast("bigint")
                 .alias("n_tokens"))
            .orderBy("n_symbols"))


@_q("td_bpe_encode", bpe.bpe_encode_sql(10))
def td_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer ENCODING the corpus: per document, the word
    count (≥2-char whitespace tokens, the trainer's domain), the BPE
    token count under td_bpe_train's 10 merges, and half-up fertility
    (tokens per word) on the 1e4 integer grid — the per-document cost
    model a token-budget planner reads (high-fertility docs burn budget).
    Scale shape: words dedupe into the vocabulary-sized type table, the
    fold runs ONCE PER TYPE, and documents join the (word → n_symbols)
    vocab back — never re-segmenting per occurrence; AQE picks the join
    strategy (the vocab side grows sublinearly, Heaps' law). The oracle
    replays train + segment + join, so the whole tokenizer lifecycle is
    driver-hash-checked: train (td_bpe_train), vocabulary shape
    (td_bpe_segment), corpus encode (this)."""
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    docs = ensure_parallelism(_docs(spark, sf_dir))
    _merges, types = bpe.bpe_train(docs, n_merges=10, return_types=True)
    vocab = types.select(
        "w", F.size(F.split("sym", " ")).cast("bigint").alias("n_sym"))
    words = (docs.select(
        "doc_id",
        F.explode(textfns.tokens(F.lower(F.col("text")))).alias("w"))
        .filter(F.length("w") >= 2))
    return (words.join(vocab, "w")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_words"),
                 F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
                 idiv_round(F.lit(10000) * F.sum("n_sym"),
                            F.count(F.lit(1))).alias("fertility_q1e4")))


@_q("st_bpe_fertility", bpe.bpe_stream_encode_sql(10))
def st_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run, hash-oracled: the FROZEN tokenizer at the
    streaming front door. Merges are trained on the static corpus
    (doc_id%10 != 7) in batch; each INCOMING document (the staged
    %10==7 file stream) is encoded per micro-batch by APPLYING the
    merge rules to its words (operators/bpe.apply_merges — ten composed
    folds over literals, no vocabulary join, so unseen words segment
    correctly), rolled up to per-doc word/BPE-token counts and half-up
    fertility on the 1e4 grid — the signal a token-budget admission
    gate compares. Deterministic at the cut: the merge list is a
    driver-side constant for the run and the fold is order-free per
    word, so the oracle restates train + apply as batch SQL. The stream
    shuffles only (doc_id, n_sym) pairs; per-batch cost is words ×
    10 folds, embarrassingly parallel."""
    import uuid

    from multiagent_document_etl_system_spark.io import ensure_parallelism
    from multiagent_document_etl_system_spark.streaming import streamx

    stage = _staged_incoming_docs_dir(spark, sf_dir)
    corpus = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 != 7)
    merges = bpe.bpe_train(ensure_parallelism(corpus), n_merges=10)
    pairs = [tuple(m[1].split(" ")) for m in merges]

    stream = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint").parquet(stage)
    words = (stream.select(
        "doc_id",
        F.explode(textfns.tokens(F.lower(F.col("text")))).alias("w"))
        .filter(F.length("w") >= 2))
    sym = F.trim(F.regexp_replace("w", "(.)", "$1 "))
    n_sym = F.size(F.split(bpe.apply_merges(sym, pairs), " "))
    enc = words.select("doc_id", n_sym.cast("bigint").alias("n_sym"))
    agg = (enc.groupBy("doc_id")
           .agg(F.count("*").cast("bigint").alias("n_words"),
                F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
                idiv_round(F.lit(10000) * F.sum("n_sym"),
                           F.count(F.lit(1))).alias("fertility_q1e4")))
    name = f"st_bpe_fert_{uuid.uuid4().hex[:8]}"
    streamx.run_to_memory(agg, name, output_mode="complete")
    return spark.table(name)


@_q("ta_langid_confusion", f"""
SELECT lang, {textstats.lang_id_sql('text')} AS lang_pred,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM documents GROUP BY 1, 2 ORDER BY 1, 2
""")
def ta_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX: the labeled ``lang`` column crossed
    with the n-gram-heuristic prediction (the ta_lang_id kernel), with
    document and character mass per cell — the calibration report that
    decides whether the cheap heuristic is good enough to gate a corpus
    stratum or a real classifier is needed. One scan, one #langs²-row
    hash aggregate with full map-side combine; nothing else moves."""
    d = _docs(spark, sf_dir)
    return (d.select("lang",
                     textstats.lang_id_expr(F.col("text"))
                     .alias("lang_pred"),
                     "n_chars")
            .groupBy("lang", "lang_pred")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("n_chars"))
            .orderBy("lang", "lang_pred"))


@_q("ta_zipf_profile", f"""
WITH counts AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT source, unnest({textfns.tokens_sql('lower(text)')}) AS w
    FROM documents)
  WHERE length(w) >= 1 GROUP BY 1, 2
), ranked AS (
  SELECT source, c,
    row_number() OVER (PARTITION BY source ORDER BY c DESC, w ASC) AS r
  FROM counts
)
SELECT source,
  CAST(count(*) AS BIGINT) AS vocab,
  CAST(sum(c) AS BIGINT) AS n_tokens,
  CAST(max(CASE WHEN r = 1 THEN c END) AS BIGINT) AS f1,
  {idiv_round_sql('10000 * coalesce(max(CASE WHEN r = 10 THEN c END), 0)',
                  'max(CASE WHEN r = 1 THEN c END)')} AS decay10_q1e4,
  {idiv_round_sql('10000 * coalesce(max(CASE WHEN r = 100 THEN c END), 0)',
                  'max(CASE WHEN r = 1 THEN c END)')} AS decay100_q1e4
FROM ranked GROUP BY source ORDER BY source
""")
def ta_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-decay PROFILE per source — the log-free power-law
    fingerprint: vocabulary size, token mass, the top frequency, and the
    rank-10/rank-100 frequencies as integer ratios of rank-1 on the 1e4
    grid (natural text decays ≈ 1/r, so decay10 ≈ 1000; generated or
    templated text shows a much flatter or steeper cliff). All integer —
    no log/float ever enters either engine.

    Scale: one corpus-scale token shuffle into per-source vocabulary
    counts, then a rank window PARTITIONED BY source over the vocab-sized
    relation — vocabulary grows sublinearly (Heaps' law) and the window
    carries two narrow columns, the q_skew_profile class of keys-sized
    window (a two-phase per-source top-101 cut is the drop-in if a
    single source's vocab ever outgrows a task)."""
    d = _docs(spark, sf_dir)
    counts = (d.select("source",
                       F.explode(textfns.tokens(F.lower(F.col("text"))))
                       .alias("w"))
              .filter(F.length("w") >= 1)
              .groupBy("source", "w")
              .agg(F.count("*").cast("bigint").alias("c")))
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("w"))
    ranked = counts.select("source", "c",
                           F.row_number().over(w).alias("r"))
    f_at = lambda rank: F.max(F.when(F.col("r") == rank, F.col("c")))  # noqa: E731
    return (ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("vocab"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        f_at(1).cast("bigint").alias("f1"),
        idiv_round(F.lit(10000) * F.coalesce(f_at(10), F.lit(0)), f_at(1))
        .alias("decay10_q1e4"),
        idiv_round(F.lit(10000) * F.coalesce(f_at(100), F.lit(0)), f_at(1))
        .alias("decay100_q1e4"),
    ).orderBy("source"))


@_q("mm_phash_pairs", None)
def mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup dedup via 64-bit perceptual hash (pHash): decode
    luma (REAL stdlib BMP/PNG/JPEG decoders), DCT-II, median-threshold
    the low-frequency block, then 4×16-bit band blocking + JVM
    ``bit_count`` Hamming verify — the SimHash ladder applied to the
    image modality (sources/multimodal.py:phash_images/phash_near_pairs).
    The fixture plants the invariant the operator exists for: the SAME
    rendered content in four containers (bilevel BMP, bilevel PNG,
    anti-aliased PNG, lossy JPEG) must pair, different content must not.
    Rows-only BY CONSTRUCTION: binary decode + DCT are Python-side
    (mapInPandas) by design; the pairing invariants are pinned in
    tests/test_sources.py. Scale: pairs exist only inside band buckets —
    no all-pairs term; the hash is 8 bytes per image."""
    from multiagent_document_etl_system_spark.sources import (
        fixtures,
        multimodal,
    )

    texts = ["INVOICE 42 TOTAL 99", "REPORT AGG GROUP 7",
             "CONTRACT KEY JOIN 13", "RECEIPT BATCH SCAN 88"]
    rows = []
    mid = 0
    for t in texts:
        aa = fixtures.render_text_aa_pixels(t, scale=2)
        for payload in (fixtures.render_text_bmp(t),
                        fixtures.render_text_png(t),
                        fixtures.render_text_png("", pixels=aa),
                        fixtures.render_text_jpeg(t, quality=90)):
            rows.append((mid, "image", bytearray(payload),
                         (None, None, None, "file")))
            mid += 1
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    # 8 bands of 8-bit keys: the curated-collection recall setting.
    # Pigeonhole GUARANTEES pairs differing in < 8 bits; the fixture's
    # worst cross-container distance is exactly 8, which is found here
    # empirically (8 diffs would have to touch all 8 bands to be missed)
    # and pinned by tests/test_sources.py — not proof-backed at 8.
    return multimodal.phash_near_pairs(
        multimodal.phash_images(media), max_hamming=16, n_bands=8)


@_q("st_dedup_survivors", """
SELECT event_id, user_id, event_type FROM events
""")
def st_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming ``dropDuplicatesWithinWatermark`` run, HASH-ORACLED
    — the r7 verdict's stretch #8 promotion of the dedup stream into the
    hash channel. The staged replay carries every event TWICE (two
    byte-identical part files, delivered inside one micro-batch via
    max_files_per_trigger=2), so the dedup state fires on every key and
    drops exactly half the input — and because the colliding rows are
    byte-identical, the surviving VALUES are deterministic even though
    the surviving physical row is not: survivor identity is unobservable
    in the projection, which is what makes the hash oracle sound. This
    query ABSORBED the old rows-only arrival-ordered run
    (st_dedup_stream, retired r9): the genuinely order-dependent
    semantics — which physical row survives, watermark late-drops — are
    pinned in tests/test_streaming.py instead.

    Scale: dedup state is one entry per event_id within the watermark
    horizon — bounded by key cardinality per window, not stream length;
    the planted-duplicate staging is test scaffolding, not a shipped
    cost."""
    import tempfile
    import uuid

    from multiagent_document_etl_system_spark.streaming import streamx

    def build() -> str:
        stage = tempfile.mkdtemp(prefix="st_events_dup2_")
        ev = load_table(spark, sf_dir, "events").coalesce(1)
        ev.write.mode("append").parquet(stage)
        ev.write.mode("append").parquet(stage)  # the byte-identical twin
        return stage

    stage = once_per_session(spark, ("st_events_dup2", sf_dir), build)

    stream = streamx.read_event_stream(spark, stage,
                                       max_files_per_trigger=2)
    deduped = streamx.dedup_within_watermark(stream, watermark="30 minutes")
    name = f"st_dedup_surv_{uuid.uuid4().hex[:8]}"
    streamx.run_to_memory(deduped.select("event_id", "user_id",
                                         "event_type"),
                          name, output_mode="append")
    return spark.table(name)


#: one Derby database per (session, sf_dir) — registry queries must be
#: idempotently re-runnable inside one session (bench reps, repeated
#: check_oracle passes), so the write happens once and re-runs only
#: re-read + re-aggregate
