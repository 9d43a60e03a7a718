"""Corpus curation: funnel, decontamination, mixing, PII, profile/snapshot reports.

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
    similarity,
    stable_avg_q,
    stable_avg_q_sql,
    textfns,
    textstats,
)
from multiagent_document_etl_system_spark.plans.registry.dedup import (
    _SHINGLE_SQL,
    _minhash_pairs_sql,
)

_FUNNEL_CLUSTERS_SQL = dedup.duplicate_clusters_sql(
    _minhash_pairs_sql(0.5).replace("SELECT id_a, id_b, jaccard",
                                    "SELECT id_a, id_b"))

_FUNNEL_DECON_SQL = f"""
  SELECT doc_id, count(*) AS n_shared FROM (
    SELECT doc_id, {dedup.hash64_sql('sh')} AS sh_h FROM (
      SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS __toks
            FROM documents WHERE doc_id % 90 <> 8)
    )
  ) c
  JOIN (
    SELECT DISTINCT {dedup.hash64_sql('sh')} AS sh_h FROM (
      SELECT unnest({_SHINGLE_SQL}) AS sh
      FROM (SELECT string_split_regex(trim(text), '\\s+') AS __toks
            FROM documents WHERE doc_id % 90 = 8)
    )
  ) ev USING (sh_h) GROUP BY doc_id
""".strip()


def curation_flags(spark: SparkSession, sf_dir: str,
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Row-level curation flags — the shared core of the funnel REPORT
    (td_curation_funnel aggregates this) and the CURATE write path
    (cli curate filters on the conjunction and persists survivors).

    One row per corpus doc: (doc_id, lang, text, quality, n_tokens,
    f_gopher, f_decon, f_exact, f_near).

    Near-dup semantics (deliberate, decontamination-adjacent): clusters
    are built over ALL documents INCLUDING the eval split, so a corpus
    doc whose cluster representative is an eval doc fails f_near and is
    removed with no surviving representative — content that
    near-duplicates eval data must not reach training at all. The DuckDB
    oracle encodes the same rule.

    The dirty/dupes flag joins carry NO broadcast hint: on a dup-heavy
    corpus the near-dup cluster map scales with corpus size (50% dupes =>
    corpus/2 rows), so a forced broadcast would OOM at 100 TB — AQE
    broadcasts them exactly when they are actually small."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 90 != 8)
    evals = d.filter(F.col("doc_id") % 90 == 8)
    w_exact = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    # stage the token array ONCE — the gopher stats reference it ~6 times
    # and codegen does not unify repeated split() across HOF lambdas (5x);
    # fan the scan to session parallelism before the heavy narrow map
    # (single-row-group scans serialize it — r12 optimization round)
    from multiagent_document_etl_system_spark.io import ensure_parallelism
    base = ensure_parallelism(corpus.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", "text", textfns.tokens(F.col("text")).alias("_toks"),
    ).select(
        "doc_id", "lang", "text",
        curation.gopher_keep(F.col("_toks")).alias("f_gopher"),
        textstats.quality_score_expr(F.col("text"), toks=F.col("_toks"))
        .alias("quality"),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        (F.row_number().over(w_exact) == 1).alias("f_exact"),
    )
    dirty = (
        curation.decontaminate(corpus, evals)
        .filter(~F.col("keep")).select("doc_id")
        .withColumn("_dirty", F.lit(True))
    )
    dupes = (
        dedup.duplicate_clusters(
            dedup.minhash_lsh_pairs(d, threshold=0.5,
                                    checkpoint_dir=checkpoint_dir,
                                    materialize_result=False),
            checkpoint_dir=checkpoint_dir)
        .filter(F.col("rep") != F.col("id"))
        .select(F.col("id").alias("doc_id"))
        .withColumn("_dupe", F.lit(True))
    )
    return (
        base.join(dirty, "doc_id", "left")
        .join(dupes, "doc_id", "left")
        .select(
            "doc_id", "lang", "text", "quality", "n_tokens",
            F.col("f_gopher"),
            F.col("_dirty").isNull().alias("f_decon"),
            F.col("f_exact"),
            F.col("_dupe").isNull().alias("f_near"),
        )
    )


@_q("td_curation_funnel", f"""
WITH clusters AS ({_FUNNEL_CLUSTERS_SQL}),
corpus AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id % 90 <> 8
), dirty AS (
  SELECT doc_id FROM ({_FUNNEL_DECON_SQL}) WHERE n_shared >= 5
), flags AS (
  SELECT c.doc_id, c.lang,
    {curation.gopher_keep_sql('c.text')} AS f_gopher,
    (dd.doc_id IS NULL) AS f_decon,
    row_number() OVER (PARTITION BY md5(c.text) ORDER BY c.doc_id) = 1
      AS f_exact,
    (cl.id IS NULL OR cl.rep = c.doc_id) AS f_near,
    {{QUALITY}} AS quality,
    {{TOKENS}} AS n_tokens
  FROM corpus c
  LEFT JOIN dirty dd USING (doc_id)
  LEFT JOIN clusters cl ON c.doc_id = cl.id
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_input,
  CAST(sum(CASE WHEN f_gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
  CAST(sum(CASE WHEN f_gopher AND f_decon THEN 1 ELSE 0 END) AS BIGINT)
    AS n_decontam,
  CAST(sum(CASE WHEN f_gopher AND f_decon AND f_exact THEN 1 ELSE 0 END)
    AS BIGINT) AS n_unique,
  CAST(sum(CASE WHEN f_gopher AND f_decon AND f_exact AND f_near
           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN f_gopher AND f_decon AND f_exact AND f_near
           THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
  {stable_avg_q_sql(
      "CASE WHEN f_gopher AND f_decon AND f_exact AND f_near "
      "THEN quality END")} AS avg_kept_quality_q1e4
FROM flags GROUP BY lang
""".replace("{QUALITY}", textstats.quality_score_sql("c.text"))
   .replace("{TOKENS}", textstats.token_count_sql("c.text")))
def td_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation funnel as ONE lazy plan: Gopher quality
    gates → eval-set decontamination → exact dedup → near-dup cluster
    removal, reported per language with cumulative survivor counts at
    every stage (the kill-rate table every production corpus build
    publishes) plus kept-token mass and kept-quality mean.

    Flags are measured once per doc, the funnel is their cumulative
    conjunction — so one corpus scan feeds every stage. Plan: narrow map
    (gopher gate + quality + tokens) → ONE window shuffle on md5(text)
    (exact dedup rank) → joins against the two flag sets (contaminated
    ids, near-dup cluster map — AQE broadcasts them when small; no
    forced hint, since the cluster map scales with the corpus dup rate)
    → final agg on lang. Two shuffles total at any corpus size when the
    flag sets stay broadcastable; nothing corpus-sized crosses the
    network twice.
    Composes curation.gopher_keep/decontaminate + dedup.exact rank +
    dedup.duplicate_clusters (smallest-id rep), all hash-oracled."""
    flags = curation_flags(spark, sf_dir)
    c1 = F.col("f_gopher")
    c2 = c1 & F.col("f_decon")
    c3 = c2 & F.col("f_exact")
    c4 = c3 & F.col("f_near")
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return flags.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_input"),
        one(c1).alias("n_gopher"),
        one(c2).alias("n_decontam"),
        one(c3).alias("n_unique"),
        one(c4).alias("n_kept"),
        F.sum(F.when(c4, F.col("n_tokens")).otherwise(0)).cast("bigint")
        .alias("kept_tokens"),
        stable_avg_q(F.when(c4, F.col("quality"))).alias("avg_kept_quality_q1e4"),
    )


@_q("td_stratified_sample", """
SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn FROM (
  SELECT lang, doc_id,
    row_number() OVER (PARTITION BY lang
      ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':', text)), doc_id) AS rn
  FROM documents
) WHERE rn <= 50
""")
def td_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-language) deterministic sample — the training-mix
    quota op: rank docs inside each stratum by a content-derived md5 (a
    uniform pseudo-random order that is reproducible across engines and
    runs, unlike rand()), keep the first 50 per lang. One shuffle on lang;
    at 100 TB the same plan with quota-per-stratum from a config table."""
    d = _docs(spark, sf_dir)
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                         F.col("text")))
    w = Window.partitionBy("lang").orderBy(key, F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 50)
        .select("lang", "doc_id", "rn")
    )


# ------------------------------------------------ corpus curation (new ops)

_DECON_SH_H = dedup.hash64_sql("sh")


@_q("td_decontaminate", f"""
WITH ev_sh AS (
  SELECT DISTINCT {_DECON_SH_H} AS sh_h FROM (
    SELECT unnest({_SHINGLE_SQL}) AS sh
    FROM (SELECT string_split_regex(trim(text), '\\s+') AS __toks
          FROM documents WHERE doc_id % 90 = 8)
  )
), corp AS (
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS __toks
        FROM documents WHERE doc_id % 90 <> 8)
), m AS (
  SELECT doc_id, count(*) AS n_shared
  FROM (SELECT doc_id, {_DECON_SH_H} AS sh_h FROM corp) c
  JOIN ev_sh USING (sh_h) GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(m.n_shared, 0) AS BIGINT) AS n_shared,
  coalesce(m.n_shared, 0) < 5 AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % 90 <> 8) d
LEFT JOIN m USING (doc_id)
""")
def td_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: drop training docs sharing ≥5 distinct
    3-gram shingles with any doc in the held-out set (doc_id % 90 == 8 — the
    stand-in for MMLU-style benchmark text). Duplicated eval material
    shares nearly all shingles and is killed; incidental n-gram collisions
    stay under threshold. Eval side reduces to broadcast 64-bit hashes —
    the corpus is scanned once and never shuffled."""
    d = _docs(spark, sf_dir)
    return curation.decontaminate(
        d.filter(F.col("doc_id") % 90 != 8),
        d.filter(F.col("doc_id") % 90 == 8),
        n=3, min_shared=5,
    )


@_q("td_semantic_decontaminate", f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), ev AS (SELECT v FROM e WHERE vec_id % 90 = 8),
corpus AS (SELECT vec_id, v FROM e WHERE vec_id % 90 <> 8),
p AS (
  SELECT vec_id,
    CAST(floor({similarity.cosine_sql('corpus.v', 'ev.v')} * 10000.0 + 0.5)
         AS BIGINT) AS sq
  FROM corpus CROSS JOIN ev
)
SELECT vec_id AS doc_id, CAST(max(sq) AS BIGINT) AS max_sim_q1e4,
  max(sq) >= 3000 AS contaminated
FROM p GROUP BY vec_id
""")
def td_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC eval-set decontamination: flag training docs whose
    EMBEDDING is too close (cosine ≥ 0.3 here; ≥0.9 in production) to any
    held-out eval doc (vec_id % 90 == 8, the same split as the n-gram
    td_decontaminate). Paraphrased or translated benchmark material
    shares almost no 3-gram shingles but sits next to the eval set in
    embedding space — this is the leakage channel n-gram overlap cannot
    see, and modern corpus builds run BOTH gates.

    Plan: the eval side is benchmark-sized BY WORKLOAD CONTRACT (a
    benchmark suite is MMLU-sized no matter how big the training corpus
    grows — the %90 carve from the embeddings table merely stands in for
    that fixed set), so its broadcast hint is sanctioned the same way
    td_decontaminate's eval-shingle broadcast is
    (tests/test_plans._WORKLOAD_BOUNDED_HINTS documents both); the
    corpus streams through one narrow crossJoin (|eval| comparisons per
    row — no corpus shuffle, no LSH needed because the right side is
    tiny, unlike the corpus×corpus near-dup problem where blocking is
    mandatory) into a per-doc max. Scores land on the 1e-4 integer grid
    before max/threshold (the dedup_embedding_cosine convention), so the
    output is integers + booleans only."""
    emb = _emb(spark, sf_dir)
    # norms precomputed per ROW on both sides (the topk_join convention;
    # r12 optimization round): the cosine inside the pair expression
    # folded over each vector once per (corpus, eval) pair — 3 O(dim)
    # folds per pair — where one fold per row + one dot per pair
    # suffices. Same IEEE op sequence (sqrt per side, multiply, divide),
    # so the 1e-4-grid scores are bit-identical.
    ev = emb.filter(F.col("vec_id") % 90 == 8) \
        .select(F.col("embedding").alias("_ev"),
                similarity.norm(F.col("embedding")).alias("_en"))
    corpus = emb.filter(F.col("vec_id") % 90 != 8) \
        .withColumn("_n", similarity.norm(F.col("embedding")))
    cos = similarity.cosine_from_norms(F.col("embedding"), F.col("_ev"),
                                       F.col("_n"), F.col("_en"))
    sq = F.floor(cos * 10000.0 + F.lit(0.5)).cast("bigint")
    return (
        corpus.crossJoin(F.broadcast(ev))
        .groupBy("vec_id")
        .agg(F.max(sq).cast("bigint").alias("max_sim_q1e4"))
        .select(
            F.col("vec_id").alias("doc_id"), "max_sim_q1e4",
            (F.col("max_sim_q1e4") >= 3000).alias("contaminated"),
        )
    )


@_q("ta_gopher_rules", curation.gopher_rules_sql())
def ta_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gates (word-count bounds, mean word length,
    duplicate-bigram fraction, stop-word floor) with per-rule audit
    columns. Narrow per-row map — zero shuffles."""
    return curation.gopher_rules(_docs(spark, sf_dir))


@_q("td_domain_mix", f"""
WITH base AS (
  SELECT source, doc_id,
    CAST(1 + (CAST(substr(source, 4) AS INT) % 3) AS DOUBLE) AS t,
    (CAST(concat('0x', substring(md5(concat('7:',
        CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000)
      / 1000000.0 AS p_row
  FROM documents
), agg AS (
  SELECT source, count(*) AS n_docs, max(t) AS t FROM base GROUP BY source
), tot AS (
  SELECT sum(n_docs) AS n_total, sum(t) AS t_total FROM agg
), w AS (
  SELECT source, n_docs,
    round(CAST(n_docs AS DOUBLE) / n_total, 4) AS share,
    round(t / t_total, 4) AS target_share,
    round((t / t_total) / (CAST(n_docs AS DOUBLE) / n_total), 4) AS weight
  FROM agg, tot
), s AS (
  SELECT b.source, count(*) AS n_sampled
  FROM base b JOIN w USING (source)
  WHERE b.p_row < least(1.0, 0.5 * w.weight)
  GROUP BY b.source
)
SELECT w.source, CAST(w.n_docs AS BIGINT) AS n_docs, share, target_share,
  weight, CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled
FROM w LEFT JOIN s USING (source)
""")
def td_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: per-source sampling weights toward a target
    distribution (here: weight source srcN by 1 + N%3) plus a
    deterministic hash-Bernoulli subsample at p = min(1, weight/2).
    One tiny shuffle on the low-cardinality source key; weights broadcast
    back; the sample decision is a pure per-row hash — reproducible across
    engines, retries, and speculative tasks, unlike rand()."""
    target = (1 + F.expr("CAST(substring(source, 4) AS INT)") % 3) \
        .cast("double")
    return curation.domain_mix(_docs(spark, sf_dir), target,
                               sample_scale=0.5, seed=7)


@_q("td_quality_classifier", curation.quality_classifier_sql())
def td_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate: fastText-family hashed linear classifier
    over unigram + adjacent-bigram features (the learned filter modern
    corpus builds run BESIDE the heuristic gopher gates — CCNet's fastText
    LM filter, LLaMA's wiki-reference classifier). Weights are a
    deterministic hash projection on the q1e3 integer grid standing in
    for trained parameters (the container ships no model weights; a real
    model is a broadcast-map swap), so every output cell is BIGINT/BOOL
    with one engine-independent value. Pure narrow map: the sparse dot
    product folds over the row-local feature array (F.aggregate) — zero
    shuffles, no per-feature row ever exists. At 100 TB this is one
    full-codegen corpus scan, the cheapest possible shape for a gate."""
    return curation.quality_classifier(_docs(spark, sf_dir))


@_q("td_temperature_mix", curation.temperature_mix_sql())
def td_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing at T = 2: per-source sampling
    share ∝ √p_i — the low-resource up-weighting rule of multilingual
    pretraining corpora (XLM-R §3.1, mT5 §3.2). √(n_i·10⁴) is an EXACT
    integer sqrt (guess-and-correct around libm, operators/curation.py)
    so the shares and boosts are single-valued BIGINTs on the 1e-4 grid.
    ONE corpus scan + one tiny shuffle on the low-cardinality source key;
    totals come from an empty-frame window over the #sources-row
    aggregate — nothing else moves at any corpus size (plan-pinned)."""
    return curation.temperature_mix(_docs(spark, sf_dir))


@_q("td_epoch_plan", curation.epoch_plan_sql())
def td_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch planning: a temperature-weighted token
    budget is allocated per source and converted into repeat counts
    capped at 4 epochs (the published point where repeating pretraining
    data stops being nearly-free — Muennighoff et al. 2023). Flags the
    sources whose allocation exceeds the cap (`data_constrained` — the
    "go collect more of this" signal). Exact integer arithmetic end to
    end (isqrt weights, floor divisions), full hash oracle; one corpus
    scan + kilobyte-sized window totals, the temperature_mix plan shape.
    See operators/curation.py:epoch_plan."""
    return curation.epoch_plan(_docs(spark, sf_dir))


@_q("td_curriculum_phases", f"""
WITH scored AS (
  SELECT doc_id, lang, {textstats.quality_q1e4_sql('text')} AS q,
    {textstats.token_count_sql('text')} AS toks
  FROM documents
), ranked AS (
  SELECT lang, q, toks,
    row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id ASC) AS r,
    count(*) OVER (PARTITION BY lang) AS n
  FROM scored
)
SELECT lang,
  CASE WHEN r * 5 <= n THEN 'anneal'
       WHEN r * 5 <= 4 * n THEN 'main'
       ELSE 'warmup' END AS phase,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(toks) AS BIGINT) AS n_tokens,
  CAST(min(q) AS BIGINT) AS min_q1e4,
  CAST(max(q) AS BIGINT) AS max_q1e4
FROM ranked GROUP BY 1, 2
""")
def td_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/annealing phase assignment: within each language, docs
    are ranked by quality (desc, doc_id tiebreak) and cut into the three
    standard pretraining phases — top 20% reserved for the ANNEAL tail
    (end-of-training high-quality upsample, the documented practice of
    recent open pretraining recipes), middle 60% MAIN, bottom 20%
    WARMUP. Rank-based cuts (not percentile interpolation) for the same
    reason as td_quality_calibration: pure integer logic, zero
    cross-engine boundary risk. Emits per (lang, phase) doc/token counts
    and the quality range. One window shuffle on lang; at 100 TB the
    same plan with per-stratum quota fractions from a config dim."""
    d = _docs(spark, sf_dir)
    scored = d.select(
        "doc_id", "lang",
        textstats.quality_q1e4_expr(F.col("text")).alias("q"),
        textstats.token_count(F.col("text")).alias("toks"))
    w = Window.partitionBy("lang").orderBy(F.desc("q"), F.asc("doc_id"))
    ranked = scored.select(
        "lang", "q", "toks",
        F.row_number().over(w).alias("r"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"))
    phase = (F.when(F.col("r") * 5 <= F.col("n"), F.lit("anneal"))
             .when(F.col("r") * 5 <= 4 * F.col("n"), F.lit("main"))
             .otherwise(F.lit("warmup")))
    return (ranked.groupBy("lang", phase.alias("phase"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("toks").cast("bigint").alias("n_tokens"),
                 F.min("q").cast("bigint").alias("min_q1e4"),
                 F.max("q").cast("bigint").alias("max_q1e4")))


_PII_AUG_SQL = """
substr(text, 1, 40)
|| CASE WHEN doc_id % 3 = 0
     THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@example.com'
     ELSE '' END
|| CASE WHEN doc_id % 2 = 0
     THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
     ELSE '' END
|| CASE WHEN doc_id % 4 = 0
     THEN ' ssn 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
     ELSE '' END
""".strip()


@_q("ta_pii_redact", f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS aug FROM documents)
SELECT doc_id,
  {textfns.pii_count_sql('aug', 'email')} AS n_emails,
  {textfns.pii_count_sql('aug', 'phone')} AS n_phones,
  {textfns.pii_count_sql('aug', 'ssn')} AS n_ssns,
  {textfns.redact_pii_sql('aug')} AS redacted
FROM aug
""")
def ta_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass a training corpus gets before
    any token reaches a model. The kernel is a fixed-order regex chain
    (email → phone → SSN, functions/text.py:PII_PATTERNS) with per-type
    audit counts; the corpus text is synthetic, so each doc is augmented
    with deterministic doc_id-derived PII to give the kernel real matches
    (the augmentation is restated verbatim in the oracle). Narrow map —
    zero shuffles, pure codegen'd regex."""
    did = F.col("doc_id")

    def lp(m: int, w: int) -> F.Column:
        return F.lpad((did % m).cast("string"), w, "0")

    aug = F.concat(
        F.substring("text", 1, 40),
        F.when(did % 3 == 0,
               F.concat(F.lit(" mail u"), did.cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(did % 2 == 0,
               F.concat(F.lit(" call +1-555-"), lp(1000, 3), F.lit("-"),
                        lp(10000, 4))).otherwise(F.lit("")),
        F.when(did % 4 == 0,
               F.concat(F.lit(" ssn 987-65-"), lp(10000, 4)))
        .otherwise(F.lit("")),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        textfns.pii_count(aug, "email").alias("n_emails"),
        textfns.pii_count(aug, "phone").alias("n_phones"),
        textfns.pii_count(aug, "ssn").alias("n_ssns"),
        textfns.redact_pii(aug).alias("redacted"),
    )


@_q("td_snapshot_diff", """
WITH old AS (SELECT doc_id, text FROM documents),
new AS (
  SELECT doc_id,
    CASE WHEN doc_id % 50 = 7 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 50 <> 3
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' [new]' AS text
  FROM documents WHERE doc_id % 50 = 11
),
o AS (SELECT doc_id, md5(text) AS oh FROM old),
n AS (SELECT doc_id, md5(text) AS nh FROM new)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.oh IS NULL THEN 'added'
       WHEN n.nh IS NULL THEN 'removed'
       WHEN o.oh <> n.nh THEN 'changed'
       ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
""")
def td_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff (operators/curation.py:snapshot_diff):
    old = the corpus, new = a deterministically mutated copy (every 50th
    doc deleted / revised / re-keyed as an addition). Each side reduces to
    (id, md5) before the full outer join, so the shuffle carries two thin
    columns regardless of document width — `changed ∪ added` is the
    incremental work list for the next pipeline run."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    new = (
        d.filter(did % 50 != 3)
        .withColumn("text", F.when(did % 50 == 7,
                                   F.concat("text", F.lit(" [rev2]")))
                    .otherwise(F.col("text")))
        .unionByName(
            d.filter(did % 50 == 11).select(
                (did + 1000000).alias("doc_id"),
                F.concat("text", F.lit(" [new]")).alias("text"),
                *[c for c in d.columns if c not in ("doc_id", "text")]),
        )
    )
    return curation.snapshot_diff(d, new)


@_q("td_profile", """
SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val FROM (
  SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
    CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
    min(CAST(doc_id AS VARCHAR)) AS min_val,
    max(CAST(doc_id AS VARCHAR)) AS max_val FROM documents
  UNION ALL
  SELECT 'text', count(*), count(*) - count(text),
    count(DISTINCT md5(text)), substr(min(text), 1, 40),
    substr(max(text), 1, 40) FROM documents
  UNION ALL
  SELECT 'lang', count(*), count(*) - count(lang),
    count(DISTINCT lang), min(lang), max(lang) FROM documents
  UNION ALL
  SELECT 'source', count(*), count(*) - count(source),
    count(DISTINCT source), min(source), max(source) FROM documents
  UNION ALL
  SELECT 'n_chars', count(*), count(*) - count(n_chars),
    count(DISTINCT n_chars), min(CAST(n_chars AS VARCHAR)),
    max(CAST(n_chars AS VARCHAR)) FROM documents
)
""")
def td_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling: per-column row/null/distinct counts + lexicographic
    min/max in ONE scan — the data-quality report that gates a training
    corpus before curation starts. All 5×4 aggregates ride a single
    aggregation (Catalyst's Expand handles the multi-distinct), then a
    literal struct array explodes the one wide row into the long report —
    no second scan, no union of per-column passes (the oracle restates it
    as UNION ALL because DuckDB reads the same parquet five times for
    free at this size; the Spark plan is the one-pass shape that matters
    at 100 TB)."""
    d = _docs(spark, sf_dir)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = []
    for c in cols:
        # wide columns: distinct over the md5 digest (the distinct-shuffle
        # carries 32-byte hashes, never document bodies) and 40-char
        # truncated extremes (min/max partial-aggregate map-side, but the
        # REPORT should not embed whole documents). Narrow columns keep
        # exact raw distinct.
        dval = F.md5(F.col(c)) if c == "text" else F.col(c)
        mval = (F.substring(F.min(F.col(c).cast("string")), 1, 40)
                if c == "text"
                else F.min(F.col(c).cast("string")))
        xval = (F.substring(F.max(F.col(c).cast("string")), 1, 40)
                if c == "text"
                else F.max(F.col(c).cast("string")))
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.countDistinct(dval).alias(f"{c}__nd"),
            mval.alias(f"{c}__mn"),
            xval.alias(f"{c}__mx"),
        ]
    row = d.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    entries = F.array(*[
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("__n").cast("bigint").alias("n_rows"),
            (F.col("__n") - F.col(f"{c}__nn")).cast("bigint")
            .alias("n_nulls"),
            F.col(f"{c}__nd").cast("bigint").alias("n_distinct"),
            F.col(f"{c}__mn").alias("min_val"),
            F.col(f"{c}__mx").alias("max_val"),
        )
        for c in cols
    ])
    return row.select(F.explode(entries).alias("p")).select("p.*")


# =========================================================== text analysis

