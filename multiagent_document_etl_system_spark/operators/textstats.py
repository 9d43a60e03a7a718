"""Text-analysis operators (north-star extension; SURVEY.md §2.10).

Language-ID, quality scoring, token counting, and document fingerprinting
over the ``documents`` table — all pure Catalyst expressions with exact
DuckDB twins (token counting via regex split, scoring via length
arithmetic). These are the corpus-level analogues of the reference's
per-document logging/metrics surface (/root/reference/src/app.py:177-188).

Scale: all narrow maps except term frequency (one shuffle on token — by far
the most skewed key in a text corpus; AQE skew handling + partial
aggregation keep it bounded: map-side combine reduces each partition to its
distinct tokens first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.functions.numeric import (
    idiv_round,
    idiv_round_sql,
)
from multiagent_document_etl_system_spark.functions.text import (
    occurrence_count,
    occurrence_count_sql,
    tokens,
    tokens_sql,
)
from multiagent_document_etl_system_spark.io import ensure_parallelism

# The sf0.1 documents table scans as ONE partition (single row group),
# so a narrow map stage runs single-threaded on a 32-core box unless the
# operator fans the scan out. ensure_parallelism() round-robins ONLY
# when the scan yields fewer partitions than the session parallelism — a
# no-op at real scale, the shingle_sets convention. The r12 optimization
# round MEASURED where the wrap pays (interleaved A/B, per-tree minima,
# sf0.1): it wins exactly where the per-row work is md5/quality-grade
# heavy (countmin_freq 0.39x, quality kernels 0.21x, shingle+md5 chains
# 0.22-0.38x, cdc_chunks 0.86x) and LOSES where the map is a plain
# tokenize+explode feeding a count (term_frequencies 1.21x, vocab_stats
# 1.61x, source_divergence 1.58x, collocations 1.66x, bigram_logprob
# 1.37x — the round-robin shuffle of the text column costs more than the
# cheap explode saves), so only the heavy-map operators carry it.
# Results are partitioning-independent: every operator
# aggregates/windows on deterministic keys.

# n-gram-heuristic language ID: score = occurrences of language-marker
# function words (padded with spaces so they match as words, not substrings).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of "),
    "fr": (" le ", " la ", " et "),
    "es": (" el ", " los ", " y "),
    "de": (" der ", " und ", " die "),
    "zh": (" de ", " shi ", " le "),
}


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish subword estimate = chars/4 is also
    exposed below)."""
    return F.size(tokens(text)).cast("bigint")


def token_count_sql(col: str) -> str:
    return f"CAST(len({tokens_sql(col)}) AS BIGINT)"


def subword_estimate(text: Column) -> Column:
    """~BPE token estimate: ceil(chars / 4) — the standard rule of thumb."""
    return F.ceil(F.length(text) / 4).cast("bigint")


def subword_estimate_sql(col: str) -> str:
    return f"CAST(ceil(length({col}) / 4) AS BIGINT)"


def lang_id_expr(text: Column) -> Column:
    """argmax language by marker-word occurrence; 'und' when all zero.
    Tie-break = dict order (en first), mirrored in the SQL CASE chain."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = {
        lang: sum(
            (occurrence_count(padded, m) for m in ms[1:]),
            occurrence_count(padded, ms[0]),
        )
        for lang, ms in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    chain = None
    for lang in LANG_MARKERS:
        cond = scores[lang] == best
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    return F.when(best <= 0, F.lit("und")).otherwise(
        F.coalesce(chain, F.lit("und"))
    )


def lang_id_sql(text_expr: str) -> str:
    padded = f"concat(' ', lower({text_expr}), ' ')"
    scores = {
        lang: "(" + " + ".join(occurrence_count_sql(padded, m) for m in ms) + ")"
        for lang, ms in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "\n    ".join(
        f"WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return (
        f"CASE WHEN {best} <= 0 THEN 'und'\n    {whens}\n    ELSE 'und' END"
    )


def quality_q1e4_expr(text: Column, toks: Column | None = None) -> Column:
    """Composite quality ∈ [0,1] as an EXACT 1e-4-scaled BIGINT — computed
    in pure integer arithmetic end-to-end (counts → integer-rounded ratio
    components → integer-weighted blend), with zero float expressions.

    Why integers: rounds 2-4 of the external driver kept hash-flagging
    the quality-derived corpus-prep queries while every local comparator
    passed — the per-row float blend (``0.5·a + 0.3·b + 0.2·c``) is the
    one expression class where engine evaluation (contraction, vector
    kernels) can drift an ulp, and a half-grid score then quantizes
    differently. Integer kernels cannot drift, on any engine, ever.

    Components (each half-up-rounded to the 1e-4 grid):
    - length score  = min(chars/500, 1)          → min(20·chars, 10000)
    - stopword      = min(stop·10/words, 1)      → idiv_round(stop·1e5, words)
    - punct penalty = min(punct·5/chars, 1)      → idiv_round(punct·5e4, chars)
    - blend         = (5·len + 3·stop + 2·(10000 − punct)) / 10, half-up.

    ``toks``: a column already holding ``split(trim(text), '\\s+')`` —
    callers that stage the token array for other gates (curation_flags
    stages it for gopher) pass it here so the full-text split regex runs
    once per row, not twice; ``size(toks)`` ≡ ``token_count(text)`` by
    construction, so the score (and the oracle) is unchanged."""
    ten_k = F.lit(10000).cast("bigint")
    n = F.length(text).cast("bigint")
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    stop = (occurrence_count(padded, " the ")
            + occurrence_count(padded, " a ")).cast("bigint")
    wc = F.size(toks) if toks is not None else token_count(text)
    word_cnt = F.greatest(wc.cast("bigint"), F.lit(1).cast("bigint"))
    punct = F.length(F.regexp_replace(text, r"[^.,:()\-]", "")).cast("bigint")
    len_q = F.least(F.lit(20).cast("bigint") * n, ten_k)
    stop_q = F.least(idiv_round(stop * F.lit(100000), word_cnt), ten_k)
    punct_q = F.least(
        idiv_round(punct * F.lit(50000),
                   F.greatest(n, F.lit(1).cast("bigint"))), ten_k)
    blend = (F.lit(5).cast("bigint") * len_q
             + F.lit(3).cast("bigint") * stop_q
             + F.lit(2).cast("bigint") * (ten_k - punct_q))
    return idiv_round(blend, F.lit(10).cast("bigint"))


def quality_q1e4_sql(col: str) -> str:
    """DuckDB twin of :func:`quality_q1e4_expr` — identical integer ops."""
    n = f"CAST(length({col}) AS BIGINT)"
    padded = f"concat(' ', lower({col}), ' ')"
    stop = (
        f"CAST({occurrence_count_sql(padded, ' the ')} + "
        f"{occurrence_count_sql(padded, ' a ')} AS BIGINT)"
    )
    word_cnt = f"greatest(CAST({token_count_sql(col)} AS BIGINT), 1)"
    punct = (f"CAST(length(regexp_replace({col}, '[^.,:()\\-]', '', 'g'))"
             f" AS BIGINT)")
    len_q = f"least(20 * {n}, 10000)"
    stop_q = f"least({idiv_round_sql(f'{stop} * 100000', word_cnt)}, 10000)"
    punct_q = (f"least({idiv_round_sql(f'{punct} * 50000', f'greatest({n}, 1)')},"
               f" 10000)")
    return idiv_round_sql(
        f"5 * {len_q} + 3 * {stop_q} + 2 * (10000 - {punct_q})", "10")


def quality_score_expr(text: Column, toks: Column | None = None) -> Column:
    """The quality score as a DOUBLE on the 1e-4 grid — exactly
    ``quality_q1e4 / 10000``. Safe to emit/compare cross-engine: the
    integer is bit-exact and the single division by 1e4 is IEEE
    correctly-rounded identically everywhere. Gates like ``>= 0.5``
    stay exact (k/10⁴ ≥ 0.5 ⇔ k ≥ 5000 bit-for-bit)."""
    return quality_q1e4_expr(text, toks) / 10000.0


def quality_score_sql(col: str) -> str:
    return f"(CAST({quality_q1e4_sql(col)} AS DOUBLE) / 10000.0)"


def fingerprint_expr(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set — detects shuffled/re-ordered copies that exact md5 misses."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(F.lower(text)))), " ")
    )


def fingerprint_sql(col: str) -> str:
    return (
        f"md5(array_to_string(list_sort(list_distinct("
        f"{tokens_sql(f'lower({col})')})), ' '))"
    )


def repetition_expr(text: Column) -> Column:
    """Repeated-trigram ratio ∈ [0,1]: 1 − distinct/total word trigrams —
    the standard within-document boilerplate/repetition gate a training
    corpus applies before near-dup (C4/Gopher-style repetition filters).
    Pure array expressions (slice + zip_with), no UDF; single narrow map."""
    t = tokens(F.lower(text))
    n3 = F.size(t) - F.lit(2)
    pairs = F.zip_with(
        F.slice(t, 1, n3), F.slice(t, 2, n3),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    tri = F.zip_with(
        pairs, F.slice(t, 3, n3),
        lambda p, c: F.concat(p, F.lit(" "), c),
    )
    total = F.size(tri).cast("double")
    distinct = F.size(F.array_distinct(tri)).cast("double")
    # floor-based rounding — same cross-engine half-boundary rationale as
    # quality_score_expr
    return F.when(n3 <= 0, F.lit(0.0)).otherwise(
        F.floor((1.0 - distinct / total) * 10000.0 + F.lit(0.5)) / 10000.0)


def repetition_sql(col: str) -> str:
    t = tokens_sql(f"lower({col})")
    tri = (
        f"list_transform(generate_series(1, len(t)-2), "
        f"i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
    )
    return (
        f"(SELECT CASE WHEN len(t) - 2 <= 0 THEN 0.0 ELSE "
        f"floor((1.0 - CAST(len(list_distinct({tri})) AS DOUBLE)"
        f" / CAST(len({tri}) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 END "
        f"FROM (SELECT {t} AS t) _rep)"
    )


def term_frequencies(df: DataFrame, text_col: str = "text",
                     top_n: int = 20) -> DataFrame:
    """Corpus-wide top-N terms: (token, freq), deterministic order
    (freq DESC, token ASC). explode → groupBy(token) with map-side partial
    agg; final top-N is a TakeOrderedAndProject, not a full sort."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(top_n)
    )


def term_frequencies_sql(table: str = "documents", text_col: str = "text",
                         top_n: int = 20) -> str:
    return f"""
SELECT token, CAST(count(*) AS BIGINT) AS freq
FROM (
  SELECT unnest({tokens_sql(f"lower({text_col})")}) AS token FROM {table}
)
WHERE length(token) > 0
GROUP BY token ORDER BY freq DESC, token ASC LIMIT {top_n}
"""


def vocab_stats(df: DataFrame, group_col: str = "source",
                text_col: str = "text") -> DataFrame:
    """Per-``group_col`` vocabulary profile: total token count, distinct
    type count, hapax-legomenon count (types seen exactly once), and the
    type-token ratio on the 1e-4 integer grid — the Heaps'-law lexical-
    diversity fingerprint that separates template/boilerplate feeds (low
    TTR, few hapaxes) from organic text when deciding source mix and
    dedup order for a corpus build.

    Plan: explode → groupBy(group, token) count (map-side partial agg on
    the dominant stage) → groupBy(group) rollup; only (group, token-hash-
    sized strings, counts) ever shuffle, and the second exchange is
    #groups-sized. TTR via idiv_round — integer-exact on both engines.
    """
    per_tok = (
        df.select(F.col(group_col).alias("grp"),
                  F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("grp", "token")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_tok.groupBy("grp")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("bigint").alias("n_hapax"),
        )
        .select(
            F.col("grp").alias(group_col), "n_tokens", "n_types", "n_hapax",
            idiv_round(F.col("n_types") * 10000,
                       F.greatest(F.col("n_tokens"), F.lit(1)))
            .alias("ttr_q1e4"),
        )
        .orderBy(group_col)
    )


def vocab_stats_sql(table: str = "documents", group_col: str = "source",
                    text_col: str = "text") -> str:
    return f"""
SELECT {group_col},
  CAST(sum(cnt) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS n_types,
  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  {idiv_round_sql('count(*) * 10000', 'greatest(sum(cnt), 1)')} AS ttr_q1e4
FROM (
  SELECT {group_col}, token, count(*) AS cnt FROM (
    SELECT {group_col},
      unnest({tokens_sql(f"lower({text_col})")}) AS token
    FROM {table}
  ) WHERE length(token) > 0
  GROUP BY {group_col}, token
)
GROUP BY {group_col} ORDER BY {group_col}
"""


def source_divergence(df: DataFrame, group_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Pairwise TOTAL-VARIATION distance between per-``group_col`` unigram
    distributions, on an exact integer grid: (source_a, source_b,
    n_shared_tokens, tv_q1e4) for every unordered pair — the
    source-similarity matrix read next to vocab_stats/temperature_mix
    when composing a corpus (two near-identical feeds ⇒ dedup across
    them first; a distributional outlier ⇒ inspect before upweighting).

    Exactness: per-token probabilities are quantized to the 1e-6 grid via
    idiv_round (exact on both engines), so TV = Σ|p−q|/2 is pure integer
    arithmetic end-to-end — no float sum can reorder, no libm is
    involved. Missing-token mass uses the identity Σ_{a-only} p_a =
    Σ_all p_a − Σ_shared p_a, so the join only ever touches SHARED
    tokens. The quantization bias is ≤ vocab·5e-7 per side — tv_q1e4 is
    exact for the grid distributions both engines compute identically.

    Scale: token counts shuffle once (map-side partial agg); the shared-
    token self-join fans each token row out by the number of OTHER
    sources containing it — bounded by S² with S = #sources, a workload
    constant (tens), not a corpus-scaled quantity; the pair frame is
    S²/2 rows. Grid probabilities keep every addend ≤ 1e6, so the sums
    stay in int64 at any corpus size (raw-count cross products would
    overflow at ~1e12 tokens per source).
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.col(group_col).alias("grp"),
                  F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("grp", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("grp")
    p = counts.select(
        "grp", "token",
        idiv_round(F.col("cnt") * 1_000_000,
                   F.sum("cnt").over(w)).alias("p_q"),
    )
    totals = p.groupBy("grp").agg(F.sum("p_q").cast("bigint").alias("sq"))
    a = p.select(F.col("grp").alias("source_a"), "token",
                 F.col("p_q").alias("pa"))
    b = p.select(F.col("grp").alias("source_b"), "token",
                 F.col("p_q").alias("pb"))
    shared = (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_shared_tokens"),
            F.sum(F.abs(F.col("pa") - F.col("pb"))).cast("bigint")
            .alias("s1"),
            F.sum("pa").cast("bigint").alias("sa"),
            F.sum("pb").cast("bigint").alias("sb"),
        )
    )
    ta = totals.select(F.col("grp").alias("source_a"),
                       F.col("sq").alias("sqa"))
    tb = totals.select(F.col("grp").alias("source_b"),
                       F.col("sq").alias("sqb"))
    pairs = (
        ta.crossJoin(tb)
        .filter(F.col("source_a") < F.col("source_b"))
        .join(shared, ["source_a", "source_b"], "left")
    )
    z = F.lit(0).cast("bigint")
    num = (F.coalesce(F.col("s1"), z)
           + (F.col("sqa") - F.coalesce(F.col("sa"), z))
           + (F.col("sqb") - F.coalesce(F.col("sb"), z)))
    return pairs.select(
        "source_a", "source_b",
        F.coalesce(F.col("n_shared_tokens"), z).alias("n_shared_tokens"),
        idiv_round(num * 10_000, F.lit(2_000_000)).alias("tv_q1e4"),
    ).orderBy("source_a", "source_b")


def source_divergence_sql(table: str = "documents",
                          group_col: str = "source",
                          text_col: str = "text") -> str:
    p_q = idiv_round_sql("cnt * 1000000", "sum(cnt) OVER (PARTITION BY grp)")
    return f"""
WITH counts AS (
  SELECT grp, token, count(*) AS cnt FROM (
    SELECT {group_col} AS grp,
      unnest({tokens_sql(f"lower({text_col})")}) AS token
    FROM {table}
  ) WHERE length(token) > 0
  GROUP BY grp, token
), p AS (
  SELECT grp, token, {p_q} AS p_q FROM counts
), totals AS (
  SELECT grp, CAST(sum(p_q) AS BIGINT) AS sq FROM p GROUP BY grp
), shared AS (
  SELECT a.grp AS source_a, b.grp AS source_b,
    CAST(count(*) AS BIGINT) AS n_shared_tokens,
    CAST(sum(abs(a.p_q - b.p_q)) AS BIGINT) AS s1,
    CAST(sum(a.p_q) AS BIGINT) AS sa,
    CAST(sum(b.p_q) AS BIGINT) AS sb
  FROM p a JOIN p b ON a.token = b.token AND a.grp < b.grp
  GROUP BY 1, 2
), pairs AS (
  SELECT ta.grp AS source_a, tb.grp AS source_b, ta.sq AS sqa, tb.sq AS sqb
  FROM totals ta JOIN totals tb ON ta.grp < tb.grp
)
SELECT source_a, source_b,
  CAST(coalesce(n_shared_tokens, 0) AS BIGINT) AS n_shared_tokens,
  {idiv_round_sql(
      "(coalesce(s1, 0) + (sqa - coalesce(sa, 0))"
      " + (sqb - coalesce(sb, 0))) * 10000",
      "2000000")} AS tv_q1e4
FROM pairs LEFT JOIN shared USING (source_a, source_b)
ORDER BY source_a, source_b
"""


def bigram_frequencies(df: DataFrame, text_col: str = "text",
                       top_n: int = 20) -> DataFrame:
    """Corpus-wide top-N word bigrams: (bigram, freq), deterministic order
    (freq DESC, bigram ASC). The pairing is a pure array expression
    (slice + zip_with — JVM codegen, no UDF); explode → partial-agg count
    → TakeOrderedAndProject, exactly the term_frequencies shape with ~1×
    more exploded rows."""
    t = tokens(F.lower(F.col(text_col)))
    s1 = F.size("t") - F.lit(1)
    pairs = F.zip_with(
        F.slice("t", 1, s1), F.slice(F.col("t"), 2, s1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        df.select(t.alias("t"))
        .select(F.explode(pairs).alias("bigram"))
        .filter(F.length("bigram") > 1)
        .groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(top_n)
    )


def bigram_frequencies_sql(table: str = "documents", text_col: str = "text",
                           top_n: int = 20) -> str:
    return f"""
SELECT bigram, CAST(count(*) AS BIGINT) AS freq
FROM (
  SELECT unnest(list_transform(generate_series(1, len(t)-1),
                               i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM (SELECT {tokens_sql(f"lower({text_col})")} AS t FROM {table})
)
WHERE length(bigram) > 1
GROUP BY bigram ORDER BY freq DESC, bigram ASC LIMIT {top_n}
"""


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Per-document top-k TF-IDF terms: (doc_id, token, tfidf, rank).

    tf = in-doc term count; idf = ln(N / df) with df = #docs containing the
    term; deterministic order (score DESC, token ASC). Plan: explode →
    groupBy(id, token) [shuffle 1] → groupBy(token) for df [shuffle 2,
    re-partial-aggregated map-side] → equi-join tf⋈df on token [shuffle 3]
    → per-doc window [shuffle 4 on id]. N rides along as a broadcast 1-row
    aggregate. All integer inputs to the double math, so the score is
    bit-identical cross-engine.
    """
    from pyspark.sql import Window

    tok = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .filter(F.length("token") > 0)
    )
    tf = tok.groupBy("id", "token").agg(F.count("*").alias("tf"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    # document frequency as count(*) over a token-partitioned WINDOW on
    # the (id, token)-distinct tf rows — one exchange instead of a df
    # count-table + join-back (the ta_dup_ngram_coverage pattern;
    # measured 1.2x here, identical rows; stop-word-grade hot tokens are
    # the window-skew case, bounded by |docs| per token).
    # score on the 1e-4 integer grid: floor(tf·ln(N/df)·1e4 + 0.5) — the
    # ranking AND the output use the same integer, so cross-engine rank
    # order is pure (BIGINT, token) comparison. A 1-ulp libm ln()
    # difference could only flip the floor at an exact half-grid point,
    # which a transcendental output never hits in practice (and the
    # integer output is immune to float canonicalization entirely).
    dfreq = F.count("*").over(Window.partitionBy("token"))
    scored = (
        tf.withColumn("dfreq", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_q1e4",
            F.floor(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("dfreq"))
                * 10000.0 + F.lit(0.5)).cast("bigint"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("tfidf_q1e4"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "token", "tfidf_q1e4", "rank")
    )


def tfidf_top_terms_sql(table: str = "documents", text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5) -> str:
    score = ("CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.dfreq)"
             " * 10000.0 + 0.5) AS BIGINT)")
    return f"""
WITH tok AS (
  SELECT id, token FROM (
    SELECT {id_col} AS id,
      unnest({tokens_sql(f"lower({text_col})")}) AS token
    FROM {table}
  ) WHERE length(token) > 0
), tf AS (
  SELECT id, token, count(*) AS tf FROM tok GROUP BY 1, 2
), dfq AS (
  SELECT token, count(*) AS dfreq FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM {table})
SELECT id AS {id_col}, token, tfidf_q1e4, rank FROM (
  SELECT tf.id, tf.token,
    {score} AS tfidf_q1e4,
    CAST(row_number() OVER (PARTITION BY tf.id
      ORDER BY {score} DESC, tf.token ASC) AS BIGINT) AS rank
  FROM tf JOIN dfq USING (token) CROSS JOIN n
) WHERE rank <= {k}
"""


# ---------------------------------------------------------- heavy hitters

def heavy_hitters(df: DataFrame, text_col: str = "text",
                  inv_epsilon: int = 500) -> DataFrame:
    """EXACT ε-heavy-hitters (ε = 1/inv_epsilon) with BOUNDED shuffle:
    every token whose corpus frequency is ≥ ε·N, with its exact count.

    Three passes, none of which shuffles the full term multiset:

    1. **Candidates** — per-partition Misra-Gries with 2·inv_epsilon
       counters (mapInPandas; constant memory per task regardless of
       partition size). MG guarantees any token with partition frequency
       > n_p/(M+1) survives its partition, and f ≥ ε·N implies (by
       pigeonhole over partitions) f_p ≥ ε·n_p > n_p/(M+1) somewhere —
       so the union of survivors is a SUPERSET of the true answer. Only
       candidate TOKENS (≤ M per partition) leave the executors.
    2. **Recount** — one more corpus scan, broadcast-semi-joined down to
       candidate rows only, then an exact groupBy count (map-side partial
       agg; final shuffle carries ≤ |candidates| × partitions rows).
    3. **Threshold** — keep freq·inv_epsilon ≥ N (pure integer compare,
       bit-identical on any engine), so false candidates drop and the
       result is exactly the ε-frequent set — output ≤ inv_epsilon rows
       by construction.

    The point vs term_frequencies: that plan's groupBy shuffles one row
    per DISTINCT token — fine for words, a scale-killer for raw n-gram /
    URL / hash vocabularies with billions of distinct keys. This plan's
    network traffic is O(partitions · inv_epsilon) regardless of
    vocabulary size. The Python step is sanctioned by design: per-
    partition decrement-counter state is not expressible as a Catalyst
    aggregate. Exact result ⇒ full DuckDB oracle (plain GROUP BY +
    HAVING twin).
    """
    import pandas as pd

    cap = 2 * inv_epsilon

    terms = (
        ensure_parallelism(df.select(F.col(text_col)))
        .select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .filter(F.length("token") > 0)
    )

    def mg_partition(batches):
        # Batched Misra-Gries (the mergeable-summaries formulation:
        # Agarwal et al., PODS'12): merge each Arrow batch's value_counts
        # into the counter dict, and when it exceeds `cap`, subtract the
        # (cap+1)-th largest count from everything and drop the non-
        # positive — one prune discards ≥ d·(cap+1) occurrence mass, so
        # total undercount stays ≤ n_p/(cap+1), the classic MG bound,
        # while staying vectorized instead of per-token Python.
        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > cap:
                d = sorted(counters.values(), reverse=True)[cap]
                counters = {k: v - d for k, v in counters.items() if v > d}
        # one NULL-token row per partition carries its term count, so a
        # single bounded collect yields candidates AND the corpus total
        yield pd.DataFrame({
            "token": list(counters.keys()) + [None],
            "np": [0] * len(counters) + [n_part],
        })

    # The MG summary is BOUNDED by construction (≤ cap tokens + 1 count
    # row per partition, regardless of data volume), so collecting it is
    # a constant-size driver action — same contract as topk_auto's probe.
    # The final plan is then ONE recount scan joined to a literal
    # candidate list with a literal total: two corpus scans end-to-end,
    # nothing computed twice.
    summary = terms.mapInPandas(mg_partition, "token string, np long") \
        .collect()
    cand_tokens = sorted({r.token for r in summary if r.token is not None})
    n_total = sum(r.np for r in summary if r.token is None)
    spark = df.sparkSession
    candidates = spark.createDataFrame(
        [(t,) for t in cand_tokens], "token string")
    # share as an exact 1e-6-scaled BIGINT — round(freq/N·1e6) via the
    # integer identity (2·freq·1e6 + N) div (2N) on DECIMAL(38,0)
    # (freq·1e6 overflows int64 at ~1e13-token corpora), mirrored as
    # HUGEINT // in the oracle: no engine round(), no float output
    two = F.lit(2).cast("decimal(38,0)")
    g = F.lit(1_000_000).cast("decimal(38,0)")
    nt = F.lit(n_total).cast("decimal(38,0)")
    num = two * F.col("freq").cast("decimal(38,0)") * g + nt
    den = two * nt
    return (
        terms.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") * inv_epsilon >= F.lit(n_total))
        .select(
            "token", "freq",
            ((num - num % den) / den).cast("bigint").alias("share_q1e6"),
        )
        .orderBy(F.desc("freq"), F.asc("token"))
    )


def dup_ngram_coverage_stripped(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id",
                                inv_epsilon: int = 1000,
                                sample_frac: float = 0.01,
                                salt_buckets: int = 64) -> DataFrame:
    """Per-doc duplicated-3-gram coverage with a heavy-hitter PRE-STRIP —
    the skew-hardened form of the registry's `ta_dup_ngram_coverage`
    plan, producing IDENTICAL rows (same DuckDB oracle).

    Why: the plain plan computes each shingle's document frequency with
    `count(*) OVER (PARTITION BY sh_h)` — one exchange instead of the
    join form's two, but one WindowExec task holds a shingle's ENTIRE
    df. The r10 boilerplate fabric measured the consequence: a 14-token
    boilerplate planted in 30% of docs (per-shingle df 150k at 100×)
    holds the hot decade near-linear (exp ~0.87) where the organic
    fabric runs 0.35 — spill-degrade, exactly as the plain plan's
    docstring warns.

    The load-bearing observation: CORRECTNESS NEVER DEPENDS ON THE HOT
    SET. On the distinct-shingle basis a shingle's occurrence count IS
    its document frequency, so any shingle known to occur ≥ 2 times is
    duplicated by definition — no window needed; and a hot shingle the
    detector MISSES just flows through the window like before. That
    frees the detector to be cheap and probabilistic instead of an
    exact (and expensive) Misra-Gries pass — the first cut of this
    operator used MG over mapInPandas and the 100× fabric showed the
    Python pass costing 2× what the straggler saved (36.1 vs 18.3 s);
    measurement, not intuition, picked this plan.

    Plan: (1) PROBE — Bernoulli DOCUMENT-sample BEFORE the explode (the
    sample pushes below the shingle explode, so the probe pays ~frac of
    one map pass, not a full one — the first sampled-probe cut sampled
    the exploded rows and its two full explode passes cost +45% on the
    organic 100× fabric; measured, then moved), tiny groupBy over the
    sampled 8-byte hashes; a shingle seen in ≥ max(2,
    frac·docs/inv_epsilon) sampled DOCS is hot. On the distinct-shingle
    basis the ≥2 floor makes false positives IMPOSSIBLE: a df-1 shingle
    lives in exactly one doc, and doc-sampling without replacement
    cannot pick that doc twice — the sampled df doubles as the exact
    df≥2 proof. Bounded collect: ordered by count desc, LIMIT
    inv_epsilon (overflow shingles just stay cold). (2) ONE window pass
    over ALL rows, partitioned by (sh_h, salt) where salt =
    pmod(doc_id, salt_buckets) for hot shingles and 0 otherwise: hot
    partitions split salt_buckets-ways (their nd is garbage and never
    read — the flag is a constant 1 for hot), cold partitions are
    untouched so their nd stays exact. No second full scan, no union,
    no Python.

    Measured cost, probe INSIDE the timed rep (r11 — the r10 numbers
    let the plan-build-time probe escape the measurement and are
    retracted): ~1.09× the plain window plan on the organic 100× fabric
    (19.0 vs 17.5 s) and ~2× on the boiler fabric (39.9 vs 20.2 s),
    because at df = 150k the plain plan's straggler does not yet bite
    while the probe (sampled explode + groupBy + bounded collect)
    re-runs per execution. This operator is therefore the INSURANCE
    plan for df regimes where one window partition approaches executor
    memory — not a default, and not auto-selected (SCALE.md r11).

    Bound honesty: with a SAMPLED probe the max-cold-partition bound is
    probabilistic, not structural — a shingle with df just above
    docs/inv_epsilon can be missed. The miss probability decays
    exponentially in df (Chernoff on ~frac·df sampled hits vs the
    threshold), so the mega-boilerplate regime this operator exists for
    (df orders of magnitude above threshold) is caught with near
    certainty; a borderline miss costs one modestly-oversized window
    partition, never correctness.
    """
    from multiagent_document_etl_system_spark.operators import dedup

    # the probe's doc-sample below stays on the RAW df: Bernoulli
    # sampling is partition-order-sensitive, and the hot SET must stay
    # byte-stable across this change (results don't depend on it, but
    # plan-shape tests pin the salting)
    h = (ensure_parallelism(df.select(id_col, text_col))
         .select(id_col,
                 F.explode(dedup.shingles(F.col(text_col), 3)).alias("s"))
         .select(id_col, dedup.hash64(F.col("s")).alias("sh_h")))

    # --- probe: doc-sampled hot-shingle detection (bounded collects:
    # one 1-row agg + ≤ inv_epsilon rows by the LIMIT; misses only cost
    # window balance, never correctness) ---
    sampled_docs = df.sample(fraction=sample_frac, seed=42)
    probe = (sampled_docs
             .select(F.explode(dedup.shingles(F.col(text_col), 3))
                     .alias("s"))
             .select(dedup.hash64(F.col("s")).alias("sh_h"))
             .groupBy("sh_h").agg(F.count("*").alias("n")))
    n_docs_sampled = sampled_docs.count()
    thresh = max(2, int(n_docs_sampled / inv_epsilon))
    hot_ids = [r.sh_h for r in (probe.filter(F.col("n") >= thresh)
                                .orderBy(F.desc("n"), F.asc("sh_h"))
                                .limit(inv_epsilon).collect())]

    is_hot = F.col("sh_h").isin(hot_ids) if hot_ids else F.lit(False)
    salted = h.select(
        id_col, "sh_h", is_hot.alias("_hot"),
        F.when(is_hot, F.pmod(F.col(id_col), F.lit(salt_buckets)))
        .otherwise(F.lit(0)).cast("int").alias("_salt"))
    nd = F.count("*").over(Window.partitionBy("sh_h", "_salt"))
    flagged = salted.select(
        id_col,
        F.when(F.col("_hot"), 1)
        .otherwise(F.when(nd > 1, 1).otherwise(0)).alias("_f"))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum("_f").cast("bigint").alias("n_dup"),
            F.floor(F.sum("_f") * 10000.0 / F.count("*") + F.lit(0.5))
            .cast("bigint").alias("cov_q1e4"),
        )
    )


def heavy_hitters_sql(table: str = "documents", text_col: str = "text",
                      inv_epsilon: int = 500) -> str:
    """DuckDB twin of :func:`heavy_hitters` — the candidate pass is an
    implementation detail of the distributed plan; the RESULT is exactly
    'tokens with freq·inv_epsilon ≥ N', a plain GROUP BY + HAVING."""
    return f"""
WITH t AS (
  SELECT token FROM (
    SELECT unnest({tokens_sql(f"lower({text_col})")}) AS token FROM {table}
  ) WHERE length(token) > 0
), tot AS (SELECT count(*) AS n_total FROM t)
SELECT token, CAST(count(*) AS BIGINT) AS freq,
  CAST((2 * CAST(count(*) AS HUGEINT) * 1000000 + CAST(n_total AS HUGEINT))
       // (2 * CAST(n_total AS HUGEINT)) AS BIGINT) AS share_q1e6
FROM t CROSS JOIN tot
GROUP BY token, n_total
HAVING count(*) * {inv_epsilon} >= n_total
ORDER BY freq DESC, token ASC
"""


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document mean log-probability under the corpus's own add-one-
    smoothed bigram model — the classic count-based perplexity proxy used
    as a fluency/quality gate in training-data curation (a document whose
    bigrams are rare under the corpus LM is boilerplate, OCR noise, or
    another language). Score = mean over bigrams of
    ln((c(w1,w2) + 1) / (c(w1) + V)), V = vocabulary size.

    Output: (doc_id, n_bigrams, avg_logprob) for every document
    (token-poor docs get n_bigrams = 0, avg_logprob = 0.0).

    Plan shape (the textbook count-LM pipeline, all relational):
    tokenize (narrow) -> bigram explode -> groupBy(bigram) and
    groupBy(token) count tables -> join doc-bigrams to both count tables
    on their keys -> groupBy(doc). Three count shuffles plus two
    key-partitioned joins; V rides along as a broadcast one-row aggregate.
    At 100 TB the count tables are vocabulary-sized (Zipf: millions of
    rows, not corpus-sized) and the frequent-token skew on the join keys
    is exactly what AQE skew-splitting handles; no driver-side state.

    Hash stability: every ln() input is a ratio of exact integers (both
    engines see identical doubles), and the per-doc mean rides the
    stable-sum path (1e-6-grid quantized addends, 128-bit exact sum) so
    partial-agg merge order cannot flip the rounded output.
    """
    from multiagent_document_etl_system_spark.functions.numeric import dec

    tk = F.filter(tokens(F.lower(F.col(text_col))),
                  lambda x: F.length(x) > 0)
    d = df.select(F.col(id_col).alias("id"), tk.alias("tk"))
    # empties are filtered out above, so a blank doc has size 0 — clamp the
    # slice length (slice rejects negative lengths)
    n1 = F.greatest(F.size("tk") - F.lit(1), F.lit(0))
    pairs = F.zip_with(F.slice("tk", 1, n1), F.slice(F.col("tk"), 2, n1),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    bg = d.select("id", F.explode(pairs).alias("bigram")) \
        .withColumn("w1", F.substring_index("bigram", " ", 1))
    uni = (
        d.select(F.explode("tk").alias("token"))
        .groupBy("token").agg(F.count("*").alias("cu"))
    )
    vocab = uni.agg(F.count("*").cast("double").alias("v"))
    # bigram count as count(*) over a bigram-partitioned window — one
    # exchange of the bigram stream instead of a count-table + join-back
    # (the ta_dup_ngram_coverage pattern; measured 1.3x, identical rows).
    # The unigram count cannot window the same way: cu counts w1 at EVERY
    # position incl. final, which the bigram stream doesn't carry — it
    # stays a (vocabulary-sized, AQE-broadcastable) join.
    from pyspark.sql import Window

    cb = F.count("*").over(Window.partitionBy("bigram"))
    scored = (
        bg.withColumn("cb", cb)
        .join(uni.withColumnRenamed("token", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select("id", F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("v")))
                .alias("lp"))
    )
    per_doc = scored.groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(dec(F.col("lp"))).alias("_s"),
    )
    # integer-only mean: lp ≤ 0 always (add-one ratio < 1), so negate into
    # the non-negative domain, round-half-up with the exact 128-bit
    # integer identity round(a/b) = (2a+b) div (2b), and negate back —
    # avg_logprob_q1e4 = -round(-S·1e4 / (1e6·n)) as BIGINT, with no
    # double division or float output anywhere (driver-hash-proof)
    two = F.lit(2).cast("decimal(38,0)")
    g = F.lit(10_000).cast("decimal(38,0)")
    m = F.lit(1_000_000).cast("decimal(38,0)") \
        * F.col("n_bigrams").cast("decimal(38,0)")
    pos = (-F.col("_s")).cast("decimal(38,0)")
    num, den = two * pos * g + m, two * m
    avg_q = -((num - num % den) / den).cast("bigint")
    return (
        d.select("id").join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
            .alias("n_bigrams"),
            F.coalesce(avg_q, F.lit(0)).cast("bigint")
            .alias("avg_logprob_q1e4"),
        )
    )


def bigram_logprob_sql(table: str = "documents", text_col: str = "text",
                       id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`bigram_logprob` (same counts, same smoothing,
    same stable-sum quantization)."""
    tk = (
        f"list_filter({tokens_sql(f'lower({text_col})')}, "
        f"t -> length(t) > 0)"
    )
    return f"""
WITH d AS (
  SELECT {id_col} AS id, {tk} AS tk FROM {table}
), bg AS (
  SELECT id,
    unnest(list_transform(generate_series(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM d
), bgw AS (
  SELECT id, bigram, split_part(bigram, ' ', 1) AS w1 FROM bg
), uni AS (
  SELECT token, count(*) AS cu
  FROM (SELECT unnest(tk) AS token FROM d) GROUP BY token
), big AS (
  SELECT bigram, count(*) AS cb FROM bgw GROUP BY 1
), vocab AS (
  SELECT CAST(count(*) AS DOUBLE) AS v FROM uni
), scored AS (
  SELECT bgw.id,
    ln((big.cb + 1.0) / (uni.cu + vocab.v)) AS lp
  FROM bgw JOIN big USING (bigram)
           JOIN uni ON bgw.w1 = uni.token
           CROSS JOIN vocab
), per_doc AS (
  SELECT id, count(*) AS n_bigrams,
    sum(CAST(floor(lp * 1000000 + 0.5) AS BIGINT)) AS s
  FROM scored GROUP BY id
)
SELECT d.id AS {id_col},
  CAST(coalesce(per_doc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  CAST(coalesce(
    -((2 * CAST(-per_doc.s AS HUGEINT) * 10000
       + 1000000 * CAST(per_doc.n_bigrams AS HUGEINT))
      // (2 * 1000000 * CAST(per_doc.n_bigrams AS HUGEINT))),
    0) AS BIGINT) AS avg_logprob_q1e4
FROM d LEFT JOIN per_doc USING (id)
"""


def readability_expr(text: Column) -> Column:
    """Flesch-reading-ease-style score from pure counts: words (whitespace
    tokens), sentences ([.!?]+ runs, floor 1), syllables (vowel-group runs
    — the standard regex proxy). 206.835 - 1.015*(W/S) - 84.6*(Syl/W),
    floor-rounded to 4 decimals (bit-deterministic cross-engine: every
    input to the double math is an exact integer count). A curation
    signal: extreme scores flag word-salad (too 'easy') and run-on
    boilerplate (deeply negative)."""
    lower = F.lower(text)
    words = F.greatest(
        F.size(F.filter(tokens(lower), lambda t: F.length(t) > 0)),
        F.lit(1)).cast("double")
    sentences = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0)),
        F.lit(1)).cast("double")
    syllables = F.size(
        F.regexp_extract_all(lower, F.lit("[aeiouy]+"), 0)).cast("double")
    score = (F.lit(206.835) - 1.015 * (words / sentences)
             - 84.6 * (syllables / words))
    return F.floor(score * 10000.0 + F.lit(0.5)) / 10000.0


def readability_q1e4_expr(text: Column) -> Column:
    """:func:`readability_expr` as the 1e-4-scaled BIGINT itself (the
    floor-grid integer WITHOUT the final /1e4) — the driver-hash-proof
    output form: an integer survives any engine float canonicalization,
    and the floor-grid quantization is computed on an identical double
    (integer counts → IEEE-exact divisions → fixed-order blend) on both
    engines. Flesch can be negative; ``floor`` (not truncation) is used
    on both engines so negatives round identically."""
    lower = F.lower(text)
    words = F.greatest(
        F.size(F.filter(tokens(lower), lambda t: F.length(t) > 0)),
        F.lit(1)).cast("double")
    sentences = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0)),
        F.lit(1)).cast("double")
    syllables = F.size(
        F.regexp_extract_all(lower, F.lit("[aeiouy]+"), 0)).cast("double")
    score = (F.lit(206.835) - 1.015 * (words / sentences)
             - 84.6 * (syllables / words))
    return F.floor(score * 10000.0 + F.lit(0.5)).cast("bigint")


def _readability_grid_sql(col: str) -> str:
    return f"""
floor((206.835
  - 1.015 * (greatest(len(list_filter(string_split_regex(trim(lower({col})),
      '\\s+'), t -> length(t) > 0)), 1)::DOUBLE
      / greatest(len(regexp_extract_all({col}, '[.!?]+')), 1)::DOUBLE)
  - 84.6 * (len(regexp_extract_all(lower({col}), '[aeiouy]+'))::DOUBLE
      / greatest(len(list_filter(string_split_regex(trim(lower({col})),
          '\\s+'), t -> length(t) > 0)), 1)::DOUBLE)) * 10000.0 + 0.5)
""".strip().replace("\n", " ")


def readability_q1e4_sql(col: str) -> str:
    """DuckDB twin of :func:`readability_q1e4_expr`."""
    return f"CAST({_readability_grid_sql(col)} AS BIGINT)"


# -------------------------------------------------- content-defined chunks

#: boundary selectivity: a chunk boundary falls AFTER any token whose
#: 60-bit hash is ≡ 0 (mod 2^4) ⇒ expected chunk length 16 tokens — the
#: classic content-defined-chunking (Rabin/FastCDC-style) cut rule lifted
#: to token granularity so the whole pipeline stays relational.
CDC_BOUNDARY_MOD = 16


def cdc_chunks(df: DataFrame, boundary_mod: int = CDC_BOUNDARY_MOD,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content-defined chunking + shift-robust chunk-level dedup stats.

    Cuts every document into variable-length chunks whose boundaries
    depend only on LOCAL content (a token is a cut point iff
    ``hash64(token) % boundary_mod == 0``), then counts, per document, how
    many of its chunks also occur verbatim in other documents:
    ``(doc_id, n_tokens, n_chunks, n_dup_chunks, max_chunk_tokens)``.

    Why content-defined instead of fixed windows: inserting one token near
    the head of a copied passage shifts EVERY fixed-size chunk after it
    (so fixed chunking finds no duplicates), but leaves all content-
    defined boundaries after the edit point untouched — the property that
    makes CDC the standard dedup primitive for storage systems, applied
    here to catch large copied passages between documents that whole-doc
    hashing misses and token-shingle span dedup (span_dedup) prices per
    n-gram. The md5 hash family keeps the cut rule bit-exact across
    engines, so the registry query carries a full DuckDB oracle.

    Plan at 100 TB: tokens never leave their document until they are
    reduced to per-chunk hashes (narrow posexplode → two same-key windows
    over ONE (id) exchange for the running boundary count, then a groupBy
    (id, chunk) that collapses each chunk to an 8-byte hash); the chunk-
    hash stream shuffles ONCE for the distinct-doc frequency (the
    span_dedup window-count pattern: lag-flag + partition sum, no count
    table + join-back), and the final per-doc regroup rides the (id)
    key again. No driver-side state; volume after the first groupBy is
    ~n_tokens/boundary_mod rows of fixed width.
    """
    from pyspark.sql import Window

    from multiagent_document_etl_system_spark.operators.dedup import hash64

    d = (ensure_parallelism(
            df.filter(F.col(text_col).isNotNull())
            .select(id_col, text_col))
         .select(F.col(id_col).alias("id"),
                 F.filter(tokens(F.col(text_col)),
                          lambda t: F.length(t) > 0).alias("ts"))
         .filter(F.size("ts") > 0))
    toks = (d.select("id", F.posexplode("ts").alias("pos0", "token"))
            .select("id", (F.col("pos0") + 1).alias("pos"), "token",
                    (hash64(F.col("token")) % boundary_mod == 0)
                    .cast("int").alias("cut")))
    # chunk index = # of cut tokens strictly BEFORE this one (a cut token
    # closes its own chunk), via a running frame over the (id) exchange
    w_prev = (Window.partitionBy("id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    chunked = toks.withColumn(
        "chunk", F.coalesce(F.sum("cut").over(w_prev), F.lit(0)))
    chunks = (chunked.groupBy("id", "chunk")
              .agg(F.count("*").cast("bigint").alias("clen"),
                   hash64(F.array_join(F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("pos", "token"))),
                       lambda st: st["token"]), " ")).alias("ch")))
    # distinct-doc frequency of each chunk hash in ONE exchange
    w_sort = Window.partitionBy("ch").orderBy("id", "chunk")
    first_of_doc = (F.lag("id").over(w_sort).isNull()
                    | (F.lag("id").over(w_sort) != F.col("id"))).cast("int")
    nd = F.sum(first_of_doc).over(Window.partitionBy("ch"))
    return (chunks.withColumn("_nd", nd)
            .groupBy("id")
            .agg(F.sum("clen").cast("bigint").alias("n_tokens"),
                 F.count("*").cast("bigint").alias("n_chunks"),
                 F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0))
                 .cast("bigint").alias("n_dup_chunks"),
                 F.max("clen").cast("bigint").alias("max_chunk_tokens"))
            .select(F.col("id").alias(id_col), "n_tokens", "n_chunks",
                    "n_dup_chunks", "max_chunk_tokens"))


def cdc_chunks_sql(table: str = "documents",
                   boundary_mod: int = CDC_BOUNDARY_MOD,
                   id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of :func:`cdc_chunks` — same md5 cut rule, same
    strictly-before running boundary count, same chunk reassembly."""
    from multiagent_document_etl_system_spark.operators.dedup import hash64_sql

    return f"""
WITH d AS (
  SELECT {id_col} AS id,
    list_filter({tokens_sql(text_col)}, t -> t <> '') AS ts
  FROM {table} WHERE {text_col} IS NOT NULL
), d2 AS (SELECT * FROM d WHERE len(ts) > 0),
toks AS (
  SELECT id, pos, token,
    CASE WHEN {hash64_sql('token')} % {boundary_mod} = 0
         THEN 1 ELSE 0 END AS cut
  FROM (SELECT id, unnest(ts) AS token,
          unnest(generate_series(1, len(ts))) AS pos
        FROM d2)
), chunked AS (
  SELECT id, pos, token,
    coalesce(sum(cut) OVER (PARTITION BY id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
  FROM toks
), chunks AS (
  SELECT id, chunk, CAST(count(*) AS BIGINT) AS clen,
    {hash64_sql("array_to_string(list(token ORDER BY pos), ' ')")} AS ch
  FROM chunked GROUP BY id, chunk
), dfreq AS (
  SELECT ch, count(DISTINCT id) AS nd FROM chunks GROUP BY ch
)
SELECT id AS {id_col},
  CAST(sum(clen) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS n_chunks,
  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
  CAST(max(clen) AS BIGINT) AS max_chunk_tokens
FROM chunks JOIN dfreq USING (ch)
GROUP BY id
"""


# ---------------------------------------------------- count-min sketch

#: d×w sizing of the demo sketch: 3 seeded hash rows × 16 counters.
#: Production sizes w ≈ e/ε for an ε·N additive error bound and
#: d ≈ ln(1/δ) for failure probability δ — deliberately undersized here
#: (the synthetic corpus has a ~31-token vocabulary) so collisions
#: (cms_est > freq, 11 of the 20 probes at sf0.01) are actually
#: exercised while the structure stays bit-reproducible.
CMS_D = 3
CMS_W = 16


def countmin_freq(df: DataFrame, d: int = CMS_D, w: int = CMS_W,
                  probe_k: int = 20, text_col: str = "text") -> DataFrame:
    """Count-Min sketch token-frequency estimation, audited against the
    exact counts: build the d×w counter table from one corpus scan, then
    answer point queries for the ``probe_k`` most frequent tokens —
    ``(token, freq, cms_est)`` with the one-sided CMS guarantee
    ``cms_est >= freq`` (collisions only ever inflate).

    Why next to heavy_hitters: Misra-Gries answers "which tokens are
    frequent" exactly with bounded memory; CMS answers "how frequent is
    ANY given token" from a fixed d·w-integer table that merges by plain
    addition — the mergeable-summary property that lets 1000 executors
    sketch partitions independently and a coordinator add the tables.
    The relational form IS that plan: per-partition partial counts of
    (row, pos) cells (map-side combine = the partition sketches),
    shuffled on ≤ d·w distinct keys (the merge). The exact ``freq``
    column is the AUDIT side — a second scan the sketch precisely exists
    to avoid at 100 TB; it is computed here so the differential oracle
    can measure the overestimate on every probe.

    The seeded-md5 position family (:func:`...dedup.hash64`) keeps the
    counter table bit-identical across engines, so the registry query
    carries a full value-hash oracle — unlike HLL/KLL sketches whose
    internals are engine-private (q_approx_distinct is rows-only for
    exactly that reason).
    """
    from multiagent_document_etl_system_spark.operators.dedup import hash64

    toks = ensure_parallelism(df.select(F.col(text_col))).select(F.explode(
        F.filter(tokens(F.lower(F.col(text_col))),
                 lambda t: F.length(t) > 0)).alias("token"))

    def pos_arr(col: Column) -> Column:
        return F.array(*[hash64(col, seed=i) % w for i in range(d)])

    counters = (toks.select(F.posexplode(pos_arr(F.col("token")))
                            .alias("row", "pos"))
                .groupBy("row", "pos").agg(F.count("*").alias("c")))
    probes = (toks.groupBy("token")
              .agg(F.count("*").cast("bigint").alias("freq"))
              .orderBy(F.desc("freq"), F.asc("token")).limit(probe_k))
    pcells = probes.select(
        "token", "freq",
        F.posexplode(pos_arr(F.col("token"))).alias("row", "pos"))
    return (pcells.join(counters, ["row", "pos"])
            .groupBy("token", "freq")
            .agg(F.min("c").cast("bigint").alias("cms_est")))


def countmin_freq_sql(table: str = "documents", d: int = CMS_D,
                      w: int = CMS_W, probe_k: int = 20,
                      text_col: str = "text") -> str:
    """DuckDB twin of :func:`countmin_freq` — same seeded position
    family, same d×w table, same top-k probe tie-break."""
    from multiagent_document_etl_system_spark.operators.dedup import hash64_sql

    rows = "[" + ", ".join(str(i) for i in range(d)) + "]"

    def poss(col: str) -> str:
        return ("[" + ", ".join(f"{hash64_sql(col, seed=i)} % {w}"
                                for i in range(d)) + "]")

    return f"""
WITH t AS (
  SELECT token FROM (
    SELECT unnest({tokens_sql(f"lower({text_col})")}) AS token FROM {table}
  ) WHERE length(token) > 0
), cells AS (
  SELECT row, pos, count(*) AS c FROM (
    SELECT unnest({rows}) AS row, unnest({poss('token')}) AS pos FROM t
  ) GROUP BY row, pos
), probes AS (
  SELECT token, CAST(count(*) AS BIGINT) AS freq FROM t GROUP BY token
  ORDER BY freq DESC, token ASC LIMIT {probe_k}
), pcells AS (
  SELECT token, freq, unnest({rows}) AS row,
    unnest({poss('token')}) AS pos
  FROM probes
)
SELECT token, freq, CAST(min(c) AS BIGINT) AS cms_est
FROM pcells JOIN cells USING (row, pos)
GROUP BY token, freq
"""


def collocations(df: DataFrame, text_col: str = "text",
                 min_count: int = 5, top_n: int = 20) -> DataFrame:
    """PMI-ranked collocations: the bigrams whose parts co-occur far more
    than their unigram frequencies predict — multiword-expression mining
    ("new york", "machine learning") for tokenizer vocab curation and
    boilerplate fingerprinting.

    PMI is log of the ratio r = P(ab) / (P(a)·P(b)); since log is
    monotonic, ranking by r needs NO log — r is computed as the exact
    integer ``pmi_ratio_q1e4 = (10⁴ · n_ab · N_uni²) div (N_bi · n_a ·
    n_b)`` in DECIMAL(38,0) (DuckDB: HUGEINT), so the score is a BIGINT
    with a full hash oracle. Exact while n_ab·N_uni² < 10³⁴ — i.e. up to
    ~10¹⁵ corpus tokens with n_ab ≤ 10⁴·min-share, far past 100 TB; the
    ``min_count`` floor kills the hapax-pair noise PMI is infamous for.

    Plan: one corpus scan exploded twice (unigrams, bigrams) into two
    vocab-sized count tables; totals ride empty-frame windows over those
    aggregates (kilobytes); the scoring join is bigram ⋈ unigram ⋈
    unigram on token keys; final top-N is a TakeOrderedAndProject."""
    t = tokens(F.lower(F.col(text_col)))
    toks = df.select(t.alias("t"))
    uni = (toks.select(F.explode("t").alias("token"))
           .filter(F.length("token") > 0)
           .groupBy("token").agg(F.count("*").alias("n_tok")))
    w = Window.partitionBy()
    uni = uni.withColumn("n_uni_total", F.sum("n_tok").over(w))
    s1 = F.size("t") - F.lit(1)
    pairs = F.zip_with(
        F.slice("t", 1, s1), F.slice(F.col("t"), 2, s1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bi = (toks.select(F.explode(pairs).alias("bigram"))
          .filter(F.length("bigram") > 1)
          .groupBy("bigram").agg(F.count("*").alias("n_ab")))
    bi = (bi.withColumn("n_bi_total", F.sum("n_ab").over(w))
          .filter(F.col("n_ab") >= min_count)
          .withColumn("tok_a", F.split("bigram", " ")[0])
          .withColumn("tok_b", F.split("bigram", " ")[1]))
    a = uni.select(F.col("token").alias("tok_a"),
                   F.col("n_tok").alias("n_a"), "n_uni_total")
    b = uni.select(F.col("token").alias("tok_b"),
                   F.col("n_tok").alias("n_b"))
    j = bi.join(a, "tok_a").join(b, "tok_b")
    d38 = "decimal(38,0)"
    num = (F.lit(10_000).cast(d38) * F.col("n_ab").cast(d38)
           * F.col("n_uni_total").cast(d38) * F.col("n_uni_total").cast(d38))
    den = (F.col("n_bi_total").cast(d38) * F.col("n_a").cast(d38)
           * F.col("n_b").cast(d38))
    ratio = ((num - num % den) / den).cast("bigint")
    return (j.select("bigram", "n_ab", "n_a", "n_b",
                     ratio.alias("pmi_ratio_q1e4"))
            .orderBy(F.desc("pmi_ratio_q1e4"), F.asc("bigram"))
            .limit(top_n))


def collocations_sql(table: str = "documents", text_col: str = "text",
                     min_count: int = 5, top_n: int = 20) -> str:
    """DuckDB twin of :func:`collocations` (HUGEINT products, `//`)."""
    toks = tokens_sql(f"lower({text_col})")
    return f"""
WITH toks AS (
  SELECT {toks} AS t FROM {table}
), uni AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_tok,
    CAST(sum(count(*)) OVER () AS BIGINT) AS n_uni_total
  FROM (SELECT unnest(t) AS token FROM toks)
  WHERE length(token) > 0 GROUP BY token
), bi0 AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab,
    CAST(sum(count(*)) OVER () AS BIGINT) AS n_bi_total
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(t)-1),
                                 i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM toks)
  WHERE length(bigram) > 1 GROUP BY bigram
), bi AS (
  SELECT bigram, n_ab, n_bi_total,
    string_split(bigram, ' ')[1] AS tok_a,
    string_split(bigram, ' ')[2] AS tok_b
  FROM bi0 WHERE n_ab >= {min_count}
)
SELECT bigram, n_ab, a.n_tok AS n_a, b.n_tok AS n_b,
  CAST((10000::HUGEINT * n_ab::HUGEINT
        * a.n_uni_total::HUGEINT * a.n_uni_total::HUGEINT)
       // (n_bi_total::HUGEINT * a.n_tok::HUGEINT * b.n_tok::HUGEINT)
       AS BIGINT) AS pmi_ratio_q1e4
FROM bi JOIN uni a ON bi.tok_a = a.token JOIN uni b ON bi.tok_b = b.token
ORDER BY pmi_ratio_q1e4 DESC, bigram ASC LIMIT {top_n}
"""
