"""Deduplication operators (north-star extension; SURVEY.md §2.10).

The reference has only an accidental exact-dedup (content-hash schema ids,
/root/reference/src/app.py:142). A training-data pipeline at 100 TB needs
the full ladder; each rung is implemented Spark-first:

- **exact**        hash-groupBy on md5(text) — one shuffle on a uniform key.
- **minhash LSH**  shingle → 64-bit token hashes → per-seed min → band →
                   bucket equi-join. All built-ins (explode + groupBy +
                   array ops); the pair join is an equi-join on
                   (band_id, band_hash), never a cross join.
- **simhash**      64→16-bit sign-sum signature via explode + bit
                   aggregation; near-dups = signature hamming ≤ t.
- **n-gram jaccard** exact set overlap for candidate pairs (verification
                   rung after LSH, or direct for small candidate sets).
- **embedding cosine** near-dup via similarity.topk/LSH over vectors.

Scale: every pair-producing step joins on a bucket key (LSH band, simhash
prefix, neighbor id) — candidate generation is linear-ish, never O(N²).
AQE skew-join handles hot buckets (e.g. empty-doc clusters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.functions.text import tokens


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct text content (md5 key).

    Equivalent SQL: row_number() OVER (PARTITION BY md5(text) ORDER BY id).
    """
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(content_md5, n_copies, keep_id) for groups with n_copies > 1."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def cross_source_matrix(df: DataFrame, key: Column,
                        source_col: str = "source") -> DataFrame:
    """(source_a, source_b, n_groups, dup_pairs) for every source pair
    with a <= b sharing the duplicate ``key`` (md5(text) for byte-exact,
    the token-set fingerprint for reordered copies) — which feed
    plagiarizes which, the diagnostic that decides dedup order and source
    trust. Within-source cells (a = b) count C(n,2) internal copies.

    Pair counts come from per-(key, source) COUNTS, never from exploding
    the duplicate pairs: a key held by n_a docs in a and n_b in b
    contributes n_a*n_b by multiplication, so a page duplicated 10^6
    times moves 2 aggregate rows, not 10^12 join rows. One shuffle on
    (key, source), a self-join on key over the collapsed per-(key,
    source) rows, and a tiny final groupBy on the source-pair cell.
    All-integer outputs (C(n,2) via shiftright on an always-even
    product — no float division)."""
    per = (df.select(key.alias("_h"), F.col(source_col).alias("_src"))
           .groupBy("_h", "_src").agg(F.count("*").alias("_n")))
    a = per.select("_h", F.col("_src").alias("source_a"),
                   F.col("_n").alias("_na"))
    b = per.select("_h", F.col("_src").alias("source_b"),
                   F.col("_n").alias("_nb"))
    pairs = (a.join(b, "_h")
             .filter(F.col("source_a") <= F.col("source_b"))
             .select(
                 "source_a", "source_b",
                 F.when(F.col("source_a") == F.col("source_b"),
                        F.shiftright(F.col("_na") * (F.col("_na") - 1), 1))
                 .otherwise(F.col("_na") * F.col("_nb")).alias("_p")))
    return (pairs.filter(F.col("_p") > 0)
            .groupBy("source_a", "source_b")
            .agg(F.count("*").alias("n_groups"),
                 F.sum("_p").alias("dup_pairs"))
            .orderBy("source_a", "source_b"))


# ---------------------------------------------------------------- shingles

def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct, order-normalized).

    Built from the token array with transform+slice — no UDF. Short docs
    (< n tokens) yield the whole-doc single shingle.
    """
    toks = tokens(text)
    ngrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.array_distinct(ngrams)


# ---------------------------------------------------------------- hashing

def hash64(c: Column, seed: int | None = None) -> Column:
    """60-bit positive hash of a string column, seedable:
    conv(first 15 hex of md5, 16, 10) — bit-exact across Spark and DuckDB
    (`CAST('0x'||substring(md5(x),1,15) AS BIGINT)`), so every dedup
    signature built on it is oracle-checkable.
    """
    keyed = c if seed is None else F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("long")


def hash64_sql(col: str, seed: int | None = None) -> str:
    """DuckDB twin of hash64."""
    keyed = col if seed is None else f"concat('{seed}:', {col})"
    return f"CAST(concat('0x', substring(md5({keyed}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------- minhash

# Universal-hash permutation family h_i(x) = (a_i·x + b_i) mod p over a
# single base hash per shingle (classic MinHash, Broder '97): one md5 per
# shingle instead of n_hashes — the string hash is the expensive part.
# p = 2^31-1 (Mersenne); a·x + b stays < 2^62, no overflow in either engine.
MINHASH_P = (1 << 31) - 1
_rng = __import__("random").Random(1257787)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, MINHASH_P), _rng.randrange(0, MINHASH_P))
    for _ in range(64)
]
del _rng


def shingle_base_hashes(shingle_col: Column) -> Column:
    """array<long> — one base hash per shingle, reduced mod p."""
    return F.transform(shingle_col, lambda s: hash64(s) % MINHASH_P)


def minhash_signature(base_col: Column, n_hashes: int = 16) -> Column:
    """array<long> MinHash signature over precomputed base hashes.

    Materialize ``base_col`` as a real column before calling (it is
    referenced a fixed small number of times; an inline expression would
    recompute the string hashes per reference).

    ONE fold over the base array (r13 optimization round): the previous
    form ran ``array_min(transform(...))`` once per hash function — 16
    traversals of the base array plus 16 intermediate array allocations
    per row, on the hottest narrow map of the whole dedup surface. This
    form folds once, keeping all 16 running minima in the accumulator
    array (~20% faster at sf0.1; the win grows with shingle count).
    Bit-identical by construction: integer min is order-insensitive, the
    per-slot permutation arithmetic is unchanged, ``least(NULL, x) = x``
    makes the NULL-seeded accumulator equal ``array_min`` on non-empty
    arrays, an EMPTY base array leaves the accumulator = 16 NULLs
    (exactly array_min([])), and a NULL base array short-circuits to the
    same 16-NULL vector the old per-slot form produced (aggregate alone
    would return NULL). Pinned by tests/test_dedup_minhash.py against
    the per-slot form on all three edge shapes."""
    coeffs = MINHASH_COEFFS[:n_hashes]
    nulls = F.array(*[F.lit(None).cast("long") for _ in coeffs])
    folded = F.aggregate(
        base_col, nulls,
        lambda acc, h: F.array(*[
            F.least(F.element_at(acc, i + 1),
                    (F.lit(a) * h + F.lit(b)) % MINHASH_P)
            for i, (a, b) in enumerate(coeffs)]))
    return F.when(base_col.isNull(), nulls).otherwise(folded)


def minhash_signature_sql(base_expr: str, n_hashes: int = 16) -> str:
    """DuckDB twin of :func:`minhash_signature` (same coefficients)."""
    entries = ", ".join(
        f"list_min(list_transform({base_expr}, h -> (CAST({a} AS BIGINT) * h + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_COEFFS[:n_hashes]
    )
    return f"[{entries}]"


def shingle_sets(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """(_id, _sh): each doc's distinct word-shingle set, scan fanned out to
    the session's core count (batch inputs only — ensure_parallelism
    inspects partitioning, which a streaming DataFrame cannot)."""
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    return ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        shingles(F.col(text_col), shingle_n).alias("_sh"),
    )


def band_signatures(sh_df: DataFrame, n_hashes: int = 16,
                    bands: int = 4) -> DataFrame:
    """(_id, band, bh): the banded-MinHash LSH key rows for a (_id, _sh)
    shingle frame — the join currency of near-dup detection, and the INDEX
    representation for corpus-membership checks (a doc near-duplicates the
    corpus iff any of its band rows matches the corpus band set). Works on
    batch AND streaming frames (pure narrow expressions + explode)."""
    rows_per_band = n_hashes // bands
    base = (
        sh_df
        # _base materialized as its own column: one string hash per shingle,
        # reused by all n_hashes permutations
        .withColumn("_base", shingle_base_hashes(F.col("_sh")))
        .withColumn("_sig", minhash_signature(F.col("_base"), n_hashes))
        .select("_id", "_sig")
    )
    return base.select(
        "_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",",
                        F.slice("_sig", b * rows_per_band + 1, rows_per_band)
                        .cast("array<string>"),
                    ).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("_id", "bk.band", "bk.bh")


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 16,
                       shingle_n: int = 3) -> DataFrame:
    """(_id, _sig): per-doc MinHash signature — the reusable first stage
    of the LSH chain, exposed for estimator-calibration queries
    (ta_minhash_est_vs_exact) and index builds."""
    sh_df = shingle_sets(df, text_col=text_col, id_col=id_col,
                         shingle_n=shingle_n)
    return (
        sh_df
        .withColumn("_base", shingle_base_hashes(F.col("_sh")))
        .withColumn("_sig", minhash_signature(F.col("_base"), n_hashes))
        .select("_id", "_sig")
    )


def lsh_bucket_report(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      max_bucket: int = 1000) -> DataFrame:
    """Per-band LSH bucket audit: the `max_bucket` cap in
    :func:`minhash_lsh_pairs` drops degenerate buckets (boilerplate
    clusters) SILENTLY from the pair stream — this report makes the drop
    explicit, per the no-silent-caps rule. One row per band:
    (band, n_buckets ≥2-member, n_singletons, max_bucket_size,
    n_capped buckets over the cap, pairs_kept, pairs_dropped) with
    C(n,2) pair mass counted by multiplication (a 10⁶-member bucket
    moves one aggregate row, not 10¹² join rows). Two shuffles: the
    banded (band, bh) groupBy the pair generator already pays, then a
    #bands-row rollup."""
    sh_df = shingle_sets(df, text_col=text_col, id_col=id_col,
                         shingle_n=shingle_n)
    banded = band_signatures(sh_df, n_hashes=n_hashes, bands=bands)
    sizes = banded.groupBy("band", "bh").agg(F.count("*").alias("n"))
    c2 = F.shiftright(F.col("n") * (F.col("n") - 1), 1)
    in_cap = (F.col("n") >= 2) & (F.col("n") <= max_bucket)
    return (
        sizes.groupBy("band").agg(
            F.count(F.when(F.col("n") >= 2, 1)).cast("bigint")
            .alias("n_buckets"),
            F.count(F.when(F.col("n") == 1, 1)).cast("bigint")
            .alias("n_singletons"),
            F.max("n").cast("bigint").alias("max_bucket_size"),
            F.count(F.when(F.col("n") > max_bucket, 1)).cast("bigint")
            .alias("n_capped"),
            F.coalesce(F.sum(F.when(in_cap, c2)), F.lit(0)).cast("bigint")
            .alias("pairs_kept"),
            F.coalesce(F.sum(F.when(F.col("n") > max_bucket, c2)),
                       F.lit(0)).cast("bigint").alias("pairs_dropped"),
        )
        .orderBy("band")
    )


def _cut_lineage(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Eagerly materialize ``df`` and drop its lineage: reliable
    ``checkpoint()`` under ``checkpoint_dir`` when one is given (survives
    executor loss on a real cluster), else ``localCheckpoint()``
    (executor-local blocks — right for local[N])."""
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


#: When False, :func:`minhash_lsh_pairs` skips all three of its eager
#: lineage truncations so plan-audit tooling (tools/plan_lint.py,
#: tools/plan_snapshot.py) can read the FULL LSH chain from explain()
#: without executing any job — with the truncations on, every consumer's
#: physical plan roots at `Scan ExistingRDD` and a regression inside the
#: operator (a Python UDF, an unsanctioned global sort) would pass the
#: registry-wide audit unseen (r9 review finding). Execution paths
#: (driver, bench, rehearsal) leave this True.
MATERIALIZE_PAIRS = True


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      threshold: float = 0.5,
                      max_bucket: int = 1000,
                      checkpoint_dir: str | None = None,
                      materialize_result: bool = True) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, verified by exact
    shingle Jaccard: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    rows(band) = n_hashes/bands; two docs collide if any band matches.

    Plan shape, chosen for shuffle VOLUME at corpus scale: the banded
    explode and bucket groupBy carry ONLY (id, band, band_hash) — ids are a
    few bytes where a shingle set is kilobytes, so the LSH exchange moves
    ~1000× less data than banding the payload would. Candidate pairs (small
    by construction after banding) then rejoin the shingle sets for the
    exact-Jaccard verify — two broadcast-able joins that stream the corpus
    without shuffling it. A banded self-join would instead execute the
    signature lineage twice; grouping computes signatures exactly once.
    Bucket pair generation is O(b²) per bucket; ``max_bucket`` drops
    degenerate buckets (boilerplate clusters) the way production near-dup
    pipelines do, and AQE handles residual bucket skew.

    ``checkpoint_dir``: the three lineage truncations below default to
    ``localCheckpoint`` (right for local[N]); pass a directory for
    reliable ``checkpoint()`` on a real cluster — the same knob
    :func:`duplicate_clusters` exposes, for the same reason.

    ``materialize_result``: the RESULT truncation exists for composite
    consumers that re-reference the verified pair list MORE THAN ONCE
    (e.g. cross-source linkage's symmetrize union, the survivors
    diagnostic's two variants) — without it each reference re-runs the
    semi-join + verify. A caller that consumes the pairs exactly once
    (the bare registry query, a single-pass aggregate like
    :func:`threshold_sweep`, and — since the r13 single-explode
    adjacency — every cluster-only composite, because
    :func:`duplicate_clusters` now references its input once) writes a
    result checkpoint nobody re-reads; pass ``materialize_result=False``
    to skip ONLY the result truncation — the bucket truncation always
    stays, because it protects the operator's own internal double
    reference (pair generation + the candidate-id prune), not the
    consumers'.
    """
    sh_df = shingle_sets(df, text_col=text_col, id_col=id_col,
                         shingle_n=shingle_n)
    banded = band_signatures(sh_df, n_hashes=n_hashes, bands=bands)

    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.collect_list("_id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    # The bucket relation is referenced TWICE below (pair generation +
    # the candidate-id prune) and Catalyst does not share subtrees —
    # unchecked, the shingle+minhash+band chain and its corpus-scale
    # shuffle would execute once per reference (the r8 prune referenced
    # the PAIR relation three times this way, which is exactly the
    # +47-65% it cost at sf0.1). Truncating the lineage materializes the
    # LSH chain ONCE; the bucket relation is O(candidate ids × bands)
    # with every array capped at max_bucket — smaller than the pair list
    # in the dup-heavy regime (pairs grow O(b²) per bucket, buckets O(b))
    # and tiny next to the corpus at any scale. This replaces a
    # probe-gated "adaptive prune": one mechanism covers both regimes
    # instead of a mode switch that would still pay a probe job to pick
    # the mode.
    if MATERIALIZE_PAIRS:
        buckets = _cut_lineage(buckets, checkpoint_dir)
    pair_array = F.filter(
        F.flatten(F.transform(
            "ids",
            lambda x: F.transform(
                F.col("ids"),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )),
        lambda p: p["id_a"] < p["id_b"],
    )
    pairs = (
        buckets.select(F.explode(pair_array).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact-Jaccard verify: fetch shingle sets for the candidate ids only.
    # The CANDIDATE-ID prune (r8, found by the 100x dup-bomb rehearsal):
    # join the fat shingle-set relation against the DISTINCT candidate-id
    # list first — ids stay broadcastable long after the pair relation
    # outgrows the broadcast threshold (a dup-heavy corpus has O(copies²)
    # pairs but only O(copies) candidate ids), so the corpus never
    # shuffles its shingle arrays for the verify: without the prune, a
    # pairs-side SMJ fallback moved corpus-scale arrays TWICE (9.4 GB of
    # shuffle at the 100x rehearsal); with it, at worst the
    # candidate-sized subset shuffles once per side.
    # Candidate ids come from the (checkpointed) BUCKETS, not the pairs:
    # every id in a surviving >=2-member bucket appears in >=1 pair (any
    # two bucket members form one), so explode(ids) is exactly the pair
    # id universe — without re-executing the pair explode+dedup. The
    # .distinct() (r8 ADVICE) makes the build side genuinely O(candidate
    # ids): without it the relation (and the planner's size estimate that
    # decides broadcast) is bands×|bucket members| rows, which outgrows
    # the broadcast threshold exactly when the raw pairs join did.
    cand_ids = buckets.select(F.explode("ids").alias("_id")).distinct()
    # The candidate-pruned shingle relation is referenced TWICE (pair
    # sides a and b), and each reference re-derives the corpus
    # scan+shingle chain — truncating it here materializes the
    # candidate-bounded subset once (r13 optimization round: in-session
    # interleave 1.39 → 1.21 s per chain execution at sf0.1). The rows
    # materialized are exactly the shingle arrays the verify joins were
    # already shipping, bounded by candidate count at any scale; audit
    # mode (MATERIALIZE_PAIRS=False) skips it like every truncation.
    sh_cand = sh_df.join(cand_ids, "_id", "left_semi")
    if MATERIALIZE_PAIRS:
        sh_cand = _cut_lineage(sh_cand, checkpoint_dir)
    sh_a = sh_cand.select(F.col("_id").alias("id_a"),
                          F.col("_sh").alias("sh_a"))
    sh_b = sh_cand.select(F.col("_id").alias("id_b"),
                          F.col("_sh").alias("sh_b"))
    cand = pairs.join(sh_a, "id_a").join(sh_b, "id_b")
    # Threshold SELECTION is pure-integer: |A∩B|·10⁴ ≥ t_q1e4·|A∪B| — no
    # double division or rounding mode can enter the survivor decision on
    # either engine (the round-5 verdict's last conceivable cross-engine
    # channel: DuckDB rounds half-away-from-zero, Spark HALF_UP). The
    # rounded-double jaccard stays as an OUTPUT column only (driver-green
    # contract since r1). union = 0 (two empty-shingle docs) keeps the old
    # jaccard=1 convention: 0 ≥ t·0 is true for every threshold.
    t_q = int(round(threshold * 10000))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("bigint")
    verified = (
        cand.select(
            "id_a", "id_b", inter.alias("_i"), union.alias("_u"),
            F.round(
                F.when(union == 0, F.lit(1.0))
                .otherwise(inter.cast("double") / union.cast("double")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("_i") * F.lit(10000) >= F.lit(t_q) * F.col("_u"))
        .drop("_i", "_u")
    )
    # Truncate the RESULT too: every composite consumer (cluster
    # resolution + survivor anti-join, provenance, policy ablation)
    # references the verified pair list at least twice, and without
    # truncation each reference re-executes the semi-join + verify —
    # including three more corpus scans of the shingle relation. The
    # verified list is the smallest relation in the whole chain
    # (threshold-filtered pairs), so this is the cheapest possible
    # materialization point. Consume-once callers skip it (see the
    # materialize_result docstring): the bucket checkpoint above is the
    # lineage fix; this one is purely a consumer-side amortization.
    if not (materialize_result and MATERIALIZE_PAIRS):
        return verified
    return _cut_lineage(verified, checkpoint_dir)


SWEEP_THRESHOLDS: tuple[int, ...] = (
    3000, 4000, 5000, 6000, 7000, 8000, 9000)


def threshold_sweep(pairs: DataFrame,
                    thresholds: tuple[int, ...] = SWEEP_THRESHOLDS,
                    ) -> DataFrame:
    """Dedup threshold-tuning report over a verified near-dup pair stream
    (id_a, id_b, jaccard): per Jaccard threshold (1e-4 integer grid), the
    surviving pair count and the number of docs a keep-lowest-id policy
    would remove (distinct id_b). One row per threshold, zero rows of
    input ⇒ all-zero rows out (the report still renders).

    Plan: ONE pass with len(thresholds) conditional aggregates — no join
    against the threshold list, full map-side partial aggregation; the
    1-row global aggregate explodes into the report rows. jaccard is
    round(·,4); floor(j·1e4+0.5) recovers the exact grid integer on any
    engine.
    """
    jq = F.floor(F.col("jaccard") * 10000 + F.lit(0.5)).cast("bigint")
    pq = pairs.select("id_a", "id_b", jq.alias("jq"))
    aggs = []
    for t in thresholds:
        aggs.append(F.count(F.when(F.col("jq") >= t, 1))
                    .cast("bigint").alias(f"_p{t}"))
        aggs.append(F.countDistinct(F.when(F.col("jq") >= t, F.col("id_b")))
                    .cast("bigint").alias(f"_d{t}"))
    rows = F.array(*[
        F.struct(
            F.lit(t).cast("bigint").alias("threshold_q1e4"),
            F.col(f"_p{t}").alias("n_pairs"),
            F.col(f"_d{t}").alias("n_dup_docs"),
        )
        for t in thresholds
    ])
    return (
        pq.agg(*aggs)
        .select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("threshold_q1e4")
    )


# ---------------------------------------------------------------- simhash

def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """(id, simhash) — per-bit sign-sum of token hashes (Charikar '02).

    explode → per-bit ±1 contributions → groupBy(id) sum — one shuffle on
    the doc id (uniform). bits ≤ 16 keeps the agg column count sane; the
    signature packs back into one long.
    """
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    tok = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("_tok"),
    ).withColumn("_h", hash64(F.col("_tok")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("_id").agg(*bit_sums)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agg.select(F.col("_id").alias(id_col), sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 16,
                       max_hamming: int = 2,
                       max_bucket: int = 10000) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, blocked on the
    high half of the signature.

    Same bucket-grouping shape as :func:`minhash_lsh_pairs`: a self-join
    would run the token-explode + bit aggregation twice; grouping by the
    block key computes each signature once and pairs within buckets."""
    sigs = simhash(df, text_col, id_col, bits)
    block = F.shiftright(F.col("simhash"), bits // 2)
    buckets = (
        sigs.select(F.col(id_col).alias("_id"), "simhash", block.alias("_blk"))
        .groupBy("_blk")
        .agg(F.collect_list(F.struct("_id", "simhash")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket))
    )
    pair_array = F.filter(
        F.flatten(F.transform(
            "ms",
            lambda x: F.transform(
                F.col("ms"),
                lambda y: F.struct(
                    x["_id"].alias("id_a"), y["_id"].alias("id_b"),
                    x["simhash"].alias("sig_a"), y["simhash"].alias("sig_b"),
                ),
            ),
        )),
        lambda p: p["id_a"] < p["id_b"],
    )
    pairs = buckets.select(F.explode(pair_array).alias("p")) \
        .select("p.id_a", "p.id_b", "p.sig_a", "p.sig_b")
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("id_a", "id_b", ham.alias("hamming")) \
        .filter(F.col("hamming") <= max_hamming)


# ------------------------------------------------------- n-gram jaccard

def neighbor_jaccard(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """Exact shingle-Jaccard for consecutive-id pairs — the oracle-checkable
    exact-similarity rung: (id_a, id_b, jaccard). SQL twin uses
    unnest/explode + distinct counting; linear pair count by construction."""
    s = df.select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    a = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = s.select((F.col("id") - 1).alias("id_a"), F.col("id").alias("id_b"),
                 F.col("sh").alias("sh_b"))
    j = a.join(b, "id_a")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.select(
        "id_a", "id_b",
        F.round(F.when(union == 0, F.lit(1.0)).otherwise(inter / union), 4)
        .alias("jaccard"),
    )


def neighbor_containment(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         shingle_n: int = 3) -> DataFrame:
    """Asymmetric shingle CONTAINMENT for consecutive-id pairs:
    ``cont_ab = |A∩B| / |A|`` and the reverse — the sub-document rung of
    the dedup ladder (Broder's containment, the quantity Jaccard can't
    see: a short doc fully quoted inside a long one scores low Jaccard
    but containment ≈ 1). Same linear pair construction as
    :func:`neighbor_jaccard`; at scale the pair generator is whatever
    candidate source feeds it (LSH buckets), the math is unchanged."""
    s = df.select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    a = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = s.select((F.col("id") - 1).alias("id_a"), F.col("id").alias("id_b"),
                 F.col("sh").alias("sh_b"))
    j = a.join(b, "id_a")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    na = F.size("sh_a").cast("double")
    nb = F.size("sh_b").cast("double")
    cont = (lambda n: F.round(
        F.when(n == 0, F.lit(1.0)).otherwise(inter / n), 4))
    return j.select(
        "id_a", "id_b",
        cont(na).alias("cont_ab"),
        cont(nb).alias("cont_ba"),
    )


# ------------------------------------------------- duplicate clustering

def duplicate_clusters(pairs: DataFrame, max_iters: int = 10,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """Resolve a near-dup PAIR list into duplicate CLUSTERS: (id, rep)
    where ``rep`` is the smallest id in the pair-graph's connected
    component — the survivor every other member dedups against.

    Pairs alone under-dedup: A~B and B~C often arrive without A~C (LSH
    banding, thresholding), so keep-one-per-pair would keep 2 of the 3.
    Connected components give transitive closure.

    Spark-first: iterative min-label propagation WITH pointer jumping
    (hash-to-min style) over the undirected edge list — each round every
    node takes the min of its neighbors' labels, then follows its label
    one more hop (rep-of-rep). Neighbor-min alone advances the frontier
    one edge per round (a diameter-40 chain would need 40 rounds); the
    jump doubles the reach each round, so ``max_iters`` rounds cover
    diameters ~2^max_iters — 6 rounds handle any realistic near-dup
    cluster and the chain graphs the differential test throws at it.
    Three hash joins per round, all on the id key.

    Input: (id_a, id_b [, ...]) with id_a < id_b. Output covers only ids
    that appear in some pair (singletons are their own rep by definition).

    ``checkpoint_dir``: per-round lineage truncation defaults to
    ``localCheckpoint`` (executor-local blocks — right for local[N] and
    the bench, but an executor loss on a real cluster means
    recompute-from-NOTHING because the lineage is gone). Passing a
    directory switches every truncation to reliable ``checkpoint()``
    (HDFS/object-store-backed), which survives executor death — the
    setting a 1000-executor run should use.
    """
    # undirected adjacency + self loops, one row per (node, neighbor).
    # Built as ONE explode over the pair list instead of a 4-branch
    # union (r13 optimization round): the union referenced ``pairs``
    # four times, and Catalyst does not share subtrees — so a caller
    # passing an UN-materialized pair relation (minhash_lsh_pairs with
    # materialize_result=False) would execute the whole verify chain
    # four times inside the adjacency job. With a single reference, the
    # chain runs once and cluster-only consumers can skip the pair
    # result checkpoint entirely (one less eager job + one less
    # materialization per composite). Row set is identical: the same
    # four (src, dst) tuples per pair, deduped by the same distinct().
    a, b = F.col("id_a"), F.col("id_b")
    adj = (
        pairs.select(F.explode(F.array(
            F.struct(a.alias("src"), b.alias("dst")),
            F.struct(b.alias("src"), a.alias("dst")),
            F.struct(a.alias("src"), a.alias("dst")),
            F.struct(b.alias("src"), b.alias("dst")),
        )).alias("_e"))
        .select("_e.src", "_e.dst")
        .distinct()
    )
    # The adjacency list is referenced once per propagation round — without
    # truncating its lineage, the (expensive) pair-producing upstream
    # (MinHash banding + verify) would re-execute max_iters times inside
    # one plan. Checkpointing the edge list is the standard move for
    # iterative graph algorithms (GraphX/ML do the same); the edge list is
    # pair-graph-sized — tiny next to the corpus — at any scale.
    adj = _cut_lineage(adj, checkpoint_dir)
    # Label INIT (min neighbor incl. self) is NOT materialized on its
    # own (r13 optimization round): round 1 references the init three
    # times (neighbor-min, jump lookup, convergence compare), and each
    # reference re-derives one groupBy over the CHECKPOINTED adjacency —
    # three node-table shuffles riding inside round 1's single job,
    # which is cheaper than the dedicated eager-checkpoint job the init
    # used to pay (every eager truncation is a full driver round-trip,
    # and these frames are node-table-sized). Rows and fixpoint are
    # unchanged: round 1 still computes exactly
    # jump(neighbor-min(init)) vs init. From round 2 on, ``labels`` is
    # the per-round checkpoint as before.
    init = adj.groupBy("src").agg(F.min("dst").alias("rep"))
    labels = None
    for _ in range(max_iters - 1):
        cur = init if labels is None else labels
        # next label = min over neighbors' current labels (incl. own)
        nbr = (
            adj.join(cur.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src").agg(F.min("rep").alias("rep"))
        )
        # pointer jump: follow the label one hop (label of the label) —
        # doubles the distance covered per round
        lookup = cur.select(F.col("src").alias("_r"),
                            F.col("rep").alias("_rr"))
        # labels is referenced TWICE per round (neighbor-min + the jump
        # lookup); without truncating its lineage each round the plan tree
        # doubles per iteration — 2^max_iters copies of the label subplan,
        # all re-executed (observed: 62 SortMergeJoins in one composed
        # query). Checkpoint per round keeps the plan linear: a handful of
        # materializations of a node-table-sized frame (tiny next to the
        # corpus at any scale).
        new = (
            nbr.join(lookup, nbr.rep == F.col("_r"), "left")
            .select(
                "src",
                F.least(F.col("rep"),
                        F.coalesce(F.col("_rr"), F.col("rep"))).alias("rep"),
            )
        )
        # convergence early-exit: min-label propagation is monotone, so an
        # unchanged round is the fixpoint and every further round is a
        # no-op. It lets max_iters be a SAFETY bound (diameters up to
        # ~2^max_iters) instead of a cost, since typical LSH dup clusters
        # (cliques and short chains) converge in 1-2 rounds. The check
        # rides the SAME job as the round's materialization (r12
        # optimization round): join the previous labels in, observe the
        # changed-row count, project the helper away, checkpoint — one
        # driver round-trip per round where a separate count() action
        # paid a second one (the per-round fixed cost dominates these
        # node-table-sized frames). The inner join is 1:1 (both sides
        # carry exactly adj's src set every round), so the rows are
        # unchanged.
        obs = Observation()
        new = (
            new.join(cur.withColumnRenamed("rep", "_old"), "src")
            .observe(obs, F.coalesce(
                F.sum((F.col("rep") != F.col("_old")).cast("long")),
                F.lit(0)).alias("n_changed"))
            .select("src", "rep")
        )
        new = _cut_lineage(new, checkpoint_dir)
        labels = new
        # n_changed is valid ONLY as a zero/nonzero convergence signal
        # (ADVICE r12): on the reliable-checkpoint path, checkpoint(
        # eager=True) recomputes the plan in the checkpoint job after
        # the count, so the CollectMetrics accumulator can tally rows
        # twice within one execution. 0 doubles to 0, so the == 0 test
        # is safe — never read n_changed as an actual changed-row count.
        if int(obs.get["n_changed"]) == 0:
            break
    if labels is None:  # max_iters == 1: the un-propagated init IS the result
        labels = _cut_lineage(init, checkpoint_dir)
    return labels.select(F.col("src").alias("id"), "rep")


def duplicate_clusters_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`duplicate_clusters`: transitive closure via a
    recursive CTE, then rep = min reachable id. Exact fixpoint — agrees
    with the Spark side whenever components have diameter ≤ the Spark
    iteration bound (always true for LSH near-dup clusters; asserted by
    the differential check itself)."""
    return f"""
WITH RECURSIVE pr AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION SELECT id_b, id_a FROM pr
  UNION SELECT id_a, id_a FROM pr
  UNION SELECT id_b, id_b FROM pr
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS id, min(dst) AS rep FROM reach GROUP BY src
"""


def neighbor_edit_distance(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           head: int = 200) -> DataFrame:
    """Character-level near-dup rung: Levenshtein distance between
    consecutive-id documents — catches the single-character/OCR-noise
    edits that token-level shingle Jaccard dilutes (one char flip inside
    a word kills up to 3 shingles; edit distance counts it as 1).

    Levenshtein is O(len_a x len_b) per pair, so it compares the first
    ``head`` chars only — the production pattern (a full-document edit
    distance at corpus scale is never computed; char-level checks run on
    bounded prefixes/samples AFTER a cheap blocker pairs candidates).
    Same consecutive-id pair generator as :func:`neighbor_jaccard`; at
    scale the pair source is the LSH blocker.

    Output: (id_a, id_b, edit_dist, rel_dist) with rel = dist / longest
    prefix length (0 = identical, 1 = disjoint).
    """
    s = df.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, head).alias("h"),
    )
    a = s.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"))
    b = s.select((F.col("id") - 1).alias("id_a"), F.col("id").alias("id_b"),
                 F.col("h").alias("h_b"))
    j = a.join(b, "id_a")
    # Fan the PAIR relation to session parallelism before the O(head²)
    # distance map (r13 optimization round). AQE coalesces post-join
    # partitions by BYTES, and a Levenshtein row is ~400 bytes of input
    # for head² = 40k char-cell updates of compute — so on any input
    # whose pair bytes undershoot the advisory size the whole distance
    # stage collapses onto one task (measured at sf0.1: 1.94 s
    # single-task vs 0.19 s fanned, identical rows). The explicit
    # exchange moves one narrow row per pair — always cheap relative to
    # the per-row compute it parallelizes, at any scale. It is not gated
    # like ``io.ensure_parallelism``: that gate reads the plan-time
    # partition count, which after this shuffle join is
    # spark.sql.shuffle.partitions (never below defaultParallelism), so
    # it would never fire, and AQE would still coalesce the stage onto
    # one task by bytes.
    j = j.repartition(df.sparkSession.sparkContext.defaultParallelism)
    dist = F.levenshtein("h_a", "h_b")
    longest = F.greatest(F.length("h_a"), F.length("h_b"), F.lit(1))
    return j.select(
        "id_a", "id_b",
        dist.cast("bigint").alias("edit_dist"),
        F.round(dist.cast("double") / longest, 4).alias("rel_dist"),
    )


def dedup_against_index(docs: DataFrame, md5_index: DataFrame,
                        band_index: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Membership dedup of ``docs`` against a PERSISTED corpus index:
    (id, exact_dup, n_band_matches). ``md5_index`` is a distinct (h) md5
    set, ``band_index`` a distinct (band, bh) MinHash band-key set — the
    two parquet files `cli build-dedup-index` writes; both are bytes-tiny
    next to the corpus they summarize.

    Works identically on batch and STREAMING ``docs`` (stream-static
    joins + one aggregation — st_dedup_vs_corpus runs this very function
    per micro-batch): incoming text never shuffles more than its md5 and
    four (band, bh) rows.
    """
    md5_rows = (
        docs.select(id_col, F.md5(text_col).alias("h"))
        .join(md5_index.withColumn("_hit", F.lit(1)), "h", "left")
        .select(id_col, F.coalesce("_hit", F.lit(0)).alias("is_exact"),
                F.lit(0).alias("band_hit"))
    )
    inc_sh = docs.select(F.col(id_col).alias("_id"),
                         shingles(F.col(text_col), 3).alias("_sh"))
    band_rows = (
        band_signatures(inc_sh)
        .join(band_index.withColumn("_bhit", F.lit(1)),
              ["band", "bh"], "left")
        .select(F.col("_id").alias(id_col), F.lit(0).alias("is_exact"),
                F.coalesce("_bhit", F.lit(0)).alias("band_hit"))
    )
    return (
        md5_rows.unionByName(band_rows)
        .groupBy(id_col)
        .agg((F.max("is_exact") == 1).alias("exact_dup"),
             F.sum("band_hit").cast("bigint").alias("n_band_matches"))
    )


def build_dedup_index(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """(md5_index, band_index) for :func:`dedup_against_index` — the two
    frames a corpus persists (and periodically refreshes) so that every
    future drop checks membership WITHOUT re-running all-pairs dedup."""
    md5_index = docs.select(F.md5(text_col).alias("h")).distinct()
    band_index = band_signatures(
        shingle_sets(docs, text_col=text_col, id_col=id_col)) \
        .select("band", "bh").distinct()
    return md5_index, band_index


# ------------------------------------------- duplicated-span REMOVAL

def span_dedup(df: DataFrame, n: int = 3, min_df: int = 2,
               id_col: str = "doc_id", text_col: str = "text",
               emit_text: bool = False) -> DataFrame:
    """Exact duplicated-SPAN removal — cut every token n-gram span that
    also appears in ``min_df`` or more distinct documents, and return the
    cleaned text fingerprint plus removal accounting per doc:
    ``(doc_id, n_tokens, n_removed, cleaned_fp)``.

    This is the span-granular form of exact-substring deduplication (the
    "dedup the REPEATED PASSAGES, not whole documents" recipe of
    Lee et al. 2022, arXiv:2107.06499, approximated at token-shingle
    granularity instead of a suffix array): boilerplate headers, license
    blocks, and templated passages are removed from otherwise-unique
    documents, which whole-doc dedup (exact or MinHash) cannot touch.
    Distinct from ta_dup_ngram_coverage: that MEASURES duplication, this
    REMOVES it — a token is dropped iff some duplicated shingle covers it
    (interval union of the flagged [s, s+n-1] windows).

    Plan at 100 TB: positional shingles shuffle ONCE as 8-byte hashes
    (ids-only-shuffle convention); the distinct-doc frequency rides two
    same-key windows over that single exchange (lag-based first-per-doc
    flag summed over the hash partition) instead of a count-table
    groupBy + join-back — measured 1.86x (2.81s -> 1.51s sf0.1,
    identical rows; same trade-off as ta_dup_ngram_coverage: one
    pathologically hot shingle straggles a window partition where the
    join form's AQE skew-split would not — WindowExec spills rather
    than OOMs, and the join form lives in git history as the fallback).
    Flagged starts explode to covered positions — volume proportional
    to the duplicated mass being removed, not the corpus; token
    reassembly is one co-partitioned (id, pos) join plus a doc_id
    regroup using the sorted-struct collect pattern. No driver-side
    state, no all-pairs anywhere.

    Empty/NULL-text docs have no tokens and are absent by definition
    (the td_tokenize_ids convention). Fully-duplicated docs come back
    with ``n_removed = n_tokens`` and the md5 of the empty string.

    ``emit_text=True`` returns the cleaned text itself
    (``cleaned_text``) instead of its md5 fingerprint — the corpus-write
    path (`cli span-dedup`); the fingerprint form is the registry/oracle
    contract (scalar-only outputs).
    """
    from multiagent_document_etl_system_spark.io import ensure_parallelism

    ts = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                  lambda t: F.length(t) > 0)
    # fan the scan to session parallelism before the tokenize + shingle
    # explode + per-shingle md5 (heavy narrow map; r12 optimization round)
    d = (ensure_parallelism(df.filter(F.col(text_col).isNotNull())
                            .select(id_col, text_col))
         .select(F.col(id_col).alias("id"), ts.alias("ts"))
         .filter(F.size("ts") > 0))
    nt = F.size("ts")
    sh_structs = F.transform(
        F.sequence(F.lit(1), F.greatest(nt - (n - 1), F.lit(1))),
        lambda i: F.struct(
            i.alias("s0"),
            F.array_join(F.slice(F.col("ts"), i, n), " ").alias("s")),
    )
    sh = (d.select("id", nt.alias("nt"),
                   F.explode(sh_structs).alias("sh"))
          .select("id", "nt", F.col("sh.s0").alias("s0"),
                  hash64(F.col("sh.s")).alias("h")))
    # distinct-doc frequency in ONE exchange: sort each hash partition by
    # (id, s0), flag the first row of each doc, sum flags over the hash —
    # both windows share the same partitioning/sort, so Catalyst plans a
    # single Window node over a single shuffle
    w_sort = Window.partitionBy("h").orderBy("id", "s0")
    first_of_doc = (F.lag("id").over(w_sort).isNull()
                    | (F.lag("id").over(w_sort) != F.col("id"))).cast("int")
    nd = F.sum(first_of_doc).over(Window.partitionBy("h"))
    dup_starts = (sh.withColumn("_nd", nd)
                  .filter(F.col("_nd") >= min_df)
                  .select("id", "s0", "nt"))
    covered = (dup_starts
               .select("id", F.explode(F.sequence(
                   F.col("s0"),
                   F.least(F.col("s0") + (n - 1), F.col("nt")))).alias("pos"))
               .distinct()
               .withColumn("_c", F.lit(True)))
    toks = (d.select("id", F.posexplode("ts").alias("pos0", "token"))
            .select("id", (F.col("pos0") + 1).alias("pos"), "token"))
    kept_struct = F.when(F.col("_c").isNull(),
                         F.struct(F.col("pos"), F.col("token")))
    out = (
        toks.join(covered, ["id", "pos"], "left")
        .groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_c"), 1).otherwise(0)).cast("bigint")
            .alias("n_removed"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept_struct)),
                            lambda st: st.token), " ").alias("cleaned_text"),
        )
    )
    if emit_text:
        return out.select(F.col("id").alias(id_col), "n_tokens",
                          "n_removed", "cleaned_text")
    return out.select(F.col("id").alias(id_col), "n_tokens", "n_removed",
                      F.md5("cleaned_text").alias("cleaned_fp"))


def span_dedup_sql(table: str = "documents", n: int = 3, min_df: int = 2,
                   id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of :func:`span_dedup` — same shingle hashes, same
    distinct-doc-frequency flag, same interval-union removal."""
    return f"""
WITH d AS (
  SELECT {id_col} AS id,
    list_filter(string_split_regex(trim({text_col}), '\\s+'),
                t -> t <> '') AS ts
  FROM {table} WHERE {text_col} IS NOT NULL
), d2 AS (SELECT * FROM d WHERE len(ts) > 0),
st AS (
  SELECT id, len(ts) AS nt, ts,
    unnest(generate_series(1, greatest(len(ts) - {n - 1}, 1))) AS s0
  FROM d2
), sh AS (
  SELECT id, nt, s0,
    {hash64_sql(f"array_to_string(ts[s0:least(s0 + {n - 1}, nt)], ' ')")} AS h
  FROM st
), dfreq AS (
  SELECT h, count(DISTINCT id) AS nd FROM sh GROUP BY h
), dupst AS (
  SELECT id, s0, nt FROM sh JOIN dfreq USING (h) WHERE nd >= {min_df}
), cov AS (
  SELECT DISTINCT id,
    unnest(generate_series(s0, least(s0 + {n - 1}, nt))) AS pos
  FROM dupst
), toks AS (
  SELECT id, pos, token FROM (
    SELECT id, unnest(ts) AS token,
      unnest(generate_series(1, len(ts))) AS pos
    FROM d2)
)
SELECT t.id AS {id_col},
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_removed,
  md5(coalesce(array_to_string(
    list(t.token ORDER BY t.pos) FILTER (WHERE c.pos IS NULL), ' '), ''))
    AS cleaned_fp
FROM toks t LEFT JOIN cov c ON t.id = c.id AND t.pos = c.pos
GROUP BY t.id
"""


# ---------------------------------------------------------------- bloom

#: Demo sizing (registry/oracle contract): small enough that the false-
#: positive path is actually exercised by the synthetic corpus. Production
#: sizes m at ~10-15 bits per expected key (m = 4096 saturates around a
#: thousand keys — deliberately undersized here so FP rows exist to check).
BLOOM_M = 4096
BLOOM_K = 3


def bloom_positions(key: Column, m: int = BLOOM_M, k: int = BLOOM_K) -> Column:
    """array<long> — the k Bloom bit positions of a string key.

    Each position is an independently-seeded 60-bit md5 hash reduced mod m
    (:func:`hash64` seed = the hash index), so the construction is
    bit-exact across Spark and DuckDB and any membership structure built
    on it stays fully oracle-checkable.
    """
    return F.array(*[hash64(key, seed=i) % m for i in range(k)])


def bloom_positions_sql(key: str, m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    """DuckDB twin of :func:`bloom_positions` (a LIST literal of the k
    seeded position expressions)."""
    return ("[" + ", ".join(f"{hash64_sql(key, seed=i)} % {m}"
                            for i in range(k)) + "]")


def bloom_membership(corpus: DataFrame, probes: DataFrame,
                     key: Column, probe_key: Column,
                     id_col: str = "doc_id",
                     m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """Bloom-filter membership check of ``probes`` against ``corpus`` —
    the constant-memory dedup/decontamination pre-filter: "might this
    incoming document already be in the corpus?" answered from a bitmap of
    ``m`` bits instead of the corpus itself.

    Returns one row per probe: ``(id, bloom_hit, exact_hit)`` with
    ``bloom_hit >= exact_hit`` guaranteed (a Bloom filter has NO false
    negatives; false positives are the m/k trade — rows with
    ``bloom_hit=1, exact_hit=0``).

    Relational form of the bitmap: the set-bit SET (distinct positions,
    **bounded by m rows** — NOT by corpus size) joined per probe position;
    a probe hits iff all k of its positions are set. At 100 TB the
    set-bit side stays ≤ m rows after the distinct, so AQE broadcasts it
    and probing is a map-side join against what is effectively the
    broadcast bitmap; building it is one explode + distinct over the
    corpus keys. The exact twin (``exact_hit``, a left-semi join on the
    full key) is what the Bloom pre-filter SAVES at scale: it only needs
    to run behind bloom_hit=1 rows, and is computed for every probe here
    solely so the differential oracle can audit the FP set.
    """
    bits = (corpus.select(F.explode(bloom_positions(key, m, k)).alias("pos"))
            .distinct().withColumn("_set", F.lit(1)))
    ppos = (probes.select(F.col(id_col).alias("id"),
                          probe_key.alias("_k"))
            .withColumn("pos", F.explode(bloom_positions(F.col("_k"), m, k))))
    bloom = (ppos.join(bits, "pos", "left")
             .groupBy("id", "_k")
             .agg((F.sum(F.coalesce(F.col("_set"), F.lit(0))) == k)
                  .cast("int").alias("bloom_hit")))
    exact_keys = corpus.select(key.alias("_k")).distinct() \
        .withColumn("_x", F.lit(1))
    return (bloom.join(exact_keys, "_k", "left")
            .select(F.col("id").alias(id_col), "bloom_hit",
                    F.coalesce(F.col("_x"), F.lit(0)).alias("exact_hit")))


def build_bloom_bits(docs: DataFrame, text_col: str = "text",
                     m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """The persisted Bloom tier of the corpus dedup index: the DISTINCT
    set-bit positions (single ``pos`` column, ≤ m rows at ANY corpus
    size) of every document's content-md5 key. Sits in front of the
    md5/band tiers (`build_dedup_index`): a probe missing ANY of its k
    positions is provably absent without touching them."""
    return (docs.select(
        F.explode(bloom_positions(F.md5(text_col), m, k)).alias("pos"))
        .distinct())


def bloom_check_index(docs: DataFrame, bits: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """Membership pre-check of ``docs`` (batch OR streaming) against a
    persisted set-bit relation (:func:`build_bloom_bits`):
    ``(id, n_set, bloom_hit)``. Stream-static-join-safe — this is the
    per-micro-batch body of the st_bloom_gate registry query."""
    bits = bits.select("pos").withColumn("_set", F.lit(1))
    return (docs.select(
        F.col(id_col),
        F.explode(bloom_positions(F.md5(text_col), m, k)).alias("pos"))
        .join(bits, "pos", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce("_set", F.lit(0))).cast("bigint")
             .alias("n_set"))
        .select(id_col, "n_set",
                (F.col("n_set") == k).cast("int").alias("bloom_hit")))
