"""Deterministic integer-grid product quantization — the package's one
quantizer family, behind the IVF, PQ and IVF-PQ rungs.

A KMeans fit is iterative and seed-dependent, and no SQL engine restates
it, so queries over KMeans codebooks could only ever be rows-only
checked. This module is the FAISS-PQ architecture derived so that EVERY
step is an exactly-specified integer function of the input, restatable
in DuckDB SQL clause by clause:

- vectors are L2-normalized and snapped to a 1e-4 integer grid
  (``floor(x/||x|| * 10000 + 0.5)`` — the v15/v20 exact-integer
  convention; both engines compute the identical IEEE doubles, and all
  distances thereafter are exact BIGINT sums, associativity-free);
- codebooks come from a DETERMINISTIC fit: anchored init (centroid
  (s, c) = the subvector of the sample row with rank
  ``(s*n_codes + c) % n_sample`` by id) followed by ``n_iters`` Lloyd
  steps on the grid — assignment is an integer argmin with a
  (distance, code) tie-break, the update is
  ``floor(sum/count + 0.5)`` per coordinate (integer sums are exact,
  one IEEE division, empty codes keep their previous centroid). Lloyd
  iterations with a fixed init and count are deterministic, and each
  step is one SQL CTE — so unlike KMeans the whole fit rides inside
  the oracle. Measured at fixture scale the 3-iteration grid fit
  reaches ADC-prefilter recall@5 0.80 with k_adc=100 (pinned in
  tests/test_pq_grid.py);
- the fit input is the ``ivf_fit_cap(n_codes)`` rows with the SMALLEST
  id (``ORDER BY id LIMIT`` — SQL-expressible and independent of
  partition order, so the same rows feed the fit on every run).

Scale shape: the fit sees a bounded sample (one TakeOrderedAndProject
over the corpus, then n_iters Lloyd steps over ≤4096 rows on the
driver); corpus-wide assignment is one narrow map with the codebooks as
literals; ADC scoring is m lookups per pair over a broadcast query-side
distance table; exact rerank touches only Q x k_adc full vectors.
Driver-side state is the codebook itself — n_subspaces × n_codes ×
width ints (4 KB here), collected via two BOUNDED collects per fit
stated at the call sites.

The registry's IVF, PQ and IVF-PQ queries run these rungs, so their
outputs are full hash checks. Reference parity: the reference stores
raw float32 vectors
(/root/reference/src/pinecone_utils.py:64-92) — PQ is part of the
100 TB storage ladder built beyond it (SURVEY.md §2 north star).
"""

from __future__ import annotations

import math
from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from multiagent_document_etl_system_spark.functions.numeric import (
    lit_int_matrix,
)
from multiagent_document_etl_system_spark.operators.similarity import (
    cosine_sql,
    exact_rerank,
)

GRID = 10_000

#: quantizer-fit sample budget per cell — production IVF trains the coarse
#: quantizer on a bounded sample, never the full corpus (FAISS convention
#: is 30-256 points per centroid).
IVF_FIT_SAMPLE_PER_CELL = 256


def ivf_fit_cap(n_cells: int) -> int:
    """Upper bound on rows a quantizer fit may read."""
    return IVF_FIT_SAMPLE_PER_CELL * n_cells


def grid_vec(vec_col: str, grid: int = GRID) -> Column:
    """L2-normalize, then snap each element to the 1/grid integer grid
    (BIGINT). Zero vectors snap to all-zero. Exactly restated in SQL by
    :func:`_gv_sql`.

    The norm is bound via ``aggregate``'s *finish* lambda so the
    squared-sum fold runs ONCE per row: referencing ``norm(v)`` inside
    the per-element transform would re-evaluate the O(dim) fold for
    every element — O(dim²) per row, measured 24× slower at 200k×64.
    The IEEE op sequence is x / sqrt(s) * grid + 0.5, then floor."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return F.aggregate(
        v, F.lit(0.0),
        lambda s, x: s + x.cast("double") * x.cast("double"),
        lambda s: F.when(
            F.sqrt(s) == 0,
            F.transform(v, lambda x: F.lit(0).cast("bigint")))
        .otherwise(F.transform(
            v, lambda x: F.floor(x / F.sqrt(s) * grid + 0.5))))


def _sq_dist(u: Column, v: Column) -> Column:
    """Σ (uᵢ − vᵢ)² of two integer grid vectors as an exact BIGINT fold."""
    return F.aggregate(F.zip_with(u, v, lambda a, b: (a - b) * (a - b)),
                       F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def _best_struct(xq_col, book: list[list[int]], s: int, width: int):
    """(distance, code) argmin struct for subspace ``s`` — array_min over
    (BIGINT distance, code index) structs = the (d ASC, c ASC) tie-break
    the SQL twin states via row_number."""
    book_lit = lit_int_matrix(book)
    sub = F.slice(xq_col, s * width + 1, width)
    return F.array_min(F.transform(
        book_lit,
        lambda ctr, j: F.struct(_sq_dist(sub, ctr).alias("d"),
                                j.alias("c")),
    ))


def pq_grid_fit(df: DataFrame, dim: int, n_subspaces: int = 4,
                n_codes: int = 16, n_iters: int = 3,
                id_col: str = "vec_id", vec_col: str = "embedding",
                grid: int = GRID,
                pre_gridded: bool = False) -> list[list[list[int]]]:
    """The deterministic grid-Lloyd codebook fit (module docstring).
    Returns integer codebooks as plain lists so assignment/scoring plans
    take them as literals.

    ONE bounded collect site: the fit sample itself — ≤ ``cap`` rows of
    ``dim`` BIGINTs (4096×64 ≈ 2 MB here). The anchored init and the
    ``n_iters`` Lloyd steps then run on the DRIVER in exact int64 NumPy —
    one Spark job per fit, since the sample is cap-bounded by
    construction. Every arithmetic step is exact:
    integer squared distances (|values| ≤ 2·grid ⇒ d ≤ 4·grid²·width
    < 2^63, exact), argmin with the (d, c) tie-break (np.argmin returns
    the FIRST minimum = smallest c), and the centroid update
    ``floor(sum/count + 0.5)`` with one IEEE double division (int sums
    ≤ cap·2·grid < 2^53 ⇒ the division operands are exact) — proven
    book-identical to the Spark-side fit on sf0.001/sf0.01/sf0.1 for
    raw, coarse, and pre-gridded inputs (tests/test_pq_grid.py).

    ``pre_gridded=True`` takes ``vec_col`` as ALREADY-integer grid
    vectors (e.g. coarse residuals: gridded vector minus integer
    centroid) and skips normalization+snapping — integer in, integer
    out, so residual-space fits stay exactly restatable.
    """
    import numpy as np

    if dim % n_subspaces:
        raise ValueError(f"pq_grid_fit: dim {dim} does not split evenly "
                         f"into {n_subspaces} subspaces")
    width = dim // n_subspaces
    cap = ivf_fit_cap(n_codes)
    xq = (F.transform(F.col(vec_col), lambda x: x.cast("bigint"))
          if pre_gridded else grid_vec(vec_col, grid))
    # BOUNDED collect: ≤ cap rows × dim ints (the fit sample; ~2 MB max)
    rows = (df.select(F.col(id_col).alias("_id"), xq.alias("_xq"))
            .orderBy("_id").limit(cap).collect())
    rows.sort(key=lambda r: r["_id"])
    if not rows:
        raise ValueError("pq_grid_fit: empty candidate set")
    # refuse (not filter) NULL or ragged sample rows: NumPy would fail
    # opaquely, and filtering would make the anchored init's
    # (s*n_codes+c) % n_samp indexing depend on more than the sample
    bad = [r["_id"] for r in rows
           if r["_xq"] is None or len(r["_xq"]) != dim]
    if bad:
        raise ValueError(
            f"pq_grid_fit: {len(bad)} sample row(s) with NULL or"
            f" wrong-length ({dim}-dim expected) vectors, first ids"
            f" {bad[:5]} — clean or re-project the candidate set first")
    mat = np.array([r["_xq"] for r in rows], dtype=np.int64)
    if pre_gridded and int(np.abs(mat).max(initial=0)) > 2 * grid:
        # the exactness proof (d ≤ 4·grid²·width < 2^63) assumes the
        # documented |x| ≤ 2·grid bound — overflow would be silent
        raise ValueError(
            "pq_grid_fit: pre_gridded sample exceeds the |x| <= "
            f"{2 * grid} bound (max abs {int(np.abs(mat).max())})")
    n_samp = len(rows)
    # anchored init: centroid (s, c) = subvector of the sample row with
    # rank (s*n_codes + c) % n_samp by id — exactly the SQL twin's
    # `samp.r = (s*n_codes + c) % nsamp` clause
    books = [np.stack([mat[(s * n_codes + c) % n_samp,
                           s * width:(s + 1) * width]
                       for c in range(n_codes)])
             for s in range(n_subspaces)]
    for _ in range(n_iters):
        nxt = []
        for s in range(n_subspaces):
            sub = mat[:, s * width:(s + 1) * width]
            book = books[s]
            diff = sub[:, None, :] - book[None, :, :]
            d = np.einsum("ncw,ncw->nc", diff, diff)  # exact int64
            code = d.argmin(axis=1)  # first min ⇒ (d ASC, c ASC)
            nb = book.copy()  # empty codes keep their previous centroid
            for c in range(n_codes):
                mask = code == c
                cnt = int(mask.sum())
                if cnt:
                    sums = sub[mask].sum(axis=0)
                    # floor(sum/count + 0.5): exact integer sum, ONE
                    # IEEE division — the SQL twin states the identical
                    # expression
                    nb[c] = np.array(
                        [math.floor(int(sv) / cnt + 0.5) for sv in sums],
                        dtype=np.int64)
            nxt.append(nb)
        books = nxt
    return [[[int(x) for x in ctr] for ctr in book] for book in books]


def pq_grid_codes(df: DataFrame, dim: int,
                  codebooks: list[list[list[int]]],
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  grid: int = GRID, pre_gridded: bool = False) -> DataFrame:
    """Corpus-wide assignment against literal integer codebooks — one
    narrow map, no shuffle, no Python. Output: (id, codes array<int>,
    err_sq_grid BIGINT = Σ per-subspace min squared grid distance — the
    exact-integer reconstruction audit). ``pre_gridded`` as in
    :func:`pq_grid_fit`."""
    n_subspaces = len(codebooks)
    width = dim // n_subspaces
    xq = (F.transform(F.col(vec_col), lambda x: x.cast("bigint"))
          if pre_gridded else grid_vec(vec_col, grid))
    staged = df.select(F.col(id_col), xq.alias("_xq")).select(
        id_col,
        *[_best_struct(F.col("_xq"), book, s, width).alias(f"_best{s}")
          for s, book in enumerate(codebooks)])
    err = reduce(add, [F.col(f"_best{s}").getField("d")
                       for s in range(n_subspaces)])
    return staged.select(
        id_col,
        F.array(*[F.col(f"_best{s}").getField("c").cast("int")
                  for s in range(n_subspaces)]).alias("codes"),
        err.cast("bigint").alias("err_sq_grid"))


def _adc_tables(xq: str, books: list[list[list[int]]], width: int) -> Column:
    """The query side of ADC: per subspace, the INTEGER squared distance
    from the query's subvector of ``xq`` to every code centroid."""
    tables = []
    for s, book in enumerate(books):
        sub = F.slice(xq, s * width + 1, width)
        tables.append(F.transform(lit_int_matrix(book),
                                  lambda ctr: _sq_dist(sub, ctr)))
    return F.array(*tables)


def _adc_rerank(pairs: DataFrame, queries: DataFrame,
                candidates: DataFrame, n_subspaces: int, k: int,
                k_adc: int, q_id: str, c_id: str, q_vec: str,
                c_vec: str) -> DataFrame:
    """The tail of every PQ rung: over ``pairs`` of candidate ``codes`` and
    query ``_dt`` tables, the ``k_adc`` nearest by exact BIGINT ADC
    distance ((adc_d, c_id) tie-break) exact-rerank to the top ``k``."""
    pairs = pairs.filter(F.col(q_id) != F.col(c_id))
    dist = reduce(add, [F.element_at(F.element_at("_dt", s + 1),
                                     F.col("codes")[s] + 1)
                        for s in range(n_subspaces)])
    pre = pairs.select(q_id, c_id, dist.cast("bigint").alias("adc_d"))
    w = Window.partitionBy(q_id).orderBy(F.asc("adc_d"), F.asc(c_id))
    pre = pre.withColumn("rank", F.row_number().over(w)) \
        .filter(F.col("rank") <= k_adc).select(q_id, c_id)
    return exact_rerank(pre, queries, candidates, k=k, q_id=q_id,
                        c_id=c_id, q_vec=q_vec, c_vec=c_vec)


def pq_grid_adc_rerank_topk(queries: DataFrame, candidates: DataFrame,
                            dim: int, k: int = 5, k_adc: int = 100,
                            n_subspaces: int = 4, n_codes: int = 16,
                            n_iters: int = 3, grid: int = GRID,
                            q_id: str = "q_id", c_id: str = "c_id",
                            q_vec: str = "q_vec",
                            c_vec: str = "c_vec") -> DataFrame:
    """The FAISS-PQ query shape over the deterministic grid codebooks:
    each query precomputes one (n_subspaces × n_codes) INTEGER distance
    table against the literal codebooks (broadcast), a candidate's ADC
    distance is m exact BIGINT lookups + adds over its codes, the k_adc
    survivors exact-rerank to top-k (float cosine rounded to 4 dp — the
    proven v16/v20 oracle bridge). Fully deterministic ⇒ full hash
    oracle (:func:`pq_grid_adc_sql`)."""
    books = pq_grid_fit(candidates, dim, n_subspaces=n_subspaces,
                        n_codes=n_codes, n_iters=n_iters,
                        id_col=c_id, vec_col=c_vec, grid=grid)
    codes = pq_grid_codes(candidates, dim, books, id_col=c_id,
                          vec_col=c_vec, grid=grid).select(c_id, "codes")

    q_n = queries.select(F.col(q_id), grid_vec(q_vec, grid).alias("_xq"))
    qdt = q_n.select(q_id, _adc_tables("_xq", books, dim // n_subspaces)
                     .alias("_dt"))
    return _adc_rerank(codes.crossJoin(F.broadcast(qdt)), queries,
                       candidates, n_subspaces, k, k_adc,
                       q_id, c_id, q_vec, c_vec)


# ------------------------------------------------------------ SQL twins

def _gv_sql(grid: int) -> str:
    """The grid_vec twin: identical IEEE op order (x / ||x|| * grid
    + 0.5, then floor) — list_dot_product folds left-to-right exactly
    like the Spark aggregate (the repo-wide parity primitive)."""
    return f"""CASE WHEN list_dot_product(v, v) = 0
      THEN list_transform(v, x -> CAST(0 AS BIGINT))
      ELSE list_transform(v, x -> CAST(floor(
             x / sqrt(list_dot_product(v, v)) * {grid} + 0.5) AS BIGINT))
      END"""


def _asg_sql(src: str, book: str, out_id: str, width: int) -> str:
    """One integer-argmin assignment block: squared grid distance of
    every ({src} row, {book} centroid) pair via a diff-list dot product
    (exact — values < 2^53)."""
    return f"""(
  SELECT {out_id}, s, c, CAST(list_dot_product(df, df) AS BIGINT) AS d
  FROM (SELECT t.vid AS {out_id}, b.s, b.c,
          list_transform(range(1, {width + 1}),
            i -> CAST(t.xq[b.s*{width} + i] - b.ctr[i] AS DOUBLE)) AS df
        FROM {src} t, {book} b))"""


def pq_grid_fit_ctes(table: str = "embeddings", id_col: str = "vec_id",
                     vec_col: str = "embedding", dim: int = 64,
                     n_subspaces: int = 4, n_codes: int = 16,
                     n_iters: int = 3, grid: int = GRID,
                     prefix: str = "pq",
                     gv_src: str | None = None) -> tuple[str, str]:
    """CTE chain restating the ENTIRE deterministic fit + corpus
    assignment: (ctes_text, final_book_name). Downstream clauses read
    ``{prefix}_gv`` (gridded vectors) and ``{prefix}_codes``
    (vid, s, c, d). ``prefix`` namespaces the CTEs so two independent
    fits (e.g. v19's coarse quantizer + PQ codebooks) compose in one
    WITH; the default keeps the v17/v18 SQL byte-identical. ``gv_src``
    names an EXISTING (vid, xq) CTE to fit over instead of gridding
    ``table`` — the SQL form of pq_grid_fit's ``pre_gridded`` (residual
    fits)."""
    width = dim // n_subspaces
    cap = ivf_fit_cap(n_codes)
    p = prefix
    head = (f"""{p}_gv AS (
  SELECT vid, xq FROM {gv_src}
), {p}_samp AS ("""
            if gv_src is not None else
            f"""{p}_raw AS (
  SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS v FROM {table}
), {p}_gv AS (
  SELECT vid, {_gv_sql(grid)} AS xq FROM {p}_raw
), {p}_samp AS (""")
    parts = [head + f"""
  SELECT vid, xq, row_number() OVER (ORDER BY vid) - 1 AS r
  FROM (SELECT * FROM {p}_gv ORDER BY vid LIMIT {cap})
), {p}_nsamp AS (SELECT count(*) AS n FROM {p}_samp),
{p}_sc AS (
  SELECT s.s, c.c FROM (SELECT unnest(range(0, {n_subspaces})) AS s) s,
                       (SELECT unnest(range(0, {n_codes})) AS c) c
), {p}_book0 AS (
  SELECT {p}_sc.s, {p}_sc.c,
    list_transform(range(1, {width + 1}),
                   i -> {p}_samp.xq[{p}_sc.s*{width} + i]) AS ctr
  FROM {p}_sc JOIN {p}_samp
    ON {p}_samp.r = ({p}_sc.s*{n_codes} + {p}_sc.c)
               % (SELECT n FROM {p}_nsamp)
)"""]
    for t in range(1, n_iters + 1):
        parts.append(f"""{p}_asg{t} AS {_asg_sql(f'{p}_samp',
                                                f'{p}_book{t - 1}',
                                                'vid', width)},
{p}_best{t} AS (
  SELECT vid, s, c FROM (
    SELECT vid, s, c,
      row_number() OVER (PARTITION BY vid, s ORDER BY d ASC, c ASC) AS rn
    FROM {p}_asg{t}) WHERE rn = 1
), {p}_upd{t} AS (
  SELECT u.s, u.c,
    list(CAST(floor(CAST(u.sm AS DOUBLE) / u.n + 0.5) AS BIGINT)
         ORDER BY u.i) AS ctr
  FROM (
    SELECT bb.s, bb.c, ii.i,
      sum(smp.xq[bb.s*{width} + ii.i]) AS sm, count(*) AS n
    FROM {p}_best{t} bb JOIN {p}_samp smp USING (vid),
         (SELECT unnest(range(1, {width + 1})) AS i) ii
    GROUP BY bb.s, bb.c, ii.i) u
  GROUP BY u.s, u.c
), {p}_book{t} AS (
  SELECT b.s, b.c, COALESCE(u.ctr, b.ctr) AS ctr
  FROM {p}_book{t - 1} b
  LEFT JOIN {p}_upd{t} u ON u.s = b.s AND u.c = b.c
)""")
    book = f"{p}_book{n_iters}"
    parts.append(f"""{p}_all AS {_asg_sql(f'{p}_gv', book, 'vid', width)},
{p}_codes AS (
  SELECT vid, s, c, d FROM (
    SELECT vid, s, c, d,
      row_number() OVER (PARTITION BY vid, s ORDER BY d ASC, c ASC) AS rn
    FROM {p}_all) WHERE rn = 1
)""")
    return ",\n".join(parts), book


def pq_grid_codes_sql(**kw) -> str:
    """DuckDB twin of the v17 registry output: dash-joined codes +
    exact-integer reconstruction error."""
    ctes, _ = pq_grid_fit_ctes(**kw)
    return f"""
WITH {ctes}
SELECT vid AS vec_id,
  string_agg(c::VARCHAR, '-' ORDER BY s) AS codes,
  CAST(sum(d) AS BIGINT) AS err_sq_grid
FROM pq_codes GROUP BY vid
"""


def pq_grid_adc_ctes(query_filter: str = "vid % 100 = 0",
                     k: int = 5, k_adc: int = 100, **kw) -> str:
    """Extend the fit chain with the ADC + exact-rerank query path;
    downstream reads ``pq_picks`` (q_id, c_id, score, rank)."""
    dim = kw.get("dim", 64)
    n_subspaces = kw.get("n_subspaces", 4)
    width = dim // n_subspaces
    ctes, book = pq_grid_fit_ctes(**kw)
    cos = cosine_sql("q.v", "c.v")
    return f"""{ctes},
pq_qgv AS (SELECT vid, xq FROM pq_gv WHERE {query_filter}),
pq_qdt AS {_asg_sql('pq_qgv', book, 'q_id', width)},
pq_adc AS (
  SELECT t.q_id, k.vid AS c_id, CAST(sum(t.d) AS BIGINT) AS adc_d
  FROM pq_codes k JOIN pq_qdt t ON t.s = k.s AND t.c = k.c
  WHERE k.vid <> t.q_id
  GROUP BY t.q_id, k.vid
), pq_pre AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
      row_number() OVER (PARTITION BY q_id
                         ORDER BY adc_d ASC, c_id ASC) AS rn
    FROM pq_adc) WHERE rn <= {k_adc}
), pq_rerank AS (
  SELECT p.q_id, p.c_id, round({cos}, 4) AS score
  FROM pq_pre p JOIN pq_raw q ON q.vid = p.q_id
                JOIN pq_raw c ON c.vid = p.c_id
), pq_picks AS (
  SELECT q_id, c_id, score, rank FROM (
    SELECT q_id, c_id, score,
      CAST(row_number() OVER (PARTITION BY q_id
                              ORDER BY score DESC, c_id ASC) AS BIGINT)
        AS rank
    FROM pq_rerank) WHERE rank <= {k}
)"""


def pq_grid_adc_sql(**kw) -> str:
    """DuckDB twin of the v18 registry output."""
    return f"""
WITH {pq_grid_adc_ctes(**kw)}
SELECT q_id, c_id, score, rank FROM pq_picks
"""


# ----------------------------------------------------- grid IVF / IVF-PQ

def _probe_cells(queries: DataFrame, coarse_book: list[list[int]],
                 n_probe: int, q_id: str, q_vec: str,
                 grid: int) -> DataFrame:
    """(q_id, _xq, _cell): each query's gridded vector and its ``n_probe``
    nearest coarse centroids by exact BIGINT grid distance with the
    (d, cell) tie-break — array_sort over (distance, cell) structs = the
    SQL twin's ``row_number() OVER (ORDER BY d ASC, c ASC) <= n_probe``."""
    book_lit = lit_int_matrix(coarse_book)
    dists = F.transform(book_lit, lambda ctr, i: F.struct(
        _sq_dist(F.col("_xq"), ctr).alias("d"), i.alias("cell")))
    q_gv = queries.select(F.col(q_id), grid_vec(q_vec, grid).alias("_xq"))
    return q_gv.select(
        F.col(q_id), F.col("_xq"),
        F.explode(F.transform(F.slice(F.array_sort(dists), 1, n_probe),
                              lambda st: st["cell"])).alias("_cell"))


def _coarse_cells(candidates: DataFrame, dim: int, n_cells: int,
                  n_iters: int, grid: int, c_id: str,
                  c_vec: str) -> tuple[list[list[int]], DataFrame]:
    """The IVF rungs' coarse quantizer — :func:`pq_grid_fit` with one
    full-width subspace — as (centroids, (c_id, _cell) per candidate)."""
    coarse = pq_grid_fit(candidates, dim, n_subspaces=1, n_codes=n_cells,
                         n_iters=n_iters, id_col=c_id, vec_col=c_vec,
                         grid=grid)
    cells = pq_grid_codes(candidates, dim, coarse, id_col=c_id,
                          vec_col=c_vec, grid=grid) \
        .select(c_id, F.col("codes")[0].alias("_cell"))
    return coarse[0], cells


def ivf_grid_topk(queries: DataFrame, candidates: DataFrame, dim: int,
                  k: int = 5, n_cells: int = 16, n_probe: int = 2,
                  n_iters: int = 3, grid: int = GRID,
                  q_id: str = "q_id", c_id: str = "c_id",
                  q_vec: str = "q_vec", c_vec: str = "c_vec") -> DataFrame:
    """IVF ANN over the DETERMINISTIC grid-Lloyd coarse quantizer, with
    a full hash oracle. The coarse quantizer IS
    :func:`pq_grid_fit` with ``n_subspaces=1``: 16 full-width centroids,
    anchored init + 3 Lloyd steps on the 1e-4 grid, so the whole fit
    (and hence the inverted file) restates in SQL clause by clause
    (:func:`ivf_grid_topk_sql`).

    Query path: probe the ``n_probe`` nearest cells (integer distance,
    (d, cell) tie-break), exact cosine rerank ONLY within probed cells.
    Approximate w.r.t. true top-k (recall < 1 when the neighbor lives in
    an unprobed cell) yet fully deterministic w.r.t. the oracle — the
    v6 LSH precedent. Scale shape: bounded fit sample, one narrow
    assignment map, the probe list broadcast into the cell equi-join;
    only Q·n_probe/n_cells of the corpus is scored."""
    centroids, cells = _coarse_cells(candidates, dim, n_cells, n_iters,
                                     grid, c_id, c_vec)
    probed = _probe_cells(queries, centroids, n_probe, q_id, q_vec, grid) \
        .select(q_id, "_cell")
    pre = cells.join(F.broadcast(probed), "_cell") \
        .filter(F.col(q_id) != F.col(c_id)).select(q_id, c_id)
    return exact_rerank(pre, queries, candidates, k=k, q_id=q_id,
                        c_id=c_id, q_vec=q_vec, c_vec=c_vec)


def ivfpq_grid_topk(queries: DataFrame, candidates: DataFrame, dim: int,
                    k: int = 5, n_cells: int = 16, n_probe: int = 4,
                    n_subspaces: int = 4, n_codes: int = 16,
                    n_iters: int = 3, k_adc: int = 100, grid: int = GRID,
                    q_id: str = "q_id", c_id: str = "c_id",
                    q_vec: str = "q_vec", c_vec: str = "c_vec") -> DataFrame:
    """Full IVF-PQ retrieval over deterministic grid fits: the grid coarse
    quantizer (``n_subspaces=1``) routes queries to ``n_probe``/
    ``n_cells`` of the corpus, global grid-PQ codes shrink in-cell
    storage, integer ADC lookups score the probed cells' codes, the
    ``k_adc`` survivors exact-rerank to top-k.

    The PQ codes encode the RAW gridded vector, not the within-cell
    residual: the residual form (:func:`ivfpq_grid_residual_topk`) doubles
    the oracle's CTE chain for a recall delta the k_adc=100 rerank already
    absorbs on the isotropic fixture; on clustered data it recalls more
    (tests/test_pq_grid.py asserts the direction). Deterministic
    end-to-end ⇒ full hash oracle (:func:`ivfpq_grid_topk_sql`)."""
    centroids, cells = _coarse_cells(candidates, dim, n_cells, n_iters,
                                     grid, c_id, c_vec)
    books = pq_grid_fit(candidates, dim, n_subspaces=n_subspaces,
                        n_codes=n_codes, n_iters=n_iters, id_col=c_id,
                        vec_col=c_vec, grid=grid)
    cand = pq_grid_codes(candidates, dim, books, id_col=c_id,
                         vec_col=c_vec, grid=grid) \
        .select(c_id, "codes").join(cells, c_id)

    probes = _probe_cells(queries, centroids, n_probe, q_id, q_vec,
                          grid).select(
        q_id, "_cell",
        _adc_tables("_xq", books, dim // n_subspaces).alias("_dt"))
    return _adc_rerank(cand.join(F.broadcast(probes), "_cell"), queries,
                       candidates, n_subspaces, k, k_adc,
                       q_id, c_id, q_vec, c_vec)


def ivfpq_grid_residual_topk(queries: DataFrame, candidates: DataFrame,
                             dim: int, k: int = 5, n_cells: int = 16,
                             n_probe: int = 4, n_subspaces: int = 4,
                             n_codes: int = 16, n_iters: int = 3,
                             k_adc: int = 100, grid: int = GRID,
                             q_id: str = "q_id", c_id: str = "c_id",
                             q_vec: str = "q_vec",
                             c_vec: str = "c_vec") -> DataFrame:
    """RESIDUAL-encoding grid IVF-PQ — the textbook FAISS IVFPQ form
    (Jégou et al. 2011) with every stage still inside the oracle: PQ
    codes encode ``x − centroid(cell(x))`` instead of ``x``. Within a
    cell the residual distribution is tighter than the raw one, so the
    same code budget reconstructs finer. On the INTEGER grid the
    residual is exact (gridded vector minus integer centroid — BIGINT
    in, BIGINT out, via ``pre_gridded``), so the residual form keeps the
    FULL hash oracle (:func:`ivfpq_grid_residual_topk_sql`).

    Query side: the ADC distance table is per (query, probed cell) —
    the query's residual AGAINST THAT CELL's centroid — which is the
    structural cost of residual encoding (n_probe tables per query
    instead of one); the table count is still query-side-bounded, never
    corpus-scale. Candidate codes join on the cell AND score against
    the matching (query, cell) table."""
    centroids, cells = _coarse_cells(candidates, dim, n_cells, n_iters,
                                     grid, c_id, c_vec)
    centers_lit = lit_int_matrix(centroids)

    def residuals(gv: DataFrame, id_col: str) -> DataFrame:
        # LINEAGE CUT (SCALE.md): _rv embeds the 1k-literal centroid
        # array + the coarse argmin tree, and the PQ fit/codes (corpus
        # side) and the 64 distance tables (query side) reference it many
        # times; Catalyst INLINES each reference, so without this narrow
        # (id, cell, residual) materialization analysis/codegen hangs.
        return gv.select(
            id_col, "_cell",
            F.zip_with("_xq", F.element_at(centers_lit, F.col("_cell") + 1),
                       lambda a, b: a - b).alias("_rv"),
        ).localCheckpoint(eager=True)

    c_gv = candidates.select(F.col(c_id),
                             grid_vec(c_vec, grid).alias("_xq"))
    resid = residuals(c_gv.join(cells, c_id), c_id)
    books = pq_grid_fit(resid, dim, n_subspaces=n_subspaces,
                        n_codes=n_codes, n_iters=n_iters, id_col=c_id,
                        vec_col="_rv", grid=grid, pre_gridded=True)
    cand = pq_grid_codes(resid, dim, books, id_col=c_id, vec_col="_rv",
                         grid=grid, pre_gridded=True) \
        .select(c_id, "codes").join(resid.select(c_id, "_cell"), c_id)

    q_rv = residuals(_probe_cells(queries, centroids, n_probe, q_id, q_vec,
                                  grid), q_id)
    probes = q_rv.select(
        q_id, "_cell",
        _adc_tables("_rv", books, dim // n_subspaces).alias("_dt"))
    return _adc_rerank(cand.join(F.broadcast(probes), "_cell"), queries,
                       candidates, n_subspaces, k, k_adc,
                       q_id, c_id, q_vec, c_vec)


def _probe_sql(book: str, dim: int, n_probe: int,
               query_src: str = "iv_q") -> str:
    """The query-probing CTE pair: full-width distance to every coarse
    centroid, then ``rn <= n_probe`` with the (d, c) tie-break."""
    return f"""iv_qd AS {_asg_sql(query_src, book, 'q_id', dim)},
iv_probe AS (
  SELECT q_id, c AS cell FROM (
    SELECT q_id, c,
      row_number() OVER (PARTITION BY q_id ORDER BY d ASC, c ASC) AS rn
    FROM iv_qd) WHERE rn <= {n_probe}
)"""


def _picks_sql(k: int, rerank_src: str) -> str:
    """Exact-rerank tail shared by both IVF twins: cosine over the raw
    doubles (rounded 4 dp — the v16/v20 oracle bridge), (score DESC,
    c_id ASC) row_number, top-k."""
    cos = cosine_sql("q.v", "c.v")
    return f"""iv_rerank AS (
  SELECT p.q_id, p.c_id, round({cos}, 4) AS score
  FROM {rerank_src} p JOIN cq_raw q ON q.vid = p.q_id
                      JOIN cq_raw c ON c.vid = p.c_id
), iv_picks AS (
  SELECT q_id, c_id, score,
    CAST(row_number() OVER (PARTITION BY q_id
                            ORDER BY score DESC, c_id ASC) AS BIGINT)
      AS rank
  FROM iv_rerank)
SELECT q_id, c_id, score, rank FROM iv_picks WHERE rank <= {k}"""


def ivf_grid_topk_sql(query_filter: str = "vid % 100 = 0", k: int = 5,
                      n_cells: int = 16, n_probe: int = 2,
                      table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding", dim: int = 64,
                      n_iters: int = 3, grid: int = GRID) -> str:
    """DuckDB twin of :func:`ivf_grid_topk` (the v8 registry output)."""
    ctes, book = pq_grid_fit_ctes(table=table, id_col=id_col,
                                  vec_col=vec_col, dim=dim,
                                  n_subspaces=1, n_codes=n_cells,
                                  n_iters=n_iters, grid=grid, prefix="cq")
    return f"""
WITH {ctes},
iv_q AS (SELECT vid, xq FROM cq_gv WHERE {query_filter}),
{_probe_sql(book, dim, n_probe)},
iv_pre AS (
  SELECT p.q_id, cc.vid AS c_id
  FROM iv_probe p JOIN cq_codes cc ON cc.c = p.cell
  WHERE cc.vid <> p.q_id
), {_picks_sql(k, 'iv_pre')}
"""


def ivfpq_grid_residual_topk_sql(query_filter: str = "vid % 100 = 0",
                                 k: int = 5, n_cells: int = 16,
                                 n_probe: int = 4, n_subspaces: int = 4,
                                 n_codes: int = 16, k_adc: int = 100,
                                 table: str = "embeddings",
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 dim: int = 64, n_iters: int = 3,
                                 grid: int = GRID) -> str:
    """DuckDB twin of :func:`ivfpq_grid_residual_topk`: the coarse
    chain, an integer residual CTE, the PQ chain refit over residuals
    (``gv_src``), per-(query, probed-cell) residual distance tables
    keyed by the synthetic ``q_id·n_cells + cell`` id, cell-matched ADC,
    exact rerank."""
    cq_ctes, cq_book = pq_grid_fit_ctes(table=table, id_col=id_col,
                                        vec_col=vec_col, dim=dim,
                                        n_subspaces=1, n_codes=n_cells,
                                        n_iters=n_iters, grid=grid,
                                        prefix="cq")
    pq_ctes, pq_book = pq_grid_fit_ctes(dim=dim,
                                        n_subspaces=n_subspaces,
                                        n_codes=n_codes, n_iters=n_iters,
                                        grid=grid, prefix="pq",
                                        gv_src="rs_src")
    width = dim // n_subspaces
    return f"""
WITH {cq_ctes},
rs_src AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: the PQ chain references this CTE
  -- once per fit stage, and DuckDB would otherwise INLINE (recompute)
  -- the whole coarse chain inside every reference — the SQL twin of
  -- the Spark side's localCheckpoint lineage cut
  SELECT g.vid,
    list_transform(range(1, {dim + 1}), i -> g.xq[i] - b.ctr[i]) AS xq
  FROM cq_gv g JOIN cq_codes cc ON cc.vid = g.vid
       JOIN {cq_book} b ON b.s = 0 AND b.c = cc.c
),
{pq_ctes},
iv_q AS (SELECT vid, xq FROM cq_gv WHERE {query_filter}),
{_probe_sql(cq_book, dim, n_probe)},
iv_qrs AS (
  SELECT p.q_id * {n_cells} + p.cell AS vid,
    list_transform(range(1, {dim + 1}), i -> g.xq[i] - b.ctr[i]) AS xq
  FROM iv_probe p JOIN iv_q g ON g.vid = p.q_id
       JOIN {cq_book} b ON b.s = 0 AND b.c = p.cell
),
pq_qdt AS {_asg_sql('iv_qrs', pq_book, 'qc_id', width)},
iv_adc AS (
  SELECT t.qc_id // {n_cells} AS q_id, k.vid AS c_id,
    CAST(sum(t.d) AS BIGINT) AS adc_d
  FROM pq_codes k
  JOIN cq_codes cc ON cc.vid = k.vid
  JOIN pq_qdt t ON (t.qc_id % {n_cells}) = cc.c
                AND t.s = k.s AND t.c = k.c
  WHERE k.vid <> t.qc_id // {n_cells}
  GROUP BY 1, 2
), iv_pre AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
      row_number() OVER (PARTITION BY q_id
                         ORDER BY adc_d ASC, c_id ASC) AS rn
    FROM iv_adc) WHERE rn <= {k_adc}
), {_picks_sql(k, 'iv_pre')}
"""


def ivfpq_grid_topk_sql(query_filter: str = "vid % 100 = 0", k: int = 5,
                        n_cells: int = 16, n_probe: int = 4,
                        n_subspaces: int = 4, n_codes: int = 16,
                        k_adc: int = 100, table: str = "embeddings",
                        id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int = 64,
                        n_iters: int = 3, grid: int = GRID) -> str:
    """DuckDB twin of :func:`ivfpq_grid_topk` (the v19 registry output):
    the coarse chain (prefix ``cq``) and the PQ chain (prefix ``pq``)
    compose in one WITH, then probe → in-cell ADC → rerank."""
    cq_ctes, cq_book = pq_grid_fit_ctes(table=table, id_col=id_col,
                                        vec_col=vec_col, dim=dim,
                                        n_subspaces=1, n_codes=n_cells,
                                        n_iters=n_iters, grid=grid,
                                        prefix="cq")
    pq_ctes, pq_book = pq_grid_fit_ctes(table=table, id_col=id_col,
                                        vec_col=vec_col, dim=dim,
                                        n_subspaces=n_subspaces,
                                        n_codes=n_codes, n_iters=n_iters,
                                        grid=grid, prefix="pq")
    width = dim // n_subspaces
    return f"""
WITH {cq_ctes},
{pq_ctes},
iv_q AS (SELECT vid, xq FROM cq_gv WHERE {query_filter}),
{_probe_sql(cq_book, dim, n_probe)},
pq_qdt AS {_asg_sql('iv_q', pq_book, 'q_id', width)},
iv_adc AS (
  SELECT t.q_id, k.vid AS c_id, CAST(sum(t.d) AS BIGINT) AS adc_d
  FROM pq_codes k
  JOIN cq_codes cc ON cc.vid = k.vid
  JOIN iv_probe p ON p.cell = cc.c
  JOIN pq_qdt t ON t.q_id = p.q_id AND t.s = k.s AND t.c = k.c
  WHERE k.vid <> t.q_id
  GROUP BY t.q_id, k.vid
), iv_pre AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
      row_number() OVER (PARTITION BY q_id
                         ORDER BY adc_d ASC, c_id ASC) AS rn
    FROM iv_adc) WHERE rn <= {k_adc}
), {_picks_sql(k, 'iv_pre')}
"""
