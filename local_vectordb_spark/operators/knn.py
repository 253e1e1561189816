"""Exact cosine kNN search (SURVEY §2 ops Q1-Q3, Q6, Q8).

The reference's flat index scores a query against every stored vector
in a Python loop, sorts, truncates
(/root/reference/src/models/collection.py:294-335).

- One literal query (knn_brute_force, range_search, score_all) is a
  declarative scan → score → ``ORDER BY .. LIMIT k``, which Catalyst
  compiles to ``TakeOrderedAndProject``: a per-partition top-k heap
  merged on the driver, one pass, no shuffle of scored rows. Named
  ``extra_cols`` of the scanned rows (a search's ``content``) ride
  through that heap, so a caller that ranks base rows needs no join
  to hydrate its winners.
- A driver-side query list (knn_batch) closes its unit query matrix
  over an Arrow pandas UDF: one BLAS matmul per corpus batch, one
  per-query top-k window.
- A query TABLE (knn_batch_table) is the one exact top-k kernel for
  every table-shaped caller — the table-batch search, the kNN graph
  and the nsw graph builds: blocked BLAS partial top-k per (query
  block, corpus block) group, then one window merge.

Every score is rounded to SCORE_DECIMALS, every order is (score desc,
id asc), and a zero-norm vector scores 0.0.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from local_vectordb_spark.operators.incremental import bucket_of


SCORE_DECIMALS = 6  # stable cross-engine comparison of double-precision scores


def _unit(v: Sequence[float]) -> list[float]:
    n = math.sqrt(sum(float(x) * float(x) for x in v))
    return [float(x) / n if n else 0.0 for x in v]


def sql_double(x: float) -> str:
    """A SQL literal that parses to exactly the double ``x``: the
    shortest round-tripping decimal, or a cast for NaN and ±Infinity."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x in (float("inf"), float("-inf")):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def knn_brute_force(
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact top-k by cosine similarity for one literal query vector:
    (id_col, score, *extra_cols), at most ``k`` rows in (score desc,
    id asc) order.

    Mirrors BruteForceCosineSimilarityIndex.search
    (/root/reference/src/models/collection.py:294-335), re-expressed as
    scan → score → ORDER BY/LIMIT, which Catalyst compiles to
    TakeOrderedAndProject: a per-partition top-k heap merged on the
    driver — one pass, no shuffle, optimal for exact kNN at any scale.

    The query vector is normalized driver-side so per-row work is a
    single dot product plus the row's own norm (cosine = dot(e, q̂)/‖e‖),
    and ties are broken by id ascending (the reference's sort is
    unstable on ties). ``extra_cols`` are carried through the top-k
    heap unchanged (see :func:`score_all`).
    """
    return (
        score_all(
            vectors, query_vec, id_col=id_col, vec_col=vec_col,
            extra_cols=extra_cols,
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def score_all(
    vectors: DataFrame,
    query_vec: Sequence[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """(id, score, *extra_cols) for EVERY vector vs one literal query —
    the shared scoring scan under brute-force kNN and graph traversal
    (lazy: only the rows a consumer touches are ever scored).
    ``extra_cols`` name columns of ``vectors`` passed through as they
    are, so a top-k over this scan returns them with no second read.

    The whole score is ONE generated-SQL expr(), so its construction is
    one py4j call instead of ~30 for the Column form (l2_norm +
    dot_product + when/otherwise); the string parses to the identical
    tree, so every score is the Column form's. Non-finite query
    components and backticks in the column name are spelled so the
    string always parses as the intended expression."""
    qn = "array(" + ", ".join(sql_double(x) for x in _unit(query_vec)) + ")"
    v = f"CAST(`{vec_col.replace('`', '``')}` AS ARRAY<DOUBLE>)"
    fold = "0.0D, (acc, x) -> acc + x"
    norm = f"sqrt(aggregate(zip_with({v}, {v}, (x, y) -> x * y), {fold}))"
    dot = f"aggregate(zip_with({v}, {qn}, (x, y) -> x * y), {fold})"
    score = (
        f"round(CASE WHEN {norm} = 0.0D THEN 0.0D"
        f" ELSE {dot} / {norm} END, {SCORE_DECIMALS})"
    )
    return vectors.select(
        F.col(id_col), F.expr(score).alias("score"), *extra_cols
    )


def range_search(
    vectors: DataFrame,
    query_vec: Sequence[float],
    min_score: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All vectors with cosine similarity ≥ ``min_score`` to the query —
    radius/threshold search, the set-valued dual of top-k (the
    reference exposes only top-k; range search is the standard
    companion surface in vector stores and the primitive under
    near-duplicate candidate pulls like "everything ≥ 0.9 to this
    centroid").

    Physically it is the same single scan as :func:`knn_brute_force`
    with the threshold as a plain Catalyst filter instead of a top-k
    heap: embarrassingly parallel, no shuffle, and the result is
    unbounded by design (callers wanting a cap compose ``.limit``).
    Ordered (score desc, id asc) like every other search output.
    """
    return (
        score_all(vectors, query_vec, id_col=id_col, vec_col=vec_col)
        .filter(F.col("score") >= F.lit(float(min_score)))
        .orderBy(F.desc("score"), F.asc(id_col))
    )


def knn_batch(
    vectors: DataFrame,
    query_rows: Sequence[tuple[int, Sequence[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k per query for a *set* of queries (bulk similarity search).

    ``query_rows`` is a small driver-side list of (query_id, vector) —
    the analogue of the reference embedding each query text before the
    scan.  Scoring is an Arrow-batched pandas UDF computing one BLAS
    matmul per batch (corpus_batch × query_matrixᵀ): the corpus is
    scanned exactly once for all queries, work per element is a fused
    multiply-add, and the only shuffle is the per-query top-k window
    over |queries|·|corpus| (id, score) pairs.  SURVEY §4: Arrow
    matmul replaces the reference's per-pair numpy loop.

    Queries too many to collect take :func:`knn_batch_table`.
    """
    qids = [int(i) for i, _ in query_rows]
    qmat = np.array([_unit(v) for _, v in query_rows], dtype=np.float64).T

    @F.pandas_udf(ArrayType(DoubleType()))
    def scores(col: pd.Series) -> pd.Series:
        m = np.array(col.tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        s = (m @ qmat) / np.where(norms == 0.0, 1.0, norms)
        s[norms[:, 0] == 0.0] = 0.0
        return pd.Series(list(s))

    qid_arr = F.array(*[F.lit(i) for i in qids])
    exploded = (
        vectors.select(F.col(id_col), scores(F.col(vec_col)).alias("s"))
        .select(
            F.col(id_col),
            F.explode(F.arrays_zip(qid_arr.alias("query_id"), F.col("s").alias("sc"))),
        )
        .select(
            F.col("col.query_id").alias("query_id"),
            F.col(id_col),
            F.round(F.col("col.sc"), SCORE_DECIMALS).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


# rows of one side per (query block, corpus block) group of the exact
# top-k kernel: a group's score matrix is at most this squared doubles
# (8 MiB), each row is replicated once per block of the other side, and
# a 2,000-row self-join already splits into 4 groups, one per core at
# local[4] (2048 rows per block measured 1.5x slower there)
ROWS_PER_BLOCK = 1024


def _blocks(df: DataFrame, n_rows: int | None = None) -> int:
    n = df.count() if n_rows is None else n_rows
    return max(1, -(-n // ROWS_PER_BLOCK))


def _unit_rows(vecs: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(unit-normalized float64 rows, NULL mask). A NULL row is a zero
    row under the mask; a zero-norm row stays zero, so its every score
    is 0.0 (the reference's zero-norm rule)."""
    null = vecs.isna().to_numpy()
    valid = vecs[~null].tolist()
    m = np.zeros((len(vecs), len(valid[0]) if valid else 0))
    if valid:
        m[~null] = valid
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(norms == 0.0, 1.0, norms), null


def knn_batch_table(
    vectors: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    exclude_self: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of every query row against ``vectors``, with
    the query set as a DATAFRAME — the one exact top-k kernel under the
    table-batch search, the kNN graph and the nsw graph builds. Output:
    (query_id_col, id_col, score), ``score`` rounded to SCORE_DECIMALS,
    at most ``k`` rows per query in (score desc, id asc) order. Ids of
    either side may be of any orderable type (long, uuid string).

    ``queries=None`` queries the corpus with itself (its ``id_col`` and
    ``vec_col``). ``exclude_self`` drops the pairs whose two ids are
    equal BEFORE ranking, so a query keeps ``k`` other neighbours.
    ``n_rows`` is the row count of ``vectors`` when the caller holds
    it; the kernel counts otherwise (and always counts a query table).

    Each side is hashed into ``ceil(rows / ROWS_PER_BLOCK)`` blocks;
    every (query block, corpus block) pair is one cogrouped
    ``applyInPandas`` group that unit-normalizes both sides, runs one
    matmul and keeps a partial top-k per query row (REPOSE's
    partition-local top-k), and one (score desc, id asc) window merges
    at most (corpus blocks × k) rows per query. Scores follow Spark's
    cosine expression on the edge rows: a zero-norm side scores 0.0,
    a NaN component scores NaN (ranked first, as Spark orders NaN
    above every number), a NULL vector scores NULL (ranked last)."""
    n_c = _blocks(vectors, n_rows)
    if queries is None:
        queries, q_id, q_vec, n_q = vectors, id_col, vec_col, n_c
    else:
        q_id, q_vec, n_q = query_id_col, query_vec_col, _blocks(queries)

    def every(n: int) -> Column:
        return F.explode(F.sequence(F.lit(0), F.lit(n - 1)))

    qside = queries.select(
        F.col(q_id).alias("_q"), F.col(q_vec).alias("_v"),
        bucket_of(n_q, q_id).alias("_qb"), every(n_c).alias("_cb"),
    )
    cside = vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        every(n_q).alias("_qb"), bucket_of(n_c, id_col).alias("_cb"),
    )
    schema = StructType([
        StructField("_q", queries.schema[q_id].dataType),
        StructField("_id", vectors.schema[id_col].dataType),
        StructField("score", DoubleType()),
    ])

    def block_topk(q: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
        if q.empty or c.empty or k < 1:
            return pd.DataFrame({"_q": [], "_id": [], "score": []})
        c = c.sort_values("_id", kind="stable")
        qid, cid = q["_q"].to_numpy(), c["_id"].to_numpy()
        (qu, qnull), (cu, cnull) = _unit_rows(q["_v"]), _unit_rows(c["_v"])
        s = np.zeros((len(q), len(c)))
        if qu.shape[1] and cu.shape[1]:  # else one side is all NULL
            s = np.round(qu @ cu.T, SCORE_DECIMALS)
        # rank of a pair in Spark's (score desc) order as an exact
        # integer — NaN first, NULL last, an excluded self after all —
        # then one int64 key per pair, unique in its row, whose low
        # part is the column: c is id-sorted, so ties go id ascending
        top = 10**SCORE_DECIMALS
        rank = np.rint(-s * top)
        rank[np.isnan(s)] = -top - 1
        rank[qnull] = top + 1
        rank[:, cnull] = top + 1
        if exclude_self:
            pos = np.searchsorted(cid, qid).clip(0, len(cid) - 1)
            hit = np.flatnonzero(cid[pos] == qid)
            rank[hit, pos[hit]] = top + 2
        key = rank.astype(np.int64) * len(cid) + np.arange(len(cid))
        kk = min(k, len(cid))
        best = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        best = np.take_along_axis(
            best, np.argsort(np.take_along_axis(key, best, axis=1)), axis=1
        )
        picked = np.take_along_axis(rank, best, axis=1).ravel()
        score = np.take_along_axis(s, best, axis=1).ravel()
        # Arrow turns a pandas NaN into NULL: a NaN score travels as
        # +inf (no cosine is infinite) and a NULL one as NaN
        score = np.where(np.isnan(score), np.inf, score)
        score[picked == top + 1] = np.nan
        keep = picked != top + 2
        return pd.DataFrame({
            "_q": np.repeat(qid, kk)[keep],
            "_id": cid[best].ravel()[keep],
            "score": score[keep],
        })

    partial = (
        qside.groupBy("_qb", "_cb")
        .cogroup(cside.groupBy("_qb", "_cb"))
        .applyInPandas(block_topk, schema)
    )
    w = Window.partitionBy("_q").orderBy(F.desc("score"), F.asc("_id"))
    score = F.col("score")
    return (
        partial.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select(
            F.col("_q").alias(query_id_col),
            F.col("_id").alias(id_col),
            F.when(score == float("inf"), float("nan"))
            .otherwise(score)
            .alias("score"),
        )
    )


def hydrate(
    results: DataFrame,
    records: DataFrame,
    id_col: str = "vec_id",
    record_id_col: str = "doc_id",
    content_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Join (id, score) results back to their source records (SURVEY Q6).

    For rankings that are NOT a scan of the records themselves: the
    artifact-ranked single searches (sign, ivf, the nsw traversal,
    hybrid, mmr), the batch searches and the registry's
    ``knn_hydrated``. A ranking that scans the records carries
    ``content`` through its own top-k instead (``extra_cols``).

    Invariants: an id whose record is missing is dropped (the
    reference's hydrate-by-file-read skips it, its
    src/models/collection.py:199-215), as an inner
    join whose result side is broadcast (k rows per query); the
    output is (*keep_cols, id_col, score, content) in (*keep_cols,
    score desc, id asc) order — the reference sorts before hydrating
    (collection.py:334-335) and a join keeps no order. A caller that
    knows its result has at most k rows appends ``.limit(k)``, which
    turns the sort into a TakeOrderedAndProject instead of a range
    exchange.
    """
    proj = records.select(
        F.col(record_id_col).alias(id_col), F.col(content_col).alias("content")
    )
    return (
        F.broadcast(results)
        .join(proj, id_col, "inner")
        .select(*keep_cols, id_col, "score", "content")
        .orderBy(*keep_cols, F.desc("score"), F.asc(id_col))
    )


def metadata_filter(vectors: DataFrame, **equals) -> DataFrame:
    """Pre-kNN metadata predicate (SURVEY Q8 — declared but unimplemented
    in the reference, /root/reference/src/models/api.py:50).

    A plain Catalyst filter: it pushes down to the Parquet scan, so at
    scale the filtered kNN reads only matching row groups.
    """
    out = vectors
    for col, val in equals.items():
        out = out.filter(F.col(col) == F.lit(val))
    return out
