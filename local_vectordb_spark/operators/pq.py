"""Product quantization (PQ) with asymmetric-distance search — the
memory-compression tier of the ANN family (SURVEY §2 Q4/Q5 scale
extensions; the reference stores full float vectors only,
/root/reference/src/models/collection.py:58-69).

At 100 TB the dominant ANN cost is reading vectors: PQ stores m small
codes per vector (here 8 codes of 4 bits = 4 bytes vs 256 bytes of
float32 — a 64× scan-volume reduction) and scores candidates against a
per-query lookup table (ADC: asymmetric distance computation), then
exact-rescans only the short candidate list. The plan shape is:

    codes scan (map-only, tiny)           ← the 100 TB-sized input
      → per-row ADC score = m table lookups + m-1 adds
      → TakeOrderedAndProject top-C       (a top-C heap per scan
                                           partition, merged in one)
      → exact cosine rescore of C rows    (C ≈ 50 full vectors)
      → top-k

Determinism/oracle strategy (the `md5_hyperplanes` construction from
`operators/ann.py` generalized): the codebook is a pure-Python md5
constant — identical on the driver, in Spark literals, and in
generated DuckDB SQL — and every floating-point reduction (encoding
distances, the ADC table, the ADC sum) is a left-associative
sequential fold on BOTH engines, so codes, ADC scores, and therefore
the candidate set are bit-reproducible with no rounding tricks. A
trained (k-means) codebook would give tighter cells but a
seed-dependent oracle; the md5 codebook keeps the entire path
value-checkable, which is the property this repo optimizes for
(recall quality is covered by the exact rescore tier).
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from local_vectordb_spark.operators.knn import (
    SCORE_DECIMALS,
    _unit,
    knn_brute_force,
    sql_double,
)

PQ_MD5_SEED = "pq-v1"


def pq_codebook(
    dim: int = 64,
    m: int = 8,
    k_codes: int = 16,
    seed: str = PQ_MD5_SEED,
) -> list[list[list[float]]]:
    """[m][k_codes][dim/m] deterministic centroids: coefficient
    (s, j, i) is md5(f"{seed}:{s}:{j}:{i}")'s first 15 hex chars, taken
    as a 60-bit integer, divided by 2^60 and scaled to [-1, 1). The
    60-bit quotient rounds to the nearest binary64 under IEEE division
    (not exact — a double holds 53 significand bits), but that rounding
    is itself deterministic and the resulting double is a dyadic value
    whose repr round-trips identically across engines — which is the
    property the cross-engine oracle actually needs."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    book: list[list[list[float]]] = []
    for s in range(m):
        codes = []
        for j in range(k_codes):
            row = []
            for i in range(dsub):
                h = hashlib.md5(f"{seed}:{s}:{j}:{i}".encode()).hexdigest()
                row.append(2.0 * (int(h[:15], 16) / float(1 << 60)) - 1.0)
            codes.append(row)
        book.append(codes)
    return book


def pq_codebook_trained(
    sample: Sequence[Sequence[float]],
    m: int = 8,
    k_codes: int = 16,
    iters: int = 20,
    seed: int = 7,
) -> list[list[list[float]]]:
    """TRAINED per-subspace codebook: Lloyd's k-means on each subspace
    of a driver-side sample, with seeded init and a FIXED iteration
    count — deterministic given (sample, seed), so the stored-codes
    deployment re-derives the identical book on every run.

    Why it exists next to :func:`pq_codebook`: the md5-constant book is
    data-blind, so its cells are far from the corpus and the ADC
    ranking is noisy (recall@10 0.4 at rescore depth 50 on the sf0.01
    fixture); centroids fitted to the data make the ADC ranking sharp
    (0.99 mean recall@10 over 8 queries at depth 150, where the md5
    book at depth 300 holds 0.84). The trade is the oracle: a
    trained book depends on the data, so trained-tier queries are
    rows-only with a Spark-side recall invariant, while the md5 book
    keeps full cross-engine value oracles. A deployment trains on a
    hash-sampled slice (the sample argument — thousands of rows
    suffice for 16 cells per subspace) and broadcasts the book; the
    encode path is byte-for-byte the same `pq_encode_batch`.
    """
    mat = np.array([list(map(float, v)) for v in sample], dtype=np.float64)
    if mat.ndim != 2 or mat.shape[0] < k_codes:
        raise ValueError(f"need >= {k_codes} sample vectors, got {mat.shape}")
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    book: list[list[list[float]]] = []
    for s in range(m):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=k_codes, replace=False)].copy()
        for _ in range(iters):
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d, axis=1)
            for j in range(k_codes):
                pts = sub[assign == j]
                if len(pts):  # empty cells keep their previous centroid
                    cents[j] = pts.mean(axis=0)
        book.append([[float(x) for x in row] for row in cents])
    return book


def pq_encode(vec_col: Column | str, codebook: Sequence) -> Column:
    """ARRAY<INT> of m codes: per subspace, the index of the nearest
    centroid by squared L2 (first index on ties).  The per-centroid
    distance is a sequential zip_with/aggregate fold — the same
    ((0+t1)+t2)+… order the generated SQL's left-associative `t1 + t2
    + …` produces (0.0 + t1 == t1 exactly for the non-negative squared
    terms), so the argmin, and hence the code, is bit-identical
    cross-engine.  The codebook enters as ONE nested literal per
    subspace, not per-element literals (the 4.1.x plan-analysis tax)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    v = c.cast("array<double>")
    dsub = len(codebook[0][0])

    def sq_l2_to(sub: Column):
        # factory, not a default arg: a 2-parameter lambda would make
        # pyspark pass the array INDEX as the second transform argument
        return lambda cent: F.aggregate(
            F.zip_with(sub, cent, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    codes = []
    for s, cb in enumerate(codebook):
        sub = F.slice(v, s * dsub + 1, dsub)
        dists = F.transform(
            F.lit([list(map(float, row)) for row in cb]), sq_l2_to(sub)
        )
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*codes)


def _encode_matrix(mat: np.ndarray, cb: Sequence[np.ndarray]):
    """(n, m) int32 codes of the float64 rows of ``mat`` under the
    (k_codes, dsub) centroid arrays ``cb``: the numpy kernel behind
    both Arrow-batched encoders."""
    n, dsub = mat.shape[0], cb[0].shape[1]
    out = np.empty((n, len(cb)), dtype=np.int32)
    for s, cents in enumerate(cb):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        acc = np.zeros((n, cents.shape[0]), dtype=np.float64)
        for i in range(dsub):
            d = sub[:, i : i + 1] - cents[None, :, i]
            acc = acc + d * d
        out[:, s] = np.argmin(acc, axis=1)
    return out


def pq_encode_batch(codebook: Sequence):
    """Arrow-batched twin of :func:`pq_encode` — same codes, bit for
    bit, at BLAS-ish speed (the Column form pays interpreted
    higher-order-function evaluation per centroid: 3.35 s vs ~0.6 s
    for the sf0.1 encode-and-search in the r6 bench).

    Bit-compatibility argument: the squared-L2 accumulation loops over
    dimensions with a vectorized float64 `acc = acc + d*d` — the SAME
    ((0+t1)+t2)+… sequence per (row, centroid) as the JVM fold and the
    generated SQL — and `np.argmin` returns the first minimum exactly
    like `array_position(dists, array_min(dists))`.  The equivalence
    is pinned by tests/test_pq.py::test_encode_batch_equals_column.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    cb = [np.array(s, dtype=np.float64) for s in codebook]  # (k, dsub) each

    @F.pandas_udf(ArrayType(IntegerType()))
    def enc(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object)
        mat = np.array(col.tolist(), dtype=np.float64)
        return pd.Series(list(_encode_matrix(mat, cb)))

    return enc


@functools.lru_cache(maxsize=8)
def _md5_book_arrays(dim: int) -> tuple[np.ndarray, ...]:
    return tuple(np.array(s, dtype=np.float64) for s in pq_codebook(dim=dim))


def pq_encode_md5():
    """Arrow-batched encoder of each row under the md5 codebook of the
    row's OWN dimension (:func:`pq_codebook` defaults), i.e. the codes
    :func:`pq_adc_search` encodes inline for a query of that dimension,
    bit for bit (same kernel, same book). A NULL vector, an empty one,
    or one whose dimension the book's 8 subspaces do not divide
    encodes to NULL, so a stored-codes build never fails on the data
    it indexes; a search over such codes still raises in
    :func:`pq_codebook` for the query's dimension."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def enc(col: pd.Series) -> pd.Series:
        out = [None] * len(col)
        by_dim: dict[int, list[int]] = {}
        for i, v in enumerate(col):
            if v is not None and len(v) and len(v) % 8 == 0:
                by_dim.setdefault(len(v), []).append(i)
        for dim, rows in by_dim.items():
            mat = np.array([col.iloc[i] for i in rows], dtype=np.float64)
            codes = _encode_matrix(mat, _md5_book_arrays(dim))
            for i, c in zip(rows, codes):
                out[i] = c
        return pd.Series(out, dtype=object)

    return enc


def pq_adc_table(
    query_vec: Sequence[float], codebook: Sequence
) -> list[list[float]]:
    """[m][k_codes] inner products of the unit query's subvectors with
    each centroid, computed driver-side with an explicit sequential
    fold (the order the SQL twin unrolls)."""
    qhat = _unit(query_vec)
    dsub = len(codebook[0][0])
    table: list[list[float]] = []
    for s, cb in enumerate(codebook):
        qs = qhat[s * dsub : (s + 1) * dsub]
        row = []
        for cent in cb:
            acc = 0.0
            for x, y in zip(qs, cent):
                acc += x * y
            row.append(acc)
        table.append(row)
    return table


def pq_adc_scores(
    codes_col: Column | str, adc_table: Sequence[Sequence[float]]
) -> Column:
    """Approximate inner-product score from codes: m table lookups and
    a left-associative sum — the entire per-row cost of the ADC scan.
    Each subspace's row of the table is one parsed SQL literal (each
    double spelled exactly, ``sql_double``): one py4j call per row, not
    one per entry."""
    codes = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    total: Column | None = None
    for s, row in enumerate(adc_table):
        lut = F.expr("array(" + ", ".join(sql_double(x) for x in row) + ")")
        term = F.element_at(lut, F.element_at(codes, s + 1) + 1)
        total = term if total is None else total + term
    return total


def pq_adc_search(
    vectors: DataFrame,
    query_vec: Sequence[float],
    codebook: Sequence | None = None,
    k: int = 10,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: Sequence[str] = (),
    codes_col: str | None = None,
) -> DataFrame:
    """PQ-ADC search: ADC top-`n_candidates` (one map-only scan +
    TakeOrderedAndProject) → exact cosine rescore of the candidates →
    top-k (score desc, id asc).  Output matches every other search
    surface: (id, score, *extra_cols) with the EXACT cosine score, so
    quantization affects recall only, never the reported score.
    ``extra_cols`` of ``vectors`` ride through both top-k tiers, so
    the winners need no second read.

    ``codes_col`` names a stored ARRAY<INT> codes column of
    ``vectors`` (materialized once with :func:`pq_encode_batch`, or
    :func:`pq_encode_md5` for the default book): the scan then reads
    those codes and runs no Python worker. Without it every row is
    encoded inline by the Arrow-batched encoder. Encoding is
    deterministic, so both give the same candidates and scores. The
    codebook defaults to the md5 book of the query's dimension, which
    raises for a dimension its subspaces do not divide.
    """
    if codebook is None:
        codebook = pq_codebook(dim=len(list(query_vec)))
    adc = pq_adc_table(query_vec, codebook)
    if codes_col is None:
        # bit-identical to pq_encode, Arrow speed
        codes = pq_encode_batch(codebook)(F.col(vec_col))
    else:
        codes = F.col(codes_col)
    cand = (
        vectors.select(
            F.col(id_col),
            F.col(vec_col),
            *extra_cols,
            pq_adc_scores(codes, adc).alias("_adc"),
        )
        .orderBy(F.desc("_adc"), F.asc(id_col))
        .limit(n_candidates)
    )
    return knn_brute_force(
        cand, query_vec, k=k, id_col=id_col, vec_col=vec_col,
        extra_cols=extra_cols,
    )


def pq_adc_search_batch(
    vectors: DataFrame,
    query_rows: Sequence[tuple[int, Sequence[float]]],
    codebook: Sequence | None = None,
    k: int = 10,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
    codes_col: str = "codes",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Batch PQ-ADC: one codes scan serves EVERY query.  The corpus is
    encoded once (query-independent); the driver-computed per-query
    ADC tables ship as a BROADCAST DataFrame (m·k_codes doubles per
    query ≈ 1 KB), and scoring a (row, query) pair is m lookups +
    m−1 adds.  Plan: encode scan → broadcast cross join with the
    query table → per-query top-C window (the only shuffle,
    |queries|·|corpus| score rows in, C rows per query out) → rescore
    join against the full vectors for just the candidate rows →
    per-query top-k.  Output (query_id, id, score) matches knn_batch;
    scores are EXACT cosines.

    Bounded by the broadcast query table — fine for driver-batch
    cardinalities; unbounded query sets should route to cosine/ivf
    batch paths instead.

    Pass ``codes`` — a (id_col, codes_col ARRAY<INT>) DataFrame
    materialized once with `pq_encode_batch` — to run the DEPLOYMENT
    shape: the ADC scan reads only the codes table (4 bytes/vector),
    and `vectors` is touched solely for the top-C rescore rows.
    Encoding is deterministic, so the stored path is byte-identical
    to encode-on-the-fly and shares its oracle.

    Pass ``candidates`` — a (query_id, id_col) pair DataFrame — to
    restrict each query's ADC tier to its own candidate set (IVF-PQ
    composition in batch form: the probe pairs join the exploded scan
    before the top-C window).
    """
    from pyspark.sql import Window

    from local_vectordb_spark.functions.vector import dot_product, l2_norm

    if not query_rows:
        raise ValueError("empty query batch")
    first_vec = list(query_rows[0][1])
    if codebook is None:
        codebook = pq_codebook(dim=len(first_vec))
    m = len(codebook)
    if codes is not None:
        base = codes.select(F.col(id_col), F.col(codes_col).alias("_codes"))
    else:
        enc = pq_encode_batch(codebook)
        base = vectors.select(
            F.col(id_col), enc(F.col(vec_col)).alias("_codes")
        )
    # the query set ships as a BROADCAST DATAFRAME, not literal
    # expressions: 8 queries × m·k_codes doubles as nested F.lit
    # literals cost ~1.5 s of driver-side Column construction + plan
    # analysis per call (the 4.1.x literal-tree tax BASELINE.md
    # documents); the same values through createDataFrame + a
    # broadcast cross join build in milliseconds and execute
    # identically (same tables, same left-to-right ADC fold)
    spark = vectors.sparkSession
    # single-slice local frame: the default 32-slice parallelize makes
    # every broadcast build of this table a 32-task python-socket job
    # (session.local_rows_df)
    from local_vectordb_spark.session import local_rows_df

    qtbl = F.broadcast(
        local_rows_df(
            spark,
            [
                (
                    int(qid),
                    [[float(x) for x in row] for row in pq_adc_table(v, codebook)],
                    [float(x) for x in _unit(v)],
                )
                for qid, v in query_rows
            ],
            "query_id long, _t array<array<double>>, _qhat array<double>",
        )
    )
    ex = base.select(id_col, "_codes").crossJoin(
        qtbl.select("query_id", "_t")
    )
    if candidates is not None:
        # LEFT SEMI join: yields each ADC row at most once even if the
        # caller's pair set contains duplicates (an inner join would
        # duplicate the row and let one id occupy two top-k slots, and
        # an explicit dropDuplicates would add a whole extra shuffle).
        # NO broadcast hint either: the candidate set scales with the
        # corpus (an IVF slice is |corpus|·n_probe/k_clusters rows per
        # query) — let AQE pick the strategy from the measured size.
        cand_pairs = candidates.select(
            F.col("query_id").alias("_cq"), F.col(id_col).alias("_cid")
        )
        ex = ex.join(
            cand_pairs,
            (F.col("query_id") == F.col("_cq"))
            & (F.col(id_col) == F.col("_cid")),
            "left_semi",
        )
    adc: Column | None = None
    for s in range(m):
        term = F.element_at(
            F.element_at(F.col("_t"), s + 1),
            F.element_at(F.col("_codes"), s + 1) + 1,
        )
        adc = term if adc is None else adc + term
    w_c = Window.partitionBy("query_id").orderBy(F.desc("_adc"), F.asc(id_col))
    cand = (
        ex.select("query_id", F.col(id_col), adc.alias("_adc"))
        .withColumn("_rn", F.row_number().over(w_c))
        .filter(F.col("_rn") <= n_candidates)
        .select("query_id", id_col)
    )
    joined = (
        cand.join(vectors.select(id_col, vec_col), id_col)
        .join(qtbl.select("query_id", "_qhat"), "query_id")
    )
    qv_col = F.col("_qhat")
    norm = l2_norm(F.col(vec_col))
    score = F.when(norm == 0.0, F.lit(0.0)).otherwise(
        dot_product(F.col(vec_col), qv_col) / norm
    )
    w_k = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        joined.select(
            "query_id",
            F.col(id_col),
            F.round(score, SCORE_DECIMALS).alias("score"),
        )
        .withColumn("_rn", F.row_number().over(w_k))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_pq_residual_search(
    vectors: DataFrame,
    assignments: DataFrame,
    centroids: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    codebook: Sequence,
    k: int = 10,
    n_probe: int = 8,
    n_candidates: int = 150,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the actual FAISS IndexIVFPQ
    recipe: PQ codes quantize ``vec - centroid(vec)``, not the raw
    vector. Residuals cluster tightly around zero, so the same code
    budget spends its cells on the part of the vector the coarse
    quantizer didn't already explain — the reason FAISS trains its PQ
    on residuals by default.

    Scoring decomposes exactly: ⟨q̂, v⟩ ≈ ⟨q̂, c⟩ + ⟨q̂, decode(codes)⟩
    where c is the row's coarse centroid. The first term is one
    driver-side constant per probed cluster (shipped on the broadcast
    probe row); the second is the standard ADC lookup against a table
    built from the residual codebook. The ADC scan therefore stays m
    lookups + adds per row, and the exact-cosine rescore of the top-C
    keeps reported scores exact, as in every other PQ tier.

    Plan shape: broadcast the ≤n_probe (cluster_id, centroid, ⟨q̂,c⟩)
    rows, inner-join = probe filter, Arrow-batched residual encode,
    TakeOrderedAndProject top-C, rescore join — no shuffle anywhere.
    Rows-only territory by construction (KMeans centroids + trained
    residual book are data-dependent); the deterministic md5 tiers
    carry the value oracles for the identical ADC machinery.
    """
    from local_vectordb_spark.operators.ivf import probe_clusters

    spark = vectors.sparkSession
    probed = probe_clusters(centroids, query_vec, n_probe=n_probe)
    qhat = _unit(query_vec)
    adc = pq_adc_table(query_vec, codebook)
    cent_rows = [
        (
            int(c),
            [float(x) for x in centroids[c]],
            float(sum(a * b for a, b in zip(qhat, centroids[c]))),
        )
        for c in probed
    ]
    from local_vectordb_spark.session import local_rows_df

    cents = local_rows_df(
        spark, cent_rows, "cluster_id int, _cent array<double>, _qdotc double"
    )
    enc = pq_encode_batch(codebook)
    resid = F.zip_with(
        F.col(vec_col).cast("array<double>"), F.col("_cent"), lambda x, y: x - y
    )
    cand = (
        vectors.join(assignments, id_col)
        .join(F.broadcast(cents), "cluster_id")
        .select(
            F.col(id_col),
            F.col(vec_col),
            (F.col("_qdotc") + pq_adc_scores(enc(resid), adc)).alias("_adc"),
        )
        .orderBy(F.desc("_adc"), F.asc(id_col))
        .limit(n_candidates)
    )
    return knn_brute_force(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ivf_pq_residual_search_batch(
    vectors: DataFrame,
    assignments: DataFrame,
    centroids: Sequence[Sequence[float]],
    query_rows: Sequence[tuple[int, Sequence[float]]],
    codebook: Sequence,
    k: int = 10,
    n_probe: int = 8,
    n_candidates: int = 150,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Batch form of :func:`ivf_pq_residual_search` — ONE residual
    encode scan serves every query (residual codes are
    query-INDEPENDENT: each row encodes against its own centroid, so
    the (id, cluster, codes) relation is exactly the stored IVF-PQ
    codes layout FAISS persists). Per-query state ships as two
    broadcasts: the residual-ADC tables (as in `pq_adc_search_batch`)
    and the (query, cluster) probe rows carrying the ⟨q̂,c⟩ constant —
    the inner probe join is simultaneously the IVF filter AND the
    constant lookup. Then the standard per-query top-C window and
    exact-cosine rescore. No driver loop anywhere; |queries| scales to
    the broadcast limit like every other batch tier.

    Pass ``codes`` — an (id_col, cluster_id, codes ARRAY<INT>)
    DataFrame materialized once with this function's encode stage — to
    run the DEPLOYMENT shape: the ADC scan reads only the ~5
    bytes/vector codes table and `vectors` is touched solely for the
    top-C rescore rows. Encoding is deterministic given (book,
    centroids), so the stored path is value-identical to inline."""
    from pyspark.sql import Window

    from local_vectordb_spark.functions.vector import dot_product, l2_norm
    from local_vectordb_spark.operators.ivf import probe_clusters

    if not query_rows:
        raise ValueError("empty query batch")
    spark = vectors.sparkSession
    m = len(codebook)

    if codes is not None:
        base = codes.select(F.col(id_col), "cluster_id", F.col("codes").alias("_codes"))
    else:
        cent_lit = F.lit([[float(x) for x in c] for c in centroids])
        enc = pq_encode_batch(codebook)
        resid = F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.element_at(cent_lit, F.col("cluster_id") + 1),
            lambda x, y: x - y,
        )
        base = (
            vectors.join(assignments, id_col)
            .select(F.col(id_col), "cluster_id", enc(resid).alias("_codes"))
        )

    probe_rows = []
    qt_rows = []
    for qid, v in query_rows:
        qhat = _unit(v)
        qt_rows.append(
            (
                int(qid),
                [[float(x) for x in r] for r in pq_adc_table(v, codebook)],
                [float(x) for x in qhat],
            )
        )
        for c in probe_clusters(centroids, v, n_probe=n_probe):
            probe_rows.append(
                (
                    int(qid),
                    int(c),
                    float(sum(a * b for a, b in zip(qhat, centroids[c]))),
                )
            )
    from local_vectordb_spark.session import local_rows_df

    probes = F.broadcast(
        local_rows_df(
            spark, probe_rows, "query_id long, cluster_id int, _qdotc double"
        )
    )
    qtbl = F.broadcast(
        local_rows_df(
            spark,
            qt_rows,
            "query_id long, _t array<array<double>>, _qhat array<double>",
        )
    )

    ex = base.join(probes, "cluster_id").join(
        qtbl.select("query_id", "_t"), "query_id"
    )
    adc: Column | None = None
    for s in range(m):
        term = F.element_at(
            F.element_at(F.col("_t"), s + 1),
            F.element_at(F.col("_codes"), s + 1) + 1,
        )
        adc = term if adc is None else adc + term
    w_c = Window.partitionBy("query_id").orderBy(F.desc("_adc"), F.asc(id_col))
    cand = (
        ex.select("query_id", F.col(id_col), (F.col("_qdotc") + adc).alias("_adc"))
        .withColumn("_rn", F.row_number().over(w_c))
        .filter(F.col("_rn") <= n_candidates)
        .select("query_id", id_col)
    )
    joined = cand.join(vectors.select(id_col, vec_col), id_col).join(
        qtbl.select("query_id", "_qhat"), "query_id"
    )
    norm = l2_norm(F.col(vec_col))
    score = F.when(norm == 0.0, F.lit(0.0)).otherwise(
        dot_product(F.col(vec_col), F.col("_qhat")) / norm
    )
    w_k = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        joined.select(
            "query_id",
            F.col(id_col),
            F.round(score, SCORE_DECIMALS).alias("score"),
        )
        .withColumn("_rn", F.row_number().over(w_k))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
