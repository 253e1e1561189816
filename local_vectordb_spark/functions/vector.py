"""Vector math as native Catalyst column expressions.

The reference computes cosine similarity per-pair in Python/numpy
(/root/reference/src/models/nsw_index.py:164-168, inlined again at
src/models/collection.py:321-329 and src/models/ivf_index.py:183-185).
Here the same math is a JVM-side expression tree over ARRAY columns —
it stays inside whole-stage codegen, never crosses into Python, and is
therefore the scalable hot path for scoring billions of vectors.

All arithmetic is done in DOUBLE regardless of the stored element type
(test data stores ARRAY<FLOAT>) so results are reproducible against a
double-precision oracle and stable under re-partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot_product(a: Column, b: Column) -> Column:
    """Sum of elementwise products, computed in double precision."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def l2_distance(a: Column, b: Column) -> Column:
    """Euclidean distance (used for IVF centroid probing, SURVEY Q4:
    the reference probes centroids by L2 at src/models/ivf_index.py:159-166).
    """
    return F.sqrt(
        F.aggregate(
            F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (||a||*||b||) with the reference's zero-norm guard
    (similarity is defined as 0.0 when either norm is zero,
    /root/reference/src/models/nsw_index.py:164-168).
    """
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot_product(a, b) / denom)


# --------------------------------------------------------------------------
# Scalar quantization (SQ8): 1 byte per dimension, FAISS-style per-vector
# min/max scaling. Deterministic arithmetic — quantize, reconstruct, and
# any downstream distance are exactly reproducible in plain SQL, so the
# quantized search path is oracle-checkable end to end.
# --------------------------------------------------------------------------


def sq8_codes(v: Column, vmin: Column, vmax: Column) -> Column:
    """Per-dimension uint8 level (stored as INT 0..255) under the
    vector's own [vmin, vmax] range. Pass vmin/vmax as PRE-COMPUTED
    columns (array_min/array_max in a prior select) — capturing
    array_min(v) inside the lambda would re-scan the array per element
    (see the evaluation note in text.winnow_fingerprints). A constant
    vector (vmax == vmin) maps to level 0."""
    span = vmax - vmin
    return F.transform(
        _as_double(v),
        lambda x: F.when(span == 0.0, F.lit(0))
        .otherwise(F.round((x - vmin) * 255.0 / span, 0))
        .cast("int"),
    )


def sq8_reconstruct(codes: Column, vmin: Column, vmax: Column) -> Column:
    """Dequantize level codes back to doubles: vmin + level*span/255.
    Reconstruction error is bounded by span/510 per dimension (half a
    quantization step)."""
    span = vmax - vmin
    return F.transform(
        codes, lambda c: vmin + c.cast("double") * span / 255.0
    )


def sq8_attach(df, vec_col: str = "embedding"):
    """``df`` + the stored-SQ8 column triple (``vmin``, ``vmax``,
    ``codes``) computed from ``vec_col`` — the physical form the
    quantized serving tier persists beside the fp embeddings (1 byte
    of information per dimension vs 8: the scan-byte lever for the
    probed-partition read at scale). Two selects so vmin/vmax are
    plain columns by the time the codes lambda captures them (see
    sq8_codes' evaluation note)."""
    v = _as_double(F.col(vec_col))
    with_range = df.withColumn("vmin", F.array_min(v)).withColumn(
        "vmax", F.array_max(v)
    )
    return with_range.withColumn(
        "codes", sq8_codes(F.col(vec_col), F.col("vmin"), F.col("vmax"))
    )
