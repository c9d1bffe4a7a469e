"""Similarity primitives: MinHash permutations, SimHash, cosine.

All constants are fixed literals so Spark and the DuckDB oracle compute
identical values; see plans/training.py for the paired SQL.

This module owns the vector numeric contract: a dot product folds in
array order, ``((0 + a0*b0) + a1*b1) + ...`` (DuckDB's
``list_dot_product`` order), and a zero norm gives a NULL cosine that
ranks after every defined one. It has two forms. The numpy kernel
(``seq_dot`` through ``local_topk``) runs inside ``mapInPandas`` and
serves every embedding search in plans/training.py. The Column form
(``dot_product``, ``cosine``) serves the SQL-plan folds that have not
moved to the kernel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import PRIME

#: Fixed MinHash permutation coefficients (a, b) for h'_k = (a*h + b) % P.
#: 16 permutations → 8 LSH bands of r=2 rows. Chosen once, arbitrary,
#: committed as literals so both engines agree forever.
MINHASH_PERMS: tuple[tuple[int, int], ...] = (
    (472882049, 127633),
    (994633459, 982451653),
    (715225741, 32452843),
    (868421509, 49979687),
    (553105253, 86028121),
    (256203221, 15485863),
    (941083981, 104395301),
    (433024253, 67867967),
    (198491329, 512927357),
    (776531419, 122949829),
    (622577487, 141650939),
    (334214467, 160481183),
    (875498279, 179424673),
    (141650963, 198491317),
    (533000389, 217645177),
    (678910987, 236887691),
)

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 4 bands × 8 bits — pigeonhole-complete for hamming ≤ 3


def minhash_signature(hashed_shingles, id_col: str = "doc_id", h_col: str = "h"):
    """(id, m0..m15) MinHash signature from per-(id, shingle-hash) rows.

    One shuffle: the groupBy on id with 16 partial-aggregated mins —
    map-side combine keeps the exchange tiny regardless of shingle
    fan-out, which is what makes this the scale path at 100 TB.
    """
    # one F.expr per permutation (a single parse JVM-side) instead of
    # ~6 py4j Column calls each: identical expression tree after parse,
    # ~10x cheaper plan build — this builder runs on every bench rep
    aggs = [
        F.expr(f"min(({a} * {h_col} + {b}) % {PRIME})").alias(f"m{k}")
        for k, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return hashed_shingles.groupBy(id_col).agg(*aggs)


#: LSH banding: 4 bands × r=4 rows. On a corpus with background Jaccard
#: ~0.1 this keeps P(candidate) ≈ 4e-4 for unrelated pairs while planted
#: near-dups (j ≥ 0.85) collide with P ≥ 0.9 — and because the oracle
#: replicates the identical banding, recall is not a correctness concern.
MINHASH_BAND_ROWS = 4


def minhash_bands(signature, id_col: str = "doc_id"):
    """Explode a 16-value signature into (band_idx, band_val) rows,
    band_val = concat of the band's r minhash values (portable string
    join key, identical in DuckDB's concat_ws)."""
    r = MINHASH_BAND_ROWS
    n_bands = len(MINHASH_PERMS) // r
    pairs = [
        F.struct(
            F.lit(j).alias("band_idx"),
            F.concat_ws("-", *[F.col(f"m{r * j + i}") for i in range(r)]).alias("band_val"),
        )
        for j in range(n_bands)
    ]
    return signature.select(
        id_col, F.explode(F.array(*pairs)).alias("band")
    ).select(id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_val").alias("band_val"))


def simhash_column(h_col: str = "h", bits: int = SIMHASH_BITS) -> list[Column]:
    """Per-bit vote aggregations for SimHash: 32 SUM(±1) expressions.

    Used inside a groupBy(...).agg(*simhash_column(...)) — all 32 votes
    partial-aggregate map-side in one pass.
    """
    return [
        F.expr(
            f"sum(CASE WHEN (shiftright({h_col}, {j}) & 1) = 1 "
            "THEN 1 ELSE -1 END)"
        ).alias(f"v{j}")
        for j in range(bits)
    ]


def simhash_from_votes(bits: int = SIMHASH_BITS) -> Column:
    """Fold the 32 vote columns into the final simhash int64."""
    terms = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return F.expr(f"(CAST(0 AS BIGINT) + {terms})")


def as_matrix(rows) -> np.ndarray:
    """Stack equal-length vectors (a pandas column of arrays, a list of
    lists) into a float64 (n × d) matrix. float32 → float64 widening is
    exact, the same as ``as_double_array``'s cast."""
    if len(rows) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    return np.stack([np.asarray(r) for r in rows]).astype(np.float64, copy=False)


def seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(m × n) dot products of the rows of ``A`` (m × d) against the
    rows of ``B`` (n × d), accumulated SEQUENTIALLY per dimension: for
    every cell exactly the fold ``((0 + a0*b0) + a1*b1) + …`` of
    ``dot_product`` and DuckDB's ``list_dot_product``, so every double
    is bit-identical to the oracle. (A matmul sums pairwise or blocked
    and drifts in the last ulp; elementwise numpy ops are IEEE-exact.)
    """
    acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for j in range(A.shape[1]):
        acc += A[:, j : j + 1] * B[None, :, j]
    return acc


def sq_norms(M: np.ndarray) -> np.ndarray:
    """Squared norm of each row of ``M``: the same fold as
    ``seq_dot(M, M)``'s diagonal (``dot_product(e, e)``)."""
    acc = np.zeros(M.shape[0], dtype=np.float64)
    for j in range(M.shape[1]):
        acc += M[:, j] * M[:, j]
    return acc


def block_cosine(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(m × n) cosines ``dot / (sqrt(na) * sqrt(nb))`` — the oracle's
    expression shape. A zero-norm row gives NaN (0/0); Arrow hands a
    NaN to Spark as null, and DuckDB's 0/0 is NULL, so it stays a NULL
    cosine in both engines."""
    with np.errstate(invalid="ignore", divide="ignore"):
        return seq_dot(A, B) / (
            np.sqrt(sq_norms(A))[:, None] * np.sqrt(sq_norms(B))[None, :]
        )


def sign_bits(E: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Hyperplane signature of each row of ``E``: bit j is set iff
    ``seq_dot(e, planes[j]) > 0``, as an int64. A dot of exactly 0 sets
    no bit; a NaN dot (non-finite input) sets it, because both engines
    order NaN above every number."""
    dots = seq_dot(E, planes)
    hit = (dots > 0) | np.isnan(dots)
    weights = np.left_shift(np.int64(1), np.arange(planes.shape[0], dtype=np.int64))
    return (hit.astype(np.int64) * weights[None, :]).sum(axis=1, dtype=np.int64)


def hamming_within(a: np.ndarray, b: np.ndarray, r: int) -> np.ndarray:
    """Elementwise ``popcount(a ^ b) <= r`` over int64 signatures
    (broadcasting): clear the lowest set bit ``r`` times, then test
    for zero."""
    d = np.bitwise_xor(a, b)
    for _ in range(r):
        d = d & (d - 1)
    return d == 0


def local_topk(scores: np.ndarray, ids: np.ndarray, k: int, mask=None):
    """Positions ``(rows, cols)`` of each row's top ``k`` columns under
    (score DESC with NaN last, id ASC) — the global rank window's order,
    so a task's local top-k keeps every row the window can rank ≤ k.
    ``ids`` holds one id per column; a column where ``mask`` is False
    is never chosen."""
    keys = [np.broadcast_to(ids, scores.shape), -scores]
    if mask is not None:
        keys.append(~mask)
    cols = np.lexsort(keys, axis=-1)[:, :k]
    rows = np.repeat(np.arange(scores.shape[0]), cols.shape[1])
    cols = cols.ravel()
    if mask is not None:
        keep = mask[rows, cols]
        rows, cols = rows[keep], cols[keep]
    return rows, cols


def cosine(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    """cos = dot / (sqrt(na) * sqrt(nb)) — expression shape mirrored
    exactly in the DuckDB oracle so doubles stay bit-identical. A
    zero-norm side makes the cosine NULL, as DuckDB's 0/0 is, instead
    of raising DIVIDE_BY_ZERO under ANSI mode. ``block_cosine`` is the
    kernel form."""
    return F.try_divide(dot, F.sqrt(norm_a) * F.sqrt(norm_b))


def dot_product(a: Column, b: Column) -> Column:
    """Ordered element-wise dot product of two array<double> columns.

    zip_with + aggregate keeps it JVM-side; summation order is array
    order in both Spark and DuckDB's list_dot_product, so results are
    bit-identical doubles. ``seq_dot`` is the kernel form; this one is
    interpreted per row (CodegenFallback), so the embedding searches
    use the kernel.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def as_double_array(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")
