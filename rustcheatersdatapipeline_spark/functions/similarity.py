"""Similarity primitives: MinHash permutations, SimHash, cosine.

All constants are fixed literals so Spark and the DuckDB oracle compute
identical values; see plans/training.py for the paired SQL.
"""

from __future__ import annotations

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


def cosine(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    """cos = dot / (sqrt(na) * sqrt(nb)) — expression shape mirrored
    exactly in the DuckDB oracle so doubles stay bit-identical. A
    zero-norm side makes the cosine NULL, as DuckDB's 0/0 is, instead
    of raising DIVIDE_BY_ZERO under ANSI mode."""
    return F.try_divide(dot, F.sqrt(norm_a) * F.sqrt(norm_b))


def dot_product(a: Column, b: Column) -> Column:
    """Ordered element-wise dot product of two array<double> columns.

    zip_with + aggregate keeps it JVM-side; summation order is array
    order in both Spark and DuckDB's list_dot_product, so results are
    bit-identical doubles.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def as_double_array(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")
