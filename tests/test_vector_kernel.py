"""The vector kernel of functions/similarity.py against DuckDB — numpy
and DuckDB only, no Spark session.

The kernel owns the numeric contract every embedding search relies on
for bit-identical oracle parity: the array-order dot fold of
``list_dot_product``, a zero norm's NULL cosine ranked last, sign bits
that a dot of exactly 0 does not set, and a local top-k that keeps what
the global rank window keeps.
"""

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from rustcheatersdatapipeline_spark.functions.similarity import (
    as_matrix,
    block_cosine,
    hamming_within,
    local_topk,
    seq_dot,
    sign_bits,
    sq_norms,
)
from rustcheatersdatapipeline_spark.plans import training as T


def _bits(x: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(x, dtype=np.float64).view(np.int64)


def _duckdb_dots(A, B, cast: str = "") -> np.ndarray:
    """(m × n) ``list_dot_product`` of every row pair, from DuckDB."""
    ta = pa.table({"i": np.arange(len(A)), "a": pa.array([list(r) for r in A])})
    tb = pa.table({"j": np.arange(len(B)), "b": pa.array([list(r) for r in B])})
    with duckdb.connect() as con:
        con.register("ta", ta)
        con.register("tb", tb)
        rows = con.execute(
            f"SELECT i, j, list_dot_product(a{cast}, b{cast}) FROM ta, tb ORDER BY i, j"
        ).fetchall()
    return np.array([r[2] for r in rows], dtype=np.float64).reshape(len(A), len(B))


def _cancellation_heavy(rng, n, d):
    """Large terms of both signs whose sum is tiny: any reassociation of
    the fold changes the low bits."""
    big = rng.uniform(1e6, 1e8, size=(n, d)) * rng.choice([-1.0, 1.0], size=(n, d))
    return big + rng.standard_normal((n, d))


def test_fold_is_bit_identical_to_list_dot_product_on_random_vectors():
    rng = np.random.default_rng(7)
    A, B = rng.standard_normal((9, 64)), rng.standard_normal((11, 64))
    assert np.array_equal(_bits(seq_dot(A, B)), _bits(_duckdb_dots(A, B)))


def test_fold_is_bit_identical_to_list_dot_product_under_cancellation():
    rng = np.random.default_rng(11)
    A, B = _cancellation_heavy(rng, 8, 64), _cancellation_heavy(rng, 8, 64)
    got = seq_dot(A, B)
    assert np.array_equal(_bits(got), _bits(_duckdb_dots(A, B)))
    # the data is order-sensitive: a reversed fold lands on other bits
    rev = seq_dot(A[:, ::-1], B[:, ::-1])
    assert not np.array_equal(_bits(got), _bits(rev))
    # the squared norms are the same fold
    assert np.array_equal(
        _bits(sq_norms(A)), _bits(np.diag(_duckdb_dots(A, A)))
    )


def test_fold_is_bit_identical_on_float32_widened_vectors():
    """The embeddings column is FLOAT[]; the oracle casts to DOUBLE[]
    and the kernel widens through ``as_matrix`` — both exact."""
    rng = np.random.default_rng(13)
    A32 = rng.standard_normal((7, 64)).astype(np.float32)
    B32 = rng.standard_normal((5, 64)).astype(np.float32)
    A, B = as_matrix(list(A32)), as_matrix(list(B32))
    assert A.dtype == np.float64
    assert np.array_equal(A, A32.astype(np.float64))
    ta = pa.table({"i": np.arange(7), "a": pa.array(list(A32), pa.list_(pa.float32()))})
    tb = pa.table({"j": np.arange(5), "b": pa.array(list(B32), pa.list_(pa.float32()))})
    with duckdb.connect() as con:
        con.register("ta", ta)
        con.register("tb", tb)
        rows = con.execute(
            "SELECT list_dot_product(a::DOUBLE[], b::DOUBLE[]) FROM ta, tb ORDER BY i, j"
        ).fetchall()
    want = np.array([r[0] for r in rows]).reshape(7, 5)
    assert np.array_equal(_bits(seq_dot(A, B)), _bits(want))


def test_a_dot_of_exactly_zero_sets_no_sign_bit():
    planes = np.array([[1.0, -1.0, 0.0], [0.0, 0.0, 1.0], [2.0, 1.0, -1.0]])
    E = np.array(
        [
            [1.0, 1.0, 0.0],  # dot 0.0 with plane 0 and plane 1
            [0.0, 0.0, 0.0],  # zero vector: every dot is 0.0
            [-0.0, 0.0, -0.0],  # signed zeros: 0.0 + -0.0 is still 0
            [1.0, 0.0, 1.0],  # dots 1, 1, 1
        ]
    )
    assert sign_bits(E, planes).tolist() == [0b100, 0, 0, 0b111]


def test_sign_bits_match_the_oracle_bucket_sql_for_every_table():
    """The kernel's buckets over the committed planes equal the DuckDB
    ``_lsh_bucket_sql`` fragment the oracles run, including vectors
    exactly orthogonal to a plane and a non-finite one (NaN compares
    above every number in DuckDB, so its bits are set)."""
    rng = np.random.default_rng(17)
    E = rng.standard_normal((40, 64))
    plane0 = np.array([p for _, p in T._table_planes(T.LSH_MAX_PLANES, 0)])[0]
    E[0] = 0.0
    E[1] = np.zeros(64)
    E[1][0], E[1][1] = plane0[1], -plane0[0]  # a0*b0 + a1*b1 == 0 exactly
    E[2] = np.nan
    assert seq_dot(E[1:2], plane0[None, :])[0, 0] == 0.0
    for nplanes in (2, 5, T.LSH_MAX_PLANES):
        got = T._lsh_signatures(nplanes)(E)
        tv = pa.table({"vec_id": np.arange(len(E)), "e": pa.array([list(r) for r in E])})
        with duckdb.connect() as con:
            con.register("v", tv)
            sql = (
                f"WITH npsel AS (SELECT {nplanes} AS np) SELECT "
                + ", ".join(f"{T._lsh_bucket_sql('e', t)}" for t in range(T.LSH_TABLES))
                + " FROM v ORDER BY vec_id"
            )
            want = np.array(con.execute(sql).fetchall(), dtype=np.int64)
        assert np.array_equal(got, want), nplanes
    assert T._lsh_signatures(2)(E[:1]).tolist() == [[0, 0, 0, 0]]


def test_zero_norm_cosine_ranks_after_every_finite_cosine_ties_by_id():
    """block_cosine's zero-norm NaN is the oracle's NULL, and local_topk
    ranks it as DuckDB's ``ORDER BY cos DESC, id`` does: last, with ties
    (and the all-NULL row) broken by id."""
    rng = np.random.default_rng(19)
    X = rng.standard_normal((12, 8))
    X[3] = 0.0  # zero-norm corpus vector
    X[7] = X[5]  # an exact tie
    X[9] = 2.0 * X[5]  # a tie up to scale (the cosine may or may not tie)
    Q = np.vstack([rng.standard_normal((2, 8)), np.zeros((1, 8)), X[5:6]])
    ids = np.array([40, 11, 12, 5, 13, 20, 14, 2, 15, 30, 16, 17], dtype=np.int64)
    cos = block_cosine(Q, X)
    assert np.isnan(cos[:, 3]).all() and np.isnan(cos[2]).all()
    rows, cols = local_topk(cos, ids, len(ids))
    got = [[int(ids[c]) for r, c in zip(rows, cols) if r == q] for q in range(len(Q))]

    tq = pa.table({"q": np.arange(len(Q)), "a": pa.array([list(r) for r in Q])})
    tx = pa.table({"id": ids, "b": pa.array([list(r) for r in X])})
    with duckdb.connect() as con:
        con.register("tq", tq)
        con.register("tx", tx)
        want_rows = con.execute(
            "WITH p AS (SELECT q, id, list_dot_product(a, b) / "
            "(sqrt(list_dot_product(a, a)) * sqrt(list_dot_product(b, b))) AS cos "
            "FROM tq, tx) SELECT q, id, cos FROM p ORDER BY q, cos DESC, id"
        ).fetchall()
    want = [[r[1] for r in want_rows if r[0] == q] for q in range(len(Q))]
    assert got == want
    assert got[0][-1] == 5 and got[1][-1] == 5  # the zero vector is last
    assert got[2] == sorted(ids.tolist())  # every cosine NULL: id order
    # the cosines themselves are the oracle's doubles (NULL ↔ NaN)
    dd = {(r[0], r[1]): r[2] for r in want_rows}
    for q in range(len(Q)):
        for c, i in enumerate(ids):
            w = dd[(q, int(i))]
            if w is None:
                assert np.isnan(cos[q, c])
            else:
                assert _bits(np.array([cos[q, c]]))[0] == _bits(np.array([w]))[0]


@pytest.mark.parametrize("nplanes", range(2, 9))
def test_hamming_mask_equals_the_explicit_probe_expansion(nplanes):
    """The multiprobe oracle probes ``bucket`` plus ``bucket ^ (1 << j)``
    for every plane j; the search's mask is popcount(x ^ q) ≤ 1."""
    b = np.arange(1 << nplanes, dtype=np.int64)
    mask1 = hamming_within(b[:, None], b[None, :], 1)
    mask0 = hamming_within(b[:, None], b[None, :], 0)
    for q in b.tolist():
        probes = {q} | {q ^ (1 << j) for j in range(nplanes)}
        assert set(np.nonzero(mask1[q])[0].tolist()) == probes
        assert np.nonzero(mask0[q])[0].tolist() == [q]


def test_local_topk_equals_a_full_sort_topk():
    rng = np.random.default_rng(23)
    for trial in range(20):
        m, n, k = rng.integers(1, 6), rng.integers(1, 40), rng.integers(1, 8)
        # coarse scores force ties; some NaN; a random candidate mask
        scores = rng.integers(-3, 4, size=(m, n)) / 4.0
        scores[rng.random((m, n)) < 0.2] = np.nan
        ids = rng.permutation(1000)[:n].astype(np.int64)
        mask = rng.random((m, n)) < 0.7 if trial % 2 else None
        rows, cols = local_topk(scores, ids, int(k), mask)
        for r in range(m):
            allowed = [c for c in range(n) if mask is None or mask[r, c]]
            full = sorted(
                allowed,
                key=lambda c: (np.isnan(scores[r, c]), -np.nan_to_num(scores[r, c]), ids[c]),
            )
            assert cols[rows == r].tolist() == full[:k]
