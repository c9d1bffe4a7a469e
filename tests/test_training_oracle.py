"""DuckDB-oracle differential tests for the training-data query suite."""

import pytest

from rustcheatersdatapipeline_spark.plans import training as T

from .helpers import assert_matches_oracle


_ALL_QUERIES = {**T.SPARK_QUERIES, **T.TESTS_ONLY_QUERIES}
_ALL_ORACLES = {**T.ORACLE_SQL, **T.TESTS_ONLY_ORACLE_SQL}


@pytest.mark.parametrize("name", sorted(_ALL_ORACLES))
def test_training_matches_oracle(spark, ddb, sf_dir, name):
    df = _ALL_QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, ddb, _ALL_ORACLES[name], name)


def test_ann_lsh_buckets_runs(spark, sf_dir):
    rows = T.ann_lsh_buckets(spark, sf_dir).collect()
    assert 0 < len(rows) <= 256  # 8-bit signature space
    total = sum(r["n_vecs"] for r in rows)
    from rustcheatersdatapipeline_spark.catalog import table

    assert total == table(spark, sf_dir, "embeddings").count()  # every vector bucketed


def test_script_mix_planted_labels(spark):
    """The synthetic corpus is all-Latin, so the dominant-script logic
    is exercised on planted docs: CJK- and Cyrillic-dominant texts,
    the han-wins-tie rule, digits-only, and empty."""
    from rustcheatersdatapipeline_spark.plans.training import script_mix_frame

    docs = spark.createDataFrame(
        [
            (1, "hello plain english words"),
            (2, "\u4e2d\u6587\u6587\u6863\u5185\u5bb9 ok"),   # han-dominant
            (3, "\u0440\u0443\u0441\u0441\u043a\u0438\u0439 \u0442\u0435\u043a\u0441\u0442"),  # cyrillic
            (4, "\u4e00\u4e8cab"),                      # 2 han vs 2 latin: han wins tie
            (5, "123456"),
            (6, ""),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["script"] for r in script_mix_frame(docs).collect()}
    assert got == {1: "latin", 2: "han", 3: "cyrillic", 4: "han", 5: "digit", 6: "none"}
    counts = {r["doc_id"]: r["n_han"] for r in script_mix_frame(docs).collect()}
    assert counts[2] == 6 and counts[4] == 2


@pytest.mark.slow
def test_bloom_prefilter_is_exact_and_selective(spark, sf_dir):
    """decontaminate_bloom ≡ decontaminate (no false negatives by
    construction), and the scan-side filter actually prunes — the
    candidate volume must be a small fraction of the corpus grams."""
    from rustcheatersdatapipeline_spark.functions.text import char_shingles
    from rustcheatersdatapipeline_spark.catalog import table as _table
    from pyspark.sql import functions as F

    a = {tuple(r) for r in T.decontaminate(spark, sf_dir).collect()}
    b = {tuple(r) for r in T.decontaminate_bloom(spark, sf_dir).collect()}
    assert a == b and a

    docs = _table(spark, sf_dir, "documents")
    grams = char_shingles(docs, "text", "doc_id", k=13)
    bench = grams.filter(F.col("doc_id") < 10).select(F.col("g").alias("bg")).distinct()
    words = T._bloom_words(bench, "bg")
    corpus = grams.filter(F.col("doc_id") >= 10)
    total = corpus.count()
    cand = corpus.filter(T._bloom_might_contain(words, "g")).count()
    true_hits = corpus.join(bench, F.col("g") == F.col("bg"), "left_semi").count()
    assert cand >= true_hits            # no false negatives
    fp = (cand - true_hits) / max(total - true_hits, 1)
    assert fp < 0.05                    # the 32 KiB filter prunes ≥95%


def test_dedup_substrings_exact_boundaries_and_merging(spark):
    """Constructed corpus: arbitrary-length exact-substring spans get
    EXACT token boundaries (including duplicates straddling dedup_spans'
    fixed SPAN_W chunk grid), overlapping/adjacent runs merge into one
    maximal island, and separated runs stay separate islands."""
    from rustcheatersdatapipeline_spark.plans.training import (
        SUBSTR_W,
        dedup_substrings,
    )

    def words(prefix, n):
        return [f"{prefix}{i}" for i in range(n)]

    shared = words("dup", 24)           # a 24-token repeated block
    shared2 = words("other", 16)        # exactly W tokens, elsewhere
    doc0 = words("a", 7) + shared + words("b", 9) + shared2
    # doc1 repeats `shared` at a DIFFERENT offset (straddles any fixed
    # chunk grid) and `shared2` later, separated by unique filler
    doc1 = words("c", 3) + shared + words("d", 30) + shared2 + words("e", 2)
    rows = [
        (0, " ".join(doc0), "en", "s", 1),
        (1, " ".join(doc1), "en", "s", 1),
    ]
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars int"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = [
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in dedup_substrings(spark, td).collect()
        ]
    # doc0 is first by (doc_id, pos) everywhere -> no spans; doc1's
    # copies are duplicates with exact extents: `shared` covers tokens
    # [3, 27), `shared2` covers [57, 73) (3+24+30=57)
    assert got == [(1, 3, 3 + 24), (1, 57, 57 + 16)]
    assert (3 + 24 - 3) > SUBSTR_W  # first span is LONGER than W: runs merge


@pytest.fixture(scope="module")
def zero_norm_dir(sf_dir, tmp_path_factory):
    """The test embeddings with vectors 3 (a query and a seed centroid)
    and 100 (a corpus vector) zeroed — every cosine against them is 0/0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    zero = {3, 100}
    emb = [
        [0.0] * len(e) if v in zero else e
        for v, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
    ]
    i = t.schema.get_field_index("embedding")
    t = t.set_column(i, t.schema.field(i), pa.array(emb, t.schema.field(i).type))
    d = tmp_path_factory.mktemp("zero_norm")
    pq.write_table(t, d / "embeddings.parquet")
    return str(d)


def _match_zero_norm_oracle(df, zero_norm_dir, sql, name):
    import duckdb

    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{zero_norm_dir}/embeddings.parquet'"
        )
        assert_matches_oracle(df, con, sql, name)


def test_knn_topk_ranks_zero_norm_vectors_as_the_oracle(spark, zero_norm_dir):
    """A zero-norm vector's cosine is undefined: numpy's 0/0 is NaN,
    which Arrow hands to Spark as null, and DuckDB's 0/0 is NULL. Both
    rank it after every defined cosine, so the per-task top-k prune must
    too. The corpus has one zero-norm query (3: every cosine undefined,
    ranked by neighbor_id alone) and one zero-norm corpus vector (100)."""
    df = T.embed_knn_bruteforce(spark, zero_norm_dir)
    _match_zero_norm_oracle(
        df, zero_norm_dir, T.ORACLE_SQL["embed_knn_bruteforce"], "zero-norm knn"
    )
    rows = df.collect()
    assert [r["neighbor_id"] for r in rows if r["query_id"] == 3] == [0, 1, 2, 4, 5]
    assert all(r["neighbor_id"] != 100 for r in rows)


@pytest.mark.parametrize(
    "name",
    [
        "ann_lsh_search",
        "ann_lsh_search_multiprobe",
        "ann_ivf_assign",
        "ann_ivf_search",
        "embed_quantize",
    ],
)
def test_zero_norm_vectors_match_the_oracle(spark, zero_norm_dir, name):
    """The Spark-SQL cosine and int8 scale divide by a norm: a zero
    vector yields NULL (try_divide), as DuckDB's x/0 does, instead of
    failing the query with DIVIDE_BY_ZERO under ANSI mode."""
    _match_zero_norm_oracle(
        _ALL_QUERIES[name](spark, zero_norm_dir), zero_norm_dir, _ALL_ORACLES[name], name
    )


def test_driver_blocks_are_bounded_by_an_assertion(spark, sf_dir):
    """Every query or centroid block the vector searches collect goes
    through ``_bounded_block``, which raises instead of collecting more
    than its bound."""
    from pyspark.sql import functions as F

    emb = T._embeddings(spark, sf_dir).filter(F.col("vec_id") < 4)
    ids, mat = T._bounded_block(emb, 4)
    assert ids.tolist() == [0, 1, 2, 3] and mat.shape[0] == 4
    with pytest.raises(ValueError, match="bound of 3"):
        T._bounded_block(emb, 3)
