"""Partition-layout invariance: declared queries must return identical
rows whatever the shuffle width — the determinism contract that makes
results reproducible across cluster sizes (a 32-way local run and a
1000-executor run must agree bit-for-bit)."""

import pytest

from rustcheatersdatapipeline_spark import plan_cache
from rustcheatersdatapipeline_spark.plans import analytics as A
from rustcheatersdatapipeline_spark.plans import queries as Q
from rustcheatersdatapipeline_spark.plans import training as T

#: queries whose plans exercise shuffling ops with tie-break-sensitive
#: windows/aggregations — the ones layout bugs would corrupt first
CASES = {
    "q12": Q.q12,
    "q19": Q.q19,
    "q20": Q.q20,
    "dedup_exact": T.dedup_exact,
    "dedup_minhash_lsh": T.dedup_minhash_lsh,
    "events_sessionize": A.events_sessionize,
}


def test_choose_shingle_k_is_layout_invariant(spark, sf_dir, tmp_path):
    """The derived shingle width must not depend on file/partition layout:
    doc_id-mod sampling + integer df arithmetic give the same k whether
    the documents arrive as 1 file or 13, and across shuffle widths."""
    docs = T.table(spark, sf_dir, "documents")
    relaid = tmp_path / "docs_relaid"
    docs.repartition(13).write.parquet(str(relaid / "documents.parquet"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        plan_cache.release(spark, sf_dir)
        k1 = T.choose_shingle_k(spark, sf_dir)
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        plan_cache.release(spark, sf_dir)
        k2 = T.choose_shingle_k(spark, sf_dir)
        k3 = T.choose_shingle_k(spark, str(relaid))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        plan_cache.release(spark, sf_dir)
        plan_cache.release(spark, str(relaid))
    assert k1 == k2 == k3
    assert k1 in T.SHINGLE_K_CANDIDATES


def test_jaccard_pair_set_is_k_invariant(spark, sf_dir, monkeypatch):
    """ADVICE r4: the df-derived shingle width is only safe to vary if
    the j ≥ 0.8 PAIR SET does not depend on which candidate width is
    chosen (jac values may differ; the detected pairs must not). Force
    each candidate k through the chooser and compare pair sets."""
    pair_sets = {}
    for k in T.SHINGLE_K_CANDIDATES:
        monkeypatch.setattr(T, "choose_shingle_k", lambda spark, sf_dir, k=k: k)
        pair_sets[k] = {
            (r["doc_a"], r["doc_b"])
            for r in T.dedup_ngram_jaccard(spark, sf_dir).collect()
        }
    first = pair_sets[T.SHINGLE_K_CANDIDATES[0]]
    assert first and all(s == first for s in pair_sets.values()), {
        k: len(s) for k, s in pair_sets.items()
    }


@pytest.mark.parametrize("name", sorted(CASES))
def test_result_is_shuffle_width_invariant(spark, sf_dir, name):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, CASES[name](spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, CASES[name](spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b, name
