"""Lifecycle tests for the plan-level cache registry (VERDICT r12
next-round #3): training-plan ``.cache()`` handles must be owned,
shared across repeat invocations, and explicitly releasable — a
multi-corpus session must not accumulate executor storage."""

import shutil

import pytest

from rustcheatersdatapipeline_spark import plan_cache
from rustcheatersdatapipeline_spark.plans import training as T


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _persistent_rdd_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


@pytest.fixture()
def clean_registry(spark):
    plan_cache.release(spark)
    yield
    plan_cache.release(spark)


def test_release_empties_persistent_rdds(spark, sf_dir, clean_registry):
    # compare ID SETS, not counts: Spark's ContextCleaner may
    # concurrently unpersist unreferenced leftovers from EARLIER tests
    # (e.g. a builder-internal localCheckpoint whose Python refs died),
    # which made an == count assert flake in long sessions. The
    # registry's obligation is that everything it created is gone and
    # nothing pre-existing was touched by bookkeeping it doesn't own.
    base_ids = _persistent_rdd_ids(spark)
    T.dedup_ngram_jaccard(spark, sf_dir).count()
    handles = plan_cache.registered(spark, sf_dir)
    assert len(handles) >= 3  # shingles, shingle_df, ppjoin_prefix
    created = _persistent_rdd_ids(spark) - base_ids
    assert created
    released = plan_cache.release(spark, sf_dir)
    assert released == len(handles)
    assert plan_cache.registered(spark, sf_dir) == []
    assert _persistent_rdd_ids(spark) & created == set()


def test_graph_triangles_leaves_no_persistent_rdd(spark, sf_dir, clean_registry):
    """triangle_counts holds no checkpoint (its e1/e2/closing consumers
    read the orientation through ReusedExchange), so once the registry
    is released no persistent RDD the query made is left, even while
    the returned frame is still referenced."""
    base_ids = _persistent_rdd_ids(spark)
    df = T.graph_triangles(spark, sf_dir)
    assert df.count() > 0
    plan_cache.release(spark)
    assert _persistent_rdd_ids(spark) - base_ids == set()


def _registry_owned_rdd_ids(spark) -> set:
    reg = getattr(spark, plan_cache._REG_ATTR, {})
    owned: set = set()
    for bucket in reg.values():
        for handle in bucket.values():
            owned |= set(handle.rdd_ids)
    return owned


def _keys(spark) -> list:
    return sorted((key for _, key in plan_cache.registered(spark)), key=repr)


def test_repeat_invocation_does_not_double_cache(spark, sf_dir, clean_registry):
    T.dedup_ngram_jaccard(spark, sf_dir).count()
    k = T.choose_shingle_k(spark, sf_dir)
    jaccard_keys = [
        ("shingle_k",),
        ("shingles", k, False),
        ("shingles", k, True),
        ("shingle_df", k, True),
        ("ppjoin_prefix", k),
        ("jacc_cand", "ppjoin", k),
    ]
    assert _keys(spark) == sorted(jaccard_keys, key=repr)
    ids = _persistent_rdd_ids(spark)
    # same builder again: same keys, and every NEW persistent
    # RDD must be registry-owned (the per-invocation checkpoint
    # REPLACES its previous generation by design, so one new owned id
    # per checkpointed key is expected; an UNOWNED new id is what
    # double-caching would create). Id-set compare, not counts: the
    # ContextCleaner may concurrently drop unrelated leftovers, which
    # made the former == count assert flake in long sessions.
    T.dedup_ngram_jaccard(spark, sf_dir).count()
    assert _keys(spark) == sorted(jaccard_keys, key=repr)
    assert _persistent_rdd_ids(spark) - ids <= _registry_owned_rdd_ids(spark)
    # containment derives from the SAME shingle/df/prefix tables — its
    # invocation must reuse the jaccard entries, not re-cache them; the
    # only key it adds is its own verify-candidate checkpoint
    T.dedup_containment(spark, sf_dir).count()
    assert _keys(spark) == sorted(
        jaccard_keys + [("jacc_cand", "containment", k)], key=repr
    )
    assert _persistent_rdd_ids(spark) - ids <= _registry_owned_rdd_ids(spark)


def test_mixture_checkpoint_is_registry_owned(spark, sf_dir, clean_registry):
    """mixture_token_budget_sample's tokenized base is a registry
    checkpoint: release() drops every persistent RDD the call created."""
    base_ids = _persistent_rdd_ids(spark)
    T.mixture_token_budget_sample(spark, sf_dir).count()
    assert ("mixture_base",) in _keys(spark)
    created = _persistent_rdd_ids(spark) - base_ids
    assert created
    plan_cache.release(spark, sf_dir)
    assert _persistent_rdd_ids(spark) & created == set()


def test_two_sf_sweeps_release_independently(spark, sf_dir, tmp_path, clean_registry):
    other = tmp_path / "sf_other"
    other.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", other / "documents.parquet")
    T.dedup_exact(spark, sf_dir).count()  # uncached baseline builder
    T.simhash_neardup(spark, sf_dir).count()
    T.simhash_neardup(spark, str(other)).count()
    assert len(plan_cache.registered(spark, sf_dir)) == 2  # sig + pairs
    assert len(plan_cache.registered(spark, str(other))) == 2
    # releasing one corpus leaves the other's handles untouched
    plan_cache.release(spark, str(other))
    assert plan_cache.registered(spark, str(other)) == []
    assert len(plan_cache.registered(spark, sf_dir)) == 2
    plan_cache.release(spark, sf_dir)
    assert plan_cache.registered(spark) == []


def test_checkpointed_rebuilds_without_stranding(spark, sf_dir, clean_registry):
    """``checkpointed`` must re-run the build on every call (a later
    bench rep re-does the work — no cross-invocation replay) while
    holding exactly ONE generation of checkpoint blocks per key."""
    base = _persistent_rdds(spark)
    builds = []

    def build():
        builds.append(1)
        return spark.range(5)

    df1 = plan_cache.checkpointed(spark, sf_dir, ("ckpt_probe",), build)
    assert df1.count() == 5
    after_first = _persistent_rdds(spark)
    assert after_first > base  # blocks held, owned by the registry
    df2 = plan_cache.checkpointed(spark, sf_dir, ("ckpt_probe",), build)
    assert df2.count() == 5
    assert builds == [1, 1]  # rebuilt, not memoized
    assert df2 is not df1
    # one generation only: the first call's blocks were dropped
    assert _persistent_rdds(spark) == after_first
    assert len(plan_cache.registered(spark, sf_dir)) == 1
    plan_cache.release(spark, sf_dir)
    assert _persistent_rdds(spark) == base


def test_sibling_table_scopes_coexist(spark, sf_dir, clean_registry):
    """Scopes over DIFFERENT table sets of one corpus (documents- vs
    embeddings-derived plans) are siblings, not stale generations: an
    embeddings-scoped entry must not evict the documents-scoped bucket
    (that eviction dropped every memoized near-dup cache each time
    embed_neardup_cosine ran between two near-dup queries — a measured
    3× regression on dedup_ngram_jaccard/dedup_minhash_lsh)."""
    docs_df = plan_cache.cached(
        spark, sf_dir, ("sibling_docs",), lambda: spark.range(7)
    )
    docs_df.count()
    assert len(plan_cache.registered(spark, sf_dir)) == 1
    plan_cache.checkpointed(
        spark,
        sf_dir,
        ("sibling_emb",),
        lambda: spark.range(3),
        tables=("embeddings",),
    ).count()
    # both scopes alive: the documents entry is still the SAME handle
    assert len(plan_cache.registered(spark, sf_dir)) == 2
    again = plan_cache.cached(
        spark, sf_dir, ("sibling_docs",), lambda: spark.range(7)
    )
    assert again is docs_df  # memo survived the sibling-scope call
    plan_cache.release(spark, sf_dir)


def test_inplace_rewrite_evicts_stale_generation(spark, sf_dir, tmp_path, clean_registry):
    d = tmp_path / "sf_rw"
    d.mkdir()
    dst = d / "documents.parquet"
    shutil.copy(f"{sf_dir}/documents.parquet", dst)
    first = T._simhash_docs_unsorted(spark, str(d))
    sim1 = plan_cache.cached(
        spark, str(d), ("simhash_sig",), lambda: first
    )
    sim1.count()
    # rewrite the table in place (new mtime → new corpus identity)
    shutil.copy(f"{sf_dir}/documents.parquet", dst)
    import os

    os.utime(dst)
    sim2 = plan_cache.cached(
        spark,
        str(d),
        ("simhash_sig",),
        lambda: T._simhash_docs_unsorted(spark, str(d)),
    )
    assert sim2 is not sim1  # stale generation evicted, fresh built
    assert len(plan_cache.registered(spark, str(d))) == 1


def test_rewritten_json_endpoint_evicts_only_its_own_read(spark, tmp_path, clean_registry):
    """Bronze reads are keyed on their ``.json`` file's identity: a
    rewritten endpoint gets a fresh entry, a sibling endpoint keeps its
    memoized read, and releasing the directory drops both."""
    import os

    d = str(tmp_path)
    for name in ("a", "b"):
        with open(os.path.join(d, f"{name}.json"), "w") as fh:
            fh.write('{"x": 1}')

    def read(name, n):
        return plan_cache.cached(
            spark, d, ("bronze", name), lambda: spark.range(n), tables=(f"{name}.json",)
        )

    a1, b1 = read("a", 1), read("b", 2)
    assert read("a", 3) is a1 and read("b", 4) is b1
    with open(os.path.join(d, "a.json"), "w") as fh:
        fh.write('{"x": 10}')
    a2 = read("a", 5)
    assert a2 is not a1 and a2.count() == 5
    assert read("b", 6) is b1
    assert len(plan_cache.registered(spark, d)) == 2
    assert plan_cache.release(spark, d) == 2
    assert plan_cache.registered(spark, d) == []


def test_bm25_and_hybrid_checkpoints_coexist(spark, sf_dir, clean_registry):
    """ADVICE r13 (medium): bm25_search and hybrid_search_rrf used to
    share the "bm25_postq" checkpoint key, so building the second
    DataFrame dropped the first's checkpoint blocks — a driver that
    builds both before executing the first got
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Per-consumer keys keep a
    previously returned handle valid across the other builder's build."""
    from rustcheatersdatapipeline_spark.plans import retrieval as R

    bm25 = R.bm25_search(spark, sf_dir)
    hybrid = R.hybrid_search_rrf(spark, sf_dir)
    assert bm25.count() > 0  # the ADVICE repro failed exactly here
    assert hybrid.count() > 0
    keys = [k for _, k in plan_cache.registered(spark, sf_dir)]
    assert ("bm25_postq", "bm25_search") in keys
    assert ("bm25_postq", "hybrid_search_rrf") in keys


def test_checkpoint_fallback_attributes_only_the_newest_rdd(
    spark, sf_dir, clean_registry, monkeypatch
):
    """ADVICE r13 (low): when the primary LogicalRDD-id accessor breaks
    and the getPersistentRDDs before/after diff takes over, the handle
    must claim ONLY the checkpoint's own RDD (the max new id — the
    checkpoint is created last), never a persistent RDD that build()
    itself registered: a same-key replace or release() would otherwise
    unpersist blocks owned by another handle."""
    monkeypatch.setattr(
        plan_cache,
        "_analyzed_rdd_id",
        lambda df: (_ for _ in ()).throw(RuntimeError("forced fallback")),
    )
    bystander = spark.sparkContext.parallelize(range(10)).persist()
    bystander.count()  # registers the bystander as a persistent RDD

    def build():
        return spark.range(5).selectExpr("id as a")

    plan_cache.checkpointed(spark, sf_dir, "fallback_probe", build)
    (_, key), = [
        (s, k) for s, k in plan_cache.registered(spark, sf_dir) if k == "fallback_probe"
    ]
    assert key == "fallback_probe"
    reg = getattr(spark, plan_cache._REG_ATTR)
    handle = next(
        b["fallback_probe"] for b in reg.values() if "fallback_probe" in b
    )
    assert len(handle.rdd_ids) == 1
    assert bystander.id() not in handle.rdd_ids
    # releasing the handle must leave the bystander's blocks alone
    plan_cache.release(spark, sf_dir)
    assert bystander.getStorageLevel().useMemory
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.get(bystander.id()) is not None
    bystander.unpersist()


def test_inplace_rewrite_rederives_sizing_scalars(spark, sf_dir, tmp_path, clean_registry):
    """The sizing scalars are memoized on the source table's file
    identity: rewriting ``documents.parquet`` in place must re-derive
    the shingle width (the oracle's ``ksel`` CTE derives it from the
    new file, so a stale k would split the two engines), and rewriting
    ``embeddings.parquet`` with a new row count must re-size the LSH
    plane ladder."""
    import os

    import duckdb

    src = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    d = tmp_path / "sf_scalars"
    d.mkdir()
    docs, emb = str(d / "documents.parquet"), str(d / "embeddings.parquet")
    shutil.copyfile(f"{src}/documents.parquet", docs)
    shutil.copyfile(f"{src}/embeddings.parquet", emb)
    corpus = str(d)
    con = duckdb.connect()

    def rewrite(path: str, select: str) -> None:
        tmp = path + ".tmp"
        con.execute(f"COPY ({select}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, path)

    assert T.choose_shingle_k(spark, corpus) == 15
    # per-doc unique text: every 9-char shingle is rare, so k = 9 passes
    rewrite(
        docs,
        "SELECT * REPLACE (sha256(CAST(doc_id AS VARCHAR)) "
        f"|| md5(CAST(doc_id AS VARCHAR)) AS text) FROM '{docs}'",
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    (oracle_k,) = con.execute(
        f"WITH pos AS (SELECT unnest(generate_series(1, {T._MAX_DOC_LEN})) AS i), "
        f"{T._KSEL_CTE} SELECT k FROM ksel"
    ).fetchone()
    assert oracle_k == 9
    assert T.choose_shingle_k(spark, corpus) == oracle_k

    n0 = T._emb_count(spark, corpus)
    planes0 = T.lsh_num_planes(spark, corpus)
    rewrite(emb, f"SELECT * FROM '{emb}' ORDER BY vec_id LIMIT 100")
    assert T._emb_count(spark, corpus) == 100 != n0
    assert T.lsh_num_planes(spark, corpus) == T._lsh_nplanes_for(100) != planes0


def _new_rdd_ids(spark, run) -> set:
    """Persistent RDD ids that ``run()`` (which also collects) leaves
    behind."""
    before = _persistent_rdd_ids(spark)
    run()
    return _persistent_rdd_ids(spark) - before


def test_iterative_operators_hold_only_the_returned_generation(
    spark, sf_dir, monkeypatch
):
    """Each per-round checkpoint generation is released once nothing
    reads it: after a call and a collect, a graph operator may hold at
    most the one generation its returned frame plans onto, and a
    trainer whose result is a driver-side list holds none."""
    import rustcheatersdatapipeline_spark.operators.graph as G
    from rustcheatersdatapipeline_spark.operators.classify import (
        lr_features,
        lr_train,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    # several contraction rounds, so mapping generations are superseded
    # (see the contraction-path test)
    monkeypatch.setattr(G, "CC_FINISH_BYTE_BUDGET", 1024)
    ops = {
        "connected_components": lambda: G.connected_components(edges),
        "pagerank": lambda: G.pagerank(edges, max_iter=2, tol=0.0),
        "hits": lambda: G.hits(edges, max_iter=2, tol=0.0),
        "label_propagation": lambda: G.label_propagation(edges, rounds=2),
    }
    for name, op in ops.items():
        left = _new_rdd_ids(spark, lambda: op().collect())
        assert len(left) <= 1, (name, left)

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} w{i % 5} shared text {i}") for i in range(12)],
        "doc_id long, text string",
    )
    labels = docs.selectExpr("doc_id", "CAST(doc_id % 2 AS DOUBLE) AS y")
    feats = lr_features(docs)
    assert _new_rdd_ids(spark, lambda: lr_train(feats, labels, n_iter=1)) == set()
    merges = []
    left = _new_rdd_ids(
        spark, lambda: merges.extend(T.bpe_train(spark, sf_dir, n_merges=3).collect())
    )
    assert len(merges) == 3
    assert left == set()
