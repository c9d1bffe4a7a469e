"""Link extraction + host graph + PageRank (functions/weburl.py,
operators/graph.py). The PageRank oracle is a pure-Python power
iteration implementing the IDENTICAL update (uniform start, damped
contributions, dangling-mass redistribution, L1-delta early exit), so
Spark must agree to float-sum-ordering tolerance at every setting."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from rustcheatersdatapipeline_spark.functions.weburl import (
    extract_links,
    host_graph,
    host_rank,
)
from rustcheatersdatapipeline_spark.operators.graph import (
    label_propagation,
    pagerank,
    triangle_counts,
)


def _pagerank_ref(edges, damping=0.85, tol=1e-6, max_iter=40):
    eset = sorted(set(edges))
    nodes = sorted({a for a, _ in eset} | {b for _, b in eset})
    n = len(nodes)
    out = {v: 0 for v in nodes}
    for a, _ in eset:
        out[a] += 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(max_iter):
        dangling = sum(r for v, r in rank.items() if out[v] == 0)
        new = {v: (1 - damping) / n + damping * dangling / n for v in nodes}
        for a, b in eset:
            new[b] += damping * rank[a] / out[a]
        delta = sum(abs(new[v] - rank[v]) for v in nodes)
        rank = new
        if delta < tol:
            break
    return rank


def _edges_df(spark, edges):
    return spark.createDataFrame([(a, b) for a, b in edges], "src string, dst string")


def test_pagerank_matches_reference_random_graph(spark):
    rng = np.random.RandomState(71)
    nodes = [f"n{i}" for i in range(40)]
    edges = {(nodes[rng.randint(40)], nodes[rng.randint(40)]) for _ in range(160)}
    edges = [(a, b) for a, b in edges if a != b]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(_edges_df(spark, edges), max_iter=12, tol=1e-12).collect()
    }
    want = _pagerank_ref(edges, max_iter=12, tol=1e-12)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_pagerank_cycle_uniform_and_star_shape(spark):
    cycle = [(f"c{i}", f"c{(i + 1) % 5}") for i in range(5)]
    got = {r["node"]: r["rank"] for r in pagerank(_edges_df(spark, cycle), max_iter=8).collect()}
    for v, r in got.items():
        assert abs(r - 0.2) < 1e-12, v

    star = [(f"leaf{i}", "hub") for i in range(6)]
    ranks = {r["node"]: r["rank"] for r in pagerank(_edges_df(spark, star), max_iter=10, tol=1e-12).collect()}
    want = _pagerank_ref(star, max_iter=10, tol=1e-12)
    assert ranks["hub"] == max(ranks.values())
    for v in want:
        assert abs(ranks[v] - want[v]) < 1e-9
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # dangling hub conserved


@pytest.mark.slow
def test_pagerank_early_exit_agrees_with_reference(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    got = {r["node"]: r["rank"] for r in pagerank(_edges_df(spark, edges), tol=1e-3, max_iter=40).collect()}
    want = _pagerank_ref(edges, tol=1e-3, max_iter=40)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9


def test_extract_links_resolution_and_filtering(spark):
    html = """
    <a href="http://other.test/page">abs</a>
    <a href="/root.html">rooted</a>
    <a href="sub/rel.html">relative</a>
    <a href="../up.html">parent</a>
    <a href="//proto.test/x">protocol-relative</a>
    <a href="#frag">fragment only</a>
    <a href="mailto:a@b.c">mail</a>
    <a href="javascript:void(0)">js</a>
    <IMG SRC='http://img.test/pic.png'>
    <a href="HTTP://OTHER.test/page#sec?">case+frag</a>
    """
    df = spark.createDataFrame(
        [("http://a.test/dir/index.html", html)], "url string, html string"
    )
    got = {r["link"] for r in extract_links(df, "html", "url").collect()}
    assert got == {
        "http://other.test/page",
        "http://a.test/root.html",
        "http://a.test/dir/sub/rel.html",
        "http://a.test/up.html",
        "http://proto.test/x",
        "http://img.test/pic.png",
    }


def test_extract_links_urljoin_differential(spark):
    """Resolution agrees with stdlib urljoin for a sweep of reference
    shapes (the canonical_url pass applied identically to both)."""
    from urllib.parse import urljoin

    from rustcheatersdatapipeline_spark.functions.weburl import canonical_url

    base = "https://host.test/a/b/c.html?x=1"
    refs = [
        "d.html", "./d.html", "../d.html", "../../d.html", "../../../d.html",
        "/d.html", "//other.test/d", "https://abs.test/q?b=2&a=1",
        "d.html?z=9#frag", "?only=query", "sub/", ".", "..",
    ]
    html = "".join(f'<a href="{r}">x</a>' for r in refs)
    df = spark.createDataFrame([(base, html)], "url string, html string")
    got = {r["link"] for r in extract_links(df, "html", "url").collect()}
    expect_raw = {urljoin(base, r) for r in refs}
    exp_df = spark.createDataFrame([(u,) for u in expect_raw] + [(base,)], "u string")
    rows = exp_df.select("u", canonical_url("u").alias("c")).collect()
    canon_base = next(r["c"] for r in rows if r["u"] == base)
    expected = {r["c"] for r in rows if r["u"] != base} - {canon_base}
    assert got == expected


def test_extract_links_fanout_bound(spark):
    html = "".join(f'<a href="/p{i}.html">x</a>' for i in range(50))
    df = spark.createDataFrame([("http://a.test/", html)], "url string, html string")
    got = extract_links(df, "html", "url", max_links_per_page=10).collect()
    assert len(got) == 10


def test_host_graph_and_rank(spark):
    pages = [
        ("http://a.test/1", '<a href="http://b.test/x">.</a><a href="http://b.test/y">.</a>'),
        ("http://a.test/2", '<a href="http://c.test/x">.</a><a href="http://a.test/3">.</a>'),
        ("http://c.test/1", '<a href="http://b.test/z">.</a>'),
    ]
    df = spark.createDataFrame(pages, "url string, html string")
    links = extract_links(df, "html", "url")
    hg = {(r["src_host"], r["dst_host"]): r["n_links"] for r in host_graph(links).collect()}
    assert hg == {("a.test", "b.test"): 2, ("a.test", "c.test"): 1, ("c.test", "b.test"): 1}
    ranks = {r["host"]: r["rank"] for r in host_rank(links, tol=1e-10).collect()}
    want = _pagerank_ref(
        [("a.test", "b.test"), ("a.test", "c.test"), ("c.test", "b.test")], tol=1e-10
    )
    assert ranks["b.test"] == max(ranks.values())  # most linked-to host wins
    for v in want:
        assert abs(ranks[v] - want[v]) < 1e-9


# ------------------------------------- persisted host graph (streaming)


def _warc_batch(spark, pages):
    """Rows in the read_warc shape the sink consumes: (url, html)."""
    rows = [
        (None, "response", 200, "text/html; charset=utf-8", url, bytearray(html.encode()))
        for url, html in pages
    ]
    return spark.createDataFrame(
        rows,
        "corrupt_reason string, warc_type string, http_status int, "
        "mime string, target_uri string, payload binary",
    )


def test_host_graph_sink_accumulates_across_batches(spark, tmp_path):
    from rustcheatersdatapipeline_spark.plans.crawl import (
        HostGraphIngestSink,
        host_rank_from_store,
    )
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    store = GoldStore(spark, str(tmp_path / "gold"))
    sink = HostGraphIngestSink(store)
    b1 = _warc_batch(
        spark,
        [
            ("http://a.test/1", '<a href="http://b.test/x">.</a><a href="http://c.test/y">.</a>'),
        ],
    )
    b2 = _warc_batch(spark, [("http://c.test/1", '<a href="http://b.test/z">.</a>')])
    assert sink(b1, 0) == 2
    assert sink(b2, 1) == 1
    ranks = {r["host"]: r["rank"] for r in host_rank_from_store(store).collect()}
    want = _pagerank_ref([("a.test", "b.test"), ("a.test", "c.test"), ("c.test", "b.test")])
    for v in want:
        assert abs(ranks[v] - want[v]) < 1e-9
    # replaying a batch double-counts weights but never changes ranks
    sink(b2, 1)
    ranks2 = {r["host"]: r["rank"] for r in host_rank_from_store(store).collect()}
    assert ranks2 == pytest.approx(ranks)


def test_host_graph_sink_compaction_folds_counters(spark, tmp_path):
    from rustcheatersdatapipeline_spark.plans.crawl import HostGraphIngestSink
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    store = GoldStore(spark, str(tmp_path / "gold"))
    sink = HostGraphIngestSink(store, max_dirs=1)
    page = [("http://a.test/1", '<a href="http://b.test/x">.</a>')]
    for i in range(3):
        sink(_warc_batch(spark, page), i)
    rows = store.read("host_graph").collect()
    assert len(rows) == 1
    assert rows[0]["src_host"] == "a.test" and rows[0]["dst_host"] == "b.test"
    assert rows[0]["n_links"] == 3


def _pagerank_ref_weighted(edges, damping=0.85, tol=1e-6, max_iter=40):
    """edges: {(a, b): w} — same update with weight-share contributions."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out = {v: 0.0 for v in nodes}
    for (a, _), w in edges.items():
        out[a] += w
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(max_iter):
        dangling = sum(r for v, r in rank.items() if out[v] == 0)
        new = {v: (1 - damping) / n + damping * dangling / n for v in nodes}
        for (a, b), w in edges.items():
            new[b] += damping * rank[a] * w / out[a]
        delta = sum(abs(new[v] - rank[v]) for v in nodes)
        rank = new
        if delta < tol:
            break
    return rank


def test_weighted_pagerank_matches_reference(spark):
    edges = {("a", "b"): 3.0, ("a", "c"): 1.0, ("c", "b"): 2.0, ("b", "a"): 1.0}
    df = spark.createDataFrame(
        [(a, b, w) for (a, b), w in edges.items()], "src string, dst string, w double"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight="w", max_iter=15, tol=1e-12).collect()
    }
    want = _pagerank_ref_weighted(edges, max_iter=15, tol=1e-12)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v
    # weights matter: b receives 3x a->b mass vs unweighted
    unw = {r["node"]: r["rank"] for r in pagerank(df.drop("w"), max_iter=15, tol=1e-12).collect()}
    assert got["b"] > unw["b"]


def test_weighted_pagerank_folds_duplicate_edges(spark):
    dup = spark.createDataFrame(
        [("a", "b", 1.0), ("a", "b", 2.0), ("a", "c", 1.0)],
        "src string, dst string, w double",
    )
    folded = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0)], "src string, dst string, w double"
    )
    got = {r["node"]: r["rank"] for r in pagerank(dup, weight="w", max_iter=10).collect()}
    want = {r["node"]: r["rank"] for r in pagerank(folded, weight="w", max_iter=10).collect()}
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12


def test_personalized_pagerank_matches_reference(spark):
    """Teleport + dangling mass concentrate on the seed distribution;
    nodes unreachable from the seeds decay toward zero."""
    edges = [
        ("seed", "near", None),
        ("near", "seed", None),
        ("near", "far", None),
        ("island_a", "island_b", None),
        ("island_b", "island_a", None),
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in edges], "src string, dst string")
    seeds = spark.createDataFrame([("seed", 2.0), ("ghost", 5.0)], "node string, mass double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, reset=seeds, max_iter=25, tol=1e-14).collect()
    }

    # reference: identical update with teleport vector r
    eset = sorted({(a, b) for a, b, _ in edges})
    nodes = sorted({a for a, _ in eset} | {b for _, b in eset})
    rp = {v: (1.0 if v == "seed" else 0.0) for v in nodes}  # ghost not in graph
    out = {v: 0.0 for v in nodes}
    for a, _ in eset:
        out[a] += 1
    rank = dict(rp)
    d = 0.85
    for _ in range(25):
        dangling = sum(r for v, r in rank.items() if out[v] == 0)
        new = {v: (1 - d + d * dangling) * rp[v] for v in nodes}
        for a, b in eset:
            new[b] += d * rank[a] / out[a]
        delta = sum(abs(new[v] - rank[v]) for v in nodes)
        rank = new
        if delta < 1e-14:
            break
    for v in rank:
        assert abs(got[v] - rank[v]) < 1e-9, v
    assert got["seed"] > got["near"] > got["far"] > 0
    assert got["island_a"] < 1e-6 and got["island_b"] < 1e-6  # unreachable decays
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved on the seeds


def test_personalized_pagerank_rejects_ghost_only_seeds(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("ghost", 1.0)], "node string, mass double")
    with pytest.raises(ValueError, match="no mass inside the graph"):
        pagerank(df, reset=seeds)


def _hits_ref(edges, max_iter=30, tol=1e-9):
    import math

    eset = sorted(set(edges))
    nodes = sorted({a for a, _ in eset} | {b for _, b in eset})
    n = len(nodes)
    h = {v: 1.0 / math.sqrt(n) for v in nodes}
    a = dict(h)
    for _ in range(max_iter):
        a_raw = {v: 0.0 for v in nodes}
        for u, v in eset:
            a_raw[v] += h[u]
        norm = math.sqrt(sum(x * x for x in a_raw.values()))
        if norm == 0:
            break
        a_new = {v: x / norm for v, x in a_raw.items()}
        h_raw = {v: 0.0 for v in nodes}
        for u, v in eset:
            h_raw[u] += a_new[v]
        norm = math.sqrt(sum(x * x for x in h_raw.values()))
        if norm == 0:
            break
        h_new = {v: x / norm for v, x in h_raw.items()}
        delta = sum(abs(h_new[v] - h[v]) + abs(a_new[v] - a[v]) for v in nodes)
        h, a = h_new, a_new
        if delta < tol:
            break
    return h, a


def test_hits_matches_reference(spark):
    from rustcheatersdatapipeline_spark.operators.graph import hits

    rng = np.random.RandomState(81)
    nodes = [f"n{i}" for i in range(25)]
    edges = list(
        {(nodes[rng.randint(25)], nodes[rng.randint(25)]) for _ in range(90)}
    )
    edges = [(u, v) for u, v in edges if u != v]
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(_edges_df(spark, edges), max_iter=10, tol=1e-15).collect()
    }
    h, a = _hits_ref(edges, max_iter=10, tol=1e-15)
    for v in h:
        assert abs(got[v][0] - h[v]) < 1e-9, v
        assert abs(got[v][1] - a[v]) < 1e-9, v


def test_hits_hub_and_authority_separate(spark):
    """A directory page linking to every content page is the top hub;
    the page every directory links to is the top authority."""
    from rustcheatersdatapipeline_spark.operators.graph import hits

    edges = [("dir1", f"page{i}") for i in range(4)] + [
        ("dir2", "page0"),
        ("dir2", "page1"),
    ]
    got = {r["node"]: r for r in hits(_edges_df(spark, edges), max_iter=20).collect()}
    assert got["dir1"]["hub"] == max(r["hub"] for r in got.values())
    assert got["page0"]["authority"] == max(r["authority"] for r in got.values())
    assert got["dir1"]["authority"] == 0.0  # nothing links to the directory
    assert got["page0"]["hub"] == 0.0  # content pages link nowhere


def test_host_graph_and_corpus_sinks_share_one_store(spark, tmp_path):
    """The document sink and the host-graph sink publish to the SAME
    GoldStore without clobbering each other's tables — the CAS loop
    absorbs the version interleaving."""
    from rustcheatersdatapipeline_spark.plans.crawl import HostGraphIngestSink
    from rustcheatersdatapipeline_spark.streaming.ingest import CorpusIngestSink
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    store = GoldStore(spark, str(tmp_path / "gold"))
    doc_sink = CorpusIngestSink(store)
    hg_sink = HostGraphIngestSink(store)

    docs = spark.createDataFrame(
        [
            (1, "A perfectly ordinary standalone prose document about levees.", None, "http://a.test/1"),
            (2, "A second unrelated document discussing register allocation.", None, "http://a.test/2"),
        ],
        "doc_id long, text string, lang string, source string",
    ).withColumn("n_chars", F.length("text").cast("long"))
    warc = _warc_batch(
        spark, [("http://a.test/1", '<a href="http://b.test/x">.</a>')]
    )
    assert doc_sink(docs, 0) == 2
    assert hg_sink(warc, 0) == 1
    assert doc_sink(docs, 1) == 0  # replay still deduped after interleaving
    tables = store.current_manifest()["tables"]
    assert {"corpus", "host_graph"} <= set(tables)
    assert store.read("host_graph").count() == 1
    assert store.read("corpus").count() == 2


def test_personalized_pagerank_folds_duplicate_seeds(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    dup = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "node string, mass double"
    )
    folded = spark.createDataFrame(
        [("a", 3.0), ("b", 3.0)], "node string, mass double"
    )
    got = {r["node"]: r["rank"] for r in pagerank(df, reset=dup, max_iter=8).collect()}
    want = {r["node"]: r["rank"] for r in pagerank(df, reset=folded, max_iter=8).collect()}
    assert set(got) == {"a", "b"}  # no duplicated state rows
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12


# ---- triangle counting + label propagation (r8) ------------------------


def _triangles_ref(edges):
    """Naive reference: per-node triangle membership counts."""
    und = set()
    for a, b in edges:
        if a != b:
            und.add((min(a, b), max(a, b)))
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    for a, b in und:
        for c in adj[a] & adj[b]:
            if a < b < c:
                for n in (a, b, c):
                    counts[n] = counts.get(n, 0) + 1
    return counts


def test_triangle_counts_match_reference_random_graph(spark):
    rng = np.random.RandomState(88)
    edges = [
        (int(rng.randint(0, 40)), int(rng.randint(0, 40))) for _ in range(220)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == _triangles_ref(edges)


def test_triangle_counts_known_shapes(spark):
    # K4 has 4 triangles, every node in 3; a path has none
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4, "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    path = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    assert triangle_counts(path).count() == 0
    # duplicates + reversed edges + self loops must not inflate counts
    noisy = spark.createDataFrame(
        k4 + [(b, a) for a, b in k4] + [(1, 1), (0, 1)], "src long, dst long"
    )
    got2 = {r["node"]: r["n_tri"] for r in triangle_counts(noisy).collect()}
    assert got2 == got


def _lpa_ref(edges, rounds):
    """Identical-definition synchronous LPA: most frequent neighbor
    label, ties to the smaller label."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n in adj:
            hist = {}
            for m in adj[n]:
                hist[labels[m]] = hist.get(labels[m], 0) + 1
            best = sorted(hist.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[n] = best
        labels = new
    return labels


def test_label_propagation_matches_reference(spark):
    rng = np.random.RandomState(19)
    edges = [
        (int(rng.randint(0, 30)), int(rng.randint(0, 30))) for _ in range(120)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    for rounds in (0, 1, 3, 8):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df, rounds=rounds).collect()
        }
        assert got == _lpa_ref(edges, rounds), rounds


def test_label_propagation_two_cliques(spark):
    """Two cliques joined by one bridge edge settle into two
    communities labeled by each clique's minimum id."""
    c1 = [(a, b) for a in range(5) for b in range(5) if a < b]
    c2 = [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    df = spark.createDataFrame(c1 + c2 + [(4, 10)], "src long, dst long")
    got = {
        r["node"]: r["label"] for r in label_propagation(df, rounds=6).collect()
    }
    assert all(got[n] == 0 for n in range(5))
    assert all(got[n] == 10 for n in range(10, 15))


def test_connected_components_contraction_path_matches_finish_path(spark, monkeypatch):
    """The distributed min-neighbor contraction rounds (taken when the
    quotient exceeds CC_FINISH_BYTE_BUDGET) must produce byte-identical
    components to the direct driver union-find finish. A path + a star
    + isolated self-loop nodes cover chain contraction, one-round
    collapse, and the mapping fallback for nodes whose label never
    appears in the final quotient. Budget 1024 bytes (~12 edges at the
    measured ~84 B/edge; safely above the ~16 B/partition empty-block
    floor documented on the constant) forces the same multi-round
    contraction depth the r13 edge-count patch (8 edges) exercised."""
    import rustcheatersdatapipeline_spark.operators.graph as G

    edges = (
        [(i, i + 1) for i in range(0, 40)]  # path: many contraction rounds
        + [(100, 100 + i) for i in range(1, 20)]  # star: one-round collapse
        + [(200, 201), (201, 202), (300, 300)]  # chain + self-loop node
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    want = {
        r["node"]: r["component"]
        for r in G.connected_components(df).collect()
    }
    monkeypatch.setattr(G, "CC_FINISH_BYTE_BUDGET", 1024)
    got = {
        r["node"]: r["component"]
        for r in G.connected_components(df).collect()
    }
    assert got == want
    assert want[40] == 0 and want[119] == 100 and want[300] == 300


def test_connected_components_unsized_finish_is_bounded(spark, monkeypatch):
    """When the BlockManager reports no size for the quotient
    checkpoint, the finish collects at most the edge count the byte
    budget stands for and refuses a larger quotient, instead of an
    unbounded driver collect."""
    import rustcheatersdatapipeline_spark.operators.graph as G

    # 11 undirected edges -> 22 directed quotient edges
    edges = [(i, i + 1) for i in range(10)] + [(100, 101)]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = {r["node"]: r["component"] for r in G.connected_components(df).collect()}
    monkeypatch.setattr(G, "_stored_bytes", lambda handle: None)
    got = {r["node"]: r["component"] for r in G.connected_components(df).collect()}
    assert got == want
    monkeypatch.setattr(G, "CC_FINISH_BYTE_BUDGET", 22 * G._CACHED_EDGE_BYTES)
    got = {r["node"]: r["component"] for r in G.connected_components(df).collect()}
    assert got == want
    monkeypatch.setattr(G, "CC_FINISH_BYTE_BUDGET", 21 * G._CACHED_EDGE_BYTES)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    with pytest.raises(RuntimeError, match="finish budget"):
        G.connected_components(df)
    # the refused quotient's checkpoint is released, not stranded
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= before
