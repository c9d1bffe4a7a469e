"""Distributed graph primitives: connected components + PageRank.

Spark has no native CC operator; this is MIN-NEIGHBOR CONTRACTION with
a budget-bounded finish, the shape practical systems converge on for
dup-family clustering:

  - while the quotient graph exceeds a fixed edge budget: contract
    every node into its minimum neighborhood label
    (``l(v) = min(v, min N(v))``) and rewrite edges between labels,
    ONE equi-join shuffle per round. Star-shaped dup clusters collapse
    in one round, but the worst case is O(diameter) rounds: on a path
    numbered in order every node takes its predecessor's label, so
    each round contracts a single edge (measured).
  - once the quotient fits the budget, finish with a driver-side
    union-find over ≤ ``CC_FINISH_BYTE_BUDGET`` bytes of (label, label)
    longs (96 MiB of cached blocks ≈ 1M edges) and broadcast the root
    map back — the same
    bounded-driver-step class as the k-means centroid collect: the
    bound is a compile-time constant, not data-dependent.  The naive
    alternative (iterate label propagation to convergence) costs a
    Spark job per graph-diameter hop; on latency-bound tiny quotients
    that is strictly worse than one bounded collect, and at 100 TB the
    contraction rounds have already shrunk the graph to the budget.

``localCheckpoint`` truncates lineage so round N's plan does not replay
rounds 1..N-1.  State per round is the edge quotient plus one
(node, label) composition map — linear in nodes, uniform shuffle keys.

Every per-round checkpoint in this module is a ``plan_cache.checkpoint``
handle. A generation is released as soon as the next one is
materialized (nothing reads it any more); an operator's final
generation stays only when the frame it returns plans onto it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plan_cache import _Handle, checkpoint

#: Max quotient size (cached-block bytes) handed to the driver-side
#: union-find finish: 96 MiB of checkpointed deserialized blocks ≈ the
#: 1M (a, b) int64 pairs the budget was specified as through r13
#: (measured ~84 B/edge cached; the Arrow transfer itself is ~16 MiB)
#: — far under the engine's broadcast budget
#: (catalog.BROADCAST_MEMORY_BUDGET) that the root map rides back on.
#: r14 (§1.2 job-count): the fit test reads the freshly checkpointed
#: RDD's block sizes from the driver's BlockManager metadata
#: (getRDDStorageInfo, by the checkpoint handle's RDD id) — ZERO Spark
#: jobs — where the r13 loop paid one ``limit(budget+1).count()`` job
#: per round (incl. the final one).
#: Floor: an EMPTY cached RDD still reports ~16 B/partition of block
#: overhead, so the budget must stay well above numPartitions*16 or
#: the loop could contract an already-empty quotient forever.
CC_FINISH_BYTE_BUDGET = 96 * 1024 * 1024
#: Cached bytes per quotient edge the budget is stated in (the measured
#: ~84 B rounded up): when the BlockManager reports no size for a
#: checkpoint, the finish collects at most
#: ``CC_FINISH_BYTE_BUDGET // _CACHED_EDGE_BYTES`` edges (1 Mi at the
#: default budget) and refuses a larger quotient.
_CACHED_EDGE_BYTES = 96


def _stored_bytes(handle: _Handle) -> int | None:
    """Memory + disk bytes the BlockManager holds for a checkpoint
    handle's RDD (driver metadata, no Spark job); None when it reports
    no blocks for it (e.g. a zero-partition checkpoint)."""
    jsc = handle.value.sparkSession.sparkContext._jsc
    infos = [i for i in jsc.sc().getRDDStorageInfo() if i.id() in handle.rdd_ids]
    return sum(i.memSize() + i.diskSize() for i in infos) if infos else None


def _union_find_roots(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Min-root union-find over an edge list: node -> min node id of
    its component. Path-halving + union-by-min keeps it near-linear."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min: the smaller id becomes the root, so the
            # final root IS the component minimum.
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Labels every node appearing in ``edges`` with the minimum node id
    reachable from it: (node, component). Edges are treated as
    undirected; isolated nodes (absent from edges) are absent from the
    output — union them in with node==component if needed."""
    from pyspark.sql.types import StructField, StructType

    spark = edges.sparkSession
    # symmetrize via explode, NOT union: a union would scan the edges
    # subtree once per branch (for dedup_cluster that subtree is the
    # whole banded-candidate join — the most expensive part of the
    # query), while the explode emits both directions from ONE scan.
    quotient = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )
    node_type = quotient.schema["a"].dataType
    out_schema = StructType(
        [StructField("node", node_type), StructField("component", node_type)]
    )
    # node -> current contracted label; starts as the identity and
    # composes one contraction per round. Only materialized (and only
    # re-shuffled) when a contraction round actually happens.
    mapping: _Handle | None = None
    q: _Handle | None = None
    while True:
        # Materialize once per round, THEN probe: the quotient feeds
        # the size test plus (if contracting) three subtrees below
        # (groupBy + both relabel joins), and probing the raw plan
        # would recompute the whole upstream subtree a second time per
        # round. The fit test itself costs NO job (r14, §1.2): the
        # eager checkpoint has just registered the quotient's blocks
        # with the BlockManager, so the driver reads their total size
        # from metadata by the handle's RDD id. The previous quotient
        # generation has no reader once the new one is materialized.
        nxt = checkpoint(quotient)
        if q is not None:
            q.unpersist()
        q = nxt
        quotient = q.value
        ckpt_bytes = _stored_bytes(q)
        if ckpt_bytes is None or ckpt_bytes <= CC_FINISH_BYTE_BUDGET:
            break
        contract = (
            quotient.groupBy("a")
            .agg(F.min("b").alias("nb"))
            .select("a", F.least(F.col("nb"), F.col("a")).alias("label"))
        )
        lab_a = contract.select(F.col("a").alias("la_n"), F.col("label").alias("la"))
        lab_b = contract.select(F.col("a").alias("lb_n"), F.col("label").alias("lb"))
        quotient = (
            quotient.join(lab_a, quotient.a == lab_a.la_n)
            .join(lab_b, quotient.b == lab_b.lb_n)
            .select(F.col("la").alias("a"), F.col("lb").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            # left lazy: the loop top checkpoints it next round
        )
        step = contract.select(F.col("a").alias("node"), "label")
        if mapping is None:
            mapping = checkpoint(step)
        else:
            nxt_step = step.select(F.col("node").alias("s_n"), F.col("label").alias("s_l"))
            prev = mapping
            mapping = checkpoint(
                prev.value.join(nxt_step, prev.value.label == nxt_step.s_n, "left")
                .select(
                    "node",
                    F.coalesce(F.col("s_l"), F.col("label")).alias("label"),
                )
            )
            prev.unpersist()  # the new mapping generation is materialized
    # The bounded driver FINISH, not a data-plane transform: the Arrow
    # transfer (toPandas — ~3× faster than py4j Row collection at the
    # budget size) runs only on a quotient KNOWN to fit. With no size
    # reported, collect at most the edge count the budget stands for
    # and refuse a larger quotient rather than pull it unbounded.
    bound = CC_FINISH_BYTE_BUDGET // _CACHED_EDGE_BYTES
    probe = (quotient if ckpt_bytes is not None else quotient.limit(bound + 1)).toPandas()
    q.unpersist()  # the probe is on the driver: no reader is left
    if ckpt_bytes is None and len(probe) > bound:
        raise RuntimeError(
            f"connected_components: the quotient has no reported size and "
            f"more than {bound} edges, over the finish budget"
        )
    pairs = list(zip(probe["a"].tolist(), probe["b"].tolist()))
    roots = _union_find_roots(pairs)

    def _root_frame(cols, schema):
        # ship the root map back via the Arrow path (a pandas frame
        # becomes a JVM LocalRelation): a plain Python-list
        # createDataFrame pickles rows through a Python runner at
        # EXECUTION time — measured 1.6 s per downstream job at sf0.1
        # vs 0.1 s for the LocalRelation on the same 4.5k rows.
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(sorted(roots.items()), columns=cols), schema
        )

    if mapping is None:
        # no contraction happened: the collected quotient holds every
        # node, so the union-find answer IS the full result.
        return _root_frame(["node", "component"], out_schema)
    root_schema = StructType(
        [StructField("r_n", node_type), StructField("r_c", node_type)]
    )
    root_df = F.broadcast(_root_frame(["r_n", "r_c"], root_schema))
    # the returned frame plans onto the final mapping generation, so
    # that one checkpoint stays
    final = mapping.value
    return final.join(root_df, final.label == root_df.r_n, "left").select(
        "node", F.coalesce(F.col("r_c"), F.col("label")).alias("component")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 40,
    weight: str | None = None,
    reset: DataFrame | None = None,
) -> DataFrame:
    """(node, rank) by damped power iteration — the crawl-frontier
    prioritization primitive (rank hosts/pages by link mass before
    spending fetch budget). With ``weight`` set, each edge contributes
    rank proportional to its weight share of the source's total
    out-weight (duplicate (src, dst) rows fold by summing first);
    unweighted, duplicate edges collapse to one. ``reset`` switches to
    PERSONALIZED PageRank: a (node, mass) frame of teleport seeds —
    both the restart probability and the dangling-mass redistribution
    concentrate on the seeds (normalized internally), ranking the
    graph "as seen from" them (the focused-crawl form: seed the topics
    you want, rank hosts by proximity). Seeds absent from the graph
    are ignored; nodes unreachable from every seed decay toward 0.

    Scale shape: each round is ONE data shuffle (contributions grouped
    by destination); ranks and out-degrees ride a single co-keyed state
    table; the only driver-side values are two scalars per round (the
    L1 delta and the next round's dangling mass, folded into one
    aggregate job); ``localCheckpoint`` truncates lineage so round N's
    plan does not replay rounds 1..N-1. Dangling (sink) mass
    redistributes uniformly, so rank mass is conserved (ranks sum to 1)
    and the iteration contracts geometrically with factor ``damping``
    for any graph — ``max_iter`` is a hard cap, ``tol`` the usual early
    exit."""
    if weight is None:
        e_h = checkpoint(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct()
            .withColumn("ew", F.lit(1.0))
        )
    else:
        e_h = checkpoint(
            edges.select(
                F.col(src).alias("src"),
                F.col(dst).alias("dst"),
                F.col(weight).cast("double").alias("ew"),
            )
            .filter(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("ew") > 0)
            )
            .groupBy("src", "dst")
            .agg(F.sum("ew").alias("ew"))
        )
    e = e_h.value
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))  # reads e_h
    deg = e.groupBy("src").agg(F.sum("ew").alias("out_deg"))
    state = nodes.join(deg, nodes.node == deg.src, "left").select(
        "node", F.coalesce("out_deg", F.lit(0.0)).alias("out_deg")
    )
    if reset is None:
        state_h = checkpoint(
            state.select(
                "node", "out_deg", F.lit(1.0 / n).alias("rank"), F.lit(1.0 / n).alias("rp")
            )
        )
    else:
        seeds = (
            reset.select(
                F.col("node").alias("r_node"),
                F.col("mass").cast("double").alias("r_mass"),
            )
            .filter(F.col("r_mass") > 0)
            # fold duplicate seed rows BEFORE joining: a repeated node
            # must add its masses, not duplicate the state row
            .groupBy("r_node")
            .agg(F.sum("r_mass").alias("r_mass"))
        )
        total = (
            seeds.join(state.select(F.col("node").alias("r_node")), "r_node")
            .agg(F.sum("r_mass"))
            .first()[0]
        )
        if not total:
            raise ValueError("pagerank: reset seeds have no mass inside the graph")
        state_h = checkpoint(
            state.join(F.broadcast(seeds), state.node == seeds.r_node, "left")
            .select(
                "node",
                "out_deg",
                (F.coalesce("r_mass", F.lit(0.0)) / F.lit(float(total))).alias("rp"),
            )
            .withColumn("rank", F.col("rp"))
        )
    state = state_h.value
    dangling = (
        state.agg(
            F.sum(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0))
        ).first()[0]
        or 0.0
    )
    base = (1.0 - damping) / n
    # r14 (§5): each superseded state generation is released once
    # nothing reads it (the delta join against the old state is the
    # last reader), not stranded until driver GC.
    for _ in range(max_iter):
        contrib = (
            e.join(state, e.src == state.node)
            .select(
                "dst", (F.col("rank") * F.col("ew") / F.col("out_deg")).alias("w")
            )
            .groupBy("dst")
            .agg(F.sum("w").alias("in_mass"))
        )
        if reset is None:
            teleport = F.lit(base + damping * dangling / n)
        else:
            teleport = F.lit(1.0 - damping + damping * dangling) * F.col("rp")
        new_h = checkpoint(
            state.join(contrib, state.node == contrib.dst, "left").select(
                "node",
                "out_deg",
                "rp",
                (
                    teleport
                    + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        new_state = new_h.value
        stats = (
            new_state.alias("new")
            .join(state.alias("old"), "node")
            .agg(
                F.sum(F.abs(F.col("new.rank") - F.col("old.rank"))).alias("delta"),
                F.sum(
                    F.when(F.col("new.out_deg") == 0, F.col("new.rank")).otherwise(0.0)
                ).alias("dangling"),
            )
            .first()
        )
        state_h.unpersist()  # the delta join was the last reader
        state_h, state = new_h, new_state
        dangling = stats["dangling"] or 0.0
        if stats["delta"] is not None and stats["delta"] < tol:
            break
    e_h.unpersist()  # the final state is lineage-free
    return state.select("node", "rank")


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    tol: float = 1e-9,
) -> DataFrame:
    """(node, hub, authority) by the HITS mutual-reinforcement
    iteration — the complement of PageRank for crawl scheduling: hubs
    are the index/directory pages worth re-crawling for LINK discovery,
    authorities the content pages worth fetching. Per round: authority
    = sum of in-neighbor hub scores, L2-normalized; hub = sum of
    out-neighbor authority scores, L2-normalized; stop when the summed
    L1 movement of both vectors drops under ``tol``.

    Scale shape mirrors ``pagerank``: the (node, hub, authority) state
    rides one co-keyed table, each half-round is one shuffle keyed by
    the receiving endpoint, per-round driver traffic is three scalars
    (two norms + the delta), and ``localCheckpoint`` truncates lineage
    every round."""
    e_h = checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    e = e_h.value
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    import math

    init = 1.0 / math.sqrt(n)
    state_h = checkpoint(
        nodes.select("node", F.lit(init).alias("h"), F.lit(init).alias("a"))
    )
    state = state_h.value
    # r14 (§5): release superseded state generations (see pagerank)
    for _ in range(max_iter):
        a_raw = (
            e.join(state, e.src == state.node)
            .groupBy("dst")
            .agg(F.sum("h").alias("a_raw"))
        )
        with_a = state.join(a_raw, state.node == a_raw.dst, "left").select(
            "node", "h", F.coalesce("a_raw", F.lit(0.0)).alias("a_raw")
        )
        a_norm = math.sqrt(
            with_a.agg(F.sum(F.col("a_raw") * F.col("a_raw"))).first()[0] or 0.0
        )
        if a_norm == 0.0:
            break
        with_a = with_a.withColumn("a_new", F.col("a_raw") / F.lit(a_norm))
        h_raw = (
            e.join(with_a, e.dst == with_a.node)
            .groupBy("src")
            .agg(F.sum("a_new").alias("h_raw"))
        )
        new_state = (
            with_a.join(h_raw, with_a.node == h_raw.src, "left")
            .select(
                "node",
                F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"),
                F.col("a_new").alias("a"),
            )
        )
        h_norm = math.sqrt(
            new_state.agg(F.sum(F.col("h_raw") * F.col("h_raw"))).first()[0] or 0.0
        )
        if h_norm == 0.0:
            break
        new_h = checkpoint(
            new_state.select("node", (F.col("h_raw") / F.lit(h_norm)).alias("h"), "a")
        )
        new_state = new_h.value
        delta = (
            new_state.alias("new")
            .join(state.alias("old"), "node")
            .agg(
                F.sum(
                    F.abs(F.col("new.h") - F.col("old.h"))
                    + F.abs(F.col("new.a") - F.col("old.a"))
                )
            )
            .first()[0]
        )
        state_h.unpersist()  # the delta join was the last reader
        state_h, state = new_h, new_state
        if delta is not None and delta < tol:
            break
    e_h.unpersist()  # the final state is lineage-free
    return state.select(
        "node", F.col("h").alias("hub"), F.col("a").alias("authority")
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts (node, n_tri) over the undirected
    simple graph of ``edges`` (self-loops and duplicates dropped).

    Scale shape: DEGREE-ORDERED ORIENTATION (Cohen's MapReduce
    triangle algorithm / Latapy's compact-forward) — every edge is
    directed from its (degree, id)-smaller endpoint to the larger, so
    out-degree is bounded by O(√m) and the wedge join generates
    O(m^1.5) candidates worst case instead of Σdeg² (a star's hub
    produces NO wedges: all its edges point inward).  Three equi-join
    shuffles total: degree aggregation, wedge self-join on the pivot,
    wedge-closing edge join.  The DuckDB oracle runs the naive
    three-way join — optimizer-vs-spec equivalence, same contract as
    dedup_ngram_jaccard's PPJoin-vs-naive."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    ed = e.join(da, "a").join(db, "b")
    # orient u -> v iff (deg(u), u) < (deg(v), v): a total order, so
    # each undirected edge appears exactly once
    fwd = F.col("dega") < F.col("degb")
    tie = (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    # no checkpoint: the e1, e2 and closing consumers read the
    # orientation through ReusedExchange (executed plan), so the degree
    # chain runs once and no persistent RDD outlives the call
    o = ed.select(
        F.when(fwd | tie, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd | tie, F.col("dega")).otherwise(F.col("degb")).alias("du"),
        F.when(fwd | tie, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd | tie, F.col("degb")).otherwise(F.col("dega")).alias("dv"),
    )
    e1, e2 = o.alias("e1"), o.alias("e2")
    # wedges (u; v, w) with v before w in orientation order — the
    # closing edge, if present, is then oriented exactly v -> w
    wedges = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u"))
        & (
            (F.col("e1.dv") < F.col("e2.dv"))
            | ((F.col("e1.dv") == F.col("e2.dv")) & (F.col("e1.v") < F.col("e2.v")))
        ),
    ).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    closing = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = wedges.join(closing, ["y", "z"])
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
) -> DataFrame:
    """Community detection by synchronous label propagation with a
    DETERMINISTIC update: each round every node adopts its neighbors'
    most frequent label, ties broken by the smaller label (classic LPA
    randomizes both the visit order and tie-breaks; pinning them makes
    the result reproducible and oracle-replayable).  Fixed round
    budget — synchronous LPA can oscillate on bipartite structures, so
    convergence-to-fixpoint is not a meaningful stop condition.

    Per round: one join shuffle (labels onto edge endpoints) + one
    aggregation (neighbor label histogram) + one min(struct) top-1
    aggregate per node — all keyed by node id, linear state, every
    aggregate map-side combinable so a celebrity node's histogram
    collapses per map task instead of landing in one un-splittable
    window partition (r12: the former window top-1 was the one
    degree-skew shape AQE could not manage).  Returns (node, label)."""
    if rounds < 0:
        raise ValueError("label_propagation: rounds must be >= 0")
    und_h = checkpoint(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = und_h.value
    labels = checkpoint(
        und.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    # r14 (§5): release superseded label generations (see pagerank)
    for _ in range(rounds):
        msgs = und.join(
            labels.value.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "label")
        hist = msgs.groupBy("node", "label").agg(F.count(F.lit(1)).alias("n"))
        # top-1 by (n desc, label asc) as a lexicographic struct MIN —
        # a partially-aggregable fold, unlike a row_number window
        nxt = checkpoint(
            hist.groupBy("node")
            .agg(F.min(F.struct((-F.col("n")).alias("neg"), F.col("label").alias("l"))).alias("t"))
            .select("node", F.col("t.l").alias("label"))
        )
        labels.unpersist()  # the new generation is materialized
        labels = nxt
    und_h.unpersist()  # the final labels are lineage-free
    return labels.value
