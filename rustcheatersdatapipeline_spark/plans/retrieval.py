"""Sparse lexical retrieval over ``documents`` — BM25 search and
TF-IDF keyword extraction as distributed DataFrame plans.

A 100 TB curation pipeline needs corpus *search* (find the documents
lexically closest to a probe text) for retrieval-based
decontamination, audit queries ("show me everything that looks like
this leaked benchmark item"), and near-dup triage beyond shingle
overlap.  This module provides the two standard primitives:

- **BM25 top-k search** (Robertson/Okapi, the Lucene ``ln(1 + …)``
  idf variant so scores are never negative): queries are scored
  against the full corpus through an inverted-posting join, never a
  quadratic scan.
- **TF-IDF top terms per document** (sklearn-style smooth idf):
  keyword extraction / document signatures.

Scale shape (per operator, audited via .explain):

- One corpus-wide shuffle builds the posting list (term, doc_id, tf)
  with map-side partial aggregation — identical cost to a word-count.
- The query-term table is BOUNDED by construction
  (≤ BM25_QUERY_MAX_ID × BM25_QUERY_PREFIX rows), so broadcasting it
  — and the per-term df stats derived from it — follows the repo's
  broadcast policy (explicit hints only from bounded facts; see
  SCALE.md).  The corpus-side work after the broadcast semi-join
  touches only postings that contain a query term.
- Per-document length rides the posting aggregation (it is computed
  beside the tokenize and carried through the groupBy as a min of a
  per-doc constant), so scoring needs NO corpus-side doc_id join; the
  global avgdl stats are one narrow no-shuffle corpus aggregate.
- All floating-point per-term contributions are scaled by 1e6 and
  floored to int64 BEFORE any aggregation (the ``lm_score``
  discipline): the per-(query, doc) sum is order-independent integer
  arithmetic, so the DuckDB oracle matches bit-for-bit and the
  distributed sum is reassociation-safe.

Reference parity note: the reference pipeline (RustCheatersDataPipeline)
has no search surface; this is extension inventory (SURVEY.md §2.10)
for the training-data mission.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..plan_cache import checkpointed

#: how many results per query BM25 returns
BM25_TOPK = 10
#: documents with doc_id below this are the probe/query set
BM25_QUERY_MAX_ID = 8
#: a query is the distinct first-BM25_QUERY_PREFIX tokens of its doc
BM25_QUERY_PREFIX = 12
#: TF-IDF keywords kept per document
TFIDF_TOPK = 5

# BM25 parameters, written as the SAME literals in the oracle SQL so
# both engines parse the identical IEEE-754 doubles: k1 = 1.2,
# b = 0.75 (so 1 - b = 0.25 and k1 + 1 = 2.2 appear as literals).


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) one row per token occurrence — whitespace
    tokenization shared with lm_score/token_count (literal single
    space, trailing empties kept by both engines)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )


def _doc_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl) token count per document, straight off the scan —
    no shuffle; must equal SUM(tf) per doc (same split)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("dl")
    )


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted postings (term, doc_id, tf): ONE corpus shuffle with
    map-side combine — word-count shape, uniform keys."""
    return (
        _toks(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _query_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, term): distinct first-BM25_QUERY_PREFIX tokens of
    each probe document.  Bounded by construction (≤ 8×12 rows) —
    eligible for an explicit broadcast hint under the repo policy."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < BM25_QUERY_MAX_ID
    )
    return (
        docs.select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.slice(F.split(F.col("text"), " "), 1, BM25_QUERY_PREFIX)
            ).alias("term"),
        )
        .distinct()
    )


def _bm25_ranked(
    spark: SparkSession, sf_dir: str, consumer: str = "bm25_search"
) -> DataFrame:
    """Ranked (unordered) BM25 results: top-BM25_TOPK corpus documents
    per probe query.

    score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  (Lucene variant,
    always ≥ 0).  Every per-term contribution is floored to
    ⌊x·1e6⌋ int64 before the per-(query, doc) sum, so aggregation
    order cannot change the result and the DuckDB oracle is bit-exact.
    Ties rank by lower doc_id.

    Plan: the token stream is pruned to query terms by a broadcast
    join BEFORE the posting aggregation, so the corpus shuffle carries
    only query-term occurrences (not the full vocabulary word-count —
    the r10 fix that makes the arm's shuffle ∝ query-term hits); df
    for those terms is a tiny aggregate (broadcast back); document
    lengths ride the posting aggregation itself (r14 — no corpus-side
    doc_id join).  No quadratic step anywhere — candidate rows are
    |postings on query terms|.
    """
    qt = _query_terms(spark, sf_dir)
    terms = qt.select("term").distinct()
    # corpus token stream restricted to query terms, THEN aggregated:
    # same postings as _postings(...)⋈terms, minus the full-vocabulary
    # shuffle (the broadcast join cannot be pushed below a groupBy by
    # Catalyst, so the pruning must be written on the token side).
    #
    # r14 (§2.3/§2.4): the document length rides the SAME pass. The
    # pre-r14 shape joined the scored postings back against a
    # corpus-wide (doc_id, dl) projection — a THIRD full corpus
    # scan+split per invocation (one for the tokenize, one for the
    # stats aggregate, one for the join side) plus a corpus-sized join
    # below the score projection. dl is a pure function of the doc row,
    # so computing it next to the tokenize (the split array is bound
    # once in its own projection — text_metrics' idiom; size() above
    # the Generate is O(1) on the bound attribute) and carrying it
    # through the posting aggregation (min of a per-doc constant)
    # removes both: the checkpointed postq grows by one int64 per
    # bounded row, the scored join-back disappears, and the only
    # remaining corpus passes are the tokenize and the stats aggregate.
    docs_bound = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    toks_dl = docs_bound.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        F.explode("toks").alias("term"),
    )
    postq = (
        toks_dl
        .join(F.broadcast(terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
    )
    # postq feeds TWO consumers (dfreq and the scored join) and neither
    # Catalyst's ReuseExchange nor AQE stage reuse fires across them
    # (verified .explain + executed plan, r13) — without this the
    # corpus-wide tokenize+broadcast-semi-join+aggregate subtree runs
    # twice per query. Materialize it once: a registry-owned
    # localCheckpoint (eager, rebuilt per invocation — no cross-call
    # memo; plan_cache.checkpointed replaces the previous generation's
    # blocks and release() owns the last one) on the aggregated,
    # query-term-restricted postings, which are ≤ the hit count of
    # ≤ 96 query terms — orders of magnitude under the corpus at any
    # scale (the mixture builder's r11 precedent).
    # the checkpoint key carries the TOP-LEVEL consumer (ADVICE r13
    # medium): with one shared "bm25_postq" key, a driver that builds
    # both bm25_search and hybrid_search_rrf DataFrames before
    # executing the first would find the first's checkpoint blocks
    # dropped by the second build (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    # Per-consumer keys keep each builder's latest handle valid; the
    # per-invocation rebuild/replace semantics are unchanged.
    postq_plan = postq
    postq = checkpointed(spark, sf_dir, ("bm25_postq", consumer), lambda: postq_plan)
    # document frequency of each query term over the FULL corpus
    # (postq already spans the full corpus for those terms)
    dfreq = postq.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # global length stats still need EVERY document (including ones
    # with no query-term hit), so this one narrow corpus pass remains;
    # the per-doc dl for the scored rows now rides postq (above)
    stats = (
        _doc_len(spark, sf_dir)
        .agg(F.sum("dl").alias("sum_dl"), F.count(F.lit(1)).alias("n_docs"))
        .select("sum_dl", "n_docs", (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * (F.col("dl") / F.col("avgdl"))
    )
    contrib = (idf * (F.col("tf") * F.lit(2.2))) / denom
    scored = (
        postq.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.floor(contrib * F.lit(1000000.0)).cast("bigint").alias("c_scaled"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c_scaled").alias("score_scaled"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score_scaled").desc(), "doc_id")
    return (
        scored.select(
            "query_id",
            "doc_id",
            "score_scaled",
            F.row_number().over(w).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= BM25_TOPK)
        .select("query_id", "rnk", "doc_id", "score_scaled")
    )


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-BM25_TOPK corpus documents per probe query by BM25 — the
    presentation form of ``_bm25_ranked`` (which see for the plan
    discussion). Split out (r13) so consumers that immediately
    re-aggregate the ranks (``hybrid_search_rrf``) do not pay the
    total-order range exchange: Catalyst does not eliminate a sort
    buried under a union+aggregate, so the fused plan used to carry
    this exchange as dead weight."""
    return _bm25_ranked(spark, sf_dir).orderBy("query_id", "rnk")


def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_TOPK keywords per document by smooth TF-IDF
    (sklearn shape: tfidf = tf · (ln((1+N)/(1+df)) + 1)), scaled-int
    like bm25_search.  Ties rank by term ascending.

    Plan: postings (one corpus shuffle) ⋈ per-term df (vocabulary-
    sized aggregate — no hint: AQE broadcasts while it fits, policy as
    dedup_ngram_jaccard's dfreq) → per-doc window top-k (doc_id
    shuffle).  Linear in postings at any scale.
    """
    post = _postings(spark, sf_dir)
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = (
        table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tfidf = (
        F.col("tf")
        * (
            F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df")))
            + F.lit(1.0)
        )
    ) * F.lit(1000000.0)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_scaled").desc(), "term"
    )
    return (
        post.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.floor(tfidf).cast("bigint").alias("tfidf_scaled"),
        )
        .select(
            "doc_id",
            "term",
            "tfidf_scaled",
            F.row_number().over(w).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "rnk", "term", "tfidf_scaled")
        .orderBy("doc_id", "rnk")
    )


#: RRF constant (Cormack/Clarke/Buettcher's k=60, the public standard)
HYBRID_RRF_K = 60
HYBRID_TOPK = 10


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion —
    the standard RAG-stack ranker (public: Cormack et al., RRF).

    Arms: ``bm25_search`` (sparse, top-BM25_TOPK) and
    ``embed_knn_bruteforce`` (dense cosine, top-KNN_K; the declared
    exact baseline — at scale the same fusion runs over the ANN arms
    unchanged, since RRF consumes only ranks). Each arm keeps its OWN
    ranking (standard RRF); self-hits (query doc retrieving itself)
    are dropped post-rank from both arms. Contribution of a rank r is
    the integer ``1000000 div (HYBRID_RRF_K + r)`` so the fused sum is
    order-independent int64 arithmetic — DuckDB-bit-exact like every
    scaled score in this module. Docs found by both arms sum both
    contributions; ties rank by doc_id.

    Plan shape: both arms are the already-audited linear plans; fusion
    adds one union + one (query_id, doc_id) hash aggregate over ≤
    (BM25_TOPK + KNN_K) rows per query — negligible at any scale.
    """
    from .training import _knn_topk

    rrf = F.expr(f"1000000 div ({HYBRID_RRF_K} + rnk)").alias("c")
    # _bm25_ranked, not bm25_search: the fusion aggregates the ranks
    # away, so the lex arm's total ORDER BY would be a dead range
    # exchange in this plan (Catalyst does not remove it under the
    # union+aggregate — verified .explain r13)
    lex = (
        _bm25_ranked(spark, sf_dir, consumer="hybrid_search_rrf")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", rrf)
    )
    # dense arm: embed_knn_bruteforce's exact compute (the vector
    # kernel in mapInPandas, bit-identical doubles — see _knn_topk),
    # with the query set restricted UP FRONT to the fused probes — per-query
    # ranks are unchanged (the rank window partitions by query), and
    # the corpus side stops paying dot products for queries the fusion
    # drops
    vec = (
        _knn_topk(spark, sf_dir, BM25_QUERY_MAX_ID)
        .select("query_id", F.col("neighbor_id").alias("doc_id"), rrf)
    )
    # one exchange serves BOTH the fused aggregate and the rank window:
    # hashpartitioning(query_id) satisfies the aggregate's clustered
    # distribution on (query_id, doc_id) — query_id is a subset of the
    # group key — AND the window's partitioning, where the aggregate's
    # own hash(query_id, doc_id) exchange would NOT satisfy the window
    # and a second shuffle followed (guide §2.4: key two operations the
    # same way and share the exchange). Rows here are ≤ (BM25_TOPK +
    # KNN_K) per query, so per-partition state is bounded at any scale.
    fused = (
        lex.unionByName(vec)
        .repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("rrf_scaled"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rrf_scaled").desc(), "doc_id")
    return (
        fused.select(
            "query_id",
            "doc_id",
            "rrf_scaled",
            F.row_number().over(w).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= HYBRID_TOPK)
        .select("query_id", "rnk", "doc_id", "rrf_scaled")
        .orderBy("query_id", "rnk")
    )


_TOK_CTE = (
    "toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), "
    "post AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term), "
    "dlen AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl "
    "FROM documents)"
)


TESTS_ONLY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "bm25_search": bm25_search,
    "tfidf_topterms": tfidf_topterms,
}

#: shared DuckDB CTE chain ending in ranked BM25 results ``r``
_BM25_CTES = (
    "qt AS (SELECT DISTINCT query_id, term FROM "
    f"(SELECT doc_id AS query_id, unnest(list_slice(string_split(text, ' '), 1, {BM25_QUERY_PREFIX})) AS term "
    f"FROM documents WHERE doc_id < {BM25_QUERY_MAX_ID})), "
    "terms AS (SELECT DISTINCT term FROM qt), "
    "postq AS (SELECT p.doc_id, p.term, p.tf FROM post p JOIN terms USING (term)), "
    "dfreq AS (SELECT term, COUNT(*) AS df FROM postq GROUP BY term), "
    "stats AS (SELECT SUM(dl) AS sum_dl, COUNT(*) AS n_docs, "
    "CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlen), "
    "contrib AS (SELECT qt.query_id, p.doc_id, "
    "CAST(FLOOR(((ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (p.tf * 2.2)) / "
    "(p.tf + 1.2 * (0.25 + 0.75 * (l.dl / s.avgdl)))) * 1000000.0) AS BIGINT) AS c_scaled "
    "FROM postq p JOIN dfreq d USING (term) JOIN qt USING (term) "
    "JOIN dlen l ON p.doc_id = l.doc_id, stats s), "
    "sc AS (SELECT query_id, doc_id, CAST(SUM(c_scaled) AS BIGINT) AS score_scaled "
    "FROM contrib GROUP BY query_id, doc_id), "
    "r AS (SELECT query_id, doc_id, score_scaled, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS INT) AS rnk "
    "FROM sc)"
)


def _hybrid_oracle_sql() -> str:
    from .training import _COS, _EMB_CTE, KNN_K

    return (
        f"WITH {_TOK_CTE}, {_BM25_CTES}, {_EMB_CTE}, "
        f"vp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS} AS cos "
        f"FROM v a JOIN v b ON a.vec_id < {BM25_QUERY_MAX_ID} AND b.vec_id <> a.vec_id), "
        "vr AS (SELECT query_id, neighbor_id, "
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM vp), "
        "contribs AS ("
        f"SELECT query_id, doc_id, (1000000 // ({HYBRID_RRF_K} + rnk)) AS c "
        f"FROM r WHERE rnk <= {BM25_TOPK} AND doc_id <> query_id "
        "UNION ALL "
        f"SELECT query_id, neighbor_id AS doc_id, (1000000 // ({HYBRID_RRF_K} + rnk)) AS c "
        f"FROM vr WHERE rnk <= {KNN_K}), "
        "fused AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_scaled "
        "FROM contribs GROUP BY query_id, doc_id), "
        "fr AS (SELECT query_id, doc_id, rrf_scaled, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS INT) AS rnk "
        "FROM fused) "
        f"SELECT query_id, rnk, doc_id, rrf_scaled FROM fr WHERE rnk <= {HYBRID_TOPK} "
        "ORDER BY query_id, rnk"
    )


TESTS_ONLY_ORACLE_SQL: dict[str, str] = {
    "bm25_search": (
        f"WITH {_TOK_CTE}, {_BM25_CTES} "
        f"SELECT query_id, rnk, doc_id, score_scaled FROM r WHERE rnk <= {BM25_TOPK} "
        "ORDER BY query_id, rnk"
    ),
    "tfidf_topterms": (
        f"WITH {_TOK_CTE}, "
        "dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term), "
        "nd AS (SELECT COUNT(*) AS n_docs FROM documents), "
        "sc AS (SELECT doc_id, term, "
        "CAST(FLOOR((p.tf * (ln((1.0 + n.n_docs) / (1.0 + d.df)) + 1.0)) * 1000000.0) AS BIGINT) AS tfidf_scaled "
        "FROM post p JOIN dfreq d USING (term), nd n), "
        "r AS (SELECT doc_id, term, tfidf_scaled, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf_scaled DESC, term) AS INT) AS rnk "
        "FROM sc) "
        f"SELECT doc_id, rnk, term, tfidf_scaled FROM r WHERE rnk <= {TFIDF_TOPK} "
        "ORDER BY doc_id, rnk"
    ),
}

#: declared surface (r10): the hybrid fusion op is the module's flagship
#: — it consumes the BM25 and ANN arms unchanged, so declaring it
#: exercises both retrieval paths under the driver's oracle gate (the
#: freed slot came from q22, see plans/queries.py _TESTS_ONLY)
SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "hybrid_search_rrf": hybrid_search_rrf,
}

ORACLE_SQL: dict[str, str] = {
    "hybrid_search_rrf": _hybrid_oracle_sql(),
}
