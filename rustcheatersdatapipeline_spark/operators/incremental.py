"""Incremental dedup: match a NEW batch of documents against a
persisted signature index of the already-ingested corpus.

``dedup_minhash_lsh`` (plans/training.py) finds near-dup pairs WITHIN
one corpus; a crawling pipeline's daily reality is the other shape —
"is anything in today's batch already in the 100 TB we keep?". Scanning
the historic corpus text per batch is impossible; matching against a
compact index is the standard answer (same MinHash/LSH machinery, the
reference's warehouse-side analogue being the anti-join insert-if-absent
sink D11, sql_queries.py:30-31).

The index row per document is ``(doc_id, digest, m0..m15)`` — an md5
digest for exact matches plus the 16-permutation MinHash signature for
near matches: ~150 bytes/doc, so the index for a 100 TB corpus fits in
a few hundred GB of parquet, partitionable by band for the join.

Scale shape of ``match_against_index``:

- exact: digest equi-join (shuffle on digest, or broadcast of the new
  batch — AQE decides; the new side is a day's crawl, bounded).
- near: banded signature join — candidates only where a full band
  matches, never all-pairs; then the Jaccard ESTIMATE from signature
  agreement (matching permutations / 16). Verification against exact
  Jaccard would need the historic shingle sets (i.e., the corpus), so
  the incremental path deliberately trades to the estimator — the
  documented MinHash accuracy (±1/sqrt(16 perms) ≈ 0.25 at 1σ) with
  the banding prior making false candidates rare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import MINHASH_PERMS, minhash_bands, minhash_signature
from ..functions.text import PRIME, char_shingles, portable_hash64

#: minimum fraction of agreeing MinHash permutations for a near match
EST_JACCARD_THRESHOLD = 0.5

#: default shingle width for freshly-created incremental indexes
DEFAULT_INDEX_K = 9


def resolve_index_contract(
    stored: dict, explicit_k: int | None, default_k: int = DEFAULT_INDEX_K
) -> int:
    """The shingle width ``k`` every batch matched against an index must
    share (signatures computed under different k do not compare). The
    stored table properties win; an explicit caller value that
    CONFLICTS with them fails fast instead of silently comparing
    incomparable signatures; with nothing stored, the caller's value
    (or the default) becomes the contract for the index's lifetime.
    ``n_perms`` is verified too — an index built under a different
    permutation set is equally incomparable."""
    if "n_perms" in stored and int(stored["n_perms"]) != len(MINHASH_PERMS):
        raise ValueError(
            f"dedup index was built with {stored['n_perms']} MinHash "
            f"permutations; this build uses {len(MINHASH_PERMS)}"
        )
    if "k" in stored:
        k = int(stored["k"])
        if explicit_k is not None and int(explicit_k) != k:
            raise ValueError(
                f"dedup index was built with shingle width k={k}; "
                f"matching with k={explicit_k} would compare incomparable "
                "signatures — pass k=None to adopt the stored contract"
            )
        return k
    return int(explicit_k) if explicit_k is not None else default_k


def build_dedup_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 9
) -> DataFrame:
    """(doc_id, digest, m0..m15) — the persisted dedup index rows.

    ``k`` is part of the index contract: store it with the index and
    reuse it for every batch matched against it (signatures computed
    with different shingle widths do not compare).
    """
    sh = char_shingles(docs, text_col, id_col, k=k)
    hashed = sh.select(id_col, (portable_hash64(F.col("g")) % PRIME).alias("h"))
    sig = minhash_signature(hashed, id_col=id_col)
    dig = docs.select(F.col(id_col), F.md5(text_col).alias("digest"))
    # left join: sub-k documents carry a digest but no signature
    return dig.join(sig, id_col, "left")


def match_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 9,
    est_threshold: float = EST_JACCARD_THRESHOLD,
) -> DataFrame:
    """(new_id, index_id, kind, est_jaccard) matches of the new batch
    against the index; kind ∈ ('exact', 'near'), exact pairs excluded
    from near."""
    n = len(MINHASH_PERMS)
    new_idx = build_dedup_index(new_docs, text_col, id_col, k)

    exact = (
        new_idx.select(F.col(id_col).alias("new_id"), "digest")
        .join(index.select(F.col(id_col).alias("index_id"), "digest"), "digest")
        .select(
            "new_id",
            "index_id",
            F.lit("exact").alias("kind"),
            F.lit(1.0).alias("est_jaccard"),
        )
    )

    nb = minhash_bands(new_idx.dropna(subset=["m0"]), id_col=id_col).select(
        F.col(id_col).alias("new_id"), "band_idx", "band_val"
    )
    ib = minhash_bands(index.dropna(subset=["m0"]), id_col=id_col).select(
        F.col(id_col).alias("index_id"), "band_idx", "band_val"
    )
    cand = nb.join(ib, ["band_idx", "band_val"]).select("new_id", "index_id").distinct()

    ns = new_idx.select(
        F.col(id_col).alias("new_id"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(n)]
    )
    s = index.select(
        F.col(id_col).alias("index_id"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(n)]
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(n)
    )
    near = (
        cand.join(ns, "new_id")
        .join(s, "index_id")
        .select(
            "new_id",
            "index_id",
            F.lit("near").alias("kind"),
            (agree / F.lit(float(n))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= est_threshold)
        .join(exact.select("new_id", "index_id"), ["new_id", "index_id"], "left_anti")
    )
    return exact.unionByName(near)


def dedup_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 9,
    est_threshold: float = EST_JACCARD_THRESHOLD,
) -> DataFrame:
    """The new batch minus everything already represented in the index —
    the rows an ingest would append (and index) as genuinely novel."""
    matches = match_against_index(
        new_docs, index, text_col, id_col, k, est_threshold
    ).select(F.col("new_id").alias(id_col))
    return new_docs.join(matches, id_col, "left_anti")


# --------------------------------------------------------------------------
# embedding-space incremental dedup (the vector twin of the text path)
# --------------------------------------------------------------------------

#: minimum cosine for an embedding near-match
EMBED_COSINE_THRESHOLD = 0.98


def build_embed_index(
    emb: DataFrame,
    nplanes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Persisted embedding index rows: (id, e, nrm, tbl, bucket) — one
    row per (vector, hash table), buckets from the committed seed-42
    hyperplanes through the same sign-bit kernel as the declared ANN
    queries (plans/training.py ``_lsh_signatures``), in one
    ``mapInPandas`` pass. Like the text index, ``nplanes`` is part of
    the index contract: store it alongside and reuse it per batch.

    The payload IS the embedding (vectors are their own signatures), so
    the index costs L (=4 tables) × the corpus vector bytes — the join
    key that avoids the all-pairs scan, not a compression trick.
    """
    import numpy as np
    import pandas as pd

    from ..functions.similarity import sq_norms
    from ..plans.training import LSH_TABLES, _embedding_scan, _lsh_signatures

    signatures = _lsh_signatures(nplanes)

    def rows(ids, mat):
        return pd.DataFrame(
            {
                "vec_id": np.repeat(ids, LSH_TABLES),
                "e": list(np.repeat(mat, LSH_TABLES, axis=0)),
                "nrm": np.repeat(sq_norms(mat), LSH_TABLES),
                "tbl": np.tile(np.arange(LSH_TABLES, dtype=np.int32), len(ids)),
                "bucket": signatures(mat).ravel(),
            }
        )

    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    return _embedding_scan(
        vecs, rows, "vec_id bigint, e array<double>, nrm double, tbl int, bucket bigint"
    )


def match_embeddings_against_index(
    new_emb: DataFrame,
    index: DataFrame,
    nplanes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = EMBED_COSINE_THRESHOLD,
) -> DataFrame:
    """(new_id, index_id, cos) pairs with cosine ≥ threshold among
    bucket-colliding candidates — per batch: one equi-join on
    (tbl, bucket), cosine verified EXACTLY on candidates only (unlike
    the text path, the vectors live in the index, so there is no
    estimate trade)."""
    from ..functions.similarity import cosine, dot_product

    nb = build_embed_index(new_emb, nplanes, id_col, vec_col).alias("a")
    ib = index.alias("b")
    cos = cosine(
        dot_product(F.col("a.e"), F.col("b.e")), F.col("a.nrm"), F.col("b.nrm")
    ).alias("cos")
    return (
        nb.join(ib, (F.col("a.tbl") == F.col("b.tbl")) & (F.col("a.bucket") == F.col("b.bucket")))
        .select(F.col("a.vec_id").alias("new_id"), F.col("b.vec_id").alias("index_id"), cos)
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def embed_dedup_incremental(
    new_emb: DataFrame,
    index: DataFrame,
    nplanes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = EMBED_COSINE_THRESHOLD,
) -> DataFrame:
    """New embeddings minus those near-duplicating an indexed vector."""
    matches = match_embeddings_against_index(
        new_emb, index, nplanes, id_col, vec_col, threshold
    ).select(F.col("new_id").alias(id_col)).distinct()
    return new_emb.join(matches, id_col, "left_anti")


# --------------------------------------------------------------------------
# media (image) incremental dedup — the perceptual twin of the text path
# --------------------------------------------------------------------------


def build_media_index(
    media: DataFrame, id_col: str = "item_id", payload_col: str = "payload"
) -> DataFrame:
    """Persisted media index rows: (item_id, digest, phash) — the md5 of
    the raw bytes for exact re-upload detection plus the 64-bit DCT
    perceptual hash (functions/phash.py) for re-encode/resize detection.
    ``phash`` is NULL for payloads no decoder covers (corrupt, non-image)
    — those remain exact-dedupable only. ~50 B/item: matching a day's
    crawl never re-reads historic payload bytes."""
    from ..functions.phash import featurize_phash

    base = media.select(
        F.col(id_col).alias("item_id"),
        F.md5(F.col(payload_col).cast("binary")).alias("digest"),
        F.col(payload_col).alias("payload"),
    )
    hashes = featurize_phash(base.select("item_id", "payload")).select(
        "item_id", "phash"
    )
    return base.select("item_id", "digest").join(hashes, "item_id", "left")


def match_media_against_index(
    media: DataFrame,
    index: DataFrame,
    id_col: str = "item_id",
    payload_col: str = "payload",
    max_hamming: int | None = None,
) -> DataFrame:
    """(new_id, match_kind) for batch items already represented in the
    index: 'exact' on byte digest, else 'near' when the perceptual hash
    is within the Hamming radius of any indexed image (pigeonhole band
    join + codegen bit_count verify — complete, never all-pairs)."""
    from ..functions.phash import HAM_K, explode_bands, featurize_phash

    if max_hamming is None:
        max_hamming = HAM_K
    # no .cache(): the digest recompute is cheaper than leaking a
    # block-manager entry per call (ADVICE r5 jsonl precedent)
    base = media.select(
        F.col(id_col).alias("new_id"),
        F.md5(F.col(payload_col).cast("binary")).alias("digest"),
        F.col(payload_col).alias("payload"),
    )
    exact = base.join(
        index.select("digest").distinct(), "digest", "left_semi"
    ).select("new_id", F.lit("exact").alias("match_kind"))

    ph = featurize_phash(
        base.join(exact.select("new_id"), "new_id", "left_anti").select(
            F.col("new_id").alias("item_id"), "payload"
        )
    ).select("item_id", "phash")
    qb = explode_bands(ph).alias("a")
    ib = explode_bands(
        index.filter(F.col("phash").isNotNull()).select(
            F.col("item_id").alias("idx_id"), "phash"
        ),
        extra=("idx_id",),
    ).alias("b")
    near = (
        qb.join(
            ib,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
        .filter(F.expr("bit_count(a.phash ^ b.phash)") <= F.lit(max_hamming))
        .select(F.col("a.item_id").alias("new_id"))
        .distinct()
        .select("new_id", F.lit("near").alias("match_kind"))
    )
    return exact.unionByName(near)


def media_dedup_incremental(
    media: DataFrame,
    index: DataFrame,
    id_col: str = "item_id",
    payload_col: str = "payload",
    max_hamming: int | None = None,
) -> DataFrame:
    """New media minus items exactly or perceptually represented in the
    index — the rows a media ingest would append as genuinely novel."""
    matches = (
        match_media_against_index(media, index, id_col, payload_col, max_hamming)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return media.join(matches, id_col, "left_anti")
