"""Gold warehouse persistence (SURVEY.md §1.1 gold zone).

Storage layout designed for the 100 TB read patterns:

- facts carrying ``date_sk`` are partitioned by it — every insight query
  and incremental load prunes to the dates it touches (the Spark
  equivalent of the reference's YYYY/MM/DD S3 layout, §4.1);
- dims are small, written unpartitioned (they broadcast anyway);
- everything is Parquet: columnar pruning + predicate pushdown, unlike
  the reference's CSV text round-trips (§4.4).

``overwrite`` mode keeps batch writes idempotent at the file level: a
re-run of the same batch rewrites the same content (the upsert writers
already guarantee value-level idempotency).
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import concurrently

PARTITIONED_FACTS = {
    "achievement_fact",
    "badges_fact",
    "bans_fact",
    "friends_fact",
    "game_playing_banned_fact",
    "game_playtime_fact",
    "groups_fact",
    "stats_fact",
}

#: Bucketing key for the table-catalog layout: every fact joins
#: player_dim on player_sk, and cross-fact correlation queries join
#: fact-to-fact on it — the one key whose co-location removes a shuffle
#: from every repeated big-big join. (date_sk handles pruning via
#: partitioning; the bounded dims broadcast, needing neither.)
GOLD_BUCKET_KEY = "player_sk"
GOLD_BUCKETS = 8


def write_gold(gold: dict[str, DataFrame], path: str) -> None:
    for name, df in gold.items():
        w = df.write.mode("overwrite")
        if name in PARTITIONED_FACTS and "date_sk" in df.columns:
            w = w.partitionBy("date_sk")
        w.parquet(os.path.join(path, name))


def write_gold_tables(
    spark: SparkSession,
    gold: dict[str, DataFrame],
    database: str,
    path: str,
    buckets: int = GOLD_BUCKETS,
) -> None:
    """Catalog-table variant of ``write_gold``: same date_sk partition
    layout, plus facts bucketed (and sort-ordered) on ``player_sk`` so
    repeated fact⋈fact / fact⋈player joins scan co-located buckets with
    NO exchange on either side (pinned by
    tests/test_skew_and_bucketing.py). Bucketing requires the table
    catalog — plain ``.parquet(path)`` writes cannot record bucket
    metadata.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database} LOCATION '{path}'")
    for name, df in gold.items():
        w = df.write.mode("overwrite").format("parquet")
        if name in PARTITIONED_FACTS and "date_sk" in df.columns:
            w = w.partitionBy("date_sk")
        if name.endswith("_fact") and GOLD_BUCKET_KEY in df.columns:
            w = w.bucketBy(buckets, GOLD_BUCKET_KEY).sortBy(GOLD_BUCKET_KEY)
        w.saveAsTable(f"{database}.{name}")


def read_gold(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in os.listdir(path):
        out[name] = spark.read.parquet(os.path.join(path, name))
    return out


# --------------------------------------------------------------------------
# transactional gold publishing (SURVEY.md §7.3 hard part 2)
# --------------------------------------------------------------------------


class ConcurrentWriteError(RuntimeError):
    """Raised when a publish's base version is no longer current —
    another writer committed first. Callers re-read and retry
    (``publish_with_retry``), which serializes read-modify-write batches
    exactly like the reference's Postgres ``ON CONFLICT`` upserts
    (dags/custom_operators/LoadDimsOperator.py:25-28) serialize via the
    database's row locks."""


class SchemaEvolutionError(RuntimeError):
    """Raised at AUDIT time (never after commit) when an append's schema
    is incompatible with the table's manifest-recorded schema. The
    contract is Delta/Iceberg's public one: ADDITIVE columns are fine
    (old files read the new column as NULL), but changing an existing
    column's type is rejected — a reader unioning old+new append dirs
    would otherwise fail mid-scan or silently coerce."""


class ExpectationError(RuntimeError):
    """Raised at AUDIT time when a staged table violates a declared
    row-level expectation (``publish(..., expectations=...)``). Nothing
    commits — the store is untouched, exactly like a failed schema
    audit. The message names the predicate and the violation count."""


class ConstraintError(RuntimeError):
    """Raised when staged data violates a table's DECLARED constraints
    (``declare_constraints``): primary-key duplicates, foreign-key
    orphans, or not-null/check violations. Like ``ExpectationError``
    this fires at audit time — nothing commits, the store is untouched.
    Reference parity: the warehouse DDL's NOT NULL / PRIMARY KEY /
    FOREIGN KEY clauses (/root/reference/database_build/
    data_warehouse.sql:180-209) enforced by Postgres at load time."""


class TablePropertiesError(RuntimeError):
    """Raised when a publish's table properties conflict with the
    properties already recorded in the manifest — e.g. appending MinHash
    index rows built with a different shingle width ``k`` than the index
    was created with (signatures computed under different k do not
    compare; silently mixing them makes dedup quietly stop matching)."""


class GoldStore:
    """Write-audit-publish gold storage with optimistic concurrency.

    Plain ``write_gold``'s whole-table ``overwrite`` is last-writer-wins:
    two concurrent batches silently drop one batch's rows. The store
    fixes that with the standard table-format commit protocol (the shape
    Iceberg/Delta use — public designs):

    - **write**: each publish lands its tables in an immutable
      ``_data/<txn>/`` directory; nothing references it yet, so a crashed
      or rejected publish leaves gold untouched (orphans are vacuumed).
    - **audit**: every staged file's parquet footer is parsed (row count
      + column stats) before the table can be referenced — a torn write
      can never become visible. The recorded schema is the one Spark's
      read-back would report; only tables with expectations or declared
      constraints are read back through Spark, to evaluate them.
    - **publish**: a root ``_manifest.json`` names the exact directory of
      every table version. Commit = fsync a new manifest + atomic
      ``os.replace``, performed under a compare-and-swap on the base
      version: if another writer advanced the manifest since this batch
      read it, the publish is REJECTED (``ConcurrentWriteError``), never
      merged blindly. On a local/NFS filesystem the CAS critical section
      is an ``O_EXCL`` lock file; on an object store the identical
      protocol maps to a conditional put (ETag/If-Match) or a catalog
      transaction — the caller-facing semantics do not change.

    Readers always open the manifest's directories directly: a reader
    mid-scan of version N is unaffected by version N+1 landing
    (snapshot isolation for free, since data dirs are immutable).

    A manifest entry (``tables[name]``) carries these keys, set by:

    - ``dir`` (``publish``) or ``dirs`` (``publish_append``, ``merge``,
      ``optimize``): the ``_data/<txn>/<name>`` roots a reader opens;
    - ``rows``: the live row count (every writer);
    - ``files`` (``_stage_tables``; carried and extended by every
      writer): one record per data file — ``path``, ``rows``,
      ``stats`` (column ``[min, max]``), ``partition`` (its
      ``col=value`` directory values) and ``dv`` (the deletion vectors
      masking its rows, appended by a merge-on-read ``merge``);
    - ``schema`` (``_stage_tables``; unioned by ``publish_append`` and
      ``merge``): the schema a reader applies;
    - ``file_level`` (``merge``, ``optimize``, and ``publish_append``
      onto such an entry): the table is exactly ``files``, not whole
      dirs;
    - ``properties`` (``publish``/``publish_append`` ``properties=``):
      immutable data-contract parameters;
    - ``constraints`` (``declare_constraints``): declared constraints;
    - ``compacted_from`` (``compact``): the dirs the rewrite folded;
    - ``rewrite_kind`` (``optimize``): ``"row_preserving"``.

    Every writer but ``restore`` carries ``properties`` and
    ``constraints`` forward (``_carried_contract``); ``restore`` copies
    the target version's entry minus the two rewrite markers.
    """

    MANIFEST = "_manifest.json"
    LOCK = "_manifest.lock"
    #: marker file a publisher drops in its ``_data/<txn>`` dir for the
    #: stage→commit window; ``vacuum`` never reclaims a marked dir (the
    #: staged-txn protection against deleting an in-flight publish)
    STAGED_MARKER = "_STAGED"
    #: default ``vacuum`` retention age — no unreferenced dir younger
    #: than this is reclaimed (Delta-style retention window, sized to
    #: far exceed any stage+audit+commit duration)
    DEFAULT_VACUUM_AGE = 600.0
    #: a _STAGED marker older than this belongs to a CRASHED publish
    #: (live ones remove their marker on success and rejection alike);
    #: after this long the orphan becomes reclaimable
    STALE_STAGING_SECONDS = 3600.0

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        # normalized so manifest-relative paths never depend on how the
        # caller spelled the store path (relative, ./-prefixed, symlinked
        # temp dirs): every comparison against Spark-reported file URIs
        # goes through the _data/<txn>/... suffix, but os.path.join
        # arithmetic elsewhere needs one canonical root
        self.path = os.path.abspath(path)
        os.makedirs(self.path, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _manifest_file(self) -> str:
        return os.path.join(self.path, self.MANIFEST)

    def current_manifest(self) -> dict:
        try:
            with open(self._manifest_file(), encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": 0, "tables": {}}

    def current_version(self) -> int:
        return int(self.current_manifest()["version"])

    # -- read --------------------------------------------------------------

    @staticmethod
    def _dirs(entry: dict) -> list[str]:
        """A table entry names one data dir (replace-published) or a
        list (append-published); readers union them."""
        return entry["dirs"] if "dirs" in entry else [entry["dir"]]

    def read_all(self) -> dict[str, DataFrame]:
        m = self.current_manifest()
        return {name: self._read_entry(entry) for name, entry in m["tables"].items()}

    def _read_entry(self, entry: dict) -> DataFrame:
        """Open a table entry. Multi-dir (append-published) entries read
        with the MANIFEST-recorded union schema, so an older dir that
        predates an additive column yields NULLs for it — schema
        evolution without ``mergeSchema``'s read-every-footer cost (the
        schema was merged once, at commit time). The recorded schema
        applies to SINGLE-dir entries too: a one-txn ``changes_since``
        delta must expose the same column set as ``read()`` after
        additive evolution, not its footer's pre-evolution subset.
        Legacy entries without a recorded schema fall back to
        ``mergeSchema`` (footer merge).

        ``file_level`` entries (produced by ``merge``) reference an
        explicit FILE set rather than whole dirs — a copy-on-write merge
        rewrote some files of a dir and carried the rest forward by
        reference, so the dir alone no longer describes the table."""
        if entry.get("file_level"):
            return self._apply_entry_schema(
                self._read_files(entry["files"]), entry.get("schema")
            )
        dirs = [os.path.join(self.path, d) for d in self._dirs(entry)]
        r = self.spark.read
        if entry.get("schema") is not None:
            from pyspark.sql.types import StructType

            r = r.schema(StructType.fromJson(entry["schema"]))
        elif len(dirs) > 1:
            r = r.option("mergeSchema", "true")
        return r.parquet(*dirs)

    @staticmethod
    def _apply_entry_schema(df: DataFrame, schema_json: dict | None) -> DataFrame:
        """Project ``df`` onto a recorded entry schema: each field cast to
        its recorded type, a field the files lack as a typed NULL."""
        if schema_json is None:
            return df
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        want = StructType.fromJson(schema_json)
        cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in want.fields
        ]
        return df.select(*cols)

    @staticmethod
    def _union(frames: list[DataFrame]) -> DataFrame:
        """Union by name, a column missing from a frame read as NULL —
        the additive schema evolution every multi-part read shares."""
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    @staticmethod
    def _dv_dirs(f: dict) -> list[str]:
        """The deletion-vector dirs masking rows of file record ``f``."""
        return [d["dir"] for d in f.get("dv") or []]

    @staticmethod
    def _txn_root(rel_path: str) -> str:
        """The staged table root ``_data/<txn>/<name>`` of a
        manifest-relative file path."""
        return os.sep.join(rel_path.split(os.sep)[:3])

    #: helper columns for deletion-vector bookkeeping: the row's file as
    #: a manifest-relative path, and its ordinal within that file
    REL_COL = "__rel_path"
    POS_COL = "__row_pos"

    @classmethod
    def _with_row_identity(cls, df: DataFrame) -> DataFrame:
        """Attach (manifest-relative file path, row position) from the
        parquet reader's ``_metadata`` struct — the stable row identity
        deletion vectors address. Pure codegen (a substring over the
        scan-provided path), no Python, no shuffle."""
        from pyspark.sql import functions as F

        sep = os.sep + "_data" + os.sep
        return df.withColumn(
            cls.REL_COL,
            F.concat(
                F.lit("_data" + os.sep),
                F.substring_index(F.col("_metadata.file_path"), sep, -1),
            ),
        ).withColumn(cls.POS_COL, F.col("_metadata.row_index"))

    def _grouped_file_read(
        self, rel_paths: list[str], row_identity: bool = False
    ) -> DataFrame:
        """Open an explicit file list, grouped by staged table root
        (``_data/<txn>/<name>``) so a ``col=value`` partition layout
        reads with ``basePath`` pinned and Spark reconstructs the
        partition column for exactly the files passed. Groups (one
        schema each — a txn dir is written once) union by name with
        missing columns allowed, the same additive-evolution semantics
        as multi-dir entries. ``row_identity`` adds the (file, position)
        helper columns deletion vectors key on."""
        if not rel_paths:
            raise ValueError("empty file list")
        groups: dict[str, list[str]] = {}
        for p in rel_paths:
            root = os.path.join(self.path, self._txn_root(p))
            groups.setdefault(root, []).append(os.path.join(self.path, p))
        frames = []
        for root, fs in sorted(groups.items()):
            fr = self.spark.read.option("basePath", root).parquet(*fs)
            if row_identity:
                fr = self._with_row_identity(fr)
            frames.append(fr)
        return self._union(frames)

    def _read_dv(self, dv_dirs: list[str]) -> DataFrame:
        """Union the (path, pos) rows of the given deletion-vector dirs."""
        return self.spark.read.parquet(
            *[os.path.join(self.path, d) for d in sorted(set(dv_dirs))]
        )

    def _read_files(
        self, files: list[dict], row_identity: bool = False
    ) -> DataFrame:
        """DV-aware read of explicit file records: rows whose (file,
        position) appears in a referenced deletion vector are masked out
        via an anti-join — the merge-on-read shape (Delta/Iceberg DVs,
        public designs). Files without DVs scan clean (no helper
        columns, no join) unless the caller asked for row identity."""
        plain = [f for f in files if not f.get("dv")]
        dvd = [f for f in files if f.get("dv")]
        parts = []
        if plain:
            parts.append(
                self._grouped_file_read(
                    [f["path"] for f in plain], row_identity=row_identity
                )
            )
        if dvd:
            df = self._grouped_file_read([f["path"] for f in dvd], row_identity=True)
            dv = self._read_dv([d for f in dvd for d in self._dv_dirs(f)])
            df = df.join(
                dv,
                (df[self.REL_COL] == dv["path"]) & (df[self.POS_COL] == dv["pos"]),
                "left_anti",
            )
            if not row_identity:
                df = df.drop(self.REL_COL, self.POS_COL)
            parts.append(df)
        if not parts:
            raise ValueError("empty file list")
        return self._union(parts)

    def read(self, name: str) -> DataFrame:
        return self._read_entry(self.current_manifest()["tables"][name])

    # -- time travel -------------------------------------------------------

    def versions(self) -> list[int]:
        """Committed versions with a retained manifest, ascending."""
        d = os.path.join(self.path, "_manifests")
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        )

    def manifest_at(self, version: int) -> dict:
        with open(
            os.path.join(self.path, "_manifests", f"v{version}.json"), encoding="utf-8"
        ) as f:
            return json.load(f)

    def read_at(self, name: str, version: int) -> DataFrame:
        """Snapshot read of ``name`` as of ``version`` — free time travel
        because data dirs are immutable (the Iceberg/Delta property).
        Valid until ``vacuum`` reclaims dirs the CURRENT manifest no
        longer references; after that a stale snapshot read fails fast
        on the missing path rather than returning partial data."""
        return self._read_entry(self.manifest_at(version)["tables"][name])

    def changes_since(self, name: str, from_version: int) -> DataFrame:
        """Rows of ``name`` appended AFTER ``from_version`` — exact
        incremental consumption (CDC for an append-only history): the
        delta is the set of data dirs the current entry references that
        the ``from_version`` entry did not, and dirs are immutable, so
        reading just those dirs IS the row-level diff. No full-table
        scan, no row comparison — the 100 TB "give me today's batch"
        read costs only today's bytes.

        Contract: exact while the history between the two versions is
        append-only PLUS recorded row-preserving compactions (``compact``
        stamps ``compacted_from`` on its entry). When the current entry
        still references every base dir, the diff is the direct dir-set
        difference; when a compaction folded them, the retained manifest
        history is walked to prove each rewrite preserved rows and to
        recover the ORIGINAL append dirs (still on disk while a retained
        manifest references them — the vacuum ``keep_versions`` window).
        A rewrite that is not a recorded compaction, or a pruned history
        window, raises ``ValueError``; the consumer falls back to a full
        read + its own keying. A table absent at ``from_version`` (v0
        included, the empty store) diffs as "everything"."""
        m = self.current_manifest()
        cur = m["tables"].get(name)
        if cur is None:
            raise KeyError(name)
        base_entry = self._baseline(name, from_version)
        if cur.get("file_level") or (base_entry or {}).get("file_level"):
            # a merge() produced file-level entries: the dir set no
            # longer describes the table, so diff at FILE granularity.
            # Appends only grow the file set; a merge between the two
            # versions shrank it (rewritten files dropped), and reading
            # the new files would misreport updates as inserts — raise,
            # consumer does a full read (same contract as an unrecorded
            # compaction).
            if base_entry is not None and base_entry.get("files") is None:
                raise ValueError(
                    f"{name}: baseline v{from_version} predates file stats — "
                    "file-level diff is unknowable; do a full read instead"
                )
            base_recs = (base_entry or {}).get("files") or []
            base_files = {f["path"] for f in base_recs}
            cur_files = [f["path"] for f in cur["files"]]
            if not base_files <= set(cur_files):
                raise ValueError(
                    f"{name}: a merge since v{from_version} rewrote files — "
                    "the delta is not append-only; do a full read instead"
                )
            # a merge-on-read update leaves every path in place but adds
            # deletion vectors: that too is not append-only
            cur_dv = {f["path"]: self._dv_dirs(f) for f in cur["files"]}
            if any(cur_dv.get(f["path"], []) != self._dv_dirs(f) for f in base_recs):
                raise ValueError(
                    f"{name}: a merge since v{from_version} added deletion "
                    "vectors — the delta is not append-only; use changes_cdc "
                    "or do a full read instead"
                )
            delta_files = [p for p in cur_files if p not in base_files]
            if not delta_files:
                return self._read_entry(cur).limit(0)
            return self._read_entry(
                {
                    "file_level": True,
                    "files": [{"path": p} for p in delta_files],
                    "schema": cur.get("schema"),
                }
            )
        base_dirs = set(self._dirs(base_entry)) if base_entry is not None else set()
        cur_dirs = self._dirs(cur)
        if base_dirs <= set(cur_dirs):
            delta = [d for d in cur_dirs if d not in base_dirs]
        else:
            delta = self._appended_dirs_via_history(
                name, from_version, base_entry, int(m["version"])
            )
        if not delta:
            return self._read_entry(cur).limit(0)
        return self._read_entry({**cur, "dirs": delta, "dir": None})

    def _baseline(self, name: str, from_version: int) -> dict | None:
        """``name``'s entry at ``from_version``; None when the table did
        not exist there. v0 is the empty store, whose manifest
        ``_commit`` never writes; any other missing manifest was pruned,
        so the baseline is unknowable (``ValueError``)."""
        if from_version == 0:
            return None
        try:
            return self.manifest_at(from_version)["tables"].get(name)
        except FileNotFoundError:
            raise ValueError(
                f"{name}: the manifest for v{from_version} was pruned — the "
                "baseline is unknowable; do a full read instead"
            ) from None

    def _retained_since(self, name: str, from_version: int, cur_version: int) -> list[int]:
        """The versions after ``from_version`` up to ``cur_version``, each
        with a retained manifest: a walk over a pruned window cannot
        prove any diff (``ValueError``)."""
        expected = list(range(from_version + 1, cur_version + 1))
        retained = [v for v in self.versions() if v > from_version]
        if retained != expected:
            missing = sorted(set(expected) - set(retained))
            raise ValueError(
                f"{name}: manifests for versions {missing} since "
                f"v{from_version} were pruned — history cannot prove the "
                "diff; do a full read instead"
            )
        return expected

    def _appended_dirs_via_history(
        self, name: str, from_version: int, base_entry: dict | None, cur_version: int
    ) -> list[str]:
        """The exact dirs appended to ``name`` after ``from_version``,
        proven from the retained manifest chain when the current entry no
        longer references the base dirs. Each step must be an append
        (prior dirs ⊆ next dirs) or a recorded row-preserving compaction
        (``compacted_from`` == exactly the dirs it replaced); anything
        else — or a pruned manifest — raises ``ValueError``. Metadata-only:
        O(versions) manifest reads, no data scanned."""
        prev = list(self._dirs(base_entry)) if base_entry is not None else []
        appended: list[str] = []
        for v in self._retained_since(name, from_version, cur_version):
            entry = self.manifest_at(v)["tables"].get(name)
            if entry is not None and entry.get("file_level"):
                raise ValueError(
                    f"{name}: v{v} is a merge (file-level rewrite) — dir-level "
                    "diff would be wrong; do a full read instead"
                )
            nxt = list(self._dirs(entry)) if entry else []
            if set(prev) <= set(nxt):
                pset = set(prev)
                appended += [d for d in nxt if d not in pset]
            elif entry is not None and set(entry.get("compacted_from") or []) == set(prev):
                pass  # row-preserving fold: nothing appended at this step
            else:
                raise ValueError(
                    f"{name}: history since v{from_version} contains a rewrite "
                    f"at v{v} that is not a recorded row-preserving compaction "
                    "— dir-level diff would be wrong; do a full read instead"
                )
            prev = nxt
        # dirs folded by a later compaction are absent from the current
        # entry but remain on disk while a retained manifest references
        # them; a read past the retention window fails fast on the
        # missing path rather than returning partial data (read_at's
        # documented contract)
        return appended

    def _is_row_preserving(self, prev_entry: dict | None, entry: dict) -> bool:
        """True when the commit that produced ``entry`` provably changed
        no live rows (compact / optimize): cdc skips it. The recorded
        marker is cross-checked against the row counts — a marker whose
        counts disagree is treated as a real change, never skipped."""
        marked = entry.get("rewrite_kind") == "row_preserving" or (
            prev_entry is not None
            and entry.get("compacted_from") is not None
            and set(entry["compacted_from"]) == set(self._dirs(prev_entry))
        )
        if not marked:
            return False
        if prev_entry is not None and "rows" in prev_entry and "rows" in entry:
            return int(prev_entry["rows"]) == int(entry["rows"])
        return True

    def changes_cdc(self, name: str, from_version: int) -> DataFrame:
        """Exact row-level CDC across ANY history — appends, both merge
        strategies, replaces — as a frame with a ``_change_type`` column
        (``insert`` | ``delete``): the multiset of current rows equals
        base rows + inserts − deletes.

        Cost is O(touched), never O(table): each version's diff reads
        only the files that version added or removed plus the rows its
        new deletion vectors masked; row-preserving rewrites (compact /
        optimize) contribute NOTHING (VERDICT r8 #2 — an update merge
        must not force consumers into a full rebuild). Appends diff as
        pure inserts (same bytes ``changes_since`` reads); a replace
        publish diffs as delete-all + insert-all, which IS its delta.

        Raises ``ValueError`` when the retained manifest history cannot
        prove the diff (pruned window, entries without file records) —
        the consumer falls back to a full read, exactly like
        ``changes_since``."""
        from pyspark.sql import functions as F

        cur_manifest = self.current_manifest()
        cur_entry = cur_manifest["tables"].get(name)
        if cur_entry is None:
            raise KeyError(name)
        versions = self._retained_since(name, from_version, int(cur_manifest["version"]))
        prev = self._baseline(name, from_version)
        schema = cur_entry.get("schema")
        frames: list[DataFrame] = []

        def rec_map(entry: dict | None) -> dict[str, dict]:
            if entry is None:
                return {}
            files = self._complete_files(entry)
            if files is None:
                raise ValueError(
                    f"{name}: an entry in the history lacks complete file "
                    "records — cdc is unprovable; do a full read instead"
                )
            return {f["path"]: f for f in files}

        for v in versions:
            nxt = self.manifest_at(v)["tables"].get(name)
            if nxt == prev:
                continue  # this commit touched other tables only
            if nxt is None:
                raise ValueError(
                    f"{name}: dropped from the manifest at v{v} — cdc "
                    "across a drop is undefined; do a full read instead"
                )
            if self._is_row_preserving(prev, nxt):
                prev = nxt
                continue
            pm, nm = rec_map(prev), rec_map(nxt)
            plus = [f for p, f in nm.items() if p not in pm]
            minus = [f for p, f in pm.items() if p not in nm]
            if plus:
                frames.append(
                    self._apply_entry_schema(self._read_files(plus), schema)
                    .withColumn("_change_type", F.lit("insert"))
                )
            if minus:
                # deleted = the file's LIVE rows as of v-1 (its own DVs
                # at that version already applied by _read_files)
                frames.append(
                    self._apply_entry_schema(self._read_files(minus), schema)
                    .withColumn("_change_type", F.lit("delete"))
                )
            # merge-on-read deltas: surviving files whose DV set changed.
            # Grown DVs (a MOR merge) mask rows → deletes; shrunk DVs (a
            # restore to a pre-merge snapshot) un-mask rows → inserts.
            changed: list[tuple[dict, list[str], list[str]]] = []
            for p in pm.keys() & nm.keys():
                old, new = self._dv_dirs(pm[p]), self._dv_dirs(nm[p])
                if old != new:
                    changed.append((pm[p], old, new))
            if changed:
                raw = self._grouped_file_read(
                    [f["path"] for f, _, _ in changed], row_identity=True
                )
                paths = {f["path"] for f, _, _ in changed}

                def pos_set(dirs: set[str]):
                    if not dirs:
                        return None
                    dv = self._read_dv(sorted(dirs))
                    return dv.filter(dv["path"].isin(*paths)).distinct()

                old_pos = pos_set({d for _, old, _ in changed for d in old})
                new_pos = pos_set({d for _, _, new in changed for d in new})
                masked = (
                    new_pos if old_pos is None
                    else None if new_pos is None
                    else new_pos.exceptAll(old_pos)
                )
                unmasked = (
                    old_pos if new_pos is None
                    else None if old_pos is None
                    else old_pos.exceptAll(new_pos)
                )
                for pos, kind in ((masked, "delete"), (unmasked, "insert")):
                    if pos is None:
                        continue
                    rows = raw.join(
                        pos,
                        (raw[self.REL_COL] == pos["path"])
                        & (raw[self.POS_COL] == pos["pos"]),
                        "left_semi",
                    ).drop(self.REL_COL, self.POS_COL)
                    frames.append(
                        self._apply_entry_schema(rows, schema)
                        .withColumn("_change_type", F.lit(kind))
                    )
            prev = nxt
        if not frames:
            return self._read_entry(cur_entry).limit(0).withColumn(
                "_change_type", F.lit("insert")
            )
        return self._union(frames)

    def properties(self, name: str) -> dict:
        """The table's manifest-recorded properties (empty dict if none)
        — the durable home of index contracts like the MinHash shingle
        width ``k`` (operators/incremental.py): parameters that must be
        identical for every batch ever matched against the table."""
        entry = self.current_manifest()["tables"].get(name)
        return dict((entry or {}).get("properties") or {})

    # -- declarative constraints ------------------------------------------

    def constraints(self, name: str) -> dict:
        """The table's DECLARED constraints (empty dict if none):
        ``{"not_null": [col], "check": [sql_expr], "primary_key": [col],
        "foreign_keys": [{"columns": [...], "ref_table": t,
        "ref_columns": [...]}]}`` — the warehouse DDL's constraint
        surface (/root/reference/database_build/data_warehouse.sql)
        persisted as a stored table property and enforced at every
        subsequent publish/append/merge."""
        return self._constraints_of(self.current_manifest()["tables"].get(name))

    @staticmethod
    def _constraints_of(entry: dict | None) -> dict:
        return dict((entry or {}).get("constraints") or {})

    @staticmethod
    def _constraint_row_exprs(cons: dict) -> list[str]:
        """not_null/check constraints as row-expectation predicates (they
        ride the existing single-pass audit aggregation)."""
        exprs = [f"{c} IS NOT NULL" for c in cons.get("not_null") or []]
        exprs.extend(cons.get("check") or [])
        return exprs

    @staticmethod
    def _first_violation(df: DataFrame, exprs: list[str]) -> tuple[str, int] | None:
        """The first of ``exprs`` some row of ``df`` violates, with its
        violation count; one aggregation job for every predicate. A
        predicate evaluating to NULL is a violation."""
        from pyspark.sql import functions as F

        if not exprs:
            return None
        viol = df.agg(
            *[
                F.sum(
                    F.when(~F.expr(e), F.lit(1)).otherwise(F.lit(0))
                    + F.when(F.expr(e).isNull(), F.lit(1)).otherwise(F.lit(0))
                ).alias(f"v{i}")
                for i, e in enumerate(exprs)
            ]
        ).collect()[0]
        for i, e in enumerate(exprs):
            if int(viol[f"v{i}"] or 0):
                return e, int(viol[f"v{i}"])
        return None

    @staticmethod
    def _first_duplicate(df: DataFrame, cols: list[str]) -> dict | None:
        """The first ``cols`` key that occurs more than once in ``df``, as
        a column → value dict; None when the key is unique."""
        from pyspark.sql import functions as F

        dup = (
            df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__dup_n"))
            .filter(F.col("__dup_n") > 1).limit(1).collect()
        )
        return {c: dup[0][c] for c in cols} if dup else None

    @staticmethod
    def _first_shared_key(df: DataFrame, other: DataFrame, cols: list[str]) -> dict | None:
        """The first ``cols`` key of ``df`` that ``other`` also holds."""
        hit = df.select(*cols).join(other.select(*cols), cols, "left_semi").limit(1).collect()
        return {c: hit[0][c] for c in cols} if hit else None

    @staticmethod
    def _first_orphan(df: DataFrame, cols: list[str], ref: DataFrame,
                      ref_cols: list[str]) -> dict | None:
        """The first ``cols`` key of ``df`` with no match among ``ref``'s
        ``ref_cols`` (SQL MATCH SIMPLE: a key holding a NULL passes)."""
        from pyspark.sql import functions as F

        ref_keys = ref.select(
            *[F.col(rc).alias(c) for rc, c in zip(ref_cols, cols)]
        ).distinct()
        orphan = (
            df.select(*cols).na.drop().distinct()
            .join(ref_keys, on=cols, how="left_anti")
            .limit(1).collect()
        )
        return {c: orphan[0][c] for c in cols} if orphan else None

    def _live_resolver(self, tables: dict):
        """FK target lookup over one manifest snapshot's ``tables``."""
        return lambda t: self._read_entry(tables[t]) if t in tables else None

    def _enforce_relational(self, name, df, cons, ref_resolver,
                            existing_keys=None) -> None:
        """PK-uniqueness and FK-orphan audits for one staged/source
        frame. ``ref_resolver(table)`` returns the referenced table's
        frame (staged sibling first, so a dims+facts batch published
        together validates against the dims being published — the
        reference's load ordering). ``existing_keys``: prior key rows for
        append-mode PK checks (column-pruned scan of the live table).

        Cost: PK is one groupBy over the batch's key columns; each FK is
        a distinct of the batch's FK values (bounded by batch size)
        anti-joined against the referenced key set. Nothing here scans
        the target table except the optional append-PK key projection."""
        pk = cons.get("primary_key") or []
        if pk:
            key = self._first_duplicate(df, pk)
            if key is not None:
                raise ConstraintError(
                    f"table {name!r}: duplicate primary key {key} in "
                    "staged rows — publish rejected, store untouched"
                )
            if existing_keys is not None:
                key = self._first_shared_key(df, existing_keys, pk)
                if key is not None:
                    raise ConstraintError(
                        f"table {name!r}: appended primary key {key} "
                        "already exists — publish rejected, store untouched"
                    )
        for fk in cons.get("foreign_keys") or []:
            cols, ref_t = list(fk["columns"]), fk["ref_table"]
            ref_cols = list(fk.get("ref_columns") or cols)
            ref = ref_resolver(ref_t)
            if ref is None:
                raise ConstraintError(
                    f"table {name!r}: foreign key references unknown "
                    f"table {ref_t!r}"
                )
            key = self._first_orphan(df, cols, ref, ref_cols)
            if key is not None:
                raise ConstraintError(
                    f"table {name!r}: foreign key {key} has no match in "
                    f"{ref_t!r}({', '.join(ref_cols)}) — publish "
                    "rejected, store untouched"
                )

    def _check_row_constraints(self, name, df, cons) -> None:
        """One-pass not_null/check audit for frames that do not go
        through ``_stage_tables`` (merge sources, full-table audits)."""
        bad = self._first_violation(df, self._constraint_row_exprs(cons))
        if bad is not None:
            raise ConstraintError(
                f"table {name!r}: {bad[1]} source row(s) violate declared "
                f"constraint {bad[0]!r} — merge rejected, store untouched"
            )

    def _audit_live_table(self, name: str, cons: dict, tables: dict) -> None:
        """Full-table audit of ``name``'s live rows against ``cons``."""
        df = self._read_entry(tables[name])
        self._check_row_constraints(name, df, cons)
        self._enforce_relational(name, df, cons, self._live_resolver(tables))

    def declare_constraints(
        self, decls: dict[str, dict], base_version: int,
        lock_timeout: float = 30.0,
    ) -> int:
        """Declare (or replace) per-table constraints as stored table
        properties — the ALTER TABLE ADD CONSTRAINT shape: EXISTING rows
        are validated first (full-table audit), so a declaration can
        never be published over violating data; every later
        publish/append/merge then enforces the declaration on its own
        batch. Tables must already exist (publish first, then declare).
        Returns the committed (metadata-only) version."""
        current = self.current_manifest()["tables"]
        for name, cons in decls.items():
            if name not in current:
                raise ConstraintError(
                    f"cannot declare constraints on unknown table {name!r}"
                    " — publish it first"
                )
            self._audit_live_table(name, cons, current)

        def set_constraints(tables: dict, _staged) -> None:
            for name, cons in decls.items():
                tables[name] = {**tables[name], "constraints": cons}

        return self._transact(None, set_constraints, base_version, lock_timeout)

    def validate_constraints(self, name: str) -> None:
        """Full-table constraint audit on demand (raises
        ``ConstraintError`` on the first violation) — the recheck tool
        after restores or external tampering."""
        current = self.current_manifest()["tables"]
        cons = self._constraints_of(current.get(name))
        if cons:
            self._audit_live_table(name, cons, current)

    def _audit_referencing_children(
        self, parent: str, post_parent, tables: dict,
        skip_children: set[str] = frozenset(),
    ) -> None:
        """Reverse-direction FK audit: when ``parent`` is REPLACED or has
        rows DELETED, every live child table declaring an FK to it must
        still resolve against the post-commit parent key set (the
        reference's Postgres DDL rejects parent-side orphaning the same
        way, data_warehouse.sql REFERENCES clauses). ``post_parent()``
        builds that parent frame, only when some child needs it;
        ``tables`` is the manifest snapshot the children are read from.
        ``skip_children``: tables staged in the SAME commit — their own
        incoming-side audit already validates them against the staged
        parent.

        Cost: per declared child FK, one distinct of the child's FK
        values anti-joined against a distinct of the new parent keys —
        both column-pruned; nothing here is paid unless a constraint
        names this table as ref_table."""
        edges = [  # the reverse edges of the constraint graph
            (child, fk)
            for child, e in tables.items()
            if child not in skip_children and child != parent
            for fk in (e.get("constraints") or {}).get("foreign_keys") or []
            if fk.get("ref_table") == parent
        ]
        if not edges:
            return
        post_parent_df = post_parent()
        for child, fk in edges:
            cols = list(fk["columns"])
            key = self._first_orphan(
                self._read_entry(tables[child]), cols,
                post_parent_df, list(fk.get("ref_columns") or cols),
            )
            if key is not None:
                raise ConstraintError(
                    f"table {parent!r}: change would orphan foreign key "
                    f"{key} in child table {child!r} — rejected, store "
                    "untouched"
                )

    @classmethod
    def _complete_files(cls, entry: dict) -> list[dict] | None:
        """The entry's per-file records iff they cover EVERY referenced
        dir; None otherwise ("no usable stats — read/rewrite whole dirs").
        A legacy dir-level entry (files None) later extended by
        ``publish_append`` carries a PARTIAL list — treating it as
        complete would make file-list readers silently drop the legacy
        dir's rows and ``merge`` silently lose them (ADVICE r8)."""
        files = entry.get("files")
        if files is None:
            return None
        if entry.get("file_level"):
            # merge-produced entries are born with full coverage and the
            # dirs list is derived FROM the file set — nothing to check
            return files
        covered = {cls._txn_root(f["path"]) for f in files}
        if any(d not in covered for d in cls._dirs(entry)):
            return None
        return files

    @staticmethod
    def _file_may_match(f: dict, bounds: dict) -> bool:
        """False only when the file's manifest metadata proves that none
        of its rows satisfies every ``col: (lo, hi)`` bound. A recorded
        partition value decides its column: path strings coerce to the
        bound's numeric type, and a value that does not coerce (the
        ``__HIVE_DEFAULT_PARTITION__`` null partition) or a bool bound
        keeps the file. Otherwise the column's ``[min, max]`` stats
        decide, and a column with neither keeps the file."""
        part = f.get("partition") or {}
        for col, (lo, hi) in bounds.items():
            if col not in part:
                rng = f.get("stats", {}).get(col)
                if rng is not None and not (rng[1] >= lo and rng[0] <= hi):
                    return False
                continue
            v = part[col]
            if isinstance(lo, bool) or isinstance(hi, bool):
                continue
            if isinstance(lo, (int, float)):
                try:
                    v = float(v) if isinstance(lo, float) else int(v)
                except (TypeError, ValueError):
                    continue
            if not lo <= v <= hi:
                return False
        return True

    def pruned_files(self, name: str, bounds: dict) -> list[dict] | None:
        """Data files of ``name`` whose manifest metadata intersects EVERY
        ``col: (lo, hi)`` bound — Iceberg-style pruning: the planner
        touches ONLY the manifest, never a parquet footer. Prunes on
        both the files' recorded partition values (``date_sk=X`` path
        layout) and their column [min, max] stats, so each additional
        Z-ordered column multiplies the cut. Returns None when the
        manifest carries no stats (legacy entry), meaning "cannot prune,
        read everything"."""
        return self._pruned(self.current_manifest()["tables"][name], bounds)

    def _pruned(self, entry: dict, bounds: dict) -> list[dict] | None:
        files = self._complete_files(entry)
        if files is None:
            return None
        return [f for f in files if self._file_may_match(f, bounds)]

    def read_pruned(self, name: str, bounds: dict) -> DataFrame:
        """``read(name)`` filtered to ``lo <= col <= hi`` for every
        ``col: (lo, hi)`` in ``bounds``, scanning only the manifest-pruned
        file set; the residual filter still applies (stats prune files,
        not rows).

        Partition-aware: files under a ``col=value`` layout read with
        ``basePath`` pinned to their staged table root, so Spark
        reconstructs the partition column for exactly the file list we
        pass — no silent column loss, no full-table fallback. File
        groups from different append txn dirs union by name (the
        manifest schema already guarantees type compatibility) and are
        projected onto the entry's recorded schema, so the columns are
        ``read(name)``'s whichever files survive the pruning."""
        from pyspark.sql import functions as F

        entry = self.current_manifest()["tables"][name]
        files = self._pruned(entry, bounds)
        if files is None:
            base = self._read_entry(entry)
        elif not files:
            base = self.spark.createDataFrame([], self._read_entry(entry).schema)
        else:
            base = self._apply_entry_schema(self._read_files(files), entry.get("schema"))
        for col, (lo, hi) in bounds.items():
            base = base.filter((F.col(col) >= lo) & (F.col(col) <= hi))
        return base

    @staticmethod
    def _file_stats(target: str, base: str) -> list[dict]:
        """Per-file (min, max) of every JSON-portable primitive column,
        from parquet footers at stage time. One footer read per staged
        file — metadata-only, proportional to file count not bytes (the
        same cost Iceberg pays to build its manifests); readers then
        prune without opening any footer."""
        import glob as _glob

        import pyarrow.parquet as pq

        out = []
        root = target.rstrip(os.sep)
        for fp in sorted(_glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)):
            md = pq.ParquetFile(fp).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            stats: dict[str, list] = {}
            for ci, cname in enumerate(names):
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        mins = []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if mins and all(isinstance(v, (int, float, str, bool)) for v in (min(mins), max(maxs))):
                    stats[cname] = [min(mins), max(maxs)]
            # per-file row count (free from the footer): lets merge()
            # maintain the entry row total from metadata alone when it
            # carries untouched files forward
            entry = {"path": os.path.relpath(fp, base), "rows": md.num_rows, "stats": stats}
            # a col=value partition layout encodes columns in directory
            # names — record them per file so the planner can prune
            # partitioned facts from the manifest alone
            part = {
                comp.partition("=")[0]: comp.partition("=")[2]
                for comp in os.path.relpath(fp, root).split(os.sep)[:-1]
                if "=" in comp
            }
            if part:
                entry["partition"] = part
            out.append(entry)
        return out

    # -- write + audit + publish ------------------------------------------

    def _stage_tables(
        self,
        tables: dict[str, DataFrame],
        txn: str,
        partitioned: bool,
        expectations: dict[str, list[str]] | None = None,
    ) -> dict[str, dict]:
        """Write + audit each table into ``_data/<txn>/``, dropping a
        ``_STAGED`` marker FIRST so a concurrent ``vacuum`` can never
        reclaim the dir during the stage→commit window. ``_transact``
        removes the marker once the attempt resolves (success: the
        manifest now references the dir; rejection by the CAS or by an
        audit: the dir is a plain orphan, reclaimable after the
        retention age).

        The audit reads metadata only: ``_file_stats`` parses every
        staged file's footer (a torn file raises here, before any
        manifest exists), ``rows`` is the sum of the footer row counts,
        and ``schema`` is derived by ``_staged_schema`` — no Spark job.

        ``expectations`` maps table name → SQL predicates every row must
        satisfy (the Delta-constraints shape, public design): violations
        are counted on a read-back of the staged dir — what actually
        landed, not the logical plan — and any violation raises
        ``ExpectationError`` before a manifest exists, so a bad batch can
        never become visible.

        The tables are staged concurrently, at most one per core
        (``session.concurrently``); ``staged`` keeps the order of
        ``tables``. Every table's write finishes before an error
        propagates, and the error is the first in table order."""
        self._mark_staged(txn)

        def stage(name: str) -> dict:
            df = tables[name]
            rel = os.path.join("_data", txn, name)
            target = os.path.join(self.path, rel)
            w = df.write.mode("error")
            part_col = None
            if partitioned and name in PARTITIONED_FACTS and "date_sk" in df.columns:
                part_col = "date_sk"
                w = w.partitionBy(part_col)
            w.parquet(target)
            files = self._file_stats(target, self.path)
            entry = {
                "dir": rel,
                "rows": sum(f["rows"] for f in files),
                "files": files,
                "schema": self._staged_schema(df.schema.jsonValue(), files, part_col),
            }
            exprs = (expectations or {}).get(name) or []
            bad = self._first_violation(self._read_staged(entry), exprs) if exprs else None
            if bad is not None:
                raise ExpectationError(
                    f"table {name!r}: {bad[1]} row(s) violate expectation "
                    f"{bad[0]!r} — publish rejected, store untouched"
                )
            return entry

        names = list(tables)
        return dict(zip(names, concurrently(self.spark, stage, names)))

    @classmethod
    def _staged_schema(cls, schema: dict, files: list[dict], part_col: str | None) -> dict:
        """The schema ``spark.read.parquet`` reports for a staged dir,
        from the written frame's schema (JSON form) and the staged files:
        file sources read every field nullable, and a partition column
        comes last, typed by ``_partition_type`` over its directory
        values. With no files to infer from (an empty partitioned write)
        it keeps the frame's type."""

        def nullable(t):
            if not isinstance(t, dict):
                return t
            if t["type"] == "struct":
                return {**t, "fields": [
                    {**f, "nullable": True, "type": nullable(f["type"])} for f in t["fields"]
                ]}
            if t["type"] == "array":
                return {**t, "containsNull": True, "elementType": nullable(t["elementType"])}
            if t["type"] == "map":
                return {**t, "valueContainsNull": True,
                        "keyType": nullable(t["keyType"]),
                        "valueType": nullable(t["valueType"])}
            return t

        out = nullable(schema)
        if part_col is None:
            return out
        fields = [f for f in out["fields"] if f["name"] != part_col]
        (col,) = [f for f in out["fields"] if f["name"] == part_col]
        if files:
            col = {**col, "type": cls._partition_type(
                [f["partition"][part_col] for f in files]
            )}
        return {**out, "fields": fields + [col]}

    @staticmethod
    def _partition_type(values: list[str]) -> str:
        """Spark's partition-value type inference, over the integral date
        keys this store partitions by: int, widened to bigint past 32
        bits; a non-integral value makes the column string. The null
        partition takes any type; a column of only nulls is string."""
        vals = [v for v in values if v != "__HIVE_DEFAULT_PARTITION__"]
        if not vals or not all(re.fullmatch(r"[+-]?[0-9]+", v) for v in vals):
            return "string"
        if all(-(2**31) <= int(v) < 2**31 for v in vals):
            return "integer"
        return "long" if all(-(2**63) <= int(v) < 2**63 for v in vals) else "string"

    def _read_staged(self, entry: dict) -> DataFrame:
        """Spark read of a staged table with its recorded schema (no
        schema-inference job; an empty partitioned dir reads as empty)."""
        from pyspark.sql.types import StructType

        return self.spark.read.schema(StructType.fromJson(entry["schema"])).parquet(
            os.path.join(self.path, entry["dir"])
        )

    def _mark_staged(self, txn: str) -> None:
        txn_dir = os.path.join(self.path, "_data", txn)
        os.makedirs(txn_dir, exist_ok=True)
        with open(os.path.join(txn_dir, self.STAGED_MARKER), "w", encoding="utf-8") as f:
            f.write(str(time.time()))

    def _stage_dv(self, dv_df: DataFrame, txn: str) -> tuple[str, dict[str, int]]:
        """Write a deletion-vector frame (path string, pos bigint) into
        the txn's ``__dv__`` dir and return (rel dir, per-file deleted
        row counts — bounded: one entry per touched file). The count
        read-back doubles as the audit (a torn DV can never publish)."""
        from pyspark.sql import functions as F

        self._mark_staged(txn)
        rel = os.path.join("_data", txn, "__dv__")
        target = os.path.join(self.path, rel)
        dv_df.select(
            F.col("path").cast("string"), F.col("pos").cast("bigint")
        ).write.mode("error").parquet(target)
        back = self.spark.read.parquet(target)
        per_file = {
            r["path"]: int(r["n"])
            for r in back.groupBy("path").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        return rel, per_file

    @classmethod
    def _file_level_dirs(cls, files: list[dict], extra: list[str] | None = None) -> list[str]:
        """Every dir a file-level entry must keep live for vacuum: the
        data roots of its files AND the roots of every referenced
        deletion vector (a DV in txn A masks rows of files in txn B —
        dropping A's dir reference would let vacuum corrupt B's reads)."""
        roots: list[str] = []
        for f in files:
            r = cls._txn_root(f["path"])
            if r not in roots:
                roots.append(r)
            for d in f.get("dv") or []:
                if d["dir"] not in roots:
                    roots.append(d["dir"])
        for e in extra or []:
            if e and e not in roots:
                roots.append(e)
        return roots

    def _unmark_staged(self, txn: str) -> None:
        try:
            os.unlink(os.path.join(self.path, "_data", txn, self.STAGED_MARKER))
        except FileNotFoundError:
            pass

    @staticmethod
    def _merge_schemas(name: str, prior: dict | None, delta: dict) -> dict:
        """Union of the prior entry schema and an append delta's schema,
        enforcing the evolution contract: additive columns fine, type
        changes rejected (``SchemaEvolutionError``) BEFORE any manifest
        is written."""
        if prior is None:
            return delta
        prior_types = {f["name"]: f["type"] for f in prior["fields"]}
        merged = [dict(f) for f in prior["fields"]]
        for f in delta["fields"]:
            t = prior_types.get(f["name"])
            if t is None:
                merged.append(dict(f))
            elif t != f["type"]:
                raise SchemaEvolutionError(
                    f"table {name!r}: column {f['name']!r} is {t} in the "
                    f"manifest but {f['type']} in the append — type changes "
                    "require a replace publish (compact/rewrite), not append"
                )
        return {**prior, "fields": merged}

    @staticmethod
    def _carried_contract(name: str, prior: dict | None, new_props: dict | None = None) -> dict:
        """The contract keys a new entry inherits from ``prior``: its
        ``properties``, merged with ``new_props``, and its declared
        ``constraints``. Properties are immutable once set: a new value
        for an existing key is rejected (``TablePropertiesError``); new
        keys are allowed."""
        prior = prior or {}
        props = prior.get("properties")
        for key, val in (new_props or {}).items():
            if props and key in props and props[key] != val:
                raise TablePropertiesError(
                    f"table {name!r}: property {key}={val!r} conflicts with "
                    f"recorded {key}={props[key]!r} — data written under "
                    "different parameters is not comparable"
                )
        if new_props:
            props = {**(props or {}), **new_props}
        out = {} if props is None else {"properties": props}
        if prior.get("constraints"):
            out["constraints"] = prior["constraints"]
        return out

    def _enforce_staged_constraints(
        self, cons_map: dict[str, dict], staged: dict[str, dict],
        current: dict, append_to_existing: bool,
    ) -> None:
        """PK/FK audits over the staged read-back, resolving FK targets
        against staged siblings first (a dims+facts batch validates
        facts against the dims in the SAME publish, like the reference's
        ordered warehouse load) and the ``current`` snapshot otherwise."""
        if not any(cons_map.values()):
            return
        live = self._live_resolver(current)

        def resolver(t):
            if t in staged:
                df = self._read_staged(staged[t])
                if append_to_existing and t in current:
                    # an appended sibling contributes its delta ON TOP of
                    # the prior rows (a replace-published sibling IS the
                    # full table already)
                    df = live(t).unionByName(df, allowMissingColumns=True)
                return df
            return live(t)

        for name, cons in cons_map.items():
            if not cons:
                continue
            existing_keys = None
            pk = cons.get("primary_key") or []
            if append_to_existing and pk and name in current:
                existing_keys = live(name).select(*pk)
            self._enforce_relational(
                name, self._read_staged(staged[name]), cons, resolver, existing_keys
            )

    def _stage_audited(
        self, tables: dict[str, DataFrame], txn: str, current: dict,
        expectations, append: bool,
    ) -> dict[str, dict]:
        """Stage ``tables`` and run every audit a publish owes them, all
        against the one manifest snapshot ``current``: the caller's
        expectations plus declared not_null/check in the single-pass
        staging audit, then PK/FK over the staged read-back, then — for
        a replace — the parent-side audit, so replacing a table that
        OTHER tables declare FKs against cannot orphan their rows
        (children staged in the same commit are validated forward by
        the staged resolver)."""
        cons_map = {n: self._constraints_of(current.get(n)) for n in tables}
        expect = {n: list(v) for n, v in (expectations or {}).items()}
        for n, cons in cons_map.items():
            expect[n] = expect.get(n, []) + self._constraint_row_exprs(cons)
        staged = self._stage_tables(tables, txn, partitioned=not append, expectations=expect)
        self._enforce_staged_constraints(cons_map, staged, current, append)
        if not append:
            for t in staged:
                if t in current:
                    self._audit_referencing_children(
                        t, lambda t=t: self._read_staged(staged[t]), current,
                        skip_children=set(staged),
                    )
        return staged

    def _transact(self, stage, update_tables, base_version: int, lock_timeout: float) -> int:
        """The one stage → audit → commit → unmark lifecycle of every
        write. ``stage(txn)`` writes and audits the txn's data (each
        writer drops the ``_STAGED`` marker first) and returns what
        ``update_tables(tables, staged)`` folds into the manifest under
        the CAS; a metadata-only write passes ``stage=None``. The marker
        goes however the attempt ends — committed, lost the CAS, or
        rejected by its own audit — so a rejected dir is a plain orphan
        for ``vacuum``."""
        txn = uuid.uuid4().hex[:12]
        try:
            staged = stage(txn) if stage is not None else None
            return self._commit(
                lambda tables: update_tables(tables, staged),
                base_version, txn, lock_timeout,
            )
        finally:
            self._unmark_staged(txn)

    def publish(
        self,
        gold: dict[str, DataFrame],
        base_version: int,
        lock_timeout: float = 30.0,
        properties: dict[str, dict] | None = None,
        entry_extra: dict[str, dict] | None = None,
        expectations: dict[str, list[str]] | None = None,
    ) -> int:
        """Stage ``gold``, audit it, and commit it as the next version iff
        the store is still at ``base_version``. Tables not named in
        ``gold`` carry forward from the base manifest (metadata-only).
        ``properties`` (per-table dicts) persist parameters that are part
        of the table's data contract — e.g. the MinHash ``k`` of a dedup
        index — and are verified immutable against any prior values.
        ``entry_extra`` merges additional per-table metadata into the new
        manifest entries (``compact`` records its replaced-dir lineage
        this way so ``changes_since`` can prove the rewrite was
        row-preserving). Returns the committed version."""
        current = self.current_manifest()["tables"]

        def replace_tables(tables: dict, staged: dict) -> None:
            for name, entry in staged.items():
                contract = self._carried_contract(
                    name, tables.get(name), (properties or {}).get(name)
                )
                tables[name] = {**entry, **(entry_extra or {}).get(name, {}), **contract}

        return self._transact(
            lambda txn: self._stage_audited(gold, txn, current, expectations, append=False),
            replace_tables, base_version, lock_timeout,
        )

    def publish_append(
        self,
        deltas: dict[str, DataFrame],
        base_version: int,
        lock_timeout: float = 30.0,
        properties: dict[str, dict] | None = None,
        expectations: dict[str, list[str]] | None = None,
    ) -> int:
        """Append-only publish: stage each delta and commit a manifest
        whose entries reference the prior data dirs PLUS the delta dir.

        This is the 100 TB ingest shape — a micro-batch appending to a
        petabyte table stages only its own rows; nothing existing is
        rewritten or even read. Same write-audit-CAS protocol as
        ``publish``; readers union the entry's dirs (snapshot-isolated,
        since every dir is immutable). Periodic ``compact`` folds the
        dir list back to one.

        Schema evolution: the delta may ADD columns (readers see NULL in
        pre-evolution dirs, via the manifest-recorded union schema); a
        type change of an existing column raises ``SchemaEvolutionError``
        at audit/commit time, leaving the store untouched.
        """
        current = self.current_manifest()["tables"]

        def append_tables(tables: dict, staged: dict) -> None:
            for name, delta in staged.items():
                prior = tables.get(name)
                contract = self._carried_contract(
                    name, prior, (properties or {}).get(name)
                )
                if prior is None:
                    entry = {
                        "dirs": [delta["dir"]],
                        "rows": delta["rows"],
                        "files": delta["files"],
                        "schema": delta["schema"],
                    }
                else:
                    entry = {
                        "dirs": self._dirs(prior) + [delta["dir"]],
                        "rows": int(prior.get("rows", 0)) + delta["rows"],
                        "files": (prior.get("files") or []) + delta["files"],
                        "schema": self._merge_schemas(
                            name, prior.get("schema"), delta["schema"]
                        ),
                    }
                    # appending to a merge-produced entry: the prior dirs
                    # are only partially referenced, so the new entry must
                    # stay file-level or reads would resurrect dead files
                    if prior.get("file_level"):
                        entry["file_level"] = True
                tables[name] = {**entry, **contract}

        return self._transact(
            lambda txn: self._stage_audited(deltas, txn, current, expectations, append=True),
            append_tables, base_version, lock_timeout,
        )

    def compact(self, name: str, lock_timeout: float = 30.0) -> int:
        """Rewrite a (possibly multi-dir) table into one fresh dir and
        publish the replacement — the maintenance pass that bounds an
        append-published table's dir/file count. Runs as an ordinary
        CAS publish, so it serializes against concurrent appenders and
        loses gracefully (retry later) instead of dropping their rows.
        The table's recorded properties carry through unchanged, and the
        new entry records ``compacted_from`` — the exact dir set it
        replaced — so ``changes_since`` can prove the rewrite preserved
        rows and keep serving dir-level CDC across the compaction (the
        CAS guarantees the replaced set is still current at commit)."""
        m = self.current_manifest()
        entry = m["tables"][name]
        return self.publish(
            {name: self._read_entry(entry)},
            int(m["version"]),
            lock_timeout,
            entry_extra={name: {"compacted_from": list(self._dirs(entry))}},
        )

    def merge(
        self,
        name: str,
        source: DataFrame,
        key_cols: list[str],
        mode: str = "upsert",
        lock_timeout: float = 30.0,
        strategy: str = "cow",
    ) -> int:
        """Row-level MERGE INTO — the Delta/Iceberg merge shape (public
        designs), built on the store's own manifest stats:

        - ``mode="upsert"``: target rows whose key appears in ``source``
          are REPLACED by the source row; source keys absent from the
          target are INSERTED. ``source`` must carry full rows (additive
          new columns evolve the schema) and unique keys.
        - ``mode="delete"``: target rows whose key appears in ``source``
          are removed; ``source`` only needs the key columns.

        Cost model (the 100 TB contract): only files that MIGHT contain a
        source key are ever opened. Candidates come from the manifest's
        per-file [min,max]/partition metadata intersected with the
        source's key bounds (one bounded agg job, metadata-only pruning);
        the exact touched set then comes from a row-identity semi-join
        over candidates only. Untouched files carry forward BY REFERENCE
        (``file_level`` entry).

        ``strategy`` picks what happens to the TOUCHED files:

        - ``"cow"`` (copy-on-write): touched files are rewritten in full
          minus the matched rows — read amplification zero, but a 1-row
          upsert rewrites every byte of every file containing that key.
        - ``"mor"`` (merge-on-read, the Delta/Iceberg deletion-vector
          design): touched files stay byte-identical on disk; the merge
          writes a small DELETION VECTOR (the (file, row-position) pairs
          of the matched rows) plus the inserted rows. Bytes written ∝
          ROWS touched, not files touched — the scale-safe shape for
          high-frequency trickle upserts (``MergeUpsertSink``). Readers
          mask DV'd positions with an anti-join; ``optimize`` folds DV
          debt back into clean files. The trade is the standard one:
          cheap writes, a small per-read join until compaction.

        - ``mode="insert_if_absent"``: source keys already present keep
          the TARGET row (``ON CONFLICT DO NOTHING`` — the reference's
          D11 semantics, LoadDimsOperator.py:25-28); only fresh keys
          land. No file is ever rewritten under either strategy.

        Same write-audit-CAS protocol as ``publish``; ``changes_since``
        across a merge raises (an update is not an append) unless the
        merge was insert-only, which diffs exactly at file level;
        ``changes_cdc`` serves exact row-level diffs across BOTH merge
        strategies."""
        from pyspark.sql import functions as F

        if mode not in ("upsert", "delete", "insert_if_absent"):
            raise ValueError(f"unknown merge mode {mode!r}")
        if strategy not in ("cow", "mor"):
            raise ValueError(f"unknown merge strategy {strategy!r}")
        base_version = self.current_version()
        current = self.current_manifest()["tables"]
        entry = current.get(name)
        if entry is None:
            raise KeyError(name)
        cons = self._constraints_of(entry)
        if mode == "delete":
            # parent-side audit (ADVICE r9): deleting rows from a table
            # other tables declare FKs against must not orphan them —
            # audit children against the post-delete parent key set
            self._audit_referencing_children(
                name,
                lambda: self._read_entry(entry).join(
                    source.select(*key_cols).dropDuplicates(key_cols),
                    key_cols, "left_anti",
                ),
                current,
            )
        if cons and mode in ("upsert", "insert_if_absent"):
            # declared constraints apply to the incoming rows (O(delta)):
            # not_null/check in one agg, FK orphans vs the live store;
            # PK uniqueness on key_cols rides the source-dup check below
            self._check_row_constraints(name, source, cons)
            self._enforce_relational(
                name, source, {k: v for k, v in cons.items()
                               if k == "foreign_keys"},
                self._live_resolver(current),
            )
            pk = list(cons.get("primary_key") or [])
            if pk and set(pk) != set(key_cols):
                # declared PK differs from the merge keys (ADVICE r9):
                # the source-dup check below only covers key_cols, so the
                # insert portion could land duplicate PKs unchecked.
                # (1) source-internal PK uniqueness; (2) source PKs must
                # not clash with target rows that SURVIVE the merge
                key = self._first_duplicate(source, pk)
                if key is not None:
                    raise ConstraintError(
                        f"table {name!r}: duplicate primary key {key} in "
                        "merge source — merge rejected, store untouched"
                    )
                live = self._read_entry(entry)
                proj = list(dict.fromkeys([*pk, *key_cols]))
                if mode == "upsert":
                    # rows whose merge key matches are replaced; only the
                    # survivors' PKs can clash with the source
                    landing, kept = source, live.select(*proj).join(
                        source.select(*key_cols).dropDuplicates(key_cols),
                        key_cols, "left_anti",
                    )
                else:  # insert_if_absent: target keeps every row; only
                    # fresh-keyed source rows land, check those vs ALL
                    landing, kept = source.select(*proj).join(
                        live.select(*key_cols).dropDuplicates(key_cols),
                        key_cols, "left_anti",
                    ), live
                key = self._first_shared_key(landing, kept, pk)
                if key is not None:
                    raise ConstraintError(
                        f"table {name!r}: merge would commit duplicate "
                        f"primary key {key} (declared PK {pk} differs "
                        f"from merge keys {key_cols}) — merge rejected, "
                        "store untouched"
                    )
        if mode in ("upsert", "insert_if_absent") and (
            self._first_duplicate(source, key_cols) is not None
        ):
            raise ValueError(
                f"merge source has duplicate keys on {key_cols} — "
                "latest-wins needs an explicit pre-aggregation"
            )
        files = self._complete_files(entry)
        if files is not None:
            # metadata-only candidate pruning: source key bounds vs the
            # per-file [min,max]/partition metadata, one bounded agg job;
            # an all-NULL key column has no bounds and prunes nothing
            lo_hi = source.agg(
                *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(key_cols)],
                *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(key_cols)],
            ).collect()[0]
            bounds = {
                c: (lo_hi[f"lo_{i}"], lo_hi[f"hi_{i}"])
                for i, c in enumerate(key_cols)
                if lo_hi[f"lo_{i}"] is not None and lo_hi[f"hi_{i}"] is not None
            }
            cand = [f for f in files if self._file_may_match(f, bounds)]
        if mode == "insert_if_absent":
            # a key present anywhere in the target MUST live in a
            # candidate file (pruning is conservative) — anywhere in the
            # table when the entry has no usable file stats — so the
            # anti-join against those rows alone decides freshness
            # (DV-aware read: a deleted key is absent, so re-insert)
            existing = (
                self._read_entry(entry) if files is None
                else self._read_files(cand) if cand else None
            )
            fresh = source if existing is None else source.join(
                existing.select(*key_cols).dropDuplicates(key_cols), key_cols, "left_anti"
            )
            fresh = fresh.cache()
            try:
                if fresh.count() == 0:
                    return base_version  # pure replay — no new version
                return self.publish_append({name: fresh}, base_version, lock_timeout)
            finally:
                fresh.unpersist(blocking=True)
        if files is None:
            # legacy or partially-covered entry without usable file
            # stats: no pruning possible — correct full copy-on-write
            # rewrite of the whole table
            untouched: list[dict] = []
            target = self._read_entry(entry)
        else:
            # exact touched set: which candidate files actually hold a
            # LIVE source-key row (bounded collect — file names, not
            # rows). The manifest-relative row identity from _metadata
            # replaces input_file_name(): immune to symlink/scheme path
            # spelling (ADVICE r8) and DV-aware (a file whose only match
            # is an already-deleted row is NOT touched).
            touched_rel = []
            if cand:
                keys = source.select(*key_cols).dropDuplicates(key_cols)
                hit = (
                    self._read_files(cand, row_identity=True)
                    .join(keys, key_cols, "left_semi")
                    .select(self.REL_COL)
                    .distinct()
                    .collect()
                )
                rel_hits = {r[self.REL_COL] for r in hit}
                touched_rel = [f["path"] for f in cand if f["path"] in rel_hits]
            if mode == "delete" and not touched_rel:
                return base_version  # nothing to delete — no-op, no new version
            untouched = [f for f in files if f["path"] not in set(touched_rel)]
            touched_recs = [f for f in files if f["path"] in set(touched_rel)]
            if strategy == "mor":
                return self._merge_mor(
                    name, source, key_cols, mode, base_version, lock_timeout,
                    files, touched_recs,
                )
            target = self._read_files(touched_recs) if touched_recs else None

        matched_keys = source.select(*key_cols).dropDuplicates(key_cols)
        if target is not None:
            kept = target.join(matched_keys, key_cols, "left_anti")
        else:
            kept = None
        if mode == "upsert":
            new_rows = source if kept is None else kept.unionByName(
                source, allowMissingColumns=True
            )
        else:
            if kept is None:
                raise AssertionError("delete mode reached stage with no target")
            new_rows = kept

        def merge_tables(tables: dict, staged: dict) -> None:
            prior = tables[name]
            delta = staged[name]
            if untouched and not all("rows" in f for f in untouched):
                carried = self._read_files(untouched).count()
            else:
                carried = sum(int(f["rows"]) for f in untouched) - sum(
                    int(d["rows"]) for f in untouched for d in f.get("dv") or []
                )
            new_files = untouched + delta["files"]
            tables[name] = {
                "file_level": True,
                "dirs": self._file_level_dirs(new_files, extra=[delta["dir"]]),
                "rows": carried + delta["rows"],
                "files": new_files,
                "schema": self._merge_schemas(name, prior.get("schema"), delta["schema"]),
                **self._carried_contract(name, prior),
            }

        return self._transact(
            lambda txn: self._stage_tables({name: new_rows}, txn, partitioned=False),
            merge_tables, base_version, lock_timeout,
        )

    def _merge_mor(
        self,
        name: str,
        source: DataFrame,
        key_cols: list[str],
        mode: str,
        base_version: int,
        lock_timeout: float,
        files: list[dict],
        touched_recs: list[dict],
    ) -> int:
        """Merge-on-read commit: a deletion vector for the matched rows
        of the touched files (tiny — one (path, pos) pair per row) plus,
        for upserts, the source rows as an ordinary staged append.
        Touched files stay byte-identical; bytes written ∝ rows touched."""
        from pyspark.sql import functions as F

        matched_keys = source.select(*key_cols).dropDuplicates(key_cols)

        def stage(txn: str):
            dv_rel, dv_per_file = (None, {})
            if touched_recs:
                dv_delta = (
                    self._read_files(touched_recs, row_identity=True)
                    .join(matched_keys, key_cols, "left_semi")
                    .select(
                        F.col(self.REL_COL).alias("path"),
                        F.col(self.POS_COL).alias("pos"),
                    )
                )
                dv_rel, dv_per_file = self._stage_dv(dv_delta, txn)
            delta = (
                self._stage_tables({name: source}, txn, partitioned=False)[name]
                if mode == "upsert" else None
            )
            return dv_rel, dv_per_file, delta

        def merge_tables(tables: dict, staged) -> None:
            dv_rel, dv_per_file, delta = staged
            prior = tables[name]
            new_files = []
            for f in files:
                n_dv = dv_per_file.get(f["path"], 0)
                if n_dv and dv_rel is not None:
                    f = {
                        **f,
                        "dv": (f.get("dv") or [])
                        + [{"dir": dv_rel, "rows": int(n_dv)}],
                    }
                new_files.append(f)
            if delta is not None:
                new_files = new_files + delta["files"]
            n_deleted = sum(dv_per_file.values())
            schema = (
                self._merge_schemas(name, prior.get("schema"), delta["schema"])
                if delta is not None
                else prior.get("schema")
            )
            tables[name] = {
                "file_level": True,
                "dirs": self._file_level_dirs(
                    new_files,
                    extra=[d for d in [dv_rel, delta and delta["dir"]] if d],
                ),
                "rows": int(prior.get("rows", 0))
                - int(n_deleted)
                + (delta["rows"] if delta is not None else 0),
                "files": new_files,
                "schema": schema,
                **self._carried_contract(name, prior),
            }

        return self._transact(stage, merge_tables, base_version, lock_timeout)

    def optimize(
        self,
        name: str,
        min_live_fraction: float = 0.5,
        lock_timeout: float = 30.0,
    ) -> int | None:
        """Reclaim merge debt: rewrite the dirs of a ``file_level``
        entry whose LIVE fraction (referenced files / files on disk)
        fell below ``min_live_fraction``, folding their live rows into
        one fresh dir. Healthy dirs and their files carry forward
        untouched — unlike ``compact`` this never rewrites the whole
        table, so the maintenance cost tracks the DEAD bytes, not the
        table size (the Delta OPTIMIZE shape). Dead files become
        unreferenced-dir garbage for ``vacuum`` once their dir drops
        out of the retained manifests. Returns the committed version,
        or None when there was nothing to do."""
        import glob as _glob

        m = self.current_manifest()
        base_version = int(m["version"])
        entry = m["tables"].get(name)
        if entry is None:
            raise KeyError(name)
        if not entry.get("file_level"):
            return None
        files = entry["files"]
        by_dir: dict[str, list[dict]] = {}
        for f in files:
            by_dir.setdefault(self._txn_root(f["path"]), []).append(f)
        victims = []
        for d, live in by_dir.items():
            on_disk = _glob.glob(
                os.path.join(self.path, d, "**", "*.parquet"), recursive=True
            )
            if not on_disk:
                continue
            file_frac = len(live) / len(on_disk)
            # merge-on-read debt: rows masked by deletion vectors are
            # dead bytes every read pays a join for — same reclamation
            # trigger as dead files
            total_rows = sum(int(f.get("rows", 0)) for f in live)
            dv_rows = sum(int(x["rows"]) for f in live for x in f.get("dv") or [])
            # a dir whose live records hold ZERO rows (fully-masked files,
            # or 0-row leftovers from an earlier fold) is pure debt —
            # unless it is the SOLE dir of a legitimately-empty table
            # with no dv debt, which must stay a stable no-op
            if total_rows:
                row_frac = 1.0 - dv_rows / total_rows
            else:
                row_frac = 0.0 if (dv_rows or len(by_dir) > 1) else 1.0
            if min(file_frac, row_frac) < min_live_fraction:
                victims.append(d)
        if not victims:
            return None
        vset = set(victims)
        rewritten = [f for f in files if self._txn_root(f["path"]) in vset]
        untouched = [f for f in files if self._txn_root(f["path"]) not in vset]
        # DV-aware: the rewrite folds deletion vectors — only LIVE rows
        # land in the fresh dir, and the new file records carry no dv
        live_rows = self._read_files(rewritten)

        def fold_tables(tables: dict, staged: dict) -> None:
            prior = tables[name]
            delta = staged[name]
            # folding a fully-dead dir stages ZERO live rows — keep the
            # empty parquet out of the manifest or every fold of pure
            # debt would grow the file list by one immortal 0-row record
            delta_files = [f for f in delta["files"] if int(f.get("rows", 0)) > 0]
            if not delta_files and not untouched:
                # every dir was dead: keep ONE 0-row record so the entry
                # stays readable (and, having no dv and no siblings, it
                # is not a victim on the next pass — the fold converges)
                delta_files = delta["files"][:1]
            new_files = untouched + delta_files
            tables[name] = {
                "file_level": True,
                "dirs": self._file_level_dirs(
                    new_files, extra=[delta["dir"]] if delta_files else None
                ),
                "rows": int(prior.get("rows", 0)),  # row-preserving rewrite
                "files": new_files,
                "schema": self._merge_schemas(name, prior.get("schema"), delta["schema"]),
                # changes_cdc skips this version: live rows unchanged
                "rewrite_kind": "row_preserving",
                **self._carried_contract(name, prior),
            }

        return self._transact(
            lambda txn: self._stage_tables({name: live_rows}, txn, partitioned=False),
            fold_tables, base_version, lock_timeout,
        )

    def restore(
        self, version: int, tables: list[str] | None = None, lock_timeout: float = 30.0
    ) -> int:
        """Roll back to a retained ``version`` as a NEW commit (the
        Delta RESTORE shape, public design): the target manifest's
        entries (all tables, or just ``tables``) are re-published under
        the ordinary CAS — history moves FORWARD, nothing is deleted,
        and the bad intermediate versions stay readable for forensics
        until vacuumed. Metadata-only: no data is read or rewritten
        (the restored dirs are still on disk exactly while the target
        manifest is retained; a vacuumed target raises via
        ``manifest_at``'s missing file before anything commits)."""
        target = self.manifest_at(version)
        base_version = self.current_version()
        names = list(target["tables"]) if tables is None else list(tables)
        missing = [n for n in names if n not in target["tables"]]
        if missing:
            raise KeyError(f"restore: {missing} not in v{version}")
        # fail fast if any restored dir is already vacuumed — a commit
        # pointing at deleted data must never land
        for n in names:
            entry = target["tables"][n]
            for d in self._dirs(entry):
                if not os.path.isdir(os.path.join(self.path, d)):
                    raise FileNotFoundError(
                        f"restore: v{version} table {n!r} references vacuumed "
                        f"dir {d} — that snapshot is no longer restorable"
                    )

        def roll_back(cur_tables: dict, _staged) -> None:
            for n in names:
                entry = dict(target["tables"][n])
                # a restore CHANGES live content (that's its point): any
                # row-preserving marker copied from the target version
                # would wrongly tell changes_cdc to skip this commit
                entry.pop("rewrite_kind", None)
                entry.pop("compacted_from", None)
                cur_tables[n] = entry

        return self._transact(None, roll_back, base_version, lock_timeout)

    def _commit(self, update_tables, base_version: int, txn: str, lock_timeout: float) -> int:
        lock = os.path.join(self.path, self.LOCK)
        deadline = time.monotonic() + lock_timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"gold manifest lock busy: {lock}")
                time.sleep(0.05)
        try:
            current = self.current_manifest()
            if int(current["version"]) != int(base_version):
                raise ConcurrentWriteError(
                    f"base version {base_version} is stale; "
                    f"store is at {current['version']}"
                )
            tables = dict(current["tables"])
            update_tables(tables)
            new = {"version": int(base_version) + 1, "tables": tables}
            tmp = self._manifest_file() + f".{txn}.tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(new, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self._manifest_file())
            # fsync the directory so the rename itself survives a crash
            dfd = os.open(self.path, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
            # retain a per-version manifest copy for snapshot reads
            # (read_at); valid until vacuum reclaims unreferenced dirs
            hist = os.path.join(self.path, "_manifests")
            os.makedirs(hist, exist_ok=True)
            # same tmp+atomic-replace protocol as the main manifest: a
            # crash mid-write must not leave truncated JSON that breaks
            # versions()/read_at afterward (fsync skipped — history is
            # best-effort, the main manifest is the durability anchor)
            hist_final = os.path.join(hist, f"v{new['version']}.json")
            hist_tmp = hist_final + f".{txn}.tmp"
            with open(hist_tmp, "w", encoding="utf-8") as f:
                json.dump(new, f)
            os.replace(hist_tmp, hist_final)
            return new["version"]
        finally:
            os.close(fd)
            os.unlink(lock)

    @classmethod
    def _txns(cls, manifest: dict) -> set[str]:
        """The txn ids whose ``_data/<txn>`` dirs ``manifest`` references."""
        return {
            d.split(os.sep)[1]
            for entry in manifest["tables"].values()
            for d in cls._dirs(entry)
        }

    def vacuum(
        self,
        min_age_seconds: float | None = None,
        keep_versions: int = 0,
    ) -> list[str]:
        """Delete ``_data/<txn>`` dirs that no retained manifest
        references — leftovers of rejected or superseded publishes.

        Three protections make this safe to run concurrently with
        writers and snapshot readers (the Delta/Iceberg retention
        model):

        - **staged-txn marker**: a dir whose ``_STAGED`` marker is live
          belongs to a publish between stage and commit — never
          reclaimed (markers are removed when the publish resolves; one
          older than ``STALE_STAGING_SECONDS`` is a crashed publish and
          becomes eligible again).
        - **retention age**: no dir younger than ``min_age_seconds``
          (default ``DEFAULT_VACUUM_AGE``) is reclaimed, covering
          publishers whose marker write itself hasn't landed and readers
          mid-scan of a just-superseded version.
        - **keep_versions**: every dir referenced by the newest N
          retained manifests (``_manifests/``) survives, so ``read_at``
          time travel keeps working across routine maintenance; history
          manifests older than the window are pruned so ``versions()``
          only advertises readable snapshots.
        """
        import shutil

        if min_age_seconds is None:
            min_age_seconds = self.DEFAULT_VACUUM_AGE
        live = self._txns(self.current_manifest())
        kept_versions = self.versions()[-keep_versions:] if keep_versions > 0 else []
        for v in kept_versions:
            live |= self._txns(self.manifest_at(v))
        now = time.time()
        data_root = os.path.join(self.path, "_data")
        removed = []
        for txn in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
            if txn in live:
                continue
            d = os.path.join(data_root, txn)
            try:
                marker_age = now - os.stat(os.path.join(d, self.STAGED_MARKER)).st_mtime
                if marker_age < self.STALE_STAGING_SECONDS:
                    continue  # in-flight publish — never touch
            except FileNotFoundError:
                pass
            try:
                if now - os.stat(d).st_mtime < min_age_seconds:
                    continue  # inside the retention window
            except FileNotFoundError:
                continue
            shutil.rmtree(d)
            removed.append(txn)
        # prune exactly the history manifests this pass made unreadable,
        # so versions() never advertises a snapshot read_at would fail on
        if removed:
            gone = set(removed)
            hist = os.path.join(self.path, "_manifests")
            for v in self.versions():
                if self._txns(self.manifest_at(v)) & gone:
                    try:
                        os.unlink(os.path.join(hist, f"v{v}.json"))
                    except FileNotFoundError:
                        pass
        return removed


def _retry_on_conflict(attempt, max_attempts: int) -> int:
    """Run ``attempt()`` until it commits, at most ``max_attempts``
    times; a lost CAS race (``ConcurrentWriteError``) retries, and the
    last one surfaces once the attempts run out."""
    last: ConcurrentWriteError | None = None
    for _ in range(max_attempts):
        try:
            return attempt()
        except ConcurrentWriteError as e:
            last = e
    raise last  # type: ignore[misc]


def publish_with_retry(store: GoldStore, build_fn, max_attempts: int = 5) -> int:
    """Serialized read-modify-write: ``build_fn(current_tables)`` returns
    the tables to publish; on a lost race the batch is REBUILT on the
    winner's state and retried — the distributed equivalent of the
    reference's ``ON CONFLICT DO UPDATE`` retry-on-lock semantics. The
    upsert builders (insert_if_absent / upsert_latest_wins) are
    idempotent and commutative on keys, so any interleaving converges to
    the same final table."""

    def attempt() -> int:
        base = store.current_version()
        return store.publish(build_fn(store.read_all()), base)

    return _retry_on_conflict(attempt, max_attempts)


def merge_with_retry(
    store: GoldStore,
    name: str,
    source: DataFrame,
    key_cols: list[str],
    mode: str = "upsert",
    max_attempts: int = 5,
    strategy: str = "cow",
) -> int:
    """``store.merge`` with rebuild-on-lost-race: merge re-reads the
    manifest at every attempt (candidate pruning, touched-file probe and
    commit all key off the fresh base), and merge semantics are
    idempotent per source batch — replaying upsert/delete/insert over
    the winner's state converges — so retrying the WHOLE merge is safe.
    The ingestion-loop counterpart of ``publish_with_retry``."""
    return _retry_on_conflict(
        lambda: store.merge(name, source, key_cols, mode=mode, strategy=strategy),
        max_attempts,
    )
