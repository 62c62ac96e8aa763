"""Parquet-backed ``files`` table with PK upsert/delete (reference
S5-S10).

The reference gets upserts from DuckDB's ``INSERT .. ON CONFLICT``
(file_indexer_go/db/database.go:98-113) and transactional
executemany batches (file_indexer/indexer.py:411-448). On a data lake
the equivalent is Delta/Iceberg ``MERGE INTO``; this container has
plain Parquet, so MERGE is emulated the same way those formats do it
physically: write IMMUTABLE data directories, then commit by
atomically replacing ONE manifest file that names the live set — a
single-file transaction log.

Commit protocol (the Delta/Iceberg shape, minimally):
  * every write lands in a fresh uniquely-named ``data-<uuid>`` dir —
    nothing live is ever modified or moved;
  * the manifest (JSON) maps each bucket (or ``all``) to its current
    data dir; readers resolve the manifest first, then read exactly
    the named dirs;
  * commit = atomic PUT-IF-ABSENT of the new generation's entry in
    ``_manifest_log/`` (a fully-written temp hard-linked to
    ``<gen>.json`` — create-with-content, atomic on POSIX; Delta's
    versioned-log-file commit). A crash at ANY point pre-link leaves
    the old generation intact; orphaned staging dirs are reclaimed by
    :meth:`vacuum`.
  * ``_MANIFEST`` is a reader CACHE refreshed after each commit
    (Delta's ``_last_checkpoint``): resolution takes the highest log
    generation when it beats the cached one, so a writer crashing
    between link and refresh self-heals on the next read.

Concurrency contract: resolution is always consistent (atomic log
entries + immutable dirs) — a reader sees one whole generation, never
a torn mix. A DataFrame is bound to the dirs it resolved, though, and
a no-history table deletes the dirs a commit replaces inline: a
DataFrame resolved before a later commit raises ``FILE_NOT_EXIST``
when it runs instead of returning partial rows. Re-resolve after a
commit, or keep history (replaced dirs then live until
:meth:`vacuum`). Writers are CONFLICT-DETECTED (w9, the
Delta/Iceberg optimistic-concurrency shape): every mutating operation
snapshots the manifest generation before it reads, the commit refuses
with :class:`ConcurrentWriteError` if the generation advanced since,
and the put-if-absent arbiter closes the remaining check-then-act
window — two racers that both read generation G cannot both own G+1;
the loser's staged dirs are rolled back, the winning commit is
untouched, and the caller retries on a fresh snapshot (the reference
reaches the same one-writer-at-a-time outcome via its DuckDB file
lock). ``vacuum()`` must only run while no writer is staging.

Scale: an UNPARTITIONED emulated MERGE rewrites the whole table —
a non-starter at 100 TB. Pass ``buckets=N`` to hash-partition the
table by ``xxhash64(path) % N``: upsert/delete then (a) compute the
buckets its keys touch, (b) read ONLY those buckets' dirs (manifest
pruning), and (c) commit new dirs for only those buckets — I/O
proportional to the touched slice, not the table. Bucketing on
``path`` alone keeps directory-level deletes prunable too. upsert,
delete and delete_paths are one MERGE (:meth:`_merge`) that differs
only in its anti-join keys and whether rows are added; it and
overwrite stage and commit through one path (:meth:`_commit_rows`). The
public API (upsert / delete / overwrite) is storage-agnostic so a
Delta backend can slot in unchanged.

A location that holds anything but this layout (``data-*`` dirs,
``_MANIFEST*`` and ``_manifest_log``) and has no manifest is not a
FilesTable: opening it raises ``ValueError``.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import re
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("filename", T.StringType(), False),
        T.StructField("checksum", T.StringType(), True),
        T.StructField("modification_datetime", T.TimestampType(), False),
        T.StructField("file_size", T.LongType(), False),
        T.StructField("indexed_at", T.TimestampType(), True),
    ]
)

PK = ["path", "filename"]
BUCKET_COL = "pk_bucket"


def one_split(df: DataFrame) -> DataFrame:
    """``df`` coalesced to one partition when its optimized plan's bytes
    fit ``spark.sql.files.maxPartitionBytes`` (128 MB by default), else
    ``df`` unchanged.

    A parquet scan reports an unknown partitioning even when it reads
    one split, so every aggregate, distinct and join over it plans an
    exchange, and adaptive execution runs each exchange as a job of its
    own. ``CoalesceExec(1)`` reports ``SinglePartition``, which
    satisfies every distribution, so over a frame that fits one split
    those exchanges disappear; a join drops them when both sides are one
    partition and both size estimates fit
    ``spark.sql.maxSinglePartitionBytes``. A frame without file
    statistics reports Long.MaxValue bytes and keeps its partitions."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    split = df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return df.coalesce(1) if size <= split else df


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's read snapshot and
    its commit attempt (w9). The table holds the OTHER writer's commit,
    whole and untorn; retry the operation on a fresh snapshot."""


class FilesTable:
    def __init__(
        self,
        spark: SparkSession,
        location: str,
        buckets: int | None = None,
        keep_history: bool = False,
    ):
        """``keep_history=True`` switches on TIME TRAVEL: every commit
        also appends its manifest to ``_manifest_log/<generation>.json``
        and replaced data dirs are NOT garbage-collected inline —
        :meth:`read_at` reads any retained generation, and
        :meth:`vacuum` (with ``retain_generations``) is the only thing
        that reclaims space. Off by default: the non-history write path
        is byte-identical to the plain manifest protocol."""
        self.spark = spark
        self.location = os.path.abspath(location)
        self.buckets = buckets
        self.keep_history = keep_history
        self._validate_layout()

    _MANIFEST = "_MANIFEST"
    _MANIFEST_LOG = "_manifest_log"
    # only <generation>.json counts as a log entry — stray files
    # (editor temps, partial writes) must not break table maintenance
    _LOG_NAME = re.compile(r"^(\d+)\.json$")

    def _log_generations(self) -> list[tuple[int, str]]:
        """(generation, filename) pairs actually present in the log,
        ignoring anything that isn't a ``<digits>.json`` entry."""
        log_dir = os.path.join(self.location, self._MANIFEST_LOG)
        if not os.path.isdir(log_dir):
            return []
        out = []
        for name in os.listdir(log_dir):
            m = self._LOG_NAME.match(name)
            if m:
                out.append((int(m.group(1)), name))
        return sorted(out)

    # -- manifest -----------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.location, self._MANIFEST)

    def _read_manifest_cache(self) -> dict | None:
        """The ``_MANIFEST`` file verbatim (a fast-path CACHE — see
        :meth:`_load_manifest` for the resolved truth)."""
        try:
            with open(self._manifest_path()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def _load_manifest(self) -> dict | None:
        """Current manifest, or None for a table never committed.

        The manifest-log entry is the COMMIT (atomically created via
        put-if-absent, :meth:`_commit_manifest`); ``_MANIFEST`` is a
        reader cache refreshed after each commit — the Delta
        log-vs-``_last_checkpoint`` relationship. A writer that crashed
        between the two leaves a log entry newer than the cache, so
        resolution takes the HIGHEST log generation when it beats the
        cached one; the next commit refreshes the cache (self-healing,
        no wedged table).

        Listing the log and opening the chosen entry is two steps, so a
        concurrent commit's no-history prune (or a vacuum) can delete
        the listed entry in between. A missing entry always means a
        NEWER generation committed (entries are only removed once the
        cache covers them), so the consistent-reader contract is kept
        by re-resolving from the refreshed cache rather than failing —
        each retry observes a strictly higher generation, so the loop
        terminates once resolution wins the race."""
        while True:
            doc = self._read_manifest_cache()
            cached_gen = doc.get("generation", 0) if doc else 0
            newer = [(g, n) for g, n in self._log_generations() if g > cached_gen]
            if not newer:
                return doc
            gen, name = max(newer)
            try:
                with open(os.path.join(self.location, self._MANIFEST_LOG, name)) as fh:
                    return json.load(fh)
            except FileNotFoundError:
                continue  # pruned mid-read => a newer generation exists

    @staticmethod
    def _generation(manifest: dict | None) -> int:
        return manifest.get("generation", 0) if manifest else 0

    def _current_generation(self) -> int:
        return self._generation(self._load_manifest())

    @contextmanager
    def _operation(self, name: str):
        """Label the commits a public mutation makes (DESCRIBE HISTORY
        parity). Outermost label wins: a public operation that runs
        inside another one's label is recorded as the outer one — what
        the user asked for, not the physical step chosen."""
        prev = getattr(self, "_pending_op", None)
        self._pending_op = prev or name
        try:
            yield
        finally:
            self._pending_op = prev

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY: one row per retained generation with the
        labeled operation, entry count and commit wall-clock (driver-
        side metadata read over the O(generations) log — never touches
        data). Generations committed before operation labeling carry
        nulls."""
        rows = []
        for gen, name in self._log_generations():
            with open(os.path.join(self.location, self._MANIFEST_LOG, name)) as fh:
                doc = json.load(fh)
            rows.append(
                (
                    gen,
                    doc.get("operation"),
                    len(doc.get("entries", {})),
                    doc.get("committed_at"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "generation int, operation string, n_entries int, committed_at double",
        ).orderBy("generation")

    def restore(self, generation: int) -> None:
        """w16: Delta RESTORE — re-publish an older retained snapshot
        as a NEW generation. History is preserved (this is a forward
        commit whose content equals the old snapshot, not a rollback of
        the log), so the restore itself is auditable and reversible.

        METADATA-ONLY: data dirs are immutable, so the restore commits
        the old generation's entry map (and schema) verbatim — zero
        data movement however big the table, exactly Delta's shape.
        The re-referenced dirs stay vacuum-safe for as long as the
        restored generation is retained (vacuum's live set spans every
        retained generation's entries)."""
        doc = self._logged_manifest(generation)
        for rel in doc["entries"].values():
            if not os.path.isdir(os.path.join(self.location, rel)):
                raise ValueError(
                    f"generation {generation}'s data was vacuumed from "
                    f"{self.location}; restore unavailable"
                )
        with self._operation("RESTORE"):
            self._commit_manifest(
                dict(doc["entries"]),
                self._current_generation(),
                schema=self._schema_of(doc),
            )

    # -- schema (w11) -------------------------------------------------
    # The column set is a PER-GENERATION manifest property (Delta's
    # schema-in-the-log): ``add_column`` commits a metadata-only new
    # generation; old immutable data dirs are read through the evolved
    # schema (absent parquet columns null-fill), and read_at() replays
    # any retained generation under ITS OWN schema. Manifests written
    # before this existed carry no schema entry and resolve to the
    # fixed FILES_SCHEMA — full back-compat.
    @staticmethod
    def _schema_of(manifest: dict | None) -> T.StructType:
        if manifest and manifest.get("schema"):
            return T.StructType.fromJson(manifest["schema"])
        return FILES_SCHEMA

    def schema(self) -> T.StructType:
        """The live generation's column contract."""
        return self._schema_of(self._load_manifest())

    def _cols(self) -> list[str]:
        return [f.name for f in self.schema().fields]

    def _conform(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Project ``df`` onto ``schema`` (the writer's snapshot): present
        columns pass through untouched, absent NULLABLE columns
        null-fill (so pre-evolution writers keep working after an
        add_column), absent non-nullable columns are an error."""
        cols = []
        for f in schema.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name))
            elif f.nullable:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                raise ValueError(
                    f"input is missing non-nullable column {f.name!r} "
                    f"required by the table schema at {self.location}"
                )
        return df.select(*cols)

    def add_column(self, name: str, dtype: str) -> None:
        """ADD COLUMN (w11): evolve the table schema with a new
        NULLABLE column — a METADATA-ONLY commit (Delta/Iceberg
        semantics): no data dir is touched; existing rows read the new
        column as NULL because the parquet reader null-fills columns
        absent from a file. The commit goes through the same
        put-if-absent arbiter as any write, so it is conflict-detected
        (w9) and, with history on, time-travel reads of PRE-evolution
        generations still present their original column set."""
        snapshot_doc = self._load_manifest()
        snapshot = self._generation(snapshot_doc)
        schema = self._schema_of(snapshot_doc)
        if name in {f.name for f in schema.fields}:
            raise ValueError(f"column {name!r} already exists at {self.location}")
        evolved = T.StructType(
            list(schema.fields) + [T.StructField(name, T.DataType.fromDDL(dtype), True)]
        )
        entries = dict(snapshot_doc["entries"]) if snapshot_doc else {}
        with self._operation("ADD_COLUMN"):
            self._commit_manifest(entries, snapshot, schema=evolved)

    def _commit_manifest(
        self,
        entries: dict[str, str],
        expected_generation: int | None = None,
        schema: T.StructType | None = None,
    ) -> None:
        """THE commit point: one atomic rename publishes the new
        generation. Everything before this is invisible to readers;
        a crash before it leaves the previous generation live. With
        history on, the manifest is first logged under its generation
        number — a crash between log and publish leaves a log entry the
        next commit overwrites (the log is advisory; ``_MANIFEST`` is
        the single source of liveness).

        ``expected_generation`` is the writer's read-snapshot
        generation (w9): if another writer advanced the manifest since,
        this commit would silently drop that writer's rows — refuse
        with :class:`ConcurrentWriteError` instead (the caller's staged
        dirs are left for vacuum(); the winning commit is untouched).

        The snapshot check alone is check-then-act — two writers that
        both read generation G would both pass it. The ARBITER that
        closes that race is the log-entry creation: the new
        generation's ``_manifest_log/<gen>.json`` is published with an
        atomic put-if-absent (``os.link`` of a fully-written temp —
        create-with-content, atomic on POSIX, like Delta's
        put-if-absent of the versioned log file), so exactly ONE of
        the racers owns generation ``gen``; the loser maps
        ``FileExistsError`` to :class:`ConcurrentWriteError`. The
        ``_MANIFEST`` cache refresh after it is not a commit point —
        see :meth:`_load_manifest`."""
        os.makedirs(self.location, exist_ok=True)
        prev = self._load_manifest()
        cur = self._generation(prev)
        if expected_generation is not None and cur != expected_generation:
            raise ConcurrentWriteError(
                f"table at {self.location} advanced to generation {cur} "
                f"since this writer's snapshot at generation "
                f"{expected_generation}; retry on a fresh snapshot"
            )
        gen = cur + 1
        doc = {
            "buckets": self.buckets,
            "entries": entries,
            "generation": gen,
            # schema rides in every manifest: a data commit carries the
            # live schema forward, add_column passes the evolved one
            "schema": json.loads((schema or self._schema_of(prev)).json()),
            # DESCRIBE HISTORY metadata (additive — older entries
            # simply lack the keys): the outermost public operation's
            # label and the commit wall-clock
            "operation": getattr(self, "_pending_op", None) or "WRITE",
            "committed_at": time.time(),
        }
        log_dir = os.path.join(self.location, self._MANIFEST_LOG)
        os.makedirs(log_dir, exist_ok=True)
        marker = os.path.join(log_dir, f"{gen}.json")
        tmp = f"{marker}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, marker)  # THE commit: atomic put-if-absent
        except FileExistsError:
            raise ConcurrentWriteError(
                f"another writer committed generation {gen} at "
                f"{self.location} concurrently; retry on a fresh snapshot"
            ) from None
        finally:
            os.remove(tmp)
        # Point of no return: the commit is durable. Everything below
        # is cache maintenance — a failure here must NOT propagate (the
        # caller would misread a COMMITTED write as failed and roll
        # back live data); the stale cache self-heals via
        # :meth:`_load_manifest` and the next commit's refresh.
        try:
            tmp = os.path.join(
                self.location, f"{self._MANIFEST}.tmp-{uuid.uuid4().hex[:8]}"
            )
            with open(tmp, "w") as fh:
                json.dump(doc, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, self._manifest_path())
            if not self.keep_history:
                # no-history tables keep only the committed arbiter
                # entry — older ones are redundant once the cache is at
                # >= their generation (readers only consult entries
                # NEWER than the cache), so pruning never races
                # resolution.
                for g, name in self._log_generations():
                    if g < gen:
                        os.remove(os.path.join(log_dir, name))
        except Exception:  # noqa: BLE001 — best-effort cache refresh
            pass

    def _staging_dir(self) -> str:
        os.makedirs(self.location, exist_ok=True)
        return os.path.join(self.location, f"data-{uuid.uuid4().hex[:8]}")

    def _entries_from_staging(self, staging: str) -> dict[str, str]:
        """Map buckets present in a freshly-written staging dir to
        their (relative) data paths."""
        rel = os.path.basename(staging)
        if not self.buckets:
            return {"all": rel}
        out = {}
        for name in os.listdir(staging):
            if name.startswith(f"{BUCKET_COL}="):
                out[name.split("=", 1)[1]] = f"{rel}/{name}"
        return out

    def _gc(self, dead_paths: list[str]) -> None:
        """Remove data paths no longer referenced by the committed
        manifest, then any data dir left empty. Only paths THIS commit
        replaced — unknown dirs may be another writer's staging; see
        vacuum() for orphan reclamation. With history on, replaced dirs
        stay readable via read_at() until vacuum() reclaims them."""
        if self.keep_history:
            return
        for rel in dead_paths:
            shutil.rmtree(os.path.join(self.location, rel), ignore_errors=True)
        for name in os.listdir(self.location):
            full = os.path.join(self.location, name)
            if name.startswith("data-") and os.path.isdir(full) and not os.listdir(full):
                os.rmdir(full)

    def vacuum(self, retain_generations: int = 1) -> list[str]:
        """Reclaim data dirs not referenced by the last
        ``retain_generations`` generations (current included; 1 = only
        the live generation survives, i.e. the no-history behavior),
        plus crashed writers' staging dirs. Safe ONLY while no writer
        is staging — the single-writer contract's maintenance window.
        Returns the removed (relative) dirs. Manifest-log entries whose
        generation was vacuumed are dropped too, so read_at() fails
        loudly instead of reading a half-deleted snapshot."""
        m = self._load_manifest()
        if m is None:
            return []
        keep = max(int(retain_generations), 1)
        current_gen = m.get("generation", 1)
        cutoff = current_gen - keep + 1
        log_dir = os.path.join(self.location, self._MANIFEST_LOG)
        # live set at FULL relative-path granularity: bucketed partial
        # commits reference data-x/pk_bucket=N subdirs inside roots that
        # other (still-live) buckets share — root-level tracking alone
        # would leak every replaced bucket subdir until its whole root
        # rotated out.
        live_rels = set(m["entries"].values())
        for gen, name in self._log_generations():
            if gen >= cutoff:
                with open(os.path.join(log_dir, name)) as fh:
                    doc = json.load(fh)
                live_rels |= set(doc["entries"].values())
            else:
                os.remove(os.path.join(log_dir, name))
        live_roots = {rel.split("/", 1)[0] for rel in live_rels}
        removed = []
        for name in os.listdir(self.location):
            if name.startswith("data-") and name not in live_roots:
                shutil.rmtree(os.path.join(self.location, name), ignore_errors=True)
                removed.append(name)
        # dead bucket subdirs inside RETAINED roots (skip roots that are
        # referenced whole — unbucketed "all" entries)
        for root in sorted(live_roots - live_rels):
            full_root = os.path.join(self.location, root)
            if not os.path.isdir(full_root):
                continue
            for sub in os.listdir(full_root):
                rel = f"{root}/{sub}"
                if sub.startswith(f"{BUCKET_COL}=") and rel not in live_rels:
                    shutil.rmtree(os.path.join(full_root, sub), ignore_errors=True)
                    removed.append(rel)
        return removed

    def generations(self) -> list[int]:
        """Generation numbers readable via read_at() (history tables)."""
        return [gen for gen, _ in self._log_generations()]

    def read_at(self, generation: int) -> DataFrame:
        """TIME TRAVEL: the table exactly as of ``generation`` — reads
        the logged manifest's immutable dirs (Delta/Iceberg snapshot
        semantics). Raises if the generation was never logged (history
        off, or commit predates keep_history) or was vacuumed away."""
        doc = self._logged_manifest(generation)
        for rel in doc["entries"].values():
            if not os.path.isdir(os.path.join(self.location, rel.split("/", 1)[0])):
                raise ValueError(
                    f"generation {generation}'s data was vacuumed from {self.location}"
                )
        return self._read_dirs(sorted(doc["entries"].values()), self._schema_of(doc))

    def _logged_manifest(self, generation: int) -> dict:
        log_path = os.path.join(
            self.location, self._MANIFEST_LOG, f"{generation}.json"
        )
        try:
            with open(log_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise ValueError(
                f"generation {generation} is not retained at {self.location} "
                f"(retained: {self.generations()})"
            ) from None

    def changes(self, g_from: int, g_to: int) -> DataFrame:
        """CHANGE DATA FEED (w14): the row-level delta between two
        retained generations — Delta Lake's ``table_changes`` shape, so
        downstream incremental consumers (the dd12/sim12/x3 index
        appends) get their batch WITHOUT rescanning the table.

        Emits one row per insert/delete and a pre+post image pair per
        value change, each carrying ``change_type`` plus the g_to
        schema's columns (rows from pre-evolution generations null-fill
        added columns, w11). Unchanged rows — including upserts that
        rewrote a PK with identical values — emit nothing.

        Scale shape: data dirs are immutable, so only buckets whose
        manifest entry DIFFERS between the two generations can contain
        changes — the diff reads exactly those dirs from each side and
        full-outer-joins them on the PK. A point upsert on a 4096-bucket
        table diffs ONE bucket, not the fact table. (A compaction
        rewrites dirs without changing rows; its buckets are read and
        correctly emit nothing.) The join shuffles only the changed
        slice, and at 100 TB that slice is the write batch, not the
        corpus.
        """
        if g_from >= g_to:
            raise ValueError(f"need g_from < g_to, got {g_from} >= {g_to}")
        doc_a, doc_b = self._logged_manifest(g_from), self._logged_manifest(g_to)
        schema = self._schema_of(doc_b)
        cols = [f.name for f in schema.fields]
        ea, eb = doc_a["entries"], doc_b["entries"]
        changed = {k for k in set(ea) | set(eb) if ea.get(k) != eb.get(k)}
        for doc, side in ((doc_a, changed & set(ea)), (doc_b, changed & set(eb))):
            for k in side:
                # full relative path, not just the data-root: vacuum
                # reclaims dead BUCKET SUBDIRS inside retained roots too
                rel = doc["entries"][k]
                if not os.path.isdir(os.path.join(self.location, rel)):
                    raise ValueError(
                        f"a generation in ({g_from}, {g_to}] was vacuumed "
                        f"from {self.location}; change feed unavailable"
                    )

        o = self._read_dirs(sorted(ea[k] for k in changed & set(ea)), schema).alias("o")
        n = self._read_dirs(sorted(eb[k] for k in changed & set(eb)), schema).alias("n")
        cond = functools.reduce(
            operator.and_, [F.col(f"o.{k}") == F.col(f"n.{k}") for k in PK]
        )
        joined = o.join(n, cond, "full_outer")
        non_key = [c for c in cols if c not in PK]
        differs = (
            functools.reduce(
                operator.or_,
                [~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")) for c in non_key],
            )
            if non_key
            else F.lit(False)
        )

        def image(change_type: str, side: str) -> F.Column:
            return F.struct(
                F.lit(change_type).alias("change_type"),
                *[F.col(f"{side}.{c}").alias(c) for c in cols],
            )

        events = (
            F.when(F.col(f"o.{PK[0]}").isNull(), F.array(image("insert", "n")))
            .when(F.col(f"n.{PK[0]}").isNull(), F.array(image("delete", "o")))
            .when(
                differs,
                F.array(
                    image("update_preimage", "o"), image("update_postimage", "n")
                ),
            )
            # unchanged PK: null array — explode emits nothing
        )
        return (
            joined.select(F.explode(events).alias("ev"))
            .select("ev.*")
            .orderBy(*PK, "change_type")
        )

    def clone_to(
        self, dest_location: str, keep_history: bool | None = None
    ) -> "FilesTable":
        """w13: ZERO-COPY snapshot clone (Delta SHALLOW CLONE shape,
        made vacuum-safe by POSIX hardlinks): the clone gets its own
        manifest/log and its own directory tree, but every parquet file
        is a hardlink to the source's — O(files) metadata operations,
        no data movement, however big the table.

        Divergence is total from the first commit: data dirs are
        immutable on both sides (writers always create NEW dirs), so a
        mutation on either table never rewrites a shared file, and a
        source ``vacuum()`` merely unlinks the source's names — the
        clone's links keep the inodes alive (this is the one semantic
        UPGRADE over Delta's shallow clone, which breaks on source
        vacuum). On object storage the same protocol degrades to a
        manifest-level shallow clone with Delta's caveat; the fallback
        copy (cross-device links) trades the metadata-only cost for
        correctness.

        The clone starts at generation 1 regardless of source history
        (a snapshot, not a fork of the log) and carries the source's
        current schema and bucket layout. Like ``vacuum``, run it in
        the single-writer maintenance window: a concurrent no-history
        commit's inline GC could unlink dirs mid-copy (the copy would
        fail loudly, never produce a torn clone — the clone's manifest
        commits only after every link lands).
        """
        m = self._load_manifest()
        if m is None:
            raise ValueError(
                f"clone requires a manifest table, none at {self.location}"
            )
        dest = os.path.abspath(dest_location)
        if os.path.isdir(dest) and os.listdir(dest):
            raise ValueError(f"clone destination {dest} is not empty")
        os.makedirs(dest, exist_ok=True)
        # open the handle while dest is still empty (a fresh table
        # accepts any bucket config); the dest is invisible to readers
        # until clone_to returns, so the copy-then-commit order inside
        # it needs no further protocol
        hist = self.keep_history if keep_history is None else keep_history
        out = FilesTable(self.spark, dest, buckets=self.buckets, keep_history=hist)

        def _link_or_copy(src: str, dst: str) -> None:
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)  # cross-device fallback

        for rel in sorted(set(m["entries"].values())):
            shutil.copytree(
                os.path.join(self.location, rel),
                os.path.join(dest, rel),
                copy_function=_link_or_copy,
                dirs_exist_ok=True,
            )
        with out._operation("CLONE"):
            out._commit_manifest(
                dict(m["entries"]), expected_generation=0, schema=self._schema_of(m)
            )
        return out

    def _validate_layout(self) -> None:
        """The bucket count is part of the on-disk layout: the manifest
        records it, and reopening with a different value is rejected — a
        mismatched modulus would prune the wrong partitions and silently
        duplicate or miss keys. A location without a manifest is a
        fresh table (any configuration is fine) only if it holds nothing
        but crashed writers' staging dirs and manifest files; anything
        else (say, a plain Parquet directory) would read as an empty
        table, so it is rejected."""
        m = self._load_manifest()
        if m is None:
            names = os.listdir(self.location) if os.path.isdir(self.location) else []
            foreign = sorted(
                n for n in names
                if not n.startswith(("data-", self._MANIFEST)) and n != self._MANIFEST_LOG
            )
            if foreign:
                raise ValueError(
                    f"{self.location} is not a FilesTable: it has no {self._MANIFEST} "
                    f"but holds {foreign[:5]}"
                )
            return
        disk = m["buckets"]
        if disk != self.buckets:
            raise ValueError(
                f"table at {self.location} was written with buckets={disk}; "
                f"reopening with buckets={self.buckets} would corrupt it"
            )

    def _bucket_expr(self) -> F.Column:
        return F.pmod(F.xxhash64(F.col("path")), F.lit(self.buckets)).cast("int")

    # -- read ---------------------------------------------------------
    def exists(self) -> bool:
        m = self._load_manifest()
        return bool(m and m["entries"])

    def _read_dirs(self, rels: list[str], schema: T.StructType) -> DataFrame:
        """The rows of the given data dirs under ``schema``: absent
        columns (dirs written pre-evolution) null-fill. Sized by
        :func:`one_split`: dirs that fit one split read as one
        partition, so the reports and merges over them plan no
        exchange."""
        if not rels:
            # limit 0 folds to an empty local relation: known empty, so a
            # merge against it plans no join
            return self.spark.createDataFrame([], schema).limit(0)
        paths = [os.path.join(self.location, r) for r in rels]
        return one_split(
            self.spark.read.schema(schema).parquet(*paths).select(*[f.name for f in schema.fields])
        )

    def _read_slice(self, touched: list[int]) -> DataFrame:
        """ONLY the touched buckets' dirs — manifest pruning; untouched
        buckets are never opened."""
        m = self._load_manifest()
        entries = m["entries"] if m else {}
        rels = [entries[str(b)] for b in touched if str(b) in entries]
        return self._read_dirs(sorted(rels), self._schema_of(m))

    def read(self) -> DataFrame:
        m = self._load_manifest()
        return self._read_dirs(sorted(m["entries"].values()) if m else [], self._schema_of(m))

    def read_for_keys(self, keys: DataFrame) -> DataFrame:
        """w12: manifest-PRUNED key probe — the Spark answer to the
        reference's embedded point query (P5/P6,
        file_indexer_api/database.py get_file / files-batch). The probe
        keys hash to their PK buckets driver-side (probe sets are
        small by contract — P6's batch shape), ONLY those buckets'
        data dirs are opened, and the probe broadcast-semi-joins the
        slice. On a 100 TB / 4096-bucket table a point lookup opens
        one dir (~1/4096 of the data) instead of scanning the fact
        table — the same manifest pruning the write path uses, exposed
        to reads. Falls back to a full-scan semi-join on unbucketed
        tables.

        ``keys`` needs ``path`` (+ ``filename`` for full-PK probes;
        path-only probes match every file in the directory, the D4
        shape)."""
        probe_cols = [c for c in PK if c in keys.columns]
        probe = keys.select(*probe_cols).distinct()
        if not self.buckets:
            return self.read().join(F.broadcast(probe), probe_cols, "left_semi")
        touched = sorted(self._touched_buckets(probe))
        return self._read_slice(touched).join(F.broadcast(probe), probe_cols, "left_semi")

    def point_lookup(self, path: str, filename: str) -> DataFrame:
        """Single-PK pruned read: opens exactly one bucket dir on a
        bucketed table (pinned by inputFiles() in pytest), with the PK
        as LITERAL filters so parquet min/max pushdown prunes row
        groups inside the dir too. One tiny job computes the key's
        bucket (xxhash64 is JVM-side), one reads the dir — no probe
        frame, no semi-join; the measured local floor is Spark's
        job-submission overhead, not the scan (PERFORMANCE.md w12)."""
        pred = (F.col("path") == path) & (F.col("filename") == filename)
        if not self.buckets:
            return self.read().filter(pred)
        bucket = (
            self.spark.range(1)
            .select(
                F.pmod(F.xxhash64(F.lit(path)), F.lit(self.buckets))
                .cast("int")
                .alias("b")
            )
            .first()["b"]
        )
        return self._read_slice([bucket]).filter(pred)

    # -- write --------------------------------------------------------
    def overwrite(self, df: DataFrame, expected_generation: int | None = None) -> None:
        """Full replace (S10): stage a complete new generation, commit
        by manifest swap. ``expected_generation`` carries an outer read
        snapshot (w9): a table already past it, or a competing commit
        while this one stages, raises :class:`ConcurrentWriteError`
        with the staging rolled back."""
        snap = self._load_manifest()
        if expected_generation not in (None, self._generation(snap)):
            raise ConcurrentWriteError(
                f"table at {self.location} is past this writer's snapshot at "
                f"generation {expected_generation}; retry on a fresh snapshot"
            )
        with self._operation("OVERWRITE"):
            self._commit_rows(df, snap)

    def _commit_rows(
        self, rows: DataFrame, snap: dict | None, replaced: list[str] | None = None
    ) -> None:
        """The staging commit behind every data write: write ``rows`` to
        one fresh staging dir, then commit it against the snapshot
        ``snap`` (w9: the commit refuses if the generation moved).
        ``replaced=None`` replaces the whole table; otherwise only the
        ``replaced`` bucket entries are remapped (a bucket with no
        surviving rows drops out) and every other bucket keeps its
        immutable dir — never read, never written."""
        expected = self._generation(snap)
        old = snap["entries"] if snap else {}
        replaced = set(old) if replaced is None else set(replaced)
        writer = self._conform(rows, self._schema_of(snap))
        staging = self._staging_dir()
        try:
            if self.buckets:
                writer = writer.withColumn(BUCKET_COL, self._bucket_expr())
                writer.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
            else:
                writer.write.mode("overwrite").parquet(staging)
            entries = {k: rel for k, rel in old.items() if k not in replaced}
            entries.update(self._entries_from_staging(staging))
            self._commit_manifest(entries, expected)
        except ConcurrentWriteError:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        except Exception as exc:
            # the staging write READS the snapshot lazily; a competing
            # commit may have GC'd those dirs mid-read (no-history
            # tables reclaim inline) — surface that as the same clean
            # conflict signal, not a raw FILE_NOT_EXIST. Non-conflict
            # failures (crash-like) keep their staging for vacuum(),
            # the documented orphan-reclamation path.
            if self._current_generation() != expected:
                shutil.rmtree(staging, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"table at {self.location} advanced past this writer's "
                    f"snapshot at generation {expected} during "
                    "staging; retry on a fresh snapshot"
                ) from exc
            raise
        self._gc(sorted(old[k] for k in replaced if k in old))

    def compact(self, files_per_bucket: int = 1, min_files: int = 2) -> list[str]:
        """OPTIMIZE: rewrite fragmented data dirs into ``files_per_bucket``
        parquet files each — the small-file maintenance every lakehouse
        table needs (each partial commit writes one file per shuffle
        task; after many commits a bucket dir accumulates files whose
        per-file open/footer cost dominates scans at 100 TB).

        Rows are untouched: compaction stages byte-equivalent data into
        fresh dirs and commits them through the SAME manifest swap as
        any write, so it is crash-safe, readers never see a torn state,
        and with history on it is just another generation (read_at on
        older generations still works). Dirs already at or below
        ``min_files`` files are skipped. Returns the (relative) dirs
        that were rewritten. Single-writer contract applies.
        """
        m = self._load_manifest()
        if m is None or not m["entries"]:
            return []
        snapshot = self._generation(m)
        entries = dict(m["entries"])
        dead, rewritten = [], []
        for key, rel in sorted(m["entries"].items()):
            full = os.path.join(self.location, rel)
            n_files = sum(1 for n in os.listdir(full) if n.endswith(".parquet"))
            if n_files <= files_per_bucket or n_files < min_files:
                continue
            staging = self._staging_dir()
            (
                self.spark.read.schema(self._schema_of(m))
                .parquet(full)
                .coalesce(files_per_bucket)
                .write.mode("overwrite")
                .parquet(staging)
            )
            entries[key] = os.path.basename(staging)
            dead.append(rel)
            rewritten.append(rel)
        if not rewritten:
            return []
        with self._operation("OPTIMIZE"):
            self._commit_manifest(entries, snapshot)
        self._gc(dead)
        return rewritten

    def _touched_buckets(self, keys: DataFrame) -> list[int]:
        rows = keys.select(self._bucket_expr().alias("b")).distinct().collect()
        return [r["b"] for r in rows]

    # Measured on a 500k-row/64-bucket table: a scattered update hitting
    # ~all buckets is SLOWER through per-bucket commits (2.4 s) than one
    # full rewrite (1.6 s) — the pruned path only wins when updates
    # cluster into few buckets (the incremental re-index shape). Past
    # this touched fraction, fall back to the single-rewrite plan.
    _WIDE_TOUCH_FRACTION = 0.5

    def _wide(self, touched: list[int]) -> bool:
        return self.buckets is not None and len(touched) >= self.buckets * self._WIDE_TOUCH_FRACTION

    def _merge(
        self, keys: DataFrame, on: list[str], label: str, rows: DataFrame | None = None
    ) -> None:
        """The one MERGE behind upsert, delete and delete_paths: drop
        the rows whose ``on`` columns match ``keys`` (left anti-join),
        add ``rows`` when given, and commit under ``label``.

        One manifest snapshot, taken before any read, gives the
        generation the commit checks (w9: a commit by another writer
        in between raises :class:`ConcurrentWriteError`), the existence
        check, the schema and the entries the commit remaps. Bucketed:
        only the buckets the keys hash to are read and rewritten,
        unless the touch is wide; then, and on unbucketed tables, the
        whole table is rewritten."""
        snap = self._load_manifest()
        live = bool(snap and snap["entries"])
        if rows is None and not live:
            return  # nothing to delete from
        pruned = bool(self.buckets) and live
        touched = self._touched_buckets(keys) if pruned else []
        with self._operation(label):
            if pruned and not self._wide(touched):
                current, replaced = self._read_slice(touched), [str(b) for b in touched]
            else:
                current, replaced = self.read(), None
            out = current.join(keys.select(*on), on, "left_anti")
            if rows is not None:
                out = out.unionByName(self._conform(rows, self._schema_of(snap)))
            self._commit_rows(out, snap, replaced)

    def upsert(self, updates: DataFrame) -> None:
        """MERGE: update matched PKs, insert the rest (S7/S8)."""
        self._merge(updates, PK, "UPSERT", rows=updates)

    def delete(self, keys: DataFrame) -> None:
        """MERGE ... WHEN MATCHED DELETE (S9): drop the rows whose PK
        is in ``keys``."""
        self._merge(keys, PK, "DELETE")

    def delete_paths(self, paths: DataFrame) -> None:
        """Directory-level delete (reference indexer.py:1762-1787): drop
        every row whose ``path`` is in ``paths`` — prunable because
        bucketing hashes ``path`` only."""
        self._merge(paths, ["path"], "DELETE_PATHS")

    # -- JSON interchange (S11, reference indexer.go:294-338) ----------
    # default JSON timestamps are millisecond-precision; stat() mtimes
    # carry microseconds — pin a lossless format on both sides
    _JSON_TS = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

    def export_json(self, dest: str) -> None:
        """Whole-index JSON export (newline-delimited, partitioned —
        the distributed analogue of the Go engine's single JSON doc)."""
        self.read().write.mode("overwrite").option("timestampFormat", self._JSON_TS).json(dest)

    def import_json(self, src: str) -> None:
        """Replace the table from a JSON export."""
        df = (
            self.spark.read.schema(self.schema())
            .option("timestampFormat", self._JSON_TS)
            .json(src)
        )
        self.overwrite(df)
