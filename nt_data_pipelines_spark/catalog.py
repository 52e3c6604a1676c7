"""Lakehouse catalog: named parquet tables with primary-key upsert.

Reproduces the reference's bear-lake storage contract (SURVEY.md §1.1;
reference calls at e.g. stock_prices_flow.py:99-121):

- ``create(name, schema, partition_keys, primary_keys, mode)`` with
  ``mode`` in {"replace", "skip"}
- ``insert(name, df, mode="append")``
- ``optimize(name)`` — compact + dedupe on primary keys, last write
  wins (the commented-out ClickHouse variant in the reference spells
  the semantics out: ReplacingMergeTree ORDER BY pk + OPTIMIZE FINAL,
  stock_prices_yfinance_flow.py:128-148)
- ``table(name)`` / ``query(fn)`` — lazy scans composing with the
  DataFrame API

Spark-first design:

- storage is plain parquet + ``partitionBy(*partition_keys)`` so
  Catalyst prunes partitions on filter;
- every insert stamps a monotonically increasing ``_ingest_seq`` so
  optimize's last-write-wins tie-break is deterministic (SURVEY §7.4);
- optimize = one window (``row_number() over (partition by pk order
  by _ingest_seq desc) = 1``) and rewrites ONLY the partitions that
  contain duplicate keys — at 100 TB you compact the handful of
  partitions an incremental load touched, not the table;
- metadata is a JSON sidecar per database directory (on a cluster
  this would be a metastore; the contract is identical).

All file mutations go through the Hadoop FileSystem API, so the same
code runs on file://, hdfs://, or s3a:// roots. Two commit protocols
(``commit_mode``): ``rename`` swaps hive-layout directories, atomic
where FS rename is (posix, HDFS); ``filelist`` commits a one-object
manifest listing the table's files, Delta's log shape, atomic on
object stores too. The dedup plan is the same in both. Table metadata
stays in a driver-local JSON sidecar standing in for a metastore.
"""

from __future__ import annotations

import json
import os
import re
import threading
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

INGEST_COL = "_ingest_seq"
KEEP_MANIFESTS = 10  # manifest-log history margin retained by GC
# filelist mode: commits whose generation is a multiple of this write a
# CHECKPOINT manifest (full file set + stats); the commits in between
# write DELTAS (add/remove lists only). A 10^5-commit log therefore
# costs O(changed files) per commit and O(interval) manifest reads per
# snapshot resolution — the Delta-log checkpoint shape. Keep it <=
# KEEP_MANIFESTS so every retained generation's replay base survives
# manifest GC (the GC additionally never drops a manifest newer than
# the oldest retained generation's checkpoint).
FL_CHECKPOINT_INTERVAL = 10
# Schemes with no atomic exclusive-create through the Hadoop FS API —
# filelist catalogs on these require an ExclusiveCommitter.
OBJECT_STORE_SCHEMES = ("s3", "s3a", "s3n", "gs", "abfs", "abfss", "oss", "wasb", "wasbs")
# filelist mode records per-file min/max for the partition keys PLUS
# the first N other eligible scalar columns (Delta's
# dataSkippingNumIndexedCols model) — scan_pruned can then skip files
# on any indexed column, which is what makes optimize_layout's z-order
# clustering actually deliver pruning
STATS_COLS_MAX = 8


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the generation this rewrite targeted.

    Optimistic-concurrency loss signal: the staged data was computed
    from a table state that is no longer current, so the only safe
    reaction is to RECOMPUTE against the new state and try again —
    :meth:`Catalog.optimize` does exactly that (bounded retries).
    """


@dataclass
class TableMeta:
    name: str
    schema_json: str
    partition_keys: list[str] = field(default_factory=list)
    primary_keys: list[str] = field(default_factory=list)

    @property
    def struct(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))


class Catalog:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        commit_mode: str = "rename",
        time_travel: int = 0,
        committer=None,
    ):
        """``commit_mode`` picks the commit protocol:

        - ``"rename"`` (default): hive-layout table dir, appends write
          into it, full rewrites commit rename-aside — atomic on
          HDFS/posix where FS rename is atomic; see _rewrite_table.
          What the DAG runs.
        - ``"filelist"``: the Delta-log tier. Each commit creates one
          manifest file ``N.json`` listing the table's FILES — a
          single small-object write, atomic on S3-class stores where
          rename is copy+delete. Appends write a fresh batch dir and
          commit a manifest referencing old + new files, so every
          append is a snapshot; rewrites commit a manifest referencing
          only the staged files, so readers of older snapshots keep
          their exact file set. Readers resolve the max valid
          manifest; a crashed commit leaves garbage, never a torn
          table. GC removes batch dirs no retained manifest
          references.

        ``time_travel`` (filelist mode) keeps that many SUPERSEDED
        generations readable via :meth:`table_at` / :meth:`history`.
        Retained generations SHARE unchanged files (append-mostly
        tables retain history almost for free — the Delta economics).
        Retention is opt-in and bounded by ``KEEP_MANIFESTS``; the
        default 0 GCs superseded data at the next commit.

        ``committer`` (an :class:`~nt_data_pipelines_spark.committers.
        ExclusiveCommitter`) overrides the manifest-commit primitive.
        Required when a filelist catalog is rooted on an
        object store (s3a://, gs://, ...): those stores have no atomic
        exclusive-create — S3A "rename" is copy+delete, so two racing
        writers can both win a generation and one acknowledged commit
        silently vanishes. Pass
        :class:`~nt_data_pipelines_spark.committers.
        S3ConditionalPutCommitter` (S3 ``If-None-Match: *`` semantics)
        or any implementation of the protocol; without one, opening
        such a catalog raises ``ValueError`` here rather than racing
        quietly in production.
        """
        if commit_mode not in ("rename", "filelist"):
            raise ValueError(
                f"commit_mode must be rename|filelist, got {commit_mode!r}"
            )
        if type(time_travel) is not int or not 0 <= time_travel < KEEP_MANIFESTS:
            raise ValueError(
                f"time_travel must be an int in [0, {KEEP_MANIFESTS}), got {time_travel!r}"
            )
        if time_travel and commit_mode == "rename":
            raise ValueError("time_travel requires commit_mode='filelist'")
        scheme = root.split("://", 1)[0] if "://" in root else "file"
        if committer is None and commit_mode == "filelist" and scheme in OBJECT_STORE_SCHEMES:
            # The loud refusal: manifest commits need an atomic
            # exclusive-create, and object stores only offer one via
            # conditional PUT (S3 If-None-Match, GCS
            # if-generation-match) — which Hadoop's FS API does not
            # surface. Racing writers on plain S3A can BOTH win a
            # generation (demonstrated by
            # tests/test_committer.py::test_plain_s3a_protocol_double_wins),
            # so refuse up front instead of corrupting the log under
            # load.
            raise ValueError(
                f"commit_mode={commit_mode!r} on a {scheme}:// root requires an "
                "exclusive committer: object stores have no atomic "
                "create-if-absent through the Hadoop FS API, so racing writers "
                "could both win a generation. Pass committer="
                "S3ConditionalPutCommitter(bucket) (see "
                "nt_data_pipelines_spark.committers) or use commit_mode='rename' "
                "on a store with atomic rename."
            )
        self.spark = spark
        self.root = root
        self.commit_mode = commit_mode
        self.time_travel = time_travel
        # memoized (table, gen) -> resolved filelist snapshot; entries
        # are immutable-by-construction (see _fl_resolve)
        self._fl_cache: dict[tuple[str, int], tuple[list[str], dict]] = {}
        self._committer = committer
        # Scheme-qualified roots (file://, s3a://, hdfs://) must go
        # through the Hadoop FS API end to end: os.makedirs/open on a
        # URI string silently create a literal "file:/..." RELATIVE
        # directory under the cwd.
        self._uri_root = "://" in root
        if self._uri_root:
            fs, rp = self._hfs(root)
            if not fs.exists(rp):
                fs.mkdirs(rp)
        else:
            os.makedirs(root, exist_ok=True)
        self._meta_path = os.path.join(root, "_catalog.json")
        self._state = self._load()
        # Guards the ingest seq and every _catalog.json write: flows
        # run independent stages from several threads on one catalog,
        # and all of them share one seq counter and one .tmp path.
        self._lock = threading.RLock()

    # ---- metadata ----
    def _load(self) -> dict:
        if self._uri_root:
            fs, p = self._hfs(self._meta_path)
            if not fs.exists(p):
                return {"tables": {}, "next_seq": 1}
            stream = fs.open(p)
            try:
                raw = self.spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            finally:
                stream.close()
            return json.loads(raw)
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                return json.load(f)
        return {"tables": {}, "next_seq": 1}

    def _take_seq(self) -> int:
        """Allocate the next ingest seq and persist the counter."""
        with self._lock:
            seq = self._state["next_seq"]
            self._state["next_seq"] = seq + 1
            self._save()
        return seq

    def _save(self) -> None:
        with self._lock:
            payload = json.dumps(self._state, indent=2)
            if self._uri_root:
                if self.root.split("://", 1)[0] in OBJECT_STORE_SCHEMES:
                    # object stores: create+write IS a single PUT uploaded
                    # at close, so a crash mid-write leaves the OLD object
                    # — direct overwrite-create is the atomic choice there
                    # (rename would be copy+delete, strictly worse).
                    fs, p = self._hfs(self._meta_path)
                    out = fs.create(p, True)
                    try:
                        out.write(bytearray(payload.encode("utf-8")))
                    finally:
                        out.close()
                    return
                # file:// and hdfs://: create+write streams straight into
                # the destination, so a crash mid-write leaves a TRUNCATED
                # catalog file. Write aside, then atomically swap in via
                # FileContext.rename(OVERWRITE) — atomic on both.
                jvm = self.spark._jvm
                fs, tmp = self._hfs(self._meta_path + ".tmp")
                out = fs.create(tmp, True)
                try:
                    out.write(bytearray(payload.encode("utf-8")))
                finally:
                    out.close()
                _, dst = self._hfs(self._meta_path)
                fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                    tmp.toUri(), self.spark._jsc.hadoopConfiguration()
                )
                rename_enum = jvm.org.apache.hadoop.fs.Options.Rename
                opts = self.spark.sparkContext._gateway.new_array(rename_enum, 1)
                opts[0] = rename_enum.OVERWRITE
                fc.rename(tmp, dst, opts)
                return
            tmp = self._meta_path + ".tmp"
            with open(tmp, "w") as f:
                f.write(payload)
            os.replace(tmp, self._meta_path)

    def _meta(self, name: str) -> TableMeta:
        raw = self._state["tables"].get(name)
        if raw is None:
            raise KeyError(f"table {name!r} does not exist")
        # metadata entries may carry extra persisted keys (e.g. the
        # ANALYZE "stats" block) beyond the structural TableMeta fields
        fields = {f.name for f in TableMeta.__dataclass_fields__.values()}
        return TableMeta(**{k: v for k, v in raw.items() if k in fields})

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    # ---- manifest log: the filelist commit primitives ----
    def _manifest_dir(self, name: str) -> str:
        return self._path(name) + "._manifest"

    def _manifest_gens(self, name: str) -> list[int]:
        """All generation numbers with a manifest FILE present (valid
        or torn), ascending — the single listing helper behind
        _current_gen/_next_gen/GC/vacuum."""
        fs, mdir = self._hfs(self._manifest_dir(name))
        if not fs.exists(mdir):
            return []
        gens = []
        for st in fs.listStatus(mdir):
            fname = st.getPath().getName()
            if fname.endswith(".json"):
                try:
                    gens.append(int(fname[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(gens)

    def _current_gen(self, name: str) -> int:
        """Highest generation with a VALID manifest file, or -1 (no
        manifest yet — see :meth:`_fl_current`). A torn manifest
        (crash mid-write) parses as invalid JSON and is skipped — the
        previous generation stays current."""
        for g in reversed(self._manifest_gens(name)):
            if self._read_manifest(name, g) is not None:
                return g
        return -1

    def _next_gen(self, name: str) -> int:
        """The next commit target: one past the highest manifest file
        present, VALID OR TORN. A torn manifest (writer died mid-
        commit) burns its generation number — overwriting it would let
        two repairers both 'win' the same gen, so commits skip past it
        and readers keep resolving the highest valid one."""
        gens = self._manifest_gens(name)
        return (gens[-1] if gens else -1) + 1

    @staticmethod
    def _wraps_java_class(e: Exception, suffix: str, fallback: bool) -> bool:
        """Whether a py4j error wraps a Java exception class ending in
        ``suffix`` (walks the cause chain). Matches on the CLASS, not
        the message — message text varies by FS implementation and
        locale. ``fallback`` is returned when no java_exception is
        attached (non-py4j transport errors)."""
        je = getattr(e, "java_exception", None)
        if je is None:
            return fallback
        while je is not None:
            try:
                cls = je.getClass().getName()
            except Exception:
                return False
            if cls.endswith(suffix):
                return True
            try:
                je = je.getCause()
            except Exception:
                return False
        return False

    @classmethod
    def _is_already_exists(cls, e: Exception) -> bool:
        return cls._wraps_java_class(
            e, "FileAlreadyExistsException", "exist" in str(e).lower()
        )

    @classmethod
    def _is_not_found(cls, e: Exception) -> bool:
        return cls._wraps_java_class(
            e,
            "FileNotFoundException",
            "not exist" in str(e).lower() or "notfound" in str(e).lower(),
        )

    def _read_manifest(self, name: str, gen: int) -> dict | None:
        fs, p = self._hfs(os.path.join(self._manifest_dir(name), f"{gen}.json"))
        if not fs.exists(p):
            return None
        try:
            stream = fs.open(p)
        except Exception as e:
            # a rival commit's manifest-log GC may delete an old entry
            # between our exists() and open() — semantically identical
            # to the manifest being absent
            if self._is_not_found(e):
                return None
            raise
        try:
            raw = self.spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        try:
            doc = json.loads(raw)
        except ValueError:
            return None
        return doc if isinstance(doc, dict) and doc.get("generation") == gen else None

    def _commit_manifest(
        self, name: str, gen: int,
        files: list[str] | None = None, file_stats: dict | None = None,
        add: list[str] | None = None, remove: list[str] | None = None,
        add_stats: dict | None = None,
    ) -> None:
        """THE commit: create manifest file ``gen.json`` exclusively.

        One small-object write — a single PUT on S3-class stores, so
        the commit is atomic where directory rename is not. create
        with overwrite=False can never clobber a committed generation
        (gen = max+1 by construction); if another writer took this
        generation first, the create fails and surfaces as
        :class:`ConcurrentWriteError` — optimistic concurrency's
        lose-the-race signal (the caller must RECOMPUTE from the new
        table state, never re-commit stale data as the next gen).

        Exclusivity per scheme: local (file:// or plain) paths stage a
        temp file and publish with ``os.link`` — atomic, exclusive,
        and content-complete (Hadoop's RawLocalFileSystem
        ``create(overwrite=False)`` is an exists-check-then-open, and
        the concurrency fuzz caught two racing writers both passing
        it; a bare ``O_EXCL`` open closes that but still exposes an
        empty manifest during the payload write). Hadoop schemes stage
        + no-overwrite rename (atomic on HDFS, fails if the
        destination exists). On S3A rename is copy+delete — two racing
        writers can both "win", so object-store roots REQUIRE an
        ``ExclusiveCommitter`` (``__init__`` refuses otherwise):
        the committer branch below routes the commit through one
        atomic conditional PUT (S3 If-None-Match, GCS
        if-generation-match) — see
        :mod:`nt_data_pipelines_spark.committers`."""
        fs, mdir = self._hfs(self._manifest_dir(name))
        if not fs.exists(mdir):
            fs.mkdirs(mdir)
        mpath = os.path.join(self._manifest_dir(name), f"{gen}.json")
        _, p = self._hfs(mpath)
        if fs.exists(p):
            raise ConcurrentWriteError(
                f"generation {gen} of {name!r} was committed by another writer"
            )
        doc: dict = {"generation": gen}
        if files is not None:
            # checkpoint form: the complete file set (and stats) as of
            # this generation — resolution starts replay here
            doc["files"] = files
        if file_stats:
            doc["file_stats"] = file_stats
        if add is not None:
            # delta form: changes against the previous VALID generation
            doc["add"] = add
        if remove is not None:
            doc["remove"] = remove
        if add_stats:
            doc["add_stats"] = add_stats
        payload = json.dumps(doc)
        if self._committer is not None:
            # Pluggable exclusive-commit hook (LogStore-style): the
            # committer's put_if_absent both arbitrates and publishes
            # atomically — e.g. one S3 conditional PUT. False = lost
            # the race, surfaced as the usual OCC signal.
            if not self._committer.put_if_absent(mpath, payload.encode("utf-8")):
                raise ConcurrentWriteError(
                    f"generation {gen} of {name!r} was committed by another writer"
                )
            return
        # The manifest must appear ATOMICALLY WITH ITS CONTENT: a
        # create-then-write sequence exposes an empty (torn) N.json
        # during the write window, and a racing appender then pins
        # _next_gen PAST it while _current_gen still resolves N-1 —
        # its commit builds on the stale base and this writer's
        # acknowledged batch silently vanishes. So: stage the payload
        # in a temp file, then publish with an atomic
        # exclusive-if-absent primitive (hardlink locally, no-overwrite
        # rename on Hadoop FS). A crash leaves only a ``*.tmp-*`` file
        # — never counted by _manifest_gens (no .json suffix).
        import uuid as _uuid

        scheme = self.root.split("://", 1)[0] if self._uri_root else "file"
        if scheme == "file":
            local = p.toUri().getPath() if self._uri_root else mpath
            tmp = f"{local}.tmp-{_uuid.uuid4().hex[:8]}"
            with open(tmp, "wb") as out:
                out.write(payload.encode("utf-8"))
            try:
                os.link(tmp, local)  # atomic: exclusive AND complete
            except FileExistsError:
                raise ConcurrentWriteError(
                    f"generation {gen} of {name!r} was committed by another writer"
                ) from None
            finally:
                os.unlink(tmp)
            return
        _, tmp_p = self._hfs(f"{mpath}.tmp-{_uuid.uuid4().hex[:8]}")
        out = fs.create(tmp_p, True)
        try:
            out.write(bytearray(payload.encode("utf-8")))
        finally:
            out.close()
        # HDFS rename is atomic and fails (returns false) when the
        # destination exists — the exclusive publish. Object stores
        # emulate rename as copy+delete; the conditional-PUT caveat in
        # the docstring stands.
        renamed = False
        try:
            renamed = bool(fs.rename(tmp_p, p))
        finally:
            if not renamed and fs.exists(tmp_p):
                fs.delete(tmp_p, False)
        if not renamed:
            raise ConcurrentWriteError(
                f"generation {gen} of {name!r} was committed by another writer"
            )

    # ---- filelist commit protocol (commit_mode="filelist") ----
    def _fl_root(self, name: str) -> str:
        return self._path(name) + ".data"

    @staticmethod
    def _is_checkpoint(doc: dict) -> bool:
        """A manifest carrying the COMPLETE file set (replay base):
        every full rewrite, and every commit on the
        ``FL_CHECKPOINT_INTERVAL`` cadence. A log of nothing but
        checkpoints resolves like any other."""
        return isinstance(doc.get("files"), list)

    @staticmethod
    def _manifest_refs(doc: dict) -> list[str]:
        """Every file path a single manifest MENTIONS (checkpoint set,
        delta adds, delta removes) — the per-entry reference relation
        GC and vacuum reason over; NOT the resolved snapshot."""
        refs = list(doc.get("files") or [])
        refs += list(doc.get("add") or [])
        refs += list(doc.get("remove") or [])
        return refs

    def _fl_resolve(self, name: str, gen: int) -> tuple[list[str], dict] | None:
        """The COMPLETE (files, file_stats) snapshot of a generation:
        replay from the newest checkpoint at or below ``gen``, applying
        each later VALID delta's remove-then-add. O(gen %
        FL_CHECKPOINT_INTERVAL) manifest reads, memoized — manifests
        are immutable once committed, so cache entries never go stale
        (GC only ever deletes log entries, never rewrites them).

        None when the generation cannot be resolved: its own manifest
        is gone/torn, or every checkpoint at or below it was GC'd
        (equivalent to today's missing-manifest answer — the caller
        surfaces the usual retention error).
        """
        cached = self._fl_cache.get((name, gen))
        if cached is not None:
            return list(cached[0]), dict(cached[1])
        docs: list[dict] = []  # deltas above the checkpoint, ascending
        base: dict | None = None
        g = gen
        own = self._read_manifest(name, gen)
        if own is None:
            return None
        while g >= 0:
            doc = own if g == gen else self._read_manifest(name, g)
            if doc is not None:
                if self._is_checkpoint(doc):
                    base = doc
                    break
                docs.append(doc)
            # a torn/GC'd manifest between checkpoint and gen never
            # committed (torn) or is older than every retained
            # checkpoint (GC'd) — skip, mirroring _current_gen
            g -= 1
        if base is None:
            return None
        files = set(base.get("files") or [])
        stats = dict(base.get("file_stats") or {})
        for doc in reversed(docs):
            for rel in doc.get("remove") or []:
                files.discard(rel)
                stats.pop(rel, None)
            for rel in doc.get("add") or []:
                files.add(rel)
            stats.update(doc.get("add_stats") or {})
        out = (sorted(files), {f: s for f, s in stats.items() if f in files})
        if len(self._fl_cache) >= 8 * KEEP_MANIFESTS:
            self._fl_cache.clear()
        self._fl_cache[(name, gen)] = out
        return list(out[0]), dict(out[1])

    def _fl_manifest_files(self, name: str, gen: int) -> list[str] | None:
        """Relative file paths of a generation's RESOLVED snapshot, or
        None — an inspection accessor for tests and examples; the
        catalog itself resolves through :meth:`_fl_snapshot`."""
        resolved = self._fl_resolve(name, gen)
        return None if resolved is None else resolved[0]

    def _fl_snapshot(self, name: str, gen: int) -> tuple[list[str], dict]:
        """(files, file_stats) of a generation, or LookupError.

        Never answers "empty" for a generation that cannot be resolved
        (its manifest or its replay base is torn or GC'd): an empty
        read would be a silently wrong answer, a commit on an empty
        base would drop every live file, and an empty GC keep-set
        would doom files a retained snapshot still references. _fl_gc
        turns the raise into a warned sweep abort (it runs AFTER a
        successful commit, which must not look failed)."""
        resolved = self._fl_resolve(name, gen)
        if resolved is None:
            raise LookupError(
                f"generation {gen} of {name!r} cannot be resolved (torn or "
                "missing replay base?) — refusing to treat it as empty"
            )
        return resolved

    def _fl_current(self, name: str) -> tuple[int, list[str], dict]:
        """The current snapshot ``(gen, files, file_stats)``.

        A table with no valid manifest is empty, ``(-1, [], {})``:
        create's generation-0 commit never landed. If rename-mode data
        sits in its plain dir instead, or the current snapshot lists
        files there (:meth:`_fl_lists_plain_dir`), every filelist
        operation refuses the table until :meth:`convert_to_filelist`
        has run."""
        gen = self._current_gen(name)
        if gen < 0:
            fs, plain = self._hfs(self._path(name))
            files, stats, outside = [], {}, fs.exists(plain)
        else:
            files, stats = self._fl_snapshot(name, gen)
            outside = self._fl_lists_plain_dir(name, files)
        if outside:
            raise LookupError(
                f"table {name!r} holds rename-mode data outside the filelist "
                f"log: run convert_to_filelist({name!r}) first"
            )
        return gen, files, stats

    def _fl_lists_plain_dir(self, name: str, files: list[str]) -> bool:
        """Whether a snapshot lists files of the rename-mode plain dir.
        Logs written by versions that adopted an unpartitioned
        rename-mode table implicitly, on its first filelist append,
        reference its ``<t>/`` files; :meth:`convert_to_filelist`
        re-commits such a table."""
        marker = os.path.basename(self._path(name)) + "/"
        return any(f.startswith(marker) for f in files)

    def _fl_abs(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def _fl_list_parquet(self, name: str, dir_path: str) -> list[str]:
        """Root-relative paths of every parquet file under a batch dir.

        Relative paths keep manifests portable if the lake root moves;
        the split marker is the table's ``<t>.data/`` basename, so the
        same code works whether the FS layer reports scheme-qualified
        or plain paths."""
        fs, root = self._hfs(dir_path)
        marker = os.path.basename(self._fl_root(name)) + "/"
        return sorted(
            p[p.rfind(marker):] for p, _ in self._list_parquet_recursive(fs, root)
        )

    def _fl_write_batch(
        self, name: str, df: DataFrame, cluster: bool = True
    ) -> tuple[str, list[str], dict[str, dict]]:
        """Write one immutable batch dir; returns (dir, relative files,
        per-file partition-column stats).

        ``cluster=False`` writes the input's existing partitioning
        as-is — for maintenance rewrites (compact, z-order) whose
        caller already laid the data out deliberately; the default
        reclustering would silently discard that layout (compact's
        target file count, optimize_layout's z-order curve). Per-file
        stats are recorded either way (an unclustered layout just
        records wider, less prunable ranges).

        Filelist batches do NOT use hive ``partitionBy`` layout: Spark's
        path-based partition inference cannot reconcile ``key=value``
        segments nested under differing batch dirs (CONFLICTING_
        DIRECTORY_STRUCTURES). Instead — exactly Delta's design — the
        partition columns stay IN the data and pruning metadata lives
        in the manifest: rows are clustered on the partition keys so
        files cover narrow key ranges, and each file's min/max per
        partition column is recorded for :meth:`scan_pruned` to skip
        files at planning time without touching footers.
        """
        import uuid

        meta = self._meta(name)
        bdir = os.path.join(self._fl_root(name), f"b{uuid.uuid4().hex[:12]}")
        out = df
        if meta.partition_keys and cluster:
            # RANGE partitioning, not hash: each output file covers a
            # narrow contiguous key interval, which is what makes the
            # recorded min/max stats actually prune (hash mixing would
            # give every file near-domain-wide ranges)
            out = df.repartitionByRange(*[F.col(c) for c in meta.partition_keys])
        out.write.mode("overwrite").parquet(bdir)
        files = self._fl_list_parquet(name, bdir)
        stats: dict[str, dict] = {}
        stat_cols = self._stats_columns(meta)
        if stat_cols and files:
            back = self.spark.read.schema(self._with_ingest(meta.struct)).parquet(bdir)
            aggs = []
            for c in stat_cols:
                # min/max on the NATIVE type, cast after: string-side
                # extremes are lexicographic ('10' < '2') and would
                # record inverted ranges that misprune matching files
                aggs.append(F.min(F.col(c)).cast("string").alias(f"__lo_{c}"))
                aggs.append(F.max(F.col(c)).cast("string").alias(f"__hi_{c}"))
            rows = back.withColumn("__f", F.input_file_name()).groupBy("__f").agg(*aggs).collect()
            marker = os.path.basename(self._fl_root(name)) + "/"
            for r in rows:
                rel = r["__f"][r["__f"].rfind(marker):]
                stats[rel] = {
                    c: [r[f"__lo_{c}"], r[f"__hi_{c}"]] for c in stat_cols
                }
        return bdir, files, stats

    def _stats_columns(self, meta: TableMeta) -> list[str]:
        """Columns indexed for file skipping: every partition key plus
        the first ``STATS_COLS_MAX`` other scalar columns in schema
        order (strings/numbers/dates/timestamps — types with a usable
        total order). One single-pass aggregate per batch covers them
        all; the payoff is that ``scan_pruned`` and z-order clustering
        compose on NON-partition columns too."""
        orderable = (
            T.IntegerType, T.LongType, T.ShortType, T.ByteType, T.DoubleType,
            T.FloatType, T.DecimalType, T.StringType, T.DateType,
            T.TimestampType, T.TimestampNTZType,
        )
        cols = list(meta.partition_keys)
        for f in meta.struct.fields:
            if len(cols) >= len(meta.partition_keys) + STATS_COLS_MAX:
                break
            if f.name not in cols and isinstance(f.dataType, orderable):
                cols.append(f.name)
        return cols

    def _fl_commit_append(
        self, name: str, new_files: list[str], new_stats: dict | None = None
    ) -> None:
        """Append commit: manifest = files(base) + new (stats merged
        the same way). The batch's data is independent of the base
        generation, so losing a commit race just re-reads the new
        current file set and retries — no recompute, appends never
        conflict with each other.

        ORDERING IS THE CORRECTNESS: the commit target gen is pinned
        BEFORE the base file set is read. Any rival commit then either
        (a) landed at or below the base read — its files are IN our
        base — or (b) targets our pinned gen or later — our exclusive
        create collides and we retry. Allocating the target AFTER
        reading the base would let a rival slip a commit in between
        and have its files silently dropped from every later
        generation (permanent committed-data loss).

        A LookupError (table not in the log, unresolvable base) is
        raised before any commit; the GC after a commit never raises
        one, so a caller may treat it as "nothing committed".
        """
        for _ in range(25):
            target = self._next_gen(name)
            if target % FL_CHECKPOINT_INTERVAL != 0:
                cur = self._current_gen(name)
                if cur >= target:
                    continue  # a rival advanced past our pinned target
                if cur >= 0:
                    # delta append: O(new files) commit payload, no
                    # base read at all — the resolved snapshot is
                    # (previous gen) + add at read time
                    try:
                        self._commit_manifest(
                            name, target,
                            add=sorted(new_files),
                            add_stats=dict(new_stats or {}),
                        )
                    except ConcurrentWriteError:
                        continue
                    self._fl_gc(name, target)
                    return
            # checkpoint due — or no valid manifest yet, even when torn
            # manifests burned the first numbers: a delta with no
            # checkpoint below it would never resolve. Materialize the
            # full snapshot (empty for a table not yet committed).
            cur, prev, stats = self._fl_current(name)
            if cur >= target:
                continue
            stats.update(new_stats or {})
            try:
                self._commit_manifest(
                    name, target,
                    files=sorted(set(prev) | set(new_files)), file_stats=stats,
                )
            except ConcurrentWriteError:
                continue
            self._fl_gc(name, target)
            return
        raise ConcurrentWriteError(
            f"append to {name!r} lost {25} consecutive commit races"
        )

    def _rewrite_table_filelist(
        self,
        name: str,
        deduped: DataFrame,
        preserve_layout: bool = False,
        target_gen: int | None = None,
    ) -> None:
        """Full-rewrite commit: manifest g+1 references ONLY the staged
        batch's files; older snapshots keep their exact file sets. A
        lost race deletes the staged dir and surfaces the OCC signal
        (the caller recomputes against the winner's rows).

        The target gen is pinned BEFORE the (long) staging write: a
        rival that commits while our Spark job runs takes our pinned
        number, our exclusive create then collides, and the OCC retry
        recomputes with the rival's rows — allocating after the write
        would silently supersede the rival instead.
        ``target_gen`` lets a caller that pinned EARLIER (the surgical
        paths, which read their base manifest between pin and
        fallback) keep its pin — re-pinning here would let a rival
        commit that landed after the caller's base read be silently
        superseded."""
        gen = self._next_gen(name) if target_gen is None else target_gen
        bdir, files, stats = self._fl_write_batch(
            name, deduped, cluster=not preserve_layout
        )
        try:
            self._commit_manifest(name, gen, files=files, file_stats=stats)
        except ConcurrentWriteError:
            self._fs_delete(bdir)
            raise
        self._fl_gc(name, gen)
        self._refresh(name)
        self._clear_dropped(name)

    def _fl_gc(self, name: str, committed_gen: int) -> None:
        """Collect files no retained manifest references.

        keep = files of every log manifest with gen >= committed -
        time_travel; delete = files referenced by OLDER log manifests
        only. A batch dir that was never referenced by any manifest is
        NOT touched — it may belong to an in-flight writer (crash
        debris is bounded by writer failures and collectible offline;
        garbage over loss, as everywhere in this catalog). Afterwards,
        manifest-log entries older than KEEP_MANIFESTS drop — their
        unique files are provably gone by then since every commit runs
        this GC with the narrower time_travel window.

        An unresolvable RETAINED generation aborts the whole sweep
        (deletions AND log trimming) with a warning instead of
        raising: a partial keep-set could doom files that snapshot
        still references, but this method runs AFTER a successful
        commit — raising here would make the committed insert look
        failed and invite a duplicating retry. The corruption stays
        loud on the read path (_fl_read raises for it), and garbage
        merely accumulates until resolved (garbage over loss).
        """
        fs, mdir = self._hfs(self._manifest_dir(name))
        if not fs.exists(mdir):
            return
        gens = self._manifest_gens(name)
        cutoff = committed_gen - self.time_travel
        keep: set[str] = set()
        drop_candidates: set[str] = set()
        for g in gens:
            if g >= cutoff:
                # retained snapshot: protect its RESOLVED file set
                # (delta manifests alone don't list carried-over files)
                try:
                    keep.update(self._fl_snapshot(name, g)[0])
                except LookupError as e:
                    warnings.warn(
                        f"filelist GC of {name!r} aborted, nothing deleted: {e}",
                        stacklevel=2,
                    )
                    return
            else:
                # superseded: every file it merely MENTIONS is a
                # candidate (checkpoint sets, delta adds AND removes)
                doc = self._read_manifest(name, g)
                if doc is not None:
                    drop_candidates.update(self._manifest_refs(doc))
        for rel in sorted(drop_candidates - keep):
            self._fs_delete(self._fl_abs(rel))
        # Drop superseded log entries — but NEVER at or above the
        # replay base (newest checkpoint at or below the oldest kept
        # generation): the deltas between that checkpoint and the
        # retention margin are what resolution of the oldest retained
        # snapshots replays. With FL_CHECKPOINT_INTERVAL <=
        # KEEP_MANIFESTS this retains at most one extra interval of
        # entries beyond the plain margin.
        margin = committed_gen - KEEP_MANIFESTS
        kept_gens = [g for g in gens if g > margin]
        base: int | None = None
        if kept_gens:
            for g in sorted(gens, reverse=True):
                if g > kept_gens[0]:
                    continue
                doc = self._read_manifest(name, g)
                if doc is not None and self._is_checkpoint(doc):
                    base = g
                    break
        for g in gens:
            if g <= margin and (base is not None and g < base):
                fs.delete(
                    self.spark._jvm.org.apache.hadoop.fs.Path(
                        os.path.join(self._manifest_dir(name), f"{g}.json")
                    ),
                    False,
                )

    def _fl_read(self, name: str, gen: int | None = None) -> DataFrame:
        """Scan a filelist generation (current if None) from the files
        its manifest lists — the partition columns live in the data.
        Raises LookupError for a generation that cannot be resolved,
        a current table that is not in the log, or an earlier
        generation that lists rename-mode files."""
        meta = self._meta(name)
        schema = self._with_ingest(meta.struct)
        if gen is None:
            g, files, _ = self._fl_current(name)
            cur = g
        else:
            g, files = gen, self._fl_snapshot(name, gen)[0]
            cur = self._current_gen(name)
            if self._fl_lists_plain_dir(name, files):
                raise LookupError(
                    f"generation {g} of {name!r} lists rename-mode files outside "
                    f"the filelist log; generations committed before "
                    f"convert_to_filelist({name!r}) cannot be read"
                )
        if not files:
            return self.spark.createDataFrame([], schema)
        if not self._fl_snapshot_readable(name, g, files, cur):
            raise LookupError(
                f"generation {g} of {name!r} data was GC'd — "
                "raise time_travel to retain more"
            )
        return self.spark.read.schema(schema).parquet(*[self._fl_abs(f) for f in files])

    def _fl_snapshot_readable(self, name: str, gen: int, files: list[str], cur: int) -> bool:
        """Whether every file a generation references still exists;
        ``cur`` is the current generation the caller resolved (one
        manifest-dir listing per read, not two).

        GC deletes per-FILE (drop = older-manifest-only files), so
        probing the first sorted file is not enough: an old generation
        whose first file is shared with a retained generation — but
        whose UNIQUE files were collected — would be declared readable
        and then fail mid-scan with a raw path-not-found. Probe a file
        that GC could actually have deleted: one outside the retained
        manifests' keep-set. A generation whose files are all inside
        the keep-set is readable by the GC invariant itself (no probe
        needed); inside the retention window that is every file.
        """
        if gen >= cur - self.time_travel:
            # in-retention generations are protected by the GC keep
            # rule — one cheap first-file sanity probe (vs. external
            # deletion) keeps the hot current-gen read path at a
            # single existence check, no manifest sweep
            doomed = files[:1]
        else:
            keep: set[str] = set()
            for g in self._manifest_gens(name):
                if g >= cur - self.time_travel:
                    # a partial keep-set is NOT safe here: dropping an
                    # unresolvable retained gen's files from `keep`
                    # WIDENS `doomed` with files GC actually protects,
                    # so the single probe can hit a file that exists
                    # while the generation's genuinely-collected files
                    # go unprobed — a false "readable" that fails
                    # mid-scan with a raw path-not-found. Readability
                    # is unverifiable without the full keep-set; raise
                    # (read-worded — this is a read, not a sweep).
                    try:
                        keep.update(self._fl_snapshot(name, g)[0])
                    except LookupError as e:
                        raise LookupError(
                            f"cannot verify that generation {gen} of "
                            f"{name!r} is readable: the GC keep-set it "
                            "is checked against needs every retained "
                            "generation"
                        ) from e
            doomed = [f for f in files if f not in keep] or files[:1]
        fs, p = self._hfs(self._fl_abs(doomed[0]))
        return bool(fs.exists(p))

    # ---- filesystem (Hadoop FS API: works on file://, s3a://, hdfs://) ----
    def _hfs(self, path: str):
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, hpath

    def _fs_delete(self, path: str) -> None:
        fs, p = self._hfs(path)
        if fs.exists(p):
            fs.delete(p, True)

    def _fs_rename(self, src: str, dst: str) -> None:
        fs, psrc = self._hfs(src)
        _, pdst = self._hfs(dst)
        fs.rename(psrc, pdst)

    def exists(self, name: str) -> bool:
        return name in self._state["tables"]

    def list_tables(self) -> list[str]:
        return sorted(self._state["tables"])

    # ---- DDL ----
    def create(
        self,
        name: str,
        schema: T.StructType,
        partition_keys: list[str] | None = None,
        primary_keys: list[str] | None = None,
        mode: str = "skip",
        generated: dict[str, str] | None = None,
    ) -> None:
        """mode="replace": drop + recreate; mode="skip": create if absent.

        ``generated`` maps schema columns to SQL expressions derived
        from the other columns (Delta generated columns), e.g.
        ``{"year": "year(date)"}`` — the reference's every flow
        materializes that redundant partition column by hand
        (returns_flow.py:19). Inserts may omit a generated column (it
        is computed) or carry it (it is VALIDATED against the
        expression; silently divergent partition columns are how rows
        end up unprunable).

        mode="skip" on an existing table records any ``generated``
        column it does not declare yet (a lake created before the
        declaration), after checking the committed rows against the
        expression as a batch would be: if a row disagrees,
        ``ValueError`` names the table and the column and nothing is
        recorded.
        """
        if mode not in ("replace", "skip"):
            raise ValueError(f"mode must be replace|skip, got {mode!r}")
        import re as _re

        # commit/GC paths derive sibling paths by SUFFIX (<t>.old,
        # <t>.staging, <t>.compact, <t>.data, <t>._manifest) and delete
        # them — a table named like another's reserved sibling would be
        # silently destroyed by that table's maintenance. Dots and
        # slashes are therefore refused outright.
        if not _re.fullmatch(r"[A-Za-z0-9_][A-Za-z0-9_-]*", name):
            raise ValueError(
                f"invalid table name {name!r}: letters, digits, _ and - only "
                "(no dots or slashes — suffixed sibling paths are reserved)"
            )
        names = {f.name for f in schema.fields}
        for col, expr in (generated or {}).items():
            if col not in names:
                raise ValueError(f"generated column {col!r} not in schema")
        if self.exists(name):
            if mode == "skip":
                self._declare_generated(name, generated or {})
                return
            self._delete_all_data(name)
        self._state["tables"][name] = {
            "name": name,
            "schema_json": json.dumps(schema.jsonValue()),
            "partition_keys": list(partition_keys or []),
            "primary_keys": list(primary_keys or []),
        }
        if generated:
            self._state["tables"][name]["generated"] = dict(generated)
        self._save()
        # materialize an empty table dir so scans of a fresh table work
        empty = self.spark.createDataFrame([], self._with_ingest(schema))
        self._bootstrap_write(name, empty)

    def _bootstrap_write(self, name: str, df: DataFrame) -> None:
        """create()'s initial empty materialization. Nothing committed
        exists yet, so a plain write IS crash-safe here (worst case the
        caller retries create). Filelist mode commits generation 0 so
        history starts at creation, per its contract. User-level
        overwrites (:meth:`insert` mode='overwrite') instead always
        route through the crash-safe full rewrite in :meth:`_write`."""
        if self.commit_mode == "filelist":
            self._rewrite_table_filelist(name, df)
            return
        meta = self._meta(name)
        writer = df.write.mode("overwrite")
        if meta.partition_keys:
            writer = writer.partitionBy(*meta.partition_keys)
        writer.parquet(self._path(name))
        self._refresh(name)

    # ---- generated columns ----
    def _generated(self, name: str) -> dict[str, str]:
        return dict(self._state["tables"][name].get("generated", {}))

    def _declare_generated(self, name: str, generated: dict[str, str]) -> None:
        """Record the ``generated`` columns an existing table does not
        declare yet, once its committed rows agree with them."""
        new = {c: e for c, e in generated.items() if c not in self._generated(name)}
        if not new:
            return
        self._apply_generated(name, self.table(name), new)
        with self._lock:
            self._state["tables"][name]["generated"] = {**self._generated(name), **new}
            self._save()

    def _apply_generated(
        self, name: str, df: DataFrame, gen: dict[str, str] | None = None
    ) -> DataFrame:
        """Compute omitted generated columns; validate provided ones.
        ``gen`` defaults to the table's declared columns.

        A provided value that disagrees with its expression is
        rejected whole-batch (same philosophy as constraints: a
        divergent partition column silently lands rows where pruning
        never finds them)."""
        if gen is None:
            gen = self._generated(name)
        if not gen:
            return df
        meta = self._meta(name)
        types = {f.name: f.dataType for f in meta.struct.fields}
        out = df
        for col, expr in gen.items():
            derived = F.expr(expr).cast(types[col])
            if col in out.columns:
                bad = out.filter(~F.col(col).eqNullSafe(derived)).limit(3).collect()
                if bad:
                    raise ValueError(
                        f"rows of {name!r} rejected: column {col!r} disagrees "
                        f"with its generation expression {expr!r}: e.g. "
                        f"{[tuple(r) for r in bad]}"
                    )
            else:
                out = out.withColumn(col, derived)
        return out

    # ---- constraints (insert-time quality gates) ----
    def add_constraint(self, name: str, cname: str, expr: str) -> None:
        """Declare a CHECK constraint (a boolean SQL expression over
        the table's columns, e.g. ``"close >= 0"`` or
        ``"ticker IS NOT NULL"``). Every subsequent insert/upsert/merge
        batch is validated BEFORE any file is written: a violating
        batch is rejected whole with example rows, so bad data never
        reaches storage (Delta CHECK-constraint semantics). Existing
        rows are validated at declaration time too — a constraint the
        current table already violates is refused.
        """
        meta = self._meta(name)
        entry = self._state["tables"][name]
        cons = entry.setdefault("constraints", {})
        if cname in cons:
            raise ValueError(f"constraint {cname!r} already exists on {name!r}")
        # validate the expression analyzes AND currently holds
        probe = self.table(name)
        try:
            bad = probe.filter(~F.coalesce(F.expr(expr), F.lit(False))).limit(3).collect()
        except Exception as e:
            raise ValueError(f"constraint expression {expr!r} does not analyze: {e}") from None
        if bad:
            raise ValueError(
                f"existing rows violate {cname!r} ({expr}): e.g. {[tuple(r) for r in bad]}"
            )
        cons[cname] = expr
        self._save()

    def drop_constraint(self, name: str, cname: str) -> None:
        self._meta(name)
        cons = self._state["tables"][name].get("constraints", {})
        if cname not in cons:
            raise KeyError(f"no constraint {cname!r} on {name!r}")
        del cons[cname]
        self._save()

    def constraints(self, name: str) -> dict[str, str]:
        self._meta(name)
        return dict(self._state["tables"][name].get("constraints", {}))

    def _check_constraints(self, name: str, df: DataFrame) -> None:
        """Reject the batch if any row violates any constraint. One
        validation pass over the BATCH (not the table). NULL results
        count as violations: SQL CHECK would accept an unknown, but a
        silently null-passing gate is exactly how bad rows sneak into
        a lake — this gate requires the predicate to actually hold."""
        cons = self.constraints(name)
        if not cons:
            return
        checks = [
            F.when(~F.coalesce(F.expr(expr), F.lit(False)), F.lit(cname))
            for cname, expr in cons.items()
        ]
        viol = (
            df.withColumn("__viol", F.array_compact(F.array(*checks)))
            .filter(F.size("__viol") > 0)
        )
        sample = viol.limit(3).collect()
        if sample:
            detail = [
                (list(r["__viol"]), tuple(v for k, v in r.asDict().items() if k != "__viol"))
                for r in sample
            ]
            raise ValueError(
                f"insert into {name!r} rejected: constraint violation(s) {detail}"
            )

    def add_column(self, name: str, field: T.StructField, force: bool = False) -> None:
        """Schema evolution: append a nullable column (metadata-only).

        No data files are touched: the read path scans with the
        DECLARED schema (``_raw_table``), so parquet files written
        before the change simply surface NULL for the new column —
        the same mechanism Delta/Iceberg add-column relies on. Inserts
        after the change must carry the column (strict by design: a
        silently null-filled measure hides real pipeline bugs).
        """
        meta = self._meta(name)
        if any(f.name == field.name for f in meta.struct.fields):
            raise ValueError(f"column {field.name!r} already exists on {name!r}")
        if field.name == INGEST_COL:
            raise ValueError(f"{INGEST_COL!r} is reserved")
        if not force and field.name in self._state["tables"][name].get(
            "dropped_columns", []
        ):
            # existing files still hold the old physical column: re-
            # adding the name would RESURRECT pre-drop values (same
            # type) or brick every scan with a parquet type-mismatch
            # (different type) — the opposite of the files-surface-NULL
            # contract. A full rewrite clears the tombstone.
            raise ValueError(
                f"column {field.name!r} was previously dropped from {name!r} "
                "and live or time-travel-retained files may still hold its "
                "old values — run rewrite() first (with time_travel=0 a "
                "full rewrite clears the tombstone), or pass force=True if "
                "you KNOW no file ever contained the column (e.g. it was "
                "added and dropped with no insert in between)"
            )
        if not field.nullable:
            raise ValueError(
                "added columns must be nullable — existing files have no values for them"
            )
        new = T.StructType(list(meta.struct.fields) + [field])
        self._state["tables"][name]["schema_json"] = json.dumps(new.jsonValue())
        self._save()

    def drop_column(self, name: str, col: str) -> None:
        """Schema evolution: remove a column (metadata-only).

        Partition and primary-key columns are load-bearing (layout and
        upsert identity) and cannot be dropped. Existing files keep the
        physical column; scans stop selecting it — storage is
        reclaimed lazily by the next full rewrite."""
        meta = self._meta(name)
        if col in meta.partition_keys:
            raise ValueError(f"cannot drop partition column {col!r}")
        if col in meta.primary_keys:
            raise ValueError(f"cannot drop primary-key column {col!r}")
        fields = [f for f in meta.struct.fields if f.name != col]
        if len(fields) == len(meta.struct.fields):
            raise KeyError(f"column {col!r} does not exist on {name!r}")
        dropped = self._state["tables"][name].setdefault("dropped_columns", [])
        if not fields:
            raise ValueError(f"cannot drop the last column of {name!r}")
        # A CHECK constraint referencing the column would make every
        # future insert fail at analysis — refuse the drop instead of
        # bricking the table. Detection is by re-analyzing each
        # constraint against the narrowed schema (robust to quoting
        # and expressions, unlike substring matching).
        narrowed = self.spark.createDataFrame([], T.StructType(fields))
        for cname, expr in self.constraints(name).items():
            try:
                narrowed.filter(F.expr(expr))
            except Exception:
                raise ValueError(
                    f"cannot drop {col!r}: constraint {cname!r} ({expr}) references it — "
                    "drop the constraint first"
                ) from None
        self._state["tables"][name]["schema_json"] = json.dumps(
            T.StructType(fields).jsonValue()
        )
        if col not in dropped:
            dropped.append(col)
        stats = self._state["tables"][name].get("stats")
        if stats:
            stats.get("columns", {}).pop(col, None)
        self._save()

    def drop(self, name: str) -> None:
        if self.exists(name):
            del self._state["tables"][name]
            self._save()
            self._delete_all_data(name)
            # a recreated table restarts generations at 0 — stale
            # (name, gen) cache entries would serve the DROPPED
            # table's file lists for colliding keys
            self._fl_cache = {
                k: v for k, v in self._fl_cache.items() if k[0] != name
            }

    def _delete_all_data(self, name: str) -> None:
        """Remove every artifact of a table in either commit mode: the
        rename-mode plain dir, and the filelist batch dirs + manifest
        log."""
        self._fs_delete(self._path(name))
        self._fs_delete(self._fl_root(name))
        self._fs_delete(self._manifest_dir(name))

    def convert_to_filelist(self, name: str) -> None:
        """Adopt a table written under rename mode into the filelist
        log — Delta's ``CONVERT TO DELTA``. A filelist catalog refuses
        every other operation on such a table until this has run.

        The plain dir's rows are read with the declared schema (hive
        discovery restores the partition columns from the dir names)
        and committed as the first generation through the full-rewrite
        path, so no manifest points at a hive-layout file. Only then is
        the plain dir deleted: a crash before the commit leaves a table
        that converts again.

        A table already in the log only loses a leftover plain dir,
        unless its current snapshot lists files there
        (:meth:`_fl_lists_plain_dir`): those rows are re-committed the
        same way first, and earlier generations that list them can no
        longer be read.

        A rival converter that commits first makes this call fail: with
        :class:`ConcurrentWriteError` while this call stages (its batch
        is deleted), or with a Spark read error once the rival has
        deleted the plain dir, which can leave a partly written,
        unreferenced batch dir for :meth:`vacuum` to collect.
        """
        if self.commit_mode != "filelist":
            raise ValueError("convert_to_filelist() requires commit_mode='filelist'")
        meta = self._meta(name)
        fs, plain = self._hfs(self._path(name))
        if not fs.exists(plain):
            return
        target = self._next_gen(name)  # pinned before the base read
        cur = self._current_gen(name)
        read = self.spark.read.schema(self._with_ingest(meta.struct))
        if cur < 0:
            self._rewrite_table_filelist(
                name, read.parquet(self._path(name)), target_gen=target
            )
        else:
            files = self._fl_snapshot(name, cur)[0]
            if self._fl_lists_plain_dir(name, files):
                rows = read.parquet(*[self._fl_abs(f) for f in files])
                self._rewrite_table_filelist(name, rows, target_gen=target)
        self._fs_delete(self._path(name))
        self.spark.catalog.refreshByPath(self._path(name))

    # ---- write path ----
    @staticmethod
    def _with_ingest(schema: T.StructType) -> T.StructType:
        return T.StructType(list(schema.fields) + [T.StructField(INGEST_COL, T.LongType())])

    def _write(self, name: str, df: DataFrame, mode: str) -> None:
        if mode == "overwrite":
            # EVERY mode routes overwrites through the crash-safe full
            # rewrite: a raw Spark Overwrite deletes the destination
            # before its job commits, leaving no complete copy. The data
            # is independent of the base, so a lost filelist commit race
            # just re-pins and retries — no recompute.
            self._with_occ_retry(name, lambda: self._rewrite_table(name, df))
            return
        if self.commit_mode == "filelist":
            bdir, files, stats = self._fl_write_batch(name, df)
            try:
                self._fl_commit_append(name, files, stats)
            except LookupError:
                self._fs_delete(bdir)  # raised before the commit: garbage
                raise
            self._refresh(name)
            return
        meta = self._meta(name)
        writer = df.write.mode(mode)
        # rename mode appends into the live dir's hive year=.../
        # subdirs (rewrites keep that layout too, _rewrite_table), so a
        # year-filtered scan prunes at file-listing time
        if meta.partition_keys:
            writer = writer.partitionBy(*meta.partition_keys)
        writer.parquet(self._path(name))
        self._refresh(name)

    def _refresh(self, name: str) -> None:
        # Spark caches parquet file listings per path; a rewrite that
        # deletes files would otherwise poison later scans in the same
        # session (FAILED_READ_FILE.FILE_NOT_EXIST).
        if self.commit_mode == "filelist":
            self.spark.catalog.refreshByPath(self._fl_root(name))
            return
        self.spark.catalog.refreshByPath(self._path(name))

    def insert(self, name: str, df: DataFrame, mode: str = "append") -> int:
        """Append rows; stamps a monotone _ingest_seq for upsert
        ordering and returns the seq it stamped."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        meta = self._meta(name)
        cols = [f.name for f in meta.struct.fields]
        batch = self._apply_generated(name, df).select(*cols)
        gated = bool(self.constraints(name))
        if gated:
            # Pin ONE materialization: the gate and the write are
            # separate jobs, and a non-deterministic batch (rand(),
            # sample(), a source mutated between jobs) could otherwise
            # pass validation yet persist different, violating rows.
            batch = batch.persist()
        try:
            self._check_constraints(name, batch)  # gate BEFORE any write
            seq = self._take_seq()
            out = batch.withColumn(INGEST_COL, F.lit(seq).cast("long"))
            self._write(name, out, mode)
        finally:
            if gated:
                batch.unpersist()
        return seq

    def upsert(self, name: str, df: DataFrame) -> None:
        """insert + optimize, with one shortcut for an empty base.

        The rule is the same in every commit mode. When the pre-insert
        base is provably empty (:meth:`_upsert_empty_base_token`), the
        batch is the table's entire content, so the only possible
        duplicates are inside it: one narrow groupBy over the batch's
        key columns decides, and a clean batch skips optimize. Any
        other base — and any dirt, or any rival commit detected by the
        post-insert checks — runs the full optimize. The insert itself
        is untouched (a raw append), so every committed byte —
        including the raw pre-optimize generation time travel can
        read — is identical to the slow path's.

        A non-empty base always optimizes. The batch-scoped probe for
        non-empty tables went because no workload exceeds its 256 MB
        gate, and a traced nightly run showed it never fired
        (``fastpath_ratio`` 0)."""
        base = self._upsert_empty_base_token(name)
        seq = self.insert(name, df, mode="append")
        if base is not None and self._upsert_base_undisturbed(name, base):
            expect = base[1] + 1 if base[0] == "gen" else None
            # the post-probe re-check closes the probe-window TOCTOU for
            # BOTH token kinds: filelist re-checks the OCC generation,
            # rename's dir token re-runs the listing + write-UUID check
            # — a rival append landing between the first undisturbed
            # check and the probe's snapshot read carries another
            # ingest seq, so the probe would never examine it
            if not self._batch_dup_probe(name, seq) and (
                self._current_gen(name) == expect
                if expect is not None
                else self._upsert_base_undisturbed(name, base)
            ):
                # no batch-internal dup and no rival commit slipped in
                # while probing — provably no duplicate key exists
                return
        self.optimize(name)

    # upsert empty-base fast path: only read footers for emptiness
    # when the committed bytes could plausibly be zero rows
    _EMPTY_PROBE_MAX_BYTES = 1 << 20

    def _list_parquet_recursive(self, fs, p) -> list[tuple[str, int]]:
        """(path, length) for every parquet data file under ``p``,
        recursively — hive partition subdirs included. The one parquet
        walker: the upsert fast path, rename-mode ``data_files`` and
        filelist batch listing all use it.

        Local roots walk the OS directly: the Hadoop RemoteIterator
        costs one py4j round-trip per file (~1-2 ms each), which turns
        a few-hundred-file table into a half-second listing — measured
        as the dominant cost of the upsert fast path before this
        branch existed."""
        out: list[tuple[str, int]] = []
        pstr = p.toString()
        local = pstr[5:] if pstr.startswith("file:") else pstr
        if "://" not in pstr or pstr.startswith("file:"):
            for dirpath, _dirs, files in os.walk(local):
                for base in files:
                    if base.endswith(".parquet") and not base.startswith(("_", ".")):
                        full = os.path.join(dirpath, base)
                        try:
                            ln = os.path.getsize(full)
                        except OSError:
                            continue  # racing delete: same as FS skip
                        out.append((full, ln))
            return out
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            path = st.getPath().toString()
            base = os.path.basename(path)
            if base.endswith(".parquet") and not base.startswith(("_", ".")):
                out.append((path, st.getLen()))
        return out

    def _upsert_empty_base_token(self, name: str):
        """An opaque pre-insert state token when the table is provably
        empty (and PK-keyed), else None. Proof is metadata-first: a
        committed byte total above _EMPTY_PROBE_MAX_BYTES returns None
        without reading any file (the non-empty common case), otherwise
        the (at most ~1 MB) footprint's row count settles it
        (:meth:`_holds_rows`). In filelist mode it raises what
        :meth:`_fl_current` raises, before the insert writes anything.
        """
        meta = self._meta(name)
        if not meta.primary_keys:
            return None  # optimize() is already a metadata no-op
        if self.commit_mode == "filelist":
            gen, files, _ = self._fl_current(name)
            if files:
                total = 0
                for f in files:
                    fs, p = self._hfs(self._fl_abs(f))
                    try:
                        total += fs.getFileStatus(p).getLen()
                    except Exception:
                        return None
                    if total > self._EMPTY_PROBE_MAX_BYTES:
                        return None
                if self._holds_rows(name, [self._fl_abs(f) for f in files]):
                    return None
            return ("gen", gen)
        # rename: the live table dir. rename mode is single-writer by
        # contract (its rewrite commit has no OCC either); appends are
        # still guarded by the write-UUID check in
        # _upsert_base_undisturbed.
        fs, p = self._hfs(self._path(name))
        if not fs.exists(p):
            return None
        listing = self._list_parquet_recursive(fs, p)
        if sum(ln for _, ln in listing) > self._EMPTY_PROBE_MAX_BYTES:
            return None
        if self._holds_rows(name, [f for f, _ in listing]):
            return None
        return ("dir", frozenset(f for f, _ in listing))

    def _holds_rows(self, name: str, paths: list[str]) -> bool:
        """Whether any of the table's committed data files ``paths``
        holds a row. Local files answer from their parquet footers,
        with no Spark job — a small non-empty table is the common
        upsert target, and a scan would add a job to every such
        upsert. A remote root, or a footer that cannot be read (a
        racing delete, a torn file), falls back to a limit(1) scan."""
        import pyarrow.parquet as pq

        if all("://" not in p or p.startswith("file:") for p in paths):
            try:
                return any(
                    pq.read_metadata(p[5:] if p.startswith("file:") else p).num_rows
                    for p in paths
                )
            except (OSError, ValueError):
                pass  # Spark's scan decides
        return bool(self._raw_table(name).limit(1).count())

    _PART_UUID_RE = re.compile(
        r"^part-\d+-([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})"
    )

    def _upsert_base_undisturbed(self, name: str, token) -> bool:
        """True iff nothing besides our own insert committed since the
        token was taken — i.e. the PK-deduped batch is provably the
        table's entire content and the dup probe can be skipped."""
        if token[0] == "gen":
            # filelist: our append commit pinned _next_gen with OCC —
            # landing at exactly base+1 proves no rival (a rival's
            # commit, or even a torn manifest burning a number, pushes
            # ours past base+1 and we fall back to the full optimize)
            return self._current_gen(name) == token[1] + 1
        _, pre_files = token
        fs, p = self._hfs(self._path(name))
        if not fs.exists(p):
            return False
        current = {path for path, _ in self._list_parquet_recursive(fs, p)}
        if not set(pre_files) <= current:
            return False  # a rival rewrite replaced the token's files
        uuids = set()
        for path in current:
            if path in pre_files:
                continue  # accounted for by the token's own proof
            m = self._PART_UUID_RE.match(os.path.basename(path))
            if m is None:
                return False
            uuids.add(m.group(1))
        # every task of one Spark write job shares the job UUID; two
        # distinct UUIDs mean a rival append slipped in — fall back
        return len(uuids) <= 1

    def _batch_dup_probe(self, name: str, seq: int) -> bool:
        """Whether the just-inserted batch (ingest seq ``seq``) holds a
        duplicate primary key. On an empty base the batch is the
        table's entire content, so False proves the table PK-unique.

        One narrow groupBy over the batch's key columns, read from the
        table's root relation filtered on the ingest seq (parquet
        row-group stats prune the scan to the batch's files). Keys stay
        on the executors, so a backfill-sized batch never reaches the
        driver."""
        pks = self._meta(name).primary_keys
        bkeys = (
            self._raw_table(name)
            .filter(F.col(INGEST_COL) == F.lit(seq))
            .select(*pks)
        )
        internal = (
            bkeys.groupBy(*pks)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
        )
        return bool(internal.count())

    def rewrite(self, name: str, build, preserve_layout: bool = False) -> None:
        """Transactionally replace a table with ``build(df)``.

        ``build`` receives the current full table (ingest bookkeeping
        included) and returns the rows to keep/transform; the result is
        committed through the same crash-safe rewrite path as
        ``optimize`` (rename-aside or a filelist manifest commit, per
        ``commit_mode``).
        The transform must preserve the table's schema — deletes are
        filters/anti-joins, so this is the row-level DELETE primitive.
        Losing a manifest-commit race recomputes ``build`` against the
        winner's state (optimistic concurrency, bounded retries).

        ``preserve_layout=True`` (maintenance rewrites: compact,
        z-order) writes ``build``'s output partitioning as-is instead
        of reclustering on the partition keys — the caller's layout IS
        the point of the rewrite.
        """
        self._with_occ_retry(
            name, lambda: self._rewrite_once(name, build, preserve_layout)
        )

    def _rewrite_once(self, name: str, build, preserve_layout: bool = False) -> None:
        full = self._raw_table(name)
        out = build(full)
        if set(out.columns) != set(full.columns):
            raise ValueError(
                f"rewrite must preserve the schema of {name!r}: "
                f"got {sorted(out.columns)}, want {sorted(full.columns)}"
            )
        self._rewrite_table(name, out.select(*full.columns), preserve_layout)

    def _with_occ_retry(self, name: str, fn, attempts: int = 3):
        """Run a rewrite, recomputing from the CURRENT table state
        after each lost manifest-commit race. Every retry re-reads
        through :meth:`_raw_table`, so the winner's rows are the new
        base — stale staged data is never re-committed."""
        for attempt in range(attempts):
            try:
                return fn()
            except ConcurrentWriteError:
                if attempt == attempts - 1:
                    raise
                self._refresh(name)

    def delete_matching(self, name: str, keys: DataFrame, on: str | list[str]) -> None:
        """Delete every row whose ``on`` columns match a row in ``keys``.

        A distributed left-anti join — never collects the key set to
        the driver — committed atomically via :meth:`rewrite`. Under
        filelist mode the commit is file-surgical: only files holding
        a matching row are rewritten (see :meth:`_fl_apply_changes`).
        """
        cols = [on] if isinstance(on, str) else list(on)
        if self.commit_mode == "filelist":
            meta = self._meta(name)
            key_df = keys.select(*cols)
            self._with_occ_retry(
                name,
                lambda: self._fl_apply_changes(name, meta, key_df, cols, None),
            )
            return
        self.rewrite(name, lambda df: df.join(keys.select(*cols), cols, "left_anti"))

    def merge(
        self,
        name: str,
        source: DataFrame,
        on: str | list[str] | None = None,
        delete_col: str | None = None,
    ) -> None:
        """MERGE the ``source`` batch into the table (CDC apply-changes).

        Delta-style row semantics in one atomic commit:

        - target rows matched by a source row are REPLACED by it
          (whole-row update — for partial-column updates, join the old
          values into ``source`` first);
        - matched source rows whose ``delete_col`` is true DELETE the
          target row (the CDC tombstone pattern);
        - unmatched source rows are INSERTED (unless tombstoned);
        - unmatched target rows are untouched.

        ``on`` defaults to the table's primary keys. A source with two
        rows for one key is rejected (the match would be ambiguous —
        same contract as Delta's MERGE); pre-dedupe CDC batches with
        ``row_number`` on the change sequence first.

        Versus ``upsert`` (append + optimize): merge supports deletes,
        never persists superseded rows, and performs exactly one
        commit. Scale shape: the source is typically an incremental
        batch orders of magnitude smaller than the table, so the
        duplicate-key probe and the anti-join against target keys are
        cheap. In rename mode the commit is the full table rewrite; in
        filelist mode it rewrites only the files holding a matched key
        (:meth:`_fl_apply_changes`).
        """
        meta = self._meta(name)
        keys = [on] if isinstance(on, str) else list(on or meta.primary_keys)
        if not keys:
            raise ValueError(f"merge needs key columns: {name!r} has no primary keys")
        cols = [f.name for f in meta.struct.fields]
        missing = [c for c in keys if c not in cols]
        if missing:
            raise ValueError(f"merge keys {missing} not in table schema {cols}")
        flag = (
            F.col(delete_col).cast("boolean") if delete_col is not None else F.lit(False)
        )
        # Pin ONE materialization of the source: the duplicate-key
        # probe, the constraint gate, and the rewrite are separate
        # jobs — a non-deterministic source could pass the probes yet
        # commit different rows (including duplicate keys).
        src = self._apply_generated(name, source).select(
            *cols, F.coalesce(flag, F.lit(False)).alias("__del")
        ).persist()
        try:
            if src.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n")).filter(
                F.col("__n") > 1
            ).limit(1).count():
                raise ValueError(
                    f"merge source has multiple rows for one ({', '.join(keys)}) key; "
                    "the match is ambiguous — dedupe the batch first"
                )
            incoming = src.filter(~F.col("__del")).drop("__del")
            self._check_constraints(name, incoming)  # same gate as insert
            seq = self._take_seq()
            survivors = incoming.withColumn(INGEST_COL, F.lit(seq).cast("long"))
            src_keys = src.select(*keys)

            if self.commit_mode == "filelist":
                # file-surgical apply-changes: only files holding a
                # matched key are rewritten (see _fl_apply_changes)
                self._with_occ_retry(
                    name,
                    lambda: self._fl_apply_changes(
                        name, meta, src_keys, keys, survivors
                    ),
                )
            else:
                def build(full: DataFrame) -> DataFrame:
                    untouched = full.join(src_keys, keys, "left_anti")
                    return untouched.unionByName(survivors)

                self.rewrite(name, build)
        finally:
            src.unpersist()

    @staticmethod
    def _lww_window(meta: TableMeta):
        """THE last-write-wins rank: (ingest seq desc, content hash
        desc) per primary key — shared by optimize and the change feed
        so the feed always describes the state optimize resolves to."""
        payload = [f.name for f in meta.struct.fields]
        return Window.partitionBy(*meta.primary_keys).orderBy(
            F.desc(INGEST_COL), F.desc(F.xxhash64(*payload))
        )

    def _snapshot_deduped(self, name: str, generation: int) -> DataFrame:
        """:meth:`table_at` with last-write-wins primary-key dedup —
        the state a generation RESOLVES to (see changes_between)."""
        if self.commit_mode == "rename":
            raise ValueError("changes_between() requires commit_mode='filelist'")
        meta = self._meta(name)
        pks = meta.primary_keys
        if not pks:
            return self.table_at(name, generation)
        if self._read_manifest(name, generation) is None:
            raise LookupError(
                f"generation {generation} of {name!r} is not readable "
                "(never committed, or GC'd — raise time_travel to retain more)"
            )
        return (
            self._fl_read(name, generation)
            .withColumn("__rn", F.row_number().over(self._lww_window(meta)))
            .filter(F.col("__rn") == 1)
            .select(*[f.name for f in meta.struct.fields])
        )

    def changes_between(self, name: str, g_from: int, g_to: int) -> DataFrame:
        """Row-level change feed between two snapshots (Delta CDF
        semantics, computed by diffing): one row per changed primary
        key with ``_change_type`` in {insert, delete, update} —
        updates carry the POST-image, deletes the pre-image. Tables
        without primary keys diff whole rows (updates then appear as
        delete+insert pairs). The diff is one full-outer join on the
        key — linear shuffles, no driver materialization — so a
        downstream consumer can replay a table's evolution without the
        writer ever having emitted explicit CDC.

        Each snapshot is LAST-WRITE-WINS deduped on the primary key
        first: filelist generations include pre-optimize append
        commits that legitimately hold several copies of a key, and a
        raw full-outer join would multiply those rows into duplicate,
        contradictory feed entries. The dedup is the same (ingest-seq,
        content-hash) rank optimize itself uses, so the feed describes
        the table STATE each generation resolves to.
        """
        meta = self._meta(name)
        old = self._snapshot_deduped(name, g_from)
        new = self._snapshot_deduped(name, g_to)
        cols = [f.name for f in meta.struct.fields]
        pks = meta.primary_keys or cols
        payload = [c for c in cols if c not in pks]
        # per-side literal markers: presence must not be inferred from
        # key nullness (the join deliberately uses eqNullSafe, so a
        # legitimately-NULL key row would otherwise read as absent and
        # be misreported as an insert)
        o = old.select(
            *[F.col(c).alias(f"__o_{c}") for c in cols],
            F.lit(True).alias("__o_mark"),
        )
        n = new.select(
            *[F.col(c).alias(f"__n_{c}") for c in cols],
            F.lit(True).alias("__n_mark"),
        )
        cond = None
        for k in pks:
            c = F.col(f"__o_{k}").eqNullSafe(F.col(f"__n_{k}"))
            cond = c if cond is None else cond & c
        joined = n.join(o, cond, "full_outer")
        same_payload = F.lit(True)
        for c in payload:
            same_payload = same_payload & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        kind = (
            F.when(F.col("__o_mark").isNull(), F.lit("insert"))
            .when(F.col("__n_mark").isNull(), F.lit("delete"))
            .when(~same_payload, F.lit("update"))
        )
        out_cols = [
            F.when(kind == "delete", F.col(f"__o_{c}")).otherwise(F.col(f"__n_{c}")).alias(c)
            for c in cols
        ]
        return (
            joined.withColumn("_change_type", kind)
            .filter(F.col("_change_type").isNotNull())
            .select(*out_cols, "_change_type")
        )

    def vacuum(self, name: str, older_than_hours: float = 168.0) -> list[str]:
        """Collect filelist crash debris: batch dirs NO log manifest
        references, older than the age margin.

        The commit-time GC deliberately never touches unreferenced
        dirs — they are indistinguishable from an in-flight writer's
        staging area. VACUUM closes that loop offline the way Delta's
        does: an unreferenced dir whose newest file is older than
        ``older_than_hours`` provably belongs to a writer that died
        (no write survives a week in flight). Returns the deleted
        dirs. Keep the margin far above the longest plausible write;
        a too-small margin can delete an in-flight batch, which fails
        that writer's commit but never corrupts committed data.
        """
        if self.commit_mode != "filelist":
            raise ValueError("vacuum() requires commit_mode='filelist'")
        self._meta(name)
        referenced: set[str] = set()
        for g in self._manifest_gens(name):
            doc = self._read_manifest(name, g)
            # raw MENTIONS, not resolved snapshots: a batch dir named
            # by any surviving log entry (checkpoint set, delta add or
            # remove) stays protected even when that entry's replay
            # base is gone — vacuum only ever collects dirs no log
            # entry knows about
            for rel in self._manifest_refs(doc) if doc else []:
                # first path segment under the data root = batch dir
                parts = rel.split("/")
                if len(parts) >= 2:
                    referenced.add(parts[1])
        import time as _time

        cutoff_ms = (_time.time() - older_than_hours * 3600) * 1000
        deleted = []
        fs2, droot = self._hfs(self._fl_root(name))
        if fs2.exists(droot):
            for st in fs2.listStatus(droot):
                if not st.isDirectory():
                    continue
                bn = st.getPath().getName()
                if bn in referenced:
                    continue
                newest = max(
                    (f.getModificationTime() for f in fs2.listStatus(st.getPath())),
                    default=st.getModificationTime(),
                )
                if newest < cutoff_ms:
                    fs2.delete(st.getPath(), True)
                    deleted.append(bn)
        return deleted

    @staticmethod
    def _col_kind(dtype: T.DataType) -> str:
        """Comparator family for a stats column. The comparator MUST
        order values the same way the row filter does, or pruning goes
        unsound: 'num' for numerics (float compare is monotone, so
        rounding can never turn a true overlap into a miss); 'time'
        for dates/timestamps (PARSED — ``str(datetime)`` pads
        fractional seconds while Spark's cast-to-string trims them,
        so lexicographic comparison would misprune at boundaries);
        'str' otherwise (exactly the row filter's lexicographic order
        — a numeric-LOOKING string column like '9' vs '10' must NOT
        compare numerically)."""
        if isinstance(
            dtype,
            (T.IntegerType, T.LongType, T.ShortType, T.ByteType,
             T.DoubleType, T.FloatType, T.DecimalType),
        ):
            return "num"
        if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            return "time"
        return "str"

    @staticmethod
    def _stat_le(a, b, kind: str = "num") -> bool:
        """a <= b under the column's comparator family (see
        :meth:`_col_kind`); stats arrive stringified, predicate values
        in their native Python type."""
        if kind == "num":
            try:
                return float(a) <= float(b)
            except (TypeError, ValueError):
                return str(a) <= str(b)
        if kind == "time":
            import datetime as _dt

            def _parse(v):
                if isinstance(v, _dt.datetime):
                    return v
                if isinstance(v, _dt.date):
                    return _dt.datetime.combine(v, _dt.time())
                sv = str(v)
                try:
                    return _dt.datetime.fromisoformat(sv)
                except ValueError:
                    # Python 3.10 fromisoformat only accepts 3- or
                    # 6-digit fractional seconds, while Spark's cast
                    # trims trailing zeros ('...00.5') — pad before
                    # falling back to the (unsound) string compare
                    if "." in sv:
                        head, frac = sv.rsplit(".", 1)
                        if frac.isdigit():
                            return _dt.datetime.fromisoformat(
                                f"{head}.{frac[:6].ljust(6, '0')}"
                            )
                    raise

            try:
                return _parse(a) <= _parse(b)
            except ValueError:
                return str(a) <= str(b)
        return str(a) <= str(b)

    @staticmethod
    def _pred_bounds(spec) -> tuple:
        """Normalize one scan_pruned predicate to interval bounds
        ``(lo, hi, lo_strict, hi_strict)`` (None = unbounded)."""
        if spec is None:
            raise ValueError(
                "scan_pruned got a None predicate — IS NULL filtering is "
                "not a range predicate; filter the scan result instead"
            )
        if not isinstance(spec, tuple):
            return spec, spec, False, False  # scalar = equality
        op, *args = spec
        if op == "between" and len(args) == 2:
            return args[0], args[1], False, False
        if op in (">=", ">", "<=", "<") and len(args) == 1:
            v = args[0]
            if op == ">=":
                return v, None, False, False
            if op == ">":
                return v, None, True, False
            if op == "<=":
                return None, v, False, False
            return None, v, False, True
        raise ValueError(
            f"bad scan_pruned predicate {spec!r}: use a scalar, "
            "('between', lo, hi), ('>=', v), ('>', v), ('<=', v) or ('<', v)"
        )

    @classmethod
    def _range_overlaps(cls, rng, bounds, kind: str = "num") -> bool:
        """Whether a file's recorded [min, max] can hold a row matching
        the normalized predicate ``(lo, hi, lo_strict, hi_strict)``,
        under the column's comparator family ``kind``.
        Must never return False for a file containing a matching row
        (pruning soundness — property-fuzzed in
        tests/test_filelist_catalog.py)."""
        fmin, fmax = rng
        lo, hi, lo_strict, hi_strict = bounds
        if kind == "num":
            # NaN poisons comparisons (every compare is False): Spark
            # min/max order NaN above all numbers, so a file holding a
            # NaN records max="NaN" — pruning on it would drop files
            # whose NUMERIC rows match. Any NaN in play -> keep.
            def _nan(v) -> bool:
                try:
                    f = float(v)
                except (TypeError, ValueError):
                    return False
                return f != f

            if any(_nan(v) for v in (fmin, fmax, lo, hi) if v is not None):
                return True
        if lo is not None and fmax is not None:
            # file entirely below the predicate interval
            if not cls._stat_le(lo, fmax, kind) or (
                lo_strict and cls._stat_le(fmax, lo, kind)
            ):
                return False
        if hi is not None and fmin is not None:
            if not cls._stat_le(fmin, hi, kind) or (
                hi_strict and cls._stat_le(hi, fmin, kind)
            ):
                return False
        return True

    def scan_pruned(self, name: str, **preds) -> DataFrame:
        """Filelist-mode scan with MANIFEST-level file skipping.

        ``preds`` maps columns to predicates — a scalar (equality) or
        a tuple ``("between", lo, hi)`` / ``(">=", v)`` / ``(">", v)``
        / ``("<=", v)`` / ``("<", v)``. Files whose recorded
        [min, max] interval cannot overlap the predicate are dropped
        from the read at PLANNING time — no footer reads, no listing
        (Delta's data-skipping model: pruning metadata lives in the
        log, not the directory tree). Range support matters because
        the date-range scan is the single most common query shape in
        the reference (utils/data.py:13, inclusive ``is_between``).
        Any INDEXED column prunes (partition keys + the first
        ``STATS_COLS_MAX`` scalar columns — :meth:`_stats_columns`),
        so ``optimize_layout``'s z-order clustering composes with
        skipping on the clustered columns. The predicate is re-applied
        to the surviving rows, so the result equals
        ``table(name).filter(...)`` exactly; files without stats (or
        predicates on unindexed columns) are conservatively kept.
        """
        if self.commit_mode != "filelist":
            raise ValueError("scan_pruned() requires commit_mode='filelist'")
        meta = self._meta(name)
        unknown = set(preds) - {f.name for f in meta.struct.fields}
        if unknown:
            raise ValueError(
                f"scan_pruned: unknown columns {sorted(unknown)} on {name!r}"
            )
        bounds = {col: self._pred_bounds(spec) for col, spec in preds.items()}

        def _row_filter(df: DataFrame) -> DataFrame:
            for col, (lo, hi, lo_strict, hi_strict) in bounds.items():
                c = F.col(col)
                if lo is not None:
                    df = df.filter(c > F.lit(lo) if lo_strict else c >= F.lit(lo))
                if hi is not None:
                    df = df.filter(c < F.lit(hi) if hi_strict else c <= F.lit(hi))
            return df

        _, files, stats = self._fl_current(name)
        kinds = {f.name: self._col_kind(f.dataType) for f in meta.struct.fields}
        kept = []
        for rel in files:
            st = stats.get(rel)
            keep = True
            if st:
                for col, b in bounds.items():
                    rng = st.get(col)
                    if (
                        rng
                        and rng[0] is not None
                        and not self._range_overlaps(rng, b, kinds[col])
                    ):
                        keep = False
                        break
            if keep:
                kept.append(self._fl_abs(rel))
        schema = self._with_ingest(meta.struct)
        base = (
            self.spark.read.schema(schema).parquet(*kept)
            if kept
            else self.spark.createDataFrame([], schema)
        )
        return _row_filter(base).select(*[f.name for f in meta.struct.fields])

    # ---- operational maintenance ----
    def data_files(self, name: str) -> list[tuple[str, int]]:
        """(path, bytes) of every live parquet data file."""
        if self.commit_mode == "filelist":
            out = []
            for rel in self._fl_current(name)[1]:
                fs, p = self._hfs(self._fl_abs(rel))
                if fs.exists(p):
                    out.append((p.toString(), fs.getFileStatus(p).getLen()))
            return out
        fs, root = self._hfs(self._path(name))
        return self._list_parquet_recursive(fs, root) if fs.exists(root) else []

    def compact(self, name: str, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Small-file compaction: rewrite the table into ~size-targeted
        files (row content unchanged — this is the NO-dedup sibling of
        ``optimize``, for the append-heavy tables incremental loads
        fragment). File count = ceil(current bytes / target); the
        rewrite commits through the same crash-safe path as every
        other full rewrite. Partitioned tables range-cluster on the
        partition keys first so each hive dir gets contiguous output
        tasks rather than one file per (task x value).
        """
        if target_file_bytes <= 0:
            raise ValueError("target_file_bytes must be positive")
        meta = self._meta(name)
        files = self.data_files(name)
        total = sum(b for _, b in files)
        n = max(1, -(-total // target_file_bytes))
        if len(files) <= n:
            return {"files_before": len(files), "files_after": len(files), "bytes": total}

        def build(full: DataFrame) -> DataFrame:
            if meta.partition_keys:
                return full.repartitionByRange(n, *meta.partition_keys)
            return full.repartition(n)

        # preserve_layout: the computed file-count target IS the point;
        # the filelist write path's default reclustering would replace
        # it with spark.sql.shuffle.partitions files
        self.rewrite(name, build, preserve_layout=True)
        return {
            "files_before": len(files),
            "files_after": len(self.data_files(name)),
            "bytes": total,
        }

    _STATS_TYPES = (
        T.IntegerType, T.LongType, T.ShortType, T.ByteType, T.DoubleType,
        T.FloatType, T.DecimalType, T.StringType, T.DateType, T.TimestampType,
        T.TimestampNTZType, T.BooleanType,
    )

    def analyze(self, name: str, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE: one pass computing row count and per-column
        null count / min / max / approximate distinct count (HLL++),
        stored in the catalog metadata for planners and humans
        (:meth:`stats`). Complex-typed columns (arrays, structs) are
        skipped — they have no meaningful min/max. Scale: a single
        scan with map-side partial aggregation; nothing shuffles but
        the per-column aggregate registers.
        """
        meta = self._meta(name)
        fields = [
            f for f in meta.struct.fields
            if isinstance(f.dataType, self._STATS_TYPES)
            and (columns is None or f.name in columns)
        ]
        if columns is not None:
            missing = set(columns) - {f.name for f in fields}
            if missing:
                raise ValueError(f"cannot analyze {sorted(missing)}: absent or complex-typed")
        df = self.table(name)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for f in fields:
            c = F.col(f.name)
            aggs += [
                F.count(c).alias(f"__nn_{f.name}"),
                F.min(c).cast("string").alias(f"__min_{f.name}"),
                F.max(c).cast("string").alias(f"__max_{f.name}"),
                F.approx_count_distinct(c).alias(f"__ndv_{f.name}"),
            ]
        row = df.agg(*aggs).first()
        stats = {
            "rows": row["__rows"],
            "columns": {
                f.name: {
                    "nulls": row["__rows"] - row[f"__nn_{f.name}"],
                    "min": row[f"__min_{f.name}"],
                    "max": row[f"__max_{f.name}"],
                    "approx_ndv": row[f"__ndv_{f.name}"],
                }
                for f in fields
            },
        }
        with self._lock:
            stats["analyzed_at_seq"] = self._state["next_seq"]
            self._state["tables"][name]["stats"] = stats
            self._save()
        return stats

    def stats(self, name: str) -> dict | None:
        """Stored :meth:`analyze` output, or None if never analyzed.
        Staleness is judged by ``analyzed_at_seq`` vs the current
        ingest sequence."""
        self._meta(name)
        return self._state["tables"][name].get("stats")

    def optimize_layout(self, name: str, cols: list[str], num_files: int = 16, bits: int = 8) -> None:
        """Rewrite the table clustered along the z-order curve of
        ``cols`` (Delta's OPTIMIZE ZORDER BY): files end up covering
        disjoint key intervals, so range predicates on ANY of the
        clustered columns prune files. Numeric columns only — the
        Morton quantization grid needs an ordered metric space.
        Commits atomically through :meth:`rewrite`.
        """
        from nt_data_pipelines_spark.operators.layout import zorder_clustered

        meta = self._meta(name)
        by_name = {f.name: f for f in meta.struct.fields}
        numeric = (T.IntegerType, T.LongType, T.ShortType, T.ByteType,
                   T.DoubleType, T.FloatType, T.DecimalType)
        bad = [c for c in cols if c not in by_name or not isinstance(by_name[c].dataType, numeric)]
        if bad:
            raise ValueError(f"z-order columns must be numeric table columns; bad: {bad}")
        # preserve_layout: the z-order clustering is the product of
        # this rewrite — reclustering on partition keys would shuffle
        # the curve away before writing
        self.rewrite(
            name,
            lambda full: zorder_clustered(full, cols, num_files, bits),
            preserve_layout=True,
        )

    # ---- time travel (filelist mode) ----
    def history(self, name: str) -> list[dict]:
        """Readable snapshots, oldest first: ``[{"generation",
        "n_files"}]``.

        EVERY commit (appends included) is a generation, so history
        starts at table creation. Only generations whose manifest
        resolves and whose files survive GC appear — with
        ``time_travel=N`` that is the current generation plus up to N
        predecessors.
        """
        if self.commit_mode == "rename":
            raise ValueError("history() requires commit_mode='filelist'")
        self._meta(name)
        cur = self._current_gen(name)  # one manifest-dir LIST
        out = []
        for g in range(max(0, cur - KEEP_MANIFESTS), cur + 1):
            resolved = self._fl_resolve(name, g)
            if resolved is None:
                continue  # torn/GC'd, or a delta with no surviving base
            files = resolved[0]
            try:
                readable = not files or self._fl_snapshot_readable(name, g, files, cur)
            except LookupError:
                # readability unverifiable (a torn RETAINED gen blocks
                # the keep-set): a LISTING skips the row — same
                # treatment as a torn gen itself — while
                # table_at/_fl_read keep the loud raise
                readable = False
            if readable:
                out.append({"generation": g, "n_files": len(files)})
        return out

    def table_at(self, name: str, generation: int) -> DataFrame:
        """The table as of ``generation`` (see :meth:`history` for the
        snapshot semantics and retention rules)."""
        if self.commit_mode == "rename":
            raise ValueError("table_at() requires commit_mode='filelist'")
        meta = self._meta(name)
        if self._read_manifest(name, generation) is None:
            raise LookupError(
                f"generation {generation} of {name!r} is not readable "
                "(never committed, or GC'd — raise time_travel to retain more)"
            )
        df = self._fl_read(name, generation)
        return df.select(*[f.name for f in meta.struct.fields])

    # ---- optimize (PK dedup, last write wins) ----
    def optimize(self, name: str) -> None:
        """PK dedup compaction; recomputes and retries after losing a
        manifest-commit race to a concurrent writer."""
        self._with_occ_retry(name, lambda: self._optimize_once(name))

    def _optimize_once(self, name: str) -> None:
        meta = self._meta(name)
        pks = meta.primary_keys
        if not pks:
            return
        # Dedup rank is GLOBAL over the PK (a key may have copies in
        # several partitions when the PK doesn't determine the
        # partition value — last write must win across all of them).
        # Secondary sort on a content hash: duplicate PKs *within one
        # inserted batch* share an ingest seq, and partition order
        # alone would pick an arbitrary survivor.
        w = self._lww_window(meta)
        if self.commit_mode == "filelist":
            # File-level incremental OPTIMIZE (the Delta shape): only
            # files holding a copy of a duplicated key are rewritten;
            # every clean file carries over BY REFERENCE in the next
            # manifest.
            self._optimize_filelist_incremental(name, meta, pks, w)
            return
        full = self._raw_table(name)
        dup_keys = (
            full.groupBy(*pks).agg(F.count(F.lit(1)).alias("__n")).filter(F.col("__n") > 1)
        )
        if meta.partition_keys:
            # partitions holding any copy of a duplicated key must be
            # rewritten (winners kept, losers dropped everywhere)
            dirty = (
                full.join(dup_keys.select(*pks), pks, "left_semi")
                .select(*meta.partition_keys)
                .distinct()
            )
            if dirty.limit(1).count() == 0:
                return
            deduped_dirty = (
                full.join(F.broadcast(dirty), meta.partition_keys, "left_semi")
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            # Partitions whose every row lost the dedup get no rows in
            # the dynamic overwrite — clear their files explicitly,
            # located via input_file_name (no path reconstruction).
            survivors = deduped_dirty.select(*meta.partition_keys).distinct()
            emptied = dirty.join(survivors, meta.partition_keys, "left_anti")
            # input_file_name() only resolves on a single source — tag
            # files before the semi join against the emptied set.
            tagged = full.withColumn("__f", F.input_file_name())
            empty_files = [
                r["__f"]
                for r in tagged.join(F.broadcast(emptied), meta.partition_keys, "left_semi")
                .select("__f")
                .distinct()
                .collect()
            ]
            self._rewrite_partitions(name, meta, deduped_dirty)
            for f in empty_files:
                self._fs_delete(f)
            if empty_files:
                self._refresh(name)
        else:
            if not dup_keys.limit(1).count():
                return
            deduped = (
                full.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            self._rewrite_table(name, deduped)

    def _abs_to_rel(self, name: str, abs_path: str) -> str:
        """Root-relative manifest path from input_file_name() output
        (scheme-qualified absolute), via the table's ``<t>.data/``
        marker — same convention as :meth:`_fl_list_parquet`."""
        idx = abs_path.rfind(os.path.basename(self._fl_root(name)) + "/")
        if idx < 0:
            raise ValueError(f"path {abs_path!r} is not under table {name!r}")
        return abs_path[idx:]

    def _optimize_filelist_incremental(
        self, name: str, meta: TableMeta, pks: list[str], w
    ) -> None:
        """File-level incremental OPTIMIZE (Delta's OPTIMIZE shape).

        Rewrites ONLY the files that hold a copy of a duplicated
        primary key; clean files carry over by reference. At 100 TB an
        incremental load dirties a handful of files — this compacts
        those, not the table. Correctness: every copy of a duplicated
        key lives in a dirty file BY DEFINITION, so the global
        last-write-wins rank computed over dirty-file rows alone sees
        all contenders.

        Commit protocol mirrors the append path's OCC ordering: the
        target generation is pinned BEFORE the base manifest is read,
        so a rival landing in between takes our pinned number, the
        exclusive manifest create collides, and the caller's OCC retry
        recomputes dup detection against the rival's state. Older
        snapshots keep referencing the pre-optimize files until
        retention GC drops them (shared-file economics intact).
        """
        target = self._next_gen(name)
        gen, files, base_stats = self._fl_current(name)
        if gen >= target:
            raise ConcurrentWriteError(
                f"optimize of {name!r} raced a rival past its pinned generation"
            )
        if not files:
            return
        schema = self._with_ingest(meta.struct)
        base = self.spark.read.schema(schema).parquet(
            *[self._fl_abs(f) for f in files]
        )
        dup_keys = (
            base.groupBy(*pks)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .select(*pks)
        )
        tagged = base.withColumn("__f", F.input_file_name())
        # one short string per dirty FILE reaches the driver — the
        # same driver-size class as data_files()/manifest handling
        dirty_abs = [
            r["__f"]
            for r in tagged.join(dup_keys, pks, "left_semi")
            .select("__f")
            .distinct()
            .collect()
        ]
        if not dirty_abs:
            return
        dirty_rel = {self._abs_to_rel(name, p) for p in dirty_abs}
        if 2 * len(dirty_rel) >= len(files):
            # mostly-dirty table: the surgical path would rewrite
            # nearly everything anyway while paying the per-file
            # bookkeeping — the clustered full rewrite is cheaper and
            # resets file sizes too. KEEPS the pinned target: a rival
            # landing after our base read must collide, not be
            # silently superseded.
            deduped_all = (
                base.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            self._rewrite_table_filelist(name, deduped_all, target_gen=target)
            return
        dirty_df = self.spark.createDataFrame(
            [(p,) for p in dirty_abs], "__f string"
        )
        deduped = (
            tagged.join(F.broadcast(dirty_df), "__f", "left_semi")
            .drop("__f")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        self._fl_commit_surgical(name, target, base_stats, files, dirty_rel, deduped)

    def _fl_commit_surgical(
        self,
        name: str,
        target: int,
        base_stats: dict,
        files: list[str],
        dirty_rel: set[str],
        new_df: DataFrame,
    ) -> None:
        """Shared surgical-commit tail: stage ``new_df`` as a batch,
        commit manifest ``target`` = (files − dirty) + staged; a lost
        race deletes the staged batch and surfaces the OCC signal.

        The commit is a DELTA (remove=dirty, add=staged) — O(touched
        files) payload, the apply-changes economics the docstring above
        promises — except when ``target`` lands on the checkpoint
        cadence, where the full resolved set is materialized so later
        replays stay O(FL_CHECKPOINT_INTERVAL), and on an empty base,
        which may have no checkpoint below it for a delta to replay
        from (no valid manifest yet) and costs nothing extra."""
        bdir, new_files, new_stats = self._fl_write_batch(name, new_df)
        try:
            if target % FL_CHECKPOINT_INTERVAL == 0 or not files:
                kept_set = set(files) - set(dirty_rel)
                stats = {f: s for f, s in base_stats.items() if f in kept_set}
                stats.update(new_stats)
                self._commit_manifest(
                    name, target, files=sorted(kept_set | set(new_files)),
                    file_stats=stats,
                )
            else:
                self._commit_manifest(
                    name, target,
                    add=sorted(new_files), remove=sorted(dirty_rel),
                    add_stats=new_stats,
                )
        except ConcurrentWriteError:
            self._fs_delete(bdir)  # our staged batch is garbage
            raise
        self._fl_gc(name, target)
        self._refresh(name)

    def _fl_apply_changes(
        self,
        name: str,
        meta: TableMeta,
        src_keys: DataFrame,
        keys: list[str],
        survivors: DataFrame | None,
    ) -> None:
        """File-surgical MERGE/DELETE commit for filelist tables.

        Files containing a row matching ``src_keys`` on ``keys`` are
        replaced by (their rows anti-join src_keys) ∪ ``survivors``;
        clean files carry over BY REFERENCE. This is Delta's
        apply-changes shape: a CDC batch touching 0.1% of keys
        rewrites ~0.1% of files, not the table. NULL-key target rows
        never match a plain equi-join, so they are never dirty — the
        same semantics as the full-rewrite path's anti-join.

        OCC ordering as everywhere: target generation pinned BEFORE
        the base manifest is read; a rival commit collides our
        exclusive create and the caller's retry recomputes against
        the rival's state. Mostly-dirty batches fall back to the
        clustered full rewrite.
        """
        target = self._next_gen(name)
        gen, files, base_stats = self._fl_current(name)
        if gen >= target:
            raise ConcurrentWriteError(
                f"merge into {name!r} raced a rival past its pinned generation"
            )
        schema = self._with_ingest(meta.struct)
        if not files:
            if survivors is None:
                return  # delete against an empty file set: no-op
            self._fl_commit_surgical(name, target, {}, [], set(), survivors)
            return
        base = self.spark.read.schema(schema).parquet(
            *[self._fl_abs(f) for f in files]
        )
        tagged = base.withColumn("__f", F.input_file_name())
        dirty_abs = [
            r["__f"]
            for r in tagged.join(src_keys, keys, "left_semi")
            .select("__f")
            .distinct()
            .collect()
        ]
        dirty_rel = {self._abs_to_rel(name, p) for p in dirty_abs}
        if 2 * len(dirty_rel) >= len(files):
            # mostly-dirty: clustered full rewrite, at the PINNED
            # target (see _optimize_filelist_incremental's fallback)
            untouched = base.join(src_keys, keys, "left_anti")
            out = (
                untouched.unionByName(survivors)
                if survivors is not None
                else untouched
            )
            self._rewrite_table_filelist(name, out, target_gen=target)
            return
        if dirty_abs:
            dirty_df = self.spark.createDataFrame(
                [(p,) for p in dirty_abs], "__f string"
            )
            replaced = (
                tagged.join(F.broadcast(dirty_df), "__f", "left_semi")
                .drop("__f")
                .join(src_keys, keys, "left_anti")
            )
            new_df = (
                replaced.unionByName(survivors) if survivors is not None else replaced
            )
        else:
            if survivors is None:
                return  # pure delete with nothing matching: no-op
            new_df = survivors  # insert-only merge: plain batch append
        self._fl_commit_surgical(name, target, base_stats, files, dirty_rel, new_df)

    def _rewrite_partitions(self, name: str, meta: TableMeta, deduped_dirty: DataFrame):
        """Replace exactly the partitions present in ``deduped_dirty``.

        Staged through a compact dir (Spark cannot overwrite a path it
        is reading), then committed with dynamic partition overwrite —
        Spark handles partition-path encoding, so values with spaces /
        slashes / nulls land where scans expect them.
        """
        staging = self._path(name) + ".compact"
        self._fs_delete(staging)
        deduped_dirty.write.mode("overwrite").parquet(staging)
        staged = self.spark.read.schema(self._with_ingest(meta.struct)).parquet(staging)
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*meta.partition_keys)
            .parquet(self._path(name))
        )
        self._fs_delete(staging)
        self._refresh(name)

    def _clear_dropped(self, name: str) -> None:
        """A completed FULL rewrite rewrote every live file, so dropped
        columns are physically gone from the CURRENT state — clear the
        add_column tombstones, but only when no retained time-travel
        snapshot can still reference pre-drop files (table_at on such
        a snapshot would otherwise resurrect the dropped values, or
        die on a type mismatch, after a later add_column)."""
        if self.time_travel:
            return
        with self._lock:
            entry = self._state["tables"].get(name)
            if entry and entry.get("dropped_columns"):
                entry["dropped_columns"] = []
                self._save()

    def _rewrite_table(
        self, name: str, deduped: DataFrame, preserve_layout: bool = False
    ) -> None:
        """Full-table rewrite: filelist mode commits a manifest
        (:meth:`_rewrite_table_filelist`), rename mode a rename-aside.

        ``preserve_layout`` only affects filelist mode (no hive dirs):
        rename mode MUST partitionBy to keep the hive layout, and
        within each hive dir the caller's task partitioning already
        dictates the file split.

        Protocol: write staging -> rename live aside (.old) -> rename
        staging into place -> delete .old. Every intermediate crash
        state keeps a COMPLETE copy of the table on disk: before the
        second rename the data lives in .old (and :meth:`_recover`
        restores it on next open); after it, the new table is live and
        .old is garbage. The earlier delete-then-rename left a window
        where the only complete copy sat in .staging with nothing at
        the table path. Note FS rename is only atomic per-rename on
        HDFS/posix; on S3 it's copy+delete, so object stores use
        filelist mode — documented in docs/SCALE.md.
        """
        if self.commit_mode == "filelist":
            self._rewrite_table_filelist(name, deduped, preserve_layout)
            return
        staging = self._path(name) + ".staging"
        old = self._path(name) + ".old"
        # Heal first: if a prior rewrite crashed between its two
        # renames, .old holds the ONLY complete copy — deleting it
        # below would lose the table. After _recover, any surviving
        # .old is provably stale garbage.
        self._recover(name)
        self._fs_delete(staging)
        self._fs_delete(old)
        meta = self._meta(name)
        writer = deduped.write.mode("overwrite")
        if meta.partition_keys:
            # keep the hive layout through full rewrites — a plain
            # staging dir renamed into place would silently drop
            # partition pruning for every later scan
            writer = writer.partitionBy(*meta.partition_keys)
        writer.parquet(staging)
        fs_live, live = self._hfs(self._path(name))
        if fs_live.exists(live):
            # fresh tables (create's initial overwrite) have no live
            # dir yet — RawLocalFileSystem.rename raises on a missing
            # source rather than returning false
            self._fs_rename(self._path(name), old)
        self._fs_rename(staging, self._path(name))
        self._fs_delete(old)
        self._refresh(name)
        self._clear_dropped(name)

    def _recover(self, name: str) -> None:
        """Heal a crash inside :meth:`_rewrite_table`'s commit window.

        If the table path is missing but ``.old`` exists, the crash hit
        between the two renames — the aside copy is complete and
        current-before-rewrite, so restore it. (If both exist, the
        crash hit after the commit; the leftover ``.old`` is stale and
        removable — handled lazily by the next rewrite's cleanup.)
        """
        if self.commit_mode != "rename":
            return  # filelist commits never leave a headless state
        fs, live = self._hfs(self._path(name))
        _, old = self._hfs(self._path(name) + ".old")
        if not fs.exists(live) and fs.exists(old):
            fs.rename(old, live)
            self._refresh(name)

    # ---- read path ----
    def _raw_table(self, name: str) -> DataFrame:
        meta = self._meta(name)
        self._recover(name)  # heal an interrupted rewrite commit, if any
        if self.commit_mode == "filelist":
            return self._fl_read(name)
        # partition columns come back typed by the declared schema
        return self.spark.read.schema(self._with_ingest(meta.struct)).parquet(self._path(name))

    def table(self, name: str) -> DataFrame:
        """Lazy scan, ingest bookkeeping hidden (the reference's bl.table).

        Acquire a fresh handle after ``optimize``/``upsert``: a
        DataFrame pins its file listing at creation, and optimize may
        rewrite (delete) files underneath it.
        """
        meta = self._meta(name)
        return self._raw_table(name).select(*[f.name for f in meta.struct.fields])

    def query(self, build) -> DataFrame:
        """reference client.query(expr): build(catalog) -> DataFrame."""
        return build(self)
