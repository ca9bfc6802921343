"""Transaction-log table provider — the ``table.format=txnlog`` backend
of the streaming sink's provider seam (``sink.TABLE_FORMAT_PROVIDERS``).

The reference's example DDL requires a Hive ACID destination
(``HiveStreamingExample.scala:26-31``: ``stored as orc
tblproperties("transactional"="true")``) — a table whose WRITES become
visible through a transactional metadata commit, not through files
appearing in a directory. OSS Spark cannot write Hive ACID tables; this
module maps the same guarantee onto the Delta/Iceberg commit model,
self-contained (no external runtime):

- Data files are written DIRECTLY (no staging renames) under the
  underscore-hidden ``<location>/_shss_data/<unique batch dir>/`` —
  Spark's file listing ignores ``_``-prefixed dirs, so a naive
  ``spark.table(...)`` read of the destination never sees them and a
  crashed half-written batch is invisible garbage, not partial data.
- Visibility is ONE atomic action: exclusive-create of
  ``<location>/_shss_txnlog/<version>.json`` listing the added files.
  The commit carries ``(app_id, batch_id)`` — Delta's
  ``txn appId/version`` idempotent-writes contract — so a replayed
  micro-batch whose previous attempt already committed is recognized
  and skipped WITHOUT any sink-side ledger: the log IS the ledger.
- Readers resolve a SNAPSHOT (the union of committed files at read
  time) via :meth:`TxnLogTable.snapshot`; like Delta/Iceberg, the
  format needs a format-aware reader. Snapshot isolation follows from
  the log: a reader's file list is fixed by the last committed version
  it saw, concurrent commits only ever ADD files it will not list.
- Concurrent writers are detected, not assumed away: two commits
  racing for the same version collide on the exclusive create; the
  loser re-reads the log (re-checking idempotency — the winner may
  have been its own pre-crash attempt) and retries at the next
  version. This is optimistic concurrency, the isolation mechanism
  Hive ACID's metastore locks provide in the reference's world and the
  ``native`` provider only gets from its single-writer contract.

Scale: a commit is ONE driver-side metadata write, O(1) in data size
(vs the native provider's O(files-per-batch) renames), and its metadata
reads cover only the commits that landed since the writer last looked,
not the whole log: a :class:`TxnLogTable` caches the commits it has
parsed (a commit file never changes after its exclusive create) and
probes forward from its cached head, so per-batch commit cost does not
grow with the log's length. Per-file row counts and partition-column
min/max recorded in the commit give
readers Delta-style data skipping without Hive partition directories
(data files carry ALL columns — at 100 TB, stats-based skipping
composes with any partitioning upstream and avoids the small-files
explosion of high-cardinality dynamic partitions).

Exclusive-create atomicity holds on HDFS and POSIX filesystems; object
stores without atomic create need a conditional-put/locking LogStore,
the same deployment caveat Delta documents for S3.

Reference parity: ``HiveStreamWriter.scala:39-41`` (the no-op epoch
commit this replaces), ``HiveWriter.scala:79-138`` (the ACID
transaction lifecycle the commit file plays the role of).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession


class TxnLogError(ValueError):
    """Commit-protocol violation (corrupt log, retry exhaustion)."""


_LOG_DIR = "_shss_txnlog"
_DATA_DIR = "_shss_data"
_COMMIT_RETRIES = 50


class TxnLogTable:
    """Commit log + snapshot resolution for one table location.

    Parsed commits are cached in version order (list index == version),
    with a per-``app_id`` set of committed batch ids. The first refresh
    lists the log directory once and checks the versions run
    contiguously from 0; every later refresh probes forward from the
    cached head and reads only the commits past it. Versions stay
    contiguous by construction — :meth:`append_commit` only ever claims
    head+1 — so the probe needs no listing. Keep one instance per
    writer to carry the cache across batches; a fresh instance replays
    the whole log once."""

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = location.rstrip("/")
        self._jvm = spark.sparkContext._jvm
        self._hconf = spark.sparkContext._jsc.hadoopConfiguration()
        self._commits: list[dict] | None = None  # None until the first listing
        self._batch_ids: dict[str, set[int]] = {}

    # -- Hadoop FS plumbing (works on any DFS, same as the native
    #    provider's StagedBatchPublisher) --------------------------------
    def _path(self, s: str):
        return self._jvm.org.apache.hadoop.fs.Path(s)

    def _fs(self):
        return self._path(self.location).getFileSystem(self._hconf)

    def _log_path(self, version: int) -> str:
        return f"{self.location}/{_LOG_DIR}/{version:020d}.json"

    # -- log reading -----------------------------------------------------
    def read_commit(self, version: int) -> dict:
        fs = self._fs()
        stream = fs.open(self._path(self._log_path(version)))
        raw = self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        stream.close()
        return json.loads(raw)

    def _remember(self, commit: dict) -> None:
        self._commits.append(commit)
        if "batch_id" in commit:
            self._batch_ids.setdefault(commit.get("app_id"), set()).add(
                commit["batch_id"]
            )

    def _refresh(self) -> list[dict]:
        """Bring the cache up to the log's current head; returns it."""
        fs = self._fs()
        if self._commits is None:
            log_dir = self._path(f"{self.location}/{_LOG_DIR}")
            listed = sorted(
                int(st.getPath().getName()[: -len(".json")])
                for st in (fs.listStatus(log_dir) if fs.exists(log_dir) else [])
                if st.getPath().getName().endswith(".json")
            )
            if listed != list(range(len(listed))):
                missing = sorted(set(range(listed[-1] + 1)) - set(listed))
                raise TxnLogError(
                    f"commit log at {self.location} is not contiguous: "
                    f"version(s) {missing[:5]} missing below {listed[-1]}"
                )
            self._commits = []
            for v in listed:
                self._remember(self.read_commit(v))
        while fs.exists(self._path(self._log_path(len(self._commits)))):
            self._remember(self.read_commit(len(self._commits)))
        return self._commits

    def versions(self) -> list[int]:
        return list(range(len(self._refresh())))

    def commits(self) -> list[dict]:
        return list(self._refresh())

    def committed_batch_ids(self, app_id: str) -> set[int]:
        """The idempotency check — Delta's txn appId/version lookup."""
        self._refresh()
        return set(self._batch_ids.get(app_id, ()))

    def commits_after(self, version: int) -> list[dict]:
        """The commits past ``version``, found by probing forward from
        it: no listing and no read of earlier commits (a change-feed
        poll). Bypasses the cache."""
        fs = self._fs()
        out: list[dict] = []
        v = max(version, -1) + 1
        while fs.exists(self._path(self._log_path(v))):
            out.append(self.read_commit(v))
            v += 1
        return out

    def head(self) -> int:
        """The version the next commit claims, as of the last refresh."""
        return len(self._commits or ())

    # -- committing ------------------------------------------------------
    def try_commit(self, version: int, commit: dict) -> bool:
        """Exclusive-create the commit file; False on version collision
        (another writer — or this writer's pre-crash attempt — owns it)."""
        fs = self._fs()
        fs.mkdirs(self._path(f"{self.location}/{_LOG_DIR}"))
        target = self._path(self._log_path(version))
        try:
            out = fs.create(target, False)  # overwrite=False: atomic claim
        except Exception:
            return False
        body = dict(commit)
        body["version"] = version
        out.write(bytearray(json.dumps(body).encode("utf-8")))
        out.close()
        if self._commits is not None and version == len(self._commits):
            self._remember(body)  # we wrote it: no need to read it back
        return True

    def append_commit(self, app_id: str, batch_id: int, add: list[dict]) -> int | None:
        """Optimistic-concurrency commit loop. Returns the committed
        version, or None when (app_id, batch_id) is already in the log
        (idempotent replay — nothing to do)."""
        for _ in range(_COMMIT_RETRIES):
            if batch_id in self.committed_batch_ids(app_id):
                return None
            version = self.head()
            if self.try_commit(
                version, {"app_id": app_id, "batch_id": batch_id, "add": add}
            ):
                return version
            # collision: someone committed this version between the
            # refresh and the create — loop refreshes (reading only the
            # new commits) and re-checks idempotency: the winner may
            # have been this batch's pre-crash attempt
        raise TxnLogError(
            f"commit contention: {_COMMIT_RETRIES} consecutive version "
            f"collisions at {self.location} — too many concurrent writers"
        )

    # -- snapshot reads ----------------------------------------------------
    def snapshot_adds(self, as_of_version: int | None = None) -> list[dict]:
        """The LIVE add actions: replay commits in version order,
        applying ``remove`` lists (compaction commits retire the files
        they rewrote — Delta's add/remove action model).
        ``as_of_version`` replays only commits up to that version —
        TIME TRAVEL, free because the log is immutable; a historical
        snapshot stays readable until vacuum reclaims files the CURRENT
        snapshot no longer references."""
        commits = self._refresh()
        if as_of_version is not None:
            commits = commits[: max(as_of_version + 1, 0)]
        live: dict[str, dict] = {}
        for c in commits:
            for rel in c.get("remove", []):
                live.pop(rel, None)
            for a in c.get("add", []):
                live[a["path"]] = a
        return list(live.values())

    def snapshot_files(
        self,
        predicate: dict | None = None,
        as_of_version: int | None = None,
    ) -> list[str]:
        """Absolute paths of every LIVE committed data file. ``predicate``
        ``{col: value}`` prunes files whose recorded min/max for ``col``
        excludes ``value`` (Delta-style data skipping; files without
        stats for the column are kept — skipping must never be wrong)."""
        files: list[str] = []
        for a in self.snapshot_adds(as_of_version):
            if predicate:
                stats = a.get("stats") or {}
                skip = False
                for col, val in predicate.items():
                    rng = stats.get(col)
                    if rng is not None and not (rng[0] <= val <= rng[1]):
                        skip = True
                        break
                if skip:
                    continue
            files.append(f"{self.location}/{a['path']}")
        return files

    def snapshot(
        self,
        schema,
        predicate: dict | None = None,
        as_of_version: int | None = None,
    ) -> DataFrame:
        """The committed table contents as a DataFrame. ``schema`` is
        the destination's catalog schema (txnlog data files carry every
        column, including the routing columns). ``as_of_version`` reads
        the table as of that commit (time travel)."""
        files = self.snapshot_files(predicate, as_of_version)
        reader = self.spark.read.schema(schema)
        if not files:
            return self.spark.createDataFrame([], schema)
        return reader.parquet(*files)


def _file_stats(local_path: str, cols: list[str]) -> dict | None:
    """Per-file min/max for the routing columns from the parquet footer
    (no data read). Best-effort: stats are an OPTIMIZATION — a file
    without them is always kept by the reader's pruning."""
    if not cols:
        return None
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(local_path).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        out: dict = {}
        for col in cols:
            if col not in idx:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    return None  # partial stats: record none for safety
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                if isinstance(lo, bytes):
                    lo, hi = lo.decode("utf-8", "replace"), hi.decode(
                        "utf-8", "replace"
                    )
                if not isinstance(lo, (str, int, float, bool)):
                    lo, hi = str(lo), str(hi)  # dates etc: JSON-safe
                out[col] = [lo, hi]
        return out or None
    except Exception:
        return None


class TxnLogPublisher:
    """Micro-batch publisher for ``table.format=txnlog`` destinations —
    the provider-seam counterpart of the native ``StagedBatchPublisher``,
    with the commit file playing the Hive ACID transaction's role."""

    def __init__(
        self,
        spark: SparkSession,
        qualified: str,
        part_cols: list[str],
        scope: str,
        location: str,
    ):
        self.spark = spark
        self.qualified = qualified
        self.part_cols = part_cols
        self.scope = scope
        self.log = TxnLogTable(spark, location)

    def publish(self, aligned: DataFrame, batch_id: int) -> dict | None:
        """Returns ``{n_files, bytes, version}`` for a fresh commit,
        None for a replay skip."""
        log = self.log
        if batch_id in log.committed_batch_ids(self.scope):
            return None  # replay of a committed batch: the log IS the marker
        # unique dir per ATTEMPT: a replay after a mid-write crash never
        # collides with (or resumes) the dead attempt's files — those
        # stay unreferenced by any commit, hence invisible, until vacuum
        rel_dir = f"{_DATA_DIR}/b{batch_id}-{uuid.uuid4().hex[:12]}"
        aligned.write.mode("errorifexists").format("parquet").save(
            f"{log.location}/{rel_dir}"
        )
        add = _list_add_entries(log, rel_dir, self.part_cols)
        version = log.append_commit(self.scope, batch_id, add)
        return {
            "n_files": len(add),
            "bytes": sum(int(a.get("size", 0)) for a in add),
            "version": version,
        }

    def vacuum_orphans(self, retention_ms: int = 24 * 3600 * 1000) -> list[str]:
        """Delete data dirs unreferenced by any commit (crashed write
        attempts). The retention window protects IN-FLIGHT writers —
        a dir written but not yet committed is unreferenced too, and
        deleting it would break its imminent commit; anything older
        than the retention is a dead attempt (same contract, and same
        default, as Delta VACUUM's retention). Run out-of-band."""
        import time

        log = self.log
        fs = log._fs()
        data_root = log._path(f"{log.location}/{_DATA_DIR}")
        if not fs.exists(data_root):
            return []
        # LIVE files only: dirs whose every file was retired by a
        # compaction commit become reclaimable too (after the retention
        # window) — Delta VACUUM semantics; old snapshot versions are
        # no longer readable once their retired files are vacuumed.
        referenced = {a["path"].split("/", 2)[1] for a in log.snapshot_adds()}
        cutoff = int(time.time() * 1000) - retention_ms
        removed = []
        for st in fs.listStatus(data_root):
            name = st.getPath().getName()
            if name not in referenced and st.getModificationTime() < cutoff:
                fs.delete(st.getPath(), True)
                removed.append(name)
        return removed


def read_txnlog_table(
    spark: SparkSession,
    db: str,
    table: str,
    predicate: dict | None = None,
    as_of_version: int | None = None,
) -> DataFrame:
    """Snapshot read of a ``table.format=txnlog`` destination: the
    catalog table supplies schema + location (it anchors the
    destination the way the reference's metastore entry does), the
    commit log supplies the committed file set. Like Delta/Iceberg,
    the format needs this format-aware reader — a naive
    ``spark.table(...)`` sees an EMPTY table (data lives under the
    underscore-hidden ``_shss_data/``), never partial data.
    ``as_of_version`` time-travels to any earlier commit (readable
    until vacuum reclaims files the current snapshot dropped)."""
    from .sink import _table_location

    qualified = f"{db}.{table}"
    # drop this session's cached relation first: schema evolution
    # (table.schemaEvolution=addColumns) runs ALTER TABLE inside the
    # foreachBatch CLONE, which cannot invalidate other sessions'
    # relation caches — without the refresh a reader session keeps
    # serving the pre-evolution schema
    spark.catalog.refreshTable(qualified)
    schema = spark.table(qualified).schema
    return TxnLogTable(spark, _table_location(spark, qualified)).snapshot(
        schema, predicate, as_of_version
    )


def compact_txnlog_table(
    spark: SparkSession,
    db: str,
    table: str,
    max_files: int = 8,
    target_bytes_per_file: int = 128 * 1024 * 1024,
    part_cols: list[str] | None = None,
) -> dict:
    """Small-file compaction for ``table.format=txnlog`` destinations —
    the commit-log counterpart of :func:`sink.compact_table` (and of
    Delta OPTIMIZE; the reference delegates this to Hive's
    transactional compactor, ``README.md:74``).

    Rewrites the current snapshot into ``ceil(total_bytes / target)``
    files and commits ONE atomic ``{add, remove}`` action: readers
    before the commit see the old files, readers after see the new —
    never a mix, and never missing data. Appends racing the compaction
    are safe by construction (they only ever ADD files; the commit
    loop re-reads the log on version collision and re-validates that
    every file it is retiring is still live — a concurrent COMPACTOR
    would retire them, which aborts this one loudly).

    Returns ``{"files_before": n, "files_after": m}`` (empty dict when
    the table is already within ``max_files``). Run out-of-band, like
    the native compactor — never inside foreachBatch. Retired files
    stay on disk (old snapshots remain readable) until
    :meth:`TxnLogPublisher.vacuum_orphans` reclaims their dirs past the
    retention window."""
    from .sink import _table_location

    qualified = f"{db}.{table}"
    schema = spark.table(qualified).schema
    log = TxnLogTable(spark, _table_location(spark, qualified))
    adds = log.snapshot_adds()
    if len(adds) <= max_files:
        return {}
    total = sum(int(a.get("size", 0)) for a in adds)
    n_out = max(1, -(-total // target_bytes_per_file))  # ceil
    old_rel = [a["path"] for a in adds]
    files = [f"{log.location}/{p}" for p in old_rel]
    rel_dir = f"{_DATA_DIR}/compact-{uuid.uuid4().hex[:12]}"
    (
        spark.read.schema(schema)
        .parquet(*files)
        .repartition(n_out)
        .write.mode("errorifexists")
        .format("parquet")
        .save(f"{log.location}/{rel_dir}")
    )
    new_add = _list_add_entries(log, rel_dir, part_cols or [])
    retire = set(old_rel)
    for _ in range(_COMMIT_RETRIES):
        live = {a["path"] for a in log.snapshot_adds()}  # refreshes the head
        if not retire <= live:
            raise TxnLogError(
                "concurrent compaction retired files this compaction was "
                f"rewriting ({sorted(retire - live)[:3]}...); re-run against "
                "the new snapshot"
            )
        if log.try_commit(
            log.head(),
            {"compaction": True, "add": new_add, "remove": sorted(retire)},
        ):
            return {"files_before": len(adds), "files_after": len(new_add)}
        # version collision (an append landed): refresh and retry
    raise TxnLogError(
        f"compaction commit contention: {_COMMIT_RETRIES} consecutive "
        f"version collisions at {log.location}"
    )


def read_txnlog_table_changes(
    spark: SparkSession, db: str, table: str, since_version: int = -1
) -> tuple[DataFrame, int]:
    """Incremental change feed — the consumption model Delta's streaming
    source gives downstream pipelines: rows APPENDED strictly after
    ``since_version``, plus the new high-watermark version to persist
    for the next poll. Compaction commits are rewrites, not data
    changes, so their adds are excluded — a consumer never re-sees rows
    it already processed because a compactor rewrote their files
    (``read CHANGES, not FILES``). Exactly-once consumption = process
    the returned frame, then durably store the watermark; a crash
    before the store replays the same closed version range.

    Scale: resolving a poll is O(commits in the range) driver-side
    metadata reads + a parquet scan of only the NEW files."""
    from .sink import _table_location

    qualified = f"{db}.{table}"
    # see read_txnlog_table: pick up addColumns evolution done in the
    # writer's cloned session
    spark.catalog.refreshTable(qualified)
    schema = spark.table(qualified).schema
    log = TxnLogTable(spark, _table_location(spark, qualified))
    commits = log.commits_after(since_version)
    high = since_version + len(commits)
    files: list[str] = []
    for c in commits:
        if c.get("compaction"):
            continue  # rewrite, not new data
        files.extend(f"{log.location}/{a['path']}" for a in c.get("add", []))
    if not files:
        return spark.createDataFrame([], schema), high
    return spark.read.schema(schema).parquet(*files), high


def _list_add_entries(
    log: TxnLogTable, rel_dir: str, part_cols: list[str]
) -> list[dict]:
    """Walk a freshly written data dir and build its commit ``add``
    entries (relative path, size, optional per-file stats)."""
    fs = log._fs()
    out_q = fs.makeQualified(log._path(f"{log.location}/{rel_dir}")).toString()
    add: list[dict] = []
    it = fs.listFiles(log._path(f"{log.location}/{rel_dir}"), True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if p.getName().startswith(("_", ".")):
            continue
        rel = fs.makeQualified(p).toString()[len(out_q) :].lstrip("/")
        entry: dict = {"path": f"{rel_dir}/{rel}", "size": st.getLen()}
        stats = _file_stats(f"{log.location}/{rel_dir}/{rel}", part_cols)
        if stats:
            entry["stats"] = stats
        add.append(entry)
    return add


def merge_txnlog_table(
    spark: SparkSession,
    db: str,
    table: str,
    updates: DataFrame,
    key: str,
    part_cols: list[str] | None = None,
) -> dict:
    """MERGE (upsert-by-key) into a ``table.format=txnlog`` destination
    — Delta MERGE mechanics on the commit log: rows in ``updates``
    replace current rows with the same non-NULL ``key`` (latest write
    wins), rows with unmatched or NULL keys insert. Only the data
    files that actually CONTAIN a matched key are rewritten (their
    surviving rows + every update row land in new files); untouched
    files stay live, so the write cost is O(affected files + updates),
    not O(table). Visibility is ONE atomic ``{add, remove}`` commit:
    readers see the pre-merge or post-merge snapshot, never a mix.

    Like compaction, the commit loop re-validates on version collision
    that every file it retires is still live — a concurrent compactor
    or merge retiring them aborts this merge loudly instead of
    resurrecting replaced rows. Serializability of the MATCH itself is
    also enforced: on collision the loop re-probes every file a
    concurrent commit ADDED since this merge's snapshot read, and if
    any of them contains a matched key the merge aborts (otherwise the
    concurrent append would land unrewritten and leave duplicate keys
    — the WriteSerializable hole Delta's Serializable level closes).
    The probe reads only the newly added files, never the table.
    Returns ``{files_rewritten, files_added, version}``.

    Scale: locating affected files is one equi-join of the snapshot
    (with ``input_file_name``) against the distinct update keys,
    collecting only FILE NAMES (bounded by the file count, never by
    rows); the rewrite reads only affected files. At 100 TB the
    per-file key min/max stats in the commit log let the affected-file
    probe skip the scan entirely for keys outside a file's range —
    the same pruning Delta uses for MERGE."""
    import pyspark.sql.functions as F

    from .sink import _table_location

    qualified = f"{db}.{table}"
    schema = spark.table(qualified).schema
    log = TxnLogTable(spark, _table_location(spark, qualified))
    adds = log.snapshot_adds()
    aligned = updates.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
    touched_rel: list[str] = []
    survivors = None
    if adds:
        files = [f"{log.location}/{a['path']}" for a in adds]
        cur = spark.read.schema(schema).parquet(*files).withColumn(
            "_shss_file", F.input_file_name()
        )
        upd_keys = aligned.select(key).filter(F.col(key).isNotNull()).distinct()
        touched_q = [
            r["_shss_file"]
            for r in cur.join(upd_keys, key)
            .select("_shss_file")
            .distinct()
            .collect()
        ]
        # map qualified URIs back to the commit log's relative paths
        touched_rel = [
            a["path"]
            for a in adds
            if any(q.endswith("/" + a["path"]) for q in touched_q)
        ]
        if touched_rel:
            touched_files = [f"{log.location}/{p}" for p in touched_rel]
            survivors = (
                spark.read.schema(schema)
                .parquet(*touched_files)
                .join(upd_keys, key, "left_anti")
            )
    new_data = (
        aligned if survivors is None else survivors.unionByName(aligned)
    )
    rel_dir = f"{_DATA_DIR}/merge-{uuid.uuid4().hex[:12]}"
    new_data.write.mode("errorifexists").format("parquet").save(
        f"{log.location}/{rel_dir}"
    )
    new_add = _list_add_entries(log, rel_dir, part_cols or [])
    retire = set(touched_rel)
    snap0 = {a["path"] for a in adds}
    has_matchable_keys = (
        aligned.select(key).filter(F.col(key).isNotNull()).limit(1).count()
        > 0
    )
    for _ in range(_COMMIT_RETRIES):
        live = {a["path"] for a in log.snapshot_adds()}  # refreshes the head
        next_v = log.head()
        if not retire <= live:
            raise TxnLogError(
                "concurrent commit retired files this merge was rewriting "
                f"({sorted(retire - live)[:3]}...); re-run against the new "
                "snapshot"
            )
        # serializable conflict check: a concurrent commit may have
        # APPENDED rows whose keys this merge matched — those would
        # land unrewritten and leave duplicate keys. Probe ONLY the
        # files added since our snapshot read (bounded by the racing
        # commit's size, never the table).
        appended = sorted(live - snap0)
        if appended and has_matchable_keys:
            new_files = [f"{log.location}/{p}" for p in appended]
            upd_keys = (
                aligned.select(key).filter(F.col(key).isNotNull()).distinct()
            )
            clashes = (
                spark.read.schema(schema)
                .parquet(*new_files)
                .join(upd_keys, key, "left_semi")
                .limit(1)
                .count()
            )
            if clashes:
                raise TxnLogError(
                    "serializable conflict: a concurrent commit appended "
                    f"rows with keys this merge matched (files {appended[:3]}"
                    "...); re-run the merge against the new snapshot"
                )
            snap0 = live  # probed clean — don't re-probe these files
        if log.try_commit(
            next_v,
            {"merge": True, "add": new_add, "remove": sorted(retire)},
        ):
            return {
                "files_rewritten": len(retire),
                "files_added": len(new_add),
                "version": next_v,
            }
    raise TxnLogError(
        f"merge commit contention: {_COMMIT_RETRIES} consecutive version "
        f"collisions at {log.location}"
    )
