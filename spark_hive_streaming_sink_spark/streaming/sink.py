"""The streaming table sink — PySpark-native rebuild of the reference's
core machinery (SURVEY.md §2A).

Reference behavior being reproduced (file:line cites into
``/root/reference``):

- ``HiveSourceProvider.scala:42-44`` — only Append output mode.
- ``HiveSourceProvider.scala:46-52`` — destination table must already
  exist in the catalog.
- ``HiveSourceProvider.scala:55-58`` — incoming column *name set* must
  equal the destination's (order-insensitive, type-blind).
- ``HiveStreamDataWriter.scala:73-83`` — dynamic partition routing by
  the table's partition columns.
- ``HiveOptions.scala:78-115`` — option names (``db``, ``table``,
  ``batch.size``, ``txn.per.batch``, ``auto.create.partitions``,
  ``metastore``) are accepted for compatibility.

Where we deliberately diverge (SURVEY.md §1.4, §7):

- The reference writes row-at-a-time JSON through the Hive streaming
  API and its epoch ``commit``/``abort`` are no-ops
  (``HiveStreamWriter.scala:39-41``) → at-least-once. We write whole
  micro-batches columnar through a staged publish
  (:class:`StagedBatchPublisher`): stage the batch as parquet under the
  table's own ``_shss_staging`` dir, durably record a rename manifest,
  then publish via idempotent per-file renames → exactly-once table
  contents at EVERY crash point (a replay resumes the manifest instead
  of re-appending). The publisher's batch-id ledger marker is the fast
  replay-skip path; correctness does not depend on its timing.
- Hive ACID/bucketed ORC is a Hive-side storage feature OSS Spark
  cannot write; destinations are Spark-managed partitioned tables
  behind a table-format seam with two providers (see
  ``TABLE_FORMAT_PROVIDERS``): ``native`` maps the reference's ACID
  guarantees onto the staged-rename protocol, ``txnlog`` onto a commit
  log. Both publishers share one contract — ``publish(aligned,
  batch_id)`` returns the batch's stats, or None for a replay — so the
  per-batch writer has one publish path.

Scale posture: each micro-batch is repartitioned by the destination's
partition columns before insert so one task owns one output partition
(bounds small files — the problem Hive compaction solves for the
reference, ``README.md:74``); everything else is columnar and JVM-side.
"""

from __future__ import annotations

import os
import threading
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


class HiveStreamingSinkError(ValueError):
    """Validation error mirroring the reference's IllegalArgumentException /
    AnalysisException cases."""


_LOCAL_METASTORE_HOSTS = {"localhost", "127.0.0.1", "::1", ""}


def _validate_metastore(uri: str | None) -> str | None:
    """The reference REQUIRES a ``metastore`` thrift URI
    (``HiveOptions.scala:89-96``); Spark-native mode resolves tables
    through the session catalog instead (``enableHiveSupport()`` +
    ``spark.sql.hive.metastore.uris`` is the cluster-level way to point
    Spark at an external metastore). Accept the option for
    compatibility, but FAIL LOUDLY on anything this mode cannot honor:
    a malformed URI or a remote metastore host — silently writing to
    the local catalog while the caller believes a remote Hive is the
    destination would be data-placement corruption."""
    if uri is None:
        return None
    if not uri.startswith("thrift://"):
        # same shape check the Hive client applies to hive.metastore.uris
        raise HiveStreamingSinkError(
            f"metastore must be a thrift://host:port URI, got: {uri!r}"
        )
    host = uri[len("thrift://") :].split(":", 1)[0]
    if host not in _LOCAL_METASTORE_HOSTS:
        raise HiveStreamingSinkError(
            f"metastore {uri!r} points at a remote host; this Spark-native "
            "sink resolves tables via the session catalog — configure "
            "spark.sql.hive.metastore.uris + enableHiveSupport() on the "
            "session instead of the sink option"
        )
    return uri


@dataclass
class HiveSinkOptions:
    """Mirrors ``HiveOptions.scala:78-115`` (names kept; batching knobs
    are accepted but subsumed by whole-micro-batch commits)."""

    db: str
    table: str
    metastore: str | None = None  # accepted for compat; unused locally
    txn_per_batch: int = 100
    batch_size: int = 10_000
    auto_create_partitions: bool = True
    schema_evolution: bool = False  # table.schemaEvolution=addColumns
    extra: dict = field(default_factory=dict)

    @classmethod
    def from_options(cls, opts: dict) -> "HiveSinkOptions":
        opts = dict(opts)
        missing = [k for k in ("db", "table") if not opts.get(k)]
        if missing:
            # HiveOptions.scala:89-96: metastore/db/table required; we only
            # require db/table (no external metastore in Spark-native mode).
            raise HiveStreamingSinkError(
                f"Missing required sink option(s): {', '.join(missing)}"
            )
        secured = [k for k in ("principal", "keytab") if opts.get(k)]
        if secured:
            # HiveOptions.scala:61-75 runs a UGI keytab login from these
            # options; a Spark-native sink cannot (and must not) do its own
            # UGI dance per writer. Refuse rather than silently skipping
            # auth on a kerberized cluster.
            raise HiveStreamingSinkError(
                f"Sink option(s) {', '.join(secured)} are not supported: "
                "Kerberos login is cluster-level in Spark — submit the "
                "application with spark-submit --principal/--keytab (or "
                "spark.kerberos.principal/keytab) so every executor holds "
                "delegation tokens, instead of per-sink credentials"
            )
        evolution = str(opts.pop("table.schemaEvolution", "none")).lower()
        if evolution not in ("none", "false", "addcolumns"):
            raise HiveStreamingSinkError(
                f"table.schemaEvolution {evolution!r} is not supported: "
                "use 'addColumns' (new stream columns are added to the "
                "table; existing rows read as NULL) or omit the option "
                "for the reference's strict name-set schema check"
            )
        return cls(
            db=opts.pop("db"),
            table=opts.pop("table"),
            metastore=_validate_metastore(opts.pop("metastore", None)),
            txn_per_batch=int(opts.pop("txn.per.batch", 100)),
            batch_size=int(opts.pop("batch.size", 10_000)),
            auto_create_partitions=str(opts.pop("auto.create.partitions", "true")).lower()
            == "true",
            schema_evolution=evolution == "addcolumns",
            extra=opts,
        )

    @property
    def qualified_name(self) -> str:
        return f"{self.db}.{self.table}"


def validate_destination(
    spark: SparkSession,
    stream_columns: list[str],
    options: HiveSinkOptions,
    output_mode: str = "append",
) -> list[str]:
    """Run the reference's creation-time checks; returns the destination's
    partition columns (for routing)."""
    if output_mode.lower() != "append":
        # HiveSourceProvider.scala:42-44
        raise HiveStreamingSinkError(
            f"Only Append output mode is supported, got: {output_mode}"
        )
    if not spark.catalog.tableExists(options.qualified_name):
        # HiveSourceProvider.scala:46-52
        raise HiveStreamingSinkError(
            f"Destination table {options.qualified_name} does not exist in the catalog; "
            "it must be created before streaming into it"
        )
    dest_cols = [f.name for f in spark.table(options.qualified_name).schema.fields]
    stream_set = set(c.lower() for c in stream_columns)
    dest_set = set(c.lower() for c in dest_cols)
    if options.schema_evolution:
        # evolution mode (opt-in; a deliberate extension OVER the
        # reference's strict name-set check): the stream may carry NEW
        # columns (added to the table at write time, old rows read as
        # NULL) but must still cover every existing destination column
        # — dropping columns silently is a data-loss foot-gun either way
        if not dest_set <= stream_set:
            raise HiveStreamingSinkError(
                "Schema mismatch under table.schemaEvolution=addColumns: "
                f"stream columns {sorted(stream_columns)} do not cover "
                f"table columns {sorted(dest_cols)} (evolution may ADD "
                "columns, never drop them)"
            )
    elif stream_set != dest_set:
        # HiveSourceProvider.scala:55-58 — name-set equality, order-insensitive
        raise HiveStreamingSinkError(
            f"Schema mismatch: stream columns {sorted(stream_columns)} != "
            f"table columns {sorted(dest_cols)}"
        )
    part_cols = [
        c.name for c in spark.catalog.listColumns(options.qualified_name) if c.isPartition
    ]
    return part_cols


class BatchCommitLedger:
    """Batch-id ledger giving idempotent micro-batch commits — the
    upgrade over the reference's no-op epoch commit
    (``HiveStreamWriter.scala:39-41``).

    Markers are small files ``<dir>/<scope>/batch-<id>`` that
    :meth:`StagedBatchPublisher.publish` creates *after* the batch's
    renames; the directory is made on the first marker, so a query
    that never records one (the ``txnlog`` provider, whose commit log
    is its replay anchor) leaves none. ``scope`` namespaces the markers:
    ``ledger.dir`` is documented as shareable and checkpoint-outliving,
    so two queries (or one query re-pointed at a different table)
    using the same directory must not collide on bare batch ids —
    the scope is derived from the destination table plus the query
    name (see :func:`write_stream_to_table`).

    Delivery semantics: the marker is the FAST replay-skip path, not
    the correctness anchor. Exactly-once is carried by the staged
    publish (:class:`StagedBatchPublisher`): a batch whose marker was
    lost to a crash re-enters ``publish``, finds its durable manifest,
    sees every target file already in place, and re-appends nothing.
    The pre-staged-publish design had a one-batch-wide at-least-once
    window here (crash between job commit and marker); the manifest
    closed it — the true exactly-once upgrade over the reference's
    no-op epoch commit (``HiveStreamWriter.scala:39-41``).
    """

    def __init__(self, ledger_dir: str, scope: str = "_global"):
        self.dir = os.path.join(ledger_dir, _slug(scope))

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.dir, f"batch-{batch_id}")

    def committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def record(self, batch_id: int) -> None:
        os.makedirs(self.dir, exist_ok=True)
        with open(self._marker(batch_id), "w") as f:
            f.write("committed\n")


class SinkMetrics:
    """Per-micro-batch sink observability (r10): one small JSON file
    per batch under ``<checkpoint>/_sink_metrics`` — batch id, provider,
    file count, byte volume (from the manifest/commit listing the
    driver produces anyway — no extra data pass), and wall-clock.
    Idempotent under replay (same file, overwritten). Read with
    ``spark.read.json("<checkpoint>/_sink_metrics")`` — the operational
    feed a production pipeline alerts on (batch growth, small-file
    creep, publish latency). The reference exposes none of this beyond
    logs."""

    def __init__(self, metrics_dir: str):
        self.dir = metrics_dir
        os.makedirs(self.dir, exist_ok=True)

    def record(self, batch_id: int, payload: dict) -> None:
        import json as _json

        tmp = os.path.join(self.dir, f".batch-{batch_id}.tmp")
        with open(tmp, "w") as f:
            f.write(_json.dumps({"batch_id": batch_id, **payload}) + "\n")
        os.replace(tmp, os.path.join(self.dir, f"batch-{batch_id}.json"))


def _slug(s: str) -> str:
    """Filesystem-safe ledger scope (dots kept — ``db.table`` reads well)."""
    return "".join(ch if ch.isalnum() or ch in "._-" else "_" for ch in s) or "_global"


# formats a path-based DataFrameWriter can produce files for; anything
# else (notably Provider 'hive' on SerDe tables) must be rejected at
# publisher construction, not at stage time.
_PATH_WRITABLE_FORMATS = {"parquet", "orc", "avro", "json", "csv", "text"}


class StagedBatchPublisher:
    """Exactly-once micro-batch append into a Spark file-format table
    (parquet/ORC/...) via stage → durable manifest → idempotent
    rename-publish.

    Protocol (every step idempotent under replay of the whole batch):

    0. **Replay check**: a batch whose ledger marker exists is already
       in the table — reclaim its staging dir and skip it.
    1. **Stage**: write the aligned batch in the DESTINATION's own file
       format (catalog ``Provider`` — the reference's tables are ORC,
       ``HiveStreamingExample.scala:26-31``) under the table's
       own ``<location>/_shss_staging/<scope>/batch-<id>`` (leading
       ``_`` hides it from Spark's file listing, same convention as
       ``_spark_metadata``; living inside the table location guarantees
       same-filesystem renames). ``mode=overwrite`` makes a re-stage
       after a mid-stage crash self-cleaning.
    2. **Manifest**: list the staged data files, record
       ``[staged-relative-path, table-relative-target]`` pairs, write
       the manifest to a temp file and atomically rename it into place.
       Target names are prefixed ``b<batch_id>-`` so no other batch can
       collide. The manifest is the commit point: it exists exactly
       from staging-complete until after the ledger marker is durable.
    3. **Publish**: per manifest entry, rename staged file → target
       (HDFS/posix rename is atomic per file). A target that already
       exists is a resumed replay — skip it. New partition directories
       are registered with ``ALTER TABLE ADD IF NOT EXISTS PARTITION``
       (idempotent).
    4. **Finish**: refresh the table's cached file index, write the
       ledger marker, then drop the staging dir.

    Crash anywhere before the manifest → replay re-stages (overwrite)
    and nothing reached the table. Crash during/after publish → replay
    finds the manifest, skips every already-renamed target, completes
    the rest: the table converges to exactly one copy of the batch.
    Readers can observe a partially-published batch only while the
    query is down mid-crash (per-file visibility, same class of window
    as FileCommitProtocol's driver-side commitJob loop); it converges
    on restart. This is the atomic-with-data replay detection the
    batch-id ledger alone could not give (its marker write was a
    separate step — see :class:`BatchCommitLedger`).

    Reference comparison: Hive streaming holds metastore transactions
    open per writer and its Spark-side epoch commit is a no-op
    (``HiveStreamWriter.scala:39-41``, at-least-once); here the
    manifest plays the transaction log's role with plain-filesystem
    atomicity, no metastore txn service required.

    Scale: staging is one distributed columnar write job (identical
    cost to the previous ``insertInto``); manifest+renames are
    driver-side METADATA ops, O(files-per-batch) — bounded by the
    pre-publish ``repartition`` on the partition columns.
    """

    def __init__(
        self,
        spark: SparkSession,
        qualified: str,
        part_cols: list[str],
        ledger: BatchCommitLedger,
        scope: str | None = None,
    ):
        self.spark = spark
        self.qualified = qualified
        self.part_cols = part_cols
        self.ledger = ledger
        # the staging path MUST carry the same scope as the ledger: a
        # bare batch-<id> path would let a stale manifest from a crashed
        # run under a DIFFERENT query name / fresh checkpoint (batch ids
        # restart at 0) short-circuit _ensure_staged and silently drop
        # the new batch's data.
        self.scope = scope or qualified
        meta = _table_meta(spark, qualified)
        self.location = meta["Location"].rstrip("/")
        # stage in the destination's own file format so renamed files
        # are indistinguishable from insert-written ones
        self.file_format = meta.get("Provider", "parquet").lower()
        if self.file_format not in _PATH_WRITABLE_FORMATS:
            # Hive-SerDe destinations report Provider 'hive'; a
            # path-based DataFrameWriter cannot produce their files —
            # fail at construction with sink-level guidance instead of
            # an obscure AnalysisException at stage time.
            raise HiveStreamingSinkError(
                f"destination {qualified} has Provider "
                f"{self.file_format!r}, which is not path-writable "
                f"(supported: {sorted(_PATH_WRITABLE_FORMATS)}). "
                "Recreate the destination as a Spark file-format table "
                "(CREATE TABLE ... USING parquet/orc) — Hive-SerDe "
                "tables need the Hive write path this sink replaces"
            )
        self._jvm = spark.sparkContext._jvm
        self._hconf = spark.sparkContext._jsc.hadoopConfiguration()

    def _path(self, s: str):
        return self._jvm.org.apache.hadoop.fs.Path(s)

    def _fs(self):
        return self._path(self.location).getFileSystem(self._hconf)

    def _staging(self, batch_id: int) -> str:
        return f"{self.location}/_shss_staging/{_slug(self.scope)}/batch-{batch_id}"

    def publish(self, aligned: DataFrame, batch_id: int) -> dict | None:
        """Returns ``{n_files, bytes}`` for a fresh publish, None for a
        replay skip."""
        if self.ledger.committed(batch_id):
            # the pre-crash attempt may have died between marker and cleanup
            self.cleanup(batch_id)
            return None
        entries = self._ensure_staged(aligned, batch_id)
        self._publish_entries(entries, batch_id)
        # invalidate this session's cached file index; NB foreachBatch runs
        # in a CLONED session, so concurrent readers in other sessions of an
        # UNPARTITIONED table must refreshTable themselves before reading
        # (partitioned tables see new data via partition metadata)
        self.spark.catalog.refreshTable(self.qualified)
        self.ledger.record(batch_id)
        self.cleanup(batch_id)
        sizes = [e[2] for e in entries if len(e) > 2]
        return {
            "n_files": len(entries),
            "bytes": sum(sizes) if len(sizes) == len(entries) else None,
        }

    def _ensure_staged(self, aligned: DataFrame, batch_id: int) -> list:
        """Stage the batch and durably commit the rename manifest;
        idempotent — an existing manifest short-circuits to its
        entries (the staged files are known complete)."""
        fs = self._fs()
        staging = self._staging(batch_id)
        staging_q = fs.makeQualified(self._path(staging)).toString()
        manifest = self._path(staging + "/_MANIFEST")
        if not fs.exists(manifest):
            # (re)stage — overwrite wipes any partial previous attempt
            w = aligned.write.mode("overwrite").format(self.file_format)
            if self.part_cols:
                w = w.partitionBy(*self.part_cols)
            w.save(staging)
            entries: list[list] = []
            it = fs.listFiles(self._path(staging), True)
            while it.hasNext():
                st = it.next()
                p = st.getPath()
                name = p.getName()
                if name.startswith(("_", ".")):
                    continue  # _SUCCESS etc.
                rel = fs.makeQualified(p).toString()[len(staging_q) :].lstrip("/")
                parent = rel[: -len(name)].rstrip("/")
                target = (f"{parent}/" if parent else "") + f"b{batch_id}-{name}"
                entries.append([rel, target, st.getLen()])
            import json as _json

            tmp = self._path(staging + "/_MANIFEST.tmp")
            out = fs.create(tmp, True)
            out.write(bytearray(_json.dumps(entries).encode("utf-8")))
            out.close()
            if not fs.rename(tmp, manifest):
                raise HiveStreamingSinkError(
                    f"could not commit staging manifest for batch {batch_id}"
                )
        else:
            import json as _json

            stream = fs.open(manifest)
            raw = self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            stream.close()
            entries = _json.loads(raw)
        return entries

    def _publish_entries(self, entries: list, batch_id: int) -> None:
        """Idempotent rename-publish of manifest entries (already-
        published targets are skipped — the replay/resume path)."""
        fs = self._fs()
        staging = self._staging(batch_id)
        new_part_dirs: set[str] = set()
        for entry in entries:
            rel, target = entry[0], entry[1]  # [2]=size (absent pre-r10)
            if "/" in target:
                new_part_dirs.add(target.rsplit("/", 1)[0])
            dst = self._path(f"{self.location}/{target}")
            if fs.exists(dst):
                continue  # already published by the pre-crash attempt
            src = self._path(f"{staging}/{rel}")
            fs.mkdirs(dst.getParent())
            if not fs.rename(src, dst):
                raise HiveStreamingSinkError(
                    f"publish rename failed for batch {batch_id}: {rel} -> {target}"
                )
        if self.part_cols and new_part_dirs:
            unescape = (
                self._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
            )
            needs_recover = False
            specs: list[str] = []
            for pdir in sorted(new_part_dirs):
                spec = []
                for seg in pdir.split("/"):
                    col, _, val = seg.partition("=")
                    if val == "__HIVE_DEFAULT_PARTITION__":
                        # NULL partition value: ADD PARTITION cannot
                        # express it; MSCK-style recovery registers the
                        # default-partition dir and scans map it back
                        # to NULL (same convention the reference's Hive
                        # endpoint uses for NULL partition keys)
                        needs_recover = True
                        spec = []
                        break
                    v = unescape(val).replace("'", "''")
                    spec.append(f"{col}='{v}'")
                if spec:
                    specs.append(f"PARTITION ({', '.join(spec)})")
            if specs:
                # one statement for the whole batch: each statement is
                # a catalog round trip, however many partitions it adds
                self.spark.sql(
                    f"ALTER TABLE {self.qualified} ADD IF NOT EXISTS "
                    + " ".join(specs)
                )
            if needs_recover:
                # one metadata-listing pass, only on NULL-partition
                # batches — a rare shape worth the O(#partitions) scan
                self.spark.catalog.recoverPartitions(self.qualified)

    def cleanup(self, batch_id: int) -> None:
        """Drop the batch's staging dir. Only safe once the ledger
        marker is durable (a manifest must never vanish mid-window);
        best-effort — a leaked dir is re-cleaned on the next replay."""
        try:
            self._fs().delete(self._path(self._staging(batch_id)), True)
        except Exception:  # pragma: no cover - FS hiccup; next pass retries
            pass


# --- pluggable table-format seam ------------------------------------------
#
# The reference's example DDL requires a Hive ACID destination
# (`clustered by (id) into 5 buckets stored as orc
# tblproperties("transactional"="true")`, HiveStreamingExample.scala:26-31).
# OSS Spark cannot write Hive ACID tables, so the design maps the ACID
# guarantees onto providers:
#
#   native (default) — a Spark-managed file-format table (parquet or
#       ORC, per the catalog Provider) + StagedBatchPublisher:
#       atomicity    = per-file renames resumed via the durable manifest
#       consistency  = ALTER TABLE ADD PARTITION after files land
#       isolation    = single-writer-per-destination contract (below)
#       durability   = data files + manifest + ledger on the DFS
#   txnlog — self-contained transaction-log format (r10, VERDICT r9
#       item 2): a lakehouse-style commit model without an external
#       runtime. Data files land invisibly under the underscore-hidden
#       `_shss_data/`; ONE atomic exclusive-create of a commit file
#       makes them visible to snapshot readers; the commit carries
#       (app_id=scope, batch_id) so the log itself is the idempotency
#       ledger, and racing writers collide on the version file —
#       optimistic concurrency, the isolation Hive ACID's metastore
#       locks give the reference. See streaming/txnlog.py.
TABLE_FORMAT_PROVIDERS = {"native", "txnlog"}


def _resolve_provider(options: "HiveSinkOptions") -> str:
    provider = str(options.extra.get("table.format", "native")).lower()
    if provider not in TABLE_FORMAT_PROVIDERS:
        raise HiveStreamingSinkError(
            f"table.format {provider!r} is not available in this build; "
            f"available: {sorted(TABLE_FORMAT_PROVIDERS)}. The provider "
            "seam maps the batch publish onto the format's native "
            "transactional commit (see TABLE_FORMAT_PROVIDERS)"
        )
    return provider


def make_batch_writer(
    options: HiveSinkOptions,
    part_cols: list[str],
    ledger: BatchCommitLedger,
    scope: str | None = None,
    lease: "WriterLease | None" = None,
    txn_app_id: str | None = None,
    metrics: "SinkMetrics | None" = None,
):
    """Build the foreachBatch callable: lease renew → pre-publish checks
    → column align → one exactly-once publish → one metrics record.

    Replaces the reference's per-row path (extract partition values →
    JSON-encode → HiveWriter.write, ``HiveStreamDataWriter.scala:72-106``)
    with one staged columnar parquet job per micro-batch.

    Each provider's publisher owns its replay check: the native one
    skips a batch whose ``ledger`` marker exists, the txnlog one a
    batch its commit log already holds (``ledger`` is unused there).
    The publisher is built on the first batch and reused for the
    writer's life: the destination's location and format are resolved
    once, and a txnlog publisher keeps its parsed commit log between
    batches, so a batch reads only the commits that landed since the
    previous one. A new query builds a new writer and starts from an
    empty cache.
    """
    provider = _resolve_provider(options)
    publisher = None

    def get_publisher(spark: SparkSession):
        nonlocal publisher
        if publisher is None:
            if provider == "txnlog":
                from .txnlog import TxnLogPublisher

                # the app_id must be stable across RESTARTS of one query
                # (so replays dedupe) but distinct across FRESH queries
                # whose batch ids restart at 0 (so a new stream into the
                # same table is an append, not a phantom replay) — the
                # checkpoint identity, not the table name, carries that
                # (see write_stream_to_table).
                publisher = TxnLogPublisher(
                    spark,
                    options.qualified_name,
                    part_cols,
                    scope=txn_app_id or scope or options.qualified_name,
                    location=_table_location(spark, options.qualified_name),
                )
            else:
                publisher = StagedBatchPublisher(
                    spark, options.qualified_name, part_cols, ledger, scope=scope
                )
        return publisher

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        t0 = _time.time()
        spark = batch_df.sparkSession
        if lease is not None:
            # fencing FIRST: a writer that lost its lease to a takeover
            # must fail the batch before touching the destination
            lease.renew()
        if part_cols and not options.auto_create_partitions:
            # HiveOptions.scala:35 / HiveWriter.scala:44 — with
            # auto.create.partitions=false the reference's Hive endpoint
            # rejects rows for partitions that don't exist yet.
            existing = {
                tuple(p.split("/"))
                for (p,) in spark.sql(
                    f"SHOW PARTITIONS {options.qualified_name}"
                ).collect()
            }
            incoming = {
                tuple(f"{c}={r[c]}" for c in part_cols)
                for r in batch_df.select(*part_cols).distinct().collect()
            }
            missing = incoming - existing
            if missing:
                raise HiveStreamingSinkError(
                    f"auto.create.partitions=false and batch {batch_id} contains "
                    f"unknown partition(s): {sorted(missing)}"
                )
        if options.schema_evolution:
            # addColumns evolution: new stream columns extend the table
            # BEFORE alignment (one catalog DDL per new column set,
            # normally once per stream lifetime — not per batch).
            # Existing data files simply lack the column; every reader
            # here scans with the explicit catalog schema, under which a
            # missing parquet column reads as NULL — the same contract
            # lakehouse-format evolution relies on. Partition columns can't
            # be added this way (routing/layout would change under
            # committed files).
            have = {
                f.name.lower() for f in spark.table(options.qualified_name).schema.fields
            }
            new_fields = [
                f for f in batch_df.schema.fields if f.name.lower() not in have
            ]
            if new_fields:
                # Identifiers are backtick-quoted (embedded backticks
                # doubled) so a stream column named with spaces, a
                # reserved keyword, or a stray backtick becomes valid —
                # not injectable — DDL.
                ddl = ", ".join(
                    "`{}` {}".format(
                        f.name.replace("`", "``"), f.dataType.simpleString()
                    )
                    for f in new_fields
                )
                spark.sql(
                    f"ALTER TABLE {options.qualified_name} ADD COLUMNS ({ddl})"
                )
                spark.catalog.refreshTable(options.qualified_name)
        dest_fields = spark.table(options.qualified_name).schema.fields
        # align by NAME and cast to the destination types (the staged
        # files must be type-identical to the table's own files; the
        # reference validates name-sets only, README tells its users to
        # conform order by hand with selectExpr). Casts must fail
        # LOUDLY: under default (non-ANSI) semantics a plain cast turns
        # malformed/overflowing values into silent NULLs in the table —
        # a validation regression vs the old insertInto path, which ran
        # under storeAssignmentPolicy=ANSI. Cast only when types differ,
        # via try_cast + raise_error on a non-NULL source that casts to
        # NULL.
        src_types = {f.name.lower(): f.dataType for f in batch_df.schema.fields}
        cols = []
        for f in dest_fields:
            c = F.col(f.name)
            if src_types.get(f.name.lower()) == f.dataType:
                cols.append(c.alias(f.name))
                continue
            tc = c.try_cast(f.dataType)
            err = F.concat(
                F.lit(
                    f"batch {batch_id}: value not castable to "
                    f"{f.name} {f.dataType.simpleString()}: "
                ),
                c.cast("string"),
            )
            cols.append(
                F.when(c.isNotNull() & tc.isNull(), F.raise_error(err).cast(f.dataType))
                .otherwise(tc)
                .alias(f.name)
            )
        aligned = batch_df.select(*cols)
        if part_cols:
            # one task per output partition → bounded file counts
            aligned = aligned.repartition(*[F.col(c) for c in part_cols])
        stats = get_publisher(spark).publish(aligned, batch_id)
        if stats is not None and metrics is not None:
            metrics.record(batch_id, {
                "provider": provider,
                "wall_ms": int((_time.time() - t0) * 1000),
                **stats,
            })

    return write_batch


# Single-writer-per-destination guard. Two queries streaming into the
# SAME table concurrently would race: each holds its own batch-id
# sequence and ledger scope, so neither ledger can see the other's
# appends, and interleaved dynamic-partition inserts can double-load a
# partition mid-compaction. The contract is therefore HARD:
# one active streaming writer per destination table. This registry
# enforces it within the driver process (fast refusal with the precise
# error); across separate applications the :class:`WriterLease` below
# enforces the same contract at the table location — the role metastore
# txn locks play for Hive streaming's own writers, which OSS Spark
# tables don't have.
_ACTIVE_WRITERS: dict[str, StreamingQuery | None] = {}
_ACTIVE_WRITERS_MU = threading.Lock()
_RESERVED = None  # registry value between claim and successful start()

# process identity for lease ownership: lets a NEW query in this process
# take over its own process's lock (the in-process registry above is
# authoritative here) without waiting for the TTL
_PROCESS_ID = uuid.uuid4().hex[:12]


class WriterLease:
    """Cross-process single-writer FENCING for a destination table —
    the enforcement layer behind the documented single-writer contract
    (r10; the in-process registry above cannot see a second
    APPLICATION). Hive streaming gets this isolation from metastore
    transaction locks (``HiveWriter.scala:79-138``); plain Spark tables
    have no lock service, so the lease lives as
    ``<location>/_shss_writer.lock``:

    - **acquire** — exclusive-create of the lock file carrying
      ``{owner, process}``. A live foreign lock (mtime within the TTL)
      refuses loudly; a STALE one (its holder crashed — no renewals)
      is deleted and re-claimed, with the exclusive create arbitrating
      racing takers. A lock held by THIS process is re-claimed
      immediately — the in-process registry has already proven the
      previous query inactive.
    - **renew** — every micro-batch re-reads the lock FIRST and aborts
      if another owner holds it (fencing: a writer that lost its lease
      to a takeover must fail its batch, not double-append), then
      touches the mtime to keep the lease live.
    - **release** — delete-if-owner, hooked to query termination; a
      crashed writer's lock simply expires.

    TTL default 120 s (option ``writer.lease.ttl.ms``): well above any
    sane trigger interval, so a live writer renews many times per TTL.
    """

    FILE = "_shss_writer.lock"

    def __init__(self, spark: SparkSession, location: str, ttl_ms: int = 120_000):
        self.spark = spark
        self.owner = f"{_PROCESS_ID}-{uuid.uuid4().hex[:12]}"
        self.ttl_ms = ttl_ms
        self._jvm = spark.sparkContext._jvm
        self._hconf = spark.sparkContext._jsc.hadoopConfiguration()
        self._lock = self._jvm.org.apache.hadoop.fs.Path(
            f"{location.rstrip('/')}/{self.FILE}"
        )

    def _fs(self):
        return self._lock.getFileSystem(self._hconf)

    def _read(self) -> tuple[dict, int] | None:
        """(lock body, mtime ms) or None when absent."""
        fs = self._fs()
        try:
            if not fs.exists(self._lock):
                # plain probe — the exception path below would spray a
                # JVM FileNotFoundException stack into user logs
                return None
            st = fs.getFileStatus(self._lock)
            stream = fs.open(self._lock)
            raw = self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            stream.close()
            import json as _json

            return _json.loads(raw), st.getModificationTime()
        except Exception:
            return None

    def _try_create(self) -> bool:
        import json as _json

        fs = self._fs()
        try:
            out = fs.create(self._lock, False)  # exclusive
        except Exception:
            return False
        out.write(
            bytearray(
                _json.dumps({"owner": self.owner, "process": _PROCESS_ID}).encode()
            )
        )
        out.close()
        return True

    def acquire(self) -> None:
        import time as _time

        for _ in range(3):
            cur = self._read()
            if cur is None:
                if self._try_create():
                    return
                continue  # lost the create race: re-read, likely live foreign
            body, mtime = cur
            if body.get("owner") == self.owner:
                return
            same_process = body.get("process") == _PROCESS_ID
            fresh = (_time.time() * 1000 - mtime) < self.ttl_ms
            if fresh and not same_process:
                raise HiveStreamingSinkError(
                    "destination already has a live streaming writer in "
                    f"another application (lease {body.get('owner')!r}, "
                    f"renewed {int(_time.time() * 1000 - mtime)} ms ago): "
                    "the sink is single-writer-per-destination. Stop that "
                    "writer, or wait out its lease TTL if it crashed"
                )
            # stale, or our own process's previous (inactive) query:
            # take over — the exclusive create arbitrates racing takers
            try:
                self._fs().delete(self._lock, False)
            except Exception:
                pass
            if self._try_create():
                return
        raise HiveStreamingSinkError(
            "could not acquire the writer lease (lost repeated takeover "
            "races) — another writer is claiming this destination"
        )

    def renew(self) -> None:
        import time as _time

        cur = self._read()
        if cur is None or cur[0].get("owner") != self.owner:
            raise HiveStreamingSinkError(
                "writer lease lost: another writer holds this destination "
                f"(lock {cur[0].get('owner')!r} != lease {self.owner!r}); "
                "aborting the batch — continuing would double-append"
                if cur
                else "writer lease lost: lock file vanished; aborting the "
                "batch — continuing would race the new claimant"
            )
        self._fs().setTimes(self._lock, int(_time.time() * 1000), -1)

    def release(self) -> None:
        cur = self._read()
        if cur and cur[0].get("owner") == self.owner:
            try:
                self._fs().delete(self._lock, False)
            except Exception:  # pragma: no cover - FS hiccup; TTL covers it
                pass


def _claim_destination(qualified_name: str) -> None:
    with _ACTIVE_WRITERS_MU:
        if qualified_name in _ACTIVE_WRITERS:
            cur = _ACTIVE_WRITERS[qualified_name]
            try:
                still_active = cur is _RESERVED or cur.isActive
            except Exception:
                still_active = False  # JVM-side query object gone
            if still_active:
                raise HiveStreamingSinkError(
                    f"destination '{qualified_name}' already has an active "
                    "streaming writer: the sink is single-writer-per-"
                    "destination (concurrent writers would race the commit "
                    "ledger and double-append batches). Stop the active "
                    "query first, or route the second stream to its own "
                    "table and union downstream."
                )
        _ACTIVE_WRITERS[qualified_name] = _RESERVED


def _bind_destination(qualified_name: str, query: StreamingQuery | None) -> None:
    with _ACTIVE_WRITERS_MU:
        if query is None:
            _ACTIVE_WRITERS.pop(qualified_name, None)  # start failed
        else:
            _ACTIVE_WRITERS[qualified_name] = query


def write_stream_to_table(
    df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    trigger: dict | None = None,
    query_name: str | None = None,
    **options,
) -> StreamingQuery:
    """The engine's ``writeStream.format("hive-streaming")`` equivalent.

    ``df`` must be a streaming DataFrame; ``options`` carry the
    reference's option names (``db``, ``table``, ...). The native
    provider's ledger lives next to the checkpoint so recovery sees it;
    pass ``ledger.dir`` to pin it elsewhere — a ledger that outlives the
    checkpoint keeps the table exactly-once even across a checkpoint
    reset (losing the checkpoint must not double-load the destination);
    the txnlog provider writes no ledger. Markers are
    namespaced per destination table + query name inside the ledger
    dir, so a shared ledger.dir is safe across queries writing to
    DIFFERENT tables. Writing the SAME table is single-writer and
    ENFORCED: a second concurrent writer is refused at start — in this
    driver process by ``_claim_destination``, and across applications
    by the TTL-renewed, fenced :class:`WriterLease` at the table
    location (two writers' ledgers cannot see each other's appends, so
    the lease refuses the second writer instead). Delivery is exactly-once
    at every crash point: the staged publish's durable manifest makes a
    replayed batch resume its renames instead of re-appending (see
    :class:`StagedBatchPublisher`; the ledger marker is the fast skip
    path). ``table.format`` selects the destination provider:
    ``native`` (default) or ``txnlog``, documented at
    ``TABLE_FORMAT_PROVIDERS``.

    Example::

        q = write_stream_to_table(stream_df, "/ckpt/q1", db="default",
                                  table="alerts",
                                  trigger={"availableNow": True})
        q.awaitTermination()
    """
    if trigger and "continuous" in trigger:
        # RateStreamingExample.scala:81 advertises Trigger.Continuous;
        # this engine is micro-batch BY DESIGN (permanent decision, see
        # README "Continuous trigger (B6)"): foreachBatch is
        # incompatible with continuous mode by Spark's API contract,
        # and continuous processing supports no Python Data Source or
        # file sinks. Refuse loudly rather than let Spark fail with an
        # unrelated planner error.
        raise HiveStreamingSinkError(
            "continuous trigger is not supported: the exactly-once sink "
            "commits whole micro-batches via foreachBatch. Use "
            "trigger={'processingTime': '<interval>'} for low latency — "
            "epoch semantics here are stronger than the reference's "
            "no-op continuous commit (at-least-once)"
        )
    opts = HiveSinkOptions.from_options(options)
    spark = df.sparkSession
    part_cols = validate_destination(spark, df.columns, opts, output_mode)
    scope = opts.qualified_name + (f".{query_name}" if query_name else "")
    ledger = BatchCommitLedger(
        opts.extra.get("ledger.dir") or os.path.join(checkpoint_dir, "_commit_ledger"),
        scope=scope,
    )
    lease = WriterLease(
        spark,
        _table_location(spark, opts.qualified_name),
        ttl_ms=int(opts.extra.get("writer.lease.ttl.ms", 120_000)),
    )
    # the txnlog provider dedupes replays by
    # (app_id, batch_id) in the DESTINATION's log, which outlives every
    # checkpoint — so the app_id must fingerprint the query INSTANCE:
    # stable across restarts of one checkpoint (those replays must
    # dedupe), distinct across fresh checkpoints (their batch ids
    # restart at 0 and must append). The checkpoint path is exactly
    # that identity; `txn.app.id` overrides it for checkpoint
    # relocations.
    import hashlib

    txn_app_id = opts.extra.get("txn.app.id") or (
        f"{scope}#{hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]}"
    )
    metrics = None
    if str(opts.extra.get("metrics.enabled", "true")).lower() == "true":
        metrics = SinkMetrics(
            opts.extra.get("metrics.dir")
            or os.path.join(checkpoint_dir, "_sink_metrics")
        )
    writer = (
        df.writeStream.outputMode("append")
        .foreachBatch(
            make_batch_writer(
                opts,
                part_cols,
                ledger,
                scope=scope,
                lease=lease,
                txn_app_id=txn_app_id,
                metrics=metrics,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name:
        writer = writer.queryName(query_name)
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    _claim_destination(opts.qualified_name)
    query = None
    try:
        # inside the try: an acquire failure must also clear the
        # in-process claim, or the destination stays wedged with a
        # _RESERVED entry for the life of the process
        lease.acquire()
        query = writer.start()
    finally:
        _bind_destination(opts.qualified_name, query)
        if query is None:
            lease.release()  # no-op when acquire never succeeded  # start failed
    if query is not None:
        _release_lease_on_termination(spark, str(query.id), lease)
    return query


def _release_lease_on_termination(spark, query_id: str, lease: WriterLease) -> None:
    """Best-effort early lease release on clean query termination (a
    crashed writer's lease simply expires). Same-process re-acquire is
    immediate regardless — the lease's process tag defers to the
    in-process registry — so the listener only shortens CROSS-process
    handover after a clean stop."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class _Release(StreamingQueryListener):
        def onQueryStarted(self, event):  # pragma: no cover - unused hook
            pass

        def onQueryProgress(self, event):  # pragma: no cover - unused hook
            pass

        def onQueryIdle(self, event):  # pragma: no cover - unused hook
            pass

        def onQueryTerminated(self, event):
            if str(event.id) == query_id:
                lease.release()
                try:
                    spark.streams.removeListener(self)
                except Exception:  # pragma: no cover - bus teardown race
                    pass

    spark.streams.addListener(_Release())


def _table_meta(spark: SparkSession, qualified: str) -> dict[str, str]:
    """Catalog metadata rows (Location, Provider, ...) from DESCRIBE
    TABLE EXTENDED — one metadata call, no data scan."""
    meta = {}
    in_info = False
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {qualified}").collect():
        name = (r.col_name or "").strip()
        if name == "# Detailed Table Information":
            # the column section precedes the metadata section — a
            # destination column literally named 'Location'/'Provider'
            # must not poison the table metadata
            in_info = True
            continue
        if in_info and name and r.data_type:
            meta.setdefault(name, r.data_type)
    if "Location" not in meta:
        raise HiveStreamingSinkError(
            f"no Location in catalog metadata for {qualified}"
        )
    return meta


def _table_location(spark: SparkSession, qualified: str) -> str:
    return _table_meta(spark, qualified)["Location"]


def _partition_file_counts(
    spark: SparkSession, qualified: str, pcol: str
) -> dict[str, int]:
    """{first-level partition value: data-file count} via Hadoop
    FileSystem listing of ``<table location>/<pcol>=<value>`` — pure
    metadata, no data scan."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(_table_location(spark, qualified))
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    counts: dict[str, int] = {}
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(f"{pcol}=")):
            continue
        n = 0
        it = fs.listFiles(st.getPath(), True)  # recursive over sub-partitions
        while it.hasNext():
            leaf = it.next().getPath().getName()
            if not leaf.startswith(("_", ".")):
                n += 1
        counts[name.split("=", 1)[1]] = n
    return counts


def compact_table(
    spark: SparkSession,
    db: str,
    table: str,
    max_files_per_partition: int = 4,
) -> dict:
    """Small-file compaction for streaming destinations.

    Many micro-batches → many small files per partition; the reference
    delegates this to Hive's transactional compactor (``README.md:74``).
    Spark-native equivalent: per partition, if the file count exceeds
    the threshold, rewrite that partition's data as one coalesced file
    set via a dynamic partition overwrite (atomic per partition under
    partitionOverwriteMode=dynamic — readers never see partial state).

    Returns {partition_value: n_files_before} for the rewritten ones.
    Run it out-of-band (maintenance job), never inside foreachBatch.
    """
    qualified = f"{db}.{table}"
    part_cols = [c.name for c in spark.catalog.listColumns(qualified) if c.isPartition]
    if not part_cols:
        raise HiveStreamingSinkError(f"{qualified} is not partitioned; nothing to compact")
    pcol = part_cols[0]
    # Count files per partition from the FILESYSTEM LISTING (Hadoop FS
    # API — works on any DFS), never by scanning table data: at scale a
    # maintenance utility must cost O(#partitions) metadata calls, not a
    # full read of the table it is about to rewrite.
    crowded = {
        val: n
        for val, n in _partition_file_counts(spark, qualified, pcol).items()
        if n > max_files_per_partition
    }
    if not crowded:
        return {}
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    vals = list(crowded)
    dest_cols = [f.name for f in spark.table(qualified).schema.fields]
    (
        spark.table(qualified)
        .filter(F.col(pcol).isin(vals))
        .select(*dest_cols)
        .repartition(1, F.col(pcol))
        .write.mode("overwrite")
        .insertInto(qualified)
    )
    return crowded
