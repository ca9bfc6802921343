"""``format("hive-streaming")`` — a registered Python Data Source
reproducing the reference's sink registration surface (SURVEY.md §2A-A1:
``HiveSourceProvider.shortName() == "hive-streaming"``,
``META-INF/services/...DataSourceRegister:1``) on Spark 4's Python Data
Source API.

Semantics reproduced from the reference:

- per-task dynamic partition routing by string-typed partition columns
  (``HiveStreamDataWriter.scala:73-83``; string requirement ``:73``)
- staged-write-then-commit transaction per micro-batch (the analogue of
  the TransactionBatch lifecycle, ``HiveWriter.scala:79-138``) — tasks
  stage files, the driver-side ``commit(batchId)`` durably records the
  batch's rename manifest, then atomically renames the staged files
  into the partition directories; a replay that finds the manifest but
  no ledger marker finishes those renames instead of appending again
- batch-id ledger → idempotent replay (upgrade over the no-op epoch
  commit at ``HiveStreamWriter.scala:39-41``)

Unlike the reference's row-at-a-time JSON writes
(``HiveStreamDataWriter.scala:96-100``), data stays columnar end to
end: Spark hands the writer Arrow RecordBatches
(:class:`DataSourceStreamArrowWriter`) and each task writes Parquet
fragments per partition — Hive-style directory layout, readable back
with ``spark.read.parquet`` (partition columns restored by discovery).

This is the compatibility/ergonomics surface; the recommended
high-throughput path is ``streaming.sink.write_stream_to_table``
(foreachBatch into the staged columnar publish of
``streaming.sink.StagedBatchPublisher``, zero Python in the data path).

Trigger modes: micro-batch only — ``availableNow`` (tested end to end
by query ``source_python_datasource_sink``), ``processingTime`` and
the default trigger. Spark's continuous mode
(``RateStreamingExample.scala:81`` in the reference) is NOT supported:
continuous processing only admits Spark's built-in Kafka/console/
memory sinks, not Python Data Source writers (nor ``foreachBatch``) —
the documented deviation of this port (README capability map; SURVEY
§3 entry point 3).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StringType, StructType


@dataclass
class StagedFilesMessage(WriterCommitMessage):
    # (staged_path, final_relative_path) pairs produced by one task
    files: list = field(default_factory=list)


# Characters Hive/Spark escape in partition directory names (Spark's
# ExternalCatalogUtils escape set): without this, a value containing
# '/' or '=' would silently produce a broken directory layout.
_NEEDS_ESCAPE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(i) for i in range(0x20)}

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _escape_partition_value(v) -> str:
    """Hive-style partition-value encoding: NULL →
    ``__HIVE_DEFAULT_PARTITION__``; special characters → ``%XX`` (the
    same encoding Spark's partition discovery unescapes on read)."""
    import pandas as pd

    if not isinstance(v, str) and pd.isna(v):  # None, NaN, pd.NA, NaT
        return _HIVE_NULL
    return "".join(
        f"%{ord(ch):02X}" if ch in _NEEDS_ESCAPE else ch for ch in str(v)
    )


class HiveStreamingDataSource(DataSource):
    """Register with ``spark.dataSource.register(HiveStreamingDataSource)``
    then ``df.writeStream.format("hive-streaming")``.

    Options: ``path`` (table root, required), ``partition.columns``
    (comma-separated, must be string-typed — reference constraint),
    plus the reference's option names (``db``/``table``/``metastore``/
    ``batch.size``/``txn.per.batch``) accepted for compatibility.
    """

    @classmethod
    def name(cls) -> str:
        return "hive-streaming"

    def streamWriter(self, schema: StructType, overwrite: bool):
        opts = dict(self.options)
        path = opts.get("path")
        if not path:
            raise ValueError("hive-streaming sink requires the 'path' option")
        part_cols = [
            c.strip() for c in opts.get("partition.columns", "").split(",") if c.strip()
        ]
        names = [f.name for f in schema.fields]
        for c in part_cols:
            if c not in names:
                raise ValueError(f"partition column '{c}' not in schema {names}")
            if not isinstance(schema[c].dataType, StringType):
                # HiveStreamDataWriter.scala:73 — "We assumed the type of
                # partition column is String"
                raise ValueError(f"partition column '{c}' must be string-typed")
        return HiveStreamingArrowWriter(path, part_cols, names)


class HiveStreamingArrowWriter(DataSourceStreamArrowWriter):
    def __init__(self, path: str, part_cols: list[str], columns: list[str]):
        self.path = path
        self.part_cols = part_cols
        self.columns = columns

    # -- executor side -------------------------------------------------
    def write(self, iterator) -> StagedFilesMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches:
            return StagedFilesMessage(files=[])
        table = pa.Table.from_batches(batches)
        task_id = uuid.uuid4().hex
        staging = os.path.join(self.path, "_staging", task_id)
        files: list = []

        def stage(sub: "pa.Table", rel_dir: str) -> None:
            os.makedirs(os.path.join(staging, rel_dir), exist_ok=True)
            fname = f"part-{uuid.uuid4().hex}.parquet"
            staged = os.path.join(staging, rel_dir, fname)
            pq.write_table(sub, staged, compression="snappy")
            files.append((staged, os.path.join(rel_dir, fname)))

        if not self.part_cols:
            stage(table, "")
        else:
            # dynamic partition routing: one file per partition-value
            # combination present in this task's data. Values are
            # escaped BEFORE grouping: NULL → __HIVE_DEFAULT_PARTITION__
            # (a plain pandas groupby would silently DROP null-keyed
            # rows — data loss) and '/', '=', … → %XX so the directory
            # layout stays valid; Spark's partition discovery decodes
            # both losslessly on read.
            keys = table.select(self.part_cols).to_pandas()
            for c in self.part_cols:
                keys[c] = keys[c].map(_escape_partition_value)
            data = table.drop_columns(self.part_cols)  # Hive layout: values live in dir names
            groups = keys.groupby(self.part_cols, sort=False).groups
            for combo, idx in groups.items():
                combo_t = combo if isinstance(combo, tuple) else (combo,)
                rel_dir = os.path.join(
                    *[f"{c}={v}" for c, v in zip(self.part_cols, combo_t)]
                )
                stage(data.take(pa.array(idx)), rel_dir)
        return StagedFilesMessage(files=files)

    # -- driver side ---------------------------------------------------
    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.path, "_ledger", f"batch-{batch_id}")

    def _manifest(self, batch_id: int) -> str:
        return os.path.join(self.path, "_ledger", f"batch-{batch_id}.manifest")

    def _read_manifest(self, batch_id: int) -> list | None:
        path = self._manifest(batch_id)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def _write_manifest(self, batch_id: int, pairs: list) -> None:
        """Durably record the batch's (staged, final) pairs: write a
        temp file, fsync it, atomically move it into place."""
        path = self._manifest(batch_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump([list(p) for p in pairs], f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(path + ".tmp", path)

    def _write_marker(self, batch_id: int) -> None:
        with open(self._marker(batch_id), "w") as f:
            f.write("committed\n")

    @staticmethod
    def _drop(staged) -> None:
        for path, _rel in staged:
            if os.path.exists(path):
                os.remove(path)

    def commit(self, messages, batchId: int) -> None:
        """Manifest → renames → marker. A crash after the manifest
        leaves a replay that finds it without a marker: the replay
        finishes the manifest's remaining renames and drops its own
        freshly staged copy, so the batch lands exactly once."""
        staged = [f for m in messages if m is not None for f in m.files]
        if os.path.exists(self._marker(batchId)):
            # replayed batch: drop the newly staged duplicates
            self._drop(staged)
            return
        pairs = self._read_manifest(batchId)
        if pairs is None:
            pairs = staged
            self._write_manifest(batchId, pairs)
        else:
            # a previous attempt crashed after its manifest: publish
            # ITS files, not this attempt's (which hold the same rows
            # under new names)
            owned = {path for path, _rel in pairs}
            self._drop(f for f in staged if f[0] not in owned)
        for path, rel in pairs:
            final = os.path.join(self.path, rel)
            if os.path.exists(final):
                continue  # renamed by the crashed attempt
            os.makedirs(os.path.dirname(final), exist_ok=True)
            os.rename(path, final)  # same-filesystem atomic move
        self._write_marker(batchId)
        os.remove(self._manifest(batchId))

    def abort(self, messages, batchId: int) -> None:
        # files a durable manifest lists belong to the replay, which
        # publishes them
        owned = {path for path, _rel in self._read_manifest(batchId) or ()}
        self._drop(
            f for m in messages if m is not None for f in m.files if f[0] not in owned
        )
