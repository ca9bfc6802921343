"""table.format=txnlog provider tests (r10, VERDICT r9 item 2): the
Delta-model commit log — invisibility before commit, atomic visibility,
log-anchored idempotent replay, optimistic-concurrency collisions,
stats-based skipping, vacuum — driven through the same sink machinery
as the native provider's crash suite (tests/test_sink.py)."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest

from spark_hive_streaming_sink_spark.streaming.sink import (
    BatchCommitLedger,
    HiveSinkOptions,
    HiveStreamingSinkError,
    make_batch_writer,
    validate_destination,
    write_stream_to_table,
)
from spark_hive_streaming_sink_spark.streaming.txnlog import (
    TxnLogPublisher,
    TxnLogTable,
    read_txnlog_table,
)
from spark_hive_streaming_sink_spark.streaming.ops import stream_table

from .conftest import SF_DIR


def _mk_table(spark):
    run_id = uuid.uuid4().hex[:10]
    base = tempfile.mkdtemp(prefix=f"shss_txnlog_{run_id}_")
    table = f"txnlog_alerts_{run_id}"
    spark.sql(
        f"CREATE TABLE {table} (event_id BIGINT, user_id BIGINT, value DOUBLE, "
        f"event_type STRING) USING PARQUET LOCATION '{base}/tbl'"
    )
    return table, f"{base}/tbl", base


def _events_batch(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_id", "user_id", "value", "event_type")
    )


def test_txnlog_end_to_end_stream_snapshot_and_invisibility(spark, tmp_path):
    """A streaming write lands in the snapshot; the naive catalog read
    stays EMPTY (data is underscore-hidden — a format-aware reader is
    required, exactly like Delta/Iceberg), never partial."""
    table, loc, base = _mk_table(spark)
    ev = stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    q = write_stream_to_table(
        ev,
        checkpoint_dir=f"{base}/ckpt",
        db="default",
        table=table,
        **{"table.format": "txnlog"},
    )
    q.awaitTermination()
    expected = _events_batch(spark).count()
    snap = read_txnlog_table(spark, "default", table)
    assert snap.count() == expected
    assert snap.dropDuplicates(["event_id"]).count() == expected
    # naive readers see nothing — not partial data
    spark.catalog.refreshTable(table)
    assert spark.table(table).count() == 0
    # schema parity with the destination
    assert [f.name for f in snap.schema.fields] == [
        "event_id", "user_id", "value", "event_type",
    ]


def test_txnlog_replay_skipped_by_log_not_ledger(spark):
    """The commit log is the idempotency anchor: replaying batch 0 with
    a FRESH ledger (simulating total checkpoint+ledger loss) must not
    duplicate rows — (app_id, batch_id) is already in the log."""
    table, loc, base = _mk_table(spark)
    opts = HiveSinkOptions.from_options(
        {"db": "default", "table": table, "table.format": "txnlog"}
    )
    part_cols = validate_destination(
        spark, ["event_id", "user_id", "value", "event_type"], opts
    )
    batch = _events_batch(spark)
    expected = batch.count()
    scope = f"default.{table}.q1"
    w1 = make_batch_writer(
        opts, part_cols, BatchCommitLedger(os.path.join(base, "l1")), scope=scope
    )
    w1(batch, 0)
    assert read_txnlog_table(spark, "default", table).count() == expected
    # fresh ledger, same scope + batch id: log-anchored skip
    w2 = make_batch_writer(
        opts, part_cols, BatchCommitLedger(os.path.join(base, "l2")), scope=scope
    )
    w2(batch, 0)
    assert read_txnlog_table(spark, "default", table).count() == expected
    # a DIFFERENT batch id appends
    w2(batch, 1)
    assert read_txnlog_table(spark, "default", table).count() == 2 * expected
    # exactly one commit per (scope, batch id)
    log = TxnLogTable(spark, loc)
    assert sorted(c["batch_id"] for c in log.commits()) == [0, 1]


def test_txnlog_crash_before_commit_invisible_then_replay_exactly_once(spark):
    """Hard crash point: data files fully written, no commit. The
    snapshot must not move; the replay writes a fresh attempt and
    commits once; vacuum reclaims the dead attempt's files."""
    table, loc, base = _mk_table(spark)
    opts = HiveSinkOptions(db="default", table=table)
    part_cols = validate_destination(
        spark, ["event_id", "user_id", "value", "event_type"], opts
    )
    batch = _events_batch(spark)
    expected = batch.count()
    scope = f"default.{table}.q1"
    pub = TxnLogPublisher(spark, f"default.{table}", part_cols, scope, loc)

    # simulate the crash: publish with commit disabled
    crashed = {"n": 0}
    real_commit = pub.log.append_commit

    def dying_commit(app_id, batch_id, add):
        crashed["n"] += 1
        raise RuntimeError("injected crash before txnlog commit")

    pub.log.append_commit = dying_commit
    with pytest.raises(RuntimeError, match="before txnlog commit"):
        pub.publish(batch, 0)
    assert crashed["n"] == 1
    assert read_txnlog_table(spark, "default", table).count() == 0  # invisible

    # replay: fresh attempt dir, single commit, exactly-once content
    pub.log.append_commit = real_commit
    pub.publish(batch, 0)
    snap = read_txnlog_table(spark, "default", table)
    assert snap.count() == expected
    assert snap.dropDuplicates(["event_id"]).count() == expected

    # the dead attempt's dir is an orphan; vacuum (retention 0) removes
    # exactly it and the snapshot is untouched
    removed = pub.vacuum_orphans(retention_ms=0)
    assert len(removed) == 1
    assert read_txnlog_table(spark, "default", table).count() == expected
    # double publish after commit: log-anchored skip (no new commit)
    pub.publish(batch, 0)
    assert len(pub.log.versions()) == 1


def test_txnlog_version_collision_retries_to_next_version(spark):
    """Optimistic concurrency: when another writer claims the version
    first, the commit loop re-reads and lands on the next one."""
    table, loc, base = _mk_table(spark)
    log = TxnLogTable(spark, loc)
    # a foreign writer owns versions 0 and 1
    assert log.try_commit(0, {"app_id": "other", "batch_id": 0, "add": []})
    assert log.try_commit(1, {"app_id": "other", "batch_id": 1, "add": []})
    v = log.append_commit("me", 0, [])
    assert v == 2
    # idempotent: same (app, batch) returns None, no new version
    assert log.append_commit("me", 0, []) is None
    assert log.versions() == [0, 1, 2]
    # the foreign writer's batches are invisible to my idempotency set
    assert log.committed_batch_ids("me") == {0}
    assert log.committed_batch_ids("other") == {0, 1}


def _txnlog_writer(spark, table, base, scope):
    opts = HiveSinkOptions.from_options(
        {"db": "default", "table": table, "table.format": "txnlog"}
    )
    part_cols = validate_destination(
        spark, ["event_id", "user_id", "value", "event_type"], opts
    )
    ledger = BatchCommitLedger(os.path.join(base, "ledger"))
    return make_batch_writer(opts, part_cols, ledger, scope=scope)


def _small_batch(spark, i):
    return spark.createDataFrame(
        [(i * 10 + j, j, float(j), "click") for j in range(3)],
        "event_id long, user_id long, value double, event_type string",
    )


def test_txnlog_writer_commit_reads_do_not_grow_with_log(spark, monkeypatch):
    """One writer carries its parsed commit log across batches: a
    batch reads only the commits that landed since the previous one,
    so the per-batch read count stays flat as the log grows."""
    table, loc, base = _mk_table(spark)
    writer = _txnlog_writer(spark, table, base, f"default.{table}.q1")
    reads = {"n": 0}
    orig = TxnLogTable.read_commit

    def counted(self, version):
        reads["n"] += 1
        return orig(self, version)

    monkeypatch.setattr(TxnLogTable, "read_commit", counted)
    per_batch = []
    for b in range(12):
        before = reads["n"]
        writer(_small_batch(spark, b), b)
        per_batch.append(reads["n"] - before)
    assert per_batch[-1] <= per_batch[0] <= 2, per_batch
    monkeypatch.undo()
    log = TxnLogTable(spark, loc)
    assert [c["batch_id"] for c in log.commits()] == list(range(12))
    assert read_txnlog_table(spark, "default", table).count() == 36


def test_txnlog_writer_sees_foreign_commit_between_batches(spark, monkeypatch):
    """A commit by another log instance between two batches of one
    writer: the writer's next batch lands after it, a replay of an
    already-committed batch adds nothing, and both instances agree on
    the committed batch ids."""
    table, loc, base = _mk_table(spark)
    scope = f"default.{table}.q1"
    writer = _txnlog_writer(spark, table, base, scope)
    seen = []
    orig = TxnLogTable.append_commit

    def spy(self, app_id, batch_id, add):
        if app_id == scope:
            seen.append(self)  # the writer's own log instance
        return orig(self, app_id, batch_id, add)

    monkeypatch.setattr(TxnLogTable, "append_commit", spy)
    writer(_small_batch(spark, 0), 0)
    foreign = TxnLogTable(spark, loc)
    assert foreign.append_commit("other", 0, []) == 1
    writer(_small_batch(spark, 1), 1)
    writer(_small_batch(spark, 0), 0)  # replay: already in the log
    monkeypatch.undo()

    (mine,) = set(seen)
    assert mine is not foreign
    commits = TxnLogTable(spark, loc).commits()
    assert [(c["app_id"], c["batch_id"]) for c in commits] == [
        (scope, 0), ("other", 0), (scope, 1),
    ]
    for app in (scope, "other"):
        assert mine.committed_batch_ids(app) == foreign.committed_batch_ids(app)
    assert foreign.committed_batch_ids(scope) == {0, 1}
    assert read_txnlog_table(spark, "default", table).count() == 6


def test_txnlog_gap_in_log_refuses_to_commit(spark):
    """A log with a missing version is corrupt: the first refresh
    raises instead of committing into the gap."""
    from spark_hive_streaming_sink_spark.streaming.txnlog import TxnLogError

    table, loc, base = _mk_table(spark)
    seed = TxnLogTable(spark, loc)
    assert seed.try_commit(0, {"app_id": "other", "batch_id": 0, "add": []})
    assert seed.try_commit(2, {"app_id": "other", "batch_id": 2, "add": []})
    with pytest.raises(TxnLogError, match="not contiguous"):
        TxnLogTable(spark, loc).append_commit("me", 0, [])
    writer = _txnlog_writer(spark, table, base, "me")
    with pytest.raises(TxnLogError, match="not contiguous"):
        writer(_small_batch(spark, 0), 0)
    log_files = sorted(  # skip LocalFileSystem's .crc sidecars
        n for n in os.listdir(os.path.join(loc, "_shss_txnlog"))
        if n.endswith(".json") and not n.startswith(".")
    )
    assert log_files == [f"{v:020d}.json" for v in (0, 2)]


def test_txnlog_stats_skipping_prunes_files_never_wrong(spark):
    """Per-file partition-column min/max recorded at publish prunes
    files on equality predicates; files without stats are always kept."""
    table, loc, base = _mk_table(spark)
    opts = HiveSinkOptions(db="default", table=table)
    part_cols = validate_destination(
        spark, ["event_id", "user_id", "value", "event_type"], opts
    )
    batch = _events_batch(spark).filter("event_type IS NOT NULL")
    pub = TxnLogPublisher(
        spark, f"default.{table}", ["event_type"], "q1", loc
    )
    # one task per event_type -> per-file min == max == the type
    pub.publish(batch.repartition("event_type"), 0)
    log = TxnLogTable(spark, loc)
    add = [a for c in log.commits() for a in c["add"]]
    with_stats = [a for a in add if "stats" in a and "event_type" in a["stats"]]
    assert with_stats, "publish must record partition-column stats"
    types = [r[0] for r in batch.select("event_type").distinct().collect()]
    t = sorted(types)[0]
    pruned = log.snapshot_files(predicate={"event_type": t})
    assert 0 < len(pruned) < len(add) or len(add) == 1
    # pruned snapshot returns exactly the predicate's rows
    schema = spark.table(f"default.{table}").schema
    got = log.snapshot(schema, predicate={"event_type": t}).filter(
        f"event_type = '{t}'"
    )
    want = batch.filter(f"event_type = '{t}'")
    assert got.count() == want.count()
    # a predicate on a column with no recorded stats keeps every file
    assert len(log.snapshot_files(predicate={"value": 1.0})) >= len(pruned)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_unavailable_table_format_refused(spark, tmp_path, fmt):
    """A table.format outside TABLE_FORMAT_PROVIDERS refuses at query
    construction and lists the available providers (never degrades
    silently to another format)."""
    table, loc, base = _mk_table(spark)
    ev = stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    with pytest.raises(HiveStreamingSinkError, match="not available"):
        write_stream_to_table(
            ev,
            checkpoint_dir=str(tmp_path / "ckpt"),
            db="default",
            table=table,
            **{"table.format": fmt},
        )


def test_txnlog_query_writes_no_ledger(spark):
    """The commit log is the txnlog provider's only replay anchor: a
    streaming query reads back every row and leaves no batch-id ledger
    next to its checkpoint."""
    table, loc, base = _mk_table(spark)
    ev = stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    q = write_stream_to_table(
        ev,
        checkpoint_dir=f"{base}/ckpt",
        db="default",
        table=table,
        **{"table.format": "txnlog"},
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in read_txnlog_table(spark, "default", table).collect())
    assert got == sorted(tuple(r) for r in _events_batch(spark).collect())
    assert os.path.isdir(f"{base}/ckpt/_sink_metrics")
    assert not os.path.exists(f"{base}/ckpt/_commit_ledger")


def test_txnlog_compaction_atomic_rewrite_and_vacuum(spark):
    """Compaction (Delta OPTIMIZE analogue): N small committed files
    rewrite into few, ONE atomic add+remove commit flips the snapshot
    (same rows before and after, never a mix), and vacuum past the
    retention window reclaims the fully-retired dirs while the live
    snapshot stays intact."""
    from spark_hive_streaming_sink_spark.streaming.txnlog import (
        compact_txnlog_table,
    )

    table, loc, base = _mk_table(spark)
    opts = HiveSinkOptions(db="default", table=table)
    validate_destination(spark, ["event_id", "user_id", "value", "event_type"], opts)
    batch = _events_batch(spark).repartition(4)  # 4 files per publish
    pub = TxnLogPublisher(spark, f"default.{table}", [], "q1", loc)
    for b in range(3):
        pub.publish(batch, b)
    log = TxnLogTable(spark, loc)
    before_files = log.snapshot_files()
    assert len(before_files) >= 12
    before = read_txnlog_table(spark, "default", table)
    n_before = before.count()
    rows_before = sorted(map(tuple, before.collect()))

    res = compact_txnlog_table(spark, "default", table, max_files=8)
    assert res["files_before"] == len(before_files)
    assert res["files_after"] < res["files_before"]
    after = read_txnlog_table(spark, "default", table)
    assert sorted(map(tuple, after.collect())) == rows_before
    # exactly one compaction commit, carrying every retired path
    comps = [c for c in log.commits() if c.get("compaction")]
    assert len(comps) == 1
    assert sorted(comps[0]["remove"]) == sorted(
        p[len(log.location) + 1 :] for p in before_files
    )
    # already compact -> no-op
    assert compact_txnlog_table(spark, "default", table, max_files=8) == {}

    # vacuum reclaims the retired batch dirs; live data untouched;
    # appends keep working at the next version
    removed = pub.vacuum_orphans(retention_ms=0)
    assert len(removed) == 3  # the three retired b<id>-* dirs
    assert read_txnlog_table(spark, "default", table).count() == n_before
    pub.publish(batch, 3)
    assert read_txnlog_table(spark, "default", table).count() == n_before * 4 // 3


def test_txnlog_change_feed_incremental_and_compaction_transparent(spark):
    """The change feed returns exactly the rows appended after the
    stored watermark; a compaction in the middle is invisible to
    consumers (rewrites are not changes); an empty poll still advances
    the watermark past the compaction commit."""
    from spark_hive_streaming_sink_spark.streaming.txnlog import (
        compact_txnlog_table,
        read_txnlog_table_changes,
    )

    table, loc, base = _mk_table(spark)
    opts = HiveSinkOptions(db="default", table=table)
    validate_destination(spark, ["event_id", "user_id", "value", "event_type"], opts)
    batch = _events_batch(spark).repartition(5)
    n = batch.count()
    pub = TxnLogPublisher(spark, f"default.{table}", [], "q1", loc)

    pub.publish(batch, 0)
    df0, w0 = read_txnlog_table_changes(spark, "default", table)
    assert df0.count() == n and w0 == 0

    pub.publish(batch, 1)
    pub.publish(batch, 2)
    df1, w1 = read_txnlog_table_changes(spark, "default", table, since_version=w0)
    assert df1.count() == 2 * n and w1 == 2

    # nothing new -> empty frame, watermark unchanged
    df2, w2 = read_txnlog_table_changes(spark, "default", table, since_version=w1)
    assert df2.count() == 0 and w2 == w1

    # compaction between polls: watermark advances, no rows replayed
    assert compact_txnlog_table(spark, "default", table, max_files=3) != {}
    df3, w3 = read_txnlog_table_changes(spark, "default", table, since_version=w1)
    assert df3.count() == 0 and w3 == w1 + 1
    # and a fresh append after the compaction is delivered exactly once
    pub.publish(batch, 3)
    df4, w4 = read_txnlog_table_changes(spark, "default", table, since_version=w3)
    assert df4.count() == n and w4 == w3 + 1


def test_txnlog_time_travel_snapshots(spark):
    """Every commit version stays readable: as_of_version replays the
    immutable log prefix. A compaction changes FILES, not rows — the
    pre-compaction version and the post-compaction version read the
    same data; pre-append versions read the shorter table."""
    from spark_hive_streaming_sink_spark.streaming.txnlog import (
        compact_txnlog_table,
        read_txnlog_table,
    )

    table, loc, base = _mk_table(spark)
    opts = HiveSinkOptions(db="default", table=table)
    validate_destination(spark, ["event_id", "user_id", "value", "event_type"], opts)
    batch = _events_batch(spark).repartition(4)
    n = batch.count()
    pub = TxnLogPublisher(spark, f"default.{table}", [], "q1", loc)
    pub.publish(batch, 0)   # version 0
    pub.publish(batch, 1)   # version 1
    assert compact_txnlog_table(spark, "default", table, max_files=4) != {}  # v2
    pub.publish(batch, 2)   # version 3

    assert read_txnlog_table(spark, "default", table, as_of_version=0).count() == n
    assert read_txnlog_table(spark, "default", table, as_of_version=1).count() == 2 * n
    assert read_txnlog_table(spark, "default", table, as_of_version=2).count() == 2 * n
    assert read_txnlog_table(spark, "default", table).count() == 3 * n
    # rows (not just counts) identical across the compaction boundary
    v1 = sorted(map(tuple, read_txnlog_table(
        spark, "default", table, as_of_version=1).collect()))
    v2 = sorted(map(tuple, read_txnlog_table(
        spark, "default", table, as_of_version=2).collect()))
    assert v1 == v2
    # vacuum drops the compaction-retired dirs: the CURRENT snapshot is
    # unaffected; pre-compaction versions lose their files (documented)
    pub.vacuum_orphans(retention_ms=0)
    assert read_txnlog_table(spark, "default", table).count() == 3 * n


def test_txnlog_fresh_checkpoint_is_append_not_phantom_replay(spark):
    """r10 regression (found by examples/txnlog_example.py): a NEW
    query (fresh checkpoint, batch ids restarting at 0) into the same
    txnlog table must APPEND — the txn app_id fingerprints the query
    instance via the checkpoint identity, not just the table name, so
    only true restarts of the same checkpoint dedupe."""
    table, loc, base = _mk_table(spark)
    n = _events_batch(spark).count()
    for i, ckpt in enumerate(("ckptA", "ckptB"), start=1):
        ev = stream_table(spark, SF_DIR, "events").select(
            "event_id", "user_id", "value", "event_type"
        )
        q = write_stream_to_table(
            ev,
            checkpoint_dir=f"{base}/{ckpt}",
            db="default",
            table=table,
            **{"table.format": "txnlog"},
        )
        q.awaitTermination()
        assert read_txnlog_table(spark, "default", table).count() == i * n
    # two distinct app_ids in the log, one commit each
    log = TxnLogTable(spark, loc)
    apps = {c["app_id"] for c in log.commits()}
    assert len(apps) == 2
    assert all(c["batch_id"] == 0 for c in log.commits())
    # explicit txn.app.id override pins identity across relocations
    ev = stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    q = write_stream_to_table(
        ev,
        checkpoint_dir=f"{base}/ckptC",
        db="default",
        table=table,
        **{"table.format": "txnlog", "txn.app.id": "pinned-app"},
    )
    q.awaitTermination()
    assert "pinned-app" in {c["app_id"] for c in TxnLogTable(spark, loc).commits()}


def test_txnlog_additive_schema_evolution(spark):
    """ALTER TABLE ADD COLUMN between runs: the snapshot reader serves
    the CURRENT catalog schema — pre-evolution files read back with
    NULL for the new column (explicit-schema parquet read), new files
    carry it. The per-batch alignment casts against the catalog at
    batch time, so the writer picks up the wider schema without a
    restart ceremony."""
    import pyspark.sql.functions as F

    table, loc, base = _mk_table(spark)
    n = _events_batch(spark).count()
    ev = stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    q = write_stream_to_table(
        ev, checkpoint_dir=f"{base}/ckpt1", db="default", table=table,
        **{"table.format": "txnlog"},
    )
    q.awaitTermination()

    spark.sql(f"ALTER TABLE {table} ADD COLUMN note STRING")
    ev2 = stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", "event_type",
        F.lit("v2").alias("note"),
    )
    q2 = write_stream_to_table(
        ev2, checkpoint_dir=f"{base}/ckpt2", db="default", table=table,
        **{"table.format": "txnlog"},
    )
    q2.awaitTermination()

    snap = read_txnlog_table(spark, "default", table)
    assert snap.columns == ["event_id", "user_id", "value", "event_type", "note"]
    assert snap.count() == 2 * n
    by_note = {r["note"]: r["c"] for r in
               snap.groupBy("note").agg(F.count("*").alias("c")).collect()}
    assert by_note == {None: n, "v2": n}


def test_txnlog_multi_microbatch_single_query(spark, tmp_path):
    """Several micro-batches within ONE query (maxFilesPerTrigger=1
    over a 3-file source) commit as distinct (app_id, batch 0/1/2)
    versions — the normal continuous-ingest shape, vs the single-batch
    availableNow used elsewhere."""
    import pyspark.sql.functions as F

    table, loc, base = _mk_table(spark)
    src = str(tmp_path / "src")
    ev = _events_batch(spark)
    n = ev.count()
    # three separate files -> three micro-batches at maxFilesPerTrigger=1
    for i in range(3):
        ev.withColumn("event_id", F.col("event_id") + i * 10_000_000).coalesce(
            1
        ).write.parquet(f"{src}/f{i}.parquet")
    schema = spark.read.parquet(f"{src}/f0.parquet").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = write_stream_to_table(
        sdf,
        checkpoint_dir=f"{base}/ckpt",
        db="default",
        table=table,
        trigger={"availableNow": True},
        **{"table.format": "txnlog"},
    )
    q.awaitTermination()
    log = TxnLogTable(spark, loc)
    commits = log.commits()
    assert sorted(c["batch_id"] for c in commits) == [0, 1, 2]
    assert len({c["app_id"] for c in commits}) == 1
    snap = read_txnlog_table(spark, "default", table)
    assert snap.count() == 3 * n
    assert snap.dropDuplicates(["event_id"]).count() == 3 * n


def test_txnlog_merge_rewrites_only_touched_files(spark):
    """MERGE must retire exactly the files containing matched keys:
    seed the table with two separate commits (disjoint key ranges),
    merge updates touching only the second range, and check (a) the
    final rows are upsert-correct, (b) the first commit's files are
    still live in the snapshot, and (c) the merge commit removed only
    the second commit's files."""
    import pyspark.sql.functions as F

    from spark_hive_streaming_sink_spark.streaming.txnlog import (
        TxnLogTable,
        merge_txnlog_table,
        read_txnlog_table,
    )

    table, loc, _base = _mk_table(spark)
    ev = _events_batch(spark).filter(F.col("event_id").isNotNull())
    lo = ev.filter(F.col("event_id") < 500).coalesce(1)
    hi = ev.filter(F.col("event_id") >= 500).coalesce(1)
    log = TxnLogTable(spark, loc)
    from spark_hive_streaming_sink_spark.streaming.txnlog import TxnLogPublisher

    pub = TxnLogPublisher(spark, f"default.{table}", [], "t#merge", loc)
    pub.publish(lo, 0)
    pub.publish(hi, 1)
    files_before = {a["path"] for a in log.snapshot_adds()}
    # match the batch DIRECTORY component ("data/b0-<hex>/"), not a bare
    # "b0-" substring: Spark part filenames embed hyphenated UUIDs, and
    # ~1.6% of draws contain "b0-" (flaked the full suite)
    lo_files = {p for p in files_before if "/b0-" in f"/{p}"}
    hi_files = files_before - lo_files
    updates = (
        ev.filter(F.col("event_id") >= 500)
        .limit(50)
        .withColumn("value", F.col("value") + 77.0)
    )
    res = merge_txnlog_table(
        spark, "default", table, updates, key="event_id"
    )
    assert res["files_rewritten"] == len(hi_files)
    after = {a["path"] for a in log.snapshot_adds()}
    assert lo_files <= after, "untouched files must stay live"
    assert not (hi_files & after), "touched files must be retired"
    final = read_txnlog_table(spark, "default", table)
    n_src = ev.count()
    assert final.count() == n_src
    upd_keys = [r.event_id for r in updates.select("event_id").collect()]
    got = {
        r.event_id: r.value
        for r in final.filter(F.col("event_id").isin(upd_keys)).collect()
    }
    want = {r.event_id: r.value for r in updates.collect()}
    assert got == want


def test_txnlog_merge_pure_insert_add_only_commit(spark):
    """Updates with no matching key (and NULL keys) insert via an
    add-only commit — no file is retired."""
    import pyspark.sql.functions as F

    from spark_hive_streaming_sink_spark.streaming.txnlog import (
        TxnLogTable,
        TxnLogPublisher,
        merge_txnlog_table,
        read_txnlog_table,
    )

    table, loc, _base = _mk_table(spark)
    ev = _events_batch(spark).filter(F.col("event_id").isNotNull())
    pub = TxnLogPublisher(spark, f"default.{table}", [], "t#ins", loc)
    pub.publish(ev.coalesce(1), 0)
    log = TxnLogTable(spark, loc)
    before = {a["path"] for a in log.snapshot_adds()}
    n0 = read_txnlog_table(spark, "default", table).count()
    inserts = spark.createDataFrame(
        [(10_000_001, 1, 5.0, "new"), (None, 2, 6.0, "new")],
        "event_id bigint, user_id bigint, value double, event_type string",
    )
    res = merge_txnlog_table(spark, "default", table, inserts, key="event_id")
    assert res["files_rewritten"] == 0
    after = {a["path"] for a in log.snapshot_adds()}
    assert before <= after
    assert read_txnlog_table(spark, "default", table).count() == n0 + 2


def test_txnlog_merge_detects_concurrent_append_of_matched_keys(
    spark, monkeypatch
):
    """Serializable conflict detection (r10 ADVICE): a concurrent commit
    that APPENDS rows with keys this merge matched — landing between the
    merge's snapshot read and its commit — must abort the merge loudly,
    not leave duplicate keys behind unrewritten."""
    import pyspark.sql.functions as F

    from spark_hive_streaming_sink_spark.streaming import txnlog as T

    table, loc, _base = _mk_table(spark)
    ev = _events_batch(spark).filter(F.col("event_id").isNotNull())
    pub = T.TxnLogPublisher(spark, f"default.{table}", [], "t#seed", loc)
    pub.publish(ev.coalesce(1), 0)

    matched_key = ev.select("event_id").first().event_id
    racer = spark.createDataFrame(
        [(int(matched_key), 99, 123.0, "raced")],
        "event_id bigint, user_id bigint, value double, event_type string",
    )
    updates = spark.createDataFrame(
        [(int(matched_key), 1, 999.0, "merged")],
        "event_id bigint, user_id bigint, value double, event_type string",
    )

    orig = T.TxnLogTable.snapshot_adds
    state = {"fired": False}

    def racy(self, *a, **kw):
        adds = orig(self, *a, **kw)
        if not state["fired"]:
            # concurrent writer lands an append AFTER the merge's
            # snapshot read but BEFORE its commit loop
            state["fired"] = True
            T.TxnLogPublisher(
                spark, f"default.{table}", [], "t#racer", loc
            ).publish(racer.coalesce(1), 0)
        return adds

    monkeypatch.setattr(T.TxnLogTable, "snapshot_adds", racy)
    with pytest.raises(T.TxnLogError, match="serializable conflict"):
        T.merge_txnlog_table(
            spark, "default", table, updates, key="event_id"
        )


def test_txnlog_merge_tolerates_concurrent_append_of_unmatched_keys(
    spark, monkeypatch
):
    """The conflict probe is key-scoped: a concurrent append whose keys
    the merge does NOT match is a plain version collision — the merge
    retries and commits, and both writers' rows survive."""
    import pyspark.sql.functions as F

    from spark_hive_streaming_sink_spark.streaming import txnlog as T

    table, loc, _base = _mk_table(spark)
    ev = _events_batch(spark).filter(F.col("event_id").isNotNull())
    pub = T.TxnLogPublisher(spark, f"default.{table}", [], "t#seed2", loc)
    pub.publish(ev.coalesce(1), 0)
    n0 = T.read_txnlog_table(spark, "default", table).count()

    matched_key = ev.select("event_id").first().event_id
    racer = spark.createDataFrame(
        [(20_000_001, 99, 123.0, "raced")],
        "event_id bigint, user_id bigint, value double, event_type string",
    )
    updates = spark.createDataFrame(
        [(int(matched_key), 1, 999.0, "merged")],
        "event_id bigint, user_id bigint, value double, event_type string",
    )

    orig = T.TxnLogTable.snapshot_adds
    state = {"fired": False}

    def racy(self, *a, **kw):
        adds = orig(self, *a, **kw)
        if not state["fired"]:
            state["fired"] = True
            T.TxnLogPublisher(
                spark, f"default.{table}", [], "t#racer2", loc
            ).publish(racer.coalesce(1), 0)
        return adds

    monkeypatch.setattr(T.TxnLogTable, "snapshot_adds", racy)
    res = T.merge_txnlog_table(
        spark, "default", table, updates, key="event_id"
    )
    assert res["files_rewritten"] >= 1
    final = T.read_txnlog_table(spark, "default", table)
    assert final.count() == n0 + 1  # racer row inserted, merge upserted
    assert (
        final.filter(F.col("event_id") == matched_key)
        .select("value")
        .first()
        .value
        == 999.0
    )
    assert final.filter(F.col("event_id") == 20_000_001).count() == 1


def test_schema_evolution_add_columns_txnlog(spark):
    """addColumns evolution end-to-end on txnlog: write 2 carries a new
    column; the table evolves at write time; the snapshot reads old
    rows as NULL for it and new rows with exact values."""
    import pyspark.sql.functions as F

    table, loc, base = _mk_table(spark)
    ev = stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    q1 = write_stream_to_table(
        ev.filter(F.col("event_type") == "click"),
        checkpoint_dir=f"{base}/ckpt_a",
        db="default",
        table=table,
        **{"table.format": "txnlog"},
    )
    q1.awaitTermination()
    second = ev.filter(
        F.col("event_type").isNull() | (F.col("event_type") != "click")
    ).withColumn("origin", F.lit("phase2"))
    q2 = write_stream_to_table(
        second,
        checkpoint_dir=f"{base}/ckpt_b",
        db="default",
        table=table,
        **{"table.format": "txnlog", "table.schemaEvolution": "addColumns"},
    )
    q2.awaitTermination()
    snap = read_txnlog_table(spark, "default", table)
    assert "origin" in snap.columns
    batch = _events_batch(spark)
    n_click = batch.filter(F.col("event_type") == "click").count()
    n_rest = batch.count() - n_click
    assert snap.filter(F.col("origin").isNull()).count() == n_click
    assert snap.filter(F.col("origin") == "phase2").count() == n_rest


def test_schema_evolution_quoted_identifier(spark):
    """Evolution DDL backtick-quotes new column names: a reserved-keyword
    column (`select`) evolves cleanly instead of producing a parse error
    at batch time (ADVICE r12 item 1)."""
    import pyspark.sql.functions as F

    table, loc, base = _mk_table(spark)
    ev = stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    q1 = write_stream_to_table(
        ev.limit(0),
        checkpoint_dir=f"{base}/ckpt_a",
        db="default",
        table=table,
        **{"table.format": "txnlog"},
    )
    q1.awaitTermination()
    q2 = write_stream_to_table(
        ev.withColumn("select", F.lit("kw")),
        checkpoint_dir=f"{base}/ckpt_b",
        db="default",
        table=table,
        **{"table.format": "txnlog", "table.schemaEvolution": "addColumns"},
    )
    q2.awaitTermination()
    snap = read_txnlog_table(spark, "default", table)
    assert "select" in snap.columns
    assert snap.filter(F.col("`select`") == "kw").count() == snap.count()


def test_schema_evolution_rejections(spark, tmp_path):
    """The strict reference check stays the default (extra stream
    column rejected without the option); evolution never allows
    DROPPING columns; unknown option values are refused loudly."""
    import pyspark.sql.functions as F

    table, loc, base = _mk_table(spark)
    ev = stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    with pytest.raises(HiveStreamingSinkError, match="Schema mismatch"):
        write_stream_to_table(
            ev.withColumn("extra", F.lit(1)),
            checkpoint_dir=str(tmp_path / "c1"),
            db="default",
            table=table,
        )
    with pytest.raises(HiveStreamingSinkError, match="never drop"):
        write_stream_to_table(
            ev.drop("value").withColumn("extra", F.lit(1)),
            checkpoint_dir=str(tmp_path / "c2"),
            db="default",
            table=table,
            **{"table.schemaEvolution": "addColumns"},
        )
    with pytest.raises(HiveStreamingSinkError, match="schemaEvolution"):
        write_stream_to_table(
            ev,
            checkpoint_dir=str(tmp_path / "c3"),
            db="default",
            table=table,
            **{"table.schemaEvolution": "mergeAll"},
        )
