"""``ingest_native`` and ``ingest_txnlog``: a generated backlog drained
by ``write_stream_to_table`` with ``availableNow``, one file per
micro-batch.

A run is a closed loop of whole passes. Each pass creates a fresh
destination table and checkpoint and drains a backlog into it: the cold
first pass a short fixed slice, every warm pass the same full backlog.
So every warm pass does the same work, and the commit log of a txnlog
table is the same length at the end of every warm pass whatever the run
length. Warm passes repeat until the run's time is used up.
"""

from __future__ import annotations

import os
import time

from . import checks, gen
from .harness import (
    CPUS, Result, fresh_dir, make_progress_log, median, percentile, stop_spark,
)
from .trace import Tracer, install_common, install_sink, span

SHAPES = {
    # every batch touches all 16 partition values
    "native": gen.IngestShape(files=10, rows_per_file=4000, partitions=16),
    # unpartitioned; many small batches, so the commit log grows
    "txnlog": gen.IngestShape(files=24, rows_per_file=1000, partitions=16),
}
# the cold pass drains only the first files of the backlog
COLD_FILES = {"native": 2, "txnlog": 3}
WARMUP_BATCHES = 1  # per pass: the first batch also plans the query
READBACKS = 9
MICROBATCH_PHASES = ("addBatch", "getBatch", "walCommit", "commitOffsets")
LAYER_UNITS = {
    "sink.write_batch_p50_ms": "ms",
    "sink.publish_p50_ms": "ms",
    "sink.stage_p50_ms": "ms",
    "sink.rename_register_p50_ms": "ms",
    "sink.cleanup_p50_ms": "ms",
    "sink.lease_renew_p50_ms": "ms",
    "sink.ledger_p50_ms": "ms",
    "sink.sql_calls_per_batch": "count",
    "sink.catalog_calls_per_batch": "count",
    "sink.files_per_batch": "count",
    "sink.bytes_per_batch": "bytes",
    "txnlog.publish_p50_ms": "ms",
    "txnlog.append_commit_p50_ms": "ms",
    "txnlog.commit_reads_per_batch_first": "count",
    "txnlog.commit_reads_per_batch_last": "count",
    "txnlog.snapshot_s": "s",
    **{f"microbatch.{k}_p50_ms": "ms" for k in MICROBATCH_PHASES},
}


def run(fmt: str, seed: int, seconds: float, trace: bool, workdir: str, t_proc: float) -> Result:
    shape = SHAPES[fmt]
    t_gen = time.monotonic()
    cold = COLD_FILES[fmt]
    src_dirs = [os.path.join(workdir, "input-cold"), os.path.join(workdir, "input")]
    gen.write_backlog(seed, shape, src_dirs[0], cold)
    gen.write_backlog(seed, shape, src_dirs[1], shape.files)
    expected = [gen.expected_ingest(seed, shape, cold),
                gen.expected_ingest(seed, shape, shape.files)]
    gen_s = time.monotonic() - t_gen

    tracer = Tracer() if trace else None
    t_sess = time.monotonic()
    from pyspark.errors import StreamingQueryException

    from spark_hive_streaming_sink_spark.session import get_spark
    from spark_hive_streaming_sink_spark.streaming.sink import write_stream_to_table
    from spark_hive_streaming_sink_spark.streaming.txnlog import read_txnlog_table

    if tracer:
        install_common(tracer)
        install_sink(tracer)
    spark = get_spark(f"perfbench-ingest-{fmt}", cpus=CPUS)
    session_s = time.monotonic() - t_sess
    progress = make_progress_log()
    spark.streams.addListener(progress)

    part = "PARTITIONED BY (k)" if fmt == "native" else ""
    passes: list[dict] = []
    setup_s = t_measure = None
    while True:
        r = len(passes)
        n_files = cold if r == 0 else shape.files
        base = fresh_dir(os.path.join(workdir, f"pass{r}"))
        table = f"bench_{fmt}_p{r}"
        spark.sql(
            f"CREATE TABLE {table} ({gen.TABLE_COLUMNS}) USING PARQUET {part} "
            f"LOCATION '{base}/tbl'"
        )
        stream = (
            spark.readStream.schema(gen.SOURCE_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dirs[min(r, 1)])
        )
        if tracer:
            tracer.tag = f"p{r}"
        t0 = time.monotonic()
        if setup_s is None:
            setup_s, t_measure = t0 - t_proc - gen_s, t0
        q = write_stream_to_table(
            stream, f"{base}/ckpt", db="default", table=table,
            trigger={"availableNow": True}, **{"table.format": fmt},
        )
        try:
            q.awaitTermination()
            failed = False
        except StreamingQueryException as e:
            print(f"pass {r} failed: {e}")
            failed = True
        wall = time.monotonic() - t0
        events = progress.wait_for(str(q.id), n_files, timeout=5 if failed else 60)
        passes.append({
            "table": table, "dir": f"{base}/tbl", "ckpt": f"{base}/ckpt", "wall": wall,
            "events": [e for e in events if e["rows"] > 0], "failed": failed,
            "files": n_files,
        })
        if len(passes) >= 2 and time.monotonic() - t_measure >= seconds:
            break

    # -- readback: a fixed aggregate through the program's public reader
    last = passes[-1]
    readback, totals = [], None
    for _ in range(READBACKS):
        t0 = time.monotonic()
        if fmt == "native":
            spark.catalog.refreshTable(last["table"])
            df = spark.table(last["table"])
        else:
            with span(tracer, "txnlog.snapshot"):
                df = read_txnlog_table(spark, "default", last["table"])
        row = df.selectExpr(
            "count(*) AS n", "sum(qty) AS q", "sum(cast(round(amount * 100) AS BIGINT)) AS c"
        ).collect()[0]
        readback.append(time.monotonic() - t0)
        totals = (row["n"], row["q"], row["c"])
    stop_spark(spark)

    # -- checks (outside every timed region) --------------------------------
    problems: list[str] = []
    attempted = failed_ops = 0
    for r, p in enumerate(passes):
        attempted += p["files"]
        committed = len(p["events"])
        if p["failed"] or committed != p["files"]:
            failed_ops += p["files"] - committed
            print(f"FAILED: {p['table']}: {committed}/{p['files']} batches committed")
            continue
        want = expected[min(r, 1)]
        if fmt == "native":
            ledger_root = os.path.join(p["ckpt"], "_commit_ledger")
            scopes = os.listdir(ledger_root) if os.path.isdir(ledger_root) else [""]
            problems += checks.check_native(
                p["dir"], os.path.join(ledger_root, scopes[0]), want, p["files"]
            )
        else:
            problems += checks.check_txnlog(p["dir"], want, p["files"])
    if fmt == "native":
        on_disk = checks.table_totals(checks.read_native(last["dir"]))
    else:
        on_disk = checks.table_totals(
            checks.read_txnlog_files(last["dir"], checks.txnlog_commits(last["dir"]))
        )
    if totals != on_disk:
        problems.append(f"reader returned {totals}, files hold {on_disk}")

    # -- end-to-end metrics: warm passes, first batch of each excluded ------
    warm = passes[1:]
    measured = [e for p in warm for e in p["events"][WARMUP_BATCHES:]]
    lat = [e["durations"]["triggerExecution"] for e in measured]
    busy_s = sum(lat) / 1000.0
    metrics = {
        "setup_s": setup_s,
        "rows_per_s": sum(e["rows"] for e in measured) / busy_s if busy_s else 0.0,
        "readback_s": median(readback),
        "cold_pass_s": passes[0]["wall"],
        "warm_pass_s": median([p["wall"] for p in warm]),
    }
    info = {
        "passes": len(passes), "measured_batches": len(lat),
        "op_latency_p50_ms": median(lat), "op_latency_p90_ms": percentile(lat, 90),
        "batches_ms": lat, "gen_s": gen_s,
        "session_s": session_s,
    }
    layers = None
    if tracer:
        tracer.restore()
        layers = _layer_metrics(fmt, tracer, passes, shape)
        layers["session.start_s"] = session_s
        layers["trace.overhead_pct"] = 100.0 * tracer.overhead_s / sum(p["wall"] for p in passes)
    return Result(metrics, layers, attempted, failed_ops, problems, info, tracer)


def _layer_metrics(fmt, tracer: Tracer, passes, shape) -> dict:
    warm_events = [e for p in passes[1:] for e in p["events"][WARMUP_BATCHES:]]
    warm_idents = {
        f"p{r}b{e['batch']}"
        for r, p in enumerate(passes) if r > 0
        for e in p["events"][WARMUP_BATCHES:]
    }
    n_batches = max(len(warm_idents), 1)

    def p50(name):
        return median(tracer.durations_ms(name, warm_idents))

    def per_batch(counter):
        return sum(v for (c, i), v in tracer.counts.items()
                   if c == counter and i in warm_idents) / n_batches

    # commit-log reads per batch in the first and last tenth of each warm pass
    tenth = max(1, shape.files // 10)
    reads = {i: v for (c, i), v in tracer.counts.items() if c == "commit_reads"}
    warm_passes = range(1, len(passes))
    first = [reads.get(f"p{r}b{b}", 0) for r in warm_passes for b in range(tenth)]
    last = [reads.get(f"p{r}b{b}", 0) for r in warm_passes
            for b in range(shape.files - tenth, shape.files)]
    files, size = _destination_files(fmt, passes[-1]["dir"])
    return {
        "sink.write_batch_p50_ms": p50("sink.write_batch"),
        "sink.publish_p50_ms": p50("sink.publish"),
        "sink.stage_p50_ms": p50("sink.stage"),
        "sink.rename_register_p50_ms": p50("sink.rename_register"),
        "sink.cleanup_p50_ms": p50("sink.cleanup"),
        "sink.lease_renew_p50_ms": p50("sink.lease_renew"),
        "sink.ledger_p50_ms": p50("sink.ledger"),
        "sink.sql_calls_per_batch": per_batch("sql_calls"),
        "sink.catalog_calls_per_batch": per_batch("catalog_calls"),
        "sink.files_per_batch": files / shape.files,
        "sink.bytes_per_batch": size / shape.files,
        "txnlog.publish_p50_ms": p50("txnlog.publish"),
        "txnlog.append_commit_p50_ms": p50("txnlog.append_commit"),
        "txnlog.commit_reads_per_batch_first": sum(first) / len(first),
        "txnlog.commit_reads_per_batch_last": sum(last) / len(last),
        "txnlog.snapshot_s": median(tracer.durations_ms("txnlog.snapshot")) / 1000,
        **{
            f"microbatch.{k}_p50_ms": median([e["durations"].get(k, 0) for e in warm_events])
            for k in MICROBATCH_PHASES
        },
    }


def _destination_files(fmt: str, table_dir: str) -> tuple[int, int]:
    """Data files and bytes one pass left in the destination."""
    root = os.path.join(table_dir, "_shss_data") if fmt == "txnlog" else table_dir
    n = size = 0
    for d, dirs, files in os.walk(root):
        if fmt == "native":
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")) and not f.endswith(".crc"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size
