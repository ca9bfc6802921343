"""In-memory spans around the public calls into each engine layer.

The traced run installs wrappers from this file only: the program's own
code is unchanged. A span has a name, start, end, parent and a shared
identifier (the micro-batch or the query it belongs to); a child span
inherits its parent's identifier. Calls that are only counted (catalog
and SQL calls, commit-log reads) are charged to the identifier of the
innermost open span on the calling thread.

The cost of the bookkeeping itself is timed and reported as the
tracer's overhead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.counts: dict[tuple[str, object], int] = defaultdict(int)
        self.overhead_s = 0.0
        self.tag = ""  # prefix for identifiers, e.g. the ingest round
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_ident(self):
        st = self._stack()
        return st[-1]["ident"] if st else None

    @contextlib.contextmanager
    def span(self, name: str, ident=None):
        a = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        rec = {
            "name": name,
            "ident": ident if ident is not None else (parent["ident"] if parent else None),
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec)
        b = time.perf_counter()
        try:
            yield rec
        finally:
            c = time.perf_counter()
            rec["start"], rec["end"] = b - self.t0, c - self.t0
            st.pop()
            self.overhead_s += (b - a) + (time.perf_counter() - c)

    # -- installing wrappers ---------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patch(owner, attr, wrapper)

    def count(self, owner, attr: str, counter: str) -> None:
        """Count calls of ``owner.attr`` made outside another counted
        call, charged to the current span's identifier."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            a = time.perf_counter()
            depth = getattr(tracer._local, "depth", 0)
            if depth == 0:
                with tracer._lock:
                    tracer.counts[(counter, tracer.current_ident())] += 1
            tracer._local.depth = depth + 1
            tracer.overhead_s += time.perf_counter() - a
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._local.depth = depth

        self._patch(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reading the trace -------------------------------------------------
    def closed(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def durations_ms(self, name: str, idents=None) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000
            for s in self.closed(name)
            if idents is None or s["ident"] in idents
        ]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds: a span's duration
        minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.get("parent") is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "end" in s:
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                if "end" in s:
                    f.write(json.dumps({k: s[k] for k in
                                        ("id", "name", "start", "end", "parent", "ident")}) + "\n")


def span(tracer: Tracer | None, name: str, ident=None):
    """``tracer.span(...)``, or a no-op context in an untraced run."""
    return tracer.span(name, ident) if tracer else contextlib.nullcontext()


def install_common(tracer: Tracer) -> None:
    """Count SQL statements and catalog calls (any session, any thread)."""
    from pyspark.sql import SparkSession
    from pyspark.sql.catalog import Catalog

    tracer.count(SparkSession, "sql", "sql_calls")
    for attr, val in list(Catalog.__dict__.items()):
        if not attr.startswith("_") and callable(val):
            tracer.count(Catalog, attr, "catalog_calls")


def install_sink(tracer: Tracer) -> None:
    """Spans around the sink's and the commit log's public calls."""
    from spark_hive_streaming_sink_spark.streaming import sink, txnlog

    orig_make = sink.make_batch_writer

    def make_batch_writer(*args, **kwargs):
        write_batch = orig_make(*args, **kwargs)

        def traced_write_batch(batch_df, batch_id):
            with tracer.span("sink.write_batch", f"{tracer.tag}b{batch_id}"):
                return write_batch(batch_df, batch_id)

        return traced_write_batch

    tracer._patch(sink, "make_batch_writer", make_batch_writer)
    tracer.wrap(sink.StagedBatchPublisher, "publish", "sink.publish")
    tracer.wrap(sink.StagedBatchPublisher, "_ensure_staged", "sink.stage")
    tracer.wrap(sink.StagedBatchPublisher, "_publish_entries", "sink.rename_register")
    tracer.wrap(sink.StagedBatchPublisher, "cleanup", "sink.cleanup")
    tracer.wrap(sink.WriterLease, "renew", "sink.lease_renew")
    tracer.wrap(sink.BatchCommitLedger, "committed", "sink.ledger")
    tracer.wrap(sink.BatchCommitLedger, "record", "sink.ledger")
    tracer.wrap(txnlog.TxnLogPublisher, "publish", "txnlog.publish")
    tracer.wrap(txnlog.TxnLogTable, "append_commit", "txnlog.append_commit")
    tracer.count(txnlog.TxnLogTable, "read_commit", "commit_reads")


def install_ops(tracer: Tracer) -> None:
    """Count parquet barriers: ``io.materialize_parquet`` is bound by
    name in every module that imports it, so rebind it there too."""
    import sys

    from spark_hive_streaming_sink_spark import io

    orig = io.materialize_parquet

    @functools.wraps(orig)
    def materialize_parquet(df):
        with tracer.span("io.materialize_parquet"):
            return orig(df)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("spark_hive_streaming_sink_spark") and \
                getattr(mod, "materialize_parquet", None) is orig:
            tracer._patch(mod, "materialize_parquet", materialize_parquet)
