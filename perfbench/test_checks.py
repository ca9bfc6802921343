"""Each output checker passes on a correct output and fails on a
corrupted one. Builds the table layouts by hand with pyarrow, so no
Spark is needed:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen

SHAPE = gen.IngestShape(files=3, rows_per_file=64, partitions=4)
SEED = 5


def _as_table_rows(t: pa.Table) -> pa.Table:
    return t.set_column(1, "qty", t.column("qty").cast(pa.int64()))


def _native_table(tmp_path) -> tuple[str, str]:
    table = tmp_path / "tbl"
    ledger = tmp_path / "ledger"
    ledger.mkdir()
    for b in range(SHAPE.files):
        t = _as_table_rows(gen.ingest_batch(SEED, SHAPE, b))
        keys = t.column("k").to_pylist()
        for p in sorted(set(keys)):
            part = t.filter(pa.array([k == p for k in keys])).drop_columns(["k"])
            d = table / f"k={p}"
            d.mkdir(parents=True, exist_ok=True)
            pq.write_table(part, d / f"b{b}-part-0.parquet")
        (ledger / f"batch-{b}").write_text("committed\n")
    (table / "_shss_staging" / "scope").mkdir(parents=True)
    return str(table), str(ledger)


def _txnlog_table(tmp_path) -> str:
    table = tmp_path / "tbl"
    (table / "_shss_txnlog").mkdir(parents=True)
    for b in range(SHAPE.files):
        rel = f"_shss_data/b{b}-x/part-0.parquet"
        os.makedirs(table / os.path.dirname(rel))
        pq.write_table(_as_table_rows(gen.ingest_batch(SEED, SHAPE, b)), table / rel)
        commit = {"app_id": "a", "batch_id": b, "add": [{"path": rel}], "version": b}
        (table / "_shss_txnlog" / f"{b:020d}.json").write_text(json.dumps(commit))
    return str(table)


def _expected():
    return gen.expected_ingest(SEED, SHAPE, SHAPE.files)


def test_native_checker_passes_then_catches_duplicated_file(tmp_path):
    table, ledger = _native_table(tmp_path)
    assert checks.check_native(table, ledger, _expected(), SHAPE.files) == []
    src = os.path.join(table, "k=p00", "b1-part-0.parquet")
    shutil.copy(src, os.path.join(table, "k=p00", "b1-part-0-copy.parquet"))
    assert checks.check_native(table, ledger, _expected(), SHAPE.files)


def test_native_checker_catches_leftover_staging_and_missing_marker(tmp_path):
    table, ledger = _native_table(tmp_path)
    (tmp_path / "tbl" / "_shss_staging" / "scope" / "_MANIFEST").write_text("[]")
    assert checks.check_native(table, ledger, _expected(), SHAPE.files)
    os.remove(os.path.join(table, "_shss_staging", "scope", "_MANIFEST"))
    os.remove(os.path.join(ledger, "batch-2"))
    assert checks.check_native(table, ledger, _expected(), SHAPE.files)


def test_txnlog_checker_passes_then_catches_deleted_commit(tmp_path):
    table = _txnlog_table(tmp_path)
    assert checks.check_txnlog(table, _expected(), SHAPE.files) == []
    os.remove(os.path.join(table, "_shss_txnlog", f"{1:020d}.json"))
    assert checks.check_txnlog(table, _expected(), SHAPE.files)


def test_txnlog_checker_catches_duplicated_commit(tmp_path):
    table = _txnlog_table(tmp_path)
    log = os.path.join(table, "_shss_txnlog")
    with open(os.path.join(log, f"{2:020d}.json")) as f:
        commit = json.load(f)
    commit["version"] = SHAPE.files
    with open(os.path.join(log, f"{SHAPE.files:020d}.json"), "w") as f:
        json.dump(commit, f)
    assert checks.check_txnlog(table, _expected(), SHAPE.files)


def test_txnlog_checker_catches_missing_data_file(tmp_path):
    table = _txnlog_table(tmp_path)
    os.remove(os.path.join(table, "_shss_data", "b0-x", "part-0.parquet"))
    assert checks.check_txnlog(table, _expected(), SHAPE.files)


def test_query_checker_catches_one_altered_row():
    cols = ["k", "n", "v"]
    oracle = [("a", 1, 0.5), ("b", 2, 1.25), ("c", 3, None)]
    got = list(reversed(oracle))
    assert checks.check_query("q", got, cols, oracle, cols) == []
    assert checks.check_query("q", got[1:], cols, oracle, cols)
    altered = [got[0], ("b", 2, 1.2500000001), got[2]]
    assert checks.check_query("q", altered, cols, oracle, cols)
