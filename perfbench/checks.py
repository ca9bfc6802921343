"""Output checkers. Each reads the program's output with pyarrow or
DuckDB (never through Spark or the sink) and compares it with values
recomputed from the generator. Each returns a list of problems; an empty
list means the output is correct."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

LOG_DIR = "_shss_txnlog"
STAGING_DIR = "_shss_staging"


def _compare_rows(t: pa.Table, expected: dict, where: str) -> list[str]:
    problems = []
    ids = np.sort(t.column("id").to_numpy())
    want = expected["ids"]
    if len(ids) != len(want) or not np.array_equal(ids, want):
        dup = int(len(ids) - len(np.unique(ids)))
        problems.append(
            f"{where}: {len(ids)} rows, {dup} duplicate ids; expected "
            f"exactly the {len(want)} generated ids"
        )
        return problems
    keys = t.column("k").to_numpy(zero_copy_only=False).astype(str)
    qty = t.column("qty").to_numpy().astype(np.int64)
    cents = np.rint(t.column("amount").to_numpy() * 100).astype(np.int64)
    got = {}
    for p in np.unique(keys):
        m = keys == p
        got[str(p)] = (int(m.sum()), int(qty[m].sum()), int(cents[m].sum()))
    if got != expected["per_part"]:
        bad = sorted(p for p in set(got) | set(expected["per_part"])
                     if got.get(p) != expected["per_part"].get(p))
        problems.append(f"{where}: per-partition count/sum mismatch in {bad[:4]}")
    return problems


def table_totals(t: pa.Table) -> tuple[int, int, int]:
    """(rows, sum(qty), sum(amount) in cents) — the readback aggregate."""
    qty = t.column("qty").to_numpy().astype(np.int64)
    cents = np.rint(t.column("amount").to_numpy() * 100).astype(np.int64)
    return t.num_rows, int(qty.sum()), int(cents.sum())


def read_native(table_dir: str) -> pa.Table:
    """The native table as a plain hive-partitioned parquet directory;
    ``_``- and ``.``-prefixed entries (staging, lock, markers) are
    ignored, as every reader of the format ignores them."""
    return ds.dataset(
        table_dir,
        format="parquet",
        partitioning=ds.partitioning(pa.schema([("k", pa.string())]), flavor="hive"),
    ).to_table(columns=["id", "qty", "amount", "k"])


def check_native(table_dir: str, ledger_dir: str, expected: dict, n_batches: int) -> list[str]:
    problems = _compare_rows(read_native(table_dir), expected, table_dir)
    markers = sorted(os.listdir(ledger_dir)) if os.path.isdir(ledger_dir) else []
    want = sorted(f"batch-{b}" for b in range(n_batches))
    if markers != want:
        problems.append(
            f"{ledger_dir}: {len(markers)} ledger markers, expected one per "
            f"batch ({n_batches})"
        )
    left = [
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(table_dir, STAGING_DIR))
        for f in files
    ]
    if left:
        problems.append(f"{table_dir}: {len(left)} files left under {STAGING_DIR}")
    return problems


def txnlog_commits(table_dir: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(table_dir, LOG_DIR, "*.json"))):
        with open(path) as f:
            body = json.load(f)
        body["_file_version"] = int(os.path.basename(path)[: -len(".json")])
        out.append(body)
    return out


def read_txnlog_files(table_dir: str, commits: list[dict]) -> pa.Table:
    files = [os.path.join(table_dir, a["path"]) for c in commits for a in c.get("add", [])]
    if not files:
        return pa.table({"id": pa.array([], pa.int64()), "qty": pa.array([], pa.int64()),
                         "amount": pa.array([], pa.float64()), "k": pa.array([], pa.string())})
    return ds.dataset(files, format="parquet").to_table(columns=["id", "qty", "amount", "k"])


def check_txnlog(table_dir: str, expected: dict, n_batches: int) -> list[str]:
    problems = []
    commits = txnlog_commits(table_dir)
    versions = [c["_file_version"] for c in commits]
    if versions != list(range(len(commits))) or any(
        c.get("version") != c["_file_version"] for c in commits
    ):
        problems.append(f"{table_dir}: commit versions not contiguous from 0: {versions[:8]}...")
    batch_ids = sorted(c.get("batch_id") for c in commits)
    if batch_ids != list(range(n_batches)):
        problems.append(
            f"{table_dir}: {len(commits)} commits for batches "
            f"{batch_ids[:8]}..., expected one per batch 0..{n_batches - 1}"
        )
    missing = [
        a["path"] for c in commits for a in c.get("add", [])
        if not os.path.isfile(os.path.join(table_dir, a["path"]))
    ]
    if missing:
        problems.append(f"{table_dir}: {len(missing)} committed files missing, e.g. {missing[0]}")
        return problems
    problems += _compare_rows(read_txnlog_files(table_dir, commits), expected, table_dir)
    return problems


def check_query(name: str, got_rows, got_cols, want_rows, want_cols) -> list[str]:
    """One query's rows against its DuckDB oracle, order-insensitive."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)} != oracle {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"{name}: {len(got_rows)} rows != oracle {len(want_rows)}"]
    if normalize(got_rows, got_cols) != normalize(want_rows, want_cols):
        return [f"{name}: values differ from the oracle"]
    return []


def _norm_cell(v):
    """Typed cell string: the same rules as the repo's oracle gate
    (``tools/oracle_gate.py``), restated here so the checker does not
    depend on a tool script."""
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, list):
        return "l:[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "m:{" + ",".join(f"{k}={_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return f"s:{v}"


def normalize(rows, colnames) -> list[tuple]:
    """Rows as sorted tuples of typed cell strings, columns by name."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
