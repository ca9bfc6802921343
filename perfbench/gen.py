"""Seeded input generators. The program under test sees only the files
written here; the checkers recompute every expected value from the same
seed, never from the program's output.

Everything is a pure function of ``seed`` (NumPy ``default_rng``), so the
same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# -- ingest backlog ----------------------------------------------------------


@dataclass(frozen=True)
class IngestShape:
    """Make-up of one ingest backlog: ``files`` parquet files of
    ``rows_per_file`` rows; each file is one micro-batch
    (``maxFilesPerTrigger=1``). Every file holds every one of the
    ``partitions`` key values."""

    files: int
    rows_per_file: int
    partitions: int


# Source schema: ``qty`` arrives as INT while the destination declares
# BIGINT, so the sink's checked-cast alignment runs on every batch.
SOURCE_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("qty", pa.int32()),
        ("amount", pa.float64()),
        ("k", pa.string()),
    ]
)
SOURCE_DDL = "id BIGINT, qty INT, amount DOUBLE, k STRING"
TABLE_COLUMNS = "id BIGINT, qty BIGINT, amount DOUBLE, k STRING"


def part_value(i: int) -> str:
    return f"p{i:02d}"


def ingest_batch(seed: int, shape: IngestShape, f: int) -> pa.Table:
    """Rows of backlog file ``f``. Ids are a seeded permutation of a
    seeded offset range, so every id is distinct across the backlog."""
    rng = np.random.default_rng([seed, f])
    n = shape.rows_per_file
    base = 1_000_000 * (seed % 1000 + 1) + f * n
    ids = base + rng.permutation(n).astype(np.int64)
    qty = rng.integers(1, 50_000, n, dtype=np.int32)
    # amounts are exact cents so sums compare exactly across engines
    amount = rng.integers(0, 10_000_000, n).astype(np.float64) / 100.0
    # every partition value in every batch, in a seeded order
    keys = np.arange(n) % shape.partitions
    rng.shuffle(keys)
    k = np.array([part_value(int(i)) for i in range(shape.partitions)])[keys]
    return pa.table(
        {"id": ids, "qty": qty, "amount": amount, "k": k}, schema=SOURCE_SCHEMA
    )


def write_backlog(seed: int, shape: IngestShape, out_dir: str, n_files: int) -> None:
    """Write the first ``n_files`` files of the backlog, one file per
    micro-batch, with increasing modification times so the file source
    takes them in order."""
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(ingest_batch(seed, shape, f), path)
        os.utime(path, ns=(1_600_000_000_000_000_000 + f * 10**9,) * 2)


def expected_ingest(seed: int, shape: IngestShape, n_files: int) -> dict:
    """Per-partition (count, sum(qty), sum(amount) in cents) and the full
    id set of one pass over the first ``n_files`` files of the backlog."""
    per_part: dict[str, list[int]] = {}
    ids = []
    for f in range(n_files):
        t = ingest_batch(seed, shape, f)
        ids.append(t.column("id").to_numpy())
        cents = np.rint(t.column("amount").to_numpy() * 100).astype(np.int64)
        qty = t.column("qty").to_numpy().astype(np.int64)
        keys = t.column("k").to_numpy(zero_copy_only=False)
        for p in np.unique(keys):
            m = keys == p
            acc = per_part.setdefault(str(p), [0, 0, 0])
            acc[0] += int(m.sum())
            acc[1] += int(qty[m].sum())
            acc[2] += int(cents[m].sum())
    all_ids = np.sort(np.concatenate(ids))
    return {"per_part": {p: tuple(v) for p, v in per_part.items()}, "ids": all_ids}


# -- curation tables ---------------------------------------------------------

_WORDS = (
    "the a data row column table query join filter group sort merge hash "
    "scan key value line order part customer batch stream window spark "
    "vector agg small big fast slow"
).split()
_LANGS = ["en", "fr", "es", "de", "zh"]


@dataclass(frozen=True)
class CurateShape:
    customers: int = 150
    orders: int = 1500
    parts: int = 200
    suppliers: int = 10
    documents: int = 500
    embeddings: int = 500
    events: int = 1000
    dim: int = 64


def _ts(rng, n, lo="1995-01-01", hi="2001-12-31") -> np.ndarray:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(lo_d, hi_d, n)
    return (days * 86_400_000_000).astype("datetime64[us]")


def curate_tables(seed: int, shape: CurateShape = CurateShape()) -> dict[str, pa.Table]:
    """TPC-H-like star schema plus ``events``, ``documents`` and
    ``embeddings``, with the column names and types the registered
    queries read. A seeded share of documents are near-copies of earlier
    ones, and embeddings cluster around their label's centroid, so the
    dedup and graph operators find non-trivial structure."""
    rng = np.random.default_rng([seed, 7])
    s = shape
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(s.customers), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
            "c_acctbal": rng.integers(-99_999, 999_999, s.customers) / 100.0,
            "c_mktsegment": segs[rng.integers(0, 5, s.customers)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s.suppliers), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
            "s_acctbal": rng.integers(-99_999, 999_999, s.suppliers) / 100.0,
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(s.parts), pa.int64()),
            "p_name": [f"part {i}" for i in range(s.parts)],
            "p_brand": [f"Brand#{1 + i % 5}{1 + i % 4}" for i in range(s.parts)],
            "p_type": [f"TYPE{i % 7}" for i in range(s.parts)],
            "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
            "p_retailprice": rng.integers(90_000, 200_000, s.parts) / 100.0,
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, s.orders)],
            "o_totalprice": rng.integers(100_000, 50_000_000, s.orders) / 100.0,
            "o_orderdate": _ts(rng, s.orders),
            "o_orderpriority": prio[rng.integers(0, 5, s.orders)],
        }
    )
    lines = rng.integers(1, 8, s.orders)
    # ~3% large-volume orders, so the Q18 HAVING filter keeps some
    big = rng.random(s.orders) < 0.03
    lines[big] = 7
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(s.orders), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li)
    qty[np.repeat(big, lines)] = rng.integers(40, 51, int(big.sum()) * 7)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, s.parts, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s.suppliers, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty.astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n_li) / 100.0,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(rng, n_li),
        }
    )
    etypes = np.array(["click", "view", "purchase", "signup", "logout"])
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(s.events), pa.int64()),
            "ts": np.sort(_ts(rng, s.events, "2024-01-01", "2024-03-01"))
            + rng.integers(0, 86_400_000_000, s.events).astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, 100, s.events), pa.int64()),
            "event_type": etypes[rng.integers(0, 5, s.events)],
            "value": rng.integers(0, 100_000, s.events) / 100.0,
            "props": [f'{{"k": {int(v)}}}' for v in rng.integers(0, 10, s.events)],
        }
    )
    texts: list[str] = []
    for i in range(s.documents):
        if i >= 20 and rng.random() < 0.25:
            # near-copy of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(8, 90))]
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(s.documents), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, 5, s.documents)],
            "source": [f"src{i % 20}" for i in range(s.documents)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    centroids = rng.normal(size=(10, s.dim))
    labels = rng.integers(0, 10, s.embeddings)
    vec = centroids[labels] + 0.8 * rng.normal(size=(s.embeddings, s.dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(s.embeddings), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_curate_tables(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in curate_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
