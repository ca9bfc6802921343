"""``curate_ops``: a fixed list of registered curation and relational
queries over generated tables, in one session. The first pass is cold
(a fresh session); warm passes repeat until the run's time is used up.
Every pass collects every query's rows, and every pass is checked
against the query's DuckDB oracle. The sink is not used."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from . import checks, gen
from .harness import CPUS, Result, median, stop_spark
from .trace import Tracer, install_ops, span

# query -> the generated tables it reads. The iterative operators (LSH
# and connected components, k-core), the kNN cell kernel, the
# containment join with its parquet barriers, and one plain relational
# query as a control that iterative-operator changes should not move.
QUERIES = {
    "dedup_lsh_components": ("documents",),
    "dedup_connected_components": ("documents",),
    "graph_kcore": ("embeddings",),
    "sim_knn_graph_lsh": ("embeddings",),
    "dedup_containment_pairs": ("documents",),
    "q1_pricing_summary": ("lineitem",),
}
READBACKS = 9
LAYER_UNITS = {"io.barrier_writes_per_pass": "count", "io.barrier_bytes_per_pass": "bytes"}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def run(seed: int, seconds: float, trace: bool, workdir: str, t_proc: float) -> Result:
    t_gen = time.monotonic()
    data = os.path.join(workdir, "data")
    gen.write_curate_tables(seed, data)
    table_rows = {
        t: pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
        for t in {t for ts in QUERIES.values() for t in ts}
    }
    gen_s = time.monotonic() - t_gen

    tracer = Tracer() if trace else None
    t_sess = time.monotonic()
    from spark_hive_streaming_sink_spark.io import load_table
    from spark_hive_streaming_sink_spark.registry import oracle_sql, queries
    from spark_hive_streaming_sink_spark.session import get_spark

    spark = get_spark("perfbench-curate", cpus=CPUS)
    session_s = time.monotonic() - t_sess
    builders = queries()
    if tracer:
        install_ops(tracer)
    sc = spark.sparkContext
    barriers = os.environ["SHSS_MAT_DIR"]

    passes: list[dict] = []
    failed = 0
    setup_s = t_measure = None
    while True:
        p = len(passes)
        res = {"times": {}, "jobs": {}, "rows": {}}
        n_barriers = len(tracer.closed("io.materialize_parquet")) if tracer else 0
        b0 = _dir_bytes(barriers) if tracer else 0
        t_pass = time.monotonic()
        if setup_s is None:
            setup_s, t_measure = t_pass - t_proc - gen_s, t_pass
        for name in QUERIES:
            group = f"perfbench-p{p}-{name}"
            sc.setJobGroup(group, group)
            t0 = time.monotonic()
            try:
                with span(tracer, "ops.query", f"p{p}:{name}"):
                    df = builders[name](spark, data)
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001 - a failed query is counted, the run goes on
                print(f"FAILED: pass {p} {name}: {type(e).__name__}: {e}")
                failed += 1
                continue
            res["times"][name] = time.monotonic() - t0
            res["rows"][name] = (df.columns, [tuple(r) for r in rows])
            res["jobs"][name] = len(sc.statusTracker().getJobIdsForGroup(group))
        res["wall"] = time.monotonic() - t_pass
        if tracer:
            res["barriers"] = len(tracer.closed("io.materialize_parquet")) - n_barriers
            res["barrier_bytes"] = _dir_bytes(barriers) - b0
        passes.append(res)
        if len(passes) >= 2 and time.monotonic() - t_measure >= seconds:
            break
    sc.setJobGroup("perfbench-readback", "perfbench-readback")

    # -- readback: a fixed aggregate through the program's table loader
    readback, totals = [], None
    for _ in range(READBACKS):
        t0 = time.monotonic()
        row = load_table(spark, data, "lineitem").selectExpr(
            "count(*) AS n", "sum(cast(round(l_quantity * 100) AS BIGINT)) AS q"
        ).collect()[0]
        readback.append(time.monotonic() - t0)
        totals = (row["n"], row["q"])
    stop_spark(spark)

    # -- checks: every pass of every query against its DuckDB oracle --------
    import duckdb

    problems: list[str] = []
    with duckdb.connect() as con:
        for t in os.listdir(data):
            con.execute(
                f"CREATE VIEW {t[: -len('.parquet')]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data, t)}')"
            )
        oracles = oracle_sql()
        for name in QUERIES:
            rel = con.execute(oracles[name])
            want_cols = [d[0] for d in rel.description]
            want_rows = rel.fetchall()
            for p, res in enumerate(passes):
                if name in res["rows"]:
                    cols, rows = res["rows"][name]
                    problems += checks.check_query(
                        f"pass {p} {name}", rows, cols, want_rows, want_cols
                    )
    li = pq.read_table(os.path.join(data, "lineitem.parquet")).column("l_quantity").to_numpy()
    want = (len(li), int((li * 100).round().astype("int64").sum()))
    if totals != want:
        problems.append(f"readback returned {totals}, lineitem holds {want}")

    # -- end-to-end metrics --------------------------------------------------
    warm = passes[1:]
    lat = [t * 1000 for res in warm for t in res["times"].values()]
    pass_rows = sum(table_rows[t] for ts in QUERIES.values() for t in ts)
    warm_s = median([res["wall"] for res in warm])
    metrics = {
        "setup_s": setup_s,
        "rows_per_s": pass_rows / warm_s,
        "readback_s": median(readback),
        "cold_pass_s": passes[0]["wall"],
        "warm_pass_s": warm_s,
    }
    info = {
        "passes": len(passes), "op_latency_p50_ms": median(lat), "gen_s": gen_s,
        "session_s": session_s,
        "warm_query_s": {n: round(t, 3) for n, t in warm[-1]["times"].items()},
    }
    layers = None
    if tracer:
        tracer.restore()
        layers = {"session.start_s": session_s}
        for name in QUERIES:
            layers[f"ops.{name}.cold_s"] = passes[0]["times"].get(name, 0.0)
            layers[f"ops.{name}.warm_s"] = median(
                [r["times"][name] for r in warm if name in r["times"]]
            )
            layers[f"ops.{name}.jobs"] = warm[-1]["jobs"].get(name, 0)
        layers["io.barrier_writes_per_pass"] = median([r["barriers"] for r in warm])
        layers["io.barrier_bytes_per_pass"] = median([r["barrier_bytes"] for r in warm])
        layers["trace.overhead_pct"] = 100.0 * tracer.overhead_s / sum(r["wall"] for r in passes)
    attempted = len(QUERIES) * len(passes)
    return Result(metrics, layers, attempted, failed, problems, info, tracer)
