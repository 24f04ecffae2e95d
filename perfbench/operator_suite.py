"""operator_suite: one pass over 20 ``queries.QUERIES`` rows on seeded
sf0.01-shaped tables, each row forced through the noop sink.

At this input size most of a pass is per-row cost that does not grow
with the data (README.md gives the split). ``dedup_minhash_lsh`` spends
most of its time in 11 construction jobs; the other rows run their jobs
when the noop write executes them. Library caches are released between
rows.

Setup runs every row once, untimed, and compares its result with its
``queries.ORACLES`` DuckDB twin (the comparison of
``tools/oracle_check.py``). That pass also warms the session. Rows run in
a few threads there, and the DuckDB oracles in one more, to keep set-up
short; the timed pass runs rows one at a time.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import tables
from perfbench.harness import Bench

# row -> the module that implements it
ROWS = {
    "pricing_summary": "queries",
    "top_unshipped_orders": "queries",
    "revenue_by_nation": "queries",
    "brand_volume": "queries",
    "top_orders_per_customer": "operators.topk",
    "event_windows": "queries",
    "session_window": "streaming.events",
    "events_hourly": "queries",
    "dedup_exact": "operators.dedup",
    "dedup_minhash_lsh": "operators.dedup",
    "knn_cosine": "operators.similarity",
    "token_topk": "functions.text",
    "doc_chunks": "operators.chunking",
    "sample_splits": "operators.sampling",
    "text_signals": "functions.text",
    "retrieval_topk": "operators.retrieval",
    "token_drift": "operators.drift",
    "ts_outliers": "operators.timeseries",
    "pct_selection": "operators.percentiles",
    "hybrid_batch": "operators.retrieval",
}
SCALE = 0.01
ORACLE_THREADS = 3

LAYER_METRICS = {
    f"{module}.{row}.{part}": ("count" if part.endswith("jobs") else "s", "lower")
    for row, module in ROWS.items()
    for part in ("construct_s", "construct_jobs", "exec_s", "exec_jobs")
}


def oracle_pass(b: Bench, sf_dir: str) -> None:
    """Every row against its DuckDB twin; also the untimed warm pass."""
    import duckdb
    from local_pubchem_db_spark.operators.util import release_shared_caches
    from local_pubchem_db_spark.queries import ORACLES, QUERIES, TABLES

    from tools.oracle_check import compare

    def oracles():
        con = duckdb.connect()
        try:
            con.execute("SET threads=1")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            return {row: con.execute(ORACLES[row]).df() for row in ROWS}
        finally:
            con.close()

    # slowest rows first, so the threads finish together
    order = sorted(ROWS, key=lambda r: r not in ("dedup_minhash_lsh", "hybrid_batch", "pct_selection"))
    with ThreadPoolExecutor(1) as ox, ThreadPoolExecutor(ORACLE_THREADS) as px:
        want = ox.submit(oracles)
        got = {row: px.submit(lambda row=row: QUERIES[row](b.spark, sf_dir).toPandas()) for row in order}
        ok, want = b.attempt("duckdb oracles", want.result)
        for row in ROWS:
            fine, have = b.attempt(f"oracle pass {row}", got[row].result)
            if fine and ok:
                problems = compare(row, have, want[row])
                b.check(f"oracle {row}", not problems, "; ".join(problems))
    release_shared_caches(b.spark)


def suite_pass(b: Bench, sf_dir: str) -> dict | None:
    """One timed pass: each row once, after its caches are released, in
    the order of ROWS. A back-to-back repeat of a row runs ~25% faster on
    caches the first run filled, so rows are not repeated. Returns
    {row: (construct span, exec span, CPU seconds)}, or None if a row
    failed, since a partial pass is not a measurement."""
    from local_pubchem_db_spark.operators.util import release_shared_caches
    from local_pubchem_db_spark.queries import QUERIES

    runs, complete = {}, True
    for row, module in ROWS.items():

        def one(row=row, module=module):
            release_shared_caches(b.spark)
            cpu = b.cpu_seconds()
            with b.tracer.span(f"{module}.{row}.construct") as c:
                df = QUERIES[row](b.spark, sf_dir)
            with b.tracer.span(f"{module}.{row}.exec") as e:
                df.write.format("noop").mode("overwrite").save()
            return c, e, b.cpu_seconds() - cpu

        ok, run = b.attempt(f"row {row}", one)
        complete &= ok
        if ok:
            runs[row] = run
    release_shared_caches(b.spark)
    return runs if complete else None


def row_seconds(run) -> float:
    return run[0].seconds + run[1].seconds


def run(b: Bench) -> dict:
    sf_dir = os.path.join(b.work_dir, "tables")
    t = time.perf_counter()
    with b.tracer.span("bench.generate"):
        tables.generate(sf_dir, b.seed, SCALE)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    with b.tracer.span("bench.warmup"):
        oracle_pass(b, sf_dir)
    setup_s = b.session_s + gen_s + (time.perf_counter() - t)

    # One timed pass of fixed size (~15-20 s on a 4-core host), so every run
    # reports the same statistic whatever the host's speed.
    runs = suite_pass(b, sf_dir)
    if runs is None:
        return {"setup_s": setup_s}
    out = {
        "setup_s": setup_s,
        "op_p50_ms": sum(map(row_seconds, runs.values())) * 1000.0,
        "op_cpu_s": sum(r[2] for r in runs.values()),
        "layers": {"bench.generate.s": gen_s},
    }
    if b.trace:
        for row, module in ROWS.items():
            name = f"{module}.{row}"
            construct, execute, _ = runs[row]
            out["layers"][f"{name}.construct_s"] = construct.seconds
            out["layers"][f"{name}.construct_jobs"] = construct.jobs
            out["layers"][f"{name}.exec_s"] = execute.seconds
            out["layers"][f"{name}.exec_jobs"] = execute.jobs
    return out
