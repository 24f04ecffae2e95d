"""sdf_build: a cold build, then incremental update rounds.

Set-up runs ``build_db(reset=True)`` over the base shards in a fresh
session, then the warm-up rounds. Each round adds one new shard and runs
``build_db`` again, then runs it once more with nothing pending, the way a
local PubChem mirror takes PubChem's update shards. At these sizes most of
a round is ``build_db``'s fixed per-call work (``sources.manifest``,
``pipeline.build_indexes`` over the whole DB, job scheduling), and the
smaller part is ``sources.sdf`` parsing, ``plans.layout`` projection and
the parquet write of the new shard (README.md gives the shares); no
query-layer work is timed.

A traced run also calls the layers ``build_db`` drives internally, once,
after the timed rounds, and runs the lookup probe of
``compound_lookup.py`` on the DB the rounds built.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import time
from statistics import median

from perfbench import compound_lookup, corpus
from perfbench.corpus import COLUMNS
from perfbench.harness import Bench

BASE_SHARDS = 2
RECORDS_PER_SHARD = 1000
# One new shard per round. Rounds speed up as the JVM warms: on a 4-core
# host a round's wall time falls by ~30% over the first three rounds after
# the cold build and is level from the fourth on. So the first rounds are
# an untimed warm-up, and the timed ones are a fixed count.
WARM_ROUNDS = 3
TIMED_ROUNDS = 3
SPOT_CHECK_ROWS = 64

LAYER_METRICS = {
    "sources.manifest.pending_files.s": ("s", "lower"),
    "sources.manifest.pending_files.jobs": ("count", "lower"),
    "pipeline.compounds_plan.records_per_s": ("records/s", "higher"),
    "pipeline.build_db.cold_s": ("s", "lower"),
    "pipeline.build_db.append_s": ("s", "lower"),
    "pipeline.build_db.noop_s": ("s", "lower"),
    "pipeline.build_db.records_per_s": ("records/s", "higher"),
    "pipeline.build_db.jobs": ("count", "lower"),
    "pipeline.build_db.stages": ("count", "lower"),
    "pipeline.build_db.tasks": ("count", "lower"),
    "pipeline.build_db.noop_jobs": ("count", "lower"),
    "pipeline.build_indexes.s": ("s", "lower"),
    "pipeline.build_indexes.jobs": ("count", "lower"),
    "pipeline.compounds.files": ("count", "lower"),
    "pipeline.compounds.bytes": ("bytes", "lower"),
    "pipeline.idx.bytes": ("bytes", "lower"),
    "pipeline.db.bytes_per_input_byte": ("ratio", "lower"),
}


def build(b: Bench, base_dir: str, reset: bool, kind: str):
    """One traced ``build_db`` call; returns its span, or None on failure.
    build_db's own progress lines are kept off stdout."""
    from local_pubchem_db_spark import build_db

    specs = corpus.load_layout()

    def call():
        cpu = b.cpu_seconds()
        with contextlib.redirect_stdout(io.StringIO()) as out:
            with b.tracer.span("pipeline.build_db", kind=kind) as s:
                rc = build_db(base_dir, True, reset, specs, spark=b.spark)
        s.attrs["cpu_s"] = b.cpu_seconds() - cpu
        if rc != 0:
            raise RuntimeError(f"build_db returned {rc}: {out.getvalue()[-300:]}")
        return s

    ok, span = b.attempt(f"build_db {kind}", call)
    return span if ok else None


def check_manifest(b: Bench, base_dir: str, counts: dict[str, int], when: str) -> None:
    from local_pubchem_db_spark import PubChemDB

    got = {
        r["filename"]: r["n_compounds"]
        for r in PubChemDB(b.spark, base_dir).sdf_file().collect()
    }
    b.check(f"manifest {when}", got == counts, f"got {got} want {counts}")


def fingerprint(b: Bench, base_dir: str) -> tuple[int, int]:
    """(row count, order-insensitive hash of every row)."""
    from local_pubchem_db_spark import PubChemDB
    from pyspark.sql import functions as F

    row = (
        PubChemDB(b.spark, base_dir)
        .compounds()
        .agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*COLUMNS)))
        .first()
    )
    return row[0], row[1]


def spot_check(b: Bench, base_dir: str, rows: list[dict], rng: random.Random, when: str) -> None:
    from local_pubchem_db_spark import PubChemDB
    from pyspark.sql import functions as F

    want = {r["cid"]: tuple(r[c] for c in COLUMNS) for r in rng.sample(rows, SPOT_CHECK_ROWS)}
    got = {
        r["cid"]: tuple(r[c] for c in COLUMNS)
        for r in PubChemDB(b.spark, base_dir)
        .compounds()
        .filter(F.col("cid").isin(list(want)))
        .collect()
    }
    bad = [c for c in want if got.get(c) != want[c]]
    b.check(f"values {when}", not bad and len(got) == len(want),
            f"{len(bad)} of {len(want)} rows differ, first cid {bad[:1]}")


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` for file names ending in ``suffix``."""
    n = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix) and not name.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


def layout_metrics(base_dir: str, input_bytes: int) -> dict[str, float]:
    db = os.path.join(base_dir, "db")
    files, compounds_bytes = tree_bytes(os.path.join(db, "compounds"), ".parquet")
    idx_bytes = sum(
        tree_bytes(os.path.join(db, d), ".parquet")[1]
        for d in os.listdir(db) if d.startswith("idx_")
    )
    return {
        "pipeline.compounds.files": files,
        "pipeline.compounds.bytes": compounds_bytes,
        "pipeline.idx.bytes": idx_bytes,
        "pipeline.db.bytes_per_input_byte": tree_bytes(db)[1] / input_bytes,
    }


def _probe_layers(b: Bench, base_dir: str, base, all_files: list[str]) -> dict:
    """Traced-only calls into the layers build_db drives internally; returns
    their layer metrics."""
    from local_pubchem_db_spark import PubChemDB
    from local_pubchem_db_spark.pipeline import build_indexes, compounds_plan
    from local_pubchem_db_spark.plans.layout import compile_layout
    from local_pubchem_db_spark.sources.manifest import pending_files
    from local_pubchem_db_spark.sources.sdf import read_sdf

    db = PubChemDB(b.spark, base_dir)
    layout = compile_layout(corpus.load_layout())
    out = {}

    def pending():
        with b.tracer.span("sources.manifest.pending_files") as s:
            left = pending_files(b.spark, db.manifest_path, all_files)
        if left:
            raise AssertionError(f"pending_files after the append left {left}")
        out["sources.manifest.pending_files.s"] = s.seconds
        out["sources.manifest.pending_files.jobs"] = s.jobs

    def plan():
        with b.tracer.span("pipeline.compounds_plan") as s:
            rows = compounds_plan(read_sdf(b.spark, base.files), layout)
            rows.write.format("noop").mode("overwrite").save()
        out["pipeline.compounds_plan.records_per_s"] = len(base.rows) / s.seconds

    def indexes():
        with b.tracer.span("pipeline.build_indexes") as s:
            with contextlib.redirect_stdout(io.StringIO()):
                build_indexes(b.spark, db, layout)
        out["pipeline.build_indexes.s"] = s.seconds
        out["pipeline.build_indexes.jobs"] = s.jobs

    for fn in (pending, plan, indexes):
        b.attempt(f"probe {fn.__name__}", fn)
    return out


def update_round(b: Bench, base_dir: str, landed: dict, shard, rng: random.Random,
                 checked: bool = True) -> dict | None:
    """Add one new shard and run ``build_db`` (append), then run it again
    with nothing pending (no-op); if ``checked``, each call is followed by
    its checks. ``landed`` holds the rows and manifest counts expected
    before the round and is updated. Returns the two build spans, or None
    if a call or a check failed: such a round is not a measurement."""
    failed_before = b.failed
    rows = landed["rows"] + shard.rows
    counts = {**landed["counts"], **shard.counts}
    state = {}

    def verify_append():
        state["fp"] = fingerprint(b, base_dir)
        n = state["fp"][0]
        b.check("count after append", n == len(rows), f"{n} != {len(rows)}")
        check_manifest(b, base_dir, counts, "append")
        spot_check(b, base_dir, rows, rng, "append")

    def verify_noop():
        fp = fingerprint(b, base_dir)
        b.check("noop rerun changes no row", fp == state["fp"], f"{fp} != {state['fp']}")
        check_manifest(b, base_dir, counts, "noop rerun")

    for f in shard.files:
        shutil.copy(f, os.path.join(base_dir, "sdf"))
    landed.update(rows=rows, counts=counts)
    spans = {}
    for kind, verify in (("append", verify_append), ("noop", verify_noop)):
        spans[kind] = build(b, base_dir, False, kind)
        if spans[kind] is None or checked and not b.attempt(f"verify {kind}", verify)[0]:
            return None
    return spans if b.failed == failed_before else None


def run(b: Bench) -> dict:
    t = time.perf_counter()
    base_dir = os.path.join(b.work_dir, "sdf_build")
    with b.tracer.span("bench.generate"):
        base = corpus.generate(os.path.join(base_dir, "sdf"), b.seed, BASE_SHARDS, RECORDS_PER_SHARD)
        updates = [
            corpus.generate(os.path.join(b.work_dir, f"update{i}"), b.seed, 1, RECORDS_PER_SHARD,
                            first_shard=BASE_SHARDS + i, formulas=base.formulas)
            for i in range(WARM_ROUNDS + TIMED_ROUNDS)
        ]
    gen_s = time.perf_counter() - t

    # The cold build runs in a fresh session, as build_pubchem_db.py does,
    # so it carries the JVM's one-time costs (class loading, code
    # generation, JIT: most of its ~14 s on a 4-core host). It is set-up,
    # with the warm-up rounds, and the spread of one fresh-JVM build per
    # run is too wide to gate on.
    cold = build(b, base_dir, True, "cold")
    if cold is None or not b.attempt("verify cold", lambda: check_manifest(
            b, base_dir, base.counts, "cold"))[0]:
        return {"setup_s": b.session_s + time.perf_counter() - t}
    rng = random.Random(b.seed)
    landed = {"rows": list(base.rows), "counts": dict(base.counts)}
    # Warm-up rounds skip their checks to keep set-up short: the checks of
    # the first timed round cover every shard landed so far.
    for shard in updates[:WARM_ROUNDS]:
        if update_round(b, base_dir, landed, shard, rng, checked=False) is None:
            return {"setup_s": b.session_s + time.perf_counter() - t}
    setup_s = b.session_s + time.perf_counter() - t

    done = []
    for shard in updates[WARM_ROUNDS:]:
        spans = update_round(b, base_dir, landed, shard, rng)
        if spans is None:
            break
        done.append(spans)
    if not done:
        return {"setup_s": setup_s}
    out = {
        "setup_s": setup_s,
        "op_p50_ms": median([round_seconds(r) for r in done]) * 1000.0,
        "op_cpu_s": median([sum(s.attrs["cpu_s"] for s in r.values()) for r in done]),
        "layers": {"bench.generate.s": gen_s},
    }
    if b.trace:
        landed_updates = updates[:WARM_ROUNDS + len(done)]
        all_files = [os.path.join(base_dir, "sdf", os.path.basename(f))
                     for c in [base, *landed_updates] for f in c.files]
        input_bytes = sum(c.input_bytes() for c in [base, *landed_updates])
        out["layers"].update(_traced_layers(cold, done, base, base_dir, input_bytes))
        out["layers"].update(_probe_layers(b, base_dir, base, all_files))
        out["layers"].update(compound_lookup.probe(b, base_dir, landed["rows"]))
    return out


def round_seconds(spans: dict) -> float:
    return sum(s.seconds for s in spans.values())


def _traced_layers(cold, done, base, base_dir, input_bytes) -> dict:
    def med(kind, attr="seconds"):
        return median([getattr(r[kind], attr) for r in done])

    return {
        "pipeline.build_db.cold_s": cold.seconds,
        "pipeline.build_db.append_s": med("append"),
        "pipeline.build_db.noop_s": med("noop"),
        "pipeline.build_db.records_per_s": len(base.rows) / cold.seconds,
        "pipeline.build_db.jobs": cold.jobs,
        "pipeline.build_db.stages": cold.stages,
        "pipeline.build_db.tasks": cold.tasks,
        "pipeline.build_db.noop_jobs": med("noop", "jobs"),
        **layout_metrics(base_dir, input_bytes),
    }
