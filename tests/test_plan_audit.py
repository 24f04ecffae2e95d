"""Fleet-wide physical-plan audit: every declared query's plan is swept
for the operators that kill 100 TB runs. A new query (or a regression in
an operator) that introduces a cartesian product, a row-at-a-time Python
UDF, or an unexpected whole-table single-partition funnel fails here —
with an allowlist that documents WHY each accepted hit is safe.

The SDF ingest plan is audited too: the tag map must be built once per
record, after the fan-out exchange, in a whole-stage codegen stage.
"""

import gzip
import os
import re

import pytest

from local_pubchem_db_spark.pipeline import compounds_plan
from local_pubchem_db_spark.plans.layout import compile_layout, load_db_specifications
from local_pubchem_db_spark.queries import QUERIES
from local_pubchem_db_spark.sources.sdf import FAN_OUT_MIN_BYTES, read_sdf
from tests.test_pipeline import run_in_job_group
from tests.test_sdf_parser_properties import dedup_policy

# name -> {pattern: max_count} with the justification for each entry.
ALLOWED = {
    # global COUNT(*): the final reduce of per-partition partial counts —
    # one row per partition reaches the single task, never the data
    "count_star": {"SinglePartition": 1},
    # global sketch aggregate: same shape (partial HLL/GK merge)
    "approx_sketches": {"SinglePartition": 1},
    # distributed_ntile: the <= num_buckets-row offsets prefix-sum (also
    # pinned structurally by test_plans.py)
    "ntile_price_deciles": {"SinglePartition": 1},
    # range join: non-equi predicates plan BroadcastNestedLoopJoin with
    # the SMALL side broadcast — the documented strategy; the loop join
    # never materializes a cartesian (predicates filter in the join)
    "price_band_pairs": {"BroadcastNestedLoopJoin": 2},
    # r15: the split-form snapshot totals ride a broadcast 1-ROW cross
    # join (the scalar-attach pattern replacing a driver .first()); the
    # build side is a global aggregate — SinglePartition carries one row
    # per upstream partition and the loop join multiplies by exactly 1
    "token_drift": {"BroadcastNestedLoopJoin": 2, "SinglePartition": 1},
}

RED_FLAGS = [
    "CartesianProduct",       # unbounded pair blow-up
    "BatchEvalPython",        # row-at-a-time Python UDF (Arrow is ArrowEvalPython)
    "SinglePartition",        # whole-input funnel unless aggregate-fed
    "BroadcastNestedLoopJoin",  # quadratic unless one side is tiny by design
]


def _plan(spark, name, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_scale_killers_in_plan(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    allowed = ALLOWED.get(name, {})
    for bad in RED_FLAGS:
        count = plan.count(bad)
        assert count <= allowed.get(bad, 0), (
            f"{name}: {bad} x{count} in physical plan "
            f"(allowed {allowed.get(bad, 0)}) — justify it in ALLOWED or "
            f"fix the plan\n{plan}"
        )


# --- SDF ingest: the tag map is parsed once, after the fan-out, in codegen
_PARSE_EXPRS = ("regexp_extract_all", "map_from_")
_CODEGEN_NODE = re.compile(r"^[\s:|+-]*(\*\((\d+)\) )?(Project|Filter|Generate) (.*)$")


def _ingest_plans(spark, path, layout):
    """executedPlan of compounds_plan(read_sdf(path)): as planned, and
    with AQE off, where the whole-stage codegen stages show before any
    stage has run."""
    def plan():
        return compounds_plan(read_sdf(spark, path), layout)._jdf.queryExecution(
        ).executedPlan().toString()

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        planned = plan()
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        static = plan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return planned, static


def _default_layout():
    return compile_layout(load_db_specifications(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "default_db_layout.json")
    ))


def test_sdf_ingest_parses_each_record_once(spark, sdf_dir, tmp_path):
    layout = _default_layout()
    # above read_sdf's fan-out floor: fixture records stored uncompressed
    with open(os.path.join(sdf_dir, "cmps_00_02.sdf"), "rb") as fh:
        chunk = fh.read()
    big = tmp_path / "big_00_02.sdf.gz"
    with gzip.open(big, "wb", compresslevel=0) as fh:
        for _ in range(FAN_OUT_MIN_BYTES // len(chunk) + 1):
            fh.write(chunk)
    small = os.path.join(sdf_dir, "cmps_00_02.sdf.gz")

    plans, jobs = run_in_job_group(spark, "sdf_ingest_plan_only", lambda: [
        _ingest_plans(spark, p, layout) for p in (str(big), small)
    ])
    assert jobs == 0
    for (planned, static), fanned in zip(plans, (True, False)):
        assert ("RoundRobinPartitioning" in planned) is fanned, planned
        for plan in (planned, static):
            # one map builder, not one more per NOT-NULL column
            assert plan.count("map_from_") == 1, plan
            below = plan.split("RoundRobinPartitioning", 1)[1] if fanned else ""
            assert not any(e in below for e in _PARSE_EXPRS), plan
        # the Generate that yields tags, the NOT-NULL filter and the layout
        # projection run in one whole-stage codegen stage
        nodes = [m.groups() for m in map(_CODEGEN_NODE.match, static.splitlines()) if m]
        parse = [n for n in nodes if n[2] == "Generate" or "atleastnnonnulls" in n[3]
                 or n[3].startswith("[source_file") and "tags" in n[3]]
        assert len(parse) == 3, static
        assert all(n[0] for n in parse) and len({n[1] for n in parse}) == 1, static


def test_sdf_fallback_parse_scans_each_record_once(spark, sdf_dir):
    # a session whose mapKeyDedupPolicy is not LAST_WIN dedups with a
    # lambda, which must read the key array built once, not rescan
    small = os.path.join(sdf_dir, "cmps_00_02.sdf.gz")
    with dedup_policy(spark, "EXCEPTION"):
        plans, jobs = run_in_job_group(
            spark, "sdf_fallback_plan_only",
            lambda: _ingest_plans(spark, small, _default_layout()),
        )
    assert jobs == 0
    for plan in plans:
        # the key scan and the value scan, each once
        assert plan.count("regexp_extract_all") == 2, plan
        assert plan.count("map_from_") == 1, plan
