"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload sdf_build --seed 1 --seconds 10 --trace 0

Workloads: sdf_build and operator_suite (see README.md).
With ``--trace 0`` the run reports the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics, taken from
spans and Spark job counts. Every metric is printed by name with its unit,
then the outcome of the correctness checks, and as the last line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

Run from the repository root. Scratch data goes under
``.perfbench_work/``; the spans of each run are kept in
``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
WORKLOADS = ("sdf_build", "operator_suite")
# per-layer metrics every workload reports
COMMON_LAYER_METRICS = {
    "session.get_spark.s": ("s", "lower"),
    "bench.generate.s": ("s", "lower"),
    # op_p50_ms measured with tracing on: against the untraced run's
    # op_p50_ms it gives the tracing overhead end to end
    "trace.op_p50_ms": ("ms", "lower"),
    # CPU seconds of the same timed work: the Python driver, the driver JVM
    # and its Python workers. Not an end-to-end metric: it falls with the
    # JVM's JIT warm-up and rises with other tenants' load on a shared
    # host, and spreads about twice as wide as wall time from run to run.
    "trace.op_cpu_s": ("s", "lower"),
    # time in the tracer's own Spark calls, and its share of the run
    "trace.bookkeeping_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    # Accepted and not read: each workload times a fixed amount of work,
    # about this long on a 4-core host, so that the number of samples
    # behind a metric does not change with the host's speed.
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def layer_metrics(modules) -> dict:
    out = dict(COMMON_LAYER_METRICS)
    for m in modules:
        out.update(m.LAYER_METRICS)
    return out


def layer_values(b, res: dict, layer_units: dict, own: dict, run_s: float) -> dict:
    """The per-layer values of a traced run. A layer the workload never
    calls reads 0. A layer it calls whose metric is missing (its probe
    failed) is left out and fails a check, so that no failure reads as a
    perfect 0."""
    layers = {name: 0.0 for name in layer_units if name not in own}
    layers.update(res.get("layers", {}))
    layers["session.get_spark.s"] = b.session_s
    layers["trace.op_p50_ms"] = res["op_p50_ms"]
    layers["trace.op_cpu_s"] = res["op_cpu_s"]
    layers["trace.bookkeeping_s"] = b.tracer.bookkeeping_s
    layers["trace.overhead_frac"] = b.tracer.bookkeeping_s / run_s
    missing = sorted(set(layer_units) - set(layers))
    b.check("every layer metric measured", not missing, f"missing {missing}")
    return layers


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, REPO_ROOT)
    if importlib.util.find_spec("local_pubchem_db_spark") is None:
        raise SystemExit(f"local_pubchem_db_spark not found under {REPO_ROOT}")
    from perfbench import harness

    run_name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work_dir = os.path.join(WORK_ROOT, run_name)
    pins = harness.pin_environment(work_dir)

    from perfbench import compound_lookup, operator_suite, sdf_build

    modules = {"sdf_build": sdf_build, "operator_suite": operator_suite}
    # the layer metrics each workload measures; sdf_build runs the lookup probe
    own = {
        "sdf_build": layer_metrics([sdf_build, compound_lookup]),
        "operator_suite": layer_metrics([operator_suite]),
    }
    e2e_units, layer_units = declared_metrics()
    ours = {k: v[0] for m in own.values() for k, v in m.items()}
    if ours != layer_units:
        raise SystemExit("BENCHMARK.json per_layer metrics do not match the workloads'")

    b = harness.Bench(args.workload, args.seed, bool(args.trace), work_dir)
    try:
        b.start_session()
        t = time.perf_counter()
        res = modules[args.workload].run(b)
        run_s = time.perf_counter() - t
        harness.log(f"{args.workload}: run took {run_s:.1f}s after session start")
        if "op_p50_ms" not in res:
            for e in b.errors:
                harness.log(f"error: {e}")
            harness.log("no complete measurement: every timed op failed")
            return 1
        layers = layer_values(b, res, layer_units, own[args.workload], run_s) if b.trace else {}
        values = {
            "setup_s": res["setup_s"],
            "op_p50_ms": res["op_p50_ms"],
            "peak_rss_mb": b.peak_rss_mb(),
            "ops_ok_frac": 1.0 - b.failed / b.attempted,
        }
        host = dict(b.host(), pins=pins)
        os.makedirs(os.path.join(WORK_ROOT, "spans"), exist_ok=True)
        b.tracer.write(
            os.path.join(WORK_ROOT, "spans", f"{run_name}.json"),
            {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "host": host, "errors": b.errors},
        )
    finally:
        b.stop()
        shutil.rmtree(work_dir, ignore_errors=True)

    report, units = (layers, layer_units) if args.trace else (values, e2e_units)
    metrics = {k: {"value": report[k], "unit": units[k]} for k in units if k in report}
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print("host " + json.dumps(host, sort_keys=True))
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    checks_ok = sum(ok for _, ok in b.checks)
    print(f"checks {checks_ok}/{len(b.checks)} passed; ops {b.attempted} attempted, {b.failed} failed")
    for e in b.errors:
        print(f"error {e}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
