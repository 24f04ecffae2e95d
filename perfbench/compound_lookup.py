"""Compound lookups through ``pipeline.PubChemDB``, as a traced probe.

A closed loop of one client, like an interactive user or a script that
waits for each reply: ``by_cid`` 40%, ``by_inchikey`` 20%,
``by_inchikey_prefix`` 15%, ``mass_window`` (5 ppm) 15% and
``by_formula`` 10%. Keys follow a Zipf skew over the compounds, and about
10% are misses. Every result, misses included, is compared with the rows
the ground truth predicts.

The loop runs in traced ``sdf_build`` runs, on the DB the update rounds
built, and gives the PubChemDB layer metrics. It is not a workload of its
own: a fresh JVM needs ~20 s for its first ``build_db``, which does not fit
a third workload into the benchmark's time budget (see README.md).
"""

from __future__ import annotations

import bisect
import itertools
import random
import string
from collections import defaultdict
from statistics import median

from perfbench import corpus
from perfbench.corpus import COLUMNS
from perfbench.harness import Bench

MIX = {
    "by_cid": 40,
    "by_inchikey": 20,
    "by_inchikey_prefix": 15,
    "mass_window": 15,
    "by_formula": 10,
}
# the column each op looks up
FIELD = {
    "by_cid": "cid",
    "by_inchikey": "InChIKey",
    "by_inchikey_prefix": "InChIKey_1",
    "mass_window": "exact_mass",
    "by_formula": "molecular_formula",
}
PPM = 5.0
MISS_SHARE = 0.10
ZIPF_S = 1.1
LOOKUPS = 40

LAYER_METRICS = {
    **{f"pipeline.PubChemDB.{op}.p50_ms": ("ms", "lower") for op in MIX},
    "pipeline.PubChemDB.p50_ms": ("ms", "lower"),
    "pipeline.PubChemDB.plan_ms": ("ms", "lower"),
    "pipeline.PubChemDB.exec_ms": ("ms", "lower"),
    "pipeline.PubChemDB.jobs_per_op": ("count", "lower"),
    "pipeline.PubChemDB.files_scanned_per_op": ("count", "lower"),
    "pipeline.PubChemDB.rows_scanned_per_row_returned": ("ratio", "lower"),
}


class Truth:
    """Expected lookup results, indexed from the corpus ground truth."""

    def __init__(self, rows: list[dict]):
        self.rows = rows
        self.by = {k: defaultdict(list) for k in FIELD.values() if k != "exact_mass"}
        for r in rows:
            for k, index in self.by.items():
                index[r[k]].append(r)
        self.by_mass = sorted(rows, key=lambda r: r["exact_mass"])
        self.masses = [r["exact_mass"] for r in self.by_mass]

    def expect(self, op: str, arg) -> list[dict]:
        if op == "mass_window":
            tol = arg * PPM / 1e6
            lo = bisect.bisect_left(self.masses, arg - tol)
            hi = bisect.bisect_right(self.masses, arg + tol)
            return self.by_mass[lo:hi]
        return self.by[FIELD[op]].get(arg, [])


class KeyGen:
    """Seeded lookup arguments: a compound by Zipf rank over a seeded
    permutation, or with probability MISS_SHARE a key no compound has."""

    def __init__(self, truth: Truth, seed: int):
        self.truth = truth
        self.rng = random.Random(seed)
        self.ranked = self.rng.sample(truth.rows, len(truth.rows))
        self.cum = list(itertools.accumulate(1.0 / (i + 1) ** ZIPF_S for i in range(len(self.ranked))))
        self.max_cid = max(r["cid"] for r in truth.rows)

    def schedule(self, n: int) -> list[str]:
        """n ops in MIX proportions, shuffled."""
        total = sum(MIX.values())
        ops = [op for op, w in MIX.items() for _ in range(round(n * w / total))]
        self.rng.shuffle(ops)
        return ops

    def arg(self, op: str):
        if self.rng.random() < MISS_SHARE:
            return self._miss(op)
        r = self.rng.choices(self.ranked, cum_weights=self.cum)[0]
        return r[FIELD[op]]

    def _miss(self, op: str):
        rng, up = self.rng, string.ascii_uppercase
        draw = {
            "by_cid": lambda: rng.randint(1, 2 * self.max_cid),
            "by_inchikey": lambda: "%s-%s-%s" % (
                "".join(rng.choices(up, k=14)), "".join(rng.choices(up, k=10)), rng.choice(up)),
            "by_inchikey_prefix": lambda: "".join(rng.choices(up, k=14)),
            "mass_window": lambda: round(rng.uniform(*corpus.MASS_RANGE), 4),
            "by_formula": lambda: "C%dH%dXe" % (rng.randint(1, 99), rng.randint(1, 99)),
        }[op]
        while True:
            arg = draw()
            if not self.truth.expect(op, arg):
                return arg


def scan_metrics(df) -> tuple[int, int]:
    """(files, rows) read by the file scans of an executed query, from the
    scan nodes' SQL metrics."""
    totals = {"numFiles": 0, "numOutputRows": 0}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if "Scan" in node.nodeName():
            for key in totals:
                m = node.metrics().get(key)
                if m.isDefined():
                    totals[key] += m.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return totals["numFiles"], totals["numOutputRows"]


def lookup(b: Bench, db, truth: Truth, op: str, arg):
    """One lookup and its check against the ground truth; returns the
    op span, and raises on a wrong result."""
    with b.tracer.span(f"pipeline.PubChemDB.{op}") as s:
        with b.tracer.span("pipeline.PubChemDB.plan"):
            df = getattr(db, op)(arg)
            df._jdf.queryExecution().optimizedPlan()
        with b.tracer.span("pipeline.PubChemDB.exec") as e:
            got = df.collect()
    want = sorted(tuple(r[c] for c in COLUMNS) for r in truth.expect(op, arg))
    have = sorted(tuple(r[c] for c in COLUMNS) for r in got)
    if have != want:
        raise AssertionError(f"{op}({arg!r}): {len(have)} rows, expected {len(want)}")
    s.attrs["jobs"] = e.jobs
    s.attrs["files"], s.attrs["rows_scanned"] = scan_metrics(df)
    s.attrs["rows_returned"] = len(got)
    return s


def probe(b: Bench, base_dir: str, rows: list[dict]) -> dict:
    """Traced lookups against a built DB; returns the PubChemDB layer
    metrics. A few untimed lookups per op warm the read path first."""
    from local_pubchem_db_spark import PubChemDB

    db, truth = PubChemDB(b.spark, base_dir), Truth(rows)
    keys = KeyGen(truth, b.seed)
    for op in MIX:
        arg = keys.arg(op)
        b.attempt(f"warm {op}", lambda op=op, arg=arg: lookup(b, db, truth, op, arg))
    done = []
    for op in keys.schedule(LOOKUPS):
        arg = keys.arg(op)
        ok, s = b.attempt(f"{op}({arg!r})", lambda op=op, arg=arg: lookup(b, db, truth, op, arg))
        if ok:
            done.append(s)
    return _layers(b, done) if done else {}


def _layers(b: Bench, done) -> dict:
    def ms(xs):
        return median(xs) * 1000.0

    children = defaultdict(list)
    for s in b.tracer.spans:
        if s.parent is not None:
            children[s.parent].append(s)
    by_op = defaultdict(list)
    for s in done:
        by_op[s.name.rsplit(".", 1)[1]].append(s.seconds)
    kids = [children[s.id] for s in done]
    returned = sum(s.attrs["rows_returned"] for s in done)
    return {
        **{f"pipeline.PubChemDB.{op}.p50_ms": ms(by_op[op]) for op in MIX if by_op[op]},
        "pipeline.PubChemDB.p50_ms": ms([s.seconds for s in done]),
        "pipeline.PubChemDB.plan_ms": ms([k[0].seconds for k in kids]),
        "pipeline.PubChemDB.exec_ms": ms([k[1].seconds for k in kids]),
        "pipeline.PubChemDB.jobs_per_op": sum(s.attrs["jobs"] for s in done) / len(done),
        "pipeline.PubChemDB.files_scanned_per_op": sum(s.attrs["files"] for s in done) / len(done),
        "pipeline.PubChemDB.rows_scanned_per_row_returned":
            sum(s.attrs["rows_scanned"] for s in done) / max(1, returned),
    }
