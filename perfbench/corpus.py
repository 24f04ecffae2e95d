"""Seeded PubChem-style SDF corpus with a ground-truth sidecar.

Records are templated on the fixture records in ``tests/fixtures/sdf/``
(read only). Per record the generator varies the CID, a random 14-10-1
InChIKey, ``exact_mass`` in [100, 600], the molecular weight and the
formula, drawn from a low-cardinality pool; about 40% of records carry no
XLOGP3 tag, as in ``FIXTURES.md``. Every other tag keeps its template
value, so each record has the ~33 tags of a real PubChem record.

Shards are named ``Compound_<lo>_<hi>.sdf.gz`` like PubChem's, and the
same seed gives byte-identical files (gzip mtime is pinned to 0).

The ground truth holds, per record, the value every column of
``default_db_layout.json`` should take after ``build_db``; each call also
writes it next to the shards as a JSON sidecar (``truth_path``).
"""

from __future__ import annotations

import gzip
import json
import os
import random
import string
from dataclasses import dataclass, field

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIR = os.path.join(REPO_ROOT, "tests", "fixtures", "sdf")
LAYOUT_PATH = os.path.join(REPO_ROOT, "default_db_layout.json")

XLOGP3_TAGS = ("PUBCHEM_XLOGP3", "PUBCHEM_XLOGP3_AA")
NO_XLOGP3_SHARE = 0.4
MASS_RANGE = (100.0, 600.0)
FORMULA_POOL_SIZE = 64
# CIDs are drawn without replacement from a shard's range, which is this
# many times wider than the shard, so ranges have PubChem-like gaps.
CID_SPAN_FACTOR = 2
# the compounds columns of default_db_layout.json
COLUMNS = (
    "cid", "InChI", "InChIKey", "InChIKey_1", "SMILES_CAN", "SMILES_ISO",
    "xlogp3", "exact_mass", "molecular_formula", "molecular_weight",
)


@dataclass
class Corpus:
    """Generated shards plus the expected ``compounds`` rows."""

    files: list[str] = field(default_factory=list)
    # column name -> value, one dict per record, in file then record order
    rows: list[dict] = field(default_factory=list)
    # shard basename -> number of records in it
    counts: dict[str, int] = field(default_factory=dict)
    formulas: list[str] = field(default_factory=list)

    def input_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.files)


def _load_templates() -> list[tuple[list[str], list[tuple[str, list[str]]]]]:
    """Fixture records as (molfile lines, [(tag, value lines)])."""
    templates = []
    for name in sorted(os.listdir(FIXTURE_DIR)):
        if not name.endswith(".sdf"):
            continue
        with open(os.path.join(FIXTURE_DIR, name), encoding="utf-8") as fh:
            text = fh.read().replace("'", "")
        for chunk in text.split("$$$$\n"):
            if not chunk.strip():
                continue
            lines = chunk.rstrip("\n").split("\n")
            end = lines.index("M  END") + 1
            mol, tags = lines[:end], []
            for line in lines[end:]:
                if line.startswith("> <") and line.endswith(">"):
                    tags.append((line[3:-1], []))
                elif line:
                    tags[-1][1].append(line)
            templates.append((mol, tags))
    if not templates:
        raise FileNotFoundError(f"no SDF fixture records under {FIXTURE_DIR}")
    return templates


def _formula_pool(rng: random.Random) -> list[str]:
    pool: set[str] = set()
    while len(pool) < FORMULA_POOL_SIZE:
        f = "C%dH%d" % (rng.randint(4, 40), rng.randint(4, 60))
        for el, hi in (("Cl", 2), ("N", 4), ("O", 6), ("S", 2)):
            n = rng.randint(0, hi)
            f += "" if n == 0 else el if n == 1 else f"{el}{n}"
        pool.add(f)
    return sorted(pool)


def _inchikey(rng: random.Random) -> str:
    up = string.ascii_uppercase
    return "%s-%s-%s" % (
        "".join(rng.choices(up, k=14)),
        "".join(rng.choices(up, k=10)),
        rng.choice(up),
    )


def _record(template, values: dict[str, str | None]) -> str:
    """Render one record: template tags in order, overridden by ``values``
    (None drops the tag); override tags absent from the template are
    appended before the end of the record."""
    mol, tags = template
    out = [values["PUBCHEM_COMPOUND_CID"]] + mol[1:]
    seen = set()
    for tag, vals in tags:
        seen.add(tag)
        if tag in values:
            if values[tag] is None:
                continue
            vals = [values[tag]]
        out += [f"> <{tag}>", *vals, ""]
    for tag, val in values.items():
        if tag not in seen and val is not None:
            out += [f"> <{tag}>", val, ""]
    return "\n".join(out) + "\n$$$$\n"


def generate(
    out_dir: str,
    seed: int,
    n_shards: int,
    records_per_shard: int,
    first_shard: int = 0,
    formulas: list[str] | None = None,
) -> Corpus:
    """Write shards ``first_shard .. first_shard + n_shards - 1`` into
    ``out_dir``. Shard ``i`` covers CIDs ``[i*w + 1, (i+1)*w]`` with
    ``w = records_per_shard * CID_SPAN_FACTOR``, so shards generated in
    separate calls (a base corpus, then appended shards) never collide.
    Pass the base corpus's ``formulas`` to appended shards to keep one
    formula pool."""
    os.makedirs(out_dir, exist_ok=True)
    templates = _load_templates()
    rng = random.Random(f"{seed}:{first_shard}")
    formulas = formulas or _formula_pool(random.Random(f"{seed}:formulas"))
    corpus = Corpus(formulas=list(formulas))
    width = records_per_shard * CID_SPAN_FACTOR
    for shard in range(first_shard, first_shard + n_shards):
        lo, hi = shard * width + 1, (shard + 1) * width
        name = f"Compound_{lo:09d}_{hi:09d}.sdf.gz"
        cids = sorted(rng.sample(range(lo, hi + 1), records_per_shard))
        parts = []
        for cid in cids:
            key = _inchikey(rng)
            mass = round(rng.uniform(*MASS_RANGE), 4)
            weight = round(mass + rng.uniform(0.0, 2.0), 3)
            formula = rng.choice(formulas)
            xlogp = None
            xlogp_tag = rng.choice(XLOGP3_TAGS)
            if rng.random() >= NO_XLOGP3_SHARE:
                xlogp = round(rng.uniform(-5.0, 10.0), 1)
            template = rng.choice(templates)
            inchi = "InChI=1S/%s/c%d" % (formula, cid)
            values = {
                "PUBCHEM_COMPOUND_CID": str(cid),
                "PUBCHEM_IUPAC_INCHI": inchi,
                "PUBCHEM_IUPAC_INCHIKEY": key,
                "PUBCHEM_EXACT_MASS": "%.4f" % mass,
                "PUBCHEM_MONOISOTOPIC_WEIGHT": "%.4f" % mass,
                "PUBCHEM_MOLECULAR_FORMULA": formula,
                "PUBCHEM_MOLECULAR_WEIGHT": "%.3f" % weight,
                XLOGP3_TAGS[0]: None,
                XLOGP3_TAGS[1]: None,
            }
            if xlogp is not None:
                values[xlogp_tag] = "%.1f" % xlogp
            parts.append(_record(template, values))
            tag_value = dict(
                (tag, vals[0] if vals else "") for tag, vals in template[1]
            )
            corpus.rows.append(
                {
                    "source_file": name,
                    "cid": cid,
                    "InChI": inchi,
                    "InChIKey": key,
                    "InChIKey_1": key.split("-")[0],
                    "SMILES_CAN": tag_value["PUBCHEM_OPENEYE_CAN_SMILES"],
                    "SMILES_ISO": tag_value["PUBCHEM_OPENEYE_ISO_SMILES"],
                    "xlogp3": xlogp,
                    "exact_mass": float("%.4f" % mass),
                    "molecular_formula": formula,
                    "molecular_weight": float("%.3f" % weight),
                }
            )
        path = os.path.join(out_dir, name)
        with open(path, "wb") as fh:
            fh.write(gzip.compress("".join(parts).encode(), compresslevel=6, mtime=0))
        corpus.files.append(path)
        corpus.counts[name] = records_per_shard
    with open(truth_path(out_dir, first_shard), "w", encoding="utf-8") as fh:
        json.dump({"counts": corpus.counts, "rows": corpus.rows}, fh)
    return corpus


def truth_path(out_dir: str, first_shard: int = 0) -> str:
    """The ground-truth sidecar of one ``generate`` call: expected rows and
    per-shard record counts, as JSON."""
    return os.path.join(out_dir, f"truth_{first_shard:06d}.json")


def load_layout() -> dict:
    with open(LAYOUT_PATH, encoding="utf-8") as fh:
        return json.load(fh)
