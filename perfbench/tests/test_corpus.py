"""The seeded SDF corpus: same seed, same bytes; and the library's SDF
parser recovers the ground truth from it.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import corpus  # noqa: E402


def _bytes(files):
    out = {}
    for f in files:
        with open(f, "rb") as fh:
            out[os.path.basename(f)] = fh.read()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = corpus.generate(str(tmp_path / "a"), 7, 3, 20)
    b = corpus.generate(str(tmp_path / "b"), 7, 3, 20)
    c = corpus.generate(str(tmp_path / "c"), 8, 3, 20)
    assert _bytes(a.files) == _bytes(b.files)
    assert a.rows == b.rows
    assert _bytes(a.files) != _bytes(c.files)
    with open(corpus.truth_path(str(tmp_path / "a")), encoding="utf-8") as fh:
        sidecar = json.load(fh)
    assert sidecar == {"counts": a.counts, "rows": a.rows}


def test_appended_shards_do_not_collide(tmp_path):
    base = corpus.generate(str(tmp_path), 7, 2, 20)
    extra = corpus.generate(str(tmp_path), 7, 1, 20, first_shard=2, formulas=base.formulas)
    cids = [r["cid"] for r in base.rows + extra.rows]
    assert len(set(cids)) == len(cids)
    assert not set(base.counts) & set(extra.counts)
    assert {r["molecular_formula"] for r in extra.rows} <= set(base.formulas)


@pytest.fixture(scope="module")
def spark():
    from local_pubchem_db_spark.session import get_spark

    s = get_spark(app_name="perfbench-corpus-test", shuffle_partitions=2)
    yield s


def test_parse_sdf_records_recovers_truth(spark, tmp_path):
    from local_pubchem_db_spark.sources.sdf import parse_sdf_records, read_sdf_records

    c = corpus.generate(str(tmp_path), 11, 2, 40)
    parsed = parse_sdf_records(read_sdf_records(spark, c.files)).collect()
    assert len(parsed) == len(c.rows)
    truth = {r["cid"]: r for r in c.rows}
    for rec in parsed:
        want, tags = truth[rec["cid"]], rec["tags"]
        xlogp = tags.get("PUBCHEM_XLOGP3") or tags.get("PUBCHEM_XLOGP3_AA")
        assert rec["source_file"] == want["source_file"]
        assert tags["PUBCHEM_IUPAC_INCHI"] == want["InChI"]
        assert tags["PUBCHEM_IUPAC_INCHIKEY"] == want["InChIKey"]
        assert tags["PUBCHEM_OPENEYE_CAN_SMILES"] == want["SMILES_CAN"]
        assert tags["PUBCHEM_OPENEYE_ISO_SMILES"] == want["SMILES_ISO"]
        assert float(tags["PUBCHEM_EXACT_MASS"]) == want["exact_mass"]
        assert tags["PUBCHEM_MOLECULAR_FORMULA"] == want["molecular_formula"]
        assert float(tags["PUBCHEM_MOLECULAR_WEIGHT"]) == want["molecular_weight"]
        assert (None if xlogp is None else float(xlogp)) == want["xlogp3"]
    share_null = sum(r["xlogp3"] is None for r in c.rows) / len(c.rows)
    assert 0.2 < share_null < 0.6
