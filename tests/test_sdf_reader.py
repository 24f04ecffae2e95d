"""SDF reader golden tests.

Goldens ported from the reference test suite (unittests_utils.py:73-156):
CID sequences per fixture file, exact InChI strings, xlogp3 multi-tag
coalesce in all three SD_TAG configurations.
"""

import gzip
import logging
import os

from pyspark.sql import functions as F

from local_pubchem_db_spark.operators.util import release_shared_caches
from local_pubchem_db_spark.plans.layout import compile_layout, select_exprs
from local_pubchem_db_spark.sources import sdf as sdf_source
from local_pubchem_db_spark.sources.sdf import (
    FAN_OUT_MIN_BYTES,
    parse_sdf_records,
    read_sdf,
)
from tests.test_pipeline import run_in_job_group

INCHIS = [
    "InChI=1S/C18H31NO/c1-2-3-4-5-6-7-8-9-10-11-12-13-18-14-16-19(20)17-15-18/h14-17H,2-13H2,1H3",
    "InChI=1S/C11H18O2/c1-2-3-4-5-6-7-8-9-10-11(12)13/h1H,3-10H2,(H,12,13)",
    "InChI=1S/C5H6O5.2Na/c6-3(5(9)10)1-2-4(7)8;;/h1-2H2,(H,7,8)(H,9,10);;/q;2*+1/p-2",
]


def base_specs(xlogp3_tags):
    return {
        "columns": {
            "cid": {
                "SD_TAG": ["PUBCHEM_COMPOUND_CID"],
                "DTYPE": "integer",
                "NOT_NULL": True,
                "PRIMARY_KEY": True,
            },
            "InChI": {
                "SD_TAG": ["PUBCHEM_IUPAC_INCHI"],
                "DTYPE": "varchar",
                "NOT_NULL": True,
            },
            "xlogp3": {
                "SD_TAG": xlogp3_tags,
                "DTYPE": "real",
                "NOT_NULL": False,
            },
        }
    }


def extract(spark, sdf_dir, fname, specs):
    layout = compile_layout(specs)
    df = read_sdf(spark, os.path.join(sdf_dir, fname))
    rows = (
        df.select(*select_exprs(layout, F.col("tags")))
        .orderBy("cid")
        .collect()
    )
    return rows


def test_cid_sequences(spark, sdf_dir):
    # unittests_utils.py:73-87
    expected = {
        "cmps_00_02.sdf": [31038, 31039, 31040],
        "cmps_03_05.sdf": [34516, 34517, 34518],
        "cmps_06_07.sdf": [46773, 46774],
    }
    for fname, cids in expected.items():
        df = read_sdf(spark, os.path.join(sdf_dir, fname))
        got = [r["cid"] for r in df.orderBy("cid").collect()]
        assert got == cids, fname


def test_gzip_matches_plain(spark, sdf_dir):
    plain = read_sdf(spark, os.path.join(sdf_dir, "cmps_00_02.sdf"))
    gz = read_sdf(spark, os.path.join(sdf_dir, "cmps_00_02.sdf.gz"))
    assert sorted(r["cid"] for r in plain.collect()) == sorted(
        r["cid"] for r in gz.collect()
    )


def test_extraction_goldens_both_tags(spark, sdf_dir):
    # unittests_utils.py:89-123 — coalesce over both xlogp3 tags
    rows = extract(
        spark, sdf_dir, "cmps_00_02.sdf",
        base_specs(["PUBCHEM_XLOGP3", "PUBCHEM_XLOGP3_AA"]),
    )
    assert [r["InChI"] for r in rows] == INCHIS
    assert [r["xlogp3"] for r in rows] == [6.6, 3.3, None]


def test_extraction_goldens_only_plain_tag(spark, sdf_dir):
    # unittests_utils.py:125-139
    rows = extract(spark, sdf_dir, "cmps_00_02.sdf", base_specs(["PUBCHEM_XLOGP3"]))
    assert [r["xlogp3"] for r in rows] == [None, 3.3, None]


def test_extraction_goldens_only_aa_tag(spark, sdf_dir):
    # unittests_utils.py:141-156
    rows = extract(spark, sdf_dir, "cmps_00_02.sdf", base_specs(["PUBCHEM_XLOGP3_AA"]))
    assert [r["xlogp3"] for r in rows] == [6.6, None, None]


def test_apostrophe_strip(spark, sdf_dir, tmp_path):
    # utils.py:264 — every apostrophe is deleted from the record
    src = os.path.join(sdf_dir, "cmps_00_02.sdf")
    with open(src) as fh:
        content = fh.read()
    mutated = content.replace(
        "InChI=1S/C18H31NO", "InChI=1S/C18'H31'NO", 1
    )
    p = tmp_path / "apos.sdf"
    p.write_text(mutated)
    rows = extract(
        spark, str(tmp_path), "apos.sdf",
        base_specs(["PUBCHEM_XLOGP3", "PUBCHEM_XLOGP3_AA"]),
    )
    assert rows[0]["InChI"] == INCHIS[0]


def test_multiline_value_truncated_to_first_line(spark, sdf_dir):
    # Quirk: PUBCHEM_COORDINATE_TYPE has 3 value lines; reference keeps only
    # the first (utils.py:104).
    specs = {
        "columns": {
            "cid": {"SD_TAG": ["PUBCHEM_COMPOUND_CID"], "DTYPE": "integer"},
            "coord": {"SD_TAG": ["PUBCHEM_COORDINATE_TYPE"], "DTYPE": "varchar"},
        }
    }
    rows = extract(spark, sdf_dir, "cmps_00_02.sdf", specs)
    assert all(r["coord"] == "1" for r in rows)


def test_fan_out_gated_on_input_bytes(spark, sdf_dir, tmp_path, caplog):
    # fixture records repeated past the floor, stored uncompressed so the
    # on-disk size is the record bytes
    with open(os.path.join(sdf_dir, "cmps_00_02.sdf"), "rb") as fh:
        chunk = fh.read()
    big = tmp_path / "big_00_02.sdf.gz"
    with gzip.open(big, "wb", compresslevel=0) as fh:
        for _ in range(FAN_OUT_MIN_BYTES // len(chunk) + 1):
            fh.write(chunk)
    small = os.path.join(sdf_dir, "cmps_00_02.sdf.gz")
    assert os.path.getsize(big) >= FAN_OUT_MIN_BYTES > os.path.getsize(small)

    caplog.set_level(logging.INFO, logger="local_pubchem_db_spark.decisions")
    plans, jobs = run_in_job_group(spark, "sdf_plan_only", lambda: [
        read_sdf(spark, p)._jdf.queryExecution().executedPlan().toString()
        for p in (str(big), small)
    ])
    assert jobs == 0
    assert "RoundRobinPartitioning" in plans[0]
    assert "Exchange" not in plans[1]
    decisions = [
        r.decision for r in caplog.records
        if r.name == "local_pubchem_db_spark.decisions"
    ]
    target = spark.sparkContext.defaultParallelism
    assert decisions == [
        {"operator": "read_sdf", "choice": choice, "input_bytes": size,
         "min_bytes": FAN_OUT_MIN_BYTES, "target": target}
        for choice, size in (
            ("fan_out", os.path.getsize(big)),
            ("scan_tasks", os.path.getsize(small)),
        )
    ]


def test_parse_memo_keyed_on_dedup_policy(spark):
    from local_pubchem_db_spark.pipeline import _COLUMN_EXPRS, compounds_plan

    record = (
        "\n> <PUBCHEM_COMPOUND_CID>\n42\n\n"
        "> <DUP_TAG>\nfirst\n\n"
        "> <DUP_TAG>\nsecond\n"
    )
    df = spark.createDataFrame([(record,)], ["record"])
    prev = spark.conf.get("spark.sql.mapKeyDedupPolicy")
    try:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        last_win = parse_sdf_records(df).collect()[0]
        # a memo keyed without the policy would reuse the LAST_WIN
        # expression, whose duplicate keys fail under EXCEPTION
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
        exception = parse_sdf_records(df).collect()[0]
    finally:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)
    assert last_win["tags"]["DUP_TAG"] == exception["tags"]["DUP_TAG"] == "first"
    assert {("LAST_WIN", "record"), ("EXCEPTION", "record")} <= set(
        sdf_source._PARSE_EXPRS[spark]
    )

    layout = compile_layout(base_specs(["PUBCHEM_XLOGP3"]))
    compounds_plan(parse_sdf_records(df.withColumn("source_file", F.lit("x"))), layout)
    assert len(_COLUMN_EXPRS[spark]) >= len(layout.columns)
    release_shared_caches(spark)
    assert spark not in sdf_source._PARSE_EXPRS
    assert spark not in _COLUMN_EXPRS
