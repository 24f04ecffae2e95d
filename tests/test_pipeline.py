"""End-to-end build_db parity tests.

Goldens from the reference (unittests_utils.py:207-334): 8 compounds,
point lookups, NOT_NULL tightening → 5 rows with specific CIDs skipped,
transform applied end-to-end, incremental manifest behavior. Also pins
the per-file index runs: an append writes the runs of its own file only
and runs no Spark job besides its ingest, an up-to-date DB costs no Spark
job, and only a changed index spec, a reset or the pre-run layout
rebuilds every run.
"""

import glob
import gzip
import json
import os
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from local_pubchem_db_spark.operators.util import driver_rows_df
from local_pubchem_db_spark.pipeline import (
    PubChemDB,
    _sorted_nulls_first,
    build_db,
    build_indexes,
)
from local_pubchem_db_spark.plans.layout import compile_layout
from local_pubchem_db_spark.plans.transforms import TransformTranslationError
from local_pubchem_db_spark.sources.manifest import (
    MANIFEST_SCHEMA,
    pending_files,
    read_manifest,
    write_manifest,
)

GOLD_INCHI_31040 = (
    "InChI=1S/C5H6O5.2Na/c6-3(5(9)10)1-2-4(7)8;;/h1-2H2,(H,7,8)(H,9,10);;/q;2*+1/p-2"
)


def make_base(tmp_path, sdf_dir):
    base = tmp_path / "base"
    (base / "sdf").mkdir(parents=True)
    for f in os.listdir(sdf_dir):
        shutil.copy(os.path.join(sdf_dir, f), base / "sdf" / f)
    return str(base)


def specs(xlogp3_not_null=False, xlogp3_create_like=None):
    s = {
        "columns": {
            "cid": {
                "SD_TAG": ["PUBCHEM_COMPOUND_CID"],
                "DTYPE": "integer",
                "NOT_NULL": True,
                "PRIMARY_KEY": True,
            },
            "inchikey": {
                "SD_TAG": ["PUBCHEM_IUPAC_INCHIKEY"],
                "DTYPE": "varchar",
                "NOT_NULL": True,
            },
            "InChI": {
                "SD_TAG": ["PUBCHEM_IUPAC_INCHI"],
                "DTYPE": "varchar",
                "NOT_NULL": True,
            },
            "xlogp3": {
                "SD_TAG": ["PUBCHEM_XLOGP3", "PUBCHEM_XLOGP3_AA"],
                "DTYPE": "real",
                "NOT_NULL": xlogp3_not_null,
            },
        }
    }
    if xlogp3_create_like:
        s["columns"]["xlogp3"]["CREATE_LIKE"] = xlogp3_create_like
    return s


def indexed_specs(*cols):
    s = specs()
    for c in cols:
        s["columns"][c]["WITH_INDEX"] = True
    return s


def run_in_job_group(spark, group, fn):
    """(fn(), number of Spark jobs fn launched), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def parquet_files(base, *tables):
    """{part file: mtime} over every parquet file of the given db tables
    (glob patterns under db/), partition directories included."""
    return {
        f: os.stat(f).st_mtime_ns
        for t in tables
        for f in glob.glob(os.path.join(base, "db", t, "**", "*.parquet"), recursive=True)
    }


def index_files(base):
    """{part file: mtime} over every idx_* run."""
    return parquet_files(base, "idx_*")


def spark_order(value):
    """Sort key of Spark's ASC NULLS FIRST: nulls, numbers, then NaN."""
    return (value is not None, value != value, value if value == value else 0)


def assert_indexes_current(spark, base, cols):
    """Each idx_<col> holds (col, cid) for exactly the compounds rows, each
    run under its compounds partition, and every part file is sorted by
    col the way Spark sorts it."""
    compounds = spark.read.parquet(os.path.join(base, "db", "compounds"))
    n = compounds.count()
    for c in cols:
        path = os.path.join(base, "db", f"idx_{c}")
        idx = spark.read.parquet(path)
        assert idx.columns == [c, "cid", "ingest_batch"]
        assert idx.count() == n
        assert Counter(map(tuple, idx.collect())) == Counter(
            map(tuple, compounds.select(c, "cid", "ingest_batch").collect())
        )
        assert not glob.glob(os.path.join(path, "*.parquet"))  # runs only
        parts = glob.glob(os.path.join(path, "ingest_batch=*", "*.parquet"))
        assert parts
        for part in parts:
            values = pq.read_table(part).column(c).to_pylist()
            assert values == sorted(values, key=spark_order), part


def crash_on_replace(monkeypatch, marker):
    """Make the rename that commits a file under a path containing
    ``marker`` raise, as a crash there would."""
    replace = os.replace

    def crashing(src, dst, *args, **kwargs):
        if marker in str(dst):
            raise OSError("injected crash")
        return replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "replace", crashing)


def hold_back(base, tmp_path, name):
    """Move sdf/<name> out of the base; returns a callable that lands it."""
    landed = os.path.join(base, "sdf", name)
    held = str(tmp_path / name)
    shutil.move(landed, held)
    return lambda: shutil.move(held, landed)


def test_db_import(spark, sdf_dir, tmp_path):
    # unittests_utils.py:223-260
    base = make_base(tmp_path, sdf_dir)
    assert build_db(base, use_gzip=True, reset=True, db_specs=specs(), spark=spark) == 0

    db = PubChemDB(spark, base)
    assert db.compounds().count() == 8
    assert (
        db.sql("SELECT inchikey FROM compounds WHERE cid == 34516").collect()[0][0]
        == "SISXGVIKZQKGLA-UHFFFAOYSA-N"
    )
    assert (
        db.sql("SELECT xlogp3 FROM compounds WHERE cid == 31038").collect()[0][0]
        == 6.6
    )
    assert (
        db.sql("SELECT InChI FROM compounds WHERE cid == 31040").collect()[0][0]
        == GOLD_INCHI_31040
    )


def test_db_import_not_null_tightening(spark, sdf_dir, tmp_path):
    # unittests_utils.py:264-277 — 8 → 5 rows; 34516/31040/46774 skipped
    base = make_base(tmp_path, sdf_dir)
    assert (
        build_db(base, use_gzip=True, reset=True,
                 db_specs=specs(xlogp3_not_null=True), spark=spark) == 0
    )
    db = PubChemDB(spark, base)
    assert db.compounds().count() == 5
    cids = {r["cid"] for r in db.compounds().select("cid").collect()}
    assert cids == {31038, 31039, 34517, 34518, 46773}


def test_db_import_with_transform(spark, sdf_dir, tmp_path):
    # unittests_utils.py:279-334 — xlogp3 ** 2 end-to-end
    base = make_base(tmp_path, sdf_dir)
    assert (
        build_db(base, use_gzip=True, reset=True,
                 db_specs=specs(xlogp3_create_like="lambda __x: __x ** 2"),
                 spark=spark) == 0
    )
    db = PubChemDB(spark, base)
    assert db.compounds().count() == 8
    assert db.sql(
        "SELECT xlogp3 FROM compounds WHERE cid == 31038"
    ).collect()[0][0] == pytest.approx(6.6 ** 2)
    assert (
        db.sql("SELECT inchikey FROM compounds WHERE cid == 34516").collect()[0][0]
        == "SISXGVIKZQKGLA-UHFFFAOYSA-N"
    )


def test_db_import_with_python_transform(spark, sdf_dir, tmp_path):
    # a CREATE_LIKE the AST whitelist cannot translate runs through the
    # opt-in pandas-UDF fallback
    layout = specs()
    layout["columns"]["inchikey"]["CREATE_LIKE"] = "lambda __x: __x.swapcase()"
    with pytest.raises(TransformTranslationError):
        compile_layout(layout)
    base = make_base(tmp_path, sdf_dir)
    assert (
        build_db(base, use_gzip=True, reset=True, db_specs=layout,
                 allow_python_transforms=True, spark=spark) == 0
    )
    db = PubChemDB(spark, base)
    assert db.compounds().count() == 8
    assert (
        db.sql("SELECT inchikey FROM compounds WHERE cid == 34516").collect()[0][0]
        == "sisxgvikzqkgla-uhfffaoysa-n"
    )


def test_manifest_and_incremental_resume(spark, sdf_dir, tmp_path):
    # utils.py:272-282,327-332 — second build ingests nothing new
    base = make_base(tmp_path, sdf_dir)
    assert build_db(base, use_gzip=True, reset=True, db_specs=specs(), spark=spark) == 0
    db = PubChemDB(spark, base)
    manifest = {r["filename"]: r for r in db.sdf_file().collect()}
    assert set(manifest) == {
        "cmps_00_02.sdf.gz", "cmps_03_05.sdf.gz", "cmps_06_07.sdf.gz",
    }
    # lowest/highest parsed from the filename (utils.py:330-331)
    assert manifest["cmps_00_02.sdf.gz"]["lowest_cid"] == 0
    assert manifest["cmps_00_02.sdf.gz"]["highest_cid"] == 2
    assert manifest["cmps_00_02.sdf.gz"]["n_compounds"] == 3
    assert manifest["cmps_06_07.sdf.gz"]["n_compounds"] == 2

    # Re-run without reset: anti-join prunes everything, counts unchanged.
    assert build_db(base, use_gzip=True, reset=False, db_specs=specs(), spark=spark) == 0
    assert db.compounds().count() == 8
    assert db.sdf_file().count() == 3


def test_indexes_built(spark, sdf_dir, tmp_path):
    base = make_base(tmp_path, sdf_dir)
    s = specs()
    s["columns"]["inchikey"]["WITH_INDEX"] = True
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    idx_path = os.path.join(base, "db", "idx_inchikey")
    assert os.path.exists(idx_path)
    idx = spark.read.parquet(idx_path)
    assert idx.columns == ["inchikey", "cid", "ingest_batch"]
    assert idx.count() == 8


def test_strict_cast_fails_on_malformed_int(spark, sdf_dir, tmp_path):
    # Python int("3.3") raises (utils.py:47-48); Spark's default cast would
    # truncate — the engine must fail the build instead (exit code 1,
    # utils.py:343-365).
    base = make_base(tmp_path, sdf_dir)
    bad_specs = {
        "columns": {
            "cid": {
                "SD_TAG": ["PUBCHEM_COMPOUND_CID"],
                "DTYPE": "integer",
                "PRIMARY_KEY": True,
            },
            # exact mass is a float string like "252.245..." — declaring it
            # integer must fail the build, like int("252.245") would.
            "exact_mass": {
                "SD_TAG": ["PUBCHEM_EXACT_MASS"],
                "DTYPE": "integer",
            },
        }
    }
    assert (
        build_db(base, use_gzip=True, reset=True, db_specs=bad_specs, spark=spark)
        == 1
    )


def test_crash_between_data_and_manifest_does_not_duplicate(
    spark, sdf_dir, tmp_path
):
    # The batch twin of tests/test_streaming.py's replay test: a crash
    # AFTER the compounds write but BEFORE the manifest commit leaves data
    # partitions with no manifest rows. The retry must re-select those
    # files and OVERWRITE their ingest_batch partitions — never append
    # duplicates (reference utils.py:322-332 rolls the file back; here the
    # partition is rewritten instead). The retry rewrites the index runs
    # of the files it re-ingests the same way.
    base = make_base(tmp_path, sdf_dir)
    s = indexed_specs("inchikey")
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    db = PubChemDB(spark, base)
    assert db.compounds().count() == 8
    before = index_files(base)

    # simulate the crash: the manifest write never happened
    shutil.rmtree(db.manifest_path)
    assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 0
    cids = sorted(r["cid"] for r in db.compounds().select("cid").collect())
    assert cids == [31038, 31039, 31040, 34516, 34517, 34518, 46773, 46774]
    assert db.sdf_file().count() == 3
    assert set(index_files(base)).isdisjoint(before)
    assert_indexes_current(spark, base, ["inchikey"])

    # and a normal incremental re-run after recovery stays a no-op
    assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 0
    assert db.compounds().count() == 8


def test_noop_rerun_skips_index_build(spark, sdf_dir, tmp_path):
    base = make_base(tmp_path, sdf_dir)
    # xlogp3 is nullable: 3 of the 8 compounds have none
    s = indexed_specs("inchikey", "InChI", "xlogp3")
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    before = index_files(base)
    assert before
    xlogp3 = spark.read.parquet(os.path.join(base, "db", "idx_xlogp3"))
    assert xlogp3.filter(F.col("xlogp3").isNull()).count() == 3

    # nothing pending and every run current: no Spark job at all
    rc, jobs = run_in_job_group(
        spark, "noop_build_db",
        lambda: build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark),
    )
    assert (rc, jobs) == (0, 0)
    db = PubChemDB(spark, base)
    _, jobs = run_in_job_group(
        spark, "noop_build_indexes",
        lambda: build_indexes(spark, db, compile_layout(s)),
    )
    assert jobs == 0
    assert index_files(base) == before
    assert_indexes_current(spark, base, ["inchikey", "InChI", "xlogp3"])


def test_run_order_matches_spark(spark):
    # runs are sorted with pyarrow, in the order Spark's ASC NULLS FIRST
    # gives: nulls first, NaN after every number, strings by UTF-8 bytes
    nan, inf = float("nan"), float("inf")
    table = pa.table({
        "x": [3.0, None, nan, -1.0, inf, None, -inf, 0.5],
        "s": ["b", "é", None, "Z", "aa", "a", "ä", "B"],
        "k": list(range(8)),
    })
    df = spark.createDataFrame(
        [tuple(r.values()) for r in table.to_pylist()], "x double, s string, k long"
    )
    for c in ("x", "s"):
        want = [r["k"] for r in df.orderBy(F.col(c).asc_nulls_first(), "k").collect()]
        got = _sorted_nulls_first(table, c).column("k").to_pylist()
        ties = [r["k"] for r in df.filter(F.col(c).isNull()).collect()]
        # nulls tie, so compare them as a set
        assert sorted(got[: len(ties)]) == sorted(ties)
        assert got[len(ties):] == want[len(ties):], c


def test_append_touches_only_the_new_file(spark, sdf_dir, tmp_path):
    base = make_base(tmp_path, sdf_dir)
    land = hold_back(base, tmp_path, "cmps_06_07.sdf.gz")
    s = indexed_specs("inchikey", "InChI")
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    db = PubChemDB(spark, base)
    assert db.by_cid(46773).count() == 0
    before = parquet_files(base, "compounds", "idx_*")

    land()
    rc, jobs = run_in_job_group(
        spark, "append_build_db",
        lambda: build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark),
    )
    assert rc == 0
    # the compounds write only: a shard below read_sdf's fan-out floor is
    # parsed in its scan task, and the runs and the manifest commit are
    # written on the driver
    assert jobs == 1
    after = parquet_files(base, "compounds", "idx_*")
    assert before.items() <= after.items()  # no earlier file rewritten
    new = set(after) - set(before)
    assert len([f for f in new if f.split(os.sep)[-3] == "compounds"]) == 1
    assert {os.path.basename(os.path.dirname(f)) for f in new} == {
        "ingest_batch=cmps_06_07.sdf.gz"
    }
    assert {f.split(os.sep)[-3] for f in new} == {
        "compounds", "idx_inchikey", "idx_InChI"
    }
    assert_indexes_current(spark, base, ["inchikey", "InChI"])
    # a lookup after the append sees the new shard
    assert [r["inchikey"] for r in db.by_cid(46773).collect()] == [
        "YSQQZRQSZIJQDB-UHFFFAOYSA-N"
    ]


def test_crash_after_runs_before_manifest_is_overwritten(
    spark, sdf_dir, tmp_path, monkeypatch
):
    base = make_base(tmp_path, sdf_dir)
    land = hold_back(base, tmp_path, "cmps_06_07.sdf.gz")
    s = indexed_specs("inchikey")
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    db = PubChemDB(spark, base)

    # crash in the manifest commit: its temporary file is left behind
    land()
    with monkeypatch.context() as m:
        crash_on_replace(m, db.manifest_path)
        assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 1
    run = os.path.join(db.db_dir, "idx_inchikey", "ingest_batch=cmps_06_07.sdf.gz")
    crashed = parquet_files(base, "compounds", "idx_*")
    assert glob.glob(os.path.join(run, "*.parquet"))
    assert glob.glob(os.path.join(db.manifest_path, ".*.tmp"))
    assert db.sdf_file().count() == 2  # readers skip the temporary
    landed = glob.glob(os.path.join(base, "sdf", "*.sdf.gz"))
    assert [os.path.basename(f) for f in pending_files(spark, db.manifest_path, landed)] == [
        "cmps_06_07.sdf.gz"
    ]

    # the retry crashes after the run's old file is deleted, before the
    # new one is renamed into place: the run holds no data file
    with monkeypatch.context() as m:
        crash_on_replace(m, run)
        assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 1
    assert not glob.glob(os.path.join(run, "*.parquet"))
    assert glob.glob(os.path.join(run, ".*.tmp"))
    assert spark.read.parquet(os.path.join(db.db_dir, "idx_inchikey")).count() == 6

    assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 0
    cids = sorted(r["cid"] for r in db.compounds().select("cid").collect())
    assert cids == [31038, 31039, 31040, 34516, 34517, 34518, 46773, 46774]
    assert db.sdf_file().count() == 3
    after = parquet_files(base, "compounds", "idx_*")
    rewritten = {f for f in crashed if "cmps_06_07" in f}
    assert rewritten and rewritten.isdisjoint(after)
    assert {f: t for f, t in crashed.items() if f not in rewritten}.items() <= after.items()
    assert_indexes_current(spark, base, ["inchikey"])
    # the next writes removed the temporaries
    assert not glob.glob(os.path.join(db.db_dir, "**", ".*.tmp"), recursive=True)


def test_manifest_counts_from_footers(spark, sdf_dir, tmp_path):
    # n_compounds sums the footers of the partition written for each file:
    # a name that Spark escapes in partition paths ("=" -> "%3D") still
    # gets its rows, and a file whose every row fails NOT NULL writes no
    # partition and no run but still gets its manifest row with 0. Names
    # that a file URI encodes ("#", " ", "+") keep their own partitions
    # and runs, under the names the batch path writes.
    base = make_base(tmp_path, sdf_dir)
    sdf = os.path.join(base, "sdf")
    os.rename(os.path.join(sdf, "cmps_06_07.sdf.gz"),
              os.path.join(sdf, "cmps=06_06_07.sdf.gz"))
    for name in ("a#b_10_12.sdf.gz", "e f+g_13_15.sdf.gz"):
        shutil.copy(os.path.join(sdf, "cmps_00_02.sdf.gz"), os.path.join(sdf, name))
    with gzip.open(os.path.join(sdf_dir, "cmps_03_05.sdf.gz"), "rt") as fh:
        lines = fh.read().split("\n")
    no_key = [
        ln for i, ln in enumerate(lines)
        if ln != "> <PUBCHEM_IUPAC_INCHIKEY>"
        and (i == 0 or lines[i - 1] != "> <PUBCHEM_IUPAC_INCHIKEY>")
    ]
    assert len(lines) - len(no_key) == 6  # three records lose tag + value
    os.remove(os.path.join(sdf, "cmps_03_05.sdf.gz"))
    with gzip.open(os.path.join(sdf, "cmps_08_09.sdf.gz"), "wt") as fh:
        fh.write("\n".join(no_key))

    s = indexed_specs("inchikey")
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    db = PubChemDB(spark, base)
    manifest = {r["filename"]: r.asDict() for r in db.sdf_file().collect()}
    assert {f: r["n_compounds"] for f, r in manifest.items()} == {
        "cmps_00_02.sdf.gz": 3, "cmps=06_06_07.sdf.gz": 2, "cmps_08_09.sdf.gz": 0,
        "a#b_10_12.sdf.gz": 3, "e f+g_13_15.sdf.gz": 3,
    }
    assert (manifest["cmps=06_06_07.sdf.gz"]["lowest_cid"],
            manifest["cmps=06_06_07.sdf.gz"]["highest_cid"]) == (6, 7)
    parts = {
        "ingest_batch=cmps_00_02.sdf.gz", "ingest_batch=cmps%3D06_06_07.sdf.gz",
        "ingest_batch=a%23b_10_12.sdf.gz", "ingest_batch=e f+g_13_15.sdf.gz",
    }
    for table in ("compounds", "idx_inchikey"):
        assert set(os.listdir(os.path.join(db.db_dir, table))) == parts
    assert db.compounds().count() == 11
    assert_indexes_current(spark, base, ["inchikey"])
    # the empty file counts as ingested
    assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 0
    assert db.sdf_file().count() == 5


def test_stale_indexes_rebuild(spark, sdf_dir, tmp_path, monkeypatch):
    base = make_base(tmp_path, sdf_dir)
    db = PubChemDB(spark, base)
    s = indexed_specs("inchikey")
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    stamp = db.index_stamp_path
    assert os.path.exists(stamp)

    def run_files(part):
        return {f for f in index_files(base) if f"{os.sep}{part}{os.sep}" in f}

    # a missing run is written again, alone
    part = "ingest_batch=cmps_03_05.sdf.gz"
    shutil.rmtree(os.path.join(db.db_dir, "idx_inchikey", part))
    before = index_files(base)
    _, jobs = run_in_job_group(
        spark, "missing_run_build_indexes",
        lambda: build_indexes(spark, db, compile_layout(s)),
    )
    assert jobs == 0  # runs are written on the driver
    after = index_files(base)
    assert before.items() <= after.items()
    assert set(after) - set(before) == run_files(part)
    assert_indexes_current(spark, base, ["inchikey"])

    # a compounds partition rewritten after its run (a replayed streaming
    # batch): the run is written again, alone
    part = "ingest_batch=cmps_00_02.sdf.gz"
    newer = os.stat(db.compounds_path).st_mtime_ns + 10**9
    for f in glob.glob(os.path.join(db.compounds_path, part, "*.parquet")):
        os.utime(f, ns=(newer, newer))
    before = index_files(base)
    build_indexes(spark, db, compile_layout(s))
    after = index_files(base)
    assert run_files(part) and run_files(part).isdisjoint(before)
    assert {f: t for f, t in before.items() if part not in f}.items() <= after.items()
    assert_indexes_current(spark, base, ["inchikey"])

    # a WITH_INDEX column added without reset rebuilds every run; the
    # first attempt crashes in a run write and the retry completes it
    s = indexed_specs("inchikey", "InChI")
    before = index_files(base)
    with monkeypatch.context() as m:
        crash_on_replace(m, "idx_InChI")
        assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 1
    assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 0
    assert set(index_files(base)).isdisjoint(before)
    assert_indexes_current(spark, base, ["inchikey", "InChI"])

    # reset drops the stamp with the tables it describes
    before = index_files(base)
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    assert set(index_files(base)).isdisjoint(before)
    assert_indexes_current(spark, base, ["inchikey", "InChI"])


def test_flat_indexes_migrate_once(spark, sdf_dir, tmp_path):
    # a DB written before the run layout: one flat sorted projection per
    # column and a stamp holding a digest of the compounds file names
    base = make_base(tmp_path, sdf_dir)
    db = PubChemDB(spark, base)
    s = indexed_specs("inchikey")
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    idx = os.path.join(db.db_dir, "idx_inchikey")
    shutil.rmtree(idx)
    (
        db.compounds().select("inchikey", "cid")
        .repartitionByRange("inchikey").sortWithinPartitions("inchikey")
        .write.parquet(idx)
    )
    with open(db.index_stamp_path, "w") as fh:
        json.dump({"indexed_cols": ["inchikey"], "primary_key": "cid",
                   "compounds_files_sha256": "0" * 64}, fh)

    _, jobs = run_in_job_group(
        spark, "migrate_build_indexes",
        lambda: build_indexes(spark, db, compile_layout(s)),
    )
    assert jobs == 0  # runs are written on the driver
    assert_indexes_current(spark, base, ["inchikey"])
    migrated = index_files(base)
    _, jobs = run_in_job_group(
        spark, "migrated_build_indexes",
        lambda: build_indexes(spark, db, compile_layout(s)),
    )
    assert jobs == 0
    assert index_files(base) == migrated


def test_pending_files_no_job(spark, sdf_dir, tmp_path):
    base = make_base(tmp_path, sdf_dir)
    assert build_db(base, use_gzip=True, reset=True, db_specs=specs(), spark=spark) == 0
    db = PubChemDB(spark, base)
    landed = sorted(glob.glob(os.path.join(base, "sdf", "*.sdf.gz")))
    new = [os.path.join(base, "sdf", "cmps_08_09.sdf.gz"),
           os.path.join(base, "sdf", "cmps_10_11.sdf.gz")]
    left, jobs = run_in_job_group(
        spark, "pending_files",
        lambda: pending_files(spark, db.manifest_path, new[::-1] + landed),
    )
    assert (left, jobs) == (new, 0)


def test_pending_files_partitioned_manifest(spark, tmp_path):
    # streaming/ingest.py writes the manifest partitioned by ingest_batch;
    # a DB may hold batches that Spark wrote and batches written on the
    # driver, and a replayed batch replaces its partition's file
    manifest = str(tmp_path / "sdf_file")
    rows = [("a_1_2.sdf.gz", 1, 2, "2024-01-01", 3),
            ("b_3_4.sdf.gz", 3, 4, "2024-01-01", 0)]
    for batch, row in enumerate(rows):
        (
            driver_rows_df(spark, [row], MANIFEST_SCHEMA)
            .withColumn("ingest_batch", F.lit(batch))
            .write.mode("append")
            .partitionBy("ingest_batch")
            .parquet(manifest)
        )
    write_manifest(manifest, [rows[1]], batch=1)
    write_manifest(manifest, [("d_7_8.sdf.gz", 7, 8, "2024-01-02", 5)], batch=2)
    # a crashed write's task output names c_5_6 but was never committed
    crashed = os.path.join(manifest, "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(crashed)
    pq.write_table(
        pa.table({"filename": ["c_5_6.sdf.gz"], "n_compounds": [1]}),
        os.path.join(crashed, "part-00000.parquet"),
    )
    candidates = ["/x/sdf/c_5_6.sdf.gz", "/x/sdf/b_3_4.sdf.gz",
                  "/x/sdf/a_1_2.sdf.gz", "/x/sdf/d_7_8.sdf.gz"]
    left, jobs = run_in_job_group(
        spark, "pending_files_partitioned",
        lambda: pending_files(spark, manifest, candidates),
    )
    assert (left, jobs) == (["/x/sdf/c_5_6.sdf.gz"], 0)
    assert sorted(map(tuple, read_manifest(spark, manifest).collect())) == [
        *rows, ("d_7_8.sdf.gz", 7, 8, "2024-01-02", 5)
    ]
