"""End-to-end build_db parity tests.

Goldens from the reference (unittests_utils.py:207-334): 8 compounds,
point lookups, NOT_NULL tightening → 5 rows with specific CIDs skipped,
transform applied end-to-end, incremental manifest behavior. Also pins
the per-file index runs: an append writes the runs of its own file only,
an up-to-date DB costs no Spark job, and only a changed index spec, a
reset or the pre-run layout rebuilds every run.
"""

import glob
import gzip
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from local_pubchem_db_spark.operators.util import driver_rows_df
from local_pubchem_db_spark.pipeline import PubChemDB, build_db, build_indexes
from local_pubchem_db_spark.plans.layout import compile_layout
from local_pubchem_db_spark.plans.transforms import TransformTranslationError
from local_pubchem_db_spark.sources.manifest import MANIFEST_SCHEMA, pending_files

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


def assert_indexes_current(spark, base, cols):
    """Each idx_<col> holds (col, cid) for exactly the compounds rows, each
    run under its compounds partition, and every part file is sorted by
    col."""
    compounds = spark.read.parquet(os.path.join(base, "db", "compounds"))
    n = compounds.count()
    for c in cols:
        path = os.path.join(base, "db", f"idx_{c}")
        idx = spark.read.parquet(path)
        assert idx.columns == [c, "cid", "ingest_batch"]
        assert idx.count() == n
        assert sorted(idx.collect()) == sorted(
            compounds.select(c, "cid", "ingest_batch").collect()
        )
        assert not glob.glob(os.path.join(path, "*.parquet"))  # runs only
        parts = glob.glob(os.path.join(path, "ingest_batch=*", "*.parquet"))
        assert parts
        for part in parts:
            values = pq.read_table(part).column(c).to_pylist()
            assert values == sorted(values), part


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
    s = indexed_specs("inchikey", "InChI")
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    before = index_files(base)
    assert before

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
    assert_indexes_current(spark, base, ["inchikey", "InChI"])


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
    # ingest (2), one run write per indexed column, the manifest commit
    assert jobs <= 8
    after = parquet_files(base, "compounds", "idx_*")
    assert before.items() <= after.items()  # no earlier file rewritten
    new = set(after) - set(before)
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

    land()
    write = DataFrameWriter.parquet

    def crash_on_manifest(self, path, *args, **kwargs):
        if path == db.manifest_path:
            raise OSError("injected crash")
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_manifest)
    assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 1
    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    run = os.path.join(db.db_dir, "idx_inchikey", "ingest_batch=cmps_06_07.sdf.gz")
    crashed = parquet_files(base, "compounds", "idx_*")
    assert glob.glob(os.path.join(run, "*.parquet"))
    assert db.sdf_file().count() == 2

    assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 0
    cids = sorted(r["cid"] for r in db.compounds().select("cid").collect())
    assert cids == [31038, 31039, 31040, 34516, 34517, 34518, 46773, 46774]
    assert db.sdf_file().count() == 3
    after = parquet_files(base, "compounds", "idx_*")
    rewritten = {f for f in crashed if "cmps_06_07" in f}
    assert rewritten and rewritten.isdisjoint(after)
    assert {f: t for f, t in crashed.items() if f not in rewritten}.items() <= after.items()
    assert_indexes_current(spark, base, ["inchikey"])


def test_manifest_counts_from_footers(spark, sdf_dir, tmp_path):
    # n_compounds sums the footers of the partition written for each file:
    # a name that Spark escapes in partition paths ("=" -> "%3D") still
    # gets its rows, and a file whose every row fails NOT NULL writes no
    # partition and no run but still gets its manifest row with 0
    base = make_base(tmp_path, sdf_dir)
    sdf = os.path.join(base, "sdf")
    os.rename(os.path.join(sdf, "cmps_06_07.sdf.gz"),
              os.path.join(sdf, "cmps=06_06_07.sdf.gz"))
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
    }
    assert (manifest["cmps=06_06_07.sdf.gz"]["lowest_cid"],
            manifest["cmps=06_06_07.sdf.gz"]["highest_cid"]) == (6, 7)
    assert os.path.isdir(
        os.path.join(db.compounds_path, "ingest_batch=cmps%3D06_06_07.sdf.gz"))
    assert not glob.glob(os.path.join(db.db_dir, "*", "ingest_batch=cmps_08_09*"))
    assert db.compounds().count() == 5
    assert_indexes_current(spark, base, ["inchikey"])
    # the empty file counts as ingested
    assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 0
    assert db.sdf_file().count() == 3


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
    assert jobs >= 1
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
    write = DataFrameWriter.parquet

    def crash_on_index(self, path, *args, **kwargs):
        if "idx_InChI" in path:
            raise OSError("injected crash")
        return write(self, path, *args, **kwargs)

    before = index_files(base)
    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_index)
    assert build_db(base, use_gzip=True, reset=False, db_specs=s, spark=spark) == 1
    monkeypatch.setattr(DataFrameWriter, "parquet", write)
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
    assert jobs >= 1
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
    # streaming/ingest.py writes the manifest partitioned by ingest_batch
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
    # a crashed write's task output names c_5_6 but was never committed
    crashed = os.path.join(manifest, "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(crashed)
    pq.write_table(
        pa.table({"filename": ["c_5_6.sdf.gz"], "n_compounds": [1]}),
        os.path.join(crashed, "part-00000.parquet"),
    )
    candidates = ["/x/sdf/c_5_6.sdf.gz", "/x/sdf/b_3_4.sdf.gz", "/x/sdf/a_1_2.sdf.gz"]
    left, jobs = run_in_job_group(
        spark, "pending_files_partitioned",
        lambda: pending_files(spark, manifest, candidates),
    )
    assert (left, jobs) == (["/x/sdf/c_5_6.sdf.gz"], 0)
