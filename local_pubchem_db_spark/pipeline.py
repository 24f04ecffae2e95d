"""Build pipeline: the Spark-native equivalent of the reference's
``build_db`` (reference utils.py:292-365) plus a query layer.

Lifecycle parity:
  glob *.sdf[.gz]              → path glob            (utils.py:307-308)
  manifest anti-join           → driver set difference (utils.py:272-282)
  per-record extract/cast/
  transform/NOT-NULL skip      → one declarative select + na.drop
                                                       (utils.py:59-155)
  INSERT INTO compounds        → parquet append        (utils.py:136-159)
  manifest row per file        → manifest append       (utils.py:327-332)
  deferred CREATE INDEX        → sorted covering
                                 projections, rebuilt
                                 only when compounds
                                 changed               (utils.py:334-341)
  error taxonomy → exit code   → build_db return code  (utils.py:343-365)

Scale design notes:
- ALL pending files are processed in ONE Spark job (the reference loops
  file-by-file in Python). Parallelism is per-file for .gz and per-split
  for plain text; the manifest is computed from the same DataFrame with a
  map-side-combinable count per source file.
- The NOT-NULL filter runs before the sink (filter-before-sink,
  utils.py:140-155) and Catalyst pushes it toward the scan.
- Secondary indexes (WITH_INDEX) have no SQLite analog in Spark; the
  equivalent physical designs, all built-in: the main table is written
  range-partitioned + sorted by the primary key (parquet min/max row-group
  stats → point/range lookups prune), and each indexed column gets a
  sorted covering projection ``idx_<col>`` (col + pk) — the columnar
  analog of CREATE INDEX (utils.py:334-341), enabling stats-pruned
  lookups on that column at a small storage cost.
- Deferred CREATE INDEX is incremental: the projections are rebuilt only
  when the compounds table's data files changed. ``build_indexes`` keeps
  a stamp (``db/_idx_stamp.json``: indexed columns, primary key and a
  digest of the sorted compounds file names) next to the projections.
  Every write creates new part-file names, so an append, a crash-retry
  overwrite and a reset all change it. A call whose stamp matches, with
  every ``idx_<col>/_SUCCESS`` present, launches no Spark job. A rebuild
  deletes the stamp first and writes it last, so a crash anywhere in
  between forces a rebuild on the next call. The per-column projections
  of a rebuild are written concurrently from one cached scan.
- Exactly-once: batch mode writes each file's rows into an
  ``ingest_batch=<file>`` partition under dynamic partition overwrite and
  commits the manifest LAST. A crash between the two writes leaves orphan
  partitions with no manifest row; the retry re-selects exactly those
  files and OVERWRITES their partitions instead of appending duplicates —
  the no-duplicates guarantee of the reference's per-file transaction
  (utils.py:322-332) without a transactional store.
  ``local_pubchem_db_spark.streaming.ingest`` adds checkpointed file
  tracking on the same sink contract.
"""

from __future__ import annotations

import contextlib
import glob as _glob
import hashlib
import json
import os
import shutil
import traceback
from concurrent.futures import ThreadPoolExecutor
from timeit import default_timer as _timer
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.util import inheritable_thread_target

from local_pubchem_db_spark.operators.util import driver_rows_df
from local_pubchem_db_spark.plans.layout import (
    CompiledLayout,
    compile_layout,
    select_exprs,
)
from local_pubchem_db_spark.sources.manifest import (
    MANIFEST_SCHEMA,
    manifest_rows_for,
    pending_files,
    read_manifest,
)
from local_pubchem_db_spark.sources.sdf import read_sdf


def compounds_plan(sdf: DataFrame, layout: CompiledLayout) -> DataFrame:
    """The logical plan for the compounds table from parsed SDF records.

    select(coalesce → strict cast → transform) per layout column, then the
    NOT-NULL row skip (utils.py:140-155) as na.drop.
    """
    projected = sdf.select(
        F.col("source_file"), *select_exprs(layout, F.col("tags"))
    )
    if layout.not_null_cols:
        projected = projected.na.drop(subset=layout.not_null_cols)
    return projected


class PubChemDB:
    """Query layer over a built database directory.

    Directory layout: ``<base>/db/compounds`` (parquet),
    ``<base>/db/sdf_file`` (parquet manifest), ``<base>/db/idx_<col>``
    (sorted covering projections for WITH_INDEX columns) and
    ``<base>/db/_idx_stamp.json`` (what those were built from).
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.db_dir = os.path.join(base_dir, "db")
        self.compounds_path = os.path.join(self.db_dir, "compounds")
        self.manifest_path = os.path.join(self.db_dir, "sdf_file")
        # what the idx_* projections were built from (build_indexes)
        self.index_stamp_path = os.path.join(self.db_dir, "_idx_stamp.json")

    # -- tables ---------------------------------------------------------
    def compounds(self) -> DataFrame:
        df = self.spark.read.parquet(self.compounds_path)
        # Streaming builds partition by ingest_batch for idempotent batch
        # replay (streaming/ingest.py); it is sink bookkeeping, not data.
        return df.drop("ingest_batch") if "ingest_batch" in df.columns else df

    def sdf_file(self) -> DataFrame:
        return read_manifest(self.spark, self.manifest_path)

    def register_views(self) -> None:
        """Register compounds / sdf_file as temp views for spark.sql."""
        self.compounds().createOrReplaceTempView("compounds")
        self.sdf_file().createOrReplaceTempView("sdf_file")

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(query)

    # -- reference lookup workloads (README.md:76, tier B) --------------
    def by_cid(self, cid: int) -> DataFrame:
        """Point lookup on the primary key (unittests_utils.py:256)."""
        return self.compounds().filter(F.col("cid") == cid)

    def by_inchikey(self, inchikey: str) -> DataFrame:
        return self.compounds().filter(F.col("InChIKey") == inchikey)

    def by_inchikey_prefix(self, prefix: str) -> DataFrame:
        """Prefix lookup — the InChIKey_1 blocking-key workload."""
        return self.compounds().filter(F.col("InChIKey_1") == prefix)

    def mass_window(self, center: float, ppm: float = 5.0) -> DataFrame:
        """Mass-window range query on exact_mass (README.md:76)."""
        tol = center * ppm / 1e6
        return self.compounds().filter(
            F.col("exact_mass").between(center - tol, center + tol)
        )

    def by_formula(self, formula: str) -> DataFrame:
        return self.compounds().filter(F.col("molecular_formula") == formula)


def build_db(
    base_dir: str,
    use_gzip: bool,
    reset: bool,
    db_specs: dict[str, Any],
    spark: Optional[SparkSession] = None,
    allow_python_transforms: bool = False,
) -> int:
    """Spark-native ``build_db`` with the reference's signature and return
    code contract (utils.py:292-365): 0 on success, 1 on any failure.

    ``allow_python_transforms`` defaults False: a layout file is data, not
    code, and every CREATE_LIKE in the shipped default layout translates
    to native expressions anyway. The eval-based pandas-UDF fallback is an
    explicit opt-in (the CLI passes True for drop-in parity with the
    reference, which evals layout lambdas unconditionally).
    """
    from local_pubchem_db_spark.session import get_spark

    spark = spark or get_spark()
    db = PubChemDB(spark, base_dir)
    try:
        layout = compile_layout(db_specs, allow_python_transforms=allow_python_transforms)

        if reset:
            for path in (db.compounds_path, db.manifest_path):
                if os.path.exists(path):
                    shutil.rmtree(path)
            for idx in _glob.glob(os.path.join(db.db_dir, "idx_*")):
                shutil.rmtree(idx)
            _remove_stamp(db)
        os.makedirs(db.db_dir, exist_ok=True)

        pattern = "*.sdf.gz" if use_gzip else "*.sdf"
        sdf_files = _glob.glob(os.path.join(base_dir, "sdf", pattern))
        print("Sdf-files to process (before filtering): %d" % len(sdf_files))
        sdf_files = pending_files(spark, db.manifest_path, sdf_files)
        print("Sdf-files to process (after filtering): %d" % len(sdf_files))

        if sdf_files:
            start = _timer()
            parsed = read_sdf(spark, sdf_files)
            rows = compounds_plan(parsed, layout)
            # Cache the batch so compounds write + manifest rows share one
            # materialization (two actions over the same plan).
            rows.persist()
            try:
                # Idempotent retry (the batch twin of streaming/ingest.py):
                # per-source-file partitions + dynamic overwrite + manifest
                # last. See the module docstring's exactly-once note.
                (
                    rows.withColumn("ingest_batch", F.col("source_file"))
                    .drop("source_file")
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("ingest_batch")
                    .parquet(db.compounds_path)
                )
                # One collect of the batch's manifest rows (one per file)
                # feeds both the manifest commit and the A17 progress lines
                # (utils.py:319,324,134,162-163). The commit still comes
                # after the compounds write. Files ingest concurrently in
                # ONE job here (the reference loops them serially), so the
                # wall time below is per batch, not per file.
                logged = (
                    manifest_rows_for(rows.select("source_file"), sdf_files)
                    .orderBy("filename")
                    .collect()
                )
                (
                    driver_rows_df(spark, logged, MANIFEST_SCHEMA)
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(db.manifest_path)
                )
                for ii, r in enumerate(logged):
                    print(
                        "Processed sdf-file: %s (%d/%d): %d compounds"
                        % (r["filename"], ii + 1, len(logged), r["n_compounds"])
                    )
                print(
                    "Extraction and insertion of the information took %.3fsec"
                    % (_timer() - start)
                )
            finally:
                rows.unpersist()

        build_indexes(spark, db, layout)
        return 0
    except Exception as err:  # noqa: BLE001 - reference-parity error taxonomy
        print(err.args[0] if err.args else repr(err))
        traceback.print_exc()
        return 1


def build_indexes(spark: SparkSession, db: PubChemDB, layout: CompiledLayout) -> None:
    """Deferred 'index' build after bulk load (utils.py:334-341).

    For each WITH_INDEX column, write a covering projection (indexed col +
    primary key) range-partitioned and sorted by the indexed column —
    parquet min/max stats then prune point/range lookups to a handful of
    row groups, the columnar analog of a B-tree index. Built after the full
    load, like the reference's deferred CREATE INDEX bulk-load pattern.

    Rebuilt only when the compounds files change: if the stored stamp
    (see ``_index_stamp``) matches and every ``idx_<col>/_SUCCESS`` exists,
    this returns without launching a Spark job. Otherwise it deletes the
    stamp, rebuilds every projection and writes the stamp last, so a crash
    in between leaves no stamp and the next call rebuilds. A rebuild
    caches the (indexed cols + pk) projection once and writes the
    per-column projections concurrently, one driver thread per column.
    """
    if not layout.indexed_cols or not os.path.exists(db.compounds_path):
        return
    stamp = _index_stamp(db, layout)
    if _read_stamp(db) == stamp and all(
        os.path.exists(os.path.join(db.db_dir, f"idx_{c}", "_SUCCESS"))
        for c in layout.indexed_cols
    ):
        return
    _remove_stamp(db)
    pk = layout.primary_key
    # one cached scan feeds every index projection instead of re-reading
    # the table once per WITH_INDEX column; the layout gives the schema, so
    # the read launches no footer-inference job
    needed = sorted(set(layout.indexed_cols) | ({pk} - {None}))
    schema = StructType(
        [StructField(c, layout.columns[c].spark_type) for c in needed]
    )
    compounds = (
        spark.read.schema(schema).parquet(db.compounds_path)
        .select(*needed)
        .persist()
    )

    def write_index(colname: str) -> None:
        idx_path = os.path.join(db.db_dir, f"idx_{colname}")
        if os.path.exists(idx_path):
            shutil.rmtree(idx_path)
        cols = [colname] if pk in (None, colname) else [colname, pk]
        (
            compounds.select(*cols)
            .repartitionByRange(F.col(colname))
            .sortWithinPartitions(colname)
            .write.mode("overwrite")
            .parquet(idx_path)
        )

    try:
        compounds.count()
        # the writes share the cache and are independent, so they run as
        # concurrent jobs; inheritable targets keep the caller's job group
        with ThreadPoolExecutor(max_workers=len(layout.indexed_cols)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(spark)(write_index), c)
                for c in layout.indexed_cols
            ]
            for colname, fut in zip(layout.indexed_cols, futures):
                fut.result()
                print("Create index on '%s'." % colname)
    finally:
        compounds.unpersist()
    _write_stamp(db, stamp)


def _index_stamp(db: PubChemDB, layout: CompiledLayout) -> dict[str, Any]:
    """What the index projections were built from: the indexed columns,
    the primary key and a digest of the compounds table's data file names
    (relative, sorted). Writes never reuse a part-file name, so any change
    to the table changes the digest. Names starting with "_" or "." are
    Spark's metadata (_SUCCESS, _temporary, .crc), not data."""
    files = []
    for root, dirs, names in os.walk(db.compounds_path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rel = os.path.relpath(root, db.compounds_path)
        files += [os.path.join(rel, n) for n in names if not n.startswith(("_", "."))]
    return {
        "indexed_cols": list(layout.indexed_cols),
        "primary_key": layout.primary_key,
        "compounds_files_sha256": hashlib.sha256(
            "\n".join(sorted(files)).encode()
        ).hexdigest(),
    }


def _read_stamp(db: PubChemDB) -> Optional[dict[str, Any]]:
    try:
        with open(db.index_stamp_path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _write_stamp(db: PubChemDB, stamp: dict[str, Any]) -> None:
    tmp = db.index_stamp_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(stamp, fh)
    os.replace(tmp, db.index_stamp_path)


def _remove_stamp(db: PubChemDB) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(db.index_stamp_path)
