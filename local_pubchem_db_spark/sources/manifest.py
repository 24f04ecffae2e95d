"""Ingest manifest: the ``sdf_file`` table (reference utils.py:222-227).

One row per fully-ingested file — the bookkeeping that makes builds
incremental and resumable. The reference keeps it in SQLite and anti-joins
in Python (utils.py:272-282); here it is a small Parquet table, and the
anti-join is a set difference on the driver over its ``filename`` column,
read in one Spark job with the schema given (no inference). At 100 TB the
manifest stays tiny (one row per input shard), so pruning
already-ingested files never touches the data side.

Schema parity (utils.py:222-227, 327-332): filename is the basename
(primary key), lowest_cid / highest_cid are parsed from the filename
pattern ``<stem>_<low>_<high>.<ext>`` (the reference inserts the split
strings and lets SQLite affinity coerce; we cast explicitly),
date_added = DATE('now') in UTC, n_compounds = rows actually written after
the NOT-NULL skip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from local_pubchem_db_spark.operators.util import driver_rows_df

MANIFEST_SCHEMA = StructType(
    [
        StructField("filename", StringType(), nullable=False),
        StructField("lowest_cid", LongType(), nullable=True),
        StructField("highest_cid", LongType(), nullable=True),
        StructField("date_added", StringType(), nullable=False),
        StructField("n_compounds", LongType(), nullable=False),
    ]
)


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Read the manifest table; empty DataFrame when absent. Streaming
    builds add an ingest_batch partition column (idempotent batch replay,
    streaming/ingest.py) — sink bookkeeping, dropped here."""
    if _exists(manifest_path):
        df = spark.read.parquet(manifest_path)
        if "ingest_batch" in df.columns:
            df = df.drop("ingest_batch")
        return df.select(*[f.name for f in MANIFEST_SCHEMA.fields])
    return driver_rows_df(spark, [], MANIFEST_SCHEMA)


def pending_files(
    spark: SparkSession, manifest_path: str, candidate_files: list[str]
) -> list[str]:
    """Files whose basename is not yet in the manifest, sorted.

    Reference parity: get_sdf_files_not_in_db (utils.py:272-282) + the
    sorted-order processing guarantee (utils.py:282). The manifest holds
    one row per shard, so its ``filename`` column is collected in one job
    (read through ``MANIFEST_SCHEMA``, which skips schema inference) and
    the difference is taken on the driver; at scale this is the
    partition-pruning analog — ingested shards are never re-read.
    """
    if not candidate_files:
        return []
    if not _exists(manifest_path):
        # fresh build / post-reset: nothing is ingested yet — skip the
        # read entirely (it would cost the session's first job, ~4 s cold)
        return sorted(candidate_files)
    ingested = {
        r["filename"]
        for r in spark.read.schema(MANIFEST_SCHEMA)
        .parquet(manifest_path)
        .select("filename")
        .collect()
    }
    return sorted(f for f in candidate_files if os.path.basename(f) not in ingested)


def manifest_rows_for(
    compounds_with_file: DataFrame, filenames: list[str]
) -> DataFrame:
    """Compute manifest rows from ingested data: one row per source file.

    ``compounds_with_file`` must carry a ``source_file`` basename column.
    lowest/highest cid come from the *filename* (reference utils.py:330-331
    parses ``Compound_<low>_<high>.sdf.gz``), n_compounds from the data.
    Files that produced zero surviving rows still get a manifest row (the
    reference inserts n_inserted=0 rows too).
    """
    spark = compounds_with_file.sparkSession
    counts = (
        compounds_with_file.groupBy("source_file")
        .agg(F.count(F.lit(1)).alias("n_compounds"))
    )
    all_files = driver_rows_df(
        spark,
        [(os.path.basename(f),) for f in filenames],
        "source_file string",
    )
    stem = F.split(F.col("source_file"), r"\.").getItem(0)
    return (
        all_files.join(counts, on="source_file", how="left")
        .select(
            F.col("source_file").alias("filename"),
            F.split(stem, "_").getItem(1).cast(LongType()).alias("lowest_cid"),
            F.split(stem, "_").getItem(2).cast(LongType()).alias("highest_cid"),
            F.date_format(F.current_date(), "yyyy-MM-dd").alias("date_added"),
            F.coalesce(F.col("n_compounds"), F.lit(0)).cast(LongType()).alias("n_compounds"),
        )
    )


def _exists(path: str) -> bool:
    if "://" not in path:
        return os.path.exists(path)
    return True  # remote paths: let the reader raise if truly absent
