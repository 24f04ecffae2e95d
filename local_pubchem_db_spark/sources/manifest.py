"""Ingest manifest: the ``sdf_file`` table (reference utils.py:222-227).

One row per fully-ingested file — the bookkeeping that makes builds
incremental and resumable. The reference keeps it in SQLite and anti-joins
in Python (utils.py:272-282); here it is a small Parquet table, and the
anti-join is a set difference on the driver over its ``filename`` column,
read with pyarrow (no Spark job). At 100 TB the manifest stays tiny (one
row per input shard), so pruning already-ingested files never touches the
data side.

Schema parity (utils.py:222-227, 327-332): filename is the basename
(primary key), lowest_cid / highest_cid are parsed from the filename
pattern ``<stem>_<low>_<high>.<ext>`` (the reference inserts the split
strings and lets SQLite affinity coerce; we cast explicitly),
date_added = DATE('now') in UTC, n_compounds = rows actually written after
the NOT-NULL skip.
"""

from __future__ import annotations

import os
import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
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
    one row per shard, so its ``filename`` column is read on the driver
    with ``pyarrow.dataset`` and the difference is taken there; no Spark
    job runs. Hive partitioning covers the ``ingest_batch``-partitioned
    manifest that streaming ingest writes, and entries starting with "_"
    or "." (``_SUCCESS``, a crashed write's ``_temporary/``, checksums)
    are not data. At scale this is the partition-pruning analog —
    ingested shards are never re-read. ``spark`` is unused; the signature
    matches the other manifest readers.
    """
    import pyarrow.dataset as pads

    if not candidate_files:
        return []
    ingested: set[str] = set()
    if _exists(manifest_path):
        manifest = pads.dataset(
            manifest_path,
            format="parquet",
            partitioning="hive",
            ignore_prefixes=["_", "."],
        )
        # a manifest directory holding no data file yet (a first write
        # that crashed) has no columns at all
        if "filename" in manifest.schema.names:
            ingested = set(
                manifest.to_table(columns=["filename"]).column("filename").to_pylist()
            )
    return sorted(f for f in candidate_files if os.path.basename(f) not in ingested)


_DIGITS = re.compile(r"[0-9]{1,18}")


def manifest_row(filename: str, n_compounds: int) -> tuple:
    """One manifest row, built on the driver, in ``MANIFEST_SCHEMA`` order.

    lowest/highest cid come from the *filename* (reference
    utils.py:330-331 parses ``Compound_<low>_<high>.sdf.gz``; stem = the
    name up to its first "."); a part that is missing or not a number is
    NULL. date_added is today's date in UTC. A file that produced zero
    surviving rows still gets a row (the reference inserts n_inserted=0
    rows too).
    """
    parts = filename.split(".")[0].split("_")

    def cid(i: int):
        return int(parts[i]) if i < len(parts) and _DIGITS.fullmatch(parts[i]) else None

    today = datetime.now(timezone.utc).strftime("%Y-%m-%d")
    return (filename, cid(1), cid(2), today, n_compounds)


def _exists(path: str) -> bool:
    if "://" not in path:
        return os.path.exists(path)
    return True  # remote paths: let the reader raise if truly absent
