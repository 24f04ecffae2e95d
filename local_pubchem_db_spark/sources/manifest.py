"""Ingest manifest: the ``sdf_file`` table (reference utils.py:222-227).

One row per fully-ingested file — the bookkeeping that makes builds
incremental and resumable. The reference keeps it in SQLite and anti-joins
in Python (utils.py:272-282); here it is a small Parquet table, and the
anti-join is a set difference on the driver over its ``filename`` column,
read with pyarrow (no Spark job). At 100 TB the manifest stays tiny (one
row per input shard), so pruning already-ingested files never touches the
data side.

Rows are committed on the driver too (``write_manifest``): pyarrow writes
them as one parquet file under a dot-prefixed name, which Spark and
pyarrow readers skip, and one ``os.replace`` makes it visible
(``commit_parquet``, which ``pipeline`` also uses for its index runs).

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
import uuid
from datetime import datetime, timezone
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
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
_MANIFEST_ARROW_SCHEMA = to_arrow_schema(MANIFEST_SCHEMA)


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


def write_manifest(
    manifest_path: str, rows: list[tuple], batch: Optional[int] = None
) -> None:
    """Commit manifest rows (``manifest_row`` tuples) as one parquet file.

    Batch builds add the file next to the manifest's others. A streaming
    batch's rows replace the file of its ``ingest_batch=<batch>``
    partition, so a replayed batch stays idempotent."""
    names = _MANIFEST_ARROW_SCHEMA.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=_MANIFEST_ARROW_SCHEMA
    )
    if batch is None:
        commit_parquet(table, manifest_path)
    else:
        commit_parquet(
            table, os.path.join(manifest_path, f"ingest_batch={batch}"), replace=True
        )


def commit_parquet(table: pa.Table, directory: str, replace: bool = False) -> None:
    """Write ``table`` as one parquet file in ``directory`` and commit it
    with one ``os.replace``.

    The file is written first under a dot-prefixed name, which Spark and
    pyarrow readers skip. With ``replace`` every other file of the
    directory is deleted before the rename, so the directory then holds
    only this one; a crash in between leaves the directory with no data
    file, which the caller's retry rewrites. Without ``replace`` only the
    leftover temporaries of an earlier crash are deleted."""
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    # Spark's writer falls back from dictionary encoding when the
    # dictionary does not pay off; pyarrow does not, and near-unique
    # index columns (keys, masses) would carry one as large as the data.
    pq.write_table(table, tmp, use_dictionary=False)
    with os.scandir(directory) as it:
        stale = [
            e.path
            for e in it
            if e.path != tmp
            and (replace or (e.name.startswith(".") and e.name.endswith(".tmp")))
        ]
    for path in stale:
        os.remove(path)
    os.replace(tmp, os.path.join(directory, name))


def _exists(path: str) -> bool:
    if "://" not in path:
        return os.path.exists(path)
    return True  # remote paths: let the reader raise if truly absent
