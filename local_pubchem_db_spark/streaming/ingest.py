"""Structured-Streaming SDF ingest: the exactly-once variant of the batch
build pipeline.

The reference achieves resumability with a per-file SQLite transaction —
crash mid-file and the next run redoes that file (reference
utils.py:302-332). The Spark-native strengthening is the checkpointed file
source PLUS an idempotent sink: the checkpoint alone makes foreachBatch
at-least-once (a crash after the parquet append but before the checkpoint
commit replays the batch), so both sinks write their batch into an
``ingest_batch=<id>`` partition that a replay replaces — the compounds
rows with dynamic partition overwrite, the manifest rows as one file
committed on the driver (``sources.manifest.write_manifest``) — so a
replayed batch rewrites its own partition instead of appending duplicates.
Checkpointed offsets + idempotent writes = end-to-end exactly-once.

``Trigger.AvailableNow`` drains everything currently in the directory and
stops, which makes the streaming build a drop-in replacement for the batch
CLI: run it on a schedule, each run ingests only new shards. The same
layout-compiled projection is applied inside ``foreachBatch``, and the
``sdf_file`` manifest is still appended per batch — downstream consumers
keep the reference's bookkeeping table.

At scale: the file source lists the directory (driver-side metadata op),
assigns whole .gz files (or 128 MB splits of plain text) to executor
tasks, and the checkpoint bounds re-listing with maxFilesPerTrigger if
backpressure is needed.
"""

from __future__ import annotations

import os
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from local_pubchem_db_spark.plans.layout import compile_layout
from local_pubchem_db_spark.sources.manifest import manifest_row, write_manifest
from local_pubchem_db_spark.sources.sdf import (
    RECORD_DELIM,
    parse_sdf_records,
    sdf_records,
)


def read_sdf_stream(spark: SparkSession, sdf_dir: str, use_gzip: bool) -> DataFrame:
    """Streaming twin of sources.sdf.read_sdf: one row per molecule record
    with (source_file, record, cid, tags), from a directory the stream
    watches for new files."""
    pattern = os.path.join(sdf_dir, "*.sdf.gz" if use_gzip else "*.sdf")
    raw = spark.readStream.text(pattern, lineSep=RECORD_DELIM)
    return parse_sdf_records(sdf_records(raw))


def stream_build_db(
    base_dir: str,
    use_gzip: bool,
    db_specs: dict[str, Any],
    spark: Optional[SparkSession] = None,
    allow_python_transforms: bool = False,
    available_now: bool = True,
):
    """Checkpointed streaming build. Returns the StreamingQuery; with
    ``available_now`` (default) call ``.awaitTermination()`` to block until
    the current directory contents are fully ingested.

    Layout compilation, projection, NOT-NULL skip, and manifest append are
    shared with the batch path — only the source/commit machinery differs.
    """
    from local_pubchem_db_spark.pipeline import PubChemDB, compounds_plan
    from local_pubchem_db_spark.session import get_spark

    spark = spark or get_spark()
    layout = compile_layout(db_specs, allow_python_transforms=allow_python_transforms)
    db = PubChemDB(spark, base_dir)
    os.makedirs(db.db_dir, exist_ok=True)
    checkpoint = os.path.join(db.db_dir, "_checkpoint_sdf_ingest")

    parsed = read_sdf_stream(spark, os.path.join(base_dir, "sdf"), use_gzip)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent by construction: each batch owns the partition
        # ingest_batch=<batch_id>; a checkpoint-replayed batch reprocesses
        # the SAME source files (offsets are logged before execution) and
        # dynamic partition overwrite replaces its own partition only —
        # blind appends here would duplicate rows on replay.
        rows = compounds_plan(batch_df, layout)
        rows.persist()
        try:
            (
                rows.drop("source_file")
                .withColumn("ingest_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch")
                .parquet(db.compounds_path)
            )
            # Filenames present in this batch (post-parse, pre-drop) keep
            # the zero-surviving-rows manifest semantics of the reference.
            batch_files = [
                r["source_file"]
                for r in batch_df.select("source_file").distinct().collect()
            ]
            counts = {
                r["source_file"]: r["count"]
                for r in rows.groupBy("source_file").count().collect()
            }
            manifest_rows = [
                manifest_row(f, counts.get(f, 0)) for f in sorted(batch_files)
            ]
            write_manifest(db.manifest_path, manifest_rows, batch=batch_id)
        finally:
            rows.unpersist()

    writer = (
        parsed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
