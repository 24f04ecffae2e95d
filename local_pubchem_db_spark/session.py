"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness parity with the reference AND for behavior
that survives a 1000-executor / 100 TB deployment:

- ``spark.sql.session.timeZone=UTC``: the reference's ``DATE('now')``
  (utils.py:328) is UTC in SQLite; pin the session zone so
  ``current_date()`` agrees.
- ``spark.sql.adaptive.enabled`` (+ coalescePartitions + skewJoin): runtime
  re-planning — the knob that makes one static shuffle-partition setting
  usable from sf0.001 tests to a real cluster.
- NOT pinned here: ``spark.sql.legacy.parquet.nanosAsLong``. Earlier
  rounds set it globally for TIMESTAMP(NANOS) testdata vintages; the
  current vintage is MICROS and ``queries.events_table`` self-detects by
  sniffing the parquet footer, setting the conf only when the data is
  actually NANOS and the session has no explicit value — one less
  global legacy knob, and foreign sessions are never mutated.
- Arrow enabled: every Python-side operator in this package uses
  Arrow-batched pandas UDFs, never row-at-a-time Python UDFs.

- ``spark.sql.mapKeyDedupPolicy=LAST_WIN``: lets the SDF tag parser
  build its tag map with a reversed entry array (first-occurrence-wins,
  all codegen). Sessions from other factories keep their own policy —
  sources/sdf.py detects it and falls back to an explicit expression-level
  dedup instead of mutating foreign session state.
- ``spark.executorEnv.PYTHONPATH`` = the directory holding this package:
  a pandas UDF that references a package function unpickles it by
  import on the Python workers, which otherwise find the package only
  when the driver happens to run from the repository root.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "local_pubchem_db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Return (or create) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = builder.master(master)

    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # INT96 (Spark's default parquet timestamp encoding) carries NO
        # column statistics: every time-range predicate scans every row
        # group of every sink this engine writes. MICROS is the modern
        # encoding (stats + pyarrow/duckdb-native); write_zordered
        # fail-fasts if a caller's session still emits INT96 for a
        # timestamp z-dim.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # local-mode executors share the driver JVM: 32 task threads on
        # the old 8g default is 256MB/thread — measured GCLocker retry
        # stalls on the sf30 fact join. 16g (512MB/thread) matches a
        # conservative real-cluster executor shape; scale runs override
        # higher via SPARK_GRAFT_DRIVER_MEM.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT,
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
