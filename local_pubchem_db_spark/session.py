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
  build its tag map with ``map_from_arrays`` over reversed key and value
  arrays (first occurrence wins) and no lambda function, so the parse,
  the layout projection and the NOT-NULL filter compile into one
  whole-stage codegen stage. Sessions from other factories keep their
  own policy — sources/sdf.py detects it and falls back to an explicit
  first-occurrence ``filter``, a higher-order function that Spark
  interprets (``CodegenFallback``), instead of mutating foreign session
  state.
- ``spark.executorEnv.PYTHONPATH`` = the directory holding this package:
  a pandas UDF that references a package function unpickles it by
  import on the Python workers, which otherwise find the package only
  when the driver happens to run from the repository root.
- ``spark.sql.codegen.cache.maxEntries=2048``: Spark keeps the classes it
  generates and compiles (whole-stage code, projections, orderings) in
  one JVM-wide LRU cache of 100 entries by default. One pass of the
  benchmark's 20 registry rows compiles ~370 classes and all 60 rows
  ~700 (measured at sf0.01 on 4 cores), so with 100 entries every class is
  evicted before its query shape comes back: each call compiles it
  again with Janino, and the JIT starts over on the new class. 2048
  holds the whole registry's working set with room to spare;
  ``extra_conf`` overrides it.
- ``spark.sql.codegen.useIdInClassName=false``: whole-stage classes are
  all named ``GeneratedIterator``. With the stage id in the name, a
  stage whose id shifts (AQE numbers stages in the order it plans them)
  is new code to the cache and compiles again.

``get_spark`` also initialises Catalyst's ``CodeGenerator`` before it
returns, on the calling thread with the new session active. The cache
is a JVM singleton sized once, from ``SQLConf.get`` on the first thread
that touches ``CodeGenerator``, and ``SQLConf.get`` returns the
session's conf only on a thread where that session is active; elsewhere
it returns the defaults. Left lazy, the first thread can be one without
an active session. In the benchmark's threaded oracle pass (``toPandas``
from a ``ThreadPoolExecutor``) it is the py4j thread serving a pool
thread, generating code for ``operators.util.fan_out``'s
``queryExecution().toRdd()`` partition probe, which runs outside any SQL
execution: the cache got 100 entries whatever the conf said. A session
that another factory built and ran queries on before ``get_spark`` has
fixed the size already.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CODEGEN_CACHE_ENTRIES = 2048


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
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # whole-stage classes are named GeneratedIterator, not
        # GeneratedIteratorForCodegenStage<id>: AQE numbers stages in the
        # order it plans them, so the same stage's code otherwise differs
        # (and misses the cache) when that order changes between calls
        "spark.sql.codegen.useIdInClassName": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _init_codegen_cache(spark)
    return spark


def _init_codegen_cache(spark: SparkSession) -> None:
    """Size the JVM-wide generated-code cache from this session's conf
    (see the module docstring): initialise ``CodeGenerator`` now, on this
    thread, with the session active. A no-op once it is initialised."""
    jvm = spark._jvm
    getattr(jvm, "org.apache.spark.sql.classic.SparkSession").setActiveSession(
        spark._jsparkSession
    )
    jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$",
        True,
        jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader(),
    )
