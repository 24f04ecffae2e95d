"""Session factory: Python workers import the package from any cwd, and
the generated-code cache holds the registry's working set.

Both checks share one subprocess (one JVM start): the cache is a JVM
singleton, so the codegen check needs a JVM the suite's session has not
touched."""

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# brute_force_knn's pandas UDF calls a module-level helper, which the
# workers unpickle by importing local_pubchem_db_spark.operators.similarity.
#
# The first query runs from a pool thread, as a threaded oracle pass
# does: token_topk's fan_out probe generates code on the py4j thread that
# serves the pool thread, outside any SQL execution, so no session is
# active there. Then three registry rows whose generated classes together
# outnumber Spark's default cache of 100 entries run twice; the second
# round must find every class in the cache.
SCRIPT = textwrap.dedent(
    """
    import sys
    from concurrent.futures import ThreadPoolExecutor
    sys.path.insert(0, sys.argv[1])
    from local_pubchem_db_spark.operators.similarity import brute_force_knn
    from local_pubchem_db_spark.operators.util import release_shared_caches
    from local_pubchem_db_spark.queries import QUERIES
    from local_pubchem_db_spark.session import get_spark

    spark = get_spark(app_name="foreign-cwd", master="local[1]", shuffle_partitions=1)
    sf_dir = sys.argv[2]
    with ThreadPoolExecutor(1) as pool:
        pool.submit(lambda: QUERIES["token_topk"](spark, sf_dir).toPandas()).result()

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = brute_force_knn(df, df.filter("vec_id = 1"), k=1).collect()
    print("RESULT", sorted(tuple(r) for r in rows))

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    rounds = []
    for _ in range(2):
        before = compiled.getCount()
        for row in ("dedup_minhash_lsh", "hybrid_batch", "pct_selection"):
            release_shared_caches(spark)
            QUERIES[row](spark, sf_dir).write.format("noop").mode("overwrite").save()
        rounds.append(compiled.getCount() - before)
    print("COMPILED", rounds)
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def foreign_session(tmp_path_factory, sf_dir):
    tmp_path = tmp_path_factory.mktemp("foreign_cwd")
    script = tmp_path / "session_checks.py"
    script.write_text(SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script), REPO, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_udf_runs_from_foreign_cwd_without_pythonpath(foreign_session):
    assert "RESULT [(1, 2, 1)]" in foreign_session


def test_codegen_cache_holds_registry_working_set(foreign_session):
    line = next(x for x in foreign_session.splitlines() if x.startswith("COMPILED"))
    first, second = json.loads(line.split(" ", 1)[1])
    # the first round compiles the rows' classes (> 100 of them), the
    # second compiles none
    assert first > 100, line
    assert second == 0, line
