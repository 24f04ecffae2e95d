"""Session factory: Python workers import the package from any cwd."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# brute_force_knn's pandas UDF calls a module-level helper, which the
# workers unpickle by importing local_pubchem_db_spark.operators.similarity
SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from local_pubchem_db_spark.operators.similarity import brute_force_knn
    from local_pubchem_db_spark.session import get_spark

    spark = get_spark(app_name="foreign-cwd", master="local[1]", shuffle_partitions=1)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = brute_force_knn(df, df.filter("vec_id = 1"), k=1).collect()
    print("RESULT", sorted(tuple(r) for r in rows))
    spark.stop()
    """
)


def test_udf_runs_from_foreign_cwd_without_pythonpath(tmp_path):
    script = tmp_path / "udf_call.py"
    script.write_text(SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT [(1, 2, 1)]" in proc.stdout
