"""Run scaffolding shared by the workloads: session shape, failure
isolation, the driver JVM's memory, statistics and shutdown."""

from __future__ import annotations

import os
import platform
import sys
import time
import traceback

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Fits a 15 GB host with room to spare; get_spark defaults to 16g.
DRIVER_MEMORY = "3g"


def session_conf() -> dict[str, str]:
    """Spark conf for every run; call after ``pin_environment``."""
    return {
        "spark.ui.showConsoleProgress": "false",
        # A fixed heap and young generation: G1 otherwise sizes both from
        # measured pause times, which moved the JVM's peak RSS by 30%
        # between runs of the same work on a host with CPU steal. No
        # hsperfdata file in /tmp, and the JVM's temporary files in the
        # run's own directory.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn512m -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def pin_environment(work_dir: str) -> dict[str, str]:
    """Session shape for every run, set before the JVM starts.

    One shuffle partition per core (get_spark otherwise defaults to 32), a
    driver heap that fits the host, a warehouse, spill and temporary
    directory of the run's own, and a PYTHONPATH that lets pandas-UDF
    workers import the package from any working directory.
    """
    pins = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": os.path.join(work_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(pins)
    os.makedirs(pins["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(pins["TMPDIR"], exist_ok=True)
    return pins


class Bench:
    """One run: the session, its tracer, and the outcome of every op."""

    def __init__(self, workload: str, seed: int, trace: bool, work_dir: str):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work_dir = work_dir
        self.run_id = f"{workload}-{seed}-{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: list[tuple[str, bool]] = []
        self.spark = None
        self.tracer = None
        self.session_s = 0.0
        self.ticks_at_start = cpu_ticks()

    # -- session --------------------------------------------------------
    def start_session(self) -> None:
        from local_pubchem_db_spark.session import get_spark

        from perfbench.spans import Tracer

        t = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=session_conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        end = time.perf_counter()
        self.session_s = end - t
        self.tracer = Tracer(self.spark, self.run_id, self.trace)
        self.tracer.record("session.get_spark", t, end)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from the JVM's /proc status")

    def cpu_seconds(self) -> float:
        """CPU time used so far by this process, the driver JVM and the
        JVM's descendants (the Python workers). Unlike wall time it does not
        count time the host's hypervisor takes from the VM (steal)."""
        parent, ticks = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we looked
                continue
            parent[int(name)] = int(fields[1])
            ticks[int(name)] = sum(int(x) for x in fields[11:15])  # u/s time, own and reaped children
        tree, todo = 0, [self.jvm_pid()]
        while todo:
            pid = todo.pop()
            tree += ticks.get(pid, 0)
            todo.extend(c for c, p in parent.items() if p == pid)
        own = os.times()
        return tree / os.sysconf("SC_CLK_TCK") + own.user + own.system

    def host(self) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        with open("/proc/meminfo", encoding="ascii") as fh:
            mem_kb = int(fh.readline().split()[1])
        conf = dict(self.spark.sparkContext.getConf().getAll())
        conf = {k: v for k, v in conf.items() if k.startswith("spark.sql") or k in (
            "spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions")}
        steal, total = (now - then for now, then in zip(cpu_ticks(), self.ticks_at_start))
        return {
            "nproc": nproc(),
            # share of the host's CPU time the hypervisor gave to other
            # guests during the run; it slows every metric that is a time
            "steal_frac": steal / max(1, total),
            "mem_total_mb": mem_kb // 1024,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "seed": self.seed,
            "spark_conf": conf,
        }

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers)
        to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc if gateway else None
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - must not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    # -- outcomes -------------------------------------------------------
    def attempt(self, label: str, fn):
        """Run one op; a raised error is recorded and counted as failed so
        that the run goes on. Returns (ok, value)."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception as err:  # noqa: BLE001 - isolate one op's failure
            self.failed += 1
            last = traceback.format_exception_only(type(err), err)[-1].strip()
            self.errors.append(f"{label}: {last[:500]}")
            return False, None

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        """A correctness check on an output; a miss counts as a failed op."""
        self.attempted += 1
        self.checks.append((label, ok))
        if not ok:
            self.failed += 1
            self.errors.append(f"check {label}: {detail[:500]}")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
