"""Process-level plumbing: environment, SparkSession lifecycle, memory
sampling and summary statistics. Everything the benchmark writes lands
under the work directory inside the checkout."""

from __future__ import annotations

import os
import statistics
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def cores() -> int:
    """local[4], never more threads than the CPUs this process may use."""
    return min(4, len(os.sched_getaffinity(0)))


def prepare_env(run_dir: str) -> None:
    """Point every scratch location at `run_dir` and let the Python
    workers import the package from the checkout. Must run before the
    JVM starts: its options and the workers' environment are fixed then."""
    os.makedirs(run_dir, exist_ok=True)
    os.environ["TMPDIR"] = run_dir
    local = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir when set
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # every JVM spark-submit starts would otherwise keep a perf-counter
    # file in the system temp directory, outside the checkout
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if "-XX:-UsePerfData" not in opts:
        os.environ["JAVA_TOOL_OPTIONS"] = (opts + " -XX:-UsePerfData").strip()


def session_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.driver.memory": "2g",
        # a fixed heap size: heap growth then does not differ run to run
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={run_dir}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads jobs, stages and SQL executions back from
        # the status store; keep every one of a run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def start_session(run_dir: str):
    """A SparkSession from the engine's own builder (the JVM launches on
    the first call; later calls after `spark.stop()` reuse it)."""
    from typical_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores(), ansi=False, extra_conf=session_conf(run_dir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


class RssSampler:
    """Highest sampled (driver JVM + Python) resident set, in MB, while
    running. Sampling keeps the measurement to the timed passes, where a
    process high-water mark would also cover fixture generation."""

    def __init__(self, pids: list[int], period_s: float = 0.02):
        self.pids = pids
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0

