"""Process environment of one benchmark run: work directories inside the
checkout, the Spark session it measures, and the memory sampler.

Everything a run writes (Spark local dirs, JVM and Python temp files,
generated inputs) goes under ``<checkout>/.perfbench_work``, which the
run empties when it starts and when it ends.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

#: Driver heap for every run: large enough for both workloads, small
#: enough to share the machine.
DRIVER_MEMORY = "2g"
#: Fixed young generation: with G1's adaptive young sizing the peak
#: resident size of identical runs differed by up to 65 % (831–1404 MB);
#: with 512 MB fixed, by under 4 %.
YOUNG_GEN = "512m"
#: Keep every JIT compiler thread alive. By default the JVM stops idle
#: compiler threads; the CPU time of one that stopped during an
#: operation stays in the process total but can no longer be told apart
#: from application time, and made one scenario's CPU seconds differ
#: from the next by up to 25 %.
JIT_THREADS = "-XX:-UseDynamicNumberOfCompilerThreads"


def prepare_work_dir() -> str:
    """Empty the work directory and point every temp-file user at it.

    Must run before pyspark or duckdb create any temp file."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    import tempfile

    tempfile.tempdir = tmp
    return WORK


def remove_work_dir() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def start_spark(cpus: int):
    """The measured session: ``local[cpus]`` with ``cpus`` shuffle
    partitions, UI and console progress off, all scratch in WORK."""
    from etl_validator_github_spark.plans.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xmn{YOUNG_GEN} {JIT_THREADS}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        proc.stdin.close()
        proc.wait(timeout=60)


def parallelism(spark, cpus: int) -> dict:
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")),
    }


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle  # noqa: SLF001
               .current().pid())


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


class RssSampler:
    """Peak resident memory of one process while the sampler runs."""

    def __init__(self, pid: int, interval_s: float = 0.05) -> None:
        self._pid = pid
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_kb = 0

    def _loop(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, _rss_kb(self._pid))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _rss_kb(self._pid))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks_of(stat_path: str) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def process_cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid`` so far. Time the
    hypervisor gave to other guests (steal) is not in it."""
    return _cpu_ticks_of(f"/proc/{pid}/stat") * _TICK_S


def jit_thread_ticks(pid: int) -> dict[str, int]:
    """CPU ticks so far of each of the JVM's JIT compiler threads, by
    thread id. The JVM starts and stops compiler threads as load
    changes, so callers diff these per thread."""
    ticks = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            ticks[tid] = _cpu_ticks_of(f"/proc/{pid}/task/{tid}/stat")
        except FileNotFoundError:  # the thread ended
            continue
    return ticks


def cpu_snapshot(jvm_pid: int) -> tuple[float, dict[str, int]]:
    """(CPU seconds of the JVM and this process, JIT thread ticks)."""
    return (process_cpu_s(jvm_pid) + process_cpu_s(os.getpid()),
            jit_thread_ticks(jvm_pid))


def app_cpu_s(before: tuple[float, dict], after: tuple[float, dict]) -> float:
    """CPU seconds between two ``cpu_snapshot``s, without the JIT
    compiler threads: warm-up work a long-lived session stops paying,
    and the noisiest part of a young JVM's CPU time. Compiler threads
    never end (``JIT_THREADS``); one that started in between is counted
    from zero."""
    jit = sum(t - before[1].get(tid, 0) for tid, t in after[1].items())
    return after[0] - before[0] - jit * _TICK_S


def load_1m() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    the contention a run's timings absorbed."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def now() -> float:
    return time.perf_counter()
