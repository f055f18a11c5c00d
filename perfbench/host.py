"""Host record, process-tree memory and CPU-steal sampling, and the benchmark's Spark session.

Results taken on different core counts are never comparable: every run
records ``cpus`` and a fixed-size calibration job time next to its metrics.
"""

from __future__ import annotations

import bisect
import os
import platform
import sys
import threading
import time

# One fixed size, so runs on any host use the same parallelism. Two task
# slots on a 4-vCPU host leave the other two to the driver JVM, the Python
# client, GC and JIT threads: with four slots the same runs were slower
# (requests and set-up by ~40 %) and spread further.
MASTER = "local[2]"
SHUFFLE_PARTITIONS = 4


def host_record(seed: int) -> dict:
    import pyspark

    try:
        load = round(os.getloadavg()[0], 2)
    except OSError:
        load = None
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "load_avg_1m_at_start": load,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "seed": seed,
    }


def spark_conf(work: str, log4j_props: str) -> dict[str, str]:
    """Session settings of the benchmark: everything the JVM writes stays
    under ``work``; the status store keeps enough jobs and stages for the
    traced run to read every span's jobs back."""
    java_opts = f"-Dlog4j2.configurationFile=file:{log4j_props} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    return {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "40000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def prepare_env(root: str, work: str) -> None:
    """Environment inherited by the JVM and the Python workers it starts."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher JVM that spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def calibrate(spark) -> float:
    """Best of two runs of a fixed-size JVM job (host speed scalar)."""

    def once() -> float:
        t0 = time.perf_counter()
        spark.range(40_000_000).selectExpr("sum(id * 3 % 7)", "count(if(id % 11 = 0, 1, NULL))").collect()
        return time.perf_counter() - t0

    return round(min(once(), once()), 4)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between forked Python workers
    count once in total, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) jiffies of the host's CPUs since boot; busy is every
    state but idle and iowait, steal included."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    todo = [os.getpid()]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


class RssSampler:
    """Peak resident memory (PSS) of this process and all its descendants
    (the JVM and its Python workers), sampled as one sum every ``PERIOD_S``,
    and the host's CPU ticks at each sample, so that the share of busy CPU
    time the hypervisor stole can be read back for any interval."""

    PERIOD_S = 0.2

    def __init__(self) -> None:
        self.peak_kb = 0
        self.ticks: list[tuple[float, int, int]] = []  # (time.time(), steal, busy)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.ticks.append((time.time(), *cpu_ticks()))
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in tree_pids()))
            self._stop.wait(self.PERIOD_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
            self.ticks.append((time.time(), *cpu_ticks()))
        return self.peak_kb / 1024.0

    def steal_share(self, t0: float, t1: float) -> float:
        """Stolen share of the busy CPU time between the last sample at or
        before ``t0`` and the first at or after ``t1``."""
        ts = [t for t, _, _ in self.ticks]
        i = max(bisect.bisect_right(ts, t0) - 1, 0)
        j = min(bisect.bisect_left(ts, t1), len(ts) - 1)
        steal, busy = self.ticks[j][1] - self.ticks[i][1], self.ticks[j][2] - self.ticks[i][2]
        return steal / busy if busy > 0 else 0.0
