"""Spark launcher with the benchmark's steadiness settings, plus the
run context and the process-level counters (CPU, GC, RSS, steal).

Each setting below is recorded with the measurement behind it in
perfbench/RATIONALE.md ("Steadiness settings").
"""

from __future__ import annotations

import os
import platform
import sys
import time

import numpy as np

CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_cpu() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the host so far, summed over its
    CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return (user + nice + system + irq + softirq) / CLK_TCK, steal / CLK_TCK


def steal_s() -> float:
    """Cumulative steal time of the host, in seconds."""
    return host_cpu()[1]


def steal_share(before: tuple[float, float], after: tuple[float, float]) -> float:
    """Share of the host's non-idle CPU time between two host_cpu()
    readings that the hypervisor stole. Wall time times (1 - share) is
    the time the work would have taken on CPUs that were not stolen."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


class Settings:
    """Task slots = nproc/2 so the JVM and its Python workers do not
    oversubscribe the box; shuffle partitions = 4x slots, which removed
    the straggler-bound build noise; a driver heap that fits the box."""

    def __init__(self):
        self.slots = max(1, nproc() // 2)
        self.shuffle_partitions = 4 * self.slots
        heap_mb = min(4096, max(1024, mem_total_kb() // 1024 // 4))
        self.driver_memory = f"{heap_mb}m"
        self.java_options = "-XX:+UseParallelGC"

    def as_dict(self) -> dict:
        return {
            "task_slots": self.slots,
            "shuffle_partitions": self.shuffle_partitions,
            "driver_memory": self.driver_memory,
            "java_options": self.java_options,
        }


def make_session(settings: Settings, root: str, scratch: str):
    """A local Spark session whose files all stay under ``scratch``.
    PYTHONPATH makes the engine importable by the pandas-UDF workers
    wherever the benchmark runs from."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # takes precedence over spark.local.dir
    java_opts = f"{settings.java_options} -Djava.io.tmpdir={tmp}"
    spark = (
        SparkSession.builder.master(f"local[{settings.slots}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(settings.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", settings.driver_memory)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then close the JVM's stdin pipe, which ends
    the JVM, and wait until the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = descendants(jvm_pid(spark))
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in tree):
        if time.monotonic() > deadline:
            raise RuntimeError("the JVM or a Python worker did not exit")
        time.sleep(0.05)


def warm_workers(spark, slots: int) -> None:
    """Spin up the Python worker pool: one pandas-UDF task per slot."""
    from pyspark.sql import functions as F

    spark.range(0, slots * 1000, 1, slots).select(
        F.pandas_udf(lambda s: s, "long")(F.col("id")).alias("x")
    ).agg(F.sum("x")).collect()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def gc_ms(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended meanwhile
        return None
    return data[data.rindex(")") + 2 :].split()


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_ms(pids) -> float:
    """User + system CPU of the given processes (exited ones count 0)."""
    total = 0
    for p in pids:
        st = _stat(p)
        if st:
            total += int(st[11]) + int(st[12])
    return total * 1000.0 / CLK_TCK


class CpuSplit:
    """CPU and peak RSS of the driver Python, the JVM and the Python
    workers (every other process under the JVM)."""

    def __init__(self, spark):
        self.jvm = jvm_pid(spark)

    def groups(self) -> dict[str, list[int]]:
        return {
            "driver": [os.getpid()],
            "jvm": [self.jvm],
            "workers": [p for p in descendants(self.jvm) if p != self.jvm],
        }

    def sample(self) -> dict[str, float]:
        return {k: cpu_ms(pids) for k, pids in self.groups().items()}

    def peak_rss_mb(self) -> dict[str, float]:
        return {k: hwm_mb(pids) for k, pids in self.groups().items()}


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS, so the peak counts
    only what runs after (here: set-up and the measured window, not
    the benchmark's own input handling)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def hwm_mb(pids) -> float:
    """Sum of the peak RSS (VmHWM) of the given processes."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def git_commit(root: str) -> str:
    """HEAD of the checkout when it is a git repository, else 'unknown'."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def context(settings: Settings, root: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_kb() // 1024,
        **settings.as_dict(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "commit": git_commit(root),
        "argv": sys.argv[1:],
    }


class DriverControl:
    """An engine-free unit of the driver work an interactive query does:
    Python bytecode, a numpy sort, and a one-row VALUES relation parsed,
    analysed and collected through py4j. Timed between queries, it
    measures how fast the host runs that kind of work at that moment."""

    def __init__(self, spark):
        self.spark = spark
        self.data = np.random.default_rng(0).random(20_000)

    def run_ms(self) -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(20_000):
            acc += i * i % 7
        np.sort(self.data)
        self.spark.sql(
            "SELECT * FROM VALUES (1, 2L, CAST('0.5' AS DOUBLE)) AS t(rank, doc_id, score)"
        ).collect()
        return (time.perf_counter() - t0) * 1000.0
