"""The benchmark's SparkSession: how it starts, what it costs, how it stops.

One process runs one workload on a fresh JVM.  Every file Spark, DuckDB or
the engine writes goes under the run's work directory, because
``TMPDIR``, ``java.io.tmpdir``, ``spark.local.dir`` and the warehouse all
point there, and no JVM keeps a performance-data file in /tmp.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

# confs the benchmark sets on top of Spark's defaults; every one is
# recorded in the run's output
DRIVER_MEMORY = "2g"  # far below the 15 GB of the 4-core test box


def cpus():
    """Task slots of ``local[N]``: half the usable cores.  On a 4-core box
    ``local[4]`` ran no faster than ``local[2]`` at these data sizes, and
    its run-to-run spread was two to four times wider: with every core
    running a task, the JVM's compiler and collector threads and the
    Python driver preempt a task, and its stage waits for it.
    ``SPARK_GRAFT_CPUS`` is not read, so a setting meant for the test
    suite does not change what the benchmark measures."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def confs(work_dir):
    return {
        "spark.master": f"local[{cpus()}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work_dir} "
            f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} "
            # no /tmp/hsperfdata_<user> file
            "-XX:-UsePerfData "
            # a fixed set of JIT compiler threads: when the JVM starts and
            # stops them on demand, how much it compiles within a short
            # run depends on timing; over 5 seeds of one oltp_mix cycle
            # the quartile spread of the JVM's CPU time fell from 0.12
            # to 0.05
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }


def start(work_dir):
    """Start a SparkSession with :func:`confs`; returns it."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in confs(work_dir).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# conf entries that change on every start and say nothing about the set-up
_VOLATILE = (
    "spark.app.id",
    "spark.app.startTime",
    "spark.app.submitTime",
    "spark.driver.port",
    "spark.driver.host",
)


def recorded_confs(spark):
    """Every conf set on the session (by Spark's launcher, the benchmark
    or the engine), minus the per-start identifiers."""
    return {
        k: v for k, v in sorted(spark.conf.getAll.items()) if k not in _VOLATILE
    }


def descendants(pid):
    """PIDs of every live descendant of ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def jvm_pid():
    """PID of the driver JVM (spark-submit execs into it)."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb(pids):
    """Sum of the peak resident sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for p in pids:
        with open(f"/proc/{p}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def cpu_seconds(pid):
    """User plus system CPU time of ``pid`` and every live descendant,
    including their children that have exited (Python workers)."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def heap_live_mb(spark):
    """JVM heap in use right after a full garbage collection: the data
    the session keeps alive, independent of when the collector ran."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


def process_age_s():
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _alive(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop(spark, timeout=60.0):
    """Stop Spark, end the JVM and wait until every process started for
    it (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin, our end of the pipe, closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while left := [p for p in started if _alive(p)]:
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
