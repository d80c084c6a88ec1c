"""Host facts and the benchmark's Spark session, sized from the host.

The session is ``local[nproc]`` with nproc shuffle partitions, a driver
heap derived from ``/proc/meminfo``, and every scratch directory (Spark
local dirs, JVM and Python temp files, the warehouse, the event log)
inside the benchmark's work directory.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import tempfile

GIB = 1 << 30


def mem_total_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_bytes(mem_total: int) -> int:
    """A sixteenth of physical memory, within [512 MiB, 2 GiB]: the
    inputs are small and the machine may be shared. A heap the workload
    fills also keeps the JVM's peak RSS from depending on when the
    collector first runs."""
    return min(2 * GIB, max(GIB // 2, mem_total // 16))


def vm_hwm_bytes(pid: int | str = "self") -> int:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a /proc ``stat`` file after the command name, or None
    when the process or thread has exited."""
    try:
        with open(path, encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields after it are fixed
    return raw[raw.rindex(")") + 2 :].split()


# HotSpot's JIT compiler threads: their CPU time is a warm-up cost that
# falls as a run goes on, not work the program does per item
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm", encoding="ascii", errors="replace") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
        except OSError:  # the thread exited
            continue
        fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        if fields is not None:
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by a process and every live
    descendant, children they have reaped included: the benchmark process,
    the driver JVM it launched and the Python workers the JVM forked. JIT
    compiler threads are left out (``JIT_THREADS``), and so is time the
    kernel accounts as steal."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    ticks: dict[int, tuple[int, bool]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(f"/proc/{name}/stat")
        if f is None:
            continue
        # after the command name: state(0) ppid(1) ... utime(11) stime(12)
        # cutime(13) cstime(14) ... num_threads(17)
        children.setdefault(int(f[1]), []).append(int(name))
        ticks[int(name)] = (sum(int(x) for x in f[11:15]), int(f[17]) > 1)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        t, threaded = ticks.get(pid, (0, False))
        total += t - (_jit_ticks(pid) if threaded else 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def source_digest(root: str) -> str:
    """sha256 over the package and entry-point sources: identifies the
    code under test when the checkout is not a git repository."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, _dirs, files in os.walk(os.path.join(root, "judyst_web_crawler_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def host_facts(root: str) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_bytes": mem_total_bytes(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "git_sha": git_sha(root),
        "source_sha256": source_digest(root),
    }


def start_session(work: str, nproc: int, event_log_dir: str | None):
    """The benchmark's SparkSession. ``event_log_dir`` turns on Spark's
    event log (traced runs only)."""
    from judyst_web_crawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # the JVM and the Python workers inherit these; ship_package's zip
    # lands in tempfile.gettempdir()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the spark-submit launcher included: no hsperfdata file in
    # the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    heap_mib = driver_heap_bytes(mem_total_bytes()) // (1 << 20)
    conf = {
        "spark.driver.memory": f"{heap_mib}m",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap resident from the start: peak RSS then measures
        # what grows outside the heap, not when the collector ran. JIT
        # compiler threads live as long as the JVM, so tree_cpu_s can
        # leave out all of their time (a thread that exits takes its own
        # counters with it, and its time stays in the process total)
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={tmp} -Xms{heap_mib}m -XX:+AlwaysPreTouch"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.python.worker.reuse": "true",
        # no web server, no progress bar on stderr
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait until the JVM (and with it every Python
    worker it forked) has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits on stdin EOF
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
