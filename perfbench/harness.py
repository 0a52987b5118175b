"""Process-level plumbing shared by the workloads: environment, Spark
session lifecycle, memory, percentiles, and the host-drift anchors."""

from __future__ import annotations

import multiprocessing
import os
import platform
import resource
import signal
import subprocess
import time

CPUS = 4
# The package default (16g) does not fit a 15 GB host running a Python
# driver, 4 Python workers and the page cache; 3g holds every workload.
DRIVER_MEM = "3g"


def prepare_env(work: str) -> None:
    """Pin the CPU budget and keep every scratch file inside ``work``.
    Must run before pyspark or tempfile are first used."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the spark-submit launcher too): temp files in ``work``
    # and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ.setdefault("PYSPARK_PYTHON", "python3")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def in_child(fn, *args):
    """``fn(*args)`` in a forked child process, waited for; returns its
    result.  Input generation runs here so that its memory stays out of
    this process's peak RSS.  Call it before the Spark session starts."""
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as ex:
        return ex.submit(fn, *args).result()


def spark_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    """Peak resident memory so far of this Python driver plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_CLK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int | None) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this Python driver, the JVM and every process under the JVM.
    Unlike wall time it does not grow when the host steals the CPUs."""
    total = 0
    for p in [os.getpid()] + ([pid] + _descendants(pid) if pid else []):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / _CLK


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process the JVM started, and
    wait until each has ended."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    try:
        gateway.shutdown()
    except Py4JError:  # the JVM side may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while any(_alive(p) for p in tree) and time.time() < deadline:
        time.sleep(0.05)
    for p in tree:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in tree:  # reap anything that was our direct child
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


class TooFewSamples(ValueError):
    pass


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile.  A tail percentile (q > 50) is refused
    unless at least 10 samples lie beyond it."""
    if not values:
        raise TooFewSamples("no samples")
    xs = sorted(values)
    n = len(xs)
    if q > 50 and int(n * (100 - q) / 100) < 10:
        raise TooFewSamples(f"p{q:g} needs 10 samples beyond it; have {n} samples")
    if q == 50:
        mid = n // 2
        return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2
    rank = max(1, -(-n * q // 100))  # ceil
    return xs[int(rank) - 1]


def env_record(spark) -> dict:
    """Non-gating host record: CPUs, versions, memory settings."""
    try:
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    except Exception:
        java = None
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_graft_driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark_version": spark.version,
        "java_version": java,
        "python_version": platform.python_version(),
        "master": spark.sparkContext.master,
    }


# --------------------------------------------------------------------------
# Host-drift anchors (frozen workloads; diagnostic only)
# --------------------------------------------------------------------------


def anchors(spark, work: str) -> dict:
    """Three frozen probes that move with the host, not the code: a CPU
    + shuffle plan (8-deep xxhash64 chain, two-level aggregate), a
    full-column parquet scan of a fixed generated file, and 20 trivial
    one-task jobs (per-job scheduling latency).  Each is min-of-2 after
    a warm run, sized for a 4-core host."""
    import pyspark.sql.functions as F

    def cpu(n: int) -> float:
        h = F.col("id")
        for i in range(8):
            h = F.xxhash64(h, F.lit(i))
        t0 = time.perf_counter()
        (spark.range(0, n, 1, 8)
         .select((F.col("id") % 9973).alias("k"), h.alias("h"))
         .groupBy("k").agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
         .agg(F.sum(F.abs(F.col("s")) % 1000003).alias("chk"), F.sum("n").alias("n"))
         .collect())
        return time.perf_counter() - t0

    path = os.path.join(work, "anchor_scan.parquet")
    (spark.range(0, 2_000_000, 1, 4)
     .select("id", (F.col("id") * 7 % 1000).cast("double").alias("x"),
             F.sha2(F.col("id").cast("string"), 256).alias("s"))
     .write.mode("overwrite").parquet(path))

    def scan() -> float:
        df = spark.read.parquet(path)
        t0 = time.perf_counter()
        df.agg(F.sum("id"), F.sum("x"), F.max("s")).collect()
        return time.perf_counter() - t0

    def jobs20() -> float:
        t0 = time.perf_counter()
        for _ in range(20):
            spark.range(1).count()
        return time.perf_counter() - t0

    out = {}
    for name, fn in (("cpu_s", lambda: cpu(20_000_000)), ("scan_s", scan), ("job20_s", jobs20)):
        fn()
        out[name] = round(min(fn() for _ in range(2)), 4)
    return out
