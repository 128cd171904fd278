"""Run hygiene: a private run directory inside the checkout, a Spark session
with explicit cores, heap and shuffle location, process bookkeeping, and a
clean stop of the driver JVM."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import time
from typing import Any

APP = "perfbench"
DRIVER_HEAP = "4g"
STATE_DIR = ".perfbench"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def box_ram_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_s(pid: int | str = "self") -> float:
    """User plus system CPU time a process has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_counters(spark: Any, pid: int) -> dict[str, float]:
    """Driver CPU (JVM + this process), JIT compile and GC time so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    return {
        "cpu_s": cpu_s(pid) + cpu_s(),
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "gc_s": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())) / 1e3,
    }


def since_process_start() -> float:
    """Seconds since this process was created. The kernel records the start
    time on the boot-relative clock, so it is read against that clock."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def spark_jvms() -> list[tuple[int, str]]:
    """Live Spark driver JVMs: (pid, command line)."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "org.apache.spark.deploy.SparkSubmit" in cmd:
            out.append((int(pid), cmd))
    return out


def stale_benchmark_jvms() -> list[int]:
    """Spark JVMs that an earlier benchmark run left alive."""
    return [pid for pid, cmd in spark_jvms() if f"spark.app.name={APP}" in cmd]


class RunDir:
    """``<checkout>/.perfbench/run-<pid>/`` holding this run's shuffle files,
    JVM temp files, inputs and checkpoints; removed on exit."""

    def __init__(self, root: str):
        self.path = os.path.join(root, STATE_DIR, f"run-{os.getpid()}")
        self.results = os.path.join(root, STATE_DIR, "results")

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def __enter__(self) -> "RunDir":
        shutil.rmtree(self.path, ignore_errors=True)
        for d in ("shuffle", "tmp", "data", "ckpt"):
            os.makedirs(self.sub(d))
        os.makedirs(self.results, exist_ok=True)
        return self

    def __exit__(self, *exc: Any) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(run: RunDir) -> tuple[Any, dict[str, Any]]:
    """The engine's ``get_spark`` with every knob the result depends on made
    explicit. ``SPARK_LOCAL_DIRS`` is removed from the JVM's environment
    because it silently overrides ``spark.local.dir``. Temp files stay in the
    run directory; the JVMs keep their perf counters off disk (HotSpot
    writes them to /tmp whatever ``java.io.tmpdir`` says)."""
    from graphulo_spark.session import get_spark

    env_local_dirs = os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = run.sub("shuffle")
    os.environ["TMPDIR"] = tempfile.tempdir = run.sub("tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:+PerfDisableSharedMem"
    cores = nproc()
    t0 = time.perf_counter()
    spark = get_spark(
        app=APP,
        cores=cores,
        driver_memory=DRIVER_HEAP,
        extra={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.sub('tmp')}"},
    )
    get_spark_s = time.perf_counter() - t0
    setup_s = since_process_start()
    jvm = spark._jvm
    info = {
        "cores": cores,
        "driver_heap": DRIVER_HEAP,
        "box_ram_mb": round(box_ram_mb()),
        "spark_version": spark.version,
        "java_version": jvm.System.getProperty("java.version"),
        "jvm_pid": int(jvm.ProcessHandle.current().pid()),
        "spark_local_dirs_env": env_local_dirs,
        "spark.local.dir": spark.conf.get("spark.local.dir"),
        "shuffle_dirs": _block_manager_dirs(spark),
        "get_spark_s": get_spark_s,
        "setup_s": setup_s,
    }
    return spark, info


def _block_manager_dirs(spark: Any) -> list[str]:
    """Where shuffle blocks actually land, as the block manager sees it."""
    dirs = spark.sparkContext._jsc.sc().env().blockManager().diskBlockManager().localDirs()
    return [str(d.getAbsolutePath()) for d in dirs]


def stop_spark(spark: Any, timeout: float = 60.0) -> None:
    """Stop the session, close the gateway and wait for the driver JVM (and
    any other child process) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    _reap_children(timeout)


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except OSError:
            continue
        if ppid == me:
            out.append(int(pid))
    return out


def _reap_children(timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while _children() and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            time.sleep(0.05)
        if not _children():
            return
