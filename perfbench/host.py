"""Host facts written into every record, session settings that fit the
host, and peak resident memory from /proc."""

from __future__ import annotations

import os
import platform

#: driver heap; the corpus is small and the machine's memory is shared
DRIVER_HEAP = "2g"


def cores() -> int:
    """CPUs this process may run on (the affinity mask, not the machine)."""
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Task slots for local[n]: half the CPUs of the affinity mask. A task
    that runs an Arrow UDF keeps both a JVM thread and a Python worker
    busy, and the driver JVM's compiler and GC threads, the Python client
    and the oracle need the rest; with a slot per CPU the ops on this
    scheduling-bound corpus ran slower and varied more from run to run."""
    return max(1, cores() // 2)


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_env(work_dir: str) -> dict[str, str]:
    """Environment for get_spark: heap below physical RAM, Spark scratch
    and JVM temp files inside the work dir, and Python workers that can
    import the package from the checkout."""
    heap_mb = int(DRIVER_HEAP.rstrip("g")) * 1024
    if heap_mb >= ram_mb():
        raise RuntimeError(f"driver heap {DRIVER_HEAP} does not fit in {ram_mb()} MB of RAM")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        # get_spark's default -Xms4g would exceed the heap cap; the later
        # flag wins. A fixed-size heap keeps G1 from resizing mid-run.
        "SPARK_GRAFT_JAVA_OPTS": f"-Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work_dir, "spark-local"),
        # takes precedence over spark.local.dir when the caller has it set
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    }


def facts(spark, master: str) -> dict:
    system = spark.sparkContext._jvm.java.lang.System
    return {
        "cpus": cores(),
        "ram_mb": ram_mb(),
        "master": master,
        "driver_heap": DRIVER_HEAP,
        "spark": spark.version,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "python": platform.python_version(),
    }


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def peak_rss_mb(spark) -> float:
    """High-water resident memory of the driver JVM plus this Python
    process, from /proc/<pid>/status."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _hwm_mb(jvm_pid) + _hwm_mb("self")
