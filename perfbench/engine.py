"""The Spark engine process as the benchmark starts, measures and stops it."""

from __future__ import annotations

import os
import platform
import subprocess

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession


def configure_env(work: str, trace: bool, import_dirs: list[str]) -> int:
    """Environment for the engine, the JVM and its Python workers:
    ``import_dirs`` go on ``PYTHONPATH`` and everything they write lands
    under ``work``.  Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    pypath = import_dirs + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join(pypath),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(work, "checkpoints"),
        # every JVM, the launcher's too: temp files under ``work`` and no
        # hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData "
                             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    submit = [f"--conf spark.sql.warehouse.dir={os.path.join(work, 'wh')}"]
    if trace:
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   f"--conf spark.eventLog.dir=file://"
                   f"{os.path.join(work, 'eventlog')}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit) + " pyspark-shell"
    os.chdir(work)
    return cpus


def stop_engine() -> None:
    """Stop the SparkSession and the JVM behind it, and wait for it."""
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()   # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def fingerprint(spark, cpus: int, args, scale: str) -> dict:
    """What a result must be read against: numbers from different
    fingerprints are not comparable."""
    jvm = spark.sparkContext._jvm
    return {"nproc": cpus, "spark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "seed": args.seed,
            "workload": args.workload, "scale": scale,
            "seconds": args.seconds, "trace": args.trace}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def rss_now() -> float:
    """Peak resident memory of the driver JVM plus this process (MB)."""
    total = vm_hwm_mb("self")
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        total += vm_hwm_mb(proc.pid)
    return total
