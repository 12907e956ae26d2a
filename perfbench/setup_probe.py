"""Session set-up, as the benchmark times it: process start to a session
that has run one job.

Run as a script it sets up once, stops, and prints one JSON line with the
timings; ``run.py`` starts it a few times after its own measured run to get
more set-up samples, each with a fresh JVM.
"""

import time

T0 = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402


def configure_env(root: str, work_dir: str) -> None:
    """Keep every file Spark, the JVMs and Python write under ``work_dir``,
    and let the Python workers import the package and the benchmark."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # no hsperfdata under /tmp, JVM temp files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the driver heap keeps the engine's own setting, so peak RSS follows
    # the heap the engine really grows
    for key in ("SPARK_GRAFT_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(key, None)


def ready_session(t0: float):
    """get_spark, ensure_session_confs and one trivial job; returns the
    session and the seconds each step took, counted from ``t0``."""
    from ethiopia_legal_etl_spark import session

    t1 = time.perf_counter()
    spark = session.get_spark()
    t2 = time.perf_counter()
    session.ensure_session_confs(spark)
    t3 = time.perf_counter()
    spark.range(1).count()
    t4 = time.perf_counter()
    return spark, {"setup_s": t4 - t0, "session.get_spark_s": t2 - t1,
                   "session.ensure_confs_s": t3 - t2}


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    spark, timings = ready_session(T0)
    shutdown(spark)
    sys.stdout.write(json.dumps(timings) + "\n")
