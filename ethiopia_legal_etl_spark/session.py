"""SparkSession builder with scale-oriented defaults.

The reference executes one record at a time in a single Python thread
(``fetch_legal_docs.py:32``); this engine's unit of parallelism is the
DataFrame partition. Defaults here are chosen so the same logical plans
hold from local[32] test runs up to a 1000-executor cluster:

- AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
  broadcast selection) — the knob that makes one plan survive 100x
  data-volume changes.
- Arrow on for every pandas-UDF / mapInPandas boundary so Python
  stages are vectorized batch transfers, never row-at-a-time pickling.
- Session timezone pinned to UTC so timestamp semantics are
  deterministic and oracle-comparable.
- shuffle.partitions left modest locally; AQE coalesces down and a
  cluster deployment overrides via spark-defaults (documented, not
  hardcoded per-query).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "ethiopia-legal-etl-spark"

# Runtime-settable confs every query needs regardless of who built the
# SparkSession (the driver harness builds its own): deterministic UTC
# timestamp semantics, ns-parquet readability, AQE, Arrow UDF transfer.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


_SHIPPED_APP_IDS: set[str] = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``sc.addPyFile``.

    cloudpickle serializes module-level UDF callables (applyInPandas,
    cogroup, mapInPandas, pandas_udf) by reference, so every executor's
    Python worker must be able to ``import ethiopia_legal_etl_spark``.
    When the driver process happens to run from the repo root the cwd
    makes that work by accident; an externally built session running
    anywhere else — and every real multi-node cluster — needs the
    package shipped. One zip per SparkContext, cached on app id."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_APP_IDS:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(
        tempfile.gettempdir(), f"ethiopia_legal_etl_spark_pyfiles_{os.getpid()}"
    )
    if not os.path.exists(zip_base + ".zip"):
        shutil.make_archive(
            zip_base,
            "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
    try:
        sc.addPyFile(zip_base + ".zip")
    except Exception:
        pass  # e.g. Spark Connect sessions without an sc; cwd fallback applies
    _SHIPPED_APP_IDS.add(app_id)


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an externally built
    session. Called by every registered query builder so correctness
    does not depend on how the caller constructed the session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build: builder-set sessions already have it
    ensure_package_on_executors(spark)
    return spark


def get_spark(
    app_name: str = APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster the caller simply omits it and spark-submit supplies
    the master. Every config below is safe on both.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- UTC timestamps, ns-parquet as long (converted in
        # sources.tables), AQE, Arrow: the confs every query needs ---
        .config(map=RUNTIME_CONFS)
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # keep scan splits bounded so partitions fit executor memory
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # --- python boundary: Arrow batch size ---
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- broadcast threshold: small dims broadcast automatically ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
