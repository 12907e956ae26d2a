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


def _package_files(pkg_dir: str) -> list[tuple[str, str]]:
    """(archive name, path) of every package file, sorted; bytecode
    caches are left out, since they change without the source."""
    root = os.path.dirname(pkg_dir)
    out = []
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for name in filenames:
            if not name.endswith(".pyc"):
                path = os.path.join(dirpath, name)
                out.append((os.path.relpath(path, root), path))
    return sorted(out)


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``sc.addPyFile``.

    cloudpickle serializes module-level UDF callables (applyInPandas,
    cogroup, mapInPandas, pandas_udf) by reference, so every executor's
    Python worker must be able to ``import ethiopia_legal_etl_spark``.
    When the driver process happens to run from the repo root the cwd
    makes that work by accident; an externally built session running
    anywhere else — and every real multi-node cluster — needs the
    package shipped. One zip per SparkContext, cached on app id.

    The zip is named by a digest of the package files' relative paths
    and bytes, so a zip left by an older package version is never
    shipped, and an unchanged package is zipped once per temp dir. It
    is built under a temporary name and moved into place, so
    concurrent processes never read a half-written zip."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_APP_IDS:
        return
    import hashlib
    import tempfile
    import zipfile

    files = _package_files(os.path.dirname(os.path.abspath(__file__)))
    digest = hashlib.sha256()
    for arcname, path in files:
        digest.update(arcname.encode() + b"\0")
        with open(path, "rb") as f:
            digest.update(f.read())
        digest.update(b"\0")
    tmp_dir = tempfile.gettempdir()
    zip_path = os.path.join(
        tmp_dir, f"ethiopia_legal_etl_spark_pyfiles_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        fd, part = tempfile.mkstemp(suffix=".zip.part", dir=tmp_dir)
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(
                f, "w", zipfile.ZIP_DEFLATED
            ) as zf:
                for arcname, path in files:
                    zf.write(path, arcname)
            os.chmod(part, 0o644)  # mkstemp's 0600 would hide it from other users
            os.replace(part, zip_path)
        except BaseException:
            os.unlink(part)
            raise
    try:
        sc.addPyFile(zip_path)
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
