"""The engine session carries every RUNTIME_CONFS pair from creation.

get_spark applies RUNTIME_CONFS in its builder instead of re-listing
the confs by hand; ensure_session_confs applies the same dict to
sessions built elsewhere. Both must agree on every pair.
"""

from __future__ import annotations

from ethiopia_legal_etl_spark.session import RUNTIME_CONFS


def test_runtime_confs_read_back_from_get_spark_session(spark):
    assert RUNTIME_CONFS
    # SparkConf holds what the builder set at creation, so this cannot
    # pass on confs that only ensure_session_confs applied later
    creation = dict(spark.sparkContext.getConf().getAll())
    for key, value in RUNTIME_CONFS.items():
        assert spark.conf.get(key) == value, key
        assert creation.get(key) == value, key


def test_shipped_package_zip_holds_the_current_sources(
    spark, tmp_path, monkeypatch
):
    """A zip left in the temp dir by another process (here: planted at
    the path an older build keyed by pid) must never be shipped in
    place of the current package."""
    import os
    import tempfile
    import zipfile

    from ethiopia_legal_etl_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_SHIPPED_APP_IDS", set())
    shipped: list[str] = []
    monkeypatch.setattr(spark.sparkContext, "addPyFile", shipped.append)
    stale = tmp_path / f"ethiopia_legal_etl_spark_pyfiles_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("ethiopia_legal_etl_spark/session.py", "stale = True\n")

    session.ensure_package_on_executors(spark)

    assert len(shipped) == 1
    with open(session.__file__, "rb") as f:
        current = f.read()
    with zipfile.ZipFile(shipped[0]) as zf:
        assert zf.read("ethiopia_legal_etl_spark/session.py") == current
        assert not any("__pycache__" in n for n in zf.namelist())
    # unchanged sources map to the same zip, and no partial file remains
    session._SHIPPED_APP_IDS.clear()
    session.ensure_package_on_executors(spark)
    assert shipped[1] == shipped[0]
    assert not list(tmp_path.glob("*.part"))
