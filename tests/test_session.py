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
