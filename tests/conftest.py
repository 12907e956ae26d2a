from __future__ import annotations

import importlib.util
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
# Executor python workers must resolve the package AND test modules
# (cloudpickle serializes test-defined fakes by reference)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(REPO), str(REPO / "tests"), os.environ.get("PYTHONPATH", "")]
)

from ethiopia_legal_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    spark = get_spark(
        app_name="ethiopia-legal-etl-spark-tests",
        shuffle_partitions=8,
        extra_conf={
            # static conf: must be set at session creation (bucketed tables)
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(name, REPO / "tools" / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture(scope="session")
def check_oracle():
    """tools/check_oracle.py, the local replica of the driver's gate."""
    return _load_tool("check_oracle")


@pytest.fixture(scope="session")
def oracle_gate(spark, sf_dir, check_oracle, tmp_path_factory):
    """``oracle_gate(axis=None)`` runs ``check_oracle.run`` over every
    registry entry at sf_dir, or at the ``tools/mirrors.py`` mirror
    ``axis`` of it built into a temp dir; returns (failures, warns)."""
    mirrors = _load_tool("mirrors")

    def gate(axis: str | None = None):
        src = sf_dir
        if axis is not None:
            src = str(tmp_path_factory.mktemp(f"mirror_{axis}"))
            mirrors.build(src, sf_dir, axis)
        return check_oracle.run(src, [], spark=spark)

    return gate
