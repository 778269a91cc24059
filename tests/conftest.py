from __future__ import annotations

import os

import pytest

# Root of the driver-generated parquet corpora; override with
# SPARK_GRAFT_TESTDATA on machines that stage it elsewhere.
TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_DIR = os.path.join(TESTDATA_ROOT, "sf0.001")
SF01_DIR = os.path.join(TESTDATA_ROOT, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from sandbox_data_pipeline_spark.session import get_spark

    spark = get_spark("pytest", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    return SF01_DIR


@pytest.fixture
def local_caps(monkeypatch):
    """Set local-solve caps for one test: ``local_caps(kind=cap, ...)``
    updates operators/local_solve.LOCAL_CAPS (0 forces the distributed
    path); ``monkeypatch.undo()`` or teardown restores the table."""
    from sandbox_data_pipeline_spark.operators import local_solve

    def set_caps(**caps: int) -> None:
        for kind, cap in caps.items():
            monkeypatch.setitem(local_solve.LOCAL_CAPS, kind, cap)

    return set_caps
