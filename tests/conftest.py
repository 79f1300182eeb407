from __future__ import annotations

import os

import pytest

from feature_store_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fss-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def no_staging_rebalance(monkeypatch):
    """Stage writes with the frame's own partitioning: for fixtures that
    need several staged files, or rows in source order, where the
    commit kernel's AQE rebalance would coalesce a KB frame into one
    reordered file."""
    from feature_store_spark.sources import commit

    real_stage = commit.stage

    def stage(*args, **kwargs):
        kwargs["rebalance"] = False
        return real_stage(*args, **kwargs)

    monkeypatch.setattr(commit, "stage", stage)
