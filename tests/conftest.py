from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from platform_etl_drug_disease_spark.session import get_spark

    spark = get_spark(app_name="pytest", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture
def checkpointed(monkeypatch):
    """Every frame a ``localCheckpoint()`` ran while the test runs, in call
    order. An eager checkpoint runs its frame's plan in a job of its own and
    hands the rows on as a bare ``LogicalRDD``, so a plan check that reads
    only a query's returned frame misses that work; the plan checks read
    these frames too."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames = []
    local_checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        frames.append(self)
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    return frames
