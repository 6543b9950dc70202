from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from volga_spark.session import get_spark

    s = get_spark("volga_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def local_checkpoints(monkeypatch):
    """The ``DataFrame.localCheckpoint`` calls made during the test: every
    pin (``caching.pin``) takes one, so an empty list means nothing was
    pinned."""
    from pyspark.sql import DataFrame

    calls = []
    real = DataFrame.localCheckpoint

    def spy(self, *a, **kw):
        calls.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return calls
