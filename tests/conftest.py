"""Shared fixtures: one SparkSession per test run, deterministic inputs."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from gensor_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def _half_of_ram() -> str | None:
    """Half the machine's RAM as a JVM size string (Linux), else None."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"  # kB → MB, /2
    except OSError:
        pass
    return None


# The library's driver heap default (24g, what the benchmark measures) is
# larger than many machines' RAM; a test JVM the OOM killer takes down fails
# every later test with it. Size the test heap to the machine unless
# SPARK_GRAFT_DRIVER_MEM is set explicitly.
if (_heap := _half_of_ram()) is not None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _heap)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gensor_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs_small(spark):
    from gensor_spark.sources.synth import synth_docs

    df = synth_docs(spark, n_docs=40, seed=7, min_tok=8, max_tok=200).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="session")
def points_pdf() -> pd.DataFrame:
    """Deterministic multi-series point set with gaps + nulls, as pandas.

    Mirrors the reference conftest style (synthetic series with known shape,
    /root/reference/tests/conftest.py) but multi-series and with in-band NaN
    gaps, which gensor treats as legal (compensation.py:117-124).
    """
    rng = np.random.default_rng(42)
    frames = []
    for d in range(4):
        n = 500 + d * 37
        # irregular timestamps: minute grid with dropped stretches
        base = pd.date_range("2024-01-01", periods=n * 2, freq="min", tz="UTC")
        keep = rng.random(n * 2) < 0.55
        ts = base[keep][:n]
        vals = rng.normal(100, 5, size=len(ts))
        vals[rng.random(len(ts)) < 0.05] = np.nan
        frames.append(
            pd.DataFrame(
                {
                    "doc_id": f"doc_{d}",
                    "source": f"src_{d % 2}",
                    "seq": np.arange(len(ts)),
                    "ts": ts,
                    "value": vals,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


@pytest.fixture(scope="session")
def points_sdf(spark, points_pdf):
    sdf = spark.createDataFrame(points_pdf).cache()
    yield sdf
    sdf.unpersist()


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """``count(build)``: how many Py4J round trips ``build()`` makes, each
    ``ClientServerConnection.send_command`` one driver→JVM call. Plan-build
    budgets assert on it: a call costs far more than the Python around it."""
    from py4j.clientserver import ClientServerConnection

    sent = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    def count(build) -> int:
        before = sent[0]
        build()
        return sent[0] - before

    return count


@pytest.fixture
def cached_entries(spark):
    """``cached_entries()``: how many plans the session's CacheManager holds.
    Lifecycle tests compare it before and after, because session fixtures
    keep their own caches for the whole run."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return lambda: int(cm.numCachedEntries())
