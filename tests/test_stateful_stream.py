"""The shared stateful-stream driver (streaming/stateful.py): event-time
TTL and timeout flushes, and its place as the only stateful call site.

Each micro-batch is one parquet file (maxFilesPerTrigger=1, files ordered by
modification time). A second key moves the watermark past the first key's
timeout while the first key is idle; the timeout fires in the next batch.
"""

from __future__ import annotations

import os
import pathlib

import numpy as np
import pandas as pd
import pytest

from gensor_spark.streaming.rate_stream import streaming_counter_rate
from gensor_spark.streaming.sessions_stream import streaming_gap_sessions

T0 = pd.Timestamp("2024-01-01", tz="UTC")


def _run(spark, tmp_path, qname, batches, make_stream):
    """Write one file per batch of (doc_id, seconds after T0, value) rows,
    stream them one per micro-batch, return the sink's rows."""
    in_dir = tmp_path / f"in_{qname}"
    in_dir.mkdir()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["doc_id", "sec", "value"])
        pdf.insert(1, "source", "s")
        pdf.insert(2, "ts", T0 + pd.to_timedelta(pdf.pop("sec"), unit="s"))
        path = in_dir / f"{i}.parquet"
        pdf.to_parquet(path, index=False, coerce_timestamps="us")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    schema = spark.read.parquet(str(in_dir)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(in_dir)))
    q = (make_stream(stream).writeStream.outputMode("append")
         .format("memory").queryName(qname)
         .option("checkpointLocation", str(tmp_path / f"ckpt_{qname}"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return spark.sql(f"select * from {qname}").toPandas()


@pytest.mark.parametrize("ttl", [600, None])
def test_rate_state_ttl_drops_idle_key(spark, tmp_path, ttl):
    """Key "a" is idle for two hours while "b" moves the watermark: past a
    10-minute TTL its state is gone and its next point is a first point
    (NULL increase); without a TTL the carried sample gives the delta."""
    hour = 3600
    batches = [
        [("a", 0, 1.0), ("b", 0, 1.0)],
        [("b", 2 * hour, 2.0)],        # watermark passes a's timeout
        [("b", 2 * hour + 1, 3.0)],    # a times out in this batch
        [("a", 2 * hour + 2, 5.0)],
    ]
    got = _run(spark, tmp_path, f"rate_ttl_{ttl}", batches,
               lambda s: streaming_counter_rate(s, state_ttl_seconds=ttl))
    a = got[got.doc_id == "a"].sort_values("ts")
    assert len(a) == 2 and np.isnan(a["increase"].iloc[0])
    if ttl is None:
        assert a["increase"].iloc[1] == pytest.approx(4.0)
    else:
        assert np.isnan(a["increase"].iloc[1])
    b = got[got.doc_id == "b"].sort_values("ts")
    assert b["increase"].tolist()[1:] == [1.0, 1.0]


def test_sessions_timeout_flushes_open_session(spark, tmp_path):
    """Key "a"'s open session is emitted with closed_by='timeout' once the
    watermark, moved by "b", passes its last point plus the gap."""
    hour = 3600
    batches = [
        [("a", 0, 1.0), ("a", 10, 1.0), ("b", 0, 1.0)],
        [("b", 3 * hour, 1.0)],        # closes b's first session by gap
        [("b", 3 * hour + 1, 1.0)],    # a times out in this batch
    ]
    got = _run(spark, tmp_path, "sess_timeout", batches,
               lambda s: streaming_gap_sessions(s, gap_seconds=hour))
    rows = {(r.doc_id, r.closed_by): r for r in got.itertuples()}
    assert set(rows) == {("a", "timeout"), ("b", "gap")}
    a = rows["a", "timeout"]
    assert a.n_points == 2
    assert (a.session_end - a.session_start) == pd.Timedelta(seconds=10)
    assert rows["b", "gap"].n_points == 1


def test_only_the_driver_calls_apply_in_pandas_with_state():
    """Every stateful stream runs on streaming/stateful.py; a second call
    site would grow its own timeout/sort/TTL skeleton again."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "gensor_spark"
    callers = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
        if "applyInPandasWithState(" in p.read_text())
    assert callers == ["streaming/stateful.py"]
