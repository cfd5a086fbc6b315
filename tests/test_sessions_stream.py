"""Stateful streaming sessionization vs the batch gap segmentation.

Two time-split files, one micro-batch each (maxFilesPerTrigger=1): sessions
spanning the batch boundary must be carried in GroupState and only emitted
when a later gap closes them — the cross-batch-state property a stateless
window can't express.
"""

from __future__ import annotations

import shutil
import time

import numpy as np
import pandas as pd
import pytest

from gensor_spark.streaming.sessions_stream import streaming_gap_sessions

SF = "/root/testdata/sf0.001"
GAP_S = 3600


def _expected_sessions(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-key gap segmentation in pandas (the batch/gensor semantics)."""
    rows = []
    for (d, s), g in pdf.groupby(["doc_id", "source"]):
        ts = g["ts"].sort_values().reset_index(drop=True)
        start = prev = ts[0]
        n = 1
        for t in ts[1:]:
            if (t - prev).total_seconds() > GAP_S:
                rows.append((d, s, start, prev, n))
                start, n = t, 0
            prev = t
            n += 1
        rows.append((d, s, start, prev, n))  # trailing open session
    return pd.DataFrame(
        rows, columns=["doc_id", "source", "session_start", "session_end",
                       "n_points"])


@pytest.fixture(scope="module")
def split_input(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sess_in")
    ev = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "user_id", "event_type", "cast(ts as timestamp) ts", "value")
    mid = ev.selectExpr("percentile(unix_micros(ts), 0.5) p").collect()[0].p
    early = ev.filter(f"unix_micros(ts) <= {mid}")
    late = ev.filter(f"unix_micros(ts) > {mid}")
    early.coalesce(1).write.mode("overwrite").parquet(str(d / "a"))
    time.sleep(1.1)  # file-source orders by modification time
    late.coalesce(1).write.mode("overwrite").parquet(str(d / "b"))
    # flatten into one dir with ordered names + mtimes
    out = tmp_path_factory.mktemp("sess_flat")
    for i, sub in enumerate(("a", "b")):
        src = next((d / sub).glob("*.parquet"))
        dst = out / f"{i}_{src.name}"
        shutil.copy(src, dst)
        time.sleep(1.1)
    return str(out), ev.toPandas()


def test_stateful_sessions_match_batch(spark, split_input, tmp_path):
    in_dir, ev_pdf = split_input
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    pts = stream.selectExpr(
        "cast(user_id as string) doc_id", "event_type source",
        "cast(ts as timestamp) ts", "value")
    sessions = streaming_gap_sessions(pts, gap_seconds=GAP_S,
                                      watermark="1 minute")
    q = (
        sessions.writeStream.outputMode("append").format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    progress = [p for p in (q.recentProgress or []) if p]
    got = spark.sql("select * from sess_out").toPandas()

    pdf = ev_pdf.rename(columns={"user_id": "doc_id", "event_type": "source"})
    pdf["doc_id"] = pdf["doc_id"].astype(str)
    want_all = _expected_sessions(pdf)
    # the trailing open session per key stays in state (watermark never
    # passes it on a bounded input); everything gap-closed must match
    want_closed = (
        want_all.groupby(["doc_id", "source"], group_keys=False)
        .apply(lambda g: g.iloc[:-1])
        .reset_index(drop=True)
    )
    key = ["doc_id", "source", "session_start"]
    got_gap = (got[got["closed_by"] == "gap"]
               .sort_values(key).reset_index(drop=True))
    want_closed = want_closed.sort_values(key).reset_index(drop=True)
    assert len(got_gap) == len(want_closed) and len(got_gap) > 0
    for col in ("doc_id", "source", "session_start", "session_end", "n_points"):
        pd.testing.assert_series_equal(
            got_gap[col], want_closed[col], check_names=False, check_dtype=False)
    # state genuinely crossed the micro-batch boundary: the query ran ≥ 2
    # micro-batches with input, and the state store carried rows in each
    # (sessions open at the end of batch 1 were updated/closed in batch 2)
    fed = [p for p in progress if p["numInputRows"] > 0]
    assert len(fed) >= 2, [p["numInputRows"] for p in progress]
    updated = [p["stateOperators"][0]["numRowsUpdated"] for p in fed]
    assert all(u > 0 for u in updated), updated


def test_session_spanning_arrow_chunks(spark, tmp_path):
    """One series whose single micro-batch spans three Arrow chunks
    (~10k rows each), written in SHUFFLED row order so later chunks carry
    earlier timestamps: the operator must sort the WHOLE group once, or a
    chunk-local order invents gaps at every chunk seam."""
    n = 25_000
    us = np.arange(n, dtype=np.int64) * 1_000_000
    hole = 3 * 3600 * 1_000_000
    us[8_000:] += hole   # two 3-hour holes: after points 8 000 and 17 000
    us[17_000:] += hole
    pdf = pd.DataFrame({
        "doc_id": "big", "source": "s",
        "ts": pd.Timestamp("2024-01-01", tz="UTC")
        + pd.to_timedelta(us, unit="us"),
        "value": 1.0,
    })
    rng = np.random.RandomState(7)
    shuffled = pdf.iloc[rng.permutation(n)].reset_index(drop=True)
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(shuffled).coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema).parquet(in_dir)
    q = (
        streaming_gap_sessions(stream, gap_seconds=GAP_S)
        .writeStream.outputMode("append").format("memory")
        .queryName("sess_chunks")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (spark.sql("select * from sess_chunks").toPandas()
           .sort_values("session_start").reset_index(drop=True))
    assert got["closed_by"].tolist() == ["gap", "gap"]
    assert got["n_points"].tolist() == [8_000, 9_000]
    span = (got["session_end"] - got["session_start"]).dt.total_seconds()
    assert span.tolist() == [7_999.0, 8_999.0]
    between = got["session_start"].iloc[1] - got["session_end"].iloc[0]
    assert between == pd.Timedelta(hours=3, seconds=1)
