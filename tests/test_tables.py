"""Source-table reads: ``load_table`` infers a file's schema once."""

from __future__ import annotations

import os

import pandas as pd

from gensor_spark.sources.tables import load_table
from tests.test_tier_reads import _jobs_submitted


def _write(path, pdf: pd.DataFrame, mtime_ns: int) -> None:
    pdf.to_parquet(path, index=False)
    os.utime(path, ns=(mtime_ns, mtime_ns))


def test_second_load_of_a_file_runs_no_job(spark, tmp_path):
    _write(tmp_path / "events.parquet",
           pd.DataFrame({"user_id": [1, 2], "value": [0.5, 1.5]}), 10**18)
    first = load_table(spark, str(tmp_path), "events")
    assert _jobs_submitted(
        spark, lambda: load_table(spark, str(tmp_path), "events")) == 0
    again = load_table(spark, str(tmp_path), "events")
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "events.parquet"
    _write(path, pd.DataFrame({"user_id": [1, 2], "value": [0.5, 1.5]}), 10**18)
    assert load_table(spark, str(tmp_path), "events").columns == [
        "user_id", "value"]
    # same mtime, so only the size tells the files apart
    _write(path, pd.DataFrame({"user_id": [1, 2], "value": [0.5, 1.5],
                               "kind": ["a", "b"]}), 10**18)
    df = load_table(spark, str(tmp_path), "events")
    assert df.columns == ["user_id", "value", "kind"]
    assert sorted(df.collect()) == [(1, 0.5, "a"), (2, 1.5, "b")]


def test_directory_is_keyed_by_its_part_listing(spark, tmp_path):
    table = tmp_path / "events.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", pd.DataFrame({"user_id": [1]}), 10**18)
    assert load_table(spark, str(tmp_path), "events").columns == ["user_id"]
    _write(table / "part-1.parquet", pd.DataFrame({"user_id": [2]}), 10**18)
    assert _jobs_submitted(
        spark, lambda: load_table(spark, str(tmp_path), "events")) > 0
    assert sorted(load_table(spark, str(tmp_path), "events").collect()) == [
        (1,), (2,)]
