"""Iceberg tier-store path: MERGE INTO maintenance (plans/iceberg_store.py).

The sandbox image carries no iceberg-spark runtime jar, so the end-to-end
test self-skips via ``iceberg_available``; on a cluster with the jar (e.g.
``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime``) it
runs the full MERGE path and asserts the tiers match the parquet backend
bit-for-bit. The MERGE statement generation is asserted everywhere.
"""

from __future__ import annotations

import pytest

from gensor_spark.plans import manifest
from gensor_spark.plans.iceberg_store import iceberg_conf, merge_sql
from gensor_spark.sources.tables import iceberg_available


def test_merge_sql_shape():
    sql = merge_sql("local.gensor.tier_1m", "src_view")
    # full-row idempotent upsert keyed on series identity + bin + batch
    assert sql.startswith("MERGE INTO local.gensor.tier_1m t USING src_view s ON ")
    for frag in (
        "t.doc_id = s.doc_id",
        "t.source = s.source",
        "t.bin_ts = s.bin_ts",
        "t.batch = s.batch",
        "WHEN MATCHED THEN UPDATE SET",
        "t.cnt = s.cnt",
        "t.last_ts = s.last_ts",
        "WHEN NOT MATCHED THEN INSERT *",
    ):
        assert frag in sql


def test_iceberg_conf_keys():
    conf = iceberg_conf("/tmp/wh", catalog="ice")
    assert conf["spark.sql.catalog.ice"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.ice.type"] == "hadoop"
    assert conf["spark.sql.catalog.ice.warehouse"] == "/tmp/wh"


class _FakeIcebergStore:
    """Records the call sequence; stands in for IcebergTierStore so the
    wiring (merge → metadata count, reset → drop) is asserted without the
    runtime jar."""

    def __init__(self):
        self.calls = []

    def merge_batch(self, tier, df, b):
        self.calls.append(("merge", tier, b))

    def count_batch(self, tier, b):
        self.calls.append(("count_batch", tier, b))
        return 42

    def drop(self, tier):
        self.calls.append(("drop", tier))


def test_store_tier_iceberg_uses_metadata_count(spark, tmp_path):
    """The iceberg path must take its lineage count from count_batch
    (manifest metadata), never from a standalone data-scan count() between
    merge_batch and the lineage row — the parquet path's _write_counted
    contract, mirrored."""
    from gensor_spark.plans.incremental import TierPipeline

    pipe = TierPipeline(spark, str(tmp_path / "t"), n_batches=2)
    pipe.backend = "iceberg"
    fake = _FakeIcebergStore()
    pipe.iceberg = fake

    class _ExplodingDF:  # any Spark action on the frame itself would raise
        def __getattr__(self, name):
            raise AssertionError(f"unexpected DataFrame access: {name}")

    n = pipe._store_tier(_ExplodingDF(), "1m", 1)
    assert n == 42
    assert fake.calls == [("merge", "1m", 1), ("count_batch", "1m", 1)]


def test_reset_iceberg_drops_tier_tables(spark, tmp_path):
    from gensor_spark.plans.incremental import TierPipeline

    pipe = TierPipeline(spark, str(tmp_path / "t"), n_batches=2)
    pipe.backend = "iceberg"
    fake = _FakeIcebergStore()
    pipe.iceberg = fake
    manifest.commit(pipe.store,
                    lambda m: m.update(processed=[0]) or True, {"batch": 0})
    pipe.reset()
    assert [c for c in fake.calls if c[0] == "drop"] == [
        ("drop", "1m"), ("drop", "1h"), ("drop", "1d")
    ]
    assert pipe.ledger() == {"processed": []}


def test_merge_into_tier_maintenance(spark, tmp_path):
    """Runs only where the Iceberg runtime jar is present (skips here)."""
    if not iceberg_available(spark):
        pytest.skip("iceberg-spark runtime jar not on the classpath")

    import numpy as np
    import pandas as pd

    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=20, seed=3, min_tok=100, max_tok=4320)

    pq = TierPipeline(spark, str(tmp_path / "pq"), n_batches=3)
    pq.run(docs)
    ice = TierPipeline(
        spark, str(tmp_path / "ice"), n_batches=3, backend="iceberg",
        iceberg_namespace="local.gensor_test",
    )
    # idempotency: run one batch twice (the MERGE rewrites its own rows);
    # a version that un-processes it forges the second run
    ice.run(docs, batches=[0])
    manifest.commit(ice.store,
                    lambda m: m.update(processed=[]) or True, {"forge": 0})
    ice.run(docs)

    key = ["doc_id", "source", "bin_ts"]
    for tier in ("1m", "1h", "1d"):
        a = pq.read_tier(tier).toPandas().sort_values(key).reset_index(drop=True)
        b = ice.read_tier(tier).toPandas().sort_values(key).reset_index(drop=True)
        assert len(a) == len(b)
        for col in ["doc_id", "source", "bin_ts", "count", "min", "max", "last"]:
            pd.testing.assert_series_equal(a[col], b[col], check_names=False)
        np.testing.assert_allclose(
            a["mean"].to_numpy(float), b["mean"].to_numpy(float), rtol=1e-12
        )
