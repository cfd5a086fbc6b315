"""Validate every queries()/oracle_sql() pair exactly as the driver will."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

from tests.driver_compare import compare, run_oracle

SF = "/root/testdata/sf0.01"

_spec = importlib.util.spec_from_file_location(
    "__spark_entry__", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
)
_entry_mod = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("__spark_entry__", _entry_mod)
_spec.loader.exec_module(_entry_mod)


def _query_names():
    return sorted(_entry_mod.queries().keys())


def test_entry_smoke(spark):
    df = _entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.schema is not None


def test_every_query_has_callable_and_most_have_oracles(spark):
    qs, os_ = _entry_mod.queries(), _entry_mod.oracle_sql()
    assert qs
    missing = set(os_) - set(qs)
    assert not missing, f"oracle without query: {missing}"


def test_all_oracled_queries_inside_driver_window():
    """The driver's correctness gate checks the FIRST 50 registry entries
    only (VERDICT r2 #1: 7 queries silently fell outside it). Invariant:
    every oracle-backed query precedes every no-oracle one, and the
    oracle-backed prefix fits the 50-entry window."""
    qs, os_ = _entry_mod.queries(), _entry_mod.oracle_sql()
    names = list(qs)
    oracled = [n for n in names if n in os_]
    assert len(oracled) <= 50, f"{len(oracled)} oracled queries > 50-entry window"
    assert names[: len(oracled)] == oracled, (
        "no-oracle entries interleave the oracle-backed prefix: "
        f"{[n for n in names[:len(oracled)] if n not in os_]}"
    )


def test_registry_releases_predecessor_caches(spark, cached_entries):
    """External-harness cache hygiene: a registry callable drains the
    pooled caches its PREDECESSOR registered (the driver has no release
    hook of its own), so a sequential sweep never accumulates executor
    storage beyond one query's pools."""
    from gensor_spark.plans.caching import release_caches

    release_caches()
    before = cached_entries()
    qs = _entry_mod.queries()
    # series_corr pools the picked-series cache; run it as the driver
    # would (build + action), leaving its pool entries behind
    qs["series_corr"](spark, SF).write.format("noop").mode(
        "overwrite").save()
    assert cached_entries() > before
    # building ANY next registry query must drain the predecessor's pool
    qs["mask_where"](spark, SF)
    assert cached_entries() == before


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(spark, cached_entries, name):
    from gensor_spark.plans.caching import release_caches

    qs, oracles = _entry_mod.queries(), _entry_mod.oracle_sql()
    release_caches()
    before = cached_entries()
    df = qs[name](spark, SF)
    if name not in oracles:
        assert df.count() >= 0  # rows-only check, like the driver's weak mode
    else:
        compare(df, run_oracle(oracles[name], SF), name)
    # every cache the query made is pooled: none outlives the release
    release_caches()
    assert cached_entries() == before
