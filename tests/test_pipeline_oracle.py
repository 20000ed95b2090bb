"""Driver-gate simulation: every queries() entry vs its oracle_sql() twin
at sf0.01 — the same check CORRECTNESS_r{N}.json records."""

from __future__ import annotations

import hashlib
import json

import pytest

import __spark_entry__ as entry_mod
from tests.compare import assert_same
from tests.conftest import SF_CORRECT

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def _sha256(value) -> str:
    return hashlib.sha256(json.dumps(value).encode()).hexdigest()


def test_registry_contract_pinned():
    """The driver contract, pinned without Spark: the query names in
    driver order, the oracle SQL text, and which function each name runs.
    The wiring hash also covers the rows-only queries, which the oracle
    sweep below cannot check."""
    assert len(QUERIES) == 117
    # a duplicate REGISTRY row would collapse silently into the dict
    assert len(entry_mod.REGISTRY) == len(QUERIES)
    assert len(ORACLES) == 114
    assert set(ORACLES) < set(QUERIES)
    assert set(QUERIES) - set(ORACLES) == {
        "ann_cosine_ivf",
        "multimodal_features",
        "frame_sample_plan",
    }
    assert _sha256(list(QUERIES)) == (
        "72236c8c3689fb43c04d665f11deebb9bb44c49cfc6e7ff4a69eb0dbe38cc170"
    )
    assert _sha256(sorted(ORACLES.items())) == (
        "606ed912eaa58f1dfbecbea289bfaaadaa2cbd9d4823cb472ae8b547fb507c5f"
    )
    wiring = [(k, f"{f.__module__}.{f.__qualname__}") for k, f in QUERIES.items()]
    assert _sha256(wiring) == (
        "e91c26b25d26fbd7ad33cf5b8e9d8cdbb208508f1b17eb32b1fb1f8d98d283c3"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    spark.catalog.clearCache()
    sdf = QUERIES[name](spark, SF_CORRECT)
    if name not in ORACLES:
        assert sdf.count() >= 0  # rows-only: no oracle to compare with
    else:
        assert_same(sdf, duck.sql(ORACLES[name]), context=name)
    # a query shares subtrees through tables.materialize, never a
    # session-wide cache that a later run of the same query would read
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"window_id", "route", "conv_id", "role", "tool", "n"}
