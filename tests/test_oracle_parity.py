"""Differential gate: every registry query vs its DuckDB oracle at
sf0.001 — the same comparison the driver runs at sf0.01."""

from __future__ import annotations

import pytest

from dtle_spark.queries import REGISTRY
from tests.conftest import SF_DIR, assert_matches_oracle

@pytest.mark.parametrize("name", list(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    """Every registry query returns rows, and they match its oracle."""
    pair = REGISTRY[name]
    sdf = pair.spark_fn(spark, SF_DIR)
    if pair.oracle is None:
        assert sdf.count() > 0, name
        return
    assert len(assert_matches_oracle(sdf, duck, pair.oracle)) > 0, name
