"""Every registry query with an oracle must hash-match DuckDB at sf0.01 —
the same gate the driver applies (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import pytest

from stream_processing_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE
from tests.oracle_util import compare

WITH_ORACLE = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, streaming_run, name):
    spec = REGISTRY[name]
    if name.startswith("streaming_"):
        sdf, _ = streaming_run(name)
    else:
        sdf = spec.spark(spark, SF_ORACLE)
    rel = duck.sql(spec.oracle)
    compare(sdf, rel, name=name)


def test_all_queries_return_rows(spark):
    # queries without oracles still must run and return a stable schema;
    # the oracle'd ones are run, and their columns compared, above
    for name in sorted(set(REGISTRY) - set(WITH_ORACLE)):
        df = REGISTRY[name].spark(spark, SF_ORACLE)
        assert df.columns, name
