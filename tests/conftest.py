from __future__ import annotations

import os

import pytest

# BEFORE any SparkSession exists: probe for a usable protobuf runtime
# (native or vendored) so transformWithState execution tests can run —
# the env vars must be set before the JVM launches for python workers
# to inherit them. Returns None harmlessly when the container can't.
from stream_processing_spark.compat import ensure_protobuf_runtime

TWS_RUNTIME = ensure_protobuf_runtime()

from stream_processing_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from stream_processing_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def streaming_run(spark):
    """One drained run per ``streaming_*`` query at SF_ORACLE, shared by
    the oracle test and the micro-batch plan lint: ``run(name)`` returns
    the query's frame and the micro-batch plans its drains captured.
    A drain costs seconds to tens of seconds, and both tests need the
    same run."""
    from stream_processing_spark.queries import REGISTRY
    from stream_processing_spark.queries import streaming_queries as sq

    runs: dict = {}

    def run(name):
        if name not in runs:
            sq.CAPTURED_PLANS.clear()
            df = REGISTRY[name].spark(spark, SF_ORACLE)
            runs[name] = (df, list(sq.CAPTURED_PLANS))
        return runs[name]

    return run


# ---------------------------------------------------------------------------
# Driver-window fast gate (VERDICT r13 item 6; see pytest.ini). Every
# test in these modules gets the `gate` marker; a bare `pytest tests/`
# selects only them (addopts = -m gate), which fits the round driver's
# verify window. The set = the driver-shaped oracle comparison for the
# whole registry + the plan lint + the closure invariant + the modules
# covering operators touched in the current round. The FULL suite is
# the freeze bar: `pytest tests/ -m "gate or not gate" -q`.
GATE_MODULES = {
    "test_oracle_queries",
    "test_plan_lint",
    "test_certification_window",
    "test_dedup_pairs",
    "test_mlfeat",
    "test_advice_fixes",
    "test_r14_s2_ops",
    "test_rainstorm_plans",
    "test_streaming",
    "test_grep",
    "test_grep_differential",
    "test_timing",
    "test_catalog",
    "test_store",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = os.path.splitext(os.path.basename(str(item.fspath)))[0]
        if mod in GATE_MODULES:
            item.add_marker(pytest.mark.gate)
