"""The one query timer (metrics.noop_walls) and the A/B harness built
on it (tools/ab.py)."""

from __future__ import annotations

import ast
import sys

import pytest

from stream_processing_spark import metrics, session
from tests.conftest import SF_SMOKE


def test_noop_walls_builds_once_per_run(spark):
    builds = []

    def build():
        builds.append(1)
        return spark.range(1000).selectExpr("sum(id) AS s")

    walls = metrics.noop_walls(build, 3)
    assert len(walls) == 3 and all(w > 0 for w in walls)
    assert len(builds) == 3
    with pytest.raises(ValueError):
        metrics.noop_walls(build, 0)


def test_ab_interleaves_a_registry_name_and_a_file_variant(
    spark, tmp_path, monkeypatch, capsys
):
    from tools import ab

    calls = tmp_path / "calls"
    calls.write_text("")
    (tmp_path / "variant.py").write_text(
        "def run(spark, sf_dir):\n"
        f"    with open({str(calls)!r}, 'a') as f:\n"
        "        f.write('x')\n"
        "    return spark.read.parquet(sf_dir + '/region.parquet')\n"
    )
    ref = f"{tmp_path}/variant.py:run"

    # which variant each timed run built, in order: the file variant
    # appends to `calls`, the registry query does not
    order = []
    real = metrics.noop_walls

    def spy(build, runs):
        before = calls.read_text()
        walls = real(build, runs)
        order.append("registry" if calls.read_text() == before else "file")
        return walls

    monkeypatch.setattr(metrics, "noop_walls", spy)
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    monkeypatch.setattr(sys, "argv", ["ab.py", "2", "q6_forecast_revenue", ref])
    assert ab.main() == 0

    assert order == ["registry", "file", "file", "registry"]
    out = capsys.readouterr().out.splitlines()
    assert [line.split(": ")[0] for line in out] == ["q6_forecast_revenue", ref]
    for line in out:
        walls = ast.literal_eval(line.split(": ", 1)[1].split(" min=")[0])
        assert len(walls) == 2 and all(w > 0 for w in walls)
        assert " median=" in line
