"""End-to-end RainStorm-contract jobs — the reference's demo pipelines
(tests/mp4_demo1.py, tests/sample2_op*.py) through the op-spec API."""

from __future__ import annotations

import os

from stream_processing_spark.plans import parse_op, rainstorm


def _write(d: str, name: str, lines: list[str]) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write("\n".join(lines) + "\n")


TRAFFIC = [
    # X,Y,OBJECTID,Sign_Type,Size_,Supplement,Sign_Post,Year,Category
    "-98.1,30.2,101,Stop,16x16,,Punched Telespar,2001,Regulatory",
    "-98.2,30.3,102,Yield,16x16,,Round Wood,2002,Warning",
    "-98.3,30.4,103,Stop,24x24,,Punched Telespar,2003,Regulatory",
    "-98.4,30.5,104,Streetname,12x36,,Round Wood,2004,Guide",
]


def test_demo1_filter_then_project(spark, tmp_path):
    # mp4_demo1: regex filter + project (OBJECTID, Sign_Type)
    ind, outd = str(tmp_path / "in"), str(tmp_path / "out")
    _write(ind, "signs.csv", TRAFFIC)
    job = rainstorm(
        spark, "filter_pattern Stop", "select_columns 2 3", ind, outd, num_tasks=4
    )
    job.run_to_completion()
    got = sorted(r.value for r in job.read_output().collect())
    assert got == ["101:Stop", "103:Stop"]


def test_demo2_filter_eq_then_count(spark, tmp_path):
    # sample2: equality filter on col 6 + stateful count by col 8
    ind, outd = str(tmp_path / "in"), str(tmp_path / "out")
    _write(ind, "signs.csv", TRAFFIC)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    num_tasks = int(before) + 1  # differs from the session's by construction
    job = rainstorm(
        spark,
        'filter_eq 6 "Punched Telespar"',
        "count_by_column 8",
        ind,
        outd,
        num_tasks=num_tasks,
    )
    assert job.stateful
    job.run_to_completion()
    got = sorted(r.value for r in job.read_output().collect())
    assert got == ["Regulatory:2"]
    # num_tasks is pinned for the query start only: the session keeps
    # its own shuffle width, and the state store got num_tasks partitions
    assert spark.conf.get(key) == before
    state = os.path.join(job.checkpoint_dir, "state", "0")
    assert len([p for p in os.listdir(state) if p.isdigit()]) == num_tasks


def test_parse_op_rejects_unknown():
    import pytest

    with pytest.raises(KeyError):
        parse_op("no_such_op 1")
