"""State data source reader (streaming/stateview.py): checkpointed
keyed state is queryable as a table — totals match the emitted stream,
restart continuation is visible in state, and custom
applyInPandasWithState tuples surface with their declared schema."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stream_processing_spark.streaming import StreamJob
from stream_processing_spark.streaming.stateview import (
    read_state,
    running_count_state,
    state_metadata,
)


def _write_input(d: str, name: str, lines: list[str]) -> None:
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(d, name))


def _split_kv(df):
    p = F.split(F.col("value"), ",")
    return df.select(p.getItem(0).alias("key"), p.getItem(1).alias("value"))


def _count_ops():
    from stream_processing_spark.operators import count_by

    return [_split_kv, lambda df: count_by(df, "key")]


def test_state_reader_matches_emitted_totals_and_continues(spark, tmp_path):
    ind, outd = str(tmp_path / "in"), str(tmp_path / "out")
    _write_input(ind, "b1.txt", ["a,1"] * 8 + ["b,1"] * 7)
    job = StreamJob(
        spark, ind, outd, ops=_count_ops(), stateful=True, value_col="cnt"
    )
    job.run_to_completion()

    # the checkpoint's state IS the aggregate: no replay needed
    got = {
        (r.key, r.cnt)
        for r in running_count_state(spark, job.checkpoint_dir).collect()
    }
    assert got == {("a", 8), ("b", 7)}

    meta = state_metadata(spark, job.checkpoint_dir).collect()
    assert len(meta) == 1
    assert meta[0].operatorId == 0 and meta[0].maxBatchId == 0

    # continuation: a second drain updates the STORED totals
    _write_input(ind, "b2.txt", ["a,2", "c,9"])
    StreamJob(
        spark, ind, outd, ops=_count_ops(), stateful=True, value_col="cnt"
    ).run_to_completion()
    got = {
        (r.key, r.cnt)
        for r in running_count_state(spark, job.checkpoint_dir).collect()
    }
    assert got == {("a", 9), ("b", 7), ("c", 1)}

    # time travel: batchId=0 still shows the pre-continuation state
    st0 = read_state(spark, job.checkpoint_dir, batch_id=0)
    got0 = {
        (r["key"]["key"], r["value"]["count"]) for r in st0.collect()
    }
    assert got0 == {("a", 8), ("b", 7)}


def test_state_reader_surfaces_custom_operator_state(spark, tmp_path):
    # the applyInPandasWithState harness declares its own state schema
    # (cnt bigint); the reader returns it as that struct — the
    # reference's operator dict, inspectable without touching the op
    from stream_processing_spark.streaming.stateful import (
        stateful_running_count,
    )

    ind, outd = str(tmp_path / "in"), str(tmp_path / "out")
    _write_input(ind, "b1.txt", ["x,1"] * 3 + ["y,1"] * 2)
    job = StreamJob(
        spark,
        ind,
        outd,
        ops=[_split_kv, lambda df: stateful_running_count(df)],
        stateful=True,
        value_col="cnt",
    )
    job.run_to_completion()
    st = read_state(spark, job.checkpoint_dir)
    # flatMapGroupsWithState stores wrap the user tuple in `groupState`
    gs = st.schema["value"].dataType["groupState"].dataType
    assert [f.name for f in gs.fields] == ["cnt"]
    got = {
        (r["key"]["key"], r["value"]["groupState"]["cnt"])
        for r in st.collect()
    }
    assert got == {("x", 3), ("y", 2)}
