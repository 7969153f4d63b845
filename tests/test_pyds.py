"""Python Data Source connector (sources/pyds.py): single-file and
fleet tail streaming with checkpointed byte offsets and byte-range
catch-up splits — the reference's tail-read source (ST7) as a
first-class Spark 4 connector, drained through StreamJob's exactly-once
key:value sink."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_processing_spark.sources.pyds import (
    _iter_lines,
    _snap_to_line_end,
    _split_ranges,
)
from stream_processing_spark.streaming import StreamJob


@pytest.fixture(scope="module")
def registered(spark):
    from stream_processing_spark.sources.pyds import register

    register(spark)
    return spark


def _manual_parse(path: str) -> list[tuple[int, str]]:
    """Ground truth: (byte offset, line) pairs of a whole file."""
    out, pos = [], 0
    with open(path, "rb") as f:
        data = f.read()
    for raw in data.split(b"\n"):
        if pos < len(data):  # drop the phantom element after a final \n
            out.append((pos, raw.decode()))
        pos += len(raw) + 1
    # a file NOT ending in \n keeps its final partial line in batch mode
    if data.endswith(b"\n") and out and out[-1][0] >= len(data):
        out.pop()
    return out


def test_split_helpers_cover_and_partition_exactly():
    assert _split_ranges(0, 10) == []
    assert _split_ranges(10, 4) == [(0, 4), (4, 8), (8, 10)]
    # first-byte ownership: every line lands in exactly one split
    import itertools

    body = b"aa\nbbbb\n\nc\nfinal"
    import tempfile

    with tempfile.NamedTemporaryFile(delete=False) as f:
        f.write(body)
        path = f.name
    truth = _manual_parse(path)
    for split in range(1, len(body) + 2):
        got = sorted(
            itertools.chain.from_iterable(
                _iter_lines(path, s, e)
                for s, e in _split_ranges(len(body), split)
            )
        )
        assert got == truth, split
    os.unlink(path)


def test_snap_to_line_end(tmp_path):
    p = str(tmp_path / "s.txt")
    with open(p, "w") as f:
        f.write("ab\ncd\npartial")
    size = os.path.getsize(p)
    assert _snap_to_line_end(p, size) == 6
    with open(p, "a") as f:
        f.write("\n")
    assert _snap_to_line_end(p, size + 1) == size + 1
    with open(p, "w") as f:
        f.write("nonewline")
    assert _snap_to_line_end(p, 9) == 0


def _drain(spark, src_path, outd, ck):
    """Drain the tail source through StreamJob's key:value sink and
    return the CUMULATIVE (offset, value) pairs across all committed
    batches."""
    job = StreamJob(spark, src_path, outd, ops=[], source="tail", checkpoint_dir=ck)
    job.run_to_completion(timeout_sec=120)
    out = []
    for r in job.read_output().collect():
        _, off, v = r.value.split(":", 2)
        out.append((int(off), v))
    return sorted(out)


def test_stream_tail_append_partial_holdback_exactly_once(
    registered, tmp_path
):
    spark = registered
    src = str(tmp_path / "live.log")
    outd = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    with open(src, "w") as f:
        f.write("l1\nl2\npart")  # 'part' has no newline yet: held back

    got = _drain(spark, src, outd, ck)
    assert got == [(0, "l1"), (3, "l2")]

    with open(src, "a") as f:
        f.write("ial\nl4\n")  # completes 'partial', adds l4
    got = _drain(spark, src, outd, ck)  # same checkpoint: delta only
    assert got == [(0, "l1"), (3, "l2"), (6, "partial"), (14, "l4")]

    # nothing new: a further drain adds nothing (exactly-once)
    got = _drain(spark, src, outd, ck)
    assert got == [(0, "l1"), (3, "l2"), (6, "partial"), (14, "l4")]


def test_stream_backlog_fans_out_to_parallel_splits(registered, tmp_path):
    spark = registered
    src = str(tmp_path / "bulk.log")
    ck = str(tmp_path / "ck")
    lines = [f"row-{i:04d}" for i in range(200)]
    with open(src, "w") as f:
        f.write("\n".join(lines) + "\n")
    q = (
        spark.readStream.format("linetail")
        .option("path", src)
        .option("split_bytes", 256)  # force many catch-up partitions
        .load()
        .writeStream.format("memory")
        .queryName("bulk")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [r.value for r in spark.table("bulk").orderBy("offset").collect()]
    assert got == lines


def test_stream_shrunken_file_raises_clear_error(registered, tmp_path):
    spark = registered
    src = str(tmp_path / "shrink.log")
    ck = str(tmp_path / "ck")
    outd = str(tmp_path / "out")
    with open(src, "w") as f:
        f.write("a1\na2\n")
    _drain(spark, src, outd, ck)
    with open(src, "w") as f:
        f.write("z\n")  # truncation: violates the append-only contract
    with pytest.raises(Exception, match="append-only|shrank"):
        _drain(spark, src, outd, ck)


def test_split_property_random_bodies():
    """Property: for ANY byte content and ANY split size, the union of
    per-split reads equals the whole-file parse — lines are neither
    lost nor duplicated at split boundaries (first-byte ownership)."""
    import tempfile

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=120, deadline=None)
    @given(
        body=st.binary(max_size=200).map(
            # keep it text-ish but adversarial: newlines common, plus
            # \r, NUL, UTF-8 fragments surviving errors='replace'
            lambda b: b.replace(b"\x0b", b"\n")
        ),
        split=st.integers(min_value=1, max_value=64),
    )
    def check(body: bytes, split: int):
        with tempfile.NamedTemporaryFile(delete=False) as f:
            f.write(body)
            path = f.name
        try:
            import itertools

            got = sorted(
                itertools.chain.from_iterable(
                    _iter_lines(path, s, e)
                    for s, e in _split_ranges(len(body), split)
                )
            )
            want = sorted(
                (pos, raw)
                for pos, raw in _manual_parse_bytes(body)
            )
            assert got == want, (body, split)
        finally:
            os.unlink(path)

    check()


def _manual_parse_bytes(data: bytes) -> list[tuple[int, str]]:
    out, pos = [], 0
    for raw in data.split(b"\n"):
        if pos < len(data):
            out.append((pos, raw.decode("utf-8", errors="replace")))
        pos += len(raw) + 1
    return out


def test_streamjob_on_linetail_source(registered, tmp_path):
    """The RainStorm pipeline contract (ops over the {key,value}
    envelope, exactly-once key:value output) runs directly on the
    linetail connector: one growing file in, byte-offset record ids,
    restart picks up only the appended delta."""
    spark = registered
    src = str(tmp_path / "app.log")
    outd = str(tmp_path / "out")
    with open(src, "w") as f:
        f.write("stop,red\ngo,green\nstop,blue\n")
    ops = [
        lambda df: df.filter(F.col("value").rlike("stop")),
        lambda df: df.select(
            "key", F.upper(F.split("value", ",").getItem(1)).alias("value")
        ),
    ]
    job = StreamJob(spark, src, outd, ops=ops, source="tail")
    job.run_to_completion()
    vals = sorted(r.value.split(":", 2)[2] for r in job.read_output().collect())
    assert vals == ["BLUE", "RED"]

    with open(src, "a") as f:
        f.write("go,white\nstop,black\n")  # only 'stop' rows survive
    StreamJob(spark, src, outd, ops=ops, source="tail").run_to_completion()
    vals = sorted(r.value.split(":", 2)[2] for r in job.read_output().collect())
    assert vals == ["BLACK", "BLUE", "RED"]  # delta only, no re-emission


def test_stream_reader_rejects_typos_allows_globs(registered, tmp_path):
    from stream_processing_spark.sources.pyds import _LineTailStreamReader

    # a glob matching no files must also fail loudly (typo'd glob)...
    with pytest.raises(FileNotFoundError, match="allow_missing"):
        _LineTailStreamReader({"path": str(tmp_path / "*.log")})
    # ...unless the fleet is explicitly allowed to appear later
    r = _LineTailStreamReader(
        {"path": str(tmp_path / "*.log"), "allow_missing": "true"}
    )
    assert r.initialOffset() == {"files": {}}
    assert r.latestOffset() == {"files": {}}
    # a typo'd concrete path must fail loudly, not tail empty forever
    with pytest.raises(FileNotFoundError, match="allow_missing"):
        _LineTailStreamReader({"path": str(tmp_path / "nope.log")})
    # explicit tail -F-style wait-for-creation remains available
    r = _LineTailStreamReader(
        {"path": str(tmp_path / "later.log"), "allow_missing": "true"}
    )
    assert r.latestOffset() == {"offset": 0}


def _drain_fleet(spark, pattern, outd, ck):
    """Drain a fleet glob like ``_drain``; lines read
    ``<basename>:<offset>:<value>``."""
    job = StreamJob(spark, pattern, outd, ops=[], source="tail", checkpoint_dir=ck)
    job.run_to_completion(timeout_sec=120)
    out = []
    for r in job.read_output().collect():
        f, off, v = r.value.split(":", 2)
        out.append(f"{os.path.basename(f)}:{off}:{v}")
    return sorted(out)


def test_stream_fleet_tail_multiple_growing_logs(registered, tmp_path):
    """The reference's cluster shape — one growing log per machine
    (src/LogQuerier/server.py:30) — tailed as ONE streaming source:
    per-file byte offsets, deltas only, late-appearing files join."""
    spark = registered
    outd, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    with open(tmp_path / "machine.1.log", "w") as f:
        f.write("a1" + chr(10) + "a2" + chr(10))
    with open(tmp_path / "machine.2.log", "w") as f:
        f.write("b1" + chr(10))
    pattern = str(tmp_path / "machine.*.log")

    got = _drain_fleet(spark, pattern, outd, ck)
    assert got == [
        "machine.1.log:0:a1", "machine.1.log:3:a2", "machine.2.log:0:b1",
    ]

    # appends to BOTH files + a brand-new machine joining the fleet
    with open(tmp_path / "machine.1.log", "a") as f:
        f.write("a3" + chr(10))
    with open(tmp_path / "machine.2.log", "a") as f:
        f.write("b2" + chr(10))
    with open(tmp_path / "machine.3.log", "w") as f:
        f.write("c1" + chr(10))
    got = _drain_fleet(spark, pattern, outd, ck)
    assert got == [
        "machine.1.log:0:a1", "machine.1.log:3:a2", "machine.1.log:6:a3",
        "machine.2.log:0:b1", "machine.2.log:3:b2",
        "machine.3.log:0:c1",
    ]


def test_streaming_grep_over_fleet(registered, tmp_path):
    """Live distributed grep: the LogQuerier query surface (G1/G2) over
    GROWING logs — fleet tail + the engine's grep pattern compiler as a
    streaming filter, counts by source file."""
    import uuid as _uuid

    from stream_processing_spark.sources.grep import compile_pattern

    spark = registered
    for i, lines in [(1, ["GET /a 200", "GET /b 500"]),
                     (2, ["GET /c 500", "GET /d 200", "POST /e 500"])]:
        with open(tmp_path / f"m{i}.log", "w") as f:
            f.write(chr(10).join(lines) + chr(10))
    src = (
        spark.readStream.format("linetail")
        .option("path", str(tmp_path / "m*.log"))
        .load()
        .where(F.col("value").rlike(compile_pattern(" 500$")))
        .groupBy(F.regexp_extract("file", r"([^/]+)$", 1).alias("machine"))
        .count()
    )
    name = f"g{_uuid.uuid4().hex[:8]}"
    q = (
        src.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r.machine, r['count']) for r in spark.table(name).collect()}
    assert got == {("m1.log", 1), ("m2.log", 2)}


def test_streamjob_tail_rejects_file_trigger_option(registered, tmp_path):
    src = str(tmp_path / "a.log")
    with open(src, "w") as f:
        f.write("x\n")
    job = StreamJob(
        registered, src, str(tmp_path / "out"), ops=[],
        source="tail", max_files_per_trigger=4,
    )
    with pytest.raises(ValueError, match="max_files_per_trigger"):
        job.run_to_completion()


def test_streamjob_on_fleet_tail(registered, tmp_path):
    """RainStorm ops over the whole fleet of growing logs: StreamJob
    tail mode accepts the glob, record ids are file:offset."""
    spark = registered
    for i, body in [(1, "stop,red"), (2, "go,green"), (3, "stop,blue")]:
        with open(tmp_path / f"m{i}.log", "w") as f:
            f.write(body + chr(10))
    outd = str(tmp_path / "out")
    ops = [
        lambda df: df.filter(F.col("value").rlike("stop")),
        lambda df: df.select(
            "key", F.upper(F.split("value", ",").getItem(1)).alias("value")
        ),
    ]
    job = StreamJob(
        spark, str(tmp_path / "m*.log"), outd, ops=ops, source="tail"
    )
    job.run_to_completion()
    vals = sorted(
        r.value.rsplit(":", 1)[1] for r in job.read_output().collect()
    )
    assert vals == ["BLUE", "RED"]


def test_stream_fleet_vanished_file_raises(registered, tmp_path):
    # a tailed file disappearing from the glob is a rotation - the
    # checkpointed offsets expose it even across reader restarts
    spark = registered
    outd, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    with open(tmp_path / "m1.log", "w") as f:
        f.write("a" + chr(10))
    with open(tmp_path / "m2.log", "w") as f:
        f.write("b" + chr(10))
    pattern = str(tmp_path / "m*.log")
    _drain_fleet(spark, pattern, outd, ck)
    os.remove(tmp_path / "m2.log")
    with open(tmp_path / "m1.log", "a") as f:
        f.write("a2" + chr(10))
    with pytest.raises(Exception, match="vanished|append-only"):
        _drain_fleet(spark, pattern, outd, ck)


def test_stream_fleet_ignores_directories(registered, tmp_path):
    spark = registered
    (tmp_path / "sub.log").mkdir()  # a DIRECTORY matching the glob
    with open(tmp_path / "m1.log", "w") as f:
        f.write("x" + chr(10))
    got = _drain_fleet(
        spark, str(tmp_path / "*.log"),
        str(tmp_path / "out"), str(tmp_path / "ck"),
    )
    assert got == ["m1.log:0:x"]


def test_stream_tail_byte_bounded_triggers(registered, tmp_path):
    """VERDICT r5 #5: max_bytes_per_trigger drains a backlog appended
    mid-stream in >1 bounded micro-batches, byte-offset identity
    preserved. (The first planned batch after start/restart is
    uncapped by design — the engine asks for the latest offset before
    the reader can know any start — so the backlog is appended while
    the query runs, the live-tail shape the bound exists for.)"""
    import time

    spark = registered
    src = str(tmp_path / "live.log")
    ck = str(tmp_path / "ck")
    with open(src, "w") as f:
        f.write("head-0\n")
    q = (
        spark.readStream.format("linetail")
        .option("path", src)
        .option("max_bytes_per_trigger", 1000)
        .load()
        .writeStream.format("memory")
        .queryName("bounded_tail")
        .option("checkpointLocation", ck)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table("bounded_tail").count() < 1:
            time.sleep(0.2)
        lines = [f"row-{i:05d}" for i in range(400)]  # ~4 KB backlog
        with open(src, "a") as f:
            f.write("\n".join(lines) + "\n")
        want_rows = 1 + len(lines)
        while time.time() < deadline and (
            spark.table("bounded_tail").count() < want_rows
        ):
            time.sleep(0.2)
        assert spark.table("bounded_tail").count() == want_rows
        sizes = [
            p["numInputRows"]
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
        # ~4KB / 1000B cap → at least 4 non-empty batches for the
        # backlog (plus the head batch); no batch beyond cap+1 line
        assert len(sizes) >= 4, sizes
        max_backlog_batch = max(s for s in sizes)
        assert max_backlog_batch <= 1000 // 7 + 2, sizes  # ~143 rows/batch
    finally:
        q.stop()
    got = sorted(
        (r.offset, r.value) for r in spark.table("bounded_tail").collect()
    )
    want, off = [], 0
    for ln in ["head-0"] + lines:
        want.append((off, ln))
        off += len(ln) + 1
    assert got == want


def test_cap_advance_oversized_line_liveness(tmp_path):
    """A single line larger than the cap still advances by exactly
    that one complete line (soft cap, like maxOffsetsPerTrigger)."""
    from stream_processing_spark.sources.pyds import _cap_advance

    p = str(tmp_path / "big.log")
    big = "x" * 5000
    with open(p, "w") as f:
        f.write(f"small\n{big}\nafter\n")
    full = 6 + 5001 + 6
    # base at 'small\n' end; cap 100 < big line → advance to big's end
    assert _cap_advance(p, 6, 100, full) == 6 + 5001
    # base 0, cap 100 → just 'small\n'
    assert _cap_advance(p, 0, 100, full) == 6
    # cap beyond full → full
    assert _cap_advance(p, 0, 10**6, full) == full


def test_streamjob_files_rejects_byte_trigger_option(registered, tmp_path):
    d = tmp_path / "ind"
    d.mkdir()
    job = StreamJob(
        registered, str(d), str(tmp_path / "out"), ops=[],
        source="files", max_bytes_per_trigger=1024,
    )
    with pytest.raises(ValueError, match="max_bytes_per_trigger"):
        job.run_to_completion()


def test_streamjob_tail_rejects_source_file_cap(registered, tmp_path):
    """Review r6: max_source_file_bytes silently ignored in tail mode
    — now raises symmetrically with the other cross-option guards."""
    src = str(tmp_path / "a.log")
    with open(src, "w") as f:
        f.write("x\n")
    job = StreamJob(
        registered, src, str(tmp_path / "out"), ops=[],
        source="tail", max_source_file_bytes=1024,
    )
    with pytest.raises(ValueError, match="max_source_file_bytes"):
        job.run_to_completion()
