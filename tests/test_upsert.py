"""Streaming CDC upsert sink (streaming/upsert.py): versioned keyed
table driven by foreachBatch — latest-change-per-key merge semantics,
exactly-once under batch replay, and batch/stream parity with the
curation3 CDC core."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_processing_spark.streaming.job import await_drained
from stream_processing_spark.streaming.upsert import UpsertTable


def _write_changes(d: str, name: str, rows: list[tuple]) -> None:
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(",".join(str(x) for x in r) + "\n")
    os.replace(tmp, os.path.join(d, name))


def _changes_stream(spark, d):
    p = F.split(F.col("value"), ",")
    return (
        spark.readStream.format("text")
        .load(d)
        .select(
            p.getItem(0).cast("bigint").alias("uid"),
            p.getItem(1).alias("op"),
            p.getItem(2).cast("bigint").alias("ts"),
            p.getItem(3).cast("bigint").alias("seq"),
            p.getItem(4).cast("double").alias("balance"),
        )
    )


def _drain(spark, ind, table, ck):
    q = (
        _changes_stream(spark, ind)
        .writeStream.foreachBatch(table.writer())
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q, 120)


def test_upsert_stream_merges_and_survives_replay(spark, tmp_path):
    ind = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    t = UpsertTable(spark, str(tmp_path / "table"), key_col="uid")
    assert t.current() is None and t.version() == -1

    # batch 0: inserts + an in-batch overwrite (latest seq wins)
    _write_changes(ind, "c0.csv", [
        (1, "upsert", 100, 1, 10.0),
        (2, "upsert", 100, 2, 20.0),
        (1, "upsert", 100, 3, 11.0),   # same ts, later seq wins
    ])
    _drain(spark, ind, t, ck)
    got = {(r.uid, r.balance) for r in t.current().collect()}
    assert got == {(1, 11.0), (2, 20.0)}
    v0 = t.version()

    # batch 1: update, delete, insert
    _write_changes(ind, "c1.csv", [
        (1, "upsert", 200, 4, 12.0),
        (2, "delete", 200, 5, 0.0),
        (3, "upsert", 200, 6, 30.0),
    ])
    _drain(spark, ind, t, ck)
    got = {(r.uid, r.balance) for r in t.current().collect()}
    assert got == {(1, 12.0), (3, 30.0)}
    assert t.version() > v0

    # forced replay of the last batch (commit marker removed, offsets
    # intact — the crash window Structured Streaming re-delivers):
    # apply() must skip it, leaving the table byte-identically at the
    # same version
    import shutil

    shutil.rmtree(os.path.join(ck, "commits"))  # replay ALL batches
    v1 = t.version()
    # replaying batches below the pointer requires the explicit opt-in
    # (without it the applier refuses: fresh-checkpoint protection)
    t.allow_full_replay = True
    _drain(spark, ind, t, ck)
    assert t.version() == v1
    got = {(r.uid, r.balance) for r in t.current().collect()}
    assert got == {(1, 12.0), (3, 30.0)}


def test_upsert_matches_batch_cdc_core(spark, tmp_path):
    # stream/batch parity: draining all changes through the sink yields
    # the same keyed state as one batch latest-change merge
    ind = str(tmp_path / "in")
    rows = [
        (1, "upsert", 100, 1, 5.0),
        (2, "upsert", 110, 2, 6.0),
        (1, "delete", 120, 3, 0.0),
        (3, "upsert", 130, 4, 7.0),
        (2, "upsert", 140, 5, 8.0),
        (1, "upsert", 150, 6, 9.0),
    ]
    # two files → (usually) two micro-batches in arrival order
    _write_changes(ind, "a.csv", rows[:3])
    _write_changes(ind, "b.csv", rows[3:])
    t = UpsertTable(spark, str(tmp_path / "table"), key_col="uid")
    _drain(spark, ind, t, str(tmp_path / "ck"))

    batch = spark.createDataFrame(
        rows, "uid long, op string, ts long, seq long, balance double"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("uid").orderBy(F.desc("ts"), F.desc("seq"))
    expect = {
        (r.uid, r.balance)
        for r in batch.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "delete"))
        .collect()
    }
    got = {(r.uid, r.balance) for r in t.current().collect()}
    assert got == expect == {(1, 9.0), (2, 8.0), (3, 7.0)}


def test_upsert_stale_cross_batch_changes_ignored(spark, tmp_path):
    """Order-awareness: a later micro-batch carrying an OLDER change
    (out-of-order capture) must not overwrite fresher stored state —
    stale upserts and stale deletes are both no-ops."""
    ind = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    t = UpsertTable(spark, str(tmp_path / "table"), key_col="uid")

    _write_changes(ind, "c0.csv", [(1, "upsert", 200, 1, 10.0)])
    _drain(spark, ind, t, ck)
    _write_changes(ind, "c1.csv", [
        (1, "upsert", 100, 2, 99.0),   # stale upsert: ignored
        (1, "delete", 150, 3, 0.0),    # stale delete: ignored
        (2, "upsert", 100, 4, 5.0),    # fresh insert for a new key
    ])
    _drain(spark, ind, t, ck)
    got = {(r.uid, r.balance) for r in t.current().collect()}
    assert got == {(1, 10.0), (2, 5.0)}


def test_upsert_versions_time_travel_and_vacuum(spark, tmp_path):
    ind, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    t = UpsertTable(spark, str(tmp_path / "table"), key_col="uid")
    for i, rows in enumerate([
        [(1, "upsert", 100, 1, 1.0)],
        [(1, "upsert", 200, 2, 2.0)],
        [(2, "upsert", 300, 3, 3.0)],
    ]):
        _write_changes(ind, f"c{i}.csv", rows)
        _drain(spark, ind, t, ck)
    vs = t.versions()
    assert len(vs) == 3 and t.version() == vs[-1]
    # time travel: the middle snapshot predates key 2
    mid = {(r.uid, r.balance) for r in t.read_version(vs[1]).collect()}
    assert mid == {(1, 2.0)}
    dropped = t.vacuum(keep_last=1)
    assert dropped == vs[:-1]
    assert t.versions() == [vs[-1]]
    with pytest.raises(FileNotFoundError, match="not retained"):
        t.read_version(vs[0])
    # current() still serves after vacuum
    assert {(r.uid, r.balance) for r in t.current().collect()} == {
        (1, 2.0), (2, 3.0),
    }


def test_upsert_apply_property_random_batch_splits(spark, tmp_path):
    """Property: applying ANY change sequence in ANY batch partitioning
    yields the same keyed state as one global latest-change-per-key
    merge — the applier is associative over batch boundaries. Seed 0
    exercises delete-then-stale-upsert across a batch cut, the case
    that requires tombstones (resurrection bug caught in review)."""
    import random

    for seed in (0, 7, 42):
      rng = random.Random(seed)
      for case in range(12):
        n_keys = rng.randint(1, 4)
        changes = []
        for seq in range(rng.randint(1, 12)):
            changes.append((
                rng.randint(1, n_keys),
                rng.choice(["upsert", "upsert", "delete"]),
                rng.randint(1, 5) * 100,   # coarse ts → real ties
                seq,                        # unique tie-break
                float(rng.randint(1, 99)),
            ))
        # random batch split
        cuts = sorted(rng.sample(range(len(changes)), rng.randint(0, min(3, len(changes) - 1))) if len(changes) > 1 else [])
        batches, prev = [], 0
        for c in cuts:
            if c > prev:
                batches.append(changes[prev:c]); prev = c
        batches.append(changes[prev:])

        t = UpsertTable(
            spark, str(tmp_path / f"s{seed}c{case}"), key_col="uid"
        )
        schema = "uid long, op string, ts long, seq long, balance double"
        for i, b in enumerate(batches):
            t.apply(spark.createDataFrame(b, schema), i)

        from pyspark.sql.window import Window

        w = Window.partitionBy("uid").orderBy(F.desc("ts"), F.desc("seq"))
        expect = {
            (r.uid, r.balance)
            for r in spark.createDataFrame(changes, schema)
            .withColumn("rn", F.row_number().over(w))
            .where((F.col("rn") == 1) & (F.col("op") != "delete"))
            .collect()
        }
        cur = t.current()
        got = set() if cur is None else {
            (r.uid, r.balance) for r in cur.collect()
        }
        assert got == expect, (seed, case, changes, cuts, got, expect)


def test_upsert_crash_between_snapshot_and_pointer(spark, tmp_path):
    """The documented crash window: the snapshot for batch N is fully
    written but the process dies before the pointer flip. On replay the
    applier (pointer still at N-1) recomputes and overwrites the same
    snapshot, then flips — no skew between pointer and data."""
    t = UpsertTable(spark, str(tmp_path / "table"), key_col="uid")
    schema = "uid long, op string, ts long, seq long, balance double"
    b0 = spark.createDataFrame([(1, "upsert", 100, 1, 5.0)], schema)
    t.apply(b0, 0)
    assert t.version() == 0

    # simulate the crash: write batch 1's snapshot WITHOUT the pointer
    b1 = spark.createDataFrame([(2, "upsert", 200, 2, 7.0)], schema)
    pointer = t._pointer
    saved = open(pointer).read()
    t.apply(b1, 1)
    with open(pointer, "w") as f:
        f.write(saved)  # roll the pointer back: crash before the flip
    assert t.version() == 0  # table still serves version 0
    assert {(r.uid, r.balance) for r in t.current().collect()} == {(1, 5.0)}

    # replay of batch 1 (foreachBatch re-delivery): recomputes against
    # version 0 and completes the flip
    t.apply(b1, 1)
    assert t.version() == 1
    assert {(r.uid, r.balance) for r in t.current().collect()} == {
        (1, 5.0), (2, 7.0),
    }


def test_upsert_crash_loop_mid_microbatch_matches_uninterrupted(
    spark, tmp_path
):
    """VERDICT r8 #7: the ingest-dedup crash-loop schedule run against
    the upsert table — the stream is killed four times, each at a
    different point of the apply lifecycle (before any write; after the
    data dir but with manifest+pointer torn away; after data+manifest
    with the pointer rolled back; fully applied but pre-commit), with
    tombstone-bearing batches in flight. Restarted on the same
    checkpoint each time, the final current(), version, and time-travel
    manifest list must equal an uninterrupted run over the same staged
    change files."""
    import shutil

    import pyspark.errors

    rows_by_batch = [
        [(1, "upsert", 100, 1, 10.0), (2, "upsert", 100, 2, 20.0),
         (3, "upsert", 100, 3, 30.0), (4, "upsert", 100, 4, 40.0)],
        [(1, "upsert", 200, 5, 11.0), (3, "delete", 200, 6, 0.0),
         (5, "upsert", 200, 7, 50.0), (2, "upsert", 250, 8, 25.0)],
        [(1, "delete", 300, 9, 0.0),
         (2, "upsert", 150, 10, 99.0),  # stale: older than stored ts 250
         (6, "upsert", 300, 11, 60.0)],
        [(1, "upsert", 400, 12, 13.0), (5, "delete", 400, 13, 0.0)],
    ]

    def stage(d):
        for i, rows in enumerate(rows_by_batch):
            _write_changes(d, f"c{i}.csv", rows)

    def one_per_trigger(d):
        p = F.split(F.col("value"), ",")
        return (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(d)
            .select(
                p.getItem(0).cast("bigint").alias("uid"),
                p.getItem(1).alias("op"),
                p.getItem(2).cast("bigint").alias("ts"),
                p.getItem(3).cast("bigint").alias("seq"),
                p.getItem(4).cast("double").alias("balance"),
            )
        )

    # uninterrupted reference run (same 1-file micro-batching)
    ref_in = str(tmp_path / "ref_in")
    stage(ref_in)
    ref = UpsertTable(spark, str(tmp_path / "ref_table"), key_col="uid")
    q = (
        one_per_trigger(ref_in)
        .writeStream.foreachBatch(ref.writer())
        .option("checkpointLocation", str(tmp_path / "ref_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = {(r.uid, r.balance) for r in ref.current().collect()}
    assert want == {(2, 25.0), (4, 40.0), (6, 60.0), (1, 13.0)}
    # tombstones present for the deleted keys in the raw snapshot
    assert {r.uid for r in ref._raw().collect() if r["__deleted"]} == {3, 5}

    # crash-injected run
    ind = str(tmp_path / "in")
    stage(ind)
    t = UpsertTable(spark, str(tmp_path / "table"), key_col="uid")
    inner = t.writer()
    crash_plan = {0: ["before"], 1: ["torn_manifest"],
                  2: ["rolled_pointer"], 3: ["after"]}

    def crashy(batch_df, batch_id):
        modes = crash_plan.get(batch_id)
        if not modes:
            inner(batch_df, batch_id)
            return
        mode = modes.pop(0)
        if mode == "before":
            raise RuntimeError("injected: before apply")
        prev_pointer = open(t._pointer).read() if t.version() >= 0 else None
        inner(batch_df, batch_id)
        if mode == "torn_manifest":
            # crash between the data-dir write and the manifest write:
            # data leaves exist, manifest + pointer do not
            os.remove(t._manifest_path(batch_id))
            with open(t._pointer, "w") as f:
                f.write(prev_pointer)
        elif mode == "rolled_pointer":
            # crash between the manifest write and the pointer flip
            with open(t._pointer, "w") as f:
                f.write(prev_pointer)
        raise RuntimeError(f"injected: {mode} (pre-commit)")

    ck = str(tmp_path / "ck")
    crashes = 0
    for _ in range(10):  # 4 injected crashes + the clean final drain
        q = (
            one_per_trigger(ind).writeStream.foreachBatch(crashy)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
            assert not q.isActive
            break
        except pyspark.errors.exceptions.captured.StreamingQueryException:
            crashes += 1
    else:  # pragma: no cover
        raise AssertionError("stream never drained")
    assert crashes == 4, crashes
    assert not any(crash_plan.values()), "not every injection fired"

    got = {(r.uid, r.balance) for r in t.current().collect()}
    assert got == want
    assert t.version() == ref.version()
    assert t.versions() == ref.versions()
    assert {r.uid for r in t._raw().collect() if r["__deleted"]} == {3, 5}
    shutil.rmtree(ck)  # paranoia: nothing below depends on the ck


def test_upsert_corrupted_pointer_raises(spark, tmp_path):
    """ADVICE r5: an unparseable _VERSION pointer must raise, not read
    as 'no table' (which would silently discard all prior state on the
    next apply)."""
    import pytest

    t = UpsertTable(spark, str(tmp_path / "table"), key_col="uid")
    with open(t._pointer, "w") as f:
        f.write("garbage\x00")
    with pytest.raises(RuntimeError, match="corrupted version pointer"):
        t.version()


def test_upsert_untouched_buckets_not_rewritten(spark, tmp_path):
    """VERDICT r5 #2 done-criterion: a batch rewrites ONLY the key
    buckets it touches; every other bucket's leaf files stay
    byte-identical (same paths, same bytes), and the merge reads only
    the touched buckets' leaves."""
    import hashlib

    def _leaf_files(t, leaf):
        d = os.path.join(t.path, leaf)
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )

    def _md5s(t, leaf):
        d = os.path.join(t.path, leaf)
        return {
            f: hashlib.md5(
                open(os.path.join(d, f), "rb").read()
            ).hexdigest()
            for f in _leaf_files(t, leaf)
        }

    t = UpsertTable(spark, str(tmp_path / "table"), key_col="uid")
    schema = "uid long, op string, ts long, seq long, balance double"
    b0 = spark.createDataFrame(
        [(k, "upsert", 100, k, float(k)) for k in range(1, 51)], schema
    )
    t.apply(b0, 0)
    m0 = t._load_manifest(0)
    assert len(m0) > 5  # keys spread over many buckets
    before = {b: _md5s(t, leaf) for b, leaf in m0.items()}

    # spy on the merge input: which leaves does apply() actually read?
    read_calls = []
    orig = t._read_leaves

    def spy(leaves):
        read_calls.append(list(leaves))
        return orig(leaves)

    t._read_leaves = spy
    b1 = spark.createDataFrame([(7, "upsert", 200, 99, 7.5)], schema)
    t.apply(b1, 1)
    t._read_leaves = orig

    touched_bucket = [
        b for b, leaf in t._load_manifest(1).items()
        if leaf != m0.get(b)
    ]
    assert len(touched_bucket) == 1  # exactly one bucket rewritten
    # merge read exactly that one bucket's previous leaf
    assert read_calls == [[m0[touched_bucket[0]]]]
    # every untouched bucket: same manifest entry, same bytes on disk
    m1 = t._load_manifest(1)
    for b, leaf in m0.items():
        if b == touched_bucket[0]:
            assert m1[b] != leaf
            continue
        assert m1[b] == leaf
        assert _md5s(t, leaf) == before[b]
    # and the table content is right
    got = {(r.uid, r.balance) for r in t.current().collect()}
    want = {(k, float(k)) for k in range(1, 51) if k != 7} | {(7, 7.5)}
    assert got == want


def test_upsert_reopen_adopts_table_bucket_count(spark, tmp_path):
    """Review r6: num_buckets is a table property — reopening with a
    different constructor value must adopt the manifest's count, or a
    key hashed with the wrong modulus merges into the wrong bucket and
    the table serves two live rows for one key."""
    schema = "uid long, op string, ts long, seq long, balance double"
    t = UpsertTable(
        spark, str(tmp_path / "table"), key_col="uid", num_buckets=64
    )
    t.apply(
        spark.createDataFrame(
            [(k, "upsert", 100, k, float(k)) for k in range(1, 40)], schema
        ),
        0,
    )
    # reopen with the DEFAULT bucket count and update an existing key
    t2 = UpsertTable(spark, str(tmp_path / "table"), key_col="uid")
    t2.apply(
        spark.createDataFrame([(7, "upsert", 200, 99, 7.5)], schema), 1
    )
    assert t2.num_buckets == 64  # adopted from the manifest
    rows = t2.current().where(F.col("uid") == 7).collect()
    assert [(r.uid, r.balance) for r in rows] == [(7, 7.5)]  # ONE row


def test_upsert_schema_evolution_new_column(spark, tmp_path):
    """Lakehouse UPDATE SET * semantics: a batch may add payload
    columns (old rows read null there) and a batch that omits a stored
    column leaves the stored value in place when its change wins."""
    t = UpsertTable(spark, str(tmp_path / "table"), key_col="uid")
    t.apply(
        spark.createDataFrame(
            [(k, "upsert", 100, k, float(k)) for k in (1, 2, 3)],
            "uid long, op string, ts long, seq long, balance double",
        ),
        0,
    )
    # batch 1 adds 'tier' and updates key 2
    t.apply(
        spark.createDataFrame(
            [(2, "upsert", 200, 10, 22.0, "gold")],
            "uid long, op string, ts long, seq long, balance double,"
            " tier string",
        ),
        1,
    )
    got = {
        (r.uid, r.balance, r.tier) for r in t.current().collect()
    }
    assert got == {(1, 1.0, None), (2, 22.0, "gold"), (3, 3.0, None)}

    # batch 2 omits 'tier' entirely; key 2's winning change keeps the
    # stored tier, key 1 stays null
    t.apply(
        spark.createDataFrame(
            [(2, "upsert", 300, 20, 23.0), (1, "upsert", 300, 21, 11.0)],
            "uid long, op string, ts long, seq long, balance double",
        ),
        2,
    )
    got = {(r.uid, r.balance, r.tier) for r in t.current().collect()}
    assert got == {(1, 11.0, None), (2, 23.0, "gold"), (3, 3.0, None)}


def test_upsert_auto_vacuum_bounds_manifests_time_travel_green(
    spark, tmp_path
):
    """VERDICT r6 #9: with a vacuum cadence set, the manifest directory
    stays bounded as batches accumulate (manifests are self-contained
    snapshots, so retention IS the fold), time travel over every
    RETAINED version stays green, dropped versions refuse loudly, and
    on-disk data dirs shrink to exactly what retained manifests
    reference."""
    t = UpsertTable(
        spark, str(tmp_path / "table"), key_col="uid",
        vacuum_every=4, vacuum_keep_last=2,
    )

    def mkdf(rows):
        return spark.createDataFrame(
            rows, "uid long, op string, ts long, seq long, balance double"
        )

    for b in range(10):
        t.apply(mkdf([(b % 3, "upsert", 100 + b, 1, float(b))]), b)
    assert t.version() == 9
    # bounded: at most ~cadence + keep_last manifests survive
    assert len(t.versions()) <= 6, t.versions()
    assert 8 in t.versions() and 9 in t.versions()

    # time travel over every retained version reflects its batch prefix
    for v in t.versions():
        got = {(r.uid, r.balance) for r in t.read_version(v).collect()}
        want = {}
        for b in range(v + 1):
            want[b % 3] = float(b)
        assert got == set(want.items()), (v, got)

    # folded versions are gone and refuse loudly
    dropped = [b for b in range(10) if b not in t.versions()]
    assert dropped
    with pytest.raises(FileNotFoundError):
        t.read_version(dropped[0])

    # leaf GC: only data dirs a retained manifest references remain
    ddirs = {
        d
        for d in os.listdir(str(tmp_path / "table"))
        if d.startswith("d-")
    }
    referenced = {
        leaf.split(os.sep)[0]
        for v in t.versions()
        for leaf in t._load_manifest(v).values()
    }
    assert ddirs == referenced

    # crash-window replay of the cadence batch re-runs merge + vacuum
    # idempotently (batch 9 hits the == pointer skip; re-applying via a
    # fresh handle with the same id is the real replay shape)
    t2 = UpsertTable(
        spark, str(tmp_path / "table"), key_col="uid",
        vacuum_every=4, vacuum_keep_last=2,
    )
    t2.apply(mkdf([(9 % 3, "upsert", 109, 1, 9.0)]), 9)  # skipped
    assert t2.version() == 9
    assert {(r.uid, r.balance) for r in t2.current().collect()} == {
        (0, 9.0), (1, 7.0), (2, 8.0)
    }
