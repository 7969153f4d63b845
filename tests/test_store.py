"""Behavioral tests for the dataset store — the three §4.2 invariants
from SURVEY.md plus lifecycle checks mirroring the reference's
fs_test.sh scenarios."""

from __future__ import annotations

import os
import threading
import uuid

import pyarrow.parquet as pq
import pytest

from stream_processing_spark import store as store_mod
from stream_processing_spark.store import (
    LINE_SCHEMA,
    DatasetExistsError,
    DatasetNotFoundError,
    Store,
)


@pytest.fixture()
def store(spark, tmp_path):
    return Store(spark, str(tmp_path / "store"))


def test_create_once(store):
    store.create("f1", ["hello", "world"])
    with pytest.raises(DatasetExistsError):
        store.create("f1", ["again"])


def test_per_writer_append_order_survives_merge(store):
    # SURVEY.md §4.2: two sequential appends from one writer appear in
    # order after merge (reference: same client → same replica)
    store.create("f2", ["a1", "a2"], writer="w1")
    store.append("f2", ["b1", "b2"], writer="w1")
    store.append("f2", ["c1"], writer="w1")
    assert store.get_lines("f2") == ["a1", "a2", "b1", "b2", "c1"]
    store.merge("f2")
    assert store.get_lines("f2") == ["a1", "a2", "b1", "b2", "c1"]


def test_merge_invariance_multiset(store):
    # merge (compaction) must not change query results
    store.create("f3", [f"x{i}" for i in range(100)])
    store.append("f3", [f"y{i}" for i in range(50)])
    before = sorted(store.get_lines("f3"))
    parts_before = len(store.ls("f3")["parts"])
    store.merge("f3")
    assert sorted(store.get_lines("f3")) == before
    assert len(store.ls("f3")["parts"]) == 1 < parts_before


def test_multiappend_concurrent(store):
    store.create("f4")
    store.multiappend(
        "f4", {f"w{i}": [f"w{i}-line{j}" for j in range(20)] for i in range(4)}
    )
    lines = store.get_lines("f4")
    assert len(lines) == 80
    # per-writer order holds even under concurrency
    for i in range(4):
        mine = [ln for ln in lines if ln.startswith(f"w{i}-")]
        assert mine == [f"w{i}-line{j}" for j in range(20)]
    store.merge("f4")
    assert len(store.get_lines("f4")) == 80


def _jobs(spark, read):
    """Run `read()` under its own job group; return (result, Spark jobs run)."""
    sc, gid = spark.sparkContext, f"test-store-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "store read job count")
    try:
        out = read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_versioned_get_caching(store, spark, monkeypatch):
    # reference S7: version unchanged => no transfer, so no part file is
    # opened; a miss and a merge read the parts with pyarrow, no Spark job
    store.create("f5", ["v0"])
    assert _jobs(spark, lambda: store.get_lines("f5")) == (["v0"], 0)
    opened = []
    real = store_mod.pads.dataset
    monkeypatch.setattr(
        store_mod.pads, "dataset", lambda *a, **k: opened.append(a) or real(*a, **k)
    )
    assert _jobs(spark, lambda: store.get_lines("f5")) == (["v0"], 0)
    assert opened == []
    store.append("f5", ["v1"])
    assert store.get_lines("f5") == ["v0", "v1"]
    assert opened  # the miss opened the parts
    assert _jobs(spark, lambda: store.merge("f5"))[1] == 0
    assert store.get_lines("f5") == ["v0", "v1"]
    opened.clear()
    assert _jobs(spark, lambda: store.get_lines("f5")) == (["v0", "v1"], 0)
    assert opened == []
    store.delete("f5")
    store.create("f5", ["new"])
    assert store.get_lines("f5") == ["new"]


def test_recreated_dataset_is_not_served_from_cache(spark, tmp_path):
    # create + append reach version 1 on every dataset, so a name deleted
    # and re-created by another client is back at the version a cache
    # holds: the dataset id, not the version, tells them apart
    root = str(tmp_path / "store")
    a, b = Store(spark, root), Store(spark, root)
    a.create("r1", ["old"])
    assert a.get_lines("r1") == ["old"]
    b.delete("r1")
    b.create("r1", ["other"])
    assert b.version("r1") == a.version("r1")
    assert a.get_lines("r1") == ["other"]


def test_get_lines_result_is_a_copy(store):
    store.create("c1", ["a", "b"])
    first = store.get_lines("c1")
    first.append("mine")
    first[0] = "changed"
    assert store.get_lines("c1") == ["a", "b"]


def test_read_cache_bounded_by_characters(store, monkeypatch):
    monkeypatch.setattr(store_mod, "_CACHE_CHARS", 10)
    store.create("s1", ["aaaa"])  # 4 characters
    store.create("s2", ["bbbb"])
    store.create("big", ["x" * 11])
    store.get_lines("s1")
    store.get_lines("s2")
    assert list(store._cache) == ["s1", "s2"]
    # larger than the bound: returned, never cached, evicts nothing
    assert store.get_lines("big") == ["x" * 11]
    assert list(store._cache) == ["s1", "s2"]
    # a refreshed entry moves to the newest position ...
    store.append("s1", ["cc"])
    assert store.get_lines("s1") == ["aaaa", "cc"]
    assert list(store._cache) == ["s2", "s1"]
    # ... so the next entry that overflows the bound evicts s2 first
    store.create("s3", ["dd"])
    store.get_lines("s3")
    assert list(store._cache) == ["s1", "s3"]
    assert store._cache_chars == 8
    store.delete("s1")
    assert list(store._cache) == ["s3"] and store._cache_chars == 2


def test_read_cache_bounded_by_count(store, monkeypatch):
    monkeypatch.setattr(store_mod, "_CACHE_CAP", 2)
    for n in ("n1", "n2", "n3"):
        store.create(n, [n])
        store.get_lines(n)
    assert list(store._cache) == ["n2", "n3"]
    assert store.get_lines("n1") == ["n1"]
    assert list(store._cache) == ["n3", "n1"]


def test_read_cache_concurrent_readers_and_writers(store):
    # more threads than cores reading and appending at once: the cache's
    # character total must equal its entries' sizes (a lost update breaks
    # it), and every dataset's last read holds all of its appends
    import sys

    names = [f"t{i}" for i in range(3)]
    for n in names:
        store.create(n, [f"{n}-base"])
    errs: list[Exception] = []

    def reader(n: str) -> None:
        try:
            for _ in range(4):
                store.get_lines(n)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def writer(n: str) -> None:
        try:
            for k in range(2):
                store.append(n, [f"{n}-{k}"])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=reader, args=(n,)) for n in names * 2]
    threads += [threading.Thread(target=writer, args=(n,)) for n in names]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errs
    for n in names:
        assert store.get_lines(n) == [f"{n}-base", f"{n}-0", f"{n}-1"]
    assert store._cache_chars == sum(e[2] for e in store._cache.values())


def test_get_lines_order_matches_spark_order(store, spark):
    # get_lines sorts in Arrow and this test sorts in Spark: both compare
    # strings by UTF-8 bytes, which is also Python's code-point order.
    # The parts mix pyarrow-written appends with one Spark-written
    # append_df part.
    writers = ["Z", "a", "é", "😀", "ab", "Ä"]
    store.create("u1", ["first"], writer="😀")
    for rnd in range(2):
        store.multiappend(
            "u1", {w: [f"{w}-{rnd}-{i}" for i in range(3)] for w in writers}
        )
    store.append_df("u1", spark.range(3).selectExpr("concat('df-', id) AS value"))

    def spark_order():
        rows = store.get("u1").orderBy("writer", "wseq", "idx").collect()
        return [r.value for r in rows]

    before = store.get_lines("u1")
    assert before == spark_order()
    assert before[:4] == ["Z-0-0", "Z-0-1", "Z-0-2", "Z-1-0"]
    assert before[-7:] == ["first"] + [f"😀-{r}-{i}" for r in range(2) for i in range(3)]
    store.merge("u1")
    assert store.get_lines("u1") == spark_order() == before


def test_driver_appends_run_no_spark_job(store, spark):
    # lines already on the driver are written with pyarrow, not a job
    assert _jobs(spark, lambda: store.create("p1", ["a"]))[1] == 0
    assert _jobs(spark, lambda: store.append("p1", ["b"], writer="w1"))[1] == 0
    assert store.get_lines("p1") == ["a", "b"]


def test_pyarrow_parts_round_trip(store, spark):
    # an empty append, a null line and non-ASCII lines read back as
    # written, through a fresh Store (so no cache), Spark's reader, and
    # after a merge rewrites them
    lines = ["plain", None, "", "naïve", "日本語", "😀 emoji"]
    store.create("rt", lines, writer="w0")
    store.append("rt", [], writer="w0")
    store.append("rt", ["tail"], writer="w1")
    want = lines + ["tail"]
    fresh = Store(spark, store.root)
    assert fresh.get_lines("rt") == want
    df = fresh.get("rt")
    # Spark reads every file column back as nullable; the names and
    # types are LINE_SCHEMA's, and the files keep the key columns non-null
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in LINE_SCHEMA
    ]
    part = os.path.join(store.root, "rt", fresh.ls("rt")["parts"][0])
    schema = pq.read_schema(os.path.join(part, os.listdir(part)[0]))
    assert [(f.name, f.nullable) for f in schema] == [
        (f.name, f.nullable) for f in LINE_SCHEMA
    ]
    assert df.count() == len(want)
    store.merge("rt")
    assert Store(spark, store.root).get_lines("rt") == want


def test_failed_write_leaves_no_staging_debris(store, monkeypatch):
    store.create("fw", ["kept"])
    version = store.version("fw")
    staging = os.path.join(store.root, ".staging")

    def broken(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(store_mod.pq, "write_table", broken)
    with pytest.raises(OSError, match="disk full"):
        store.append("fw", ["lost"])
    monkeypatch.undo()
    assert os.listdir(staging) == []
    assert store.version("fw") == version
    assert store.get_lines("fw") == ["kept"]

    # the publish fails too when the dataset is deleted mid-write
    real = pq.write_table
    store.create("gone", ["x"])

    def write_then_delete(*args, **kwargs):
        real(*args, **kwargs)
        store.delete("gone")

    monkeypatch.setattr(store_mod.pq, "write_table", write_then_delete)
    with pytest.raises(DatasetNotFoundError):
        store.append("gone", ["y"])
    assert os.listdir(staging) == []


def test_cache_miss_survives_concurrent_merges(store, spark):
    # every read goes through a fresh Store, so every read is a miss that
    # scans the parts a merge's swap is about to trash
    want = [f"line{i}" for i in range(50)]
    store.create("mr", want[:25])
    store.append("mr", want[25:])
    done = threading.Event()
    reads: list[list[str]] = []
    errs: list[Exception] = []

    def merger() -> None:
        try:
            for _ in range(25):
                store.merge("mr")
        except Exception as e:  # pragma: no cover
            errs.append(e)
        finally:
            done.set()

    def reader() -> None:
        while not done.is_set():
            try:
                reads.append(Store(spark, store.root).get_lines("mr"))
            except Exception as e:
                errs.append(e)

    threads = [threading.Thread(target=merger), threading.Thread(target=reader)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errs == []
    assert reads and all(r == want for r in reads)


def test_ls_store_delete(store):
    store.create("d1", ["x"])
    store.create("d2", ["y"])
    assert store.datasets() == ["d1", "d2"]
    info = store.ls("d1")
    assert info["version"] >= 1 and info["parts"] and info["bytes"] > 0
    store.delete("d1")
    assert store.datasets() == ["d2"]
    with pytest.raises(DatasetNotFoundError):
        store.ls("d1")


def test_append_df_scale_path(store, spark):
    store.create("big")
    df = spark.range(1000).repartition(3).selectExpr("concat('row-', id) AS value")
    store.append_df("big", df)
    assert store.get("big").count() == 1000
    # a Spark-written part: several data files beside _SUCCESS and .crc
    part = os.listdir(os.path.join(store.root, "big", store.ls("big")["parts"][0]))
    assert "_SUCCESS" in part and any(f.endswith(".crc") for f in part)
    assert sum(f.endswith(".parquet") and not f.startswith(".") for f in part) == 3
    lines = store.get_lines("big")
    store.merge("big", target_parts=2)
    assert store.get("big").count() == 1000
    assert len(store.ls("big")["parts"]) == 1  # one merged part dir
    merged = os.path.join(store.root, "big", store.ls("big")["parts"][0])
    files = sorted(os.listdir(merged))
    assert len(files) == 2 and not any(f.startswith(("_", ".")) for f in files)
    assert Store(spark, store.root).get_lines("big") == lines
    for name in files:
        schema = pq.read_schema(os.path.join(merged, name))
        assert [(f.name, f.nullable) for f in schema] == [
            (f.name, f.nullable) for f in LINE_SCHEMA
        ]


def test_merge_empty_dataset(store, spark):
    # no parts, or only an empty append: the merge still swaps in a new
    # version, and the dataset reads back empty with no part left
    store.create("e0")
    store.create("e1", [])
    for name in ("e0", "e1"):
        version = store.version(name)
        store.merge(name)
        assert store.version(name) == version + 1
        assert store.ls(name)["parts"] == []
        assert Store(spark, store.root).get_lines(name) == []
        assert store.get(name).count() == 0


def test_merge_writes_one_row_group(store):
    # coalesced row groups: a few thousand rows from many small parts
    # merge into one file of one row group, not one group per input batch
    store.create("rg", [f"base{i}" for i in range(500)])
    for k in range(5):
        store.multiappend("rg", {f"w{w}": [f"{k}-{w}-{i}" for i in range(150)] for w in range(4)})
    before = store.get_lines("rg")
    store.merge("rg")
    merged = os.path.join(store.root, "rg", store.ls("rg")["parts"][0])
    (name,) = os.listdir(merged)
    meta = pq.ParquetFile(os.path.join(merged, name)).metadata
    assert (meta.num_rows, meta.num_row_groups) == (3500, 1)
    assert store.get_lines("rg") == before


def test_get_schema_does_not_depend_on_parts(store):
    # Spark reads every file column back as nullable; a dataset with no
    # parts reports the same schema
    store.create("sch")
    empty = store.get("sch").schema
    store.append("sch", ["a"])
    assert store.get("sch").schema == empty
    assert [(f.name, f.dataType) for f in empty] == [
        (f.name, f.dataType) for f in LINE_SCHEMA
    ]
    assert all(f.nullable for f in empty)


def test_merge_concurrent_append_not_lost(store):
    # ADVICE r1: an append landing between merge's snapshot and its
    # directory swap must survive (late parts are moved into the merged
    # dir under the lock, and meta is re-read so wseq never rolls back)
    store.create("f6", [f"base{i}" for i in range(20)], writer="w0")

    done = threading.Event()
    errs: list[Exception] = []

    def appender() -> None:
        try:
            for i in range(15):
                store.append("f6", [f"late{i}a", f"late{i}b"], writer="wlate")
                if done.is_set():
                    break
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t = threading.Thread(target=appender)
    t.start()
    for _ in range(3):
        store.merge("f6")
    done.set()
    t.join()
    assert not errs
    lines = store.get_lines("f6")
    # every append the writer issued is fully present, in order
    n_late = sum(1 for ln in lines if ln.startswith("late")) // 2
    late = [ln for ln in lines if ln.startswith("late")]
    assert late == [f"late{i}{s}" for i in range(n_late) for s in "ab"]
    assert [ln for ln in lines if ln.startswith("base")] == [
        f"base{i}" for i in range(20)
    ]
    # wseq not rolled back: one more append lands after everything
    store.append("f6", ["tail"], writer="wlate")
    assert store.get_lines("f6")[-1] == "tail"


def test_merge_cleans_stale_tmp_and_trash(store, tmp_path):
    store.create("f7", ["a", "b"])
    root = store.root
    os.makedirs(os.path.join(root, "f7.__merge_tmp"))
    os.makedirs(os.path.join(root, "f7.__trash"))
    # stale crash leftovers are not datasets
    assert store.datasets() == ["f7"]
    # and do not break the next merge
    store.merge("f7")
    assert store.get_lines("f7") == ["a", "b"]
    assert not os.path.exists(os.path.join(root, "f7.__merge_tmp"))
    assert not os.path.exists(os.path.join(root, "f7.__trash"))


def test_concurrent_merges_serialize(store):
    # two merges of one dataset must not destroy each other's tmp dirs
    store.create("f8", [f"m{i}" for i in range(30)])
    store.append("f8", ["extra1", "extra2"])
    errs: list[Exception] = []

    def do_merge() -> None:
        try:
            store.merge("f8")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=do_merge) for _ in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    lines = store.get_lines("f8")
    assert lines == [f"m{i}" for i in range(30)] + ["extra1", "extra2"]
