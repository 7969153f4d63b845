"""Streaming incremental near-dup ingest (streaming/ingest_dedup.py):
the running MinHash-LSH corpus matches the batch computation exactly —
bands, candidate-pair set, once-per-pair discovery — and survives full
batch replay without duplicates."""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.functions import dedup as dd
from stream_processing_spark.streaming.ingest_dedup import (
    StreamingIngestDedup,
    band_buckets,
)
from stream_processing_spark.streaming.job import await_drained

SF = "/root/testdata/sf0.001"


def _stage_batches(spark, tmp_path, n_batches=3):
    """Split the sf0.001 documents into arrival batches staged as
    parquet files with distinct mtimes."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    d = tmp_path / "src"
    d.mkdir()
    for i in range(n_batches):
        part = docs.where(F.col("doc_id") % n_batches == i)
        p = str(tmp_path / f"b{i}")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        shutil.copy(
            glob.glob(p + "/part-*.parquet")[0], str(d / f"b{i}.parquet")
        )
        time.sleep(1.1)
    return docs, str(d)


def _drain(spark, src_dir, sink, ck):
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(sink.writer())
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q, 300)


def test_streaming_ingest_matches_batch_lsh(spark, tmp_path):
    docs, src_dir = _stage_batches(spark, tmp_path)
    sink = StreamingIngestDedup(spark, str(tmp_path / "state"))
    ck = str(tmp_path / "ck")
    _drain(spark, src_dir, sink, ck)

    # corpus bands == batch bands over the full doc set
    batch_bands = band_buckets(
        dd.minhash_signatures(dd.shingles(docs, n=3), k=8)
    )
    got_bands = {
        (r.doc_id, r.band, r.sig) for r in sink.corpus_bands().collect()
    }
    want_bands = {(r.doc_id, r.band, r.sig) for r in batch_bands.collect()}
    assert got_bands == want_bands

    # pairs: set equality with the batch LSH candidates AND exactly-once
    # discovery (no pair appears in two batches)
    batch_pairs = {
        (r.doc_a, r.doc_b)
        for r in dd.lsh_candidate_pairs(
            dd.minhash_signatures(dd.shingles(docs, n=3), k=8)
        ).collect()
    }
    stream_pairs_rows = sink.candidate_pairs().collect()
    stream_pairs = {(r.doc_a, r.doc_b) for r in stream_pairs_rows}
    assert stream_pairs == batch_pairs
    assert len(stream_pairs_rows) == len(stream_pairs), "pair emitted twice"
    assert batch_pairs, "fixture produced no candidate pairs"

    # verification scores match the batch estimator (signature
    # agreement / k) for every pair
    sigs_all = dd.minhash_signatures(dd.shingles(docs, n=3), k=8)
    sig_map = {
        r.doc_id: tuple(r[f"h{s}"] for s in range(8))
        for r in sigs_all.collect()
    }
    for r in stream_pairs_rows:
        want = sum(
            1 for x, y in zip(sig_map[r.doc_a], sig_map[r.doc_b]) if x == y
        )
        assert r.n_agree == want and abs(
            r.est_jaccard - round(want / 8, 6)
        ) < 1e-9, (r, want)

    # full replay (commit log wiped, offsets intact): every batch
    # re-applies via dynamic partition overwrite — byte-stable outputs
    shutil.rmtree(os.path.join(ck, "commits"))
    _drain(spark, src_dir, sink, ck)
    again = sink.candidate_pairs().collect()
    assert len(again) == len(stream_pairs_rows)
    assert {(r.doc_a, r.doc_b) for r in again} == batch_pairs


def test_corpus_join_is_partition_pruned(spark, tmp_path):
    """VERDICT r5 #1 done-criterion: the per-batch corpus join reads
    far fewer corpus files than exist — the (band, pfx) cell filter
    prunes partition directories at the scan."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    sink = StreamingIngestDedup(
        spark, str(tmp_path / "state"), sig_prefix_buckets=64
    )
    # two big corpus batches, then one tiny batch
    sink.apply(docs.where(F.col("doc_id") % 3 == 0), 0)
    sink.apply(docs.where(F.col("doc_id") % 3 == 1), 1)
    tiny = docs.where(F.col("doc_id") % 3 == 2).limit(3)

    total_parquet = [
        os.path.join(r, f)
        for r, _, fs in os.walk(str(tmp_path / "state" / "bands"))
        for f in fs
        if f.endswith(".parquet")
    ]
    nb = sink._with_pfx(
        band_buckets(dd.minhash_signatures(dd.shingles(tiny, n=3), k=8))
    )
    cells = sorted(
        {(r["band"], r["pfx"]) for r in nb.select("band", "pfx").distinct().collect()}
    )
    pruned = sink._pruned_corpus(2, cells)
    assert pruned is not None
    files_read = {
        r[0]
        for r in pruned.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    # 3 docs hit ≤ 12 of 256 cells; the corpus holds hundreds of cells
    assert len(files_read) > 0  # the collision cells ARE read
    assert len(total_parquet) > 4 * len(files_read), (
        len(total_parquet),
        len(files_read),
    )


def test_first_batch_crash_window_replays(spark, tmp_path):
    """ADVICE r5 (medium): a crash between the sigs write and the
    bands write of batch 0 must replay cleanly, not wedge."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    sink = StreamingIngestDedup(spark, str(tmp_path / "state"))
    sink.apply(b0, 0)
    # simulate the crash window: bands not yet written (bands is the
    # LAST write, so this is exactly what a mid-batch crash leaves)
    shutil.rmtree(str(tmp_path / "state" / "bands"))
    sink.apply(b0, 0)  # replay: must not raise, must rebuild bands
    got = {(r.doc_id, r.band, r.sig) for r in sink.corpus_bands().collect()}
    want = {
        (r.doc_id, r.band, r.sig)
        for r in band_buckets(
            dd.minhash_signatures(dd.shingles(b0, n=3), k=8)
        ).collect()
    }
    assert got == want


def test_legacy_layout_refused(spark, tmp_path):
    """bands without the _LAYOUT marker = a pre-v2 state dir; joining
    a candidate set against it would silently change semantics."""
    import pytest

    state = tmp_path / "state"
    (state / "bands").mkdir(parents=True)
    sink = StreamingIngestDedup(spark, str(state))
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    with pytest.raises(RuntimeError, match="predates"):
        sink.apply(docs.limit(2), 0)


def test_compaction_consolidates_and_recovers(spark, tmp_path):
    """compact() folds committed batches into one partition with the
    corpus multiset unchanged; an interrupted run rolls forward/back."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    sink = StreamingIngestDedup(spark, str(tmp_path / "state"))
    for i in range(3):
        sink.apply(docs.where(F.col("doc_id") % 3 == i), i)
    before = sorted(
        (r.doc_id, r.band, r.sig) for r in sink.corpus_bands().collect()
    )
    bands_dir = str(tmp_path / "state" / "bands")
    assert sink.compact(upto=1) == 2
    parts = sorted(
        d for d in os.listdir(bands_dir) if d.startswith("__batch_id=")
    )
    assert parts == ["__batch_id=1", "__batch_id=2"]
    after = sorted(
        (r.doc_id, r.band, r.sig) for r in sink.corpus_bands().collect()
    )
    assert after == before
    # newest batch must stay replayable
    import pytest

    with pytest.raises(ValueError, match="replay"):
        sink.compact(upto=2)

    # crash-window recovery: a half-finished run (olds moved to trash,
    # staged dir complete but not yet renamed) rolls FORWARD
    sink2_dir = tmp_path / "state2"
    sink2 = StreamingIngestDedup(spark, str(sink2_dir))
    for i in range(3):
        sink2.apply(docs.where(F.col("doc_id") % 3 == i), i)
    want2 = sorted(
        (r.doc_id, r.band, r.sig) for r in sink2.corpus_bands().collect()
    )
    b2 = str(sink2_dir / "bands")
    tmp2, trash2 = sink2._tmp_dir(), sink2._trash_dir()
    (
        spark.read.parquet(b2)
        .where(F.col("__batch_id") <= 1)
        .drop("__batch_id")
        .write.mode("overwrite")
        .partitionBy("band", "pfx")
        .parquet(tmp2)
    )
    os.makedirs(trash2)
    with open(os.path.join(trash2, "_UPTO"), "w") as f:
        f.write("1")  # the intent marker a real compact() writes first
    for d in ("__batch_id=0", "__batch_id=1"):
        os.replace(os.path.join(b2, d), os.path.join(trash2, d))
    # interrupted HERE: next read triggers roll-forward
    got2 = sorted(
        (r.doc_id, r.band, r.sig) for r in sink2.corpus_bands().collect()
    )
    assert got2 == want2
    assert not os.path.isdir(tmp2) and not os.path.isdir(trash2)
    assert sorted(
        d for d in os.listdir(b2) if d.startswith("__batch_id=")
    ) == ["__batch_id=1", "__batch_id=2"]

    # and an INCOMPLETE stage (no _SUCCESS) rolls BACK
    sink3_dir = tmp_path / "state3"
    sink3 = StreamingIngestDedup(spark, str(sink3_dir))
    for i in range(2):
        sink3.apply(docs.where(F.col("doc_id") % 2 == i), i)
    want3 = sorted(
        (r.doc_id, r.band, r.sig) for r in sink3.corpus_bands().collect()
    )
    b3 = str(sink3_dir / "bands")
    os.makedirs(sink3._tmp_dir())  # partial stage, no _SUCCESS
    os.makedirs(sink3._trash_dir())
    os.replace(
        os.path.join(b3, "__batch_id=0"),
        os.path.join(sink3._trash_dir(), "__batch_id=0"),
    )
    got3 = sorted(
        (r.doc_id, r.band, r.sig) for r in sink3.corpus_bands().collect()
    )
    assert got3 == want3
    assert not os.path.isdir(sink3._tmp_dir())
    assert not os.path.isdir(sink3._trash_dir())


def test_compaction_mid_move_crash_no_duplicates(spark, tmp_path):
    """Review r6: a crash midway through the olds→trash move loop
    (stage complete, only SOME old partitions moved) must roll forward
    without duplicating the not-yet-moved partitions' rows."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    sink = StreamingIngestDedup(spark, str(tmp_path / "state"))
    for i in range(3):
        sink.apply(docs.where(F.col("doc_id") % 3 == i), i)
    want = sorted(
        (r.doc_id, r.band, r.sig) for r in sink.corpus_bands().collect()
    )
    b = str(tmp_path / "state" / "bands")
    tmp2, trash = sink._tmp_dir(), sink._trash_dir()
    # stage the compacted copy of batches 0..1 (complete, _SUCCESS)
    (
        spark.read.parquet(b)
        .where(F.col("__batch_id") <= 1)
        .drop("__batch_id")
        .write.mode("overwrite")
        .partitionBy("band", "pfx")
        .parquet(tmp2)
    )
    os.makedirs(trash)
    with open(os.path.join(trash, "_UPTO"), "w") as f:
        f.write("1")
    # crash window: only batch 0 moved; batch 1 still in bands
    os.replace(os.path.join(b, "__batch_id=0"),
               os.path.join(trash, "__batch_id=0"))
    got = sorted(
        (r.doc_id, r.band, r.sig) for r in sink.corpus_bands().collect()
    )
    assert got == want  # roll-forward finished the move: NO duplicates
    assert sorted(
        d for d in os.listdir(b) if d.startswith("__batch_id=")
    ) == ["__batch_id=1", "__batch_id=2"]
    assert not os.path.isdir(tmp2) and not os.path.isdir(trash)


def test_layout_parameter_mismatch_refused(spark, tmp_path):
    """Review r6: reopening a state dir with different corpus-shaping
    parameters (pfx buckets, bands, k...) must refuse — wrong pruning
    would silently lose cross-batch pairs."""
    import pytest

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    sink = StreamingIngestDedup(
        spark, str(tmp_path / "state"), sig_prefix_buckets=64
    )
    sink.apply(docs.where(F.col("doc_id") % 3 == 0), 0)
    reopened = StreamingIngestDedup(spark, str(tmp_path / "state"))
    with pytest.raises(RuntimeError, match="immutable"):
        reopened.apply(docs.where(F.col("doc_id") % 3 == 1), 1)


def test_compact_empty_corpus_returns_zero(spark, tmp_path):
    """Review r6: compact() over a bands dir with no batch partitions
    (e.g. only an empty first batch's _SUCCESS) returns 0, not a bare
    max() ValueError."""
    sink = StreamingIngestDedup(spark, str(tmp_path / "state"))
    os.makedirs(str(tmp_path / "state" / "bands"))
    sink._write_layout()
    assert sink.compact(upto=5) == 0


def test_auto_compaction_bounds_partitions_keeps_parity(spark, tmp_path):
    """compact_every folds committed batches as the stream runs: the
    partition count stays bounded, pair/band parity with the batch
    computation holds, and a replay into the compacted range is
    refused (full re-drains need a fresh state_dir)."""
    import pytest

    docs, src_dir = _stage_batches(spark, tmp_path, n_batches=4)
    sink = StreamingIngestDedup(
        spark, str(tmp_path / "state"), compact_every=2
    )
    _drain(spark, src_dir, sink, str(tmp_path / "ck"))

    bands_dir = str(tmp_path / "state" / "bands")
    parts = sorted(
        d for d in os.listdir(bands_dir) if d.startswith("__batch_id=")
    )
    # batches 0..3 with compaction at 2 (folds 0,1) → at most 3 parts
    assert len(parts) <= 3, parts

    got_bands = {
        (r.doc_id, r.band, r.sig) for r in sink.corpus_bands().collect()
    }
    want_bands = {
        (r.doc_id, r.band, r.sig)
        for r in band_buckets(
            dd.minhash_signatures(dd.shingles(docs, n=3), k=8)
        ).collect()
    }
    assert got_bands == want_bands
    batch_pairs = {
        (r.doc_a, r.doc_b)
        for r in dd.lsh_candidate_pairs(
            dd.minhash_signatures(dd.shingles(docs, n=3), k=8)
        ).collect()
    }
    rows = sink.candidate_pairs().collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == batch_pairs
    assert len(rows) == len(batch_pairs)

    # a batch id inside the compacted range is refused loudly
    with pytest.raises(RuntimeError, match="compacted range"):
        sink.apply(docs.limit(1), 0)


def test_random_batches_random_compaction_property(spark, tmp_path):
    """Property: ANY batch partitioning of the corpus with compaction
    at ANY admissible points yields exactly the batch computation's
    bands and candidate pairs (each pair discovered once)."""
    import random

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    n = 40
    sub = docs.limit(n).localCheckpoint(eager=True)
    ids = [r.doc_id for r in sub.select("doc_id").collect()]
    want_bands = {
        (r.doc_id, r.band, r.sig)
        for r in band_buckets(
            dd.minhash_signatures(dd.shingles(sub, n=3), k=8)
        ).collect()
    }
    want_pairs = {
        (r.doc_a, r.doc_b)
        for r in dd.lsh_candidate_pairs(
            dd.minhash_signatures(dd.shingles(sub, n=3), k=8)
        ).collect()
    }
    for seed in (0, 7):
        rng = random.Random(seed)
        perm = ids[:]
        rng.shuffle(perm)
        n_batches = rng.randint(2, 5)
        cuts = sorted(rng.sample(range(1, n), n_batches - 1))
        batches, prev = [], 0
        for c in cuts + [n]:
            batches.append(perm[prev:c])
            prev = c
        sink = StreamingIngestDedup(spark, str(tmp_path / f"s{seed}"))
        for i, members in enumerate(batches):
            sink.apply(sub.where(F.col("doc_id").isin(members)), i)
            # random admissible compaction after some batches
            if i >= 1 and rng.random() < 0.5:
                sink.compact(upto=i - 1)
        got_bands = {
            (r.doc_id, r.band, r.sig)
            for r in sink.corpus_bands().collect()
        }
        assert got_bands == want_bands, seed
        rows = sink.candidate_pairs().collect()
        got_pairs = {(r.doc_a, r.doc_b) for r in rows}
        assert got_pairs == want_pairs, seed
        assert len(rows) == len(got_pairs), (seed, "pair emitted twice")


def test_auto_compaction_survives_empty_batch(spark, tmp_path):
    """Review r6 pass 2: an empty micro-batch at the cadence point
    (no partition written for that batch id) must not wedge the
    stream — the auto path no-ops instead of raising."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    sink = StreamingIngestDedup(
        spark, str(tmp_path / "state"), compact_every=2
    )
    sink.apply(docs.where(F.col("doc_id") % 3 == 0), 0)
    sink.apply(docs.where(F.col("doc_id") % 3 == 1), 1)
    # batch 2: EMPTY (cadence point) — previously raised ValueError
    sink.apply(docs.where(F.lit(False)), 2)
    # stream continues fine afterwards
    sink.apply(docs.where(F.col("doc_id") % 3 == 2), 3)
    got = {(r.doc_id, r.band, r.sig) for r in sink.corpus_bands().collect()}
    want = {
        (r.doc_id, r.band, r.sig)
        for r in band_buckets(
            dd.minhash_signatures(dd.shingles(docs, n=3), k=8)
        ).collect()
    }
    assert got == want


def test_compaction_folds_sigs_and_pairs_too(spark, tmp_path):
    """Review r6 pass 2: the sigs registry is re-read EVERY batch for
    the duplicate-id semi-join, so compaction must bound its partition
    count too (and pairs', for dir-listing hygiene)."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    sink = StreamingIngestDedup(spark, str(tmp_path / "state"))
    for i in range(4):
        sink.apply(docs.where(F.col("doc_id") % 4 == i), i)
    sigs_before = sink.spark.read.parquet(
        str(tmp_path / "state" / "sigs")
    ).drop("__batch_id").collect()
    assert sink.compact(upto=2) == 3
    for table in ("bands", "sigs", "pairs"):
        parts = sorted(
            d
            for d in os.listdir(str(tmp_path / "state" / table))
            if d.startswith("__batch_id=")
        )
        assert parts == ["__batch_id=2", "__batch_id=3"], (table, parts)
    sigs_after = sink.spark.read.parquet(
        str(tmp_path / "state" / "sigs")
    ).drop("__batch_id").collect()
    key = lambda r: (r.doc_id,)  # noqa: E731
    assert sorted(map(tuple, sigs_before)) == sorted(map(tuple, sigs_after))
    # and the next batch still works against the folded registry
    import pytest

    with pytest.raises(RuntimeError, match="already"):
        sink.apply(docs.where(F.col("doc_id") % 4 == 0), 4)


def test_legacy_pre_json_marker_refused_cleanly(spark, tmp_path):
    """Review r6 pass 2: a _LAYOUT holding the old raw '2' marker gets
    the explicit re-ingest diagnosis, not a bogus parameter-mismatch."""
    import pytest

    state = tmp_path / "state"
    (state / "bands").mkdir(parents=True)
    with open(state / "_LAYOUT", "w") as f:
        f.write("2")
    sink = StreamingIngestDedup(spark, str(state))
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    with pytest.raises(RuntimeError, match="pre-JSON layout"):
        sink.apply(docs.limit(2), 0)


def test_pruned_read_stays_bounded_as_corpus_grows(spark, tmp_path):
    """Scale evidence for the round-6 design: with auto-compaction,
    the corpus-side FILES READ for a fixed-size probe batch stays
    bounded as the corpus grows (pruning bounds the cells; compaction
    bounds files-per-cell). Without both, files read would grow with
    every ingested batch."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    sink = StreamingIngestDedup(
        spark, str(tmp_path / "state"), compact_every=2
    )
    probe = docs.where(F.col("doc_id") % 8 == 7).limit(4)
    nb = sink._with_pfx(
        band_buckets(dd.minhash_signatures(dd.shingles(probe, n=3), k=8))
    )
    cells = sorted(
        {
            (r["band"], r["pfx"])
            for r in nb.select("band", "pfx").distinct().collect()
        }
    )

    def files_read_now(batch_id):
        pruned = sink._pruned_corpus(batch_id, cells)
        if pruned is None:
            return 0
        return pruned.select(
            F.input_file_name().alias("f")
        ).distinct().count()

    reads = []
    for i in range(6):
        sink.apply(docs.where(F.col("doc_id") % 8 == i), i)
        reads.append(files_read_now(i + 1))
    # the corpus tripled+ in batches; the probe's read set must NOT
    # track it. Reads oscillate with the compaction cycle (compacted
    # cell files + 1-2 fresh batches' files), so compare phase-aligned
    # points two batches apart with a small slack for task-count
    # jitter in the fresh batches (measured: [13, 27, 28, 41, 28, 41])
    assert reads[-1] <= reads[-3] + 3, reads
    assert reads[-2] <= reads[-4] + 3, reads
    # and the plateau is far below an uncompacted linear ramp, which
    # would reach ~6 batches x first-batch file count by now
    assert reads[-1] < 6 * reads[0], reads


def test_dup_check_reads_only_colliding_sig_buckets(spark, tmp_path):
    """The duplicate-id semi-join prunes the sigs registry to the
    batch's doc-id hash buckets — files read ≪ registry files."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    sink = StreamingIngestDedup(
        spark, str(tmp_path / "state"), sig_prefix_buckets=64
    )
    sink.apply(docs.where(F.col("doc_id") % 3 == 0), 0)
    sink.apply(docs.where(F.col("doc_id") % 3 == 1), 1)
    tiny = docs.where(F.col("doc_id") % 3 == 2).limit(3)
    sigs_d = sink._with_dpfx(
        dd.minhash_signatures(dd.shingles(tiny, n=3), k=8)
    )
    dpfxs = sorted(r[0] for r in sigs_d.select("dpfx").distinct().collect())
    assert 0 < len(dpfxs) <= 3
    pruned = sink._read_sigs_before(2, dpfxs)
    files_read = pruned.select(
        F.input_file_name().alias("f")
    ).distinct().count()
    total = sum(
        1
        for _, _, fs in os.walk(str(tmp_path / "state" / "sigs"))
        for f in fs
        if f.endswith(".parquet")
    )
    assert files_read > 0
    assert total > 4 * files_read, (total, files_read)


def test_hot_cell_guard_bounds_reads_under_boilerplate_skew(spark, tmp_path):
    """VERDICT r6 #4: a skewed band signature (boilerplate mode
    collapse) concentrates one (band, pfx) cell; ``hot_cell_max_bytes``
    must keep the per-batch corpus read bounded — hot cells identified
    from file METADATA alone and skipped at the scan — while
    cross-batch pairs through cold cells are still discovered."""
    BOILER = (
        "the same boilerplate sentence repeated verbatim in every "
        "document of this synthetic corpus slice"
    )
    RARE = "rare unique marker text alpha beta gamma delta epsilon zeta"

    def mk(lo, hi, text):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"), text.alias("text")
        )

    state = str(tmp_path / "state")
    # 64 pfx buckets: cold rows spread thin, so the planted hot cell's
    # bytes dominate the footer floor of 1-row cold files
    sink = StreamingIngestDedup(spark, state, sig_prefix_buckets=64)
    for i in range(3):
        batch = mk(i * 10000, i * 10000 + 500, F.lit(BOILER))
        if i == 0:
            batch = batch.unionByName(mk(900001, 900002, F.lit(RARE)))
        sink.apply(batch, i)

    probe = mk(990001, 990002, F.lit(RARE)).unionByName(
        mk(990002, 990003, F.lit(BOILER))
    )

    def cells_of(df):
        nb = sink._with_pfx(
            band_buckets(dd.minhash_signatures(dd.shingles(df, n=3), k=8))
        )
        return sorted(
            {
                (r["band"], r["pfx"])
                for r in nb.select("band", "pfx").distinct().collect()
            }
        )

    cells = cells_of(probe)
    boiler_cells = cells_of(mk(990002, 990003, F.lit(BOILER)))
    sizes = sink._cell_bytes(3, cells)
    hot_min = min(sizes[c] for c in boiler_cells)
    cold = [c for c in cells if c not in boiler_cells]
    cold_max = max(sizes[c] for c in cold) if cold else 0
    # the planted skew is real: every boiler cell dwarfs every cold one
    assert hot_min > 2 * cold_max, (sizes, boiler_cells)
    thr = (hot_min + cold_max) // 2

    # hot_cell_max_bytes is read-time-only, so reopening the SAME state
    # dir with the guard on is legal (not a layout parameter)
    guarded = StreamingIngestDedup(
        spark, state, sig_prefix_buckets=64, hot_cell_max_bytes=thr
    )

    def files(df):
        if df is None:
            return set()
        return {
            r[0]
            for r in df.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }

    unguarded_files = files(sink._pruned_corpus(3, cells))
    assert sink.last_hot_cells == []  # guard off → nothing skipped
    guarded_files = files(guarded._pruned_corpus(3, cells))
    assert sorted(guarded.last_hot_cells) == boiler_cells
    assert guarded_files and len(guarded_files) < len(unguarded_files)
    for f in guarded_files:
        assert all(
            f"band={b}/pfx={p}/" not in f + "/" for b, p in boiler_cells
        ), f

    # recall on cold signal survives: the guarded apply still finds the
    # cross-batch near-dup (RARE in batch 0 × RARE in this batch)
    guarded.apply(probe, 3)
    got = {(r.doc_a, r.doc_b) for r in guarded.candidate_pairs().collect()}
    assert (900001, 990001) in got


def test_max_bucket_caps_within_batch_join(spark, tmp_path):
    """A batch whose docs collapse into one (band, sig) bucket must not
    pay the d² within-batch self-join: rows in buckets over max_bucket
    are dropped from the join sides (no boilerplate pairs emitted) but
    still WRITTEN to the corpus — the cap is join-time only."""
    BOILER = (
        "identical boilerplate text shared by every document in the "
        "saturated batch slice"
    )
    RARE = "rare unique marker text alpha beta gamma delta epsilon zeta"

    def mk(lo, hi, text):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"), F.lit(text).alias("text")
        )

    batch = mk(0, 800, BOILER).unionByName(mk(900001, 900003, RARE))
    sink = StreamingIngestDedup(
        spark, str(tmp_path / "state"), max_bucket=50
    )
    sink.apply(batch, 0)
    pairs = {(r.doc_a, r.doc_b) for r in sink.candidate_pairs().collect()}
    assert pairs == {(900001, 900002)}, pairs
    # every doc's bands are stored regardless of the join-side cap
    n_docs = sink.corpus_bands().select("doc_id").distinct().count()
    assert n_docs == 802, n_docs


def test_crash_loop_mid_microbatch_matches_uninterrupted(spark, tmp_path):
    """ST3/ST6 failure-injection parity on the BIG streaming component
    (VERDICT r7 #7): the stream is killed mid-micro-batch four times —
    before apply (nothing written), after apply but before the
    checkpoint commit (everything written, commit missing), and with
    the batch's bands partition torn away (mid-write crash) — and
    restarted on the same checkpoint + state dir each time. The final
    corpus, candidate-pair set, and verification scores must equal an
    UNINTERRUPTED run over the same staged batches, and no pair may be
    discovered twice across the crash/replay cycles."""
    import pyspark.errors

    docs, src_dir = _stage_batches(spark, tmp_path)

    # uninterrupted reference run
    ref = StreamingIngestDedup(spark, str(tmp_path / "ref_state"))
    _drain(spark, src_dir, ref, str(tmp_path / "ref_ck"))
    want_bands = {
        (r.doc_id, r.band, r.sig) for r in ref.corpus_bands().collect()
    }
    want_pairs = {
        (r.doc_a, r.doc_b, r.n_agree, r.est_jaccard)
        for r in ref.candidate_pairs().collect()
    }
    assert want_pairs, "fixture produced no candidate pairs"

    # crash-injected run: each entry is consumed once, killing the
    # query at a different point of the foreachBatch lifecycle
    sink = StreamingIngestDedup(spark, str(tmp_path / "state"))
    inner = sink.writer()
    crash_plan = {0: ["before"], 1: ["after"], 2: ["mid", "after"]}

    def crashy(batch_df, batch_id):
        modes = crash_plan.get(batch_id)
        if modes:
            mode = modes.pop(0)
            if mode == "before":
                raise RuntimeError("injected: before apply")
            inner(batch_df, batch_id)
            if mode == "mid":
                # tear away this batch's bands partition — the torn
                # tail a crash between the partition writes leaves
                shutil.rmtree(
                    os.path.join(
                        str(tmp_path / "state"),
                        "bands",
                        f"__batch_id={batch_id}",
                    )
                )
            raise RuntimeError(f"injected: {mode} apply (pre-commit)")
        inner(batch_df, batch_id)

    ck = str(tmp_path / "ck")
    crashes = 0
    for _ in range(10):  # 4 injected crashes + the clean final drain
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .writeStream.foreachBatch(crashy)
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

    got_bands = {
        (r.doc_id, r.band, r.sig) for r in sink.corpus_bands().collect()
    }
    got_rows = sink.candidate_pairs().collect()
    got_pairs = {
        (r.doc_a, r.doc_b, r.n_agree, r.est_jaccard) for r in got_rows
    }
    assert got_bands == want_bands
    assert got_pairs == want_pairs
    assert len(got_rows) == len(got_pairs), "pair discovered twice"
