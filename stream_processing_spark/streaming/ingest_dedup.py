"""Streaming incremental near-dup ingest: a running MinHash-LSH corpus.

The batch flagships cover near-dup detection over a static corpus
(functions/dedup.py) and one day-slice against a static corpus
(llmops.dedup_incremental_new_vs_corpus). This module is the RUNNING
form — the shape a production ingest pipeline actually operates:

  new documents stream in → each micro-batch computes shingle MinHash
  signatures and banded LSH buckets for ITS docs only → candidate
  pairs = (within-batch self-join) ∪ (batch × the accumulated corpus
  bands) → both the pairs and the batch's bands are written
  idempotently → the corpus grows by exactly the batch's bands.

Cost model per batch (the reason this scales): signatures/buckets are
computed ONLY for new docs, and the corpus side of the join is
PARTITION-PRUNED — the corpus band table is laid out as
``__batch_id / band / pfx`` (``pfx`` = a hash-prefix bucket of the
band signature), the batch's distinct ``(band, pfx)`` cells (a
bounded set, ≤ bands × sig_prefix_buckets) are collected, and the
corpus scan reads ONLY those partition directories. Per-batch corpus
I/O is therefore O(colliding buckets), not O(corpus): at 100 TB the
scan touches the handful of cells the new docs can possibly collide
in. Skew guard: a boilerplate-saturated corpus can concentrate one
cell until "the handful of cells" is itself O(corpus) — the optional
``hot_cell_max_bytes`` cap (the streaming mirror of
functions/dedup.py's ``max_bucket``) sizes candidate cells from file
metadata and skips the saturated ones, keeping per-batch reads
bounded under adversarial skew. Verification needs no corpus-wide
signature scan either — each
band row carries its doc's full MinHash signature inline (k small
ints, duplicated per band: a deliberate ×bands storage trade to keep
the per-batch join count at one).

Exactly-once under replay: all outputs are partitioned by
``__batch_id`` and written with dynamic partition overwrite (a
replayed batch rewrites only its own partition), and the corpus side of the cross join
reads only partitions ``__batch_id < current`` — so a replayed batch
neither duplicates pairs nor joins against its own half-written bands.
Writes go sigs → pairs → bands, so no crash window can ever produce
bands-without-sigs (a state dir where bands exist but ``_LAYOUT`` is
absent is a genuinely foreign/legacy layout and is refused).

Discovery invariant (tested): every unordered candidate pair is
emitted in EXACTLY one batch — the batch in which its later member
arrived (same-batch pairs in the self-join branch, cross-batch pairs
in the corpus branch) — and the union over batches equals the batch
``lsh_candidate_pairs`` over the full corpus.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_spark.functions import dedup as dd
from stream_processing_spark.functions.dedup import band_buckets  # noqa: F401
from stream_processing_spark.functions.keys import eq_key
from stream_processing_spark.runtime import materialize
# band_buckets lives in functions/dedup.py (single source of truth for
# the band/sig spelling — lsh_candidate_pairs builds its buckets from
# the same helper, so stream/batch pair parity is by construction)

# 2 = (band, pfx)-partitioned bands w/ inline sigs
# 3 = v2 + sigs registry partitioned by (dpfx) doc-id hash bucket so
#     the per-batch duplicate-id check prunes to colliding buckets
_LAYOUT_VERSION = 3


class StreamingIngestDedup:
    """foreachBatch driver for the running corpus. Outputs under
    ``state_dir``: ``bands/`` (the corpus, partitioned by
    ``__batch_id/band/pfx``), ``sigs/`` (per-doc signatures = the
    append-only id registry), ``pairs/`` (candidate pairs, partitioned
    by ``__batch_id``)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        shingle_n: int = 3,
        k: int = 8,
        bands: int = 4,
        rows_per_band: int = 2,
        min_agree: int = 0,
        sig_prefix_buckets: int = 16,
        compact_every: int | None = None,
        id_buckets: int | None = None,
        hot_cell_max_bytes: int | None = None,
        max_bucket: int | None = None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.bands_path = os.path.join(state_dir, "bands")
        self.sigs_path = os.path.join(state_dir, "sigs")
        self.pairs_path = os.path.join(state_dir, "pairs")
        self.layout_path = os.path.join(state_dir, "_LAYOUT")
        self.shingle_n = shingle_n
        self.k = k
        self.bands = bands
        self.rows_per_band = rows_per_band
        # >= min_agree of k signature positions must match for a pair
        # to be emitted (the batch flagship verifies at 6/8); 0 keeps
        # every candidate, scored
        self.min_agree = min_agree
        # pfx partition fan-out per band; the per-batch corpus read is
        # pruned to ≤ bands × this many cells
        self.sig_prefix_buckets = sig_prefix_buckets
        # id-registry fan-out (dpfx partitions) — independent of the
        # band-cell fan-out so hot band cells can be spread without
        # multiplying sigs directories; defaults to the same value
        self.id_buckets = (
            id_buckets if id_buckets is not None else sig_prefix_buckets
        )
        # auto-compaction cadence: every N batches, fold all committed
        # band partitions (< the just-written batch) into one — bounds
        # small-file growth to ~N batches' worth. None = manual only.
        self.compact_every = compact_every
        # hot-cell guard (the streaming mirror of functions/dedup.py's
        # ``max_bucket``): a skewed band signature — stop-shingle mode
        # collapse, boilerplate-saturated corpora — concentrates one
        # (band, pfx) cell, and the per-batch corpus join would read
        # that WHOLE cell, re-introducing an O(corpus) term. Cells
        # whose accumulated on-disk size exceeds this many bytes are
        # SKIPPED by the corpus read (sized from file metadata only —
        # listdir + stat, no data read), trading recall ONLY on
        # buckets that are overwhelmingly near-identical boilerplate.
        # Granularity note: the skip is per (band, pfx) cell because
        # that is the pruning granularity — innocent signatures
        # sharing a hot cell's pfx lose cross-batch recall too; raise
        # ``sig_prefix_buckets`` to shrink that collateral (1/buckets
        # of a band's signature space). Read-time only: not part of
        # the immutable layout, and hot cells keep being WRITTEN (a
        # bounded O(batch) append), so the data stays available to
        # offline analysis and to reopens with a higher cap.
        # Sizing cost: the metadata scan walks every committed
        # __batch_id=* directory per micro-batch (O(batches × cells)
        # listdir/stat), so with this cap set, ALSO set
        # ``compact_every`` — compaction folds committed batches into
        # one partition set, keeping the guard's own scan O(cells).
        # None = unlimited (exact stream/batch pair parity).
        self.hot_cell_max_bytes = hot_cell_max_bytes
        # (band, pfx) cells the LAST apply()/``_pruned_corpus`` call
        # skipped as hot — observability for monitors and tests
        self.last_hot_cells: list[tuple[int, int]] = []
        # within-batch bucket cap (functions/dedup.py max_bucket,
        # batch-local form): a batch whose docs collapse into one
        # (band, sig) bucket pays d² rows in the within-batch self-join
        # — rows in buckets larger than this are dropped from BOTH join
        # sides (within-batch and the batch side of the corpus join)
        # but still WRITTEN to the corpus, so the guard is join-time
        # only and replay-invariant. The two guards compose: max_bucket
        # bounds the within-batch quadratic, hot_cell_max_bytes bounds
        # the corpus-side read. None = uncapped (exact parity).
        self.max_bucket = max_bucket

    # -- layout & recovery --------------------------------------------
    def _layout_params(self) -> dict:
        """Every parameter that shapes the STORED corpus — a reopened
        state dir must agree on all of them or its partition pruning
        (and signature layout) silently diverges from the data."""
        return {
            "version": _LAYOUT_VERSION,
            "shingle_n": self.shingle_n,
            "k": self.k,
            "bands": self.bands,
            "rows_per_band": self.rows_per_band,
            "sig_prefix_buckets": self.sig_prefix_buckets,
            "id_buckets": self.id_buckets,
        }

    def _check_layout(self) -> None:
        """Refuse foreign/legacy/parameter-mismatched state dirs; roll
        interrupted compactions forward/back before any read."""
        if os.path.isdir(self.bands_path):
            try:
                with open(self.layout_path) as f:
                    stored = json.load(f)
            except FileNotFoundError:
                raise RuntimeError(
                    f"{self.bands_path} exists but {self.layout_path} "
                    "does not: this state dir predates the pruned "
                    "(band, pfx) corpus layout; re-ingest into a fresh "
                    "state_dir"
                ) from None
            except ValueError:
                raise RuntimeError(
                    f"{self.layout_path} is unreadable; repair it to "
                    f"{self._layout_params()} or re-ingest"
                ) from None
            if not isinstance(stored, dict):
                raise RuntimeError(
                    f"{self.layout_path} holds a pre-JSON layout "
                    f"marker ({stored!r}): this state dir was written "
                    "by an earlier build of this module; re-ingest "
                    "into a fresh state_dir"
                )
            # id_buckets postdates the first v3 dirs and defaulted to
            # sig_prefix_buckets before it existed — a stored file
            # without the key IS that default, not a mismatch
            if "id_buckets" not in stored:
                stored["id_buckets"] = stored.get("sig_prefix_buckets")
            if stored != self._layout_params():
                # a pfx/band/k mismatch would make the pruning filter
                # skip directories that DO hold colliding rows — the
                # silent cross-batch pair-loss mode, refused loudly
                raise RuntimeError(
                    f"state dir was written with {stored}, reopened "
                    f"with {self._layout_params()}: corpus layout "
                    "parameters are immutable per state_dir"
                )
            self._recover_compaction()

    def _write_layout(self) -> None:
        if not os.path.exists(self.layout_path):
            os.makedirs(self.state_dir, exist_ok=True)
            tmp = self.layout_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._layout_params(), f, sort_keys=True)
            os.replace(tmp, self.layout_path)

    # -- pfx bucketing -------------------------------------------------
    def _with_pfx(self, banded: DataFrame) -> DataFrame:
        """Deterministic hash-prefix bucket of the band signature —
        the inner partition key the corpus scan prunes on."""
        return banded.withColumn(
            "pfx", F.pmod(eq_key("sig"), F.lit(self.sig_prefix_buckets))
        )

    def _cell_filter_sql(self, cells: list[tuple[int, int]]) -> str:
        """Static partition filter for the collected (band, pfx) cells
        — one SQL string (literal comparisons on partition columns, so
        the parquet scan prunes directories before any task runs)."""
        return " OR ".join(
            f"(band = {int(b)} AND pfx = {int(p)})" for b, p in cells
        )

    def _cell_bytes(
        self, batch_id: int, cells: list[tuple[int, int]]
    ) -> dict[tuple[int, int], int]:
        """Accumulated on-disk bytes per candidate cell across all
        COMMITTED batches (< batch_id — a replayed batch's own
        half-written partition must not count). Pure file metadata:
        one directory listing plus stats over ≤ batches × |cells|
        directories — the same class of op the parquet scan's own
        planning performs, and never a data read."""
        sizes: dict[tuple[int, int], int] = {c: 0 for c in cells}
        if not os.path.isdir(self.bands_path):
            return sizes
        for d in os.listdir(self.bands_path):
            if not d.startswith("__batch_id="):
                continue
            if int(d.split("=", 1)[1]) >= batch_id:
                continue
            for b, p in cells:
                cdir = os.path.join(
                    self.bands_path, d, f"band={b}", f"pfx={p}"
                )
                if not os.path.isdir(cdir):
                    continue
                for f in os.listdir(cdir):
                    if not f.startswith(("_", ".")):
                        sizes[(b, p)] += os.path.getsize(
                            os.path.join(cdir, f)
                        )
        return sizes

    def _pruned_corpus(
        self, batch_id: int, cells: list[tuple[int, int]]
    ) -> DataFrame | None:
        """Committed earlier batches' band rows, pruned to the cells
        this batch can collide in — minus cells the hot-cell guard
        skips (see ``hot_cell_max_bytes``). Only a genuinely ABSENT
        table means "first batch" — any real read error must propagate
        and fail the batch (Spark retries), or every cross-batch pair
        of this batch would be silently and permanently lost."""
        self.last_hot_cells = []
        if not os.path.isdir(self.bands_path) or not cells:
            return None
        if self.hot_cell_max_bytes is not None:
            sizes = self._cell_bytes(batch_id, cells)
            self.last_hot_cells = [
                c for c in cells if sizes[c] > self.hot_cell_max_bytes
            ]
            cells = [
                c for c in cells if sizes[c] <= self.hot_cell_max_bytes
            ]
            if not cells:
                return None
        return (
            self.spark.read.parquet(self.bands_path)
            .where(F.col("__batch_id") < batch_id)
            .where(F.expr(self._cell_filter_sql(cells)))
        )

    def _with_dpfx(self, sigs: DataFrame) -> DataFrame:
        """Doc-id hash bucket — the sigs registry's inner partition
        key, pruned by the duplicate-id check the same way the corpus
        join prunes on (band, pfx)."""
        return sigs.withColumn(
            "dpfx",
            F.pmod(eq_key("doc_id"), F.lit(self.id_buckets)),
        )

    def _read_sigs_before(
        self, batch_id: int, dpfxs: list[int] | None = None
    ) -> DataFrame | None:
        """Committed earlier batches' signature rows; with ``dpfxs``,
        pruned to those doc-id hash buckets (partition pruning — the
        dup check reads only buckets the batch's ids can land in)."""
        if not os.path.isdir(self.sigs_path):
            return None
        df = self.spark.read.parquet(self.sigs_path).where(
            F.col("__batch_id") < batch_id
        )
        if dpfxs is not None:
            if not dpfxs:
                return df.where(F.lit(False))
            # single-column prune: a plain In predicate on the
            # partition column (the OR-string spelling is only needed
            # for the compound (band, pfx) key)
            df = df.where(F.col("dpfx").isin([int(d) for d in dpfxs]))
        return df

    # -- the per-batch merge ------------------------------------------
    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        self._check_layout()
        if batch_id <= self._compacted_upto():
            # batches at or below the compaction watermark no longer
            # own a partition — a dynamic-overwrite replay would write
            # rows BESIDE their compacted copies (duplicates). Normal
            # crash-window replay (the LAST batch) can never hit this
            # (compact() enforces upto < newest); only a deliberate
            # full re-drain can, and it needs a fresh state_dir.
            raise RuntimeError(
                f"batch {batch_id} is inside the compacted range "
                f"(<= {self._compacted_upto()}); full re-drains into a "
                "compacted corpus need a fresh state_dir"
            )
        sh = dd.shingles(
            batch_df.select("doc_id", "text"), n=self.shingle_n
        )
        # feeds the bands, the persistence and the id registry
        sigs = materialize(dd.minhash_signatures(sh, k=self.k))
        hcols = [f"h{s}" for s in range(self.k)]
        # band rows carry the full signature inline so pair scoring
        # never needs a corpus-wide signature join
        new_b = materialize(self._with_pfx(
            band_buckets(
                sigs, bands=self.bands, rows_per_band=self.rows_per_band
            ).join(sigs.select("doc_id", *hcols), "doc_id")
        ))  # feeds 4 branches below

        # join-side rows: optionally drop oversized within-batch
        # buckets (see max_bucket); the WRITE below always uses the
        # full new_b, so the cap never changes stored state
        join_b = new_b
        if self.max_bucket is not None:
            from pyspark.sql.window import Window

            join_b = (
                new_b.withColumn(
                    "__bsz",
                    F.count(F.lit(1)).over(Window.partitionBy("band", "sig")),
                )
                .filter(F.col("__bsz") <= self.max_bucket)
                .drop("__bsz")
            )

        # bounded collect: ≤ bands × sig_prefix_buckets cells (computed
        # from the JOIN side — capped-out rows can't produce pairs, so
        # their cells need not be read)
        cells = sorted(
            {
                (r["band"], r["pfx"])
                for r in join_b.select("band", "pfx").distinct().collect()
            }
        )

        a_side = join_b.select(
            F.col("doc_id").alias("doc_a"),
            "band",
            "sig",
            *[F.col(h).alias(f"a{s}") for s, h in enumerate(hcols)],
        )
        b_side = join_b.select(
            F.col("doc_id").alias("doc_b"),
            "band",
            "sig",
            *[F.col(h).alias(f"b{s}") for s, h in enumerate(hcols)],
        )
        # within-batch pairs (doc_a < doc_b, like the batch path)
        within = a_side.join(b_side, ["band", "sig"]).where(
            F.col("doc_a") < F.col("doc_b")
        )
        corpus = self._pruned_corpus(batch_id, cells)
        if corpus is not None:
            cross = corpus.select(
                F.col("doc_id").alias("doc_a"),
                "band",
                "sig",
                *[F.col(h).alias(f"a{s}") for s, h in enumerate(hcols)],
            ).join(b_side, ["band", "sig"])
            pairs = within.unionByName(cross)
        else:
            pairs = within

        # VERIFY inline: signature agreement (the batch flagship's
        # estimator) from the columns already on the joined rows —
        # symmetric in (a, b), so score BEFORE canonicalizing the
        # orientation, then distinct across bands
        agree = None
        for s_ in range(self.k):
            t = F.when(F.col(f"a{s_}") == F.col(f"b{s_}"), 1).otherwise(0)
            agree = t if agree is None else agree + t
        pairs = (
            pairs.withColumn("n_agree", agree.cast("bigint"))
            .select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
                "n_agree",
            )
            .distinct()
            .where(F.col("n_agree") >= self.min_agree)
            .withColumn(
                "est_jaccard", F.round(F.col("n_agree") / self.k, 6)
            )
            .select("doc_a", "doc_b", "n_agree", "est_jaccard")
        )

        # doc ids are immutable corpus members: re-ingesting an id
        # would leave stale bands that cannot be retracted from the
        # append-only corpus — refuse loudly. One ids-only (column-
        # pruned) semi-join per batch against the sigs registry.
        sigs_d = self._with_dpfx(sigs)
        if os.path.isdir(self.sigs_path):
            # bounded collect, and only when a registry exists to
            # prune (batch 0 of a fresh dir skips the wasted job)
            dpfxs = sorted(
                r[0] for r in sigs_d.select("dpfx").distinct().collect()
            )
        else:
            dpfxs = None
        corpus_sigs = self._read_sigs_before(batch_id, dpfxs)
        if corpus_sigs is not None:
            n_dup = (
                sigs.select("doc_id")
                .join(corpus_sigs.select("doc_id"), "doc_id", "left_semi")
                .count()
            )
            if n_dup:
                raise RuntimeError(
                    f"{n_dup} doc_id(s) in this batch were already "
                    "ingested; the running corpus is append-only — "
                    "dedupe ids upstream or use a fresh state_dir"
                )

        # write order matters for the crash window: layout marker,
        # then sigs, then pairs, then bands — a partial batch can
        # never produce bands-without-sigs, so replay always finds a
        # consistent (possibly empty) committed prefix
        self._write_layout()
        for df, path, parts in (
            (sigs_d, self.sigs_path, ["__batch_id", "dpfx"]),
            (pairs, self.pairs_path, ["__batch_id"]),
            (new_b, self.bands_path, ["__batch_id", "band", "pfx"]),
        ):
            (
                df.withColumn("__batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*parts)
                .parquet(path)
            )
        if (
            self.compact_every
            and batch_id > 0
            and batch_id % self.compact_every == 0
        ):
            # fold everything before this batch into one partition
            # per table; idempotent under replay (a re-run finds <= 1
            # partition below upto and no-ops); non-strict so an empty
            # micro-batch at the cadence point (no partition written
            # for batch_id) cannot wedge the stream
            self.compact(upto=batch_id - 1, strict=False)

    def writer(self):
        def write(batch_df: DataFrame, batch_id: int) -> None:
            self.apply(batch_df, batch_id)

        return write

    # -- compaction ----------------------------------------------------
    def _compacted_upto(self) -> int:
        try:
            with open(os.path.join(self.state_dir, "_COMPACTED_UPTO")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _mark_compacted(self, upto: int) -> None:
        p = os.path.join(self.state_dir, "_COMPACTED_UPTO")
        if upto <= self._compacted_upto():
            return
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(upto))
        os.replace(tmp, p)

    # fold order: bands first (the hot corpus-join table), then the
    # sigs id-registry (re-read every batch for the duplicate-id
    # semi-join), then pairs (output only — folded so dir listings
    # stay bounded too)
    _FOLD_TABLES = (
        ("bands", ("band", "pfx")),
        ("sigs", ("dpfx",)),
        ("pairs", ()),
    )

    def _table_path(self, table: str) -> str:
        return os.path.join(self.state_dir, table)

    def _tmp_dir(self, table: str = "bands") -> str:
        return os.path.join(self.state_dir, f"_compact_tmp_{table}")

    def _trash_dir(self, table: str = "bands") -> str:
        return os.path.join(self.state_dir, f"_compact_trash_{table}")

    @staticmethod
    def _partition_ids(path: str) -> list[int]:
        if not os.path.isdir(path):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(path)
            if d.startswith("__batch_id=")
        )

    def compact(self, upto: int, strict: bool = True) -> int:
        """Consolidate every state table's partitions ``__batch_id <=
        upto`` into ONE ``__batch_id = upto`` partition each (bands
        keep their (band, pfx) inner layout; sigs/pairs fold flat).
        ``upto`` MUST be strictly below the newest ingested batch id:
        Spark replays at most the LAST batch, so compacted batches can
        never be re-delivered and dynamic-overwritten — and the
        ``_COMPACTED_UPTO`` watermark (written BEFORE any destructive
        move, so a crash can only leave it conservatively high) makes
        ``apply`` refuse deliberate full re-drains into the compacted
        range. Crash-safe per table: data staged to
        ``_compact_tmp_<t>`` (completeness = Spark's _SUCCESS), an
        ``_UPTO`` intent marker, old partitions moved to
        ``_compact_trash_<t>``, staged dir renamed in; an interrupted
        run rolls forward (stage complete + marker) or back via
        ``_recover_compaction`` on the next read/apply.

        ``strict=False`` (the auto-compaction path) no-ops instead of
        raising when there is nothing safely compactable — an empty
        micro-batch at the cadence point must not wedge the stream.
        Returns the number of bands partitions consolidated."""
        self._check_layout()
        if not os.path.isdir(self.bands_path):
            if strict:
                raise FileNotFoundError(f"no corpus at {self.bands_path}")
            return 0
        batch_ids = self._partition_ids(self.bands_path)
        if not batch_ids:
            return 0  # empty corpus (e.g. only an empty first batch)
        if upto >= batch_ids[-1]:
            if strict:
                raise ValueError(
                    f"compact(upto={upto}) must be < the newest batch "
                    f"id {batch_ids[-1]}: the newest batch is inside "
                    "Spark's replay window and must stay dynamically "
                    "overwritable"
                )
            return 0
        self._mark_compacted(upto)
        n_bands = 0
        for table, inner in self._FOLD_TABLES:
            n = self._fold(table, inner, upto)
            if table == "bands":
                n_bands = n
        return n_bands

    def _fold(
        self, table: str, inner: tuple[str, ...], upto: int
    ) -> int:
        path = self._table_path(table)
        ids = self._partition_ids(path)
        olds = [f"__batch_id={b}" for b in ids if b <= upto]
        if len(olds) <= 1:
            return len(olds)
        tmp, trash = self._tmp_dir(table), self._trash_dir(table)
        df = (
            self.spark.read.parquet(path)
            .where(F.col("__batch_id") <= upto)
            .drop("__batch_id")
        )
        # co-locate each output cell into one task before writing —
        # without this shuffle every scan task writes its own file
        # into every cell it touches and the "compacted" partition
        # has as many files per cell as the inputs did (measured: the
        # probe's files-read grew linearly with batches)
        if inner:
            w = df.repartition(*inner).write.mode("overwrite")
            w = w.partitionBy(*inner)
        else:
            # flat table: coalesce (no shuffle) to a cluster-scaled
            # file count — the fold only bounds files, it need not
            # co-locate anything
            n = max(1, self.spark.sparkContext.defaultParallelism)
            w = df.coalesce(n).write.mode("overwrite")
        w.parquet(tmp)
        # INTENT marker first: recovery must know the exact target id
        # and which partitions were slated for removal — inferring it
        # from whatever happened to reach the trash would duplicate
        # rows if the move loop below is interrupted midway
        os.makedirs(trash, exist_ok=True)
        with open(os.path.join(trash, "_UPTO"), "w") as f:
            f.write(str(upto))
        for d in olds:
            os.replace(os.path.join(path, d), os.path.join(trash, d))
        os.replace(tmp, os.path.join(path, f"__batch_id={upto}"))
        shutil.rmtree(trash)
        return len(olds)

    def _recover_compaction(self) -> None:
        """Roll an interrupted ``compact`` forward or back, per table."""
        for table, _ in self._FOLD_TABLES:
            self._recover_table(table)

    def _recover_table(self, table: str) -> None:
        path = self._table_path(table)
        tmp, trash = self._tmp_dir(table), self._trash_dir(table)
        upto = None
        if os.path.isdir(trash) and os.path.exists(
            os.path.join(trash, "_UPTO")
        ):
            with open(os.path.join(trash, "_UPTO")) as f:
                upto = int(f.read().strip())
        if os.path.isdir(tmp):
            if (
                os.path.exists(os.path.join(tmp, "_SUCCESS"))
                and upto is not None
            ):
                # staged data complete AND the intent marker names the
                # target: roll FORWARD. First finish the interrupted
                # move loop (any old partition <= upto still in the
                # table would otherwise survive beside its compacted
                # copy — duplicated rows), then swing the stage in.
                for d in os.listdir(path):
                    if (
                        d.startswith("__batch_id=")
                        and int(d.split("=", 1)[1]) <= upto
                    ):
                        os.replace(
                            os.path.join(path, d), os.path.join(trash, d)
                        )
                os.replace(tmp, os.path.join(path, f"__batch_id={upto}"))
                self._mark_compacted(upto)
                shutil.rmtree(trash)
            else:
                # stage incomplete (no _SUCCESS) or no intent marker
                # (crash before _UPTO): originals are authoritative —
                # restore anything trashed, discard the stage
                if os.path.isdir(trash):
                    for d in os.listdir(trash):
                        if d == "_UPTO":
                            continue
                        os.replace(
                            os.path.join(trash, d), os.path.join(path, d)
                        )
                    shutil.rmtree(trash)
                shutil.rmtree(tmp)
        elif os.path.isdir(trash):
            # tmp already renamed into place (the move loop completed
            # before the rename, by construction); only trash remains —
            # make sure the watermark records the completed run first
            if upto is not None:
                self._mark_compacted(upto)
            shutil.rmtree(trash)

    # -- readbacks ----------------------------------------------------
    def corpus_bands(self) -> DataFrame:
        self._check_layout()
        return self.spark.read.parquet(self.bands_path).select(
            "doc_id", "band", "sig"
        )

    def candidate_pairs(self) -> DataFrame:
        return self.spark.read.parquet(self.pairs_path).drop("__batch_id")
