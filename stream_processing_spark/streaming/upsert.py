"""Exactly-once streaming UPSERT into a versioned, key-bucketed table.

StreamJob's per-batch directory overwrite (streaming/job.py) makes
append-shaped output exactly-once; CDC output is MERGE-shaped — each micro-batch carries upserts/deletes that
must be applied to the CURRENT table state. The batch core (collapse to
latest-change-per-key, one full-outer join) is
``queries/curation3.cdc_apply_latest_changes``; this module is the
streaming shell around the same merge.

Storage layout (the scale design): rows live in HASH-BUCKET leaf
directories (``d-<batch>/__bucket=<i>``, bucket = hash(key) mod B) and
a VERSION is a tiny JSON manifest mapping every bucket to the leaf dir
holding its current rows. Applying a batch:

- collapses the batch to latest-change-per-key,
- collects the ≤ B bucket ids the batch touches,
- reads ONLY those buckets' current leaves (partition-pruned merge
  input — untouched buckets are never read),
- merges and writes ONLY those buckets' new leaves under
  ``d-<batch_id>``,
- writes manifest ``v-<batch_id>`` referencing the new leaves for
  touched buckets and the PREVIOUS version's leaves — byte-identical,
  never rewritten — for untouched ones,
- flips ``_VERSION`` (atomic rename) last.

Per-batch I/O is therefore O(touched buckets), not O(table): a batch
touching 3 of 1024 buckets reads and writes 3/1024ths of the table.
This is the same manifest-of-shared-files discipline a lakehouse MERGE
uses (Delta/Iceberg file-level rewrite); the manifest here is the
local-parquet spelling of the table log.

Exactly-once under replay needs more than idempotent content, because
a replayed batch N must merge against version N-1, not its own output.
``apply`` SKIPS a re-delivered batch_id == the pointer (Spark's crash
window re-delivers at most the LAST batch; a crash between manifest
write and pointer rename simply rewrites the same leaves + manifest),
and REFUSES batch ids below the pointer — that shape means a fresh
checkpoint was pointed at an existing table, where silently skipping
would discard new data (``allow_full_replay=True`` opts into
deliberate full re-drains). Deletes persist as TOMBSTONES
(``__deleted`` rows keeping their (ts, seq)) so stale out-of-order
upserts cannot resurrect deleted keys. SCHEMA EVOLUTION follows
lakehouse ``UPDATE SET *`` semantics: a batch may add payload columns
(stored rows read null there via mergeSchema) and a batch omitting a
stored column leaves stored values untouched when its change wins.

Reference analogue: the leader's dedup dict + HyDFS flush
(leader.py:241-284), collapsed into the checkpoint + manifest chain.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stream_processing_spark.functions.keys import eq_key


class UpsertTable:
    """A keyed table materialized as bucketed parquet leaves shared
    across versioned manifests.

    Change-row contract (the CDC shape of curation3): ``key_col``,
    ``op`` ('upsert' | 'delete'), ``ts`` + ``seq`` ordering columns
    (latest change per key wins; ``seq`` breaks ts ties), and the
    payload columns."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        allow_full_replay: bool = False,
        num_buckets: int = 16,
        vacuum_every: int | None = None,
        vacuum_keep_last: int = 2,
    ):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.allow_full_replay = allow_full_replay
        self.num_buckets = num_buckets
        # auto-vacuum cadence (VERDICT r6 #9 — the 1e6-batch metadata
        # hot spot): every N applied batches, fold retention — drop all
        # but the newest ``vacuum_keep_last`` manifests and GC
        # unreferenced leaves. Manifests are SELF-CONTAINED snapshots
        # (each maps every bucket to its current leaf — there is no
        # delta chain to replay), so "folding the chain into a base" IS
        # deletion of superseded manifests; nothing needs rewriting.
        # With a cadence set, the manifest directory holds at most
        # ~vacuum_every + vacuum_keep_last files regardless of how many
        # batches the table has absorbed. None = manual vacuum only.
        self.vacuum_every = vacuum_every
        self.vacuum_keep_last = vacuum_keep_last
        os.makedirs(path, exist_ok=True)
        self._pointer = os.path.join(path, "_VERSION")
        self._manifest_dir = os.path.join(path, "_manifests")

    # -- version bookkeeping ------------------------------------------
    def version(self) -> int:
        """batch_id of the current snapshot, -1 if none applied yet."""
        try:
            with open(self._pointer) as f:
                raw = f.read()
        except FileNotFoundError:
            return -1  # fresh table
        try:
            return int(raw.strip())
        except ValueError:
            # a corrupted/truncated pointer must NOT read as "no
            # table": the next apply would rebuild from one batch and
            # flip the pointer forward, silently discarding all prior
            # state — surface it so the operator can repair the file
            raise RuntimeError(
                f"corrupted version pointer {self._pointer!r} "
                f"(contents {raw!r}); restore it to the newest "
                "committed manifest's batch id"
            ) from None

    def _manifest_path(self, batch_id: int) -> str:
        return os.path.join(self._manifest_dir, f"v-{batch_id:010d}.json")

    def _load_manifest(self, batch_id: int) -> dict[int, str]:
        """bucket id → leaf dir path (relative to the table root).

        The bucket count is a TABLE property, not a caller choice:
        loading a manifest adopts its recorded ``num_buckets`` (like a
        lakehouse table's layout metadata), so reopening an existing
        table with a different constructor value cannot mis-route keys
        — a key hashed with the wrong modulus would be merged into a
        different bucket than the one holding its stored row, leaving
        two live rows per key."""
        with open(self._manifest_path(batch_id)) as f:
            m = json.load(f)
        stored = int(m["num_buckets"])
        if stored != self.num_buckets:
            self.num_buckets = stored
        return {int(k): v for k, v in m["buckets"].items()}

    def _write_manifest(
        self, batch_id: int, buckets: dict[int, str]
    ) -> None:
        os.makedirs(self._manifest_dir, exist_ok=True)
        tmp = self._manifest_path(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "batch_id": batch_id,
                    "num_buckets": self.num_buckets,
                    "buckets": {str(k): v for k, v in buckets.items()},
                },
                f,
                sort_keys=True,
            )
        os.replace(tmp, self._manifest_path(batch_id))

    def _bucket_expr(self):
        return F.pmod(eq_key(F.col(self.key_col)), F.lit(self.num_buckets))

    def _data_dir(self, batch_id: int) -> str:
        return f"d-{batch_id:010d}"

    def _read_leaves(self, leaves: list[str]) -> DataFrame:
        # mergeSchema: leaves written before a schema-evolving batch
        # lack the new columns (they read as null) — without it the
        # scan would pin one leaf's schema and silently drop columns
        return self.spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(self.path, p) for p in leaves]
        )

    def _raw(self) -> DataFrame | None:
        """Full snapshot INCLUDING tombstones (merge input)."""
        v = self.version()
        if v < 0:
            return None
        leaves = list(self._load_manifest(v).values())
        return self._read_leaves(leaves) if leaves else None

    def current(self) -> DataFrame | None:
        """Live rows of the current snapshot (tombstones filtered)."""
        raw = self._raw()
        if raw is None:
            return None
        return raw.where(~F.col("__deleted"))

    # -- the merge ----------------------------------------------------
    def _as_stored(self, latest: DataFrame) -> DataFrame:
        """Change rows → stored-row shape (first write / new buckets)."""
        return (
            latest.withColumn("__deleted", F.col("op") == "delete")
            .drop("op")
            .withColumnRenamed("ts", "__ts")
            .withColumnRenamed("seq", "__seq")
        )

    def apply(self, changes: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch of changes; exactly-once under replay.

        Order-aware: each stored row carries the (ts, seq) of the
        change that produced it, and an incoming change only applies if
        STRICTLY newer — a stale cross-batch straggler (or a replayed
        older change) can never overwrite fresher state, the invariant
        a CDC applier must keep once batches can interleave with
        out-of-order capture. Deletes leave TOMBSTONES (the row stays
        with __deleted=true and its (ts, seq)): without them, a stale
        upsert arriving after the delete would see no stored row and
        resurrect the key — caught by the multi-seed property test.
        Tombstones persist; compacting them after a retention window
        is vacuum-level policy deliberately out of scope here."""
        applied = self.version()
        if self._should_skip(batch_id, applied):
            return
        w = Window.partitionBy(self.key_col).orderBy(
            F.desc("ts"), F.desc("seq")
        )
        latest = (
            changes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

        prev = self._load_manifest(applied) if applied >= 0 else {}
        # bounded collect: the batch touches ≤ num_buckets bucket ids
        touched = sorted(
            r[0]
            for r in latest.select(self._bucket_expr().alias("b"))
            .distinct()
            .collect()
        )
        cur_leaves = [prev[b] for b in touched if b in prev]
        if not cur_leaves:
            # every touched bucket is brand new: no merge input
            merged = self._as_stored(latest)
        else:
            cur = self._read_leaves(cur_leaves)
            stored_payload = [
                c
                for c in cur.columns
                if c not in (self.key_col, "__ts", "__seq", "__deleted")
            ]
            change_payload = [
                c
                for c in latest.columns
                if c not in (self.key_col, "op", "ts", "seq")
            ]
            # SCHEMA EVOLUTION (lakehouse UPDATE SET * semantics): the
            # merged payload is the union — a column new in this batch
            # is null on previously stored rows; a stored column absent
            # from this batch keeps its stored value even when the
            # change wins (the change simply doesn't set it)
            payload = stored_payload + [
                c for c in change_payload if c not in stored_payload
            ]
            ch = latest.select(
                F.col(self.key_col).alias("__k"),
                "op",
                F.col("ts").alias("__cts"),
                F.col("seq").alias("__cseq"),
                *[F.col(c).alias(f"__new_{c}") for c in change_payload],
            )
            j = cur.join(ch, cur[self.key_col] == ch["__k"], "full_outer")
            # newer ⇔ no stored row/tombstone yet, or change (ts, seq) >
            # stored — tombstones participate, so a stale upsert loses
            # to a fresher delete
            newer = (
                F.col("__ts").isNull()
                | (F.col("__cts") > F.col("__ts"))
                | (
                    (F.col("__cts") == F.col("__ts"))
                    & (F.col("__cseq") > F.col("__seq"))
                )
            )
            take = F.coalesce(newer, F.lit(False))  # op rows only below

            def _new_val(c):
                if c in change_payload:
                    return F.col(f"__new_{c}")
                # column not in this batch: winning change keeps the
                # stored value (UPDATE SET * over the present columns)
                return F.col(c) if c in stored_payload else F.lit(None)

            def _old_val(c):
                return F.col(c) if c in stored_payload else F.lit(None)

            merged = j.select(
                F.coalesce(self.key_col, "__k").alias(self.key_col),
                *[
                    F.when(take & (F.col("op") == "upsert"), _new_val(c))
                    .otherwise(_old_val(c))
                    .alias(c)
                    for c in payload
                ],
                F.when(take, F.col("__cts"))
                .otherwise(F.col("__ts"))
                .alias("__ts"),
                F.when(take, F.col("__cseq"))
                .otherwise(F.col("__seq"))
                .alias("__seq"),
                F.when(take, F.col("op") == "delete")
                .otherwise(F.coalesce("__deleted", F.lit(False)))
                .alias("__deleted"),
            )
        self._commit(merged, batch_id, prev, touched)

    def _should_skip(self, batch_id: int, applied: int) -> bool:
        """Exactly-once replay policy shared by every table flavor."""
        if batch_id == applied:
            return True  # Spark's crash window re-delivers the LAST batch
        if batch_id < applied:
            # a batch id far below the pointer is NOT normal re-delivery
            # — it means a fresh checkpoint (new query numbering from 0)
            # was pointed at an existing table; silently skipping would
            # discard genuinely new change data (the Delta txn pattern
            # keys idempotence on (appId, batchId) for this reason)
            if not self.allow_full_replay:
                raise RuntimeError(
                    f"batch {batch_id} is below the applied version "
                    f"{applied}: this table was built by another query/"
                    "checkpoint. Re-point the new query at a fresh "
                    "table path, or pass allow_full_replay=True if you "
                    "are deliberately re-draining the SAME source into "
                    "the same table (e.g. after wiping the commit log)."
                )
            return True
        return False

    def _commit(
        self,
        merged: DataFrame,
        batch_id: int,
        prev: dict[int, str],
        touched: list[int],
    ) -> None:
        """Write touched-bucket leaves, the manifest, and the pointer —
        the data/manifest/pointer commit sequence shared by every table
        flavor (UpsertTable, Scd2Table)."""
        # write ONLY the touched buckets' new leaves; one shuffle keyed
        # by bucket so each leaf gets a compact file set
        ddir = self._data_dir(batch_id)
        (
            merged.withColumn("__bucket", self._bucket_expr())
            .repartition("__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(os.path.join(self.path, ddir))
        )
        # manifest: previous leaves for untouched buckets (the files
        # are byte-identical — never read, never rewritten), new
        # leaves for touched ones
        buckets = dict(prev)
        for b in touched:
            leaf = os.path.join(ddir, f"__bucket={b}")
            if os.path.isdir(os.path.join(self.path, leaf)):
                buckets[b] = leaf
            else:  # pragma: no cover - merge always emits each
                buckets.pop(b, None)  # touched key's row or tombstone
        self._write_manifest(batch_id, buckets)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, self._pointer)  # atomic version flip
        if (
            self.vacuum_every
            and batch_id > 0
            and batch_id % self.vacuum_every == 0
        ):
            # idempotent under crash-window replay (a re-run finds the
            # manifests already dropped and no unreferenced leaves);
            # never touches the current manifest, so the NEXT apply's
            # merge input is always intact
            self.vacuum(keep_last=self.vacuum_keep_last)

    def writer(self):
        """foreachBatch callback: ``writeStream.foreachBatch(t.writer())``."""

        def write(batch_df: DataFrame, batch_id: int) -> None:
            self.apply(batch_df, batch_id)

        return write

    # -- retention / time travel --------------------------------------
    def versions(self) -> list[int]:
        """All retained snapshot batch ids, ascending."""
        if not os.path.isdir(self._manifest_dir):
            return []
        out = []
        for d in os.listdir(self._manifest_dir):
            if d.startswith("v-") and d.endswith(".json"):
                try:
                    out.append(int(d[2:-5]))
                except ValueError:  # pragma: no cover - foreign file
                    pass
        return sorted(out)

    def read_version(self, batch_id: int) -> DataFrame:
        """Time-travel read of a retained snapshot (live rows only)."""
        if not os.path.exists(self._manifest_path(batch_id)):
            raise FileNotFoundError(
                f"snapshot v-{batch_id} not retained (have "
                f"{self.versions()}); raise vacuum keep_last"
            )
        leaves = list(self._load_manifest(batch_id).values())
        return self._read_leaves(leaves).where(~F.col("__deleted"))

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` manifests (never the
        current one), then garbage-collect leaf dirs no retained
        manifest references — leaves are SHARED across versions, so
        retention works at file level, exactly like lakehouse vacuum.
        Returns the batch ids whose manifests were removed."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        cur = self.version()
        drop = [v for v in vs[:-keep_last] if v != cur]
        for v in drop:
            os.remove(self._manifest_path(v))
        referenced = {
            leaf
            for v in self.versions()
            for leaf in self._load_manifest(v).values()
        }
        for d in sorted(os.listdir(self.path)):
            if not d.startswith("d-"):
                continue
            full = os.path.join(self.path, d)
            for leaf in sorted(os.listdir(full)):
                rel = os.path.join(d, leaf)
                if leaf.startswith("__bucket=") and rel not in referenced:
                    shutil.rmtree(os.path.join(self.path, rel))
            if not any(
                e.startswith("__bucket=") for e in os.listdir(full)
            ):
                shutil.rmtree(full)
        return drop
