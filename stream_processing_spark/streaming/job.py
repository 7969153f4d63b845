"""The RainStorm job contract on Structured Streaming (SURVEY.md §3.1).

Reference lifecycle: ``Rainstorm <op1> <op2> <input> <output> <num_tasks>
[stateful]`` → leader schedules 3 stages × n tasks with ack/dedup/replay
machinery (src/Streaming/leader.py:155-208, worker.py throughout). All
seven scheduling/delivery steps collapse into ONE Structured Streaming
query here:

- source        = file stream over a directory of micro-files (the
                  scale-correct analogue of the reference's tail-read,
                  SURVEY.md §7.3: Spark's file source tracks new files,
                  not appended bytes)
- operators     = the same DataFrame→DataFrame transforms the batch
                  engine uses (operators/transforms.py) — identical code
                  runs batch and streaming
- partitioning  = the shuffle Spark inserts for stateful aggs replaces
                  sha1(key) % num_tasks routing (worker.py:255-262)
- exactly-once  = checkpoint + file-source offsets + idempotent
                  batchId-keyed sink replace acks + dedup dicts + log
                  replay (worker.py:81-186, 327-368)
- update mode   = the reference's "emit every aggregate update, no
                  barrier" semantics (reports/Streaming.pdf p.3)

Sink format is the reference's ``key:value`` lines (leader.py:272).

Starting and draining are written once, here, for every stream in the
package (StreamJob and the streaming registry alike):

- ``start_with_confs`` is the only place that sets session confs around
  a query start. A streaming query captures its confs when it starts
  (shuffle partitions become the state-partition count in the
  checkpoint; the state-store provider is pinned likewise), so the pins
  are set for the ``start()`` call only and the session is restored.
- ``await_drained`` is the only drain: wait for an availableNow query
  to finish, and stop it and raise if it does not.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

Op = Callable[[DataFrame], DataFrame]

STATE_STORE_KEY = "spark.sql.streaming.stateStore.providerClass"
STATE_STORE_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming."
    "state.HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming."
    "state.RocksDBStateStoreProvider",
}


def start_with_confs(
    writer: DataStreamWriter, spark: SparkSession, confs: Mapping[str, str]
) -> StreamingQuery:
    """Start ``writer`` with ``confs`` set on the session, then restore
    each key: a key that was unset before is unset again.

    The window mutates session confs, so CONCURRENT starts on one
    session could observe each other's pins. Start each concurrent
    query from its own ``spark.newSession()``."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        return writer.start()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def await_drained(q: StreamingQuery, timeout_sec: int = 300) -> None:
    """Wait for a draining (availableNow) query to terminate; a query
    still active after ``timeout_sec`` is stopped and TimeoutError
    raised."""
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"stream did not drain in {timeout_sec} s")


class StreamJob:
    """A streaming pipeline: source dir → ops → key:value output dir.

    stateful=False ⇒ append mode (each input row contributes output rows
    exactly once). stateful=True ⇒ the last op must produce an aggregated
    frame; every per-batch update is emitted (reference update-mode
    semantics), keyed writes are batchId-idempotent.
    """

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        output_dir: str,
        ops: list[Op],
        stateful: bool = False,
        key_col: str = "key",
        value_col: str = "value",
        checkpoint_dir: str | None = None,
        max_files_per_trigger: int | None = None,
        state_store: str | None = None,
        source: str = "files",
        max_bytes_per_trigger: int | None = None,
        max_source_file_bytes: int | None = None,
        num_tasks: int | None = None,
    ):
        self.spark = spark
        self.input_dir = input_dir
        self.output_dir = output_dir
        self.ops = ops
        self.stateful = stateful
        self.key_col = key_col
        self.value_col = value_col
        self.checkpoint_dir = checkpoint_dir or os.path.join(output_dir, "_checkpoint")
        self.max_files_per_trigger = max_files_per_trigger
        self.max_bytes_per_trigger = max_bytes_per_trigger
        self.max_source_file_bytes = max_source_file_bytes
        if state_store is not None and state_store not in STATE_STORE_PROVIDERS:
            raise ValueError(
                f"state_store must be None, 'hdfs' or 'rocksdb'; got "
                f"{state_store!r}"
            )
        self.state_store = state_store
        if source not in ("files", "tail"):
            raise ValueError(f"source must be 'files' or 'tail'; got {source!r}")
        self.source = source
        self.num_tasks = num_tasks

    # ------------------------------------------------------------------
    def _source(self) -> DataFrame:
        if self.source == "tail":
            # the literal tail-one-growing-file shape (reference
            # worker.py:503-511) on the first-class connector: record
            # id "<file>:<byte offset>" is stable under parallel
            # catch-up splits AND replay — strictly stronger than the
            # reference's filename:linenumber (worker.py:512-517).
            from stream_processing_spark.sources.pyds import register

            register(self.spark)
            if self.max_files_per_trigger is not None:
                raise ValueError(
                    "max_files_per_trigger applies to the directory "
                    "file source; the tail source's per-trigger bound "
                    "is max_bytes_per_trigger — use that instead"
                )
            if self.max_source_file_bytes is not None:
                raise ValueError(
                    "max_source_file_bytes guards the directory "
                    "micro-file source; the tail source splits files "
                    "by byte range and needs no size cap — drop the "
                    "option (use max_bytes_per_trigger for admission "
                    "control)"
                )
            reader = self.spark.readStream.format("linetail").option(
                "path", self.input_dir
            )
            if self.max_bytes_per_trigger is not None:
                # backpressure: the analogue of the reference's bounded
                # send queues (worker.py:221) — each trigger admits at
                # most this many bytes per tailed file
                reader = reader.option(
                    "max_bytes_per_trigger", self.max_bytes_per_trigger
                )
            return (
                reader.load()
                .select(
                    F.concat_ws(":", F.col("file"), F.col("offset")).alias(
                        "key"
                    ),
                    F.col("value"),
                )
            )
        if self.max_bytes_per_trigger is not None:
            raise ValueError(
                "max_bytes_per_trigger applies to the tail source; the "
                "directory file source's per-trigger bound is "
                "max_files_per_trigger — use that instead"
            )
        reader = self.spark.readStream.format("text").option("wholetext", "true")
        if self.max_files_per_trigger:
            # backpressure: the analogue of the reference's bounded send
            # queues (worker.py:221)
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        df = reader.load(self.input_dir)
        # source identity "<filename>:<linenumber>" — the reference's
        # EXACT record id (worker.py:512-517), and deterministic across
        # micro-batch replays (a replayed batch re-reads the same files
        # and numbers the same lines), so replay is record-identical, not
        # merely set-idempotent. Row-order functions are rejected on
        # streaming frames, so the line number comes from reading each
        # micro-file WHOLE and posexploding its lines (all JVM-side).
        # This pins one row per file pre-explode — fine for the
        # directory-of-micro-files shape this source documents (§7.3),
        # where files are small by construction. Because "small by
        # construction" is a contract, not a property, it is ENFORCED:
        # a file above max_source_file_bytes fails the batch with an
        # error naming the escape hatch (the linetail connector splits
        # large/growing files by byte range instead of one-row-per-
        # file). length() counts chars; for the ASCII-ish log shape
        # this guards, that equals bytes to within the encoding.
        limit = (
            self.max_source_file_bytes
            if self.max_source_file_bytes is not None
            else 64 * 1024 * 1024
        )
        guard = F.when(
            F.length("value") > F.lit(limit),
            F.raise_error(
                F.concat(
                    F.lit(
                        "streaming source file exceeds "
                        f"max_source_file_bytes={limit}: "
                    ),
                    F.input_file_name(),
                    F.lit(
                        " — route large/growing files through the "
                        "linetail connector (source='tail') instead of "
                        "the directory-of-micro-files source"
                    ),
                )
            ),
        ).otherwise(F.col("value"))
        df = df.withColumn("value", guard)
        lines = F.split(F.col("value"), "\n")
        # a trailing newline yields one empty trailing element — drop it
        # (interior empty lines are real and kept, matching read.text)
        n_lines = F.size(lines) - F.when(
            F.element_at(lines, -1) == "", F.lit(1)
        ).otherwise(F.lit(0))
        return (
            df.select(
                F.input_file_name().alias("__file"),
                F.posexplode(F.slice(lines, 1, n_lines)).alias("__pos", "value"),
            )
            .select(
                F.concat_ws(":", F.col("__file"), F.col("__pos") + 1).alias("key"),
                F.col("value"),
            )
        )

    def _transformed(self) -> DataFrame:
        df = self._source()
        for op in self.ops:
            df = op(df)
        return df

    def _write_batch(self, batch: DataFrame, batch_id: int) -> None:
        out = batch.select(
            F.concat_ws(
                ":", F.col(self.key_col).cast("string"), F.col(self.value_col).cast("string")
            ).alias("value")
        )
        # one sub-directory per micro-batch: replayed batches overwrite
        # their own directory instead of duplicating output (idempotence
        # without the reference's dedup dicts)
        out.write.mode("overwrite").text(
            os.path.join(self.output_dir, f"batch-{batch_id:010d}")
        )

    def start(
        self,
        available_now: bool = True,
        processing_time: str | None = None,
    ) -> StreamingQuery:
        """Start the query. ``available_now=True`` drains what exists and
        stops (the test/batch-parity mode). ``processing_time`` (e.g.
        "1 second") runs CONTINUOUSLY — the reference's actual operating
        mode (src/Streaming/worker.py:503-511 tails the source forever):
        the file source picks up files that arrive while the query runs,
        firing a micro-batch per interval.

        ``state_store="rocksdb"`` swaps the keyed-state backend for
        RocksDBStateStoreProvider: per-key state lives on executor
        local disk (SST files, changelog-checkpointed to the query
        checkpoint) instead of the default HDFS-backed in-memory map —
        the required backend once keyed state outgrows executor heap
        (100 TB-scale running aggregations / dedup sets).

        ``num_tasks`` is the reference's per-stage task count: it pins
        ``spark.sql.shuffle.partitions`` for the start, so the stateful
        stage's shuffle width (and state-partition count) is captured
        into the checkpoint. Both pins go through start_with_confs; the
        session keeps its own values."""
        df = self._transformed()
        writer = (
            df.writeStream.foreachBatch(self._write_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("update" if self.stateful else "append")
        )
        if processing_time is not None:
            writer = writer.trigger(processingTime=processing_time)
        elif available_now:
            writer = writer.trigger(availableNow=True)
        confs = {}
        if self.num_tasks is not None:
            confs["spark.sql.shuffle.partitions"] = str(self.num_tasks)
        if self.state_store is not None:
            confs[STATE_STORE_KEY] = STATE_STORE_PROVIDERS[self.state_store]
        return start_with_confs(writer, self.spark, confs)

    def run_to_completion(self, timeout_sec: int = 300) -> None:
        await_drained(self.start(available_now=True), timeout_sec)

    # ------------------------------------------------------------------
    def read_output(self) -> DataFrame:
        """All emitted key:value lines (across batches)."""
        return self.spark.read.text(os.path.join(self.output_dir, "batch-*"))
