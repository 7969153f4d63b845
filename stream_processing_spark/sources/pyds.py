"""Pure-Python Spark DataSource that tails append-only line files
(Spark 4 Python Data Source API): ``StreamJob(source="tail")``'s source.

The reference's unbounded source is a tail read over ONE growing file
(src/Streaming/worker.py:503-511). ``streaming/job.py``'s default
source and ``streaming/tailer.py`` express it on the built-in file
source; this module expresses it as a first-class custom stream reader
on the public Python Data Source API — the extension point Spark 4
added precisely so sources with semantics the built-ins lack (here:
byte-offset record identity and single-file tailing) plug into
Structured Streaming instead of living outside the engine. Batch line
scans stay with ``spark.read.text`` (sources/grep.py), and the
exactly-once ``key:value`` sink is StreamJob's.

Design notes (100 TB stance):

- **Record identity is (file, byte offset)** — stronger than the
  reference's ``filename:linenumber`` (worker.py:512-517): offsets are
  stable under split-parallel reads, line numbers are not.
- **The stream reader's offsets are byte offsets** snapped to the last
  complete line (partial-line holdback, same as streaming/tailer.py).
- **A backlog drains as MANY byte-range splits** in one micro-batch,
  with first-byte line ownership and partial-line discard — the
  TextInputFormat split rule — so catch-up after downtime is
  cluster-parallel, not a serial tail. The driver only ever stats and
  globs.

The append-only contract matches the reference (HyDFS files only ever
grow between merges); truncation/rotation of the tailed file raises —
rotation-tolerant tailing stays with streaming/tailer.py's epoch
scheme.
"""

from __future__ import annotations

import glob as _glob
import os
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

_SCHEMA = "file string, offset bigint, value string"


@dataclass
class _Split(InputPartition):
    """One byte range of one file; owns lines whose first byte is in
    [start, end)."""

    file: str
    start: int
    end: int


def _iter_lines(path: str, start: int, end: int):
    """Yield (offset, line) for lines owned by [start, end), reading
    past ``end`` to finish the last owned line (TextInputFormat rule:
    a line belongs to the split containing its first byte)."""
    with open(path, "rb") as f:
        if start > 0:
            # the line containing byte start-1 belongs upstream; skip
            # its remainder. If start-1 is the previous line's '\n',
            # this consumes exactly that newline and lands on start.
            f.seek(start - 1)
            f.readline()
        while True:
            pos = f.tell()
            if pos >= end:
                break
            raw = f.readline()
            if not raw:
                break
            text = raw[:-1] if raw.endswith(b"\n") else raw
            yield pos, text.decode("utf-8", errors="replace")


def _split_ranges(size: int, split_bytes: int) -> list[tuple[int, int]]:
    if size <= 0:
        return []
    step = max(1, split_bytes)
    return [(s, min(s + step, size)) for s in range(0, size, step)]


_ARROW_BATCH_ROWS = 8192


def _iter_record_batches(path: str, start: int, end: int):
    """Yield pyarrow RecordBatches of (file, offset, value) for the
    lines owned by [start, end). The Python Data Source API accepts
    RecordBatch iterators directly — one Arrow batch per ~8k lines
    crosses the worker boundary as columns, not per-row pickled tuples
    (measured ~5x the rows/s of the tuple path on a 1M-line file)."""
    import pyarrow as pa

    offs: list[int] = []
    vals: list[str] = []
    for pos, line in _iter_lines(path, start, end):
        offs.append(pos)
        vals.append(line)
        if len(offs) >= _ARROW_BATCH_ROWS:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([path] * len(offs), pa.string()),
                    pa.array(offs, pa.int64()),
                    pa.array(vals, pa.string()),
                ],
                names=["file", "offset", "value"],
            )
            offs, vals = [], []
    if offs:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([path] * len(offs), pa.string()),
                pa.array(offs, pa.int64()),
                pa.array(vals, pa.string()),
            ],
            names=["file", "offset", "value"],
        )


def _snap_to_line_end(path: str, size: int) -> int:
    """Largest offset <= size that ends a complete line (scans
    backwards in chunks; 0 if no newline yet)."""
    chunk = 64 * 1024
    hi = size
    with open(path, "rb") as f:
        while hi > 0:
            lo = max(0, hi - chunk)
            f.seek(lo)
            buf = f.read(hi - lo)
            cut = buf.rfind(b"\n")
            if cut >= 0:
                return lo + cut + 1
            hi = lo
    return 0


def _next_line_end(path: str, frm: int, upto: int) -> int:
    """Smallest line-end offset > frm, scanning forward; ``upto`` (a
    known line end) if no newline before it."""
    chunk = 64 * 1024
    with open(path, "rb") as f:
        pos = frm
        while pos < upto:
            f.seek(pos)
            buf = f.read(min(chunk, upto - pos))
            if not buf:  # pragma: no cover - concurrent truncate
                break
            i = buf.find(b"\n")
            if i >= 0:
                return pos + i + 1
            pos += len(buf)
    return upto


def _cap_advance(path: str, base: int, cap: int, full: int) -> int:
    """Bound one trigger's offset advance to ~``cap`` bytes past
    ``base``, preserving the complete-lines-only invariant: the largest
    line end within the budget, or — liveness when a single line
    exceeds the budget — exactly the next complete line."""
    candidate = base + cap
    if candidate >= full:
        return full
    bounded = _snap_to_line_end(path, candidate)
    if bounded > base:
        return bounded
    return _next_line_end(path, candidate, full)


class _LineTailStreamReader(DataSourceStreamReader):
    """Tail append-only files; offsets are consumed-prefix byte counts
    (complete lines only), checkpointed by Spark like any other source
    offset — the replayable analogue of the reference's
    seek-to-saved-offset loop (worker.py:503-511).

    Two modes by ``path``:
    - a concrete file → single-file tail (offset dict ``{"offset": n}``);
    - a GLOB → FLEET tail: every matching file is tailed concurrently
      under one query, with per-file offsets (``{"files": {path: n}}``)
      — the reference's actual cluster shape, one growing
      ``machine.{id}.log`` per node (src/LogQuerier/server.py:30),
      as ONE streaming source. Files that appear later match the glob
      and join the fleet from offset 0 (tail -F across a fleet)."""

    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("linetail requires a path")
        # an existing path is a concrete file regardless of what
        # characters its name contains ('[', '?', '*' are legal on
        # POSIX); otherwise glob metachars select fleet mode
        self._multi = not os.path.exists(self._path) and any(
            c in self._path for c in "*?["
        )
        allow_missing = (
            options.get("allow_missing", "false").lower() == "true"
        )
        if not allow_missing:
            # a typo'd path/glob would otherwise tail an empty stream
            # forever, looking healthy while reading nothing;
            # tail -F-style wait-for-creation is available explicitly
            if self._multi and not _glob.glob(self._path):
                raise FileNotFoundError(
                    f"linetail glob {self._path!r} matches no files; "
                    "pass option('allow_missing', 'true') to wait for "
                    "the fleet to appear"
                )
            if not self._multi and not os.path.exists(self._path):
                raise FileNotFoundError(
                    f"linetail source {self._path!r} does not exist; "
                    "pass option('allow_missing', 'true') to wait for "
                    "it to appear"
                )
        self._split_bytes = int(options.get("split_bytes", 32 * 1024 * 1024))
        self._last: dict[str, int] = {}  # per-file monotonicity guard
        # per-trigger backpressure (reference analogue: bounded send
        # queues, worker.py:221): each trigger advances each file's
        # offset by at most this many bytes (snapped to a line end; a
        # single oversized line still advances by that one line).
        # STEADY-STATE bound: the engine calls latestOffset() before
        # the reader can see any start offset (first call precedes
        # initialOffset; restarts never replay it), so the FIRST
        # planned micro-batch after any start/restart admits the whole
        # existing backlog; every subsequent trigger is byte-bounded.
        # Capping the blind first call against base 0 would break
        # restarts (end < checkpointed start trips the shrink guard),
        # so the uncapped first batch is deliberate, not an oversight.
        mbt = options.get("max_bytes_per_trigger")
        self._max_bytes = int(mbt) if mbt is not None else None
        if self._max_bytes is not None and self._max_bytes <= 0:
            raise ValueError("max_bytes_per_trigger must be positive")
        self._base: dict[str, int] = {}  # last planned end per file
        self._primed = False  # True once base offsets are trustworthy

    def _snap(self, path: str) -> int:
        try:
            size = os.path.getsize(path)
        except FileNotFoundError:
            size = 0
        snapped = _snap_to_line_end(path, size) if size else 0
        if snapped < self._last.get(path, 0):
            raise RuntimeError(
                f"{path} shrank ({snapped} < {self._last[path]}): the "
                "linetail source requires append-only files; rotated "
                "logs need the epoch-aware FileTailer bridge "
                "(streaming/tailer.py)"
            )
        self._last[path] = max(self._last.get(path, 0), snapped)
        return snapped

    def initialOffset(self) -> dict:
        self._primed = True  # fresh query: every file's base starts 0
        return {"files": {}} if self._multi else {"offset": 0}

    def _bounded(self, path: str, full: int) -> int:
        if self._max_bytes is None:
            return full
        base = self._base.get(path)
        if base is None:
            if not self._primed:
                return full  # restart: base unknown until partitions()
            base = 0  # file newly joined the fleet: cap from 0
        if full <= base:
            return full
        return _cap_advance(path, base, self._max_bytes, full)

    def latestOffset(self) -> dict:
        if not self._multi:
            end = self._bounded(self._path, self._snap(self._path))
            self._base[self._path] = end
            return {"offset": end}
        ends = {
            f: self._bounded(f, self._snap(f))
            for f in sorted(_glob.glob(self._path))
            if os.path.isfile(f)  # a dir can match the glob
        }
        self._base.update(ends)
        return {"files": ends}

    def _file_splits(self, path: str, s: int, e: int) -> list[_Split]:
        if e < s:
            # a restarted reader has no in-memory guard; the
            # checkpointed start exposes the shrink here instead
            raise RuntimeError(
                f"{path} shrank below the checkpointed offset "
                f"({e} < {s}): the linetail source requires append-only "
                "files; rotated logs need the epoch-aware FileTailer "
                "bridge (streaming/tailer.py)"
            )
        self._last[path] = max(self._last.get(path, 0), e)
        if e == s:
            return []
        # a large catch-up range fans out into parallel splits; the
        # first-byte ownership rule keeps them disjoint and complete
        return [
            _Split(path, s + rs, s + re_)
            for rs, re_ in _split_ranges(e - s, self._split_bytes)
        ]

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        if "files" in end:
            prev = start.get("files", {})
            vanished = sorted(set(prev) - set(end["files"]))
            if vanished:
                # a tailed file no longer matches the glob: rotation or
                # deletion. Silently dropping its offset would re-emit a
                # recreated file's bytes under already-used (file,
                # offset) identities — the fleet must fail as loudly as
                # single-file mode does on shrink (start comes from the
                # CHECKPOINT, so this guard survives restarts)
                raise RuntimeError(
                    f"tailed files vanished from the fleet: {vanished}; "
                    "the linetail source requires append-only files — "
                    "rotated logs need the epoch-aware FileTailer "
                    "bridge (streaming/tailer.py)"
                )
            out: list[_Split] = []
            for f, e in end["files"].items():
                out += self._file_splits(f, int(prev.get(f, 0)), int(e))
                # authoritative (checkpoint-fed) base for the byte cap
                self._base[f] = max(self._base.get(f, 0), int(e))
            self._primed = True
            return out or [_Split(self._path, 0, 0)]
        out = self._file_splits(
            self._path, int(start["offset"]), int(end["offset"])
        )
        self._base[self._path] = max(
            self._base.get(self._path, 0), int(end["offset"])
        )
        self._primed = True
        return out or [_Split(self._path, 0, 0)]

    def read(self, partition: _Split) -> Iterator["object"]:
        if partition.end <= partition.start:
            return
        yield from _iter_record_batches(
            partition.file, partition.start, partition.end
        )

    def commit(self, end: dict) -> None:
        pass


class LineTailDataSource(DataSource):
    """``spark.readStream.format("linetail")`` after
    ``spark.dataSource.register(LineTailDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "linetail"

    def schema(self) -> str:
        return _SCHEMA

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _LineTailStreamReader(self.options)


def register(spark) -> None:
    """Register the connector on ``spark``; no session conf is touched."""
    spark.dataSource.register(LineTailDataSource)
