"""Dataset lifecycle surface — the HyDFS parity layer (SURVEY.md §2.1).

The reference implements an append-only, replicated, versioned file store
(create/append/multiappend/merge/get/ls/store — src/FileSystem/
file_system.py, bin/*.py). In a Spark-first build, replication and
durability belong to the storage layer (HDFS/S3), so what remains as
*query semantics* is the dataset lifecycle and its consistency contract:

- **create**      — fails if the dataset exists (C protocol,
                    file_system.py:119-145)
- **append**      — adds content; appends from one writer stay ordered
                    (shared.py:253-296 routes a client to one replica).
                    Lines already on the driver are written as one
                    parquet file with pyarrow, no Spark job — a local
                    write, like the reference's MemTable (mem_table.py);
                    `append_df` (the scale path) writes with Spark
- **multiappend** — concurrent appends from many writers
                    (file_system.py:247-253), one pyarrow part each
- **merge**       — compacts parts; MUST NOT change query results
                    (merge_file file_system.py:286-365 makes replicas
                    byte-identical; our invariant is multiset + per-writer
                    order equality); pyarrow streams the parts into new
                    files, no Spark job, like the reference's chunk concat
- **get**         — versioned read with client-side cache: `get_lines`
                    keeps materialized lines per (dataset id, version),
                    so an unchanged version ⇒ no re-read (shared.py:36-81,
                    ≤500 entries); a miss reads the parts with pyarrow, no
                    Spark job, and retries at the merged version if a
                    merge's swap cuts it short; `get` is the lazy Spark
                    frame over the current parts (the scale path)
- **ls / store**  — metadata listing (bin/ls.py, bin/store.py)

Order is carried AS DATA — (writer, wseq, idx) columns — not as file
order: Spark rows have no intrinsic order, so the reference's
"byte-identical after merge" becomes "identical ordered projection",
which survives any physical layout, partitioning, or compaction. At real
scale this module would sit on a table format (Delta/Iceberg) whose
commit protocol gives the same atomicity; the directory-swap here is the
single-filesystem equivalent.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

# one line: its writer, the writer's append number, its index within the
# append, its text. Every file keeps the three key columns non-null.
_ARROW_SCHEMA = pa.schema(
    [
        pa.field("writer", pa.string(), nullable=False),
        pa.field("wseq", pa.int64(), nullable=False),
        pa.field("idx", pa.int64(), nullable=False),
        pa.field("value", pa.string(), nullable=True),
    ]
)
LINE_SCHEMA = from_arrow_schema(_ARROW_SCHEMA)

# as Spark reads files back, every column nullable: both reads use it
_ARROW_READ_SCHEMA = pa.schema([f.with_nullable(True) for f in _ARROW_SCHEMA])
_READ_SCHEMA = from_arrow_schema(_ARROW_READ_SCHEMA)

# rows in a merged file's row group, which is what a merge holds in memory
_MERGE_GROUP_ROWS = 1 << 17
# merged files dictionary-encode the repeating keys; lines and indices are smaller plain
_MERGE_DICT_COLUMNS = ["writer", "wseq"]

# times a read retries after a merge swapped the dataset under it
_READ_RETRIES = 3

_CACHE_CAP = 500  # reference: bin/get_file.py:41-50 caps the client cache
# total line characters the read cache holds; a dataset larger than this
# is returned but never cached
_CACHE_CHARS = 1 << 25


def _arrow_parts(d: str, parts: list[str], schema: pa.Schema) -> pads.Dataset:
    """Part directories `parts` of `d` as one pyarrow dataset. A directory
    dataset skips names starting with "_" or ".": Spark's side files."""
    parts_ds = [pads.dataset(os.path.join(d, p), schema=schema) for p in parts]
    return pads.dataset(parts_ds, schema=schema)


class DatasetExistsError(Exception):
    pass


class DatasetNotFoundError(Exception):
    pass


class Store:
    """A dataset store rooted at a directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._lock = threading.Lock()
        # one merge at a time per dataset: a second merge must not treat
        # a live peer's __merge_tmp as a stale crash leftover
        self._merge_locks: dict[str, threading.Lock] = {}
        # name -> ((dataset id, version), lines, line characters);
        # insertion order is age
        self._cache: dict[str, tuple[tuple, tuple[str, ...], int]] = {}
        self._cache_chars = 0

    # ---------------------------------------------------------- paths
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_meta.json")

    def _read_meta(self, name: str) -> dict:
        try:
            with open(self._meta_path(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise DatasetNotFoundError(name) from None

    def _write_meta(self, name: str, meta: dict) -> None:
        tmp = self._meta_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path(name))

    def _bump(self, name: str) -> None:
        with self._lock:
            meta = self._read_meta(name)
            meta["version"] += 1
            self._write_meta(name, meta)

    # ------------------------------------------------------ lifecycle
    def create(self, name: str, lines: list[str] | None = None, writer: str = "w0") -> None:
        """Create a dataset; error if it exists (reference protocol C)."""
        d = self._dir(name)
        with self._lock:
            if os.path.exists(d):
                raise DatasetExistsError(name)
            os.makedirs(d)
            # the id tells a re-created dataset from the deleted one it
            # replaces: both reach the same version numbers
            self._write_meta(name, {"id": uuid.uuid4().hex, "version": 0, "wseq": {}})
        if lines is not None:
            self.append(name, lines, writer=writer)
        else:
            self._bump(name)

    def append(self, name: str, lines: list[str], writer: str = "w0") -> None:
        """Append driver-provided lines. Per-writer order is recorded in
        (wseq, idx); appends from different writers are unordered
        relative to each other — exactly the reference's contract.
        The lines are on the driver already, so they are written as one
        parquet file with pyarrow: no Spark job."""
        wseq = self._next_wseq(name, writer)
        n = len(lines)
        table = pa.table(
            {"writer": [writer] * n, "wseq": [wseq] * n, "idx": range(n), "value": lines},
            schema=_ARROW_SCHEMA,
        )

        def write(stage: str) -> None:
            os.makedirs(stage)
            pq.write_table(table, os.path.join(stage, "part-0.parquet"))

        self._publish_part(name, write)
        self._bump(name)

    def append_df(self, name: str, df: DataFrame, writer: str = "wdf") -> None:
        """Append a whole DataFrame with a `value` column — the scale
        path (no driver materialization)."""
        wseq = self._next_wseq(name, writer)
        out = df.select(
            F.lit(writer).alias("writer"),
            F.lit(wseq).cast("long").alias("wseq"),
            F.monotonically_increasing_id().alias("idx"),
            F.col("value").cast("string"),
        )
        self._publish_part(name, lambda stage: out.write.mode("errorifexists").parquet(stage))
        self._bump(name)

    def _next_wseq(self, name: str, writer: str) -> int:
        with self._lock:
            meta = self._read_meta(name)
            wseq = meta["wseq"].get(writer, 0)
            meta["wseq"][writer] = wseq + 1
            self._write_meta(name, meta)
        return wseq

    def _publish_part(self, name: str, write: Callable[[str], None]) -> None:
        # each append is its own parquet sub-directory: append never
        # rewrites existing bytes (the MemTable analogue), merge compacts.
        # `write` fills a STAGING directory outside the dataset dir, which
        # is published with one os.replace under the lock — a merge
        # running concurrently can therefore never observe (and trash) a
        # half-written part: parts appear in the dataset atomically. A
        # write or publish that fails leaves no staging directory behind.
        part = f"part-{time.time_ns()}-{uuid.uuid4().hex[:8]}"
        stage = os.path.join(self.root, ".staging", part)
        try:
            write(stage)
            with self._lock:
                d = self._dir(name)
                if not os.path.isdir(d):
                    raise DatasetNotFoundError(name)
                os.replace(stage, os.path.join(d, part))
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise

    def multiappend(self, name: str, payloads: dict[str, list[str]]) -> None:
        """Concurrent appends from many writers (reference protocol Q):
        one thread per writer, like bin/multiappend.py fans out VMs."""
        errs: list[Exception] = []

        def run(w: str, lines: list[str]) -> None:
            try:
                self.append(name, lines, writer=w)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [
            threading.Thread(target=run, args=(w, lns)) for w, lns in payloads.items()
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errs:
            raise errs[0]

    def merge(self, name: str, target_parts: int = 1) -> None:
        """Compact all append parts into at most `target_parts` files. The
        invariant (tested): the ordered projection of the dataset is
        IDENTICAL before and after — merge changes layout, never content.
        pyarrow streams the rows, unsorted (order is data, readers sort),
        into coalesced row groups: no Spark job.

        Concurrent-append safe: the rewrite runs OUTSIDE the lock over a
        snapshot of part names; inside the lock, any part-* created after
        the snapshot is moved verbatim into the merged directory and meta
        is RE-READ before the swap, so late appends are neither lost nor
        their wseq counters rolled back. The new directory gets its meta
        written before the swap, so a reader never observes a dataset
        directory without _meta.json.
        """
        d = self._dir(name)
        tmp = d + ".__merge_tmp"
        trash = d + ".__trash"
        with self._lock:
            mlock = self._merge_locks.setdefault(name, threading.Lock())
        with mlock:
            self._merge_locked(name, d, tmp, trash, target_parts)

    def _merge_locked(self, name: str, d: str, tmp: str, trash: str, target_parts: int) -> None:
        with self._lock:
            snapshot = self._parts(name)
            # a crash between the tmp write and the swap can leave either
            # directory behind; both are safe to discard (tmp is a partial
            # rewrite of parts that still live in `d`, trash is pre-swap)
            for stale in (tmp, trash):
                if os.path.isdir(stale):
                    shutil.rmtree(stale)
        os.makedirs(tmp)
        src = _arrow_parts(d, snapshot, _ARROW_SCHEMA)
        if rows := src.count_rows():  # an empty dataset gets no part
            per_file = math.ceil(rows / target_parts)
            group = min(per_file, _MERGE_GROUP_ROWS)
            fmt = pads.ParquetFileFormat()
            pads.write_dataset(
                src, os.path.join(tmp, f"part-{time.time_ns()}-merged"), format=fmt,
                file_options=fmt.make_write_options(use_dictionary=_MERGE_DICT_COLUMNS),
                basename_template="part-{i}.parquet", max_rows_per_file=per_file,
                min_rows_per_group=group, max_rows_per_group=group,
            )
        with self._lock:
            meta = self._read_meta(name)  # fresh: keeps post-snapshot wseq
            snapshot_set = set(snapshot)
            for p in os.listdir(d):
                if p.startswith("part-") and p not in snapshot_set:
                    os.replace(os.path.join(d, p), os.path.join(tmp, p))
            with open(os.path.join(tmp, "_meta.json"), "w") as f:
                json.dump({**meta, "version": meta["version"] + 1}, f)
            os.replace(d, trash)
            os.replace(tmp, d)
            shutil.rmtree(trash)

    # ----------------------------------------------------------- reads
    def _parts(self, name: str) -> list[str]:
        """The names of the dataset's part directories, sorted."""
        d = self._dir(name)
        if not os.path.isdir(d):
            raise DatasetNotFoundError(name)
        return sorted(p for p in os.listdir(d) if p.startswith("part-"))

    def get(self, name: str) -> DataFrame:
        """The dataset as a lazy frame over its current parts."""
        d, parts = self._dir(name), self._parts(name)
        if not parts:
            return self.spark.createDataFrame([], _READ_SCHEMA)
        df = self.spark.read.schema(_READ_SCHEMA).parquet(*[os.path.join(d, p) for p in parts])
        # Spark lists a path that vanishes after its existence check as
        # empty, without an error: a part that a merge's swap moves away
        # in that instant would silently drop out of the read. Every part
        # holds at least one file, so each must show among the input files.
        listed = {f.rsplit("/", 2)[-2] for f in df.inputFiles()}
        missing = [p for p in parts if p not in listed]
        if missing:
            raise FileNotFoundError(os.path.join(d, missing[0]))
        return df

    def get_lines(self, name: str) -> list[str]:
        """Materialized lines in the canonical (writer, wseq, idx) order.

        Versioned read (reference S7 semantics — 'version unchanged ⇒ no
        transfer'): while the dataset's id and version are unchanged the
        cached lines are returned and no part file is opened. The key is
        read BEFORE the scan, so a scan racing a write can only label
        newer lines with an older key — one extra miss, never a stale
        read. A miss reads the parts with pyarrow and sorts in Arrow,
        which compares strings by UTF-8 bytes, as Spark does. A merge
        that swaps the dataset during a miss trashes the parts the scan
        listed; the scan then fails, and is retried at the key the merge
        published (a failure at an unmoved key is raised).
        """
        key = self._key(name)
        for attempt in range(_READ_RETRIES + 1):
            hit = self._cache.get(name)
            if hit is not None and hit[0] == key:
                return list(hit[1])
            try:
                parts = _arrow_parts(self._dir(name), self._parts(name), _ARROW_READ_SCHEMA)
                table = parts.to_table()
                break
            except (OSError, DatasetNotFoundError):
                moved = self._key(name)
                if moved == key or attempt == _READ_RETRIES:
                    raise
                key = moved
        table = table.sort_by([(c, "ascending") for c in ("writer", "wseq", "idx")])
        lines = tuple(table.column("value").to_pylist())
        self._remember(name, key, lines)
        return list(lines)

    def _key(self, name: str) -> tuple:
        """The read cache's key for `name`: (dataset id, version). Between
        merge's two renames the dataset has no _meta.json; a read landing
        there waits for the swap instead of reporting the dataset gone."""
        for attempt in range(_READ_RETRIES + 1):
            try:
                meta = self._read_meta(name)
                return (meta.get("id"), meta["version"])
            except DatasetNotFoundError:
                d = self._dir(name)
                swapping = os.path.isdir(d + ".__merge_tmp") or os.path.isdir(d)
                if attempt == _READ_RETRIES or not swapping:
                    raise
                time.sleep(0.005)

    def _remember(self, name: str, key: tuple, lines: tuple[str, ...]) -> None:
        size = sum(len(ln) for ln in lines if ln)
        with self._lock:
            self._forget(name)
            if size > _CACHE_CHARS:
                return
            self._cache[name] = (key, lines, size)
            self._cache_chars += size
            while len(self._cache) > _CACHE_CAP or self._cache_chars > _CACHE_CHARS:
                self._forget(next(iter(self._cache)))

    def _forget(self, name: str) -> None:
        """Drop a cache entry; the caller holds ``_lock``."""
        entry = self._cache.pop(name, None)
        if entry is not None:
            self._cache_chars -= entry[2]

    def version(self, name: str) -> int:
        return self._read_meta(name)["version"]

    def ls(self, name: str) -> dict:
        """Dataset metadata: version, part files, total bytes (the
        replica-listing analogue of reference `ls`)."""
        d, parts = self._dir(name), self._parts(name)
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(d)
            for f in fs
        )
        return {"name": name, "version": self.version(name), "parts": parts, "bytes": size}

    def datasets(self) -> list[str]:
        """All dataset names (reference `store`)."""
        return sorted(
            p
            for p in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, p))
            and not p.startswith(".")
            and not p.endswith("__trash")
            and not p.endswith("__merge_tmp")
        )

    def delete(self, name: str) -> None:
        with self._lock:
            d = self._dir(name)
            if not os.path.isdir(d):
                raise DatasetNotFoundError(name)
            shutil.rmtree(d)
            self._forget(name)
