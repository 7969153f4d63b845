"""The RainStorm job-submission contract (SURVEY.md §3.1).

Reference CLI: ``Rainstorm <op1_exe> <op2_exe> <input> <output>
<num_tasks> [stateful]`` (src/Streaming/Rainstorm.py:9-36), where the op
"executables" take CLI args (shlex-split, Rainstorm.py:20-24) and speak
the {key,value} JSON-line protocol. Here an op spec is a string
``"<name> <args…>"`` resolved against OP_LIBRARY to a DataFrame
transform; the job is a StreamJob (one Structured Streaming query
replaces leader scheduling, §3.1 steps 2-7).

num_tasks maps to ``spark.sql.shuffle.partitions`` — the reference's
per-stage task count is Spark's shuffle parallelism (leader.py:155-208
schedules num_tasks workers per stage; the shuffle for the stateful
stage is exactly where that parallelism matters). It is a StreamJob
field pinned only for the query start (streaming/job.py
start_with_confs), so it is captured into the query's checkpoint as
the state-partition count and the session's own setting is untouched.
"""

from __future__ import annotations

import shlex
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_spark.operators import transforms as T
from stream_processing_spark.streaming.job import StreamJob

Op = Callable[[DataFrame], DataFrame]


def _filter_pattern(pattern: str) -> Op:
    # T1: tests/sample1_op1.py — regex filter on the line
    return lambda df: T.filter_pattern(df, pattern)


def _select_columns(*idx: str) -> Op:
    # T2: tests/sample1_op2.py — project CSV columns; first becomes key,
    # rest join into the value
    indices = [int(i) for i in idx]
    names = ["key"] + [f"v{i}" for i in indices[1:]]

    def op(df: DataFrame) -> DataFrame:
        out = T.select_columns(df, *indices, names=names)
        return out.select(
            "key", F.concat_ws(",", *[c for c in names[1:]]).alias("value")
        )

    return op


def _filter_eq(index: str, value: str) -> Op:
    # T4: tests/sample2_op1.py — equality on CSV column; emits
    # (matched value, full row)
    def op(df: DataFrame) -> DataFrame:
        col = F.split(F.col("value"), ",").getItem(int(index))
        return T.filter_eq(df, col, value).select(col.alias("key"), "value")

    return op


def _count_by_key() -> Op:
    # T5/T6: tests/sample2_op2.py, tests/mp4_demo2.py — running count per
    # key; update mode emits every change
    return lambda df: T.count_by(df, "key", alias="value")


def _count_by_column(index: str) -> Op:
    def op(df: DataFrame) -> DataFrame:
        keyed = df.select(F.split(F.col("value"), ",").getItem(int(index)).alias("key"))
        return T.count_by(keyed, "key", alias="value")

    return op


OP_LIBRARY: dict[str, Callable[..., Op]] = {
    "filter_pattern": _filter_pattern,
    "select_columns": _select_columns,
    "filter_eq": _filter_eq,
    "count_by_key": _count_by_key,
    "count_by_column": _count_by_column,
}

STATEFUL_OPS = {"count_by_key", "count_by_column"}

# user-registered record functions: name -> fn(key, value) -> list[(k,v)]
USER_OPS: dict[str, Callable[[str, str], list | None]] = {}
# stateful: name -> (fn(key, value, state) -> (state', [(k,v)...]), state0)
USER_STATEFUL_OPS: dict[str, tuple[Callable, object]] = {}
_RESERVED_OP_NAMES = {"udf", "udf_stateful"}


def register_op(name: str, fn: Callable[[str, str], list | None]) -> None:
    """Register an arbitrary STATELESS user operator under ``name``.

    The contract is the reference's exactly (src/Streaming/framework.py:
    11-65): ``fn(key, value) -> list[(k', v')] | None`` — None/[] drops
    the record, one tuple maps, many flat-map. The fn runs Arrow-batched
    through ``transforms.flat_map`` (mapInPandas), so it must be
    cloudpickle-serializable (a plain module-level function is).
    """
    if name in OP_LIBRARY or name in _RESERVED_OP_NAMES:
        raise ValueError(f"op name {name!r} shadows a library op")
    USER_OPS[name] = fn


def register_stateful_op(name: str, fn: Callable, state0=None) -> None:
    """Register an arbitrary STATEFUL user operator under ``name``.

    Contract (the reference's stateful-exe shape, framework.py:52-54):
    ``fn(key, value, state) -> (new_state, [(k', v')...])``; state is
    any JSON-serializable per-key value, ``state0`` on first sight of a
    key, persisted in Spark's state store across micro-batches and
    restarts (streaming/stateful.py stateful_flat_map).
    """
    if name in OP_LIBRARY or name in _RESERVED_OP_NAMES:
        raise ValueError(f"op name {name!r} shadows a library op")
    USER_STATEFUL_OPS[name] = (fn, state0)


def load_callable(ref: str) -> Callable:
    """Resolve ``pkg.module:fn`` or ``/path/to/file.py:fn`` — the
    analogue of the reference taking any op executable path
    (src/Streaming/Rainstorm.py:9-24). tools/ab.py resolves its query
    variants through it too."""
    mod, sep, attr = ref.rpartition(":")
    if not sep:
        raise ValueError(f"ref {ref!r} must be 'module:function' or 'file.py:function'")
    if mod.endswith(".py"):
        import hashlib
        import importlib.util

        # unique module name per file so two user op files in one job
        # don't collide in pickling/module identity
        modname = "_rainstorm_user_op_" + hashlib.md5(mod.encode()).hexdigest()[:10]
        spec = importlib.util.spec_from_file_location(modname, mod)
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)  # type: ignore[union-attr]
    else:
        import importlib

        m = importlib.import_module(mod)
    return getattr(m, attr)


def parse_op(spec: str) -> tuple[Op, bool]:
    """'filter_pattern ^\\d+,stop' → (transform, is_stateful).

    Three spec forms, mirroring the reference's "any executable"
    contract (Rainstorm.py:20-24):
      - ``"<library_op> <args…>"``            — built-in OP_LIBRARY
      - ``"udf <module-or-file.py>:<fn> [extra args…]"`` — load a user
        fn(key, value) -> list[(k,v)] from any module/file (the
        tests/sample1_op1.py shape); extra args are partial-applied
      - ``"<registered_name>"``               — a fn registered via
        ``register_op`` in this process
    """
    parts = shlex.split(spec)
    name, args = parts[0], parts[1:]
    if name == "udf":
        fn = load_callable(args[0])
        extra = tuple(args[1:])
        rec = (lambda k, v: fn(k, v, *extra)) if extra else fn
        return (lambda df: T.flat_map(df, rec)), False
    if name == "udf_stateful":
        from stream_processing_spark.streaming.stateful import stateful_flat_map

        sfn = load_callable(args[0])
        extra = tuple(args[1:])
        srec = (lambda k, v, st: sfn(k, v, st, *extra)) if extra else sfn
        return (lambda df: stateful_flat_map(df, srec)), True
    if name in USER_OPS:
        rec = USER_OPS[name]
        return (lambda df: T.flat_map(df, rec)), False
    if name in USER_STATEFUL_OPS:
        from stream_processing_spark.streaming.stateful import stateful_flat_map

        sfn, state0 = USER_STATEFUL_OPS[name]
        return (lambda df: stateful_flat_map(df, sfn, state0=state0)), True
    if name not in OP_LIBRARY:
        raise KeyError(
            f"unknown op {name!r}; library: {sorted(OP_LIBRARY)}, "
            f"registered: {sorted(USER_OPS) + sorted(USER_STATEFUL_OPS)} "
            "(or 'udf <ref>:<fn>' / 'udf_stateful <ref>:<fn>')"
        )
    return OP_LIBRARY[name](*args), name in STATEFUL_OPS


def rainstorm(
    spark: SparkSession,
    op1_spec: str,
    op2_spec: str,
    input_dir: str,
    output_dir: str,
    num_tasks: int | None = None,
    stateful: bool | None = None,
    source: str = "files",
) -> StreamJob:
    """Build (don't start) the streaming job for the 2-operator contract.

    ``source="tail"`` tails growing file(s) via the linetail connector
    instead of a directory of micro-files: a concrete path tails ONE
    file (the reference's literal operating shape, worker.py:503-511);
    a glob tails the whole FLEET of matching logs with per-file
    offsets (one machine.{id}.log per node)."""
    op1, s1 = parse_op(op1_spec)
    op2, s2 = parse_op(op2_spec)
    return StreamJob(
        spark,
        input_dir,
        output_dir,
        ops=[op1, op2],
        stateful=s1 or s2 if stateful is None else stateful,
        source=source,
        num_tasks=num_tasks,
    )
