"""Custom stateful streaming operators (T8 parity, SURVEY.md §2.2).

The reference's stateful contract: an operator process holds a
``key → value`` dict, re-initialized from a replayed log on recovery
(framework.py:52-54, worker.py:327-368). Structured Streaming's state
store replaces the dict + log replay; this module exposes the same
ergonomics through ``applyInPandasWithState`` for operators the built-in
aggregates can't express. The one aggregate the reference actually ships
(running count per key) needs none of it: ``operators/transforms.count_by``
as the last op of a stateful StreamJob keeps its counts in the state
store.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

COUNT_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("cnt", LongType())]
)
_STATE_SCHEMA = StructType([StructField("cnt", LongType())])


def stateful_running_count(df: DataFrame, key_col: str = "key") -> DataFrame:
    """The custom-operator twin of ``transforms.count_by`` as a running
    count: identical semantics via applyInPandasWithState, demonstrating
    arbitrary user state (dict-per-key, like the reference operator
    processes). Use this shape for logic groupBy().agg() can't express."""

    def update(
        key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (cnt,) = state.get if state.exists else (0,)
        for b in batches:
            cnt += len(b)
        state.update((cnt,))
        yield pd.DataFrame({"key": [key[0]], "cnt": [cnt]})

    return (
        df.select(F.col(key_col).alias("key"))
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=COUNT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


KV_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)
_BLOB_STATE_SCHEMA = StructType([StructField("blob", StringType())])


def stateful_flat_map(
    df: DataFrame,
    fn,
    state0=None,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """ARBITRARY user stateful operator — the reference's stateful-exe
    contract (framework.py:52-54: a per-key dict kept by the op process,
    re-initialized from the replayed log on recovery) as a first-class
    harness.

    Contract: ``fn(key, value, state) -> (new_state, [(k', v')...])``.
    ``state`` is any JSON-serializable per-key value (``state0`` for the
    first record of a key); emissions are flat-mapped to the output.
    Spark's state store replaces the reference's dict + log replay:
    state survives micro-batches AND restarts via the checkpoint, which
    is exactly the recovery path the reference rebuilt by hand. State is
    kept as a JSON blob so one harness serves any user state shape
    (records within a micro-batch arrive in no defined order — same as
    the reference's multi-worker delivery).
    """
    import json as _json

    def update(
        key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        st = _json.loads(state.get[0]) if state.exists else state0
        out_k: list[str] = []
        out_v: list[str] = []
        for b in batches:
            # the frame was aliased to (key, value) before the groupBy
            for v in b["value"]:
                st, outs = fn(key[0], v, st)
                for k2, v2 in outs or []:
                    out_k.append(str(k2))
                    out_v.append(str(v2))
        state.update((_json.dumps(st),))
        yield pd.DataFrame({"key": out_k, "value": out_v})

    return (
        df.select(F.col(key_col).alias("key"), F.col(value_col).alias("value"))
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=KV_SCHEMA,
            stateStructType=_BLOB_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)
_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("ss", ArrayType(LongType())),
        StructField("ls", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
    ]
)


def stateful_event_sessions(
    df: DataFrame,
    gap_sec: int,
    ts_col: str = "ts",
    key_col: str = "key",
) -> DataFrame:
    """Inactivity-gap sessions as a CUSTOM stateful operator with
    EVENT-TIME TIMEOUTS — the capability ``session_window`` hides:
    state that emits when the watermark says the key has gone quiet,
    not only when new data for the key arrives (the reference's
    operator processes could never do this — a silent key stayed
    silent; the state-store timer is strictly more expressive than
    framework.py's dict contract).

    Per key the state is a LIST of (start, last, count) blocks — every
    session not yet provably final. New events merge into blocks by the
    gap rule; after each invocation the timeout timer is armed at the
    earliest pending end, and a block is emitted (input branch or
    TIMEOUT branch) only when the watermark strictly passes its end.
    session_end = last + gap, matching ``session_window``.

    APPEND-MODE FINALITY (round-5 review fix): an emitted row can never
    be retracted, so a session may only emit once NO admissible late
    event could still change it. Any merge-capable event t satisfies
    t <= session_end (= last + gap), and stateful operators drop input
    below the watermark — so a session is final exactly when
    watermark > session_end (strictly; end == watermark is still
    mergeable by an event AT the watermark). ALL blocks therefore stay
    in state until the watermark passes their end; the previous
    emit-closed-blocks-immediately shape could produce overlapping
    sessions when a late-but-admissible event landed inside an
    already-emitted session's span.

    Drain determinism (oracle contract): with a 0-second watermark the
    final watermark is max(ts), so the drained output is exactly the
    batch gaps-and-islands sessions with session_end < max(ts) — the
    same set as before this fix, now emitted from the timeout branch
    once the watermark proves them final.
    """
    gap_ms = gap_sec * 1000

    def _split_ripe(blocks, wm):
        ripe = [b for b in blocks if wm > b[1] + gap_ms]
        rest = [b for b in blocks if wm <= b[1] + gap_ms]
        return ripe, rest

    def _emit(key, blocks) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "key": [key[0]] * len(blocks),
                "start_ms": [b[0] for b in blocks],
                "end_ms": [b[1] + gap_ms for b in blocks],
                "n_events": [b[2] for b in blocks],
            }
        )

    def _store(state, blocks) -> None:
        state.update(
            (
                [b[0] for b in blocks],
                [b[1] for b in blocks],
                [b[2] for b in blocks],
            )
        )
        # one timer per key: arm at the earliest still-pending end
        state.setTimeoutTimestamp(min(b[1] + gap_ms for b in blocks))

    def update(
        key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            ss, ls, ns = state.get
            ripe, rest = _split_ripe(list(zip(ss, ls, ns)), wm)
            if rest:
                _store(state, rest)
            else:
                state.remove()
            yield _emit(key, ripe)
            return
        ts: list[int] = []
        for b in batches:
            ts += [int(t.value // 10**6) for t in pd.to_datetime(b[ts_col])]
        # gaps-and-islands over INTERVAL BLOCKS: every pending session
        # from state participates as a (start, last, count) block
        # positioned by its start among the sorted new events. This is
        # what makes out-of-order events from later micro-batches
        # (above the watermark) reproduce the batch oracle exactly: an
        # early event within gap of a pending block merges into it
        # (possibly pulling its start down); an early event further out
        # forms its OWN block, which its successor then closes — it
        # must NOT be absorbed into a nearer block (the bug a plain
        # `t - l <= gap` gate has, since that inequality holds for ANY
        # t < l).
        blocks = [(t, t, 1) for t in sorted(ts)]
        if state.exists:
            ss, ls, ns = state.get
            import bisect

            for blk in zip(ss, ls, ns):
                bisect.insort(blocks, tuple(blk))
        if not blocks:  # defensive: no events, no prior state
            yield _emit(key, [])
            return
        merged: list[tuple[int, int, int]] = []
        for st_, en_, cnt in blocks:
            if merged and st_ - merged[-1][1] <= gap_ms:
                ps, pe, pc = merged[-1]
                merged[-1] = (min(ps, st_), max(pe, en_), pc + cnt)
            else:
                merged.append((st_, en_, cnt))
        # new input is never below the watermark (Spark drops it), but
        # blocks carried from state may have ripened since last batch
        ripe, rest = _split_ripe(merged, wm)
        if rest:
            _store(state, rest)
        else:
            state.remove()
        yield _emit(key, ripe)

    return (
        df.select(F.col(key_col).alias("key"), F.col(ts_col).alias(ts_col))
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
