"""RainStorm operator parity (SURVEY.md §2.2–§2.3, T1–T8).

The reference's single operator abstraction is a user-defined flatMap
``fn(key, value) -> list[(k', v')] | None`` run as a subprocess over JSON
lines (reference: src/Streaming/framework.py:11-65). Here each concrete
operator is a composable ``DataFrame -> DataFrame`` function built from
native Catalyst expressions (JVM-side, whole-stage-codegen) — Python only
appears in ``flat_map``, the escape hatch for genuinely arbitrary logic,
and even that is Arrow-batched via mapInPandas rather than row-at-a-time.

Operators here are *stateless/batch-composable*; their streaming use is
identical (Structured Streaming reuses the same transforms — see
streaming/job.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# The RainStorm record envelope (reference: src/Streaming/worker.py:52-58).
KV_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)


def filter_pattern(df: DataFrame, pattern: str, column: str = "value") -> DataFrame:
    """T1 — regex filter on a line/column.

    Reference: tests/sample1_op1.py:8-13 (re.search on the whole line).
    Spark `rlike` is unanchored search, matching re.search semantics.
    """
    return df.filter(F.col(column).rlike(pattern))


def select_columns(
    df: DataFrame, *indices: int, names: Iterable[str] | None = None, column: str = "value"
) -> DataFrame:
    """T2 — project positional CSV columns out of a raw line.

    Reference: tests/sample1_op2.py:7-14 (naive value.split(",")[i]).
    We keep the naive-split semantics for parity (quote-unaware), since
    that is what the reference computes; schema-aware reads should use
    spark.read.csv instead.
    """
    split_col = F.split(F.col(column), ",")
    names = list(names) if names is not None else [f"c{i}" for i in indices]
    return df.select(
        *[split_col.getItem(i).alias(n) for i, n in zip(indices, names)]
    )


def filter_eq(df: DataFrame, column: str | Column, value) -> DataFrame:
    """T4 — equality filter (reference: tests/sample2_op1.py:8-14)."""
    col = F.col(column) if isinstance(column, str) else column
    return df.filter(col == F.lit(value))


def count_by(df: DataFrame, *group_cols: str, alias: str = "cnt") -> DataFrame:
    """T5/T6/A1 — count per key (reference: tests/sample2_op2.py:8-17,
    tests/mp4_demo2.py:6-10). In a batch query the count is the
    reference's final aggregate value; as the last op of a stateful
    StreamJob (streaming/job.py, update mode) the same function is the
    running count, emitting every intermediate count.

    Scale note: groupBy does a map-side partial aggregation before the
    shuffle, so the shuffle carries one row per (partition, key) — the
    correct plan at 100 TB for any realistic key cardinality.
    """
    return df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias(alias))


def flat_map(
    df: DataFrame,
    fn: Callable[[str, str], list[tuple[str, str]] | None],
    schema: StructType = KV_SCHEMA,
) -> DataFrame:
    """T7/T8 — arbitrary user flatMap over the {key, value} envelope.

    Reference contract: fn(key, value) -> list[(k', v')] | None, where
    None/empty means drop (filter), 1 tuple is a map, n tuples a flatMap
    (src/Streaming/framework.py:37-65). Implemented Arrow-batched with
    mapInPandas — the subprocess-per-record model is replaced by
    vectorized batch transfer; fn itself stays per-record for parity.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out_k, out_v = [], []
            for k, v in zip(batch["key"], batch["value"]):
                res = fn(k, v)
                if not res:
                    continue
                for k2, v2 in res:
                    out_k.append(str(k2))
                    out_v.append(str(v2))
            yield pd.DataFrame({"key": out_k, "value": out_v})

    return df.mapInPandas(run, schema=schema)
