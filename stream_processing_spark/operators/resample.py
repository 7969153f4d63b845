"""Time-series resampling: regularize an event stream onto a fixed grid
with gap rows, then forward-fill.

The reference has no time model at all (SURVEY.md §2.5); this is part of
the beyond-reference event-time surface. All steps are native DataFrame
ops — the per-key grid is generated executor-side with
``sequence() + explode`` (no driver loop, no cross join against a global
calendar: each key only materializes its own [min, max] range, which is
also what keeps the operator linear in output rows at 100 TB).

Shuffle budget: one for the (key, bucket) aggregate, one for the per-key
bounds, one to co-partition the spine for the join, and the forward-fill
window re-uses the join's key partitioning where AQE allows. Every
exchange is keyed — nothing broadcasts or collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stream_processing_spark.runtime import materialize


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    aggs: list[Column],
    unit: str = "hour",
    fill_cols: list[str] | None = None,
    zero_cols: list[str] | None = None,
    lerp_cols: list[str] | None = None,
) -> DataFrame:
    """Aggregate ``df`` per (key, time bucket), densify each key's bucket
    range with one row per ``unit`` step, and fill the gap rows:
    ``fill_cols`` carry the last non-null value forward (suffix
    ``_ffill``), ``zero_cols`` become 0, ``lerp_cols`` linearly
    interpolate between the surrounding observations (suffix ``_lerp``;
    flat after the last observation — before the first there is nothing
    to anchor, but spine rows start at each key's first observation so
    the case never materializes).

    ``aggs`` are the per-bucket aggregate expressions; their aliases are
    the column names ``fill_cols``/``zero_cols``/``lerp_cols`` refer to.

    All four fill windows share one (key, bucket) sort: the backward
    (ffill / prev-anchor) and forward (next-anchor) frames differ only
    in frame bounds, so Catalyst plans them over a single Exchange+Sort.
    """
    fill_cols = fill_cols or []
    zero_cols = zero_cols or []
    lerp_cols = lerp_cols or []
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
    # the (key, bucket) aggregate feeds the bounds/spine branch AND the
    # densify join; eager checkpoint runs the event-sized aggregation
    # once (the frame is key x buckets — already reduced), instead of
    # once per branch (r13 one-scan rule)
    per_bucket = materialize(
        df.groupBy(F.col(key_col), bucket).agg(*aggs)
    )
    bounds = per_bucket.groupBy(key_col).agg(
        F.min("bucket_ts").alias("__lo"), F.max("bucket_ts").alias("__hi")
    )
    spine = bounds.select(
        key_col,
        F.explode(
            F.sequence("__lo", "__hi", F.expr(f"interval 1 {unit}"))
        ).alias("bucket_ts"),
    )
    joined = spine.join(per_bucket, [key_col, "bucket_ts"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(key_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    out_cols = [F.col(key_col), F.col("bucket_ts")]
    for c in fill_cols:
        out_cols.append(F.last(c, ignorenulls=True).over(w).alias(f"{c}_ffill"))
    for c in zero_cols:
        out_cols.append(F.coalesce(F.col(c), F.lit(0)).alias(c))
    for c in lerp_cols:
        obs_ts = F.when(F.col(c).isNotNull(), F.col("bucket_ts"))
        prev_v = F.last(c, ignorenulls=True).over(w)
        prev_t = F.last(obs_ts, ignorenulls=True).over(w)
        next_v = F.first(c, ignorenulls=True).over(wf)
        next_t = F.first(obs_ts, ignorenulls=True).over(wf)
        ratio = (F.unix_micros(F.col("bucket_ts")) - F.unix_micros(prev_t)) / (
            F.unix_micros(next_t) - F.unix_micros(prev_t)
        )
        lerp = (
            F.when(F.col(c).isNotNull(), F.col(c))
            .when(next_v.isNotNull(), prev_v + (next_v - prev_v) * ratio)
            .otherwise(prev_v)
        )
        out_cols.append(lerp.alias(f"{c}_lerp"))
    return joined.select(*out_cols)
