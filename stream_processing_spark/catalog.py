"""Table catalog: loaders + schema registry for the synthetic test tables.

The driver provides TPC-H-ish parquet tables at /root/testdata/sf*/
(see TESTDATA.md). The reference had no schema system at all (SURVEY.md
§1.2 — everything UTF-8 text); here every table has an explicit schema so
Catalyst can prune columns and push filters into the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# events.ts layout per sf_dir: the footer probe is schema-only but not
# free, and every streaming query calls it; one probe per fixture dir
# is enough
_TS_LAYOUT_CACHE: dict[str, str] = {}


def events_ts_layout(spark: SparkSession, sf_dir: str) -> str:
    """The dtype events.ts reads as at ``sf_dir``: ``bigint``,
    ``timestamp_ntz`` or ``timestamp``.

    events.ts has shipped in two parquet layouts across driver testdata
    generations: TIMESTAMP(NANOS) (which Spark only reads, as bigint
    nanos, via the nanosAsLong legacy flag) and plain TIMESTAMP micros
    (timestamp_ntz). A third layout raises TypeError here, loudly, not
    later as per-query oracle mismatches with no signal at load time.

    SIDE EFFECT (deliberate): pins ``nanosAsLong=true`` and the session
    time zone to UTC on every call. ``normalize_events_ts``' micros and
    casts yield session-TZ timestamps, so window/date_trunc queries
    agree with the oracle's naive timestamps even if the caller's
    session (e.g. the driver's vanilla one) inherited a non-UTC zone.
    The probe is cached per sf_dir; the pins are not (a fresh driver
    session must still get pinned)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if sf_dir not in _TS_LAYOUT_CACHE:
        probe = spark.read.parquet(table_path(sf_dir, "events"))
        layout = dict(probe.dtypes).get("ts", "")
        if layout not in ("bigint", "timestamp_ntz", "timestamp"):
            raise TypeError(
                f"events.ts read as unexpected dtype {layout!r}; known "
                "layouts: bigint (TIMESTAMP(NANOS) via nanosAsLong), "
                "timestamp_ntz, timestamp — teach catalog.events_ts_layout "
                "the new testdata layout before running queries against it"
            )
        _TS_LAYOUT_CACHE[sf_dir] = layout
    return _TS_LAYOUT_CACHE[sf_dir]


def normalize_events_ts(df: DataFrame, layout: str) -> DataFrame:
    """``df`` (batch or stream) with events.ts, read as ``layout``,
    turned into a session-TZ TimestampType."""
    from pyspark.sql import functions as F

    if layout == "bigint":
        # long nanos: integer-divide to micros — double division would
        # lose precision on ~1.7e18 nanosecond values (53-bit mantissa)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if layout == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Parquet scans get column pruning + predicate pushdown
    from Catalyst for free — do NOT cache or materialize here.

    events.ts is normalized to a session-TZ TimestampType under a pinned
    UTC session (events_ts_layout), so every downstream window/date_trunc
    query — and the DuckDB oracle, which reads naive timestamps — sees
    identical wall-clock values."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        layout = events_ts_layout(spark, sf_dir)
        return normalize_events_ts(
            spark.read.parquet(table_path(sf_dir, name)), layout
        )
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql(...) works
    against the same names DuckDB uses in the oracle."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


class Catalog:
    """Convenience handle: ``cat.lineitem`` etc."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return load_table(self.spark, self.sf_dir, name)
        raise AttributeError(name)

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)
