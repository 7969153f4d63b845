"""Scale-path operators made first-class queries: runtime bloom-filter
join pruning, incremental partial-aggregate maintenance, and friends.

Each query here exists because the naive spelling stops working (or
stops being affordable) at 100 TB; the oracle proves the scale spelling
is RESULT-IDENTICAL to the naive one, which is the whole contract of a
physical optimization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.functions.keys import value_hash
from stream_processing_spark.operators import bloomjoin, zorder
from stream_processing_spark.queries import register
from stream_processing_spark.queries._util import REVENUE_SQL, revenue_col
from stream_processing_spark.runtime import materialize

_BLOOM_PRICE = 300000


@register(
    "bloom_prefilter_join_revenue",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > {_BLOOM_PRICE}
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Runtime bloom-filter join pruning (operators/bloomjoin.py): "
    "revenue of lineitems belonging to urgent high-value orders. The "
    "selective order slice builds an 8 KB packed bloom bitset "
    "(md5-sliced positions, DISTINCT-capped constant driver traffic), "
    "inlined as a literal so the fact scan drops non-candidate rows "
    "MAP-SIDE before the join shuffle — the explicit spelling of "
    "engine runtime filters (Spark AQE bloom injection). Bloom filters "
    "have no false negatives and the equi-join kills the false "
    "positives, so the oracle is simply the plain join: result "
    "invariance IS the contract. At 1000 executors the win is shuffle "
    "volume — with a ~5%-selective build side most fact rows die at "
    "the scan instead of crossing the network.",
)
def bloom_prefilter_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    build = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > _BLOOM_PRICE)
    ).select("o_orderkey")
    joined = bloomjoin.bloom_join(
        lineitem, build, big_key="l_orderkey", build_key="o_orderkey"
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(revenue_col()).cast("double").alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


_Z_BITS = 8
_Z_SHARD_SHIFT = 6


@register(
    "zorder_shard_profile",
    f"""
    WITH d AS (
        SELECT (user_id % 64) AS ub,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
        FROM events
    ),
    z AS (SELECT ub, day, ({zorder.morton2_sql("ub", "day", _Z_BITS)}) AS zval
          FROM d)
    SELECT (zval >> {_Z_SHARD_SHIFT}) AS shard,
           COUNT(*) AS n_events,
           MIN(ub) AS min_ub, MAX(ub) AS max_ub,
           MIN(day) AS min_day, MAX(day) AS max_day
    FROM z
    GROUP BY 1
    ORDER BY shard
    """,
    doc="Z-order (Morton) clustering assignment over events "
    "(operators/zorder.py): user-bucket and day-of-epoch bits "
    "interleaved into one sort key, sharded by z-range. The per-shard "
    "min/max profile IS the pruning evidence — tight ranges in BOTH "
    "dimensions mean parquet footer stats can skip shards for point/"
    "range predicates on either user or time (the layout trick "
    "Delta/Iceberg ship as OPTIMIZE ZORDER BY; a single-key sort "
    "prunes only its own dimension). Pure integer bit arithmetic in "
    "whole-stage codegen; the oracle spells the identical interleave "
    "with >>/&/<<. File-level skipping is proven from real parquet "
    "footers in test_zorder.py.",
)
def zorder_shard_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ub = F.pmod(F.col("user_id"), F.lit(64))
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
    z = zorder.morton2(ub, day, bits=_Z_BITS)
    return (
        ev.select(
            ub.alias("ub"), day.alias("day"),
            F.shiftrightunsigned(z, _Z_SHARD_SHIFT).alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ub").alias("min_ub"), F.max("ub").alias("max_ub"),
            F.min("day").alias("min_day"), F.max("day").alias("max_day"),
        )
        .orderBy("shard")
    )


_BPE_MERGES = 5


def _bpe_oracle(n: int) -> str:
    """Unrolled CTE ladder: per merge step, a pair-count agg, a
    deterministic argmax, and the same doubled-gap literal replace the
    engine uses (left-to-right non-overlapping merge)."""
    parts = [
        """
    tok AS MATERIALIZED (SELECT unnest(string_split(text, ' ')) AS w
                         FROM documents),
    r0 AS MATERIALIZED (
        SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS repr,
               COUNT(*) AS freq
        FROM tok WHERE w <> '' GROUP BY 1
    )"""
    ]
    for k in range(1, n + 1):
        parts.append(f"""
    p{k} AS MATERIALIZED (
        SELECT l[i] AS a, l[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS c
        FROM (SELECT string_split(repr, ' ') AS l, freq FROM r{k - 1}) t,
             UNNEST(range(1, len(l))) AS u(i)
        GROUP BY 1, 2
    ),
    m{k} AS (SELECT a, b, c FROM p{k} ORDER BY c DESC, a ASC, b ASC LIMIT 1),
    r{k} AS (
        SELECT trim(replace(replace(
                   ' ' || replace(repr, ' ', '  ') || ' ',
                   (SELECT ' ' || a || '  ' || b || ' ' FROM m{k}),
                   (SELECT ' ' || a || b || ' ' FROM m{k})),
               '  ', ' ')) AS repr, freq
        FROM r{k - 1}
    )""")
    finals = " UNION ALL ".join(
        f"SELECT {k} AS step, a AS left_sym, b AS right_sym, "
        f"c AS pair_count FROM m{k}"
        for k in range(1, n + 1)
    )
    return "WITH " + ",".join(parts) + f" {finals} ORDER BY step"


@register(
    "bpe_train_merges",
    _bpe_oracle(_BPE_MERGES),
    doc=f"Distributed BPE tokenizer training (functions/bpe.py): the "
    f"first {_BPE_MERGES} learned merges over the documents corpus. "
    "Each step is one distributed adjacent-pair aggregation over the "
    "WORD-FREQUENCY table (vocabulary-sized — ~log of corpus — so "
    "iterations never rescan the corpus; the one corpus-wide pass is "
    "the initial word count) plus a 1-row argmax driver trip with a "
    "total tie-break. The merge rewrite is engine-portable string "
    "algebra: doubled gaps + a literal replace give the left-to-right "
    "non-overlapping scan without lookbehind (RE2-safe), and the "
    "oracle unrolls the identical three steps per merge as CTEs. "
    "Frames are checkpointed per round (reliable=True available for "
    "clusters) so lineage stays flat. Parity vs a pure-Python BPE "
    "reference asserted in test_bpe.py.",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.functions import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, n_merges=_BPE_MERGES)
    return spark.createDataFrame(
        merges, "step int, left_sym string, right_sym string, pair_count bigint"
    )


def _bpe_encode_oracle(n: int) -> str:
    """Training ladder (same CTEs as _bpe_oracle) + an apply chain that
    carries the WORD through the merges, then per-source token stats."""
    # reuse the r/m CTE ladder; strip the final merge-list SELECT
    body = _bpe_oracle(n)
    cut = body.rindex(" SELECT 1 AS step")
    ladder = body[len("WITH "):cut].rstrip().rstrip(",")
    wm = [
        """
    wm0 AS (
        SELECT DISTINCT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS repr
        FROM tok WHERE w <> ''
    )"""
    ]
    for k in range(1, n + 1):
        wm.append(f"""
    wm{k} AS (
        SELECT w, trim(replace(replace(
                   ' ' || replace(repr, ' ', '  ') || ' ',
                   (SELECT ' ' || a || '  ' || b || ' ' FROM m{k}),
                   (SELECT ' ' || a || b || ' ' FROM m{k})),
               '  ', ' ')) AS repr
        FROM wm{k - 1}
    )""")
    return (
        "WITH "
        + ladder
        + ","
        + ",".join(wm)
        + f""",
    wmap AS (
        SELECT w, CAST(len(string_split(repr, ' ')) AS BIGINT) AS n_tok
        FROM wm{n}
    ),
    corpus AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT c.source,
           COUNT(*) AS n_words,
           CAST(SUM(m.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(length(c.w)) AS BIGINT) AS n_chars
    FROM corpus c JOIN wmap m ON m.w = c.w
    WHERE c.w <> ''
    GROUP BY c.source ORDER BY c.source
    """
    )


@register(
    "bpe_encode_source_stats",
    _bpe_encode_oracle(_BPE_MERGES),
    doc="BPE tokenizer APPLICATION — the other half of bpe_train_merges: "
    "encode the whole corpus with the learned merges and report "
    "per-source token accounting (words, post-merge tokens, chars — "
    "the compression a tokenizer buys, the number every training-data "
    "budget is priced in). Spark-first shape: the merge list is tiny "
    "driver state, so the word→token-count map is built by applying "
    "the merges as chained codegen string replaces over the DISTINCT "
    "word table (vocabulary-sized, ~log of corpus) and then BROADCAST "
    "— the corpus-sized pass is one explode + map-side hash join + "
    "partial agg, no corpus shuffle. At production merge counts (30k+) "
    "the replace chain would be replaced by persisting word→tokens "
    "directly from training (functions/models.py artifact path); the "
    "re-derivation here deliberately exercises the apply path so the "
    "oracle can replay it.",
)
def bpe_encode_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.functions import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, n_merges=_BPE_MERGES)
    # ONE corpus tokenize pass: the (source, w) histogram (sources x
    # vocab domain-bounded) feeds both the distinct-word table the
    # merge-replay runs over and the cnt-weighted per-source stats —
    # previously the corpus was exploded twice. Integer sums regroup
    # bit-identically (guide §2.3/§2.4).
    hist = materialize(
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words = hist.select("w").distinct()
    repr_col = F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 "))
    for _step, a, b, _c in merges:
        repr_col = bpe.merge_pair_expr(repr_col, a, b)
    wmap = words.select(
        "w", F.size(F.split(repr_col, " ")).cast("bigint").alias("n_tok")
    )
    return (
        hist.join(F.broadcast(wmap), "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("n_tok") * F.col("cnt")).alias("n_tokens"),
            F.sum(F.length("w").cast("bigint") * F.col("cnt")).alias(
                "n_chars"
            ),
        )
        .orderBy("source")
    )


@register(
    "observed_ingest_metrics",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_users,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
    FROM events
    """,
    doc="One-pass pipeline observability via Spark's Observation API "
    "(CollectMetrics): the ingest metrics — row count, null-key count, "
    "exact value checksum in cents, event-time bounds — are collected "
    "AS A SIDE EFFECT of the write action itself (df.observe(...) then "
    "a sink write; here the noop sink), not by a second scan. At "
    "100 TB this halves the monitoring cost vs the dq_expectations "
    "second-pass shape and guarantees the metrics describe EXACTLY the "
    "rows the sink committed — no read-skew between pipeline and "
    "monitor. Observation restrictions honored: aggregates only, no "
    "DISTINCT (CollectMetrics evaluates map-side + one tree-reduce). "
    "The oracle recomputes the same aggregates declaratively.",
)
def observed_ingest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("ingest")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_users"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["null_users"],
                m["value_cents"],
                m["first_us"],
                m["last_us"],
            )
        ],
        "n_rows bigint, null_users bigint, value_cents bigint, "
        "first_us bigint, last_us bigint",
    )


_CUTOFF = "2024-01-25"


@register(
    "incremental_rollup_merge",
    """
    SELECT event_type,
           date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           CAST(MIN(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS min_value,
           CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_value
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, day
    """,
    doc="Incremental view maintenance: the daily rollup is kept fresh "
    "by MERGING stored partial aggregates with the new batch's "
    "partials (count+count, decimal sum+sum, min/min, max/max) instead "
    "of rescanning history — at 100 TB the nightly recompute dies and "
    "this is the standard replacement (materialized-view delta "
    "maintenance). Here history (ts < cutoff) and the new batch (ts >= "
    "cutoff) are aggregated separately and merged by key; the oracle "
    "is the full recompute over everything, which the merge must equal "
    "EXACTLY — that equality is precisely the associativity contract "
    "partial aggregation rests on (and why the sums are decimal: "
    "float partials would drift between the two plans).",
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
    val = F.col("value").cast("decimal(12,2)")

    def partials(df: DataFrame) -> DataFrame:
        return (
            df.select("event_type", day.alias("day"), val.alias("v"))
            .groupBy("event_type", "day")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("v").alias("sum_v"),
                F.min("v").alias("min_value"),
                F.max("v").alias("max_value"),
            )
        )

    cutoff = F.to_timestamp(F.lit(_CUTOFF))
    hist = partials(ev.filter(F.col("ts") < cutoff))
    batch = partials(ev.filter(F.col("ts") >= cutoff))
    merged = (
        hist.unionByName(batch)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_v").cast("double").alias("total_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    return merged.select(
        "event_type", "day", "n_events", "total_value",
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    ).orderBy("event_type", "day")


_DQ_PRIORITIES = "'1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'"


@register(
    "dq_expectations_report",
    f"""
    WITH row_checks AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                        THEN 1 ELSE 0 END) AS f_pos,
               SUM(CASE WHEN NOT COALESCE(o_totalprice < 400000, FALSE)
                        THEN 1 ELSE 0 END) AS f_cap,
               SUM(CASE WHEN NOT COALESCE(
                        o_orderdate >= DATE '1995-01-01'
                        AND o_orderdate < DATE '2002-01-01', FALSE)
                        THEN 1 ELSE 0 END) AS f_date,
               SUM(CASE WHEN NOT COALESCE(
                        o_orderpriority IN ({_DQ_PRIORITIES}), FALSE)
                        THEN 1 ELSE 0 END) AS f_dom,
               SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS f_null,
               SUM(CASE WHEN NOT COALESCE(isfinite(o_totalprice), FALSE)
                        THEN 1 ELSE 0 END) AS f_fin,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS f_uniq
        FROM orders
    ),
    ref AS (
        SELECT (SELECT COUNT(*) FROM orders) AS n,
               COUNT(*) AS f
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
    )
    SELECT chk AS check_name, CAST(n AS BIGINT) AS n_checked,
           CAST(f AS BIGINT) AS n_failed, f = 0 AS passed
    FROM (
        SELECT 'custkey_not_null' AS chk, n, f_null AS f FROM row_checks
        UNION ALL
        SELECT 'custkey_references_customer', n, f FROM ref
        UNION ALL
        SELECT 'orderdate_in_range', n, f_date FROM row_checks
        UNION ALL
        SELECT 'orderkey_unique', n, f_uniq FROM row_checks
        UNION ALL
        SELECT 'priority_in_domain', n, f_dom FROM row_checks
        UNION ALL
        SELECT 'totalprice_below_cap_400k', n, f_cap FROM row_checks
        UNION ALL
        SELECT 'totalprice_finite', n, f_fin FROM row_checks
        UNION ALL
        SELECT 'totalprice_positive', n, f_pos FROM row_checks
    )
    ORDER BY check_name
    """,
    doc="Data-quality expectation suite (the dbt-test / Deequ shape): "
    "one report row per declared check — null, range, domain, "
    "uniqueness, positivity, and a referential check against the "
    "customer dimension. ALL row-level checks ride ONE scan of orders "
    "as conditional aggregates (adding a check costs a column, not a "
    "pass — the property that keeps expectation suites affordable at "
    "100 TB); uniqueness shares that same aggregate via a distinct "
    "count, and the referential check is a broadcast anti-join against "
    "the dimension. The cap check is deliberately violated by the "
    "data, so the report proves failures are COUNTED, not just "
    "flagged.",
)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def failed(cond):  # NULL never passes a check
        return F.sum(
            F.when(~F.coalesce(cond, F.lit(False)), 1).otherwise(0)
        )

    prios = [p.strip().strip("'") for p in _DQ_PRIORITIES.split(", ")]
    row = orders.agg(
        F.count(F.lit(1)).alias("n"),
        failed(F.col("o_totalprice") > 0).alias("f_pos"),
        failed(F.col("o_totalprice") < 400000).alias("f_cap"),
        failed(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("2002-01-01").cast("date"))
        ).alias("f_date"),
        failed(F.col("o_orderpriority").isin(prios)).alias("f_dom"),
        # NaN/Infinity are OUT of the engine's input contract (see
        # queries/__init__ — cast semantics diverge across engines);
        # this is the ingest gate that enforces it
        failed(
            ~(
                F.isnan("o_totalprice")
                | (F.col("o_totalprice") == F.lit(float("inf")))
                | (F.col("o_totalprice") == F.lit(float("-inf")))
            )
        ).alias("f_fin"),
        F.sum(
            F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
        ).alias("f_null"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("f_uniq"),
    )
    ref_failed = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("f"))
        .head()["f"]
    )
    report = row.select(
        F.expr(
            "stack(7, "
            "'custkey_not_null', n, f_null, "
            "'orderdate_in_range', n, f_date, "
            "'orderkey_unique', n, f_uniq, "
            "'priority_in_domain', n, f_dom, "
            "'totalprice_below_cap_400k', n, f_cap, "
            "'totalprice_finite', n, f_fin, "
            "'totalprice_positive', n, f_pos) "
            "AS (check_name, n_checked, n_failed)"
        )
    ).unionByName(
        row.select(
            F.lit("custkey_references_customer").alias("check_name"),
            F.col("n").alias("n_checked"),
            F.lit(ref_failed).alias("n_failed"),
        )
    )
    return report.select(
        "check_name",
        F.col("n_checked").cast("bigint").alias("n_checked"),
        F.col("n_failed").cast("bigint").alias("n_failed"),
        (F.col("n_failed") == 0).alias("passed"),
    ).orderBy("check_name")


_ORDERS_ROW = (
    "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
    "CAST(o_totalprice AS DECIMAL(12,2)), CAST(o_orderdate AS DATE), "
    "o_orderpriority)"
)


@register(
    "dataset_content_digest",
    f"""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST('0x' || substr(md5({_ORDERS_ROW}), 1, 15)
                          AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS digest
    FROM orders
    """,
    doc="Order-independent dataset content digest: each row is rendered "
    "to a canonical string (decimals/dates cast to fixed lexical "
    "forms), md5'd, truncated to 60 bits, and SUMMED as DECIMAL(38,0) "
    "— addition commutes, so the digest is invariant to partitioning, "
    "row order, shuffle layout, and engine, while any single changed "
    "byte shifts it. This is how you verify a 100 TB replica/migration "
    "without ordering guarantees: one scan, one number each side, no "
    "sort anywhere. (Truncation keeps per-row terms in BIGINT range; "
    "the decimal sum never overflows below 10^23 rows.)",
)
def dataset_content_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(12,2)"),
        F.col("o_orderdate").cast("date"),
        F.col("o_orderpriority"),
    )
    term = value_hash(row_str, 15).cast("decimal(38,0)")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(term).cast("string").alias("digest"),
    )


@register(
    "snapshot_diff_events",
    """
    WITH old AS (
        SELECT event_id,
               md5(concat_ws('|', epoch_us(ts), user_id, event_type,
                             CAST(value AS DECIMAL(12,2)))) AS h
        FROM events WHERE event_id % 11 <> 0
    ),
    new AS (
        SELECT event_id,
               md5(concat_ws('|', epoch_us(ts), user_id, event_type,
                             CAST(CASE WHEN event_id % 13 = 0
                                       THEN CAST(value AS DECIMAL(12,2))
                                            + CAST(1 AS DECIMAL(12,2))
                                       ELSE CAST(value AS DECIMAL(12,2))
                                  END AS DECIMAL(12,2)))) AS h
        FROM events WHERE event_id % 17 <> 0
    )
    SELECT CASE WHEN o.event_id IS NULL THEN 'added'
                WHEN n.event_id IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           COUNT(*) AS n
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    GROUP BY 1
    ORDER BY change_type
    """,
    doc="Snapshot diff (CDC between table versions): two synthetic "
    "versions of events (the new one adds the %11 rows, drops the %17 "
    "rows, and bumps value on the %13 rows) compared with ONE "
    "key-equi full-outer join carrying only (key, row-hash) — never "
    "the payload — then classified added/removed/changed/unchanged. "
    "At 100 TB this is a sort-merge join on the key with 16-byte rows; "
    "the row hash uses epoch micros (not timestamp rendering, whose "
    "trailing-zero trimming differs across engines) and decimal-cast "
    "values for canonical bytes. The degenerate twin of "
    "dataset_content_digest: the digest says WHETHER replicas match, "
    "the diff says WHAT diverged.",
)
def snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    val = F.col("value").cast("decimal(12,2)")
    old = ev.filter(F.col("event_id") % 11 != 0).select(
        "event_id",
        F.md5(
            F.concat_ws(
                "|", F.unix_micros("ts"), F.col("user_id"),
                F.col("event_type"), val,
            )
        ).alias("h"),
    )
    new_val = F.when(
        F.col("event_id") % 13 == 0,
        (val + F.lit(1).cast("decimal(12,2)")).cast("decimal(12,2)"),
    ).otherwise(val)
    new = ev.filter(F.col("event_id") % 17 != 0).select(
        "event_id",
        F.md5(
            F.concat_ws(
                "|", F.unix_micros("ts"), F.col("user_id"),
                F.col("event_type"), new_val,
            )
        ).alias("h"),
    )
    o = old.select(F.col("event_id").alias("o_id"), F.col("h").alias("o_h"))
    n = new.select(F.col("event_id").alias("n_id"), F.col("h").alias("n_h"))
    joined = o.join(n, o.o_id == n.n_id, "full_outer")
    return (
        joined.select(
            F.when(F.col("o_id").isNull(), "added")
            .when(F.col("n_id").isNull(), "removed")
            .when(F.col("o_h") != F.col("n_h"), "changed")
            .otherwise("unchanged")
            .alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change_type")
    )


@register(
    "join_size_prediction",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS predicted_join_rows
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    doc="Join-size prediction WITHOUT running the join: |A join B| on "
    "key k is exactly SUM over keys of cntA(k)*cntB(k), so joining the "
    "two per-key COUNT tables (each |distinct keys| rows of two "
    "integers) and summing products gives the answer while shuffling "
    "kilobytes instead of the joined payload. This is what a planner's "
    "cardinality estimator approximates with sketches; the exact "
    "sum-product form is cheap enough to run for real before "
    "committing a 100 TB shuffle (pair it with the bloom prefilter: "
    "predict, then prune). The oracle IS the materialized join's "
    "COUNT(*) — the identity is the correctness claim.",
)
def join_size_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ca = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    cb = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    return ca.join(cb, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias(
            "predicted_join_rows"
        )
    )


@register(
    "ivm_join_delta_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_orders
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n_name
    """,
    doc="Incremental view maintenance for a JOIN view (delta-join "
    "algebra): with both inputs split into base + delta, "
    "Δ(C ⋈ O) = ΔC⋈O₀ ∪ C₀⋈ΔO ∪ ΔC⋈ΔO, and the aggregate view merges "
    "as a group-wise sum of the four partial aggregates — the identity "
    "every incremental pipeline relies on to avoid re-joining the full "
    "inputs per batch. Here customers split by key % 4, orders by "
    "key % 3, each quadrant aggregated independently (partial sums "
    "stay DECIMAL until the final merge so the regrouping is exact), "
    "merged, then dimension-joined. The oracle is the FULL recompute — "
    "proving incremental ≡ full, which is the entire contract. At "
    "scale each Δ term joins a delta-sized side (broadcastable) "
    "against a base; only the original view build ever joins "
    "base × base. Complements incremental_rollup_merge, which covers "
    "the aggregate-only case.",
)
def ivm_join_delta_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.queries._util import dec

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c0 = cust.filter(F.col("c_custkey") % 4 != 0)
    dc = cust.filter(F.col("c_custkey") % 4 == 0)
    o0 = orders.filter(F.col("o_custkey") % 3 != 0)
    do_ = orders.filter(F.col("o_custkey") % 3 == 0)

    def contrib(c: DataFrame, o: DataFrame) -> DataFrame:
        # partial aggregate per quadrant; sums stay DECIMAL so the
        # final regrouping is exact (order-independent)
        return (
            c.join(o, c["c_custkey"] == o["o_custkey"])
            .groupBy("c_nationkey")
            .agg(
                F.sum(dec("o_totalprice")).alias("rev_part"),
                F.count(F.lit(1)).alias("cnt_part"),
            )
        )

    merged = (
        contrib(c0, o0)
        .unionByName(contrib(dc, o0))
        .unionByName(contrib(c0, do_))
        .unionByName(contrib(dc, do_))
        .groupBy("c_nationkey")
        .agg(
            F.sum("rev_part").cast("double").alias("revenue"),
            F.sum("cnt_part").cast("bigint").alias("n_orders"),
        )
    )
    nation = load_table(spark, sf_dir, "nation")
    return merged.join(
        F.broadcast(nation),
        merged["c_nationkey"] == nation["n_nationkey"],
    ).select("n_name", "revenue", "n_orders")


def _wordpiece_oracle(n: int) -> str:
    """Unrolled WordPiece ladder — the BPE CTE ladder with the
    likelihood-ratio argmax (score = c_ab / (c_a * c_b), exact-integer
    inputs, one IEEE division, total tie-break)."""
    parts = [
        """
    tok AS MATERIALIZED (SELECT unnest(string_split(text, ' ')) AS w
                         FROM documents),
    r0 AS MATERIALIZED (
        SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS repr,
               COUNT(*) AS freq
        FROM tok WHERE w <> '' GROUP BY 1
    )"""
    ]
    for k in range(1, n + 1):
        parts.append(f"""
    p{k} AS MATERIALIZED (
        SELECT l[i] AS a, l[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS c
        FROM (SELECT string_split(repr, ' ') AS l, freq FROM r{k - 1}) t,
             UNNEST(range(1, len(l))) AS u(i)
        GROUP BY 1, 2
    ),
    u{k} AS MATERIALIZED (
        SELECT s, CAST(SUM(freq) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(repr, ' ')) AS s, freq
              FROM r{k - 1}) t
        GROUP BY s
    ),
    m{k} AS MATERIALIZED (
        SELECT p.a, p.b, p.c,
               CAST(p.c AS DOUBLE) /
               (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) AS score
        FROM p{k} p
        JOIN u{k} ua ON ua.s = p.a
        JOIN u{k} ub ON ub.s = p.b
        ORDER BY score DESC, p.a ASC, p.b ASC LIMIT 1
    ),
    r{k} AS MATERIALIZED (
        SELECT trim(replace(replace(
                   ' ' || replace(repr, ' ', '  ') || ' ',
                   (SELECT ' ' || a || '  ' || b || ' ' FROM m{k}),
                   (SELECT ' ' || a || b || ' ' FROM m{k})),
               '  ', ' ')) AS repr, freq
        FROM r{k - 1}
    )""")
    finals = " UNION ALL ".join(
        f"SELECT {k} AS step, a AS left_sym, b AS right_sym, "
        f"c AS pair_count, ROUND(score, 9) AS score FROM m{k}"
        for k in range(1, n + 1)
    )
    return "WITH " + ",".join(parts) + f" {finals} ORDER BY step"


_WP_MAX_WORD = 16  # greedy-walk ladder depth; the tokenizer's contract


def _wordpiece_encode_oracle(n: int, max_word: int = _WP_MAX_WORD) -> str:
    """Training ladder (same CTEs as _wordpiece_oracle) + an unrolled
    greedy longest-match-first walk (one CTE per step; each step
    consumes >=1 char so max_word steps finish every word) + per-source
    token stats."""
    body = _wordpiece_oracle(n)
    cut = body.rindex(" SELECT 1 AS step")
    ladder = body[len("WITH "):cut].rstrip().rstrip(",")
    pieces = " UNION ".join(
        f"SELECT a || b AS piece FROM m{k}" for k in range(1, n + 1)
    )
    g = [f"""
    pieces AS MATERIALIZED ({pieces}),
    g0 AS MATERIALIZED (
        SELECT DISTINCT w, 1 AS pos, 0 AS n FROM tok
        WHERE w <> '' AND length(w) <= {max_word}
    )"""]
    for t in range(1, max_word + 1):
        g.append(f"""
    g{t} AS MATERIALIZED (
        SELECT w,
               CASE WHEN pos <= length(w) THEN pos + best ELSE pos END
                   AS pos,
               CASE WHEN pos <= length(w) THEN n + 1 ELSE n END AS n
        FROM (
            SELECT q.w, q.pos, q.n,
                   COALESCE(MAX(length(p.piece)), 1) AS best
            FROM g{t - 1} q
            LEFT JOIN pieces p
              ON substr(q.w, q.pos, length(p.piece)) = p.piece
            GROUP BY q.w, q.pos, q.n
        ) z
    )""")
    return (
        "WITH "
        + ladder
        + ","
        + ",".join(g)
        + f""",
    wtok AS (SELECT w, CAST(n AS BIGINT) AS n_tok FROM g{max_word}),
    corpus AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT c.source,
           COUNT(*) AS n_words,
           CAST(SUM(m.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(length(c.w)) AS BIGINT) AS n_chars
    FROM corpus c JOIN wtok m ON m.w = c.w
    WHERE c.w <> '' AND length(c.w) <= {max_word}
    GROUP BY c.source ORDER BY c.source
    """
    )


@register(
    "wordpiece_encode_source_stats",
    _wordpiece_encode_oracle(_BPE_MERGES),
    doc="WordPiece tokenizer APPLICATION — greedy longest-match-first "
    "encoding (the actual BERT inference algorithm, not merge replay): "
    "vocabulary = corpus characters + the trained merge outputs; at "
    "each position take the longest vocab piece matching the suffix "
    "(single characters always match, so no UNK on the training "
    "corpus), count tokens per word, report per-source accounting. "
    "Spark-first shape: the walk is a single engine-side aggregate() "
    "fold over character positions with a nested fold over the "
    "(tiny, driver-state) multi-char piece list — JVM lambda "
    "execution, no Python in the loop — over the DISTINCT word table; "
    "the corpus-sized pass is one explode + broadcast join + partial "
    f"agg. Words longer than {_WP_MAX_WORD} chars are outside the "
    "contract (bounds the oracle's unrolled walk ladder). The oracle "
    "replays training plus the greedy walk, one CTE per step.",
)
def wordpiece_encode_source_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stream_processing_spark.functions import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.wordpiece_train(docs, n_merges=_BPE_MERGES)
    pieces = sorted({a + b for _s, a, b, _c, _sc in merges})
    # ONE corpus tokenize pass (same shape as bpe_encode_source_stats):
    # the (source, w) histogram feeds the distinct-word walk AND the
    # cnt-weighted per-source stats; integer sums regroup bit-identically
    hist = materialize(
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= _WP_MAX_WORD))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words = hist.select("w").distinct()
    if pieces:
        parr = F.array(*[F.lit(p) for p in pieces])

        def bestlen(pos):  # longest vocab piece matching w at pos
            return F.aggregate(
                parr,
                F.lit(1),
                lambda acc, v: F.when(
                    (F.length(v) > acc)
                    & (F.substring(F.col("w"), pos, F.length(v)) == v),
                    F.length(v),
                ).otherwise(acc),
            )

    else:  # no merges learned (degenerate corpus): every char a token

        def bestlen(pos):
            return F.lit(1)

    walk = F.aggregate(
        F.sequence(F.lit(1), F.length("w")),
        F.struct(F.lit(1).alias("pos"), F.lit(0).alias("n")),
        lambda st, i: F.when(i != st["pos"], st).otherwise(
            F.struct(
                (st["pos"] + bestlen(st["pos"])).alias("pos"),
                (st["n"] + 1).alias("n"),
            )
        ),
        lambda st: st["n"],
    )
    wmap = words.select("w", walk.cast("bigint").alias("n_tok"))
    return (
        hist.join(F.broadcast(wmap), "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("n_tok") * F.col("cnt")).alias("n_tokens"),
            F.sum(F.length("w").cast("bigint") * F.col("cnt")).alias(
                "n_chars"
            ),
        )
        .orderBy("source")
    )


@register(
    "wordpiece_train_merges",
    _wordpiece_oracle(_BPE_MERGES),
    doc=f"WordPiece tokenizer training (Schuster & Nakajima 2012 — the "
    f"BERT tokenizer), first {_BPE_MERGES} merges: the same "
    "word-frequency ladder as bpe_train_merges but the merge argmax is "
    "the LIKELIHOOD RATIO count(ab)/(count(a)·count(b)) — the pair "
    "whose merge most increases a unigram LM's corpus likelihood — "
    "instead of the raw pair count. Completes the public tokenizer-"
    "training trio beside BPE (greedy frequency) and unigram-LM "
    "(Viterbi-EM pruning). Per step: one pair-count aggregation + one "
    "vocab-sized symbol-count aggregation + a 1-row argmax driver trip "
    "with a total tie-break; the score is one IEEE division of exact "
    "integers, so the trajectory is engine-exact and the oracle "
    "replays it as an unrolled CTE ladder. Parity vs a pure-Python "
    "trainer in tests/test_bpe.py.",
)
def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from decimal import ROUND_HALF_UP, Decimal

    from stream_processing_spark.functions import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.wordpiece_train(docs, n_merges=_BPE_MERGES)
    # HALF_UP on the decimal repr, matching DuckDB ROUND(x, 9) (half
    # away from zero) — builtin round() is half-even on the binary
    # double and diverges on exact halves (repo convention; ADVICE r8).
    q9 = Decimal("1e-9")

    def r9(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q9, rounding=ROUND_HALF_UP))

    return spark.createDataFrame(
        [(s, a, b, c, r9(sc)) for s, a, b, c, sc in merges],
        "step int, left_sym string, right_sym string, pair_count bigint, "
        "score double",
    )
