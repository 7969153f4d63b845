"""Round-2 batch 2 curation/ingest operators:

- exact heavy hitters over an unbounded vocabulary (Misra-Gries
  candidate pruning + exact recount — the mergeable-summaries shape);
- substring-level duplicate-span detection (the exact-substring dedup
  stage of Lee et al., "Deduplicating Training Data Makes Language
  Models Better", via fixed-width span fingerprints — no self-join);
- temperature-scaled language-mixture sampling weights (the multilingual
  rebalancing rule from the mT5/XLM-R papers, alpha = 0.5);
- CDC latest-change apply (MERGE INTO semantics: upsert + delete from a
  change stream onto a keyed snapshot).

Determinism rules as elsewhere in the registry: md5 fingerprints,
integer/decimal arithmetic until one exact double division, ROUND(…, 6)
on genuinely-float outputs, every tie broken by a unique column.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.queries import register

# ------------------------------------------------------- heavy hitters

# A token is "heavy" if it accounts for >= 1/1000 of all token
# occurrences. The Misra-Gries capacity must exceed that inverse share
# so per-partition undercount (<= n_p / (CAP + 1)) can never evict a
# globally-heavy token from every partition's summary.
_HH_SHARE_DEN = 1000
_MG_CAP = 2000


def _mg_candidates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition Misra-Gries summary over a `token` column.

    Batches are merged with the Agarwal et al. mergeable-summaries rule:
    add exact per-batch counts, then subtract the (CAP+1)-th largest
    counter and drop the non-positive ones. Guarantees every token with
    partition frequency > n_p / (CAP + 1) survives, with O(CAP) state
    regardless of vocabulary size — the property that matters when the
    vocabulary itself does not fit in executor memory.
    """
    counters = pd.Series(dtype="int64")
    for pdf in batches:
        counters = counters.add(pdf["token"].value_counts(), fill_value=0)
        if len(counters) > _MG_CAP:
            cut = counters.nlargest(_MG_CAP + 1).iloc[-1]
            counters = counters[counters > cut]
    yield pd.DataFrame({"token": counters.index.astype(str)})


@register(
    "heavy_hitter_tokens",
    f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT token,
           COUNT(*) AS n_occurrences,
           ROUND(COUNT(*) / (SELECT n FROM tot), 6) AS share
    FROM toks
    GROUP BY token
    HAVING COUNT(*) * {_HH_SHARE_DEN} >= (SELECT n FROM tot)
    """,
    doc="Exact heavy hitters (tokens with >= 1/1000 of all occurrences) "
    "via two phases: (1) a per-partition Misra-Gries sketch "
    "(mapInPandas, O(CAP) state, Arrow-batched) whose union provably "
    "contains every global heavy hitter — the averaging argument: if "
    "freq >= N/1000 globally then freq_p >= n_p/1000 in some "
    "partition, and MG with CAP=2000 undercounts by at most "
    "n_p/2001 < n_p/1000; (2) an exact recount of only the candidate "
    "set (broadcast semi-join) + threshold filter. The full groupBy "
    "never materializes the unbounded vocabulary — shuffle volume is "
    "bounded by CAP x partitions, the property a naive "
    "groupBy(token).count() loses when the vocabulary doesn't fit. "
    "Result is EXACT (candidates are a superset; the recount and "
    "threshold are exact), hence the plain GROUP BY/HAVING oracle.",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    candidates = (
        tokens.mapInPandas(_mg_candidates, schema="token string").distinct()
    )
    total = tokens.agg(F.count(F.lit(1)).alias("__total"))
    return (
        tokens.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .join(F.broadcast(total))
        .where(F.col("n_occurrences") * _HH_SHARE_DEN >= F.col("__total"))
        .select(
            "token",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("__total"), 6).alias(
                "share"
            ),
        )
    )


# ------------------------------------------------ duplicate span dedup

_SPAN_W = 8


def _span_terms_sql(n: int) -> str:
    return " || ' ' || ".join(f"t[i+{j}]" for j in range(n))


@register(
    "dedup_duplicate_spans",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    spans AS (
        SELECT doc_id, md5({_span_terms_sql(_SPAN_W)}) AS fp
        FROM toks, UNNEST(range(1, len(t) - {_SPAN_W - 2})) AS u(i)
        WHERE len(t) >= {_SPAN_W}
    )
    SELECT fp,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS first_doc_id
    FROM spans
    GROUP BY fp
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc=f"Substring-level exact dedup (the Lee et al. 'Deduplicating "
    f"Training Data' stage): every {_SPAN_W}-token sliding window is "
    "fingerprinted (md5 over the joined span) and spans occurring in "
    ">= 2 distinct documents are reported with occurrence counts and "
    "an exemplar doc. Scale shape: each token starts at most one "
    "span, so span volume is LINEAR in corpus tokens; the groupBy "
    "shuffles fixed-width 32-hex keys (never text), and there is no "
    "self-join anywhere — unlike pair-generating dedup, hot spans "
    "cost one aggregation row, not a quadratic bucket.",
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spans = F.expr(
        f"transform(sequence(0, size(t) - {_SPAN_W}), "
        f"i -> md5(concat_ws(' ', slice(t, i + 1, {_SPAN_W}))))"
    )
    return (
        docs.select(
            "doc_id", F.split(F.col("text"), " ").alias("t")
        )
        .where(F.size("t") >= _SPAN_W)
        .select("doc_id", F.explode(spans).alias("fp"))
        .groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


# ------------------------------------- temperature mixture weights

@register(
    "mixture_temperature_weights",
    """
    WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    s AS (
        SELECT lang, n_docs,
               CAST(ROUND(SQRT(n_docs / SUM(n_docs) OVER ()), 6)
                    AS DECIMAL(10,6)) AS s6
        FROM c
    )
    SELECT lang, n_docs,
           ROUND(CAST(s6 AS DOUBLE) / CAST(SUM(s6) OVER () AS DOUBLE), 6)
               AS weight
    FROM s
    """,
    doc="Temperature-scaled language sampling weights (alpha = 0.5, the "
    "mT5/XLM-R multilingual rebalancing rule): w_l ~ p_l^alpha, "
    "normalized. Complements mixture_equalize_langs (hard equalize) "
    "with the soft variant. Determinism: integer counts shuffled once "
    "(groupBy lang); sqrt of one exact long/long->double division is "
    "IEEE-deterministic; the normalizer sums 6-dp DECIMALs (order-"
    "independent) before the final exact double division. The window "
    "runs over |langs| rows — a constant-size frame at any corpus "
    "scale, so the single-partition Exchange is free.",
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy()
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    s6 = F.round(
        F.sqrt(F.col("n_docs") / F.sum("n_docs").over(w)), 6
    ).cast("decimal(10,6)")
    return (
        counts.withColumn("s6", s6)
        .select(
            "lang",
            "n_docs",
            F.round(
                F.col("s6").cast("double")
                / F.sum("s6").over(w).cast("double"),
                6,
            ).alias("weight"),
        )
    )


# --------------------------------------------- CDC latest-change apply

@register(
    "cdc_apply_latest_changes",
    """
    WITH changes AS (
        SELECT user_id, event_type AS op, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type IN ('purchase', 'error')
    ),
    latest AS (SELECT user_id, op, value FROM changes WHERE rn = 1),
    base AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0)
    SELECT COALESCE(c.c_custkey, l.user_id) AS cust_id,
           CASE WHEN l.op = 'purchase' THEN l.value
                ELSE c.c_acctbal END AS balance,
           CASE WHEN l.op IS NULL THEN 'keep'
                WHEN c.c_custkey IS NULL THEN 'insert'
                ELSE 'update' END AS change_op
    FROM base c
    FULL OUTER JOIN latest l ON c.c_custkey = l.user_id
    WHERE l.op IS DISTINCT FROM 'error'
    """,
    doc="CDC apply / MERGE INTO semantics: a change stream (events; "
    "'purchase' = upsert of a new balance, 'error' = delete) is "
    "collapsed to latest-change-per-key (one row_number window, ties "
    "broken by the unique event_id) and applied to a keyed snapshot "
    "(customer) via one full-outer join: unmatched base rows are kept, "
    "matched rows updated, unmatched changes inserted, deletes "
    "dropped. The snapshot is the even-custkey half of customer so "
    "every MERGE path (keep/update/insert/delete) is exercised by the "
    "fixture data. Scale shape: one shuffle of the change stream by "
    "key + one sort-merge full outer join; no driver-side state. This "
    "is the batch core of an incremental-ingest upsert pipeline "
    "(streaming/upsert.py's UpsertTable is the streaming shell).",
)
def cdc_apply_latest_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "error")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("op"), "value")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_acctbal")
    )
    joined = cust.join(
        latest, cust.c_custkey == latest.user_id, "full_outer"
    )
    return (
        joined.where(~F.col("op").eqNullSafe("error"))
        .select(
            F.coalesce("c_custkey", "user_id").alias("cust_id"),
            F.when(F.col("op") == "purchase", F.col("value"))
            .otherwise(F.col("c_acctbal"))
            .alias("balance"),
            F.when(F.col("op").isNull(), "keep")
            .when(F.col("c_custkey").isNull(), "insert")
            .otherwise("update")
            .alias("change_op"),
        )
    )
