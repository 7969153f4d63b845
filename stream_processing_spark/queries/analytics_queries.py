"""Event-sequence, vocabulary, and data-prep analytics queries.

These close out classic large-scale analytics shapes the registry did
not yet exercise: ordered funnel analysis (the event-sequence op every
product-analytics engine ships), frequency-ranked vocabulary building
(the first step of every tokenizer-training pipeline), blocked fuzzy
matching (entity resolution's candidate-generation + verify pattern),
deterministic train/val/test splits, and value-distribution histograms.
The reference has no time or sequence notion at all (SURVEY.md §2.5) —
these are beyond-reference surfaces built on the same events/documents
tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stream_processing_spark.catalog import load_table
from stream_processing_spark.functions.keys import value_hash
from stream_processing_spark.queries import register
from stream_processing_spark.runtime import materialize


@register(
    "funnel_view_click_purchase",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY e.user_id
    )
    SELECT * FROM (
        SELECT 1 AS stage_idx, 'view' AS stage,
               (SELECT COUNT(*) FROM v) AS users
        UNION ALL
        SELECT 2, 'view>click', (SELECT COUNT(*) FROM c)
        UNION ALL
        SELECT 3, 'view>click>purchase', (SELECT COUNT(*) FROM p)
    ) ORDER BY stage_idx
    """,
    doc="Ordered funnel (view, then a LATER click, then a LATER "
    "purchase, per user): each stage is a min-timestamp aggregate "
    "joined against the previous stage's users, so every join carries "
    "one row per qualifying user — never raw events — and all three "
    "share the user_id shuffle key. Strictly-increasing timestamps "
    "encode the sequence constraint; counts are integers, hash-safe. "
    "Execution (r8 rewrite, fixing the r7 bench regression): ONE "
    "events scan and ONE user_id shuffle — per user, aggregate "
    "t1 = min(view ts) plus the click/purchase timestamp arrays "
    "(collect_list skips the non-matching nulls), then derive "
    "t2 = array_min(clicks > t1) and t3 = array_min(purchases > t2) "
    "map-side, and unpivot one 1-row count aggregate into the three "
    "stage rows. The arrays are bounded by PER-USER activity (human-"
    "bounded, independent of corpus scale; a bot-scale hot user would "
    "need the skew_salted_* treatment). The r1-r7 three-branch join "
    "form re-evaluated shared subtrees (six events scans, 1.17 s at "
    "sf0.1); a chained-window spelling measured 3.4 s (three "
    "WindowExec passes over raw events); this form measures ~0.5 s.",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = (
        events.filter(
            F.col("event_type").isin("view", "click", "purchase")
        )
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).alias("t1"),
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("ts"))
            ).alias("clicks"),
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("purchases"),
        )
        .withColumn(
            # NULL-keyed events form a group under groupBy (stage 1
            # counts it, like the oracle's GROUP BY), but the later
            # stages' equi-joins can never match a NULL user — guard
            # t2 so the NULL group exits the funnel after stage 1
            # (t3 inherits the null through its t2 dependency)
            "t2",
            F.when(
                F.col("user_id").isNotNull(),
                F.array_min(F.filter("clicks", lambda x: x > F.col("t1"))),
            ),
        )
        .withColumn(
            "t3",
            F.array_min(F.filter("purchases", lambda x: x > F.col("t2"))),
        )
    )
    counts = per_user.agg(
        F.count("t1").alias("c1"),
        F.count("t2").alias("c2"),
        F.count("t3").alias("c3"),
    )
    stages = F.array(
        F.struct(
            F.lit(1).alias("stage_idx"),
            F.lit("view").alias("stage"),
            F.col("c1").alias("users"),
        ),
        F.struct(
            F.lit(2).alias("stage_idx"),
            F.lit("view>click").alias("stage"),
            F.col("c2").alias("users"),
        ),
        F.struct(
            F.lit(3).alias("stage_idx"),
            F.lit("view>click>purchase").alias("stage"),
            F.col("c3").alias("users"),
        ),
    )
    return (
        counts.select(F.explode(stages).alias("s"))
        .select("s.stage_idx", "s.stage", "s.users")
        .orderBy("stage_idx")
    )


@register(
    "vocab_top_tokens",
    """
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counted AS (
        SELECT token, COUNT(*) AS cnt FROM tok
        WHERE token <> '' GROUP BY token HAVING COUNT(*) >= 5
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT)
               AS token_id,
           token, cnt
    FROM counted
    """,
    doc="Vocabulary build (tokenizer-training step 1): token "
    "frequencies with a min-count cutoff, then contiguous ids assigned "
    "by (count desc, token) — a total order, so ids are deterministic. "
    "The heavy work (explode + count) is fully parallel; the id "
    "assignment avoids a vocab-sized single-partition row_number "
    "(r12): each count LEVEL's starting id comes from a range-prefix "
    "scan over the count histogram (distinct frequency values — far "
    "fewer than the vocabulary, by Zipf), and within a level ids are "
    "numbered by a PARTITIONED window ordered by token — the same "
    "(cnt DESC, token) total order, so ids are bit-identical. The "
    "min-count tie level is the largest single partition; the cutoff "
    "keeps it a fraction of the vocabulary.",
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.operators.prefixsum import (
        range_prefix_sum,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the token-count frame feeds the level histogram (→ the prefix
    # scan's branches) AND the final id-assignment join: eager
    # checkpoint runs the explode+count corpus scan once instead of
    # once per branch (r13 one-scan rule, VERDICT r12 weak #1)
    counted = materialize(
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )
    levels = counted.groupBy("cnt").agg(
        F.count(F.lit(1)).alias("k")
    ).withColumn("negcnt", -F.col("cnt"))
    lev = range_prefix_sum(levels, "negcnt", {"cumk": "k"}).select(
        "cnt", (F.col("cumk") - F.col("k")).alias("start")
    )
    w = Window.partitionBy("cnt").orderBy("token")
    return counted.join(F.broadcast(lev), "cnt").select(
        (F.col("start") + F.row_number().over(w))
        .cast("bigint")
        .alias("token_id"),
        "token",
        "cnt",
    )


@register(
    "fuzzy_name_pairs",
    """
    WITH pos AS (
        SELECT c_custkey, c_name,
               unnest(generate_series(1, length(c_name))) AS i
        FROM customer
    ),
    v AS (
        SELECT c_custkey, c_name,
               substr(c_name, 1, i - 1) || substr(c_name, i + 1) AS variant
        FROM pos
    )
    SELECT DISTINCT a.c_custkey AS key1, b.c_custkey AS key2,
           a.c_name AS name1, b.c_name AS name2
    FROM v a JOIN v b ON a.variant = b.variant
    WHERE a.c_custkey < b.c_custkey
      AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="Fuzzy entity matching via DELETION-NEIGHBORHOOD blocking "
    "(FastSS/SymSpell): each name emits length(name) single-character-"
    "deletion variants; any two strings within edit distance 1 share a "
    "variant, so an equi-join on the variant finds EVERY such pair — "
    "exact, unlike prefix blocking — and levenshtein (integer-identical "
    "in Spark and DuckDB) verifies candidates. O(n * len) variant rows "
    "and a hash join on a short string key replace the O(n^2) all-pairs "
    "scan; this is how spell-correction and entity-resolution candidate "
    "generation run at 100 TB. Customer names differing in one digit "
    "are the matches.",
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    v = cust.select(
        "c_custkey",
        "c_name",
        F.explode(F.sequence(F.lit(1), F.length("c_name"))).alias("i"),
    ).select(
        "c_custkey",
        "c_name",
        F.expr(
            "concat(substring(c_name, 1, i - 1), "
            "substring(c_name, i + 1, 1000000))"
        ).alias("variant"),
    )
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col("a.variant") == F.col("b.variant"))
        .filter(
            (F.col("a.c_custkey") < F.col("b.c_custkey"))
            & (F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1)
        )
        .select(
            F.col("a.c_custkey").alias("key1"),
            F.col("b.c_custkey").alias("key2"),
            F.col("a.c_name").alias("name1"),
            F.col("b.c_name").alias("name2"),
        )
        .distinct()
    )


@register(
    "split_train_val_test",
    """
    WITH tagged AS (
        SELECT lang,
               CASE WHEN md5(text) < 'cc' THEN 'train'
                    WHEN md5(text) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT lang, split, COUNT(*) AS n_docs
    FROM tagged GROUP BY lang, split
    """,
    doc="Deterministic train/val/test split (~80/10/10) by md5 prefix "
    "range ('cc' = 204/256, 'e6' = 230/256): content-addressed, so "
    "assignment is stable under repartition, rerun, and engine — the "
    "property that prevents test-set leakage when the corpus is "
    "rebuilt. Pure map-side tagging (no shuffle until the count); the "
    "split column is also the natural partitionBy key for the write.",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    split = (
        F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "histogram_doc_lengths",
    """
    SELECT CAST(FLOOR(n_chars / 100) AS BIGINT) AS bucket,
           CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1, 2
    """,
    doc="Doc-length histogram (100-char buckets) — the distribution "
    "check before length-based quality filtering. Integer bucket "
    "arithmetic (FLOOR on both sides — Spark's integer division "
    "truncates, DuckDB's / is float), map-side partial agg, one "
    "shuffle of |buckets| rows.",
)
def histogram_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / 100).cast("bigint")
    return (
        docs.select(
            bucket.alias("bucket"),
            (bucket * 100).cast("bigint").alias("bucket_lo"),
            "n_chars",
        )
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


@register(
    "quality_percentile_filter",
    """
    WITH scored AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               PERCENT_RANK() OVER (PARTITION BY lang
                                    ORDER BY len(string_split(text, ' ')))
                   AS pr
        FROM documents
    )
    SELECT doc_id, lang, n_tokens, pr
    FROM scored WHERE pr >= 0.25
    """,
    doc="Percentile-based quality filtering (the 'drop the bottom "
    "quartile per language' step of corpus curation): percent_rank "
    "over token count within each language partition, keep pr >= 0.25. "
    "percent_rank depends only on the ordering VALUES, so it is "
    "deterministic under ties without a tie-breaker (unlike "
    "row_number), and (rank-1)/(n-1) is the same one IEEE division in "
    "both engines. One shuffle on the language key.",
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    w = Window.partitionBy("lang").orderBy(n_tokens)
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            F.percent_rank().over(w).alias("pr"),
        )
        .filter(F.col("pr") >= 0.25)
    )


@register(
    "inverted_index_postings",
    """
    WITH t AS (
        SELECT DISTINCT doc_id,
               unnest(string_split(text, ' ')) AS token
        FROM documents
    )
    SELECT token, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id))[1:20], ',')
               AS postings_head
    FROM t WHERE token <> ''
    GROUP BY token HAVING COUNT(*) >= 5
    """,
    doc="Inverted-index build (search-engine / RAG-retrieval backbone): "
    "token -> document frequency + the first 20 doc ids of the sorted "
    "posting list, rendered as a string (array renderings differ "
    "across engines; the joined string is portable). distinct "
    "(doc_id, token) pairs partial-aggregate before the token shuffle; "
    "at 100 TB the posting LISTS partition by token — the classic "
    "term-sharded index layout — and the head-of-list here stands in "
    "for the full list write.",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 5)
    )


@register(
    "bigram_lm_probs",
    """
    WITH toks AS (
        SELECT string_split(text, ' ') AS l FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    big AS (
        SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                                     i -> l[i] || ' ' || l[i + 1])) AS bg
        FROM toks
    ),
    counted AS (
        SELECT bg, COUNT(*) AS cnt FROM big GROUP BY bg
    )
    SELECT split_part(bg, ' ', 1) AS w1,
           split_part(bg, ' ', 2) AS w2,
           cnt,
           CAST(cnt AS DOUBLE)
               / CAST(SUM(cnt) OVER (PARTITION BY split_part(bg, ' ', 1))
                      AS DOUBLE) AS p
    FROM counted
    """,
    doc="Bigram language-model estimation: adjacent-token pairs per "
    "document (an in-array transform — no self-join, no positional "
    "explode+rejoin), counted corpus-wide; the conditional probability "
    "P(w2|w1) = cnt(w1 w2) / cnt(w1 *) is one double division of "
    "exact integers, and the denominator is a window sum over the "
    "already-aggregated bigram table (|vocab|^2 rows, not corpus "
    "rows). The n-gram-LM / next-token-statistics building block.",
)
def bigram_lm_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counted = (
        docs.select(F.split(F.col("text"), " ").alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
                )
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w1 = F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
    w = Window.partitionBy(w1)
    return counted.select(
        w1.alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
        "cnt",
        (F.col("cnt").cast("double") / F.sum("cnt").over(w).cast("double")).alias("p"),
    )


@register(
    "zscore_orders_per_status",
    """
    WITH s AS (
        SELECT o_orderstatus AS st, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
                        * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sxx
        FROM orders GROUP BY 1
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           ROUND((o_totalprice - sx / n)
                 / sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS z
    FROM orders JOIN s ON o_orderstatus = st
    """,
    doc="Per-group z-score standardization (the feature-scaling step "
    "before model training): group moments from decimal-exact sums "
    "(order-independent, map-side partial-aggregable), then one "
    "identical-IEEE per-row expression (x - mean)/stddev. The "
    "|groups|-row stats table broadcasts, so standardization is "
    "map-side — no second shuffle of the fact rows; contrast with the "
    "window-function formulation, which re-shuffles every row.",
)
def zscore_orders_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.queries._util import dec

    orders = load_table(spark, sf_dir, "orders")
    x = dec("o_totalprice")
    s = orders.groupBy(F.col("o_orderstatus").alias("st")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    z = (F.col("o_totalprice") - sx / n) / F.sqrt((sxx - sx * sx / n) / (n - 1))
    return (
        orders.join(F.broadcast(s), orders["o_orderstatus"] == s["st"])
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.round(z, 6).alias("z"),
        )
    )


@register(
    "iqr_outlier_events",
    """
    WITH q AS (
        SELECT event_type AS et,
               ROUND(quantile_cont(value, 0.25), 2) AS q1,
               ROUND(quantile_cont(value, 0.75), 2) AS q3
        FROM events GROUP BY 1
    )
    SELECT event_id, event_type, value,
           q1 - 1.5 * (q3 - q1) AS lo_cut,
           q3 + 1.5 * (q3 - q1) AS hi_cut
    FROM events JOIN q ON event_type = et
    WHERE value > q3 + 1.5 * (q3 - q1)
       OR value < q1 - 1.5 * (q3 - q1)
    """,
    doc="IQR outlier detection (Tukey fences, the standard robust "
    "data-cleaning rule) on the heavy-tailed event values: per-group "
    "quartiles (Spark percentile == DuckDB quantile_cont, rounded to "
    "the data's 2-decimal grid so the fences are engine-identical "
    "doubles), broadcast back, map-side fence filter. Quantiles are "
    "the only shuffle; the fact table is never re-shuffled. Swap "
    "percentile for approx_percentile at 100 TB when exact quartiles "
    "aren't required.",
)
def iqr_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    q = events.groupBy(F.col("event_type").alias("et")).agg(
        F.round(F.percentile("value", F.lit(0.25)), 2).alias("q1"),
        F.round(F.percentile("value", F.lit(0.75)), 2).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - 1.5 * iqr
    hi = F.col("q3") + 1.5 * iqr
    return (
        events.join(F.broadcast(q), events["event_type"] == q["et"])
        .filter((F.col("value") > hi) | (F.col("value") < lo))
        .select(
            "event_id",
            "event_type",
            "value",
            lo.alias("lo_cut"),
            hi.alias("hi_cut"),
        )
    )


@register(
    "cumulative_new_users_daily",
    """
    WITH first_touch AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events
        GROUP BY user_id
    ),
    daily AS (
        SELECT d, COUNT(*) AS new_users FROM first_touch GROUP BY d
    )
    SELECT d, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily
    """,
    doc="Cumulative distinct users per day via FIRST-TOUCH reduction: "
    "a running COUNT(DISTINCT) window is not partial-aggregable (state "
    "grows with users), but min-date per user + daily count + running "
    "sum over the tiny |days| table computes the identical series with "
    "two ordinary shuffles and a |days|-row window. The standard "
    "rewrite for growth-accounting dashboards at scale.",
)
def cumulative_new_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


@register(
    "cohort_retention_daily",
    """
    WITH first_touch AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_d FROM events
        GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    cohort_size AS (
        SELECT cohort_d, COUNT(*) AS n0 FROM first_touch GROUP BY cohort_d
    ),
    ret AS (
        SELECT f.cohort_d, CAST(a.d - f.cohort_d AS BIGINT) AS day_offset,
               COUNT(*) AS active_users
        FROM activity a JOIN first_touch f ON a.user_id = f.user_id
        GROUP BY 1, 2
    )
    SELECT r.cohort_d, r.day_offset, r.active_users, s.n0 AS cohort_users,
           CAST(r.active_users AS DOUBLE) / CAST(s.n0 AS DOUBLE) AS retention
    FROM ret r JOIN cohort_size s ON r.cohort_d = s.cohort_d
    """,
    doc="Cohort retention (the growth-analytics staple): users "
    "cohorted by first-touch day, retention(c, k) = fraction of "
    "cohort c active k days later. first_touch and the distinct "
    "(user, day) activity table both reduce map-side before the "
    "user_id join; the |cohorts| x |offsets| result joins the tiny "
    "cohort-size table broadcast. One double division of exact "
    "integers keeps it hash-stable.",
)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    first_touch = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_d")
    )
    activity = events.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    cohort_size = first_touch.groupBy("cohort_d").agg(
        F.count(F.lit(1)).alias("n0")
    )
    ret = (
        activity.join(first_touch, "user_id")
        .groupBy("cohort_d", F.datediff("d", "cohort_d").cast("bigint").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    return ret.join(F.broadcast(cohort_size), "cohort_d").select(
        "cohort_d",
        "day_offset",
        "active_users",
        F.col("n0").alias("cohort_users"),
        (F.col("active_users").cast("double") / F.col("n0").cast("double")).alias(
            "retention"
        ),
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    counted AS (
        SELECT event_type, next_type, COUNT(*) AS cnt
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT event_type, next_type, cnt,
           CAST(cnt AS DOUBLE)
               / CAST(SUM(cnt) OVER (PARTITION BY event_type) AS DOUBLE) AS p
    FROM counted
    """,
    doc="Event-transition (Markov) matrix: P(next event type | current) "
    "from per-user event sequences. lead() over the total (ts, "
    "event_id) order is deterministic; one shuffle on user_id for the "
    "sequence, then the |types|^2 transition table aggregates and the "
    "window-sum denominator runs on that tiny table — corpus rows are "
    "shuffled exactly once. The next-action-prediction / "
    "clickstream-modeling building block.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counted = (
        events.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wt = Window.partitionBy("event_type")
    return counted.select(
        "event_type",
        "next_type",
        "cnt",
        (F.col("cnt").cast("double") / F.sum("cnt").over(wt).cast("double")).alias("p"),
    )


@register(
    "sample_weighted_by_length",
    """
    WITH mx AS (SELECT MAX(n_chars) AS m FROM documents)
    SELECT doc_id, lang, n_chars
    FROM documents, mx
    WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
              / 4294967296.0
          < CAST(n_chars AS DOUBLE) / CAST(m AS DOUBLE)
    """,
    doc="Importance sampling with per-row weights (longer docs kept "
    "proportionally more often — the quality-weighted downsampling "
    "step of corpus curation): the first 8 md5 hex digits of the "
    "content become a deterministic uniform in [0,1) (Spark conv(hex) "
    "== DuckDB CAST('0x'||hex), same integer), compared against "
    "weight = n_chars / max(n_chars). Content-addressed like "
    "sample_hash_pct, so the sample is stable under rerun, "
    "repartition, and engine; the 1-row max broadcasts, the filter is "
    "map-side.",
)
def sample_weighted_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").alias("m"))
    u = value_hash(F.col("text").cast("binary"), 8) / F.lit(4294967296.0)
    return (
        docs.crossJoin(F.broadcast(mx))
        .filter(u < F.col("n_chars").cast("double") / F.col("m").cast("double"))
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "decile_binning_orders",
    """
    WITH binned AS (
        SELECT o_orderstatus, o_totalprice,
               NTILE(10) OVER (PARTITION BY o_orderstatus
                               ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT o_orderstatus, decile, COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM binned GROUP BY 1, 2
    """,
    doc="Equal-frequency binning (feature discretization / monotonic "
    "target encoding prep): NTILE(10) per status over the total "
    "(o_totalprice, o_orderkey) order — the tie-break makes NTILE "
    "deterministic, which it is NOT under bare value ordering; both "
    "engines give earlier deciles the extra rows. The bin boundaries "
    "(lo/hi per decile) are the artifact a feature store would "
    "persist. One shuffle on the partition key, then a tiny rollup.",
)
def decile_binning_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderstatus",
            "o_totalprice",
            F.ntile(10).over(w).alias("decile"),
        )
        .groupBy("o_orderstatus", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "top_tokens_per_lang",
    """
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    counted AS (
        SELECT lang, token, COUNT(*) AS cnt FROM tok
        WHERE token <> '' GROUP BY lang, token
    ),
    ranked AS (
        SELECT lang, token, cnt,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, token) AS rk
        FROM counted
    )
    SELECT lang, CAST(rk AS INTEGER) AS rk, token, cnt
    FROM ranked WHERE rk <= 5
    """,
    doc="Top-k frequent items PER GROUP (the grouped variant of the "
    "global top-k): token counts reduce map-side, then a row_number "
    "window on the already-aggregated (lang, token) table — the "
    "window input is |lang x vocab| rows, never corpus rows. "
    "(cnt DESC, token) is a total order, so ranks are deterministic. "
    "The per-segment-leaderboard shape.",
)
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counted = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("token"))
    return (
        counted.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 5)
        .select("lang", "rk", "token", "cnt")
    )


@register(
    "mad_robust_scale_events",
    """
    WITH med AS (
        SELECT event_type AS et,
               ROUND(quantile_cont(value, 0.5), 2) AS med
        FROM events GROUP BY 1
    ),
    mad AS (
        SELECT event_type AS et2,
               ROUND(quantile_cont(abs(value - med), 0.5), 2) AS mad
        FROM events JOIN med ON event_type = et
        GROUP BY 1
    )
    SELECT et AS event_type, med, mad
    FROM med JOIN mad ON et = et2
    """,
    doc="Median absolute deviation per group — the robust-statistics "
    "twin of stddev (immune to the heavy tail that breaks z-scores on "
    "this column). Two quantile passes: median, then median of "
    "|x - median| with the medians broadcast back; each pass is one "
    "grouped aggregate, both rounded to the data's 2-decimal grid so "
    "Spark percentile == DuckDB quantile_cont exactly. Divide by "
    "1.4826*MAD for the robust z-score downstream.",
)
def mad_robust_scale_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy(F.col("event_type").alias("et")).agg(
        F.round(F.percentile("value", F.lit(0.5)), 2).alias("med")
    )
    mad = (
        events.join(F.broadcast(med), events["event_type"] == med["et"])
        .groupBy(F.col("event_type").alias("et2"))
        .agg(
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)), 2
            ).alias("mad")
        )
    )
    return med.join(mad, med["et"] == mad["et2"]).select(
        F.col("et").alias("event_type"), "med", "mad"
    )


@register(
    "profile_orders_columns",
    """
    WITH a AS (
        SELECT COUNT(*) AS n,
               COUNT(o_custkey) AS nn_cust,
               COUNT(DISTINCT o_custkey) AS nd_cust,
               COUNT(o_orderstatus) AS nn_status,
               COUNT(DISTINCT o_orderstatus) AS nd_status,
               COUNT(o_orderpriority) AS nn_prio,
               COUNT(DISTINCT o_orderpriority) AS nd_prio
        FROM orders
    )
    SELECT 'o_custkey' AS col, n, n - nn_cust AS n_null, nd_cust AS n_distinct
    FROM a
    UNION ALL
    SELECT 'o_orderstatus', n, n - nn_status, nd_status FROM a
    UNION ALL
    SELECT 'o_orderpriority', n, n - nn_prio, nd_prio FROM a
    """,
    doc="Column profiling (the data-quality summary every ingestion "
    "pipeline runs first): row count, null count, distinct count per "
    "column in ONE scan — multi-column aggregates then a constant-"
    "width unpivot to long form, instead of one scan per column. At "
    "100 TB swap COUNT(DISTINCT) for approx_count_distinct: same "
    "plan, sketch-mergeable, no exact-distinct shuffle.",
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("nn_cust"),
        F.count_distinct(F.col("o_custkey")).alias("nd_cust"),
        F.count("o_orderstatus").alias("nn_status"),
        F.count_distinct(F.col("o_orderstatus")).alias("nd_status"),
        F.count("o_orderpriority").alias("nn_prio"),
        F.count_distinct(F.col("o_orderpriority")).alias("nd_prio"),
    )

    def row(col: str, nn: str, nd: str) -> DataFrame:
        return a.select(
            F.lit(col).alias("col"),
            F.col("n"),
            (F.col("n") - F.col(nn)).alias("n_null"),
            F.col(nd).alias("n_distinct"),
        )

    return (
        row("o_custkey", "nn_cust", "nd_cust")
        .unionAll(row("o_orderstatus", "nn_status", "nd_status"))
        .unionAll(row("o_orderpriority", "nn_prio", "nd_prio"))
    )


@register(
    "rfm_user_features",
    """
    WITH mx AS (SELECT MAX(ts) AS now_ts FROM events)
    SELECT user_id,
           CAST(FLOOR(EXTRACT(EPOCH FROM now_ts - MAX(ts)) / 86400.0)
                AS BIGINT) AS recency_days,
           COUNT(*) AS frequency,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(12,2))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               AS monetary
    FROM events, mx
    GROUP BY user_id, now_ts
    """,
    doc="RFM feature extraction (recency / frequency / monetary — the "
    "classic user-level feature vector): one grouped pass over events "
    "with the corpus max-timestamp broadcast as 'now'. Monetary is a "
    "decimal-exact conditional sum; recency floors to whole days on "
    "both sides (Spark cast truncates, DuckDB rounds — FLOOR "
    "normalizes). The feature-store materialization shape: one "
    "shuffle on user_id, output |users| rows.",
)
def rfm_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    mx = events.agg(F.max("ts").alias("now_ts"))
    monetary = F.when(
        F.col("event_type") == "purchase", F.col("value").cast("decimal(12,2)")
    ).otherwise(F.lit(0).cast("decimal(12,2)"))
    return (
        events.crossJoin(F.broadcast(mx))
        .groupBy("user_id", "now_ts")
        .agg(
            F.floor(
                (F.unix_micros(F.col("now_ts")) - F.unix_micros(F.max("ts")))
                / 1_000_000
                / F.lit(86400.0)
            )
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(monetary).cast("double").alias("monetary"),
        )
        .select("user_id", "recency_days", "frequency", "monetary")
    )


@register(
    "revenue_share_per_nation",
    """
    WITH rev AS (
        SELECT n_name,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(4,2))
                      - CAST(l_discount AS DECIMAL(4,2)))) AS revd
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, CAST(revd AS DOUBLE) AS revenue,
           CAST(revd AS DOUBLE) / CAST(SUM(revd) OVER () AS DOUBLE) AS share
    FROM rev
    """,
    doc="Percent-of-total contribution: per-nation revenue (decimal-"
    "exact through the star join — nation/customer dims broadcast, "
    "facts shuffle once), then the grand total is ALSO summed in "
    "decimal by the window before the single double division — a "
    "double window-sum would be order-dependent (4-decimal values "
    "are not exact doubles) and hash-diverge. The window runs on the "
    "25-row aggregate, never the fact table.",
)
def revenue_share_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.queries._util import revenue_col

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(revenue_col()).alias("revd"))
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        F.col("revd").cast("double").alias("revenue"),
        (F.col("revd").cast("double") / F.sum("revd").over(w).cast("double")).alias(
            "share"
        ),
    )


@register(
    "cohort_retention_matrix",
    """
    WITH firstw AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_week, COUNT(*) AS cohort_size
        FROM firstw GROUP BY cohort_week
    ),
    act AS (
        SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS w
        FROM events e
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.w) / 7 AS BIGINT)
               AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           ROUND(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE)
                 / CAST(s.cohort_size AS DOUBLE), 6) AS retention
    FROM act a
    JOIN firstw f ON f.user_id = a.user_id
    JOIN sizes s ON s.cohort_week = f.cohort_week
    GROUP BY f.cohort_week, 2, s.cohort_size
    """,
    doc="Cohort retention matrix — the classic product-analytics "
    "rollup: users cohorted by first-active week (Monday-truncated in "
    "both engines), each later active week counted as (cohort, "
    "week-offset) distinct users over cohort size. week_offset is an "
    "exact integer because both week buckets are Monday-aligned (the "
    "day diff is always a multiple of 7). Plan: one user-keyed agg for "
    "first-seen, one distinct over (user, week) with map-side partial, "
    "then a user-keyed join — cohort sizes broadcast (weeks are few). "
    "Linear in events; no per-pair or per-day blowup.",
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firstw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    sizes = firstw.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    return (
        act.join(firstw, "user_id")
        .join(F.broadcast(sizes), "cohort_week")
        .groupBy(
            "cohort_week",
            (F.datediff("w", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
            "cohort_size",
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            "cohort_week",
            "week_offset",
            F.col("active_users").cast("bigint").alias("active_users"),
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.round(
                F.col("active_users").cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("retention"),
        )
    )


@register(
    "scd2_user_value_history",
    """
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER w AS rn,
               LAG(value) OVER w AS prev_v
        FROM events WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, ts, event_id, value FROM ordered
        WHERE rn = 1 OR value IS DISTINCT FROM prev_v
    ),
    versioned AS (
        SELECT user_id, value,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
               ts AS valid_from,
               LEAD(ts) OVER w AS valid_to
        FROM changes
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, version, CAST(value AS DOUBLE) AS value,
           valid_from, valid_to,
           CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
    FROM versioned
    """,
    doc="Slowly-changing-dimension TYPE 2 history (Kimball): per user, "
    "one VERSION row per change of the tracked attribute — "
    "[valid_from, valid_to) interval, version number, is_current flag "
    "— with consecutive duplicates collapsed (a new version opens only "
    "when the value actually changes; null-safe change test). "
    "Distinct from scd2_user_event_type_history (curation2.py), which "
    "labels event-type RUNS without version numbers: this one is the "
    "exact output contract of the STREAMING history table "
    "(streaming/scd2.py — versions, is_current, null-safe collapse) "
    "and anchors its oracle. The batch complement of "
    "streaming/upsert.py's latest-state CDC table: "
    "upsert serves point lookups of NOW, SCD2 serves AS-OF joins over "
    "history. Scale shape: two window passes over the same "
    "user-partitioned shuffle (Spark reuses the exchange), no joins, "
    "no collect; ties broken by event_id so versions are total-ordered "
    "and engine-exact.",
)
def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.lag("value").over(w).alias("prev_v"),
    )
    changes = ordered.where(
        (F.col("rn") == 1) | ~(F.col("value").eqNullSafe(F.col("prev_v")))
    ).select("user_id", "ts", "event_id", "value")
    versioned = changes.select(
        "user_id",
        "value",
        F.row_number().over(w).cast("bigint").alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return versioned.select(
        "user_id",
        "version",
        # explicit DOUBLE output (registry determinism convention):
        # a decimal-typed source column would otherwise normalize
        # differently across engines' pandas bridges
        F.col("value").cast("double").alias("value"),
        "valid_from",
        "valid_to",
        F.when(F.col("valid_to").isNull(), 1).otherwise(0).alias(
            "is_current"
        ),
    )


# -------------------------------------------- seasonal decomposition

_SD_HALF = 12  # centered 25-hour moving-average window


@register(
    "seasonal_decompose_hourly_events",
    f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, COUNT(*) AS cnt
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT h, cnt,
               CAST(ROUND(
                   CAST(SUM(cnt) OVER w AS DOUBLE)
                       / COUNT(*) OVER w, 6) AS DECIMAL(18,6)) AS trend6
        FROM hourly
        WINDOW w AS (ORDER BY h
                     ROWS BETWEEN {_SD_HALF} PRECEDING
                              AND {_SD_HALF} FOLLOWING)
    ),
    se AS (
        SELECT h, cnt, trend6,
               CAST(ROUND(
                   CAST(SUM(cnt - trend6) OVER hw AS DOUBLE)
                       / COUNT(*) OVER hw, 6) AS DECIMAL(18,6))
                   AS seasonal6
        FROM tr
        WINDOW hw AS (PARTITION BY EXTRACT(hour FROM h))
    )
    SELECT h, cnt,
           CAST(trend6 AS DOUBLE) AS trend,
           CAST(seasonal6 AS DOUBLE) AS seasonal,
           CAST(cnt - trend6 - seasonal6 AS DOUBLE) AS remainder
    FROM se
    """,
    doc="Classical additive seasonal decomposition of the hourly "
    f"event series: trend = centered {2 * _SD_HALF + 1}-hour moving "
    "average, seasonal = per hour-of-day mean of the detrended "
    "series, remainder = observed − trend − seasonal (the "
    "moving-average decomposition underlying STL, kept additive and "
    "log-free for engine portability). Exactness: the only doubles "
    "are two division-then-round-6dp steps; detrending and the "
    "remainder subtract exact DECIMALs, so the per-hour-of-day mean "
    "is an order-independent decimal sum. Scale: the corpus-sized "
    "work is ONE hourly aggregation; both windows run over the "
    "AGGREGATED series (rows = distinct hours, bounded by the time "
    "range, not the event count) — a single-partition sort of a "
    "tiny frame, the deliberate trade every time-series "
    "decomposition makes.",
)
def seasonal_decompose_hourly_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.orderBy("h")
        .rowsBetween(-_SD_HALF, _SD_HALF)
    )
    tr = hourly.select(
        "h",
        "cnt",
        F.round(
            F.sum("cnt").over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        )
        .cast("decimal(18,6)")
        .alias("trend6"),
    )
    hw = Window.partitionBy(F.hour("h"))
    se = tr.select(
        "h",
        "cnt",
        "trend6",
        F.round(
            F.sum(F.col("cnt") - F.col("trend6")).over(hw).cast("double")
            / F.count(F.lit(1)).over(hw),
            6,
        )
        .cast("decimal(18,6)")
        .alias("seasonal6"),
    )
    return se.select(
        "h",
        "cnt",
        F.col("trend6").cast("double").alias("trend"),
        F.col("seasonal6").cast("double").alias("seasonal"),
        (F.col("cnt") - F.col("trend6") - F.col("seasonal6"))
        .cast("double")
        .alias("remainder"),
    )


# ------------------------------------------- last-touch attribution

_ATTR_WINDOW_SEC = 3600


@register(
    "funnel_attribution_last_touch",
    f"""
    WITH p AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts AS cts FROM events
        WHERE event_type = 'click' AND user_id IS NOT NULL
    ),
    att AS (
        SELECT p.*,
               EXISTS(
                   SELECT 1 FROM c
                   WHERE c.user_id = p.user_id
                     AND epoch_us(c.cts) <= epoch_us(p.ts)
                     AND epoch_us(p.ts) - epoch_us(c.cts)
                         <= CAST({_ATTR_WINDOW_SEC} AS BIGINT) * 1000000
               ) AS is_att
        FROM p
    )
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_purchases,
           CAST(SUM(CASE WHEN is_att THEN 1 ELSE 0 END) AS BIGINT)
               AS n_attributed,
           CAST(SUM(CASE WHEN is_att
                         THEN CAST(value AS DECIMAL(12,2)) END)
                AS DOUBLE) AS attributed_value,
           CAST(SUM(CASE WHEN NOT is_att
                         THEN CAST(value AS DECIMAL(12,2)) END)
                AS DOUBLE) AS unattributed_value
    FROM att GROUP BY 1
    """,
    doc="Last-touch marketing attribution: a purchase's value is "
    f"attributed iff the same user clicked within the trailing "
    f"{_ATTR_WINDOW_SEC}-second window — the as-of join's tolerance "
    "parameter doing its real job. Daily rollup of purchase count, "
    "attributed count, and attributed/unattributed revenue (2dp "
    "DECIMAL sums — exact and order-independent; NULL values skip "
    "identically in both engines). Engine side: ONE as-of pass "
    "(union + running window, operators/asof.py — never a range "
    "probe); the oracle's per-purchase EXISTS probe is equivalent "
    "because the LAST click before the purchase is in-window iff "
    "ANY click is. Scale: one user_id shuffle + a date rollup.",
)
def funnel_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stream_processing_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(
        (F.col("event_type") == "click") & F.col("user_id").isNotNull()
    ).select("user_id", "ts", F.col("event_id").alias("click_id"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_tiebreak="click_id",
        tolerance_sec=_ATTR_WINDOW_SEC,
    )
    is_att = F.col("click_id").isNotNull()
    dec_v = F.col("value").cast("decimal(12,2)")
    return j.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.when(is_att, 1).otherwise(0))
        .cast("bigint")
        .alias("n_attributed"),
        F.sum(F.when(is_att, dec_v))
        .cast("double")
        .alias("attributed_value"),
        F.sum(F.when(~is_att, dec_v))
        .cast("double")
        .alias("unattributed_value"),
    )


# --------------------------------------------- heartbeat gap report


@register(
    "heartbeat_gap_report",
    """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
        FROM hourly GROUP BY 1
    ),
    spine AS (
        SELECT s.event_type, u.g AS h
        FROM span s,
             UNNEST(generate_series(s.h0, s.h1,
                                    INTERVAL '1 hour')) AS u(g)
    )
    SELECT sp.event_type,
           COUNT(*) AS span_hours,
           CAST(SUM(CASE WHEN o.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS active_hours,
           CAST(SUM(CASE WHEN o.h IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS gap_hours
    FROM spine sp
    LEFT JOIN hourly o
      ON o.event_type IS NOT DISTINCT FROM sp.event_type
     AND o.h = sp.h
    GROUP BY sp.event_type
    """,
    doc="Pipeline-liveness gap detection: per event type, the hour "
    "spine from first to last activity (sequence/generate_series — "
    "both inclusive) anti-checked against observed hours; silent "
    "hours inside the span are exactly the heartbeat gaps an "
    "ingest monitor alarms on. NULL event_type is a first-class "
    "group (null-safe join on both engines). All-integer output. "
    "Scale: the corpus-sized work is one (type, hour) aggregation; "
    "the spine explode is bounded by the TIME RANGE x type count, "
    "not the event count.",
)
def heartbeat_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.lit(1).alias("__one"))
    span = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = span.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    # spine derives from hourly — rename the observed side to keep the
    # self-join unambiguous
    obs = hourly.select(
        F.col("event_type").alias("o_et"), F.col("h").alias("o_h")
    )
    j = spine.join(
        obs,
        F.col("event_type").eqNullSafe(F.col("o_et"))
        & (F.col("h") == F.col("o_h")),
        "left",
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("span_hours"),
        F.sum(F.when(F.col("o_h").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("active_hours"),
        F.sum(F.when(F.col("o_h").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("gap_hours"),
    )
