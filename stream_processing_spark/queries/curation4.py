"""Round-2 batch 3 curation operators — the safety/quality filters of a
training-data pipeline:

- PII redaction (email/phone regex masking with audit counts — the
  scrubbing stage every public-corpus pipeline runs before training);
- blocklist token filtering (bad-word ratio keep/drop, the C4 rule);
- type-token-ratio lexical diversity (Gopher-style repetition filter,
  complementing quality_bigram_repetition's top-bigram rule);
- winsorized statistics (clamped robust means, the outlier-tolerant
  aggregate for ingest monitoring dashboards).

Determinism rules as elsewhere in the registry: integer/decimal
arithmetic until one exact double division, ROUND(…, n) only on
genuinely-float outputs, identical regex dialect subset (character
classes + bounded repetition) so Java regex and RE2 agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.functions import similarity as sim
from stream_processing_spark.functions.keys import eq_key, value_hash
from stream_processing_spark.queries import register
from stream_processing_spark.queries._util import dec
from stream_processing_spark.runtime import materialize

# ------------------------------------------------------- PII redaction

# Patterns restricted to the syntax subset where Java regex (Spark) and
# RE2 (DuckDB) agree: character classes, +, bounded {m,n}. No
# backreferences, no lookaround.
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"

# The synthetic corpus is PII-free, so the query first plants
# deterministic contact strings on a fixed doc_id slice (3 in 7 docs;
# 7 is coprime with the generator's doc_id%20 source assignment, so
# every source gets a mix of tagged and clean docs) — the redactor must
# then find exactly those. This keeps the match count nonzero and
# oracle-checkable while documenting that the fixture is synthetic,
# not discovered.
_PII_TAG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com tel 415-555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@register(
    "pii_redact_stats",
    f"""
    WITH tagged AS (
        SELECT source,
               CASE WHEN doc_id % 7 < 3 THEN {_PII_TAG_SQL}
                    ELSE text END AS t
        FROM documents
    ),
    red AS (
        SELECT source, t,
               len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
               regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS clean
        FROM tagged
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_redacted,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones,
           CAST(SUM(len(t) - len(clean)) AS BIGINT) AS chars_removed
    FROM red
    GROUP BY source
    """,
    doc="PII redaction with audit stats: email and phone patterns are "
    "masked via regexp_replace and counted via regexp_count, reporting "
    "per-source docs-touched / matches / chars-removed — the scrub "
    "report a compliance pipeline emits. The corpus is synthetic and "
    "PII-free, so a fixed doc_id slice (3 in 7) is first enriched with "
    "deterministic contact strings the redactor must then find — the "
    "oracle checks the redactor recovers exactly the planted set. "
    "Scale shape: pure map-side string work (regexp_replace/count are "
    "JVM codegen expressions, no UDF, no shuffle before the final "
    "per-source aggregate); the regex subset (character classes + "
    "bounded repetition, no lookaround) is chosen so Java regex and "
    "RE2 produce identical matches.",
)
def pii_redact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "source",
        F.when(
            F.col("doc_id") % 7 < 3,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com tel 415-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    red = tagged.select(
        "source",
        "t",
        F.regexp_count(F.col("t"), F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("clean"),
    )
    return red.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("n_emails") + F.col("n_phones") > 0, 1).otherwise(0)
        ).alias("n_docs_redacted"),
        F.sum("n_emails").alias("n_emails"),
        F.sum("n_phones").alias("n_phones"),
        F.sum(F.length("t") - F.length("clean")).alias("chars_removed"),
    )


# -------------------------------------------------- blocklist filtering

# Tokens drawn from the synthetic vocabulary so hits are nonzero; a real
# pipeline broadcasts a list of thousands — array_contains over a
# broadcast literal array is the same plan at that size.
_BLOCKLIST = ("slow", "merge", "scan")
# keep iff blocked tokens are under 6% of the doc's tokens.
_BLOCK_PCT = 6


@register(
    "quality_blocklist_filter",
    f"""
    WITH d AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '),
                               t -> t IN {str(tuple(_BLOCKLIST))})) AS hits,
               len(string_split(text, ' ')) AS n_toks
        FROM documents
    )
    SELECT lang,
           hits * 100 < n_toks * {_BLOCK_PCT} AS keep,
           COUNT(*) AS n_docs,
           CAST(SUM(hits) AS BIGINT) AS blocked_tokens,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           ROUND(SUM(hits) / SUM(n_toks), 6) AS blocked_ratio
    FROM d
    GROUP BY lang, keep
    """,
    doc="Blocklist token filter (the C4 bad-words rule): per-doc count "
    "of blocklisted tokens via a higher-order array filter (JVM "
    "codegen lambda, no explode, no shuffle), keep decision at a 6% "
    "ratio threshold compared in exact integer cross-multiplication "
    "(hits*100 < n_toks*6 — no float ratio), then per-(lang, keep) "
    "audit counts. Scale shape: the blocklist is a literal/broadcast "
    "array so the scan stays map-side; the only shuffle is the final "
    "tiny (lang, keep) aggregate. The pooled blocked_ratio divides "
    "exact integer sums once at the end.",
)
def quality_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = docs.select(
        "lang",
        F.size(F.filter(toks, lambda t: t.isin(*_BLOCKLIST))).alias("hits"),
        F.size(toks).alias("n_toks"),
    )
    return d.groupBy(
        "lang",
        (F.col("hits") * 100 < F.col("n_toks") * _BLOCK_PCT).alias("keep"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("hits").alias("blocked_tokens"),
        F.sum("n_toks").alias("total_tokens"),
        F.round(F.sum("hits") / F.sum("n_toks"), 6).alias("blocked_ratio"),
    )


# --------------------------------------------- type-token ratio quality


@register(
    "text_type_token_ratio",
    """
    WITH d AS (
        SELECT lang, source,
               len(list_distinct(string_split(text, ' '))) AS u,
               len(string_split(text, ' ')) AS n
        FROM documents
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN u * 2 < n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low_diversity,
           ROUND(SUM(u) / SUM(n), 6) AS pooled_ttr,
           ROUND(CAST(SUM(CAST(ROUND(u / n, 8) AS DECIMAL(12,8))) AS DOUBLE)
                 / COUNT(*), 6) AS macro_avg_ttr
    FROM d
    GROUP BY lang, source
    """,
    doc="Type-token ratio (lexical diversity) quality signal per (lang, "
    "source): unique tokens / total tokens per doc, with a "
    "low-diversity flag at TTR < 0.5 (exact integer comparison u*2 < "
    "n) — the Gopher-style repetition filter at the whole-doc level, "
    "complementing quality_bigram_repetition's top-bigram rule. Two "
    "aggregate forms with different determinism discipline: pooled_ttr "
    "divides exact integer sums once; macro_avg_ttr averages per-doc "
    "ratios by snapping each IEEE-exact division to an 8-dp DECIMAL "
    "before summing, making the distributed sum order-independent. "
    "Scale shape: array_distinct/size are map-side codegen (no "
    "explode); one tiny (lang, source) shuffle.",
)
def text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = docs.select(
        "lang",
        "source",
        F.size(F.array_distinct(toks)).alias("u"),
        F.size(toks).alias("n"),
    )
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("u") * 2 < F.col("n"), 1).otherwise(0)).alias(
            "n_low_diversity"
        ),
        F.round(F.sum("u") / F.sum("n"), 6).alias("pooled_ttr"),
        F.round(
            F.sum(
                F.round(F.col("u") / F.col("n"), 8).cast("decimal(12,8)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("macro_avg_ttr"),
    )


# ------------------------------------------------- winsorized statistics


@register(
    "winsorized_price_stats",
    """
    WITH cuts AS (
        SELECT o_orderstatus,
               ROUND(quantile_cont(o_totalprice, 0.05), 2) AS q05,
               ROUND(quantile_cont(o_totalprice, 0.95), 2) AS q95
        FROM orders
        GROUP BY o_orderstatus
    )
    SELECT o.o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o.o_totalprice < c.q05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped_low,
           CAST(SUM(CASE WHEN o.o_totalprice > c.q95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped_high,
           -- CASE, not LEAST/GREATEST: DuckDB's LEAST/GREATEST promote
           -- DECIMAL args to DOUBLE, losing the exact-sum property
           CAST(SUM(CASE WHEN o.o_totalprice < c.q05
                              THEN CAST(c.q05 AS DECIMAL(12,2))
                         WHEN o.o_totalprice > c.q95
                              THEN CAST(c.q95 AS DECIMAL(12,2))
                         ELSE CAST(o.o_totalprice AS DECIMAL(12,2))
                    END) AS DOUBLE)
               / COUNT(*) AS avg_winsorized,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS avg_raw
    FROM orders o JOIN cuts c USING (o_orderstatus)
    GROUP BY o.o_orderstatus
    """,
    doc="Winsorized mean order value per status: per-group p05/p95 "
    "cutoffs (Spark percentile == DuckDB quantile_cont, rounded to the "
    "data's 2-dp grain), every price clamped into [p05, p95] — the "
    "Spark side spells the clamp least/greatest over decimals, while "
    "the oracle spells the same clamp as CASE because DuckDB's "
    "LEAST/GREATEST would promote DECIMAL to DOUBLE — then an exact "
    "decimal mean beside the raw mean "
    "and clamp counts — the robust aggregate for dashboards where a "
    "single fat-finger order must not move the metric (complements "
    "iqr_outlier_events, which REPORTS outliers; winsorizing BOUNDS "
    "them). Scale shape: the cutoff table is |status| rows, broadcast "
    "back over the fact — two status-keyed aggregations and zero "
    "fact-to-fact joins; at 100 TB the percentile pass can swap to "
    "approx_percentile without changing the plan shape.",
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cuts = orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.05)), 2).alias("q05"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 2).alias("q95"),
    )
    clamped = F.least(
        F.greatest(dec("o_totalprice"), dec("q05")), dec("q95")
    )
    return (
        orders.join(F.broadcast(cuts), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("q05"), 1).otherwise(0)
            ).alias("n_clamped_low"),
            F.sum(
                F.when(F.col("o_totalprice") > F.col("q95"), 1).otherwise(0)
            ).alias("n_clamped_high"),
            (F.sum(clamped).cast("double") / F.count(F.lit(1))).alias(
                "avg_winsorized"
            ),
            (F.sum(dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias(
                "avg_raw"
            ),
        )
    )


# ------------------------------------- cross-source span overlap matrix

_XS_SPAN_W = 8
_XS_SPAN_TERMS = " || ' ' || ".join(f"t[i+{j}]" for j in range(_XS_SPAN_W))


@register(
    "cross_source_span_overlap",
    f"""
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    spans AS (
        SELECT DISTINCT source, md5({_XS_SPAN_TERMS}) AS fp
        FROM toks, UNNEST(range(1, len(t) - {_XS_SPAN_W - 2})) AS u(i)
        WHERE len(t) >= {_XS_SPAN_W}
    ),
    per_src AS (
        SELECT source, COUNT(*) AS n_spans FROM spans GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS shared_spans,
           ROUND(COUNT(*) / LEAST(MIN(pa.n_spans), MIN(pb.n_spans)), 6)
               AS overlap_coef
    FROM spans a
    JOIN spans b ON a.fp = b.fp AND a.source < b.source
    JOIN per_src pa ON pa.source = a.source
    JOIN per_src pb ON pb.source = b.source
    GROUP BY a.source, b.source
    """,
    doc=f"Cross-source contamination matrix: per source pair, the count "
    f"of distinct {_XS_SPAN_W}-token spans both contain, plus the "
    "overlap coefficient (shared / smaller side) — the dataset-card "
    "diagnostic that tells you two crawl snapshots substantially "
    "duplicate each other BEFORE you pay for full dedup between them. "
    "Scale shape (r9 one-shuffle rewrite): spans shuffle ONCE, by "
    "fingerprint, into (fp, source_set) groups — the set is bounded by "
    "the source catalog, not the corpus — then the pair expansion and "
    "the per-source span totals are both map-side reads of that one "
    "materialized grouped frame (at most n_sources^2 pair rows per "
    "span). The old spelling paid a (source, fp) DISTINCT shuffle plus "
    "an fp self-join shuffle over the same data; folding dedup into "
    "the fp groupBy halves the shuffled bytes and removes the join. "
    "Span generation stays linear in corpus tokens with no text "
    "shuffled (fixed-width 8-byte xxhash64 keys, r14).",
)
def cross_source_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.runtime import rebalance_for_expansion

    # span fingerprinting is a compute-heavy map (one hash per token
    # window); spread a small scan's rows across cores first. r14: the
    # fingerprint is equality-only (it feeds one groupBy and never the
    # output — the oracle hashes its own side), so xxhash64 replaces
    # md5: ~½ the map CPU and 8-byte group keys instead of 32-hex
    # strings (interleaved A/B: md5 [1.11,1.11,1.10] s vs xxhash64
    # [0.98,0.97,0.88] s, results identical; same 64-bit collision class
    # as the dedup shingle hashing, gate-verified ×3 SF).
    docs = rebalance_for_expansion(load_table(spark, sf_dir, "documents"))
    spans = (
        docs.select("source", F.split(F.col("text"), " ").alias("t"))
        .where(F.size("t") >= _XS_SPAN_W)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - _XS_SPAN_W),
                    lambda i: eq_key(
                        F.concat_ws(" ", F.slice("t", i + 1, _XS_SPAN_W))
                    ),
                )
            ).alias("fp"),
        )
    )
    # ONE shuffle: fp -> sorted distinct source set (collect_set dedups
    # the per-source repeats map-side via partial aggregation). The
    # r13 before-plan showed the grouped pipeline (scan + span explode
    # + collect_set) evaluated THREE times — once per consumer (pairs,
    # pa, pb); ReusedExchange did not fire across the branches, and a
    # checkpoint of the fp-keyed frame itself OOMed a 1g heap at sf1.
    # Instead, ONE explode emits both the pair rows and a singleton
    # row per member source, so a single aggregation (and a single
    # corpus evaluation) yields shared-span counts AND per-source span
    # totals; the result is sources^2-bounded and checkpoint-tiny.
    grouped = spans.groupBy("fp").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    items = F.expr(
        "concat("
        "flatten(transform(srcs, (x, i) -> "
        "transform(slice(srcs, i + 2, size(srcs)), "
        "y -> struct(x AS source_a, y AS source_b)))), "
        "transform(srcs, x -> "
        "struct(x AS source_a, CAST(NULL AS STRING) AS source_b)))"
    )
    counts = materialize(
        grouped.select(F.explode(items).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = counts.filter(F.col("source_b").isNotNull()).select(
        "source_a", "source_b", F.col("n").alias("shared_spans")
    )
    per_src = counts.filter(F.col("source_b").isNull()).select(
        F.col("source_a").alias("source"), F.col("n").alias("n_spans")
    )
    pa = per_src.select(
        F.col("source").alias("source_a"), F.col("n_spans").alias("na")
    )
    pb = per_src.select(
        F.col("source").alias("source_b"), F.col("n_spans").alias("nb")
    )
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_spans",
            F.round(
                F.col("shared_spans") / F.least("na", "nb"), 6
            ).alias("overlap_coef"),
        )
    )


# ------------------------------------------- contrastive triplet mining

_NEG_STEP = 137  # coprime with every sf's embedding count

_TRIP_COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "contrastive_triplets",
    f"""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    n AS (SELECT COUNT(*) AS c FROM base),
    anch AS (
        SELECT vec_id, label, e,
               COALESCE(LEAD(vec_id) OVER (PARTITION BY label ORDER BY vec_id),
                        MIN(vec_id) OVER (PARTITION BY label)) AS pos_id,
               (vec_id + {_NEG_STEP}) % (SELECT c FROM n) AS neg_id
        FROM base
    )
    SELECT a.vec_id AS anchor_id, a.pos_id, a.neg_id,
           ROUND({_TRIP_COS_SQL.format(a="a.e", b="p.e")}, 6) AS cos_pos,
           ROUND({_TRIP_COS_SQL.format(a="a.e", b="g.e")}, 6) AS cos_neg,
           ROUND({_TRIP_COS_SQL.format(a="a.e", b="p.e")}
                 - {_TRIP_COS_SQL.format(a="a.e", b="g.e")}, 6) AS margin
    FROM anch a
    JOIN base p ON p.vec_id = a.pos_id
    JOIN base g ON g.vec_id = a.neg_id
    WHERE a.pos_id <> a.vec_id AND g.label <> a.label
    """,
    doc="Contrastive triplet mining for embedding-model training: each "
    "anchor pairs with the next same-label vector (cyclic via "
    "lead/min window — every anchor in a multi-member label gets "
    "exactly one positive, deterministically) and a modular-step "
    "negative (anchor_id + 137 mod N, kept only when the label "
    "differs), with cosine-to-positive, cosine-to-negative, and the "
    "triplet margin. Scale shape: positives come from one label-keyed "
    "window (no self-join); the two vector lookups are id equi-joins; "
    "N is a 1-row broadcast scalar. A real miner would swap the "
    "modular negative for ANN-ranked hard negatives (ann_lsh/ivf/pq "
    "supply that tier) — the modular rule keeps the fixture "
    "deterministic and oracle-checkable.",
)
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    n = base.agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("label").orderBy("vec_id")
    anch = (
        base.withColumn(
            "pos_id",
            F.coalesce(
                F.lead("vec_id").over(w),
                F.min("vec_id").over(Window.partitionBy("label")),
            ),
        )
        .join(F.broadcast(n))
        .withColumn("neg_id", (F.col("vec_id") + _NEG_STEP) % F.col("c"))
    )
    p = base.select(
        F.col("vec_id").alias("pos_id"), F.col("e").alias("pe")
    )
    g = base.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("e").alias("ge"),
    )
    cos_pos = sim.cosine(F.col("e"), F.col("pe"))
    cos_neg = sim.cosine(F.col("e"), F.col("ge"))
    return (
        anch.where(F.col("pos_id") != F.col("vec_id"))
        .join(p, "pos_id")
        .join(g, "neg_id")
        .where(F.col("neg_label") != F.col("label"))
        .select(
            F.col("vec_id").alias("anchor_id"),
            "pos_id",
            "neg_id",
            F.round(cos_pos, 6).alias("cos_pos"),
            F.round(cos_neg, 6).alias("cos_neg"),
            F.round(cos_pos - cos_neg, 6).alias("margin"),
        )
    )


# --------------------------------------------------- k-anonymity report

_K_ANON = 5


@register(
    "k_anonymity_report",
    f"""
    WITH grp AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    )
    SELECT event_type,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN n_users < {_K_ANON} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violating_groups,
           CAST(SUM(CASE WHEN n_users < {_K_ANON} THEN n_events ELSE 0 END)
                AS BIGINT) AS events_suppressed,
           ROUND(SUM(CASE WHEN n_users < {_K_ANON} THEN n_events ELSE 0 END)
                 / SUM(n_events), 6) AS suppression_rate
    FROM grp
    GROUP BY event_type
    """,
    doc=f"k-anonymity audit (k={_K_ANON}) over the quasi-identifier "
    "(event_type, hour): per event type, how many hour-groups contain "
    f"fewer than {_K_ANON} distinct users (re-identification risk) and "
    "what fraction of events a suppress-violating-groups release "
    "policy would drop. Violations naturally shrink as data grows "
    "(denser hours → more users per group — sf0.1 reports zero, the "
    "expected property), so the report, not the violation list, is "
    "the stable output shape. Scale: one (event_type, hour) shuffle "
    "for the distinct-count, one tiny event_type rollup; integer "
    "arithmetic with a single final division.",
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grp = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    viol = F.when(F.col("n_users") < _K_ANON, F.col("n_events")).otherwise(0)
    return grp.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(
            F.when(F.col("n_users") < _K_ANON, 1).otherwise(0)
        ).alias("n_violating_groups"),
        F.sum(viol).alias("events_suppressed"),
        F.round(F.sum(viol) / F.sum("n_events"), 6).alias(
            "suppression_rate"
        ),
    )


# ---------------------------------------------- epoch shuffle assignment

_N_EPOCHS = 3
_HEX_DIGITS = "0123456789abcdef"


@register(
    "epoch_shuffle_assignment",
    f"""
    WITH assign AS (
        SELECT e.epoch,
               strpos('{_HEX_DIGITS}',
                      substr(md5(CAST(e.epoch AS VARCHAR) || ':' ||
                                 CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                   AS shard,
               n_chars
        FROM documents,
             (SELECT UNNEST(range({_N_EPOCHS})) AS epoch) e
    )
    SELECT epoch, shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assign
    GROUP BY epoch, shard
    """,
    doc=f"Deterministic per-epoch shard shuffle: for each of "
    f"{_N_EPOCHS} training epochs, every doc is assigned one of 16 "
    "shards by the first hex digit of md5(epoch:doc_id) — a different "
    "but fully reproducible permutation per epoch (the property "
    "training-data loaders need: same data order on job restart, "
    "different order across epochs; rand() gives neither). Output is "
    "the per-(epoch, shard) doc/char balance sheet that validates "
    "shard sizing before the write. Scale: the epoch fan-out is a "
    f"{_N_EPOCHS}-row Generate (explode), assignment is map-side md5, "
    "and the only shuffle is the 16×epochs-row aggregate.",
)
def epoch_shuffle_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shard = value_hash(
        F.concat(
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        ),
        1,
    ).cast("int")
    return (
        docs.select(
            "doc_id",
            "n_chars",
            F.explode(
                F.sequence(F.lit(0), F.lit(_N_EPOCHS - 1))
            ).alias("epoch"),
        )
        .select("epoch", shard.alias("shard"), "n_chars")
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ------------------------------------- span-corruption pair generation

_MASK_EVERY = 7  # mask token positions where pos % 7 == 0
_SENTINEL = "<extra_id>"


@register(
    "span_corruption_pairs",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
        SELECT doc_id, i, t[i] AS tok, (i - 1) % {_MASK_EVERY} = 0 AS m
        FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    )
    SELECT doc_id,
           string_agg(CASE WHEN m THEN '{_SENTINEL}' ELSE tok END,
                      ' ' ORDER BY i) AS input_text,
           string_agg(CASE WHEN m THEN tok END, ' ' ORDER BY i)
               AS target_text,
           CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
    FROM pos
    GROUP BY doc_id
    """,
    doc="Denoising-objective training pairs (the T5 span-corruption "
    f"shape): every {_MASK_EVERY}th token position is replaced by a "
    "sentinel in the input and collected, in order, as the target — "
    "(input_text, target_text, n_masked) per document. The mask rule "
    "is positional and deterministic (a real pipeline seeds an RNG "
    "per doc; position mod keeps both engines and every rerun "
    "identical). Scale shape: pure per-row array work in Spark "
    "(transform + filter + concat_ws over the token array — no "
    "explode, no shuffle, no UDF; the oracle's UNNEST+string_agg is "
    "the SQL spelling of the same thing); output cardinality equals "
    "input. Pairs feed pack_docs_token_budget/shards.py downstream.",
)
def span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(
            "concat_ws(' ', transform(split(text, ' '), "
            f"(tok, i) -> CASE WHEN i % {_MASK_EVERY} = 0 "
            f"THEN '{_SENTINEL}' ELSE tok END))"
        ).alias("input_text"),
        F.expr(
            "concat_ws(' ', filter(split(text, ' '), "
            f"(tok, i) -> i % {_MASK_EVERY} = 0))"
        ).alias("target_text"),
        F.expr(
            f"size(filter(split(text, ' '), (tok, i) -> i % {_MASK_EVERY} = 0))"
        ).cast("bigint").alias("n_masked"),
    )


# ------------------------------------------------ dataset pairing audit


@register(
    "dataset_pairing_audit",
    """
    SELECT
        CASE WHEN e.vec_id IS NULL THEN 'doc_only'
             WHEN d.doc_id IS NULL THEN 'embedding_only'
             ELSE 'paired' END AS pair_status,
        COUNT(*) AS n_rows,
        CAST(COALESCE(SUM(d.n_chars), 0) AS BIGINT) AS total_chars
    FROM documents d
    FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY 1
    """,
    doc="Modality-pairing audit: a full outer join of documents and "
    "embeddings on id classifies every row as paired / doc_only / "
    "embedding_only — the alignment sheet a multimodal or "
    "text+embedding dataset needs before training (unpaired rows are "
    "either un-embedded backlog or orphaned vectors pointing at "
    "deleted docs). Scale shape: one sort-merge full outer join on "
    "the id, then a <=3-row aggregate; at sf0.1 the corpus genuinely "
    "has un-embedded docs (5000 docs vs 2000 vectors) so the doc_only "
    "branch is real, and tests cover the orphaned-vector branch.",
)
def dataset_pairing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    j = docs.join(emb, docs.doc_id == emb.vec_id, "full_outer")
    status = (
        F.when(F.col("vec_id").isNull(), "doc_only")
        .when(F.col("doc_id").isNull(), "embedding_only")
        .otherwise("paired")
    )
    return j.groupBy(status.alias("pair_status")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("total_chars"),
    )


# -------------------------------------------- length-bucketed batching

_LEN_BUCKET = 64   # chars per length bucket
_BATCH_SIZE = 32   # docs per batch


@register(
    "length_bucketed_batches",
    f"""
    WITH b AS (
        SELECT doc_id, n_chars,
               n_chars // {_LEN_BUCKET} AS bucket,
               (ROW_NUMBER() OVER (PARTITION BY n_chars // {_LEN_BUCKET}
                                   ORDER BY doc_id) - 1) // {_BATCH_SIZE}
                   AS batch_id
        FROM documents
    )
    SELECT bucket, batch_id,
           COUNT(*) AS n_docs,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(SUM(n_chars) / (COUNT(*) * MAX(n_chars)), 6)
               AS padding_efficiency
    FROM b
    GROUP BY bucket, batch_id
    """,
    doc="Length-bucketed batch assignment (dynamic-batching prep): docs "
    f"group into {_LEN_BUCKET}-char length buckets, and within each "
    f"bucket a doc_id-ordered row_number slices deterministic "
    f"{_BATCH_SIZE}-doc batches; output is the per-batch padding "
    "sheet — padding_efficiency = sum(len)/(count*max), the fraction "
    "of a padded batch tensor that is real content. Bucketing by "
    "length is what keeps that ratio near 1 (batching unsorted docs "
    "pads everything to the corpus max). Scale shape: one Exchange on "
    "the bucket key for the window, then the per-batch aggregate "
    "reuses the same partitioning; integer arithmetic throughout with "
    "one final exact division.",
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("n_chars") / _LEN_BUCKET).cast("bigint")
    w = Window.partitionBy("bucket").orderBy("doc_id")
    b = docs.select("doc_id", "n_chars", bucket.alias("bucket")).withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / _BATCH_SIZE).cast("bigint"),
    )
    return b.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("total_chars"),
        F.round(
            F.sum("n_chars") / (F.count(F.lit(1)) * F.max("n_chars")), 6
        ).alias("padding_efficiency"),
    )


# ---------------------------------------------------- pivot wide table

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_daily_event_counts",
    f"""
    SELECT CAST(ts AS DATE) AS d,
           {", ".join(
               f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS {t}" for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
    doc="PIVOT to a wide daily dashboard table: one column per event "
    "type with daily counts — the relational reshape every BI export "
    "needs. Spark's pivot with an EXPLICIT value list compiles to the "
    "same single-pass conditional aggregation as the oracle's "
    "SUM(CASE) columns (one shuffle on the day key, no second pass); "
    "omitting the value list would add a distinct-scan job AND make "
    "the output schema data-dependent — never do that at scale. "
    "Missing cells are zero-filled to match the SUM(CASE) semantics.",
)
def pivot_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(_EVENT_TYPES))
    )


# ------------------------------------------------- rollup subtotal tree


@register(
    "rollup_revenue_region_nation",
    """
    SELECT r_name, n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP subtotal tree over the customer geography: per-nation "
    "rows, per-region subtotals (n_name NULL), and the grand total "
    "(both NULL) in one pass — the OLAP drill-down contract. Spark's "
    "rollup produces the expanded grouping sets inside a single "
    "aggregation (partial aggs map-side, one shuffle), identical to "
    "the SQL ROLLUP; revenue is decimal-summed so every level is "
    "exact and order-independent. Dims are broadcast; the fact "
    "shuffles once.",
)
def rollup_revenue_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# -------------------------------------------------- unpivot long table

_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "unpivot_lineitem_measures",
    f"""
    WITH long AS (
        {" UNION ALL ".join(
            f"SELECT l_returnflag, '{m}' AS measure, "
            f"CAST({m} AS DECIMAL(12,2)) AS v FROM lineitem"
            for m in _MEASURES
        )}
    )
    SELECT l_returnflag, measure,
           COUNT(*) AS n,
           CAST(SUM(v) AS DOUBLE) AS total,
           CAST(MIN(v) AS DOUBLE) AS min_v,
           CAST(MAX(v) AS DOUBLE) AS max_v
    FROM long
    GROUP BY l_returnflag, measure
    """,
    doc="UNPIVOT (melt) of the four lineitem measures into long "
    "(measure, value) form, then a per-(returnflag, measure) profile — "
    "the reshape that feeds generic profiling/plotting tools one "
    "measure column instead of four. Spark's unpivot compiles to a "
    "map-side Expand (each row fans to 4, no join, no shuffle before "
    "the aggregate — the oracle's UNION ALL of 4 scans is the SQL "
    "spelling; Spark reads the parquet once). Values go through "
    "DECIMAL(12,2) BEFORE aggregation so sums are exact at every "
    "grouping; unpivot requires a common type anyway — pinning it to "
    "decimal beats the implicit double.",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", *[dec(m).alias(m) for m in _MEASURES]
    )
    long = li.unpivot(
        ["l_returnflag"], list(_MEASURES), "measure", "v"
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("total"),
        F.min("v").cast("double").alias("min_v"),
        F.max("v").cast("double").alias("max_v"),
    )


# -------------------------------------------- approximate percentiles


@register(
    "agg_approx_price_percentiles",
    None,  # approximate by design — error-bounded in tests/test_approx.py
    doc="approx_percentile (KLL-style sketch) of o_totalprice per "
    "status at p05/p50/p95 with accuracy parameter 10000 — the 100 TB "
    "swap-in for the exact percentile passes used by "
    "winsorized_price_stats and the IQR/MAD queries: constant sketch "
    "memory and a mergeable partial per partition instead of the "
    "exact percentile's full-sort-per-group. No SQL oracle (the "
    "sketch is engine-specific by design); tests/test_approx.py "
    "bounds each estimate against the exact rank neighborhood and "
    "the driver records a rows-only check.",
)
def agg_approx_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.approx_percentile(
            "o_totalprice", F.array(F.lit(0.05), F.lit(0.5), F.lit(0.95)), 10000
        ).alias("approx_p"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ------------------------------------------------ day-over-day growth


@register(
    "daily_event_growth",
    """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM events
        GROUP BY 1, 2
    )
    SELECT event_type, day, cnt,
           cnt - LAG(cnt) OVER (PARTITION BY event_type ORDER BY day)
               AS delta,
           ROUND((cnt - LAG(cnt) OVER (PARTITION BY event_type
                                       ORDER BY day)) * 1.0
                 / LAG(cnt) OVER (PARTITION BY event_type ORDER BY day), 6)
               AS pct_change
    FROM d
    """,
    doc="Day-over-day growth per event type: daily counts with lag "
    "delta and percent change — the ingest-monitoring trend view "
    "that pairs with events_anomaly_days (that one flags outliers; "
    "this one shows the trajectory). First day per type has NULL "
    "delta/pct (no prior), preserved identically in both engines. "
    "Scale shape: one (type, day) count shuffle, then a window over "
    "|types| tiny partitions; the growth ratio is one exact "
    "integer-difference division rounded at the end.",
)
def daily_event_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("cnt").over(w)
    return d.select(
        "event_type",
        "day",
        "cnt",
        (F.col("cnt") - prev).alias("delta"),
        F.round((F.col("cnt") - prev) * 1.0 / prev, 6).alias("pct_change"),
    )


# ------------------------------------------- ship latency distribution


@register(
    "ship_latency_distribution",
    """
    SELECT o_orderstatus,
           -- explicit floor(): DuckDB's integer // truncates toward
           -- zero, Spark's floor() floors — they differ on the
           -- negative delays this synthetic data is full of
           CAST(FLOOR(date_diff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) / 7.0)
                AS BIGINT) AS delay_weeks,
           COUNT(*) AS n_lineitems,
           ROUND(CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
                                    CAST(l_shipdate AS DATE))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_delay_days
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """,
    doc="Order-to-ship latency distribution: per (status, delay-week "
    "bucket), lineitem counts and the exact average delay in days — "
    "the fulfillment-SLA histogram. Both engines diff CALENDAR DATES "
    "(timestamps cast to date first) so the day count is "
    "time-of-day-independent and identical; the bucket is integer "
    "floor-division, the average one exact integer-sum division. "
    "Scale shape: the orders date column broadcasts with the dim-side "
    "join (orders is the smaller side at TPC-H shape), one "
    "(status, bucket) aggregate shuffle.",
)
def ship_latency_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .select("o_orderstatus", delay.alias("delay_days"))
        .groupBy(
            "o_orderstatus",
            F.floor(F.col("delay_days") / 7).alias("delay_weeks"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(
                F.sum("delay_days").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_delay_days"),
        )
    )


# ------------------------------------------ user profile similarity

_PROFILE_TYPES = ("click", "error", "purchase", "signup", "view")
_PROFILE_QUERY_USER = 0


def _profile_cos_sql(a: str, b: str) -> str:
    dot = " + ".join(f"{a}.{t} * {b}.{t}" for t in _PROFILE_TYPES)
    na = " + ".join(f"{a}.{t} * {a}.{t}" for t in _PROFILE_TYPES)
    nb = " + ".join(f"{b}.{t} * {b}.{t}" for t in _PROFILE_TYPES)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


@register(
    "user_profile_similarity",
    f"""
    WITH p AS (
        SELECT user_id,
               {", ".join(
                   f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
                   f" AS BIGINT) AS {t}" for t in _PROFILE_TYPES
               )}
        FROM events GROUP BY user_id
    ),
    q AS (SELECT * FROM p WHERE user_id = {_PROFILE_QUERY_USER})
    SELECT p.user_id,
           ROUND({_profile_cos_sql("p", "q")}, 6) AS cos_sim
    FROM p, q
    WHERE p.user_id <> {_PROFILE_QUERY_USER}
    ORDER BY cos_sim DESC, p.user_id
    LIMIT 10
    """,
    doc="Behavioral twin search: each user's profile vector is their "
    "event-type count histogram (built with the same explicit-value "
    "conditional aggregation as the pivot query), and the top-10 "
    "most-similar users to user 0 are ranked by cosine over those "
    "count vectors — feature engineering and similarity search in one "
    "plan, the collaborative-filtering entry point. Determinism: dot "
    "products and norms are INTEGER sums (counts), so only the final "
    "sqrt/division touch floats — bit-identical across engines; "
    "total order via the user_id tie-break. Scale shape: one user_id "
    "count shuffle, a 1-row broadcast of the query profile, "
    "TakeOrderedAndProject top-10.",
)
def user_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_PROFILE_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(_PROFILE_TYPES))
    )
    q = p.where(F.col("user_id") == _PROFILE_QUERY_USER).select(
        *[F.col(t).alias(f"q_{t}") for t in _PROFILE_TYPES]
    )
    dot = sum(F.col(t) * F.col(f"q_{t}") for t in _PROFILE_TYPES)
    na = sum(F.col(t) * F.col(t) for t in _PROFILE_TYPES)
    nb = sum(F.col(f"q_{t}") * F.col(f"q_{t}") for t in _PROFILE_TYPES)
    return (
        p.where(F.col("user_id") != _PROFILE_QUERY_USER)
        .crossJoin(F.broadcast(q))
        .select(
            "user_id",
            F.round(dot / (F.sqrt(na) * F.sqrt(nb)), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("user_id"))
        .limit(10)
    )


_VOCAB_K = 1000


@register(
    "vocab_oov_rate_per_source",
    f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    vocab AS (SELECT t FROM freq ORDER BY c DESC, t LIMIT {_VOCAB_K}),
    j AS (SELECT tok.source, vocab.t AS vt FROM tok
          LEFT JOIN vocab ON tok.t = vocab.t)
    SELECT source, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
    FROM j GROUP BY source
    """,
    doc=f"Tokenizer-fit audit: whitespace tokens outside the corpus's "
    f"top-{_VOCAB_K} vocabulary (count-desc, token tie-break), counted "
    "per source — the out-of-vocabulary rate a tokenizer/vocab decision "
    "should be reviewed against per data source. Plan: one token "
    "explode feeding both the frequency agg and (via a broadcast of "
    "the tiny vocab) the per-source OOV flags; at 100 TB the vocab "
    "side is O(K) rows and broadcasts, so the corpus shuffles once "
    "for the frequency pass and not at all for the membership test.",
)
def vocab_oov_rate_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # materialize the explode once: it feeds BOTH the vocab aggregation
    # and the probe side of the join (an unshared subtree would scan +
    # explode the corpus twice)
    tok = materialize(docs.select(
        "source", F.explode(F.split("text", " ")).alias("t")
    ))
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(_VOCAB_K)
        .select("t")
    )
    return (
        tok.join(F.broadcast(vocab.withColumn("__in", F.lit(1))), "t", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
    )


_L_DIV = 3


@register(
    "l_diversity_report",
    f"""
    WITH grp AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               COUNT(DISTINCT user_id % 10) AS n_sensitive,
               COUNT(*) AS n_events
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    )
    SELECT event_type,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN n_sensitive < {_L_DIV} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violating_groups,
           CAST(SUM(CASE WHEN n_sensitive < {_L_DIV} THEN n_events
                    ELSE 0 END) AS BIGINT) AS events_suppressed,
           ROUND(SUM(CASE WHEN n_sensitive < {_L_DIV} THEN n_events
                     ELSE 0 END) / SUM(n_events), 6) AS suppression_rate
    FROM grp
    GROUP BY event_type
    """,
    doc=f"l-diversity audit (l={_L_DIV}) — k-anonymity's complement: a "
    "group can contain many users yet still leak if the SENSITIVE "
    "attribute (here the user-cohort bucket user_id % 10, the "
    "release-table stand-in) takes too few distinct values inside it "
    "— everyone in the group shares the secret. Per event type: "
    "hour-groups whose sensitive-value diversity falls below l, and "
    "the event mass a suppress policy would drop. Same shuffle shape "
    "as k_anonymity_report (one quasi-identifier agg + tiny rollup), "
    "integer arithmetic, single final division.",
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grp = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.countDistinct(F.col("user_id") % 10).alias("n_sensitive"),
        F.count(F.lit(1)).alias("n_events"),
    )
    viol = F.col("n_sensitive") < _L_DIV
    return grp.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(viol, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_groups"),
        F.sum(F.when(viol, F.col("n_events")).otherwise(0))
        .cast("bigint")
        .alias("events_suppressed"),
        F.round(
            F.sum(F.when(viol, F.col("n_events")).otherwise(0))
            / F.sum("n_events"),
            6,
        ).alias("suppression_rate"),
    )


# ---------------------------------------------------- t-closeness report

_T_CLOSE = 0.25


@register(
    "t_closeness_report",
    f"""
    WITH cells AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               user_id % 10 AS sens, COUNT(*) AS n_gv
        FROM events GROUP BY 1, 2, 3
    ),
    cells2 AS (
        SELECT *, SUM(n_gv) OVER (PARTITION BY event_type, h) AS n_g
        FROM cells
    ),
    gv AS (
        SELECT user_id % 10 AS sens, COUNT(*) AS n_v FROM events
        GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    grp AS (
        SELECT c.event_type, c.h, c.n_g, t.n,
               SUM(ABS(c.n_gv * t.n - v.n_v * c.n_g)) AS present_abs,
               SUM(v.n_v) AS sum_nv
        FROM cells2 c JOIN gv v USING (sens) CROSS JOIN tot t
        GROUP BY c.event_type, c.h, c.n_g, t.n
    ),
    tv AS (
        SELECT event_type, n_g,
               ROUND(0.5 * CAST(present_abs + n_g * (n - sum_nv)
                                AS DOUBLE) / (n_g * n), 6) AS tv
        FROM grp
    )
    SELECT event_type,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN tv > {_T_CLOSE} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violating_groups,
           CAST(SUM(CASE WHEN tv > {_T_CLOSE} THEN n_g ELSE 0 END)
                AS BIGINT) AS events_suppressed,
           ROUND(SUM(CASE WHEN tv > {_T_CLOSE} THEN n_g ELSE 0 END)
                 / SUM(n_g), 6) AS suppression_rate,
           MAX(tv) AS max_tv
    FROM tv
    GROUP BY event_type
    """,
    doc=f"t-closeness audit (t={_T_CLOSE}) — the third leg of the "
    "anonymization trio (k_anonymity_report, l_diversity_report): a "
    "group can be k-anonymous AND l-diverse yet still leak if its "
    "sensitive-value DISTRIBUTION diverges from the global one "
    "(skewness attack). Per quasi-identifier group (event_type, "
    "hour), total-variation distance between the group's "
    "user-cohort (user_id % 10) distribution and the corpus "
    "distribution, computed EXACTLY: TV = Σ|n_gv·N − N_v·n_g| / "
    "(2·n_g·N) where absent values contribute n_g·(N − Σ_present "
    "N_v) — integer arithmetic until one double division per group "
    "(long capacity: n_g·N < 2^63 holds to ~1e9 events/group at "
    "1e9 rows total; shard beyond that). Scale: one QI+sens "
    "aggregation, an intra-partition window for group totals, a "
    "10-row broadcast + 1-row total, then the tiny per-type rollup.",
)
def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    sens = (F.col("user_id") % 10).alias("sens")
    cells = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h"), sens
    ).agg(F.count(F.lit(1)).alias("n_gv"))
    cells2 = cells.withColumn(
        "n_g",
        F.sum("n_gv").over(Window.partitionBy("event_type", "h")),
    )
    gv = ev.groupBy(sens).agg(F.count(F.lit(1)).alias("n_v"))
    tot = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grp = (
        cells2.join(F.broadcast(gv), "sens")
        .crossJoin(F.broadcast(tot))
        .groupBy("event_type", "h", "n_g", "n")
        .agg(
            F.sum(
                F.abs(
                    F.col("n_gv") * F.col("n")
                    - F.col("n_v") * F.col("n_g")
                )
            ).alias("present_abs"),
            F.sum("n_v").alias("sum_nv"),
        )
    )
    tv = F.round(
        F.lit(0.5)
        * (
            F.col("present_abs")
            + F.col("n_g") * (F.col("n") - F.col("sum_nv"))
        ).cast("double")
        / (F.col("n_g") * F.col("n")),
        6,
    )
    viol = F.col("tv") > _T_CLOSE
    return (
        grp.select("event_type", "n_g", tv.alias("tv"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(viol, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_groups"),
            F.sum(F.when(viol, F.col("n_g")).otherwise(0))
            .cast("bigint")
            .alias("events_suppressed"),
            F.round(
                F.sum(F.when(viol, F.col("n_g")).otherwise(0))
                / F.sum("n_g"),
                6,
            ).alias("suppression_rate"),
            F.max("tv").alias("max_tv"),
        )
    )
