"""LLM-training-data preparation operators (round 11): context-window
sequence packing, RAG chunking with stride offsets, DPO preference-pair
construction, a Heaps'-law vocabulary-growth fit, and pairwise
Jensen-Shannon divergence between source token distributions.

Beyond-reference surface (build brief: "operations a large-scale
training-data pipeline would need") — the steps between a curated
corpus and a training run: packing documents into fixed token budgets
(training efficiency), chunking for retrieval indexes, constructing
preference pairs, and corpus-mix diagnostics. Determinism discipline as
everywhere in the registry: integer/DECIMAL sums, ln terms rounded to
9dp DECIMAL before summing, identical aliases on both engines.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (module-level for pandas_udf workers)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.queries import register
from stream_processing_spark.runtime import materialize

# ------------------------------------------- context-window packing

_PACK_BUDGET = 512  # tokens per context window
_PACK_SHARDS = 8    # parallel packing shards (doc_id hash)


@register(
    "context_window_packing",
    f"""
    WITH RECURSIVE docs AS (
        SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY doc_id % {_PACK_SHARDS}
                                  ORDER BY doc_id) AS rn
        FROM documents WHERE text IS NOT NULL
    ),
    walk AS (
        SELECT shard, doc_id, n_tokens, rn,
               n_tokens AS fill, CAST(0 AS BIGINT) AS window_id
        FROM docs WHERE rn = 1
        UNION ALL
        SELECT d.shard, d.doc_id, d.n_tokens, d.rn,
               CASE WHEN w.fill + d.n_tokens > {_PACK_BUDGET}
                    THEN d.n_tokens ELSE w.fill + d.n_tokens END,
               CASE WHEN w.fill + d.n_tokens > {_PACK_BUDGET}
                    THEN w.window_id + 1 ELSE w.window_id END
        FROM walk w JOIN docs d
          ON d.shard = w.shard AND d.rn = w.rn + 1
    )
    SELECT CAST(shard AS BIGINT) AS shard, doc_id, n_tokens, window_id
    FROM walk
    """,
    doc="Sequence packing for training efficiency (the GPT/T5 "
    f"pre-tokenization staple): documents are greedily packed in "
    f"doc_id order into {_PACK_BUDGET}-token context windows with the "
    "NEXT-FIT rule (a doc that would overflow the open window closes "
    "it and starts the next; oversized docs get their own window). "
    "Complements pack_docs_token_budget (curation2.py), the one-pass "
    "OFFSET approximation whose bins can overflow: next-fit is the "
    "exact never-overflow contract a fixed context length needs, and "
    "its running state is why the oracle is a recursive CTE rather "
    "than a window sum. "
    f"Packing is partition-local by design — {_PACK_SHARDS} doc_id "
    "hash shards each packed independently — because a global "
    "sequential pack is the one thing a cluster cannot do; this is "
    "exactly how packing runs at 100 TB (one pack per input shard, "
    "shard count scaling with the cluster). Spark side: ONE "
    "applyInPandas over the shard key (Arrow-batched, the greedy walk "
    "is pure pandas per shard); oracle: per-shard recursive CTE. "
    "Returns one row per document with its window assignment.",
)
def context_window_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
            "doc_id",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        )
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        fill, win = 0, 0
        wins = []
        first = True
        for nt in pdf["n_tokens"]:
            nt = int(nt)
            if first:
                fill, win, first = nt, 0, False
            elif fill + nt > _PACK_BUDGET:
                fill, win = nt, win + 1
            else:
                fill += nt
            wins.append(win)
        pdf["window_id"] = pd.Series(wins, dtype="int64")
        return pdf[["shard", "doc_id", "n_tokens", "window_id"]]

    return docs.groupBy("shard").applyInPandas(
        pack,
        "shard bigint, doc_id bigint, n_tokens bigint, window_id bigint",
    )


# ------------------------------------------------ RAG chunk offsets

_CHUNK_CHARS = 200
_CHUNK_STRIDE = 150


@register(
    "rag_chunk_offsets",
    f"""
    SELECT doc_id,
           CAST(k AS BIGINT) AS chunk_id,
           CAST(k * {_CHUNK_STRIDE} AS BIGINT) AS start_offset,
           CAST(LEAST({_CHUNK_CHARS},
                      length(text) - k * {_CHUNK_STRIDE}) AS BIGINT)
               AS chunk_len,
           md5(substr(text, k * {_CHUNK_STRIDE} + 1, {_CHUNK_CHARS}))
               AS chunk_md5
    FROM documents
    CROSS JOIN UNNEST(range(0, ((length(text) - 1)
                                // {_CHUNK_STRIDE}) + 1)) AS u(k)
    WHERE text IS NOT NULL AND length(text) > 0
    """,
    doc="RAG index chunking: each document is split into "
    f"{_CHUNK_CHARS}-char chunks on a {_CHUNK_STRIDE}-char stride "
    f"(= {_CHUNK_CHARS - _CHUNK_STRIDE} chars of overlap, the "
    "retrieval-context recipe), emitting (chunk_id, start_offset, "
    "chunk_len, md5(chunk)) per chunk — offsets are codepoint-based "
    "and identical in both engines, the md5 pins the exact substring "
    "without hashing megabytes of text into the result. A chunk "
    "starts at every stride multiple below the doc length, so tail "
    "chunks shrink but never start past the end. Scale shape: one "
    "projection + explode, no shuffle at all — the scan parallelism "
    "IS the plan; at 100 TB this is a pure map stage.",
)
def rag_chunk_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    k = F.explode(
        F.sequence(
            F.lit(0),
            ((F.length("text") - 1) / _CHUNK_STRIDE).cast("bigint"),
        )
    ).alias("k")
    chunks = docs.select("doc_id", "text", k)
    start = (F.col("k") * _CHUNK_STRIDE).cast("bigint")
    return chunks.select(
        "doc_id",
        F.col("k").cast("bigint").alias("chunk_id"),
        start.alias("start_offset"),
        F.least(
            F.lit(_CHUNK_CHARS).cast("bigint"),
            (F.length("text") - F.col("k") * _CHUNK_STRIDE).cast("bigint"),
        ).alias("chunk_len"),
        F.md5(
            F.substring(
                F.col("text"),
                (F.col("k") * _CHUNK_STRIDE + 1).cast("int"),
                _CHUNK_CHARS,
            )
        ).alias("chunk_md5"),
    )


# --------------------------------------------- DPO preference pairs

@register(
    "dpo_preference_pairs",
    """
    WITH scored AS (
        SELECT COALESCE(lang, '(null)') AS lang_g, source, doc_id,
               ROUND(COUNT(DISTINCT tok) * 1.0 / COUNT(*), 9) AS score
        FROM (
            SELECT lang, source, doc_id,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE text IS NOT NULL
        ) t
        WHERE tok <> ''
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT lang_g, source, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY lang_g, source
                                  ORDER BY score DESC, doc_id DESC)
                   AS rb,
               ROW_NUMBER() OVER (PARTITION BY lang_g, source
                                  ORDER BY score ASC, doc_id ASC) AS rw,
               COUNT(*) OVER (PARTITION BY lang_g, source) AS n_docs
        FROM scored
    )
    SELECT b.lang_g AS lang, b.source,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           b.doc_id AS chosen_doc_id, w.doc_id AS rejected_doc_id,
           b.score AS chosen_score, w.score AS rejected_score,
           ROUND(b.score - w.score, 9) AS margin
    FROM ranked b
    JOIN ranked w ON b.lang_g = w.lang_g AND b.source = w.source
    WHERE b.rb = 1 AND w.rw = 1 AND b.n_docs >= 2
    """,
    doc="DPO/RLHF preference-pair construction: within each "
    "(lang, source) group the highest-quality document is paired "
    "against the lowest as (chosen, rejected) — quality here is the "
    "type-token ratio (distinct/total tokens, the built-in lexical-"
    "diversity score; any registry quality score slots in), ties "
    "broken on doc_id so the pair is unique and deterministic. Groups "
    "with fewer than two scored documents emit nothing. NULL lang is "
    "a first-class '(null)' group. Scale shape: one explode + "
    "aggregation to per-doc scores, then the argmax/argmin run as "
    "window ranks over the per-group frames — one corpus shuffle on "
    "the group key; output is one row per group.",
)
def dpo_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        F.coalesce("lang", F.lit("(null)")).alias("lang_g"),
        "source",
        "doc_id",
        F.explode(F.split("text", " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    scored = toks.groupBy("lang_g", "source", "doc_id").agg(
        F.round(
            F.countDistinct("tok") * F.lit(1.0) / F.count(F.lit(1)), 9
        ).alias("score")
    )
    grp = Window.partitionBy("lang_g", "source")
    # doc-cardinality ranked frame feeds BOTH the best and worst
    # branches: eager checkpoint runs the corpus explode + per-doc
    # aggregation + windows once (r13 one-scan rule — previously each
    # branch re-evaluated the whole token pipeline from the scan)
    ranked = materialize(scored.select(
        "lang_g",
        "source",
        "doc_id",
        "score",
        F.row_number()
        .over(grp.orderBy(F.desc("score"), F.desc("doc_id")))
        .alias("rb"),
        F.row_number()
        .over(grp.orderBy(F.asc("score"), F.asc("doc_id")))
        .alias("rw"),
        F.count(F.lit(1)).over(grp).alias("n_docs"),
    ))
    best = ranked.filter(
        (F.col("rb") == 1) & (F.col("n_docs") >= 2)
    ).select(
        "lang_g",
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("score").alias("chosen_score"),
    )
    worst = ranked.filter(F.col("rw") == 1).select(
        "lang_g",
        "source",
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("score").alias("rejected_score"),
    )
    return best.join(worst, ["lang_g", "source"]).select(
        F.col("lang_g").alias("lang"),
        "source",
        "n_docs",
        "chosen_doc_id",
        "rejected_doc_id",
        "chosen_score",
        "rejected_score",
        F.round(F.col("chosen_score") - F.col("rejected_score"), 9).alias(
            "margin"
        ),
    )


# -------------------------------------------- Heaps' law vocab growth

@register(
    "heaps_vocab_growth_fit",
    """
    WITH toks AS (
        SELECT source, doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    tok_nn AS (SELECT * FROM toks WHERE tok <> ''),
    per_doc AS (
        SELECT source, doc_id, COUNT(*) AS ntok
        FROM tok_nn GROUP BY source, doc_id
    ),
    firsts AS (
        SELECT source, MIN(doc_id) AS first_doc, tok
        FROM tok_nn GROUP BY source, tok
    ),
    news AS (
        SELECT source, first_doc AS doc_id, COUNT(*) AS newt
        FROM firsts GROUP BY source, first_doc
    ),
    curve AS (
        SELECT p.source, p.doc_id,
               SUM(p.ntok) OVER (PARTITION BY p.source
                                 ORDER BY p.doc_id) AS big_n,
               SUM(COALESCE(n.newt, 0)) OVER (PARTITION BY p.source
                                              ORDER BY p.doc_id) AS v
        FROM per_doc p
        LEFT JOIN news n ON p.source = n.source AND p.doc_id = n.doc_id
    ),
    pts AS (
        SELECT source,
               CAST(ROUND(LN(CAST(big_n AS DOUBLE)), 6)
                    AS DECIMAL(12,6)) AS lx,
               CAST(ROUND(LN(CAST(v AS DOUBLE)), 6)
                    AS DECIMAL(12,6)) AS ly,
               big_n, v
        FROM curve
    ),
    m AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(big_n) AS BIGINT) AS n_tokens,
               CAST(MAX(v) AS BIGINT) AS vocab,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(lx) AS DOUBLE) AS sx,
               CAST(SUM(ly) AS DOUBLE) AS sy,
               CAST(SUM(lx * ly) AS DOUBLE) AS sxy,
               CAST(SUM(lx * lx) AS DOUBLE) AS sxx
        FROM pts GROUP BY source
    )
    SELECT source, n_docs, n_tokens, vocab,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
               AS heaps_b,
           ROUND(EXP((sy - (n * sxy - sx * sy)
                           / NULLIF(n * sxx - sx * sx, 0) * sx) / n), 6)
               AS heaps_k
    FROM m
    """,
    doc="Heaps'-law vocabulary-growth fit per source: walking the "
    "corpus in doc_id order, V(N) (distinct tokens seen) against N "
    "(tokens seen) follows V ≈ k·N^b; the exponent b is the "
    "ln-ln least-squares slope over the per-document curve points — "
    "the corpus-health diagnostic that flags template/boilerplate "
    "sources (b near 0) vs natural text (b ≈ 0.4-0.6) before "
    "training. New-type counts come from each token's FIRST document "
    "(a (source, token) min-aggregation — never a quadratic "
    "seen-before join); ln terms are rounded to 6dp DECIMAL and "
    "summed exactly, the fit is one fixed double expression. Scale "
    "shape: two corpus aggregations (per-doc counts, first "
    "occurrences), cumulative windows on the per-DOC frame.",
)
def heaps_vocab_growth_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    # TWO streamed corpus aggregations, deliberately NOT one (r13
    # verdict: the single-pass spelling eagerly checkpointed a
    # per-(source, doc, token) count frame that is O(corpus) — a §5
    # memory/spill hazard at scale (localCheckpoint pins it in executor
    # storage, unreplicated) and the round's worst local regression
    # (0.45×: serializing a corpus-sized materialization loses to two
    # passes that stream in parallel on idle cores). Both subtrees
    # below aggregate straight off the scan to DOMAIN-BOUNDED frames
    # (one row per doc); writing the corpus once to checkpoint storage
    # costs at least as much as the second streamed read it saves.
    per_doc = toks.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("ntok")
    )
    news = (
        toks.groupBy("source", "tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).alias("newt"))
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    curve = (
        per_doc.join(news, ["source", "doc_id"], "left")
        .select(
            "source",
            "doc_id",
            F.sum("ntok").over(w).alias("big_n"),
            F.sum(F.coalesce("newt", F.lit(0))).over(w).alias("v"),
        )
    )
    pts = curve.select(
        "source",
        "big_n",
        "v",
        F.round(F.log(F.col("big_n").cast("double")), 6)
        .cast("decimal(12,6)")
        .alias("lx"),
        F.round(F.log(F.col("v").cast("double")), 6)
        .cast("decimal(12,6)")
        .alias("ly"),
    )
    m = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("big_n").cast("bigint").alias("n_tokens"),
        F.max("v").cast("bigint").alias("vocab"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("double").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("double").alias("sxx"),
    )
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return m.select(
        "source",
        "n_docs",
        "n_tokens",
        "vocab",
        F.round(slope, 6).alias("heaps_b"),
        F.round(
            F.exp((F.col("sy") - slope * F.col("sx")) / F.col("n")), 6
        ).alias("heaps_k"),
    )


# --------------------------------- Jensen-Shannon source divergence

@register(
    "corpus_js_divergence_sources",
    """
    WITH hist AS (
        SELECT source, tok, COUNT(*) AS cnt
        FROM (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE text IS NOT NULL
        ) t
        WHERE tok <> ''
        GROUP BY source, tok
    ),
    totals AS (
        SELECT source, CAST(SUM(cnt) AS BIGINT) AS total
        FROM hist GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS s1, b.source AS s2
        FROM totals a JOIN totals b ON a.source < b.source
    ),
    cand AS (
        SELECT p.s1, p.s2, h.tok
        FROM pairs p JOIN hist h ON h.source = p.s1
        UNION
        SELECT p.s1, p.s2, h.tok
        FROM pairs p JOIN hist h ON h.source = p.s2
    ),
    joined AS (
        SELECT c.s1, c.s2, c.tok,
               COALESCE(h1.cnt, 0) AS ca, COALESCE(h2.cnt, 0) AS cb,
               t1.total AS na, t2.total AS nb
        FROM cand c
        LEFT JOIN hist h1 ON h1.source = c.s1 AND h1.tok = c.tok
        LEFT JOIN hist h2 ON h2.source = c.s2 AND h2.tok = c.tok
        JOIN totals t1 ON t1.source = c.s1
        JOIN totals t2 ON t2.source = c.s2
    ),
    terms AS (
        SELECT s1, s2, na, nb,
               CASE WHEN ca > 0 THEN CAST(ROUND(
                   (CAST(ca AS DOUBLE) / na)
                   * LN((CAST(ca AS DOUBLE) / na)
                        / ((CAST(ca AS DOUBLE) / na
                            + CAST(cb AS DOUBLE) / nb) / 2)), 9)
                   AS DECIMAL(18,9))
                   ELSE CAST(0 AS DECIMAL(18,9)) END AS tp,
               CASE WHEN cb > 0 THEN CAST(ROUND(
                   (CAST(cb AS DOUBLE) / nb)
                   * LN((CAST(cb AS DOUBLE) / nb)
                        / ((CAST(ca AS DOUBLE) / na
                            + CAST(cb AS DOUBLE) / nb) / 2)), 9)
                   AS DECIMAL(18,9))
                   ELSE CAST(0 AS DECIMAL(18,9)) END AS tq
        FROM joined
    )
    SELECT s1, s2,
           CAST(MAX(na) AS BIGINT) AS n_tokens_a,
           CAST(MAX(nb) AS BIGINT) AS n_tokens_b,
           CAST(COUNT(*) AS BIGINT) AS vocab_union,
           CAST(SUM(tp) + SUM(tq) AS DOUBLE) / 2 AS jsd_nats
    FROM terms GROUP BY s1, s2
    """,
    doc="Pairwise Jensen-Shannon divergence between source token "
    "distributions — the corpus-mixing diagnostic (how different two "
    "ingest sources really are) a pre-training mixture planner reads "
    "before setting weights: JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M) with "
    "M = (P+Q)/2, symmetric and bounded by ln 2. Probabilities are "
    "exact integer ratios; each p·ln(p/m) term is one fixed double "
    "expression rounded to 9dp DECIMAL and summed order-"
    "independently; zero-count terms contribute exactly 0 by the KL "
    "convention. Scale shape (r14): one corpus aggregation to the "
    "(source, token) histogram, then ONE token-keyed aggregation "
    "pivots each token's per-source counts into a SOURCE-DOMAIN-"
    "bounded map; the pair expansion is a broadcast nested-loop over "
    "that 1-row-per-token frame with membership filter and count "
    "lookups in codegen, partially aggregated to the |pairs|-bounded "
    "result before its exchange — nothing pairs×vocab-sized is ever "
    "shuffled.",
)
def corpus_js_divergence_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # ONE corpus pass to the (source, token) histogram. NULL-source
    # rows are dropped up front: the pair frame is built from
    # `a.source < b.source`, which both engines evaluate false against
    # NULL, so a NULL-source token can never reach any output pair.
    # Eager checkpoint: the histogram feeds the per-token pivot AND
    # the totals (r13 one-scan rule; (sources × vocab)-bounded).
    hist = materialize(
        docs.filter(F.col("source").isNotNull())
        .select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = hist.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("total")
    )
    # r14 reshape (guide §2.3/§2.4): the r13 spelling expanded the
    # histogram to pairs×vocab CANDIDATE rows and pushed them through a
    # DISTINCT plus two (source, tok)-keyed shuffle joins — three
    # shuffles of the largest frame in the query (~pairs × union-vocab
    # rows). Pivot instead: ONE token-keyed aggregation folds each
    # token's per-source counts into a map bounded by the SOURCE DOMAIN
    # (≤ |sources| entries — collect never sees more than one entry per
    # source), and the pair expansion becomes a broadcast nested-loop
    # over the 1-row-per-token frame with the membership filter and
    # both count lookups evaluated in codegen. The pairs×vocab rows
    # still exist, but only inside a map stage that partially
    # aggregates to the |pairs|-bounded result before its exchange —
    # nothing pairs×vocab-sized is ever shuffled. ca/cb/na/nb are the
    # same exact integers, so every term and the final decimal sums
    # are bit-identical.
    smap = hist.groupBy("tok").agg(
        F.map_from_entries(
            F.collect_list(F.struct("source", "cnt"))
        ).alias("m")
    )
    pairs = (
        totals.alias("a")
        .join(
            totals.alias("b"),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("s1"),
            F.col("b.source").alias("s2"),
            F.col("a.total").alias("na"),
            F.col("b.total").alias("nb"),
        )
    )
    ca_m = F.element_at(F.col("m"), F.col("s1"))
    cb_m = F.element_at(F.col("m"), F.col("s2"))
    joined = (
        smap.join(F.broadcast(pairs))
        .filter(ca_m.isNotNull() | cb_m.isNotNull())
        .select(
            "s1",
            "s2",
            "tok",
            F.coalesce(ca_m, F.lit(0)).alias("ca"),
            F.coalesce(cb_m, F.lit(0)).alias("cb"),
            "na",
            "nb",
        )
    )
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    m = (p + q) / 2
    dec0 = F.lit(0).cast("decimal(18,9)")
    terms = joined.select(
        "s1",
        "s2",
        "na",
        "nb",
        F.when(F.col("ca") > 0, F.round(p * F.log(p / m), 9).cast(
            "decimal(18,9)"
        )).otherwise(dec0).alias("tp"),
        F.when(F.col("cb") > 0, F.round(q * F.log(q / m), 9).cast(
            "decimal(18,9)"
        )).otherwise(dec0).alias("tq"),
    )
    return terms.groupBy("s1", "s2").agg(
        F.max("na").cast("bigint").alias("n_tokens_a"),
        F.max("nb").cast("bigint").alias("n_tokens_b"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_union"),
        ((F.sum("tp") + F.sum("tq")).cast("double") / 2).alias(
            "jsd_nats"
        ),
    )
