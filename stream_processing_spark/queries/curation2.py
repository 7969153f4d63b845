"""Round-2 curation flagships: benchmark decontamination, token-budget
document packing, the end-to-end dedup KEEP decision, and int8 scalar
quantization of embeddings — the remaining ops a pretraining-data
pipeline runs between raw corpus and training shards.

Same determinism rules as the rest of the registry (md5 for hashing,
integer arithmetic where possible, decimal-summed means, ROUND(…, 6)
on float outputs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.functions.keys import eq_key
from stream_processing_spark.queries import register
from stream_processing_spark.runtime import materialize, rebalance_for_expansion

# ------------------------------------------------------ decontamination

# train/test assignment reuses split_train_val_test's content-addressed
# md5-prefix rule so the check composes with the split queries.
_SPLIT_CASE = "CASE WHEN md5(text) < 'cc' THEN 'train' ELSE 'eval' END"

_NGRAM_N = 5


def _ngram_sql(n: int) -> str:
    parts = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
    toks AS (SELECT doc_id, {_SPLIT_CASE} AS split, string_split(text, ' ') AS t
             FROM documents),
    grams AS (
        SELECT DISTINCT doc_id, split, md5({parts}) AS g
        FROM toks, UNNEST(range(1, len(t) - {n - 2})) AS u(i)
        WHERE len(t) >= {n}
    )
    """


@register(
    "decontaminate_ngram_overlap",
    f"""
    WITH {_ngram_sql(_NGRAM_N)},
    train_grams AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
    eval_grams AS (SELECT doc_id, g FROM grams WHERE split = 'eval')
    SELECT e.doc_id, COUNT(*) AS n_contaminated_ngrams
    FROM eval_grams e JOIN train_grams t ON e.g = t.g
    GROUP BY e.doc_id
    """,
    doc=f"Benchmark decontamination: eval-split documents sharing any "
    f"{_NGRAM_N}-gram with the train split, with the count of shared "
    "n-grams per eval doc. The scale-critical move: the train side is "
    "projected to a DISTINCT n-gram hash set BEFORE the join, so each "
    "eval n-gram matches at most one row — join volume is linear in "
    "eval n-grams, immune to stop-n-gram frequency skew (no df cap "
    "needed, unlike pair-generating joins). N-gram keys travel as "
    "64-bit xxhash64 hashes (r14), so every shuffle carries "
    "fixed-width keys, never text.",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = rebalance_for_expansion(docs)
    split = F.when(F.md5(F.col("text").cast("binary")) < "cc", "train").otherwise(
        "eval"
    )
    toks = F.split(F.col("text"), " ")
    n = _NGRAM_N
    length = F.size(toks)
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, length - (n - 1)) for j in range(n)])
    # feeds the train-set and eval-set branches: the barrier dedupes the
    # corpus ngram+distinct SHUFFLE across the two branches (unlike the
    # map-only exact-substring fingerprint pass, re-running this costs a
    # full corpus exchange) — and the frame is distinct (doc, 8-byte
    # gram) rows, 60% smaller than the r13 md5 spelling
    grams = materialize(
        docs.filter(length >= n)
        .select("doc_id", split.alias("split"), F.explode(zipped).alias("__z"))
        .select(
            "doc_id",
            "split",
            # r14: the n-gram key is equality-only (train-set member-
            # ship + count; never output — the oracle hashes its own
            # side), so eq_key replaces md5: cheaper per-token map
            # and 8-byte keys through the distinct, checkpoint and
            # join (interleaved A/B: wins every pair, min 2.32 → 1.84
            # s; same collision class as the shingle hashing, gate-
            # verified ×3 SF). The SPLIT rule's md5(text) is value-
            # bearing (mirrored by the oracle) and stays md5.
            eq_key(
                F.concat_ws(" ", *[f"__z.{j}" for j in range(n)])
            ).alias("g"),
        )
        .distinct()
    )
    train_grams = grams.filter(F.col("split") == "train").select("g").distinct()
    eval_grams = grams.filter(F.col("split") == "eval").select("doc_id", "g")
    return (
        eval_grams.join(train_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


# ------------------------------------------------------ sequence packing

_PACK_BUDGET = 256


@register(
    "pack_docs_token_budget",
    f"""
    WITH counted AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    runsum AS (
        SELECT doc_id, lang, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM counted
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(cum_before / {_PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM runsum
    """,
    doc=f"Document packing for pretraining shards: per-language streams "
    f"(ordered by doc_id) are cut into bins of ~{_PACK_BUDGET} tokens by "
    "cumulative token count — the streaming-append packing rule (a doc "
    "lands in the bin its running offset falls in; deterministic, "
    "single window shuffle per language, no iteration). This is the "
    "sharding step between curation and the training dataloader; exact "
    "bin-capacity packing is NP-ish and iterative, while offset packing "
    "is the standard one-pass approximation.",
)
def pack_docs_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.cast("bigint").alias("n_tokens"),
    ).withColumn(
        "bin_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / _PACK_BUDGET
        ).cast("bigint"),
    )


# ------------------------------------------------- end-to-end keep list

@register(
    "dedup_survivors",
    """
    WITH exact AS (
        SELECT MIN(doc_id) AS keep_id
        FROM documents GROUP BY md5(text)
    )
    SELECT keep_id AS doc_id FROM exact
    """,
    doc="The end-to-end exact-dedup KEEP decision: one surviving doc_id "
    "(the minimum) per distinct text — the list a writer joins against "
    "to emit the deduplicated corpus. groupBy on md5(text) keeps the "
    "shuffle fixed-width; the survivors frame is the semi-join key set "
    "for the output pass (near-dup tiers subtract further via "
    "dedup_embedding_canonical / dedup_minhash_verified_pairs).",
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.functions.dedup import exact_dedup_groups

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))


# --------------------------------------------- int8 scalar quantization

@register(
    "embedding_scalar_quantize",
    """
    WITH vals AS (
        SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, 65)) AS u(i)
    ),
    ranges AS (
        SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM vals GROUP BY pos
    )
    SELECT vec_id, v.pos,
           CAST(ROUND(CASE WHEN r.mx = r.mn THEN 0
                           ELSE (v.v - r.mn) / (r.mx - r.mn) * 255 END)
                AS INT) AS q
    FROM vals v JOIN ranges r ON v.pos = r.pos
    """,
    doc="Int8 scalar quantization of the embedding corpus: per-DIMENSION "
    "min/max over the dataset define the scale (the IVF-PQ-style "
    "codebook-free baseline), each value maps to 0..255. 4× memory/IO "
    "reduction for ANN serving. Plan: posexplode once, per-pos min/max "
    "agg (64-row broadcast back), map-side quantize — min/max (unlike "
    "mean) are order-independent in float, so the reduction is "
    "hash-matchable without decimal tricks.",
)
def embedding_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    ranges = vals.groupBy("pos").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    q = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        (F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255
    )
    return (
        vals.join(F.broadcast(ranges), "pos")
        .select("vec_id", "pos", F.round(q, 0).cast("int").alias("q"))
    )


# ------------------------------------------- repetition quality filter

@register(
    "quality_bigram_repetition",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2
    ),
    freq AS (
        SELECT doc_id, g, COUNT(*) AS n FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(MAX(n) AS BIGINT) AS top_bigram_n,
           ROUND(MAX(n) * 1.0 / SUM(n), 6) AS top_bigram_ratio
    FROM freq GROUP BY doc_id
    """,
    doc="Gopher-rule repetition quality signal: the fraction of a "
    "document's bigrams taken by its single most frequent bigram "
    "(looped/boilerplate text scores high and gets filtered). One "
    "explode + per-(doc, gram) count + per-doc max/sum — two "
    "aggregations sharing the doc_id shuffle key. Integer counts until "
    "one exact division.",
)
def quality_bigram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = rebalance_for_expansion(docs)
    toks = F.split(F.col("text"), " ")
    length = F.size(toks)
    zipped = F.arrays_zip(F.slice(toks, 1, length - 1), F.slice(toks, 2, length - 1))
    grams = (
        docs.filter(length >= 2)
        .select("doc_id", F.explode(zipped).alias("__z"))
        .select("doc_id", F.concat_ws(" ", "__z.0", "__z.1").alias("g"))
    )
    freq = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("n"))
    return freq.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_bigrams"),
        F.max("n").cast("bigint").alias("top_bigram_n"),
        F.round(F.max("n") / F.sum("n"), 6).alias("top_bigram_ratio"),
    )


# -------------------------------------------------- mixture rebalancing

@register(
    "mixture_equalize_langs",
    """
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    target AS (SELECT MIN(n) AS m FROM counts),
    ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(text), doc_id) AS rn
        FROM documents
    )
    SELECT doc_id, lang FROM ranked, target WHERE rn <= m
    """,
    doc="Training-mixture rebalancing: every language downsampled to the "
    "size of the smallest one (uniform target mix). The sample is the "
    "m smallest md5(text) hashes per language — content-addressed, so "
    "it is a uniform random subset that is STABLE under repartition, "
    "rerun, and corpus append (docs don't enter/leave the sample when "
    "unrelated docs arrive, unlike rand()-based sampling). One window "
    "shuffle on lang + a 1-row broadcast of the target size.",
)
def mixture_equalize_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    target = docs.groupBy("lang").count().agg(F.min("count").alias("m"))
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("text")), "doc_id")
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.crossJoin(F.broadcast(target))
        .filter(F.col("rn") <= F.col("m"))
        .select("doc_id", "lang")
    )


# ------------------------------------------------------- BM25 retrieval

_BM25_TERMS = ("scan", "merge", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, bm25) for the fixed query termset — the scoring core
    shared by bm25_topk_docs and the RRF hybrid fusion.

    ONE corpus pass: per-doc length and the fixed termset's tf counts
    come out of a single projection (array filters over one split — no
    corpus explode, no (doc, term) shuffle), eagerly checkpointed at
    one tiny row per doc; the stats aggregate, the df aggregate and the
    scoring all ride the checkpoint. Previously lens and the tf explode
    each re-scanned documents (4 scans in the rrf plan). tf values,
    join rows and the 6dp-rounded decimal term scores are identical —
    a doc/term row exists iff the term occurs (tf > 0), as before."""
    def _tf_count(arr: Column, term: str) -> Column:
        # single-arg lambda on purpose: pyspark passes (element, index)
        # to two-parameter lambdas, so a default-arg capture would be
        # silently overridden by the index column
        return F.size(F.filter(arr, lambda x: x == term))

    t = F.split(F.col("text"), " ")
    per_doc = materialize(docs.select(
        "doc_id",
        F.size(t).alias("L"),
        *[
            _tf_count(t, term).alias(f"tf{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    ))
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("L").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(term).alias("token"),
                F.col(f"tf{i}").cast("bigint").alias("tf"),
            )
            for i, term in enumerate(_BM25_TERMS)
        ]
    )
    tf = per_doc.select(
        "doc_id",
        "L",
        F.explode(F.filter(entries, lambda e: e["tf"] > 0)).alias("e"),
    ).select("doc_id", "L", F.col("e.token").alias("token"), F.col("e.tf").alias("tf"))
    dfreq = tf.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    k1, b = _BM25_K1, _BM25_B
    idf = (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    den = F.col("tf") + k1 * (1 - b + b * F.col("L") / F.col("avgdl"))
    term_score = F.round(idf * (F.col("tf") * (k1 + 1)) / den, 6).cast(
        "decimal(18,6)"
    )
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(F.sum("term_score").cast("double").alias("bm25"))
    )


@register(
    "bm25_topk_docs",
    f"""
    WITH lens AS (
        SELECT doc_id, len(string_split(text, ' ')) AS L FROM documents
    ),
    stats AS (
        SELECT COUNT(*) AS N, CAST(SUM(L) AS DOUBLE) / COUNT(*) AS avgdl
        FROM lens
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks
        WHERE token IN {_BM25_TERMS!r}
        GROUP BY doc_id, token
    ),
    dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(ROUND(
                   ((s.N - d.df + 0.5) / (d.df + 0.5))
                   * (t.tf * ({_BM25_K1} + 1))
                   / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                        + {_BM25_B} * l.L / s.avgdl)),
                   6) AS DECIMAL(18,6)) AS term_score
        FROM tf t
        JOIN dfreq d ON d.token = t.token
        JOIN lens l ON l.doc_id = t.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    doc="BM25 lexical retrieval top-10 for a fixed query termset (k1=1.2 "
    "b=0.75) — the sparse half of hybrid RAG retrieval. idf is the "
    "rational (N-df+0.5)/(df+0.5) WITHOUT ln: rank-equivalent, and it "
    "keeps every value in exact rational arithmetic so engines agree "
    "bit-for-bit (libm's ln does not). Per-term scores round to 6dp "
    "then DECIMAL-sum per doc — an order-independent reduction. Plan: "
    "tf explode+agg shuffles on (doc, term); df and the 1-row (N, "
    "avgdl) stats broadcast; TakeOrderedAndProject for the top-k.",
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _bm25_scored(docs)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_DEPTH = 20  # per-retriever candidate depth feeding the fusion


@register(
    "retrieval_rrf_hybrid_topk",
    f"""
    WITH lens AS (
        SELECT doc_id, len(string_split(text, ' ')) AS L FROM documents
    ),
    stats AS (
        SELECT COUNT(*) AS N, CAST(SUM(L) AS DOUBLE) / COUNT(*) AS avgdl
        FROM lens
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks
        WHERE token IN {_BM25_TERMS!r}
        GROUP BY doc_id, token
    ),
    dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(ROUND(
                   ((s.N - d.df + 0.5) / (d.df + 0.5))
                   * (t.tf * ({_BM25_K1} + 1))
                   / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                        + {_BM25_B} * l.L / s.avgdl)),
                   6) AS DECIMAL(18,6)) AS term_score
        FROM tf t
        JOIN dfreq d ON d.token = t.token
        JOIN lens l ON l.doc_id = t.doc_id
        CROSS JOIN stats s
    ),
    bm25 AS (
        SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS bm25
        FROM scored WHERE doc_id <> 0 GROUP BY doc_id
    ),
    sparse AS (
        SELECT doc_id, rank_s FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_s
            FROM bm25
        ) WHERE rank_s <= {_RRF_DEPTH}
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cos AS (
        SELECT e.vec_id AS doc_id,
               ROUND(
                 list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.qe AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]),
                                            CAST(q.qe AS DOUBLE[])))),
                 6) AS cos_sim
        FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    dense AS (
        SELECT doc_id, rank_d FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank_d
            FROM cos
        ) WHERE rank_d <= {_RRF_DEPTH}
    )
    SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / ({_RRF_K} + rank_s), 0)
                 + COALESCE(1.0 / ({_RRF_K} + rank_d), 0), 6) AS rrf
    FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    doc=f"Hybrid retrieval via reciprocal-rank fusion (k={_RRF_K}): "
    f"top-{_RRF_DEPTH} BM25 candidates for the fixed termset fused "
    f"with top-{_RRF_DEPTH} dense-cosine candidates for query vector "
    "0 (vec_id and doc_id share the id space in this corpus), score = "
    "Σ 1/(k+rank) over the retrievers that returned the doc — the "
    "standard sparse+dense RAG retrieval composition, built purely "
    "from ranks so the incomparable score scales never mix. "
    "Determinism: ranks are total (score DESC, id), 1/(k+rank) is one "
    "exact IEEE division on integers, one ROUND(…, 6) at the end. "
    "Plan: both retrievers broadcast their 1-row query side and scan "
    "once; the rank windows run over ≤ depth-bounded candidate sets "
    "(the BM25 side only over term-matching docs), and the fusion "
    f"join is {_RRF_DEPTH}×2 rows — driver-negligible at any corpus "
    "size because depth, not corpus, bounds it.",
)
def retrieval_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.functions import similarity as sim

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # sparse arm: BM25 over term-matching docs only (a small frame —
    # the global rank window is bounded by matches, not the corpus)
    # keep top-depth FIRST via TakeOrderedAndProject (per-partition
    # top-k merge — the term-matching set grows with the corpus, so no
    # global rank window may walk it); ranks then number the ≤ depth
    # kept rows only (r12)
    sparse = (
        _bm25_scored(docs)
        .filter(F.col("doc_id") != 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .withColumn(
            "rank_s",
            F.row_number().over(
                Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "rank_s")
    )
    # dense arm: exact cosine top-depth (broadcast query, one scan,
    # TakeOrderedAndProject); ranks assigned over the depth rows only
    dense = (
        sim.brute_force_topk(emb, query_vec_id=0, k=_RRF_DEPTH)
        .withColumn(
            "rank_d",
            F.row_number().over(
                Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            ),
        )
        .select(F.col("vec_id").alias("doc_id"), "rank_d")
    )
    rrf = F.round(
        F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_s")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_d")), F.lit(0.0)),
        6,
    )
    return (
        sparse.join(dense, "doc_id", "full_outer")
        .select("doc_id", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )


# ------------------------------------------------------- SCD2 history

@register(
    "scd2_user_event_type_history",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    starts AS (
        SELECT user_id, event_type, ts,
               SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run_id
        FROM ordered
    ),
    runs AS (
        SELECT user_id, event_type, CAST(run_id AS BIGINT) AS run_id,
               MIN(ts) AS valid_from
        FROM starts GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type, run_id, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, run_id) AS valid_to
    FROM runs
    """,
    doc="SCD2 (slowly-changing-dimension type 2) history build: per-user "
    "runs of consecutive equal event_type collapse into validity "
    "intervals [valid_from, valid_to) — valid_to NULL marks the current "
    "row. Gaps-and-islands via lag-change flag + running sum; every "
    "window and the final rollup share ONE shuffle on user_id. The "
    "dimension-table construction step of a warehouse load.",
)
def scd2_user_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = events.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w_ord).alias("prev_type"),
    )
    change = F.when(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type")),
        1,
    ).otherwise(0)
    starts = ordered.withColumn(
        "run_id", F.sum(change).over(w_run).cast("bigint")
    )
    runs = starts.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from")
    )
    w_next = Window.partitionBy("user_id").orderBy("valid_from", "run_id")
    return runs.select(
        "user_id", "event_type", "run_id", "valid_from",
        F.lead("valid_from").over(w_next).alias("valid_to"),
    )


# ------------------------------------------- quantized ANN serving

@register(
    "ann_quantized_topk",
    """
    WITH vals AS (
        SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, 65)) AS u(i)
    ),
    ranges AS (
        SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM vals GROUP BY pos
    ),
    recon AS (
        SELECT v.vec_id, v.pos,
               r.mn + (CAST(ROUND(CASE WHEN r.mx = r.mn THEN 0
                            ELSE (v.v - r.mn) / (r.mx - r.mn) * 255 END)
                       AS INT) / 255.0) * (r.mx - r.mn) AS rv
        FROM vals v JOIN ranges r ON v.pos = r.pos
    ),
    q AS (SELECT pos, rv AS qr FROM recon WHERE vec_id = 0),
    qn AS (
        SELECT sqrt(CAST(SUM(CAST(ROUND(qr * qr, 6) AS DECIMAL(18,6)))
                    AS DOUBLE)) AS qnorm
        FROM q
    ),
    per_vec AS (
        SELECT rc.vec_id,
               CAST(SUM(CAST(ROUND(rc.rv * q.qr, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS dot,
               sqrt(CAST(SUM(CAST(ROUND(rc.rv * rc.rv, 6) AS DECIMAL(18,6)))
                    AS DOUBLE)) AS vnorm
        FROM recon rc JOIN q ON q.pos = rc.pos
        WHERE rc.vec_id <> 0
        GROUP BY rc.vec_id
    )
    SELECT vec_id, ROUND(dot / (vnorm * qnorm), 6) AS cos_sim
    FROM per_vec, qn
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    doc="ANN serving over the int8-QUANTIZED corpus: vectors are "
    "reconstructed from their per-dimension codes (mn + q/255*(mx-mn)) "
    "and cosine-ranked against the reconstructed query — the memory/IO "
    "story of embedding_scalar_quantize carried through to retrieval. "
    "Long-format plan: (vec, pos) terms join a 64-row broadcast of the "
    "query dims, per-vec decimal-summed dot/norm (order-independent "
    "reduction, map-side partial agg), 1-row qnorm broadcast, "
    "TakeOrderedAndProject. One shuffle on vec_id.",
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    ranges = vals.groupBy("pos").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    qcode = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        (F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255
    )
    recon = (
        vals.join(F.broadcast(ranges), "pos")
        .select(
            "vec_id",
            "pos",
            (
                F.col("mn")
                + (F.round(qcode, 0).cast("int") / 255.0)
                * (F.col("mx") - F.col("mn"))
            ).alias("rv"),
        )
    )
    q = recon.filter(F.col("vec_id") == 0).select("pos", F.col("rv").alias("qr"))
    dec = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    qn = q.agg(
        F.sqrt(F.sum(dec(F.col("qr") * F.col("qr"))).cast("double")).alias("qnorm")
    )
    per_vec = (
        recon.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(dec(F.col("rv") * F.col("qr"))).cast("double").alias("dot"),
            F.sqrt(
                F.sum(dec(F.col("rv") * F.col("rv"))).cast("double")
            ).alias("vnorm"),
        )
    )
    return (
        per_vec.crossJoin(F.broadcast(qn))
        .select(
            "vec_id",
            F.round(F.col("dot") / (F.col("vnorm") * F.col("qnorm")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------- LM fluency quality score

# shared CTE body: per-doc mean corpus-bigram probability (also feeds
# quality_ccnet_buckets' oracle)
_LM_SCORE_CTES = """
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    doc_bigrams AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(l) - 1),
                                     i -> l[i] || ' ' || l[i + 1])) AS bg
        FROM toks
    ),
    counted AS (
        SELECT bg, COUNT(*) AS cnt FROM doc_bigrams GROUP BY bg
    ),
    probs AS (
        SELECT bg,
               CAST(cnt AS DOUBLE)
                   / CAST(SUM(cnt) OVER (PARTITION BY split_part(bg, ' ', 1))
                          AS DOUBLE) AS p
        FROM counted
    ),
    lmscore AS (
        SELECT d.doc_id,
               COUNT(*) AS n_bigrams,
               CAST(SUM(CAST(ROUND(pr.p, 6) AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) AS avg_bigram_p
        FROM doc_bigrams d JOIN probs pr ON pr.bg = d.bg
        GROUP BY d.doc_id
    )
"""


@register(
    "quality_lm_avg_bigram_prob",
    f"""
    WITH {_LM_SCORE_CTES}
    SELECT doc_id, n_bigrams, avg_bigram_p FROM lmscore
    """,
    doc="LM-based fluency quality score (the KenLM-filter analogue): "
    "each document scored by the MEAN corpus-bigram probability of its "
    "bigrams — low scores mark disfluent/garbled text for filtering. "
    "Mean instead of log-perplexity keeps arithmetic rational (libm log "
    "diverges across engines); per-bigram probs round to 6dp then "
    "decimal-sum. The probs lookup is a membership join (each doc "
    "bigram matches exactly one prob row) — linear volume, stop-bigram "
    "skew only affects the partial-agg'd LM build, not the join.",
)
def quality_lm_avg_bigram_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _doc_avg_bigram_p(docs)


def _doc_avg_bigram_p(docs: DataFrame) -> DataFrame:
    """Per-doc mean corpus-bigram probability — see the registry doc
    above; shared with quality_ccnet_buckets."""
    docs = rebalance_for_expansion(docs)
    toks = F.split(F.col("text"), " ")
    length = F.size(toks)
    zipped = F.arrays_zip(F.slice(toks, 1, length - 1), F.slice(toks, 2, length - 1))
    # r14 (guide §2.3, §5; an interleaved A/B won every pair): bigrams
    # travel as 64-bit xxhash64 keys, never strings — everything
    # downstream uses the bigram and its first word only for EQUALITY
    # (count groups, window partition, prob join), so hashing preserves
    # the exact counts/probs up to the same ~2⁻⁶⁵-per-pair collision
    # class as the dedup shingle hashing (gate-verified bit-equal at
    # all test SFs). The O(corpus) eager
    # checkpoint is gone with them (the heaps lesson: pinning a
    # corpus-sized frame in executor storage costs more than streaming
    # the explode twice); the LM-build window stays on the
    # vocab-bounded bg-level frame so no window partition scales with
    # the corpus.
    db = (
        docs.filter(length >= 2)
        .select("doc_id", F.explode(zipped).alias("__z"))
        .select(
            "doc_id",
            eq_key(F.concat_ws(" ", "__z.0", "__z.1")).alias("bgh"),
            eq_key("__z.0").alias("w1h"),
        )
    )
    counted = db.groupBy("bgh", "w1h").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wsum = Window.partitionBy("w1h")
    probs = counted.select(
        "bgh",
        (
            F.col("cnt").cast("double")
            / F.sum("cnt").over(wsum).cast("double")
        ).alias("p"),
    )
    dec_p = F.round(F.col("p"), 6).cast("decimal(18,6)")
    return (
        db.join(probs, "bgh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum(dec_p).cast("double") / F.count(F.lit(1))).alias(
                "avg_bigram_p"
            ),
        )
    )


_CCNET_BUCKETS = {1: "head", 2: "middle", 3: "tail"}


@register(
    "quality_ccnet_buckets",
    f"""
    WITH {_LM_SCORE_CTES},
    sl AS (
        SELECT s.doc_id, s.avg_bigram_p, d.lang
        FROM lmscore s JOIN documents d USING (doc_id)
    ),
    nt AS (
        SELECT lang, avg_bigram_p,
               NTILE(3) OVER (PARTITION BY lang
                              ORDER BY avg_bigram_p DESC, doc_id ASC)
                   AS nt
        FROM sl
    )
    SELECT lang,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(ROUND(avg_bigram_p, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / COUNT(*), 6) AS avg_score,
           ROUND(MIN(avg_bigram_p), 6) AS min_score,
           ROUND(MAX(avg_bigram_p), 6) AS max_score
    FROM nt GROUP BY 1, 2
    """,
    doc="CCNet-style quality bucketing (Wenzek et al. 2020): within "
    "each language, documents rank by LM fluency (the mean corpus-"
    "bigram probability — quality_lm_avg_bigram_prob's score) and "
    "split into equal HEAD / MIDDLE / TAIL terciles, the partition "
    "CCNet uses to keep head+middle for pretraining. NTILE over a "
    "total order (score DESC, doc_id) is engine-portable; bucket "
    "means are exact (6dp-decimal sums / count). Scale: the score "
    "pipeline's shapes are inherited; the tercile is one per-lang "
    "window over doc-level rows and the report is |langs|x3 rows.",
)
def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = _doc_avg_bigram_p(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    nt = s.withColumn(
        "nt",
        F.ntile(3).over(
            Window.partitionBy("lang").orderBy(
                F.desc("avg_bigram_p"), F.asc("doc_id")
            )
        ),
    )
    bucket = (
        F.when(F.col("nt") == 1, "head")
        .when(F.col("nt") == 2, "middle")
        .otherwise("tail")
    )
    dec6 = F.round(F.col("avg_bigram_p"), 6).cast("decimal(18,6)")
    return nt.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(dec6).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_score"),
        F.round(F.min("avg_bigram_p"), 6).alias("min_score"),
        F.round(F.max("avg_bigram_p"), 6).alias("max_score"),
    )


# ------------------------------------------------- collocation mining

_COOC_TOP_VOCAB = 50


@register(
    "token_cooccurrence_lift",
    f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tok_df AS (
        SELECT token, COUNT(*) AS df FROM toks WHERE token <> ''
        GROUP BY token
    ),
    vocab AS (
        SELECT token, df FROM (
            SELECT token, df,
                   ROW_NUMBER() OVER (ORDER BY df DESC, token) AS rk
            FROM tok_df
        ) WHERE rk <= {_COOC_TOP_VOCAB}
    ),
    kept AS (
        SELECT t.doc_id, t.token FROM toks t JOIN vocab v ON v.token = t.token
    ),
    pairs AS (
        SELECT a.token AS tok_a, b.token AS tok_b, COUNT(*) AS n_ab
        FROM kept a JOIN kept b
          ON a.doc_id = b.doc_id AND a.token < b.token
        GROUP BY 1, 2
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tok_a, tok_b, n_ab,
           ROUND(CAST(n_ab AS DOUBLE) * n.n_docs
                 / (va.df * CAST(vb.df AS DOUBLE)), 6) AS lift
    FROM pairs
    JOIN vocab va ON va.token = tok_a
    JOIN vocab vb ON vb.token = tok_b
    CROSS JOIN n
    """,
    doc="Collocation mining: document-level co-occurrence LIFT "
    "p(a,b)/(p(a)p(b)) for pairs of the top-"
    f"{_COOC_TOP_VOCAB} tokens by document frequency. The vocabulary "
    "cap is the scale guard: the within-doc self-join is bounded by "
    "cap² per document regardless of corpus vocabulary (same principle "
    "as the Jaccard df cap, applied as a top-k allowlist). Rational "
    "arithmetic — integer counts, one division, round 6dp. Lift "
    "instead of log-PMI keeps libm out of the oracle comparison.",
)
def token_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = rebalance_for_expansion(docs)
    toks = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    toks = materialize(toks)  # df build + both join sides
    tok_df = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # top-k by orderBy+limit → TakeOrderedAndProject (partial top-k per
    # partition, no global sort/window — the shape that survives a huge
    # token dictionary)
    vocab = (
        tok_df.orderBy(F.desc("df"), F.asc("token"))
        .limit(_COOC_TOP_VOCAB)
        .select("token", "df")
    )
    kept = toks.join(F.broadcast(vocab.select("token")), "token")
    a = kept.select("doc_id", F.col("token").alias("tok_a"))
    b = kept.select("doc_id", F.col("token").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    va = vocab.select(F.col("token").alias("tok_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("token").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a", "tok_b", "n_ab",
            F.round(
                F.col("n_ab").cast("double") * F.col("n_docs")
                / (F.col("df_a") * F.col("df_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------- dataset-card rollup

@register(
    "corpus_quality_by_source",
    """
    WITH per_doc AS (
        SELECT source,
               length(text) AS n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the','a','of','and','to','in','is','it')))
                   AS n_stop
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           ROUND(SUM(n_chars) * 1.0 / SUM(n_tokens), 6) AS chars_per_token,
           ROUND(SUM(n_stop) * 1.0 / SUM(n_tokens), 6) AS stopword_ratio
    FROM per_doc GROUP BY source
    """,
    doc="Dataset-card rollup per source: doc/char/token totals, token "
    "range, chars-per-token and corpus stopword ratio — the per-shard "
    "summary a curation run publishes next to the data. Ratios are "
    "computed from INTEGER sums with one final division (no mean-of-"
    "means skew, no float reduction). Single scan, one grouped agg "
    "with map-side partials.",
)
def corpus_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.array([F.lit(w) for w in
                    ("the", "a", "of", "and", "to", "in", "is", "it")])
    per_doc = docs.select(
        "source",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).alias(
            "n_stop"
        ),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.round(F.sum("n_chars") / F.sum("n_tokens"), 6).alias(
            "chars_per_token"
        ),
        F.round(F.sum("n_stop") / F.sum("n_tokens"), 6).alias(
            "stopword_ratio"
        ),
    )


# ---------------------------------------------------- time-bounded funnel

@register(
    "funnel_time_bounded",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS vmin FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS cmin
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click'
          AND e.ts >= v.vmin AND e.ts <= v.vmin + INTERVAL 1 HOUR
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS pmin
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts >= c.cmin AND e.ts <= c.cmin + INTERVAL 1 HOUR
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_1h,
           (SELECT COUNT(*) FROM p) AS n_purchased_1h
    """,
    doc="TIME-BOUNDED funnel: users whose first view is followed by a "
    "click within 1 hour and then a purchase within 1 hour of that "
    "click — the attribution-window variant of "
    "funnel_view_click_purchase (unbounded order-only). Each stage is "
    "an equi-join on user_id with the window as a join-side filter "
    "(never a theta-join), then a grouped min — three user_id-keyed "
    "shuffles, no range explosion.",
)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vmin"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") >= F.col("vmin"))
            & (F.col("ts") <= F.col("vmin") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("cmin"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") >= F.col("cmin"))
            & (F.col("ts") <= F.col("cmin") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("pmin"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_clicked_1h"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchased_1h"))))
    )


# ------------------------------------------------ anomaly + inequality

@register(
    "events_anomaly_days",
    """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
    ),
    med AS (
        SELECT quantile_cont(n_events, 0.5) AS med FROM daily
    ),
    dev AS (
        SELECT d.day, d.n_events, ABS(d.n_events - m.med) AS ad
        FROM daily d, med m
    ),
    mad AS (SELECT quantile_cont(ad, 0.5) AS mad FROM dev)
    SELECT dev.day, CAST(dev.n_events AS BIGINT) AS n_events,
           ROUND(dev.ad / NULLIF(mad.mad, 0), 6) AS mad_score
    FROM dev, mad
    WHERE dev.ad > 3 * mad.mad
    """,
    doc="Ingest-monitoring anomaly detection: days whose event volume "
    "deviates more than 3 MADs from the median daily volume (median/"
    "MAD, not mean/stddev — robust to the outliers being hunted). Two "
    "tiny 1-row aggregates broadcast back over the daily counts; all "
    "arithmetic from integer counts and percentile_cont midpoints.",
)
def events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    med = daily.agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY n_events)").alias(
            "med"
        )
    )
    dev = daily.crossJoin(F.broadcast(med)).select(
        "day", "n_events", F.abs(F.col("n_events") - F.col("med")).alias("ad")
    )
    mad = dev.agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY ad)").alias("mad")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .filter(F.col("ad") > 3 * F.col("mad"))
        .select(
            "day",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round(
                F.col("ad") / F.nullif(F.col("mad"), F.lit(0)), 6
            ).alias("mad_score"),
        )
    )


@register(
    "user_activity_gini",
    """
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n, user_id) AS i,
               COUNT(*) OVER () AS nu, SUM(n) OVER () AS total
        FROM per_user
    )
    SELECT ROUND(CAST(SUM((2 * i - nu - 1) * n) AS DOUBLE)
                 / (MAX(nu) * CAST(MAX(total) AS DOUBLE)), 6) AS gini
    FROM ranked
    """,
    doc="Gini coefficient of per-user event activity — the inequality "
    "summary behind skew planning (a high Gini predicts hot keys that "
    "need salting) and engagement dashboards. Closed-form sorted "
    "formula sum((2i-n-1)x_i)/(n*sum x), evaluated WITHOUT a "
    "|users|-row global sort (r12): group users into activity LEVELS "
    "(count-of-counts — bounded by the activity-value domain, which "
    "saturates far below the user count), range-prefix-scan the level "
    "histogram for each level's exclusive rank offset s, and fold the "
    "per-level closed form n·k·(2s+k−nu) — algebraically identical "
    "because every user in a tie level contributes the same n, so the "
    "within-level rank order cancels. Integer/DECIMAL(38) arithmetic "
    "until ONE final division; same oracle as the row_number spelling.",
)
def user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.operators.prefixsum import (
        range_prefix_sum,
    )

    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    # the level histogram feeds the scan AND the totals: eager
    # checkpoint runs the per-user aggregation once (r13 one-scan rule)
    levels = materialize(per_user.groupBy("n").agg(
        F.count(F.lit(1)).alias("k")
    ))
    tot = levels.agg(
        F.sum("k").alias("nu"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("k")).alias(
            "total"
        ),
    )
    lev = range_prefix_sum(
        levels, "n", {"cumk": "k"}, materialize=False
    ).crossJoin(F.broadcast(tot))
    s = F.col("cumk") - F.col("k")
    contrib = (
        F.col("n").cast("decimal(38,0)")
        * F.col("k")
        * (2 * s + F.col("k") - F.col("nu"))
    )
    return lev.agg(
        F.round(
            F.sum(contrib).cast("double")
            / (F.max("nu") * F.max("total").cast("double")),
            6,
        ).alias("gini")
    )
