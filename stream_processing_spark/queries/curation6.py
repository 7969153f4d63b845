"""Round-8 curation operators: exact-substring dedup (Lee et al.
2022), DSIR importance resampling (Xie et al. 2023), and Unigram-LM
(SentencePiece) tokenizer training.

These close the three public-method gaps the round-7 review named:

* ``dedup_exact_substring_spans`` — Lee et al., "Deduplicating
  Training Data Makes Language Models Better" (2022): cross-document
  VERBATIM span extraction. Unlike shingle-set similarity (MinHash /
  Jaccard) or window-fingerprint counting (dedup_duplicate_spans),
  this reports per-document MAXIMAL duplicated spans: every k-token
  window repeated anywhere in the corpus marks its tokens, and
  overlapping/adjacent marked windows chain into maximal runs — a
  duplicated substring of length L ≥ k produces L-k+1 consecutive
  duplicated windows that merge into ONE maximal span, which is
  exactly the suffix-array-free match-extension step of the paper.

* ``mixture_dsir_weights`` / ``mixture_dsir_resample`` — Data
  Selection via Importance Resampling (NeurIPS 2023): hashed n-gram
  bag features (unigrams + bigrams → B buckets), bucket importance
  weight = smoothed target probability / smoothed raw probability,
  per-document log-importance = sum of its feature occurrences'
  log-weights, keep documents with non-negative log-importance
  (at least as target-like as the raw average under the bucket
  product model). Target distribution here: English documents.

* ``unigram_lm_train`` — hard-EM (Viterbi-EM) unigram tokenizer
  training (functions/unigram_lm.py); the oracle replays both EM
  rounds as an unrolled CTE ladder (one DP stage per char position,
  one backtrack stage per path step) over exact DECIMAL path scores,
  the same technique bpe_train_merges uses for its merge ladder.

Determinism rules as elsewhere: integer counts end-to-end, DECIMAL
path sums, ROUND(…, 6) on each LN/division output, identical aliases
in both dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.functions.keys import eq_key, value_hash
from stream_processing_spark.queries import register
from stream_processing_spark.runtime import materialize

# --------------------------------------------------------------------
# exact-substring dedup (Lee et al. 2022)

_ESS_K = 8  # k-token anchor window


def _ess_terms_sql(n: int) -> str:
    return " || ' ' || ".join(f"t[i+{j}]" for j in range(n))


_ESS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
wins AS (
    SELECT doc_id, len(t) AS n_tokens, i AS s, i + {_ESS_K - 1} AS e,
           md5({_ess_terms_sql(_ESS_K)}) AS fp
    FROM toks, UNNEST(range(1, len(t) - {_ESS_K - 2})) AS u(i)
    WHERE len(t) >= {_ESS_K}
),
hot AS (SELECT fp FROM wins GROUP BY fp HAVING COUNT(*) >= 2),
dup AS (SELECT w.doc_id, w.n_tokens, w.s, w.e FROM wins w JOIN hot USING (fp)),
m AS (
    SELECT doc_id, n_tokens, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prev_e
    FROM dup
),
g AS (
    SELECT doc_id, n_tokens, s, e,
           SUM(CASE WHEN prev_e IS NULL OR s > prev_e + 1
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s
                     ROWS UNBOUNDED PRECEDING) AS grp
    FROM m
),
islands AS (
    SELECT doc_id, n_tokens, grp,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS len
    FROM g GROUP BY doc_id, n_tokens, grp
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(len) AS BIGINT) AS dup_tokens,
       n_tokens,
       ROUND(CAST(SUM(len) AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
           AS dup_token_frac
FROM islands
GROUP BY doc_id, n_tokens
"""


@register(
    "dedup_exact_substring_spans",
    _ESS_ORACLE,
    doc=f"Exact-substring dedup (Lee et al. 2022): every {_ESS_K}-token "
    "window repeated >= 2 times corpus-wide (within- OR cross-document "
    "— the paper counts both) marks its token positions; per document, "
    "overlapping/adjacent marked windows chain into MAXIMAL duplicated "
    "spans via gaps-and-islands (running-max-end window function), the "
    "match-extension step: an L-token verbatim repeat yields L-k+1 "
    "consecutive hot windows that merge into one span. Emits per-doc "
    "span count, duplicated-token count, and duplicated-token "
    "fraction — the quantity the paper's ExactSubstr filter thresholds "
    "on. Scale shape: window volume is LINEAR in corpus tokens (one "
    "window per token), the hot-set is an fp-keyed aggregation (hot "
    "fingerprints cost ONE count row, never a quadratic bucket — no "
    "self-join anywhere), the count join-back is fp-keyed and "
    "AQE-skew-safe, and the island merge is a per-doc sort bounded by "
    "document length. Property-tested against a brute-force Python "
    "scan in tests/test_curation6.py.",
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_spans(docs, k=_ESS_K)


def exact_substring_spans(docs: DataFrame, k: int = _ESS_K) -> DataFrame:
    """Core operator over any (doc_id, text) frame — see the registry
    doc above. Separated so tests can drive planted-repeat fixtures."""
    from stream_processing_spark.runtime import rebalance_for_expansion

    # the window-fingerprint map is one hash per token — compute-bound;
    # spread a small scan's rows across cores first. r14 (guide §2.3,
    # §5; interleaved A/B): the fingerprint is
    # EQUALITY-ONLY (hot-set count + join-back; the outputs are counts
    # and positions), so eq_key replaces md5 — same results up to
    # the standard 64-bit collision class (gate-verified bit-equal at
    # all test SFs), ~½ the per-token hash cost, and 8-byte keys
    # instead of 32-hex strings through both shuffles. With the cheap
    # hash, the O(corpus) one-row-per-token eager checkpoint loses to
    # simply streaming the fingerprint map twice (the heaps lesson;
    # A/B: md5+ckpt [2.02,1.63,1.80] vs xxhash-2pass [1.49,1.32,1.14])
    # — and the §5 executor-storage pin is gone with it.
    docs = rebalance_for_expansion(docs)
    wins_arr = F.transform(
        F.sequence(F.lit(1), F.size("t") - (k - 1)),
        lambda i: F.struct(
            i.alias("s"),
            (i + (k - 1)).alias("e"),
            eq_key(F.concat_ws(" ", F.slice("t", i, k))).alias("fp"),
        ),
    )
    wins = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .where(F.size("t") >= k)
        .select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tokens"),
            F.explode(wins_arr).alias("w"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.col("w.s").cast("bigint").alias("s"),
            F.col("w.e").cast("bigint").alias("e"),
            F.col("w.fp").alias("fp"),
        )
    )
    hot = (
        wins.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= 2)
        .select("fp")
    )
    dup = wins.join(hot, "fp").select("doc_id", "n_tokens", "s", "e")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    brk = F.when(
        F.col("prev_e").isNull() | (F.col("s") > F.col("prev_e") + 1), 1
    ).otherwise(0)
    islands = (
        dup.withColumn("prev_e", F.max("e").over(w_prev))
        .withColumn("grp", F.sum(brk).over(w_run))
        .groupBy("doc_id", "n_tokens", "grp")
        .agg((F.max("e") - F.min("s") + 1).cast("bigint").alias("len"))
    )
    return islands.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("len").cast("bigint").alias("dup_tokens"),
    ).select(
        "doc_id",
        "n_spans",
        "dup_tokens",
        "n_tokens",
        F.round(
            F.col("dup_tokens").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("dup_token_frac"),
    )


# --------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023)

_DSIR_B = 1024  # hashed n-gram feature buckets
_DSIR_TARGET_LANG = "en"

# one row per feature OCCURRENCE: unigrams + bigrams of whitespace
# tokens, hashed to a bucket via the shared md5-prefix integer idiom
# (keys.value_hash == DuckDB CAST('0x'||hex), same integer).
_DSIR_FEATS_SQL = f"""
    feats AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
                   % {_DSIR_B} AS bucket
        FROM (
            SELECT doc_id, lang, unnest(tf) AS g
            FROM (SELECT doc_id, lang,
                         list_filter(string_split(text, ' '),
                                     x -> x <> '') AS tf
                  FROM documents)
            UNION ALL
            SELECT doc_id, lang, tf[i] || ' ' || tf[i + 1] AS g
            FROM (SELECT doc_id, lang,
                         list_filter(string_split(text, ' '),
                                     x -> x <> '') AS tf
                  FROM documents),
                 UNNEST(range(1, len(tf))) AS u(i)
        )
    ),
    bstats AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_raw,
               CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_target
        FROM feats GROUP BY bucket
    ),
    btot AS (
        SELECT CAST(SUM(n_raw) AS BIGINT) AS raw_total,
               CAST(SUM(n_target) AS BIGINT) AS target_total
        FROM bstats
    ),
    bweights AS (
        SELECT bucket, n_target, n_raw,
               ROUND(CAST((n_target + 1) * (raw_total + {_DSIR_B})
                          AS DOUBLE)
                     / CAST((n_raw + 1) * (target_total + {_DSIR_B})
                            AS DOUBLE), 6) AS weight
        FROM bstats, btot
    )
"""


@register(
    "mixture_dsir_weights",
    f"WITH {_DSIR_FEATS_SQL} SELECT bucket, n_target, n_raw, weight "
    "FROM bweights",
    doc=f"DSIR bucket importance weights (Xie et al., NeurIPS 2023): "
    f"hashed n-gram features (unigrams + bigrams → {_DSIR_B} buckets "
    "via the md5-prefix integer idiom), add-1-smoothed bucket "
    f"probability under the target (lang='{_DSIR_TARGET_LANG}') vs the "
    "raw pool, weight = p_target(b)/p_raw(b). Exact integer bucket "
    "counts and integer cross-products end-to-end; ONE double division "
    "per bucket, rounded 6dp. Scale shape: feature hashing is "
    "map-side (no vocabulary shuffle — the whole point of DSIR's "
    "hashed features), one bucket-keyed aggregation, a 1-row totals "
    "broadcast; bucket cardinality is a CONSTANT so every downstream "
    "join against bweights broadcasts at any corpus size.",
)
def mixture_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dsir_bucket_weights(docs)


def dsir_bucket_weights(docs: DataFrame) -> DataFrame:
    """Core operator over any (doc_id, lang, text) frame — see the
    registry doc above. Separated so tests can drive fixtures. The
    weight table is a constant-size (<= _DSIR_B buckets) trained
    artifact, served from the in-process model cache on repeat calls
    over unchanged data — the resample query then pays ONE feature
    scan instead of two (functions/model_cache.py)."""
    from stream_processing_spark.functions.model_cache import cached_model

    def _train() -> list[tuple[int, int, int, str]]:
        bstats, btot = _dsir_bucket_stats(docs)
        rows = (
            bstats.crossJoin(F.broadcast(btot))
            .select(
                "bucket",
                "n_target",
                "n_raw",
                _dsir_weight_col().alias("weight"),
            )
            .collect()
        )
        return sorted(
            (int(r["bucket"]), int(r["n_target"]), int(r["n_raw"]),
             repr(float(r["weight"])))
            for r in rows
        )

    rows = cached_model(docs, "dsir_weights", (_DSIR_B,), _train)
    return docs.sparkSession.createDataFrame(
        [(b, t, n, float(w)) for b, t, n, w in rows],
        "bucket bigint, n_target bigint, n_raw bigint, weight double",
    )


def _dsir_features(docs: DataFrame) -> DataFrame:
    from stream_processing_spark.runtime import rebalance_for_expansion

    # hashed-feature generation is an md5 per gram — compute-bound
    docs = rebalance_for_expansion(docs)
    tf = F.filter(F.split("text", " "), lambda x: x != "")
    base = docs.select("doc_id", "lang", tf.alias("tf"))
    # ONE explode over unigrams ++ bigrams: the old two-branch union
    # re-ran the scan + split + filter once per branch (the plan showed
    # two documents scans); concat'ing the gram arrays first keeps the
    # same multiset of (doc, gram) rows in a single corpus pass
    bi_arr = F.expr(
        "transform(slice(tf, 1, greatest(size(tf) - 1, 0)), "
        "(x, i) -> concat(x, ' ', element_at(tf, i + 2)))"
    )
    grams = base.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("tf"), bi_arr)).alias("g"),
    )
    bucket = F.pmod(value_hash(F.col("g").cast("binary"), 8), F.lit(_DSIR_B))
    return grams.select("doc_id", "lang", bucket.alias("bucket"))


def _dsir_bucket_stats(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    feats = _dsir_features(docs)
    bstats = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_target"),
    )
    btot = bstats.agg(
        F.sum("n_raw").cast("bigint").alias("raw_total"),
        F.sum("n_target").cast("bigint").alias("target_total"),
    )
    return bstats, btot


def _dsir_weight_col():
    num = (F.col("n_target") + 1) * (F.col("raw_total") + _DSIR_B)
    den = (F.col("n_raw") + 1) * (F.col("target_total") + _DSIR_B)
    return F.round(num.cast("double") / den.cast("double"), 6)


@register(
    "mixture_dsir_resample",
    f"""
    WITH {_DSIR_FEATS_SQL},
    doclw AS (
        SELECT f.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_feats,
               SUM(CAST(ROUND(LN(w.weight), 6) AS DECIMAL(18,6))) AS lw
        FROM feats f JOIN bweights w USING (bucket)
        GROUP BY f.doc_id
    )
    SELECT d.doc_id, docs.lang, d.n_feats, CAST(d.lw AS DOUBLE) AS log_weight
    FROM doclw d JOIN documents docs USING (doc_id)
    WHERE d.lw >= 0
    """,
    doc="DSIR resampled-keep: per-document log-importance = sum over "
    "its feature occurrences of ln(bucket weight) (each ln rounded 6dp "
    "to DECIMAL first, so the per-doc sum is exact and order-"
    "independent); keep documents with log-importance >= 0 — at least "
    "as target-like as the raw pool under the bucket product model. "
    "The keep decision is MAP-SIDE after a broadcast join against the "
    f"constant-size ({_DSIR_B}-bucket) weight table — no global sort, "
    "no driver collect, so the selection runs at full scan speed on "
    "any corpus size (the paper's top-k-with-Gumbel variant needs a "
    "global top-k; the threshold form is the scale-clean spelling).",
)
def mixture_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dsir_resample_keep(docs)


def dsir_resample_keep(docs: DataFrame) -> DataFrame:
    """Core operator over any (doc_id, lang, text) frame — see the
    registry doc above. Separated so tests can drive fixtures."""
    feats = _dsir_features(docs)
    bweights = dsir_bucket_weights(docs).select("bucket", "weight")
    lw6 = F.round(F.log(F.col("weight")), 6).cast("decimal(18,6)")
    # lang rides the feature rows (functionally dependent on doc_id),
    # so grouping by (doc_id, lang) removes the old lang join-back and
    # its extra documents scan — same rows, one fewer corpus pass
    doclw = (
        feats.join(F.broadcast(bweights), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum(lw6).alias("lw"),
        )
        .where(F.col("lw") >= 0)
    )
    return doclw.select(
        "doc_id", "lang", "n_feats", F.col("lw").cast("double").alias(
            "log_weight"
        )
    )


# --------------------------------------------------------------------
# Unigram-LM (SentencePiece) tokenizer training

_ULM_ROUNDS = 2
_ULM_MAX_WORD = 12
_ULM_MAX_PIECE = 4


def _unigram_seed_parts(max_word: int, max_piece: int) -> list[str]:
    """Shared ladder head: word table, candidate arcs, seed vocab."""
    return [
        f"""
    tok AS MATERIALIZED (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    words AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM tok
        WHERE w <> '' AND length(w) <= {max_word} GROUP BY w
    ),
    cand AS MATERIALIZED (
        SELECT w, freq, s, s + pl AS e, substr(w, s + 1, pl) AS piece
        FROM words,
             UNNEST(range(0, length(w))) AS us(s),
             UNNEST(range(1, {max_piece + 1})) AS up(pl)
        WHERE s + pl <= length(w)
    ),
    v0 AS MATERIALIZED (
        SELECT piece, cnt,
               CAST(ROUND(LN(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)),
                          6) AS DECIMAL(18,6)) AS lp
        FROM (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
              FROM cand GROUP BY piece) c,
             (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM cand) t
    )"""
    ]


def _unigram_estep_parts(r: int, max_word: int) -> list[str]:
    """E-step ladder for round ``r`` under vocab v{r-1}: forward DP
    (one stage per char position, exact DECIMAL path maxima) and
    backtrack (one stage per path step, min-start = longest-piece
    tie-break). Emits sc{r}, a{r}_*, d{r}_*, b{r}_*."""
    parts = [f"""
    sc{r} AS MATERIALIZED (
        SELECT c.w, c.freq, c.s, c.e, c.piece, v.lp
        FROM cand c JOIN v{r - 1} v USING (piece)
    ),
    a{r}_0 AS MATERIALIZED (SELECT w, 0 AS pos, CAST(0 AS DECIMAL(18,6)) AS dp
               FROM words)"""]
    for i in range(1, max_word + 1):
        parts.append(f"""
    d{r}_{i} AS MATERIALIZED (
        SELECT c.w, {i} AS pos,
               CAST(MAX(d.dp + c.lp) AS DECIMAL(18,6)) AS dp
        FROM sc{r} c JOIN a{r}_{i - 1} d ON d.w = c.w AND d.pos = c.s
        WHERE c.e = {i} GROUP BY c.w
    ),
    a{r}_{i} AS MATERIALIZED (SELECT * FROM a{r}_{i - 1}
                 UNION ALL SELECT * FROM d{r}_{i})""")
    parts.append(f"""
    b{r}_0 AS MATERIALIZED (SELECT w, freq, length(w) AS pos FROM words)""")
    for t in range(1, max_word + 1):
        parts.append(f"""
    b{r}_{t} AS MATERIALIZED (
        SELECT w, freq, pos, piece FROM (
            SELECT b.w, b.freq, c.s AS pos, c.piece,
                   ROW_NUMBER() OVER (PARTITION BY b.w
                                      ORDER BY c.s) AS rn
            FROM b{r}_{t - 1} b
            JOIN sc{r} c ON c.w = b.w AND c.e = b.pos
            JOIN a{r}_{max_word} ds ON ds.w = b.w AND ds.pos = c.s
            JOIN a{r}_{max_word} dt ON dt.w = b.w AND dt.pos = b.pos
            WHERE b.pos > 0 AND ds.dp + c.lp = dt.dp
        ) z WHERE rn = 1
    )""")
    return parts


def _unigram_mstep_parts(r: int, max_word: int) -> list[str]:
    """M-step for round ``r``: add-1 recount over the backtracked
    paths and renormalize into v{r}."""
    paths = " UNION ALL ".join(
        f"SELECT freq, piece FROM b{r}_{t}"
        for t in range(1, max_word + 1)
    )
    return [f"""
    vc{r} AS MATERIALIZED (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS c
        FROM ({paths}) p GROUP BY piece
    ),
    v{r} AS MATERIALIZED (
        SELECT s.piece,
               CAST(COALESCE(vc.c, 0) + 1 AS BIGINT) AS cnt,
               CAST(ROUND(LN(CAST(COALESCE(vc.c, 0) + 1 AS DOUBLE)
                             / CAST(t.total AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS lp
        FROM (SELECT piece FROM v0) s
        LEFT JOIN vc{r} vc ON vc.piece = s.piece
        CROSS JOIN (SELECT CAST((SELECT COUNT(*) FROM v0)
                          + (SELECT SUM(c) FROM vc{r}) AS BIGINT)
                        AS total) t
    )"""]


def _unigram_oracle(
    rounds: int = _ULM_ROUNDS,
    max_word: int = _ULM_MAX_WORD,
    max_piece: int = _ULM_MAX_PIECE,
) -> str:
    """Unrolled Viterbi-EM ladder: per round, one DP stage per char
    position (forward max over DECIMAL path scores) and one backtrack
    stage per path step (min-start tie-break), then add-1 recount and
    renormalize — the same CTE-ladder technique as _bpe_oracle."""
    parts = _unigram_seed_parts(max_word, max_piece)
    for r in range(1, rounds + 1):
        parts.extend(_unigram_estep_parts(r, max_word))
        parts.extend(_unigram_mstep_parts(r, max_word))
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT piece, cnt, CAST(lp AS DOUBLE) AS logp FROM v{rounds}"""
    )


def _unigram_encode_oracle(
    rounds: int = _ULM_ROUNDS,
    max_word: int = _ULM_MAX_WORD,
    max_piece: int = _ULM_MAX_PIECE,
) -> str:
    """Training ladder + ONE MORE E-step (segmentation under the final
    vocab, no recount), then per-source token accounting — the unigram
    twin of _bpe_encode_oracle."""
    enc = rounds + 1
    parts = _unigram_seed_parts(max_word, max_piece)
    for r in range(1, rounds + 1):
        parts.extend(_unigram_estep_parts(r, max_word))
        parts.extend(_unigram_mstep_parts(r, max_word))
    parts.extend(_unigram_estep_parts(enc, max_word))
    paths = " UNION ALL ".join(
        f"SELECT w FROM b{enc}_{t}" for t in range(1, max_word + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f""",
    wtok AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM ({paths}) p GROUP BY w
    ),
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
    "unigram_lm_train",
    _unigram_oracle(),
    doc=f"Unigram-LM (SentencePiece, Kudo 2018) tokenizer training via "
    f"hard EM — {_ULM_ROUNDS} Viterbi-EM rounds over the distinct-word "
    "table (functions/unigram_lm.py). Seed vocabulary = all substrings "
    f"of length 1..{_ULM_MAX_PIECE} weighted by word frequency; each "
    "round Viterbi-segments every distinct word under the current "
    "piece log-probs (exact DECIMAL path sums, ties to the longest "
    "piece), recounts with an add-1 character-coverage floor, and "
    "renormalizes. The one transcendental per piece per round "
    "(LN of an exact integer ratio) is rounded to 6dp DECIMAL, making "
    "path maxima/ties/backtracks engine-exact: the DuckDB oracle "
    "replays both rounds as an unrolled DP + backtrack CTE ladder. "
    "Scale: corpus-sized work is ONE word count; EM rounds run on the "
    "vocab-sized word table (~log of corpus), lattice DP in an "
    "Arrow-batched pandas UDF over integer-scaled log-probs. Parity vs "
    "a pure-Python reference in tests/test_curation6.py.",
)
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.functions import unigram_lm

    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm.unigram_lm_train(
        docs,
        rounds=_ULM_ROUNDS,
        max_piece=_ULM_MAX_PIECE,
        max_word=_ULM_MAX_WORD,
    )


@register(
    "unigram_encode_source_stats",
    _unigram_encode_oracle(),
    doc="Unigram-LM tokenizer APPLICATION — the encode half of "
    "unigram_lm_train (the bpe_encode_source_stats twin): Viterbi-"
    "segment every distinct word under the trained vocabulary (one "
    "extra E-step, exact DECIMAL path scores, longest-piece "
    "tie-break) and report per-source token accounting (words, "
    "tokens, chars). Spark-first shape: the word→token-count map is "
    "vocabulary-sized and BROADCAST, so the corpus-sized pass is one "
    "explode + map-side hash join + partial agg — no corpus shuffle. "
    f"Words longer than {_ULM_MAX_WORD} chars are outside the "
    "tokenizer's contract (the training bound) and excluded from the "
    "accounting in both engines. The oracle replays training and the "
    "encode E-step as one unrolled DP+backtrack CTE ladder.",
)
def unigram_encode_source_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stream_processing_spark.functions import unigram_lm

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus tokenize pass: aggregate to the (source, w) histogram
    # (sources x vocab domain-bounded, checkpoint-tiny), derive the
    # encode word table from it, and weight the per-source accounting
    # by cnt — previously the corpus was exploded twice (once for the
    # vocab, once for the occurrence stats). All integer sums, so the
    # regrouped totals are bit-identical (guide §2.3/§2.4).
    hist = materialize(
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= _ULM_MAX_WORD))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words = hist.groupBy("w").agg(
        F.sum("cnt").cast("bigint").alias("freq")
    )
    wmap = unigram_lm.unigram_encode_word_tokens(
        docs,
        rounds=_ULM_ROUNDS,
        max_piece=_ULM_MAX_PIECE,
        max_word=_ULM_MAX_WORD,
        words=words,
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


# --------------------------------------------------------------------
# fastText-style quality classifier (Joulin et al. 2016; the linear
# reference-corpus filter of CCNet / GPT-3 data curation)

_CLF_B = 256       # hashed feature buckets (weight table size)
_CLF_ROUNDS = 3    # full-batch gradient-descent rounds
_CLF_LR = 1.0      # learning rate (constant; documented)
_CLF_TARGET_LANG = "en"  # positive class: the reference corpus proxy


def _clf_features(docs: DataFrame) -> DataFrame:
    """(doc_id, y, bucket): one row per hashed unigram/bigram
    OCCURRENCE, labeled positive when the doc is reference-corpus-like
    (lang = target). Same md5-prefix integer hashing as DSIR."""
    from stream_processing_spark.runtime import rebalance_for_expansion

    docs = rebalance_for_expansion(docs)
    tf = F.filter(F.split("text", " "), lambda x: x != "")
    y = F.when(F.col("lang") == _CLF_TARGET_LANG, 1).otherwise(0)
    base = docs.select("doc_id", y.alias("y"), tf.alias("tf"))
    # one explode over unigrams ++ bigrams — the two-branch union form
    # re-ran the scan + split + filter per branch (same r13 fix as
    # _dsir_features); identical (doc, gram) multiset in a single pass
    bi_arr = F.expr(
        "transform(slice(tf, 1, greatest(size(tf) - 1, 0)), "
        "(x, i) -> concat(x, ' ', element_at(tf, i + 2)))"
    )
    grams = base.select(
        "doc_id", "y", F.explode(F.concat(F.col("tf"), bi_arr)).alias("g")
    )
    bucket = F.pmod(value_hash(F.col("g").cast("binary"), 8), F.lit(_CLF_B))
    return grams.select("doc_id", "y", bucket.alias("bucket"))


def _clf_scores(feats: DataFrame, weights: DataFrame, bias) -> DataFrame:
    """Per-doc raw score under (weights, bias): mean bucket weight plus
    bias, rounded 6dp. The weight table is a constant-size broadcast;
    the mean's one double division is exact-input (6dp decimals)."""
    return (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "y")
        .agg(
            F.sum("w").alias("__sw"),
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
        )
        .select(
            "doc_id",
            "y",
            "n_feats",
            F.round(
                F.lit(float(bias))
                + F.col("__sw").cast("double") / F.col("n_feats"),
                6,
            ).alias("score"),
        )
    )


def train_quality_classifier(
    docs: DataFrame, rounds: int = _CLF_ROUNDS
) -> tuple[DataFrame, float]:
    """Full-batch logistic regression over mean hashed-n-gram features
    — fastText's linear model trained the oracle-replayable way.

    Every round: score docs (decimal weight sums, one rounded double
    division), p = ROUND(sigmoid(score), 6), per-occurrence gradient
    ROUND((p - y)/n_feats, 9) summed per bucket as exact decimals,
    weight update ROUND(w - lr·grad/N, 6). The per-round rounding makes
    the whole trajectory engine-exact (the LN/EXP-at-6dp precedent),
    so the DuckDB oracle replays training as an unrolled CTE ladder.

    Scale shape: the corpus-sized work per round is one feature scan +
    one bucket-keyed aggregation; the weight table is CONSTANT-size
    (B buckets), broadcast to every scorer — the same profile as DSIR.
    Returns (weights DataFrame(bucket, w DECIMAL), bias float, n_docs).
    n_docs counts docs WITH FEATURES (all-whitespace texts produce no
    feats rows), which is the gate the oracle uses for the bias row."""
    feats = materialize(_clf_features(docs), eager=False)
    n_docs = feats.select("doc_id").distinct().count()
    weights = feats.select("bucket").distinct().select(
        "bucket", F.lit(0).cast("decimal(18,6)").alias("w")
    )
    bias = 0.0
    if n_docs == 0:  # featureless corpus: no descent — the
        return weights, bias, 0  # weight table is already empty
    for _ in range(rounds):
        scored = _clf_scores(feats, weights, bias)
        p6 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score"))), 6)
        docp = scored.select(
            "doc_id",
            "n_feats",
            (p6.cast("decimal(18,6)") - F.col("y")).alias("r6"),
        )
        g9 = F.round(
            F.col("r6").cast("double") / F.col("n_feats"), 9
        ).cast("decimal(18,9)")
        grads = (
            feats.join(docp, "doc_id")
            .select("bucket", g9.alias("g9"))
            .groupBy("bucket")
            .agg(F.sum("g9").alias("G9"))
        )
        bias_grad = docp.agg(F.sum("r6").alias("BG")).head()["BG"]
        weights = materialize(
            weights.join(grads, "bucket", "left").select(
                "bucket",
                F.round(
                    F.col("w").cast("double")
                    - _CLF_LR
                    * F.coalesce(F.col("G9"), F.lit(0)).cast("double")
                    / n_docs,
                    6,
                )
                .cast("decimal(18,6)")
                .alias("w"),
            ),
            eager=False,
        )
        bias = float(
            __import__("decimal").Decimal(
                repr(bias - _CLF_LR * float(bias_grad) / n_docs)
            ).quantize(
                __import__("decimal").Decimal("0.000001"),
                rounding=__import__("decimal").ROUND_HALF_UP,
            )
        )
    return weights, bias, n_docs


# The trained artifact is constant-size (<= _CLF_B weight rows + a bias
# scalar), so inference queries should load kilobytes instead of paying
# 3 GD rounds — the PQ-codebook pattern (similarity.py:237). Keyed by
# (plan semanticHash, source-file fingerprint, rounds) with the same
# staleness contract: rewriting the parquet behind the path retrains.
_CLF_MODEL_CACHE: dict[tuple, tuple[tuple, float, int]] = {}
_CLF_MODEL_CACHE_CAP = 16


def clear_classifier_cache() -> None:
    _CLF_MODEL_CACHE.clear()


def trained_classifier(
    spark: SparkSession, docs: DataFrame, rounds: int = _CLF_ROUNDS
) -> tuple[DataFrame, float, int]:
    """train_quality_classifier behind the in-process model cache:
    first call trains and collects the constant-size weight table;
    every later call (the inference query, warm bench runs) rebuilds
    the broadcastable weight frame from cached rows — one corpus scan
    total for scoring, zero re-training. Returns (weights DF, bias,
    n_docs)."""
    from decimal import Decimal

    from stream_processing_spark.functions.similarity import (
        _source_fingerprint,
    )

    try:
        key = (docs.semanticHash(), _source_fingerprint(docs), rounds)
    except Exception:  # plan not hashable — skip cache
        key = None
    if key is not None and key in _CLF_MODEL_CACHE:
        w_rows, bias, n_docs = _CLF_MODEL_CACHE[key]
    else:
        weights, bias, n_docs = train_quality_classifier(docs, rounds)
        w_rows = tuple(
            (int(r["bucket"]), str(r["w"])) for r in weights.collect()
        )
        if key is not None:
            if len(_CLF_MODEL_CACHE) >= _CLF_MODEL_CACHE_CAP:
                _CLF_MODEL_CACHE.pop(next(iter(_CLF_MODEL_CACHE)))
            _CLF_MODEL_CACHE[key] = (w_rows, bias, n_docs)
    wdf = spark.createDataFrame(
        [(b, Decimal(w)) for b, w in w_rows],
        "bucket bigint, w decimal(18,6)",
    )
    return wdf, bias, n_docs


def _clf_oracle(rounds: int = _CLF_ROUNDS) -> str:
    """Unrolled gradient-descent ladder: per round one scoring CTE
    (decimal weight sums), one sigmoid/residual CTE, one bucket-grad
    aggregate, one weight/bias update — MATERIALIZED like the unigram
    ladder so the planner computes each stage once."""
    parts = [
        f"""
    feats AS MATERIALIZED (
        SELECT doc_id, y,
               CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
                   % {_CLF_B} AS bucket
        FROM (
            SELECT doc_id,
                   CASE WHEN lang = '{_CLF_TARGET_LANG}' THEN 1 ELSE 0 END
                       AS y,
                   unnest(tf) AS g
            FROM (SELECT doc_id, lang,
                         list_filter(string_split(text, ' '),
                                     x -> x <> '') AS tf
                  FROM documents)
            UNION ALL
            SELECT doc_id,
                   CASE WHEN lang = '{_CLF_TARGET_LANG}' THEN 1 ELSE 0 END,
                   tf[i] || ' ' || tf[i + 1]
            FROM (SELECT doc_id, lang,
                         list_filter(string_split(text, ' '),
                                     x -> x <> '') AS tf
                  FROM documents),
                 UNNEST(range(1, len(tf))) AS u(i)
        )
    ),
    nd AS MATERIALIZED (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM feats
    ),
    w0 AS MATERIALIZED (
        SELECT DISTINCT bucket, CAST(0 AS DECIMAL(18,6)) AS w FROM feats
    ),
    b0 AS MATERIALIZED (SELECT CAST(0 AS DECIMAL(18,6)) AS b)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
    s{r} AS MATERIALIZED (
        SELECT f.doc_id, f.y,
               CAST(COUNT(*) AS BIGINT) AS n_feats,
               ROUND(CAST(MAX(b.b) AS DOUBLE)
                     + CAST(SUM(w.w) AS DOUBLE) / COUNT(*), 6) AS score
        FROM feats f
        JOIN w{r - 1} w USING (bucket)
        CROSS JOIN b{r - 1} b
        GROUP BY f.doc_id, f.y
    ),
    d{r} AS MATERIALIZED (
        SELECT doc_id, n_feats,
               CAST(ROUND(1.0 / (1.0 + EXP(-score)), 6)
                    AS DECIMAL(18,6)) - y AS r6
        FROM s{r}
    ),
    g{r} AS MATERIALIZED (
        SELECT f.bucket,
               SUM(CAST(ROUND(CAST(d.r6 AS DOUBLE) / d.n_feats, 9)
                        AS DECIMAL(18,9))) AS G9
        FROM feats f JOIN d{r} d USING (doc_id)
        GROUP BY f.bucket
    ),
    w{r} AS MATERIALIZED (
        SELECT w.bucket,
               CAST(ROUND(CAST(w.w AS DOUBLE)
                          - {_CLF_LR} * CAST(COALESCE(g.G9, 0) AS DOUBLE)
                            / (SELECT n FROM nd), 6)
                    AS DECIMAL(18,6)) AS w
        FROM w{r - 1} w LEFT JOIN g{r} g USING (bucket)
    ),
    b{r} AS MATERIALIZED (
        SELECT CAST(ROUND(CAST((SELECT b FROM b{r - 1}) AS DOUBLE)
                          - {_CLF_LR} * CAST((SELECT SUM(r6) FROM d{r})
                                             AS DOUBLE)
                            / (SELECT n FROM nd), 6)
                    AS DECIMAL(18,6)) AS b
    )""")
    return "WITH " + ",".join(parts), rounds


_CLF_LADDER, _CLF_R = _clf_oracle()


@register(
    "quality_classifier_train",
    _CLF_LADDER
    + f"""
    SELECT bucket, CAST(w AS DOUBLE) AS weight FROM w{_CLF_R}
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS bucket, CAST(b AS DOUBLE) AS weight
    FROM b{_CLF_R}
    WHERE (SELECT COUNT(*) FROM feats) > 0
    """,
    doc=f"fastText-style quality classifier TRAINING (Joulin et al. "
    "2016 — the linear reference-corpus filter of CCNet/GPT-3 data "
    f"curation): {_CLF_ROUNDS} full-batch logistic-regression rounds "
    f"over mean hashed unigram+bigram features ({_CLF_B} buckets, "
    f"positive class lang='{_CLF_TARGET_LANG}'). Decimal weight sums, "
    "ROUND(sigmoid, 6) per doc per round, per-occurrence gradients "
    "rounded to 9dp decimals and summed exactly — the whole descent "
    "trajectory is engine-exact, so the oracle replays it as an "
    "unrolled MATERIALIZED-CTE ladder. Output: the final weight table "
    "(bias as bucket -1). Scale: per round one feature scan + one "
    "bucket aggregation; the weight table is constant-size and every "
    "scoring join broadcasts it (the DSIR profile). Parity vs a "
    "pure-Python trainer in tests/test_curation6.py.",
)
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weights, bias, n_docs = trained_classifier(spark, docs)
    w = weights.select("bucket", F.col("w").cast("double").alias("weight"))
    if n_docs == 0:  # oracle gates the bias row on the FEATURE count
        return w  # (all-whitespace corpora yield no feats either)
    b = spark.createDataFrame(
        [(-1, bias)], "bucket bigint, weight double"
    )
    return w.unionByName(b)


@register(
    "quality_classifier_scores",
    _CLF_LADDER
    + f"""
    SELECT s.doc_id, s.y AS label, s.n_feats, s.score,
           CASE WHEN s.score >= 0 THEN 1 ELSE 0 END AS predicted
    FROM (
        SELECT f.doc_id, f.y,
               CAST(COUNT(*) AS BIGINT) AS n_feats,
               ROUND(CAST(MAX(b.b) AS DOUBLE)
                     + CAST(SUM(w.w) AS DOUBLE) / COUNT(*), 6) AS score
        FROM feats f
        JOIN w{_CLF_R} w USING (bucket)
        CROSS JOIN b{_CLF_R} b
        GROUP BY f.doc_id, f.y
    ) s
    """,
    doc="Quality-classifier INFERENCE over the whole corpus: every "
    "document scored under the trained weights (see "
    "quality_classifier_train), with its label and the >= 0 keep "
    "decision — the filter stage a curation pipeline applies after "
    "training. The trained artifact (constant-size weight table + "
    "bias) is served from the model cache / parquet artifact "
    "(functions/models.py), so inference is ONE corpus scan joined "
    "against a broadcast <=256-row weight table — no re-training "
    "(r8 verdict item 2). No global sort, no data-sized collect.",
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weights, bias, _ = trained_classifier(spark, docs)
    feats = _clf_features(docs)
    return _clf_scores(feats, weights, bias).select(
        "doc_id",
        F.col("y").alias("label"),
        "n_feats",
        "score",
        F.when(F.col("score") >= 0, 1).otherwise(0).alias("predicted"),
    )


# --------------------------------------------------------------------
# CUSUM changepoint detection (Page 1954)

_CUSUM_K6 = "0.5"   # slack (in std units), 6dp literal
_CUSUM_H6 = "4.0"   # decision threshold (in std units)


@register(
    "changepoint_cusum_daily_events",
    f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu,
               SQRT(
                   (CAST(SUM(CAST(n * n AS BIGINT)) AS DOUBLE)
                    - CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)
                      / COUNT(*)) / COUNT(*)
               ) AS sigma
        FROM daily
    ),
    z AS (
        SELECT day, n,
               CAST(ROUND(COALESCE((n - mu) / NULLIF(sigma, 0), 0), 6)
                    AS DECIMAL(18,6)) AS z6
        FROM daily, stats
    ),
    p AS (
        SELECT day, n, CAST(z6 AS DOUBLE) AS z,
               SUM(z6 - CAST({_CUSUM_K6} AS DECIMAL(18,6)))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ph,
               SUM(z6 + CAST({_CUSUM_K6} AS DECIMAL(18,6)))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pl
        FROM z
    ),
    exts AS (
        SELECT day, n, z, ph, pl,
               MIN(ph) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS mn,
               MAX(pl) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS mx
        FROM p
    ),
    walk AS (
        -- min(0, mn) / max(0, mx) via CASE: DuckDB's LEAST/GREATEST
        -- promote DECIMAL args to DOUBLE (even at equal widths) and
        -- the walk would lose exactness; CASE keeps DECIMAL(38,6)
        SELECT day, n, z,
               ph - CASE WHEN mn < 0 THEN mn
                         ELSE CAST(0 AS DECIMAL(38,6)) END AS s_hi,
               CASE WHEN mx > 0 THEN mx
                    ELSE CAST(0 AS DECIMAL(38,6)) END - pl AS s_lo
        FROM exts
    )
    SELECT day, n, z,
           CAST(s_hi AS DOUBLE) AS s_hi,
           CAST(s_lo AS DOUBLE) AS s_lo,
           CASE WHEN s_hi > {_CUSUM_H6} OR s_lo > {_CUSUM_H6}
                THEN 1 ELSE 0 END AS alarm
    FROM walk
    """,
    doc="CUSUM changepoint detection (Page 1954) over the daily event "
    "count series — the classic drift monitor a data pipeline runs on "
    "its ingest volume. The textbook recursion "
    "S_t = max(0, S_(t-1) + z_t - k) is not directly windowable, but "
    "with all-decimal increments it EQUALS the prefix-sum identity "
    "S_t = P_t - min(0, min_(j<=t) P_j) over P_t = sum(z - k) — the "
    "min is clamped to zero because the virtual P_0 = 0 (S_0 = 0) "
    "participates in the running extremum; without it a series whose "
    "anomaly starts at row 1 never alarms — exact because "
    "decimal addition is associative, so the running-min spelling is "
    "bit-identical to the recursion and both engines can compute it "
    "with two stacked window functions (no recursion, no UDF). "
    "Two-sided: s_hi catches upward drift, s_lo downward; alarm when "
    "either exceeds h = 4 std. z-scores are 6dp-rounded decimals "
    "(mu/sigma from exact integer moments). Scale: the heavy work is "
    "the daily count; the walk runs over DAYS — constant-size at any "
    "corpus (same argument as mixture_temperature_weights' window).",
)
def changepoint_cusum_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # day-cardinality aggregate feeds BOTH the mu/sigma stats and the
    # z-walk: eager checkpoint scans events once (r13 one-scan rule)
    daily = materialize(
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    stats = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            (
                F.sum((F.col("n") * F.col("n")).cast("bigint")).cast(
                    "double"
                )
                - F.sum("n").cast("double")
                * F.sum("n").cast("double")
                / F.count(F.lit(1))
            )
            / F.count(F.lit(1))
        ).alias("sigma"),
    )
    k6 = F.lit(float(_CUSUM_K6)).cast("decimal(18,6)")
    z = daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "n",
        F.round(
            F.coalesce(
                (F.col("n") - F.col("mu"))
                / F.nullif(F.col("sigma"), F.lit(0.0)),
                F.lit(0.0),
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("z6"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    zero = F.lit(0).cast("decimal(28,6)")
    prefixes = z.select(
        "day",
        "n",
        F.col("z6").cast("double").alias("z"),
        F.sum(F.col("z6") - k6).over(w).alias("ph"),
        F.sum(F.col("z6") + k6).over(w).alias("pl"),
    )
    walk = prefixes.select(
        "day",
        "n",
        "z",
        (F.col("ph") - F.least(zero, F.min("ph").over(w))).alias("s_hi"),
        (F.greatest(zero, F.max("pl").over(w)) - F.col("pl")).alias("s_lo"),
    )
    h = float(_CUSUM_H6)
    return walk.select(
        "day",
        "n",
        "z",
        F.col("s_hi").cast("double").alias("s_hi"),
        F.col("s_lo").cast("double").alias("s_lo"),
        F.when(
            (F.col("s_hi") > h) | (F.col("s_lo") > h), 1
        )
        .otherwise(0)
        .alias("alarm"),
    )


# --------------------------------------------------------------------
# character-entropy quality signal


@register(
    "quality_char_entropy",
    """
    WITH chars AS (
        SELECT doc_id, substr(text, i, 1) AS ch
        FROM documents, UNNEST(range(1, length(text) + 1)) AS u(i)
        WHERE length(text) > 0
    ),
    counts AS (
        SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM chars GROUP BY doc_id, ch
    ),
    tot AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM counts GROUP BY doc_id
    )
    SELECT t.doc_id, t.n AS n_chars, t.n_distinct,
           ROUND(CAST(-SUM(CAST(ROUND(
               (CAST(k.c AS DOUBLE) / t.n)
               * log2(CAST(k.c AS DOUBLE) / t.n), 9)
               AS DECIMAL(18,9))) AS DOUBLE), 6) AS entropy_bits
    FROM counts k JOIN tot t USING (doc_id)
    GROUP BY t.doc_id, t.n, t.n_distinct
    """,
    doc="Per-document Shannon CHARACTER entropy (bits/char) — the "
    "compression-style quality heuristic curation pipelines use to "
    "flag boilerplate and degenerate text (low entropy: repeated "
    "characters/patterns; the Gopher/RefinedWeb family applies the "
    "same idea via compression ratios). Each term "
    "(c/n)·log2(c/n) is one IEEE product of an exact integer ratio, "
    "rounded to 9dp DECIMAL before the per-doc sum, so the parallel "
    "reduction is order-independent and engine-exact; final 6dp "
    "round. Scale shape: the char explode is linear in corpus chars, "
    "both aggregations key on doc_id (one shuffle since the second "
    "reuses the partitioning), nothing quadratic anywhere.",
)
def quality_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.runtime import rebalance_for_expansion

    docs = rebalance_for_expansion(load_table(spark, sf_dir, "documents"))
    chars = (
        docs.where(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text)), "
                    "i -> substring(text, i, 1))"
                )
            ).alias("ch"),
        )
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    p = F.col("c").cast("double") / F.col("n")
    term9 = F.round(p * F.log2(p), 9).cast("decimal(18,9)")
    return (
        counts.join(tot, "doc_id")
        .groupBy("doc_id", "n", "n_distinct")
        .agg(F.round((-F.sum(term9)).cast("double"), 6).alias(
            "entropy_bits"
        ))
        .select(
            "doc_id",
            F.col("n").alias("n_chars"),
            "n_distinct",
            "entropy_bits",
        )
    )


# --------------------------------------- temperature mixture resampling

_TEMP_HEX = "0123456789abcdef"


def _h8_sql(expr: str) -> str:
    """First 8 md5 hex digits of ``expr`` as an integer 0..2^32-1 —
    the deterministic per-row uniform both engines agree on."""
    digs = " + ".join(
        f"(strpos('{_TEMP_HEX}', substr(md5({expr}), {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"CAST({digs} AS BIGINT)"


@register(
    "mixture_temperature_resample",
    f"""
    WITH per_lang AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM per_lang),
    s AS (
        SELECT lang, n_docs,
               CAST(ROUND(SQRT(CAST(n_docs AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS sl
        FROM per_lang
    ),
    t2 AS (SELECT SUM(sl) AS st FROM s),
    w AS (
        SELECT lang, n_docs,
               ROUND(ROUND(CAST(sl AS DOUBLE) / CAST(st AS DOUBLE), 6)
                     * total / n_docs, 6) AS weight
        FROM s CROSS JOIN t2 CROSS JOIN tot
    ),
    c AS (
        SELECT d.lang, w.n_docs, w.weight,
               CAST(FLOOR(w.weight) AS BIGINT)
               + CASE WHEN {_h8_sql("CAST(d.doc_id AS VARCHAR)")}
                      < CAST(FLOOR((w.weight - FLOOR(w.weight))
                                   * 4294967296.0) AS BIGINT)
                      THEN 1 ELSE 0 END AS copies
        FROM documents d JOIN w USING (lang)
    )
    SELECT lang, n_docs, weight,
           CAST(SUM(copies) AS BIGINT) AS n_resampled
    FROM c GROUP BY lang, n_docs, weight
    ORDER BY lang
    """,
    doc="Temperature-scaled language mixture (the mT5/UNIMAX "
    "multilingual sampling scheme at alpha = 0.5): target share per "
    "language proportional to sqrt(n_l), per-language repetition "
    "factor weight = share * total / n_l, and a DETERMINISTIC "
    "stochastic rounding per document — floor(weight) copies plus one "
    "more iff the doc's md5-derived 32-bit uniform falls under "
    "frac(weight). alpha = 0.5 is deliberate: sqrt is IEEE "
    "correctly-rounded on both engines where pow(x, alpha) is not; "
    "the sqrt terms are 6dp-decimal-summed so the share denominator "
    "is order-independent. Scale shape: one lang aggregation, two "
    "1-row broadcasts, a constant-size (distinct langs) broadcast "
    "join back onto documents, and a map-side md5 per doc — no "
    "data-sized shuffle beyond the lang count.",
)
def mixture_temperature_resample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the lang histogram feeds the total, the sqrt frame and (via it)
    # the weight frame — four corpus aggregations without a cut; eager
    # checkpoint runs the scan once (lang-domain rows, tiny). The only
    # other corpus pass is the final per-doc copies join — the minimum.
    per_lang = materialize(
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = per_lang.agg(F.sum("n_docs").cast("bigint").alias("total"))
    s = per_lang.select(
        "lang",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("sl"),
    )
    t2 = s.agg(F.sum("sl").alias("st"))
    w = (
        s.crossJoin(F.broadcast(t2))
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.round(
                F.round(
                    F.col("sl").cast("double") / F.col("st").cast("double"),
                    6,
                )
                * F.col("total")
                / F.col("n_docs"),
                6,
            ).alias("weight"),
        )
    )
    # first 8 md5 digits as a 32-bit uniform (the oracle mirrors it)
    h8 = value_hash(F.col("doc_id").cast("string"), 8)
    copies = F.floor("weight").cast("bigint") + F.when(
        h8
        < F.floor(
            (F.col("weight") - F.floor("weight")) * F.lit(4294967296.0)
        ).cast("bigint"),
        1,
    ).otherwise(0)
    return (
        docs.join(F.broadcast(w), "lang")
        .select("lang", "n_docs", "weight", copies.alias("copies"))
        .groupBy("lang", "n_docs", "weight")
        .agg(F.sum("copies").cast("bigint").alias("n_resampled"))
        .orderBy("lang")
    )
