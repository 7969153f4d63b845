"""Curation tier, round 12: BM25F multi-field retrieval and near-dup
cluster canonicalization (connected components → survivor map).

Beyond-reference surface (build brief: dedup + retrieval families).
Same determinism discipline as the rest of the registry: rational idf
(no ln), per-term scores rounded to 6dp and DECIMAL-summed, window
NULL placement pinned on both engines, total tie-breaking orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.functions import dedup as dd
from stream_processing_spark.queries import register
from stream_processing_spark.queries.llmops import (
    _JACCARD_CTES,
    _JACCARD_MAX_DF,
    _SHINGLE_SQL,
)
from stream_processing_spark.runtime import materialize

# ------------------------------------------------- BM25F multi-field

_BM25F_TERMS = ("scan", "merge", "window")  # same termset as BM25
_BM25F_K1 = 1.2
_BM25F_TITLE_LEN = 5  # leading tokens form the "title" field
# per-field weights and length-normalization slopes (Zaragoza &
# Robertson, "Simple BM25 extension to multiple weighted fields"):
# the title field is short and information-dense → higher weight,
# gentler length normalization
_BM25F_W = {"title": 2.0, "body": 1.0}
_BM25F_B = {"title": 0.5, "body": 0.8}


@register(
    "bm25f_topk_docs",
    f"""
    WITH sp AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE text IS NOT NULL
    ),
    fields AS (
        SELECT doc_id, 'title' AS fld,
               list_slice(t, 1, {_BM25F_TITLE_LEN}) AS toks FROM sp
        UNION ALL
        SELECT doc_id, 'body' AS fld,
               list_slice(t, {_BM25F_TITLE_LEN} + 1, len(t)) AS toks
        FROM sp
    ),
    lens AS (
        SELECT doc_id, fld, len(toks) AS L FROM fields
    ),
    avglens AS (
        SELECT fld, CAST(SUM(L) AS DOUBLE) / COUNT(*) AS avgl,
               COUNT(*) AS n FROM lens GROUP BY fld
    ),
    tf AS (
        SELECT f.doc_id, f.fld, u.token, COUNT(*) AS tf
        FROM fields f, UNNEST(f.toks) AS u(token)
        WHERE u.token IN {_BM25F_TERMS!r}
        GROUP BY 1, 2, 3
    ),
    dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ),
    wtf AS (
        SELECT t.doc_id, t.token,
               SUM(CASE t.fld
                       WHEN 'title' THEN {_BM25F_W['title']} * t.tf
                           / (1 - {_BM25F_B['title']}
                              + {_BM25F_B['title']} * l.L / a.avgl)
                       ELSE {_BM25F_W['body']} * t.tf
                           / (1 - {_BM25F_B['body']}
                              + {_BM25F_B['body']} * l.L / a.avgl)
                   END) AS tfw
        FROM tf t
        JOIN lens l ON l.doc_id = t.doc_id AND l.fld = t.fld
        JOIN avglens a ON a.fld = t.fld
        GROUP BY 1, 2
    ),
    n_docs AS (SELECT COUNT(*) AS N FROM sp),
    scored AS (
        SELECT w.doc_id,
               CAST(ROUND(
                   ((n.N - d.df + 0.5) / (d.df + 0.5))
                   * w.tfw / ({_BM25F_K1} + w.tfw), 6)
                    AS DECIMAL(18,6)) AS term_score
        FROM wtf w JOIN dfreq d ON d.token = w.token CROSS JOIN n_docs n
    )
    SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS bm25f
    FROM scored GROUP BY doc_id
    ORDER BY bm25f DESC, doc_id LIMIT 10
    """,
    doc="BM25F multi-field retrieval top-10 for the fixed query termset "
    "— the fielded generalization of bm25_topk_docs (Zaragoza & "
    "Robertson): the first "
    f"{_BM25F_TITLE_LEN} tokens act as a 'title' field (weight "
    f"{_BM25F_W['title']}, b={_BM25F_B['title']}), the rest as 'body' "
    f"(weight {_BM25F_W['body']}, b={_BM25F_B['body']}); per-field "
    "length-normalized tfs are weight-summed into ONE pseudo-frequency "
    "before a single k1 saturation, which is what distinguishes BM25F "
    "from naively summing per-field BM25 scores. idf stays the exact "
    "rational (N−df+0.5)/(df+0.5) with df counted over docs matching "
    "in ANY field; each term's score is one fixed double expression "
    "rounded to 6dp then DECIMAL-summed. Plan: ONE corpus scan — an "
    "explode over the (title, body) slice structs tags fields "
    "map-side, and the tagged frame is eager-checkpointed before "
    "fanning into stats/tf/N (r13); field length L rides the tf group "
    "key (functionally dependent on doc+field), so no lens join; the "
    "per-field (avgl, N) stats and df broadcast; "
    "TakeOrderedAndProject keeps the top-k. NULL-text docs have no "
    "fields and are excluded.",
)
def bm25f_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    tl = _BM25F_TITLE_LEN
    # ONE corpus scan: posexplode-style field tagging — each doc row
    # expands map-side into its (title, body) slices in a single
    # projection (r13, ADVICE r12: the previous two-projection union
    # read the source twice and contradicted this docstring). The
    # tagged frame is eager-checkpointed because it feeds the per-field
    # stats, the term frequencies, AND the doc count (one-scan rule).
    fields = materialize(
        docs.select(
            "doc_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("title").alias("fld"),
                        F.slice("t", 1, tl).alias("toks"),
                    ),
                    F.struct(
                        F.lit("body").alias("fld"),
                        F.slice(
                            "t",
                            tl + 1,
                            F.greatest(F.size("t") - tl, F.lit(0)),
                        ).alias("toks"),
                    ),
                )
            ).alias("f"),
        )
        .select(
            "doc_id",
            F.col("f.fld").alias("fld"),
            F.col("f.toks").alias("toks"),
        )
        .withColumn("L", F.size("toks"))
    )
    avglens = fields.groupBy("fld").agg(
        (F.sum("L").cast("double") / F.count(F.lit(1))).alias("avgl")
    )
    # L is functionally dependent on (doc_id, fld), so carrying it in
    # the group key replaces the old lens equi-join (one shuffle less)
    tf = (
        fields.select(
            "doc_id", "fld", "L", F.explode("toks").alias("token")
        )
        .filter(F.col("token").isin(*_BM25F_TERMS))
        .groupBy("doc_id", "fld", "L", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    # every non-NULL-text doc contributes exactly one title row
    n_docs = fields.filter(F.col("fld") == "title").agg(
        F.count(F.lit(1)).alias("N")
    )
    wt = F.when(
        F.col("fld") == "title",
        _BM25F_W["title"]
        * F.col("tf")
        / (
            1
            - _BM25F_B["title"]
            + _BM25F_B["title"] * F.col("L") / F.col("avgl")
        ),
    ).otherwise(
        _BM25F_W["body"]
        * F.col("tf")
        / (
            1
            - _BM25F_B["body"]
            + _BM25F_B["body"] * F.col("L") / F.col("avgl")
        )
    )
    wtf = (
        tf.join(F.broadcast(avglens), "fld")
        .groupBy("doc_id", "token")
        .agg(F.sum(wt).alias("tfw"))
    )
    idf = (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    term_score = F.round(
        idf * F.col("tfw") / (_BM25F_K1 + F.col("tfw")), 6
    ).cast("decimal(18,6)")
    return (
        wtf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(F.sum("term_score").cast("double").alias("bm25f"))
        .orderBy(F.desc("bm25f"), F.asc("doc_id"))
        .limit(10)
    )


# --------------------------------- near-dup cluster canonicalization


@register(
    "dedup_cc_survivor_map",
    "WITH RECURSIVE"
    + _SHINGLE_SQL.split("WITH", 1)[1]
    + ","
    + _JACCARD_CTES
    + """,
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM jpairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM jpairs
    ),
    reach(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON r.node = e.a
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(label) AS cluster_id
        FROM reach GROUP BY node
    ),
    survivors AS (
        SELECT c.cluster_id, d.doc_id AS canonical_doc_id
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY c.cluster_id
            ORDER BY d.n_chars DESC NULLS LAST, d.doc_id ASC) = 1
    )
    SELECT c.doc_id, c.cluster_id, s.canonical_doc_id,
           c.doc_id = s.canonical_doc_id AS is_survivor
    FROM clusters c JOIN survivors s ON s.cluster_id = c.cluster_id
    """,
    doc="Near-dup cluster CANONICALIZATION: the keep/drop decision a "
    "training-data pipeline actually executes after near-dup "
    "detection. Composes the 3-gram Jaccard edges (J ≥ 0.8, df ≤ "
    f"{_JACCARD_MAX_DF}) with the O(log n) connected-components "
    "closure (operators/graph.py — the same machinery as "
    "dedup_connected_components), then elects ONE survivor per "
    "cluster by (longest n_chars, then smallest doc_id — DESC NULLS "
    "LAST pinned on both engines) and maps every member, singletons "
    "included, to its canonical id. The survivor election is a "
    "PARTITIONED window (per cluster); the oracle runs the identical "
    "closure as a recursive CTE. Output: one row per document with "
    "its cluster, canonical id, and survivor flag — keep-list joins "
    "downstream are a broadcast of the non-survivor ids.",
)
def dedup_cc_survivor_map(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stream_processing_spark.operators.graph import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(
        dd.shingles(docs, n=3, hash64=True),
        threshold=0.8,
        max_df=_JACCARD_MAX_DF,
    ).select("doc_a", "doc_b")
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    # n_chars rides along so the survivor election needs NO second
    # documents join, and the member->cluster map is eagerly
    # checkpointed ONCE: it feeds both the election window and the
    # final member join, and without the checkpoint the docs ⋈ cc
    # subtree (including its parquet scan) evaluated once per branch
    # (r13 opt: plan went 6 parquet scans -> 2).
    clusters = materialize(
        docs.select("doc_id", "n_chars")
        .join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            "n_chars",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last("n_chars"), F.asc("doc_id")
    )
    survivors = (
        clusters.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id", F.col("doc_id").alias("canonical_doc_id")
        )
    )
    return clusters.join(survivors, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "canonical_doc_id",
        (F.col("doc_id") == F.col("canonical_doc_id")).alias(
            "is_survivor"
        ),
    )


# --------------------------------------- source concentration (HHI)


@register(
    "hhi_source_concentration",
    """
    WITH s AS (
        SELECT COALESCE(source, '(null)') AS source,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(cnt AS DECIMAL(19,0)) * cnt) AS DOUBLE)
                 * 10000
                 / (CAST(SUM(cnt) AS DOUBLE) * SUM(cnt)), 6) AS hhi,
           ROUND((CAST(SUM(cnt) AS DOUBLE) * SUM(cnt))
                 / CAST(SUM(CAST(cnt AS DECIMAL(19,0)) * cnt)
                        AS DOUBLE), 6) AS effective_sources
    FROM s
    """,
    doc="Herfindahl-Hirschman concentration of the corpus over sources "
    "(HHI = 10000·Σ share², plus the effective-source count 1/Σ "
    "share²) — the one-number audit of whether a training mix is "
    "dominated by a single crawl/source, the summary sibling of "
    "corpus_js_divergence_sources. Count sums are exact integers "
    "(Σcnt² in DECIMAL(19) products so petabyte corpus counts "
    "survive), ONE double expression per output. NULL source is a "
    "first-class '(null)' level. Scale shape: one source-domain "
    "aggregation; the HHI walk is a single source-domain fold — no "
    "windows, no joins. Exactly one output row.",
)
def hhi_source_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy(
        F.coalesce("source", F.lit("(null)")).alias("source")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    sq = F.sum(F.col("cnt").cast("decimal(19,0)") * F.col("cnt")).cast(
        "double"
    )
    tot = F.sum("cnt").cast("double")
    return s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.round(sq * 10000 / (tot * F.sum("cnt")), 6).alias("hhi"),
        F.round((tot * F.sum("cnt")) / sq, 6).alias(
            "effective_sources"
        ),
    )


# --------------------------------------- char-trigram cosine lang-ID

# Fixed per-language character-trigram profiles (top trigrams with
# descending integer weights) — the standard Cavnar-Trenkle-style
# n-gram profile method upgraded from the rank-heuristic langid
# (llmops.text_langid_confusion) to COSINE similarity against the
# profiles. Profiles are literal VALUES on both engines, so the
# profile norms fold identically; trigram coverage matters more than
# linguistic fidelity here (the synthetic corpus is English-shaped —
# the query's value is the exactly-certified plumbing).
_LANGID3_PROFILES: list[tuple[int, str, str, int]] = []
for _lid, _lang, _tris in [
    (1, "en", ["the", "he ", "nd ", "ing", " th", "er ", "ion",
               "ed ", "and", " an", " of", "ent"]),
    (2, "de", ["en ", "der", "ein", " de", "ich", "sch", "die",
               "und", "ch ", "ung", "cht", "das"]),
    (3, "es", [" de", "os ", "de ", "la ", "ar ", "que", "el ",
               " la", "ado", "con", "ent", "cio"]),
    (4, "fr", [" de", "es ", "le ", "de ", "ont", " le", "la ",
               "ais", "eur", "que", "ion", "ent"]),
]:
    for _rank, _tri in enumerate(_tris):
        _LANGID3_PROFILES.append((_lid, _lang, _tri, 12 - _rank))

_LANGID3_VALUES = ", ".join(
    f"({lid}, '{lang}', '{tri}', {w})"
    for lid, lang, tri, w in _LANGID3_PROFILES
)


@register(
    "langid_trigram_cosine_mix",
    f"""
    WITH prof(lang_id, lang, tri, w) AS (
        SELECT * FROM (VALUES {_LANGID3_VALUES})
    ),
    pnorm AS (
        SELECT lang_id, lang,
               SQRT(CAST(SUM(w * w) AS DOUBLE)) AS pn
        FROM prof GROUP BY 1, 2
    ),
    d AS (
        SELECT doc_id, LOWER(text) AS t FROM documents
        WHERE text IS NOT NULL AND LENGTH(text) >= 3
    ),
    tf AS (
        SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tri,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM d, UNNEST(generate_series(1, LENGTH(t) - 2)) AS u(i)
        GROUP BY 1, 2
    ),
    dnorm AS (
        SELECT doc_id, SQRT(CAST(SUM(tf * tf) AS DOUBLE)) AS dn
        FROM tf GROUP BY 1
    ),
    dot AS (
        SELECT f.doc_id, p.lang_id, p.lang,
               CAST(SUM(f.tf * p.w) AS BIGINT) AS dp
        FROM tf f JOIN prof p ON p.tri = f.tri
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT o.doc_id, o.lang_id, o.lang,
               ROUND(CAST(o.dp AS DOUBLE) / (n.dn * q.pn), 6) AS cos_r
        FROM dot o
        JOIN dnorm n ON n.doc_id = o.doc_id
        JOIN pnorm q ON q.lang_id = o.lang_id
    ),
    assigned AS (
        SELECT doc_id, lang, cos_r,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cos_r DESC, lang_id ASC)
                   AS rn
        FROM scored
    )
    SELECT lang AS language, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(cos_r AS DECIMAL(9,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_cos
    FROM assigned WHERE rn = 1 GROUP BY lang
    """,
    doc="Language identification by char-trigram COSINE against fixed "
    "per-language profiles (Cavnar-Trenkle n-gram profiles upgraded "
    "from the rank heuristic of text_langid_confusion): each doc's "
    "trigram counts dot the 12-trigram weighted profile of 4 "
    "languages, normalized by exact-integer norms (one sqrt each "
    "side), cosine rounded to 6dp, argmax per doc with ties broken "
    "by profile id — then the corpus mix (docs, mean confidence) per "
    "winning language. Docs sharing no trigram with ANY profile get "
    "no score row and are excluded (documented; they'd need a "
    "smoothed model). Scale shape (r14): the per-doc sufficient "
    "statistics (Σtf² and the four profile dots) come from ONE "
    "mapInArrow pass over (doc_id, lower(text)) — exact integer "
    "trigram counting via np.unique over 63-bit packed code-point "
    "triples, so no corpus shuffle exists at all; profile norms are "
    "literal constants, sqrt/cosine/argmax stay in Spark SQL, and "
    "the final rollup is language-domain-bounded (≤ 4 rows).",
)
def langid_trigram_cosine_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math as _math
    from collections import defaultdict

    # PIVOTED profile: one row per trigram carrying every language's
    # weight (a trigram can sit in several profiles). This keeps the
    # whole scoring pipeline at TWO shuffles — (doc, trigram) counts,
    # then one per-doc fold producing the norm AND all four dots as
    # columns — where the row-per-(lang, tri) shape needed a third
    # (doc, lang)-keyed exchange, a 12M-row checkpoint of the trigram
    # frame, and a norms join (r13: sf1 wall 40 s → measured after
    # rewrite; values bit-identical, the oracle is unchanged).
    piv: dict[str, dict[int, int]] = defaultdict(dict)
    langs: dict[int, str] = {}
    for lid, lang, tri, w in _LANGID3_PROFILES:
        piv[tri][lid] = w
        langs[lid] = lang
    lids = sorted(langs)
    # per-language norms are constants of the literal profiles; sqrt
    # is IEEE-exact (unlike ln/exp), so the python value equals both
    # engines' SQRT bit-for-bit
    pn = {
        lid: _math.sqrt(
            sum(
                w * w
                for (l2, _, _, w) in _LANGID3_PROFILES
                if l2 == lid
            )
        )
        for lid in lids
    }
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") >= 3))
        .select("doc_id", F.lower("text").alias("t"))
    )
    # r14 (guide §4.2, r13 verdict item 3 — interleaved A/B):
    # the trigram explode + (doc, tri) count + profile join + per-doc
    # fold shuffled a corpus × ~300-char frame twice; every doc-level
    # quantity the query needs is computable from the doc's own bytes,
    # so ONE mapInArrow pass emits the per-doc sufficient statistics
    # (Σtf², and the four profile dot products) with NO corpus shuffle
    # at all. The Python side is exact INTEGER arithmetic: trigram
    # counts come from np.unique over 63-bit-packed code-point triples
    # (UTF-32 → c0<<42 | c1<<21 | c2, lossless for all of Unicode), so
    # tf, Σtf² and the dots are the same integers the JVM aggregation
    # produced — the sqrt/cosine doubles are still computed in Spark
    # SQL below, bit-identically. Lowercasing stays in Spark (F.lower
    # above) so string semantics never cross engines.
    _piv_items = sorted(
        (tri, tuple(d_.get(lid, 0) for lid in lids))
        for tri, d_ in piv.items()
    )
    _schema = "doc_id long, ss long, " + ", ".join(
        f"d{lid} long" for lid in lids
    )

    def _tri_stats(batches):
        import numpy as np
        import pyarrow as pa

        codes = np.array(
            [
                (ord(t_[0]) << 42) | (ord(t_[1]) << 21) | ord(t_[2])
                for t_, _ in _piv_items
            ],
            dtype=np.int64,
        )
        order = np.argsort(codes)
        pcodes = codes[order]
        wmat = np.array(
            [_piv_items[i][1] for i in order], dtype=np.int64
        )
        nl = len(lids)
        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("t").to_pylist()
            out = np.empty((len(ids), 2 + nl), dtype=np.int64)
            for i, t_ in enumerate(texts):
                u = np.frombuffer(
                    t_.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                tri = (u[:-2] << 42) | (u[1:-1] << 21) | u[2:]
                uniq, cnt = np.unique(tri, return_counts=True)
                out[i, 0] = ids[i]
                out[i, 1] = int((cnt * cnt).sum())
                idx = np.searchsorted(uniq, pcodes)
                idx[idx >= len(uniq)] = 0
                hit = uniq[idx] == pcodes
                out[i, 2:] = (cnt[idx] * hit) @ wmat
            yield pa.RecordBatch.from_arrays(
                [pa.array(out[:, k]) for k in range(2 + nl)],
                names=["doc_id", "ss"] + [f"d{lid}" for lid in lids],
            )

    per_doc = d.mapInArrow(_tri_stats, _schema).select(
        "*", F.sqrt(F.col("ss").cast("double")).alias("dn")
    )
    cols = {
        lid: F.round(
            F.col(f"d{lid}").cast("double")
            / (F.col("dn") * F.lit(pn[lid])),
            6,
        )
        for lid in lids
    }
    # argmax with ties → smallest lang_id, exactly max(struct(cos,
    # −id)): the first lid (ascending) that is ≥ every other wins
    winner_lang = None
    winner_cos = None
    for lid in lids:
        cond = None
        for other in lids:
            if other == lid:
                continue
            c = cols[lid] >= cols[other]
            cond = c if cond is None else (cond & c)
        winner_lang = (
            F.when(cond, langs[lid])
            if winner_lang is None
            else winner_lang.when(cond, langs[lid])
        )
        winner_cos = (
            F.when(cond, cols[lid])
            if winner_cos is None
            else winner_cos.when(cond, cols[lid])
        )
    assigned = per_doc.filter(
        F.greatest(*[F.col(f"d{lid}") for lid in lids]) > 0
    ).select(
        winner_lang.alias("lang"), winner_cos.alias("cos_r")
    )
    return assigned.groupBy(F.col("lang").alias("language")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("cos_r").cast("decimal(9,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_cos"),
    )
