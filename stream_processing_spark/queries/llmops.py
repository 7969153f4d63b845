"""Training-data pipeline queries: dedup, similarity search, text
analysis, multimodal plumbing — the beyond-reference surface (see the
build brief + SURVEY.md §7.1 "llmops").

Oracle SQL here is deliberately engine-portable: md5 for every hash
(identical hex in Spark and DuckDB), integer arithmetic until a single
exact double division, ROUND(…, 6) on genuinely-float outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.functions import dedup as dd
from stream_processing_spark.functions import similarity as sim
from stream_processing_spark.functions import text as tx
from stream_processing_spark.functions.keys import value_hash
from stream_processing_spark.queries import register
from stream_processing_spark.runtime import materialize

# ---------------------------------------------------------------- dedup

_SHINGLE_SQL = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
    FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    WHERE len(t) >= 3
)
"""


@register(
    "dedup_exact_groups",
    """
    SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup: group on md5(text) so the shuffle carries a "
    "fixed-width key instead of whole documents",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_signatures",
    _SHINGLE_SQL
    + "SELECT doc_id, "
    + ", ".join(f"MIN(md5('{s}:' || sh)) AS h{s}" for s in range(8))
    + " FROM shingles GROUP BY doc_id",
    doc="MinHash signatures (k=8) over distinct 3-word shingles; md5-keyed "
    "hash family for engine portability. One explode + one grouped agg.",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # distinct=False: MIN ignores duplicates, saves a shuffle
    return dd.minhash_signatures(dd.shingles(docs, n=3, distinct=False), k=8)


@register(
    "dedup_lsh_candidates",
    _SHINGLE_SQL
    + ", sigs AS (SELECT doc_id, "
    + ", ".join(f"MIN(md5('{s}:' || sh)) AS h{s}" for s in range(8))
    + """ FROM shingles GROUP BY doc_id),
    buckets AS (
    """
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(h{2*b} || '|' || h{2*b+1}) AS sig FROM sigs"
        for b in range(4)
    )
    + """)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """,
    doc="MinHash-LSH candidate pairs: 4 bands × 2 rows; pairs sharing any "
    "band bucket. The all-pairs O(n²) becomes per-bucket joins.",
)
def dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(dd.shingles(docs, n=3, distinct=False), k=8)
    return dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)


@register(
    "dedup_minhash_verified_pairs",
    _SHINGLE_SQL
    + ", sigs AS (SELECT doc_id, "
    + ", ".join(f"MIN(md5('{s}:' || sh)) AS h{s}" for s in range(8))
    + """ FROM shingles GROUP BY doc_id),
    buckets AS (
    """
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(h{2*b} || '|' || h{2*b+1}) AS sig FROM sigs"
        for b in range(4)
    )
    + """),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ("""
    + " + ".join(
        f"CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END" for s in range(8)
    )
    + """) / 8.0 AS est_jaccard
    FROM cand
    JOIN sigs sa ON sa.doc_id = doc_a
    JOIN sigs sb ON sb.doc_id = doc_b
    WHERE ("""
    + " + ".join(
        f"CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END" for s in range(8)
    )
    + """) >= 6
    """,
    doc="The COMPLETE MinHash dedup pipeline: shingle → signature → LSH "
    "band buckets → candidate pairs → verify by signature agreement "
    "(estimated Jaccard = matching hashes / k, keep >= 6/8). No "
    "document text is ever re-read after the signature pass — the "
    "verify join ships 8 hashes per doc, which is why this is the "
    "100 TB path while exact-Jaccard re-verification is not.",
)
def dedup_minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(dd.shingles(docs, n=3, distinct=False), k=8)
    cand = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{s}").alias(f"a{s}") for s in range(8)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{s}").alias(f"b{s}") for s in range(8)]
    )
    agree = None
    for s in range(8):
        t = F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("__agree", agree)
        .filter(F.col("__agree") >= 6)
        .select(
            "doc_a", "doc_b", (F.col("__agree") / 8.0).alias("est_jaccard")
        )
    )


# df cap: a shingle in d docs contributes d² self-join rows and ~no
# Jaccard signal (near-dups are identified by their RARE shingles);
# capping df bounds every join key to MAX_DF² rows — the difference
# between linear-in-shingles and quadratic-in-corpus at 100 TB.
_JACCARD_MAX_DF = 20

_JACCARD_CTES = f"""
    capped AS (
        SELECT doc_id, sh FROM (
            SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
            FROM shingles
        ) WHERE df <= {_JACCARD_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM capped GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jpairs AS (
        SELECT doc_a, doc_b,
               n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    )
"""


@register(
    "dedup_jaccard_pairs",
    _SHINGLE_SQL
    + ","
    + _JACCARD_CTES
    + """
    SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard FROM jpairs
    """,
    doc="Exact 3-gram Jaccard near-dup pairs (J >= 0.8) over the "
    f"df-capped shingle vocabulary (df <= {_JACCARD_MAX_DF}): stop-"
    "shingles are dropped BEFORE the self-join so every join key is "
    "bounded, and Jaccard is computed over the capped sets. Integer "
    "arithmetic until one exact double division → portable values.",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.jaccard_pairs(
        dd.shingles(docs, n=3, hash64=True),
        threshold=0.8,
        max_df=_JACCARD_MAX_DF,
    )


_CONTAINMENT_THRESHOLD = 0.9
_CONTAINMENT_MIN_SH = 5


@register(
    "dedup_containment_pairs",
    _SHINGLE_SQL
    + f""",
    capped AS (
        SELECT doc_id, sh FROM (
            SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
            FROM shingles
        ) WHERE df <= {_JACCARD_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM capped GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    oriented AS (
        SELECT doc_a, doc_b, n_common FROM common
        UNION ALL
        SELECT doc_b AS doc_a, doc_a AS doc_b, n_common FROM common
    )
    SELECT doc_a, doc_b,
           ROUND(n_common * 1.0 / sa.n_sh, 6) AS containment
    FROM oriented JOIN sizes sa ON sa.doc_id = doc_a
    WHERE sa.n_sh >= {_CONTAINMENT_MIN_SH}
      AND n_common * 1.0 / sa.n_sh >= {_CONTAINMENT_THRESHOLD}
    """,
    doc="Asymmetric 3-gram CONTAINMENT pairs (C(A→B) = |A∩B|/|A| ≥ "
    f"{_CONTAINMENT_THRESHOLD}, |A| ≥ {_CONTAINMENT_MIN_SH} shingles): "
    "the quote/subset-duplication signal Jaccard misses — a short doc "
    "embedded in a long one has high containment but low Jaccard "
    "(union dominated by the container). Same scale guards as "
    f"dedup_jaccard_pairs (df ≤ {_JACCARD_MAX_DF} bounds every join "
    "key; the intersection is computed once per unordered pair and "
    "emitted in both orientations — no second self-join). Integer "
    "arithmetic until one exact double division.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.containment_pairs(
        dd.shingles(docs, n=3, hash64=True),
        threshold=_CONTAINMENT_THRESHOLD,
        max_df=_JACCARD_MAX_DF,
        min_shingles=_CONTAINMENT_MIN_SH,
    )


@register(
    "dedup_connected_components",
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
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM reach GROUP BY node
    """,
    doc="Near-dup CLUSTERS from pairwise 3-gram Jaccard edges (J>=0.8, "
    f"df-capped shingles <= {_JACCARD_MAX_DF}) via the hybrid closure in "
    "operators/graph.py: a few cheap min-label propagation rounds "
    "(join+min, localCheckpoint lineage truncation — near-dup graphs "
    "of diameter 2-4 finish here), escalating to contracted "
    "large-star/small-star (Kiveris et al.) for O(log n) worst-case "
    "rounds on pathological duplicate chains. The oracle computes the "
    "same closure with a "
    "recursive CTE. cluster_id = min doc_id in the component; singleton "
    "docs are their own cluster.",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(
        dd.shingles(docs, n=3, hash64=True),
        threshold=0.8,
        max_df=_JACCARD_MAX_DF,
    ).select("doc_a", "doc_b")
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
        )
    )


def _simhash_sql(n_digits: int = 8) -> str:
    """DuckDB twin of simhash32 (8 hex digits) / simhash60 (15)."""
    n_bits = 4 * n_digits
    digs = ", ".join(
        f"strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1 AS d{d}"
        for d in range(n_digits)
    )
    sums = ", ".join(
        f"SUM(CASE WHEN ((d{n_digits - 1 - b // 4} >> {b % 4}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(n_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (SELECT doc_id, md5(tok) AS h FROM tok),
    d AS (SELECT doc_id, {digs} FROM h),
    s AS (SELECT doc_id, {sums} FROM d GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM s
    """


@register(
    "dedup_simhash",
    _simhash_sql(),
    doc="32-bit SimHash fingerprint per doc (sign of per-bit ±1 sums over "
    "md5 token hashes); near-dups = small Hamming distance",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash32(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    f"""
    WITH fp AS ({_simhash_sql(15)}),
    bands AS (
        SELECT doc_id, simhash, b.band,
               (simhash >> (15 * b.band)) & 32767 AS byte
        FROM fp, (SELECT unnest(range(4)) AS band) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS fa,
                        b.doc_id AS doc_b, b.simhash AS fb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
    )
    SELECT DISTINCT doc_a, doc_b,
           CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(fa, fb)) <= 3
    """,
    doc="SimHash near-dup PAIRS (Hamming <= 3) without all-pairs: the "
    "60-bit fingerprint (simhash60 — widened from 32 in r10 after the "
    "sf1 profile pinned the 4.0x decade on band-bucket saturation) is "
    "banded into 4 15-bit blocks; by pigeonhole a pair within distance "
    "3 matches exactly on >= 1 block, so a (band, block) equi-join has "
    "recall 1 at this radius with 2^15 buckets per band (~17x less "
    "measured candidate mass than 8-bit bands on the same corpus). "
    "The join ships (id, 8-byte fp) only and the verify is one "
    "bit_count(xor) per candidate. functions/dedup.py simhash_pairs.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = dd.simhash60(load_table(spark, sf_dir, "documents"))
    return dd.simhash_pairs(fp, max_hamming=3, fp_bits=60)


# ----------------------------------------------------------- similarity

_COS_SQL = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


@register(
    "ann_brute_force_topk",
    f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_COS_SQL.format(a="e.embedding", b="q.qe")}, 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    doc="Exact cosine top-10 to query vector vec_id=0: broadcast query, "
    "one scan, TakeOrderedAndProject (no global sort). The ANN baseline.",
)
def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(emb, query_vec_id=0, k=10)


@register(
    "ann_cosine_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COS_SQL.format(a="a.embedding", b="b.embedding")} >= 0.4
    """,
    doc="Embedding-cosine near-dup pairs (>= 0.4 — calibrated to the "
    "synthetic embedding distribution so the result is non-empty), exact "
    "all-pairs; lsh_bucketed_pairs is the scale path",
)
def ann_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_pairs(emb, threshold=0.4)


def _lsh_sig_sql_planes(col: str, planes: list[list[float]]) -> str:
    """Sign-LSH signature in DuckDB SQL for the given hyperplanes (the SAME
    seeded planes the Spark side uses, inlined as double literals)."""
    cases = [
        "CASE WHEN list_dot_product(CAST({c} AS DOUBLE[]), [{w}]) >= 0 "
        "THEN '1' ELSE '0' END".format(c=col, w=", ".join(repr(w) for w in p))
        for p in planes
    ]
    return "concat(" + ", ".join(cases) + ")"


_LSH_BANDS, _LSH_ROWS = 4, 8
_LSH_PLANES = sim._hyperplanes(64, _LSH_BANDS * _LSH_ROWS, 42)
_LSH_BUCKET_SQL = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, "
    + _lsh_sig_sql_planes(
        "embedding", _LSH_PLANES[b * _LSH_ROWS : (b + 1) * _LSH_ROWS]
    )
    + " AS sig FROM embeddings"
    for b in range(_LSH_BANDS)
)


@register(
    "ann_lsh_bucketed_pairs",
    f"""
    WITH buckets AS ({_LSH_BUCKET_SQL}),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           ROUND({_COS_SQL.format(a="ea.embedding", b="eb.embedding")}, 6) AS cos_sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
    WHERE {_COS_SQL.format(a="ea.embedding", b="eb.embedding")} >= 0.4
    """,
    doc="Banded multi-table sign-LSH near-dup pairs: 4 independent 8-bit "
    "signature tables (OR-construction — candidate iff all bits of at "
    "least one band agree), so recall scales with bands while every band "
    "keeps 256 fine buckets; no single join degrades toward all-pairs "
    "as n grows. The band shuffle carries (id, band, 8-char sig) only; "
    "vectors are joined back for the candidate set and verified with "
    "exact cosine. The scale path for ann_cosine_pairs.",
)
def ann_lsh_bucketed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.lsh_banded_pairs(
        emb, threshold=0.4, dim=64, bands=_LSH_BANDS, rows_per_band=_LSH_ROWS
    )


def _ivf_cell_sql(ncells: str = "16") -> str:
    """The deterministic-quantizer CTE ladder with a parametrizable
    cell count. ``ncells`` is spliced as a SQL expression: the ANN/IVF
    oracles keep the literal 16 (their probe semantics are tuned to a
    fixed coarse quantizer); SemDeDup-family oracles pass a
    sqrt(N)-scaled scalar subquery so cell SIZE stays bounded as the
    corpus grows (the r8 sf1 sweep caught the fixed-16 quadratic)."""
    return _IVF_CELL_TMPL.replace("{NCELLS}", ncells)


_IVF_CELL_TMPL = """
    seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS cid,
               CAST(embedding AS DOUBLE[]) AS svec
        FROM embeddings
        QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                   vec_id) <= {NCELLS}
    ),
    sseed AS (
        SELECT e.vec_id, s.cid,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), s.svec) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(s.svec, s.svec))) AS csim
        FROM embeddings e CROSS JOIN seeds s
    ),
    assign0 AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid ASC) AS rn
            FROM sseed
        ) WHERE rn = 1
    ),
    means AS (
        SELECT a.cid, i - 1 AS pos,
               CAST(SUM(CAST(ROUND(CAST(e.embedding[i] AS DOUBLE), 6)
                             AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m
        FROM assign0 a JOIN embeddings e USING (vec_id),
             UNNEST(range(1, 65)) AS u(i)
        GROUP BY 1, 2
    ),
    mlists AS (SELECT cid, list(m ORDER BY pos) AS mvec FROM means GROUP BY cid),
    cents AS (
        SELECT s.cid, COALESCE(ml.mvec, s.svec) AS cvec
        FROM seeds s LEFT JOIN mlists ml USING (cid)
    ),
    csims AS (
        SELECT e.vec_id, c.cid,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(c.cvec, c.cvec))) AS csim
        FROM embeddings e CROSS JOIN cents c
    ),
    ranked AS (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cid ASC) AS rn
        FROM csims
    )
"""

_IVF_CELL_SQL = _ivf_cell_sql()


@register(
    "ann_ivf_topk",
    f"""
    WITH {_IVF_CELL_SQL},
    cells AS (SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1),
    probe AS (SELECT cid AS cell FROM ranked WHERE vec_id = 0 AND rn <= 4),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_COS_SQL.format(a="e.embedding", b="q.qe")}, 6) AS cos_sim
    FROM embeddings e
    JOIN cells ON cells.vec_id = e.vec_id
    JOIN probe ON probe.cell = cells.cell, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    doc="IVF approximate top-10 with a REAL quantizer: deterministic "
    "k-means (seeds = 16 vectors with smallest md5(id), one Lloyd round "
    "of decimal-rounded per-cell means — reproducible bit-exactly in "
    "any engine) assigns cells MAP-SIDE via inlined centroid literals — "
    "zero shuffle for assignment; the query probes its 4 nearest cells "
    "so only ~4/16 of vectors are scanned. The IVF scale path for "
    "ann_brute_force_topk.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.ivf_topk(emb, query_vec_id=0, k=10, n_cells=16, nprobe=4)


@register(
    "embedding_label_centroids",
    """
    SELECT label, i - 1 AS pos,
           CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6)
                         AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid
    FROM embeddings, UNNEST(range(1, 65)) AS u(i)
    GROUP BY 1, 2
    """,
    doc="Per-label centroid vectors (long format: label × dimension), the "
    "aggregation behind IVF training / class prototypes. Each value is "
    "rounded to 6dp then decimal-summed so the reduction is "
    "order-independent — the only way a parallel float aggregation can "
    "hash-match a sequential engine. posexplode → grouped sum: one "
    "shuffle of (label, pos, value) triples.",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("label", "pos", (F.col("s") / F.col("n")).alias("centroid"))
    )


# ------------------------------------------------------------ text ops

@register(
    "text_quality_stats",
    """
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(string_split(text, ' ')) AS n_tokens,
           ROUND(length(replace(text, ' ', '')) * 1.0
                 / len(string_split(text, ' ')), 6) AS avg_token_len,
           ROUND(len(list_filter(string_split(text, ' '),
                     t -> t IN ('the','a','of','and','to','in','is','it'))) * 1.0
                 / len(string_split(text, ' ')), 6) AS stopword_ratio
    FROM documents
    """,
    doc="Per-doc quality scoring: length, token count, avg token length, "
    "stopword ratio — all native expressions, single pass",
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_stats(load_table(spark, sf_dir, "documents"))


_LANG_SCORE_SQL = {
    lang: (
        "len(list_filter(string_split(text, ' '), t -> t IN ("
        + ", ".join(f"'{m}'" for m in markers)
        + ")))"
    )
    for lang, markers in tx.LANG_MARKERS.items()
}


@register(
    "text_lang_id",
    f"""
    WITH scores AS (
        SELECT doc_id, lang,
               {_LANG_SCORE_SQL['en']} AS s_en,
               {_LANG_SCORE_SQL['de']} AS s_de,
               {_LANG_SCORE_SQL['fr']} AS s_fr,
               {_LANG_SCORE_SQL['es']} AS s_es
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
                WHEN s_es > 0 THEN 'es'
                ELSE 'unk' END AS lang_guess
    FROM scores
    """,
    doc="Marker-word language ID heuristic (deterministic argmax, ties "
    "broken en>de>fr>es), compared against the labeled lang column",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", tx.lang_guess("text").alias("lang_guess"))


@register(
    "text_langid_confusion",
    f"""
    WITH scores AS (
        SELECT doc_id, lang,
               {_LANG_SCORE_SQL['en']} AS s_en,
               {_LANG_SCORE_SQL['de']} AS s_de,
               {_LANG_SCORE_SQL['fr']} AS s_fr,
               {_LANG_SCORE_SQL['es']} AS s_es
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                    WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
                    WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
                    WHEN s_es > 0 THEN 'es'
                    ELSE 'unk' END AS lang_guess
        FROM scores
    )
    SELECT lang, lang_guess, COUNT(*) AS n_docs
    FROM pred GROUP BY lang, lang_guess
    """,
    doc="Classifier-quality CONFUSION MATRIX for the marker-word lang-id "
    "heuristic: (true label, prediction, count) — the evaluation step a "
    "curation pipeline runs before trusting a filter model. One pass "
    "over documents + one grouped count; the per-doc argmax is the "
    "same expression as text_lang_id.",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", tx.lang_guess("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_token_counts",
    rf"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{tx.BPE_ISH}')) AS bpe_ish_tokens
    FROM documents
    """,
    doc="Whitespace + BPE-ish regex token counts",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count_ws("text").alias("ws_tokens"),
        tx.token_count_bpe_ish("text").alias("bpe_ish_tokens"),
    )


@register(
    "text_token_counts_pandas",
    rf"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{tx.BPE_ISH}')) AS bpe_ish_tokens
    FROM documents
    """,
    doc="The SAME token counts as text_token_counts, computed in Python "
    "via mapInPandas (Arrow-batched) instead of JVM expressions — "
    "hash-matching the same oracle proves the Pandas-UDF escape hatch "
    "(the reference's arbitrary-executable operator surface, SURVEY.md "
    "§2.8) preserves exact semantics. The JVM path remains the default; "
    "this is the template for logic Catalyst can't express.",
)
def text_token_counts_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re
    from collections.abc import Iterator

    import pandas as pd

    pat = re.compile(tx.BPE_ISH)

    def count_tokens(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "ws_tokens": b["text"].map(lambda t: len(t.split(" "))),
                    "bpe_ish_tokens": b["text"].map(lambda t: len(pat.findall(t))),
                }
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        count_tokens, schema="doc_id long, ws_tokens long, bpe_ish_tokens long"
    )


@register(
    "text_chunk_windows",
    """
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           substr(text, CAST(i * 150 + 1 AS BIGINT), 200) AS chunk
    FROM documents,
         UNNEST(range(0, CAST(ceil(length(text) / 150.0) AS BIGINT))) AS u(i)
    WHERE i * 150 < length(text)
    """,
    doc="Document chunking for training pipelines: 200-char windows with "
    "50-char overlap (stride 150), emitted as (doc_id, chunk_idx, "
    "chunk). One explode over a computed range — rows multiply ~len/150 "
    "per doc, so at 100 TB repartition after this explode before any "
    "downstream shuffle-heavy op.",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.length("text") / 150.0).cast("bigint")
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)
            ).alias("chunk_idx"),
        )
        .filter(F.col("chunk_idx") * 150 < F.length("text"))
        .select(
            "doc_id",
            "chunk_idx",
            F.expr("substring(text, CAST(chunk_idx * 150 + 1 AS INT), 200)").alias(
                "chunk"
            ),
        )
    )


@register(
    "corpus_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           MIN(length(text)) AS min_chars,
           MAX(length(text)) AS max_chars
    FROM documents
    GROUP BY lang
    """,
    doc="Per-language corpus summary (doc/char/token totals, extremes) — "
    "the dataset-card numbers; all integer aggregates, one scan",
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.min(F.length("text")).alias("min_chars"),
        F.max(F.length("text")).alias("max_chars"),
    )


_RH_BASE, _RH_MOD, _RH_WIN = 131, (1 << 31) - 1, 4


def _tok16_sql(expr: str) -> str:
    """16-bit token hash from the first 4 hex chars of md5 — pure integer
    arithmetic, identical in any engine with md5 + strpos."""
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1)"
            f" * {16 ** (3 - i)}"
            for i in range(4)
        )
        + ")"
    )


@register(
    "text_rolling_fingerprint",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    wins AS (
        SELECT doc_id,
               ({" + ".join(f"{_tok16_sql(f't[i+{j}]')} * {_RH_BASE ** (_RH_WIN - 1 - j) % _RH_MOD}" for j in range(_RH_WIN))})
               % {_RH_MOD} AS rh
        FROM toks, UNNEST(range(1, len(t) - {_RH_WIN - 2})) AS u(i)
        WHERE len(t) >= {_RH_WIN}
    )
    SELECT doc_id, MIN(rh) AS rolling_fp
    FROM wins GROUP BY doc_id
    """,
    doc="Karp-Rabin rolling-hash fingerprint: 16-bit md5-derived token "
    "hashes combined over 4-token windows with base-131 polynomial "
    "weights mod 2^31-1; the per-doc MIN window hash is the winnowing-"
    "style fingerprint. All integer arithmetic → engine-portable. One "
    "explode + grouped MIN, the same shuffle shape as MinHash.",
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    # slide a 4-token window via zip of shifted slices (codegen-friendly,
    # same trick as functions/dedup.shingles)
    win_starts = F.sequence(F.lit(0), F.size(t) - _RH_WIN)

    def tok16(tok_col):
        # first 4 md5 digits; the DuckDB twin mirrors them digit by
        # digit. Hashing each token once via transform() measured 4x
        # WORSE (an interpreted lambda per element).
        return value_hash(tok_col.cast("binary"), 4)

    rh = None
    for j in range(_RH_WIN):
        term = tok16(F.element_at(t, F.col("i") + j + 1)) * F.lit(
            _RH_BASE ** (_RH_WIN - 1 - j) % _RH_MOD
        ).cast("bigint")
        rh = term if rh is None else rh + term
    return (
        docs.filter(F.size(t) >= _RH_WIN)
        .select("doc_id", F.explode(win_starts).alias("i"), F.col("text"))
        .select("doc_id", (rh % _RH_MOD).alias("rh"))
        .groupBy("doc_id")
        .agg(F.min("rh").alias("rolling_fp"))
    )


@register(
    "embedding_l2_normalize",
    """
    SELECT vec_id, i - 1 AS pos,
           ROUND(CAST(embedding[i] AS DOUBLE)
                 / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))), 6)
               AS nval
    FROM embeddings, UNNEST(range(1, 65)) AS u(i)
    WHERE vec_id < 100
    """,
    doc="L2 vector normalization (long format, first 100 vectors): the "
    "prerequisite transform for dot-product-only ANN serving — norm "
    "computed once per vector (same sequential fold both engines), "
    "division per element, ROUND(6) on the genuinely-float output",
)
def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    n = sim.norm(F.col("embedding"))
    return (
        emb.select("vec_id", n.alias("__n"), F.posexplode("embedding").alias("pos", "v"))
        .select(
            "vec_id",
            "pos",
            F.round(F.col("v").cast("double") / F.col("__n"), 6).alias("nval"),
        )
    )


@register(
    "text_fingerprint",
    r"""
    SELECT doc_id,
           md5(text) AS fp_md5,
           md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp_norm
    FROM documents
    """,
    doc="Document fingerprints: raw md5 + whitespace-normalized md5",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.fingerprint_md5("text").alias("fp_md5"),
        tx.fingerprint_normalized("text").alias("fp_norm"),
    )


# ----------------------------------------------------------- multimodal

@register(
    "multimodal_binary_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           substr(lower(hex(encode(text))), 1, 16) AS head_hex
    FROM documents
    """,
    doc="Binary-column plumbing: text encoded to an opaque binary payload "
    "(the stand-in for image/audio bytes), typed metadata extracted "
    "JVM-side. Real decode lives in functions/multimodal.py (stubbed — "
    "codec libs absent in this container).",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.substring(F.lower(F.hex(payload)), 1, 16).alias("head_hex"),
    )


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           substr(lower(hex(encode(text))),
                  CAST(((i * octet_length(encode(text))) // 4) * 2 + 1 AS BIGINT),
                  16) AS frame_hex
    FROM documents, UNNEST(range(0, 4)) AS u(i)
    """,
    doc="Frame sampling over an opaque binary payload (the video/audio "
    "pattern): 4 evenly spaced 8-byte frames per blob, emitted as "
    "(doc_id, frame_idx, frame_hex) — one explode, offsets computed "
    "from the blob length, all JVM-side. The real codec would replace "
    "the hex-slice with a decode UDF (functions/multimodal.py); the "
    "partitioning/explode/offset plumbing is what this query locks in.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return (
        docs.select(
            "doc_id",
            F.lower(F.hex(payload)).alias("__hex"),
            F.octet_length(payload).cast("bigint").alias("__n"),
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), F.lit(3).cast("bigint"))
            ).alias("frame_idx"),
            "__hex",
            "__n",
        )
        .select(
            "doc_id",
            "frame_idx",
            F.expr(
                "substring(__hex, CAST((frame_idx * __n) div 4 AS INT) * 2 + 1, 16)"
            ).alias("frame_hex"),
        )
    )


@register(
    "hybrid_search_topk",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, COUNT(*) AS tf FROM tok WHERE term = 'merge' GROUP BY 1
    ),
    mx AS (SELECT MAX(tf) AS max_tf FROM tf),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT d.doc_id,
               COALESCE(tf.tf, 0) AS tf, mx.max_tf,
               {_COS_SQL.format(a="e.embedding", b="q.qv")} AS cs
        FROM documents d
        JOIN embeddings e ON e.vec_id = d.doc_id
        LEFT JOIN tf ON tf.doc_id = d.doc_id, mx, q
        WHERE d.doc_id <> 0
    )
    SELECT doc_id, ROUND(0.5 * (tf / max_tf) + 0.5 * cs, 6) AS hybrid_score
    FROM scored
    ORDER BY 0.5 * (tf / max_tf) + 0.5 * cs DESC, doc_id
    LIMIT 10
    """,
    doc="Hybrid retrieval: lexical term score fused with embedding cosine "
    "(0.5/0.5), top-10. The linear-IDF term weight cancels to tf/max_tf "
    "(N/df is constant per term) - integer ratio, one double division. "
    "Query vector and the max_tf scalar broadcast; the 1:1 "
    "documents-embeddings join is the only row-shuffle. The "
    "rerank-after-candidate-fetch pattern at scale: replace the full "
    "scan with ann_lsh_bucketed_pairs candidates.",
)
def hybrid_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tok = docs.select("doc_id", F.explode(tx.tokens("text")).alias("term"))
    tf = (
        tok.filter(F.col("term") == "merge")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    mx = tf.agg(F.max("tf").alias("max_tf"))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .join(tf, "doc_id", "left")
        .crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(q))
        .filter(F.col("doc_id") != 0)
        .select(
            "doc_id",
            F.coalesce("tf", F.lit(0)).alias("tf"),
            "max_tf",
            sim.cosine(F.col("embedding"), F.col("qv")).alias("cs"),
        )
    )
    hybrid = 0.5 * (F.col("tf") / F.col("max_tf")) + 0.5 * F.col("cs")
    return (
        scored.orderBy(hybrid.desc(), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round(hybrid, 6).alias("hybrid_score"))
    )


_SHINGLE_SRC_SQL = """
WITH toks AS (
    SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
    FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    WHERE len(t) >= 3
)
"""


@register(
    "dedup_incremental_new_vs_corpus",
    _SHINGLE_SRC_SQL
    + ", sigs AS (SELECT doc_id, source, "
    + ", ".join(f"MIN(md5('{s}:' || sh)) AS h{s}" for s in range(8))
    + """ FROM shingles GROUP BY doc_id, source),
    buckets AS (
    """
    + " UNION ALL ".join(
        f"SELECT doc_id, source, {b} AS band, md5(h{2*b} || '|' || h{2*b+1}) AS sig FROM sigs"
        for b in range(4)
    )
    + """),
    cand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.sig = b.sig
        WHERE a.source = 'src0' AND b.source <> 'src0'
    )
    SELECT new_id, corpus_id,
           ("""
    + " + ".join(
        f"CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END" for s in range(8)
    )
    + """) / 8.0 AS est_jaccard
    FROM cand
    JOIN sigs sa ON sa.doc_id = new_id
    JOIN sigs sb ON sb.doc_id = corpus_id
    WHERE ("""
    + " + ".join(
        f"CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END" for s in range(8)
    )
    + """) >= 6
    """,
    doc="INCREMENTAL ingest dedup: only the new batch (source='src0') is "
    "checked against the existing corpus — the asymmetric band join "
    "(new × corpus, never corpus × corpus) is what makes daily ingest "
    "O(new·collision) instead of re-deduping the whole corpus. In "
    "production the corpus side's signatures are a persisted table "
    "updated per batch; here both sides compute from the same scan. "
    "Same MinHash family and 6/8-agreement verify as "
    "dedup_minhash_verified_pairs.",
)
def dedup_incremental_new_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = dd.shingles(docs.select("doc_id", "source", "text"), n=3, distinct=False)
    # shingles() keeps only (id, sh); recompute with source carried via join-
    # free path: aggregate signatures then re-attach source (id is unique)
    sigs = dd.minhash_signatures(sh, k=8).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    sigs = materialize(sigs)  # feeds bucket + 2 verify branches
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", f"h{2*b}", f"h{2*b+1}")).alias("sig"),
        )
        for b in range(4)
    ]
    buckets = sigs.select(
        "doc_id", "source", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "source", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))
    new_b = buckets.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("new_id"), "band", "sig"
    )
    corpus_b = buckets.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("corpus_id"), "band", "sig"
    )
    cand = (
        new_b.join(corpus_b, ["band", "sig"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("new_id"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("corpus_id"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(8)],
    )
    agree = None
    for s in range(8):
        t = F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    return (
        cand.join(sa, "new_id")
        .join(sb, "corpus_id")
        .withColumn("__agree", agree)
        .filter(F.col("__agree") >= 6)
        .select("new_id", "corpus_id", (F.col("__agree") / 8.0).alias("est_jaccard"))
    )


@register(
    "dedup_survivors_near",
    _SHINGLE_SQL
    + ", sigs AS (SELECT doc_id, "
    + ", ".join(f"MIN(md5('{s}:' || sh)) AS h{s}" for s in range(8))
    + """ FROM shingles GROUP BY doc_id),
    buckets AS (
    """
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(h{2*b} || '|' || h{2*b+1}) AS sig FROM sigs"
        for b in range(4)
    )
    + """),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM cand
        JOIN sigs sa ON sa.doc_id = doc_a
        JOIN sigs sb ON sb.doc_id = doc_b
        WHERE ("""
    + " + ".join(
        f"CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END" for s in range(8)
    )
    + """) >= 6
    ),
    nbrs AS (
        SELECT doc_a AS doc_id, doc_b AS nbr FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
        UNION ALL SELECT doc_id, doc_id FROM documents
    ),
    canon AS (
        SELECT doc_id, MIN(nbr) AS canonical_id FROM nbrs GROUP BY doc_id
    )
    SELECT doc_id FROM canon WHERE canonical_id = doc_id
    """,
    doc="The FINAL near-dup KEEP list: one-hop canonicalization over "
    "MinHash-verified pairs (>= 6/8 signature agreement — which "
    "subsumes exact duplicates, whose signatures agree 8/8); a doc "
    "survives iff it is the minimum id of its neighborhood. The writer "
    "semi-joins the corpus against this list to emit the deduplicated "
    "output. Composes dedup_minhash_verified_pairs with "
    "canonical_from_pairs; no text re-read after the signature pass.",
)
def dedup_survivors_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(dd.shingles(docs, n=3, distinct=False), k=8)
    sigs = materialize(sigs)
    cand = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(8)],
    )
    agree = None
    for s in range(8):
        t = F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(agree >= 6)
        .select("doc_a", "doc_b")
    )
    canon = dd.canonical_from_pairs(
        pairs, docs.select("doc_id"), id_col="doc_id", pair_a="doc_a", pair_b="doc_b"
    )
    return canon.filter(F.col("canonical_id") == F.col("doc_id")).select("doc_id")


# ------------------------------------------------ end-to-end curation

@register(
    "curation_final_keep",
    f"""
    WITH survivors AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    scored AS (
        SELECT doc_id, lang,
               PERCENT_RANK() OVER (PARTITION BY lang
                                    ORDER BY len(string_split(text, ' ')))
                   AS pr
        FROM documents
    ),
    lang_scores AS (
        SELECT doc_id, lang,
               {_LANG_SCORE_SQL['en']} AS s_en,
               {_LANG_SCORE_SQL['de']} AS s_de,
               {_LANG_SCORE_SQL['fr']} AS s_fr,
               {_LANG_SCORE_SQL['es']} AS s_es
        FROM documents
    ),
    lang_ok AS (
        SELECT doc_id FROM lang_scores
        WHERE lang = CASE
            WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
            WHEN s_es > 0 THEN 'es'
            ELSE 'unk' END
    )
    SELECT s.doc_id, sc.lang
    FROM survivors s
    JOIN scored sc ON sc.doc_id = s.doc_id AND sc.pr >= 0.25
    JOIN lang_ok lo ON lo.doc_id = s.doc_id
    """,
    doc="The END-TO-END curation keep decision in ONE plan: a document "
    "survives iff it (a) is the exact-dedup representative of its "
    "content group, (b) sits above the 25th token-count percentile "
    "within its language, and (c) passes the lang-id consistency check "
    "(predicted == labeled). Composes dedup_survivors, "
    "quality_percentile_filter, and text_lang_id as three semi-join "
    "legs over one documents scan lineage — the decision list a writer "
    "semi-joins the corpus against to emit the training shard.",
)
def curation_final_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from stream_processing_spark.functions.dedup import exact_dedup_groups

    docs = load_table(spark, sf_dir, "documents")
    survivors = exact_dedup_groups(docs).select(
        F.col("keep_id").alias("doc_id")
    )
    n_tokens = F.size(F.split(F.col("text"), " "))
    scored = docs.select(
        "doc_id",
        "lang",
        F.percent_rank()
        .over(W.partitionBy("lang").orderBy(n_tokens))
        .alias("pr"),
    ).filter(F.col("pr") >= 0.25)
    lang_ok = (
        docs.select("doc_id", "lang", tx.lang_guess("text").alias("g"))
        .filter(F.col("lang") == F.col("g"))
        .select("doc_id")
    )
    return (
        survivors.join(scored, "doc_id")
        .join(lang_ok, "doc_id")
        .select("doc_id", "lang")
    )


# the canonical shingle CTEs re-scoped to the stage-4 survivors:
# DERIVED from _SHINGLE_SQL (strip its WITH, repoint the source) so a
# future change to shingle construction cannot silently diverge here
_PIPE_SHINGLE_ON_S4 = _SHINGLE_SQL.replace("WITH toks", "toks").replace(
    "FROM documents", "FROM s4"
)


@register(
    "curation_pipeline_yield",
    f"""
    WITH base AS (
        SELECT doc_id, text, lang,
               len(string_split(text, ' ')) AS n_tok,
               length(replace(text, ' ', '')) AS nsp
        FROM documents
    ),
    s2 AS (SELECT * FROM base
           WHERE n_tok >= 10 AND nsp * 1.0 / n_tok BETWEEN 2 AND 12),
    s3 AS (SELECT * FROM s2 WHERE lang = 'en'),
    s4 AS (SELECT * FROM s3
           QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))),
    {_PIPE_SHINGLE_ON_S4},
    {_JACCARD_CTES},
    drops AS (SELECT DISTINCT doc_b AS doc_id FROM jpairs),
    s5 AS (SELECT s4.* FROM s4 LEFT JOIN drops d ON d.doc_id = s4.doc_id
           WHERE d.doc_id IS NULL)
    SELECT * FROM (
        SELECT 1 AS stage, 'ingest' AS label, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM base
        UNION ALL SELECT 2, 'quality', COUNT(*),
               CAST(SUM(n_tok) AS BIGINT) FROM s2
        UNION ALL SELECT 3, 'lang_en', COUNT(*),
               CAST(SUM(n_tok) AS BIGINT) FROM s3
        UNION ALL SELECT 4, 'exact_dedup', COUNT(*),
               CAST(SUM(n_tok) AS BIGINT) FROM s4
        UNION ALL SELECT 5, 'near_dedup', COUNT(*),
               CAST(SUM(n_tok) AS BIGINT) FROM s5
    ) ORDER BY stage
    """,
    doc="The END-TO-END curation pipeline as ONE composed, oracle-gated "
    "query — the funnel a training-data team actually ships: ingest → "
    "quality gate (token count + avg token length) → language filter → "
    "exact dedup (md5 groups, min-id survivor) → near-dup drop "
    f"(df-capped 3-gram Jaccard >= 0.8 on the SURVIVORS, id-dominance "
    "drops) — with per-stage document and token yield accounting. "
    "Each stage is the registry's standalone operator (text_quality_"
    "stats, text_lang_id, dedup_exact_groups, dedup_jaccard_pairs) "
    "composed as plain DataFrame algebra, which is the whole point: "
    "operators compose without materialization boundaries, and "
    "Catalyst shares the scan. The survivor set (not the raw corpus) "
    "feeds the near-dup join, so drop decisions can never reference "
    "already-dropped documents. The stage-4 frame is lazily "
    "checkpointed once — it feeds its own stage count, the shingle "
    "pass, and the stage-5 anti-join.",
)
def curation_pipeline_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "text",
        "lang",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.length(F.regexp_replace("text", " ", "")).alias("nsp"),
    )
    s2 = base.filter(
        (F.col("n_tok") >= 10)
        & ((F.col("nsp") / F.col("n_tok")).between(2, 12))
    )
    s3 = s2.filter(F.col("lang") == "en")
    s4 = materialize(
        s3.withColumn(
            "__keep", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        )
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("__keep"),
        eager=False,
    )
    pairs = dd.jaccard_pairs(
        dd.shingles(s4, n=3, hash64=True),
        threshold=0.8,
        max_df=_JACCARD_MAX_DF,
    )
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    s5 = s4.join(drops, "doc_id", "left_anti")

    out = None
    for stage, (label, df) in enumerate(
        [
            ("ingest", base),
            ("quality", s2),
            ("lang_en", s3),
            ("exact_dedup", s4),
            ("near_dedup", s5),
        ],
        start=1,
    ):
        branch = df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        ).select(
            F.lit(stage).alias("stage"),
            F.lit(label).alias("label"),
            "n_docs",
            "n_tokens",
        )
        out = branch if out is None else out.union(branch)
    return out.orderBy("stage")


_SIM_QUERY_DOC = 0
_SIM_TOPK = 10

_sim_hashes = ", ".join(f"MIN(md5('{s}:' || sh)) AS h{s}" for s in range(8))
_sim_agree = " + ".join(
    f"(CASE WHEN q.h{s} = c.h{s} THEN 1 ELSE 0 END)" for s in range(8)
)


@register(
    "similar_docs_minhash_topk",
    _SHINGLE_SQL
    + f""", sigs AS (SELECT doc_id, {_sim_hashes} FROM shingles GROUP BY doc_id),
    q AS (SELECT * FROM sigs WHERE doc_id = {_SIM_QUERY_DOC})
    SELECT c.doc_id,
           CAST(({_sim_agree}) AS BIGINT) AS n_agree,
           ROUND(({_sim_agree}) / 8.0, 6) AS est_jaccard
    FROM sigs c, q
    WHERE c.doc_id <> {_SIM_QUERY_DOC}
    ORDER BY n_agree DESC, c.doc_id
    LIMIT {_SIM_TOPK}
    """,
    doc=f"Lexical similar-document retrieval: top-{_SIM_TOPK} docs by "
    "MinHash signature agreement with the query doc (agreeing "
    "positions / k estimates Jaccard — the Broder estimator). The "
    "query signature is one broadcast row; candidates are scored "
    "map-side and TakeOrderedAndProject keeps k, so the corpus is "
    "scanned once with no self-join — the point query that complements "
    "the corpus-wide pair queries (dedup_lsh_candidates) and the "
    "embedding-space ANN tier (ann_*_topk) with a lexical metric.",
)
def similar_docs_minhash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(dd.shingles(docs, n=3, distinct=False), k=8)
    sigs = materialize(sigs)  # query row + candidates
    q = sigs.where(F.col("doc_id") == _SIM_QUERY_DOC).select(
        *[F.col(f"h{s}").alias(f"q{s}") for s in range(8)]
    )
    agree = None
    for s in range(8):
        term = F.when(F.col(f"h{s}") == F.col(f"q{s}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    return (
        sigs.where(F.col("doc_id") != _SIM_QUERY_DOC)
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            agree.cast("bigint").alias("n_agree"),
            F.round(agree / F.lit(8.0), 6).alias("est_jaccard"),
        )
        .orderBy(F.desc("n_agree"), F.asc("doc_id"))
        .limit(_SIM_TOPK)
    )


# single-hash bands (b=8, r=1): the high-recall OR-construction — right
# for point-query retrieval, where the 2-hash bands used by the pair
# pipeline are so precise that a typical query doc probes empty buckets
_sim_band_match = " OR ".join(f"c.h{s} = q.h{s}" for s in range(8))


@register(
    "similar_docs_lsh_pruned_topk",
    _SHINGLE_SQL
    + f""", sigs AS (SELECT doc_id, {_sim_hashes} FROM shingles GROUP BY doc_id),
    q AS (SELECT * FROM sigs WHERE doc_id = {_SIM_QUERY_DOC})
    SELECT c.doc_id,
           CAST(({_sim_agree}) AS BIGINT) AS n_agree,
           ROUND(({_sim_agree}) / 8.0, 6) AS est_jaccard
    FROM sigs c, q
    WHERE c.doc_id <> {_SIM_QUERY_DOC} AND ({_sim_band_match})
    ORDER BY n_agree DESC, c.doc_id
    LIMIT {_SIM_TOPK}
    """,
    doc=f"The SCALE-PATH twin of similar_docs_minhash_topk: candidates "
    "are pruned to docs sharing at least one of the query's 8 "
    "single-hash LSH buckets BEFORE scoring (b=8, r=1 — the "
    "high-recall OR-construction a point query needs; the pair "
    "pipeline's 2-hash bands are so precise a typical query probes "
    "empty buckets). At 100 TB the probe reads 8 bucket postings, not "
    "the corpus; here the prune is the filter so both engines stay "
    "identical. Candidates-only semantics: a doc with zero agreeing "
    "hashes is, by design, not retrieved — the recall/cost dial every "
    "production LSH retrieval exposes.",
)
def similar_docs_lsh_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(dd.shingles(docs, n=3, distinct=False), k=8)
    banded = materialize(sigs)
    q = banded.where(F.col("doc_id") == _SIM_QUERY_DOC).select(
        *[F.col(f"h{s}").alias(f"q{s}") for s in range(8)],
    )
    band_match = None
    for s in range(8):
        m = F.col(f"h{s}") == F.col(f"q{s}")
        band_match = m if band_match is None else band_match | m
    agree = None
    for s in range(8):
        term = F.when(F.col(f"h{s}") == F.col(f"q{s}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    return (
        banded.where(F.col("doc_id") != _SIM_QUERY_DOC)
        .crossJoin(F.broadcast(q))
        .where(band_match)
        .select(
            "doc_id",
            agree.cast("bigint").alias("n_agree"),
            F.round(agree / F.lit(8.0), 6).alias("est_jaccard"),
        )
        .orderBy(F.desc("n_agree"), F.asc("doc_id"))
        .limit(_SIM_TOPK)
    )


_MATRYOSHKA_DIMS = 16  # truncation prefix (of 64 stored dims)


@register(
    "ann_matryoshka_overlap",
    f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    full_top AS (
        SELECT e.vec_id,
               ROUND({_COS_SQL.format(a="e.embedding", b="q.qe")}, 6)
                   AS cos_full
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cos_full DESC, e.vec_id LIMIT 10
    ),
    tr_scored AS (
        SELECT e.vec_id,
               ROUND({_COS_SQL.format(
                   a=f"e.embedding[1:{_MATRYOSHKA_DIMS}]",
                   b=f"q.qe[1:{_MATRYOSHKA_DIMS}]")}, 6) AS cos_trunc
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cos_trunc DESC, e.vec_id LIMIT 10
    ),
    tr_top AS (
        SELECT vec_id, cos_trunc,
               row_number() OVER (ORDER BY cos_trunc DESC, vec_id)
                   AS trunc_rank
        FROM tr_scored
    )
    SELECT t.vec_id, CAST(t.trunc_rank AS BIGINT) AS trunc_rank,
           t.cos_trunc, (f.vec_id IS NOT NULL) AS in_full_topk
    FROM tr_top t LEFT JOIN full_top f ON f.vec_id = t.vec_id
    """,
    doc=f"Matryoshka-truncation retrieval evaluation: the top-10 by "
    f"cosine over only the first {_MATRYOSHKA_DIMS} of 64 dims, each "
    "row flagged for membership in the full-dimension top-10 — the "
    "measurement behind serving truncated (MRL-style) embeddings, "
    "where a prefix of the vector rides a cheaper index and the flag "
    "column IS the recall audit. Both rankings broadcast the 1-row "
    "query and scan once with TakeOrderedAndProject keeping k (the "
    "rank window runs over the 10 kept rows only, never the corpus); "
    "the membership join is 10×10. Cosines rounded to 6dp before "
    "ranking so tie order is engine-stable.",
)
def ann_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    d = _MATRYOSHKA_DIMS
    full_top = sim.brute_force_topk(emb, query_vec_id=0, k=10).select(
        "vec_id", F.lit(True).alias("in_full_topk")
    )
    tr = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
    tr_top = (
        sim.brute_force_topk(tr, query_vec_id=0, k=10)
        .withColumnRenamed("cos_sim", "cos_trunc")
        .withColumn(
            "trunc_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("cos_trunc"), F.asc("vec_id")))
            .cast("bigint"),
        )
    )
    return tr_top.join(full_top, "vec_id", "left").select(
        "vec_id",
        "trunc_rank",
        "cos_trunc",
        F.coalesce("in_full_topk", F.lit(False)).alias("in_full_topk"),
    )


@register(
    "arrow_native_char_stats",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(replace(text, ' ', ''))
                AS BIGINT) AS n_spaces
    FROM documents
    """,
    doc="mapInArrow tier — the Arrow-NATIVE batch API that completes "
    "the sanctioned-Python matrix beside pandas_udf (scalar), "
    "mapInPandas (batch→pandas), applyInPandas(WithState), UDTF, and "
    "the pandas-on-Spark API: RecordBatches flow JVM→pyarrow with NO "
    "pandas materialization, and the kernels (utf8_length, "
    "count_substring) are vectorized C++ — the shape to use when the "
    "per-batch work is itself columnar and the pandas conversion "
    "would be pure overhead (exactly the regime of 100 TB byte/string "
    "feature extraction). Oracle = the equivalent JVM-side string "
    "expressions; for THIS trivially-SQL-able stat the built-ins "
    "win — the entry certifies the API contract (zero-copy schema, "
    "arity, batch iteration) for ops that genuinely need it.",
)
def arrow_native_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        for b in batches:
            t = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.utf8_length(t), pa.int64()),
                    pc.cast(pc.count_substring(t, " "), pa.int64()),
                ],
                ["doc_id", "n_chars", "n_spaces"],
            )

    return docs.mapInArrow(
        stats, "doc_id bigint, n_chars bigint, n_spaces bigint"
    )


# ------------------------------------------------- MMR re-ranking

_MMR_DEPTH = 20   # candidate pool from first-stage retrieval
_MMR_K = 5        # final diversity-selected size
_MMR_L = "0.7"    # lambda (relevance weight), DECIMAL literal


def _mmr_oracle(k: int = _MMR_K, depth: int = _MMR_DEPTH) -> str:
    """Unrolled greedy-MMR ladder over exact DECIMAL scores: one CTE
    per selection step (argmax of lambda*rel - (1-lambda)*max-sim-to-
    selected, ties to the smaller id)."""
    lam, oml = _MMR_L, "0.3"
    parts = [
        f"""
    q AS MATERIALIZED (SELECT embedding AS qe FROM embeddings
                       WHERE vec_id = 0),
    cand AS MATERIALIZED (
        SELECT e.vec_id,
               CAST(ROUND({_COS_SQL.format(a="e.embedding", b="q.qe")}, 6)
                    AS DECIMAL(18,6)) AS rel
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY rel DESC, e.vec_id LIMIT {depth}
    ),
    csim AS MATERIALIZED (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(ROUND({_COS_SQL.format(a="ea.embedding",
                                           b="eb.embedding")}, 6)
                    AS DECIMAL(18,6)) AS s
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    sel1 AS MATERIALIZED (
        SELECT 1 AS rank, vec_id, rel,
               CAST({lam} AS DECIMAL(2,1)) * rel AS mmr
        FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    ),
    acc1 AS MATERIALIZED (SELECT rank, vec_id, rel, mmr FROM sel1)"""
    ]
    for t in range(2, k + 1):
        parts.append(f"""
    sel{t} AS MATERIALIZED (
        SELECT {t} AS rank, c.vec_id, c.rel,
               CAST({lam} AS DECIMAL(2,1)) * c.rel
               - CAST({oml} AS DECIMAL(2,1)) * MAX(cs.s) AS mmr
        FROM cand c
        JOIN csim cs ON cs.id_a = c.vec_id
        JOIN acc{t - 1} a ON a.vec_id = cs.id_b
        WHERE c.vec_id NOT IN (SELECT vec_id FROM acc{t - 1})
        GROUP BY c.vec_id, c.rel
        ORDER BY mmr DESC, c.vec_id LIMIT 1
    ),
    acc{t} AS MATERIALIZED (
        SELECT * FROM acc{t - 1} UNION ALL SELECT * FROM sel{t}
    )""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT rank, vec_id, CAST(rel AS DOUBLE) AS rel,
           CAST(mmr AS DOUBLE) AS mmr_score
    FROM acc{k}"""
    )


@register(
    "retrieval_mmr_rerank_topk",
    _mmr_oracle(),
    doc=f"Maximal Marginal Relevance re-ranking (Carbonell & Goldstein "
    f"1998): first-stage retrieval takes the top-{_MMR_DEPTH} by query "
    f"cosine, then {_MMR_K} results are selected GREEDILY by "
    f"mmr = {_MMR_L}·rel − 0.3·max-sim-to-already-selected — the "
    "diversity re-rank every RAG/search stack runs between retrieval "
    "and the context window. Scale shape: the corpus-sized work is the "
    "ONE first-stage top-k scan (TakeOrderedAndProject); everything "
    "after operates on the DEPTH-bounded candidate set (candidate-"
    "candidate sims are depth² engine-side rows; the greedy selection "
    "then runs driver-side over the collected pool — bounded by "
    "depth², never by data — in exact Decimal arithmetic, replacing "
    "k-1 sequential 1-row argmax jobs). All scores are 6dp-DECIMAL "
    "cosines with exact "
    "decimal lambda arithmetic, so selection order and ties are "
    "engine-exact; the oracle replays the greedy loop as an unrolled "
    "MATERIALIZED-CTE ladder.",
)
def retrieval_mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    rel6 = F.round(sim.cosine(F.col("embedding"), F.col("qe")), 6).cast(
        "decimal(18,6)"
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "embedding", rel6.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_DEPTH)
    )

    cand = materialize(cand, eager=False)
    a = cand.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    b = cand.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")
    )
    csim = materialize(
        a.join(b, F.col("id_a") != F.col("id_b")).select(
            "id_a",
            "id_b",
            F.round(sim.cosine(F.col("ea"), F.col("eb")), 6)
            .cast("decimal(18,6)")
            .alias("s"),
        ),
        eager=False,
    )
    # the greedy loop runs DRIVER-side over the collected candidate
    # pool: depth rel rows + depth^2 sim rows — bounded by the
    # retrieval depth, never by data (the same bounded-collect class
    # as codebooks). Exact Decimal arithmetic replicates the engine's
    # DECIMAL(2,1) x DECIMAL(18,6) products bit-for-bit, so selection
    # order and ties match the unrolled-CTE oracle; this replaces k-1
    # sequential 1-row argmax jobs (~0.3 s each) with zero jobs.
    from decimal import Decimal

    lam, oml = Decimal("0.7"), Decimal("0.3")
    out_schema = "rank int, vec_id bigint, rel double, mmr_score double"
    # NULL rel/sim (a zero-norm embedding makes cosine NaN, which the
    # round+decimal cast nulls) would crash Decimal arithmetic here;
    # the engine-side argmax this loop replaces ordered them NULLS
    # LAST, i.e. a null-rel candidate never wins — dropping it from
    # the pool reproduces that, and null sims are skipped below the
    # way a SQL MAX aggregate skips them (ADVICE r9).
    pool = {
        int(r["vec_id"]): r["rel"]
        for r in cand.collect()
        if r["rel"] is not None
    }
    if not pool:  # no query vector / empty corpus — empty result
        return spark.createDataFrame([], out_schema)
    sims = {
        (int(r["id_a"]), int(r["id_b"])): r["s"]
        for r in csim.collect()
        if r["s"] is not None
    }
    first_id = max(pool, key=lambda v: (pool[v], -v))
    selected = [(1, first_id, pool[first_id], lam * pool[first_id])]
    chosen = {first_id}
    for t in range(2, _MMR_K + 1):
        best = None
        for vid, rel in pool.items():
            if vid in chosen:
                continue
            ssel = [
                sims[(vid, c)] for c in chosen if (vid, c) in sims
            ]
            if not ssel:  # MAX over all-NULL is NULL → mmr NULL →
                continue  # sorts last, never beats a non-null score
            ms = max(ssel)
            mmr = lam * rel - oml * ms
            if best is None or (mmr, -vid) > (best[3], -best[1]):
                best = (t, vid, rel, mmr)
        if best is None:  # candidate pool exhausted before k picks
            break
        selected.append(best)
        chosen.add(best[1])
    out = spark.createDataFrame(
        [(r, v, float(rel), float(mmr)) for r, v, rel, mmr in selected],
        out_schema,
    )
    return out


# ------------------------------------------------------ novelty scoring


@register(
    "ngram_novelty_scores",
    _SHINGLE_SQL
    + """,
    first AS (
        SELECT sh, MIN(doc_id) AS first_doc FROM shingles GROUP BY sh
    )
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = s.doc_id
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM shingles s JOIN first f USING (sh)
    GROUP BY s.doc_id
    """,
    doc="Per-document n-gram NOVELTY: the fraction of a doc's distinct "
    "3-gram shingles whose corpus-wide first holder (minimum doc_id — "
    "ingestion order) is the doc itself. The streaming-corpus curation "
    "signal between exact dedup and near-dup pairs: boilerplate-heavy "
    "late arrivals score ~0, genuinely new content ~1, and the score "
    "is monotone under corpus growth. Scale shape: the shingle frame "
    "is aggregated twice (min-holder by shingle, size by doc) and the "
    "min-holder frame collapses to doc-level BEFORE any join, so the "
    "only join is between two O(n_docs) frames — integer arithmetic "
    "until one exact double division. Docs under 3 tokens have no "
    "shingle set and are absent by definition (both engines).",
)
def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # hash64: the novelty fold uses the shingle only for grouping
    # (min-holder per sh) — 16-byte rows through the distinct, the
    # checkpoint and the groupBy (same collision class as jaccard)
    sh = materialize(dd.shingles(docs, n=3, hash64=True), eager=True)
    # (doc, sh) is DISTINCT (set shingles), so a doc's novel count —
    # its shingles whose corpus-wide MIN holder is itself — equals the
    # count of sh-groups it wins. Aggregate the min-holder frame down
    # to (doc, n_novel) and join doc-sized frames, instead of joining
    # the shingle-sized frame back to itself on sh (the former shuffles
    # two O(docs) frames where the latter probed O(corpus shingles)
    # rows through a join).
    novel_per_doc = (
        sh.groupBy("sh")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    n_novel = F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint"))
    return (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .join(novel_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_novel.alias("n_novel"),
            F.round(
                n_novel.cast("double") / F.col("n_shingles"), 6
            ).alias("novelty"),
        )
    )


# ------------------------------------------- dataset-level dedup audit

_SRC_MH_K = 8


def _src_sig_sql() -> str:
    mins = ", ".join(
        f"MIN(md5('{s}:' || sh)) AS h{s}" for s in range(_SRC_MH_K)
    )
    return f"SELECT source, {mins} FROM shingles GROUP BY source"


@register(
    "source_similarity_minhash",
    """
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    shingles AS (
        SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3
    ),
    sizes AS (SELECT source, COUNT(*) AS n_sh FROM shingles GROUP BY source),
    common AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.sh = b.sh AND a.source < b.source
        GROUP BY 1, 2
    ),
    sigs AS (""" + _src_sig_sql() + """)
    SELECT c.source_a, c.source_b,
           ROUND(CAST(c.n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard,
           ROUND(("""
    + " + ".join(
        f"(CASE WHEN x.h{s} = y.h{s} THEN 1 ELSE 0 END)"
        for s in range(_SRC_MH_K)
    )
    + f""") / {float(_SRC_MH_K)}, 6) AS minhash_est
    FROM common c
    JOIN sizes sa ON sa.source = c.source_a
    JOIN sizes sb ON sb.source = c.source_b
    JOIN sigs x ON x.source = c.source_a
    JOIN sigs y ON y.source = c.source_b
    """,
    doc="Dataset-level dedup audit: for every SOURCE pair, the exact "
    "3-gram-set Jaccard next to its MinHash estimate (k="
    f"{_SRC_MH_K} md5 seeds) — the overlap matrix a corpus owner "
    "reads before mixing datasets, and a built-in calibration check "
    "of the sketch against truth. Source-level signatures fall out "
    "of the doc machinery free: MIN over a source's shingles equals "
    "MIN over the union of its docs' sets, so the sketch is "
    "mergeable (train per shard, min-combine — the 100 TB path). "
    "The exact side reuses jaccard_pairs with id_col='source': "
    "every shingle's df is bounded by the CATALOG-sized source "
    "count, so the self-join needs no df cap. One shingle explode "
    "feeds signatures, sizes, and the pair join.",
)
def source_similarity_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = materialize(
        dd.shingles(docs, n=3, id_col="source"), eager=True
    )
    exact = dd.jaccard_pairs(sh, threshold=0.0, id_col="source").select(
        F.col("doc_a").alias("source_a"),
        F.col("doc_b").alias("source_b"),
        "jaccard",
    )
    sigs = dd.minhash_signatures(sh, k=_SRC_MH_K, id_col="source")
    sa = sigs.select(
        F.col("source").alias("source_a"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(_SRC_MH_K)],
    )
    sb = sigs.select(
        F.col("source").alias("source_b"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(_SRC_MH_K)],
    )
    matches = None
    for j in range(_SRC_MH_K):
        term = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        exact.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "jaccard",
            F.round(matches / F.lit(float(_SRC_MH_K)), 6).alias(
                "minhash_est"
            ),
        )
    )
