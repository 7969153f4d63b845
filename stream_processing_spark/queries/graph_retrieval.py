"""Sparse retrieval + graph ranking:

- ``sparse_cosine_pairs`` — TF-IDF-weighted cosine similarity join over
  3-gram shingles via a document-frequency-capped inverted index (the
  sparse twin of the dense ANN tiers; the classic prefix/df-filtered
  similarity-join shape from Bayardo et al., "Scaling Up All Pairs
  Similarity Search");
- ``pagerank_copurchase_parts`` — PageRank (3 unrolled power iterations,
  damping 0.85) over the part co-purchase graph, computed entirely in
  SCALED INTEGER arithmetic (rank x 10^12, exact `div`) so the parallel
  reduction is order-independent and an oracle engine reproduces it
  bit-exactly — the fixed-point trick any cross-engine iterative
  algorithm needs.

Determinism: md5 join keys, integer/decimal sums, one exact double
division per float output, ROUND(…, 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.queries import register
from stream_processing_spark.runtime import materialize

# ------------------------------------------------- sparse cosine pairs

_SC_MAX_DF = 20       # shingles in more docs carry ~no idf signal
_SC_THRESHOLD = 0.30


@register(
    "sparse_cosine_pairs",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3
    ),
    tf AS (SELECT doc_id, g, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
    df AS (SELECT g, COUNT(*) AS df FROM tf GROUP BY 1),
    w AS (
        SELECT tf.doc_id, tf.g,
               CAST(ROUND(tf.tf * 1.0 / df.df, 6)
                    AS DECIMAL(9,6)) AS w
        FROM tf JOIN df USING (g)
        WHERE df.df <= {_SC_MAX_DF}
    ),
    nrm AS (
        SELECT doc_id, SQRT(CAST(SUM(w * w) AS DOUBLE)) AS nrm
        FROM w GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dp
        FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b,
           ROUND(CAST(d.dp AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
    WHERE CAST(d.dp AS DOUBLE) / (na.nrm * nb.nrm) >= {_SC_THRESHOLD}
    """,
    doc="Sparse TF-IDF cosine similarity join over 3-gram shingles via "
    "an inverted index: postings (doc, shingle, weight) are joined on "
    f"the shingle, so pair volume per term is df² <= {_SC_MAX_DF}² — "
    "the document-frequency cap is what keeps total join size LINEAR "
    "in corpus size (terms above the cap carry ~no idf weight and are "
    "dropped from the vector space, the standard stop-term rule of "
    "all-pairs similarity search). Weights are 6-dp decimals so the "
    "dot-product reduction is order-independent; norms are computed "
    "once per doc over the same capped vocabulary, making the cosine "
    "EXACT within that space. md5 shingle keys keep the shuffle "
    "fixed-width. The sparse complement of the dense ANN tiers "
    "(minhash/simhash estimate set overlap; this weighs repeated "
    "shingles by rarity). Weights are tf/df — the linear idf N/df "
    "without the constant N (cosine is scale-invariant), which keeps "
    "decimal products inside 64-bit unscaled width in every engine.",
)
def sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .where(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 3), "
                    "i -> md5(concat_ws(' ', slice(t, i + 1, 3))))"
                )
            ).alias("g"),
        )
    )
    tf = sh.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # the postings frame feeds three branches (norms + both join sides);
    # the barrier shares the tokenize+tf+df pass
    w = materialize(
        tf.join(dfreq.where(F.col("df") <= _SC_MAX_DF), "g")
        .select(
            "doc_id",
            "g",
            F.round(F.col("tf") / F.col("df"), 6)
            .cast("decimal(9,6)")
            .alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dp"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.col("dp").cast("double") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(cos >= _SC_THRESHOLD)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cos_sim"))
    )


# ---------------------------------------------------------- pagerank

_PR_SCALE = 10**12          # rank fixed-point scale
_PR_BASE = 150_000_000_000  # (1 - 0.85) * SCALE, exact
_PR_ITERS = 3


def _pr_edges_sql() -> str:
    return """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT u, COUNT(*) AS out_deg FROM edges GROUP BY u),
    ew AS (SELECT e.u, e.v, d.out_deg FROM edges e JOIN deg d USING (u)),
    nodes AS (SELECT DISTINCT l_partkey AS part_id FROM lineitem)
    """


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT n.part_id,
               CAST({_PR_BASE} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN (
            SELECT ew.v AS part_id, SUM(p.r // ew.out_deg) AS s
            FROM ew JOIN {prev} p ON ew.u = p.part_id
            GROUP BY ew.v
        ) s USING (part_id)
    )
    """


@register(
    "pagerank_copurchase_parts",
    f"""
    WITH {_pr_edges_sql()},
    r0 AS (SELECT part_id, {_PR_SCALE} AS r FROM nodes),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")},
    {_pr_iter_sql("r2", "r3")}
    SELECT part_id, r AS rank_scaled FROM r3
    """,
    doc="PageRank over the part co-purchase graph (parts sharing an "
    f"order are mutually linked), damping 0.85, {_PR_ITERS} power "
    "iterations — the canonical iterative graph algorithm, expressed "
    "as unrolled join+aggregate rounds. All arithmetic is SCALED "
    f"INTEGER (rank x 10^12, exact integer div): bigint sums are "
    "order-independent, so the distributed reduction is deterministic "
    "and the oracle reproduces it bit-exactly — the same fixed-point "
    "discipline connected-components uses for labels. Scale shape: "
    "edges are generated per order (pairs bounded by order size, "
    "never a global self-join), the edge list + out-degrees are "
    "computed once and reused (lazy checkpoint) across iterations, "
    "and each iteration is one fixed-width shuffle (join on u, "
    "group on v). Isolated parts keep the damping base — mass "
    "truncated by integer div is documented leakage, identical in "
    "both engines.",
)
def pagerank_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("out_deg"))
    ew = materialize(edges.join(deg, "u"), eager=False)
    nodes = li.select(F.col("l_partkey").alias("part_id")).distinct()

    ranks = nodes.select("part_id", F.lit(_PR_SCALE).alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            ew.join(ranks, ew.u == ranks.part_id)
            .select(F.col("v").alias("part_id"), F.expr("r div out_deg").alias("c"))
            .groupBy("part_id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, "part_id", "left").select(
            "part_id",
            (
                F.lit(_PR_BASE)
                + F.expr("(85 * coalesce(s, 0L)) div 100")
            ).alias("r"),
        )
    return ranks.select("part_id", F.col("r").alias("rank_scaled"))


# ----------------------------------------------------- triangle count


@register(
    "triangle_count_copurchase",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    ),
    corners AS (
        SELECT a AS part_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT part_id, COUNT(*) AS n_triangles
    FROM corners
    GROUP BY part_id
    """,
    doc="Triangle participation count per part over the co-purchase "
    "graph — the clustering-coefficient numerator and the standard "
    "community-density signal. Orientation does the heavy lifting: "
    "edges are kept only as (u < v), so each triangle a<b<c is "
    "enumerated exactly once by the wedge join (e1: a-b, e2: b-c) "
    "closed by e3: a-c — three equi-joins, no factor of 6 "
    "overcounting and no post-dedup. Scale shape: edges are generated "
    "per order (pair volume bounded by order size), the wedge join's "
    "cost is sum of deg² over MIDDLE nodes — at production scale the "
    "id orientation swaps for degree orientation (direct each edge "
    "low-degree to high-degree), the classic bound that keeps hub "
    "nodes from exploding the wedge count; the plan shape is "
    "identical. Corner explosion is a 3-way UNION (Spark: explode of "
    "a 3-array), then one fixed-width count shuffle.",
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    return (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("part_id")
        )
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# ------------------------------------------- clustering coefficient


@register(
    "clustering_coeff_copurchase",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT part_id, COUNT(*) AS degree FROM (
            SELECT u AS part_id FROM e UNION ALL SELECT v FROM e
        ) GROUP BY part_id
    ),
    tri AS (
        -- ONE wedge join enumerating each triangle once, then the three
        -- corners unnested — mirrors the engine's explode(array(u,v,w))
        -- so oracle cost tracks the engine instead of paying the
        -- triangle join three times
        SELECT part_id, COUNT(*) AS n_tri FROM (
            SELECT UNNEST([e1.u, e1.v, e2.v]) AS part_id
            FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
        ) GROUP BY part_id
    )
    SELECT d.part_id, d.degree,
           COALESCE(t.n_tri, 0) AS n_triangles,
           ROUND(COALESCE(t.n_tri, 0) * 2.0
                 / (d.degree * (d.degree - 1)), 6) AS clustering_coeff
    FROM deg d LEFT JOIN tri t ON t.part_id = d.part_id
    WHERE d.degree >= 2
    """,
    doc="Local clustering coefficient per part: triangles_at_v / "
    "C(degree,2) — the community-density ratio that separates parts "
    "bought in tight bundles (coeff near 1) from hub parts that "
    "co-occur with everything but whose neighbors never co-occur "
    "(coeff near 0). Degree-1 nodes are excluded (undefined "
    "denominator). Builds on the oriented-wedge triangle enumeration "
    "(each triangle once, no overcount); the ratio is one exact "
    "integer*2/(d*(d-1)) division rounded at the end. Scale shape "
    "identical to triangle_count_copurchase plus one degree aggregate "
    "and a left join on the part key.",
)
def clustering_coeff_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("part_id"))
        .union(e.select(F.col("v").alias("part_id")))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri_corners = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
        .select(
            F.explode(
                F.array(F.col("e1.u"), F.col("e1.v"), F.col("e2.v"))
            ).alias("part_id")
        )
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.where(F.col("degree") >= 2)
        .join(tri_corners, "part_id", "left")
        .select(
            "part_id",
            "degree",
            F.coalesce("n_tri", F.lit(0)).alias("n_triangles"),
            F.round(
                F.coalesce("n_tri", F.lit(0))
                * 2.0
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )
