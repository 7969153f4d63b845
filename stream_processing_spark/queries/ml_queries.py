"""Distributed classical ML primitives as aggregations.

The scalable form of classical statistics is "reduce to sufficient
statistics, solve tiny system on the driver/in-expression": OLS needs
only (n, Σx, Σy, Σxy, Σx²) per group — one shuffle of 5 numbers per
key no matter how many rows feed it. Summing in DECIMAL keeps the
moments exact and order-independent, so the closed-form solution is
bit-reproducible in any engine (the same determinism discipline as the
rest of the registry).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves postponed
# (string) type hints via func.__globals__, so 'pd.Series' must be
# importable from here, not from inside the enclosing function
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.functions.keys import eq_key, value_hash
from stream_processing_spark.queries import register

# quantity is 2dp <= ~50, price 2dp <= ~1e5: products fit DECIMAL(24,4);
# sums over 1e8 rows still fit DECIMAL(38,4).
_X = "CAST(l_quantity AS DECIMAL(12,2))"
_Y = "CAST(l_extendedprice AS DECIMAL(12,2))"


def _input_bytes(sf_dir: str, table: str) -> int:
    """On-disk size of a table's parquet (file or directory) — a cheap
    scale proxy for sizing salt/bucket counts adaptively. 0 when the
    path is not locally stat-able (object stores): callers keep their
    local-default floor, which is the safe small-scale value. If
    non-local storage ever enters scope, replace the stat with a
    Spark-side size estimate (ADVICE r13 #2) — with the current local
    testdata contract the floor is always exercised and safe."""
    import os

    from stream_processing_spark.catalog import table_path

    path = table_path(sf_dir, table)
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
        return os.path.getsize(path)
    except OSError:
        return 0


@register(
    "linreg_price_on_quantity",
    f"""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM({_X}) AS DOUBLE) AS sx,
               CAST(SUM({_Y}) AS DOUBLE) AS sy,
               CAST(SUM(CAST({_X} * {_Y} AS DECIMAL(24,4))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST({_X} * {_X} AS DECIMAL(24,4))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST({_Y} * {_Y} AS DECIMAL(24,4))) AS DOUBLE) AS syy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           ROUND(POW(n * sxy - sx * sy, 2) /
                 ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    ORDER BY l_returnflag
    """,
    doc="Per-group OLS (extendedprice ~ quantity) via sufficient "
    "statistics: the ONLY distributed work is one aggregation of "
    "(n, Σx, Σy, Σxy, Σx², Σy²) per return flag — 6 numbers per key "
    "regardless of row count, the canonical scale shape for classical "
    "stats. Moments are summed in DECIMAL (exact, order-independent), "
    "then the closed-form slope/intercept/R² evaluates identically in "
    "both engines; the same fixed double arithmetic on both sides plus "
    "a 6dp round makes the output bit-stable. No driver trips, no "
    "iteration, no UDFs.",
)
def linreg_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(24,4)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(24,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(24,4)")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, F.lit(2))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    ).orderBy("l_returnflag")


@register(
    "hll_sketch_rollup_users",
    None,  # cross-engine sketch binaries differ; error-bound-tested
    doc="Re-aggregable distinct counting (Apache DataSketches HLL, "
    "built into Spark 4): per-(event_type, day) user sketches are "
    "stored once, then UNIONED to coarser grains — here per "
    "event_type — without touching raw data again. This is the 100 TB "
    "distinct-count architecture: exact countDistinct cannot be "
    "rolled up (distinct is not associative across days), so daily "
    "cubes keep 1.5 KB sketches and every coarser report is a "
    "constant-time merge. No SQL oracle by design (sketch estimates "
    "are engine-specific); tests/test_approx.py bounds the estimate "
    "against the exact count (<=3% at lgK=12) and asserts the "
    "roll-up estimate equals the direct single-pass sketch estimate.",
)
def hll_sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
    daily = (
        ev.select("event_type", day.alias("day"), "user_id")
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("bigint")
            .alias("est_users"),
        )
        .orderBy("event_type")
    )


_NB_TOP = 5


@register(
    "nb_lang_model_train",
    f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tc AS (
        SELECT lang, token, COUNT(*) AS cnt FROM tok
        WHERE token <> '' GROUP BY 1, 2
    ),
    totals AS (SELECT lang, SUM(cnt) AS tot FROM tc GROUP BY lang),
    vocab AS (SELECT COUNT(DISTINCT token) AS v FROM tc),
    docs AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    alldocs AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tc.lang, tc.token, tc.cnt,
               CAST(tc.cnt + 1 AS DOUBLE) / CAST(t.tot + v.v AS DOUBLE)
                   AS p_smoothed,
               ROW_NUMBER() OVER (PARTITION BY tc.lang
                                  ORDER BY tc.cnt DESC, tc.token ASC) AS rn
        FROM tc JOIN totals t USING (lang) CROSS JOIN vocab v
    )
    SELECT s.lang, CAST(d.n_docs AS DOUBLE) / a.n AS prior,
           s.token, s.cnt, ROUND(s.p_smoothed, 9) AS p_smoothed
    FROM scored s JOIN docs d USING (lang) CROSS JOIN alldocs a
    WHERE s.rn <= {_NB_TOP}
    ORDER BY s.lang, s.cnt DESC, s.token
    """,
    doc="Multinomial naive-Bayes training (language model over labeled "
    "documents): class priors and Laplace-smoothed per-(lang, token) "
    "probabilities, surfaced as the top tokens per class. ALL the "
    "distributed work is exact integer counting — the canonical scale "
    "shape for NB, which is why it was the workhorse classifier of the "
    "MapReduce era; the smoothed probability is a SINGLE IEEE division "
    "of exact integers, so it is bit-deterministic across engines "
    "(no logs anywhere in the oracle surface — libm log differs per "
    "platform; scoring composes logs driver-side). The fixture's lang "
    "labels are deliberately random over one shared vocabulary, so "
    "test_ml.py validates the CLASSIFIER mechanism on a synthetic "
    "separable corpus trained through this same counting path "
    "(accuracy 1.0) and pins the priors here to the label marginals.",
)
def nb_lang_model_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    tc = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = tc.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = tc.agg(F.countDistinct("token").alias("v"))
    ndocs = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    alln = docs.agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    scored = (
        tc.join(totals, "lang")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "p_smoothed",
            (F.col("cnt") + 1).cast("double")
            / (F.col("tot") + F.col("v")).cast("double"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NB_TOP)
    )
    return (
        scored.join(ndocs, "lang")
        .crossJoin(F.broadcast(alln))
        .select(
            "lang",
            (F.col("n_docs").cast("double") / F.col("n")).alias("prior"),
            "token",
            "cnt",
            F.round("p_smoothed", 9).alias("p_smoothed"),
        )
        .orderBy("lang", F.desc("cnt"), "token")
    )


@register(
    "image_phash_near_dups",
    None,  # numpy DCT is not SQL-expressible; planted-dup tests instead
    doc="Perceptual-hash image near-dup detection "
    "(functions/multimodal.py image_phash + phash_hamming_pairs): "
    "every image is fingerprinted by the sign pattern of its 8x8 "
    "low-frequency 2D-DCT block (the standard pHash — stable under "
    "recompression/resize/brightness, which perturb high frequencies "
    "first), then Hamming<=3 pairs come from pigeonhole 16-bit bands — "
    "four equi-joins and one bit_count(XOR) per candidate, never "
    "all-pairs. The codec parse is the honest fake-raster stub (PIL "
    "absent); the DCT/threshold/packing math is the real algorithm, "
    "vectorized per Arrow batch. No SQL oracle by design (numpy DCT); "
    "test_multimodal.py plants byte-identical and lightly-perturbed "
    "payloads and asserts both are recovered while distinct images "
    "are not.",
)
def image_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.functions import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = mm.synthesize_media(spark, docs, "doc_id", "text")
    hashes = mm.image_phash(media)
    return mm.phash_hamming_pairs(hashes, radius=3).orderBy("id_a", "id_b")


@register(
    "grouped_wavg_pandas_udaf",
    """
    SELECT l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS wavg_price
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="User-defined AGGREGATE via Arrow (SURVEY.md §2.8): a pandas "
    "GROUPED_AGG UDF computing quantity-weighted mean price with exact "
    "integer-cent arithmetic inside the UDF (int sums commute, so the "
    "result is independent of Arrow batch order AND of regrouping, so "
    "a salted JVM partial aggregation feeds the UDAF bounded partials "
    "instead of every corpus row — two-level aggregation, the same "
    "determinism rule the engine's decimal aggregates follow; the one "
    "rounding boundary is the final int->double conversion, correctly "
    "rounded identically in Python and the oracle's DECIMAL->DOUBLE "
    "cast). "
    "Plan shows AggregateInPandas: Arrow-vectorized partial "
    "aggregation, NOT row-at-a-time Python — the sanctioned custom-"
    "aggregate path, completing the UDF/UDAF/UDTF surface beside "
    "flat_map (mapInPandas) and stateful_flat_map "
    "(applyInPandasWithState); the UDTF corner is exercised in "
    "tests/test_udf_surface.py (kept out of the registry because "
    "row-Python UDTFs are the slow path plan-lint exists to forbid).",
)
def grouped_wavg_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(num: pd.Series, den: pd.Series) -> float:
        # exact integer cents (Arrow ships DECIMAL(38,0) partials as
        # python Decimals; python ints are unbounded so the sums never
        # overflow). Fraction->float is correctly rounded, exactly
        # like the oracle's DECIMAL->DOUBLE casts (num is scale-4, den
        # scale-2), and the final division is the same single IEEE op —
        # so the double is bit-identical with NO rounding step at all.
        from fractions import Fraction

        n = sum(int(v) for v in num)
        d = sum(int(v) for v in den)
        if not d:
            return None
        return float(Fraction(n, 10**4)) / float(Fraction(d, 10**2))

    li = load_table(spark, sf_dir, "lineitem")
    # two-level aggregation: a JVM partial sum per (status, salt) feeds
    # the UDAF exact integer-cent partials — int sums regroup freely, so
    # the merged num/den (and the one final division) are bit-identical
    # to the row-fed spelling. Without this, EVERY lineitem row crossed
    # the Arrow boundary into ~3 single-task Python groups — a
    # per-group straggler AND a corpus-sized JVM->Python transfer; now
    # only partial rows cross, and the heavy aggregation runs map-side
    # in codegen with full parallelism. Salt is deterministic (xxhash64
    # of the row key, never rand()). Partials sum in LONG cents (the
    # decimal(18,0) spelling was measured 1.6x slower — per-row
    # BigDecimal multiplies): pc*qc <= ~5.5e10, so a bucket overflows
    # int64 only past ~1.7e8 rows; the salt count scales with input
    # bytes (~4 buckets/GiB keeps buckets in the 1e6-row range at any
    # scale, 1024 floor locally) and the salt count never changes the
    # result, only the regrouping.
    salt_n = max(1024, _input_bytes(sf_dir, "lineitem") >> 28)
    # F.round here is HALF_UP where the old pandas .round() was
    # half-even; they agree because 2-decimal money doubles times 100
    # never produce an exact .5 tie (the fixture contract — ADVICE r13
    # #1 documents the assumption the 'bit-identical' claim rides on)
    pc = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    qc = F.round(F.col("l_quantity") * 100).cast("bigint")
    salt = F.pmod(eq_key("l_orderkey", "l_linenumber"), F.lit(salt_n))
    partials = li.groupBy("l_linestatus", salt.alias("__salt")).agg(
        F.sum(pc * qc).cast("decimal(38,0)").alias("num_cents4"),
        F.sum(qc).cast("decimal(38,0)").alias("den_cents2"),
    )
    return (
        partials.groupBy("l_linestatus")
        .agg(wavg("num_cents4", "den_cents2").alias("wavg_price"))
        .orderBy("l_linestatus")
    )


@register(
    "group_kfold_assignment",
    """
    WITH folds AS (
        SELECT user_id,
               CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 5 AS INT) AS fold
        FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT f.fold,
           COUNT(DISTINCT e.user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events e JOIN folds f USING (user_id)
    GROUP BY f.fold
    ORDER BY f.fold
    """,
    doc="GROUP-aware k-fold assignment (sklearn GroupKFold semantics): "
    "every event of a user lands in the SAME fold — the split that "
    "prevents user-level leakage between train and validation, which "
    "a row-level random split silently causes. Fold = md5(user_id) "
    "% 5: content-addressed, so assignment is reproducible across "
    "reruns/engines and STABLE UNDER APPEND (new events of a known "
    "user join their old fold — a property shuffle-based splitters "
    "lack). The leakage-freedom invariant (each user in exactly one "
    "fold) is structural: fold is a function of user_id.",
)
def group_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    fold = (value_hash(F.col("user_id").cast("string"), 8) % 5).cast("int")
    folds = ev.select("user_id").distinct().select(
        "user_id", fold.alias("fold")
    )
    return (
        ev.join(folds, "user_id")
        .groupBy("fold")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("fold")
    )


_EMBARGO_SPLIT = "2024-01-22"
_EMBARGO_DAYS = 2


@register(
    "temporal_split_embargo",
    f"""
    SELECT CASE
             WHEN ts < TIMESTAMP '{_EMBARGO_SPLIT}' THEN 'train'
             WHEN ts < TIMESTAMP '{_EMBARGO_SPLIT}'
                       + INTERVAL '{_EMBARGO_DAYS} days' THEN 'embargo'
             ELSE 'test'
           END AS split,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           epoch_us(MIN(ts)) AS first_us,
           epoch_us(MAX(ts)) AS last_us
    FROM events
    GROUP BY 1
    ORDER BY split
    """,
    doc="Temporal train/test split WITH EMBARGO (de Prado's purged "
    "time-series CV): rows in the gap right after the split boundary "
    "belong to NEITHER side, so features computed with trailing "
    "windows (sessions, rolling counts) cannot leak label-period "
    "information into training — the failure mode a plain "
    "before/after split has whenever any feature looks back in time. "
    "One scan, conditional aggregation; boundaries are data-"
    "independent constants so the split is append-stable.",
)
def temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lo = F.lit(_EMBARGO_SPLIT).cast("timestamp")
    hi = F.to_timestamp(
        F.lit(f"2024-01-{22 + _EMBARGO_DAYS:02d}")
    )
    split = (
        F.when(F.col("ts") < lo, "train")
        .when(F.col("ts") < hi, "embargo")
        .otherwise("test")
    )
    return (
        ev.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.unix_micros(F.min("ts")).alias("first_us"),
            F.unix_micros(F.max("ts")).alias("last_us"),
        )
        .orderBy("split")
    )


def _kmeans_assign_oracle() -> str:
    from stream_processing_spark.queries.llmops import _IVF_CELL_SQL

    return f"""
    WITH {_IVF_CELL_SQL},
    cells AS (SELECT vec_id, cid AS cluster FROM ranked WHERE rn = 1)
    SELECT CAST(cluster AS INT) AS cluster, COUNT(*) AS n_vectors
    FROM cells GROUP BY 1 ORDER BY cluster
    """


@register(
    "kmeans_cluster_assignments",
    _kmeans_assign_oracle(),
    doc="K-means clustering as a first-class output (not just the "
    "IVF internals): every vector's nearest-centroid assignment "
    "under the deterministic quantizer, summarized as cluster "
    "sizes. Assignment is MAP-SIDE from inlined centroid literals "
    "— zero shuffle before the size aggregate — and the oracle "
    "reuses the exact IVF cell CTEs, so the clustering is "
    "reproduced bit-identically by another engine (the property "
    "that makes the quantizer servable from storage, see "
    "functions/models.py).",
)
def kmeans_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.kmeans_centroids(emb, n_cells=16)
    if not cents:  # empty corpus
        return (
            emb.select(
                F.lit(0).alias("cluster"),
                F.lit(0).cast("bigint").alias("n_vectors"),
            ).limit(0)
        )
    # struct-rank HOFs are the pathological interpreted case; the
    # Arrow-batched twin replays the fold order bit-exactly
    cell_udf = sim._cells_vectorized_udf(cents, metric="cosine")
    return (
        emb.select("vec_id", cell_udf(F.col("embedding")).alias("cluster"))
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cluster")
    )


_SEMD_TAU = 0.4


def _semantic_drop_ids(cells: DataFrame, blocks: int = 8) -> DataFrame:
    """SemDeDup drop set: (vec_id) for every vector with a cosine >=
    _SEMD_TAU neighbor of smaller id in the SAME cluster. ``cells``
    needs (cluster, vec_id, embedding). Shared by semantic_dedup_stats
    and embedding_pipeline_yield so tau/tie-break/scale shape stay in
    one place.

    Two scale moves, both result-invariant vs the naive per-cluster
    self-join (the oracles' spelling):
    - norms once per ROW before the join (O(n·dim)), not per pair —
      sqrt(dot(v,v)) is the same double either way (same trick as
      similarity.cosine_pairs);
    - BLOCK-DECOMPOSED pair join: the naive join key is the cluster
      id (16 keys → at most 16 tasks, the biggest cell a straggler).
      Hashing each vector into one of B blocks and joining on
      (cluster, block-pair) splits every cell's pairwise work into
      B(B+1)/2 independent tasks. The a-side explodes to blocks
      >= its own; a pair in unequal blocks matches in exactly one
      orientation (smaller block on the a-side), equal blocks are
      de-duplicated by the id tie-break — every unordered pair is
      produced exactly once, so the dropped vector is simply the
      larger id of each pair, as in the oracles.
    """
    from stream_processing_spark.functions import similarity as sim

    B = blocks
    a = cells.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        sim.norm(F.col("embedding")).alias("na"),
        F.pmod(eq_key("vec_id"), F.lit(B)).cast("int").alias("ba"),
    ).withColumn("tb", F.explode(F.sequence(F.col("ba"), F.lit(B - 1))))
    b = cells.select(
        "cluster",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        sim.norm(F.col("embedding")).alias("nb"),
        F.pmod(eq_key("vec_id"), F.lit(B)).cast("int").alias("tb"),
    )
    cos = sim.dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, ["cluster", "tb"])
        .filter(
            (F.col("ba") < F.col("tb"))
            | ((F.col("ba") == F.col("tb")) & (F.col("id_a") < F.col("id_b")))
        )
        .filter(F.round(cos, 6) >= _SEMD_TAU)
    )
    return pairs.select(F.greatest("id_a", "id_b").alias("vec_id")).distinct()


# SemDeDup cell-count rule (shared by both dialects): n_cells grows
# as sqrt(N) so average CELL SIZE also grows as sqrt(N) — the pairwise
# work per cell stays bounded and total pair work stays ~linear (the
# r8 sf1 sweep measured 23.5×/decade under a fixed 16 cells; sqrt
# scaling restores ~linear growth). Floor 16 keeps the certified
# sf0.01 behavior bit-identical (sqrt(200)≈14 < 16); cap 1024 bounds
# the inlined-centroid-literal expression and the driver's means
# collect (past that, broadcast-join the centroid table instead).
_SEMD_NCELLS_SQL = (
    "(SELECT LEAST(1024, GREATEST(16, "
    "CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) FROM embeddings)"
)


def _semd_n_cells(n: int) -> int:
    import math

    return min(1024, max(16, int(math.floor(math.sqrt(n)))))


def _cluster_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, cluster) under the deterministic quantizer,
    cell count scaled by the sqrt(N) rule above (one count() driver
    scalar — the same class of trip as kmeans seed collection)."""
    from stream_processing_spark.functions import similarity as sim
    from stream_processing_spark.runtime import rebalance_for_expansion

    # the assignment map is O(cells·dim) PER ROW — compute-bound, not
    # IO-bound — so a small parquet's 1-2 native partitions would
    # serialize it; spread rows across cores first (no-op when the
    # scan already has >= defaultParallelism partitions)
    emb = rebalance_for_expansion(load_table(spark, sf_dir, "embeddings"))
    cents = sim.kmeans_centroids(emb, n_cells=_semd_n_cells(emb.count()))
    if not cents:  # empty corpus: typed empty assignment frame
        return emb.select(
            "vec_id", "embedding", F.lit(0).cast("int").alias("cluster")
        ).limit(0)
    # struct-rank HOFs interpret at ~300 us/row (CodegenFallback); the
    # Arrow-batched twin is bit-exact and ~two orders cheaper at the
    # sqrt(N)-scaled cell counts this path uses (up to 1024 cells)
    cell_udf = sim._cells_vectorized_udf(cents, metric="cosine")
    return emb.select(
        "vec_id",
        "embedding",
        cell_udf(F.col("embedding")).cast("int").alias("cluster"),
    )


def _semantic_dedup_oracle() -> str:
    from stream_processing_spark.queries.llmops import _COS_SQL, _ivf_cell_sql

    return f"""
    WITH {_ivf_cell_sql(_SEMD_NCELLS_SQL)},
    cells AS (SELECT vec_id, cid AS cluster FROM ranked WHERE rn = 1),
    pairs AS (
        SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
        FROM cells a
        JOIN cells b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE ROUND({_COS_SQL.format(a="ea.embedding", b="eb.embedding")}, 6)
              >= {_SEMD_TAU}
    ),
    drops AS (SELECT DISTINCT id_b AS vec_id FROM pairs)
    SELECT CAST(c.cluster AS INT) AS cluster,
           COUNT(*) AS n_vectors,
           COUNT(d.vec_id) AS n_dropped,
           COUNT(*) - COUNT(d.vec_id) AS n_kept
    FROM cells c LEFT JOIN drops d ON d.vec_id = c.vec_id
    GROUP BY 1 ORDER BY cluster
    """


@register(
    "semantic_dedup_stats",
    _semantic_dedup_oracle(),
    doc="SemDeDup (Abbas et al. 2023) — semantic dedup via cluster-"
    "bounded pairwise cosine: assign every embedding to its k-means "
    "cell (map-side from inlined centroid literals, the same "
    "deterministic quantizer as kmeans_cluster_assignments), compare "
    f"pairs ONLY within a cell, and drop any vector with a cosine >= "
    f"{_SEMD_TAU} neighbor of smaller id — the keep-one-per-epsilon-"
    "ball rule, made order-deterministic by id dominance instead of "
    "greedy scan order. Output: per-cluster keep/drop accounting. "
    "Complements dedup_embedding_canonical (LSH buckets): clustering "
    "bounds the quadratic by CELL SIZE, which the quantizer controls "
    "(n_cells ~ sqrt(N) at scale), where LSH bounds it by bucket "
    "collision structure. Scale shape: one shuffle on (cluster) for "
    "the pair join — cells are the unit of work, so AQE splits any "
    "oversized cell's partition; the drop set and stats shuffles "
    "carry ids only.",
)
def semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.runtime import materialize

    # materialized: the cells frame feeds BOTH pair-join sides and the
    # stats scan — re-evaluating the sqrt(N)-cell assignment (an
    # O(N·cells·dim) map pass) three times dominated the sf1 wall
    cells = materialize(_cluster_cells(spark, sf_dir))
    drops = _semantic_drop_ids(cells).withColumn("__d", F.lit(1))
    return (
        cells.select("vec_id", "cluster")
        .join(drops, "vec_id", "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("__d").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("__d")).alias("n_kept"),
        )
        .orderBy("cluster")
    )


_EMB_SERVE_CAP = 100


def _embedding_pipeline_oracle() -> str:
    from stream_processing_spark.queries.llmops import _COS_SQL, _ivf_cell_sql

    return f"""
    WITH {_ivf_cell_sql(_SEMD_NCELLS_SQL)},
    cells AS (SELECT vec_id, cid AS cluster FROM ranked WHERE rn = 1),
    v1 AS (SELECT e.vec_id, c.cluster,
                  sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[]))) AS nrm
           FROM embeddings e JOIN cells c ON c.vec_id = e.vec_id),
    v2 AS (SELECT * FROM v1 WHERE nrm > 0),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM v2 a
        JOIN v2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE ROUND({_COS_SQL.format(a="ea.embedding", b="eb.embedding")}, 6)
              >= {_SEMD_TAU}
    ),
    drops AS (SELECT DISTINCT id_b AS vec_id FROM pairs),
    v3 AS (SELECT v2.* FROM v2 LEFT JOIN drops d ON d.vec_id = v2.vec_id
           WHERE d.vec_id IS NULL),
    v4 AS (SELECT * FROM v3
           QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster
                                      ORDER BY vec_id) <= {_EMB_SERVE_CAP})
    SELECT * FROM (
        SELECT 1 AS stage, 'ingest' AS label, COUNT(*) AS n_vectors,
               COUNT(DISTINCT cluster) AS n_clusters FROM v1
        UNION ALL SELECT 2, 'valid_norm', COUNT(*),
               COUNT(DISTINCT cluster) FROM v2
        UNION ALL SELECT 3, 'semantic_dedup', COUNT(*),
               COUNT(DISTINCT cluster) FROM v3
        UNION ALL SELECT 4, 'serving_cap', COUNT(*),
               COUNT(DISTINCT cluster) FROM v4
    ) ORDER BY stage
    """


@register(
    "embedding_pipeline_yield",
    _embedding_pipeline_oracle(),
    doc="The vector-side twin of curation_pipeline_yield: the embedding "
    "serving-index build funnel — ingest → norm-validity gate (a "
    "zero vector has no direction; cosine against it is undefined) → "
    "SemDeDup survivors (cluster-bounded cosine, id dominance, same "
    f"tau={_SEMD_TAU} and quantizer as semantic_dedup_stats) → "
    f"deterministic per-cell serving cap ({_EMB_SERVE_CAP} vectors/"
    "cell by id — the index-size budget an online ANN service "
    "enforces), with per-stage vector and live-cell accounting. "
    "Scale shape: one quantizer training (shared via the fingerprint "
    "cache), map-side cell assignment, the cluster-keyed pair join "
    "bounded by cell size, and a per-cell window for the cap — no "
    "stage shuffles more than (id, cluster, norm) rows.",
)
def embedding_pipeline_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from stream_processing_spark.functions import similarity as sim
    from stream_processing_spark.runtime import materialize

    # materialized for the same reason as semantic_dedup_stats: v1/v2
    # feed every later stage, and the assignment pass must run once
    v1 = materialize(
        _cluster_cells(spark, sf_dir).withColumn(
            "nrm", sim.norm(F.col("embedding"))
        )
    )
    v2 = v1.filter(F.col("nrm") > 0)
    # shared SemDeDup drop set (same tau, quantizer, and block-
    # decomposed pair join as semantic_dedup_stats) over the VALID set
    drops = _semantic_drop_ids(v2)
    v3 = v2.join(drops, "vec_id", "left_anti")
    v4 = (
        v3.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("cluster").orderBy("vec_id")
            ),
        )
        .filter(F.col("__rn") <= _EMB_SERVE_CAP)
        .drop("__rn")
    )
    out = None
    for stage, (label, df) in enumerate(
        [("ingest", v1), ("valid_norm", v2),
         ("semantic_dedup", v3), ("serving_cap", v4)],
        start=1,
    ):
        branch = df.agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("cluster").alias("n_clusters"),
        ).select(
            F.lit(stage).alias("stage"), F.lit(label).alias("label"),
            "n_vectors", "n_clusters",
        )
        out = branch if out is None else out.union(branch)
    return out.orderBy("stage")


_RP_OUT = 16
_RP_DIM = 64
_RP_SEED = 1337


def _rp_matrix() -> list[list[float]]:
    from stream_processing_spark.functions.similarity import _hyperplanes

    scale = 1.0 / (_RP_OUT ** 0.5)
    return [
        [w * scale for w in row]
        for row in _hyperplanes(_RP_DIM, _RP_OUT, seed=_RP_SEED)
    ]


def _rp_oracle() -> str:
    rows = _rp_matrix()
    exprs = ", ".join(
        "ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(w) for w in row)
        + "]), 6)"
        for row in rows
    )
    return f"""
    WITH pr AS (SELECT vec_id, [{exprs}] AS p FROM embeddings)
    SELECT vec_id, CAST(d AS INT) AS dim, p[d + 1] AS value
    FROM pr, UNNEST(range(0, {_RP_OUT})) AS u(d)
    ORDER BY vec_id, dim
    """


@register(
    "embedding_random_projection",
    _rp_oracle(),
    doc=f"Johnson-Lindenstrauss random projection {_RP_DIM}->{_RP_OUT} "
    "dims: a fixed seeded Gaussian matrix (scaled 1/sqrt(k)) applied "
    "MAP-SIDE as inlined literal dot products — zero shuffle, and the "
    "oracle evaluates the identical sequential folds, so the "
    "projection is bit-reproducible across engines. This is the "
    "standard pre-step that makes downstream ANN/clustering cheaper "
    "at 100 TB (4x fewer bytes per vector here) while approximately "
    "preserving geometry — the preservation is measured, not "
    "assumed, in test_ml.py (norm-ratio concentration band + mean, "
    "the property JL actually guarantees at this k). Long output "
    "format keeps the hash-compare scalar-typed.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.functions.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    rows = _rp_matrix()
    proj = F.array(
        *[
            F.round(
                dot(F.col("embedding"), F.array(*[F.lit(w) for w in row])), 6
            )
            for row in rows
        ]
    )
    return (
        emb.select("vec_id", F.posexplode(proj).alias("dim", "value"))
        .orderBy("vec_id", "dim")
    )


_DECAY_ANCHOR = "2024-01-31"
_DECAY_MAX_D = 30


@register(
    "decayed_user_activity",
    f"""
    WITH s AS (
        SELECT user_id,
               SUM(CAST(CAST(ROUND(value * 100) AS BIGINT)
                        * (1::HUGEINT << ({_DECAY_MAX_D}
                           - date_diff('day', CAST(ts AS DATE),
                                       DATE '{_DECAY_ANCHOR}')))
                   AS DECIMAL(38,0))) AS scaled,
               COUNT(*) AS n_events
        FROM events
        WHERE date_diff('day', CAST(ts AS DATE), DATE '{_DECAY_ANCHOR}')
              BETWEEN 0 AND {_DECAY_MAX_D}
        GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(scaled AS DOUBLE)
               / (100.0 * (1::HUGEINT << {_DECAY_MAX_D})) AS score
    FROM s
    ORDER BY score DESC, user_id
    LIMIT 20
    """,
    doc="Recency-weighted activity scoring (the feature-store shape for "
    "churn/engagement features): each event contributes value * "
    "2^-(age_days) — a half-life of one day — and the top users by "
    "decayed score surface. The trick that keeps it EXACT: base-2 "
    "decay means every weight is a binary shift, so events are summed "
    "as integer cents shifted by (max_age - age) — a DECIMAL(38,0) "
    "sum that commutes — and ONE final division by the exact power "
    "2^max_age converts to the decayed double. No pow(), no "
    "order-dependent float accumulation, bit-identical across "
    "engines; the generic-base variant would inherit libm pow "
    "differences. One groupBy shuffle carrying two numbers per user.",
)
def decayed_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    age = F.datediff(
        F.lit(_DECAY_ANCHOR).cast("date"), F.to_date("ts")
    )
    # events outside [anchor - MAX_D, anchor] would make the shift
    # count negative, where Spark masks mod 64 and DuckDB's HUGEINT
    # shift differs — filter to the defined decay window in BOTH
    # engines (the oracle carries the same BETWEEN predicate)
    ev = ev.filter(age.between(0, _DECAY_MAX_D))
    cents = F.round(F.col("value") * 100).cast("bigint")
    # shiftleft's python wrapper wants an int literal shift; the SQL
    # function form takes a column
    shift = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({_DECAY_MAX_D} - "
        f"datediff(DATE'{_DECAY_ANCHOR}', to_date(ts)) AS INT))"
    )
    scaled = cents * shift
    s = ev.groupBy("user_id").agg(
        F.sum(scaled.cast("decimal(38,0)")).alias("scaled"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        s.select(
            "user_id",
            "n_events",
            (
                F.col("scaled").cast("double")
                / F.lit(100.0 * float(1 << _DECAY_MAX_D))
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("user_id"))
        .limit(20)
    )


_AR_MIN_SUPPORT = 2
_AR_TOP = 25


@register(
    "association_rules_parts",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    item AS (SELECT l_partkey, COUNT(*) AS cnt FROM op GROUP BY 1),
    pair AS (
        SELECT a.l_partkey AS ante, b.l_partkey AS cons, COUNT(*) AS both
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_AR_MIN_SUPPORT}
    )
    SELECT p.ante, p.cons, p.both,
           CAST(p.both AS DOUBLE) / ia.cnt AS confidence,
           ROUND(CAST(p.both AS DOUBLE) * n.n_orders
                 / (CAST(ia.cnt AS DOUBLE) * ic.cnt), 6) AS lift
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.ante
    JOIN item ic ON ic.l_partkey = p.cons
    CROSS JOIN n
    ORDER BY lift DESC, confidence DESC, ante, cons
    LIMIT {_AR_TOP}
    """,
    doc=f"Market-basket association rules over part co-purchases: "
    f"support-filtered (>= {_AR_MIN_SUPPORT} shared orders — baskets "
    "stay constant-size as the catalog grows, so absolute "
    "co-occurrence THINS with scale and the support knob is "
    "deliberately low) pairs "
    "scored by confidence = P(cons|ante) and lift = "
    "P(both)/(P(ante)P(cons)), top rules by lift with a total "
    "tie-break. Scale shape: pairs generate PER ORDER (bounded by "
    "basket size, never a global item self-join), the support filter "
    "kills the long tail before the scoring joins, and the item "
    "marginals broadcast. Arithmetic is exact-integer counts with a "
    "single rounded float expression per rule, so the oracle "
    "hash-matches. Completes the co-occurrence family beside "
    "token_cooccurrence_lift (tokens) with the per-basket variant "
    "ranking engines actually ship for recommendations.",
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("ante"))
    b = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("cons"))
    pair = (
        a.join(b, "o")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("both"))
        .filter(F.col("both") >= _AR_MIN_SUPPORT)
    )
    ia = item.select(F.col("l_partkey").alias("ante"), F.col("cnt").alias("ca"))
    ic = item.select(F.col("l_partkey").alias("cons"), F.col("cnt").alias("cc"))
    return (
        pair.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ante", "cons", "both",
            (F.col("both").cast("double") / F.col("ca")).alias("confidence"),
            F.round(
                F.col("both").cast("double") * F.col("n_orders")
                / (F.col("ca").cast("double") * F.col("cc")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.desc("confidence"), "ante", "cons")
        .limit(_AR_TOP)
    )


# --------------------------------------------- power-iteration PC1

_PI_ROUNDS = 3
_PI_DIM = 64


def _power_iter_oracle(rounds: int = _PI_ROUNDS, dim: int = _PI_DIM) -> str:
    """Unrolled power-iteration ladder over exact decimal dot products
    (every double product rounded to 9dp and decimal-summed, so the
    parallel reductions are order-independent in both engines)."""
    parts = [
        f"""
    x AS MATERIALIZED (
        SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, UNNEST(range(1, {dim + 1})) AS u(i)
    ),
    v0 AS MATERIALIZED (
        SELECT i AS pos, CAST(0.125 AS DOUBLE) AS v
        FROM UNNEST(range(0, {dim})) AS t(i)
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
    s{r} AS MATERIALIZED (
        SELECT x.vec_id,
               ROUND(CAST(SUM(CAST(ROUND(x.val * v.v, 9)
                                   AS DECIMAL(28,9))) AS DOUBLE), 6) AS s
        FROM x JOIN v{r - 1} v USING (pos) GROUP BY x.vec_id
    ),
    n{r} AS MATERIALIZED (
        SELECT x.pos,
               CAST(SUM(CAST(ROUND(s.s * x.val, 9) AS DECIMAL(28,9)))
                    AS DOUBLE) AS num
        FROM x JOIN s{r} s USING (vec_id) GROUP BY x.pos
    ),
    v{r} AS MATERIALIZED (
        SELECT pos,
               ROUND(num / (SELECT SQRT(CAST(SUM(CAST(ROUND(num * num, 9)
                                                      AS DECIMAL(28,9)))
                                             AS DOUBLE)) FROM n{r}), 6) AS v
        FROM n{r}
    )""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT pos, v AS loading FROM v{rounds}"""
    )


@register(
    "embedding_power_iteration_pc1",
    _power_iter_oracle(),
    doc=f"Top principal direction of the embedding matrix via "
    f"{_PI_ROUNDS} POWER-ITERATION rounds — the covariance-free PCA "
    "step a feature-analysis / whitening pipeline runs at scale: "
    "v' = normalize(X^T (X v)), never materializing the d x d Gram "
    "matrix. Each round is two linear passes (per-vector score "
    "s_i = x_i . v, then per-dimension accumulation sum_i s_i x_ij) "
    "with the direction vector living as a d-row frame, BROADCAST to "
    "the scorers — no driver collect anywhere, so the loop shape is "
    "exactly what a 1000-executor run needs. Determinism: every "
    "double product is rounded to 9dp and DECIMAL-summed (parallel "
    "reduction order-independent), scores and loadings re-rounded "
    "6dp per round, deterministic all-0.125 init; the oracle replays "
    "the iterations as an unrolled MATERIALIZED-CTE ladder. Sign and "
    "convergence are therefore bit-reproducible in any engine.",
)
def embedding_power_iteration_pc1(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stream_processing_spark.runtime import (
        materialize,
        rebalance_for_expansion,
    )

    emb = rebalance_for_expansion(load_table(spark, sf_dir, "embeddings"))
    # hash-partition the exploded frame by vec_id BEFORE materializing:
    # localCheckpoint preserves outputPartitioning, so every round's
    # score groupBy and x-join on vec_id reuse it exchange-free — the
    # only per-round shuffle left is the tiny per-dimension aggregate
    # (64 groups after map-side combine). Decimal sums are
    # order-independent, so the repartition cannot change any value.
    x = materialize(
        emb.select(
            "vec_id", F.posexplode("embedding").alias("pos", "val")
        )
        .select(
            "vec_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.col("val").cast("double").alias("val"),
        )
        .repartition("vec_id"),
        eager=False,
    )
    v = spark.range(_PI_DIM).select(
        F.col("id").alias("pos"), F.lit(0.125).alias("v")
    )
    d9 = "decimal(28,9)"
    # Exact-sum hot path, integer-scaled (r10 profile: per-row
    # DECIMAL(28,9) creation + decimal partial sums were 3.1 s of each
    # 5.1 s round at sf1; longs are plain codegen arithmetic). A
    # 9dp-rounded double d is the nearest double to k/1e9 for integer
    # k, so rint(d * 1e9) recovers k EXACTLY (|d·1e9 − k| ≪ 0.5 for
    # |k| ≪ 2^52); long sums of k are exact for |Σk| < 2^63; the
    # per-GROUP finish multiplies by decimal '0.000000001' (exact
    # scale-9 decimal) and casts to double — the identical
    # once-rounded value the old decimal-sum ladder produced, which
    # is what the unchanged DuckDB oracle still computes. Capacity:
    # |k| <= ~1e10 here, so a long sum holds ~1e9 rows per group
    # (9.2e18 / 1e10) — beyond that, shard the sum into high/low
    # words or fall back to the decimal ladder.
    def _exact9(col):  # 9dp-rounded double -> exact integer 1e9*value
        return F.rint(F.round(col, 9) * F.lit(1e9)).cast("long")

    e9 = F.expr("CAST('0.000000001' AS DECIMAL(10,9))")

    def _to_double(sum_col):  # exact long sum -> once-rounded double
        # decimal(27,0) x decimal(10,9) -> decimal(38,9): inside the
        # 38-digit cap, so the product is EXACT (a 38,0 operand would
        # push precision to 49 and make Spark silently round)
        return (sum_col.cast("decimal(27,0)") * e9).cast("double")

    for _ in range(_PI_ROUNDS):
        s = (
            x.join(F.broadcast(v), "pos")
            .groupBy("vec_id")
            .agg(
                F.round(
                    _to_double(F.sum(_exact9(F.col("val") * F.col("v")))),
                    6,
                ).alias("s")
            )
        )
        n = (
            x.join(s, "vec_id")
            .groupBy("pos")
            .agg(
                _to_double(
                    F.sum(_exact9(F.col("s") * F.col("val")))
                ).alias("num")
            )
        )
        nrm = n.agg(
            F.sqrt(
                F.sum(F.round(F.col("num") * F.col("num"), 9).cast(d9))
                .cast("double")
            ).alias("nrm")
        )
        v = materialize(
            n.crossJoin(F.broadcast(nrm)).select(
                "pos", F.round(F.col("num") / F.col("nrm"), 6).alias("v")
            ),
            eager=False,
        )
    return v.select("pos", F.col("v").alias("loading"))


_DIMVAR_K = 10


@register(
    "embedding_dim_variance_topk",
    f"""
    WITH x AS (
        SELECT i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, 65)) AS u(i)
    ),
    agg AS (
        SELECT CAST(pos AS BIGINT) AS pos,
               COUNT(*) AS n,
               SUM(CAST(ROUND(v, 9) AS DECIMAL(28,9))) AS s1,
               SUM(CAST(ROUND(v * v, 9) AS DECIMAL(28,9))) AS s2
        FROM x GROUP BY pos
    )
    SELECT pos, n,
           ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean_val,
           ROUND(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                 6) AS variance
    FROM agg
    ORDER BY variance DESC, pos ASC
    LIMIT {_DIMVAR_K}
    """,
    doc=f"Top-{_DIMVAR_K} highest-variance embedding dimensions "
    "(mean + population variance per dim) — the feature-selection / "
    "whitening-prep scan run before PCA or scalar quantization. "
    "Exact arithmetic: per-dim sums of 9dp-rounded values as "
    "DECIMAL(28,9) (order-independent), ONE double division chain per "
    "dim, variance = E[x²] − E[x]² with both divisions written "
    "identically in both engines. Scale shape: explode is rebalanced "
    "across cores, the aggregation has 64 groups with map-side "
    "partials — no join, no broadcast, one tiny shuffle; LIMIT "
    "carries a total (variance DESC, pos) tie-break.",
)
def embedding_dim_variance_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stream_processing_spark.runtime import rebalance_for_expansion

    emb = rebalance_for_expansion(load_table(spark, sf_dir, "embeddings"))
    x = emb.select(
        F.posexplode("embedding").alias("pos", "val")
    ).select(
        F.col("pos").cast("bigint").alias("pos"),
        F.col("val").cast("double").alias("v"),
    )
    d9 = "decimal(28,9)"
    agg = x.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("v"), 9).cast(d9)).alias("s1"),
        F.sum(F.round(F.col("v") * F.col("v"), 9).cast(d9)).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    return (
        agg.select(
            "pos",
            "n",
            F.round(mean, 6).alias("mean_val"),
            F.round(
                F.col("s2").cast("double") / F.col("n") - mean * mean, 6
            ).alias("variance"),
        )
        .orderBy(F.desc("variance"), F.asc("pos"))
        .limit(_DIMVAR_K)
    )
