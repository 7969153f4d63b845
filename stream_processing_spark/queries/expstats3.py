"""Experimentation / metrics tier III (round 13).

The parked NOTES_r13 families, each with the full r12 discipline
(DuckDB oracle + hand-computed fixture test + empty/NULL sweeps +
sf1 SCALING row):

- t-digest-style mergeable quantile sketch over the value histogram —
  the one approximate-aggregate shape the engine was missing whose
  construction is DETERMINISTIC and therefore exactly oracle-
  certifiable (the k1 scale-function clustering from Dunning &
  Ertl's t-digest paper, applied to rank midpoints of the exact
  histogram instead of arrival order);
- seasonal Mann-Kendall (per-weekday seasons, Hirsch & Slack) over
  daily event counts;
- median (τ=0.5 pinball-loss) regression via a slope grid around the
  OLS fit — the outlier-robust trend line;
- HyperLogLog++ sparse-mode twin (linear counting at p'=25 over the
  same content-addressed 48-bit hash as hll_manual_distinct_users);
- sessionized funnel with timeout windows (30-min inactivity
  sessions × ordered view→click→purchase steps).

Reference analogue: none — the reference engine (Nyepes/
Stream-Processing) has only per-key running counts
(src/Streaming/worker.py:255-262); this tier is part of the mandated
beyond-reference analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.functions.keys import value_hash
from stream_processing_spark.operators.sessionize import with_sessions
from stream_processing_spark.queries import register
from stream_processing_spark.runtime import materialize

# ------------------------------------------------- t-digest quantiles

_TD_DELTA = 100
# δ / (2π) folded to one double literal so Spark and DuckDB evaluate
# the identical constant (no cross-engine PI()/division re-derivation)
_TD_SCALE = 15.915494309189535


@register(
    "tdigest_value_quantiles",
    f"""
    WITH hist AS (
        SELECT CAST(FLOOR(value * 100) AS BIGINT) AS c,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    nn AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n FROM hist),
    cum AS (
        SELECT c, cnt, SUM(cnt) OVER (ORDER BY c) AS cumn FROM hist
    ),
    kd AS (
        SELECT c, cnt,
               CAST(FLOOR(ROUND({_TD_SCALE!r} * ASIN(
                   CAST(2 * cumn - cnt - n AS DOUBLE) / n), 9))
                   AS BIGINT) AS cid
        FROM cum CROSS JOIN nn
    ),
    cent AS (
        SELECT cid, CAST(SUM(cnt) AS BIGINT) AS w,
               ROUND(CAST(SUM(CAST(c AS DECIMAL(38,0)) * cnt)
                          AS DOUBLE) / SUM(cnt) / 100, 6) AS mean_v
        FROM kd GROUP BY cid
    ),
    cc AS (
        SELECT cid, w, mean_v, SUM(w) OVER (ORDER BY cid) AS cumw
        FROM cent
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_centroids,
               CAST(MAX(w) AS BIGINT) AS max_centroid_w,
               MIN(CASE WHEN cumw >= (50 * n + 99) // 100
                   THEN mean_v END) AS q50,
               MIN(CASE WHEN cumw >= (90 * n + 99) // 100
                   THEN mean_v END) AS q90,
               MIN(CASE WHEN cumw >= (99 * n + 99) // 100
                   THEN mean_v END) AS q99
        FROM cc CROSS JOIN nn
    )
    SELECT n.n AS n_values, s.n_centroids, s.max_centroid_w,
           s.q50, s.q90, s.q99
    FROM stats s CROSS JOIN nn n
    """,
    doc="t-digest-style quantile sketch over event values, built "
    "DETERMINISTICALLY so it is exactly oracle-certifiable: each "
    "cent-value level of the exact histogram is assigned the centroid "
    f"floor(δ/(2π)·asin(2q−1)) at its rank midpoint q (δ={_TD_DELTA}, "
    "the k1 scale function from the t-digest paper — fine near the "
    "tails, coarse in the middle), centroids aggregate (weight, exact "
    "DECIMAL mean), and quantiles are first-centroid-at-rank picks "
    "over the ≤ δ/2+2-row centroid frame. Unlike arrival-order "
    "t-digest construction this depends only on the value "
    "DISTRIBUTION, so it is stable under repartition/rerun — and "
    "mergeable: re-clustering unioned centroid sets preserves the "
    "k1 size bound (tests/test_r13_ops.py exercises a two-way "
    "merge). The asin argument (2·cumn−cnt−n)/n is exact-integer "
    "until ONE double division; k is rounded to 9dp before floor "
    "(the ln-term cross-engine discipline). Scale shape: one corpus "
    "aggregation to the value-DOMAIN histogram; the rank walk is the "
    "range-partitioned prefix scan; the centroid frame is "
    "δ-domain-bounded (cid ∈ [−δ/4−1, δ/4], so ≤ 52 rows at "
    f"δ={_TD_DELTA}) — its cumulative window and the 1-row n "
    "broadcast are constant-size. Exactly one output row (zero "
    "counts / NULL quantiles on an empty table).",
)
def tdigest_value_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stream_processing_spark.operators.prefixsum import (
        range_prefix_sum,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    # the histogram feeds the total AND the prefix scan's branches:
    # eager checkpoint runs the corpus aggregation once (r13 one-scan
    # rule, VERDICT r12 weak #1)
    hist = materialize(ev.groupBy(
        F.floor(F.col("value") * 100).cast("bigint").alias("c")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    nn = hist.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n")
    )
    cum = range_prefix_sum(
        hist, "c", {"cumn": "cnt"}, materialize=False
    ).crossJoin(F.broadcast(nn))
    arg = (2 * F.col("cumn") - F.col("cnt") - F.col("n")).cast(
        "double"
    ) / F.col("n")
    cid = F.floor(
        F.round(F.lit(_TD_SCALE) * F.asin(arg), 9)
    ).cast("bigint")
    cent = (
        cum.select(cid.alias("cid"), "c", "cnt")
        .groupBy("cid")
        .agg(
            F.sum("cnt").cast("bigint").alias("w"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("cnt")).alias(
                "sc"
            ),
        )
        .select(
            "cid",
            "w",
            F.round(
                F.col("sc").cast("double") / F.col("w") / 100, 6
            ).alias("mean_v"),
        )
    )
    # the centroid frame is δ-domain-bounded (≤ ~52 rows): a plain
    # cumulative window is the right plan (WINDOW_OK)
    wc = Window.orderBy("cid")
    cc = cent.select(
        "cid", "w", "mean_v", F.sum("w").over(wc).alias("cumw")
    ).crossJoin(F.broadcast(nn))

    def pick(p: int):
        k = F.expr(f"({p} * n + 99) div 100")
        return F.min(F.when(F.col("cumw") >= k, F.col("mean_v")))

    stats = cc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_centroids"),
        F.max("w").cast("bigint").alias("max_centroid_w"),
        pick(50).alias("q50"),
        pick(90).alias("q90"),
        pick(99).alias("q99"),
    )
    return stats.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_values"),
        "n_centroids",
        "max_centroid_w",
        "q50",
        "q90",
        "q99",
    )


# --------------------------------------- seasonal Mann-Kendall trend


@register(
    "seasonal_mann_kendall_weekday",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ISODOW(CAST(ts AS DATE)) - 1 AS BIGINT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    pairs AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN b.x > a.x THEN 1
                                      WHEN b.x < a.x THEN -1
                                      ELSE 0 END), 0)
                    AS BIGINT) AS s
        FROM daily a JOIN daily b
          ON a.dow = b.dow AND a.day < b.day
    ),
    seas AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS ng FROM daily GROUP BY dow
    ),
    varn AS (
        SELECT CAST(COALESCE(SUM(CAST(ng AS DECIMAL(19,0)) * (ng - 1)
                                 * (2 * ng + 5)), 0)
                    AS DECIMAL(38,0)) AS vn,
               CAST(COUNT(*) AS BIGINT) AS n_seasons,
               CAST(COALESCE(SUM(ng), 0) AS BIGINT) AS n_days
        FROM seas
    ),
    ties AS (
        SELECT CAST(COALESCE(SUM(CAST(t AS DECIMAL(19,0)) * (t - 1)
                                 * (2 * t + 5)), 0)
                    AS DECIMAL(38,0)) AS tcorr
        FROM (SELECT dow, x, COUNT(*) AS t FROM daily GROUP BY dow, x)
        WHERE t > 1
    )
    SELECT v.n_days, v.n_seasons, p.s AS s_stat,
           ROUND((CASE WHEN p.s > 0 THEN p.s - 1
                       WHEN p.s < 0 THEN p.s + 1
                       ELSE 0 END)
                 / NULLIF(SQRT((CAST(v.vn AS DOUBLE)
                                - CAST(t.tcorr AS DOUBLE)) / 18), 0), 6)
               AS z_smk
    FROM pairs p CROSS JOIN varn v CROSS JOIN ties t
    """,
    doc="Seasonal Mann-Kendall trend test (Hirsch & Slack) on daily "
    "event counts with WEEKDAY seasons: S = Σ_g Σ_{i<j in season g} "
    "sign(x_j − x_i) — pairs compare only like weekdays, so a strong "
    "weekly cycle (quiet Sundays) cannot masquerade as or mask a "
    "monotone trend the plain mann_kendall_daily_trend would "
    "mis-score. Per-season variances n_g(n_g−1)(2n_g+5) and "
    "within-season tie corrections sum in DECIMAL(38); the "
    "continuity-corrected z is one double expression. Scale shape: "
    "one corpus aggregation to the (day × weekday) frame "
    "(day-DOMAIN-bounded, eager-checkpointed once for its four "
    "consumers), a within-season pair join that is an EQUI-join on "
    "the 7-value weekday key over that bounded frame, and 1-row "
    "broadcasts. NULL-ts events have no day and are excluded. "
    "Exactly one output row; degenerate seasons (n_g < 2 everywhere) "
    "yield NULL z.",
)
def seasonal_mann_kendall_weekday(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    # day-domain-bounded frame, referenced by pairs (twice), seasons
    # and ties: eager checkpoint runs the corpus aggregation once
    daily = materialize(
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select(
            "day", F.weekday("day").cast("bigint").alias("dow"), "x"
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.dow") == F.col("b.dow"))
        & (F.col("a.day") < F.col("b.day")),
    ).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("s")
    )
    ng = F.col("ng")
    varn = (
        daily.groupBy("dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ng"))
        .agg(
            F.coalesce(
                F.sum(
                    ng.cast("decimal(19,0)") * (ng - 1) * (2 * ng + 5)
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("vn"),
            F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
            F.coalesce(F.sum("ng"), F.lit(0))
            .cast("bigint")
            .alias("n_days"),
        )
    )
    t = F.col("t")
    ties = (
        daily.groupBy("dow", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(t > 1)
        .agg(
            F.coalesce(
                F.sum(t.cast("decimal(19,0)") * (t - 1) * (2 * t + 5)),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("tcorr")
        )
    )
    m = pairs.crossJoin(F.broadcast(varn)).crossJoin(F.broadcast(ties))
    s = F.col("s")
    num = (
        F.when(s > 0, s - 1).when(s < 0, s + 1).otherwise(0)
    ).cast("double")
    var = (
        F.col("vn").cast("double") - F.col("tcorr").cast("double")
    ) / 18
    return m.select(
        "n_days",
        "n_seasons",
        s.alias("s_stat"),
        F.round(
            num / F.nullif(F.sqrt(var), F.lit(0.0)), 6
        ).alias("z_smk"),
    )


# --------------------------------------- median (pinball) regression

_QR_GRID = 10  # slope candidates b = OLS·(5+j)/10, j = 0..10


@register(
    "quantile_regression_pinball",
    f"""
    WITH base AS (
        SELECT CAST(l_quantity AS DOUBLE) AS xq,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS yc
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(xq AS DECIMAL(12,2))) AS DOUBLE) AS sx,
               CAST(SUM(yc) AS DOUBLE) AS sy,
               CAST(SUM(CAST(CAST(xq AS DECIMAL(12,2)) * yc
                             AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(CAST(xq AS DECIMAL(12,2))
                             * CAST(xq AS DECIMAL(12,2))
                             AS DECIMAL(38,4))) AS DOUBLE) AS sxx
        FROM base
    ),
    fit AS (
        SELECT n, ROUND((n * sxy - sx * sy)
                        / NULLIF(n * sxx - sx * sx, 0), 6) AS rs
        FROM st
    ),
    cand AS (
        SELECT g.j, (f.rs * (5 + g.j)) / 10 AS b
        FROM fit f
        CROSS JOIN (SELECT UNNEST(generate_series(0, {_QR_GRID}))
                    AS j) g
        WHERE f.rs IS NOT NULL
    ),
    rh AS (
        SELECT c.j,
               CAST(FLOOR((e.yc - c.b * e.xq) / 100) AS BIGINT) AS r,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM base e CROSS JOIN cand c GROUP BY 1, 2
    ),
    cum AS (
        SELECT j, r, cnt, SUM(cnt) OVER (PARTITION BY j ORDER BY r)
               AS cumn
        FROM rh
    ),
    aj AS (
        SELECT j, MIN(CASE WHEN cumn >= (n + 1) // 2 THEN r END) AS a
        FROM cum CROSS JOIN fit GROUP BY j
    ),
    loss AS (
        SELECT h.j, a.a,
               CAST(SUM(CAST(ABS(h.r - a.a) AS DECIMAL(38,0)) * h.cnt)
                    AS DECIMAL(38,0)) AS l
        FROM rh h JOIN aj a USING (j) GROUP BY 1, 2
    ),
    best AS (SELECT j, a, l FROM loss ORDER BY l, j LIMIT 1)
    SELECT f.n AS n_rows, f.rs AS slope_ols,
           ROUND((f.rs * (5 + b.j)) / 10, 6) AS b_best,
           CAST(b.a AS DOUBLE) AS intercept_best,
           ROUND(CAST(b.l AS DOUBLE) / 2 / f.n, 6)
               AS mean_pinball
    FROM best b CROSS JOIN fit f
    """,
    doc="Median (τ=0.5 pinball-loss) regression of extended price on "
    f"quantity via a {_QR_GRID + 1}-point slope grid spanning "
    "0.5×–1.5× the exact-DECIMAL OLS slope: for each candidate b the "
    "optimal intercept is the LOWER MEDIAN of the residual-cents "
    "histogram (a closed-form property of pinball loss), and the "
    "winner minimizes Σ|r−a| folded exactly in DECIMAL(38) with ties "
    "broken toward the smaller grid index — the outlier-robust trend "
    "line to report beside linreg_price_on_quantity. floor(b·x) is "
    "deterministic cross-engine (both sides compute the identical "
    "IEEE double product). Scale shape: ONE corpus aggregation to "
    "the (quantity, price-cents) JOINT histogram — quantity is "
    "domain-bounded and prices are per-part, so the pair frame "
    "compresses ~10× at sf1 — from which the OLS moments fold "
    "EXACTLY (integer-multiple identity) and the 11-row candidate "
    "broadcast expands into per-candidate residual histograms "
    "(≈ 11× the dollar-residual DOMAIN), the per-candidate median "
    "walk is the GROUPED range-partitioned prefix scan, and the "
    "11-row loss frame folds to one output row. "
    "Zero rows on an empty/degenerate (constant-x) input, like "
    "conformal_linreg_intervals.",
)
def quantile_regression_pinball(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    # ONE corpus scan to the (quantity, price-cents) JOINT histogram:
    # quantity is domain-bounded (1-50) and each part carries one base
    # price, so the pair frame compresses ~10× at sf1 (6M rows →
    # 600k pairs, measured) — and every downstream quantity folds
    # EXACTLY from it: the OLS moments are integer multiples
    # (Σ_rows f(x,y) ≡ Σ_pairs f(x,y)·cnt in DECIMAL), and the
    # residual expansion multiplies 11 × |pairs| instead of
    # 11 × |corpus| (this cut the sf1 wall ~2×; the r13 sweep's
    # pre-rewrite 6.2×/dec was the 11× row expansion, not a hidden
    # quadratic). Eager checkpoint: the histogram feeds the moments
    # AND the residual expansion.
    hist0 = materialize(
        li.select(
            F.col("l_quantity").cast("double").alias("xq"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("yc"),
        )
        .groupBy("xq", "yc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    xd = F.col("xq").cast("decimal(12,2)")
    st = hist0.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum((xd * F.col("cnt")).cast("decimal(38,2)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.col("yc") * F.col("cnt")).cast("double").alias("sy"),
        F.sum(
            ((xd * F.col("yc")).cast("decimal(38,2)") * F.col("cnt"))
            .cast("decimal(38,2)")
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            ((xd * xd).cast("decimal(38,4)") * F.col("cnt"))
            .cast("decimal(38,4)")
        )
        .cast("double")
        .alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    # the 1-row fit feeds the candidate grid, the median ranks AND the
    # final output row: eager checkpoint runs the moment fold once
    fit = materialize(st.select(
        "n",
        F.round(
            (n * F.col("sxy") - sx * sy)
            / F.nullif(n * F.col("sxx") - sx * sx, F.lit(0.0)),
            6,
        ).alias("rs"),
    ))
    cand = (
        fit.filter(F.col("rs").isNotNull())
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(_QR_GRID))).alias("j"),
            F.col("rs"),
        )
        .select(
            "j", ((F.col("rs") * (5 + F.col("j"))) / 10).alias("b")
        )
    )
    # per-candidate residual histogram from the pair histogram; the
    # 11-row grid is broadcast so the expansion is map-side. r13 opt:
    # the histogram is SINGLE-referenced now (the loss folds in closed
    # form from the cumulative scan below instead of a second rh
    # pass), so no checkpoint — one streamlined evaluation.
    # ONE exchange for the whole tail (r14, guide §2.4): an explicit
    # hash repartition on j lets BOTH the (j, r) aggregation and the
    # cumulative window below ride the same partitioning —
    # HashPartitioning(j) satisfies the aggregation's ClusteredDistri-
    # bution((j, r)) and the window's ClusteredDistribution((j)) — so
    # the planner inserts no further exchange. The r13 shape paid two:
    # hash(j, r) for the aggregation, then hash(j) for the window, and
    # AQE coalesced both to ~1 task (the shuffled bytes sit far under
    # the 64 MB advisory size), serializing the tail; the pinned
    # partition count keeps all 11 candidate groups spread (22 buckets
    # put the 11 j values in 10 distinct partitions — measured; a
    # round 32 leaves 8). The exchange carries the un-preaggregated
    # 11×|hist0| expansion, which is bounded by 11× the (quantity ×
    # price) pair DOMAIN at scale — never the corpus.
    rh = (
        hist0.crossJoin(F.broadcast(cand))
        .select(
            "j",
            F.floor(
                (F.col("yc") - F.col("b") * F.col("xq")) / 100
            ).cast("bigint").alias("r"),
            "cnt",
        )
        .repartition(22, "j")
        .groupBy("j", "r")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    # Cumulative scan per candidate, accumulating BOTH Σcnt and Σr·cnt
    # so the pinball loss folds in closed form from the SAME pass: with
    # C_a = Σ_{r≤a} cnt, S_a = Σ_{r≤a} r·cnt, T = Σ r·cnt and N = n,
    #   Σ|r−a|·cnt = (a·C_a − S_a) + (T − S_a − a·(N − C_a))
    #              = T − 2·S_a + a·(2·C_a − N)
    # — an integer/DECIMAL identity (keys are unique per j after the
    # groupBy, so the ties-inclusive cumulative at r=a is exactly the
    # ≤a split), bit-identical to the old second-pass Σ|r−a|·cnt join
    # but one full rh pass cheaper. The window partitioned by j is
    # scale-safe WITHOUT the prefix-scan machinery: each candidate's
    # frame is the dollar-floored residual DOMAIN (≤ ~220k values —
    # bounded by the price domain, never the corpus), exactly the
    # bounded-task walk range_prefix_sum's adaptive small-frame path
    # would pick, minus its count/checkpoint/extent stages.
    w_j = Window.partitionBy("j").orderBy(F.col("r").asc_nulls_first())
    cum = rh.select(
        "j",
        "r",
        F.sum("cnt").over(w_j).alias("cumn"),
        F.sum((F.col("r") * F.col("cnt")).cast("decimal(38,0)"))
        .over(w_j)
        .alias("cums"),
    ).crossJoin(F.broadcast(fit))
    aj = cum.groupBy("j").agg(
        F.min(
            F.when(
                F.col("cumn") >= F.expr("(n + 1) div 2"),
                F.struct(
                    F.col("r").alias("a"),
                    F.col("cumn").alias("ca"),
                    F.col("cums").alias("sa"),
                ),
            )
        ).alias("m"),
        F.max(F.struct(F.col("r"), F.col("cums"))).getField("cums")
        .alias("t"),
        F.max("cumn").alias("nj"),
    )
    loss = aj.select(
        "j",
        F.col("m.a").alias("a"),
        (
            F.col("t")
            - 2 * F.col("m.sa")
            + F.col("m.a").cast("decimal(38,0)")
            * (2 * F.col("m.ca") - F.col("nj")).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("l"),
    )
    best = loss.agg(
        F.min(F.struct(F.col("l"), F.col("j"), F.col("a"))).alias("b")
    ).select(
        F.col("b.l").alias("l"),
        F.col("b.j").alias("j"),
        F.col("b.a").alias("a"),
    ).filter(F.col("j").isNotNull())
    return best.crossJoin(F.broadcast(fit)).select(
        F.col("n").alias("n_rows"),
        F.col("rs").alias("slope_ols"),
        F.round((F.col("rs") * (5 + F.col("j"))) / 10, 6).alias(
            "b_best"
        ),
        F.col("a").cast("double").alias("intercept_best"),
        F.round(
            F.col("l").cast("double") / 2 / F.col("n"), 6
        ).alias("mean_pinball"),
    )


# ------------------------------------ HyperLogLog++ sparse-mode twin

_HPP_P = 25                      # sparse precision (HLL++ §5.3)
_HPP_M = 2 ** _HPP_P             # 33_554_432 virtual registers
_HPP_SHIFT = 2 ** (48 - _HPP_P)  # 48-bit hash → top-25-bit index
_HPP_SPARSE_MAX = _HPP_M // 32   # list-overflow switch point


@register(
    "hllpp_sparse_distinct_users",
    f"""
    WITH h AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                    1, 12)) AS BIGINT)
                   // {_HPP_SHIFT} AS idx
        FROM events WHERE user_id IS NOT NULL
    ),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM h),
    ex AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT {_HPP_P} AS p_sparse, v.nv AS v_distinct_idx,
           CASE WHEN v.nv <= {_HPP_SPARSE_MAX} THEN 'sparse'
                ELSE 'promote-dense' END AS mode,
           ROUND(CASE WHEN v.nv = 0 THEN 0.0
                      ELSE {_HPP_M}.0
                           * LN({_HPP_M}.0 / ({_HPP_M} - v.nv)) END,
                 6) AS estimate,
           ex.n_exact,
           ROUND(CASE WHEN ex.n_exact = 0 THEN 0.0
                      ELSE ABS(CASE WHEN v.nv = 0 THEN 0.0
                                    ELSE {_HPP_M}.0
                                         * LN({_HPP_M}.0
                                              / ({_HPP_M} - v.nv)) END
                               - ex.n_exact) / ex.n_exact END, 6)
               AS rel_error
    FROM v CROSS JOIN ex
    """,
    doc="HyperLogLog++ SPARSE-mode distinct-user estimate — the twin "
    "hll_manual_distinct_users (dense m=64 registers) was missing: "
    "below the list-overflow threshold HLL++ §5.3 stores only the "
    f"distinct p'={_HPP_P}-bit bucket indices and estimates with "
    "LINEAR COUNTING m'·ln(m'/(m'−V)) over the m'=2^25 virtual "
    "register space, which is near-exact until collisions appear. "
    "Same content-addressed 48-bit md5 hash as the dense twin (stable "
    "under repartition/rerun/engine); ln is rounded to 6dp (the "
    "cross-engine libm discipline). The mode column reports when a "
    "real HLL++ would promote the sparse list to dense registers. "
    "Scale shape: one distinct-aggregate over the 2^25-bounded index "
    "domain plus the exact-count aggregate the report compares "
    "against, both single-shuffle; 1-row broadcasts only. Exactly "
    "one output row (zero estimate on an empty table).",
)
def hllpp_sparse_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    v48 = value_hash(F.col("user_id").cast("string"), 12)
    # division by 2^23 is an exact binary-exponent shift, so the
    # floor equals DuckDB's integer // on every 48-bit value
    idx = ev.select(
        F.floor(v48 / F.lit(_HPP_SHIFT)).cast("bigint").alias("idx")
    )
    nv = idx.distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("nv")
    )
    exact = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    m = float(_HPP_M)
    est = F.when(F.col("nv") == 0, F.lit(0.0)).otherwise(
        F.lit(m) * F.log(F.lit(m) / (F.lit(_HPP_M) - F.col("nv")))
    )
    return nv.crossJoin(F.broadcast(exact)).select(
        F.lit(_HPP_P).alias("p_sparse"),
        F.col("nv").alias("v_distinct_idx"),
        F.when(F.col("nv") <= _HPP_SPARSE_MAX, "sparse")
        .otherwise("promote-dense")
        .alias("mode"),
        F.round(est, 6).alias("estimate"),
        "n_exact",
        F.round(
            F.when(F.col("n_exact") == 0, F.lit(0.0)).otherwise(
                F.abs(est - F.col("n_exact")) / F.col("n_exact")
            ),
            6,
        ).alias("rel_error"),
    )


# ------------------------------- sessionized funnel (timeout windows)

_FUNNEL_GAP_S = 1800
_FUNNEL_STEPS = ("view", "click", "purchase")

_FUNNEL_SQL = f"""
    WITH e AS (
        SELECT user_id, event_id, ts, event_type
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR date_diff('microsecond', LAG(ts) OVER w, ts)
                         > {_FUNNEL_GAP_S} * 1000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING)
                   AS session_seq
        FROM flagged
    ),
    ns AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM (SELECT DISTINCT user_id, session_seq FROM sess)
    ),
    s1 AS (
        SELECT user_id, session_seq, MIN(ts) AS t1 FROM sess
        WHERE event_type = '{_FUNNEL_STEPS[0]}'
        GROUP BY 1, 2
    ),
    s2 AS (
        SELECT s.user_id, s.session_seq, MIN(s.ts) AS t2
        FROM sess s JOIN s1 USING (user_id, session_seq)
        WHERE s.event_type = '{_FUNNEL_STEPS[1]}' AND s.ts >= s1.t1
        GROUP BY 1, 2
    ),
    s3 AS (
        SELECT s.user_id, s.session_seq, MIN(s.ts) AS t3
        FROM sess s JOIN s2 USING (user_id, session_seq)
        WHERE s.event_type = '{_FUNNEL_STEPS[2]}' AND s.ts >= s2.t2
        GROUP BY 1, 2
    ),
    c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS step_view FROM s1),
    c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS step_click FROM s2),
    c3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS step_purchase FROM s3)
    SELECT ns.n_sessions, c1.step_view, c2.step_click,
           c3.step_purchase,
           ROUND(CAST(c1.step_view AS DOUBLE)
                 / NULLIF(CAST(ns.n_sessions AS DOUBLE), 0), 6)
               AS rate_view,
           ROUND(CAST(c2.step_click AS DOUBLE)
                 / NULLIF(CAST(c1.step_view AS DOUBLE), 0), 6)
               AS conv_click,
           ROUND(CAST(c3.step_purchase AS DOUBLE)
                 / NULLIF(CAST(c2.step_click AS DOUBLE), 0), 6)
               AS conv_purchase,
           ROUND(CAST(c3.step_purchase AS DOUBLE)
                 / NULLIF(CAST(ns.n_sessions AS DOUBLE), 0), 6)
               AS overall
    FROM ns CROSS JOIN c1 CROSS JOIN c2 CROSS JOIN c3
"""

_FUNNEL_DOC = (
    "Sessionized conversion funnel with TIMEOUT windows: events are "
    f"cut into {_FUNNEL_GAP_S // 60}-min-inactivity sessions (the "
    "timeout — operators/sessionize.py, exact integer-microsecond "
    "gaps), and a session converts step k only if a "
    f"'{_FUNNEL_STEPS[1]}' follows its first '{_FUNNEL_STEPS[0]}' "
    f"and a '{_FUNNEL_STEPS[2]}' follows that first "
    f"'{_FUNNEL_STEPS[1]}' WITHIN the same session — the ordered "
    "product-analytics funnel (complement of the time-bounded "
    "funnel_time_bounded, whose window is a fixed horizon rather "
    "than an activity timeout). Step times are MIN-picks, so the "
    "semantics are first-touch and deterministic under ties "
    "(ts >= prev-step ts, both engines). Scale shape: ONE window "
    "pass over the user-keyed frame (eager-checkpointed for its "
    "four consumers), three per-session aggregations co-partitioned "
    "on (user, session), equi-joins only, 1-row count broadcasts. "
    "NULL user/ts rows are not sessionizable and are excluded. "
    "Exactly one output row; rates NULL when a denominator is zero."
)


def _funnel_frames(spark: SparkSession, sf_dir: str):
    """(sessionized frame, key, s1, s2, s3) shared by the funnel
    report and the time-to-convert rollup. Sessions are the timeout
    windows: a step only counts when it happens within the same
    30-min-inactivity session. The sessionized projection feeds the
    session count and all three step aggregations: eager checkpoint
    runs the window pass once (r13 one-scan rule)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    s = materialize(
        with_sessions(
            ev,
            "user_id",
            "ts",
            gap_seconds=_FUNNEL_GAP_S,
            order_cols=["ts", "event_id"],
        )
        .select("user_id", "session_seq", "event_type", "ts")
    )
    key = ["user_id", "session_seq"]
    s1 = (
        s.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy(*key)
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        s.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, key)
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy(*key)
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        s.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, key)
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy(*key)
        .agg(F.min("ts").alias("t3"))
    )
    return s, key, s1, s2, s3


@register("sessionized_funnel_timeout", _FUNNEL_SQL, doc=_FUNNEL_DOC)
def sessionized_funnel_timeout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    s, key, s1, s2, s3 = _funnel_frames(spark, sf_dir)
    n_sessions = (
        s.select(*key)
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    )
    c1 = s1.agg(F.count(F.lit(1)).cast("bigint").alias("step_view"))
    c2 = s2.agg(F.count(F.lit(1)).cast("bigint").alias("step_click"))
    c3 = s3.agg(
        F.count(F.lit(1)).cast("bigint").alias("step_purchase")
    )
    out = (
        n_sessions.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
    )
    return out.select(
        "n_sessions",
        "step_view",
        "step_click",
        "step_purchase",
        F.round(
            F.col("step_view").cast("double")
            / F.nullif(F.col("n_sessions").cast("double"), F.lit(0.0)),
            6,
        ).alias("rate_view"),
        F.round(
            F.col("step_click").cast("double")
            / F.nullif(F.col("step_view").cast("double"), F.lit(0.0)),
            6,
        ).alias("conv_click"),
        F.round(
            F.col("step_purchase").cast("double")
            / F.nullif(F.col("step_click").cast("double"), F.lit(0.0)),
            6,
        ).alias("conv_purchase"),
        F.round(
            F.col("step_purchase").cast("double")
            / F.nullif(F.col("n_sessions").cast("double"), F.lit(0.0)),
            6,
        ).alias("overall"),
    )


# -------------------------------------- KMV distinct-count sketch

_KMV_K = 256
_KMV_2P48 = 281474976710656  # 2^48, the md5-prefix hash space


@register(
    "kmv_distinct_users",
    f"""
    WITH h AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                    1, 12)) AS BIGINT) AS v
        FROM events WHERE user_id IS NOT NULL
    ),
    topk AS (SELECT v FROM h ORDER BY v LIMIT {_KMV_K}),
    sk AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS kk,
               MAX(v) AS vk
        FROM topk
    ),
    ex AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT {_KMV_K} AS k, sk.kk AS k_kept, sk.vk AS theta_hash,
           ROUND(CASE WHEN sk.kk < {_KMV_K}
                      THEN CAST(sk.kk AS DOUBLE)
                      ELSE ({_KMV_K - 1}.0 * {_KMV_2P48}) / sk.vk END,
                 6) AS estimate,
           ex.n_exact,
           ROUND(CASE WHEN ex.n_exact = 0 THEN 0.0
                      ELSE ABS(CASE WHEN sk.kk < {_KMV_K}
                                    THEN CAST(sk.kk AS DOUBLE)
                                    ELSE ({_KMV_K - 1}.0 * {_KMV_2P48})
                                         / sk.vk END
                               - ex.n_exact) / ex.n_exact END, 6)
               AS rel_error
    FROM sk CROSS JOIN ex
    """,
    doc="K-Minimum-Values (KMV / bottom-k theta sketch) distinct-user "
    f"estimate: keep the k={_KMV_K} smallest distinct 48-bit "
    "content-addressed hashes; the k-th smallest normalized to [0,1) "
    "estimates density, est = (k−1)/θ. MERGEABLE by construction — "
    "the k smallest of a union is a pure set-function of the per-"
    "partition k-smallest lists (tests/test_r13_ops.py asserts the "
    "two-half merge is IDENTICAL to the direct sketch, not just "
    "close), which is what makes bottom-k the rollup-friendly "
    "alternative to exact COUNT(DISTINCT) at 100 TB. Below k the "
    "sketch holds every hash and reports it exactly. Same md5 hash "
    "discipline as the HLL twins (stable under "
    "repartition/rerun/engine); the estimate is exact integer "
    "arithmetic until one double division, rounded to 6dp. Scale "
    "shape: one distinct-aggregate shuffle, then TakeOrderedAndProject "
    "keeps k rows; the exact count the report compares against is its "
    "own single aggregate; 1-row broadcasts only. Exactly one output "
    "row (zero estimate on an empty table).",
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the distinct-user frame feeds BOTH the sketch top-k and the exact
    # count: aggregate the corpus to it once behind an eager checkpoint
    # (r13 one-scan rule — previously each branch re-scanned events)
    du = materialize(
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
    )
    v48 = value_hash(F.col("user_id").cast("string"), 12)
    topk = (
        du.select(v48.alias("v"))
        .distinct()
        .orderBy("v")
        .limit(_KMV_K)
    )
    sk = topk.agg(
        F.count(F.lit(1)).cast("bigint").alias("kk"),
        F.max("v").alias("vk"),
    )
    exact = du.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    est = F.when(
        F.col("kk") < _KMV_K, F.col("kk").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1) * _KMV_2P48) / F.col("vk")
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        F.lit(_KMV_K).alias("k"),
        F.col("kk").alias("k_kept"),
        F.col("vk").alias("theta_hash"),
        F.round(est, 6).alias("estimate"),
        "n_exact",
        F.round(
            F.when(F.col("n_exact") == 0, F.lit(0.0)).otherwise(
                F.abs(est - F.col("n_exact")) / F.col("n_exact")
            ),
            6,
        ).alias("rel_error"),
    )


# ----------------------- weighted sample without replacement (A-ES)

_AES_TOPK = 20


@register(
    "weighted_sample_docs_aes",
    f"""
    SELECT doc_id, n_chars,
           ROUND(LN(CAST(GREATEST(
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                          1, 12)) AS BIGINT),
                     1) AS DOUBLE) / {_KMV_2P48}) / n_chars, 9)
               AS aes_key
    FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0
    ORDER BY aes_key DESC, doc_id
    LIMIT {_AES_TOPK}
    """,
    doc=f"Fixed-size ({_AES_TOPK}) WEIGHTED sample without replacement "
    "via the Efraimidis-Spirakis A-ES scheme: each doc draws the "
    "content-addressed uniform u = md5₄₈(doc_id)/2^48 and the top-k "
    "by u^(1/w) are kept — spelled as the monotone-equivalent "
    "ln(u)/w to keep one libm call, rounded to 9dp with a doc_id "
    "tie-break (the cross-engine ln discipline). Weight = n_chars, "
    "so longer docs are proportionally more likely to make the "
    "sample, but the size is EXACTLY k — the fixed-budget complement "
    "of the Bernoulli sample_weighted_by_length. Content-addressed ⇒ "
    "stable under rerun/repartition/engine, and distributed-friendly: "
    "per-partition top-k merge, i.e. TakeOrderedAndProject, no global "
    "sort. GREATEST(v,1) guards the measure-zero u=0 hash. Scale "
    "shape: map-side key computation, one top-k reduction; no "
    "shuffle, no joins.",
)
def weighted_sample_docs_aes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & (F.col("n_chars") > 0)
    )
    v48 = value_hash(F.col("doc_id").cast("string"), 12)
    key = F.round(
        F.log(
            F.greatest(v48, F.lit(1)).cast("double")
            / F.lit(float(_KMV_2P48))
        )
        / F.col("n_chars"),
        9,
    )
    return (
        docs.select("doc_id", "n_chars", key.alias("aes_key"))
        .orderBy(F.desc("aes_key"), F.asc("doc_id"))
        .limit(_AES_TOPK)
    )


# ----------------------------------- Cramér-von Mises drift statistic


@register(
    "cramer_von_mises_drift",
    """
    WITH bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0,
               CAST(MIN(CAST(ts AS DATE))
                    + CAST(FLOOR(date_diff('day',
                          MIN(CAST(ts AS DATE)),
                          MAX(CAST(ts AS DATE))) / 2) AS INT)
                    AS DATE) AS dmid
        FROM events WHERE value IS NOT NULL
    ),
    vals AS (
        SELECT CAST(FLOOR(e.value * 100) AS BIGINT) AS cents,
               CASE WHEN CAST(e.ts AS DATE) <= b.dmid
                    THEN 1 ELSE 0 END AS in_a
        FROM events e, bounds b
        WHERE e.value IS NOT NULL
    ),
    hist AS (
        SELECT cents, CAST(SUM(in_a) AS BIGINT) AS ca,
               CAST(SUM(1 - in_a) AS BIGINT) AS cb
        FROM vals GROUP BY cents
    ),
    cum AS (
        SELECT cents, ca, cb,
               SUM(ca) OVER (ORDER BY cents) AS fa,
               SUM(cb) OVER (ORDER BY cents) AS fb
        FROM hist
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na,
               CAST(SUM(cb) AS BIGINT) AS nb
        FROM hist
    ),
    terms AS (
        SELECT c.ca + c.cb AS w,
               CAST(ROUND((CAST(c.fa AS DOUBLE) / t.na
                           - CAST(c.fb AS DOUBLE) / t.nb)
                          * (CAST(c.fa AS DOUBLE) / t.na
                             - CAST(c.fb AS DOUBLE) / t.nb), 9)
                    AS DECIMAL(18,9)) AS d2
        FROM cum c CROSS JOIN tot t
        WHERE t.na > 0 AND t.nb > 0
    )
    SELECT t.na AS n_first, t.nb AS n_second,
           ROUND(CAST(t.na AS DOUBLE) * t.nb
                 / ((t.na + t.nb) * CAST(t.na + t.nb AS DOUBLE))
                 * CAST(SUM(CAST(w AS DECIMAL(28,9)) * d2) AS DOUBLE),
                 6) AS cvm_t
    FROM terms CROSS JOIN tot t
    GROUP BY t.na, t.nb
    """,
    doc="Two-sample Cramér-von Mises drift statistic between the two "
    "halves of the event stream: T = n₁n₂/(n₁+n₂)² · Σ_j w_j·(F₁−F₂)² "
    "summed over the pooled value histogram — the L²-distance "
    "complement of the KS sup-distance (ks_value_drift_report): KS "
    "sees the single worst gap, CvM accumulates ALL of it, so a "
    "persistent small shift that never produces one large gap still "
    "alarms. Each squared CDF gap is rounded to 9dp then weighted and "
    "summed in DECIMAL (order-independent, the ln-term discipline); "
    "CDFs are exact-integer cumulatives over the cent histogram. "
    "Scale shape: same as the KS report — one corpus aggregation to "
    "the value-DOMAIN histogram (eager-checkpointed for the "
    "totals + scan branches), range-partitioned prefix scans for both "
    "CDFs, 1-row total broadcasts. Zero rows when either half is "
    "empty (no CDF to compare).",
)
def cramer_von_mises_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stream_processing_spark.operators.prefixsum import (
        range_prefix_sum,
    )
    from stream_processing_spark.queries.mlfeat import _split_halves

    vals = _split_halves(spark, sf_dir)
    hist = materialize(vals.groupBy("cents").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cb"),
    ))
    tot = hist.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    cum = range_prefix_sum(
        hist, "cents", {"fa": "ca", "fb": "cb"}, materialize=False
    ).crossJoin(F.broadcast(tot)).filter(
        (F.col("na") > 0) & (F.col("nb") > 0)
    )
    gap = (
        F.col("fa").cast("double") / F.col("na")
        - F.col("fb").cast("double") / F.col("nb")
    )
    d2 = F.round(gap * gap, 9).cast("decimal(18,9)")
    terms = cum.select(
        "na",
        "nb",
        (F.col("ca") + F.col("cb")).alias("w"),
        d2.alias("d2"),
    )
    return terms.groupBy("na", "nb").agg(
        F.round(
            F.col("na").cast("double")
            * F.col("nb")
            / (
                (F.col("na") + F.col("nb"))
                * (F.col("na") + F.col("nb")).cast("double")
            )
            * F.sum(F.col("w").cast("decimal(28,9)") * F.col("d2"))
            .cast("double"),
            6,
        ).alias("cvm_t")
    ).select(
        F.col("na").alias("n_first"),
        F.col("nb").alias("n_second"),
        "cvm_t",
    )


# ------------------------------------ funnel time-to-convert rollup


@register(
    "funnel_time_to_convert",
    f"""
    WITH e AS (
        SELECT user_id, event_id, ts, event_type
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR date_diff('microsecond', LAG(ts) OVER w, ts)
                         > {_FUNNEL_GAP_S} * 1000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING)
                   AS session_seq
        FROM flagged
    ),
    s1 AS (
        SELECT user_id, session_seq, MIN(ts) AS t1 FROM sess
        WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1, 2
    ),
    s2 AS (
        SELECT s.user_id, s.session_seq, MIN(s.ts) AS t2
        FROM sess s JOIN s1 USING (user_id, session_seq)
        WHERE s.event_type = '{_FUNNEL_STEPS[1]}' AND s.ts >= s1.t1
        GROUP BY 1, 2
    ),
    s3 AS (
        SELECT s.user_id, s.session_seq, MIN(s.ts) AS t3
        FROM sess s JOIN s2 USING (user_id, session_seq)
        WHERE s.event_type = '{_FUNNEL_STEPS[2]}' AND s.ts >= s2.t2
        GROUP BY 1, 2
    ),
    conv AS (
        SELECT date_diff('microsecond', s1.t1, s3.t3) // 1000000
                   AS sec
        FROM s3 JOIN s1 USING (user_id, session_seq)
    ),
    hist AS (
        SELECT sec, CAST(COUNT(*) AS BIGINT) AS cnt FROM conv
        GROUP BY sec
    ),
    nn AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n FROM hist),
    cum AS (
        SELECT sec, cnt, SUM(cnt) OVER (ORDER BY sec) AS cumn FROM hist
    ),
    picks AS (
        SELECT MIN(CASE WHEN cumn >= (50 * n + 99) // 100
                   THEN sec END) AS p50_sec,
               MIN(CASE WHEN cumn >= (90 * n + 99) // 100
                   THEN sec END) AS p90_sec,
               ROUND(CAST(SUM(CAST(sec AS DECIMAL(38,0)) * cnt)
                          AS DOUBLE) / NULLIF(n, 0), 6) AS avg_sec
        FROM cum CROSS JOIN nn GROUP BY n
    )
    SELECT nn.n AS n_converting, p.p50_sec, p.p90_sec, p.avg_sec
    FROM nn LEFT JOIN picks p ON TRUE
    """,
    doc="Time-to-convert over the sessionized funnel: for every "
    "session that completes the ordered "
    f"{'→'.join(_FUNNEL_STEPS)} chain, the whole seconds from the "
    "first step's first touch to the completing step, rolled up to "
    "p50/p90 rank picks and an exact-DECIMAL mean — the latency "
    "companion of sessionized_funnel_timeout's conversion rates "
    "(same session frames, same first-touch MIN semantics). "
    "Durations are exact integer microseconds floored to seconds. "
    "Scale shape: the shared one-window-pass session frames, "
    "equi-joins on (user, session), then a duration-DOMAIN-bounded "
    "histogram (eager-checkpointed) whose rank walk is the prefix "
    "scan; 1-row broadcasts. Exactly one output row; zero "
    "conversions give 0 / NULLs.",
)
def funnel_time_to_convert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stream_processing_spark.operators.prefixsum import (
        range_prefix_sum,
    )

    s, key, s1, s2, s3 = _funnel_frames(spark, sf_dir)
    conv = s3.join(s1, key).select(
        F.floor(
            (F.unix_micros("t3") - F.unix_micros("t1")) / 1_000_000
        ).cast("bigint").alias("sec")
    )
    # duration-domain-bounded histogram feeds the total AND the rank
    # walk: eager checkpoint (r13 one-scan rule)
    hist = materialize(conv.groupBy("sec").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ))
    nn = hist.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n")
    )
    cum = range_prefix_sum(
        hist, "sec", {"cumn": "cnt"}, materialize=False
    ).crossJoin(F.broadcast(nn))

    def pick(p: int):
        k = F.expr(f"({p} * n + 99) div 100")
        return F.min(F.when(F.col("cumn") >= k, F.col("sec")))

    picks = cum.groupBy("n").agg(
        pick(50).alias("p50_sec"),
        pick(90).alias("p90_sec"),
        F.round(
            F.sum(F.col("sec").cast("decimal(38,0)") * F.col("cnt"))
            .cast("double")
            / F.nullif(F.col("n"), F.lit(0)),
            6,
        ).alias("avg_sec"),
    ).drop("n")
    return nn.join(F.broadcast(picks), how="left").select(
        F.col("n").alias("n_converting"),
        "p50_sec",
        "p90_sec",
        "avg_sec",
    )


# ----------------------------------------- DAU / WAU / MAU rollup


@register(
    "dau_wau_mau_daily",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    x AS (
        SELECT d + CAST(u.i AS INT) AS day, user_id, u.i AS i
        FROM du, UNNEST(generate_series(0, 29)) AS u(i)
    )
    SELECT day,
           CAST(COUNT(DISTINCT CASE WHEN i = 0 THEN user_id END)
                AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN i <= 6 THEN user_id END)
                AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau,
           ROUND(CAST(COUNT(DISTINCT CASE WHEN i = 0 THEN user_id END)
                      AS DOUBLE)
                 / COUNT(DISTINCT user_id), 6) AS stickiness
    FROM x
    GROUP BY day
    HAVING COUNT(DISTINCT CASE WHEN i = 0 THEN user_id END) > 0
    """,
    doc="DAU / WAU / MAU / stickiness per day — the engagement "
    "triptych every product dashboard opens with: distinct users "
    "whose last activity was 0, ≤6, or ≤29 days before each reported "
    "day, with stickiness = DAU/MAU. Spelled as a 30-way MAP-SIDE "
    "expansion of the distinct (day, user) frame — each activity day "
    "contributes to the 30 report days it can influence — so the "
    "trailing windows become ONE distinct-aggregate shuffle instead "
    "of a per-day range join (COUNT(DISTINCT) cannot ride a window "
    "frame on either engine). Only days with ≥1 active user are "
    "reported (a fully-idle calendar day has no row — the grid "
    "convention of the resample queries covers gap-filling). Scale "
    "shape: one corpus distinct to (day × user), a 30× constant "
    "fan-out of that bounded frame, one aggregation keyed by the "
    "day domain; no joins at all.",
)
def dau_wau_mau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    du = ev.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    x = du.select(
        "d", "user_id", F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i")
    ).select(
        F.date_add("d", F.col("i")).alias("day"), "user_id", "i"
    )
    dau = F.countDistinct(
        F.when(F.col("i") == 0, F.col("user_id"))
    ).cast("bigint")
    wau = F.countDistinct(
        F.when(F.col("i") <= 6, F.col("user_id"))
    ).cast("bigint")
    mau = F.countDistinct("user_id").cast("bigint")
    return (
        x.groupBy("day")
        .agg(
            dau.alias("dau"),
            wau.alias("wau"),
            mau.alias("mau"),
            F.round(
                dau.cast("double") / mau, 6
            ).alias("stickiness"),
        )
        .filter(F.col("dau") > 0)
    )


# --------------------------------- difference-in-differences (DiD)


@register(
    "did_value_estimate",
    """
    WITH bounds AS (
        SELECT CAST(MIN(CAST(ts AS DATE))
                    + CAST(FLOOR(date_diff('day',
                          MIN(CAST(ts AS DATE)),
                          MAX(CAST(ts AS DATE))) / 2) AS INT)
                    AS DATE) AS dmid
        FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
              AND user_id IS NOT NULL
    ),
    cells AS (
        SELECT CAST(e.user_id % 2 AS BIGINT) AS treat,
               CASE WHEN CAST(e.ts AS DATE) <= b.dmid
                    THEN 0 ELSE 1 END AS post,
               CAST(e.value AS DECIMAL(18,2)) AS y
        FROM events e CROSS JOIN bounds b
        WHERE e.value IS NOT NULL AND e.ts IS NOT NULL
              AND e.user_id IS NOT NULL
    ),
    m AS (
        SELECT CAST(SUM(CASE WHEN treat = 1 AND post = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
               CAST(SUM(CASE WHEN treat = 1 AND post = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_t1,
               CAST(SUM(CASE WHEN treat = 0 AND post = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
               CAST(SUM(CASE WHEN treat = 0 AND post = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_c1,
               CAST(SUM(CASE WHEN treat = 1 AND post = 0 THEN y END)
                    AS DOUBLE) AS s_t0,
               CAST(SUM(CASE WHEN treat = 1 AND post = 1 THEN y END)
                    AS DOUBLE) AS s_t1,
               CAST(SUM(CASE WHEN treat = 0 AND post = 0 THEN y END)
                    AS DOUBLE) AS s_c0,
               CAST(SUM(CASE WHEN treat = 0 AND post = 1 THEN y END)
                    AS DOUBLE) AS s_c1
        FROM cells
    )
    SELECT n_t0 AS n_treat_pre, n_t1 AS n_treat_post,
           n_c0 AS n_ctrl_pre, n_c1 AS n_ctrl_post,
           ROUND((s_t1 / NULLIF(n_t1, 0) - s_t0 / NULLIF(n_t0, 0))
                 - (s_c1 / NULLIF(n_c1, 0) - s_c0 / NULLIF(n_c0, 0)),
                 6) AS did_estimate
    FROM m
    """,
    doc="Difference-in-differences estimate of the treatment effect "
    "on event value: cohorts = user parity (the deterministic "
    "assignment hash of the A/B tier), periods split at the day-span "
    "midpoint (the drift monitors' split), DiD = (treat-post − "
    "treat-pre) − (ctrl-post − ctrl-pre) over exact DECIMAL cell "
    "sums with four double divisions at the end — the "
    "parallel-trends companion to cuped_adjusted_ab_metric (CUPED "
    "adjusts variance within one period; DiD differences OUT a "
    "level shift common to both cohorts). Scale shape: one 1-row "
    "midpoint broadcast, then a SINGLE conditional-aggregation "
    "corpus pass to the 2×2 cell frame; no joins, no windows. "
    "Exactly one output row; an empty cell NULLs the estimate.",
)
def did_value_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    b = ev.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    ).select(
        F.date_add(
            F.col("d0"),
            F.floor(F.datediff("d1", "d0") / 2).cast("int"),
        ).alias("dmid")
    )
    treat = (F.col("user_id") % 2).cast("bigint")
    post = F.when(F.to_date("ts") <= F.col("dmid"), 0).otherwise(1)
    cells = ev.crossJoin(F.broadcast(b)).select(
        treat.alias("treat"),
        post.alias("post"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )

    def n_of(t: int, p: int):
        return (
            F.sum(
                F.when(
                    (F.col("treat") == t) & (F.col("post") == p), 1
                ).otherwise(0)
            )
            .cast("bigint")
        )

    def s_of(t: int, p: int):
        return F.sum(
            F.when(
                (F.col("treat") == t) & (F.col("post") == p),
                F.col("y"),
            )
        ).cast("double")

    m = cells.agg(
        n_of(1, 0).alias("n_t0"),
        n_of(1, 1).alias("n_t1"),
        n_of(0, 0).alias("n_c0"),
        n_of(0, 1).alias("n_c1"),
        s_of(1, 0).alias("s_t0"),
        s_of(1, 1).alias("s_t1"),
        s_of(0, 0).alias("s_c0"),
        s_of(0, 1).alias("s_c1"),
    )
    return m.select(
        F.col("n_t0").alias("n_treat_pre"),
        F.col("n_t1").alias("n_treat_post"),
        F.col("n_c0").alias("n_ctrl_pre"),
        F.col("n_c1").alias("n_ctrl_post"),
        F.round(
            (
                F.col("s_t1") / F.nullif(F.col("n_t1"), F.lit(0))
                - F.col("s_t0") / F.nullif(F.col("n_t0"), F.lit(0))
            )
            - (
                F.col("s_c1") / F.nullif(F.col("n_c1"), F.lit(0))
                - F.col("s_c0") / F.nullif(F.col("n_c0"), F.lit(0))
            ),
            6,
        ).alias("did_estimate"),
    )


# --------------------------------- content-addressed split manifest

_SPLIT_TRAIN_PCT, _SPLIT_VAL_PCT = 90, 5  # train/val/test 90/5/5


@register(
    "split_assignment_report",
    f"""
    WITH a AS (
        SELECT doc_id,
               COALESCE(source, '(null)') AS source,
               CASE WHEN u < {_SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN u < {_SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT}
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id, source,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                        1, 12)) AS BIGINT)
                       * 100 // {_KMV_2P48} AS u
            FROM documents
        )
    ),
    per AS (
        SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM a GROUP BY 1, 2
    ),
    tot AS (
        SELECT split, CAST(SUM(n_docs) AS BIGINT) AS split_total
        FROM per GROUP BY split
    )
    SELECT p.split, p.source, p.n_docs, t.split_total,
           ROUND(CAST(p.n_docs AS DOUBLE) / t.split_total, 6)
               AS share_in_split
    FROM per p JOIN tot t USING (split)
    """,
    doc="Content-addressed train/val/test split manifest "
    f"({_SPLIT_TRAIN_PCT}/{_SPLIT_VAL_PCT}/"
    f"{100 - _SPLIT_TRAIN_PCT - _SPLIT_VAL_PCT}): each doc's split is "
    "a pure function of md5₄₈(doc_id) scaled to an integer percent "
    "(exact integer multiply-divide — no float boundary), so the "
    "assignment is stable under rerun/repartition/engine and "
    "DISJOINT by construction (one hash, one CASE — the leakage "
    "check a file-based splitter needs is a no-op here). Reported "
    "per (split, source) with each source's share WITHIN its split — "
    "the stratification drift a curation pipeline monitors (a split "
    "whose source mix diverges from the corpus biases eval). NULL "
    "source is a first-class '(null)' stratum. Scale shape: one "
    "map-side hash + CASE, one (split × source)-domain aggregation, "
    "a 3-row totals join; no corpus joins.",
)
def split_assignment_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = F.floor(
        value_hash(F.col("doc_id").cast("string"), 12)
        * 100
        / F.lit(_KMV_2P48)
    )
    split = (
        F.when(u < _SPLIT_TRAIN_PCT, "train")
        .when(u < _SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    per = (
        docs.select(
            split.alias("split"),
            F.coalesce("source", F.lit("(null)")).alias("source"),
        )
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    tot = per.groupBy("split").agg(
        F.sum("n_docs").cast("bigint").alias("split_total")
    )
    return per.join(F.broadcast(tot), "split").select(
        "split",
        "source",
        "n_docs",
        "split_total",
        F.round(
            F.col("n_docs").cast("double") / F.col("split_total"), 6
        ).alias("share_in_split"),
    )


# ------------------------------- minimum detectable effect (power)

# z_{alpha/2} + z_beta for alpha = 0.05, power = 0.80, folded to one
# double literal so both engines evaluate the identical constant
_MDE_Z_SUM = 2.8015852181129683


@register(
    "ab_minimum_detectable_effect",
    f"""
    WITH c AS (
        SELECT CAST(user_id % 2 AS BIGINT) AS treat,
               CAST(value AS DECIMAL(18,2)) AS y
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    m AS (
        SELECT CAST(SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS DOUBLE) AS s1,
               CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS s2
        FROM c
    )
    SELECT na AS n_treat, nb AS n_ctrl,
           ROUND(SQRT((s2 - s1 * s1 / n) / NULLIF(n - 1, 0)), 6)
               AS pooled_sd,
           ROUND({_MDE_Z_SUM!r}
                 * SQRT((s2 - s1 * s1 / n) / NULLIF(n - 1, 0))
                 * SQRT(1.0 / NULLIF(na, 0) + 1.0 / NULLIF(nb, 0)),
                 6) AS mde_abs,
           ROUND({_MDE_Z_SUM!r}
                 * SQRT((s2 - s1 * s1 / n) / NULLIF(n - 1, 0))
                 * SQRT(1.0 / NULLIF(na, 0) + 1.0 / NULLIF(nb, 0))
                 / NULLIF(s1 / n, 0), 6) AS mde_rel
    FROM m
    """,
    doc="Minimum detectable effect for the parity-cohort A/B design "
    "at α=0.05 / power 0.80: MDE = (z_{α/2}+z_β)·s·√(1/n₁+1/n₂) with "
    "the z-sum folded to one cross-engine literal and the pooled SD "
    "from exact DECIMAL moments (Σy, Σy² — one corpus pass) — the "
    "pre-experiment sizing answer ('how small an effect could this "
    "traffic even see?') that belongs next to "
    "cuped_adjusted_ab_metric and did_value_estimate. Reported "
    "absolute and relative to the pooled mean. Scale shape: ONE "
    "conditional-aggregation corpus pass to a 1-row moment frame; no "
    "joins, no windows. Exactly one output row; degenerate inputs "
    "(n ≤ 1, empty cohort) yield NULLs.",
)
def ab_minimum_detectable_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    y = F.col("value").cast("decimal(18,2)")
    treat = (F.col("user_id") % 2).cast("bigint")
    m = ev.select(treat.alias("treat"), y.alias("y")).agg(
        F.sum(F.when(F.col("treat") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("treat") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("double").alias("s1"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)"))
        .cast("double")
        .alias("s2"),
    )
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / F.nullif(F.col("n") - 1, F.lit(0))
    )
    se = sd * F.sqrt(
        1.0 / F.nullif(F.col("na"), F.lit(0))
        + 1.0 / F.nullif(F.col("nb"), F.lit(0))
    )
    return m.select(
        F.col("na").alias("n_treat"),
        F.col("nb").alias("n_ctrl"),
        F.round(sd, 6).alias("pooled_sd"),
        F.round(F.lit(_MDE_Z_SUM) * se, 6).alias("mde_abs"),
        F.round(
            F.lit(_MDE_Z_SUM)
            * se
            / F.nullif(F.col("s1") / F.col("n"), F.lit(0.0)),
            6,
        ).alias("mde_rel"),
    )


# --------------------------------- classifier calibration (ECE)

from stream_processing_spark.queries.curation6 import (  # noqa: E402
    _CLF_LADDER,
    _CLF_R,
    _clf_features,
    _clf_scores,
    trained_classifier,
)

_ECE_SQL = (
    _CLF_LADDER
    + f""",
    sc AS (
        SELECT f.doc_id, f.y,
               ROUND(CAST(MAX(b.b) AS DOUBLE)
                     + CAST(SUM(w.w) AS DOUBLE) / COUNT(*), 6) AS score
        FROM feats f
        JOIN w{_CLF_R} w USING (bucket)
        CROSS JOIN b{_CLF_R} b
        GROUP BY f.doc_id, f.y
    ),
    pr AS (
        SELECT y, ROUND(1.0 / (1.0 + EXP(-score)), 9) AS p FROM sc
    ),
    binned AS (
        SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(p AS DECIMAL(12,9))) AS DOUBLE)
                   / COUNT(*) AS conf,
               CAST(SUM(y) AS DOUBLE) / COUNT(*) AS acc
        FROM pr GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nn FROM binned),
    e AS (
        SELECT ROUND(CAST(SUM(CAST(ROUND(ABS(acc - conf), 9)
                                   AS DECIMAL(12,9)) * n_docs)
                          AS DOUBLE) / MAX(t.nn), 6) AS ece
        FROM binned CROSS JOIN tot t
    )
    SELECT b.bin, b.n_docs, ROUND(b.conf, 6) AS avg_conf,
           ROUND(b.acc, 6) AS frac_pos, e.ece
    FROM binned b CROSS JOIN e
    """
)


@register(
    "classifier_calibration_ece",
    _ECE_SQL,
    doc="Calibration report for the quality classifier: scores map "
    "through the sigmoid to probabilities (rounded to 9dp — the "
    "cross-engine exp discipline), bucket into 10 confidence bins, "
    "and each bin reports its size, mean predicted confidence "
    "(DECIMAL-summed), and observed positive rate — plus the "
    "Expected Calibration Error Σ nᵢ/N·|accᵢ−confᵢ| every MLOps "
    "dashboard tracks before trusting scores as probabilities "
    "(a classifier can rank well yet be badly calibrated; "
    "quality_classifier_scores only shows the ranking). Rides the "
    "same trained artifact (constant-size weight table, model "
    "cache) as the inference query — ONE corpus scoring scan, a "
    "10-bin aggregation, 1-row ECE broadcast. ≤ 10 output rows.",
)
def classifier_calibration_ece(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weights, bias, _ = trained_classifier(spark, docs)
    feats = _clf_features(docs)
    sc = _clf_scores(feats, weights, bias)
    p = F.round(
        1.0 / (1.0 + F.exp(-F.col("score"))), 9
    )
    pr = sc.select(F.col("y"), p.alias("p"))
    binned = pr.groupBy(
        F.least(
            F.floor(F.col("p") * 10).cast("bigint"), F.lit(9)
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.sum(F.col("p").cast("decimal(12,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("conf"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("acc"),
    )
    # the 10-bin frame feeds the ECE fold AND the per-bin report:
    # eager checkpoint runs the corpus scoring scan once (r13 rule)
    binned = materialize(binned)
    tot = binned.agg(F.sum("n_docs").cast("bigint").alias("nn"))
    e = binned.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(
                F.round(F.abs(F.col("acc") - F.col("conf")), 9).cast(
                    "decimal(12,9)"
                )
                * F.col("n_docs")
            ).cast("double")
            / F.max("nn"),
            6,
        ).alias("ece")
    )
    return binned.crossJoin(F.broadcast(e)).select(
        "bin",
        "n_docs",
        F.round("conf", 6).alias("avg_conf"),
        F.round("acc", 6).alias("frac_pos"),
        "ece",
    )


# ------------------------------ James-Stein shrinkage of type means


@register(
    "james_stein_type_means",
    """
    WITH g AS (
        SELECT COALESCE(event_type, '(null)') AS event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
                             * CAST(value AS DECIMAL(18,2))
                             AS DECIMAL(38,4))) AS DOUBLE) AS s2
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    m AS (
        SELECT event_type, n,
               ROUND(s1 / n, 9) AS mean_r,
               CASE WHEN n > 1
                    THEN ((s2 - s1 * s1 / n) / (n - 1)) / n
                    END AS se2
        FROM g
    ),
    gr AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(mean_r AS DECIMAL(18,9))) AS DOUBLE)
                   / COUNT(*) AS grand
        FROM m
    ),
    ssb AS (
        SELECT CAST(SUM(CAST(ROUND((mean_r - g.grand)
                                   * (mean_r - g.grand), 9)
                             AS DECIMAL(18,9))) AS DOUBLE) AS ssb
        FROM m CROSS JOIN gr g
    )
    SELECT m.event_type, m.n, ROUND(m.mean_r, 6) AS raw_mean,
           ROUND(GREATEST(0.0,
                 1.0 - (g.k - 3) * m.se2 / NULLIF(s.ssb, 0)), 6)
               AS shrink_weight,
           ROUND(g.grand
                 + GREATEST(0.0,
                       1.0 - (g.k - 3) * m.se2 / NULLIF(s.ssb, 0))
                   * (m.mean_r - g.grand), 6) AS shrunk_mean
    FROM m CROSS JOIN gr g CROSS JOIN ssb s
    """,
    doc="Positive-part James-Stein shrinkage of per-event-type mean "
    "values toward the unweighted grand mean of type means — the "
    "empirical-Bayes estimate a metrics platform serves for "
    "small-sample segments (a type with few/noisy observations gets "
    "pulled toward the pool; a precise one barely moves): "
    "c_t = max(0, 1 − (k−3)·se²_t/SSB) with per-type standard errors "
    "(the unequal-variance positive-part variant). Type means round "
    "to 9dp before the grand/SSB folds so every cross-type sum is "
    "DECIMAL order-independent. Scale shape: ONE conditional-"
    "aggregation corpus pass to the type-domain moment frame, then "
    "1-row grand/SSB broadcasts over ≤ |types| rows. NULL type is a "
    "first-class '(null)' segment; NULL values carry no signal. "
    "k ≤ 3 degenerates to zero shrinkage weights NULLed by SSB "
    "guards, documented.",
)
def james_stein_type_means(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    y = F.col("value").cast("decimal(18,2)")
    g = ev.groupBy(
        F.coalesce("event_type", F.lit("(null)")).alias("event_type")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(y).cast("double").alias("s1"),
        F.sum((y * y).cast("decimal(38,4)")).cast("double").alias("s2"),
    )
    m = materialize(g.select(
        "event_type",
        "n",
        F.round(F.col("s1") / F.col("n"), 9).alias("mean_r"),
        F.when(
            F.col("n") > 1,
            (
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1)
            )
            / F.col("n"),
        ).alias("se2"),
    ))
    gr = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        (
            F.sum(F.col("mean_r").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("grand"),
    )
    ssb = m.crossJoin(F.broadcast(gr)).agg(
        F.sum(
            F.round(
                (F.col("mean_r") - F.col("grand"))
                * (F.col("mean_r") - F.col("grand")),
                9,
            ).cast("decimal(18,9)")
        )
        .cast("double")
        .alias("ssb")
    )
    out = m.crossJoin(F.broadcast(gr)).crossJoin(F.broadcast(ssb))
    c = F.greatest(
        F.lit(0.0),
        1.0
        - (F.col("k") - 3)
        * F.col("se2")
        / F.nullif(F.col("ssb"), F.lit(0.0)),
    )
    return out.select(
        "event_type",
        "n",
        F.round("mean_r", 6).alias("raw_mean"),
        F.round(c, 6).alias("shrink_weight"),
        F.round(
            F.col("grand") + c * (F.col("mean_r") - F.col("grand")), 6
        ).alias("shrunk_mean"),
    )


# ------------------------------------------ log-rank survival test

_LR_CENSOR_DAYS = 3  # same horizon rule as kaplan_meier_user_lifetime


@register(
    "logrank_lifetime_by_cohort",
    f"""
    WITH users AS (
        SELECT user_id, CAST(user_id % 2 AS BIGINT) AS grp,
               date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) AS lt,
               MAX(CAST(ts AS DATE)) AS last_day
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    horizon AS (SELECT MAX(CAST(ts AS DATE)) AS hmax FROM events),
    marked AS (
        SELECT u.grp, u.lt,
               CASE WHEN date_diff('day', u.last_day, h.hmax)
                         < {_LR_CENSOR_DAYS} THEN 1 ELSE 0 END
                   AS censored
        FROM users u, horizon h
    ),
    lev AS (
        SELECT lt,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS e1,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS e0,
               CAST(SUM(CASE WHEN grp = 1 AND censored = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN grp = 0 AND censored = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS d0
        FROM marked GROUP BY lt
    ),
    risk AS (
        SELECT lt, d1, d0,
               CAST(SUM(e1) OVER (ORDER BY lt DESC NULLS FIRST)
                    AS BIGINT) AS r1,
               CAST(SUM(e0) OVER (ORDER BY lt DESC NULLS FIRST)
                    AS BIGINT) AS r0
        FROM lev
    ),
    terms AS (
        SELECT CAST(ROUND(d1 - CAST(r1 AS DOUBLE) * (d1 + d0)
                               / (r1 + r0), 9)
                    AS DECIMAL(18,9)) AS oe,
               CAST(ROUND((d1 + d0)
                          * (CAST(r1 AS DOUBLE) / (r1 + r0))
                          * (1.0 - CAST(r1 AS DOUBLE) / (r1 + r0))
                          * (r1 + r0 - d1 - d0)
                          / NULLIF(r1 + r0 - 1, 0), 9)
                    AS DECIMAL(18,9)) AS v
        FROM risk
        WHERE d1 + d0 > 0 AND r1 + r0 > 1
    ),
    agg AS (
        SELECT CAST(SUM(oe) AS DOUBLE) AS oe,
               CAST(SUM(v) AS DOUBLE) AS v
        FROM terms
    ),
    nn AS (
        SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_treat,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ctrl
        FROM marked
    )
    SELECT nn.n_treat, nn.n_ctrl,
           ROUND(a.oe, 6) AS o_minus_e,
           ROUND(a.v, 6) AS lr_var,
           ROUND(a.oe / NULLIF(SQRT(a.v), 0), 6) AS z_logrank
    FROM nn CROSS JOIN agg a
    """,
    doc="Log-rank (Mantel-Cox) test comparing the user-lifetime "
    "survival curves of the two parity cohorts — the hypothesis-test "
    "companion to kaplan_meier_user_lifetime (same lifetime and "
    f"{_LR_CENSOR_DAYS}-day horizon-censoring conventions): at each "
    "distinct lifetime level, observed group-1 deaths minus the "
    "hypergeometric expectation r₁·d/r, variance "
    "d·(r₁/r)(1−r₁/r)(r−d)/(r−1), each term rounded to 9dp and "
    "DECIMAL-summed (order-independent), z = ΣOE/√ΣV. At-risk counts "
    "are suffix cumulatives over the lifetime-DAY domain (bounded — "
    "the WINDOW_OK class KM established). Scale shape: one per-user "
    "aggregation shuffle, then everything is day-domain-bounded; "
    "1-row broadcasts. Exactly one output row; no deaths or a "
    "degenerate risk set yield NULL z.",
)
def logrank_lifetime_by_cohort(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    users = ev.groupBy("user_id").agg(
        F.datediff(
            F.max(F.to_date("ts")), F.min(F.to_date("ts"))
        ).alias("lt"),
        F.max(F.to_date("ts")).alias("last_day"),
    ).select(
        (F.col("user_id") % 2).cast("bigint").alias("grp"),
        "lt",
        "last_day",
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("hmax"))
    marked = materialize(users.crossJoin(F.broadcast(horizon)).select(
        "grp",
        "lt",
        F.when(
            F.datediff("hmax", "last_day") < _LR_CENSOR_DAYS, 1
        )
        .otherwise(0)
        .alias("censored"),
    ))
    lev = marked.groupBy("lt").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("e1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("e0"),
        F.sum(
            F.when((F.col("grp") == 1) & (F.col("censored") == 0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("d1"),
        F.sum(
            F.when((F.col("grp") == 0) & (F.col("censored") == 0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("d0"),
    )
    wdesc = Window.orderBy(F.desc_nulls_first("lt"))
    risk = lev.select(
        "lt",
        "d1",
        "d0",
        F.sum("e1").over(wdesc).cast("bigint").alias("r1"),
        F.sum("e0").over(wdesc).cast("bigint").alias("r0"),
    )
    d = F.col("d1") + F.col("d0")
    r = F.col("r1") + F.col("r0")
    p1 = F.col("r1").cast("double") / r
    terms = risk.filter((d > 0) & (r > 1)).select(
        F.round(F.col("d1") - p1 * d, 9)
        .cast("decimal(18,9)")
        .alias("oe"),
        F.round(
            d * p1 * (1.0 - p1) * (r - d)
            / F.nullif(r - 1, F.lit(0)),
            9,
        )
        .cast("decimal(18,9)")
        .alias("v"),
    )
    agg = terms.agg(
        F.sum("oe").cast("double").alias("oe"),
        F.sum("v").cast("double").alias("v"),
    )
    nn = marked.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_treat"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ctrl"),
    )
    return nn.crossJoin(F.broadcast(agg)).select(
        "n_treat",
        "n_ctrl",
        F.round("oe", 6).alias("o_minus_e"),
        F.round("v", 6).alias("lr_var"),
        F.round(
            F.col("oe") / F.nullif(F.sqrt(F.col("v")), F.lit(0.0)), 6
        ).alias("z_logrank"),
    )
