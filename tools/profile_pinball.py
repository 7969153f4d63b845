"""Stage profile for quantile_regression_pinball: time each serial
piece with the noop sink in one warm session.

Usage: python tools/profile_pinball.py [rounds]
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stream_processing_spark.catalog import load_table
    from stream_processing_spark.queries.expstats3 import _QR_GRID
    from stream_processing_spark.runtime import materialize
    from stream_processing_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile-pinball")
    spark.sparkContext.setLogLevel("ERROR")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for _ in range(rounds):
        li = load_table(spark, sf_dir, "lineitem").filter(
            F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        t0 = time.perf_counter()
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
        t1 = time.perf_counter()
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
        fit = materialize(st.select(
            "n",
            F.round(
                (n * F.col("sxy") - sx * sy)
                / F.nullif(n * F.col("sxx") - sx * sx, F.lit(0.0)),
                6,
            ).alias("rs"),
        ))
        t2 = time.perf_counter()
        cand = (
            fit.filter(F.col("rs").isNotNull())
            .select(
                F.explode(
                    F.sequence(F.lit(0), F.lit(_QR_GRID))
                ).alias("j"),
                F.col("rs"),
            )
            .select(
                "j", ((F.col("rs") * (5 + F.col("j"))) / 10).alias("b")
            )
        )
        rh = (
            hist0.crossJoin(F.broadcast(cand))
            .select(
                "j",
                F.floor(
                    (F.col("yc") - F.col("b") * F.col("xq")) / 100
                ).cast("bigint").alias("r"),
                "cnt",
            )
            .groupBy("j", "r")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        noop(rh)
        t3 = time.perf_counter()
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
        noop(aj)
        t4 = time.perf_counter()
        print(
            f"hist0={t1-t0:.2f} fit={t2-t1:.2f} rh={t3-t2:.2f} "
            f"tail(rh+cum+aj)={t4-t3:.2f} total={t4-t0:.2f}"
        )
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    return 0


if __name__ == "__main__":
    sys.exit(main())
