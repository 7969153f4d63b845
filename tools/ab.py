"""Same-session interleaved A/B: time query variants with the noop sink.

Usage: python tools/ab.py <runs> <variant> [variant ...]

A variant is a registry query name, or a ``module:fn`` / ``file.py:fn``
reference to a ``(spark, sf_dir) -> DataFrame`` function. A one-off
variant (a query with one decision flipped) lives in a scratch
``file.py``, not in the repository. Each round times every variant
once; the order rotates by one each round, so with two variants the
one that goes first alternates. Prints every wall (warm-up is visible)
and each variant's min and median. The data is $SPARK_GRAFT_SF_DIR
(default: catalog.DEFAULT_SF_DIR).
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 3 or int(sys.argv[1]) < 1:
        print(__doc__)
        return 2
    runs = int(sys.argv[1])
    variants = sys.argv[2:]

    from stream_processing_spark.catalog import DEFAULT_SF_DIR
    from stream_processing_spark.compat import ensure_protobuf_runtime

    ensure_protobuf_runtime()

    from stream_processing_spark.metrics import noop_walls
    from stream_processing_spark.plans.rainstorm import load_callable
    from stream_processing_spark.queries import REGISTRY
    from stream_processing_spark.session import get_spark

    fns = {
        v: REGISTRY[v].spark if v in REGISTRY else load_callable(v)
        for v in variants
    }
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    walls: dict[str, list[float]] = {v: [] for v in variants}
    for r in range(runs):
        for v in variants[r % len(variants):] + variants[: r % len(variants)]:
            [wall] = noop_walls(lambda: fns[v](spark, sf_dir), 1)
            walls[v].append(round(wall, 3))
    for v, ws in walls.items():
        print(f"{v}: {ws} min={min(ws)} median={statistics.median(ws):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
