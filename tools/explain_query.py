"""Print the physical plan (and optionally run) any registry query.

Usage:
    python tools/explain_query.py <query_name> [sf_dir] [--run]

Examples:
    python tools/explain_query.py q3_top_revenue_orders
    python tools/explain_query.py dedup_jaccard_pairs /root/testdata/sf0.1 --run
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--run"]
    run = "--run" in sys.argv
    if not args:
        print(__doc__)
        return 2
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"

    from stream_processing_spark.metrics import noop_walls
    from stream_processing_spark.queries import REGISTRY
    from stream_processing_spark.session import get_spark

    if name not in REGISTRY:
        import difflib

        close = difflib.get_close_matches(name, REGISTRY, n=5)
        print(f"unknown query {name!r}; close matches: {close}")
        return 2
    spark = get_spark(app_name="explain")
    spark.sparkContext.setLogLevel("ERROR")
    spec = REGISTRY[name]
    print(f"# {name}\n# {spec.doc}\n")
    df = spec.spark(spark, sf_dir)
    df.explain("formatted")
    if run:
        [wall] = noop_walls(lambda: df, 1)
        print(f"\nran end-to-end in {wall:.3f}s at {sf_dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
