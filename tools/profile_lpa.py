"""Stage-level shuffle profile of graph_label_propagation at sf1.

Usage: python tools/profile_lpa.py [sf_dir]

VERDICT r11 item 6: either contract degree-1 chains before round 2 or
PROVE via a stage profile that rounds 2-3's exchange is already
minimal at sf1. This tool runs LPA once at sf1 (default; any sf_dir
works), pulls per-stage metrics from the local Spark UI REST API, and
prints the stages ranked by shuffle write — the evidence for whether
the per-round edges⋈labels exchange is data-bound (inherent to LPA)
or avoidable.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> int:
    from stream_processing_spark.metrics import noop_walls
    from stream_processing_spark.session import get_spark
    from stream_processing_spark.queries import REGISTRY

    spark = get_spark(
        app_name="lpa-profile",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if spark.sparkContext.uiWebUrl is None:
        print(
            "Spark UI disabled (session reused?) — run standalone",
            file=sys.stderr,
        )
        return 1

    if len(sys.argv) > 1:
        sf_dir = sys.argv[1]
    else:
        from tools.gen_sf1 import ensure_sf1

        sf_dir = ensure_sf1(spark)

    [wall] = noop_walls(
        lambda: REGISTRY["graph_label_propagation"].spark(spark, sf_dir), 1
    )

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        stages = json.load(r)

    rows = [
        {
            "stage": s["stageId"],
            "name": s["name"].split("\n")[0][:60],
            "tasks": s["numCompleteTasks"],
            "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
            "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
            "ms": s.get("executorRunTime", 0),
        }
        for s in stages
    ]
    rows.sort(key=lambda x: -x["sh_write_mb"])
    total_w = sum(r["sh_write_mb"] for r in rows)
    total_r = sum(r["sh_read_mb"] for r in rows)
    total_in = sum(r["input_mb"] for r in rows)
    print(f"LPA @ {sf_dir}: wall {wall:.1f}s; {len(rows)} stages; "
          f"input {total_in:.0f} MB, shuffle write {total_w:.0f} MB, "
          f"read {total_r:.0f} MB")
    print("| stage | name | tasks | input MB | shW MB | shR MB | "
          "exec ms |")
    print("|---|---|---|---|---|---|---|")
    for r in rows[:15]:
        print(
            f"| {r['stage']} | {r['name']} | {r['tasks']} | "
            f"{r['input_mb']} | {r['sh_write_mb']} | {r['sh_read_mb']} "
            f"| {r['ms']} |"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
