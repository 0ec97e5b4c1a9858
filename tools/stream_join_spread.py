#!/usr/bin/env python
"""Round-12 diagnosis of the events_stream_join in-run spread (the r11
driver bench recorded spread_max 8.43x on this query; the committed
same-code BENCH_FULL.json run read 1.57x).

Runs the registered query N times in one session — exactly what the
bench's repeat passes do — and decomposes each pass: wall, job count,
and the streaming query's per-batch durationMs breakdown captured from
recentProgress (triggerExecution / addBatch / queryPlanning /
walCommit / stateOperators commit times).

Usage: python tools/stream_join_spread.py [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from xngin_spark import queries as Q
    from xngin_spark.operators.util import release_storage
    from xngin_spark.session import get_spark

    Q.load_all()
    spark = get_spark("xngin_stream_join_spread")
    sc = spark.sparkContext

    # capture per-batch progress via a listener (run_available_now owns
    # the query handle internally, so listen globally)
    progress: list = []

    from pyspark.sql.streaming import StreamingQueryListener

    class L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append(json.loads(p.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(L())

    walls = []
    for i in range(passes):
        n0 = len(progress)
        sc.setJobDescription(f"spread:events_stream_join:p{i}")
        t0 = time.perf_counter()
        df = Q.QUERIES["events_stream_join"](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        wall = round(time.perf_counter() - t0, 3)
        release_storage()
        walls.append(wall)
        batches = progress[n0:]
        summary = [
            {
                "batchId": b.get("batchId"),
                "rows": b.get("numInputRows"),
                "durationMs": b.get("durationMs"),
                "stateRows": [
                    so.get("numRowsTotal") for so in b.get("stateOperators", [])
                ],
                "commitMs": [
                    so.get("commitTimeMs") for so in b.get("stateOperators", [])
                ],
            }
            for b in batches
            if b.get("numInputRows") or b.get("batchId") == 0
        ]
        print(f"pass {i}: wall={wall}s batches={len(batches)}", flush=True)
        for s in summary:
            print("  " + json.dumps(s), flush=True)
    walls_warm = walls[1:]
    spread = round(max(walls_warm) / max(min(walls_warm), 1e-3), 2)
    print(
        json.dumps(
            {"walls": walls, "warm_spread": spread,
             "warm_median": sorted(walls_warm)[len(walls_warm) // 2]}
        )
    )


if __name__ == "__main__":
    main()
