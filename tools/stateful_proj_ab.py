#!/usr/bin/env python
"""Interleaved same-JVM A/B for the r12 stateful-boundary projection
(streaming/stateful._project): OLD = identity (full 6-column event row
through the Arrow boundary), NEW = the shipped column pruning. Also
records per-batch durationMs from the listener so the delta can be
attributed to addBatch, not planning noise.

Usage: python tools/stateful_proj_ab.py [rounds] [query ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    names = sys.argv[2:] or [
        "events_stream_transitions",
        "events_stream_attribution",
        "events_stream_attribution_linear",
        "events_stream_attribution_ushaped",
        "events_stream_attribution_timedecay",
        "events_stream_pattern",
        "events_stream_pattern_custom",
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import xngin_spark.streaming.stateful as ST
    from xngin_spark import queries as Q
    from xngin_spark.operators.util import release_storage
    from xngin_spark.session import get_spark

    Q.load_all()
    spark = get_spark("xngin_stateful_proj_ab")
    sc = spark.sparkContext

    real_project = ST._project
    identity = lambda sdf, *cols: sdf  # noqa: E731

    progress: list = []
    from pyspark.sql.streaming import StreamingQueryListener

    class L(StreamingQueryListener):
        def onQueryStarted(self, e):
            pass

        def onQueryProgress(self, e):
            progress.append(json.loads(e.progress.json))

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    spark.streams.addListener(L())

    results: dict = {}
    for name in names:
        rows: list = []
        for rnd in range(rounds + 1):
            rec: dict = {}
            for tag, proj in (("old", identity), ("new", real_project)):
                ST._project = proj
                try:
                    n0 = len(progress)
                    sc.setJobDescription(f"proj_ab:{name}:{tag}:r{rnd}")
                    t0 = time.perf_counter()
                    df = Q.QUERIES[name](spark, sf_dir)
                    df.write.mode("overwrite").format("noop").save()
                    rec[tag] = round(time.perf_counter() - t0, 3)
                    add = [
                        b["durationMs"].get("addBatch", 0)
                        for b in progress[n0:]
                        if b.get("numInputRows")
                    ]
                    rec[f"{tag}_addBatchMs"] = sum(add)
                finally:
                    ST._project = real_project
                    release_storage()
            if rnd > 0:
                rows.append(rec)
            print(f"{name} r{rnd}: {rec}", flush=True)
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        results[name] = {
            "old_median": med([r["old"] for r in rows]),
            "new_median": med([r["new"] for r in rows]),
            "old_addBatch_med": med([r["old_addBatchMs"] for r in rows]),
            "new_addBatch_med": med([r["new_addBatchMs"] for r in rows]),
            "new_faster_rounds": sum(1 for r in rows if r["new"] < r["old"]),
            "rounds": rows,
        }
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
