import json, os, sys, time
REPO = "/root/repo"
sys.path.insert(0, REPO)

def main():
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from xngin_spark import queries as Q
    from xngin_spark.operators.util import release_storage
    from xngin_spark.session import get_spark
    Q.load_all()
    spark = get_spark("docs_screen_probe")
    sc = spark.sparkContext
    progress = []
    from pyspark.sql.streaming import StreamingQueryListener
    class L(StreamingQueryListener):
        def onQueryStarted(self, e): pass
        def onQueryProgress(self, e): progress.append(json.loads(e.progress.json))
        def onQueryIdle(self, e): pass
        def onQueryTerminated(self, e): pass
    spark.streams.addListener(L())
    for i in range(passes):
        n0 = len(progress)
        sc.setJobDescription(f"probe:docs_stream_screen:p{i}")
        t0 = time.perf_counter()
        df = Q.QUERIES["docs_stream_screen"](spark, sf_dir)
        t1 = time.perf_counter()   # construct = checkpoint + stream run (all inside)
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        release_storage()
        batches = progress[n0:]
        print(f"pass {i}: construct+run={t1-t0:.3f}s noop={t2-t1:.3f}s batches={len(batches)}", flush=True)
        for b in batches:
            if b.get("numInputRows") or b.get("batchId") == 0:
                print("  " + json.dumps({"batchId": b.get("batchId"), "rows": b.get("numInputRows"),
                    "durationMs": b.get("durationMs"),
                    "stateRows": [so.get("numRowsTotal") for so in b.get("stateOperators", [])],
                    "commitMs": [so.get("commitTimeMs") for so in b.get("stateOperators", [])]}), flush=True)
main()
