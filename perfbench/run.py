#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tpch_olap --seed 1 --seconds 6 --trace 0

Run from the repository root. Everything the run writes (generated
tables, Spark scratch, the private write_mix copy, span files) stays
under ``.perfbench/`` in the checkout. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs the same loop with tracing on and
prints the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
CORES = 4

END_TO_END = {
    "setup_s": "s",
    "throughput_ops_s": "1/s",
}
PER_LAYER = {
    "memory.rss_peak_mb": "MB",
    "host.steal_frac": "ratio",
    "server.roundtrip_ms": "ms",
    "server.engine_sql_ms": "ms",
    "server.non_engine_ms": "ms",
    "dialect.rewrite_ms": "ms",
    "sqlreorder.rewrite_ms": "ms",
    "sqlreorder.rewritten_frac": "ratio",
    "sqlreorder.ndv_probes": "count",
    "spark.catalyst_plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "driver.non_executor_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_ms": "ms",
    "spark.executor_busy_frac": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "operators.py_sent_bytes": "bytes",
    "operators.py_returned_bytes": "bytes",
    "operators.py_run_s": "s",
    "operators.py_start_s": "s",
    "operators.residue_rdds": "count",
    "streaming.batches": "count",
    "streaming.plan_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "dml.files_rewritten": "count",
    "dml.bytes_written": "bytes",
    "dml.bytes_written_per_row": "bytes",
    "dml.live_files": "count",
    "dml.space_amp": "ratio",
    "dml.write_latency_p50_s": "s",
    "dml.read_latency_p50_s": "s",
    "dml.stale_reads": "count",
    "bench.failed_frac": "ratio",
    "trace.latency_p50_s": "s",
    "trace.overhead_frac": "ratio",
}


def clear_stale_scratch(work: str) -> None:
    """Remove the scratch of earlier runs whose process is gone."""
    if not os.path.isdir(work):
        return
    for name in os.listdir(work):
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)


def start_session(scratch: str):
    from xngin_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    return get_spark(
        "perfbench",
        cpus=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it.

    The JVM exits on EOF of its stdin. py4j's own shutdown is not used:
    closing the callback server's connections can block forever, and
    its threads are daemons that end with the interpreter anyway."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # guests being already counted in user and nice
    return fields[7], sum(fields[:8])


def layer_metrics(wl, ops, tracer, wall: float) -> dict[str, float]:
    from perfbench.stats import outcome, percentile
    from perfbench.trace import busy_seconds

    c = tracer.counts
    spans = tracer.span_totals()
    n = len(ops)

    def span_s(name: str) -> float:
        return spans.get(name, (0, 0.0))[1]

    idle = sum(
        o.latency - busy_seconds(tracer.job_intervals, o.start, o.start + o.latency)
        for o in ops
    )
    roundtrip_ms = engine_ms = 0.0
    if "client.roundtrip" in spans:
        statements, total = spans["client.roundtrip"]
        roundtrip_ms = 1e3 * total / statements
        engine_ms = (
            1e3 * (span_s("engine.sql") + span_s("server.engine_exec")) / statements
        )
    batches = c["stream_batches"]
    calls = c["reorder_calls"]
    out = {
        "server.roundtrip_ms": roundtrip_ms,
        "server.engine_sql_ms": engine_ms,
        "server.non_engine_ms": roundtrip_ms - engine_ms if roundtrip_ms else 0.0,
        "dialect.rewrite_ms": 1e3 * span_s("dialect.rewrite") / n,
        "sqlreorder.rewrite_ms": 1e3 * span_s("sqlreorder.rewrite") / n,
        "sqlreorder.rewritten_frac": c["reorder_rewritten"] / calls if calls else 0.0,
        "sqlreorder.ndv_probes": c["ndv_probes"] / n,
        "spark.catalyst_plan_ms": c["catalyst_ms"] / n,
        "spark.jobs": c["jobs"] / n,
        "spark.stages": c["stages"] / n,
        "spark.tasks": c["tasks"] / n,
        "driver.non_executor_s": idle / n,
        "spark.executor_run_s": c["run_ms"] / 1e3 / n,
        "spark.executor_cpu_s": c["cpu_ns"] / 1e9 / n,
        "spark.gc_ms": c["gc_ms"] / n,
        "spark.executor_busy_frac": c["run_ms"] / 1e3 / (wall * CORES),
        "spark.shuffle_write_bytes": c["shuffle_write"] / n,
        "spark.shuffle_read_bytes": c["shuffle_read"] / n,
        "spark.spill_bytes": c["spill"] / n,
        "queries.construct_s": span_s("queries.construct") / n,
        "queries.construct_jobs": c["construct_jobs"] / n,
        "operators.py_sent_bytes": c["py_sent_bytes"] / n,
        "operators.py_returned_bytes": c["py_returned_bytes"] / n,
        "operators.py_run_s": c["py_run_s"] / n,
        "operators.py_start_s": c["py_start_s"] / n,
        "operators.residue_rdds": c["residue_max"],
        "streaming.batches": batches / n,
        "streaming.plan_ms": c["stream_plan_ms"] / batches if batches else 0.0,
        "streaming.wal_commit_ms": c["stream_wal_ms"] / batches if batches else 0.0,
        "streaming.add_batch_ms": c["stream_add_batch_ms"] / batches if batches else 0.0,
        "streaming.commit_ms": c["stream_commit_ms"] / batches if batches else 0.0,
        "dml.files_rewritten": 0.0,
        "dml.bytes_written": 0.0,
        "dml.bytes_written_per_row": 0.0,
        "dml.live_files": 0.0,
        "dml.space_amp": 0.0,
        "dml.write_latency_p50_s": 0.0,
        "dml.read_latency_p50_s": 0.0,
        "dml.stale_reads": 0.0,
        "bench.failed_frac": outcome(ops)["failed_frac"],
        "trace.latency_p50_s": percentile(outcome(ops)["latencies"], 50),
        "trace.overhead_frac": tracer.overhead_s / wall,
    }
    out.update(wl.layer_metrics(ops))
    return out


def run(args) -> dict:
    from perfbench import datagen
    from perfbench.stats import outcome, result_line, throughput
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench")
    # each run gets its own scratch, removed at exit, so every run starts
    # from the same state: no index, checkpoint or sink from an earlier run
    clear_stale_scratch(work)
    scratch = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    # operators and streaming sinks place their scratch under the temp dir;
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["XNGIN_STREAM_SINK_DIR"] = os.path.join(tmp, "stream_sink")
    tempfile.tempdir = tmp

    cls = WORKLOADS[args.workload]
    data = datagen.ensure_data(os.path.join(work, "data"), cls.sf)
    wl = cls(SimpleNamespace(seed=args.seed, seconds=args.seconds, tmp=tmp, data=data))
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        setups = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = start_session(scratch)
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
            if i < SETUP_REPS - 1:
                wl.teardown()
                spark.stop()
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        wl.install_tracing(tracer)
        tracer.attach(spark)
        try:
            cpu0 = cpu_times()
            ops = wl.run(tracer)
            cpu1 = cpu_times()
        finally:
            tracer.detach()
            tracer.restore()
        t_loop = time.perf_counter()
        wall = wl.wall
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        # CPU time the hypervisor gave to other guests during the loop: a
        # shared host's load, which slows every op without any change here
        steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        wl.verify(ops)
        print(
            f"# set-ups {[round(x, 2) for x in setups]}s, warm-up {warm_s:.1f}s, verify "
            f"{time.perf_counter() - t_loop:.1f}s, host steal {steal:.1%} during the loop",
            file=sys.stderr,
        )
        for op in ops:
            note = "ok" if op.ok else f"FAILED {op.error or op.mismatch}"
            print(f"# op {op.kind} {op.latency:.3f}s {note}", file=sys.stderr)
        for problem in wl.problems:
            print(f"# WRONG {problem}", file=sys.stderr)
        if args.trace:
            metrics = layer_metrics(wl, ops, tracer, wall)
            metrics["memory.rss_peak_mb"] = rss_mb
            metrics["host.steal_frac"] = steal
            units = PER_LAYER
            traces = os.path.join(work, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write_spans(
                os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
            )
        else:
            metrics = {
                "setup_s": statistics.median(setups) + warm_s,
                "throughput_ops_s": throughput(outcome(ops)["latencies"], wall),
            }
            units = END_TO_END
        return result_line(ops, metrics, units, wl.problems)
    finally:
        try:
            wl.teardown()
        finally:
            if spark is not None:
                spark.stop()
            stop_jvm()
            shutil.rmtree(scratch, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import xngin_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    line = run(args)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
