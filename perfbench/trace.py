"""Per-layer tracing, taken from outside the engine.

Three sources, all read only when ``--trace 1``:

- spans from wrappers this module installs around the engine's entry
  points (dialect rewrite, join reorder, ``Engine.sql``, the MySQL
  server's statement handler); each span records name, start, end,
  parent span and op id, is kept in memory and written out at the end;
- Spark's stores: the core status store (jobs, stages, task metrics)
  and the SQL status store (the Python-worker node metrics), read right
  after each op because both keep only about a thousand entries;
- listeners: a ``QueryExecutionListener`` for Catalyst phase times and
  a ``StreamingQueryListener`` for micro-batch phase times.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_METRIC_RE = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),(\w+)\)")
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
PY_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
}


def parse_metric_value(text: str) -> float:
    """Turn a SQL-store metric string into bytes, seconds or a count.

    Accepts both the plain form (``"10,000"``) and the summary form
    (``"total (min, med, max ...)\\n81.3 KiB (...)"``).
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        raise ValueError(f"unparsable metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


def metric_values(values_text: str, acc_ids: list[str]) -> dict[str, str]:
    """Pick the value strings of ``acc_ids`` out of a Scala Map's
    ``toString`` (values may themselves contain commas)."""
    out = {}
    for acc in acc_ids:
        m = re.search(
            r"(?:\(|, )" + acc + r" -> (.*?)(?=, \d+ -> |\)$)", values_text, re.S
        )
        if m:
            out[acc] = m.group(1)
    return out


class Tracer:
    """Span recorder plus the Spark store/listener readers.

    When disabled every hook is a no-op, so the untraced run executes
    the same code path minus the bookkeeping.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._conn_ops: dict[str, int | None] = {}
        self._spark = None
        self._qel = None
        self._stream_listener = None
        self._jobs_done = 0
        self._stages_seen: set[int] = set()
        self._exec_seen = -1
        self._exec_count = 0
        self.job_intervals: list[tuple[float, float]] = []

    # ---- spans ---------------------------------------------------------

    @contextmanager
    def op(self, op_id: int):
        """Mark the calling thread as running op ``op_id``."""
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = None

    def bind_connection(self, conn_id: int, op_id: int | None) -> None:
        """Let server-side spans (on the server's connection thread)
        inherit the op id of the client statement they serve."""
        self._conn_ops[f"mysql-conn-{conn_id}"] = op_id

    def _op_id(self):
        op = getattr(self._local, "op", None)
        if op is None:
            op = self._conn_ops.get(threading.current_thread().name)
        return op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent, self._op_id()))

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper until
        :meth:`restore`. ``before(args, kwargs)`` returns a state that
        ``after(result, state)`` may use to record counters."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            state = before(args, kwargs) if before else None
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after:
                after(result, state)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def span_totals(self) -> dict[str, tuple[int, float]]:
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for _, name, t0, t1, _, _ in self.spans:
            out[name][0] += 1
            out[name][1] += t1 - t0
        return {k: (n, s) for k, (n, s) in out.items()}

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, name, t0, t1, parent, op in self.spans:
                fh.write(json.dumps({
                    "id": sid, "name": name, "start": t0, "end": t1,
                    "parent": parent, "op": op,
                }) + "\n")

    # ---- Spark stores and listeners -----------------------------------

    def attach(self, spark) -> None:
        """Start reading ``spark``'s stores and register the listeners.
        Call after the last set-up, right before the timed loop."""
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self._spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._empty = gw.new_array(gw.jvm.double, 0)
        ensure_callback_server_started(gw)
        tracer = self

        class CatalystListener:
            def onSuccess(self, func, qe, duration_ns):
                it = qe.tracker().phases().iterator()
                total = 0
                while it.hasNext():
                    total += it.next()._2().durationMs()
                tracer.counts["catalyst_ms"] += total

            def onFailure(self, func, qe, exc):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                c = tracer.counts
                c["stream_batches"] += 1
                c["stream_plan_ms"] += d.get("queryPlanning", 0)
                c["stream_wal_ms"] += d.get("walCommit", 0)
                c["stream_add_batch_ms"] += d.get("addBatch", 0)
                c["stream_commit_ms"] += d.get("commitOffsets", 0) + d.get("commitBatch", 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._qel = CatalystListener()
        spark._jsparkSession.listenerManager().register(self._qel)
        self._stream_listener = StreamListener()
        spark.streams.addListener(self._stream_listener)
        self._jobs_done = self._next_job_id()
        self._stages_seen.clear()
        self._exec_count = self._sql.executionsCount()
        last = self._sql.executionsList(max(0, self._exec_count - 1), 1)
        self._exec_seen = last.apply(0).executionId() if last.size() else -1

    def detach(self) -> None:
        if self._spark is None:
            return
        spark, self._spark = self._spark, None
        try:
            self.poll()
            spark._jsparkSession.listenerManager().unregister(self._qel)
            spark.streams.removeListener(self._stream_listener)
        except Exception:
            pass

    def _next_job_id(self) -> int:
        ids = self._spark.sparkContext.statusTracker().getJobIdsForGroup()
        active = self._spark.sparkContext.statusTracker().getActiveJobsIds()
        known = list(ids) + list(active)
        return max(known) + 1 if known else 0

    def poll(self) -> int:
        """Fold every job finished since the last poll into the counters;
        returns how many jobs were folded. Jobs are taken in id order and
        the scan stops at the first one still running."""
        if self._spark is None:
            return 0
        t0 = time.perf_counter()
        with self._lock:
            self._bus.waitUntilEmpty()
            n = self._poll_jobs()
            self._poll_sql()
        self.overhead_s += time.perf_counter() - t0
        return n

    @contextmanager
    def discard(self):
        """Run untimed work (checks, probes) whose jobs, stages, listener
        events and spans must count toward no op: fold what came before,
        run the work against throwaway counters, fold its jobs there
        too, then put the real counters back."""
        if self._spark is None:
            yield
            return
        self.poll()
        kept, overhead = self.counts, self.overhead_s
        n_spans, n_intervals = len(self.spans), len(self.job_intervals)
        self.counts = defaultdict(float)
        try:
            yield
        finally:
            try:
                self.poll()
            finally:
                self.counts, self.overhead_s = kept, overhead
                del self.spans[n_spans:]
                del self.job_intervals[n_intervals:]

    def _poll_jobs(self) -> int:
        folded = 0
        c = self.counts
        while True:
            try:
                job = self._store.job(self._jobs_done)
            except Exception:
                return folded  # not submitted yet
            status = job.status().toString()
            if status in ("RUNNING", "UNKNOWN"):
                return folded
            self._jobs_done += 1
            folded += 1
            c["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                self.job_intervals.append(
                    (sub.get().getTime() / 1e3, end.get().getTime() / 1e3)
                )
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._stages_seen:
                    continue
                self._stages_seen.add(sid)
                try:
                    attempts = self._store.stageData(
                        sid, False, None, False, self._empty
                    )
                except Exception:
                    continue  # evicted
                for j in range(attempts.size()):
                    st = attempts.apply(j)
                    if st.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["run_ms"] += st.executorRunTime()
                    c["cpu_ns"] += st.executorCpuTime()
                    c["gc_ms"] += st.jvmGcTime()
                    c["shuffle_write"] += st.shuffleWriteBytes()
                    c["shuffle_read"] += st.shuffleReadBytes()
                    c["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def _poll_sql(self) -> None:
        n = self._sql.executionsCount()
        # below the store's retention the list index is stable, so resume
        # at the first unread entry; at the cap, re-read a recent window
        start = self._exec_count if n < 1000 else max(0, n - 64)
        if n <= start:
            return
        lst = self._sql.executionsList(start, n - start)
        for i in range(lst.size()):
            e = lst.apply(i)
            eid = e.executionId()
            if eid <= self._exec_seen:
                continue
            if not e.completionTime().isDefined():
                self._exec_count = start + i  # finish it on a later poll
                return
            self._exec_seen = eid
            names = e.metrics().toString()
            if "Python workers" not in names:
                continue
            wanted = {
                acc: PY_METRICS[name]
                for name, acc, _ in _METRIC_RE.findall(names)
                if name in PY_METRICS
            }
            values = metric_values(
                self._sql.executionMetrics(eid).toString(), list(wanted)
            )
            for acc, text in values.items():
                self.counts[wanted[acc]] += parse_metric_value(text)
        self._exec_count = n

    def persistent_rdds(self) -> int:
        return self._spark.sparkContext._jsc.getPersistentRDDs().size()


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
