"""The workloads. Each one sets up, runs a closed timed loop of ops
through the engine's public entry points, and checks every op against
DuckDB outside the timed region.

Op order, statement literals and key ranges come only from the seed.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import shutil
import time
from types import SimpleNamespace

import duckdb

from perfbench.datagen import SPLIT_FILES, SPLIT_TABLES
from perfbench.stats import Op, percentile
from perfbench.trace import Tracer

TPCH = [f"q{i}" for i in range(1, 23)]
#: operator ops that ride along in tpch_olap's rounds so the Python
#: boundary (mmr_rerank) and a streaming query (emb_stream_screen) are
#: measured too; both are oracle-checked like the TPC-H queries
OPERATOR_OPS = ["mmr_rerank", "emb_stream_screen"]
ORDER_COLS = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)


def norm_rows(rows) -> list[tuple]:
    """Order-insensitive, type-insensitive form of a result: text cells
    from the wire and typed cells from DuckDB compare equal when they
    denote the same value."""

    def cell(v):
        if v is None:
            return None
        if isinstance(v, (dt.date, dt.datetime)):
            return v.isoformat(" ")
        s = str(v)
        try:
            return repr(round(float(s), 6))
        except ValueError:
            return s

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


def drain() -> None:
    """The engine's storage drain between queries (what a long-lived
    service calls after shipping each result)."""
    from xngin_spark.operators.dedup import release_checkpoints, release_persisted

    release_persisted()
    release_checkpoints()


def oracle_con(data_dir: str, tmp: str):
    from xngin_spark.oracle import duckdb_connect

    con = duckdb_connect(data_dir)
    con.execute(f"SET temp_directory='{tmp}/duckdb'")
    con.execute("SET threads TO 2")
    return con


class Workload:
    """``run`` returns the attempted ops and sets ``wall``, the loop time
    that throughput divides by."""

    name = ""
    sf = 0.01

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = random.Random(f"{self.name}:{ctx.seed}")
        self.spark = None
        #: wrong answers found by checks made outside the ops; any entry
        #: makes the run incorrect
        self.problems: list[str] = []

    def setup(self, spark) -> None:
        self.spark = spark

    def teardown(self) -> None:
        pass

    def warm_up(self) -> None:
        """One untimed pass after the set-ups, so the timed loop finds the
        JVM's compiled code, Python workers and stream machinery ready."""

    def install_tracing(self, tracer) -> None:
        pass

    def run(self, tracer) -> list[Op]:
        raise NotImplementedError

    def verify(self, ops: list[Op]) -> None:
        pass

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        return {}


class TpchOlap(Workload):
    """Single client; each round builds and collects every query once,
    in seeded order; rounds repeat until the time is up (at least one
    whole round, so every run measures the same query mix)."""

    name = "tpch_olap"
    names = TPCH + OPERATOR_OPS
    warmup = ["q1", "q9", "mmr_rerank"]

    def setup(self, spark) -> None:
        from xngin_spark.queries import QUERIES, load_all

        super().setup(spark)
        load_all()
        self.queries = QUERIES
        self.queries["q6"](spark, self.ctx.data).collect()

    def warm_up(self) -> None:
        for name in self.warmup:
            self.queries[name](self.spark, self.ctx.data).collect()
            drain()

    def run(self, tracer) -> list[Op]:
        ops: list[Op] = []
        t_start = time.perf_counter()
        while True:
            order = list(self.names)
            self.rng.shuffle(order)
            for name in order:
                op_id = len(ops)
                with tracer.op(op_id):
                    start, t0 = time.time(), time.perf_counter()
                    try:
                        with tracer.span("queries.construct"):
                            df = self.queries[name](self.spark, self.ctx.data)
                        tracer.counts["construct_jobs"] += tracer.poll()
                        rows = df.collect()
                        op = Op(name, time.perf_counter() - t0, check=(df.columns, rows))
                    except Exception as e:
                        op = Op(name, time.perf_counter() - t0, error=repr(e)[:300])
                    op.start = start
                    drain()
                    if tracer.enabled:
                        tracer.poll()
                        tracer.counts["residue_max"] = max(
                            tracer.counts["residue_max"], tracer.persistent_rdds()
                        )
                ops.append(op)
            if time.perf_counter() - t_start >= self.ctx.seconds:
                break
        self.wall = time.perf_counter() - t_start
        return ops

    def verify(self, ops: list[Op]) -> None:
        from xngin_spark.oracle import ParityResult, result_fingerprint
        from xngin_spark.queries import ORACLE

        con = oracle_con(self.ctx.data, self.ctx.tmp)
        expected: dict[str, tuple] = {}
        for op in ops:
            if not op.ok:
                continue
            if op.kind not in expected:
                cur = con.execute(ORACLE[op.kind])
                ocols = [d[0] for d in cur.description]
                expected[op.kind] = (ocols, result_fingerprint(ocols, cur.fetchall()))
            ocols, (on, oh) = expected[op.kind]
            cols, rows = op.check
            sn, sh = result_fingerprint(cols, rows)
            if not ParityResult(op.kind, sn, on, sh, oh, cols, ocols).ok:
                op.mismatch = f"spark {sn} rows/{sh} vs oracle {on} rows/{oh}"
            elif on and not sn:
                op.mismatch = "empty result where the oracle has rows"
            op.check = None
        con.close()


def install_sql_tracing(tracer) -> None:
    """Spans around the SQL-text layers: dialect shim, DPhyp reorder and
    its NDV probes, and ``Engine.sql`` as a whole."""
    from xngin_spark import engine as engine_mod
    from xngin_spark.plans import sqlreorder

    def reorder_done(result, state):
        tracer.counts["reorder_calls"] += 1
        if result[1]:
            tracer.counts["reorder_rewritten"] += 1

    def ndv_before(args, kwargs):
        cache = kwargs.get("cache")
        return cache, len(cache) if cache is not None else 0

    def ndv_done(result, state):
        cache, n0 = state
        if cache is not None:
            new = list(cache)[n0:]
            tracer.counts["ndv_probes"] += sum(1 for k in new if k[1] == "__rows__")

    tracer.wrap(engine_mod, "rewrite_sql", "dialect.rewrite")
    tracer.wrap(sqlreorder, "dphyp_rewrite", "sqlreorder.rewrite", after=reorder_done)
    tracer.wrap(
        sqlreorder, "measure_edge_ndv", "sqlreorder.ndv",
        before=ndv_before, after=ndv_done,
    )
    tracer.wrap(engine_mod.Engine, "sql", "engine.sql")


class WriteMix(Workload):
    """Single client on a private copy of ``orders`` + ``lineitem``.
    Each cycle: UPDATE over a key range, DELETE over another, a MERGE
    batch (matched plus new keys), three reads over the MySQL wire (a
    lookup of two merged keys, q12 and a 4-table join), and a CDC +
    rollup refresh. After each cycle, with the clock stopped, the same changes
    are applied to a DuckDB shadow of both tables and every result and
    both tables' contents are compared with it."""

    name = "write_mix"
    keys = SPLIT_TABLES
    #: read-only dimensions the join read adds to the two mutated tables
    dims = ("customer", "nation")
    #: MySQL-dialect 4-table comma join: backticks and LIMIT go through
    #: the wire compat layer and the dialect shim, the FROM list through
    #: the join-reorder gate
    join_sql = (
        "SELECT `n_name`, COUNT(*) AS `n`, SUM(`l_quantity`) AS `qty` "
        "FROM `wm_lineitem`, `wm_orders`, `customer`, `nation` "
        "WHERE `l_orderkey` = `o_orderkey` AND `o_custkey` = `c_custkey` "
        "AND `c_nationkey` = `n_nationkey` AND `o_orderdate` >= DATE '{day}' "
        "GROUP BY `n_name` ORDER BY `n` DESC, `n_name` LIMIT 10"
    )
    #: read-your-writes lookup of two keys the MERGE touched, one matched
    #: and one new
    point_sql = (
        "SELECT `o_orderkey`, `o_custkey`, `o_orderstatus`, `o_totalprice`, "
        "`o_orderpriority` FROM `wm_orders` WHERE `o_orderkey` IN ({keys})"
    )

    @staticmethod
    def point_keys(c) -> str:
        return f"{c.rows[0][0]}, {c.rows[20][0]}"

    def setup(self, spark) -> None:
        from xngin_spark.engine import Engine
        from xngin_spark.queries import QUERIES, load_all
        from xngin_spark.server import client
        from xngin_spark.server.server import MySQLServer
        from xngin_spark.sources.dml import agg_snapshot

        super().setup(spark)
        load_all()
        self.queries = QUERIES
        self.dir = os.path.join(self.ctx.tmp, f"write_mix-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for table in self.keys:
            shutil.copytree(
                os.path.join(self.ctx.data, "split", f"{table}.parquet"), self.path(table)
            )
        self.engine = Engine(spark=spark)
        for table in self.dims:
            self.engine.catalog.register(
                table, os.path.join(self.ctx.data, f"{table}.parquet")
            )
        # views the stale probe reads; never re-registered after a write
        for table in self.keys:
            self.engine.catalog.register(f"stale_{table}", self.path(table))
        self.server = MySQLServer(self.engine, port=0).start()
        self.conn = client.connect(self.server.host, self.server.port)
        self.prev = spark.read.parquet(self.path("orders")).localCheckpoint(eager=True)
        self.agg = agg_snapshot(self.prev, "o_orderpriority", "o_totalprice").localCheckpoint(
            eager=True
        )
        # warm-up; also builds queries.tpch's cached scans of the copy,
        # which the stale probe reads after the writes
        self.queries["q12"](spark, self.dir).collect()

    def path(self, table: str) -> str:
        return os.path.join(self.dir, f"{table}.parquet")

    def teardown(self) -> None:
        from xngin_spark.operators.util import release_checkpoint

        if getattr(self, "conn", None) is not None:
            self.conn.close()
            self.conn = None
        if getattr(self, "server", None) is not None:
            self.server.close()
            self.server = None
        for df in (getattr(self, "prev", None), getattr(self, "agg", None)):
            if df is not None:
                release_checkpoint(df)
        self.prev = self.agg = None
        if getattr(self, "dir", None):
            shutil.rmtree(self.dir, ignore_errors=True)

    @staticmethod
    def q12_sql(prefix: str = "wm_") -> str:
        from xngin_spark.queries import ORACLE

        return re.sub(r"\b(orders|lineitem)\b", prefix + r"\1", ORACLE["q12"])

    def read(self, sql: str, tracer):
        """Point the views at the tables' current files, then send the
        query over the MySQL wire; returns the rows as text.

        Re-registering is needed: a view registered, or a scan cached,
        before a copy-on-write write keeps the old file listing and fails
        on the replaced files (see :meth:`stale_probe`)."""
        for table in self.keys:
            self.engine.catalog.register(f"wm_{table}", self.path(table))
        with tracer.span("client.roundtrip"):
            return self.conn.query(sql)[1]

    def refresh(self) -> list:
        """CDC between the last snapshot of ``orders`` and its files now,
        folded into the maintained rollup; returns the rollup's rows."""
        from xngin_spark.operators.util import release_checkpoint
        from xngin_spark.sources import dml

        new_snap = self.spark.read.parquet(self.path("orders"))
        changes = dml.cdc_changes(
            self.prev, new_snap, ["o_orderkey"], ["o_orderpriority", "o_totalprice"]
        )
        agg = dml.maintain_agg(
            self.agg, changes, new_snap, "o_orderpriority", "o_totalprice"
        ).localCheckpoint(eager=True)
        snap = new_snap.localCheckpoint(eager=True)
        release_checkpoint(self.prev)
        release_checkpoint(self.agg)
        self.prev, self.agg = snap, agg
        return agg.collect()

    @staticmethod
    def draw(rng, n_orders: int, next_key: int) -> SimpleNamespace:
        """One cycle's key ranges and literals: UPDATE range ``a``, DELETE
        range ``b``, the join read's ``day`` and the MERGE ``rows`` (20
        matched keys plus 10 new ones from ``next_key``)."""
        a = rng.randrange(0, n_orders - 60)
        b = rng.randrange(0, n_orders - 25)
        day = (dt.date(1995, 1, 1) + dt.timedelta(days=rng.randrange(0, 2000))).isoformat()
        keys = rng.sample(range(n_orders), 20) + list(range(next_key, next_key + 10))
        rows = [
            (
                k, rng.randrange(0, 1500), rng.choice("FOP"),
                round(rng.uniform(1000, 500_000), 2),
                dt.datetime(1995, 1, 1) + dt.timedelta(days=rng.randrange(0, 2400)),
                rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
            )
            for k in keys
        ]
        return SimpleNamespace(a=a, b=b, day=day, rows=rows)

    def update(self, c) -> dict:
        from pyspark.sql import functions as F

        from xngin_spark.sources import dml

        return dml.update_table(
            self.spark, self.path("orders"),
            {"o_orderpriority": "1-URGENT", "o_totalprice": F.col("o_totalprice") + 1.0},
            f"o_orderkey BETWEEN {c.a} AND {c.a + 49}",
        )

    def delete(self, c) -> dict:
        from xngin_spark.sources import dml

        return dml.delete_from_table(
            self.spark, self.path("lineitem"), f"l_orderkey BETWEEN {c.b} AND {c.b + 19}"
        )

    def merge(self, c) -> dict:
        from xngin_spark.operators.util import values_df
        from xngin_spark.sources import dml

        src = [(k, cu, st, p, ts.isoformat(" "), pr) for k, cu, st, p, ts, pr in c.rows]
        return dml.merge_into(
            self.spark, self.path("orders"), values_df(self.spark, ORDER_COLS, src), "o_orderkey"
        )

    def warm_up(self) -> None:
        """An untimed UPDATE, DELETE and the two small reads, with
        literals of their own; the shadow is built from the copy after
        them. Run cold, these take up to twice their warm time. The slow
        ops (MERGE, join read, refresh) are left cold: warming them
        would cost a whole extra cycle, about 15 s a run."""
        n = self.prev.count()
        c = self.draw(random.Random(f"{self.name}:warm-up"), n, n)
        self.update(c)
        self.delete(c)
        self.read(self.point_sql.format(keys=self.point_keys(c)), Tracer(False))
        self.read(self.q12_sql(), Tracer(False))
        drain()

    def stale_probe(self, shadow) -> int:
        """Read q12 through the two paths that keep the file listing from
        before the writes: queries.tpch's cached scans (built by the
        set-up's q12) and the ``stale_*`` views registered at set-up.

        Returns how many of the two reads raised: the known defect,
        reported as ``dml.stale_reads``. A read that returns rows other
        than the shadow's is a wrong answer and makes the run incorrect.
        """
        from xngin_spark.queries import ORACLE

        want = norm_rows(shadow.execute(ORACLE["q12"]).fetchall())
        reads = {
            "queries.tpch scan cache": lambda: self.queries["q12"](
                self.spark, self.dir
            ).collect(),
            "catalog view": lambda: self.engine.sql(self.q12_sql("stale_")).collect(),
        }
        raised = 0
        for path, read in reads.items():
            try:
                rows = read()
            except Exception:
                raised += 1
                continue
            if norm_rows(rows) != want:
                self.problems.append(f"stale read through the {path} returned wrong rows")
        return raised

    def install_tracing(self, tracer) -> None:
        from xngin_spark.server.server import MySQLServer

        install_sql_tracing(tracer)
        tracer.wrap(MySQLServer, "_send_resultset", "server.engine_exec")

    # ---- shadow ---------------------------------------------------------

    def _shadow(self):
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.ctx.tmp}/duckdb'")
        con.execute("SET threads TO 2")
        for table in self.keys:
            src = self.live_files(table)
            con.execute(f"CREATE TABLE {table} AS SELECT * FROM read_parquet({src!r})")
        for table in self.dims:
            src = os.path.join(self.ctx.data, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{src}')")
        return con

    @staticmethod
    def _digest(con, source: str) -> tuple:
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {source}").fetchall()]
        return con.execute(
            f"SELECT COUNT(*), SUM(hash({', '.join(cols)})::HUGEINT) FROM {source}"
        ).fetchone()

    def live_files(self, table: str) -> list[str]:
        d = self.path(table)
        return sorted(
            os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )

    def disk_bytes(self) -> int:
        return sum(os.path.getsize(f) for t in self.keys for f in self.live_files(t))

    def fresh_bytes(self) -> int:
        """Bytes of a freshly written copy of the live rows, laid out like
        the starting copy (same file count, disjoint key ranges)."""
        total = 0
        for table, key in self.keys.items():
            out = os.path.join(self.dir, f"_fresh_{table}")
            self.spark.read.parquet(self.path(table)).repartitionByRange(
                SPLIT_FILES, key
            ).sortWithinPartitions(key).write.parquet(out)
            total += sum(
                os.path.getsize(os.path.join(out, f))
                for f in os.listdir(out) if f.endswith(".parquet")
            )
            shutil.rmtree(out)
        return total

    # ---- loop -----------------------------------------------------------

    def run(self, tracer) -> list[Op]:
        from xngin_spark.queries import ORACLE

        shadow = self._shadow()
        n_orders, next_key = shadow.execute(
            "SELECT COUNT(*), MAX(o_orderkey) + 1 FROM orders"
        ).fetchone()
        ops: list[Op] = []
        self.cycle_stats: list[dict] = []
        self.space_amp = None
        timed = 0.0
        cycle = 0
        stale = 0
        seen_files = {t: set(self.live_files(t)) for t in self.keys}

        def timed_op(kind, fn):
            nonlocal timed
            op_id = len(ops)
            with tracer.op(op_id):
                start, t0 = time.time(), time.perf_counter()
                try:
                    result = fn()
                    op = Op(kind, time.perf_counter() - t0, check=result)
                except Exception as e:
                    op = Op(kind, time.perf_counter() - t0, error=repr(e)[:300])
                op.start = start
                timed += op.latency
                if tracer.enabled:
                    tracer.poll()
            ops.append(op)
            return op

        while cycle < 2 or timed < self.ctx.seconds:
            c = self.draw(self.rng, n_orders, next_key)
            next_key += 10
            first = len(ops)
            upd = timed_op("update", lambda: self.update(c))
            dele = timed_op("delete", lambda: self.delete(c))
            mer = timed_op("merge", lambda: self.merge(c))
            psql = self.point_sql.format(keys=self.point_keys(c))
            tracer.bind_connection(1, len(ops))
            point = timed_op("read_point", lambda: self.read(psql, tracer))
            tracer.bind_connection(1, len(ops))
            q12 = timed_op("read_q12", lambda: self.read(self.q12_sql(), tracer))
            jsql = self.join_sql.format(day=c.day)
            tracer.bind_connection(1, len(ops))
            read = timed_op("read_join", lambda: self.read(jsql, tracer))

            ref = timed_op("refresh", self.refresh)
            drain()

            # ---- clock stopped: replay on the shadow and compare ----
            shadow.execute(
                "UPDATE orders SET o_orderpriority = '1-URGENT', "
                "o_totalprice = o_totalprice + 1.0 "
                f"WHERE o_orderkey BETWEEN {c.a} AND {c.a + 49}"
            )
            shadow.execute(f"DELETE FROM lineitem WHERE l_orderkey BETWEEN {c.b} AND {c.b + 19}")
            keys = ", ".join(str(r[0]) for r in c.rows)
            shadow.execute(f"DELETE FROM orders WHERE o_orderkey IN ({keys})")
            shadow.executemany("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)", c.rows)
            for table, op in (("orders", mer), ("lineitem", dele)):
                files = self.live_files(table)
                on_disk = self._digest(shadow, f"read_parquet({files!r})")
                if op.ok and on_disk != self._digest(shadow, table):
                    op.mismatch = f"{table} files {on_disk} vs shadow"
            if upd.ok and mer.ok:
                upd.mismatch = mer.mismatch
            self._check_rows(point, shadow, psql.replace("`", "").replace("wm_", ""))
            self._check_rows(q12, shadow, ORACLE["q12"])
            with tracer.discard():
                stale += self.stale_probe(shadow)
            self._check_rows(
                read, shadow, jsql.replace("`", '"').replace('"wm_', '"')
            )
            self._check_rows(
                ref, shadow,
                "SELECT o_orderpriority, COUNT(*), "
                "SUM(CAST(o_totalprice AS DECIMAL(25,6))), MIN(o_totalprice), "
                "MAX(o_totalprice) FROM orders GROUP BY o_orderpriority",
            )
            written = 0
            for t in self.keys:
                now = set(self.live_files(t))
                written += sum(os.path.getsize(f) for f in now - seen_files[t])
                seen_files[t] = now
            rows_changed = sum(
                sum(v for k, v in op.check.items() if k.startswith("rows_"))
                for op in (upd, dele, mer) if op.ok
            )
            self.cycle_stats.append({
                "files_rewritten": sum(
                    op.check["files_rewritten"] for op in (upd, dele, mer) if op.ok
                ),
                "bytes_written": written,
                "rows_changed": rows_changed,
            })
            for op in ops[first:]:
                if op.kind.startswith("read") or op.kind == "refresh":
                    op.check = None
            cycle += 1
            if cycle == 2 and tracer.enabled:
                with tracer.discard():
                    self.space_amp = self.disk_bytes() / self.fresh_bytes()
        shadow.close()
        self.stale_reads = stale / cycle
        self.wall = timed
        return ops

    @staticmethod
    def _check_rows(op: Op, shadow, sql: str) -> None:
        if not op.ok:
            return
        got, want = norm_rows(op.check), norm_rows(shadow.execute(sql).fetchall())
        if got != want:
            op.mismatch = f"{len(got)} rows vs shadow {len(want)}"
        elif want and not got:
            op.mismatch = "empty result where the shadow has rows"

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        good = [o for o in ops if o.ok]
        writes = [o.latency for o in good if o.kind in ("update", "delete", "merge")]
        reads = [o.latency for o in good if o.kind.startswith("read")]
        n = len(self.cycle_stats)
        written = sum(c["bytes_written"] for c in self.cycle_stats)
        changed = sum(c["rows_changed"] for c in self.cycle_stats)
        return {
            "dml.write_latency_p50_s": percentile(writes, 50) if writes else 0.0,
            "dml.read_latency_p50_s": percentile(reads, 50) if reads else 0.0,
            "dml.space_amp": self.space_amp or 0.0,
            "dml.files_rewritten": sum(c["files_rewritten"] for c in self.cycle_stats) / n,
            "dml.bytes_written": written / n,
            "dml.bytes_written_per_row": written / changed if changed else 0.0,
            "dml.live_files": float(sum(len(self.live_files(t)) for t in self.keys)),
            "dml.stale_reads": self.stale_reads,
        }


WORKLOADS = {w.name: w for w in (TpchOlap, WriteMix)}
