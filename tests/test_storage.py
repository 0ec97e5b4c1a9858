"""Storage lifecycle: operators.util owns every persisted or checkpointed
frame per thread, and one drain (release_storage) frees what the calling
thread created — never another thread's still-running plan."""

from __future__ import annotations

import threading

import pytest
from py4j.protocol import Py4JError

from xngin_spark.operators.util import (
    checkpoint,
    persist,
    release_checkpoint,
    release_storage,
)


def _pinned(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _on_thread(fn) -> None:
    errors: list[BaseException] = []

    def run():
        try:
            fn()
        except BaseException as e:  # surface the thread's failure
            errors.append(e)

    t = threading.Thread(target=run)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "thread did not finish"
    if errors:
        raise errors[0]


def test_drain_frees_only_the_calling_threads_frames(spark):
    a = checkpoint(spark.range(10))
    assert _pinned(spark) == 1

    def other_thread():
        b = checkpoint(spark.range(5))
        assert _pinned(spark) == 2 and b.count() == 5
        release_storage()

    # thread B drains its own frame; A's checkpoint survives and still reads
    _on_thread(other_thread)
    assert _pinned(spark) == 1
    assert a.count() == 10
    release_storage()
    assert _pinned(spark) == 0


def test_drain_frees_persisted_and_checkpointed_frames(spark):
    p = persist(spark.range(20))
    p.count()
    checkpoint(spark.range(3))
    assert _pinned(spark) == 2
    release_storage()
    assert _pinned(spark) == 0 and not p.is_cached


def test_release_checkpoint_frees_one_frame_early(spark):
    keep = checkpoint(spark.range(4))
    gone = persist(spark.range(6))
    gone.count()
    release_checkpoint(gone)
    assert _pinned(spark) == 1
    # a frame holding no storage is a no-op, not an error
    release_checkpoint(spark.range(3))
    release_checkpoint(keep.filter("id > 0"))
    assert _pinned(spark) == 1 and keep.count() == 4


class _BrokenJdf:
    def queryExecution(self):
        raise Py4JError("injected JVM failure")


def test_release_errors_propagate_and_drain_frees_the_rest(spark):
    checkpoint(spark.range(2))
    bad = checkpoint(spark.range(3))
    checkpoint(spark.range(4))
    real, bad._jdf = bad._jdf, _BrokenJdf()
    # the drain frees both healthy frames, then raises the failure
    with pytest.raises(Py4JError, match="injected"):
        release_storage()
    assert _pinned(spark) == 1
    with pytest.raises(Py4JError, match="injected"):
        release_checkpoint(bad)
    bad._jdf = real
    release_checkpoint(bad)
    assert _pinned(spark) == 0


def test_server_statements_leave_no_persisted_rdds(spark, sf_dir):
    from xngin_spark.engine import Engine
    from xngin_spark.server import MySQLServer
    from xngin_spark.server.client import connect

    class PinningEngine(Engine):
        # every statement pins its result, as an operator-backed query
        # would: the connection thread owns it until the result ships
        def sql(self, query, dialect="ansi", reorder="auto"):
            return checkpoint(super().sql(query, dialect, reorder))

    eng = PinningEngine(sf_dir, spark=spark)
    with MySQLServer(eng) as srv:
        with connect(srv.host, srv.port) as c1, connect(srv.host, srv.port) as c2:
            for i in range(3):
                assert c1.query(f"SELECT {i} AS v")[1] == [[str(i)]]
                assert c2.query("SELECT count(*) AS n FROM nation")[1] == [["25"]]
            # a reply to the next command means the previous statement's
            # drain has run on each connection's thread
            assert c1.ping() and c2.ping()
            assert _pinned(spark) == 0
