"""Shared operator utilities."""

from __future__ import annotations

import math
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def values_df(spark: SparkSession, schema: str, rows: list[tuple]) -> DataFrame:
    """Small literal DataFrame built JVM-side via a SQL VALUES clause.

    ``spark.createDataFrame(local_rows)`` routes every job over the
    result through the python->JVM local-relation conversion, which
    costs ~3-5s of py4j/Arrow machinery PER ACTION even for one row
    (measured; see queries/micro.py try_cast matrix note). A VALUES
    literal is a Catalyst LocalRelation — sub-ms to build, free to
    re-evaluate — so metadata writes (index _meta / _txn intent) and
    literal query tables stop paying a Python-worker stage each.

    ``schema`` is a DDL string (``"a long, b string"``); values may be
    int/float/str/bool/None and are rendered as SQL literals (strings
    escaped), then cast column-wise to the declared types so the result
    schema is exact regardless of literal inference.

    ``rows == []`` falls back to ``createDataFrame([], schema)``:
    ``VALUES`` with zero tuples is a ParseException, and the empty case
    is a one-time degenerate path (e.g. BPE on a corpus with no pairs)
    where the py4j conversion cost is irrelevant. The DDL is parsed via
    ``StructType.fromDDL`` so parameterized types (``decimal(10,2)``,
    ``array<int>``) survive — a naive ``split(',')`` would shear them."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], struct)
    names = [f.name for f in struct.fields]
    types = [f.dataType.simpleString() for f in struct.fields]
    raw_backslashes = (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        == "true"
    )

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            # doubled-quote escaping parses identically whether or not
            # spark.sql.parser.escapedStringLiterals is set; backslashes
            # have no mode-independent rendering, so escape them only
            # when the parser treats them as escapes
            s = v if raw_backslashes else v.replace("\\", "\\\\")
            return "'" + s.replace("'", "''") + "'"
        if isinstance(v, float) and not math.isfinite(v):
            # repr(inf/nan) is not a SQL literal; Spark accepts the
            # typed literal form for non-finite doubles
            return f"CAST('{v}' AS DOUBLE)"
        return repr(v)

    values = ", ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in rows
    )
    raw = spark.sql(
        f"SELECT * FROM VALUES {values} AS t({', '.join(names)})"
    )
    return raw.select(
        *[F.col(n).cast(t).alias(n) for n, t in zip(names, types)]
    )


def fan_out(df: DataFrame, factor: int = 1) -> DataFrame:
    """Ensure at least cluster-parallelism partitions before an
    expression-heavy map stage.

    Parquet can't split below one row group, so a small file (or a
    coalesced upstream stage) serializes everything after it onto one
    core. When the input already has enough partitions — the normal case
    on a real cluster reading many files — this is a no-op costing one
    ``getNumPartitions`` call, so the full-data shuffle only ever happens
    on inputs small enough for it to be cheap.
    """
    if df.isStreaming:
        # micro-batch parallelism is governed by the source (file
        # splits / Kafka partitions) and shuffle conf; .rdd is illegal
        # on a streaming frame, so the guard no-ops — letting the
        # map-side operators (signatures, features) run unchanged in
        # streaming twins
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


#: Storage-holding frames (persisted or locally checkpointed), one list
#: per thread. Whoever creates such a frame owns its release: a local
#: checkpoint has no lineage, so only its creator knows when its data is
#: dead, and nothing frees the blocks while the Dataset stays reachable.
#: Per-thread lists let a server connection or a ``foreachBatch``
#: callback thread drain exactly what it created, never another thread's
#: still-running plan.
_owned = threading.local()


def _frames() -> list[DataFrame]:
    frames = getattr(_owned, "frames", None)
    if frames is None:
        frames = _owned.frames = []
    return frames


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` owned by the calling thread: freed
    early by :func:`release_checkpoint`, else by the thread's
    :func:`release_storage` once the work that reads it has finished."""
    out = df.localCheckpoint(eager=eager)
    _frames().append(out)
    return out


def persist(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)`` owned by the calling thread (see
    :func:`checkpoint`)."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _frames().append(out)
    return out


def _free(df: DataFrame) -> None:
    if df.is_cached:
        df.unpersist()
        return
    # ``df.rdd.unpersist()`` is a no-op on a checkpoint: ``.rdd``
    # deserializes a NEW RDD over the checkpointed plan, and unpersisting
    # that wrapper leaves the persisted internal RDD in the block manager.
    # The persisted RDD is the one the checkpointed Dataset's
    # ``LogicalRDD`` leaf carries.
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def release_checkpoint(df: DataFrame) -> None:
    """Free one persisted or checkpointed frame now and drop it from the
    calling thread's list. Iterative operators call this per superseded
    iteration so storage stays O(1) in iteration count.

    A frame that holds no storage (neither persisted nor a checkpoint's
    ``LogicalRDD``) is a no-op; JVM errors propagate. Only call on a
    frame whose data is truly dead: a checkpoint cannot be recomputed
    after release."""
    frames = _frames()
    for i, f in enumerate(frames):
        if f is df:
            del frames[i]
            break
    _free(df)


def release_storage() -> None:
    """Free every frame the calling thread owns. Call where the work
    ends: after a query's result is fully materialized or shipped, at
    the end of a test, or in a ``foreachBatch`` body's ``finally``.
    Every frame is freed even if one fails; the first error is then
    re-raised."""
    frames = _frames()
    first = None
    while frames:
        try:
            _free(frames.pop())
        except Exception as e:
            first = first or e
    if first is not None:
        raise first
