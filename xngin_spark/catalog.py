"""Catalog — the Spark analog of the reference's ``Catalog`` trait.

Reference: doradb-catalog/src/lib.rs:14-46 defines create/drop schema &
table, column lookup, and key metadata (PK/UK/FK/SK,
doradb-catalog/src/lib.rs:147-153); doradb-catalog/src/mem_impl.rs:12 is
the dict-backed in-memory impl the tests use
(doradb-tpch-tests/src/lib.rs:6-174 registers the 8 TPC-H tables).

Here a table is a parquet path registered as a temp view. Spark has no
constraint enforcement, so key attributes are carried as metadata — they
drive planning hints (a PK side of a join is unique → safe for the
"single join" helper; small dims get broadcast).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Tables the driver materializes per scale factor (TESTDATA.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
PIPELINE_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + PIPELINE_TABLES

# Dimension tables small enough to always broadcast in joins
# (region 5 rows, nation 25 — fixed size at every scale factor).
BROADCAST_TABLES = frozenset({"region", "nation"})

# Primary keys, from the reference catalog fixture
# (doradb-tpch-tests/src/lib.rs:6-174).
PRIMARY_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


@dataclass
class TableDef:
    name: str
    path: str
    primary_key: tuple[str, ...] = ()
    broadcast: bool = False


@dataclass
class Catalog:
    """Parquet-backed table registry (MemCatalog analog)."""

    spark: SparkSession
    tables: dict[str, TableDef] = field(default_factory=dict)

    # --- schema (database) level — Catalog::create_schema/drop_schema +
    # USE (doradb-catalog/src/lib.rs:14-46; ast.rs:1552). Spark's session
    # catalog has real namespaces; these are thin, executable wrappers.
    # Note temp views (register() below) live OUTSIDE namespaces by
    # Spark's design; schema-scoped registration uses external tables.

    def create_schema(self, name: str, if_not_exists: bool = True) -> None:
        ine = "IF NOT EXISTS " if if_not_exists else ""
        self.spark.sql(f"CREATE DATABASE {ine}`{name}`")

    def drop_schema(self, name: str, cascade: bool = False) -> None:
        self.spark.sql(f"DROP DATABASE `{name}`{' CASCADE' if cascade else ''}")

    def use(self, name: str) -> None:
        """USE <schema> — unqualified table lookups resolve here first
        (temp views still shadow, as in Spark generally)."""
        self.spark.sql(f"USE `{name}`")

    def current_schema(self) -> str:
        return self.spark.catalog.currentDatabase()

    def schemas(self) -> list[str]:
        return [d.name for d in self.spark.catalog.listDatabases()]

    def register_dir(self, sf_dir: str, names: tuple[str, ...] = ALL_TABLES) -> "Catalog":
        """Register every ``{name}.parquet`` under ``sf_dir`` as a temp view."""
        for name in names:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            self.register(name, path)
        return self

    def register(self, name: str, path: str, schema: str | None = None) -> TableDef:
        """Register a parquet path as ``name`` — as a temp view (flat
        namespace, default), or as an external table inside ``schema``
        (temp views can't live in a namespace by Spark's design)."""
        td = TableDef(
            name=name if schema is None else f"{schema}.{name}",
            path=path,
            primary_key=PRIMARY_KEYS.get(name, ()),
            broadcast=name in BROADCAST_TABLES,
        )
        self.tables[td.name] = td
        if schema is not None:
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS `{schema}`.`{name}` "
                f"USING parquet LOCATION '{path}'"
            )
        elif name == "events" and os.path.basename(path) == "events.parquet":
            # the driver's events table needs the TIMESTAMP_NTZ-aware
            # loader; scope the special case to the testdata layout so a
            # user-created table that merely SHARES the name (e.g. a
            # ctas() result at an arbitrary path) registers generically
            # instead of re-reading dirname(path)/events.parquet
            events_df(self.spark, os.path.dirname(path)).createOrReplaceTempView(name)
        else:
            self.spark.read.parquet(path).createOrReplaceTempView(name)
        return td

    def table(self, name: str) -> DataFrame:
        if name not in self.tables:
            raise KeyError(f"table {name!r} not registered (have {sorted(self.tables)})")
        return self.spark.table(name)

    def drop(self, name: str) -> None:
        self.tables.pop(name, None)
        self.spark.catalog.dropTempView(name)

    def analyze(self, names: tuple[str, ...] | None = None) -> None:
        """ANALYZE for CBO stats — the analog of the reference's ``Estimate``
        cardinality trait (doradb-plan/src/join/reorder/estimate.rs:7-17).

        Only meaningful for saved tables; temp views get size-based stats
        from the file source, which AQE refines at runtime, so this is
        best-effort.
        """
        for name in names or self.tables:
            try:
                self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
            except Exception:
                pass


def events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table with ``ts`` as an event-time timestamp.

    The driver parquet stores TIMESTAMP(MICROS, isAdjustedToUTC=false),
    which Spark surfaces natively as TIMESTAMP_NTZ — zoneless, exactly
    the reference's Datetime semantics (doradb-datatype/src/lib.rs:49)
    and DuckDB's naive TIMESTAMP, so oracle comparisons agree with no
    conversion. Legacy fallbacks keep older layouts working: raw
    nanos-as-long (``spark.sql.legacy.parquet.nanosAsLong`` sessions)
    are floor-divided to micros, matching DuckDB's TIMESTAMP_NS →
    TIMESTAMP truncation.
    """
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes)["ts"] == "bigint":
        # integer `div` keeps full precision (ns values exceed double's
        # 53-bit mantissa)
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df

