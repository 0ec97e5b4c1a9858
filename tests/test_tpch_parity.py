"""Every registered query must hash-match its DuckDB oracle — the local
twin of the driver's CORRECTNESS gate (same compare semantics:
row count + columns + order-insensitive value hash)."""

from __future__ import annotations

import pytest

from xngin_spark import queries as Q
from xngin_spark.oracle import compare

Q.load_all()
NAMES = sorted(n for n in Q.QUERIES if n in Q.ORACLE)


def test_oracle_coverage_never_shrinks():
    # The driver gate window holds 50 entries; every query OUTSIDE the
    # window is oracle-checked only here. Pin the exact counts so a
    # refactor can't silently drop tail coverage (round-2 verdict item
    # #4); update them deliberately when the corpus changes.
    assert len(NAMES) == 203, f"oracle-checked corpus is {len(NAMES)}, not 203"
    assert len(Q.QUERIES) == 216, f"query corpus is {len(Q.QUERIES)}, not 216"


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    sdf = Q.QUERIES[name](spark, sf_dir)
    res = compare(name, sdf, oracle_con, Q.ORACLE[name])
    assert res.ok, (
        f"{name}: spark rows={res.spark_rows} hash={res.spark_hash} "
        f"cols={sorted(res.spark_cols)} vs oracle rows={res.oracle_rows} "
        f"hash={res.oracle_hash} cols={sorted(res.oracle_cols)}"
    )
    # A correct-but-empty query usually means a retuned constant missed
    # the data domain — catch that explicitly. ``compare`` already
    # counted the materialized rows, so this costs nothing (the old
    # separate test_query_nonempty re-EXECUTED all ~200 oracle queries
    # a second time for a count the compare had in hand — r12 verify-
    # budget fix).
    assert res.spark_rows > 0, f"{name} returned 0 rows"
