"""Registry queries are guests on the caller's session: each runs in its own
clone (``session.query_session``), so running them, even concurrently,
changes none of the caller's conf or temp views and leaves no temp dirs
behind."""

from __future__ import annotations

import math
import os
import tempfile
import threading

import duckdb
from pyspark.sql import SparkSession

from hadrodb_spark.queries import ORACLE, QUERIES

_TZ = "spark.sql.session.timeZone"
_PARTITIONS = "spark.sql.shuffle.partitions"
_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _norm(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else repr(v)
    return str(v)


def _canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _oracle(sf_dir: str, name: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
        )
        res = con.execute(ORACLE[name])
        return _canon([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()


def _temp_views(session: SparkSession) -> set[str]:
    return {t.name for t in session.catalog.listTables() if t.isTemporary}


def test_concurrent_queries_leave_caller_session_untouched(spark, sf_dir):
    """Two TZ-sensitive rows, one of them a stateful stream, run at once
    from two threads on one non-UTC caller session with 3 shuffle
    partitions: both equal their DuckDB oracle, and afterwards the caller
    has the same time zone, partition count, unset nanosAsLong and temp
    views as before."""
    caller = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    caller.conf.set(_TZ, "America/New_York")
    caller.conf.set(_PARTITIONS, "3")
    caller.conf.unset(_NANOS)
    views = _temp_views(caller)

    names = ["events_hourly_windows", "stream_tumbling_equivalence"]
    got: dict[str, object] = {}

    def run(name: str) -> None:
        try:
            df = QUERIES[name](caller, sf_dir)
            got[name] = _canon(df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # re-raised below with the row's name
            got[name] = e

    threads = [threading.Thread(target=run, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()

    for name in names:
        assert not isinstance(got[name], Exception), f"{name}: {got[name]!r}"
        assert got[name] == _oracle(sf_dir, name), name
    assert caller.conf.get(_TZ) == "America/New_York"
    assert caller.conf.get(_PARTITIONS) == "3"
    assert caller.conf.get(_NANOS, None) is None
    assert _temp_views(caller) == views


def test_kv_rows_keep_their_collections_under_one_root(spark, sf_dir):
    """The kv rows copy the fixture collection on every call; all copies
    live under one per-process root, so repeated calls make nothing else
    in the temp dir."""
    from hadrodb_spark.operators import kv

    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    for _ in range(2):
        for name in ("compact_equivalence", "compact_range_equivalence"):
            QUERIES[name](spark, sf_dir).count()
    assert set(os.listdir(tmp)) - before <= {os.path.basename(kv._root())}
    assert os.path.dirname(kv._root()) == tmp
