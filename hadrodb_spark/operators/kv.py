"""KV/document operators exposed as driver-checkable queries (SURVEY.md §2.1
S9-S19 — the reference's declared-but-unimplemented INTERFACE.md surface).

Each query deterministically builds a collection from the ``orders`` fixture
(bulk commit → update commit → tombstone commit), then reads it back through
the LWW/tombstone view. The DuckDB oracle reproduces the SAME final state
directly from ``orders`` with CASE/filter logic — so the driver's hash-match
verifies last-write-wins, tombstone-skip, and compaction equivalence, not
just Parquet round-tripping.

Reference semantics verified here:
- last-write-wins point reads  (KeyDir intent, ``hadro/engine.py:74-77,86``)
- tombstone delete on read     (``hadro/engine.py:26,169-170``, INTERFACE.md:15-17)
- ids / len / where            (INTERFACE.md:19-30)
- compaction equivalence       (``hadro/engine.py:53-54`` acknowledged need)
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadrodb_spark.operators.relational import load
from hadrodb_spark.sources.collection import KEY_COL, HadroCollection

_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), False),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
    ]
)

# Deterministic build recipe (mirrored exactly by the oracle SQL):
#   commit 0: all orders with o_orderkey <= 1000
#   commit 1: rewrite keys <= 200 with o_totalprice + 1000 (exact decimal)
#   commit 2: tombstone keys divisible by 7
_KEY_MAX = 1000
_UPD_MAX = 200
_DEL_MOD = 7

_cache: dict[str, HadroCollection] = {}


@functools.cache
def _root() -> str:
    """This process's one temp dir for the collections built here, removed
    at exit, never earlier: a returned lazy DataFrame, or a concurrent
    query, may still read an earlier call's copy."""
    root = tempfile.mkdtemp(prefix="hadro_kv_")
    atexit.register(shutil.rmtree, root, True)
    return root


def _collection(spark: SparkSession, sf_dir: str) -> HadroCollection:
    if sf_dir in _cache:
        return _cache[sf_dir]
    path = tempfile.mkdtemp(dir=_root()) + "/orders_kv"
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= _KEY_MAX)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )
    coll = HadroCollection(spark, path, _SCHEMA)
    coll.append_df(orders, key_col="o_orderkey")
    updated = (
        orders.filter(F.col("o_orderkey") <= _UPD_MAX)
        .withColumn(
            "o_totalprice",
            (F.col("o_totalprice").cast("decimal(18,2)") + F.lit(1000)).cast("double"),
        )
    )
    coll.append_df(updated, key_col="o_orderkey")
    # bulk tombstone — one distributed commit, no driver-side key loop
    coll.delete_where(F.col("o_orderkey") % _DEL_MOD == 0)
    _cache[sf_dir] = coll
    return coll


def _live(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _collection(spark, sf_dir).scan().withColumn(
        "o_orderkey", F.col(KEY_COL).cast("bigint")
    ).drop(KEY_COL)


# ----------------------------------------------------------------- queries
def kv_get_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point reads resolve to the LATEST version (S9): updated keys show the
    +1000 price from commit 1, not the original."""
    return (
        _live(spark, sf_dir)
        .filter(F.col("o_orderkey") <= _UPD_MAX)
        .select("o_orderkey", "o_totalprice")
    )


def kv_delete_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstoned keys vanish from the live view (S5/S11)."""
    return _live(spark, sf_dir).select("o_orderkey", "o_totalprice", "o_orderstatus")


def scan_skips_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scan itself (not a later filter) excludes tombstones (S5)."""
    return _live(spark, sf_dir).select("o_orderkey")


def kv_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``hadro.ids()`` as a relation (S13)."""
    return (
        _collection(spark, sf_dir)
        .scan()
        .select(F.col(KEY_COL).cast("bigint").alias("o_orderkey"))
    )


def kv_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``len(hadro)`` (S14) — live row count as a 1-row relation."""
    n = len(_collection(spark, sf_dir))
    return spark.createDataFrame([(n,)], "n BIGINT")


def where_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``hadro.where(predicate)`` (S15) over the live view."""
    return (
        _collection(spark, sf_dir)
        .where("o_totalprice > 150000 AND o_orderstatus = 'O'")
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .select("o_orderkey", "o_totalprice")
    )


def compact_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``compact()`` (S19) must be read-equivalent to merge-on-read: compact a
    COPY of the collection and return its post-compaction scan — the oracle is
    the same final-state SQL as ``kv_delete_tombstone``."""
    src = _collection(spark, sf_dir)
    copy_path = tempfile.mkdtemp(dir=_root()) + "/orders_kv"
    shutil.copytree(src.path, copy_path)
    copy = HadroCollection(spark, copy_path)
    copy.compact()
    return (
        copy.scan()
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


def compact_range_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``compact(upto=h, since=lo)`` — the size-tiered RANGE merge (S19,
    round-11 addition) — must be read-equivalent to merge-on-read, end to
    end through the driver's hash gate.  The fixture collection holds
    three commits (0 = bulk load, 1 = price update, 2 = tombstones);
    merging only the maintenance tail ``since=1, upto=2`` folds the
    update+delete commits into one segment at ``_seq = 2`` while the big
    base segment (commit 0) stays bit-identical — the steady-state 100 TB
    maintenance posture (nightly fold of the day's small commits, cost
    proportional to the RANGE, never the log).  The post-merge LWW scan
    must equal the same final-state SQL as full compaction: the oracle is
    ``_FINAL_STATE`` — a hash match proves the range merge preserved the
    LWW winner for updated keys, kept unpurged tombstones suppressing
    their keys, and left base-segment rows readable at their original
    positions (invariants documented at collection.compact; byte-level
    base-untouched pin lives in tests/test_segment_stats.py)."""
    src = _collection(spark, sf_dir)
    copy_path = tempfile.mkdtemp(dir=_root()) + "/orders_kv"
    shutil.copytree(src.path, copy_path)
    copy = HadroCollection(spark, copy_path)
    copy.compact(upto=2, since=1)
    return (
        copy.scan()
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


# The shared "final state" SQL: orders<=1000, +1000 on keys<=200, minus %7.
_FINAL_STATE = f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey <= {_UPD_MAX}
                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE o_orderkey <= {_KEY_MAX} AND o_orderkey % {_DEL_MOD} <> 0
"""

ORACLE: dict[str, str] = {
    "kv_get_latest": f"""
        SELECT o_orderkey, o_totalprice FROM ({_FINAL_STATE})
        WHERE o_orderkey <= {_UPD_MAX}
    """,
    "kv_delete_tombstone": _FINAL_STATE,
    "scan_skips_deleted": f"SELECT o_orderkey FROM ({_FINAL_STATE})",
    "kv_ids": f"SELECT o_orderkey FROM ({_FINAL_STATE})",
    "kv_count": f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ({_FINAL_STATE})",
    "where_filter": f"""
        SELECT o_orderkey, o_totalprice FROM ({_FINAL_STATE})
        WHERE o_totalprice > 150000 AND o_orderstatus = 'O'
    """,
    "compact_equivalence": _FINAL_STATE,
    "compact_range_equivalence": _FINAL_STATE,
}


def kv_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``read_at(0)`` returns the state BEFORE the update and tombstone
    commits — time travel (Delta AS OF analog over the ``_seq`` log;
    the reference's byte-offset ordering could have supported this but
    never exposed it). The oracle is the raw commit-0 input, so the
    hash-match proves later commits are fully excluded."""
    return (
        _collection(spark, sf_dir)
        .read_at(0)
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


def kv_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``diff(0, 2)`` — key-level change feed between two snapshots via
    content-hash full-outer join. The oracle derives each key's expected
    change LOGICALLY from the build recipe (tombstoned → removed, updated
    and still live → updated), so a hash-compare false-negative or a
    leaked unchanged key would mismatch."""
    d = _collection(spark, sf_dir).diff(0, 2)
    return d.select(F.col("key").cast("bigint").alias("o_orderkey"), "change")


_MERGE_LO = 900
_MERGE_HI = 1100


def kv_merge_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (``merge_df``: update-when-matched + insert-unmatched in
    ONE commit) — final state must equal the logical upsert the oracle
    computes directly from ``orders``: keys 900-1000 updated (+500 exact
    decimal), 1001-1100 inserted, everything else untouched."""
    key = "merge:" + sf_dir
    if key not in _cache:
        path = tempfile.mkdtemp(dir=_root()) + "/orders_merge"
        orders = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") <= _KEY_MAX)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
        )
        coll = HadroCollection(spark, path, _SCHEMA)
        coll.append_df(orders, key_col="o_orderkey")
        source = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey").between(_MERGE_LO, _MERGE_HI))
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .withColumn(
                "o_totalprice",
                (F.col("o_totalprice").cast("decimal(18,2)") + 500).cast("double"),
            )
        )
        coll.merge_df(source, key_col="o_orderkey")
        _cache[key] = coll
    return (
        _cache[key]
        .scan()
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


ORACLE["kv_time_travel"] = f"""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey <= {_KEY_MAX}
"""
ORACLE["kv_snapshot_diff"] = f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % {_DEL_MOD} = 0 THEN 'removed'
                ELSE 'updated' END AS change
    FROM orders
    WHERE o_orderkey <= {_KEY_MAX}
      AND (o_orderkey % {_DEL_MOD} = 0 OR o_orderkey <= {_UPD_MAX})
"""
ORACLE["kv_merge_equivalence"] = f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey BETWEEN {_MERGE_LO} AND {_MERGE_HI}
                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 500 AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE o_orderkey <= {_MERGE_HI}
"""


def kv_optimize_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``optimize(zorder)`` (S17) must be read-equivalent to the
    un-optimized view: z-order-cluster a COPY on (o_orderkey,
    o_totalprice) and return its scan against the same final-state oracle
    as ``kv_delete_tombstone`` — the driver row that would have caught
    the r5 regression where NULL-keyed rows were silently dropped by the
    placement join."""
    key = "opt:" + sf_dir
    if key not in _cache:
        src = _collection(spark, sf_dir)
        copy_path = tempfile.mkdtemp(dir=_root()) + "/orders_kv"
        shutil.copytree(src.path, copy_path)
        copy = HadroCollection(spark, copy_path)
        copy.optimize(["o_orderkey", "o_totalprice"], zorder=True, target_files=4)
        _cache[key] = copy
    return (
        _cache[key].scan()
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


ORACLE["kv_optimize_equivalence"] = _FINAL_STATE


def kv_export_import_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``export()`` → ``import_file()`` round-trip: the live view exported
    as plain parquet and bulk-loaded into a FRESH collection must scan
    identically to the source's merge-on-read view — the data-interchange
    contract (a non-Hadro consumer reads exactly the live state; a
    re-import loses nothing)."""
    key = "exim:" + sf_dir
    if key not in _cache:
        src = _collection(spark, sf_dir)
        base = tempfile.mkdtemp(dir=_root())
        src.export(base + "/export.parquet")
        fresh = HadroCollection(spark, base + "/fresh", _SCHEMA)
        fresh.import_file(base + "/export.parquet", key_col="o_orderkey")
        _cache[key] = fresh
    return (
        _cache[key]
        .scan()
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


ORACLE["kv_export_import_roundtrip"] = _FINAL_STATE


def kv_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``history()`` (DESCRIBE HISTORY analog) — the manifest's per-commit
    row/tombstone statistics must equal the counts the build recipe
    implies, proving the write paths record stats rather than degrading
    to the null fallback."""
    return (
        _collection(spark, sf_dir)
        .history()
        .select(
            "commit",
            F.col("rows").cast("bigint").alias("n_rows"),
            F.col("tombstones").cast("bigint").alias("n_tombstones"),
        )
    )


ORACLE["kv_history"] = f"""
    SELECT CAST(0 AS BIGINT) AS commit,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_tombstones
    FROM orders WHERE o_orderkey <= {_KEY_MAX}
    UNION ALL
    SELECT 1, COUNT(*), 0 FROM orders WHERE o_orderkey <= {_UPD_MAX}
    UNION ALL
    SELECT 2, COUNT(*), COUNT(*) FROM orders
    WHERE o_orderkey <= {_KEY_MAX} AND o_orderkey % {_DEL_MOD} = 0
"""


# --- kv_erasure_audit ---------------------------------------------------------
_ERASE_MOD = 13


def kv_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure audit (the GDPR workflow on the Bitcask model):
    tombstone every row of a data subject (keys divisible by 13), then
    ``compact()`` — and PROVE the subject is physically gone by scanning
    the raw log (every listed file, shadowed versions and tombstones
    included; full compaction deletes every unlisted file), where even
    the subject's tombstones must no longer appear (an append-only log
    without compaction still *stores* erased data; the reference
    acknowledges the need at ``hadro/engine.py:53-54``).

    Output: the subject's live row count before erasure (derivable —
    oracle recomputes it from ``orders``), the subject's RAW physical
    row count after compaction (the oracle pins the literal 0 — a hash
    match proves the bytes are gone, not merely hidden), and the
    surviving live count + exact cents total (proves erasure did not
    disturb anyone else's data).

    Scale shape: tombstoning is one distributed ``delete_where`` commit;
    compaction is the existing scan→rewrite; both audits are key-column
    aggregates over pruned scans.
    """
    src = _collection(spark, sf_dir)
    key = "erase:" + sf_dir
    if key not in _cache:
        copy_path = tempfile.mkdtemp(dir=_root()) + "/orders_kv"
        shutil.copytree(src.path, copy_path)
        copy = HadroCollection(spark, copy_path)
        copy.delete_where(F.col("o_orderkey") % _ERASE_MOD == 0)
        copy.compact()
        _cache[key] = copy
    copy = _cache[key]
    subject = F.col("o_orderkey") % _ERASE_MOD == 0
    before = (
        src.scan()
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .filter(subject)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_subject_live_before"))
    )
    raw_after = (
        copy._log()
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .filter(subject)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_subject_raw_after"))
    )
    live_after = (
        copy.scan()
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live_after"),
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("sum_cents_after"),
        )
    )
    return before.crossJoin(F.broadcast(raw_after)).crossJoin(
        F.broadcast(live_after)
    )


ORACLE["kv_erasure_audit"] = f"""
    SELECT CAST((SELECT COUNT(*) FROM ({_FINAL_STATE})
                 WHERE o_orderkey % {_ERASE_MOD} = 0) AS BIGINT)
             AS n_subject_live_before,
           CAST(0 AS BIGINT) AS n_subject_raw_after,
           CAST((SELECT COUNT(*) FROM ({_FINAL_STATE})
                 WHERE o_orderkey % {_ERASE_MOD} <> 0) AS BIGINT)
             AS n_live_after,
           CAST((SELECT SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                 FROM ({_FINAL_STATE})
                 WHERE o_orderkey % {_ERASE_MOD} <> 0) AS BIGINT)
             AS sum_cents_after
"""
