"""Native-format (hadrolog) END-TO-END: ingest → segment log → scan → agg.

The reference ships an end-to-end demo collection (``/root/reference/.tweets``)
written through its append path (``/root/reference/hadro/engine.py:123-132``)
and read back by its scan loop (``hadro/engine.py:139-177``). This module is
the driver-checkable analog: ``hadrolog_scan_decode`` writes the ``events``
table into a multi-segment native-format collection — each record framed
``[1B flags][4B BE uint32 size][orso-msgpack payload]`` exactly as the
reference's ``_write`` (``hadro/engine.py:147-148,131-132``), with real
tombstones (``DELETED_FLAG``, ``hadro/engine.py:26``) — then reads it back
through the :mod:`hadrodb_spark.sources.hadrolog` DataSource in typed mode
(msgpack payload decode) and aggregates the survivors.

The DuckDB oracle aggregates the same rows straight from parquet, so a hash
match externally verifies BOTH the byte-level framing/codec round-trip (S4)
and tombstone skip-at-scan (S5) — behaviors previously covered only by unit
tests.

Scale: the write is one map-side pass — each input partition streams its rows
into its own segment file with no shuffle and no driver involvement, exactly
how a 1000-executor ingest would lay down a 1000-segment collection on shared
storage. The read fans out one Spark task per segment (the hadrolog source's
partitioning), and the aggregate is an ordinary codegen'd hash aggregation.
Monetary values are carried as integer cents so the cross-engine sum is
exact, not float-order-dependent.

Fixtures: each row's input is built once and cached under ``scratch_dir()``
(:func:`hadrodb_spark.config.events_fixture_dir` keys it,
:func:`hadrodb_spark.config.build_once` publishes it). The native
collection and its ``_compacted`` child are keyed on the events table's
fingerprint plus the source of ``hadrolog.WRITER_MODULES``, the code that
writes their bytes; the ORC/CSV/JSONL/XML fixtures on the fingerprint
only, since Spark's writers, not repo code, write theirs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadrodb_spark.config import build_once, events_fixture_dir
from hadrodb_spark.operators.relational import load
from hadrodb_spark.sources import hadrolog

_N_SEGMENTS = 4


def _native_collection(spark: SparkSession, sf_dir: str) -> str:
    """The events table as a native-format collection, written through the
    hadrolog DataSource WRITER: one segment per input partition, streamed
    executor-side with the writer's own two-phase commit (tasks stage into
    the destination filesystem, the driver publishes sequential segment
    numbers) — the cluster-safe twin of the reference's append
    (``hadro/engine.py:122-137``), with no driver-local paths in the data
    path. 'error' events are framed as tombstones so the scan's skip path
    is exercised for real. Keyed on the writer's code as well as the
    events table, since a framing or codec change changes the bytes."""

    def build(staging: str) -> None:
        (
            load(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.round(F.col("value") * 100).cast("bigint").alias("cents"),
                (F.col("event_type") == "error").alias("deleted"),
            )
            .repartition(_N_SEGMENTS, "event_id")
            .write.format("hadrolog")
            .option("path", staging)
            .option("deleted_col", "deleted")
            .mode("append")
            .save()
        )

    dest = events_fixture_dir(sf_dir, "hadrolog", hadrolog.WRITER_MODULES)
    return build_once(dest, build)


def hadrolog_scan_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the events table through the reference's on-disk format
    and aggregate what a native scan sees: per event type, how many live
    records and their exact total value in cents. Tombstoned ('error')
    records are physically present in the segments but skipped at scan
    (``hadro/engine.py:169-170`` semantics)."""
    hadrolog.register(spark)
    scanned = (
        spark.read.format("hadrolog")
        .option("path", _native_collection(spark, sf_dir))
        .option("ddl", "event_id bigint, user_id bigint, event_type string, cents bigint")
        .load()
    )
    return (
        scanned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


def compact_native_collection(
    spark: SparkSession, src: str, dest: str, ddl: str | None = None
) -> None:
    """Native-format log compaction: typed-scan the LIVE records of
    ``src`` (tombstones skipped at scan, ``hadro/engine.py:169-170``
    semantics) and rewrite them as a fresh segment log at ``dest``
    through the DataSource writer's two-phase commit — the maintenance
    operation that reclaims the space an append-only tombstone log can
    only mark dead.  The distributed shape mirrors the write path: one
    reader task per source segment streams straight into one staged
    output segment, no shuffle, no driver data path; all-tombstone
    segments produce no output file (the writer skips empty tasks).  The
    new log is published in one rename, and an existing ``dest`` is left
    as it is."""
    hadrolog.register(spark)
    build_once(
        dest,
        lambda staging: spark.read.format("hadrolog")
        .option("path", src)
        .option("ddl", ddl or _EV_DDL)
        .load()
        .write.format("hadrolog")
        .option("path", staging)
        .mode("append")
        .save(),
    )


def hadrolog_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction equivalence for the NATIVE format (the S19 story told
    on the reference's own on-disk layout, not the parquet collection):
    events → segment log with real tombstones → ``compact_native_collection``
    → typed scan of the compacted log.  Outputs the per-type live
    aggregate FROM THE COMPACTED collection plus the physical tombstone
    count a raw ``include_deleted`` scan finds there.  The oracle
    aggregates the live set straight from parquet with a literal 0 — a
    hash match proves the compacted log (a) preserved exactly the live
    records and (b) physically dropped every tombstone, not merely kept
    skipping them."""
    hadrolog.register(spark)
    src = _native_collection(spark, sf_dir)
    dest = src + "_compacted"
    compact_native_collection(spark, src, dest)
    scanned = (
        spark.read.format("hadrolog")
        .option("path", dest)
        .option("ddl", _EV_DDL)
        .load()
    )
    raw = (
        spark.read.format("hadrolog")
        .option("path", dest)
        .option("include_deleted", "true")
        .load()
    )
    tomb = raw.agg(
        F.count(F.when(F.col("flags").bitwiseAND(hadrolog.DELETED_FLAG) != 0, 1))
        .cast("bigint")
        .alias("compacted_tombstones")
    )
    return (
        scanned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .crossJoin(F.broadcast(tomb))
        .orderBy("event_type")
    )


def orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format interchange: events → ORC write → ORC scan →
    filtered aggregate. ORC is the other first-class columnar format a
    Spark deployment exchanges with Hive-era warehouses; this verifies
    the full write→read path (type mapping, predicate pushdown at the
    ORC reader) end-to-end against the parquet-direct oracle — the
    format tier next to the native hadrolog round-trip; values ride as
    exact integer cents. Avro is NOT exercised: its data source module
    ships outside the Spark distribution and is absent in this
    environment (probed; Failed to find data source)."""
    scanned = spark.read.orc(_interchange_fixture(spark, sf_dir, "orc"))
    return (
        scanned.filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
    )


def _interchange_fixture(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """The events table written out (once) in an interchange format (orc /
    csv / jsonl / xml), with integer cents; returns its data dir. Keyed on
    the events table only: Spark's writers, not repo code, decide these
    bytes."""

    def build(staging: str) -> None:
        target = os.path.join(staging, "data")
        w = (
            load(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            )
            .write.mode("overwrite")
        )
        if kind == "orc":
            w.orc(target)
        elif kind == "csv":
            w.option("header", "true").csv(target)
        elif kind == "xml":
            w.format("xml").option("rowTag", "event").save(target)
        else:
            w.json(target)

    dest = build_once(events_fixture_dir(sf_dir, kind), build)
    return os.path.join(dest, "data")


_EV_DDL = "event_id bigint, user_id bigint, event_type string, cents bigint"


def csv_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange tier: events → CSV write → schema-explicit CSV scan
    → filtered aggregate vs the parquet-direct oracle. The schema is
    DECLARED, never inferred (inference is a full extra pass and a
    type-drift hazard at 100 TB). Scale note, recorded honestly: the CSV
    reader has no predicate pushdown into the parser — rows are parsed
    then filtered — so CSV is the ingest/egress format here, never the
    analytical store; the round-trip proves lossless interchange, and
    column pruning still avoids materializing unused fields."""
    src = _interchange_fixture(spark, sf_dir, "csv")
    scanned = spark.read.schema(_EV_DDL).option("header", "true").csv(src)
    return (
        scanned.filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


def jsonl_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines interchange tier: events → JSONL write → schema-explicit
    JSON scan → filtered aggregate vs the parquet-direct oracle. Same
    contract as the CSV tier (declared schema, no parser pushdown —
    interchange, not storage); JSONL is the wire format most
    crawl/annotation pipelines actually deliver."""
    src = _interchange_fixture(spark, sf_dir, "jsonl")
    scanned = spark.read.schema(_EV_DDL).json(src)
    return (
        scanned.filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
        )
    )


def xml_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML interchange tier (Spark 4 built-in, the spark-xml merge):
    events → XML write (rowTag=event) → schema-explicit XML scan →
    filtered aggregate vs the parquet-direct oracle. Same contract as
    CSV/JSONL (declared schema, parser has no predicate pushdown —
    interchange, not storage); XML is what legacy enterprise feeds and
    sitemap/feed crawls deliver. Completes the format matrix: parquet,
    ORC, CSV, JSONL, XML, native hadrolog (Avro absent in this
    environment — probed, documented)."""
    src = _interchange_fixture(spark, sf_dir, "xml")
    scanned = (
        spark.read.schema(_EV_DDL).format("xml").option("rowTag", "event").load(src)
    )
    return (
        scanned.filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
    )


ORACLE: dict[str, str] = {
    "csv_roundtrip_scan": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        WHERE event_type <> 'error'
        GROUP BY event_type
    """,
    "xml_roundtrip_scan": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               CAST(MAX(event_id) AS BIGINT) AS max_event_id
        FROM events
        WHERE event_type <> 'error'
        GROUP BY event_type
    """,
    "jsonl_roundtrip_scan": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               CAST(MIN(event_id) AS BIGINT) AS min_event_id
        FROM events
        WHERE event_type <> 'error'
        GROUP BY event_type
    """,
    "orc_roundtrip_scan": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               CAST(MIN(event_id) AS BIGINT) AS min_event_id,
               CAST(MAX(event_id) AS BIGINT) AS max_event_id
        FROM events
        WHERE event_type <> 'error'
        GROUP BY event_type
    """,
    "hadrolog_scan_decode": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        WHERE event_type <> 'error'
        GROUP BY event_type
    """,
    "hadrolog_compact_roundtrip": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(0 AS BIGINT) AS compacted_tombstones
        FROM events
        WHERE event_type <> 'error'
        GROUP BY event_type
        ORDER BY event_type
    """,
}
