"""Driver-checkable STREAMING rows (SURVEY.md §2.2 streaming family).

Until round 8 the streaming tier was unit-test-only by design: the driver
gate compares batch DataFrames, and a running stream has no batch result.
``availableNow`` closes that gap — the query here runs the REAL Structured
Streaming engine (micro-batch planner, state store, sink commit log) over
a bounded file source, terminates, and returns the sink's contents as a
batch DataFrame the DuckDB oracle can hash-match.  That upgrades the
streaming family's certification from "unit tests assert it" to "the
driver's value hash proves micro-batched execution equals the batch
semantics".

Scale notes: the fixture split (8 files, maxFilesPerTrigger=2 ⇒ ≥ 4
micro-batches) forces genuine incremental state accumulation; complete
output mode makes the final table partition- and batching-invariant, so
the equivalence is exact no matter how the files land in batches.  At
100 TB the same topology runs with append mode + watermark eviction
(tested in tests/test_streaming*.py); complete mode here is what makes
the result a closed-form batch relation.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadrodb_spark.config import build_once, events_fixture_dir, scratch_dir
from hadrodb_spark.operators.relational import load
from hadrodb_spark.session import query_session
from hadrodb_spark.streaming.events import EVENT_SCHEMA, tumbling_counts

ROWS_ONLY: tuple[str, ...] = ()

#: The modules that write the ``_sink`` fixture's collection: the store
#: itself, and the ingest that drives ``append_df`` and writes the
#: collection's ``_hadro_stream_batch.json`` marker.
_SINK_MODULES = ("sources/collection.py", "streaming/ingest.py")


_STATE_PARTITIONS = "8"
# Deployment sizing knob: the 8-partition default is right for the sf≤1
# certification fixtures; a larger corpus sizes state partitions UP like
# any cluster deployment would (the sf10 rehearsal runs these rows with
# 32 — at 10M events the per-partition state work dominates the
# state-store open/commit overhead the default optimizes away).
_STATE_PARTITIONS_ENV = "SPARK_GRAFT_STREAM_STATE_PARTITIONS"


def _state_pinned(fn):
    """Run ``fn`` in a clone of the session (:func:`query_session`) whose
    ``spark.sql.shuffle.partitions`` is sized for the equivalence FIXTURES;
    the caller's session keeps its own value.

    Why: every stateful streaming operator allocates one state-store
    instance per shuffle partition PER MICRO-BATCH, so a session default of
    32 pays 32× state-store open/commit/snapshot overhead per batch even
    though the fixture's state fits in a handful of partitions — measured
    on ``stream_join_equivalence`` at sf0.1: 24.0 s @ 32 → 7.8 s @ 8.
    Results are partition-count-invariant (hash-partitioned keyed state;
    complete-mode tables and append-mode row sets don't depend on the
    layout), so this changes WALL COST ONLY.  On a real cluster the same
    knob is sized UP with executor count — what this pin right-sizes is
    the certification fixture, not the 100 TB deployment."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, *args, **kwargs):
        partitions = os.environ.get(_STATE_PARTITIONS_ENV, _STATE_PARTITIONS)
        pin = {"spark.sql.shuffle.partitions": partitions}
        with query_session(spark, pin) as pinned:
            return fn(pinned, *args, **kwargs)

    return wrapper


def _run_bounded(spark: SparkSession, stream_df: DataFrame, mode: str) -> str:
    """availableNow run into a uniquely-named memory sink; returns the
    sink's table name after the query terminates.

    The checkpoint is an explicit scratch_dir() location removed after
    termination: without one Spark allocates a temp checkpoint under the
    JVM's java.io.tmpdir (the slow root volume here), and the offset/
    commit logs plus HDFS-state-store deltas it fsyncs per micro-batch
    are exactly the latency scratch_dir() exists to absorb."""
    import uuid

    name = f"streq_{uuid.uuid4().hex}"
    ckpt = os.path.join(scratch_dir(), f"streq_ckpt_{uuid.uuid4().hex}")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return name


def _drain(spark: SparkSession, name: str, final_df: DataFrame) -> DataFrame:
    """Materialize the compared (small) relation driver-side and DROP the
    memory sink's temp view — the sink holds every emitted row in driver
    memory for the session lifetime otherwise (round-8 review finding:
    repeated bench/verify invocations each leaked a full sink copy)."""
    rows = final_df.collect()
    schema = final_df.schema
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


def _events_fixture(spark: SparkSession, sf_dir: str) -> str:
    """events.parquet (TIMESTAMP NANOS) rewritten as 8 µs-timestamp files —
    the multi-commit segment directory a collection's appenders produce."""
    return build_once(
        events_fixture_dir(sf_dir),
        lambda staging: load(spark, sf_dir, "events")
        .repartition(8)
        .write.mode("overwrite")
        .parquet(staging),
    )


@_state_pinned
def stream_tumbling_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts computed by the STREAMING engine — file
    source (2 files per trigger ⇒ incremental state over ≥ 4 real
    micro-batches), ``tumbling_counts``, complete-mode memory sink,
    ``availableNow`` trigger — returned as the finished batch relation.
    The oracle aggregates the same windows directly from parquet: a hash
    match proves micro-batched stateful execution converged to exactly
    the batch answer.

    Output discipline: window bounds as UTC strings (no raw timestamps),
    counts bigint, value totals decimal-summed then double."""
    fixture = _events_fixture(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(fixture)
    )
    name = _run_bounded(spark, tumbling_counts(stream), "complete")
    out = spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        "total_value",
    )
    return _drain(spark, name, out).orderBy("ws", "event_type")


ORACLE: dict[str, str] = {
    "stream_tumbling_equivalence": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY ws, event_type
    """,
}


def _dup_fixture(spark: SparkSession, sf_dir: str) -> str:
    """events plus an exact duplicate of the even-event_id half, the
    duplicates written as SEPARATE files from the originals so the dedup
    state must survive across micro-batches to catch them."""

    def build(staging: str) -> None:
        ev = load(spark, sf_dir, "events")
        ev.repartition(4).write.mode("overwrite").parquet(staging)
        ev.filter(F.col("event_id") % 2 == 0).repartition(4).write.mode(
            "append"
        ).parquet(staging)

    return build_once(events_fixture_dir(sf_dir, "dup"), build)


@_state_pinned
def stream_dedup_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup state proven against batch semantics: the fixture
    holds every event PLUS an exact duplicate of the even-id half in
    separate files, the stream drops duplicates by event_id within the
    watermark (state hash-partitioned by key — the 100 TB shape), and the
    deduped sink must aggregate to EXACTLY the original duplicate-free
    events table.  Emission in append mode is immediate (first arrival
    wins; the watermark only bounds state), so the bounded availableNow
    run surfaces the full deduped set.

    The per-type aggregate runs batch-side over the sink table, keeping
    the compared relation |event_type| rows with decimal-exact sums."""
    fixture = _dup_fixture(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(fixture)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = _run_bounded(spark, stream, "append")
    out = (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("event_id").cast("bigint").alias("n_ids"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    return _drain(spark, name, out).orderBy("event_type")


ORACLE["stream_dedup_equivalence"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


def _write_chronological_splits(spark: SparkSession, sf_dir: str, staging: str) -> int:
    """events split into 8 TIME-RANGE files written in event-time order
    (increasing mtimes ⇒ the file source replays them chronologically, so
    no record is ever late for the watermark).  Shared by the session and
    left-outer-join fixture builders — the split count / ordering trick /
    mtime spacing MUST stay identical between them (review finding: two
    verbatim copies would silently desynchronize).  Returns max event-time
    epoch seconds, from which callers derive their sentinel times."""
    import time as _time

    ev = load(spark, sf_dir, "events").withColumn(
        "_es", F.unix_timestamp("ts")
    )
    bounds = ev.select(
        F.expr(
            "percentile(_es, array(0.125,0.25,0.375,0.5,0.625,0.75,0.875))"
        ).alias("b"),
        F.max("_es").alias("mx"),
    ).collect()[0]
    cuts = [float("-inf")] + [float(x) for x in bounds["b"]] + [float("inf")]
    for i in range(8):
        ev.filter(
            (F.col("_es") >= cuts[i]) & (F.col("_es") < cuts[i + 1])
        ).drop("_es").coalesce(1).write.mode("append").parquet(staging)
        _time.sleep(0.05)  # strictly increasing file mtimes
    return int(bounds["mx"])


def _append_sentinel_event(
    spark: SparkSession,
    staging: str,
    event_id: int,
    es: int,
    event_type: str,
) -> None:
    """One sentinel event (user −1) as its own last-mtime parquet file."""
    import time as _time

    spark.createDataFrame(
        [(event_id, es, -1, event_type, 0.0, "{}")],
        "event_id long, es long, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds("es").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).coalesce(1).write.mode("append").parquet(staging)
    _time.sleep(0.05)


def _session_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Chronological 8-file replay plus one far-future sentinel event
    (user_id = −1, max ts + 10 days) whose arrival advances the watermark
    past every real session's end — the standard trick for draining
    session state from a bounded replay."""

    def build(staging: str) -> None:
        mx = _write_chronological_splits(spark, sf_dir, staging)
        _append_sentinel_event(
            spark, staging, 10**9, mx + 10 * 24 * 3600, "sentinel"
        )

    return build_once(events_fixture_dir(sf_dir, "sess"), build)


@_state_pinned
def stream_session_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window MERGE state proven against batch semantics — the
    hardest stateful path (sessions split across micro-batches must merge
    in the state store; closed sessions flush only when the watermark
    passes their end + gap).  The chronological 8-file replay keeps every
    record on-time; the far-future sentinel (user −1) closes all real
    sessions; the sentinel's own session stays open and therefore never
    emits.  Output equals the islands-algorithm batch sessions computed
    by the DuckDB oracle — the same cross-algebra check
    ``session_window_batch`` runs, now through the streaming engine."""
    from hadrodb_spark.streaming.events import session_windows

    fixture = _session_fixture(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(fixture)
    )
    name = _run_bounded(spark, session_windows(stream), "append")
    out = spark.table(name).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.col("n_events").cast("bigint").alias("n_events"),
    )
    return _drain(spark, name, out).orderBy("user_id", "session_start")


ORACLE["stream_session_equivalence"] = """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  ) >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    g AS (
      SELECT user_id, ts,
             SUM(brk) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sid
      FROM e
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, sid
    ORDER BY user_id, session_start
"""


@_state_pinned
def stream_join_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join state proven against batch semantics:
    purchases within 1 hour AFTER a signup by the same user, both sides
    read as streams with 2-hour watermarks and a time-bound condition
    (the only formulation whose state survives unbounded input).  The
    chronological replay makes eviction provably safe: when a purchase at
    time t arrives, every signup it can match (s_ts ≥ t − 1 h) is still
    ≥ 1 h above the watermark (≤ t − 2 h), so no match is ever lost to
    state cleanup — and inner-join rows emit as soon as the second side
    arrives, so no sentinel flush is needed either.  The batch oracle is
    the plain interval self-join.

    The output aggregates the match set batch-side (per signup-hour
    counts, decimal-exact purchase value) to keep the compared relation
    small and tie-free."""
    fixture = _session_fixture(spark, sf_dir)

    def _side(tp: str, prefix: str):
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            # 4 files/trigger ⇒ 3 micro-batches over the 9-file fixture —
            # still genuinely cross-batch join state (the unit tier pins the
            # exact multi-batch emission order); 2 was 5 batches at ~2× the
            # engine-orchestration wall with no extra semantics certified
            .option("maxFilesPerTrigger", 4)
            .parquet(fixture)
            .filter(F.col("event_type") == tp)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("value").alias(f"{prefix}_value"),
            )
            .withWatermark(f"{prefix}_ts", "2 hours")
        )

    joined = _side("signup", "s").join(
        _side("purchase", "p"),
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    name = _run_bounded(spark, joined, "append")
    out = (
        spark.table(name)
        .groupBy(
            F.date_format(F.date_trunc("hour", "s_ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "signup_hour"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.countDistinct("s_id").cast("bigint").alias("n_signups_matched"),
            F.sum(F.col("p_value").cast("decimal(18,2)"))
            .cast("double")
            .alias("purchase_value"),
        )
    )
    return _drain(spark, name, out).orderBy("signup_hour")


ORACLE["stream_join_equivalence"] = """
    WITH m AS (
      SELECT s.event_id AS s_id, s.ts AS s_ts, p.value AS p_value
      FROM (SELECT * FROM events WHERE event_type = 'signup') s
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON p.user_id = s.user_id
       AND p.ts >= s.ts
       AND p.ts <= s.ts + INTERVAL '1 hour'
    )
    SELECT strftime(date_trunc('hour', s_ts), '%Y-%m-%d %H:%M:%S') AS signup_hour,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(COUNT(DISTINCT s_id) AS BIGINT) AS n_signups_matched,
           CAST(SUM(CAST(p_value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
    FROM m
    GROUP BY 1
    ORDER BY signup_hour
"""


def stream_custom_state_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT @_state_pinned: this row's cost is the PANDAS workers folding
    # per-user state, not state-store open/commit — fewer partitions just
    # starve the worker pool (measured sf1: ~36 s @8 vs ~29 s @32;
    # sf0.1: 7.8 s @8 vs 6.6 s @32) — the opposite trade of the
    # JVM-state rows above.
    """ARBITRARY stateful processing (``applyInPandasWithState`` — the
    escape hatch windowed aggregation can't express) proven against batch
    semantics: the per-user running counter emits an updated snapshot
    every micro-batch it sees the user; the LAST snapshot per user (max
    running count — the counter is monotone) must equal the plain batch
    per-user count.  The compared contract is integer-only by design:
    the state payload's float total depends on accumulation order inside
    pandas, so it is exercised by the unit tests' per-batch prefix-sum
    assertions, not by the cross-engine hash.

    The sentinel user (−1) is filtered stream-side; real users aggregate
    from the same chronological 8-file replay the other equivalences use,
    so each user's snapshots genuinely accumulate across micro-batches."""
    from hadrodb_spark.streaming.ingest import running_user_totals

    fixture = _session_fixture(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(fixture)
        .filter(F.col("user_id") >= 0)
    )
    name = _run_bounded(spark, running_user_totals(stream), "update")
    out = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_snapshots"),
        )
        .select(
            "user_id",
            "n_events",
            # every user must have accumulated over >1 micro-batch for the
            # state path to be genuinely exercised — surfaced as a boolean
            # so the oracle can assert it as a constant
            (F.col("n_snapshots") > 1).alias("multi_batch"),
        )
    )
    return _drain(spark, name, out).orderBy("user_id")


ORACLE["stream_custom_state_equivalence"] = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS multi_batch
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


def _sink_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Land the duplicate-bearing stream in a fresh HadroCollection via
    ``stream_into_collection`` (foreachBatch; one micro-batch = one atomic
    collection commit; WAL-replay marker), keyed by event_id so the
    planted duplicates become LWW re-upserts.  The checkpoint lives and
    dies with the build — the published collection is read-only."""

    def build(staging: str) -> None:
        from hadrodb_spark.sources.collection import HadroCollection
        from hadrodb_spark.streaming.ingest import stream_into_collection

        dup_fixture = _dup_fixture(spark, sf_dir)
        coll = HadroCollection(
            spark, os.path.join(staging, "coll"), EVENT_SCHEMA
        )
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(dup_fixture)
        )
        q = stream_into_collection(
            stream,
            coll,
            key_col="event_id",
            checkpoint=os.path.join(staging, "ckpt"),
        )
        q.awaitTermination()
        coll.close()

    return build_once(events_fixture_dir(sf_dir, "sink", _SINK_MODULES), build)


@_state_pinned
def stream_sink_collection_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SINK side of the streaming story under the hash gate: the
    duplicate-bearing stream lands in a HadroCollection through
    ``foreachBatch`` (one atomic collection commit per micro-batch, a
    WAL-replay marker for at-least-once redelivery), keyed by event_id —
    so the planted duplicate half arrives as LWW re-upserts.  The
    collection's live scan must then aggregate to EXACTLY the
    duplicate-free batch events table: one hash match certifies the
    ingest commit protocol AND the last-writer-wins read path end to
    end.  (The source/state paths are the five rows above; this closes
    source → state → sink.)"""
    from hadrodb_spark.sources.collection import HadroCollection

    fixture = _sink_fixture(spark, sf_dir)
    coll = HadroCollection(spark, os.path.join(fixture, "coll"))
    return (
        coll.scan()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("event_id").cast("bigint").alias("n_ids"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


ORACLE["stream_sink_collection_equivalence"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


@_state_pinned
def stream_sliding_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERLAPPING-window state proven against batch semantics: with a
    2-hour window sliding every 30 minutes, each event must update FOUR
    window states — the multi-assignment bookkeeping ``tumbling``'s
    1:1 event→window mapping never exercises.  The streaming engine runs
    the real micro-batched ``sliding_counts`` (2 files per trigger ⇒
    ≥ 4 incremental state updates per window) into a complete-mode sink;
    the oracle derives the same relation from first principles by
    exploding each event into its k = 0..3 window starts
    (start = (⌊t/slide⌋ − k)·slide) — so a hash match certifies Spark's
    window-assignment algebra, not just its own batch mirror.

    Output discipline: window starts as UTC strings, counts bigint,
    value totals decimal-summed then double."""
    from hadrodb_spark.streaming.events import sliding_counts

    fixture = _events_fixture(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(fixture)
    )
    name = _run_bounded(spark, sliding_counts(stream), "complete")
    out = spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        "total_value",
    )
    return _drain(spark, name, out).orderBy("ws", "event_type")


ORACLE["stream_sliding_equivalence"] = """
    SELECT strftime(make_timestamp(
             ((epoch_us(ts) // 1800000000) - k) * 1800 * 1000000
           ), '%Y-%m-%d %H:%M:%S') AS ws,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events CROSS JOIN (
      SELECT UNNEST(generate_series(0, 3)) AS k
    ) grid
    GROUP BY 1, 2
    ORDER BY ws, event_type
"""


def _write_native_wave(spark, sf_dir: str, dest: str, parity: int) -> None:
    """One wave of the events table (event_id % 2 == parity) appended to
    ``dest`` through the hadrolog DataSource WRITER — 'error' events are
    framed as tombstones so the stream's skip path is exercised."""
    from hadrodb_spark.sources import hadrolog

    hadrolog.register(spark)
    (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == parity)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            (F.col("event_type") == "error").alias("deleted"),
        )
        .repartition(4, "event_id")
        .write.format("hadrolog")
        .option("path", dest)
        .option("deleted_col", "deleted")
        .mode("append")
        .save()
    )


def stream_hadrolog_source_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # NOT @_state_pinned: this row is STATELESS (source → parquet sink
    # passthrough) — there are no state stores to right-size, and fewer
    # shuffle partitions only shrink the wave-write parallelism
    # (measured sf1: ~29 s @8 vs ~16 s @32).
    """The NATIVE-FORMAT streaming source under the hash gate: events live
    in the reference's on-disk segment log (tombstoned 'error' rows
    included), and the hadrolog stream reader consumes them across a
    CHECKPOINT RESTART — run 1 drains the odd-event_id wave, wave 2 is
    then appended through the DataSource writer, and run 2 resumes from
    the SAME checkpoint, so it must consume ONLY the new segments
    (re-reading wave 1 would double every count; losing the resume would
    drop wave 2).  The parquet file sink must then aggregate to EXACTLY
    the duplicate-free non-tombstoned batch table — one hash match
    certifies frame-aligned offset resume, msgpack typed decode, and
    scan-time tombstone skip on the streaming path
    (``hadro/engine.py:139-177`` semantics; batch twin:
    ``hadrolog_scan_decode``).

    Engine reality check (r8-session-2 review): Python
    ``DataSourceStreamReader`` sources cannot declare
    ``SupportsTriggerAvailableNow``, so each ``availableNow`` run FALLS
    BACK to single-batch execution (Spark warns).  Each bounded run here
    is therefore ONE micro-batch; the state this row certifies is the
    CROSS-RUN checkpoint-offset resume, not intra-run micro-batching
    (the other six streaming rows cover that via the file source).  The
    fallback's caveat — an uncommitted batch from a CRASHED run may be
    skipped on restart — cannot occur here: each run terminates cleanly
    before the next starts, and a crashed run surfaces as a query error,
    never a silent skip."""
    import uuid

    from hadrodb_spark.sources import hadrolog

    hadrolog.register(spark)
    cache = build_once(
        events_fixture_dir(sf_dir, "native", hadrolog.WRITER_MODULES),
        lambda staging: _write_native_wave(spark, sf_dir, staging, 1),
    )
    # Wave-2 segments cached like wave 1 (r13, guide §2.4): the DataSource
    # writer's batch job (repartition + per-task msgpack framing + commit
    # renames) ran on EVERY invocation even though its output is a pure
    # function of (events, wave-1 segment count) — segment numbers are
    # deterministic because the writer numbers after wave 1's fixed max.
    # The cache is built THROUGH the same writer once; per invocation the
    # segments hardlink into the work dir only after run 1, so the
    # mid-stream-append arrival order this row certifies is unchanged.
    def _build_w2(staging: str) -> None:
        # append after wave 1's segments, then keep only the new ones
        for fn in os.listdir(cache):
            os.link(os.path.join(cache, fn), os.path.join(staging, fn))
        _write_native_wave(spark, sf_dir, staging, 0)
        for fn in os.listdir(cache):
            os.unlink(os.path.join(staging, fn))

    cache_w2 = build_once(
        events_fixture_dir(sf_dir, "native_w2", hadrolog.WRITER_MODULES),
        _build_w2,
    )
    # per-invocation working copy: run 2 appends, so the shared cache must
    # stay wave-1-only (hardlinks are cheap and the segments are immutable)
    base = tempfile.mkdtemp(
        prefix=f"hlstream_{uuid.uuid4().hex[:8]}_", dir=scratch_dir()
    )
    try:
        work = os.path.join(base, "log")
        ckpt = os.path.join(base, "ckpt")  # shared across BOTH runs
        out = os.path.join(base, "out")    # parquet sink: recovery-capable
        os.makedirs(work)
        for fn in os.listdir(cache):
            os.link(os.path.join(cache, fn), os.path.join(work, fn))
        ddl = (
            "event_id bigint, user_id bigint, event_type string, cents bigint"
        )

        def run_bounded() -> None:
            q = (
                spark.readStream.format("hadrolog")
                .option("path", work)
                .option("ddl", ddl)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_bounded()  # drains wave 1
        for fn in os.listdir(cache_w2):  # wave 2 appears mid-stream
            os.link(os.path.join(cache_w2, fn), os.path.join(work, fn))
        run_bounded()  # resume; ONLY new bytes
        agg = (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("cents").cast("bigint").alias("total_cents"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
            )
            .orderBy("event_type")
        )
        rows = agg.collect()
        schema = agg.schema
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, schema).orderBy("event_type")


ORACLE["stream_hadrolog_source_equivalence"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type <> 'error'
    GROUP BY event_type
    ORDER BY event_type
"""


# --- watermark late-drop (round-9 session-3) -----------------------------------
def _publish_wave(spark: SparkSession, df: DataFrame, dest_dir: str,
                  name: str, mtime: float) -> None:
    """Write ``df`` as ONE parquet file named ``name`` inside dest_dir with
    a pinned mtime — FileStreamSource discovers files oldest-mtime-first,
    and the late-drop certification needs the wave file order to be a
    CONTROLLED input, not a filesystem accident."""
    staging = tempfile.mkdtemp(prefix="latewave_", dir=scratch_dir())
    try:
        df.repartition(1).write.mode("overwrite").parquet(staging)
        part = next(
            f for f in os.listdir(staging)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        target = os.path.join(dest_dir, name)
        shutil.copyfile(os.path.join(staging, part), target)
        os.utime(target, (mtime, mtime))
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _shift_days(ts, days: int):
    import datetime

    return ts + datetime.timedelta(days=days)


_LATE_DELAY = "1 hour"


def _late_drop_waves_dir(spark: SparkSession, sf_dir: str) -> str:
    """Fixture cache for the late-drop wave FILES (r13, guide §2.4 —
    remove repeated work): the three wave parquet files are pure
    functions of the events table (bounds + max-(ts, event_id) row are
    deterministic), yet every invocation recomputed two driver collects
    and three single-file writes before the two bounded runs even
    started.  Built once per events fingerprint like every other stream
    fixture; each invocation hardlinks the files into its own src dir so
    the replay ORDER (wave2 appears only after run 1) stays a
    per-invocation property.  Pinned mtimes ride the cached inodes."""

    def build(staging: str) -> None:
        ev = load(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        bounds = ev.agg(
            F.max("ts").alias("mx"), F.min("ts").alias("mn")
        ).collect()[0]
        dup = ev.orderBy(F.desc("ts"), F.desc("event_id")).limit(1).collect()[0]
        t0 = 1_700_000_000.0  # fixed mtime base; only the ORDER matters
        _publish_wave(spark, ev, staging, "wave1a.parquet", t0)
        sentinel = spark.createDataFrame(
            [(-10, _shift_days(bounds["mx"], 2), -1, "planted", 1.23, "{}")],
            schema=EVENT_SCHEMA,
        )
        _publish_wave(spark, sentinel, staging, "wave1b.parquet", t0 + 60)
        wave2 = spark.createDataFrame(
            [
                (-1, _shift_days(bounds["mn"], -365), -1, "planted", 7.89, "{}"),
                (-2, _shift_days(bounds["mx"], 3), -1, "planted", 4.56, "{}"),
                tuple(dup),
            ],
            schema=EVENT_SCHEMA,
        )
        _publish_wave(spark, wave2, staging, "wave2.parquet", t0 + 120)

    return build_once(events_fixture_dir(sf_dir, "late"), build)


@_state_pinned
def stream_late_drop_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP certified against batch semantics — the one
    watermark behavior the other streaming rows can't show (complete-mode
    aggregations retain all state; here the dropped row must VANISH).
    Topology: ``withWatermark(ts, 1 hour)`` + ``dropDuplicates(event_id)``
    in append mode through a parquet sink, across a CHECKPOINT RESTART:

    - run 1, batch 1 = every real event (file wave1a, pinned oldest
      mtime; watermark 0 ⇒ nothing late);
    - run 1, batch 2 = one future sentinel (wave1b: event_id −10, ts =
      max_ts + 2 days).  Its offsets entry persists the watermark planned
      from batch 1's data — max(real ts) − 1 h — which is the value a
      RESTART restores.  A single-batch run 1 would restore watermark 0
      and certify nothing: the sentinel batch is load-bearing.
    - run 2 (same checkpoint) = wave2: a LATE row (event_id −1, ts =
      min_ts − 365 days — below EVERY candidate restored watermark, so
      the drop is batching-invariant), a FRESH row (event_id −2, ts =
      max_ts + 3 days — above every candidate watermark at its own
      batch), and an exact DUPLICATE of the max-(ts, event_id) real
      event, dropped via dedup state that survives the restart (under
      any alternative batching its ts instead falls below the watermark
      and it drops as late — the OUTPUT is invariant either way).

    The sink must therefore hold: all real events + the two planted
    sentinels, WITHOUT the late row and WITHOUT the duplicate.  The
    oracle rebuilds exactly that relation from the parquet table plus
    two planted literals.

    Scale: dedup/watermark state is hash-partitioned by event_id (the
    100 TB shape); the certification fixture is bounded, the semantics
    are not.  Like every streaming row, the cost is engine orchestration
    (two real runs + restart), not data volume."""
    import uuid

    waves = _late_drop_waves_dir(spark, sf_dir)
    base = tempfile.mkdtemp(
        prefix=f"latedrop_{uuid.uuid4().hex[:8]}_", dir=scratch_dir()
    )
    try:
        src = os.path.join(base, "src")
        ckpt = os.path.join(base, "ckpt")
        out = os.path.join(base, "out")
        os.makedirs(src)
        for fn in ("wave1a.parquet", "wave1b.parquet"):
            os.link(os.path.join(waves, fn), os.path.join(src, fn))

        def run_bounded() -> None:
            stream = (
                spark.readStream.schema(EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                stream.withWatermark("ts", _LATE_DELAY)
                .dropDuplicates(["event_id"])
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_bounded()  # wave 1: persists watermark = max(real ts) − 1 h
        # wave 2 becomes visible only AFTER run 1 — the restart semantics
        # this row certifies are about arrival order, which the hardlink
        # timing (not the file content) carries per invocation
        os.link(
            os.path.join(waves, "wave2.parquet"),
            os.path.join(src, "wave2.parquet"),
        )
        run_bounded()  # restart: late dropped, fresh kept, dup deduped
        agg = (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
                .cast("bigint")
                .alias("total_cents"),
            )
            .orderBy("event_type")
        )
        rows = agg.collect()
        schema = agg.schema
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, schema).orderBy("event_type")


ORACLE["stream_late_drop_equivalence"] = """
    WITH kept AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
      UNION ALL
      SELECT 'planted', 123   -- the future sentinel (run 1, batch 2)
      UNION ALL
      SELECT 'planted', 456   -- the fresh wave-2 row (above watermark)
      -- EXCLUDED by construction: the late wave-2 row (ts = min ts −
      -- 365 d < restored watermark = max real ts − 1 h) and the exact
      -- duplicate of the max-(ts, event_id) event (dedup state across
      -- the checkpoint restart; late under alternative batchings —
      -- dropped either way)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM kept
    GROUP BY event_type
    ORDER BY event_type
"""


# --- stream-stream LEFT OUTER join (round-10) ----------------------------------
def _louter_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Chronological 8-file replay of events (same time-range split the
    session fixture uses — increasing mtimes ⇒ the file source replays in
    event-time order, so nothing is ever late), plus TWO far-future
    sentinels that arrive LAST: a signup (user −1, max ts + 10 d) and a
    purchase (user −1, max ts + 20 d).  The left-outer row needs sentinels
    on BOTH sides: each side's watermark tracks only the rows that pass
    its own event_type filter, and null-extension flushes only when the
    MIN of the two watermarks passes signup + window — the session
    fixture's untyped 'sentinel' event advances neither."""

    def build(staging: str) -> None:
        mx = _write_chronological_splits(spark, sf_dir, staging)
        for off_days, etype in ((10, "signup"), (20, "purchase")):
            _append_sentinel_event(
                spark, staging, 10**9 + off_days, mx + off_days * 24 * 3600,
                etype,
            )

    return build_once(events_fixture_dir(sf_dir, "louter"), build)


@_state_pinned
def stream_left_join_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join state proven against batch semantics —
    the one state shape the inner-join row can't certify: a signup with NO
    purchase in its window must be held in the state store until the
    combined watermark PROVES no match can still arrive, then emit exactly
    once, null-extended.  Topology: both sides filtered from the same
    chronological replay, 2-hour watermarks, purchases within 2 hours
    AFTER the signup (``streaming.joins.left_outer_purchases`` — the unit
    tier pins the exact out-of-order emission set in
    tests/test_streaming_joins.py).

    Eviction safety is the inner row's argument (chronological replay ⇒
    every possible match is still ≥ watermark when its partner arrives);
    completeness needs the two typed sentinels: the far-future signup and
    purchase push BOTH sides' watermarks 10 days past every real signup's
    horizon, so every real signup either matched earlier or null-extends
    before the bounded run terminates.  The sentinel signup itself stays
    inside its own horizon and must NOT emit (user −1 filtered batch-side
    for belt and braces; the oracle sees only real events).

    The batch oracle is the plain interval LEFT JOIN; output aggregates
    per signup-hour with matched / null-extended splits so the hash pins
    both emission paths.  Scale: join state is hash-partitioned by user
    (the 100 TB shape); outer-state size is bounded by the watermark
    horizon, not the corpus."""
    from hadrodb_spark.streaming.joins import left_outer_purchases

    fixture = _louter_fixture(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        # 4 files/trigger ⇒ 3 micro-batches over the 10-file fixture (same
        # rationale as the inner-join row; the sentinels still arrive last)
        .option("maxFilesPerTrigger", 4)
        .parquet(fixture)
    )
    joined = left_outer_purchases(
        stream.filter(F.col("event_type") == "signup"),
        stream.filter(F.col("event_type") == "purchase"),
        "2 hours",
    )
    name = _run_bounded(spark, joined, "append")
    out = _louter_hour_histogram(spark.table(name))
    return _drain(spark, name, out).orderBy("signup_hour")


def _louter_hour_histogram(df: DataFrame) -> DataFrame:
    """Per-signup-hour match/unmatch histogram over left-outer-join
    output (sentinel pair dropped).  ONE text shared by the memory-sink
    row and its parquet-sink twin: both hash against the SAME oracle
    entry, so the aggregation must never drift between them."""
    return df.filter(F.col("user_id") >= 0).groupBy(
        F.date_format(
            F.date_trunc("hour", "s_ts"), "yyyy-MM-dd HH:mm:ss"
        ).alias("signup_hour")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("purchase_id").cast("bigint").alias("n_matched"),
        F.countDistinct("signup_id").cast("bigint").alias("n_signups"),
        F.sum(
            F.when(F.col("purchase_id").isNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_unmatched"),
    )


ORACLE["stream_left_join_equivalence"] = """
    WITH j AS (
      SELECT s.event_id AS s_id, s.ts AS s_ts, p.event_id AS p_id
      FROM (SELECT * FROM events WHERE event_type = 'signup') s
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON p.user_id = s.user_id
       AND p.ts >= s.ts
       AND p.ts <= s.ts + INTERVAL '2 hours'
    )
    SELECT strftime(date_trunc('hour', s_ts), '%Y-%m-%d %H:%M:%S')
             AS signup_hour,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(p_id) AS BIGINT) AS n_matched,
           CAST(COUNT(DISTINCT s_id) AS BIGINT) AS n_signups,
           CAST(SUM(CASE WHEN p_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched
    FROM j
    GROUP BY 1
    ORDER BY signup_hour
"""


# --- round 11: the sf>1-certifiable streaming row (r10 VERDICT task #2) ---

# Rows whose compared relation is DRAINED FROM A MEMORY SINK — i.e. every
# emitted row is materialized in driver memory before the (small) compared
# aggregate is computed.  That topology is the right certification harness
# at sf ≤ 1 (exact row-set equivalence, zero sink-side moving parts) but a
# deliberate non-goal above it: tools/bench_rehearsal.py REFUSES these
# names for sf > 1 instead of OOMing the driver or silently measuring a
# collect.  The scale path is the parquet-sink shape below
# (``stream_session_sink_equivalence``), whose emitted rows stay on
# executors/disk and only a bounded histogram ever reaches the driver.
MEMORY_SINK_ROWS: frozenset[str] = frozenset({
    "stream_tumbling_equivalence",
    "stream_dedup_equivalence",
    "stream_session_equivalence",
    "stream_join_equivalence",
    "stream_custom_state_equivalence",
    "stream_sliding_equivalence",
    "stream_left_join_equivalence",
})


@_state_pinned
def stream_session_sink_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-window MERGE state certified through the APPEND-MODE FILE
    SINK — the deployment topology (reference parity: hadro's log is its
    only sink; this is the Spark-native equivalent at scale).  Same
    chronological 8-file replay + far-future sentinel as
    ``stream_session_equivalence``, but the emitted sessions land in a
    parquet file sink (exactly-once via the sink's ``_spark_metadata``
    commit log) instead of a driver-collected memory sink, and the
    compared relation is the SESSION-LENGTH HISTOGRAM aggregated from the
    sink files — bounded cardinality (distinct session sizes), so the
    driver-side footprint is O(histogram) at ANY scale factor.  This is
    the row the sf10 envelope certifies; the memory-sink twin stays the
    sf ≤ 1 exact-row-set check (see ``MEMORY_SINK_ROWS``).

    Oracle: DuckDB islands-algorithm sessions over the same events,
    grouped to the identical histogram.  A hash match proves the
    micro-batched session merge AND the file-sink commit protocol
    together reproduce batch semantics."""
    import uuid

    from hadrodb_spark.streaming.events import session_windows

    fixture = _session_fixture(spark, sf_dir)
    run_dir = os.path.join(
        scratch_dir(), f"streq_sink_{uuid.uuid4().hex}"
    )
    out_dir = os.path.join(run_dir, "out")
    ck_dir = os.path.join(run_dir, "ck")
    try:
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(fixture)
        )
        q = (
            session_windows(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        hist = (
            spark.read.parquet(out_dir)
            .groupBy(F.col("n_events").cast("bigint").alias("session_len"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
            )
            .orderBy("session_len")
        )
        rows = hist.collect()  # O(distinct session sizes) — tiny at any sf
        schema = hist.schema
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema).orderBy("session_len")


@_state_pinned
def stream_join_sink_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT-OUTER stream-stream join certified through the APPEND-MODE
    FILE SINK — the sf>1 twin of ``stream_left_join_equivalence`` (a
    ``MEMORY_SINK_ROWS`` member, refused above sf1), mirroring the shape
    ``stream_session_sink_equivalence`` established for session state:
    the joined rows land in a parquet file sink (exactly-once via the
    sink's ``_spark_metadata`` commit log) instead of a driver-collected
    memory sink, and the compared relation is the per-signup-hour
    match/unmatch histogram aggregated from the sink files — cardinality
    bounded by the fixture's CALENDAR span (distinct signup hours), so
    the driver-side footprint stays O(hours) at ANY scale factor.  Same
    chronological 10-file replay + typed far-future sentinels on BOTH
    sides (each side's watermark tracks only rows passing its own
    event_type filter — an untyped sentinel advances neither, and
    null-extension flushes only when the min watermark passes
    signup + window).  ``date_format`` renders wall-clock hours, in UTC
    under the registry's ``QUERY_CONFS``.

    Oracle: identical batch left-join SQL as the memory-sink twin — a
    hash match proves outer-join state eviction, null-extension timing,
    AND the file-sink commit protocol together reproduce batch
    semantics."""
    import uuid

    from hadrodb_spark.streaming.joins import left_outer_purchases

    fixture = _louter_fixture(spark, sf_dir)
    run_dir = os.path.join(
        scratch_dir(), f"streq_jsink_{uuid.uuid4().hex}"
    )
    out_dir = os.path.join(run_dir, "out")
    ck_dir = os.path.join(run_dir, "ck")
    try:
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(fixture)
        )
        joined = left_outer_purchases(
            stream.filter(F.col("event_type") == "signup"),
            stream.filter(F.col("event_type") == "purchase"),
            "2 hours",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        agg = _louter_hour_histogram(spark.read.parquet(out_dir)).orderBy(
            "signup_hour"
        )
        rows = agg.collect()  # O(distinct signup hours) — calendar-bounded
        schema = agg.schema
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema).orderBy("signup_hour")


ORACLE["stream_join_sink_equivalence"] = ORACLE[
    "stream_left_join_equivalence"
]


ORACLE["stream_session_sink_equivalence"] = """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  ) >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    g AS (
      SELECT user_id, ts,
             SUM(brk) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sid
      FROM e
    ),
    s AS (
      SELECT user_id, sid, COUNT(*) AS session_len
      FROM g GROUP BY user_id, sid
    )
    SELECT CAST(session_len AS BIGINT) AS session_len,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM s
    GROUP BY session_len
    ORDER BY session_len
"""
