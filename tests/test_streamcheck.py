"""Pins for the streaming-equivalence rows (operators/streamcheck.py).

The registry entries hash-match DuckDB per round; these tests pin the two
ENGINE behaviors the equivalences lean on, so a Spark upgrade that changes
them fails HERE with a readable assertion instead of as a driver red row:

1. ``dropDuplicatesWithinWatermark`` under adversarial file order — a
   record arriving far below the watermark is still EMITTED (late rows are
   not dropped by the dedup operator), and its duplicate arriving in a
   later micro-batch is still SUPPRESSED even though the watermark has
   long passed the event time.  Both properties together make
   ``stream_dedup_equivalence`` file-order-robust.
2. Session windows under ``availableNow`` — sessions split across
   micro-batches merge in state; a far-future sentinel flushes every real
   session; the sentinel's own (still-open) session never emits.
"""

from __future__ import annotations

import datetime as dt
import pytest
import time
import uuid

_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _write_file(spark, d, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    time.sleep(0.05)  # strictly increasing file mtimes => batch order


def _run_available_now(stream_df, mode: str):
    name = f"pin_{uuid.uuid4().hex}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name


def test_dedup_within_watermark_late_semantics(spark, tmp_path):
    """Late original emitted; later-batch duplicate of a long-expired key
    still suppressed — the two halves of the dedup-equivalence contract."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = tmp_path / "probe"
    new = dt.datetime(2024, 1, 30, 12, 0, 0)
    old = dt.datetime(2024, 1, 1, 12, 0, 0)
    # batch 1: a fresh event pushes the watermark ~29 days past `old`
    _write_file(spark, d, [(1, new, 10, "a", 1.0, "")])
    # batch 2: a VERY late original — must still be emitted
    _write_file(spark, d, [(2, old, 11, "a", 1.0, "")])
    # batch 3: its duplicate — must still be suppressed
    _write_file(spark, d, [(2, old, 11, "a", 1.0, "")])
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = _run_available_now(stream, "append")
    rows = sorted(
        tuple(r) for r in spark.table(name).select("event_id", "user_id").collect()
    )
    assert rows == [(1, 10), (2, 11)], rows


def test_session_windows_merge_and_sentinel_drain(spark, tmp_path):
    """Cross-batch session merge + sentinel flush + open-session holdback."""
    from hadrodb_spark.streaming.events import session_windows

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = tmp_path / "sess"
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    # user 10's burst is split across two files: the two halves land in
    # different micro-batches and must merge inside the session state
    _write_file(spark, d, [(1, t0, 10, "a", 1.0, ""), (2, t0 + 10 * m, 11, "a", 1.0, "")])
    _write_file(spark, d, [(3, t0 + 20 * m, 10, "a", 1.0, ""), (4, t0 + 60 * m, 11, "a", 1.0, "")])
    _write_file(spark, d, [(99, t0 + dt.timedelta(days=10), -1, "z", 0.0, "")])
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = _run_available_now(session_windows(stream), "append")
    rows = sorted(
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.table(name).collect()
    )
    assert rows == [
        (10, "2024-01-01 12:00:00", 2),   # merged across batches
        (11, "2024-01-01 12:10:00", 1),
        (11, "2024-01-01 13:00:00", 1),   # >30 min gap => second session
    ], rows  # sentinel (user -1) must NOT appear: its session never closed


def test_sliding_window_four_assignments(spark, tmp_path):
    """Every event lands in exactly window/slide = 4 sliding windows whose
    starts are (floor(t/slide) - k) * slide for k = 0..3 — the assignment
    algebra stream_sliding_equivalence's oracle re-derives.  One event,
    streamed, must produce exactly those 4 window rows."""
    from hadrodb_spark.streaming.events import sliding_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = tmp_path / "ev"
    t = dt.datetime(2024, 1, 5, 10, 47, 13)
    _write_file(spark, d, [(1, t, 7, "click", 2.5, "{}")])
    stream = spark.readStream.schema(_SCHEMA).parquet(str(d))
    name = _run_available_now(sliding_counts(stream), "complete")
    got = sorted(
        (r["window_start"], r["n_events"], r["total_value"])
        for r in spark.table(name).collect()
    )
    spark.catalog.dropTempView(name)
    base = dt.datetime(2024, 1, 5, 10, 30)  # floor(10:47:13 to 30 min)
    want = sorted(
        (base - dt.timedelta(minutes=30 * k), 1, 2.5) for k in range(4)
    )
    assert got == want


def test_state_pinned_never_touches_caller_conf(spark, monkeypatch):
    """The state-partition pin applies inside the wrapped body (8, or the
    SPARK_GRAFT_STREAM_STATE_PARTITIONS override), in UTC, while the
    caller's partition count and time zone never change, also when the
    body raises."""
    import pytest as _pytest
    from pyspark.sql import SparkSession

    from hadrodb_spark.operators import streamcheck as sc

    key, tz = "spark.sql.shuffle.partitions", "spark.sql.session.timeZone"
    caller = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    caller.conf.set(key, "3")
    caller.conf.set(tz, "America/New_York")
    seen = {}

    @sc._state_pinned
    def body(spark_):
        seen["inside"] = (spark_.conf.get(key), spark_.conf.get(tz))
        return 1

    def caller_unchanged() -> bool:
        return (caller.conf.get(key), caller.conf.get(tz)) == (
            "3", "America/New_York"
        )

    assert body(caller) == 1
    assert seen["inside"] == (sc._STATE_PARTITIONS, "UTC")
    assert caller_unchanged()

    monkeypatch.setenv(sc._STATE_PARTITIONS_ENV, "13")
    body(caller)
    assert seen["inside"] == ("13", "UTC")
    assert caller_unchanged()

    @sc._state_pinned
    def boom(spark_):
        seen["boom"] = spark_.conf.get(key)
        raise RuntimeError("body failure")

    with _pytest.raises(RuntimeError):
        boom(caller)
    assert seen["boom"] == "13"
    assert caller_unchanged()


def test_parquet_sink_metadata_log_governs_batch_reads(spark, tmp_path):
    """The engine contract stream_session_sink_equivalence leans on: a
    batch read of a file-sink output directory is governed by the sink's
    ``_spark_metadata`` commit log, so an UNCOMMITTED stray file (a torn
    task attempt, a crashed executor's orphan) is invisible — that is the
    exactly-once half of the sf>1 certification topology.  Also pins the
    emitted sessions themselves against the batch expectation."""
    from hadrodb_spark.streaming.events import session_windows

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = tmp_path / "src"
    t0 = dt.datetime(2024, 3, 1, 9, 0, 0)
    m = dt.timedelta(minutes=1)
    _write_file(spark, d, [(1, t0, 5, "a", 1.0, ""), (2, t0 + 5 * m, 5, "a", 1.0, "")])
    _write_file(spark, d, [(3, t0 + 90 * m, 5, "a", 1.0, "")])
    _write_file(spark, d, [(99, t0 + dt.timedelta(days=10), -1, "z", 0.0, "")])
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        session_windows(
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = sorted(
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.read.parquet(out).collect()
    )
    assert committed == [
        (5, "2024-03-01 09:00:00", 2),
        (5, "2024-03-01 10:30:00", 1),
    ], committed
    # plant an orphan parquet file with NO metadata-log commit: a batch
    # read over the sink dir must not see its rows
    stray = spark.createDataFrame(
        [(dt.datetime(2024, 3, 1, 9, 0), dt.datetime(2024, 3, 1, 9, 30), 777, 9)],
        "session_start timestamp, session_end timestamp, user_id long,"
        " n_events long",
    )
    straydir = tmp_path / "stray"
    stray.coalesce(1).write.parquet(str(straydir))
    import glob as _glob
    import shutil as _shutil

    src = _glob.glob(str(straydir / "part-*.parquet"))[0]
    _shutil.copy(src, out + "/part-99999-orphan.snappy.parquet")
    again = spark.read.parquet(out)
    assert again.filter("user_id = 777").count() == 0
    assert again.count() == 2


def test_rehearsal_refuses_memory_sink_rows_above_sf1(tmp_path):
    """r10 VERDICT task #7: the sf>1 guard is MECHANIZED, not a BENCH
    note.  Memory-sink equivalence rows are refused at sf10, kept at
    sf ≤ 1; the parquet-sink row always stays in the plan; an
    unrecognizable dir falls back to the events.parquet size heuristic
    (r11 ADVICE — a big dataset named sf10_v2 must not bypass the guard
    into a driver OOM), refusing nothing only when the events table is
    absent or small."""
    import importlib.util as _ilu
    import os as _os

    specpath = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "tools",
        "bench_rehearsal.py",
    )
    spec = _ilu.spec_from_file_location("bench_rehearsal", specpath)
    reh = _ilu.module_from_spec(spec)
    spec.loader.exec_module(reh)

    req = [
        "stream_session_equivalence",        # memory sink
        "stream_session_sink_equivalence",   # parquet sink — always ok
        "sql_tpch_q9_like",                  # batch — always ok
    ]
    run, refused = reh.plan_names(req, "/tmp/sf10")
    assert run == ["stream_session_sink_equivalence", "sql_tpch_q9_like"]
    assert set(refused) == {"stream_session_equivalence"}
    assert "memory-sink" in refused["stream_session_equivalence"]

    run, refused = reh.plan_names(req, "/tmp/sf1.0")
    assert run == req and refused == {}
    run, refused = reh.plan_names(req, "/tmp/sf0.1")
    assert run == req and refused == {}
    # unparseable name, no events table => nothing to OOM on, no refusal
    run, refused = reh.plan_names(req, "/tmp/mystery_dir")
    assert run == req and refused == {}
    # unparseable name + BIG events.parquet => size fallback refuses
    big = tmp_path / "sf10_v2"
    big.mkdir()
    with open(big / "events.parquet", "wb") as f:
        f.truncate(reh._EVENTS_BYTES_SF1_MAX + 1)
    run, refused = reh.plan_names(req, str(big))
    assert run == ["stream_session_sink_equivalence", "sql_tpch_q9_like"]
    assert set(refused) == {"stream_session_equivalence"}
    # unparseable name + small events.parquet => passes through
    small = tmp_path / "data_small"
    small.mkdir()
    with open(small / "events.parquet", "wb") as f:
        f.truncate(1024)
    run, refused = reh.plan_names(req, str(small))
    assert run == req and refused == {}
    # unparseable name + events.parquet as a Spark-style DIRECTORY of
    # part-files whose sum is big => size fallback still refuses
    # (getsize on the dir inode alone would be ~4 KiB and bypass it)
    bigdir = tmp_path / "data10"
    (bigdir / "events.parquet").mkdir(parents=True)
    for i in range(3):
        with open(bigdir / "events.parquet" / f"part-{i}.parquet", "wb") as f:
            f.truncate(reh._EVENTS_BYTES_SF1_MAX // 2)
    run, refused = reh.plan_names(req, str(bigdir))
    assert set(refused) == {"stream_session_equivalence"}

    # every _run_bounded caller must be in MEMORY_SINK_ROWS — a new
    # memory-sink row added without marking it re-opens the sf10 OOM
    import inspect

    from hadrodb_spark.operators import streamcheck as sc

    src = inspect.getsource(sc)
    import re as _re

    # count defs whose body calls _run_bounded
    bodies = _re.split(r"\ndef |\n@", src)
    callers = {
        b.split("(")[0]
        for b in bodies
        if "_run_bounded(" in b and not b.startswith("_run_bounded")
    }
    callers = {c for c in callers if c.startswith("stream_")}
    assert callers == set(sc.MEMORY_SINK_ROWS), (
        callers ^ set(sc.MEMORY_SINK_ROWS)
    )


@pytest.mark.slow
def test_left_join_null_extension_through_parquet_sink(spark, tmp_path):
    """The engine contract stream_join_sink_equivalence leans on: a
    left-outer stream-stream join writing to an append-mode FILE sink
    commits both the matched rows and the watermark-flushed
    null-extension rows — with hand-computed expectations on a planted
    fixture.  Typed far-future sentinels on BOTH sides advance both
    watermarks so the unmatched signup's outer row provably flushes
    before the availableNow run ends (an untyped sentinel advances
    neither side — the trap this family documents)."""
    from hadrodb_spark.streaming.joins import left_outer_purchases

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = tmp_path / "src"
    t0 = dt.datetime(2024, 3, 1, 9, 0, 0)
    m = dt.timedelta(minutes=1)
    # u5 signs up and purchases 30 min later (matched); u6 signs up and
    # never purchases (null-extended once min-watermark > s_ts + 2 h)
    _write_file(spark, d, [
        (1, t0, 5, "signup", 1.0, ""),
        (2, t0 + m, 6, "signup", 1.0, ""),
    ])
    _write_file(spark, d, [(3, t0 + 30 * m, 5, "purchase", 9.0, "")])
    _write_file(
        spark, d, [(98, t0 + dt.timedelta(days=10), -1, "signup", 0.0, "")]
    )
    _write_file(
        spark, d, [(99, t0 + dt.timedelta(days=20), -1, "purchase", 0.0, "")]
    )
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    joined = left_outer_purchases(
        stream.filter("event_type = 'signup'"),
        stream.filter("event_type = 'purchase'"),
        "2 hours",
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = sorted(
        (r["user_id"], r["signup_id"], r["purchase_id"])
        for r in spark.read.parquet(out).filter("user_id >= 0").collect()
    )
    assert committed == [(5, 1, 3), (6, 2, None)], committed


def test_sink_fixture_key_follows_collection_source(tmp_path, monkeypatch):
    """A cached fixture written by repo code is keyed on the source of every
    module that writes its bytes: the ``_sink`` collection on
    ``sources/collection.py`` and ``streaming/ingest.py``, the native
    segment fixtures on ``sources/hadrolog.py`` and ``sources/mpack.py``.
    Editing any of them changes the key, so a cache written by other code
    is never read, while the base stream-fixture key (path + size + mtime
    of the events table) stays put."""
    import os
    import re
    import shutil

    from hadrodb_spark import config
    from hadrodb_spark.operators import streamcheck as sc
    from hadrodb_spark.sources import hadrolog

    pkg = tmp_path / "pkg"
    cases = [("sink", sc._SINK_MODULES), ("native", hadrolog.WRITER_MODULES)]
    for _, modules in cases:
        for rel in modules:
            (pkg / rel).parent.mkdir(parents=True, exist_ok=True)
            shutil.copy(os.path.join(config._PKG_DIR, rel), pkg / rel)
    monkeypatch.setattr(config, "_PKG_DIR", str(pkg))
    monkeypatch.setattr(config, "scratch_dir", lambda: str(tmp_path))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"events")
    base = config.events_fixture_dir(str(sf))
    # the base dir name is unchanged, so existing base fixtures are reused
    assert re.fullmatch(r"stream_events_[0-9a-f]{16}", os.path.basename(base))
    for kind, modules in cases:
        keys = {config.events_fixture_dir(str(sf), kind, modules)}
        for rel in modules:
            with open(pkg / rel, "a") as f:
                f.write("# a format change\n")
            assert config.events_fixture_dir(str(sf)) == base
            key = config.events_fixture_dir(str(sf), kind, modules)
            assert key.startswith(f"{base}_{kind}_") and key not in keys, rel
            keys.add(key)
