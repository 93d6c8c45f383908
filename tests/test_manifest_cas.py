"""Cross-host manifest commit protocol (round-9 VERDICT task #2).

The pre-r9 writer exclusion was an advisory ``flock`` — correct for any
number of processes on ONE machine, silently unsafe for two drivers on
different hosts over shared storage (flock does not travel over NFS the
way these tests assume, and object stores have no flock at all).  The
CAS protocol (``_cas_update_manifest``) replaces it: every mutation
publishes ``_hadro_manifest.v{N+1}.json`` via create-exclusive link and
retries on collision.

These tests drive the EXACT production functions from multiple
PROCESSES — separate flock domains by construction, so nothing but the
conditional-put serializes them — and assert no commit is ever lost,
duplicated, or torn.  The Spark-level behavior on top (append/scan/LWW)
is covered by test_collection*.py, which now runs through the same CAS
path.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import threading

import pytest

from hadrodb_spark.sources.collection import (
    _MANIFEST_KEEP,
    HadroError,
    _cas_update_manifest,
    _manifest_head,
    _manifest_v_path,
    _manifest_versions,
)


def _bump_and_record(path: str, writer: str, n: int) -> list[int]:
    """One simulated driver: n commits, each = counter bump + stats record
    (the exact two-mutation shape HadroCollection's write path performs)."""
    got = []
    for _ in range(n):
        holder = {}

        def bump(m):
            holder["c"] = int(m["commits"])
            m["commits"] = holder["c"] + 1

        _cas_update_manifest(path, bump)
        c = holder["c"]

        def record(m):
            m["segments"][str(c)] = {"writer": writer, "rows": 1}
            m["clean"] = False

        _cas_update_manifest(path, record)
        got.append(c)
    return got


def _worker(path: str, writer: str, n: int, q) -> None:
    q.put((writer, _bump_and_record(path, writer, n)))


def test_two_process_interleaved_commits_lose_nothing(tmp_path):
    """Two separate PROCESSES (distinct flock domains — the two-driver
    shared-storage topology) interleave 2×25 commits: every commit id is
    unique, every stats record survives, the counter equals the total."""
    path = str(tmp_path)
    ctx = mp.get_context("spawn")  # no inherited fds/locks — two cold drivers
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_worker, args=(path, w, 25, q))
        for w in ("driver_a", "driver_b")
    ]
    for p in procs:
        p.start()
    results = dict(q.get() for _ in procs)
    for p in procs:
        p.join()
        assert p.exitcode == 0
    ids_a, ids_b = results["driver_a"], results["driver_b"]
    assert len(set(ids_a) | set(ids_b)) == 50  # no duplicated commit id
    _, m = _manifest_head(path)
    assert m["commits"] == 50  # no lost bump
    assert len(m["segments"]) == 50  # no lost stats record
    by_writer = {}
    for c, s in m["segments"].items():
        by_writer.setdefault(s["writer"], set()).add(int(c))
    assert by_writer["driver_a"] == set(ids_a)
    assert by_writer["driver_b"] == set(ids_b)


def test_thread_storm_distinct_ids(tmp_path):
    """8 threads × 10 bumps in one process: the CAS alone (no flock
    anywhere in the path) hands out 80 distinct ids."""
    path = str(tmp_path)
    out: list[list[int]] = [[] for _ in range(8)]

    def run(i):
        out[i] = _bump_and_record(path, f"t{i}", 10)

    ts = [threading.Thread(target=run, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    all_ids = [c for ids in out for c in ids]
    assert sorted(all_ids) == list(range(80))
    _, m = _manifest_head(path)
    assert m["commits"] == 80 and len(m["segments"]) == 80


def test_legacy_unversioned_manifest_migrates(tmp_path):
    """A pre-CAS collection (only ``_hadro_manifest.json``) reads as the
    head and the first CAS update publishes v1 preserving its content."""
    path = str(tmp_path)
    legacy = {"commits": 3, "segments": {"0": {"rows": 5}}, "clean": True}
    with open(os.path.join(path, "_hadro_manifest.json"), "w") as f:
        json.dump(legacy, f)
    head, m = _manifest_head(path)
    assert head == 0 and m["commits"] == 3 and m["clean"] is True

    def bump(m):
        m["commits"] += 1

    _cas_update_manifest(path, bump)
    head, m = _manifest_head(path)
    assert head == 1 and m["commits"] == 4
    assert m["segments"] == {"0": {"rows": 5}}  # legacy content carried over


def test_crashed_writer_leaves_no_corruption(tmp_path):
    """A writer that dies between temp-write and link (the only window)
    leaves an ignorable temp file: the next writer commits normally and
    the orphan never becomes a head."""
    path = str(tmp_path)
    _cas_update_manifest(path, lambda m: m.__setitem__("commits", 1))
    # simulate the crash artifact: a fully-written temp that never linked
    orphan = os.path.join(path, "._hadro_manifest.v9.deadbeef.tmp")
    with open(orphan, "w") as f:
        json.dump({"commits": 999, "segments": {}, "clean": False}, f)
    _cas_update_manifest(path, lambda m: m.__setitem__("commits", 2))
    head, m = _manifest_head(path)
    assert m["commits"] == 2  # the orphan was never observed as a head
    assert os.path.exists(orphan)  # and nothing tripped over it


def test_gc_bounds_version_files_and_keeps_head(tmp_path):
    """Retention truncates superseded heads to zero-byte tombstones —
    the NAME always survives (the put-if-absent namespace must stay
    monotonic; see test_stalled_writer_cannot_commit_into_gc_slot) while
    only ≤ KEEP+1 versions keep content."""
    path = str(tmp_path)
    for i in range(_MANIFEST_KEEP * 3):
        _cas_update_manifest(path, lambda m: m.__setitem__("commits", i + 1))
    versions = _manifest_versions(path)
    assert versions == list(range(_MANIFEST_KEEP * 3))  # no name ever freed
    live = [v for v in versions if os.path.getsize(_manifest_v_path(path, v))]
    assert len(live) <= _MANIFEST_KEEP + 1
    head, m = _manifest_head(path)
    assert head == versions[-1] == live[-1]
    assert m["commits"] == _MANIFEST_KEEP * 3
    # every content-bearing version parses (no torn file can be listed)
    for v in live:
        with open(_manifest_v_path(path, v)) as f:
            json.load(f)


def test_collision_reruns_mutation_against_new_head(tmp_path):
    """The losing writer's mutation must RERUN on the new head, not be
    replayed blind: interpose a rival commit mid-update and check the
    final manifest reflects both."""
    path = str(tmp_path)
    _cas_update_manifest(path, lambda m: m.__setitem__("commits", 1))
    fired = {"n": 0}

    def mutate(m):
        if fired["n"] == 0:
            fired["n"] += 1
            # rival lands v2 while we're mid-flight → our link collides
            _cas_update_manifest(
                path, lambda r: r["segments"].__setitem__("rival", {"rows": 7})
            )
        m["segments"]["mine"] = {"rows": 1}

    _cas_update_manifest(path, mutate)
    _, m = _manifest_head(path)
    assert fired["n"] == 1
    assert set(m["segments"]) == {"rival", "mine"}


@pytest.mark.parametrize("n", [0, 5])
def test_empty_dir_head_defaults(tmp_path, n):
    path = str(tmp_path / "sub")
    os.makedirs(path)
    head, m = _manifest_head(path)
    assert head == -1 and m == {"commits": 0, "segments": {}, "clean": False}
    for i in range(n):
        _cas_update_manifest(path, lambda m: m.__setitem__("commits", i + 1))
    head, m = _manifest_head(path)
    assert head == (n - 1 if n else -1) or n == 0
    if n:
        assert m["commits"] == n


def test_stalled_writer_cannot_commit_into_gc_slot(tmp_path):
    """THE lost-update race (caught intermittently by the two-process
    test): a writer stalls between head-read and link while ≥ KEEP newer
    versions land and GC processes its target slot.  With unlink-GC the
    stalled link SUCCEEDED into the freed name below the live head and
    the mutation silently vanished; tombstone-GC keeps the name occupied
    so the stalled writer must collide and retry against the real head.
    The stall is simulated deterministically by a reentrant mutate that
    publishes KEEP+4 commits through a nested writer on its first call.
    """
    path = str(tmp_path)
    _cas_update_manifest(path, lambda m: m.setdefault("commits", 0))
    fired = {"done": False}

    def stalled_mutate(m):
        if not fired["done"]:
            fired["done"] = True
            # the "other driver" racing ahead while we hold a stale head
            for _ in range(_MANIFEST_KEEP + 4):
                def bump(x):
                    x["commits"] = int(x["commits"]) + 1
                _cas_update_manifest(path, bump)
        m["marker"] = m.get("marker", 0) + 1

    _cas_update_manifest(path, stalled_mutate)
    head, m = _manifest_head(path)
    assert m["marker"] == 1, "stalled writer's mutation was lost"
    assert m["commits"] == _MANIFEST_KEEP + 4
    # the mutation must sit ON the live head chain, not in a stale slot
    # (seed publishes v0, the racers v1..v{KEEP+4}, the retry on top)
    assert head == _MANIFEST_KEEP + 4 + 1


def test_tombstoned_slots_stay_occupied(tmp_path):
    """After GC, superseded version NAMES still exist (zero-byte) — the
    monotonic-namespace property the CAS depends on."""
    path = str(tmp_path)
    for _ in range(_MANIFEST_KEEP + 8):
        _cas_update_manifest(
            path, lambda m: m.update(commits=int(m["commits"]) + 1)
        )
    versions = _manifest_versions(path)
    assert versions == list(range(_MANIFEST_KEEP + 8))
    floor = versions[-1] - _MANIFEST_KEEP
    for v in versions:
        p = _manifest_v_path(path, v)
        if v <= floor:
            assert os.path.getsize(p) == 0, (v, "should be tombstoned")
        elif v == versions[-1]:
            assert os.path.getsize(p) > 0


# --- round-10 ADVICE: bounded recovery in _manifest_head ---------------------
def _seed(tmp_path, version: int, content: str) -> str:
    path = str(tmp_path)
    with open(_manifest_v_path(path, version), "w") as f:
        f.write(content)
    return path


def test_durably_empty_head_raises_not_hangs(tmp_path):
    """A zero-byte MAX version with no newer head is a torn publish (crash
    between page-cache write and durability on a pre-fsync writer), not a
    GC race — the old code re-listed forever; now it must raise."""
    path = _seed(tmp_path, 3, "")
    with pytest.raises(HadroError, match="durably empty"):
        _manifest_head(path)


def test_empty_head_superseded_during_relist_recovers(tmp_path):
    """The legitimate tombstone race: the listing shows v3 (just truncated
    by GC), the re-list shows the newer v4 — the reader must recover to
    v4, never raise.  Simulated by monkeypatching the listing sequence."""
    import hadrodb_spark.sources.collection as C

    path = _seed(tmp_path, 3, "")
    with open(_manifest_v_path(path, 4), "w") as f:
        json.dump({"commits": 7, "segments": {}, "clean": True}, f)
    real, calls = C._manifest_versions, []

    def racy(p):
        calls.append(1)
        return [3] if len(calls) == 1 else real(p)

    C._manifest_versions = racy
    try:
        head, m = _manifest_head(path)
    finally:
        C._manifest_versions = real
    assert head == 4 and m["commits"] == 7


def test_corrupt_nonempty_head_raises(tmp_path):
    """Non-empty unparseable MAX version = real corruption (no GC can have
    touched the max): fail fast with HadroError, not JSONDecodeError."""
    path = _seed(tmp_path, 5, '{"commits": 2, "segm')
    with pytest.raises(HadroError, match="corrupt manifest head"):
        _manifest_head(path)


def test_torn_read_of_superseded_head_recovers(tmp_path):
    """The truncate-in-place GC can catch a reader's multi-buffer read of a
    SUPERSEDED head mid-file (torn non-empty JSON prefix).  Then a newer
    head exists by construction — the reader must re-list and recover,
    not treat the tear as corruption."""
    import hadrodb_spark.sources.collection as C

    path = _seed(tmp_path, 3, '{"commits": 2, "segm')
    with open(_manifest_v_path(path, 4), "w") as f:
        json.dump({"commits": 9, "segments": {}, "clean": False}, f)
    real, calls = C._manifest_versions, []

    def racy(p):
        calls.append(1)
        return [3] if len(calls) == 1 else real(p)

    C._manifest_versions = racy
    try:
        head, m = _manifest_head(path)
    finally:
        C._manifest_versions = real
    assert head == 4 and m["commits"] == 9


def test_published_head_is_durable_nonempty(tmp_path):
    """The publish path fsyncs BEFORE os.link — every published version
    name must have full JSON content the moment it is visible."""
    path = str(tmp_path)
    _cas_update_manifest(path, lambda m: m.__setitem__("commits", 1))
    for v in _manifest_versions(path):
        assert os.path.getsize(_manifest_v_path(path, v)) > 0
        with open(_manifest_v_path(path, v)) as f:
            json.load(f)


def test_directory_fsync_failure_does_not_double_apply(tmp_path, monkeypatch):
    """Once os.link publishes the new head, the mutation is VISIBLE — a
    directory-fsync failure after that point must be swallowed (r10
    ADVICE): raising would make a retrying caller re-apply a
    non-idempotent mutate.  The commit must land exactly once and the
    call must return normally.  The swallow is OBSERVABLE (r11 ADVICE):
    a warning is logged and the process-wide failure counter increments,
    so repeated early storage-failure signals leave a trace."""
    import logging as _logging

    import hadrodb_spark.sources.collection as C

    path = str(tmp_path)
    real_open = os.open

    def flaky_open(p, flags, *a, **kw):
        if p == path and flags & getattr(os, "O_DIRECTORY", 0):
            raise OSError(5, "injected EIO on directory open")
        return real_open(p, flags, *a, **kw)

    monkeypatch.setattr(C.os, "open", flaky_open)
    before = C._DIR_FSYNC_FAILURES
    records = []

    class _Cap(_logging.Handler):
        def emit(self, record):
            records.append(record)

    cap = _Cap()
    C._LOG.addHandler(cap)
    try:
        m = _cas_update_manifest(
            path,
            lambda man: man.__setitem__("commits", man.get("commits", 0) + 1),
        )
    finally:
        C._LOG.removeHandler(cap)
    assert m["commits"] == 1
    head, on_disk = _manifest_head(path)
    assert head == 0 and on_disk["commits"] == 1  # exactly one commit
    assert C._DIR_FSYNC_FAILURES == before + 1
    warned = [r for r in records if r.levelno == _logging.WARNING]
    assert warned and "directory fsync failed" in warned[0].getMessage()


@pytest.mark.slow
def test_concurrent_writer_fault_drill_small():
    """The envelope fault drill (tools/fault_drill_concurrent_writers.py)
    at fixture scale: two real driver PROCESSES (three JVMs total) race
    merge_df commits on one collection; the rendezvous FORCES a manifest
    CAS loss on writer A's publish, which re-sequences A's commit; the
    drill asserts clean retry, every on-disk ``_seq`` dir listed and no
    write dir left, stats/dirs consistency, and batch-LWW equivalence;
    this test also checks that the drill removes its temp work dir.  The
    sf1 run is recorded per round in SCALE.md — this keeps the harness
    itself from rotting."""
    import glob
    import subprocess
    import sys as _sys
    import tempfile

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "fault_drill_concurrent_writers.py",
    )
    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )  # same override conftest.SF_DIR honors
    drill_dirs = os.path.join(tempfile.gettempdir(), "hadro_drill_*")
    before = set(glob.glob(drill_dirs))
    proc = subprocess.run(
        [_sys.executable, script, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/tmp",
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    report = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert report["cas_losses"] >= 1
    assert report["resequenced"] >= 1
    assert report["lww_equivalent"] is True
    assert set(glob.glob(drill_dirs)) <= before  # the drill removed its work dir
