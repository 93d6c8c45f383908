"""Crash-point enumeration for the collection's write paths (the ALICE
method of Pillai et al., OSDI 2014, at the Python call level).

Each filesystem mutation the collection makes — ``os.link``,
``os.rename``, ``os.unlink``, ``os.truncate``, ``shutil.rmtree`` — and
each Spark ``DataFrameWriter.parquet`` is a crash point.  A process that
dies at the k-th point leaves the files exactly as they were just before
that call (before and just after, for a Spark write): a dead process
mutates nothing more, and no cleanup handler runs.  So one run of
``flush``, a range ``compact`` and a full ``compact`` copies the
collection at every point, and each copy is the state a crash there
leaves.  Each is reopened: its LWW view must equal the model's state
before or after the operation, a point get of every key and ``len``
must agree with that view, and a following write and get must
succeed.  Those checks read only the head snapshot — the head manifest
and the files its roots resolve to — so a copy whose head snapshot was
already checked is not checked again.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading

import pytest
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from hadrodb_spark import HadroCollection
from hadrodb_spark.sources.collection import (
    _MANIFEST_KEEP,
    _cas_update_manifest,
    _manifest_head,
)

DOCS = T.StructType(
    [
        T.StructField("title", T.StringType(), False),
        T.StructField("n", T.IntegerType(), True),
    ]
)


class _Recorder:
    """Copy the collection at every crash point of one operation."""

    _OS_CALLS = ("link", "rename", "unlink", "truncate")

    def __init__(self, monkeypatch, path: str, out: str) -> None:
        self.path, self.out, self.states = path, out, []
        self._busy = False
        self._thread = threading.current_thread()
        for name in self._OS_CALLS:
            monkeypatch.setattr(os, name, self._before(getattr(os, name)))
        real_rmtree = shutil.rmtree

        def rmtree(*a, **kw):
            self._snap()
            self._busy = True  # one point: its inner unlinks do not count
            try:
                return real_rmtree(*a, **kw)
            finally:
                self._busy = False

        monkeypatch.setattr(shutil, "rmtree", rmtree)
        real_parquet = DataFrameWriter.parquet

        def parquet(writer, *a, **kw):
            self._snap()
            real_parquet(writer, *a, **kw)
            self._snap()

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)

    def _before(self, real):
        def call(*a, **kw):
            self._snap()
            return real(*a, **kw)

        return call

    def _snap(self) -> None:
        if self._busy or threading.current_thread() is not self._thread:
            return
        self._busy = True
        try:
            dst = os.path.join(self.out, f"s{len(self.states)}")
            shutil.copytree(self.path, dst)
            self.states.append(dst)
        finally:
            self._busy = False


def _head_snapshot(path: str) -> tuple:
    _, m = _manifest_head(path)
    files = []
    for r in HadroCollection._roots(m):
        p = os.path.join(path, r)
        found = glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
        files += sorted(found) if os.path.isdir(p) else [p] * os.path.exists(p)
    rel = tuple(os.path.relpath(f, path) for f in files)
    return json.dumps(m, sort_keys=True), rel


def _view(coll: HadroCollection) -> dict[str, tuple]:
    return {r["_key"]: (r["title"], r["n"]) for r in coll.scan().collect()}


def _stage(coll: HadroCollection, batch: dict) -> None:
    for k, v in batch.items():
        if v is None:
            coll.delete(k)
        else:
            coll.set(k, {"title": v[0], "n": v[1]})


def _write(coll: HadroCollection, batch: dict) -> None:
    _stage(coll, batch)
    coll.flush()


def _apply(state: dict, batch: dict) -> dict:
    out = {**state, **batch}
    return {k: v for k, v in out.items() if v is not None}


@pytest.fixture(scope="module")
def template(spark, tmp_path_factory):
    """A small collection with history: overwrites, a tombstone, an
    earlier range merge whose retired roots are already past retention
    (so the range compaction under test also garbage-collects)."""
    path = str(tmp_path_factory.mktemp("crash") / "template")
    coll = HadroCollection(spark, path, DOCS)
    _write(coll, {"a": ("A0", 0), "b": ("B0", 0), "c": ("C0", 0)})   # 0
    _write(coll, {"a": ("A1", 1), "c": None})                        # 1
    _write(coll, {"d": ("D2", 2), "b": ("B2", 2)})                   # 2
    _write(coll, {"a": ("A3", 3), "e": ("E3", 3)})                   # 3
    coll.compact(upto=2, since=1)
    for _ in range(_MANIFEST_KEEP + 1):
        _cas_update_manifest(path, lambda m: None)  # age the retirements
    _write(coll, {"b": ("B4", 4)})                                   # 4
    pre = {"a": ("A3", 3), "b": ("B4", 4), "d": ("D2", 2), "e": ("E3", 3)}
    assert _view(coll) == pre
    return path, pre


_BATCH = {"a": ("A5", 5), "d": None, "f": ("F5", 5)}


def _flush(coll):
    _stage(coll, _BATCH)
    return coll.flush


OPS = {  # op -> (prepare: collection -> call, model: pre -> post)
    "flush": (_flush, lambda pre: _apply(pre, _BATCH)),
    "range_compact": (lambda c: lambda: c.compact(upto=4, since=2), dict),
    "full_compact": (lambda c: c.compact, dict),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_crash_at_every_point_leaves_pre_or_post_state(
    spark, template, tmp_path, monkeypatch, op
):
    src, pre = template
    prepare, model = OPS[op]
    post = model(pre)
    path = str(tmp_path / "run")
    shutil.copytree(src, path)
    run = prepare(HadroCollection(spark, path))
    with monkeypatch.context() as mp:
        rec = _Recorder(mp, path, str(tmp_path))
        run()
    assert _view(HadroCollection(spark, path)) == post
    checked = {_head_snapshot(src)}  # the pre state itself
    for k, state in enumerate(rec.states, 1):
        key = _head_snapshot(state)
        if key in checked:
            continue
        checked.add(key)
        crashed = HadroCollection(spark, state)
        got = _view(crashed)
        assert got in (pre, post), (op, k, got)
        # point gets read only their candidates' roots and len() trusts
        # the stats: both must agree with the full scan ("c" is a
        # tombstone from the template, "zz" was never written)
        for key in sorted({*pre, *post, "c", "zz"}):
            if key in got:
                want = {"title": got[key][0], "n": got[key][1]}
                assert crashed.get(key) == want, (op, k, key)
            else:
                with pytest.raises(KeyError):
                    crashed.get(key)
        assert len(crashed) == len(got), (op, k)
        crashed.set("z", {"title": "Z", "n": k})
        assert crashed.get("z") == {"title": "Z", "n": k}
    assert len(rec.states) > 5, (op, len(rec.states))
    # a commit publishes once, so the head moves from pre to post in one
    # step; a range merge also moves files into _seq=h/ before its CAS
    if op == "range_compact":
        assert len(checked) >= 3, (op, len(checked))
    else:
        assert len(checked) == 2, (op, len(checked))
