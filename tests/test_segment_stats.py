"""Manifest segment statistics: per-commit row counts + key bounds recorded
at write time (via ``df.observe`` — no second scan), serving point-get
commit pruning, a driver-only ``len()`` fast path, and the post-compaction
``clean`` flag that lets reads skip the LWW merge entirely.

This is the metadata layer the reference's planned KeyDir/b+tree indexes
(``/root/reference/INTERFACE.md:32-38``) were reaching for, rebuilt as
Iceberg/Delta-style manifest pruning over the ``segments/_seq=N/`` layout.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadrodb_spark import HadroCollection
from hadrodb_spark.sources.collection import HadroError

DOCS = T.StructType(
    [
        T.StructField("title", T.StringType(), False),
        T.StructField("n", T.IntegerType(), True),
    ]
)


@pytest.fixture()
def coll(spark, tmp_path):
    return HadroCollection(spark, str(tmp_path / "c"), DOCS)


def test_stats_recorded_per_commit(coll):
    coll.set("a", {"title": "A", "n": 1})
    coll.set("c", {"title": "C", "n": 2})
    coll.flush()
    coll.set("m", {"title": "M", "n": 3})
    coll.flush()
    stats = coll.segment_stats()
    assert len(stats) == 2
    first, second = (stats[k] for k in sorted(stats))
    bloom = first.pop("key_bloom")
    assert isinstance(bloom, str) and int(bloom, 16) > 0
    assert first == {
        "rows": 2,
        "tombstones": 0,
        "min_key": "a",
        "max_key": "c",
        "unique_keys": True,
    }
    assert second["rows"] == 1 and second["min_key"] == "m"


def test_seq_partitioned_layout(coll):
    coll.set("a", {"title": "A", "n": 1})
    coll.flush()
    coll.set("b", {"title": "B", "n": 2})
    coll.flush()
    dirs = sorted(
        d for d in os.listdir(os.path.join(coll.path, "segments")) if d.startswith("_seq=")
    )
    assert len(dirs) == 2
    assert [int(d.split("=")[1]) for d in dirs] == sorted(coll.segment_stats())


def test_append_df_stats_via_observe(spark, coll):
    df = spark.range(10).select(
        F.concat(F.lit("k"), F.format_string("%03d", F.col("id"))).alias("key"),
        F.concat(F.lit("t"), F.col("id")).alias("title"),
        F.col("id").cast("int").alias("n"),
    )
    coll.append_df(df, key_col="key")
    (s,) = coll.segment_stats().values()
    assert s["rows"] == 10
    assert s["min_key"] == "k000" and s["max_key"] == "k009"
    assert s["unique_keys"] is None  # caller-supplied keys: unproven
    # generated-uuid path is known-unique
    coll.append_df(df.select("title", "n"))
    latest = coll.segment_stats()[max(coll.segment_stats())]
    assert latest["unique_keys"] is True


def test_len_fast_path_disjoint_ranges(coll):
    # monotone, disjoint per-commit key ranges — the time-keyed log case
    for batch in (["a1", "a2"], ["b1", "b2", "b3"], ["c1"]):
        for k in batch:
            coll.set(k, {"title": k.upper(), "n": None})
        coll.flush()
    assert coll._len_fast() == 6
    assert len(coll) == 6


def test_len_fast_declines_on_overlap_and_tombstone(coll):
    coll.set("a", {"title": "A", "n": 1})
    coll.set("z", {"title": "Z", "n": 2})
    coll.flush()
    coll.set("m", {"title": "M", "n": 3})  # inside [a, z] — overlap
    coll.flush()
    assert coll._len_fast() is None
    assert len(coll) == 3  # distributed fallback still right
    coll.delete("m")
    coll.flush()
    assert coll._len_fast() is None
    assert len(coll) == 2


def test_point_get_commit_pruning(coll):
    for batch in (["a1", "a2"], ["b1", "b2"], ["c1", "c2"]):
        for k in batch:
            coll.set(k, {"title": k.upper(), "n": None})
        coll.flush()
    cands = coll._candidate_seqs(["b2"])
    assert cands is not None and len(cands) == 1
    assert coll.get("b2")["title"] == "B2"
    # plan-level check: the pruned read carries a partition filter on _seq
    plan = coll._pruned_lww(["b2"])._jdf.queryExecution().executedPlan().toString()
    assert "_seq" in plan
    # provably-absent key: answered on the driver, KeyError without a job
    assert coll._candidate_seqs(["zz"]) == []
    with pytest.raises(KeyError):
        coll.get("zz")
    assert "zz" not in coll
    assert "c1" in coll


def test_bloom_prunes_commits_with_overlapping_bounds(coll):
    """Interleaved key ranges defeat min/max pruning (every commit's bounds
    cover every probe); the per-commit key bloom still prunes to exactly the
    commits that wrote the key — the uuid-keyed KV case at scale."""
    for batch in (["a", "z1"], ["b", "z2"], ["ab", "z3"]):
        for k in batch:
            coll.set(k, {"title": k.upper(), "n": None})
        coll.flush()
    stats = coll.segment_stats()
    # bounds alone would keep all three commits for any of the probes below
    assert all(s["min_key"] <= "b" <= s["max_key"] for s in stats.values())
    assert coll._candidate_seqs(["b"]) == [1]
    assert coll.get("b")["title"] == "B"
    # in-bounds but never-written key: bloom-definite miss, no Spark job
    assert coll._candidate_seqs(["d"]) == []
    with pytest.raises(KeyError):
        coll.get("d")
    assert "d" not in coll
    # multi-get unions the per-key candidates
    assert sorted(coll._candidate_seqs(["a", "ab"])) == [0, 2]
    assert [r["title"] for r in coll.get("a", "ab")] == ["A", "AB"]


def test_bloom_covers_tombstones_and_caps_out(coll):
    # tombstones are staged keys too — the delete commit stays a candidate,
    # so a pruned get still sees the tombstone and misses correctly
    coll.set("k", {"title": "V", "n": 1})
    coll.flush()
    coll.delete("k")
    coll.flush()
    assert sorted(coll._candidate_seqs(["k"])) == [0, 1]
    with pytest.raises(KeyError):
        coll.get("k")
    # oversized batches decline the bloom (saturation) → bounds-only entry
    from hadrodb_spark.sources.collection import _BLOOM_CAP, _bloom_build

    assert _bloom_build([f"k{i}" for i in range(_BLOOM_CAP + 1)]) is None
    assert _bloom_build([]) is None


def test_pruning_preserves_lww_and_tombstones(coll):
    coll.set("k", {"title": "v1", "n": 1})
    coll.flush()
    coll.set("k", {"title": "v2", "n": 2})
    coll.flush()
    assert coll.get("k")["title"] == "v2"  # both commits are candidates
    coll.delete("k")
    coll.flush()
    with pytest.raises(KeyError):
        coll.get("k")
    assert "k" not in coll


def test_compact_resets_stats_and_marks_clean(coll):
    coll.set("a", {"title": "A1", "n": 1})
    coll.flush()
    coll.set("a", {"title": "A2", "n": 2})
    coll.set("b", {"title": "B", "n": 3})
    coll.flush()
    coll.delete("b")
    coll.flush()
    coll.compact()
    stats = coll.segment_stats()
    (only,) = stats.values()
    assert only == {
        "rows": 1,
        "tombstones": 0,
        "min_key": "a",
        "max_key": "a",
        "unique_keys": True,
    }
    assert coll._read_manifest()["clean"] is True
    assert coll._len_fast() == 1
    assert coll.get("a")["title"] == "A2"
    # clean read path: no window exchange in the plan
    plan = coll.scan()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # a new write dirties the log again
    coll.set("c", {"title": "C", "n": 4})
    coll.flush()
    assert coll._read_manifest()["clean"] is False
    assert len(coll) == 2


def test_optimize_clusters_and_stays_correct(coll):
    for i in range(20):
        coll.set(f"k{i:02d}", {"title": f"T{i}", "n": i})
    coll.flush()
    coll.optimize(["n"])
    assert coll._read_manifest()["clean"] is True
    assert len(coll) == 20
    assert coll.get("k07")["n"] == 7
    assert sorted(coll.ids()) == [f"k{i:02d}" for i in range(20)]


def test_optimize_zorder_clusters_both_dimensions(spark, tmp_path):
    """Z-order clustering: after optimize(zorder=True) every parquet file's
    min/max span on EACH dimension is a fraction of the global span — so
    predicates on either column prune files, not just the leading sort key.
    A lexicographic sort would leave the second column's per-file span at
    ~100% of global."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("x", T.LongType(), False),
            T.StructField("y", T.LongType(), False),
        ]
    )
    coll = HadroCollection(spark, str(tmp_path / "z"), schema)
    n = 1 << 14
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 128).alias("x"),
            (F.col("id") / 128).cast("long").alias("y"),
        )
        .repartition(8)
    )
    coll.append_df(df)
    coll.optimize(["x", "y"], zorder=True, target_files=8)

    def spans(col_idx: int) -> list[float]:
        out = []
        for path in glob.glob(str(tmp_path / "z" / "segments" / "**" / "*.parquet"), recursive=True):
            f = pq.ParquetFile(path)
            mn, mx = None, None
            for rg in range(f.metadata.num_row_groups):
                st = f.metadata.row_group(rg).column(col_idx).statistics
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            out.append((mx - mn) / 127.0)
        return out

    # storage column order: _key, _sub, _deleted, x, y  (SEQ is the hive dir)
    x_spans, y_spans = spans(3), spans(4)
    assert len(x_spans) == 8, "deterministic bucketing must emit target_files files"
    # File placement is now DETERMINISTIC (exact z-histogram boundaries, no
    # range-exchange sampling — the r4 flake), and on this uniform grid the
    # equi-depth cuts land on dyadic z-block edges: every file spans exactly
    # half the x range and a quarter of the y range (0.496 / 0.244 measured).
    # Bounds carry honest margin but far below the old sampled wobble (~0.60).
    assert sum(x_spans) / len(x_spans) < 0.55, x_spans
    assert sum(y_spans) / len(y_spans) < 0.30, y_spans
    # correctness preserved
    assert len(coll) == n
    assert coll.scan(predicate="x = 5 AND y = 7").count() == 1


def test_incremental_compact_preserves_semantics(coll):
    """compact(upto=h) merges only the cold tail: scan results identical,
    newer commits untouched, tombstones preserved (not purged), stats and
    dirs consistent."""
    # commits 0..3: overwrites + a delete in the cold range, fresh writes after
    coll.set("a", {"title": "A1", "n": 1})
    coll.set("b", {"title": "B1", "n": 2})
    coll.flush()                                   # commit 0
    coll.set("a", {"title": "A2", "n": 3})
    coll.delete("b")
    coll.flush()                                   # commit 1
    coll.set("c", {"title": "C1", "n": 4})
    coll.flush()                                   # commit 2
    coll.set("a", {"title": "A3", "n": 5})
    coll.flush()                                   # commit 3 (hot)
    before = sorted(tuple(r) for r in coll.scan().collect())

    coll.compact(upto=1)

    after = sorted(tuple(r) for r in coll.scan().collect())
    assert before == after
    assert sorted(coll.segment_stats()) == [1, 2, 3]  # 0 merged into 1
    # tombstone for b survives in the merged segment (purge needs full compact)
    merged = coll._log().filter("_seq = 1")
    assert merged.filter("_key = 'b' AND _deleted").count() == 1
    # newer version of a still wins
    assert coll.get("a")["title"] == "A3"
    with pytest.raises(KeyError):
        coll.get("b")
    # stats entry for the merged segment is accurate
    s = coll.segment_stats()[1]
    # merged range (commits 0-1) holds a=A2 and b's tombstone; c is commit 2
    assert s["rows"] == 2 and s["tombstones"] == 1 and s["unique_keys"] is True
    assert s["min_key"] == "a" and s["max_key"] == "b"
    # full compact afterwards purges the tombstone and marks clean
    coll.compact()
    assert coll._log().filter("_deleted").count() == 0
    assert coll._read_manifest()["clean"] is True
    assert sorted(tuple(r) for r in coll.scan().collect()) == before


def test_incremental_compact_noop_on_single_commit(coll):
    coll.set("a", {"title": "A", "n": 1})
    coll.flush()
    coll.compact(upto=99)                          # only one commit — no-op
    assert sorted(coll.segment_stats()) == [0]
    assert coll.get("a")["title"] == "A"


def test_incremental_compact_key_deleted_then_rewritten(coll):
    """A key deleted in the cold range and re-created in the hot range must
    read back the hot value after the merge."""
    coll.set("k", {"title": "old", "n": 1})
    coll.flush()
    coll.delete("k")
    coll.flush()
    coll.set("k", {"title": "new", "n": 2})
    coll.flush()
    coll.compact(upto=1)
    assert coll.get("k")["title"] == "new"
    assert len(coll) == 1


def test_optimize_zorder_preserves_null_rows(spark, tmp_path):
    """optimize(zorder=True) must be row-preserving even when a z-order
    column holds NULLs: width_bucket(NULL) is NULL, and before the r5 fix
    the NULL z dropped out of the placement histogram and the inner
    placement join — the rewrite then PERMANENTLY DELETED those rows.
    NULLs now bucket to the low corner and survive."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("x", T.LongType(), True),
            T.StructField("y", T.LongType(), True),
        ]
    )
    coll = HadroCollection(spark, str(tmp_path / "zn"), schema)
    rows = [
        (str(i), i if i % 5 else None, None if i % 7 == 0 else i * 2)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "k string, x long, y long"
    )
    coll.append_df(df, key_col="k")
    assert len(coll) == 200

    coll.optimize(["x", "y"], zorder=True, target_files=4)
    assert len(coll) == 200  # nothing vanished
    got = {
        (r["x"], r["y"])
        for r in coll.scan(columns=["x", "y"]).collect()
    }
    assert (None, 2 * 5) not in got or True  # shape check below is exact
    want = {(x, y) for _, x, y in rows}
    assert got == want
    # NULL-x rows specifically all survived
    assert coll.where("x IS NULL").count() == sum(1 for _, x, _ in rows if x is None)


def test_optimize_zorder_rejects_17_columns(spark, tmp_path):
    """More columns than z-domain bits would break the 2^16 histogram cap
    (driver-collectability invariant) — refused loudly, not silently
    exceeded."""
    import pytest as _pytest

    from pyspark.sql import types as T

    cols = [T.StructField(f"c{i}", T.LongType(), True) for i in range(17)]
    coll = HadroCollection(
        spark, str(tmp_path / "zw"), T.StructType(cols)
    )
    coll.append_df(
        spark.range(10).selectExpr(
            "CAST(id AS STRING) AS k", *[f"id AS c{i}" for i in range(17)]
        ),
        key_col="k",
    )
    with _pytest.raises(Exception, match="at most 16"):
        coll.optimize([f"c{i}" for i in range(17)], zorder=True)


def test_range_compact_leaves_base_untouched(coll):
    """compact(upto=h, since=lo) merges ONLY lo..h: the base segment's
    files are bit-identical afterwards (the size-tiered claim is that the
    base is never rewritten), newer commits untouched, scan identical,
    in-range tombstones preserved and still shadowing base keys."""
    coll.set("a", {"title": "A0", "n": 1})
    coll.set("b", {"title": "B0", "n": 2})
    coll.set("d", {"title": "D0", "n": 3})
    coll.flush()                                   # commit 0: the base
    coll.set("a", {"title": "A1", "n": 4})
    coll.delete("b")
    coll.flush()                                   # commit 1 (range)
    coll.set("c", {"title": "C1", "n": 5})
    coll.flush()                                   # commit 2 (range)
    coll.set("a", {"title": "A3", "n": 6})
    coll.flush()                                   # commit 3 (hot)
    before = sorted(tuple(r) for r in coll.scan().collect())
    base_dir = os.path.join(coll._data_path, "_seq=0")
    base_files = {
        f: os.stat(os.path.join(base_dir, f)).st_mtime_ns
        for f in os.listdir(base_dir)
    }

    coll.compact(upto=2, since=1)

    assert sorted(tuple(r) for r in coll.scan().collect()) == before
    assert sorted(coll.segment_stats()) == [0, 2, 3]  # 1 merged into 2; 0 intact
    # base segment never rewritten: same files, same mtimes
    assert {
        f: os.stat(os.path.join(base_dir, f)).st_mtime_ns
        for f in os.listdir(base_dir)
    } == base_files
    # the in-range tombstone still shadows base's b
    merged = coll._log().filter("_seq = 2")
    assert merged.filter("_key = 'b' AND _deleted").count() == 1
    with pytest.raises(KeyError):
        coll.get("b")
    # base-only key readable; hot version still wins; in-range-only key live
    assert coll.get("d")["title"] == "D0"
    assert coll.get("a")["title"] == "A3"
    assert coll.get("c")["title"] == "C1"
    # manifest: entries 1 popped, 2 rewritten with range stats, 0 untouched
    s = coll.segment_stats()
    assert sorted(s) == [0, 2, 3]
    assert s[2]["rows"] == 3 and s[2]["tombstones"] == 1  # a=A1, b(tomb), c
    assert s[2]["unique_keys"] is True


def test_range_compact_key_only_in_base_and_hot(coll):
    """A key written in the base and again above the range must be
    invisible to the range merge entirely."""
    coll.set("k", {"title": "base", "n": 1})
    coll.flush()                                   # 0
    coll.set("x", {"title": "r1", "n": 2})
    coll.flush()                                   # 1
    coll.set("x", {"title": "r2", "n": 3})
    coll.flush()                                   # 2
    coll.set("k", {"title": "hot", "n": 4})
    coll.flush()                                   # 3
    coll.compact(upto=2, since=1)
    assert coll.get("k")["title"] == "hot"
    assert coll.get("x")["title"] == "r2"
    assert len(coll) == 2
    # the merged segment holds only the range's keys (x), nothing of k
    assert coll._log().filter("_seq = 2 AND _key = 'k'").count() == 0


def test_full_compact_with_since_raises(coll):
    coll.set("a", {"title": "A", "n": 1})
    coll.flush()
    with pytest.raises(HadroError):
        coll.compact(since=1)


def test_compact_range_equivalence_query_actually_merges(spark, tmp_path, monkeypatch):
    """The compact_range_equivalence registry row must exercise the RANGE
    path for real: ``compact(upto=2, since=1)`` silently no-ops when the
    covered range holds < 2 segments, and a no-op would still be
    read-equivalent — so a fixture drift could hollow the certification
    out without any red row.  Pin that the query's copied collection ends
    with exactly [0, 2] segment dirs (range folded, base untouched)."""
    from hadrodb_spark.operators import kv as kvmod

    seen = []
    orig = HadroCollection.compact

    def spy(self, upto=None, since=0):
        seen.append((self.path, upto, since))
        return orig(self, upto=upto, since=since)

    monkeypatch.setattr(HadroCollection, "compact", spy)
    out = kvmod.compact_range_equivalence(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    (path, upto, since) = seen[-1]
    assert (upto, since) == (2, 1)
    merged = HadroCollection(spark, path)
    assert sorted(merged.segment_stats()) == [0, 2], merged.segment_stats()


def test_late_publisher_takes_seq_above_range_merge(spark, coll):
    """``_seq`` is assigned at publish: writer B's write lands and claims
    ``_seq=4``, then B stalls before its CAS while writer A commits twice
    and a range merge folds 1..6 into ``h`` = 6.  B's publish must find
    the counter past its claim, move its still-unlisted dir above ``h``
    and win LWW over A's older version of the same key."""
    for i, k in enumerate(("a", "b", "c", "d")):
        coll.set(k, {"title": k.upper(), "n": i})
        coll.flush()                               # commits 0..3
    b = HadroCollection(spark, coll.path)
    cas = b._update_manifest

    def stalled(mutate):
        b._update_manifest = cas
        assert os.listdir(os.path.join(coll._data_path, "_seq=4"))  # B's claim
        coll.set("a", {"title": "A5", "n": 5})
        coll.flush()                               # A: 5, 4 is claimed
        coll.set("e", {"title": "E6", "n": 6})
        coll.flush()                               # 6
        coll.compact(upto=6, since=1)
        assert sorted(coll.segment_stats()) == [0, 6]
        return cas(mutate)

    b._update_manifest = stalled
    b.set("a", {"title": "B", "n": 9})
    b.flush()
    assert coll.get("a") == {"title": "B", "n": 9}
    assert sorted(coll.segment_stats()) == [0, 6, 7]
    assert not os.path.exists(os.path.join(coll._data_path, "_seq=4"))
    assert sorted(tuple(r) for r in coll.scan().collect()) == [
        ("a", "B", 9), ("b", "B", 1), ("c", "C", 2), ("d", "D", 3), ("e", "E6", 6),
    ]


@pytest.mark.slow
def test_racing_flushes_each_publish_under_own_seq(spark, coll):
    """More writers than cores race through the ``_seq`` claim and the
    CAS (short switch interval): every commit is listed under its own
    ``_seq``, every key reads back, and no claim or write dir is left."""
    import sys
    import threading

    n_threads, per = 6, 2
    errors = []

    def writer(t):
        try:
            w = HadroCollection(spark, coll.path)
            for i in range(per):
                w.set(f"t{t}_{i}", {"title": f"T{t}", "n": i})
                w.flush()
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    coll.set("base", {"title": "B", "n": 0})
    coll.flush()
    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(prev)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    stats = coll.segment_stats()
    assert len(stats) == 1 + n_threads * per
    assert coll._read_manifest()["commits"] == max(stats) + 1
    assert sorted(os.listdir(coll._data_path)) == sorted(f"_seq={n}" for n in stats)
    assert len(coll) == 1 + n_threads * per
    assert coll.get("t5_1") == {"title": "T5", "n": 1}


def test_range_compact_ignores_unlisted_disk_dir(spark, coll):
    """A _seq dir no manifest entry lists (a crashed writer's remnant,
    or a foreign dir) is not part of the collection: reads never see its
    rows, range compaction merges around it without touching it, and
    the next commit takes the next free ``_seq``."""
    for i, k in enumerate(("a", "b", "c", "d")):
        coll.set(k, {"title": k.upper(), "n": i})
        coll.flush()                               # commits 0..3
    remnant = os.path.join(coll._data_path, "_seq=4")  # died before its CAS
    spark.createDataFrame(
        [("a", 0, False, "GHOST", 9)],
        "_key string, _sub long, _deleted boolean, title string, n int",
    ).write.parquet(remnant)
    before = sorted(tuple(r) for r in coll.scan().collect())
    assert ("a", "A", 0) in before
    assert coll.get("a")["title"] == "A"
    coll.compact(upto=4, since=1)
    assert sorted(coll.segment_stats()) == [0, 3]
    assert sorted(tuple(r) for r in coll.scan().collect()) == before
    assert os.listdir(remnant)                     # untouched, still unread
    assert coll.get("a")["title"] == "A"
    coll.set("f", {"title": "F", "n": 5})
    coll.flush()
    assert sorted(coll.segment_stats()) == [0, 3, 5]
    assert coll.get("a")["title"] == "A"


def test_merge_df_noop_combination_allocates_nothing(spark, coll):
    """merge_df(when_matched='ignore', insert_unmatched=False) has nothing
    to write: it returns without publishing a manifest version."""
    from hadrodb_spark.sources.collection import _manifest_head

    coll.set("a", {"title": "A", "n": 1})
    coll.flush()
    head = _manifest_head(coll.path)[0]
    src = spark.createDataFrame([("a", "A2", 2)], "key string, title string, n int")
    coll.merge_df(src, key_col="key", when_matched="ignore", insert_unmatched=False)
    assert _manifest_head(coll.path)[0] == head


def test_each_commit_publishes_one_manifest_version(spark, coll):
    """A commit's ``_seq`` is assigned inside the CAS that lists it, so
    every write path publishes exactly one manifest version."""
    from hadrodb_spark.sources.collection import _manifest_head

    src = spark.createDataFrame(
        [("a", "A1", 1), ("z", "Z1", 1)], "key string, title string, n int"
    )
    writes = {
        "flush": lambda: (coll.set("a", {"title": "A0", "n": 0}), coll.flush()),
        "append_df": lambda: coll.append_df(src, key_col="key"),
        "merge_df": lambda: coll.merge_df(src, key_col="key"),
        "delete_where": lambda: coll.delete_where("n = 1"),
        "compact": coll.compact,
    }
    for name, write in writes.items():
        head = _manifest_head(coll.path)[0]
        write()
        assert _manifest_head(coll.path)[0] == head + 1, name
    assert sorted(coll.segment_stats()) == [4]
    assert len(coll) == 0


def test_failed_segment_write_cleans_marker_and_partial_dir(spark, coll, monkeypatch):
    """A transient Spark write failure in a SURVIVING process must not
    leave its partial ``.w.<uuid>`` dir behind or publish anything: the
    guard drops the dir and re-raises, so the retry starts clean."""
    from pyspark.sql.readwriter import DataFrameWriter

    coll.set("a", {"title": "A", "n": 1})
    coll.flush()
    real = DataFrameWriter.parquet

    def boom(self, path, **kw):
        raise RuntimeError("injected transient write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    coll.set("b", {"title": "B", "n": 2})
    with pytest.raises(RuntimeError, match="injected"):
        coll.flush()
    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    assert sorted(coll.segment_stats()) == [0]
    assert os.listdir(coll._data_path) == ["_seq=0"]  # no partial dir
    coll.flush()                                  # staged rows retry cleanly
    assert coll.get("b")["title"] == "B"
    coll.set("c", {"title": "C", "n": 3})
    coll.flush()
    coll.compact(upto=max(coll.segment_stats()), since=1)
    assert len(coll) == 3


def test_planned_scan_survives_range_compaction(coll):
    """Snapshot isolation: a DataFrame planned before a range compaction
    keeps reading its snapshot's files (retired, not deleted), so it
    still returns the pre-compaction view."""
    for i, k in enumerate(("a", "b", "c", "d")):
        coll.set(k, {"title": k.upper(), "n": i})
        coll.flush()                               # commits 0..3
    coll.set("a", {"title": "A4", "n": 4})
    coll.delete("b")
    coll.flush()                                   # 4
    df = coll.scan()
    before = sorted(tuple(r) for r in coll.scan().collect())
    coll.compact(upto=4, since=1)
    assert sorted(tuple(r) for r in df.collect()) == before
    assert sorted(tuple(r) for r in coll.scan().collect()) == before


def test_old_layout_migrates_on_open(spark, coll):
    """A collection written before read roots existed — entries without
    roots, and one on-disk commit with no entry at all (pre-stats) —
    reopens with the same LWW view: one published version lists every
    on-disk commit dir, and the unknown-stats commit is never pruned."""
    import hadrodb_spark.sources.collection as C

    coll.set("a", {"title": "A0", "n": 0})
    coll.set("b", {"title": "B0", "n": 0})
    coll.flush()                                   # 0
    coll.set("a", {"title": "A1", "n": 1})
    coll.delete("b")
    coll.flush()                                   # 1
    coll.set("c", {"title": "C2", "n": 2})
    coll.flush()                                   # 2
    before = sorted(tuple(r) for r in coll.scan().collect())

    def strip(m):
        for s in m["segments"].values():
            del s["roots"]
        del m["segments"]["1"]
        del m["listed"]

    C._cas_update_manifest(coll.path, strip)
    old = HadroCollection(spark, coll.path)
    assert sorted(tuple(r) for r in old.scan().collect()) == before
    assert sorted(old.segment_stats()) == [0, 1, 2]
    assert old.segment_stats()[1]["rows"] is None
    assert old._candidate_seqs(["a"]) == [0, 1]
    assert old.get("a")["title"] == "A1"
    assert "b" not in old
    assert len(old) == 2


def test_old_layout_stranded_full_rewrite_migrates(spark, coll):
    """The old full rewrite renamed its output into place, one in-flight
    ``_seq=c`` dir holding the whole live view, before it published: a
    crash there left that dir next to a manifest of entries whose dirs
    were gone.  The old reader walked the directory and saw the live view;
    migration lists the in-flight dir, drops the legacy marker key and the
    dirless entries, so reads, point gets and ``len`` agree with it."""
    import shutil

    import hadrodb_spark.sources.collection as C

    coll.set("a", {"title": "A0", "n": 0})
    coll.set("b", {"title": "B0", "n": 0})
    coll.flush()                                   # 0
    coll.set("a", {"title": "A1", "n": 1})
    coll.delete("b")
    coll.set("c", {"title": "C1", "n": 1})
    coll.flush()                                   # 1
    before = sorted(tuple(r) for r in coll.scan().collect())
    live = coll._lww().filter(~F.col("_deleted")).drop("_seq")
    c = 2                                          # the old rewrite's commit
    live.write.parquet(os.path.join(coll._data_path, f"_seq={c}"))
    for n in (0, 1):
        shutil.rmtree(os.path.join(coll._data_path, f"_seq={n}"))

    def strip(m):
        for s in m["segments"].values():
            del s["roots"]
        del m["listed"]
        m["commits"] = c + 1                       # the old layout allocated c
        m["inflight"] = {str(c): True}             # ...and marked it in flight

    C._cas_update_manifest(coll.path, strip)
    old = HadroCollection(spark, coll.path)
    assert sorted(old.segment_stats()) == [c]
    assert "inflight" not in old._read_manifest()
    assert sorted(tuple(r) for r in old.scan().collect()) == before
    assert old.get("a")["title"] == "A1"
    assert old.get("c")["title"] == "C1"
    assert "b" not in old
    assert len(old) == 2
    old.compact(upto=c + 5, since=0)               # nothing to merge
    old.set("d", {"title": "D", "n": 3})
    old.flush()
    old.compact(upto=c + 5, since=0)               # merges c with the new commit
    assert sorted(tuple(r) for r in old.scan().collect()) == sorted(
        before + [("d", "D", 3)]
    )


def test_range_merge_retires_leftovers_under_file_roots(coll):
    """When h already lists merged files, any other file in ``_seq=h/`` (a
    merge that crashed after its move) is never read, and the next merge
    into h retires it; a root is never retired twice."""
    for i, k in enumerate(("a", "b", "c", "d")):
        coll.set(k, {"title": k.upper(), "n": i})
        coll.flush()                               # commits 0..3
    coll.compact(upto=3, since=2)                  # h=3 lists files
    stray = os.path.join(coll._data_path, "_seq=3", "part-stray.parquet")
    with open(stray, "wb"):
        pass
    before = sorted(tuple(r) for r in coll.scan().collect())
    assert len(before) == 4
    coll.compact(upto=3, since=1)                  # into h=3 again
    assert sorted(coll.segment_stats()) == [0, 3]
    assert sorted(tuple(r) for r in coll.scan().collect()) == before
    retired = [r for _, r in coll._read_manifest()["retired"]]
    assert os.path.relpath(stray, coll.path) in retired
    assert len(retired) == len(set(retired))
