"""Storage-layer semantics tests — porting the intents of the reference's
disabled CaskDB-era tests (``/root/reference/tests/#test_disk_store_original.py``,
the best spec of intended KV behavior) plus the active interface test
(``/root/reference/tests/test_interface.py``)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from hadrodb_spark import HadroCollection, WriteConsistency
from hadrodb_spark.sources.collection import HadroError

BOOKS = T.StructType(
    [
        T.StructField("title", T.StringType(), False),
        T.StructField("author", T.StringType(), True),
    ]
)


@pytest.fixture()
def coll(spark, tmp_path):
    return HadroCollection(spark, str(tmp_path / "books"), BOOKS)


def test_get_set(spark, coll):
    # #test_disk_store_original.py:49-66 intent
    coll.set("othello", {"title": "Othello", "author": "shakespeare"})
    assert coll.get("othello") == {"title": "Othello", "author": "shakespeare"}
    assert "othello" in coll
    assert len(coll) == 1


def test_last_write_wins(spark, coll):
    coll.set("k", {"title": "v1", "author": None})
    coll.set("k", {"title": "v2", "author": None})
    coll.flush()
    coll.set("k", {"title": "v3", "author": None})
    assert coll.get("k")["title"] == "v3"
    assert len(coll) == 1


def test_multi_get_and_sequence_records(spark, coll):
    # dict AND positional-sequence records (hadro/engine.py:123-128)
    coll.set("a", ["A", "x"])
    coll.set("b", {"title": "B", "author": None})
    got = coll.get("a", "b")
    assert [g["title"] for g in got] == ["A", "B"]


def test_persistence_across_reopen(spark, tmp_path):
    # #test_disk_store_original.py:79-98 intent
    path = str(tmp_path / "books")
    c1 = HadroCollection(spark, path, BOOKS)
    c1.set("lear", {"title": "King Lear", "author": "shakespeare"})
    c1.close()
    c2 = HadroCollection(spark, path)  # schema loaded from disk
    assert c2.get("lear")["title"] == "King Lear"


def test_delete_tombstone(spark, coll):
    # #test_disk_store_original.py:104-131 intent + INTERFACE.md:15-17
    coll.set("k", {"title": "v", "author": None})
    assert "k" in coll
    coll.delete("k")
    assert "k" not in coll
    assert len(coll) == 0
    with pytest.raises(KeyError):
        coll.get("k")
    # set after delete resurrects the key (append-only log ordering)
    coll.set("k", {"title": "v2", "author": None})
    assert coll.get("k")["title"] == "v2"


def test_add_generates_key(spark, coll):
    k = coll.add({"title": "Anon", "author": None})
    assert isinstance(k, str) and k
    assert coll.get(k)["title"] == "Anon"


def test_ids_and_where(spark, coll):
    for i in range(5):
        coll.set(f"k{i}", {"title": f"t{i}", "author": "a" if i % 2 else None})
    assert sorted(coll.ids()) == [f"k{i}" for i in range(5)]
    # distributed twin: same keys, but as a joinable relation (no driver
    # materialization — the shape a 100-TB collection requires)
    df = coll.ids_df()
    assert df.columns == ["_key"] or len(df.columns) == 1
    assert sorted(r[0] for r in df.collect()) == [f"k{i}" for i in range(5)]
    assert coll.where("author IS NOT NULL").count() == 2


def test_validation(spark, coll):
    with pytest.raises(HadroError):
        coll.set("bad", {"title": None, "author": "x"})  # non-nullable
    with pytest.raises(HadroError):
        coll.set("bad", {"title": "t", "bogus": 1})  # unknown field
    with pytest.raises(HadroError):
        coll.set("bad", ["just-one-value"])  # arity mismatch


def test_schema_mismatch_on_reopen(spark, tmp_path):
    path = str(tmp_path / "books")
    HadroCollection(spark, path, BOOKS).close()
    other = T.StructType([T.StructField("z", T.LongType(), True)])
    with pytest.raises(HadroError):
        HadroCollection(spark, path, other)


def test_compaction_equivalence_and_segment_shrink(spark, coll):
    for i in range(10):
        coll.set(f"k{i}", {"title": f"v{i}", "author": None})
        coll.flush()  # many segments
    for i in range(10):
        coll.set(f"k{i}", {"title": f"v{i}'", "author": None})
    coll.delete("k0")
    coll.flush()
    def n_segments() -> int:
        # segments live under hive dirs (segments/_seq=N/...) — walk
        return sum(
            1
            for _, _, files in os.walk(coll._data_path)
            for f in files
            if f.endswith(".parquet")
        )

    before = sorted((r["_key"], r["title"]) for r in coll.scan().collect())
    n_seg_before = n_segments()
    coll.compact()
    after = sorted((r["_key"], r["title"]) for r in coll.scan().collect())
    n_seg_after = n_segments()
    assert before == after
    assert len(after) == 9 and all(t.endswith("'") for _, t in after)
    assert n_seg_after < n_seg_before


def test_consistency_modes_commit_granularity(spark, tmp_path):
    # AGGRESSIVE = one commit per append; RELAXED = one commit per flush
    # (hadro/config.py:5-24 parity)
    agg = HadroCollection(
        spark, str(tmp_path / "agg"), BOOKS, consistency=WriteConsistency.AGGRESSIVE
    )
    agg.set("a", {"title": "1", "author": None})
    agg.set("b", {"title": "2", "author": None})
    rel = HadroCollection(
        spark, str(tmp_path / "rel"), BOOKS, consistency=WriteConsistency.RELAXED
    )
    rel.set("a", {"title": "1", "author": None})
    rel.set("b", {"title": "2", "author": None})
    rel.flush()
    n_commits = lambda c: c._read_manifest()["commits"]
    assert n_commits(agg) == 2
    assert n_commits(rel) == 1


def test_append_df_bulk(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    coll = HadroCollection(spark, str(tmp_path / "bulk"), schema)
    df = spark.range(100).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    coll.append_df(df, key_col="k")
    assert len(coll) == 100
    # bulk upsert: second commit overwrites
    from pyspark.sql import functions as F

    coll.append_df(df.withColumn("v", F.col("k").cast("string").substr(1, 1)), key_col="k")
    assert len(coll) == 100
    assert coll.get("99")["v"] == "9"


def test_closed_collection_rejects_writes(spark, coll):
    coll.close()
    with pytest.raises(HadroError):
        coll.set("k", {"title": "t", "author": None})


def test_partitioned_collection_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from hadrodb_spark.plans.explain import formatted_plan

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("day", T.StringType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    coll = HadroCollection(
        spark, str(tmp_path / "part"), schema, partition_by=["day"]
    )
    df = spark.range(200).selectExpr(
        "id AS k",
        "CASE WHEN id % 2 = 0 THEN '2024-01-01' ELSE '2024-01-02' END AS day",
        "CAST(id AS DOUBLE) AS v",
    )
    coll.append_df(df, key_col="k")
    # partition dirs exist, nested under the commit dir (_seq=N/day=...)
    import os

    def has_day_dir() -> bool:
        return any("day=" in d for d, _, _ in os.walk(coll._data_path))

    assert has_day_dir()
    # read back: full and filtered
    assert len(coll) == 200
    day1 = coll.where("day = '2024-01-01'")
    assert day1.count() == 100
    # partition pruning reaches the scan
    plan = formatted_plan(coll._log().filter(F.col("day") == "2024-01-01"))
    assert "PartitionFilters: [" in plan and "isnotnull(day" in plan
    # LWW + delete still work across partitions
    coll.delete("0")
    assert len(coll) == 199
    # reopen remembers partitioning
    c2 = HadroCollection(spark, str(tmp_path / "part"))
    assert c2.partition_by == ["day"]
    c2.compact()
    assert len(c2) == 199 and has_day_dir()


def test_optimize_clusters_and_preserves_rows(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    coll = HadroCollection(spark, str(tmp_path / "opt"), schema)
    import random

    rng = random.Random(7)
    rows = [(i, float(rng.randint(0, 10_000))) for i in range(500)]
    coll.append_df(
        spark.createDataFrame(rows, "k LONG, v DOUBLE"), key_col="k"
    )
    coll.delete("13")
    before = sorted(tuple(r) for r in coll.scan().select("k", "v").collect())
    coll.optimize(["v"])
    after = sorted(tuple(r) for r in coll.scan().select("k", "v").collect())
    assert before == after and len(after) == 499
    # post-optimize segments are sorted by v within each file
    import pyarrow.parquet as pq
    import glob

    for f in glob.glob(str(tmp_path / "opt" / "segments" / "*.parquet")):
        vs = pq.read_table(f, columns=["v"]).to_pandas()["v"].tolist()
        assert vs == sorted(vs)


def test_time_travel_read_at(spark, coll):
    coll.set("k1", {"title": "v1", "author": None})
    coll.flush()  # commit 0
    coll.set("k1", {"title": "v2", "author": None})
    coll.set("k2", {"title": "w", "author": None})
    coll.flush()  # commit 1
    coll.delete("k1")
    coll.flush()  # commit 2
    assert coll.current_commit() == 2
    at0 = {r["_key"]: r["title"] for r in coll.read_at(0).collect()}
    at1 = {r["_key"]: r["title"] for r in coll.read_at(1).collect()}
    at2 = {r["_key"]: r["title"] for r in coll.read_at(2).collect()}
    assert at0 == {"k1": "v1"}
    assert at1 == {"k1": "v2", "k2": "w"}
    assert at2 == {"k2": "w"}


def test_complex_type_schema_roundtrip(spark, tmp_path):
    # collections carry the full multimodal column set: arrays, binary, JSON
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("emb", T.ArrayType(T.FloatType()), True),
            T.StructField("blob", T.BinaryType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )
    coll = HadroCollection(spark, str(tmp_path / "complex"), schema)
    coll.set("a", {"k": 1, "emb": [0.5, 0.25], "blob": b"\x00\x01", "props": '{"x":1}'})
    coll.flush()
    got = coll.get("a")
    assert got["emb"] == [0.5, 0.25]
    assert bytes(got["blob"]) == b"\x00\x01"
    # survives reopen + compaction
    coll.compact()
    c2 = HadroCollection(spark, str(tmp_path / "complex"))
    assert c2.get("a")["props"] == '{"x":1}'


def test_bulk_commit_duplicate_key_deterministic(spark, tmp_path):
    """Duplicate keys within ONE bulk commit resolve to a stable winner
    (content-hash tiebreak) — re-running the identical commit yields the
    identical LWW result (VERDICT r1 #2: retry-safe, unlike
    monotonically_increasing_id)."""
    dup = spark.createDataFrame(
        [("k", "A", None), ("k", "B", None), ("k", "C", None)],
        "key STRING, title STRING, author STRING",
    ).repartition(4)
    winners = []
    for i in range(2):
        c = HadroCollection(spark, str(tmp_path / f"dup{i}"), BOOKS)
        c.append_df(dup.select("key", "title", "author"), key_col="key")
        winners.append(c.get("k")["title"])
    assert winners[0] == winners[1]
    assert len(HadroCollection(spark, str(tmp_path / "dup0"))) == 1


def test_delete_where_bulk(spark, tmp_path):
    c = HadroCollection(spark, str(tmp_path / "bulk"), BOOKS)
    rows = spark.createDataFrame(
        [(f"k{i}", f"t{i}", None) for i in range(10)],
        "key STRING, title STRING, author STRING",
    )
    c.append_df(rows, key_col="key")
    c.delete_where("title IN ('t2', 't5', 't7')")
    assert len(c) == 7
    assert "k2" not in c and "k5" not in c and "k3" in c
    # deleted keys resurrect on a later set (tombstone is just a version)
    c.set("k2", {"title": "t2b", "author": None})
    assert c.get("k2")["title"] == "t2b"


def test_concurrent_appends_distinct_seq(spark, tmp_path):
    """Two writers on one collection never mint the same _seq
    (flock-serialized manifest; VERDICT r1 #6)."""
    import threading

    path = str(tmp_path / "mw")
    c1 = HadroCollection(spark, path, BOOKS)
    c2 = HadroCollection(spark, path)

    def writer(c, tag):
        for i in range(5):
            c.set(f"{tag}{i}", {"title": f"{tag}{i}", "author": None})
            c.flush()

    t1 = threading.Thread(target=writer, args=(c1, "a"))
    t2 = threading.Thread(target=writer, args=(c2, "b"))
    t1.start(); t2.start(); t1.join(); t2.join()
    seqs = [r[0] for r in c1._log().select("_seq").collect()]
    assert len(seqs) == 10 and len(set(seqs)) == 10
    assert len(c1) == 10


def test_transaction_abort_preserves_prior_staged(spark, tmp_path):
    """Aborting a transaction discards ONLY records staged inside it —
    earlier RELAXED-mode staged writes survive (ADVICE r1)."""
    c = HadroCollection(
        spark, str(tmp_path / "txn"), BOOKS, consistency=WriteConsistency.RELAXED
    )
    c.set("before", {"title": "keep", "author": None})
    with pytest.raises(RuntimeError):
        with c.transaction() as batch:
            batch.set("inside", {"title": "drop", "author": None})
            raise RuntimeError("abort")
    c.flush()
    assert "before" in c
    assert "inside" not in c


def test_flush_retryable_after_write_failure(spark, tmp_path, monkeypatch):
    """A failed segment write keeps records staged, so flush is retryable
    (ADVICE r1: no silent data drop)."""
    c = HadroCollection(spark, str(tmp_path / "retry"), BOOKS)
    c._pending.append(("k", {"title": "t", "author": None}, False))
    boom = {"n": 0}
    orig = HadroCollection._write

    def failing(self, df):
        if boom["n"] == 0:
            boom["n"] += 1
            raise OSError("disk full")
        return orig(self, df)

    monkeypatch.setattr(HadroCollection, "_write", failing)
    with pytest.raises(OSError):
        c.flush()
    assert len(c._pending) == 1
    c.flush()  # retry succeeds
    assert c.get("k")["title"] == "t"


def test_schema_evolution_add_field(spark, tmp_path):
    """add_field is metadata-only: pre-evolution rows read back the default
    (or NULL), post-evolution rows store real values; survives reopen."""
    c = HadroCollection(spark, str(tmp_path / "evo"), BOOKS)
    c.set("old", {"title": "Old", "author": "a"})
    c.add_field("year", "int", default=1900)
    c.add_field("note", T.StringType())  # nullable, no default -> NULL
    c.set("new", {"title": "New", "author": "b", "year": 2020, "note": "n"})
    assert c.get("old") == {"title": "Old", "author": "a", "year": 1900, "note": None}
    assert c.get("new")["year"] == 2020
    # reopen from disk: evolved schema + defaults persist
    c2 = HadroCollection(spark, str(tmp_path / "evo"))
    assert [f.name for f in c2.schema.fields] == ["title", "author", "year", "note"]
    assert c2.get("old")["year"] == 1900
    # non-nullable without default is rejected
    with pytest.raises(HadroError):
        c2.add_field("bad", "int", nullable=False)
    # duplicates and reserved names are rejected
    with pytest.raises(HadroError):
        c2.add_field("year", "int")
    with pytest.raises(HadroError):
        c2.add_field("_key", "string")


def test_schema_evolution_remove_field(spark, tmp_path):
    c = HadroCollection(spark, str(tmp_path / "evo2"), BOOKS)
    c.set("k", {"title": "T", "author": "a"})
    c.remove_field("author")
    assert c.get("k") == {"title": "T"}
    c.set("k2", {"title": "T2"})
    assert c.get("k2") == {"title": "T2"}
    with pytest.raises(HadroError):
        c.remove_field("nope")
    # reopen sees the narrowed schema; old segment bytes are ignored
    c2 = HadroCollection(spark, str(tmp_path / "evo2"))
    assert [f.name for f in c2.schema.fields] == ["title"]
    # compact rewrites segments without the dropped column and keeps rows
    c2.compact()
    assert c2.get("k") == {"title": "T"}
    assert len(c2) == 2


def test_schema_evolution_partition_column_protected(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("tenant", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    c = HadroCollection(
        spark, str(tmp_path / "evo3"), schema, partition_by=["tenant"]
    )
    c.set("k", {"tenant": "t1", "v": "x"})
    with pytest.raises(HadroError):
        c.remove_field("tenant")


def test_merge_df_update_and_insert(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    coll = HadroCollection(spark, str(tmp_path / "merge"), schema)
    coll.append_df(spark.range(10).selectExpr("id AS k", "'old' AS v"), key_col="k")
    # source: keys 5..14 — 5 matched (update), 5 unmatched (insert)
    src = spark.range(5, 15).selectExpr("id AS k", "'new' AS v")
    coll.merge_df(src, key_col="k")
    assert len(coll) == 15
    assert coll.get("3")["v"] == "old"
    assert coll.get("7")["v"] == "new"
    assert coll.get("12")["v"] == "new"


def test_merge_df_delete_matched(spark, tmp_path):
    schema = T.StructType([T.StructField("k", T.LongType(), False)])
    coll = HadroCollection(spark, str(tmp_path / "mergedel"), schema)
    coll.append_df(spark.range(10).selectExpr("id AS k"), key_col="k")
    src = spark.range(5, 15).selectExpr("id AS k")
    coll.merge_df(src, key_col="k", when_matched="delete", insert_unmatched=False)
    assert len(coll) == 5
    assert "7" not in coll
    assert "3" in coll


def test_merge_df_ignore_matched(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    coll = HadroCollection(spark, str(tmp_path / "mergeign"), schema)
    coll.append_df(spark.range(10).selectExpr("id AS k", "'old' AS v"), key_col="k")
    src = spark.range(5, 15).selectExpr("id AS k", "'new' AS v")
    coll.merge_df(src, key_col="k", when_matched="ignore")
    assert len(coll) == 15
    assert coll.get("7")["v"] == "old"   # matched untouched
    assert coll.get("12")["v"] == "new"  # unmatched inserted
    with pytest.raises(HadroError):
        coll.merge_df(src, key_col="k", when_matched="upsert")


def test_diff_between_commits(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    coll = HadroCollection(spark, str(tmp_path / "diff"), schema)
    coll.append_df(spark.range(5).selectExpr("id AS k", "'a' AS v"), key_col="k")
    c0 = coll.current_commit()
    coll.set("1", {"k": 1, "v": "b"})   # updated
    coll.delete("2")                     # removed
    coll.set("9", {"k": 9, "v": "a"})   # added
    coll.flush()
    c1 = coll.current_commit()
    changes = {r["key"]: r["change"] for r in coll.diff(c0, c1).collect()}
    assert changes == {"1": "updated", "2": "removed", "9": "added"}
    assert coll.diff(c1, c1).count() == 0


def test_history_commit_log(spark, coll):
    coll.set("a", {"title": "v1", "author": None})
    coll.flush()  # commit 0: 1 row
    coll.set("a", {"title": "v2", "author": None})
    coll.set("b", {"title": "w", "author": None})
    coll.flush()  # commit 1: 2 rows
    coll.delete("a")
    coll.flush()  # commit 2: 1 tombstone
    hist = {r["commit"]: r for r in coll.history().collect()}
    assert sorted(hist) == [0, 1, 2]
    assert hist[0]["rows"] == 1 and hist[0]["tombstones"] == 0
    assert hist[1]["rows"] == 2 and hist[1]["tombstones"] == 0
    assert hist[2]["rows"] == 1 and hist[2]["tombstones"] == 1
    assert hist[0]["min_key"] == "a" and hist[1]["max_key"] == "b"
    assert not hist[0]["clean"]
    coll.compact()
    hist2 = coll.history().collect()
    assert all(r["clean"] for r in hist2)
    assert sum(r["rows"] or 0 for r in hist2) == 1  # only 'b' survives


def test_export_import_roundtrip(spark, coll, tmp_path):
    coll.set("a", {"title": "v1", "author": "x"})
    coll.set("b", {"title": "v2", "author": None})
    coll.delete("a")
    coll.flush()
    for fmt in ("parquet", "json", "csv"):
        out = str(tmp_path / f"exp_{fmt}")
        coll.export(out, format=fmt)
        back = HadroCollection(
            spark, str(tmp_path / f"imp_{fmt}"), coll.schema
        )
        back.import_file(out, format=fmt, key_col="_key")
        rows = {r["_key"]: r["title"] for r in back.scan().collect()}
        assert rows == {"b": "v2"}, (fmt, rows)


def test_indexes_facade(spark, tmp_path):
    """INTERFACE.md:32-38 parity: list/add/remove/rebuild over the
    clustering machinery (optimize + segment stats)."""
    import pytest
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("x", T.IntegerType(), False),
        T.StructField("y", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
    ])
    c = HadroCollection(spark, str(tmp_path / "ixcoll"), schema)
    for i in range(20):
        c.set(f"k{i}", {"x": i, "y": 20 - i, "name": f"n{i}"})
    c.flush()

    assert c.indexes.list() == []
    c.indexes.add("by_x", ["x"])  # default type maps to clustered rewrite
    assert c.indexes.list() == [
        {"name": "by_x", "fields": ["x"], "type": "b+tree"}
    ]
    c.indexes.add("xy_z", ["x", "y"], type="zorder")
    assert [i["name"] for i in c.indexes.list()] == ["by_x", "xy_z"]

    # definitions survive reopen (persisted beside schema/manifest)
    c2 = HadroCollection(spark, str(tmp_path / "ixcoll"))
    assert [i["name"] for i in c2.indexes.list()] == ["by_x", "xy_z"]

    # rebuild re-clusters without changing the logical contents
    c.indexes.rebuild("by_x")
    assert c.get("k3") == {"x": 3, "y": 17, "name": "n3"}
    assert len(c) == 20

    c.indexes.remove("xy_z")
    assert [i["name"] for i in c.indexes.list()] == ["by_x"]

    with pytest.raises(HadroError):
        c.indexes.add("bad", ["not_a_field"])
    with pytest.raises(HadroError):
        c.indexes.add("by_x", ["x"])  # duplicate name
    with pytest.raises(HadroError):
        c.indexes.rebuild("missing")
    with pytest.raises(HadroError):
        c.indexes.remove("missing")
