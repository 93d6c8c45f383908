"""Native-format (hadrolog) DataSource tests: framing, tombstone skip,
multi-segment partitioning, torn-tail tolerance — including a read of the
reference's own shipped (empty) ``.tweets`` collection."""

from __future__ import annotations

import os

import pytest

from hadrodb_spark.sources import hadrolog as H


@pytest.fixture()
def native_dir(tmp_path):
    d = tmp_path / "native"
    d.mkdir()
    with open(d / "00000000.data", "wb") as f:
        f.write(H.encode_record(b"row-one"))
        f.write(H.encode_record(b"row-dead", deleted=True))
        f.write(H.encode_record(b"row-two"))
    with open(d / "00000001.data", "wb") as f:
        f.write(H.encode_record(b"row-three"))
        f.write(b"\x00\x00\x00\x00")  # torn tail (incomplete header)
    return str(d)


def test_iter_records_framing_and_tombstones(native_dir):
    seg0 = os.path.join(native_dir, "00000000.data")
    recs = list(H.iter_records(seg0))
    assert [(r[1], r[2]) for r in recs] == [(0, b"row-one"), (0, b"row-two")]
    assert recs[0][0] == 0 and recs[1][0] == 5 + 7 + 5 + 8
    full = list(H.iter_records(seg0, include_deleted=True))
    assert [r[2] for r in full] == [b"row-one", b"row-dead", b"row-two"]
    assert full[1][1] & H.DELETED_FLAG


def test_datasource_scan(spark, native_dir):
    H.register(spark)
    df = spark.read.format("hadrolog").option("path", native_dir).load()
    rows = sorted(
        (r["segment"], r["offset"], bytes(r["payload"])) for r in df.collect()
    )
    assert rows == [
        ("00000000.data", 0, b"row-one"),
        ("00000000.data", 25, b"row-two"),
        ("00000001.data", 0, b"row-three"),
    ]
    # one input partition per segment file
    assert df.rdd.getNumPartitions() == 2


def test_batch_reads_each_segment_as_planned(native_dir):
    """A batch scan plans one slice per segment, ending at the segment's
    size at planning: frames appended after planning are not read, and a
    tail torn at planning stays unread even once it completes."""
    r = H.HadroLogReader({"path": native_dir})
    parts = r.partitions()
    with open(os.path.join(native_dir, "00000001.data"), "ab") as f:
        f.write(b"\x03new")  # completes the torn frame: size 3, b"new"
    with open(os.path.join(native_dir, "00000000.data"), "ab") as f:
        f.write(H.encode_record(b"row-late"))

    def payloads(reader, parts):
        return [row[3] for p in parts for row in reader.read(p)]

    assert payloads(r, parts) == [b"row-one", b"row-two", b"row-three"]
    fresh = H.HadroLogReader({"path": native_dir})
    assert payloads(fresh, fresh.partitions()) == [
        b"row-one", b"row-two", b"row-late", b"row-three", b"new"
    ]


def test_datasource_scan_without_segments_is_empty(spark, tmp_path):
    """With no segment to read (an empty collection, or segment filters
    that prune every file) Spark plans one partition of None: it must
    read as empty, not fail."""
    from pyspark.sql import functions as F

    H.register(spark)
    empty = spark.read.format("hadrolog").option("path", str(tmp_path)).load()
    assert empty.count() == 0
    (tmp_path / "00000000.data").write_bytes(H.encode_record(b"row"))
    pruned = (
        spark.read.format("hadrolog")
        .option("path", str(tmp_path))
        .load()
        .filter(F.col("segment") == "00000009.data")
    )
    assert pruned.count() == 0


def test_register_reuses_one_package_zip(spark):
    """register() builds the package zip once per content digest under
    scratch_dir(): repeat calls make no new temp dir and ship the same
    path."""
    import tempfile

    from hadrodb_spark.config import scratch_dir

    def shipped() -> list[str]:
        files = spark.sparkContext.listFiles
        return [f for f in files if os.path.basename(f).startswith("hadrodb_spark_")]

    tmp = tempfile.gettempdir()
    before = {n for n in os.listdir(tmp) if n.startswith("hadrolog_")}
    H.register(spark)
    first = shipped()
    H.register(spark)
    assert shipped() == first and len(first) == 1
    zip_name = os.path.basename(first[0])
    assert os.path.isfile(os.path.join(scratch_dir(), zip_name[:-4], zip_name))
    assert {n for n in os.listdir(tmp) if n.startswith("hadrolog_")} == before


def test_reads_reference_shipped_collection(spark):
    ref = "/root/reference/.tweets"
    if not os.path.isdir(ref):
        pytest.skip("reference collection not present")
    H.register(spark)
    df = spark.read.format("hadrolog").option("path", ref).load()
    assert df.count() == 0  # shipped collection is empty — but readable


def test_decode_payload_rejects_garbage():
    from hadrodb_spark.sources.mpack import MpackError

    with pytest.raises(MpackError):
        H.decode_payload(b"\x93\x01\x02\x03")  # no orso header

# --------------------------------------------------------------- msgpack codec

def test_mpack_spec_vectors():
    """Byte-exact encodings from the public msgpack spec."""
    from hadrodb_spark.sources import mpack as M

    assert M.packb(None) == b"\xc0"
    assert M.packb(True) == b"\xc3"
    assert M.packb(False) == b"\xc2"
    assert M.packb(0) == b"\x00"
    assert M.packb(127) == b"\x7f"
    assert M.packb(-1) == b"\xff"
    assert M.packb(-32) == b"\xe0"
    assert M.packb(128) == b"\xcc\x80"
    assert M.packb(65536) == b"\xce\x00\x01\x00\x00"
    assert M.packb(-33) == b"\xd0\xdf"
    assert M.packb(-(2**40)) == b"\xd3\xff\xff\xff\x00\x00\x00\x00\x00"
    assert M.packb(1.5) == b"\xcb\x3f\xf8\x00\x00\x00\x00\x00\x00"
    assert M.packb("abc") == b"\xa3abc"
    assert M.packb("a" * 40) == b"\xd9\x28" + b"a" * 40
    assert M.packb(b"\x01\x02") == b"\xc4\x02\x01\x02"
    assert M.packb([1, 2, 3]) == b"\x93\x01\x02\x03"
    assert M.packb({"a": 1}) == b"\x81\xa1a\x01"
    # decode-side coverage of widths the encoder doesn't emit
    assert M.unpackb(b"\xca\x3f\xc0\x00\x00") == 1.5  # float32
    assert M.unpackb(b"\xcd\x01\x00") == 256
    assert M.unpackb(b"\xd1\xff\x00") == -256
    assert M.unpackb(b"\xdc\x00\x02\x01\x02") == [1, 2]


def test_mpack_roundtrip_values():
    import datetime

    from hadrodb_spark.sources import mpack as M

    vals = (
        None, True, False, 0, 1, -1, 127, 128, -33, 2**31, -(2**31), 2**63 - 1,
        -(2**63), 3.14159, -0.0, "", "héllo wörld", "x" * 1000,
        b"", b"\x00\xff" * 17, [1, [2, [3, "deep"]]], {"k": [1, 2], "n": None},
        list(range(20)), {str(i): i for i in range(20)},
        datetime.datetime(2024, 5, 17, 12, 34, 56),
        datetime.datetime(2024, 5, 17, 12, 34, 56, 789000),
        datetime.datetime(1901, 1, 1, 0, 0, 1),
    )
    for v in vals:
        got = M.unpackb(M.packb(v))
        if isinstance(v, tuple):
            v = list(v)
        assert got == v, v
    # tuple encodes as array
    assert M.unpackb(M.packb((1, "a", None))) == [1, "a", None]


def test_mpack_truncated_and_unknown():
    from hadrodb_spark.sources import mpack as M

    with pytest.raises(M.MpackError):
        M.unpackb(b"\xa5ab")  # truncated fixstr
    with pytest.raises(M.MpackError):
        M.unpackb(b"\x93\x01\x02")  # truncated array
    with pytest.raises(M.MpackError):
        M.unpackb(b"\x01\x02")  # trailing bytes
    with pytest.raises(M.MpackError):
        M.unpackb(b"\xc1")  # never-used type byte


def test_orso_row_roundtrip():
    from hadrodb_spark.sources import mpack as M

    row = ("Othello", "shakespeare", 1603, 3.5, None)
    payload = M.encode_row(row)
    # orso layout: version 0x10, flags 0x00, uint32 BE length, msgpack body
    assert payload[:2] == b"\x10\x00"
    assert int.from_bytes(payload[2:6], "big") == len(payload) - 6
    assert M.decode_row(payload) == row
    with pytest.raises(M.MpackError):
        M.decode_row(b"\x11\x00\x00\x00\x00\x01\x00")  # wrong version
    with pytest.raises(M.MpackError):
        M.decode_row(payload[:-1])  # length mismatch


def test_datasource_typed_read(spark, tmp_path):
    """End-to-end migration path: write reference-format segments (framed
    orso-row payloads, per hadro/engine.py:131-132), read back typed rows
    through the DataSource — including tombstone skip and multi-segment."""
    d = tmp_path / "native_typed"
    d.mkdir()
    with open(d / "00000000.data", "wb") as f:
        f.write(H.encode_row_record(("Othello", "shakespeare", 1603)))
        f.write(H.encode_row_record(("Ghost", "nobody", 0), deleted=True))
        f.write(H.encode_row_record(("King Lear", "shakespeare", 1606)))
    with open(d / "00000001.data", "wb") as f:
        f.write(H.encode_row_record(("Hamlet", None, 1601)))
    H.register(spark)
    df = (
        spark.read.format("hadrolog")
        .option("path", str(d))
        .option("ddl", "title STRING, author STRING, year BIGINT")
        .load()
    )
    rows = sorted((r.title, r.author, r.year) for r in df.collect())
    assert rows == [
        ("Hamlet", None, 1601),
        ("King Lear", "shakespeare", 1606),
        ("Othello", "shakespeare", 1603),
    ]
    assert df.schema.fieldNames() == ["title", "author", "year"]


def test_mpack_roundtrip_property():
    """Property: unpackb(packb(x)) == x for arbitrary nested msgpack-able
    values (hypothesis-generated), including boundary-width integers and
    microsecond-precision datetimes."""
    import datetime

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from hadrodb_spark.sources import mpack as M

    scalars = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**64 - 1),
        st.floats(allow_nan=False, width=64),
        st.text(max_size=80),
        st.binary(max_size=80),
        st.datetimes(
            min_value=datetime.datetime(1800, 1, 1),
            max_value=datetime.datetime(2200, 1, 1),
        ),
    )
    values = st.recursive(
        scalars,
        lambda inner: st.one_of(
            st.lists(inner, max_size=8),
            st.dictionaries(st.text(max_size=16), inner, max_size=8),
        ),
        max_leaves=25,
    )

    @settings(max_examples=300, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(values)
    def check(v):
        assert M.unpackb(M.packb(v)) == v

    check()


def test_aligned_length_property():
    """Property: for ANY sequence of frames with an arbitrary byte cut,
    aligned_length returns exactly the bytes of the complete-frame prefix
    — never mid-frame, never past a torn tail — and resuming from a
    previous aligned offset gives the same answer as scanning from 0
    (the incremental-offset invariant the stream reader relies on); and
    slices read between consecutive aligned cuts concatenate to the
    whole-file walk."""
    import os
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hadrodb_spark.sources.hadrolog import (
        aligned_length,
        encode_record,
        iter_records,
    )

    frames = st.lists(
        st.tuples(st.binary(max_size=40), st.booleans()), min_size=0, max_size=12
    )

    @settings(max_examples=200, deadline=None)
    @given(frames, st.integers(min_value=0, max_value=60))
    def check(fs, cut_back):
        encoded = [encode_record(p, d) for p, d in fs]
        blob = b"".join(encoded)
        cut = max(0, len(blob) - cut_back)  # chop arbitrary bytes off the tail
        # expected: longest complete-frame prefix within blob[:cut]
        want = 0
        for e in encoded:
            if want + len(e) <= cut:
                want += len(e)
            else:
                break
        fd, path = tempfile.mkstemp(suffix=".data")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(blob[:cut])
            assert aligned_length(path) == want
            # incremental resume from any earlier frame boundary
            mid = 0
            cuts = [0]
            for e in encoded:
                if mid + len(e) <= want:
                    mid += len(e)
                    cuts.append(mid)
                    assert aligned_length(path, mid) == want
            # slices between consecutive aligned cuts concatenate to exactly
            # the whole-file walk (the batch/stream slice reader's invariant)
            whole = list(iter_records(path, True))
            assert [p for _, _, p in whole] == [p for p, _ in fs[: len(cuts) - 1]]
            sliced = [
                rec
                for a, b in zip(cuts, cuts[1:])
                for rec in iter_records(path, True, a, b)
            ]
            assert sliced == whole
        finally:
            os.unlink(path)

    check()
