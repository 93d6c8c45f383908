"""hadrolog — a PySpark Python DataSource for the reference's native
on-disk segment format, for reading EXISTING HadroDB collections in place.

Format (from the reference's scan decoder, ``/root/reference/hadro/engine.py:
147-148,173-176`` and append path ``:131-132``):

    [1B flags][4B big-endian uint32 size][size bytes: msgpack row payload]

- ``flags & 0x01`` marks a tombstone; tombstoned records are skipped at scan
  (``hadro/engine.py:26,169-170``)
- records are framed back-to-back in ``<collection>/00000000.data``; the
  reference reads through an 8 MiB buffer reassembling records that span
  block boundaries (``hadro/engine.py:140,151-167``) — Python file I/O does
  the equivalent buffering here

The payload is an orso ``Row.to_bytes()`` msgpack tuple
(``hadro/engine.py:131``); :mod:`hadrodb_spark.sources.mpack` implements the
codec (pure stdlib, written from the public msgpack spec), so scans decode
to typed rows. Two read modes:

- raw (default): ``(segment, offset, flags, payload BINARY)`` — the log as
  frames, tombstones skippable.
- typed: pass ``.option("ddl", "title STRING, author STRING")`` and each
  live record's payload decodes to those columns positionally — the
  migration path for existing native collections.

WRITE path (``df.write.format("hadrolog")``): cluster-safe append/overwrite
via the standard two-phase commit — every task streams its partition into a
uniquely-named staged file under the DESTINATION directory (shared storage
on a real cluster; no driver-local tempdirs anywhere in the data path), and
the driver-side ``commit`` publishes the staged files as sequentially
numbered segments after the existing maximum. Pass
``.option("deleted_col", "col")`` to frame rows with a truthy boolean in
that column as tombstones (the reference's delete, ``hadro/engine.py:26``).
Concurrency contract matches the reference's single-process appender: one
writing JOB at a time per collection (tasks within the job are fully
parallel); concurrent jobs would interleave segment numbers.

STREAM read (``spark.readStream.format("hadrolog")``): an offset is the
frame-aligned byte length of every segment, so micro-batches pick up both
new segment files (a cluster append) and in-place growth of an existing
segment (the reference's appender extending ``00000000.data``). A torn
trailing frame is never consumed — alignment stops at the last complete
record, and the frame is read once all its bytes land. Compacting a
collection mid-stream is NOT supported (segments must only grow); a
segment vanishing under a live stream raises instead of going stale.

ONE READ PATH: batch and stream share one partition type, a slice
``(segment, start, end)`` of byte offsets, and one ``read`` that walks it
with :func:`iter_records`, the only loop that reads payloads. A batch scan
plans one slice per segment, ending at the segment's size at planning, so
it sees each segment as it stood when the query was planned (frames an
appender adds later, and a tail still torn at planning, are not read) —
the same snapshot a stream micro-batch gets from its end offsets. A stream
micro-batch plans one slice per grown segment, from its committed to its
latest aligned offset.

Scale note: one Spark input partition per segment file (segments are
append-ordered units, like parquet files in HadroCollection); a 1000-segment
collection fans out across the cluster with no coordination. Splitting a
large segment for parallelism only needs ``partitions()`` to cut it at
frame boundaries found by a header-only walk like :func:`aligned_length`'s.
The streaming offset walk is driver-side metadata work proportional to NEW
bytes only (alignment resumes from the previous offset, never rescans
history).
"""

from __future__ import annotations

import os
import struct
import sys
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

DELETED_FLAG = 0x01

#: The package modules whose source decides a written segment's bytes: the
#: framing here and the row codec. Caches of written segments key on them
#: (:func:`hadrodb_spark.config.events_fixture_dir`).
WRITER_MODULES = ("sources/hadrolog.py", "sources/mpack.py")

LOG_SCHEMA = T.StructType(
    [
        T.StructField("segment", T.StringType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("flags", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def decode_payload(payload: bytes) -> tuple:
    """Decode an orso ``Row.to_bytes()`` msgpack payload to a value tuple
    (``hadro/engine.py:131,170``)."""
    from hadrodb_spark.sources.mpack import decode_row

    return decode_row(payload)


def encode_record(payload: bytes, deleted: bool = False) -> bytes:
    """Frame a payload exactly as the reference's append path does
    (``hadro/engine.py:131-132``): header then raw bytes."""
    flags = DELETED_FLAG if deleted else 0
    return struct.pack(">BI", flags, len(payload)) + payload


def encode_row_record(values, deleted: bool = False) -> bytes:
    """Frame + payload in one step: msgpack-encode a row tuple the way the
    reference's ``append`` does, ready to write to a ``.data`` segment."""
    from hadrodb_spark.sources.mpack import encode_row

    return encode_record(encode_row(values), deleted)


def iter_records(
    path: str,
    include_deleted: bool = False,
    start: int = 0,
    end: int | None = None,
) -> Iterator[tuple[int, int, bytes]]:
    """Yield (offset, flags, payload) for the complete frames of one segment
    file that lie in ``[start, end)`` (``end`` defaults to the file's size
    at open), skipping tombstones unless asked — the
    ``hadro/engine.py:139-177`` scan loop, and the only loop here that
    reads payloads. ``start`` must be a frame boundary; a torn tail, or a
    frame running past ``end``, ends the walk."""
    with open(path, "rb") as f:
        if end is None:
            end = os.fstat(f.fileno()).st_size
        f.seek(start)
        offset = start
        while offset < end:
            header = f.read(5)
            if len(header) < 5:
                return
            flags, size = struct.unpack(">BI", header)
            if offset + 5 + size > end:
                return  # torn tail write — ignore, like a crashed appender
            payload = f.read(size)
            if len(payload) < size:
                return  # the file shrank under the read
            if include_deleted or not (flags & DELETED_FLAG):
                yield offset, flags, payload
            offset += 5 + size


_DDL_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "smallint": T.ShortType(),
    "tinyint": T.ByteType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
    "date": T.DateType(),
}


def _parse_ddl(ddl: str) -> T.StructType:
    """Session-free parser for ``name TYPE, name TYPE`` column lists —
    atomic types only (native-format rows are scalar tuples)."""
    fields = []
    for part in ddl.split(","):
        part = part.strip()
        if not part:
            continue
        name, _, typ = part.partition(" ")
        dt = _DDL_TYPES.get(typ.strip().lower())
        if dt is None:
            raise ValueError(
                f"unsupported type in ddl: {typ!r} (atomic types only)"
            )
        fields.append(T.StructField(name, dt, nullable=True))
    if not fields:
        raise ValueError("ddl option produced no columns")
    return T.StructType(fields)


class _SlicePartition(InputPartition):
    """The frames of one segment in the byte range ``[start, end)``."""

    def __init__(self, path: str, start: int, end: int) -> None:
        self.path = path
        self.start = start
        self.end = end


_SCALARS = (bool, int, float, str, bytes)


class HadroLogReader(DataSourceReader):
    """Reads segments; supports real FILTER PUSHDOWN (Spark 4.1 Python
    DataSource ``pushFilters``): comparison/null/IN predicates on scalar
    columns are enforced record-side — rows that fail never cross the
    Python→JVM boundary — and in raw mode an equality/IN filter on
    ``segment`` prunes whole FILES at planning time (the native format's
    partition pruning; segments are the format's natural partitions)."""

    def __init__(self, options: dict) -> None:
        self.dir = options["path"]
        self.include_deleted = options.get("include_deleted", "false") == "true"
        self.typed = "ddl" in options
        self._cols = [
            f.name
            for f in (
                _parse_ddl(options["ddl"]) if self.typed else LOG_SCHEMA
            ).fields
        ]
        self._preds: list = []  # (col_index, op, value) — enforced in read()
        self._seg_allow: set[str] | None = None  # raw-mode file pruning

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: "eq",
            GreaterThan: "gt",
            GreaterThanOrEqual: "ge",
            LessThan: "lt",
            LessThanOrEqual: "le",
            IsNull: "isnull",
            IsNotNull: "notnull",
            In: "in",
        }
        remaining = []
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr is not None and len(attr) == 1 else None
            op = ops.get(type(f))
            value = getattr(f, "value", None)
            ok = (
                col in self._cols
                and op is not None
                # only scalar comparisons are pushed: date/timestamp/array
                # literals stay Spark-side (decode-type comparison hazards)
                and (
                    op in ("isnull", "notnull")
                    or (
                        op == "in"
                        and isinstance(value, (tuple, list))
                        and all(v is None or isinstance(v, _SCALARS) for v in value)
                    )
                    or isinstance(value, _SCALARS)
                )
            )
            if not ok:
                remaining.append(f)
                continue
            i = self._cols.index(col)
            if op == "in":
                value = {v for v in value if v is not None}  # NULL never IN-matches
            self._preds.append((i, op, value))
            if not self.typed and col == "segment" and op in ("eq", "in"):
                allow = {value} if op == "eq" else set(value)
                self._seg_allow = (
                    allow
                    if self._seg_allow is None
                    else self._seg_allow & allow
                )
        return remaining

    def _keep(self, row: tuple) -> bool:
        for i, op, v in self._preds:
            x = row[i]
            if op == "isnull":
                if x is not None:
                    return False
            elif op == "notnull":
                if x is None:
                    return False
            elif x is None:
                return False  # SQL comparison with NULL is never true
            elif op == "eq":
                if x != v:
                    return False
            elif op == "gt":
                if not x > v:
                    return False
            elif op == "ge":
                if not x >= v:
                    return False
            elif op == "lt":
                if not x < v:
                    return False
            elif op == "le":
                if not x <= v:
                    return False
            elif op == "in":
                if x not in v:
                    return False
        return True

    def partitions(self) -> list[InputPartition]:
        # one slice per segment, ending at the segment's size NOW: the
        # read sees each segment as it stood at planning
        segs = sorted(
            f for f in os.listdir(self.dir) if f.endswith(".data")
        )
        if self._seg_allow is not None:
            segs = [s for s in segs if s in self._seg_allow]
        paths = [os.path.join(self.dir, s) for s in segs]
        return [_SlicePartition(p, 0, os.path.getsize(p)) for p in paths]

    def read(self, partition: _SlicePartition | None) -> Iterator[tuple]:
        # per-task read; raw mode is stdlib-only, typed mode imports the
        # package's codec (register() ships it to executors via addPyFile)
        if partition is None:
            return  # no segment planned: Spark reads one empty partition
        frames = iter_records(
            partition.path,
            self.include_deleted and not self.typed,
            partition.start,
            partition.end,
        )
        if self.typed:
            from hadrodb_spark.sources.mpack import decode_row

            for _, _, payload in frames:
                row = decode_row(payload)
                if self._keep(row):
                    yield row
            return
        seg = os.path.basename(partition.path)
        for offset, flags, payload in frames:
            row = (seg, offset, flags, payload)
            if self._keep(row):
                yield row


@dataclass
class _SegmentCommitMessage(WriterCommitMessage):
    staged: str
    records: int


class HadroLogWriter(DataSourceWriter):
    """Two-phase-commit segment writer (module docstring, WRITE path).

    Task side writes ``<dir>/_staging_<job>/<task>.seg`` directly on the
    destination filesystem; driver-side ``commit`` renames the staged files
    to ``NNNNNNNN.data`` after the current highest segment — the append
    semantics of the reference's ``hadro/engine.py:122-137`` made durable
    from many executors at once. A failed job leaves only an unreferenced
    staging directory (``abort`` removes it); readers never see partial
    state because segments become visible only via the commit renames."""

    def __init__(self, options: dict, schema: T.StructType, overwrite: bool) -> None:
        import uuid

        self.dir = options["path"]
        self.overwrite = overwrite
        self.deleted_col = options.get("deleted_col")
        names = [f.name for f in schema.fields]
        if self.deleted_col is not None and self.deleted_col not in names:
            raise ValueError(
                f"deleted_col {self.deleted_col!r} not in schema columns {names}"
            )
        self.del_idx = (
            names.index(self.deleted_col) if self.deleted_col is not None else None
        )
        self.staging = os.path.join(self.dir, f"_staging_{uuid.uuid4().hex}")

    def write(self, iterator) -> _SegmentCommitMessage:
        # executor-side: frame each row like the reference's append path
        # (header + orso-msgpack payload) into one staged segment per task
        import uuid

        from hadrodb_spark.sources.mpack import encode_row

        os.makedirs(self.staging, exist_ok=True)
        path = os.path.join(self.staging, f"{uuid.uuid4().hex}.seg")
        n = 0
        with open(path, "wb") as f:
            for row in iterator:
                vals = list(row)
                deleted = (
                    bool(vals.pop(self.del_idx)) if self.del_idx is not None else False
                )
                f.write(encode_record(encode_row(tuple(vals)), deleted))
                n += 1
        return _SegmentCommitMessage(staged=path, records=n)

    def commit(self, messages) -> None:
        import shutil

        os.makedirs(self.dir, exist_ok=True)  # all-empty job: no task ran
        existing = sorted(f for f in os.listdir(self.dir) if f.endswith(".data"))
        if self.overwrite:
            for fn in existing:
                os.remove(os.path.join(self.dir, fn))
            nxt = 0
        else:
            nxt = 1 + max(
                (int(fn.split(".")[0]) for fn in existing), default=-1
            )
        staged = sorted(
            m.staged for m in messages if m is not None and m.records > 0
        )
        for s in staged:
            # publish with CREATE-EXCLUSIVE semantics: os.link fails with
            # EEXIST instead of silently overwriting (os.replace would
            # clobber), so two jobs committing concurrently interleave
            # their segment numbers rather than losing one job's data.
            while True:
                try:
                    os.link(s, os.path.join(self.dir, f"{nxt:08d}.data"))
                    os.unlink(s)
                    nxt += 1
                    break
                except FileExistsError:
                    nxt += 1  # a concurrent committer took this number
        shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


def aligned_length(path: str, start: int = 0) -> int:
    """Byte offset just past the last COMPLETE frame at or after ``start``
    — the streaming offset primitive. Walks headers only (one seek per
    frame past ``start``), so incremental calls cost O(new frames)."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return start
    off = start
    with open(path, "rb") as f:
        f.seek(start)
        while True:
            header = f.read(5)
            if len(header) < 5:
                return off
            _, sz = struct.unpack(">BI", header)
            if off + 5 + sz > size:
                return off  # torn tail: not consumable yet
            f.seek(sz, 1)
            off += 5 + sz


class HadroLogStreamReader(HadroLogReader, DataSourceStreamReader):
    """Micro-batch reader over a growing native collection (module
    docstring, STREAM read). Offsets: ``{"segs": {segment: aligned_bytes}}``.
    Each micro-batch plans one slice per grown segment, between its
    committed and its latest aligned offset, and reads it with the batch
    reader's ``read``."""

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self._aligned: dict[str, int] = {}  # driver-side incremental cache

    def initialOffset(self) -> dict:
        return {"segs": {}}

    def latestOffset(self) -> dict:
        segs = {}
        for fn in sorted(os.listdir(self.dir)):
            if not fn.endswith(".data"):
                continue
            prev = self._aligned.get(fn, 0)
            path = os.path.join(self.dir, fn)
            try:
                if os.path.getsize(path) < prev:
                    raise RuntimeError(
                        f"hadrolog stream: segment {fn!r} shrank below its "
                        f"consumed offset {prev} — the log was rewritten "
                        "under a live stream; restart from a fresh checkpoint"
                    )
            except OSError:
                pass  # vanished: the `gone` check below reports it
            cur = aligned_length(path, prev)
            self._aligned[fn] = cur
            segs[fn] = cur
        gone = set(self._aligned) - set(segs)
        if gone:
            # fail LOUDLY: a consumed segment vanished (compaction ran
            # mid-stream). Offsets would silently go stale — the stream
            # must be restarted against the compacted collection instead.
            raise RuntimeError(
                "hadrolog stream: segment(s) removed mid-stream "
                f"({sorted(gone)}); compaction under a live stream is "
                "unsupported — restart the query from a fresh checkpoint"
            )
        return {"segs": segs}

    def partitions(self, start: dict, end: dict):
        prev = start.get("segs", {})
        cur = end.get("segs", {})
        # Validate CHECKPOINTED offsets, not just this driver's cache:
        # after a restart the in-memory cache is empty, so the
        # latestOffset() vanished-segment check alone cannot see
        # compaction that happened while the query was down. A consumed
        # segment that is now missing or SHORTER than its committed
        # offset means the log was rewritten under the stream — fail
        # loudly instead of silently skipping committed data.
        for seg, s in prev.items():
            if int(s) <= 0:
                continue
            if seg not in cur:
                raise RuntimeError(
                    f"hadrolog stream: consumed segment {seg!r} is gone "
                    "(compaction while the query was stopped?) — restart "
                    "from a fresh checkpoint against the rewritten log"
                )
            if int(cur[seg]) < int(s):
                raise RuntimeError(
                    f"hadrolog stream: segment {seg!r} shrank below its "
                    f"committed offset ({cur[seg]} < {s}) — the log was "
                    "rewritten; restart from a fresh checkpoint"
                )
        out = []
        for seg, e in cur.items():
            s = int(prev.get(seg, 0))
            if int(e) > s:
                out.append(_SlicePartition(os.path.join(self.dir, seg), s, int(e)))
        return out


class HadroLogDataSource(DataSource):
    """``spark.read.format("hadrolog").option("path", dir)`` over a native
    HadroDB collection directory; ``spark.readStream`` for incremental
    consumption; ``df.write.format("hadrolog")`` for cluster-safe append."""

    @classmethod
    def name(cls) -> str:
        return "hadrolog"

    def schema(self) -> T.StructType:
        ddl = self.options.get("ddl")
        if ddl:
            # parsed without Spark: the DataSource is instantiated in a
            # planning process with no active session (fromDDL needs one)
            return _parse_ddl(ddl)
        return LOG_SCHEMA

    def reader(self, schema: T.StructType) -> HadroLogReader:
        return HadroLogReader(self.options)

    def streamReader(self, schema: T.StructType) -> HadroLogStreamReader:
        return HadroLogStreamReader(self.options)

    def writer(self, schema: T.StructType, overwrite: bool) -> HadroLogWriter:
        return HadroLogWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Register the source AND ship the package to executors — the reader
    class is pickled by reference, so executor Python workers must be able
    to import ``hadrodb_spark`` regardless of the driver's cwd."""
    import glob
    import hashlib
    import zipfile

    import hadrodb_spark
    from hadrodb_spark.config import build_once, scratch_dir

    pkg_dir = os.path.dirname(os.path.abspath(hadrodb_spark.__file__))
    root = os.path.dirname(pkg_dir)
    # The zip is named by a digest of its contents and built once per
    # digest under scratch_dir(), so repeat calls ship the same path, and a
    # register() after a source edit gets a FRESH name instead of Spark's
    # "exists and does not match contents" hard error (the executors'
    # import then still resolves to the first-shipped copy — mid-session
    # source edits remain unsupported, just non-fatal).
    entries = sorted(
        (os.path.relpath(full, root), full)
        for full in glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)
    )
    h = hashlib.md5()
    blobs = []
    for rel, full in entries:
        with open(full, "rb") as f:
            data = f.read()
        h.update(rel.encode())
        h.update(data)
        blobs.append((rel, data))
    name = f"hadrodb_spark_{h.hexdigest()[:12]}"

    def write(staging: str) -> None:
        with zipfile.ZipFile(os.path.join(staging, f"{name}.zip"), "w") as z:
            for rel, data in blobs:
                info = zipfile.ZipInfo(rel, date_time=(2020, 1, 1, 0, 0, 0))
                z.writestr(info, data)

    built = build_once(os.path.join(scratch_dir(), name), write)
    # a repeat addPyFile would still grow sys.path and the include list
    if f"{name}.zip" not in spark.sparkContext._python_includes:
        spark.sparkContext.addPyFile(os.path.join(built, f"{name}.zip"))
    # default-off in Spark 4.1; required for the reader's pushFilters
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # The BATCH planner worker resolves imports through the addPyFile
    # includes above, but Spark 4.1's STREAMING source planner
    # (python_streaming_source_runner) spawns without them — a stream
    # read from a session whose workers can't import the package dies
    # with ModuleNotFoundError at plan time.  Registering the source
    # modules for BY-VALUE pickling (the repo's mapInPandas closure
    # discipline, applied at module granularity via pyspark's vendored
    # cloudpickle) makes every pickled reader self-contained instead.
    from pyspark import cloudpickle

    from hadrodb_spark.sources import mpack

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(mpack)
    spark.dataSource.register(HadroLogDataSource)
