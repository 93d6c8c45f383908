"""Write-consistency policy — parity with the reference's fsync modes.

Reference: ``/root/reference/hadro/config.py:5-24`` defines ``AGGRESSIVE``
(fsync after every write, durable, ~10x slower) and ``RELAXED`` (OS-managed
flushes, default). On Spark the analog is commit granularity:

- ``AGGRESSIVE`` — every ``append()`` call is its own atomic Parquet commit
  (a new segment file becomes visible immediately; durable on return).
- ``RELAXED`` — appends are buffered in the driver and written as one
  batched commit on ``flush()`` / ``close()`` (fewer, larger segment files —
  the right default at scale: many tiny files are the Spark anti-pattern
  that per-write fsync is in Bitcask).

Also here: the engine's scratch root (:func:`scratch_dir`) and the cache of
derived test/registry fixtures that lives under it
(:func:`events_fixture_dir`, :func:`build_once`).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable
from enum import Enum

#: Env override for the engine scratch root (stream fixtures, checkpoint
#: dirs, staging copies).  See :func:`scratch_dir`.
SCRATCH_ENV = "SPARK_GRAFT_SCRATCH_DIR"

_scratch_cache: str | None = None


def scratch_dir() -> str:
    """Root directory for re-derivable engine scratch state.

    Covers streaming checkpoint dirs (offset/commit logs + state-store
    deltas — many tiny fsync'd files per micro-batch), stream-fixture
    rewrites, and per-invocation staging copies.  All of it is rebuilt
    on demand from the parquet inputs, so durability across reboots is
    not required — which makes a RAM-backed filesystem the right home:
    the cost of this state is per-file create/rename/fsync latency, not
    bandwidth (measured on the local ext4 /tmp: the HDFS state store's
    per-batch commit latency dominates the bounded streaming rows'
    wall time; guide §6 — put shuffle-class scratch on the fastest
    local device).  On a production cluster the analog is the node's
    NVMe scratch volume.

    Resolution order: ``$SPARK_GRAFT_SCRATCH_DIR`` if set, else
    ``/dev/shm`` when it is a writable directory, else the system temp
    dir.  The chosen root is created (with a namespacing subdir for the
    tmpfs case) and cached for the process lifetime.
    """
    global _scratch_cache
    if _scratch_cache is not None:
        return _scratch_cache
    root = os.environ.get(SCRATCH_ENV)
    if not root:
        shm = "/dev/shm"
        if os.path.isdir(shm) and os.access(shm, os.W_OK):
            root = os.path.join(shm, "hadrodb_spark_scratch")
        else:
            root = tempfile.gettempdir()
    os.makedirs(root, exist_ok=True)
    _scratch_cache = root
    return root


_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def events_fixture_dir(
    sf_dir: str, kind: str = "", modules: tuple[str, ...] = ()
) -> str:
    """Cache dir, under :func:`scratch_dir`, of a fixture derived from
    ``sf_dir``'s events table.

    The key is the events table's fingerprint (real path, size, mtime), so
    a regenerated dataset, or another one sharing its basename, never
    reuses stale files; then ``kind``; then, for a fixture whose bytes repo
    code writes, a hash of that code: the source of ``modules``, paths
    relative to the package (``"sources/hadrolog.py"``), so a cache written
    by other code (another checkout, an older format) is never read."""
    src = os.path.join(os.path.realpath(sf_dir), "events.parquet")
    try:
        st = os.stat(src)
        ident = f"{src}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        ident = src
    name = "stream_events_" + hashlib.sha256(ident.encode()).hexdigest()[:16]
    if kind:
        name += f"_{kind}"
    if modules:
        code = hashlib.sha256()
        for rel in modules:
            with open(os.path.join(_PKG_DIR, rel), "rb") as f:
                code.update(f.read())
        name += f"_{code.hexdigest()[:16]}"
    return os.path.join(scratch_dir(), name)


def build_once(dest: str, build: Callable[[str], object]) -> str:
    """Return ``dest``, first building it if it is missing: ``build(staging)``
    fills a fresh staging dir, which is then renamed to ``dest``. Staging
    lives in ``dest``'s own parent dir, so the rename never crosses a
    filesystem (no EXDEV) and readers never see a half-built dir. Any
    failure removes staging; a lost publish race is fine when the winner's
    ``dest`` exists."""
    if os.path.isdir(dest):
        return dest
    staging = tempfile.mkdtemp(
        prefix=f"{os.path.basename(dest)}.build_",
        dir=os.path.dirname(os.path.abspath(dest)),
    )
    try:
        build(staging)
        os.rename(staging, dest)
    except Exception as e:
        shutil.rmtree(staging, ignore_errors=True)
        if not (isinstance(e, OSError) and os.path.isdir(dest)):
            raise
    return dest


class WriteConsistency(str, Enum):
    AGGRESSIVE = "AGGRESSIVE"
    RELAXED = "RELAXED"


#: Default mirrors the reference default (``hadro/config.py:24``).
WRITE_CONSISTENCY: WriteConsistency = WriteConsistency.RELAXED
