"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are the ones that
matter identically on a real cluster (AQE, adaptive skew handling, Arrow for
the Pandas-UDF paths, sane shuffle partitioning).
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession


def _local_scratch() -> str:
    """spark.local.dir value: $SPARK_GRAFT_LOCAL_DIR, else the engine
    scratch root from :func:`hadrodb_spark.config.scratch_dir` (one
    resolution policy for ALL re-derivable scratch — r12 ADVICE: the old
    duplicate /dev/shm detection here meant SPARK_GRAFT_SCRATCH_DIR moved
    the checkpoints but not the shuffle files).  A free-space check guards
    the tmpfs default, never an explicit ``$SPARK_GRAFT_SCRATCH_DIR``:
    shuffle *spill* exists to relieve memory pressure, so when /dev/shm
    is already scarce (< 4 GiB free) spilling into RAM would convert
    memory pressure into ENOSPC — fall back to the system temp dir
    instead."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    from hadrodb_spark.config import SCRATCH_ENV, scratch_dir

    root = scratch_dir()
    if not os.environ.get(SCRATCH_ENV):
        try:
            st = os.statvfs(root)
            if st.f_bavail * st.f_frsize < 4 * 1024**3:
                import tempfile

                return tempfile.gettempdir()
        except OSError:
            pass
    return os.path.join(root, "spark_local")


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _state_store_confs() -> dict[str, str]:
    """State-store provider ($SPARK_GRAFT_STATESTORE_PROVIDER, default
    RocksDB), plus changelog checkpointing only when the resolved
    provider is RocksDB — other providers do not read the flag."""
    provider = os.environ.get("SPARK_GRAFT_STATESTORE_PROVIDER", _ROCKSDB_PROVIDER)
    confs = {"spark.sql.streaming.stateStore.providerClass": provider}
    if provider == _ROCKSDB_PROVIDER:
        confs[
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        ] = "true"
    return confs


#: Spark SQL settings every query assumes: UTC, so wall-clock renderings
#: match the oracle's naive timestamps, and TIMESTAMP(NANOS) parquet
#: (events.ts) read as a long, which Spark's reader otherwise rejects.
QUERY_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


@contextlib.contextmanager
def query_session(
    spark: SparkSession, extra: dict[str, str] | None = None
) -> Iterator[SparkSession]:
    """Yield a clone of ``spark`` with :data:`QUERY_CONFS` and ``extra`` set,
    active on this thread until the block exits.

    The clone copies the caller's runtime conf and temp views and shares its
    SparkContext and cache; nothing set in it reaches the caller, and
    DataFrames built in it keep its conf when the caller collects them.  It
    is made active because Spark looks a Python data source up in the
    thread's active session, which is per thread, so queries cannot race."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for key, value in {**QUERY_CONFS, **(extra or {})}.items():
        clone.conf.set(key, value)
    jsession = spark._jvm.org.apache.spark.sql.classic.SparkSession
    prev = jsession.getActiveSession()
    jsession.setActiveSession(clone._jsparkSession)
    try:
        yield clone
    finally:
        jsession.setActiveSession(prev.get() if prev.isDefined() else None)


def get_spark(
    app_name: str = "hadrodb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Scale notes: on a real cluster ``master``/``shuffle.partitions`` come
    from the deploy environment; AQE then coalesces / re-splits partitions
    at runtime so the static number only needs to be in the right ballpark.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: vectorized transfer for every pandas_udf / applyInPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: small dims (region/nation/supplier) broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when the planner's size
        # conditions allow (guide §3.1/§9): skips both sort passes for
        # moderate build sides; AQE still rewrites/broadcasts at runtime.
        # Measured on the join-heavy subset at sf0.1: ~11% total, with
        # hybrid_rrf_fusion 5.5 s → 3.5 s and no regressions.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Runtime bloom-filter pruning: a selective filter on one join side
        # injects a bloom filter into the other side's scan (default-on in
        # Spark 3.4+; pinned here so clusters with older defaults behave
        # identically — the big-fact ⋈ filtered-dim case at 100 TB).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config(map=QUERY_CONFS)
        # Split parquet scans down to row-group granularity. The local test
        # fixtures are single ~10 MB files — at the 128m default a scan gets
        # ONE task no matter how many cores exist. On a real cluster raise
        # this back toward 128m (files there are hundreds of MB).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        # managed-table location (bucketed tables); keep out of the repo dir
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/hadrodb_spark_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Shuffle/spill scratch on the fastest local device (guide §6).
        # The sort-based shuffle writes one data+index file pair per map
        # task; on the sandbox's ext4 root volume the per-file
        # create/commit latency dominates small shuffles (measured: a
        # 32-map/32-reduce aggregate of 1M rows runs ~25-30% faster with
        # scratch on /dev/shm).  Shuffle files are re-derivable by retry,
        # so a RAM-backed dir loses nothing; production analog = the
        # executors' local NVMe scratch volumes, sized by the deployment
        # (set SPARK_GRAFT_LOCAL_DIR, or leave unset to use Spark's
        # default when no /dev/shm exists).
        .config("spark.local.dir", _local_scratch())
        # State store: RocksDB with changelog checkpointing (guide §5 —
        # bounded native memory instead of JVM-heap HashMaps; the at-scale
        # default on every managed Spark platform).  Measured here on the
        # bounded streaming-equivalence rows (interleaved A/B, min-of-2):
        # the 4-store-per-partition stream-stream joins and the pandas
        # custom-state row roughly HALVED (left_join 10.8→5.8 s,
        # custom_state 14.0→7.1 s in the same window) because the HDFS
        # provider pays a per-store per-batch delta-file commit that
        # dominates tiny batches; changelog checkpointing uploads only the
        # per-batch delta instead of re-snapshotting the full store.
        # Results are provider-invariant (state layout, not semantics);
        # env-overridable for deployments standardized on the HDFS store.
        .config(map=_state_store_confs())
        .config(
            "spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI_ENABLED", "false")
        )
    )
    return builder.getOrCreate()
