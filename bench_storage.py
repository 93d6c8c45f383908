#!/usr/bin/env python
"""Storage-layer micro-bench: the reference's ACTUAL workload (append rows,
scan them back, point lookups) measured on HadroCollection at sf0.1 volumes.

The reference publishes no numbers (BASELINE.md) and cannot run here (its
ormsgpack/orso deps are absent), so this records our side of the comparison:
single-node wall-clock for the same operations its design document claims
("writes are insanely fast", "one disk seek" reads — hadro/engine.py:43-47).

Prints one JSON line like bench.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadrodb_spark.session import get_spark
from hadrodb_spark.sources.collection import HadroCollection


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("hadrodb_spark_storage_bench")
    spark.sparkContext.setLogLevel("ERROR")
    # note: (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
    # a surrogate id keeps append volume == live volume for the measurement
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "_id", F.monotonically_increasing_id()
    )
    n = li.count()  # warms JVM + cache
    root = tempfile.mkdtemp(prefix="hadro_bench_")
    coll = HadroCollection(
        spark,
        os.path.join(root, "li"),
        T.StructType(
            [f for f in li.schema.fields]
        ),
    )

    t: dict[str, float] = {}
    t0 = time.perf_counter()
    coll.append_df(li, key_col="_id")
    t["bulk_append"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    assert coll.scan().count() == n
    t["scan_lww"] = round(time.perf_counter() - t0, 3)

    probe_key = str(li.select("_id").first()[0])  # outside the timed region
    t0 = time.perf_counter()
    coll.get(probe_key)  # cold point lookup
    t["point_get"] = round(time.perf_counter() - t0, 3)

    # second commit shadowing 10% of keys, then compact
    upd = li.filter(F.col("l_orderkey") % 10 == 0)
    coll.append_df(upd, key_col="_id")
    t0 = time.perf_counter()
    coll.compact()
    t["compact"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    assert coll.scan().count() == n
    t["scan_compacted"] = round(time.perf_counter() - t0, 3)

    # MERGE INTO on the compacted log: 1% of keys get new versions (LWW
    # update), unmatched source keys insert — the conditional-upsert shape
    # a 100 TB maintenance job runs nightly
    mrg = li.filter(F.col("l_orderkey") % 100 == 3).withColumn(
        "l_quantity", F.col("l_quantity") + 1
    )
    t0 = time.perf_counter()
    coll.merge_df(mrg, key_col="_id")
    t["merge_df"] = round(time.perf_counter() - t0, 3)
    assert coll.scan().count() == n

    # point get AFTER compact+merge: segment-stat pruning should answer
    # from the commits whose key bounds can hold the key (sub-linear in
    # corpus size — the sf10/sf1 ratio of this row is the evidence)
    t0 = time.perf_counter()
    coll.get(probe_key)
    t["point_get_pruned"] = round(time.perf_counter() - t0, 3)

    # size-tiered RANGE merge: fold only the small post-compact commits
    # into one mid-tier segment, base untouched — the steady-state
    # maintenance op whose cost must track the RANGE, not the corpus
    # (compare with `compact`, which rewrites everything)
    upd2 = li.filter(F.col("l_orderkey") % 1000 == 1).withColumn(
        "l_quantity", F.col("l_quantity") + 2
    )
    coll.append_df(upd2, key_col="_id")
    seqs = sorted(coll.segment_stats())
    t0 = time.perf_counter()
    coll.compact(upto=seqs[-1], since=seqs[1])
    t["compact_range"] = round(time.perf_counter() - t0, 3)
    assert coll.scan().count() == n

    # NATIVE-format path (the reference's actual on-disk format): append
    # through the hadrolog DataSource writer's two-phase commit, scan back
    # through its typed reader — the byte-level twin of the reference's
    # append/scan loop (hadro/engine.py:122-177), distributed.  Skippable
    # (SPARK_GRAFT_STORAGE_SKIP_NATIVE=1) for the sf10 envelope run: the
    # Python-DataSource codec is row-at-a-time by construction, so at 60M
    # rows it measures the (documented) codec floor, not the collection
    # tier this envelope certifies.
    if os.environ.get("SPARK_GRAFT_STORAGE_SKIP_NATIVE", "") != "1":
        from hadrodb_spark.sources import hadrolog

        hadrolog.register(spark)
        nd = os.path.join(root, "native")
        nat = li.select("_id", "l_orderkey", "l_partkey", "l_quantity")
        t0 = time.perf_counter()
        nat.write.format("hadrolog").option("path", nd).mode("append").save()
        t["native_append"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        assert (
            spark.read.format("hadrolog")
            .option("path", nd)
            .option("ddl", "_id bigint, l_orderkey bigint, l_partkey bigint, l_quantity double")
            .load()
            .count()
            == n
        )
        t["native_scan_decode"] = round(time.perf_counter() - t0, 3)

    shutil.rmtree(root, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "storage_layer_ops_runtime",
                "value": round(sum(t.values()), 3),
                "unit": "sec",
                "queries": t,
                "rows": n,
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
            }
        )
    )


if __name__ == "__main__":
    main()
