#!/usr/bin/env python
"""Profile where wall time goes inside the bounded streaming rows.

Replaces streamcheck._run_bounded to capture StreamingQueryProgress
durationMs breakdowns per micro-batch, so the optimization loop targets the
component that actually costs (guide §1).  Only rows that run through
_run_bounded are covered: the sink rows and the hadrolog and late-drop rows
start their own queries and print no progress records.

Usage: python tools/profile_stream.py [row ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadrodb_spark.operators import streamcheck
from hadrodb_spark.session import get_spark

ROWS = sys.argv[1:] or [
    "stream_tumbling_equivalence",
    "stream_join_equivalence",
    "stream_custom_state_equivalence",
    "stream_left_join_equivalence",
]

PROGRESS: list[dict] = []


def _patched(spark, stream_df, mode):
    import shutil
    import uuid

    from hadrodb_spark.config import scratch_dir

    name = f"streq_{uuid.uuid4().hex}"
    ckpt = os.path.join(scratch_dir(), f"streq_ckpt_{uuid.uuid4().hex}")
    try:
        t0 = time.perf_counter()
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        t_start = time.perf_counter() - t0
        q.awaitTermination()
        total = time.perf_counter() - t0
        PROGRESS.append(
            {
                "start_overhead": round(t_start, 3),
                "total": round(total, 3),
                "batches": [json.loads(p.json) for p in q.recentProgress],
            }
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return name


def main() -> None:
    spark = get_spark("stream_profile")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    streamcheck._run_bounded = _patched
    for row in ROWS:
        fn = getattr(streamcheck, row)
        # warm fixture + JVM
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        warm1 = time.perf_counter() - t0
        PROGRESS.clear()
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        wall = time.perf_counter() - t0
        print(f"\n=== {row}: run1 {warm1:.2f}s run2 {wall:.2f}s ===")
        for rec in PROGRESS:
            print(
                f"  bounded run: total {rec['total']}s"
                f" (start() {rec['start_overhead']}s),"
                f" {len(rec['batches'])} progress events"
            )
            for b in rec["batches"]:
                d = b.get("durationMs", {})
                so = b.get("stateOperators", [])
                st = ""
                if so:
                    st = " state[" + ",".join(
                        f"commit={s.get('commitTimeMs')}ms"
                        f" rows={s.get('numRowsTotal')}"
                        f" mem={s.get('memoryUsedBytes')}"
                        for s in so
                    ) + "]"
                print(
                    f"    batch {b.get('batchId')}: trigger="
                    f"{d.get('triggerExecution')}ms addBatch={d.get('addBatch')}"
                    f" getBatch={d.get('getBatch')} latestOffset={d.get('latestOffset')}"
                    f" planning={d.get('queryPlanning')} walCommit={d.get('walCommit')}"
                    f" commitOffsets={d.get('commitOffsets')}{st}"
                )


if __name__ == "__main__":
    main()
