"""Concurrent-writer fault drill at envelope volume (r11 VERDICT task #5).

Two SEPARATE DRIVER PROCESSES (distinct JVMs, distinct flock domains —
the cross-host shared-storage topology the manifest CAS exists for)
mutate ONE collection built from the sf1 ``orders`` table:

- writer A: 4 ``merge_df`` commits over the ``o_orderkey % 4 == 0``
  stripe, then a size-tiered ``compact(upto=head, since=1)`` range merge
  while writer B may still be committing;
- writer B: 4 ``merge_df`` commits over the disjoint ``% 4 == 1`` stripe.

One CAS loss is FORCED deterministically, not hoped for: writer A's
first manifest mutate — the publish of its first commit, whose output
already sits in its claimed ``_seq=n`` dir — holds its
read-mutate-publish window open (flag file ``a_waiting``) until writer B
publishes another commit, so A's ``os.link`` MUST collide and retry
against the new head.  B claimed the next ``_seq`` above A's, so the
retry finds the commit counter past ``n`` and re-sequences A's dir to
the new counter (``_seq`` is assigned at publish).  The drill asserts A
observed ≥ 1 ``FileExistsError`` on a manifest version name, was
re-sequenced at least once, and still committed everything.

Afterwards the parent asserts, with a fresh session:
- the LWW scan equals the batch-computed expected state (stripe A at
  base + 4000, stripe B at base + 8000, all other rows untouched) —
  compared via two-sided ``exceptAll`` counts;
- manifest consistency: every on-disk ``_seq=N`` dir is listed (or
  retired by the range merge) and no ``.w.<uuid>`` write dir remains,
  the base and the newest commit both listed in ``segment_stats()``,
  ``len(coll)`` == key count.

Usage: ``python tools/fault_drill_concurrent_writers.py [sf_dir]``
(default ``/tmp/sf1.0``; use ``/root/testdata/sf0.01`` for a quick run).
Outcome is recorded in SCALE.md per round.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_COMMITS = 4
STRIPE = {"a": 0, "b": 1}
BUMP = {"a": 1000, "b": 2000}


def _spark(app: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _orders(spark, sf_dir: str):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )


def _writer(role: str, coll_path: str, sf_dir: str, sync_dir: str) -> None:
    """One driver process: N merge commits on its stripe (+ the range
    merge, for writer A).  Counts manifest CAS losses via os.link, and
    writer A's publishes that found their ``_seq`` taken (re-sequenced)."""
    from pyspark.sql import functions as F

    import hadrodb_spark.sources.collection as C
    from hadrodb_spark.sources.collection import HadroCollection

    losses = {"n": 0}
    resequenced = {"n": 0}
    real_link = os.link

    def counting_link(src, dst, *a, **kw):
        try:
            return real_link(src, dst, *a, **kw)
        except FileExistsError:
            if C._MANIFEST_V_PREFIX in os.path.basename(dst):
                losses["n"] += 1
            raise

    C.os.link = counting_link  # patches the shared os module in THIS process

    if role == "a":
        # Hold the first commit's first CAS window open until B publishes:
        # the forced-collision rendezvous (production function unchanged —
        # only the mutate callback dwells, exactly where a slow driver
        # would).
        orig_cas = C._cas_update_manifest
        state = {"armed": True}

        def stalling_cas(path, mutate):
            def slow_mutate(m):
                try:
                    mutate(m)
                except C._Superseded:
                    resequenced["n"] += 1
                    raise
                if state["armed"]:
                    state["armed"] = False
                    open(os.path.join(sync_dir, "a_waiting"), "w").close()
                    v0 = len(C._manifest_versions(path))
                    deadline = time.time() + 180
                    while (
                        len(C._manifest_versions(path)) == v0
                        and time.time() < deadline
                    ):
                        time.sleep(0.05)

            return orig_cas(path, slow_mutate)

        C._cas_update_manifest = stalling_cas

    spark = _spark(f"drill_writer_{role}")
    spark.sparkContext.setLogLevel("ERROR")
    coll = HadroCollection(spark, coll_path)
    src = _orders(spark, sf_dir).filter(
        F.col("o_orderkey") % 4 == STRIPE[role]
    )
    for i in range(1, N_COMMITS + 1):
        if role == "b" and i == 2:
            # don't outrun the rendezvous: B's 2nd publish is the one A's
            # open window waits for
            deadline = time.time() + 180
            while (
                not os.path.exists(os.path.join(sync_dir, "a_waiting"))
                and time.time() < deadline
            ):
                time.sleep(0.05)
        batch = src.withColumn(
            "o_totalprice",
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                + BUMP[role] * i
            ).cast("double"),
        )
        # a scan planned before the other writer's range merge keeps
        # reading its snapshot's files: no retry needed
        coll.merge_df(batch, key_col="o_orderkey")
    if role == "a":
        head = max(coll.segment_stats())
        coll.compact(upto=head, since=1)
    print(
        json.dumps(
            {"writer": role, "lost_races": losses["n"], "resequenced": resequenced["n"]}
        )
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1.0"
    work = tempfile.mkdtemp(prefix="hadro_drill_")
    try:
        return _drill(sf_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _drill(sf_dir: str, work: str) -> int:
    coll_path = os.path.join(work, "orders_coll")
    sync_dir = os.path.join(work, "sync")
    os.makedirs(sync_dir)

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from hadrodb_spark.sources.collection import KEY_COL, HadroCollection

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), False),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
        ]
    )
    spark = _spark("drill_parent")
    spark.sparkContext.setLogLevel("ERROR")
    orders = _orders(spark, sf_dir)
    n_keys = orders.count()
    t0 = time.perf_counter()
    coll = HadroCollection(spark, coll_path, schema)
    coll.append_df(orders, key_col="o_orderkey")
    print(f"# bulk load: {n_keys} rows in {time.perf_counter() - t0:.1f}s")

    env = dict(os.environ)
    procs = {
        role: subprocess.Popen(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--writer",
                role,
                coll_path,
                sf_dir,
                sync_dir,
            ],
            stdout=subprocess.PIPE,
            text=True,
            env=env,
        )
        for role in ("a", "b")
    }
    t0 = time.perf_counter()
    reports = {}
    for role, p in procs.items():
        out, _ = p.communicate(timeout=900)
        assert p.returncode == 0, f"writer {role} failed rc={p.returncode}"
        reports[role] = json.loads(out.strip().splitlines()[-1])
    wall = time.perf_counter() - t0
    lost = sum(r["lost_races"] for r in reports.values())
    print(f"# concurrent phase: {wall:.1f}s, CAS losses observed: {lost}")
    assert lost >= 1, "no CAS loss observed — rendezvous failed"
    resequenced = reports["a"]["resequenced"]
    assert resequenced >= 1, "writer A's publish was not re-sequenced"

    # ---- post-conditions, from a fresh open -------------------------------
    coll2 = HadroCollection(spark, coll_path)
    m = coll2._read_manifest()
    held = {r.split("/")[1] for r in coll2._roots(m)}
    held |= {r.split("/")[1] for _, r in m.get("retired", [])}
    on_disk = os.listdir(coll2._data_path)
    assert not [d for d in on_disk if d.startswith(".w.")], on_disk
    assert {d for d in on_disk if d.startswith("_seq=")} <= held, (on_disk, held)
    stats_keys = sorted(coll2.segment_stats())
    assert stats_keys[0] == 0, stats_keys  # the since=1 merge left the base
    assert stats_keys[-1] == coll2.current_commit(), stats_keys

    expected = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 4 == 0,
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                + BUMP["a"] * N_COMMITS
            ).cast("double"),
        )
        .when(
            F.col("o_orderkey") % 4 == 1,
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                + BUMP["b"] * N_COMMITS
            ).cast("double"),
        )
        .otherwise(F.col("o_totalprice")),
    )
    got = (
        coll2.scan()
        .withColumn("o_orderkey", F.col(KEY_COL).cast("bigint"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )
    assert len(coll2) == n_keys == got.count()
    missing = expected.exceptAll(got).count()
    extra = got.exceptAll(expected).count()
    assert missing == 0 and extra == 0, (missing, extra)
    print(
        json.dumps(
            {
                "drill": "concurrent_writers",
                "sf_dir": sf_dir,
                "rows": n_keys,
                "commits": 1 + 2 * N_COMMITS,
                "cas_losses": lost,
                "resequenced": resequenced,
                "concurrent_wall_sec": round(wall, 1),
                "lww_equivalent": True,
            }
        )
    )
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--writer":
        _writer(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5])
    else:
        sys.exit(main())
