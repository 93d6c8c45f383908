"""sf1.0 bench rehearsal (r7 VERDICT task #3; envelope per r8 task #4):
run the most expensive headline queries at a larger scale factor (built by
``make_scale.py``) and print one BENCH-style JSON line, so the SCALE.md
plan arguments get MEASUREMENTS — per-query wall time should grow
~linearly (≤ ~10× at 10× data for the scan-bound queries; the
bounded-cardinality aggregates grow sub-linearly), and nothing should
blow up driver memory.

``python tools/bench_rehearsal.py <sf_dir> [name ...]``

Set ``SPARK_GRAFT_SF1_ENVELOPE=/root/repo/BENCH_SF1_r09.json`` to also
write the driver's artifact envelope (``{"n", "rc", "cpus", "sf",
"tail", "parsed"}`` — the exact shape the driver records for
``BENCH_r{N}.json``), making scale trends machine-diffable round over
round instead of tail-scraped.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The 10 most expensive batch queries (r8 selection, kept stable for
# round-over-round diffing) + the 8 streaming-equivalence rows (each runs
# the REAL micro-batch engine against its batch twin, so rehearsing them
# measures state-store growth with data volume) + the two heaviest
# statistical-audit entries.
DEFAULT = [
    "poisson_bootstrap_ci",
    "sql_tpch_q9_like",
    "sql_recursive_copurchase",
    "basket_lift",
    "vector_topk_ivfpq",
    "collocation_pmi",
    "curation_pipeline",
    "contamination_ngram",
    "fk_integrity_audit",
    "source_ks_shift",
    "theil_sen_slope",
    "survival_km_daily",
    "stream_tumbling_equivalence",
    "stream_dedup_equivalence",
    "stream_session_equivalence",
    "stream_join_equivalence",
    "stream_custom_state_equivalence",
    "stream_sink_collection_equivalence",
    "stream_sliding_equivalence",
    "stream_hadrolog_source_equivalence",
    # round-9 session-3 additions worth rehearsing at 10× data: the
    # two-pipeline capture estimate, the 9th streaming row (watermark
    # late-drop across a restart), and the heaviest new batch queries
    "capture_recapture_dedup",
    "stream_late_drop_equivalence",
    "changepoint_binseg",
    "hurst_rescaled_range",
    "mann_kendall_trend",
    "quantile_profile_sources",
    "graph_adamic_adar_topk",
    "token_budget_pack",
    # round-10 addition: the 10th streaming row (left-outer join state)
    "stream_left_join_equivalence",
    # round-11 addition: the append-mode parquet-sink session row — the
    # ONLY streaming-equivalence topology certified ABOVE sf1 (the
    # memory-sink rows above are refused there by plan_names)
    "stream_session_sink_equivalence",
    # round-12 addition: the parquet-sink twin of the left-outer
    # stream-stream join — the SECOND streaming topology certified
    # above sf1
    "stream_join_sink_equivalence",
]


def parse_sf(sf_dir: str) -> float | None:
    """Best-effort scale factor from the dir name (``.../sf10`` → 10.0);
    None when the name carries no ``sf<number>`` suffix — then
    ``plan_names`` falls back to the size heuristic below instead of
    refusing nothing (r11 ADVICE: a dir named sf10_v2/data10 must not
    silently bypass the memory-sink guard into a driver OOM)."""
    import re

    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)$", sf_dir.rstrip("/"))
    return float(m.group(1)) if m else None


# sf1's events.parquet is ~12 MiB; sf10's is ~120 MiB.  An unparseable
# dir whose events table exceeds this is treated as "above sf1" for the
# memory-sink refusal (2x headroom over sf1, 5x under sf10).
_EVENTS_BYTES_SF1_MAX = 24 * 1024 * 1024


def _looks_above_sf1(sf_dir: str) -> bool:
    """Size fallback when the dir name carries no scale factor.  Handles
    both a single parquet file and a Spark-written DIRECTORY of
    part-files — ``getsize`` on a directory returns the inode size
    (~4 KiB) without raising, which would silently bypass the guard
    (review finding)."""
    import os as _os

    p = _os.path.join(sf_dir, "events.parquet")
    if _os.path.isdir(p):
        # per-file error tolerance: one vanished/unreadable part-file
        # must not discard the already-accumulated total and bypass the
        # guard (review finding)
        total = 0
        for root, _dirs, files in _os.walk(p):
            for f in files:
                try:
                    total += _os.path.getsize(_os.path.join(root, f))
                except OSError:
                    continue
                if total > _EVENTS_BYTES_SF1_MAX:
                    return True
        return total > _EVENTS_BYTES_SF1_MAX
    try:
        return _os.path.getsize(p) > _EVENTS_BYTES_SF1_MAX
    except OSError:
        return False  # no readable events table — nothing to OOM on


def plan_names(names: list[str], sf_dir: str) -> tuple[list[str], dict[str, str]]:
    """Split the requested rows into (run, refused) for this scale.

    The memory-sink streaming-equivalence rows materialize EVERY emitted
    row in driver memory before comparing — the right exact-row-set
    harness at sf ≤ 1 and a deliberate non-goal above it (r10 VERDICT
    task #7: refuse mechanically instead of relying on a BENCH note).
    The sf>1 streaming certification path is the parquet-sink shape
    (``stream_session_sink_equivalence``), which stays in the plan."""
    from hadrodb_spark.operators.streamcheck import MEMORY_SINK_ROWS

    sf = parse_sf(sf_dir)
    if sf is None:
        if not _looks_above_sf1(sf_dir):
            return list(names), {}
    elif sf <= 1:
        return list(names), {}
    refused = {
        n: "memory-sink equivalence row (driver-collected row set); "
        "certified at sf<=1 only — the sf>1 streaming path is the "
        "parquet-sink shape (streamcheck.MEMORY_SINK_ROWS)"
        for n in names
        if n in MEMORY_SINK_ROWS
    }
    return [n for n in names if n not in refused], refused


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1.0"
    names = sys.argv[2:] or DEFAULT
    names, refused = plan_names(names, sf_dir)
    for n, why in refused.items():
        print(f"# REFUSED {n}: {why}", file=sys.stderr)

    from hadrodb_spark.queries import QUERIES
    from hadrodb_spark.session import get_spark

    spark = get_spark("hadrodb_spark_rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    def cpu_stat():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]

    t0s, s0s = cpu_stat()
    cold, warm = {}, {}
    for name in names:
        for which in (cold, warm):
            t0 = time.perf_counter()
            n = QUERIES[name](spark, sf_dir).count()
            which[name] = round(time.perf_counter() - t0, 3)
        print(
            f"# {name}: cold {cold[name]:.3f}s / warm {warm[name]:.3f}s"
            f" ({n} rows)",
            file=sys.stderr,
        )
    t1s, s1s = cpu_stat()
    parsed = {
        "metric": "sf1_rehearsal_warm_total",
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "sf_dir": sf_dir,
        "queries": warm,
        "queries_cold": cold,
        "refused": refused,
        "steal_pct": round(100.0 * (s1s - s0s) / max(t1s - t0s, 1), 2),
    }
    line = json.dumps(parsed, separators=(",", ":"))
    print(line)
    envelope_path = os.environ.get("SPARK_GRAFT_SF1_ENVELOPE", "")
    if envelope_path:
        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        with open(envelope_path, "w") as f:
            json.dump(
                {
                    "n": len(names),
                    "rc": 0,
                    "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
                    "sf": sf,
                    "tail": line[-2000:],
                    "parsed": parsed,
                },
                f,
                indent=1,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
