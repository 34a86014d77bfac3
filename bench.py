#!/usr/bin/env python
"""Benchmark harness. Prints ONE JSON line:
{"metric": ..., "value": <sec>, "unit": "sec", "queries": {...}, "sf": ...}

Two parts:
1. CDC apply throughput (the north metric): deterministic feed of
   SPARK_GRAFT_BENCH_EVENTS change events (default 1.5M) replayed
   through the merge-on-read MERGE path; reports events/sec end-to-end
   (normalize + LWW dedup + delta write + snapshot commit per batch),
   then compaction and a resolved read.
2. Headline queries from __spark_entry__ at SPARK_GRAFT_SF_DIR
   (default /root/testdata/sf0.1), each materialized via the noop sink
   so every column is computed.

Env: SPARK_GRAFT_CPUS (default: the cores of the CPU affinity mask)
sets local[N] — running this at two values (e.g. 8 and 32) on the same
input is the two-cluster-size scaling protocol recorded in
BENCH/BASELINE.md. SPARK_GRAFT_HEAP_GB overrides the heap sized from
the cores and MemAvailable (``host_size``).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from replicator_spark.feedgen import gen_changes, write_feed  # noqa: E402
from replicator_spark.laketable import LakeTable  # noqa: E402
from replicator_spark.model import REPOS_SCHEMA  # noqa: E402
from replicator_spark.pipeline import infer_payload_schema, replay_feed  # noqa: E402
from replicator_spark.session import get_spark  # noqa: E402

# Default bench scratch is tmpfs: on a real cluster every executor has
# its own local disks, so storage bandwidth scales with executor count;
# this sandbox has ONE shared virtual disk (~800 MB/s), which caps the
# replay identically at every parallelism level and would corrupt the
# N→4N scaling measurement. tmpfs (2.5+ GB/s, 126 GiB) restores the
# storage-scales-with-compute property the protocol assumes.
SCRATCH = os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    "/dev/shm/replicator_bench" if os.path.isdir("/dev/shm") else
    os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch", "bench"),
)


def bench_cdc(spark, n_events: int, results: dict, n_batches: int = 8, warmup: int = 2) -> float:
    feed = os.path.join(SCRATCH, f"feed_{n_events}_{n_batches}")
    root = os.path.join(SCRATCH, "table")
    shutil.rmtree(root, ignore_errors=True)
    marker = os.path.join(feed, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(feed, ignore_errors=True)
        t0 = time.time()
        write_feed(
            gen_changes(
                spark, n_events, n_repos=200, paths_per_repo=500, n_batches=n_batches
            ),
            feed,
        )
        results["feedgen"] = round(time.time() - t0, 3)
        open(marker, "w").write("ok")

    schema = infer_payload_schema(spark.read.parquet(feed))
    t0 = time.time()
    res = replay_feed(
        spark,
        feed,
        _fresh_table(spark, root),
        payload_schema=schema,
        mode="mor",
        compact_after_deltas=100,
        write_metrics=False,
        # "auto" (default) sizes the write-layout salt from batch input
        # bytes; an integer forces a fixed (bucket, salt) layout. For
        # experiments.
        files_per_bucket=(
            int(os.environ["SPARK_GRAFT_FPB"])
            if os.environ.get("SPARK_GRAFT_FPB")
            else "auto"
        ),
    )
    apply_sec = time.time() - t0
    total = sum(r.received for r in res)
    results["cdc_apply"] = round(apply_sec, 3)
    results["cdc_events"] = total
    results["cdc_events_per_sec"] = round(total / apply_sec, 1)
    # steady state: drop the first `warmup` batches (JIT/codegen warmup
    # dominates short runs and distorts cross-parallelism comparison)
    steady = res[warmup:] if len(res) > warmup else res
    ev_s = sum(r.received for r in steady)
    sec_s = sum(r.wall_ms for r in steady) / 1000.0
    results["cdc_batch_walls_ms"] = [r.wall_ms for r in res]
    results["cdc_events_per_sec_steady"] = round(ev_s / sec_s, 1) if sec_s else None

    table = LakeTable(spark, root)
    t0 = time.time()
    table.compact()
    results["cdc_compact"] = round(time.time() - t0, 3)
    t0 = time.time()
    n = table.read().count()
    results["cdc_read_resolved"] = round(time.time() - t0, 3)
    results["cdc_live_rows"] = n
    return apply_sec


def _fresh_table(spark, root):
    t = LakeTable(spark, root)
    t.create(REPOS_SCHEMA, num_buckets=32)
    return t


def bench_queries(spark, sf_dir: str, results: dict) -> float:
    import __spark_entry__ as entry

    total = 0.0
    for name, fn in entry.queries().items():
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        results[name] = round(dt, 3)
        total += dt
    return total


def host_size() -> tuple[int, int]:
    """(cores, heap GB) for this host. Cores come from the CPU affinity
    mask (what ``nproc`` reports), overridden by SPARK_GRAFT_CPUS. The
    heap scales with cores (constant per-core memory, like a real
    executor fleet) at 3 GB a core, capped below 32 GB so the JVM keeps
    compressed oops (a >32g heap doubles reference width and measurably
    collapses throughput) and at a third of MemAvailable, because it is
    pre-touched and shares the host with the tmpfs scratch and the
    Python workers; SPARK_GRAFT_HEAP_GB overrides."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    cpus = int(env) if env else len(os.sched_getaffinity(0))
    if os.environ.get("SPARK_GRAFT_HEAP_GB"):
        return cpus, int(os.environ["SPARK_GRAFT_HEAP_GB"])
    with open("/proc/meminfo") as f:
        avail_kb = next(
            int(line.split()[1]) for line in f if line.startswith("MemAvailable:")
        )
    return cpus, max(1, min(3 * cpus, 28, avail_kb // (3 * 1024 * 1024)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_events = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "1500000"))
    os.makedirs(SCRATCH, exist_ok=True)
    cpus, heap_gb = host_size()
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{heap_gb}g")
    spark = get_spark(
        "bench",
        cores=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(SCRATCH, "spark-local"),
            # pre-touch avoids multi-second lazy-commit stalls
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseG1GC -XX:+AlwaysPreTouch -Xms{heap_gb}g"
            ),
        },
    )

    queries: dict = {}
    n_batches = int(os.environ.get("SPARK_GRAFT_BENCH_NBATCHES", "8"))
    apply_sec = bench_cdc(
        spark, n_events, queries, n_batches=n_batches,
        warmup=2 if n_batches >= 6 else 1,
    )
    qtotal = 0.0
    if os.environ.get("SPARK_GRAFT_BENCH_ONLY") != "cdc":
        qtotal = bench_queries(spark, sf_dir, queries)

    out = {
        "metric": "cdc_apply_plus_headline_queries",
        "value": round(apply_sec + qtotal, 3),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
        "cpus": cpus,
        "cdc_events_per_sec": queries.get("cdc_events_per_sec"),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
