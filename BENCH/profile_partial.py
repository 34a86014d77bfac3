"""Profile cdc_partial_update_merge phase-by-phase (VERDICT r04 watch item).

Monkeypatches timing probes around the merge internals so each micro-batch's
cost splits into: localCheckpoint, the plan of the partial fold (state
read + collapse), delta write, commit, compaction. Run on the bench config
(local[$SPARK_GRAFT_CPUS], sf dir $SPARK_GRAFT_SF_DIR).
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as entry
from replicator_spark import laketable as lt
from replicator_spark import commitlog as cl

PHASES: list[dict] = []


def _wrap(obj, name, label):
    orig = getattr(obj, name)

    def timed(*a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(*a, **kw)
        finally:
            PHASES.append({"phase": label, "s": time.perf_counter() - t0})

    setattr(obj, name, timed)
    return orig


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .appName("profile-partial")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from replicator_spark import pipeline as pl

    _wrap(lt.LakeTable, "_fold_partials", "fold_partials")
    _wrap(lt.LakeTable, "_merge_mor", "merge_mor_write")
    _wrap(lt.LakeTable, "read", "table_read")
    _wrap(lt.LakeTable, "compact", "compact")
    _wrap(lt.LakeTable, "_write_buckets", "write_buckets")
    _wrap(cl, "commit_snapshot", "commit_snapshot")
    _wrap(pl, "apply_batch", "apply_batch_total")
    _wrap(pl, "auto_files_per_bucket", "auto_files_per_bucket")
    _wrap(pl, "infer_payload_schema", "infer_schema")

    # time the eager checkpoint too (classic DataFrame, pyspark 4)
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    orig_ckpt = CDF.localCheckpoint

    def timed_ckpt(self, eager=True):
        t0 = time.perf_counter()
        try:
            return orig_ckpt(self, eager=eager)
        finally:
            PHASES.append({"phase": "localCheckpoint", "s": time.perf_counter() - t0})

    CDF.localCheckpoint = timed_ckpt

    t0 = time.perf_counter()
    df = entry.queries()["cdc_partial_update_merge"](spark, sf_dir)
    n = df.count()
    wall = time.perf_counter() - t0

    agg: dict[str, list] = {}
    for p in PHASES:
        agg.setdefault(p["phase"], []).append(p["s"])
    out = {
        "wall_s": round(wall, 2),
        "rows": n,
        "phases": {
            k: {"n": len(v), "total_s": round(sum(v), 2), "max_s": round(max(v), 2)}
            for k, v in sorted(agg.items(), key=lambda kv: -sum(kv[1]))
        },
    }
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
