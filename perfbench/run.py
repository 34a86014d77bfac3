#!/usr/bin/env python3
"""Benchmark of the CDC engine: apply throughput, batch latency, reads
beside writes, compaction and set-up, on the host it runs on.

Run from the root of a checkout::

    python3 perfbench/run.py --workload microbatch --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload all     # every workload, one report each
    python3 perfbench/run.py --selftest

Every workload is closed-loop: the apply path has one serial writer,
so a batch starts only after the previous commit (a replica draining
its backlog). The program runs with the deployed CLI defaults
(``JobConfig``): merge-on-read, 32 buckets, ``files_per_bucket="auto"``,
auto-compaction every 8 deltas, metrics and lineage logs on. The Spark
session is sized from the host (``host_info``).

Workloads (inputs come from ``feed.py``, seeded, sized by ``--seconds``
so that the same arguments always give the same inputs):

* ``microbatch``: small micro-batches with out-of-order seq through
  ``run_stream`` with AvailableNow — per-batch fixed cost (streaming
  WAL, Spark jobs per merge, commit protocol, metrics and lineage logs)
  dominates. Fewer than the 8 deltas that trigger auto-compaction fit
  the run-time budget, so compaction shows only in ``compact_s``.
* ``partial_mix``: seq-ranged batches in which 30% of the updates are
  content-only partials, through ``apply_batch`` (the body of
  ``replay_feed``); after every batch one ``read_changes`` poll and
  six ``lookup`` calls — the only workload that upgrades partials.

Both end with resolved ``read()`` of the uncompacted table (four on
microbatch, taking turns with its four polls and 24 lookups; five on
partial_mix) and one explicit ``compact()``. So every end-to-end metric
has samples on both workloads. A tail percentile is the highest up to
p90 with ten samples beyond it (the median when there are fewer); the
report names it and the count.

Set-up is timed once, from the launch of a fresh JVM through the first
table's creation and payload-schema inference. Then the first half of
the workload's batches runs untimed on a throwaway table, with half of
microbatch's reads, polls and lookups, and all of partial_mix's reads
but fewer lookups: the first pass in a JVM is far slower than later
ones (JIT, generated code), so the timed pass measures the program
warm.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the workload runs twice more on fresh tables —
traced, then untraced — and the line carries the per-layer metrics
(``layers.py``), including the tracing overhead; spans with their Spark
stage metrics go to ``.perfbench_out/``. Metric names and units come
from ``BENCHMARK.json``. ``--selftest`` corrupts a tiny table on
purpose and shows that the correctness check catches it.

Outputs are checked outside the timed region against a DuckDB oracle
over the generated feed (``oracle.py``); any mismatch or failed
operation makes the exit code non-zero.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from contextlib import nullcontext

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

from oracle import Oracle, lookup_tuples  # noqa: E402

STREAM = "bench"
N_BUCKETS = 32


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def units_of(spec: dict, kind: str) -> dict:
    """Metric name → unit for ``kind`` ("end_to_end" or "per_layer")."""
    return {m["name"]: m["unit"] for m in spec[kind]}


def note(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


# -- host ----------------------------------------------------------------
def host_info() -> dict:
    """Cores from the CPU affinity mask (what ``nproc`` reports without
    OMP_NUM_THREADS), overridable by SPARK_GRAFT_CPUS; heap 1 GiB per
    core, capped at a third of MemAvailable (in 256 MiB steps) on hosts
    short of memory."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    cores = int(env) if env else len(os.sched_getaffinity(0))
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    heap_mb = min(1024 * cores, (avail_kb // 1024 // 3) // 256 * 256)
    return {"cores": cores, "heap_mb": max(512, heap_mb)}


def start_session(host: dict, work: str):
    from replicator_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=host["cores"],
        shuffle_partitions=host["cores"],
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                # a fixed-size heap: RSS does not follow G1's resizing
                f"-XX:+UseG1GC -Xms{host['heap_mb']}m "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage back at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


# -- measurement helpers -------------------------------------------------
class Ops:
    """Attempted/failed operations by kind. A failed op is excluded from
    the timing samples and counted here."""

    def __init__(self):
        self.attempted = Counter()
        self.failed = Counter()

    def run(self, kind: str, fn):
        self.attempted[kind] += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — op boundary: record and go on
            traceback.print_exc()
            self.failed[kind] += 1
            return None, None
        return time.perf_counter() - t0, out


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile up to p90 that has
    at least 10 samples beyond it; the median when none above it has."""
    xs = sorted(samples)
    n = len(xs)
    i = min(math.ceil(0.9 * n) - 1, n - 11)
    if i <= (n - 1) // 2:
        return statistics.median(xs), 0.5
    return xs[i], (i + 1) / n


def pct_name(p: float) -> str:
    return f"p{round(p * 100)}"


# -- the workloads -------------------------------------------------------
class Pass:
    """One run of a workload against a fresh table."""

    def __init__(self, spark, man, work, name, tracer=None):
        from replicator_spark.laketable import LakeTable
        from replicator_spark.model import REPOS_SCHEMA

        self.spark = spark
        self.man = man
        self.tracer = tracer
        self.root = os.path.join(work, "tables", name)
        self.ckpt = os.path.join(work, "ckpt", name)
        self.polls_dir = os.path.join(work, "polls", name)
        self.table = LakeTable(spark, self.root)
        self.table.create(REPOS_SCHEMA, num_buckets=N_BUCKETS)
        self.ops = Ops()
        self.batch_ms: list[float] = []
        self.batch_keys: list[str] = []
        self.apply_s = 0.0
        self.read_s: list[float] = []
        self.poll_ms: list[float] = []
        self.lookup_ms: list[float] = []
        self.compact_s: list[float] = []
        self.polls: list[tuple[int, int, int | None, int]] = []
        self.lookups: list[tuple[str, str, int | None, int, list]] = []
        self.progress: list[dict] = []

    def span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def version(self) -> int:
        from replicator_spark import commitlog

        return commitlog.current_version(self.root)

    def apply_batches(self) -> None:
        from replicator_spark import pipeline

        tracker = pipeline.SchemaTracker()
        feed = self.man["feed_dir"]
        for b in range(self.man["batches"]):
            key = f"{STREAM}-{b}"

            def one(b=b, key=key):
                bdf = self.spark.read.parquet(f"{feed}/batch_id={b}")
                return pipeline.apply_batch(
                    self.table, bdf, key,
                    mode="mor", files_per_bucket="auto", compact_after_deltas=8,
                    write_metrics=True, schema_tracker=tracker,
                    partial_updates=self.man["partial_updates"],
                )

            dt, _ = self.ops.run("batch", one)
            if dt is not None:
                self.batch_ms.append(dt * 1000)
                self.batch_keys.append(key)
                self.apply_s += dt
            if "batch_cuts" in self.man:
                self.poll_and_lookup(b)

    def stream_batches(self) -> None:
        from replicator_spark import streaming

        def run():
            q = streaming.run_stream(
                self.spark, self.man["feed_dir"], self.table, self.ckpt,
                mode="mor", files_per_bucket="auto", stream_name=STREAM,
            )
            try:
                q.awaitTermination()
            finally:
                self.progress = [json.loads(p.json) for p in q.recentProgress]

        dt, _ = self.ops.run("stream", run)
        done = [p for p in self.progress if p["numInputRows"] > 0]
        self.ops.attempted["batch"] += len(done)
        if dt is not None:
            self.apply_s = dt
            self.batch_ms = [float(p["durationMs"]["triggerExecution"]) for p in done]
            self.batch_keys = [f"{STREAM}-{p['batchId']}" for p in done]

    def poll(self, since: int, cut: int | None) -> None:
        """A consumer's poll: the changes since its watermark, fetched as
        Arrow into this process. The rows are written out after the clock
        stops, for the check, so the timing holds no file-commit protocol."""
        import pyarrow.parquet as pq

        def run():
            with self.span("laketable.read_changes"):
                return self.table.read_changes(since_seq=since).select(
                    *_engine_cols()).toArrow()

        dt, rows = self.ops.run("poll", run)
        if dt is not None:
            self.poll_ms.append(dt * 1000)
            dest = os.path.join(self.polls_dir, f"poll_id={len(self.polls)}")
            os.makedirs(dest)
            pq.write_table(rows, os.path.join(dest, "part-0.parquet"))
            self.polls.append((len(self.polls), since, cut, self.version()))

    def lookup(self, repo: str, path: str, cut: int | None) -> None:
        def run():
            with self.span("laketable.lookup"):
                return self.table.lookup(repo, path).collect()

        dt, rows = self.ops.run("lookup", run)
        if dt is not None:
            self.lookup_ms.append(dt * 1000)
            self.lookups.append((repo, path, cut, self.version(), rows))

    def poll_and_lookup(self, b: int) -> None:
        cuts = self.man["batch_cuts"]
        self.poll(cuts[b - 1] if b else -1, cuts[b])
        for repo, path in self.man["batch_lookups"][b]:
            self.lookup(repo, path, cuts[b])

    def read(self) -> None:
        def run():
            with self.span("laketable.read"):
                self.table.read().write.format("noop").mode("overwrite").save()

        dt, _ = self.ops.run("read", run)
        if dt is not None:
            self.read_s.append(dt)

    def reads_and_compact(self) -> None:
        """Full reads and the end-of-run polls and lookups take turns, so
        a burst of load on the host lands on few samples of each metric;
        then one compaction."""
        reads = self.man["reads"]
        polls = self.man.get("poll_since", [])
        lookups = self.man.get("lookups", [])
        rounds = max(reads, len(polls))
        for i in range(rounds):
            if i < reads:
                self.read()
            if i < len(polls):
                self.poll(polls[i], None)
            n = len(lookups)
            for repo, path in lookups[i * n // rounds:(i + 1) * n // rounds]:
                self.lookup(repo, path, None)
        dt, _ = self.ops.run("compact", self.table.compact)
        if dt is not None:
            self.compact_s.append(dt)

    def apply(self, workload: str) -> "Pass":
        if workload == "microbatch":
            self.stream_batches()
        else:
            self.apply_batches()
        return self

    def run(self, workload: str) -> "Pass":
        self.apply(workload)
        self.reads_and_compact()
        return self


# -- correctness ---------------------------------------------------------
def _engine_cols():
    from pyspark.sql import functions as F

    return [
        "repo", "path", "commit", "_last_seq", "_deleted", "lang",
        F.sha2(F.col("content"), 256).alias("sha"),
    ]


def check_pass(p: Pass, man: dict, oracle: Oracle, work: str) -> tuple[list[str], int]:
    """Problems found in one pass (empty when all outputs are right) and
    the live row count of the final table."""
    from replicator_spark import metrics

    problems = []
    dest = os.path.join(work, "check", os.path.basename(p.root))
    p.table.read(include_engine_cols=True).select(*_engine_cols()).write.mode(
        "overwrite").parquet(dest)
    missing, extra = oracle.check_live(dest)
    if missing or extra:
        problems.append(f"final state: {missing} rows missing, {extra} unexpected")
    final_rows = p.spark.read.parquet(dest).count()

    if p.polls:
        missing, extra = oracle.check_changes(
            p.polls_dir, [(pid, since, cut) for pid, since, cut, _ in p.polls]
        )
        if missing or extra:
            problems.append(f"polls: {missing} rows missing, {extra} unexpected")

    bad = [
        (repo, path) for repo, path, cut, _, rows in p.lookups
        if lookup_tuples(rows) != oracle.lookup_rows(repo, path, cut)
    ]
    if bad:
        problems.append(f"lookups: {len(bad)} of {len(p.lookups)} wrong, e.g. {bad[0]}")

    # exactly-once: each batch key once in the ledger, one metrics row each
    ledger = {k for k in p.table.committed_batches() if k.startswith(f"{STREAM}-")}
    if ledger != set(p.batch_keys):
        problems.append(
            f"ledger: {len(ledger)} batch keys, {len(set(p.batch_keys))} batches applied"
        )
    rows = metrics.read_metrics(p.spark, p.root).select("batch_key", "received").collect()
    per_key = Counter(r["batch_key"] for r in rows)
    if set(per_key) != set(p.batch_keys) or any(c != 1 for c in per_key.values()):
        problems.append(f"metrics log: {dict(per_key.most_common(3))} rows per batch")
    received = sum(int(r["received"] or 0) for r in rows)
    if not p.ops.failed and received != man["delivered"]:
        problems.append(f"received {received} events, {man['delivered']} delivered")
    return problems, final_rows


def table_bytes(p: Pass) -> int:
    """Bytes of the data files the current snapshot references."""
    return sum(os.path.getsize(f) for f in p.table.changed_files(-1))


# -- metrics -------------------------------------------------------------
def end_to_end(p: Pass, man: dict, setup_s: float, rss_mb: float,
               live_rows: int) -> tuple[dict, dict]:
    """(metric → value, metric → sample note)."""
    lt, lp = tail(p.lookup_ms)
    vals = {
        "setup_s": setup_s,
        "events_per_s": man["delivered"] / p.apply_s,
        "batch_p50_ms": statistics.median(p.batch_ms),
        "compact_s": statistics.median(p.compact_s),
        "read_full_s": statistics.median(p.read_s),
        "changes_poll_p50_ms": statistics.median(p.poll_ms),
        "lookup_p50_ms": statistics.median(p.lookup_ms),
        "lookup_p90_ms": lt,
        "table_bytes_per_row": table_bytes(p) / max(1, live_rows),
        "peak_rss_mb": rss_mb,
    }
    notes = {
        "setup_s": "fresh JVM",
        "events_per_s": f"{man['delivered']} events",
        "batch_p50_ms": f"n={len(p.batch_ms)}",
        "compact_s": f"n={len(p.compact_s)}",
        "read_full_s": f"median of n={len(p.read_s)}",
        "changes_poll_p50_ms": f"n={len(p.poll_ms)}",
        "lookup_p50_ms": f"n={len(p.lookup_ms)}",
        "lookup_p90_ms": f"{pct_name(lp)} of n={len(p.lookup_ms)}",
        "table_bytes_per_row": f"{live_rows} live rows",
        "peak_rss_mb": "driver JVM + Python",
    }
    return vals, notes


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python process."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


# -- entry point ---------------------------------------------------------
def parse_args(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=workloads + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="corrupt a tiny table and show the check catches it")
    args = ap.parse_args(argv)
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    return args


def warmup_manifest(man: dict, work: str) -> dict:
    """The workload's manifest for the untimed warm-up: the first half of
    its batches, then on microbatch half its reads, polls and lookups, on
    partial_mix a poll and one lookup after each batch and every read.
    Short operations still ran 6-15% faster in a second pass after a
    warm-up with one or two of each, and partial_mix's read times fell
    within the timed pass after a warm-up with one read."""
    half = max(1, man["batches"] // 2)
    warm = {**man, "batches": half}
    if "lookups" in man:
        # the stream takes every file of its directory: give it the files
        # of the first micro-batches (file names sort in delivery order)
        src = os.path.join(man["feed_dir"], "batch_id=0")
        dst = os.path.join(work, "warmup-feed", "batch_id=0")
        os.makedirs(dst)
        files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        for f in files[: len(files) * half // man["batches"]]:
            shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))
        warm["feed_dir"] = os.path.dirname(dst)
        warm["reads"] = man["reads"] // 2
        warm["poll_since"] = man["poll_since"][: len(man["poll_since"]) // 2]
        warm["lookups"] = man["lookups"][: len(man["lookups"]) // 2]
    else:
        warm["batch_lookups"] = [ls[:1] for ls in man["batch_lookups"]]
    return warm


def setup(host, gen, work, workload):
    """Start the session on a fresh JVM, create a table and infer the
    payload schema of the first batch — the set-up a deployed job does
    before its first batch — timed once; input generation has finished
    before. Then run the first half of the workload untimed on a
    throwaway table, so the timed pass does not measure JIT warm-up.
    Returns the live session, the manifest and the set-up time."""
    from replicator_spark import pipeline
    from replicator_spark.laketable import LakeTable
    from replicator_spark.model import REPOS_SCHEMA

    man = gen.wait()
    t0 = time.perf_counter()
    spark = start_session(host, work)
    LakeTable(spark, os.path.join(work, "tables", "setup")).create(
        REPOS_SCHEMA, num_buckets=N_BUCKETS)
    pipeline.infer_payload_schema(spark.read.parquet(f"{man['feed_dir']}/batch_id=0"))
    setup_s = time.perf_counter() - t0
    note(f"set up in {setup_s:.2f}s")
    Pass(spark, warmup_manifest(man, work), work, "warmup").run(workload)
    return spark, man, setup_s


class Generator:
    """The seeded inputs, written by a child process so their memory
    stays out of the driver's RSS."""

    def __init__(self, workload, seed, seconds, work):
        self.out = os.path.join(work, "input")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feed.py"), workload, str(seed),
             str(seconds), self.out]
        )

    def wait(self) -> dict:
        if self.proc.wait() != 0:
            raise RuntimeError(f"input generation failed ({self.proc.returncode})")
        with open(os.path.join(self.out, "manifest.json")) as f:
            return json.load(f)


def versions(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def print_report(workload, host, vers, vals, units, notes, ops, problems):
    print(f"# perfbench {workload}: cores={host['cores']} heap={host['heap_mb']}MB "
          f"spark={vers['spark']} java={vers['java']} python={vers['python']}")
    for k, v in vals.items():
        print(f"  {k:<22} {v:>14.4f} {units.get(k, ''):<10} {notes.get(k, '')}")
    att, fail = sum(ops.attempted.values()), sum(ops.failed.values())
    print(f"  {'failed_share':<22} {fail / max(1, att):>14.4f} {'ratio':<10} "
          f"{fail} of {att} ops ({dict(ops.attempted)})")
    for prob in problems:
        print(f"  CHECK FAILED: {prob}")


def run_workload(args, spec, host, work) -> int:
    gen = Generator(args.workload, args.seed, args.seconds, work)
    try:
        spark, man, setup_s = setup(host, gen, work, args.workload)
    finally:
        gen.proc.kill()
        gen.proc.wait()
    note("warmed up")
    vers = versions(spark)
    oracle = Oracle(man["feed_dir"], work)
    try:
        if args.trace:
            from layers import traced_pass

            units = units_of(spec, "per_layer")
            vals, problems, ops = traced_pass(
                spark,
                lambda name, tracer: Pass(spark, man, work, name, tracer),
                lambda p: check_pass(p, man, oracle, work),
                args.workload, host["cores"],
                os.path.join(ROOT, ".perfbench_out",
                             f"trace-{args.workload}-seed{args.seed}.json"),
            )
            note("traced run done and checked")
            print_report(args.workload, host, vers, vals, units, {}, ops, problems)
        else:
            p = Pass(spark, man, work, "main").run(args.workload)
            rss = peak_rss_mb(spark)
            note(f"workload done: reads {[round(x, 3) for x in p.read_s]} s, "
                 f"polls {[round(x) for x in p.poll_ms]} ms, "
                 f"batches {[round(x) for x in p.batch_ms]} ms")
            problems, live = check_pass(p, man, oracle, work)
            note("checked")
            ops = p.ops
            if ops.failed:
                problems.append(f"{sum(ops.failed.values())} operations failed")
                vals, notes = {}, {}
            else:
                vals, notes = end_to_end(p, man, setup_s, rss, live)
            units = units_of(spec, "end_to_end")
            print_report(args.workload, host, vers, vals, units, notes, ops, problems)
    finally:
        oracle.close()
        stop_session(spark)
    if vals and set(vals) != set(units):
        raise RuntimeError(f"metrics {sorted(set(vals) ^ set(units))} do not match "
                           "BENCHMARK.json")
    result = {
        "correct": not problems,
        "attempted": sum(ops.attempted.values()),
        "failed": sum(ops.failed.values()),
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in vals.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if not problems else 1


def run_all(args, workloads) -> int:
    """Every workload in its own process; non-zero if any run is."""
    codes = [
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
        ).returncode
        for w in workloads
    ]
    return next((c for c in codes if c != 0), 0)


def main(argv=None) -> int:
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    args = parse_args(argv, workloads)
    if args.workload == "all":
        return run_all(args, workloads)
    try:
        import replicator_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    host = host_info()
    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{'selftest' if args.selftest else args.workload}-{args.seed}-{os.getpid()}",
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the JVM and Python's tempfile both land inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{host['heap_mb']}m"
    try:
        if args.selftest:
            from selftest import selftest

            return selftest(args, host, work)
        return run_workload(args, spec, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
