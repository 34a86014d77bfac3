"""spark-submit entry point — the analogue of the reference's
``cmd/replicator/main.go`` (flags, config load/validate, service start).

A job spec (JSON or YAML-subset) plays the role of the reference's
stream config (``pkg/config/config.go:93-104``): source feed, target
table, transform rules, mode, tuning. ``--validate`` and
``--show-config`` mirror the reference's flags (``main.go:22-101``).

Usage::

    spark-submit --py-files replicator_spark.zip -m replicator_spark.cli \\
        run --config job.json
    python -m replicator_spark.cli validate --config job.json
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
from dataclasses import dataclass, field

# Identity fields pinned for a streaming job's lifetime: baked into the
# table handle, the offset WAL, and the ledger's batch-key namespace.
# Shared by the config watcher (run_streaming_watched) and the HTTP
# server's PUT /config validation — one definition so the two gates can
# never drift apart.
PINNED_IDENTITY_FIELDS = (
    "name", "table_root", "checkpoint_dir", "feed_dir", "streaming"
)


@dataclass
class JobConfig:
    name: str
    feed_dir: str
    table_root: str
    checkpoint_dir: str | None = None
    mode: str = "mor"  # the only merge mode; kept for saved configs
    streaming: bool = True
    num_buckets: int = 32
    files_per_bucket: int | str = "auto"
    compact_after_deltas: int = 8
    max_files_per_trigger: int | None = None
    transform_rules: list[dict] = field(default_factory=list)
    # reference EventFilter (pkg/models/types.go:218-227): operation /
    # database / collection include-exclude, field_filters, and
    # custom_filter — a jq boolean expression by default, or the
    # reference's declared "JavaScript expression" shape with
    # custom_filter_lang: "javascript" (both compile driver-side to
    # Column exprs). See filters.EventFilter.
    event_filter: dict | None = None
    enabled: bool = True
    # re-read the config file between micro-batches and apply changes on
    # the fly (the reference's viper WatchConfig hot-reload,
    # pkg/config/config.go:720): the running query restarts from its
    # checkpoint under the new settings; enabled=false drains and stops
    watch_config: bool = False
    partial_updates: bool = False
    tombstone_retention: int | None = None
    # reference QualityOfService vocabulary (pkg/models/types.go:127-134):
    # {"retry_policy": {...}, "circuit_breaker": {...}} — see qos.py
    qos: dict | None = None
    # run the management HTTP API beside the job (the reference's
    # API-server-plus-stream-runner process shape, cmd/replicator).
    # 0 = ephemeral port (printed as a "serving" JSON line). Not
    # hot-reloadable: a serve_* change takes effect at next start.
    # serve_auth_tokens mirrors `cli serve --auth-token` (bearer auth,
    # /health + /metrics exempt) so the integrated shape does not
    # silently lose the auth the standalone server has.
    serve_port: int | None = None
    serve_host: str = "127.0.0.1"
    serve_auth_tokens: list[str] = field(default_factory=list)
    # outbound Azure Entra credentials (pkg/auth AzureEntraConfig,
    # models.go:17-24) for Entra-protected sources/sinks — validated at
    # config load like the rules/filters; tokens are acquired lazily
    # by auth.AzureEntraProvider (driver-side, never in a Spark plan)
    auth: dict | None = None

    @staticmethod
    def from_dict(d: dict) -> "JobConfig":
        known = {f for f in JobConfig.__dataclass_fields__}
        unknown = set(d) - known
        if unknown:
            raise ValueError(f"unknown config keys: {sorted(unknown)}")
        return JobConfig(**d)

    def validate(self) -> list[str]:
        errs = []
        if not self.name:
            errs.append("name is required")
        from .pipeline import check_merge_mode

        try:
            check_merge_mode(self.mode)
        except ValueError as e:
            errs.append(str(e))
        if self.streaming and not self.checkpoint_dir:
            errs.append("streaming jobs require checkpoint_dir")
        if not self.feed_dir or not self.table_root:
            errs.append("feed_dir and table_root are required")
        fpb = self.files_per_bucket
        if fpb != "auto" and (
            not isinstance(fpb, int) or isinstance(fpb, bool) or fpb < 1
        ):
            errs.append(
                f'files_per_bucket must be "auto" or an int >= 1, got {fpb!r}'
            )
        if self.serve_port is not None and (
            not isinstance(self.serve_port, int)
            or isinstance(self.serve_port, bool)
            or not 0 <= self.serve_port <= 65535
        ):
            errs.append(f"serve_port must be an int in [0, 65535], got {self.serve_port!r}")
        # config-level rule/filter validation (validation.go:238-260
        # validates transform types at config load): both constructors
        # are Spark-free — Columns compile only at apply time
        if self.transform_rules:
            try:
                _build_engine(self)
            except Exception as e:  # noqa: BLE001 — any build error is a config error
                errs.append(f"transform_rules: {e}")
        if self.event_filter:
            try:
                from .filters import EventFilter

                ef = EventFilter.from_dict(self.event_filter)
                errs.extend(f"event_filter: {e}" for e in ef.validate())
            except Exception as e:  # noqa: BLE001
                errs.append(f"event_filter: {e}")
        if self.auth:
            try:
                from .auth import EntraConfig

                errs.extend(
                    f"auth: {e}"
                    for e in EntraConfig.from_dict(self.auth).validate()
                )
            except Exception as e:  # noqa: BLE001
                errs.append(f"auth: {e}")
        return errs


def load_config(path: str) -> JobConfig:
    with open(path) as f:
        return JobConfig.from_dict(json.load(f))


def _build_filter(cfg: JobConfig):
    if not cfg.event_filter:
        return None
    from .filters import EventFilter

    ef = EventFilter.from_dict(cfg.event_filter)
    ef.predicate()  # fail-fast: bad operators / jq syntax surface at build
    return ef


def _build_engine(cfg: JobConfig):
    if not cfg.transform_rules:
        return None
    from .model import KEY_COLS
    from .transform import Action, Condition, Rule, TransformEngine

    # with partial_updates on, _partial is part of the merge contract:
    # a rule that rewrites it would flip partial rows to full images and
    # null every untouched column at merge time (ADVICE r02)
    protected = ("event_id", "seq", "op", *KEY_COLS)
    if cfg.partial_updates:
        protected = (*protected, "_partial")

    rules = []
    for rd in cfg.transform_rules:
        rules.append(
            Rule(
                name=rd["name"],
                priority=rd.get("priority", 0),
                enabled=rd.get("enabled", True),
                conditions=[Condition(**c) for c in rd.get("conditions", [])],
                actions=[Action(a["type"], a.get("spec", {})) for a in rd.get("actions", [])],
                error_policy=rd.get("error_policy", "fail_fast"),
                validate=Condition(**rd["validate"]) if rd.get("validate") else None,
            )
        )
    return TransformEngine(rules, protected=protected)


def run_streaming_watched(spark, cfg: JobConfig, table, config_path: str | None):
    """Run the streaming job, honoring pause markers and (with
    ``watch_config``) live config reloads: on a config-file change the
    query drains, and — unless the new config disables the job — a new
    query restarts from the same checkpoint under the new settings.
    Invalid new configs are rejected with a warning and the old one
    kept (the reference logs and keeps the old one). Only live-tunable
    fields may change across a reload — identity fields (name,
    table_root, checkpoint_dir, feed_dir, streaming) are pinned for the
    job's lifetime, because they are baked into the table handle, the
    offset WAL, and the ledger's batch-key namespace: e.g. a new
    checkpoint_dir restarts Structured Streaming batch ids at 0, whose
    keys are already in the committed ledger, and every micro-batch
    would be silently dropped as a replay. A reload that touches a
    pinned field is rejected wholesale. Returns the config in effect at
    exit."""
    import os
    import time

    from . import lifecycle
    from .streaming import run_stream

    PINNED = PINNED_IDENTITY_FIELDS

    while True:
        engine = _build_engine(cfg)
        from .qos import QoS

        q = run_stream(
            spark,
            cfg.feed_dir,
            table,
            cfg.checkpoint_dir,
            mode=cfg.mode,
            files_per_bucket=cfg.files_per_bucket,
            max_files_per_trigger=cfg.max_files_per_trigger,
            stream_name=cfg.name,
            partial_updates=cfg.partial_updates,
            tombstone_retention=cfg.tombstone_retention,
            transform_engine=engine,
            event_filter=_build_filter(cfg),
            qos=QoS.from_dict(cfg.qos),
        )
        watching = cfg.watch_config and config_path
        mtime = os.path.getmtime(config_path) if watching else None
        reloaded = False
        while q.isActive:
            if lifecycle.is_paused(table.root, cfg.name):
                q.stop()
                break
            if watching:
                try:
                    m2 = os.path.getmtime(config_path)
                except OSError:
                    m2 = mtime
                if m2 != mtime:
                    mtime = m2
                    try:
                        ncfg = load_config(config_path)
                        errs = ncfg.validate()
                        if errs:
                            raise ValueError("; ".join(errs))
                        changed_pinned = [
                            f for f in PINNED
                            if getattr(ncfg, f) != getattr(cfg, f)
                        ]
                        if changed_pinned:
                            raise ValueError(
                                f"pinned fields changed: {changed_pinned}"
                            )
                    except Exception as exc:  # noqa: BLE001 — keep old config
                        print(
                            f"warning: config reload rejected, keeping old: {exc}",
                            file=sys.stderr,
                        )
                    else:
                        # an operator pause that landed since the last
                        # poll wins over the reload — stop without
                        # reloading; their marker must not be
                        # overwritten by ours (review r4 second pass #4)
                        if lifecycle.is_paused(table.root, cfg.name):
                            q.stop()
                            break
                        cfg = ncfg
                        # transient pause: q.stop() alone interrupts
                        # only the JVM side — if the breaker is in its
                        # open-circuit wait the Python callback would
                        # keep sleeping; the marker aborts the wait
                        # promptly, and the streaming generation fence
                        # guarantees the abort even if the zombie
                        # sleeps through the marker's whole lifetime.
                        lifecycle.pause(
                            table.root, cfg.name, reason="_config_reload"
                        )
                        q.stop()
                        reloaded = True
                        break
            time.sleep(0.2)
        # pause during an open-circuit wait aborts with CircuitOpen
        # inside foreachBatch — a clean stop, not a crash (ADVICE r03)
        from .streaming import await_stream

        await_stream(q, table.root, cfg.name)
        if reloaded:
            # atomically clear OUR transient reload marker; an
            # operator's own pause (different reason) stays in place
            lifecycle.resume_if_reason(table.root, cfg.name, "_config_reload")
        if reloaded and cfg.enabled and not lifecycle.is_paused(table.root, cfg.name):
            continue
        return cfg


def cmd_run(cfg: JobConfig, config_path: str | None = None) -> int:
    mgmt = None
    if cfg.serve_port is not None:
        # start before the (15s) JVM spin-up so liveness probes answer
        # from the first moment of the process's life
        from .http_api import ManagementServer

        mgmt = ManagementServer(
            cfg.table_root,
            config_path=config_path,
            feed_dir=cfg.feed_dir,
            checkpoint_dir=cfg.checkpoint_dir,
            auth_tokens=tuple(cfg.serve_auth_tokens),
            host=cfg.serve_host,
            port=cfg.serve_port,
        )
        print(json.dumps({"serving": mgmt.start()}), flush=True)
    try:
        return _cmd_run_job(cfg, config_path)
    finally:
        if mgmt is not None:
            mgmt.stop()


def _cmd_run_job(cfg: JobConfig, config_path: str | None) -> int:
    from .laketable import LakeTable
    from .model import REPOS_SCHEMA
    from .pipeline import replay_feed
    from .session import get_spark

    spark = get_spark(cfg.name)
    table = LakeTable(spark, cfg.table_root)
    if not table.exists():
        table.create(REPOS_SCHEMA, num_buckets=cfg.num_buckets)
    engine = _build_engine(cfg)
    if cfg.streaming:
        run_streaming_watched(spark, cfg, table, config_path)
    else:
        from .qos import QoS

        replay_feed(
            spark,
            cfg.feed_dir,
            table,
            mode=cfg.mode,
            files_per_bucket=cfg.files_per_bucket,
            compact_after_deltas=cfg.compact_after_deltas,
            stream_name=cfg.name,  # namespace the ledger per stream
            partial_updates=cfg.partial_updates,
            tombstone_retention=cfg.tombstone_retention,
            transform_engine=engine,
            event_filter=_build_filter(cfg),
            qos=QoS.from_dict(cfg.qos),
        )
    n = table.read().count()
    print(json.dumps({"job": cfg.name, "live_rows": n, "version": table._snap().version}))
    return 0


def cmd_lifecycle(
    cmd: str,
    table_root: str,
    stream: str | None,
    health: bool = False,
    feed_dir: str | None = None,
    checkpoint_dir: str | None = None,
    freshness_s: float = 600.0,
) -> int:
    """pause / resume / status — the reference's per-stream lifecycle
    API (``pkg/api/streams.go``; states ``pkg/models/models.go:78-105``)
    as CLI subcommands over the marker + snapshot-log state.
    ``status --health`` runs the pluggable checker battery
    (``lifecycle.health`` — the ``pkg/api/health.go`` liveness/readiness
    surface) and exits non-zero when unhealthy, so a K8s-style operator
    can probe the job with an exec/cron check."""
    from . import lifecycle

    if cmd == "status":
        if health:
            h = lifecycle.health(
                table_root,
                feed_dir=feed_dir,
                checkpoint_dir=checkpoint_dir,
                freshness_s=freshness_s,
            )
            print(json.dumps(h, indent=2))
            return 0 if h["healthy"] else 1
        print(json.dumps(lifecycle.status(table_root), indent=2))
        return 0
    if not stream:
        print("error: --stream is required for pause/resume", file=sys.stderr)
        return 1
    out = lifecycle.pause(table_root, stream) if cmd == "pause" else lifecycle.resume(
        table_root, stream
    )
    print(json.dumps(out))
    return 0


def cmd_lookup(
    table_root: str,
    key: str,
    path: str | None,
    version: int | None,
    limit: int,
) -> int:
    """Point read by primary key (LakeTable.lookup): scans ONE bucket
    (driver-side xxhash64 routing), prints one JSON line per row."""
    from .laketable import LakeTable
    from .session import get_spark

    spark = get_spark("lookup")
    table = LakeTable(spark, table_root)
    df = table.lookup(key, path=path, version=version)
    for r in df.limit(limit).collect():
        print(json.dumps(r.asDict(recursive=True), default=str))
    return 0


def cmd_dedup_index(args) -> int:
    """Incremental MinHash dedup index (ops/incremental_dedup) from the
    command line: ``add`` feeds one id-ordered doc batch (parquet dir
    or file) through ``MinHashIndex.add_batch`` and lands the batch's
    candidate pairs under ``--pairs-out``; ``stats`` prints the index
    accounting. The index lives in a LakeTable, so the ordinary
    ``compact``/``history``/``expire`` subcommands work on its root."""
    from .ops.incremental_dedup import MinHashIndex
    from .session import get_spark

    spark = get_spark("dedup-index")
    idx = MinHashIndex(
        spark,
        args.index_root,
        num_hashes=args.num_hashes,
        bands=args.bands,
        max_bucket=args.max_bucket,
    )
    if args.action == "stats":
        print(json.dumps(idx.stats()))
        return 0
    if not idx.table.exists():
        idx.create()
    docs = spark.read.parquet(args.docs)
    pairs = idx.add_batch(
        docs, args.batch_key, text_col=args.text_col, id_col=args.id_col
    )
    if pairs is None:
        print(json.dumps({"batch_key": args.batch_key, "replayed": True}))
        return 0
    n = None
    if args.pairs_out:
        out = f"{args.pairs_out}/batch_key={args.batch_key}"
        pairs.write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
    else:
        n = pairs.count()
    print(
        json.dumps(
            {"batch_key": args.batch_key, "replayed": False, "pairs": n}
        )
    )
    return 0


def cmd_compact(table_root: str, expire_below: int | None, retention: int | None) -> int:
    """Maintenance compaction out of the hot apply path: fold mor delta
    chains into base files; optionally expire tombstones below an
    explicit seq or below (max applied seq − retention)."""
    from .laketable import LakeTable
    from .session import get_spark

    spark = get_spark("compact")
    table = LakeTable(spark, table_root)
    snap = table._snap()
    expire = expire_below
    if expire is None and retention is not None:
        max_seq = (snap.props or {}).get("max_seq")
        if max_seq is not None:
            expire = max_seq - retention
    v = table.compact(expire_tombstones_below_seq=expire)
    print(json.dumps({"table": table_root, "version": v, "expired_below": expire}))
    return 0


def cmd_expire(table_root: str, keep_last: int, min_age_s: float) -> int:
    """Expire old snapshots + GC unreferenced data files/manifests.
    Pure driver-side filesystem work — no SparkSession is booted."""
    from .laketable import LakeTable

    table = LakeTable(None, table_root)  # metadata-only: spark unused
    print(json.dumps(table.expire_snapshots(keep_last=keep_last, min_age_s=min_age_s)))
    return 0


def cmd_history(table_root: str) -> int:
    """Snapshot history (time-travel index) as JSON lines."""
    from .laketable import LakeTable
    from .session import get_spark

    table = LakeTable(get_spark("history"), table_root)
    for row in table.history():
        print(json.dumps(row))
    return 0


def cmd_metrics(table_root: str) -> int:
    """Print cumulative counters in Prometheus exposition format — the
    reference's ``/metrics`` endpoint (``pkg/api/metrics.go``) as a CLI."""
    from .metrics import to_prometheus_text

    print(to_prometheus_text(table_root), end="")
    return 0


def cmd_config_backup(config_path: str, table_root: str) -> int:
    """Config backup (the reference's ``pkg/api`` config backup/restore
    endpoints — the one management-API feature round 2 had no
    equivalent for). The VALIDATED config is archived next to the table
    it drives (``<table_root>/_config/backup-<ts>.json``, atomic
    write), so a table carries the history of job specs that fed it."""
    import os
    import time

    from . import commitlog as cl

    cfg = load_config(config_path)  # raises on unknown keys
    errs = cfg.validate()
    if errs:
        print("\n".join(f"error: {e}" for e in errs), file=sys.stderr)
        return 1
    ts = int(time.time() * 1000)
    path = os.path.join(table_root, "_config", f"backup-{ts}.json")
    while os.path.exists(path):  # two backups in the same millisecond
        ts += 1
        path = os.path.join(table_root, "_config", f"backup-{ts}.json")
    cl._atomic_write(path, json.dumps(cfg.__dict__, indent=2, sort_keys=True))
    print(json.dumps({"backup_id": str(ts), "path": path}))
    return 0


def cmd_config_restore(
    table_root: str, out: str, backup_id: str | None, list_only: bool
) -> int:
    """Restore (or list) archived job configs. Restore re-validates —
    a backup from an older engine version with unknown keys fails
    loudly rather than silently running a half-understood job."""
    import os

    from . import commitlog as cl

    d = os.path.join(table_root, "_config")
    backups = sorted(
        f[len("backup-"):-len(".json")]
        for f in (os.listdir(d) if os.path.isdir(d) else [])
        if f.startswith("backup-") and f.endswith(".json")
    )
    if list_only:
        print(json.dumps({"backups": backups}))
        return 0
    if not backups:
        print("error: no config backups found", file=sys.stderr)
        return 1
    bid = backup_id or backups[-1]
    if bid not in backups:
        print(f"error: no backup {bid} (have {backups})", file=sys.stderr)
        return 1
    with open(os.path.join(d, f"backup-{bid}.json")) as f:
        cfg = JobConfig.from_dict(json.load(f))
    errs = cfg.validate()
    if errs:
        print("\n".join(f"error: {e}" for e in errs), file=sys.stderr)
        return 1
    cl._atomic_write(out, json.dumps(cfg.__dict__, indent=2, sort_keys=True))
    print(json.dumps({"restored": bid, "out": out}))
    return 0


def cmd_serve(args) -> int:
    """Run the management HTTP API (``http_api.ManagementServer`` — the
    reference's ``pkg/api`` transport) until interrupted.  Driver-side
    only: pairs with a separately-running ingest job on the same
    table_root, which is exactly the reference's deployment shape
    (API server + stream runner in one process group)."""
    import signal

    from .http_api import ManagementServer

    srv = ManagementServer(
        args.table_root,
        config_path=args.config,
        feed_dir=args.feed_dir,
        checkpoint_dir=args.checkpoint_dir,
        auth_tokens=tuple(args.auth_token),
        host=args.host,
        port=args.port,
    )
    base = srv.start()
    print(json.dumps({"serving": base, "table": args.table_root}), flush=True)
    stop = threading.Event()
    signal.signal(signal.SIGINT, lambda *a: stop.set())
    signal.signal(signal.SIGTERM, lambda *a: stop.set())
    try:
        stop.wait()
    finally:
        srv.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="replicator_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for c in ("run", "validate", "show-config"):
        sp = sub.add_parser(c)
        sp.add_argument("--config", required=True)
    mp = sub.add_parser("metrics")
    mp.add_argument("--table-root", required=True)
    for c in ("pause", "resume", "status"):
        lp = sub.add_parser(c)
        lp.add_argument("--table-root", required=True)
        lp.add_argument("--stream", default=None)
        if c == "status":
            lp.add_argument("--health", action="store_true")
            lp.add_argument("--feed-dir", default=None)
            lp.add_argument("--checkpoint-dir", default=None)
            lp.add_argument("--freshness-s", type=float, default=600.0)
    kp = sub.add_parser("lookup", help="point read by primary key (one-bucket scan)")
    kp.add_argument("--table-root", required=True)
    kp.add_argument("--key", required=True, help="first key column value (repo)")
    kp.add_argument("--path", default=None, help="second key column value")
    kp.add_argument("--version", type=int, default=None, help="time travel")
    kp.add_argument("--limit", type=int, default=1000)
    dp = sub.add_parser(
        "dedup-index",
        help="incremental MinHash dedup index over a lake table",
    )
    dp.add_argument("action", choices=["add", "stats"])
    dp.add_argument("--index-root", required=True)
    dp.add_argument("--docs", default=None, help="parquet dir of the batch (add)")
    dp.add_argument("--batch-key", default=None, help="ledger key (add)")
    dp.add_argument("--pairs-out", default=None, help="land pairs under this dir")
    dp.add_argument("--id-col", default="doc_id")
    dp.add_argument("--text-col", default="text")
    dp.add_argument("--num-hashes", type=int, default=128)
    dp.add_argument("--bands", type=int, default=16)
    dp.add_argument("--max-bucket", type=int, default=50)
    cp = sub.add_parser("compact")
    cp.add_argument("--table-root", required=True)
    cp.add_argument("--expire-below", type=int, default=None)
    cp.add_argument("--tombstone-retention", type=int, default=None)
    hp = sub.add_parser("history")
    hp.add_argument("--table-root", required=True)
    ep = sub.add_parser("expire")
    ep.add_argument("--table-root", required=True)
    ep.add_argument("--keep-last", type=int, default=10)
    # concurrent-writer guard: unreferenced files younger than this are
    # spared (an in-flight merge's files look like orphans until commit)
    ep.add_argument("--min-age-s", type=float, default=600.0)
    bp = sub.add_parser("config-backup")
    bp.add_argument("--config", required=True)
    bp.add_argument("--table-root", required=True)
    rp = sub.add_parser("config-restore")
    rp.add_argument("--table-root", required=True)
    rp.add_argument("--out", required=True)
    rp.add_argument("--backup-id", default=None,
                    help="timestamp id from config-backup --list (default: newest)")
    rp.add_argument("--list", action="store_true", dest="list_only")
    vp = sub.add_parser("serve", help="management HTTP API (pkg/api parity)")
    vp.add_argument("--table-root", required=True)
    vp.add_argument("--config", default=None)
    vp.add_argument("--feed-dir", default=None)
    vp.add_argument("--checkpoint-dir", default=None)
    vp.add_argument("--host", default="127.0.0.1")
    vp.add_argument("--port", type=int, default=8080)
    vp.add_argument("--auth-token", action="append", default=[],
                    help="bearer token (repeatable); auth skips /health + /metrics")
    args = p.parse_args(argv)

    if args.cmd == "serve":
        return cmd_serve(args)

    if args.cmd == "metrics":
        return cmd_metrics(args.table_root)
    if args.cmd in ("pause", "resume", "status"):
        return cmd_lifecycle(
            args.cmd,
            args.table_root,
            args.stream,
            health=getattr(args, "health", False),
            feed_dir=getattr(args, "feed_dir", None),
            checkpoint_dir=getattr(args, "checkpoint_dir", None),
            freshness_s=getattr(args, "freshness_s", 600.0),
        )
    if args.cmd == "lookup":
        return cmd_lookup(
            args.table_root, args.key, args.path, args.version, args.limit
        )
    if args.cmd == "dedup-index":
        if args.action == "add" and (args.docs is None or args.batch_key is None):
            print("error: dedup-index add needs --docs and --batch-key", file=sys.stderr)
            return 1
        return cmd_dedup_index(args)
    if args.cmd == "compact":
        return cmd_compact(args.table_root, args.expire_below, args.tombstone_retention)
    if args.cmd == "history":
        return cmd_history(args.table_root)
    if args.cmd == "expire":
        return cmd_expire(args.table_root, args.keep_last, args.min_age_s)
    if args.cmd == "config-backup":
        return cmd_config_backup(args.config, args.table_root)
    if args.cmd == "config-restore":
        return cmd_config_restore(
            args.table_root, args.out, args.backup_id, args.list_only
        )

    cfg = load_config(args.config)
    errs = cfg.validate()
    if args.cmd == "validate":
        if errs:
            print("\n".join(f"error: {e}" for e in errs), file=sys.stderr)
            return 1
        print("config valid")
        return 0
    if args.cmd == "show-config":
        print(json.dumps(cfg.__dict__, indent=2))
        return 0
    if errs:
        print("\n".join(f"error: {e}" for e in errs), file=sys.stderr)
        return 1
    return cmd_run(cfg, config_path=args.config)


if __name__ == "__main__":
    sys.exit(main())
