"""Iceberg-style lake table with key-partitioned MERGE.

This is the engine's sink — the concrete implementation of everything the
reference *declared* but never built in its v2 estuary interface:
``DatabaseDestination{Write, WriteBatch, CreateTable, GetSchema,
UpdateSchema, BeginTransaction}`` and ``DestinationRecord.Operation ∈
{INSERT, UPDATE, DELETE, UPSERT}`` (``pkg/estuary/interface.go:12-88``),
plus the schema-evolution interface (``interface.go:239-280``) and the
exactly-once commit its research notes aspired to
(``specs/001-replicator-is-a/research.md:110-117``).

Physical layout::

    <root>/metadata/v{N}.json, version-hint.text   (commitlog.py)
    <root>/data/v{N}-<token>/part-*.parquet                  (deltas)
    <root>/data/v{N}-<token>/repo_bucket=K/part-*.parquet    (base files)

Rows are hash-bucketed on ``repo`` into ``num_buckets`` buckets. A base
file holds one bucket; a delta file holds the rows of every bucket its
writer task received and is listed in the manifest under each of them
(its ``repo_bucket`` column says which). Each row carries engine columns
``_last_seq`` (per-key LWW high-water mark) and ``_deleted``
(tombstone). Tombstones are retained so that a
late-arriving update with seq < a previously applied delete's seq is
correctly rejected even across micro-batches — without them, LWW under
out-of-order delivery silently resurrects deleted keys. ``read()``
filters tombstones unless asked not to.

One MERGE strategy, merge-on-read (Iceberg v2's equality deletes — the
decisive design choice for CDC at 10^10 events): the LWW-deduped batch
is appended as *delta* files, one per writer task (a delta row
supersedes any older image of its key; a delete delta is a tombstone).
Write cost is O(batch), so apply throughput is independent of table
size — this is what survives a 100× scale-up. ``read()`` resolves base ∪
deltas with a per-key max-``_last_seq`` aggregation; ``compact()`` folds deltas back
into base files when a bucket's delta chain crosses a threshold,
bounding read amplification. The one write that reads table state is
a partial-update merge, which folds the batch's events into their
buckets' rows in one ``dedup.lww_collapse_partial`` before the append.

Merges and compactions commit through the same atomic snapshot log and
batch-key idempotence ledger. Merges support additive schema evolution
(new payload columns widen the snapshot schema; older files read nulls)
and type-WIDENING evolution (a column whose incoming type conflicts
with the table's widens long/double → double, else → string; files keep
their physical type and carry a schema id in the manifests — the read
path groups scans by id and casts, and compaction migrates files to the
current schema incrementally).

Narrowing/DROP stay out of scope, matching the reference's "no schema
change replication" stance (``README.md:48``).
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
import uuid
from collections import Counter
from collections.abc import Sequence
from dataclasses import dataclass, field

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import commitlog as cl
from .dedup import lww_collapse_partial, lww_latest, partial_row, quote
from .model import BUCKET_COL, KEY_COLS, LAST_SEQ_COL, OP_DELETE, OP_UPDATE
from .session import empty_frame


def _widen_type(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least common carrier for a column type conflict (shared with the
    pipeline): long/double → double, else string."""
    if {a, b} == {T.LongType(), T.DoubleType()}:
        return T.DoubleType()
    return T.StringType()

ENGINE_SCHEMA = T.StructType(
    [
        T.StructField(LAST_SEQ_COL, T.LongType(), True),
        T.StructField("_deleted", T.BooleanType(), True),
    ]
)

# A scan naming more paths than this makes Spark list them again with a
# distributed job, one task per path (see LakeTable._scan_parquet).
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# Serializes the raise/restore of that session conf: the foreachBatch
# thread and the application's main thread both scan tables.
_LISTING_LOCK = threading.Lock()


@dataclass
class MergeStats:
    batch_key: str
    version: int | None  # committed snapshot version (None if skipped replay)
    applied: int = 0
    deleted: int = 0
    schema_evolved: int = 0
    replayed: bool = False  # batch_key already committed → no-op
    seq_hi: int | None = None  # max source seq in the batch
    # the merge's own data files and their buckets (not auto-compaction's)
    files_written: list[str] = field(default_factory=list)
    buckets: list[int] = field(default_factory=list)


def layout_width(
    nbytes: int,
    *,
    hot_share: float = 0.35,
    expansion: float = 2.5,
    target_task_bytes: int = 64 << 20,
    cap: int = 64,
) -> int:
    """Salt width of a write layout (files per bucket) for ``nbytes`` of
    parquet input: the hottest bucket, assumed to hold ``hot_share`` of
    it, is split into tasks of ``target_task_bytes`` decompressed bytes
    (``expansion`` × the parquet size). A fixed width fails both ways:
    width 1 leaves a skewed repo's bucket to one straggler sort (−38%
    apply throughput at 32 cores on 4.2M-row batches), a high width
    shatters small batches into near-empty files (−3× on 190k rows)."""
    hot_bytes = hot_share * expansion * nbytes
    return max(1, min(cap, math.ceil(hot_bytes / target_task_bytes)))


def bucket_expr(num_buckets: int, repo_col: str = "repo") -> F.Column:
    return F.pmod(F.xxhash64(F.col(repo_col)), F.lit(num_buckets)).cast("int")


def _jvm_seq(spark: SparkSession, strings: Sequence[str]):
    """A JVM ``Seq[String]`` of ``strings`` in a constant number of py4j
    round trips: they cross as one newline-joined string, split in the
    JVM. The classes are named directly, which skips py4j's reflective
    resolution of each package on the way to them."""
    client = spark._jvm._gateway_client
    tokens = JavaClass("java.util.StringTokenizer", client)("\n".join(strings), "\n")
    return JavaClass("org.apache.spark.api.python.PythonUtils", client).toSeq(
        JavaClass("java.util.Collections", client).list(tokens)
    )


class LakeTable:
    """Narrow table API: create / read / merge / compact / schema /
    time-travel. Kept deliberately small so a real Iceberg catalog can
    be swapped in where the runtime jar exists — the pipeline only uses
    this surface."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        # normalize: snapshot metadata records absolute file paths built
        # from this root, and maintenance (GC) compares paths — a
        # trailing slash or '..' here must not make the same file spell
        # two ways
        self.root = os.path.normpath(os.path.abspath(root))

    # -- DDL -----------------------------------------------------------
    def create(
        self,
        schema: T.StructType,
        num_buckets: int = 32,
        key_cols: Sequence[str] = tuple(KEY_COLS),
    ) -> None:
        """CREATE TABLE — snapshot 0, no data files. ``key_cols`` is the
        MERGE key, fixed for the table's lifetime (persisted in every
        snapshot; read/compact resolve LWW on it)."""
        if cl.current_version(self.root) is not None:
            raise ValueError(f"table already exists at {self.root}")
        names = {f.name for f in schema.fields}
        missing = [k for k in key_cols if k not in names]
        if missing:
            raise ValueError(f"key columns not in schema: {missing}")
        snap = cl.Snapshot(
            version=0,
            parent=None,
            schema_json=schema.json(),
            num_buckets=num_buckets,
            files={},
            key_cols=list(key_cols),
            # schema log: id → schema json for every schema the table
            # has ever had; data files record which id they were
            # written under (manifests), so the read path can group
            # files by physical schema after a type widening.
            props={"schema_log": {"0": schema.json()}, "schema_id": 0},
        )
        cl.commit_snapshot(self.root, snap)

    def key_columns(self, snap: cl.Snapshot | None = None) -> list[str]:
        snap = snap or self._snap()
        return list(snap.key_cols)

    def exists(self) -> bool:
        return cl.current_version(self.root) is not None

    def drop(self) -> None:
        """DROP TABLE (``pkg/estuary/interface.go:22``)."""
        import shutil

        shutil.rmtree(self.root, ignore_errors=True)

    def truncate(self) -> None:
        """TRUNCATE TABLE (``interface.go:23``): new snapshot with no
        data files; history and committed-batch ledger retained so
        replayed batches stay no-ops."""
        snap = self._snap()
        cl.commit_snapshot(
            self.root,
            cl.Snapshot(
                version=snap.version + 1,
                parent=snap.version,
                schema_json=snap.schema_json,
                num_buckets=snap.num_buckets,
                files={},
                committed_batches=dict(snap.committed_batches),
                props={
                    "truncated": True,
                    "deltas": {},
                    "schema_id": self._schema_meta(snap)[0],
                    "schema_log": self._schema_meta(snap)[1],
                },
                key_cols=snap.key_cols,
                ledger_floor=dict(snap.ledger_floor),
            ),
        )

    def history(self) -> list[dict]:
        """Snapshot history (time-travel index)."""
        out = []
        for v in cl.list_versions(self.root):
            s = cl.load_snapshot(self.root, v)
            out.append(
                {
                    "version": v,
                    "parent": s.parent,
                    "committed_at_ms": s.committed_at_ms,
                    "n_files": sum(len(f) for f in s.files.values()),
                    "batch_key": (s.props or {}).get("batch_key"),
                }
            )
        return out

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(json.loads(self._snap(version).schema_json))

    def _snap(self, version: int | None = None) -> cl.Snapshot:
        snap = cl.load_snapshot(self.root, version)
        if snap is None:
            raise ValueError(f"no table at {self.root}")
        return snap

    def committed_batches(self) -> dict[str, int]:
        """The retained ledger window (see commitlog retention; batches
        evicted below the floor are still covered by is_committed)."""
        return dict(self._snap().committed_batches)

    def is_committed(self, batch_key: str) -> int | None:
        """Version that committed ``batch_key``, or None if never
        applied — the idempotence check, floor-aware."""
        return cl.is_committed(self._snap(), batch_key)

    # -- read ----------------------------------------------------------
    def _physical_schema(self, snap: cl.Snapshot) -> T.StructType:
        logical = T.StructType.fromJson(json.loads(snap.schema_json))
        return T.StructType(list(logical.fields) + list(ENGINE_SCHEMA.fields))

    @staticmethod
    def _deltas(snap: cl.Snapshot) -> dict[str, list[str]]:
        return snap.props.get("deltas", {}) if snap.props else {}

    @staticmethod
    def _schema_meta(snap: cl.Snapshot) -> tuple[int, dict[str, str]]:
        """(current schema id, a copy of the schema log). ``create``
        writes the log and every later commit carries it forward."""
        return int(snap.props["schema_id"]), dict(snap.props["schema_log"])

    def _scan_parquet(self, schema: T.StructType, paths: list[str]) -> DataFrame:
        """The parquet relation over an explicit file list, planned
        without Spark's distributed leaf-file listing.

        Spark lists the input paths while it builds the relation, and
        once they outnumber ``parallelPartitionDiscovery.threshold``
        (32 by default) it does so with a job of one task per path,
        ~0.5 s on a 4-core host. Table paths come from the manifests, so
        that job only re-stats files already known: the threshold is
        raised to the path count for the duration of the (eager) listing,
        which then runs in this process — local-FS stats, milliseconds for
        the ≤ 8 batches of delta files auto-compaction lets a scan see. The old
        value (or its absence) is restored under a module lock, so
        concurrent scans can never leave the session changed.

        ``reader.parquet(*paths)`` would hand py4j a Python list, which
        it converts with one round trip per path (``_jvm_seq``)."""
        reader = self.spark.read.schema(schema)
        jpaths = _jvm_seq(self.spark, paths)
        conf = self.spark.conf
        with _LISTING_LOCK:
            prior = conf.get(_LISTING_THRESHOLD, None)
            if len(paths) <= int(conf.get(_LISTING_THRESHOLD)):
                return reader._df(reader._jreader.parquet(jpaths))
            conf.set(_LISTING_THRESHOLD, str(len(paths)))
            try:
                return reader._df(reader._jreader.parquet(jpaths))
            finally:
                if prior is None:
                    conf.unset(_LISTING_THRESHOLD)
                else:
                    conf.set(_LISTING_THRESHOLD, prior)

    def _read_files(
        self, snap: cl.Snapshot, files: list[str]
    ) -> DataFrame:
        """The one scan of a snapshot's data files: manifest paths → a
        DataFrame under the snapshot's physical schema. Every table read
        (read, read_changes, lookup, compaction and the partial fold)
        comes through here, and the relation is planned from the
        manifest's paths by ``_scan_parquet`` — no listing job per scan.
        Files written before a type widening scan in their own group and
        are cast to the current types."""
        phys = self._physical_schema(snap)
        if not files:
            return empty_frame(self.spark, phys)
        cur_types = {f.name: f.dataType for f in phys.fields}
        _sid, log = self._schema_meta(snap)
        # Group files by the physical types they were written under —
        # only type-WIDENED columns (e.g. long → string after a payload
        # type conflict) force a separate scan group; additive evolution
        # null-fills under the current schema as before. The common case
        # (no widening in any scanned file's schema) stays ONE scan.
        over_cache: dict[int, dict[str, T.DataType]] = {}

        def _overrides(sid: int) -> dict[str, T.DataType]:
            if sid not in over_cache:
                old = T.StructType.fromJson(
                    json.loads(log.get(str(sid), snap.schema_json))
                )
                over_cache[sid] = {
                    f.name: f.dataType
                    for f in old.fields
                    if f.name in cur_types and f.dataType != cur_types[f.name]
                }
            return over_cache[sid]

        groups: dict[tuple, tuple[dict, list[str]]] = {}
        for p in files:
            ov = _overrides(snap.file_schema_ids.get(p, 0))
            key = tuple(sorted((n, t.json()) for n, t in ov.items()))
            groups.setdefault(key, (ov, []))[1].append(p)
        if set(groups) == {()}:
            # Explicit schema: files written before an additive evolution
            # lack the new columns — the parquet reader fills them null.
            return self._scan_parquet(phys, files)
        parts = []
        for ov, fs in groups.values():
            rs = T.StructType(
                [
                    T.StructField(f.name, ov.get(f.name, f.dataType), True)
                    for f in phys.fields
                ]
            )
            parts.append(
                self._scan_parquet(rs, fs).select(
                    *[
                        F.col(f.name).cast(f.dataType).alias(f.name)
                        for f in phys.fields
                    ]
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self,
        version: int | None = None,
        buckets: Sequence[int] | None = None,
        include_deleted: bool = False,
        include_engine_cols: bool = False,
        resolve: bool = True,
    ) -> DataFrame:
        """Read a snapshot (time travel via ``version``), optionally
        pruned to a bucket list — the file-level partition pruning that
        MERGE relies on. Resolves merge-on-read deltas when present.

        ``resolve=False`` skips the per-key LWW collapse across
        base+delta files — sound ONLY for tables whose key set is
        append-only-unique by construction (each key written exactly
        once across all batches, no deletes-then-reinserts), where the
        resolve is a semantic no-op that still costs a full max_by
        shuffle per read. The incremental dedup indexes qualify: the
        arrival-order guard forbids re-ingesting an id, the batch
        ledger makes replays no-ops, and each batch emits one row per
        key (r6 — saved ~1 s/batch of pure shuffle at sf1.0)."""
        return self._read_snapshot(
            self._snap(version),
            buckets=buckets,
            include_deleted=include_deleted,
            include_engine_cols=include_engine_cols,
            resolve=resolve,
        )

    def _read_snapshot(
        self,
        snap: cl.Snapshot,
        buckets: Sequence[int] | None = None,
        include_deleted: bool = False,
        include_engine_cols: bool = False,
        resolve: bool = True,
        single_partition: bool = False,
    ) -> DataFrame:
        """read() body over an already-resolved snapshot — callers that
        derive per-snapshot state first (bucket routing, key columns)
        pass the same object so one snapshot load serves the whole
        operation and the routing can never straddle a concurrent
        commit.

        ``single_partition`` reads the files in one task when they are
        small, so the LWW resolve's child is already clustered on the key
        and no exchange is planned: one Spark job instead of two (a
        lookup's one bucket). Small is at most
        ``spark.sql.files.openCostInBytes`` (4 MB by default), bytes
        Spark's own split planning prices at no more than opening one
        file. Larger files keep the parallel scan and its shuffle: on 4
        cores one task already lost to it at 5.4 MB in 6 files, and by
        30% at 118 MB."""
        base_files, delta_files, where = self._bucket_files(snap, buckets)
        files = base_files + delta_files
        df = self._read_files(snap, files)
        # not on an empty scan: it folds to a local relation with no
        # job, and a coalesce over it would launch one
        if single_partition and files:
            sql_conf = self.spark._jsparkSession.sessionState().conf()
            if sum(map(os.path.getsize, files)) <= sql_conf.filesOpenCostInBytes():
                df = df.coalesce(1)
        if where is not None:
            df = df.where(where)
        if delta_files and resolve:
            # per-key LWW resolution across base + deltas (mor read path)
            # on the table's persisted merge key — not a hardcoded default
            df = lww_latest(df, self.key_columns(snap), LAST_SEQ_COL, tiebreak_col=None)
        if not include_deleted:
            df = df.where("NOT coalesce(_deleted, false)")
        if not include_engine_cols:
            df = df.drop(*ENGINE_SCHEMA.names)
        return df

    def _bucket_files(
        self, snap: cl.Snapshot, buckets: Sequence[int] | None = None
    ) -> tuple[list[str], list[str], str | None]:
        """(base files, delta files, row filter) of a scan of ``buckets``
        (every bucket when None). A delta file is listed under each bucket
        whose rows it holds, so it is named once however many of them the
        scan reads. When a scanned delta is also listed under a bucket
        outside the scan, the row filter is the SQL predicate that keeps
        the scan's buckets' rows; else None."""
        deltas = self._deltas(snap)
        ids = (
            sorted(snap.files.keys() | deltas.keys(), key=int)
            if buckets is None
            else [str(b) for b in buckets]
        )
        base = [f for b in ids for f in snap.files.get(b, [])]
        delta = list(dict.fromkeys(f for b in ids for f in deltas.get(b, [])))
        wanted, scanned = set(ids), set(delta)
        if not any(
            b not in wanted and not scanned.isdisjoint(fs) for b, fs in deltas.items()
        ):
            return base, delta, None
        key = quote(self.key_columns(snap)[0])
        return base, delta, (
            f"pmod(xxhash64({key}), {snap.num_buckets}) IN ({', '.join(ids)})"
        )

    def bucket_of(self, key: str, snap: cl.Snapshot | None = None) -> int:
        """Driver-side bucket id for a first-key value: the same
        ``pmod(xxhash64(utf8), num_buckets)`` the write path computes on
        executors (``bucket_expr``), reproduced in pure Python (pinned
        bit-equal to ``F.xxhash64`` in tests/test_hashing.py) — no Spark
        job per lookup."""
        from .functions.hashing import xxhash64_py

        snap = snap if snap is not None else self._snap()
        # Python's % is mathematical mod — identical to Spark's pmod on
        # a signed xxhash64
        return xxhash64_py(key.encode("utf-8")) % snap.num_buckets

    def lookup(
        self,
        key: str,
        path: str | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Point read by primary key prefix: O(1/num_buckets) of the
        table's files. The reference applies per-key upserts against
        PK-indexed stores (MySQL/Mongo point ops); the lake-table
        analogue of that indexed access is hash-bucket pruning — only
        the key's bucket is scanned (base + mor deltas), then the LWW
        resolve runs over that bucket alone, in one task and one Spark
        job while the bucket is small. ``path`` optionally narrows to the
        second key column."""
        snap = self._snap(version)
        kc = self.key_columns(snap)
        # one snapshot load serves routing AND the scan: no second
        # metadata parse, and the bucket id can't straddle a concurrent
        # commit that changes the file lists it routes into
        df = self._read_snapshot(
            snap, buckets=[self.bucket_of(key, snap)], single_partition=True
        )
        df = df.where(F.col(kc[0]) == key)
        if path is not None:
            if len(kc) < 2:
                raise ValueError("lookup(path=...) needs a 2+-column key")
            df = df.where(F.col(kc[1]) == path)
        return df

    def read_changes(
        self,
        since_version: int | None = None,
        version: int | None = None,
        *,
        since_seq: int | None = None,
    ) -> DataFrame:
        """Incremental change feed OUT of the table: every row whose
        image changed after ``since_version`` — upserts plus tombstones,
        each carrying ``_last_seq`` (the change's order) and
        ``_deleted``. This turns the lake table itself into a CDC
        source, the chaining surface for multi-hop replication (the
        reference replicates A→B→C by re-tailing each hop; here hop N+1
        just reads hop N's changes since its last consumed version).

        Cost is O(changed data), not O(table): every manifest entry
        carries its file's max ``_last_seq`` (parquet footer stats,
        recorded at commit time), so base/delta files whose max is at or
        below the watermark are dropped from the scan *before* the
        merge-on-read LWW resolve. The pruned result is provably
        identical to resolving everything: a pruned file's rows are all
        ≤ floor, so none can be a change, and none can out-rank an
        unpruned row that is > floor. A steady-state poll between
        compactions therefore reads only the delta files newer than the
        watermark. A file whose footer had no usable stats (unknown
        max) is never pruned — correct, just unpruned.

        Two documented caveats: (1) an out-of-order straggler applied
        after ``since_version`` with a seq below that watermark is
        invisible (same in-order window assumption as the ledger
        floor); (2) tombstone retention must cover the consumer's lag,
        or expired tombstones drop delete events.

        Consumers should persist the watermark they consumed up to and
        pass it as ``since_seq`` — that form needs no old snapshot, so
        it survives expire_snapshots; ``since_version`` requires the
        base snapshot to still be retained (clear error otherwise). A
        base snapshot that has data but no ``max_seq`` (every batch
        merged up to it carried only null seqs) raises too (silently
        reporting the whole table as changes is the worse failure);
        pass ``since_seq=-1`` to request an explicit full resync.
        """
        if since_seq is not None:
            floor = since_seq
        else:
            if since_version is None:
                raise ValueError("pass since_version or since_seq")
            try:
                base = self._snap(since_version)
            except FileNotFoundError:
                raise ValueError(
                    f"base snapshot v{since_version} was expired — consumers "
                    "must track max_seq and use since_seq, or keep_last must "
                    "cover the slowest consumer's lag"
                ) from None
            floor = (base.props or {}).get("max_seq")
            if floor is None:
                has_data = any(base.files.values()) or any(
                    self._deltas(base).values()
                )
                if has_data:
                    raise ValueError(
                        f"base snapshot v{since_version} has data but no "
                        "max_seq watermark (its batches carried no seq) — "
                        "every row would be reported as a change. Pass "
                        "since_seq explicitly (since_seq=-1 for a full "
                        "resync)."
                    )
        snap = self._snap(version)
        base_files, delta_files = self._pruned_scan_files(snap, floor)
        df = self._read_files(snap, base_files + delta_files)
        if delta_files:
            df = lww_latest(df, self.key_columns(snap), LAST_SEQ_COL, tiebreak_col=None)
        if floor is not None:
            df = df.where(F.col(LAST_SEQ_COL) > F.lit(floor))
        return df

    def _pruned_scan_files(
        self, snap: cl.Snapshot, floor: int | None
    ) -> tuple[list[str], list[str]]:
        """(base_files, delta_files) whose manifest max ``_last_seq``
        exceeds ``floor`` (unknown stat ⇒ kept) — the ONE pruning
        predicate, shared by read_changes and changed_files so the
        observability surface can never drift from the actual scan."""
        stats = snap.file_stats

        def _keep(p: str) -> bool:
            if floor is None:
                return True
            mx = stats.get(p)
            return mx is None or mx > floor

        base, delta, _ = self._bucket_files(snap)
        return [f for f in base if _keep(f)], [f for f in delta if _keep(f)]

    def changed_files(
        self, since_seq: int, version: int | None = None
    ) -> list[str]:
        """The data files a ``read_changes(since_seq=...)`` poll will
        scan — the manifest-pruning result, exposed for tests and
        observability."""
        base, delta = self._pruned_scan_files(self._snap(version), since_seq)
        return base + delta

    # -- MERGE ---------------------------------------------------------
    def merge(
        self,
        batch: DataFrame,
        batch_key: str,
        *,
        key_cols: Sequence[str] | None = None,
        seq_col: str = "seq",
        op_col: str = "op",
        files_per_bucket: int = 1,
        compact_after_deltas: int = 8,
        props: dict | None = None,
        ledger_keep: int | None = 1024,
        pre_commit_check=None,
        tombstone_retention: int | None = None,
    ) -> MergeStats:
        """Apply one micro-batch as MERGE INTO. Idempotent on batch_key.

        ``batch`` columns: key cols + payload cols + seq + op. Without a
        ``_partial`` column it is already LWW-deduped to ONE row per key
        (pipeline.apply_batch does that); with one it carries the events
        uncollapsed, and the merge collapses them (below).
        The batch is appended as delta files; the table auto-compacts
        once a delta chain reaches ``compact_after_deltas``.
        ``files_per_bucket`` is the write layout's salt width
        (``_write_buckets``).

        ``tombstone_retention``: when set, auto-compaction expires
        tombstones whose seq is more than this many sequence numbers
        below the table's max applied seq (tracked in snapshot props) —
        bounding tombstone growth at the 10^10-event regime. Must exceed
        the source's maximum reordering window: a tombstone may only be
        dropped once no straggler update older than it can still arrive.

        ``pre_commit_check`` (no-arg callable) runs after the batch's
        data files are written but BEFORE the snapshot commit; raising
        aborts the merge with nothing committed (the orphan data dir is
        invisible to readers and overwritten on retry). This is the hook
        the pipeline uses to abort-and-retry when its observation
        detects payload fields outside the inferred schema.

        **Partial updates** (reference ``$set``/UpdateFields —
        ``pkg/estuary/mongo.go:345-347``, ``pkg/models/models.go:37``):
        a boolean ``_partial`` column marks rows that carry only changed
        fields: their absent (null) payload columns mean *untouched*.
        Without the column, full-image replace semantics apply. With it,
        the events are folded into full images before the append
        (``_fold_partials``): one ``dedup.lww_collapse_partial`` over the
        events and the raw rows of the buckets holding partials, which
        an Observation on the batch's checkpoint names (read cost
        O(those buckets), paid only by batches that carry the column;
        the delta append stays O(batch)). Each column takes the latest
        event that touched it, the table's rows counting as full images,
        so a partial on a deleted/absent key upserts just its fields
        (tombstoned values are NOT resurrected) and a partial older than
        the key's image changes nothing — the reference's in-order apply
        loop.
        """
        snap = self._snap()
        done = cl.is_committed(snap, batch_key)
        if done is not None:
            return MergeStats(batch_key, done, replayed=True)

        table_keys = self.key_columns(snap)
        if key_cols is not None and list(key_cols) != table_keys:
            # read()/compact() resolve LWW on the persisted key — a merge
            # on a different key set would silently corrupt resolution
            raise ValueError(
                f"merge key_cols {list(key_cols)} != table key {table_keys}"
            )
        key_cols = table_keys
        logical = self.schema()
        payload_in_table = [f.name for f in logical.fields if f.name not in key_cols]
        has_partial = "_partial" in batch.columns
        batch_payload = [
            c
            for c in batch.columns
            if c not in key_cols + [seq_col, op_col, "event_id", "_partial"]
        ]

        # additive schema evolution: new payload columns widen the table
        new_cols = [c for c in batch_payload if c not in payload_in_table]
        bschema = {f.name: f for f in batch.schema.fields}
        new_fields = [T.StructField(c, bschema[c].dataType, True) for c in new_cols]
        # TYPE evolution: a batch column whose type disagrees with the
        # table's widens that column — long/double conflicts stay
        # numeric (double); anything else goes to string (the universal
        # JSON carrier — from_json's StringType capture keeps any
        # token's text). Existing files keep their physical type; the
        # read path resolves via per-file schema ids, and compaction
        # migrates files forward incrementally — no O(table) rewrite.
        ltypes = {f.name: f.dataType for f in logical.fields}
        # every batch/table type mismatch needs a batch-side cast;
        # only those whose widened type differs from the TABLE's type
        # are schema evolution (a long batch into an already-double
        # column casts, evolves nothing)
        cast_needed = {
            c: _widen_type(ltypes[c], bschema[c].dataType)
            for c in batch_payload
            if c in payload_in_table and bschema[c].dataType != ltypes[c]
        }
        type_changed = {
            c: t for c, t in cast_needed.items() if t != ltypes[c]
        }
        evolved_schema = T.StructType(
            [
                T.StructField(f.name, type_changed[f.name], True)
                if f.name in type_changed
                else f
                for f in logical.fields
            ]
            + new_fields
        )
        all_payload = payload_in_table + new_cols

        nb = snap.num_buckets
        src = batch.withColumn(BUCKET_COL, bucket_expr(nb, key_cols[0]))
        # batch side of a type mismatch casts to the widened type
        for c, wt in cast_needed.items():
            src = src.withColumn(c, F.col(c).cast(wt))
        # columns the table has that this batch lacks (full-image
        # replace semantics: absent → null, see module docstring)
        evolved_types = {f.name: f.dataType for f in evolved_schema.fields}
        for c in payload_in_table:
            if c not in batch.columns:
                src = src.withColumn(c, F.lit(None).cast(evolved_types[c]))

        # No pre-write bucket discovery needed: the partitioned delta
        # write itself reveals which buckets were touched. (Partial
        # batches are the exception: folding partials into full images
        # needs the current state of their buckets.)
        if has_partial:
            # Materialize the batch ONCE, and learn the buckets that
            # hold partial rows from an Observation on that same
            # action: no discovery job. localCheckpoint, not persist:
            # an eager checkpoint runs the whole plan, so upstream
            # Observations fire with complete values — persist() + a
            # filtered first action materializes the cache partially
            # and corrupts the observation row.
            found = Observation(f"partials-{batch_key}")
            src = src.observe(
                found,
                F.expr(
                    f"collect_set(CASE WHEN {partial_row(op_col)} "
                    f"THEN {BUCKET_COL} END) AS buckets"
                ),
            ).localCheckpoint(eager=True)
            src = self._fold_partials(
                snap, src, found.get["buckets"],
                key_cols, all_payload, seq_col, op_col,
            ).withColumn(BUCKET_COL, bucket_expr(nb, key_cols[0]))
        stats, deltas, touched, written = self._merge_mor(
            snap, src, batch_key, all_payload,
            key_cols, seq_col, op_col, files_per_bucket,
        )

        if pre_commit_check is not None:
            pre_commit_check()

        def _build(base, cur_deltas):
            committed = dict(base.committed_batches)
            new_version = base.version + 1
            committed[batch_key] = new_version
            committed, floor = cl.retain_ledger(
                committed, base.ledger_floor, ledger_keep
            )
            prev_max = (base.props or {}).get("max_seq")
            seqs = [x for x in (prev_max, stats.seq_hi) if x is not None]
            max_seq = max(seqs) if seqs else None
            sid, slog = self._schema_meta(base)
            if evolved_schema.json() != base.schema_json:
                sid = new_version
                slog[str(sid)] = evolved_schema.json()
            file_stats, file_sids = self._next_file_meta(
                base, base.files, cur_deltas, sid, written
            )
            return cl.Snapshot(
                version=new_version,
                parent=base.version,
                schema_json=evolved_schema.json(),
                num_buckets=nb,
                files=dict(base.files),
                committed_batches=committed,
                props={
                    **(props or {}),
                    "batch_key": batch_key,
                    "deltas": cur_deltas,
                    "max_seq": max_seq,
                    "schema_id": sid,
                    "schema_log": slog,
                    # per-bucket tombstone stats describe BASE files,
                    # which a delta append leaves untouched
                    "bucket_tombstones": dict(
                        (base.props or {}).get("bucket_tombstones", {})
                    ),
                },
                key_cols=base.key_cols,
                ledger_floor=floor,
                file_stats=file_stats,
                file_schema_ids=file_sids,
            )

        # Commit with retry-with-rebase (VERDICT r04 #4): two streams
        # fanning into one table from separate drivers race the same
        # version; the loser's file-level work is still valid against
        # the fresh snapshot, and then it is replayed as metadata
        # instead of discarding the batch:
        #  * a merge without partials NEVER reads table state (the delta
        #    append is derived from the batch alone), so it rebases over
        #    ANY concurrent data commit — overlapping buckets included,
        #    which is the realistic fan-in shape since hash bucketing
        #    mixes every stream's keys into every bucket. LWW resolve
        #    is seq-ordered and commutative, so append order is free.
        #  * a merge that folded partial rows READ the snapshot it
        #    started from, so it rebases only when the winner left its
        #    touched buckets alone.
        # A concurrent schema/shape change always keeps the loud error.
        base, cur_deltas = snap, deltas
        max_rebase = 8
        for attempt in range(max_rebase + 1):
            nsnap = _build(base, cur_deltas)
            try:
                cl.commit_snapshot(self.root, nsnap)
                break
            except cl.CommitConflictError:
                # the CAS loser can observe the winner BETWEEN its two
                # commit steps (v{N}.json created, hint not yet
                # swapped): the hint is milliseconds away, so poll
                # briefly before concluding the conflicting file is a
                # crashed writer's dangling leftover
                fresh = self._wait_for_commit_progress(base.version)
                done = cl.is_committed(fresh, batch_key)
                if done is not None:
                    # the concurrent writer WAS this batch (e.g. a
                    # crashed-and-restarted driver): exactly-once holds,
                    # our data files are unreferenced garbage for GC
                    return MergeStats(batch_key, done, replayed=True)
                if fresh.version <= base.version or attempt >= max_rebase:
                    # no committed progress to rebase onto (dangling
                    # mid-commit leftover) or pathological contention
                    raise
                self._assert_rebase_safe(snap, fresh, touched, has_partial)
                cur_deltas = self._rebase_deltas(snap, fresh, deltas, touched)
                base = fresh
        stats.version = nsnap.version
        stats.schema_evolved = len(new_cols) + len(type_changed)
        stats.buckets = sorted(int(b) for b in touched)
        max_chain = max((len(v) for v in cur_deltas.values()), default=0)
        if max_chain >= compact_after_deltas:
            expire = None
            max_seq = (nsnap.props or {}).get("max_seq")
            if tombstone_retention is not None and max_seq is not None:
                expire = max_seq - tombstone_retention
            self.compact(expire_tombstones_below_seq=expire)
        return stats

    def _wait_for_commit_progress(self, base_version: int, timeout_s: float = 2.0):
        """Poll the snapshot until its version advances past
        ``base_version`` or the timeout lapses, returning the freshest
        snapshot either way. Covers the CAS winner's two-step commit
        window (v{N}.json exists, hint swap pending — normally
        microseconds); a winner that CRASHED inside that window never
        advances the hint, and the caller falls through to the loud
        dangling-commit error exactly as before."""
        deadline = time.monotonic() + timeout_s
        delay = 0.001
        fresh = self._snap()
        while fresh.version <= base_version and time.monotonic() < deadline:
            time.sleep(delay)
            delay = min(delay * 2, 0.1)
            fresh = self._snap()
        return fresh

    def _assert_rebase_safe(self, orig, fresh, touched, has_partial) -> None:
        """A concurrent commit is rebase-safe for this merge iff it
        changed no table shape (schema, schema log, bucket count, key
        columns) and — for a merge that folded partial rows, so READ
        the snapshot it started from — left our touched buckets' file
        lists untouched. A merge without partials skips the bucket check
        entirely: its delta append is derived from the batch alone, so
        it layers over any concurrent data commit. Anything else
        re-raises the loud conflict — overlapping state-reading merges
        must be replayed against current state, not auto-merged."""
        if fresh.num_buckets != orig.num_buckets or fresh.key_cols != orig.key_cols:
            raise cl.CommitConflictError(
                "concurrent table-shape change; cannot rebase this merge"
            )
        if fresh.schema_json != orig.schema_json or (
            (fresh.props or {}).get("schema_log")
            != (orig.props or {}).get("schema_log")
        ):
            raise cl.CommitConflictError(
                "concurrent schema evolution; cannot rebase this merge"
            )
        if not has_partial:
            return  # append-only: overlap is fine, no bucket check
        od, fd = self._deltas(orig), self._deltas(fresh)
        for b in touched:
            k = str(b)
            if fresh.files.get(k) != orig.files.get(k) or fd.get(k) != od.get(k):
                raise cl.CommitConflictError(
                    f"bucket {k} was modified by a concurrent writer; "
                    "overlapping state-reading merges cannot rebase — "
                    "re-run against the current snapshot"
                )

    def _rebase_deltas(self, orig, fresh, deltas, touched):
        """Our delta chains re-derived against the fresh snapshot: the
        WINNER's chains, plus, on each touched bucket, the delta files
        this merge wrote (ours = our list minus the orig snapshot's —
        LWW resolve is seq-ordered, so chain order between concurrent
        writers is immaterial). Base files are the winner's verbatim: a
        merge never touches base. For a merge that folded partials,
        ``_assert_rebase_safe`` proved the winner left its touched
        chains as they were, so this is exactly the chains it wrote."""
        cur_deltas = {b: list(v) for b, v in self._deltas(fresh).items()}
        orig_deltas = self._deltas(orig)
        for k in {str(b) for b in touched}:
            prev = set(orig_deltas.get(k, []))
            ours = [f for f in deltas.get(k, []) if f not in prev]
            if ours:
                cur_deltas[k] = cur_deltas.get(k, []) + ours
        return cur_deltas

    def _fold_partials(
        self, snap, src, buckets, key_cols, all_payload, seq_col, op_col
    ) -> DataFrame:
        """A partial batch's events folded into full images: one
        ``lww_collapse_partial`` over the events and the raw base and
        delta rows of ``buckets``, the buckets holding partial rows,
        written as full-image events (``seq`` = ``_last_seq``, a delete
        where ``_deleted``, NULL ``_partial``, which marks a row of
        state). Each column takes the latest event that touched it, so a
        key whose latest image is a tombstone has nothing to coalesce
        with: a partial after a delete upserts only its own fields. The
        collapse keeps only keys the batch has events for. One shuffle,
        and the target is not resolved first."""
        events = src.drop(BUCKET_COL).withColumn(
            "_partial", F.expr("coalesce(_partial, false)")
        )
        base, delta, where = self._bucket_files(snap, buckets)
        if base + delta:
            tgt = self._read_files(snap, base + delta)
            if where is not None:
                tgt = tgt.where(where)
            stypes = {f.name: f.dataType for f in src.schema.fields}
            ttypes = {f.name: f.dataType for f in tgt.schema.fields}
            tgt = tgt.selectExpr(
                *map(quote, key_cols),
                *[quote(c) for c in all_payload if c in ttypes],
                f"{LAST_SEQ_COL} AS {quote(seq_col)}",
                f"CASE WHEN _deleted THEN '{OP_DELETE}' ELSE '{OP_UPDATE}' END"
                f" AS {quote(op_col)}",
                "CAST(NULL AS boolean) AS _partial",
            )
            # a column widened by this batch: the target in its type
            for c in all_payload:
                if c in ttypes and ttypes[c] != stypes[c]:
                    tgt = tgt.withColumn(c, F.col(c).cast(stypes[c]))
            # columns the target lacks (evolved this batch) read null
            events = events.unionByName(tgt, allowMissingColumns=True)
        return lww_collapse_partial(events, key_cols, seq_col, op_col=op_col)

    def _merge_mor(
        self, snap, src, batch_key, all_payload,
        key_cols, seq_col, op_col, files_per_bucket,
    ):
        obs = Observation(f"merge-{batch_key}")
        delta = src.select(
            *key_cols,
            *all_payload,
            F.col(seq_col).alias(LAST_SEQ_COL),
            (F.col(op_col) == OP_DELETE).alias("_deleted"),
            F.col(BUCKET_COL),
        ).observe(
            obs,
            F.count(F.lit(1)).alias("applied"),
            F.sum(F.when(F.col("_deleted"), 1).otherwise(0)).alias("deleted"),
            F.max(F.col(LAST_SEQ_COL)).alias("seq_hi"),
        )
        new_files, written = self._write_buckets(
            delta, snap.version + 1, range(snap.num_buckets), key_cols,
            files_per_bucket, by_bucket=False,
        )
        if new_files:
            m = obs.get
        else:
            # empty micro-batch (a fully-filtered feed batch is legal):
            # the write may run zero tasks, so the CollectMetrics row
            # never materializes and obs.get would raise; a non-empty
            # delta always writes ≥1 file holding a bucket's rows, so
            # no-bucket-files ⇒ no-rows is safe
            m = {"applied": 0, "deleted": 0, "seq_hi": None}

        deltas = {b: list(v) for b, v in self._deltas(snap).items()}
        for b, fs in new_files.items():
            deltas.setdefault(b, []).extend(fs)
        stats = MergeStats(
            batch_key,
            None,
            applied=int(m["applied"] or 0),
            deleted=int(m["deleted"] or 0),
            seq_hi=int(m["seq_hi"]) if m["seq_hi"] is not None else None,
            files_written=sorted({p for fs in new_files.values() for p in fs}),
        )
        return stats, deltas, sorted(int(b) for b in new_files), written

    # -- compaction ----------------------------------------------------
    def compact(
        self,
        *,
        expire_tombstones_below_seq: int | None = None,
        retries: int = 2,
    ) -> int:
        """Fold merge-on-read delta chains back into base files.

        Maintenance may race the ingest writer: the commit CAS
        (commitlog.CommitConflictError) makes the race loud instead of
        lossy, and compaction — whose work is derived entirely from the
        snapshot it read — simply re-runs against the new current
        snapshot, up to ``retries`` times. The orphaned data files of a
        lost attempt are unreferenced garbage, same as a crashed commit.
        """
        for attempt in range(retries + 1):
            try:
                return self._compact_once(
                    expire_tombstones_below_seq=expire_tombstones_below_seq,
                )
            except cl.CommitConflictError:
                if attempt == retries:
                    raise
        raise AssertionError("unreachable")

    def _compact_once(
        self, *, expire_tombstones_below_seq: int | None = None
    ) -> int:
        """One compaction attempt against the current snapshot.

        Resolves per-key LWW across base ∪ deltas and rewrites every
        bucket with a delta chain — the maintenance half of the mor
        tradeoff, run out of the hot apply path. ``expire_tombstones_below_seq``
        optionally drops tombstones older than a watermark the feed is
        guaranteed to have passed (bounding tombstone growth; unsafe to
        set below the source's max-reordering window). Returns the new
        snapshot version, or the current one if nothing to compact.

        Tombstone expiry reaches QUIET buckets too (VERDICT r02 #2):
        every compaction records exact per-bucket tombstone stats
        (count + min seq — props["bucket_tombstones"], O(num_buckets)
        metadata, observed on the rows it writes), so a later
        expiry-compaction can include a tombstone-
        bearing bucket whose delta chain is empty — a delete-heavy
        bucket that goes cold no longer retains its tombstones forever.
        The exact min-seq prevents re-compaction livelock: a bucket is a
        candidate only while it provably holds a tombstone below the
        watermark."""
        snap = self._snap()
        deltas = self._deltas(snap)
        todo = [b for b in deltas if deltas[b]]
        if expire_tombstones_below_seq is not None:
            bt = (snap.props or {}).get("bucket_tombstones", {})
            seen = set(todo)
            todo += [
                b
                for b, (n, mn) in bt.items()
                if b not in seen
                and n
                and mn is not None
                and mn < expire_tombstones_below_seq
                and snap.files.get(b)
            ]
        if not todo:
            return snap.version
        table_keys = self.key_columns(snap)
        ids = [int(b) for b in todo]
        resolved = self._read_snapshot(
            snap, buckets=ids, include_deleted=True, include_engine_cols=True,
        ).withColumn(BUCKET_COL, bucket_expr(snap.num_buckets, table_keys[0]))
        if expire_tombstones_below_seq is not None:
            resolved = resolved.where(
                ~F.col("_deleted")
                | (F.col(LAST_SEQ_COL) >= F.lit(expire_tombstones_below_seq))
            )
        # exact per-bucket tombstone stats of the rows written, so later
        # expiry runs can target quiet buckets precisely
        tombs = Observation()
        resolved = resolved.observe(tombs, *[
            F.expr(f"{agg} AS {name}{b}")
            for b in ids
            for name, agg in (
                ("n", f"count_if(_deleted AND {BUCKET_COL} = {b})"),
                ("m", f"min(CASE WHEN _deleted AND {BUCKET_COL} = {b} "
                      f"THEN {LAST_SEQ_COL} END)"),
            )
        ])
        # salt width from the bytes it rewrites: the largest bucket's,
        # known exactly here, so no hot-share guess; a delta file's bytes
        # are split evenly among the buckets listing (holding) it
        owners = Counter(f for fs in deltas.values() for f in fs)
        width = layout_width(max(
            sum(map(os.path.getsize, snap.files.get(b, [])))
            + sum(os.path.getsize(f) / owners[f] for f in deltas.get(b, []))
            for b in todo
        ), hot_share=1.0)
        new_version = snap.version + 1
        new_files, written = self._write_buckets(
            resolved, new_version, ids, table_keys, width, by_bucket=True
        )
        files = dict(snap.files)
        new_deltas = {b: list(v) for b, v in deltas.items()}
        for b in todo:
            files[b] = new_files.get(b, [])
            new_deltas.pop(b, None)
        sid, slog = self._schema_meta(snap)
        file_stats, file_sids = self._next_file_meta(
            snap, files, new_deltas, sid, written
        )
        # a write of no rows never materializes the observation
        m = tombs.get if new_files else {}
        bucket_tombstones = dict((snap.props or {}).get("bucket_tombstones", {}))
        for b in ids:
            mn = m.get(f"m{b}")
            bucket_tombstones[str(b)] = [
                int(m.get(f"n{b}") or 0), int(mn) if mn is not None else None
            ]
        nsnap = cl.Snapshot(
            version=new_version,
            parent=snap.version,
            schema_json=snap.schema_json,
            num_buckets=snap.num_buckets,
            files=files,
            committed_batches=dict(snap.committed_batches),
            props={
                "compaction": True,
                "deltas": new_deltas,
                "max_seq": (snap.props or {}).get("max_seq"),
                "schema_id": sid,
                "schema_log": slog,
                "bucket_tombstones": bucket_tombstones,
            },
            key_cols=snap.key_cols,
            ledger_floor=dict(snap.ledger_floor),
            file_stats=file_stats,
            file_schema_ids=file_sids,
        )
        cl.commit_snapshot(self.root, nsnap)
        return new_version

    # -- maintenance: snapshot expiry / GC ------------------------------
    def expire_snapshots(
        self, keep_last: int = 10, *, min_age_s: float = 600.0
    ) -> dict:
        """Expire old snapshots and garbage-collect every data file and
        manifest no retained snapshot references — without this, disk
        grows O(history): compactions strand their superseded bucket
        files forever, and aborted commits leave
        orphan version dirs. Time travel remains available for the
        ``keep_last`` newest versions only (minimum 1 — the current
        snapshot is never expired).

        Deletion is reference-based, not version-dir-based: a delta
        file written at v5 stays live while any retained snapshot still
        lists it. Paths are realpath-normalized on both sides of the
        comparison, so how the root was spelled at write vs GC time
        cannot misclassify live files. The committed-batch ledger is
        carried inside every snapshot, so expiry never weakens
        exactly-once.

        ``min_age_s`` is the concurrent-writer guard: an in-flight
        merge's data files exist BEFORE their snapshot commits and look
        exactly like aborted-commit orphans, so unreferenced files
        younger than this are spared (default 10 min ≫ any batch wall).
        Set 0 only when no writer can be active.

        Interaction with read_changes: a consumer whose base version is
        expired can no longer call ``read_changes(version)`` — keep
        ``keep_last`` above the slowest consumer's lag, or have
        consumers persist the base snapshot's ``max_seq`` and use
        ``read_changes(since_seq=...)``, which needs no old snapshot.
        """
        if cl.current_version(self.root) is None:
            raise ValueError(f"no table at {self.root}")
        versions = cl.list_versions(self.root)
        current = cl.current_version(self.root)
        keep_last = max(1, keep_last)
        # only COMMITTED versions occupy keep slots: a crash-orphaned
        # v{N}.json above the hint (aborted commit) must not displace a
        # real retained version (VERDICT r02 #5). Orphans are expired
        # too (age-guarded below, like their data files).
        committed_versions = [v for v in versions if v <= current]
        keep = set(committed_versions[-keep_last:]) | {current}
        expired = [v for v in versions if v not in keep]

        referenced: set[str] = set()
        manifests: set[str] = set()
        for v in keep:
            snap = cl.load_snapshot(self.root, v)
            for fs in snap.files.values():
                referenced.update(os.path.realpath(p) for p in fs)
            for fs in self._deltas(snap).values():
                referenced.update(os.path.realpath(p) for p in fs)
            manifests.update(cl.manifest_refs(self.root, v))

        now = time.time()

        def _old_enough(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) >= min_age_s
            except OSError:
                return False

        removed_files = 0
        data_dir = os.path.join(self.root, "data")
        for dirpath, _dirs, files in os.walk(data_dir, topdown=False):
            for f in files:
                p = os.path.join(dirpath, f)
                if (
                    f.endswith(".parquet")
                    and os.path.realpath(p) not in referenced
                    and _old_enough(p)
                ):
                    os.remove(p)
                    removed_files += 1
            if not os.listdir(dirpath):
                os.rmdir(dirpath)

        mdir = cl.meta_dir(self.root)
        dropped = []
        for v in expired:
            p = os.path.join(mdir, f"v{v}.json")
            if v > current and not _old_enough(p):
                # too-young orphan: could be a commit racing this GC
                continue
            try:
                os.remove(p)
            except FileNotFoundError:
                pass
            dropped.append(v)
        expired = dropped
        removed_manifests = 0
        man_dir = os.path.join(mdir, "manifests")
        if os.path.isdir(man_dir):
            for m in os.listdir(man_dir):
                p = os.path.join(man_dir, m)
                if f"manifests/{m}" not in manifests and _old_enough(p):
                    os.remove(p)
                    removed_manifests += 1
        return {
            "expired_versions": expired,
            "removed_files": removed_files,
            "removed_manifests": removed_manifests,
            "retained": sorted(keep),
        }

    # -- physical write ------------------------------------------------
    def _write_buckets(
        self, df: DataFrame, version: int, touched, key_cols, width: int,
        *, by_bucket: bool,
    ) -> tuple[dict[str, list[str]], dict[str, int | None]]:
        """Write ``df`` for prospective ``version``; returns its new data
        files by bucket, and each file's max ``_last_seq``. The one write
        layout of every table write (delta append, compaction): one
        shuffle, ``repartition(n, bucket[, salt])``, then one file per
        writer task (deltas) or, with ``by_bucket``, one per bucket each
        task holds (compaction's base files, under ``repo_bucket=K/``).

        Width 1: ``n = min(len(touched), spark.sql.shuffle.partitions)``
        tasks — one writer per core, each holding whole buckets. A task
        per bucket spent ~0.9 s of a 2.4 s batch on 4 cores starting 32
        one-file tasks; one task for all buckets wrote them serially.

        Width w > 1 (``layout_width``, for batches whose hot bucket
        outgrows one task): a key salt splits each bucket w ways, over
        ``n = len(touched) × w`` tasks, so a hot bucket's salts land in
        separate tasks instead of one straggler sort.

        Why deltas skip the per-bucket split: a parquet file's writer
        setup (codec, the column-config walk of the Hadoop conf) costs
        more than a ~4k-row micro-batch's rows: on 4 cores, 32 bucket
        files took 273 ms of job time where 4 task files took 120 ms, and
        every read until the next compaction opens them all. A delta file keeps
        ``repo_bucket`` as a column; the driver reads it back with the
        footer's max ``_last_seq`` in one threaded per-file pass, so the
        file → bucket map is what the file holds. The one empty file a
        write of no rows leaves holds no bucket and is never listed.
        Base files stay one per bucket: every lookup of a bucket reads
        them until the next compaction replaces them.

        The data dir is writer-unique: writers racing one version must
        not clobber each other's files (overwrite mode) before the
        snapshot CAS decides the race, nor list the loser's files as the
        winner's. GC is reference-based, so the random suffix is free;
        the version in the name is a breadcrumb and may lag the committed
        one after a rebase."""
        out_dir = f"{self.root}/data/v{version}-{uuid.uuid4().hex[:8]}"
        parts = [F.col(BUCKET_COL)]
        if width == 1:
            slots = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            n = min(len(touched), slots)
        else:
            n = len(touched) * width
            parts.append(F.pmod(F.xxhash64(*map(F.col, key_cols)), F.lit(width)))
        writer = (
            df.repartition(max(n, 1), *parts)
            .write.mode("overwrite")
            # content/commit columns are high-entropy — parquet dictionary
            # encoding only burns CPU before falling back (measured ~2.5s
            # per 700k-row batch)
            .option("parquet.enable.dictionary", "false")
        )
        if by_bucket:
            writer = writer.partitionBy(BUCKET_COL)
        writer.parquet(out_dir)
        paths = sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(out_dir)
            for f in fs
            if f.endswith(".parquet")
        )
        meta = self._parquet_meta(paths, read_buckets=not by_bucket)
        out: dict[str, list[str]] = {}
        for p in paths:
            held = (
                meta[p][1] if not by_bucket
                else [os.path.basename(os.path.dirname(p)).split("=", 1)[1]]
            )
            for b in held:
                out.setdefault(str(b), []).append(p)
        return out, {p: mx for p, (mx, _) in meta.items()}

    @staticmethod
    def _parquet_meta(
        paths: Sequence[str], read_buckets: bool = False
    ) -> dict[str, tuple[int | None, list[int]]]:
        """Per-file (max ``_last_seq``, buckets held) of files a write
        just made: the max from the parquet footer (the Iceberg
        file-level column-stats idea; None when the footer lacks usable
        stats, and readers then never prune that file), the buckets from
        the file's ``repo_bucket`` column when ``read_buckets`` (else
        []). A file that cannot be read fails the write. Driver-side,
        ~1 ms a file, threaded."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def max_seq(md) -> int | None:
            idx = None
            for i in range(md.num_columns):
                if md.schema.column(i).name == LAST_SEQ_COL:
                    idx = i
                    break
            if idx is None or md.num_rows == 0:
                return None
            mx = None
            for r in range(md.num_row_groups):
                st = md.row_group(r).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                mx = st.max if mx is None else max(mx, st.max)
            return int(mx) if mx is not None else None

        def one(p: str) -> tuple[int | None, list[int]]:
            pf = pq.ParquetFile(p)
            if not read_buckets:
                return max_seq(pf.metadata), []
            col = pf.read(columns=[BUCKET_COL]).column(0)
            return max_seq(pf.metadata), sorted(pc.unique(col).to_pylist())

        if not paths:
            return {}
        if len(paths) == 1:
            return {paths[0]: one(paths[0])}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(8, len(paths))) as ex:
            return dict(zip(paths, ex.map(one, paths)))

    def _next_file_meta(
        self,
        snap: cl.Snapshot,
        files: dict[str, list[str]],
        deltas: dict[str, list[str]],
        schema_id: int,
        written: dict[str, int | None],
    ) -> tuple[dict[str, int | None], dict[str, int]]:
        """(stats, schema_ids) for the next snapshot: inherited entries
        for surviving files, the ``written`` stats / the commit's schema
        id for files this commit introduced; dropped files are shed."""
        live = {p for fs in files.values() for p in fs}
        live |= {p for fs in deltas.values() for p in fs}
        stats = {
            p: s for p, s in snap.file_stats.items() if p in live and s is not None
        }
        stats.update((p, s) for p, s in written.items() if p in live)
        old_live = {p for fs in snap.files.values() for p in fs}
        old_live |= {p for fs in self._deltas(snap).values() for p in fs}
        sids = {p: s for p, s in snap.file_schema_ids.items() if p in live}
        sids.update({p: schema_id for p in live - old_live})
        return stats, sids
