"""Seeded change-feed generator owned by the benchmark.

The benchmark does not import the program's own generator: a change to
the program must not be able to change a workload's input. Everything
here is numpy + pyarrow, a pure function of the seed, and the program
only ever sees the parquet it writes.

Rows follow the canonical change record the engine reads (event_id,
seq, op, ts, db, tbl, key{repo,path,commit}, doc, old, meta) and land
under ``<dir>/batch_id=<n>/part-<i>.parquet``.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_HEX = np.frombuffer(b"0123456789abcdef", np.uint8)

KEY_TYPE = pa.struct(
    [
        pa.field("repo", pa.string(), nullable=False),
        pa.field("path", pa.string(), nullable=False),
        pa.field("commit", pa.string(), nullable=False),
    ]
)
FEED_SCHEMA = pa.schema(
    [
        pa.field("event_id", pa.string(), nullable=False),
        pa.field("seq", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
        pa.field("db", pa.string()),
        pa.field("tbl", pa.string()),
        pa.field("key", KEY_TYPE, nullable=False),
        pa.field("doc", pa.string()),
        pa.field("old", pa.string()),
        pa.field("meta", pa.map_(pa.string(), pa.string())),
    ]
)
LANGS = ["py", "go", "rs", "js", "java"]


@dataclass(frozen=True)
class FeedShape:
    """Input properties the engine's behaviour depends on."""

    n_repos: int = 200
    paths_per_repo: int = 500
    commits_per_path: int = 4
    hot_repo_pct: int = 30  # share of events on repo 0 (skew)
    dup_pct: int = 5  # at-least-once redelivery
    partial_pct: int = 0  # share of updates that are content-only partials
    content_repeat: int = 4  # content = 64 hex chars repeated


def _hex(words: np.ndarray, width: int) -> pa.Array:
    """Fixed-width lowercase hex of unsigned integers/bytes, vectorized."""
    raw = words.view(np.uint8).reshape(len(words), -1)
    out = np.empty((len(words), raw.shape[1] * 2), np.uint8)
    out[:, 0::2] = _HEX[raw >> 4]
    out[:, 1::2] = _HEX[raw & 15]
    flat = out[:, :width].copy().view(f"S{width}").ravel()
    return pa.array(flat, pa.binary()).cast(pa.string())


def _padded(nums: np.ndarray, width: int) -> pa.Array:
    return pc.utf8_lpad(pc.cast(pa.array(nums), pa.string()), width, "0")


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: deterministic key-derived hash bits."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def gen_events(
    rng: np.random.Generator, n: int, shape: FeedShape, seq0: int = 0
) -> dict[str, np.ndarray]:
    """``n`` change events with seq ``seq0 .. seq0+n-1`` as numpy columns."""
    seq = np.arange(seq0, seq0 + n, dtype=np.int64)
    hot = rng.integers(0, 100, n) < shape.hot_repo_pct
    repo_id = np.where(hot, 0, rng.integers(0, shape.n_repos, n))
    path_id = rng.integers(0, shape.paths_per_repo, n)
    commit_id = rng.integers(0, shape.commits_per_path, n)
    op_r = rng.integers(0, 100, n)
    # op mix ~ 50% insert / 35% update / 15% delete
    op = np.where(op_r < 50, 0, np.where(op_r < 85, 1, 2)).astype(np.int8)
    partial = (op == 1) & (rng.integers(0, 100, n) < shape.partial_pct)
    return {
        "seq": seq,
        "repo_id": repo_id,
        "path_id": path_id,
        "commit_id": commit_id,
        "op": op,
        "partial": partial,
        "lang": rng.integers(0, len(LANGS), n),
        "content": rng.integers(0, 2**63, (n, 4), dtype=np.int64),
        "jitter": rng.integers(0, 120, n),
    }


def to_arrow(ev: dict[str, np.ndarray], shape: FeedShape) -> pa.Table:
    """Numpy event columns → canonical change records."""
    n = len(ev["seq"])
    repo = pc.binary_join_element_wise("repo-", _padded(ev["repo_id"], 4), "")
    path = pc.binary_join_element_wise(
        "src/",
        pc.cast(pa.array(ev["path_id"] % 16), pa.string()),
        "/f",
        _padded(ev["path_id"], 5),
        ".txt",
        "",
    )
    kid = (
        ev["repo_id"].astype(np.uint64) * np.uint64(1_000_003)
        + ev["path_id"].astype(np.uint64)
    ) * np.uint64(97) + ev["commit_id"].astype(np.uint64)
    commit = _hex(_mix(kid), 12)
    content = pc.binary_repeat(_hex(ev["content"], 64), shape.content_repeat)
    lang = pa.array(np.array(LANGS, dtype=object)[ev["lang"]], pa.string())
    full = pc.binary_join_element_wise(
        '{"repo":"', repo, '","path":"', path, '","commit":"', commit,
        '","lang":"', lang, '","content":"', content, '"}', "",
    )
    part = pc.binary_join_element_wise('{"content":"', content, '"}', "")
    op = ev["op"]
    partial = ev["partial"]
    doc = pc.if_else(
        pa.array(op == 2), "{}", pc.if_else(pa.array(partial), part, full)
    )
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(2 + partial, out=offsets[1:])
    starts = offsets[:-1]
    mkeys = np.empty(offsets[-1], object)
    mvals = np.empty(offsets[-1], object)
    mkeys[starts], mvals[starts] = "source_type", "perfbench"
    mkeys[starts + 1], mvals[starts + 1] = "stream", "synthetic-binlog"
    mkeys[starts[partial] + 2], mvals[starts[partial] + 2] = "partial", "true"
    meta = pa.MapArray.from_arrays(
        pa.array(offsets), pa.array(mkeys, pa.string()), pa.array(mvals, pa.string())
    )
    seq = ev["seq"]
    ts = (np.int64(1704067200) + seq + ev["jitter"] - 60) * 1_000_000
    ops = np.array(["insert", "update", "delete"], dtype=object)[op]
    cols = {
        "event_id": pc.binary_join_element_wise("ev-", _padded(seq, 12), ""),
        "seq": pa.array(seq),
        "op": pa.array(ops, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "db": pa.array(["srcdb"] * n, pa.string()),
        "tbl": pa.array(["repos"] * n, pa.string()),
        "key": pa.StructArray.from_arrays(
            [repo, path, commit], fields=list(KEY_TYPE)
        ),
        "doc": doc,
        "old": pc.if_else(pa.array(op != 0), "{}", pa.scalar(None, pa.string())),
        "meta": meta,
    }
    return pa.Table.from_pydict(cols, schema=FEED_SCHEMA)


def with_redelivery(
    rng: np.random.Generator, table: pa.Table, batch: np.ndarray, pct: int,
    same_batch: bool,
) -> tuple[pa.Table, np.ndarray]:
    """Deliver ``pct``% of events twice (same event_id and seq). With
    ``same_batch`` the copy stays in its event's batch; otherwise it
    lands in a random batch."""
    if pct <= 0:
        return table, batch
    dup = np.flatnonzero(rng.integers(0, 100, table.num_rows) < pct)
    if same_batch:
        dup_batch = batch[dup]
    else:
        dup_batch = rng.integers(0, int(batch.max()) + 1, len(dup))
    return (
        pa.concat_tables([table, table.take(pa.array(dup))]),
        np.concatenate([batch, dup_batch]),
    )


def write_batches(
    table: pa.Table, batch: np.ndarray, out_dir: str, files_per_batch: int,
    partition_of=lambda b: b,
) -> dict[int, int]:
    """Write rows of each batch as ``files_per_batch`` parquet files
    under ``batch_id=<partition_of(b)>``; returns rows per batch."""
    counts = {}
    order = np.argsort(batch, kind="stable")
    sorted_batch = batch[order]
    table = table.take(pa.array(order))
    bounds = np.searchsorted(sorted_batch, np.arange(int(batch.max()) + 2))
    for b in range(int(batch.max()) + 1):
        lo, hi = int(bounds[b]), int(bounds[b + 1])
        counts[b] = hi - lo
        d = os.path.join(out_dir, f"batch_id={partition_of(b)}")
        os.makedirs(d, exist_ok=True)
        edges = np.linspace(lo, hi, files_per_batch + 1).astype(int)
        for i in range(files_per_batch):
            pq.write_table(
                table.slice(edges[i], edges[i + 1] - edges[i]),
                os.path.join(d, f"part-{b:05d}-{i:03d}.parquet"),
            )
    return counts


# Input sizes per workload, scaled by the run length so that the same
# ``--seconds`` always gives the same inputs (work is fixed per run, never
# "as much as fits": a faster commit must not get a bigger table).
def plan(workload: str, seconds: int) -> dict:
    if workload == "microbatch":
        # the stream takes maxFilesPerTrigger=16 files per micro-batch
        return {
            "shape": FeedShape(),
            # fewer than the 8 deltas that trigger auto-compaction: the
            # run-time budget has no room for one; compact() at the end
            # measures compaction
            "batches": max(4, seconds // 4),
            "events_per_batch": 4000,
            "files_per_batch": 16,
            "order": "hashed",
            "polls": 4,
            # enough for a tail: p58 is the highest percentile with ten
            # samples beyond it
            "lookups": 24,
            "reads": 4,
        }
    if workload == "partial_mix":
        return {
            # the partial share of the program's own partial-update
            # measurement (30% of updates)
            "shape": FeedShape(n_repos=50, paths_per_repo=200, partial_pct=30),
            "batches": max(4, seconds // 4),
            "events_per_batch": 6000,
            "files_per_batch": 8,
            "order": "seq_ranged",
            "lookups_per_batch": 6,
            "reads": 5,
        }
    if workload == "selftest":  # tiny, for the check's self-test
        return {
            "shape": FeedShape(n_repos=10, paths_per_repo=20, partial_pct=30),
            "batches": 2,
            "events_per_batch": 2000,
            "files_per_batch": 2,
            "order": "seq_ranged",
            "lookups_per_batch": 2,
            "reads": 1,
        }
    raise ValueError(f"unknown workload {workload!r}")


def _key_strings(ev: dict[str, np.ndarray], idx: np.ndarray) -> list[list[str]]:
    return [
        [f"repo-{int(ev['repo_id'][i]):04d}",
         f"src/{int(ev['path_id'][i]) % 16}/f{int(ev['path_id'][i]):05d}.txt"]
        for i in idx
    ]


def generate(workload: str, seed: int, seconds: int, out: str) -> dict:
    """Write the workload's feed under ``out``; return the manifest the
    benchmark drives the program with."""
    p = plan(workload, seconds)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    feed_dir = os.path.join(out, "feed")
    shape = p["shape"]
    nb, per = p["batches"], p["events_per_batch"]
    n = nb * per
    ev = gen_events(rng, n, shape)
    table = to_arrow(ev, shape)
    if p["order"] == "hashed":
        # delivery order != commit order: seq interleaves across batches
        batch = rng.integers(0, nb, n)
    else:
        batch = np.repeat(np.arange(nb), per)
    table, batch = with_redelivery(
        rng, table, batch, shape.dup_pct, same_batch=p["order"] == "seq_ranged"
    )
    if workload == "microbatch":
        # one directory, one file per (batch, slot): the stream forms its
        # own micro-batches from file modification order
        files = batch * p["files_per_batch"] + rng.integers(
            0, p["files_per_batch"], len(batch)
        )
        write_batches(table, files, feed_dir, 1, partition_of=lambda b: 0)
    else:
        write_batches(table, batch, feed_dir, p["files_per_batch"])
    man = {
        "feed_dir": feed_dir,
        "batches": nb,
        "reads": p["reads"],
        "delivered": int(table.num_rows),
        "partial_updates": shape.partial_pct > 0,
    }
    if p["order"] == "seq_ranged":
        man["batch_cuts"] = [(b + 1) * per - 1 for b in range(nb)]
        k = p["lookups_per_batch"]
        man["batch_lookups"] = [
            _key_strings(ev, rng.integers(0, (b + 1) * per, k)) for b in range(nb)
        ]
    else:
        man["poll_since"] = [
            int(n * (1 - 0.02 * (i + 1))) for i in range(p["polls"])
        ]
        man["lookups"] = _key_strings(ev, rng.integers(0, n, p["lookups"]))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f)
    return man


if __name__ == "__main__":
    # python3 feed.py <workload> <seed> <seconds> <out_dir>
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
