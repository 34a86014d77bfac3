"""Property-based correctness for PARTIAL updates ($set/UpdateFields
semantics — reference ``pkg/estuary/mongo.go:345-347``,
``pkg/models/models.go:37``): random event streams mixing full images,
per-column partial updates, deletes and same-batch redeliveries are
applied through the real pipeline (``replay_feed`` with
``partial_updates=True``) and must match a sequential
one-event-at-a-time oracle on EVERY payload column.

The oracle encodes the engine's documented contract (CLAUDE.md /
dedup.lww_collapse_partial, which LakeTable.merge runs over a partial
batch's events and its buckets' rows):

* a full image replaces all columns (absent/None JSON fields become
  null — a full image CAN null a column);
* a partial touches only its non-null doc fields (JSON-absent ≡ null,
  so partials cannot set a column TO null);
* a partial on an absent or deleted key upserts only its own fields —
  tombstoned values are never resurrected;
* per-key delivery is IN-ORDER across batches (batches here are
  seq-ranged, as the contract requires); intra-batch order is free and
  redeliveries within a batch collapse exactly-once;
* a compaction at a drawn batch boundary changes nothing: later
  partials fold into base-file images as they do into delta images.

This is the randomized layer over the hand-pinned cases in
test_partial_update.py and the driver's cdc_partial_update_merge
oracle — hypothesis explores delete/partial interleavings those fixed
fixtures cannot enumerate.
"""

import json

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from replicator_spark.laketable import LakeTable
from replicator_spark.model import CHANGE_SCHEMA
from replicator_spark.pipeline import replay_feed

REPOS = ["r0", "hot"]
PATHS = ["a", "b"]
COMMITS = ["c1", "c2"]
COLS = ("lang", "content", "stars")
N_BATCHES = 3

event_st = st.fixed_dictionaries(
    {
        # partials weighted up — they are the surface under test
        "op": st.sampled_from(["upsert", "partial", "partial", "delete"]),
        "repo": st.sampled_from(REPOS),
        "path": st.sampled_from(PATHS),
        "commit": st.sampled_from(COMMITS),
        # full-image values (None = the full image nulls that column)
        "lang": st.sampled_from([None, "py", "go"]),
        "content": st.sampled_from([None, "", "x", "xy", "zzz"]),
        "stars": st.sampled_from([None, 0, 1, 7]),
        # which columns a partial touches (forced non-empty below);
        # touched values are made non-null (partials cannot set null)
        "touch": st.sets(st.sampled_from(COLS)),
        "dup": st.booleans(),  # redeliver within the same batch
    }
)

PAYLOAD = T.StructType(
    [
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("stars", T.LongType(), True),
    ]
)

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        *PAYLOAD.fields,
    ]
)

FEED_SCHEMA = T.StructType(
    list(CHANGE_SCHEMA.fields) + [T.StructField("batch_id", T.IntegerType(), False)]
)

_NONNULL = {"lang": "py", "content": "x", "stars": 1}


def _materialize(events):
    """seq = list position; batches are SEQ-RANGED (the partial
    contract's cross-batch in-order requirement); dups redeliver in the
    same batch (intra-batch exactly-once is the collapse's job)."""
    n = len(events)
    rows = []
    for i, e in enumerate(events):
        partial = e["op"] == "partial"
        if e["op"] == "delete":
            doc, meta = None, None
        elif partial:
            touch = e["touch"] or {"content"}
            doc = json.dumps(
                {
                    c: (e[c] if e[c] is not None else _NONNULL[c])
                    for c in COLS
                    if c in touch
                }
            )
            meta = {"partial": "true"}
        else:
            doc = json.dumps({c: e[c] for c in COLS})
            meta = None
        row = {
            "event_id": f"e{i}",
            "seq": i,
            "op": "delete" if e["op"] == "delete" else "update",
            "ts": None,
            "db": "d",
            "tbl": "t",
            "key": {"repo": e["repo"], "path": e["path"], "commit": e["commit"]},
            "doc": doc,
            "old": None,
            "meta": meta,
            "batch_id": (N_BATCHES * i) // max(n, 1),
        }
        rows.append(row)
        if e["dup"]:
            rows.append(dict(row))
    return rows


def _oracle(rows):
    seen = set()
    state: dict[tuple, dict] = {}
    for ev in sorted(rows, key=lambda e: (e["seq"], e["event_id"])):
        if ev["event_id"] in seen:
            continue
        seen.add(ev["event_id"])
        k = (ev["key"]["repo"], ev["key"]["path"], ev["key"]["commit"])
        if ev["op"] == "delete":
            state.pop(k, None)
            continue
        doc = json.loads(ev["doc"]) if ev["doc"] else {}
        partial = bool(ev["meta"]) and ev["meta"].get("partial") == "true"
        if partial:
            cur = state.get(k, {c: None for c in COLS})
            state[k] = {
                c: (doc[c] if doc.get(c) is not None else cur[c]) for c in COLS
            }
        else:
            state[k] = {c: doc.get(c) for c in COLS}
    return state


def _replay_and_compare(spark, tmp, events, compact_after):
    """Replay the feed, folding the table into base files after batch
    ``compact_after``: later partials meet their keys' images in base
    files, and in the deltas of the batches after it."""
    rows = _materialize(events)
    feed, root = f"{tmp}/feed", f"{tmp}/table"
    spark.createDataFrame(rows, FEED_SCHEMA).write.partitionBy(
        "batch_id"
    ).parquet(feed)
    table = LakeTable(spark, root)
    table.create(TABLE_SCHEMA, num_buckets=4)
    ids = sorted({r["batch_id"] for r in rows})

    def replay(batches):
        replay_feed(
            spark,
            feed,
            table,
            batches=batches,
            payload_schema=PAYLOAD,
            partial_updates=True,
            write_metrics=False,
        )

    replay([b for b in ids if b <= compact_after])
    table.compact()
    replay([b for b in ids if b > compact_after])
    got = {
        (r["repo"], r["path"], r["commit"]): {c: r[c] for c in COLS}
        for r in table.read().collect()
    }
    assert got == _oracle(rows)


# a partial whose key's image sits in a base file (batch 0 is compacted
# before batch 1 applies): drawn streams reach this case only sometimes
BASE_FILE_TARGET = [
    {"op": "upsert", "repo": "r0", "path": "a", "commit": "c1", "lang": "py",
     "content": "x", "stars": 7, "touch": set(), "dup": False},
    {"op": "partial", "repo": "r0", "path": "a", "commit": "c1", "lang": None,
     "content": "zzz", "stars": None, "touch": {"content"}, "dup": False},
]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(event_st, min_size=1, max_size=40),
    compact_after=st.integers(0, N_BATCHES - 2),
)
@example(events=BASE_FILE_TARGET, compact_after=0)
def test_random_partial_streams_match_oracle_mor(
    spark, tmp_path_factory, events, compact_after
):
    _replay_and_compare(
        spark, str(tmp_path_factory.mktemp("pprop")), events, compact_after
    )
