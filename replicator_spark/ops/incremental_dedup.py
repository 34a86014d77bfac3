"""Incremental MinHash-LSH dedup riding the CDC lake table.

At corpus scale you never re-dedup the standing corpus when a batch
arrives — you maintain a *signature index* and check the new batch
against it. This module keeps that index IN a `LakeTable`, so the
whole CDC machinery applies for free: exactly-once batch apply via the
committed-batch ledger (a replayed feed batch indexes nothing twice
and re-emits no pairs), merge-on-read appends with auto-compaction,
snapshot isolation for readers, CAS-published commits with
retry-with-rebase for a second writer (index appends are non-partial
mor merges — they rebase over ANY concurrent data commit, the
realistic two-streams-one-index shape).

Index rows are ``(band_key, doc_id)`` (+ the source batch for
provenance), keyed on both and hash-bucketed on ``band_key``; each doc
contributes ``bands`` rows. A batch's candidates come from one hash
join of its band rows against the index, under the ONLINE bucket
policy:

    for each new doc n in bucket B (members with id < n, the docs
    indexed before it — batches must arrive in id order):
      |B| == 0            → no pairs
      1 ≤ |B| ≤ max_bucket → pair (b, n) for every b in B
      |B| > max_bucket     → ONE star edge (min(B), n)

The policy is the arrival-order form of the batch star-edge rule
(``bucket_candidate_pairs``): the head of a dup family pairs fully
while the family is small; every later copy costs O(bands) edges, so
an adversarial 10^6-copy family stays linear end-to-end. Unlike the
batch rule it is CLOSED-FORM over the final corpus — for each
(bucket, doc), ``n_earlier`` decides the branch — which is what the
DuckDB oracle recomputes (``incremental_minhash_dedup``): running
batches through a real table replay must land on exactly those pairs.

100-TB shape: per batch the index gains O(batch × bands) rows through
the ordinary mor append (no read of table state); the candidate join
shuffles the batch's band rows against the index on band_key — at this
corpus/bands ratio the index side dominates, and its scan prunes
nothing (every band_key may match), so cost is O(index)/batch; with
daily batches over a 100 TB corpus, shard the index by band_id range
(one LakeTable per shard joins only its own bands) or bucket-join
against the table's own band_key bucketing. The window after the join
is keyed (band_key, new_id) — bounded per new doc by its bucket
overlap, never O(bucket²).

Reference parity: the reference engine dedups per-key via its position
trackers only; corpus near-dup indexing is an extension op (like
ops/dedup_text), but the TABLE it rides is the reference's estuary
surface (``pkg/estuary/*``), so this is the two subsystems composed.

Multi-writer limitation (deliberate): the TABLE tolerates concurrent
writers (non-partial mor appends rebase over any concurrent commit),
but the online policy needs a TOTAL arrival order — "earlier" = smaller
id — so two streams feeding one index concurrently have no well-defined
pair set, and the arrival-order guard will (racily) reject the writer
that lands second with interleaved ids. Fan-in deployments should route
every stream through one indexer (the CDC multi-source pattern:
namespaced batch keys, one applier), or shard the index per stream and
cross-join the shards' band rows offline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..laketable import LakeTable
from .dedup_text import band_rows, minhash_signatures

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("band_key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_batch", T.StringType()),
    ]
)


class MinHashIndex:
    """A MinHash-LSH signature index persisted as a LakeTable.

    ``add_batch`` is the one write path: sign + band the batch, append
    the band rows as an idempotent mor merge (batch_key rides the
    table ledger), then join the batch against the committed index for
    candidate pairs under the online bucket policy. Batches MUST
    arrive in ascending doc_id order (the CDC feed's seq order) — the
    policy defines "earlier" as smaller id.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        shingle_n: int = 5,
        num_hashes: int = 128,
        bands: int = 16,
        seed: int = 42,
        base_hash: str = "xxhash64",
        max_bucket: int = 50,
    ):
        self.spark = spark
        self.table = LakeTable(spark, root)
        self.shingle_n = shingle_n
        self.num_hashes = num_hashes
        self.bands = bands
        self.seed = seed
        self.base_hash = base_hash
        self.max_bucket = max_bucket

    def create(self, num_buckets: int = 32) -> "MinHashIndex":
        self.table.create(
            INDEX_SCHEMA, num_buckets=num_buckets, key_cols=("band_key", "doc_id")
        )
        return self

    def _band_entries(
        self, docs: DataFrame, text_col: str, id_col: str
    ) -> DataFrame:
        sigs = minhash_signatures(
            docs,
            text_col,
            id_col,
            shingle_n=self.shingle_n,
            num_hashes=self.num_hashes,
            seed=self.seed,
            base_hash=self.base_hash,
        )
        return band_rows(sigs, id_col, self.bands).select(
            F.concat_ws(
                ":", F.col("band_id"), F.col("band_hash")
            ).alias("band_key"),
            F.col(id_col).cast("long").alias("doc_id"),
        )

    def add_batch(
        self,
        docs: DataFrame,
        batch_key: str,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame | None:
        """Index one batch and return its candidate pairs
        (id_a < id_b), or None when the ledger says the batch already
        committed (exactly-once: its pairs were emitted by the run
        that committed it — emitting them again would double-count
        downstream)."""
        if self.table.is_committed(batch_key) is not None:
            return None
        # two consumers (merge write + candidate join) — materialize
        # the signature/banding pass once, eagerly (the repo's fan-out
        # pattern: localCheckpoint, not persist, so any upstream
        # observation fires complete)
        entries = self._band_entries(docs, text_col, id_col).localCheckpoint(
            eager=True
        )
        # arrival-order contract, enforced loudly: the policy defines
        # "earlier" as smaller id, so a batch overlapping ids already
        # indexed would silently emit a different pair set than the
        # closed form. max_seq rides the table snapshot for free
        # (merge tracks it; seq = doc_id here).
        prior_hi = (self.table._snap().props or {}).get("max_seq")
        batch_lo = entries.agg(F.min("doc_id")).first()[0]
        if prior_hi is not None and batch_lo is not None and batch_lo <= prior_hi:
            raise ValueError(
                f"batch {batch_key!r} is out of arrival order: min doc_id "
                f"{batch_lo} <= max indexed id {prior_hi} — the online "
                f"bucket policy requires id-monotonic batches"
            )
        batch = entries.select(
            "band_key",
            "doc_id",
            F.lit(batch_key).alias("src_batch"),
            F.col("doc_id").alias("seq"),
            F.lit("upsert").alias("op"),
        )
        self.table.merge(batch, batch_key)
        return self._candidates(entries)

    def _candidates(self, entries: DataFrame) -> DataFrame:
        """Candidate pairs for a set of band entries against the
        CURRENT index snapshot: "earlier" = any index row with a
        smaller id (the post-merge snapshot includes the batch, so
        same-batch members count)."""
        # resolve=False: index keys are append-only-unique (see
        # laketable.read) — skip the no-op LWW shuffle per batch (r6)
        index = self.table.read(resolve=False).select(
            "band_key", F.col("doc_id").alias("old_id")
        )
        mine = entries.select("band_key", F.col("doc_id").alias("new_id"))
        joined = mine.join(index, "band_key").where(
            F.col("old_id") < F.col("new_id")
        )
        w = Window.partitionBy("band_key", "new_id")
        return (
            joined.withColumn("n_earlier", F.count(F.lit(1)).over(w))
            .withColumn("min_old", F.min("old_id").over(w))
            .where(
                (F.col("n_earlier") <= F.lit(self.max_bucket))
                | (F.col("old_id") == F.col("min_old"))
            )
            .select(F.col("old_id").alias("id_a"), F.col("new_id").alias("id_b"))
            .distinct()
        )

    def candidates_for(
        self,
        docs: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Recompute the candidate pairs of ALREADY-INDEXED docs
        without touching the table — the streaming crash-gap recovery
        path: a micro-batch that crashed after its merge committed but
        before its pairs landed replays with add_batch → None; because
        the stream's offset WAL guarantees no LATER batch has merged
        yet, the current index state equals the post-merge state the
        original run saw, so this join reproduces the identical pair
        set. Outside that ordering guarantee (e.g. ad-hoc replay after
        further batches) the result would include newer docs — use the
        batch's original pairs output instead."""
        return self._candidates(
            self._band_entries(docs, text_col, id_col)
        )

    def stats(self) -> dict:
        """Driver-side index accounting (bounded collects)."""
        snap = self.table._snap()
        n_rows = self.table.read().count()
        return {
            "version": snap.version,
            "index_rows": n_rows,
            "batches": len(snap.committed_batches),
        }


def run_dedup_index_stream(
    spark: SparkSession,
    docs_dir: str,
    index_root: str,
    checkpoint_dir: str,
    pairs_dir: str,
    *,
    stream_name: str = "dedup",
    id_col: str = "doc_id",
    text_col: str = "text",
    doc_schema: T.StructType | None = None,
    max_files_per_trigger: int | None = 1,
    **index_kw,
):
    """Structured-Streaming form of the index: tail a partitioned doc
    feed (``batch_id=N`` dirs, ids ascending across batches — the same
    arrival-order contract ``add_batch`` enforces; with
    ``max_files_per_trigger`` rate limiting, each feed batch must be
    ONE parquet file, otherwise a split batch's ids interleave across
    micro-batches and the monotonicity guard fires), maintain the
    index per micro-batch, and land each micro-batch's candidate
    pairs under ``pairs_dir/batch_key=<k>``.

    Exactly-once end-to-end: Spark's offset WAL names micro-batches
    deterministically; the table ledger makes a replayed merge a
    no-op; the per-batch pairs dir is overwritten on re-run. The one
    subtle window — crash AFTER the merge committed but BEFORE the
    pairs landed — replays with ``add_batch`` → None, and the pairs
    are then RECOMPUTED via ``candidates_for``: the WAL guarantees no
    later batch has merged, so the current index state equals what the
    crashed run saw and the recomputed pair set is identical. Returns
    the streaming query; ``trigger(availableNow)`` — drain-and-stop.
    """
    if doc_schema is None:
        doc_schema = T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField(text_col, T.StringType()),
            ]
        )
    idx = MinHashIndex(spark, index_root, **index_kw)
    if not idx.table.exists():
        idx.create()

    def _apply(batch_df, batch_id: int):
        key = f"{stream_name}-{batch_id}"
        pairs = idx.add_batch(batch_df, key, text_col=text_col, id_col=id_col)
        if pairs is None:
            # ledger replay: the merge committed on a previous run but
            # the checkpoint didn't advance, so the pairs write may not
            # have happened — recompute (identical by the WAL-ordering
            # argument in the docstring) and rewrite idempotently
            pairs = idx.candidates_for(batch_df, text_col=text_col, id_col=id_col)
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch_key={key}")

    reader = spark.readStream.schema(
        T.StructType(
            list(doc_schema.fields)
            + [T.StructField("batch_id", T.IntegerType(), True)]
        )
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    reader = reader.parquet(docs_dir)
    return (
        reader.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(stream_name)
        .trigger(availableNow=True)
        .start()
    )


def replay_documents_incremental(
    spark: SparkSession,
    docs: DataFrame,
    index_root: str,
    *,
    n_batches: int = 3,
    splits: list[int] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_name: str = "docs",
    num_buckets: int = 32,
    **index_kw,
) -> DataFrame:
    """Split ``docs`` into contiguous id ranges (arrival order) — at
    the ``splits`` cutoffs (upper-exclusive) when given, else
    ``n_batches`` equal id-width ranges — run each through
    ``MinHashIndex.add_batch``, and return the union of per-batch
    candidate pairs: the incremental equivalent of one static LSH
    pass, equal to the online-policy closed form the oracle computes
    (any id-monotonic batching lands on the same pairs). Each batch's
    pairs are eagerly materialized (localCheckpoint) before the next
    batch mutates the index — the pair frames must not lazily re-read
    a later snapshot."""
    idx = MinHashIndex(spark, index_root, **index_kw).create(
        num_buckets=num_buckets
    )
    lo, hi = docs.agg(F.min(id_col), F.max(id_col)).first()
    if splits is None:
        width = (hi - lo) // n_batches + 1
        splits = [lo + (b + 1) * width for b in range(n_batches - 1)]
    bounds = [None, *sorted(splits), None]
    out = None
    for b in range(len(bounds) - 1):
        blo, bhi = bounds[b], bounds[b + 1]
        batch = docs
        if blo is not None:
            batch = batch.where(F.col(id_col) >= blo)
        if bhi is not None:
            batch = batch.where(F.col(id_col) < bhi)
        pairs = idx.add_batch(
            batch, f"{stream_name}-{b}", text_col=text_col, id_col=id_col
        )
        if pairs is None:
            continue
        pairs = pairs.localCheckpoint(eager=True)
        out = pairs if out is None else out.unionByName(pairs)
    assert out is not None
    return out.distinct()
