"""Incremental embedding near-dup detection over lake-table state.

The vector twin of ``ops/incremental_dedup``: a standing corpus of
embeddings, batches arriving in id order, and the question "which new
vectors near-duplicate something already seen" answered WITHOUT
re-deduping the corpus. Two LakeTables under one root compose the
index:

* ``<root>/vectors`` — (vec_id, v): the normalized vectors, stored
  ONCE, keyed on vec_id. The verify stage joins candidates against
  this table; storage is O(n·dim), never duplicated per band.
* ``<root>/bands`` — (band_key, vec_id, rk1..rk4): one row per
  sign-projection table per vector (``num_tables`` rows/vec), keyed
  (band_key, vec_id) and hash-bucketed on band_key. ``rk*`` are the
  per-(table, round) refinement keys, precomputed at index time so an
  oversized join group can be re-split WITHOUT re-reading vectors.

Candidates follow the online policy of the MinHash index, adapted to
the embedding regime where star edges are unsound (a sign-projection
bucket of a near-orthogonal corpus is random space — the bucket min
is NOT a family canonical; CLAUDE.md invariant): a new vector's
"earlier" bucket co-occupants are

    ≤ max_bucket                → verify all of them
    oversized                   → require refinement-key agreement,
                                  level by level (rk1, then rk1+rk2,
                                  …): two near-duplicates agree on
                                  every projection w.h.p., random
                                  co-occupants halve per refine bit
    still oversized after rk4   → an exact-duplicate pile (≥ the
                                  combined projection bits agree):
                                  ONE star probe to the pile minimum
                                  — sound exactly there, and the only
                                  place a star is used

and every surviving candidate gets an exact cosine verify against the
vectors table — the emitted pairs are VERIFIED near-dups (cos ≥ tau),
not candidates, unlike the MinHash index whose banding is itself the
similarity contract.

Exactly-once: both tables ride their batch ledgers; vectors commit
BEFORE bands, so the replay check on the bands ledger implies both
(a crash between the two merges replays the vectors merge as a
ledger no-op and completes the bands merge). The arrival-order
contract and its loud guard are inherited unchanged.

100-TB shape: per batch O(batch × tables) band rows + O(batch) vector
rows appended through ordinary mor merges; the candidate join
shuffles on band_key; the nested-cap window is keyed (band_key,
new_id) — bounded per new vector by its bucket overlap; the verify
joins are id-keyed hash joins against the vectors table pruned to
candidate ids. ``run_embed_index_stream`` is the Structured-Streaming
wrapper (same wiring + crash-gap recovery as
``incremental_dedup.run_dedup_index_stream``).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve lazily
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..laketable import LakeTable
from .similarity import _as_double, _dot, _lsh_keys_udf

N_REFINE = 4

BANDS_SCHEMA = T.StructType(
    [
        T.StructField("band_key", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        *[T.StructField(f"rk{r + 1}", T.LongType()) for r in range(N_REFINE)],
    ]
)

VECTORS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
    ]
)


def _fused_prepare_udf(
    dim: int,
    hash_bits: int,
    num_tables: int,
    refine_bits: int,
    n_refine: int,
    seed: int,
):
    """normalize + primary keys + refinement keys in ONE Arrow pass.

    r6: the previous shape paid three evaluations per batch — an
    interpreted ``transform(v, x / sqrt(fold(v)))`` whose norm Catalyst
    re-evaluates PER ELEMENT (O(dim²) fold steps per row — 8 s alone at
    sf1.0), then two separate pandas UDFs each shipping every vector to
    Python. One kernel does all three at BLAS speed. Plane derivation
    is copied verbatim from ``similarity._lsh_keys_udf`` (primary:
    ``seed``; refinement: ``seed + 7919`` with ``num_tables·n_refine``
    tables), so the produced keys are bit-identical to the two-UDF
    form; normalization moves from a sequential fold to numpy's
    pairwise sum — a ≤1-ulp difference the round-4 cos contract
    absorbs (same class as every other BLAS kernel here)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(seed)
    planes = rng.choice([-1.0, 1.0], size=(dim, hash_bits * num_tables))
    weights = np.tile(1 << np.arange(hash_bits, dtype=np.int64), num_tables)
    table_of = np.repeat(np.arange(num_tables, dtype=np.int64), hash_bits)
    rtables = num_tables * n_refine
    rng_r = np.random.default_rng(seed + 7919)
    rplanes = rng_r.choice([-1.0, 1.0], size=(dim, refine_bits * rtables))
    rweights = np.tile(1 << np.arange(refine_bits, dtype=np.int64), rtables)
    rtable_of = np.repeat(np.arange(rtables, dtype=np.int64), refine_bits)

    @pandas_udf("struct<v:array<double>,bk:array<long>,rk:array<long>>")
    def _prep(vs: pd.Series) -> pd.DataFrame:
        m = np.asarray([np.asarray(x, dtype=np.float64) for x in vs])
        if m.size == 0:
            return pd.DataFrame({"v": [], "bk": [], "rk": []})
        m = m / np.sqrt((m * m).sum(axis=1, keepdims=True))

        def pack(pl, bits, ntab, tof, w):
            # same 9-dp zero-projection rounding as _lsh_keys_udf:
            # identical vectors must hash identically across batches
            signs = np.round(m @ pl, 9) > 0
            packed = np.zeros((len(m), ntab), dtype=np.int64)
            for t in range(ntab):
                sel = tof == t
                packed[:, t] = (signs[:, sel] * w[sel]).sum(axis=1) | (t << bits)
            return packed

        bk = pack(planes, hash_bits, num_tables, table_of, weights)
        rk = pack(rplanes, refine_bits, rtables, rtable_of, rweights)
        return pd.DataFrame({"v": list(m), "bk": list(bk), "rk": list(rk)})

    return _prep


class EmbeddingIndex:
    """Sign-projection LSH index over embeddings, persisted as two
    LakeTables. ``add_batch`` appends one id-ordered batch and returns
    its VERIFIED near-dup pairs (id_a < id_b, cos ≥ tau) against
    everything indexed so far, same-batch members included."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        dim: int,
        hash_bits: int = 8,
        num_tables: int = 8,
        refine_bits: int = 8,
        seed: int = 42,
        tau: float = 0.95,
        max_bucket: int = 200,
        round_to: int = 4,
    ):
        self.spark = spark
        self.root = root
        self.bands = LakeTable(spark, f"{root}/bands")
        self.vectors = LakeTable(spark, f"{root}/vectors")
        self.dim = dim
        self.hash_bits = hash_bits
        self.num_tables = num_tables
        self.refine_bits = refine_bits
        self.seed = seed
        self.tau = tau
        self.max_bucket = max_bucket
        self.round_to = round_to
        self._keys = _lsh_keys_udf(dim, hash_bits, num_tables, seed)
        # refinement keys: independent seed, one extra "table" per
        # (table, round) — same derivation as similarity.lsh_near_dup_pairs
        self._rkeys = _lsh_keys_udf(
            dim, refine_bits, num_tables * N_REFINE, seed + 7919
        )
        self._fused = _fused_prepare_udf(
            dim, hash_bits, num_tables, refine_bits, N_REFINE, seed
        )

    def create(self, num_buckets: int = 32) -> "EmbeddingIndex":
        self.bands.create(
            BANDS_SCHEMA, num_buckets=num_buckets, key_cols=("band_key", "vec_id")
        )
        self.vectors.create(
            VECTORS_SCHEMA, num_buckets=num_buckets, key_cols=("vec_id",)
        )
        return self

    def exists(self) -> bool:
        return self.bands.exists() and self.vectors.exists()

    def _keyed(self, df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        """(vec_id, v normalized, _bk, _rk) — ONE row per vector, all
        three vector computations in the fused Arrow kernel."""
        s = self._fused(_as_double(F.col(vec_col)))
        return df.select(
            F.col(id_col).cast("long").alias("vec_id"), s.alias("_s")
        ).select(
            "vec_id",
            F.col("_s.v").alias("v"),
            F.col("_s.bk").alias("_bk"),
            F.col("_s.rk").alias("_rk"),
        )

    @staticmethod
    def _banded(keyed: DataFrame) -> DataFrame:
        """Explode the compact frame to (band_key, vec_id, v, rk1..4)
        rows — cheap to re-derive per consumer, so add_batch checkpoints
        the 1-row-per-vector form instead of this 16×-duplicated one."""
        banded = keyed.select(
            "vec_id",
            "v",
            F.posexplode("_bk").alias("_tbl", "band_key"),
            "_rk",
        )
        rks = [
            F.element_at(
                F.col("_rk"), F.col("_tbl") * N_REFINE + r + 1
            ).alias(f"rk{r + 1}")
            for r in range(N_REFINE)
        ]
        return banded.select("band_key", "vec_id", "v", *rks)

    def _prepared(self, df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        """(vec_id, v normalized, band_key exploded, rk1..rk4) rows."""
        return self._banded(self._keyed(df, id_col, vec_col))

    def add_batch(
        self,
        vecs: DataFrame,
        batch_key: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame | None:
        """Index one id-ordered batch; return its verified near-dup
        pairs, or None when the bands ledger says the batch already
        committed (vectors commit first, so bands-committed ⇒ both)."""
        if self.bands.is_committed(batch_key) is not None:
            return None
        # checkpoint the compact per-vector frame; the 16×-banded form
        # re-derives from it lazily (posexplode + element_at only)
        keyed = self._keyed(vecs, id_col, vec_col).localCheckpoint(eager=True)
        prepared = self._banded(keyed)
        prior_hi = (self.bands._snap().props or {}).get("max_seq")
        batch_lo = keyed.agg(F.min("vec_id")).first()[0]
        if prior_hi is not None and batch_lo is not None and batch_lo <= prior_hi:
            raise ValueError(
                f"batch {batch_key!r} is out of arrival order: min vec_id "
                f"{batch_lo} <= max indexed id {prior_hi}"
            )
        self.vectors.merge(
            keyed.select("vec_id", "v")
            .dropDuplicates(["vec_id"])
            .select(
                "vec_id", "v",
                F.col("vec_id").alias("seq"), F.lit("upsert").alias("op"),
            ),
            batch_key,
        )
        rk_cols = [f"rk{r + 1}" for r in range(N_REFINE)]
        self.bands.merge(
            prepared.select(
                "band_key", "vec_id", *rk_cols,
                F.col("vec_id").alias("seq"), F.lit("upsert").alias("op"),
            ),
            batch_key,
        )
        return self._verified_pairs(prepared)

    def _verified_pairs(self, prepared: DataFrame) -> DataFrame:
        """Nested-cap candidate selection + exact cosine verify.

        r6 shape: the policy no longer runs as a band_key join exploding
        every (new, earlier-co-occupant) pair through a five-level
        window (~20M rows/batch at sf1.0 — 41 s of the query's 60 s).
        Each band bucket is collected once on each side (index rows
        broadcast-joined to their vectors; the batch side already
        carries them) and a numpy kernel applies the SAME nested-cap
        policy per new vector — count of earlier members, cumulative
        refinement-key agreement levels, exact-pile star to the deepest
        minimum — plus a ``tau − 1e-3`` cosine pre-cut via one matmul.
        Survivors (a near-dup-sized sliver) then pay the identical
        sequential-fold verify as before, so the emitted pairs and cos
        values are unchanged to the bit."""
        import pandas as pd

        rk_cols = [f"rk{r + 1}" for r in range(N_REFINE)]
        # resolve=False: index keys are append-only-unique (arrival-order
        # guard + ledger idempotence + one row per key per batch), so the
        # LWW collapse is a no-op that costs a full shuffle per batch
        vecs = self.vectors.read(resolve=False).select("vec_id", "v")

        def _bucketed(side: DataFrame, prefix: str) -> DataFrame:
            # FLAT per-bucket encoding: separate id/rk lists plus ONE
            # flattened double array — Arrow converts primitive lists
            # straight to numpy buffers, where a list<struct<..,array>>
            # would materialize a Python dict + float objects per
            # element (measured: that conversion ate the kernel's win)
            return side.groupBy("band_key").agg(
                F.collect_list("vec_id").alias(f"{prefix}_ids"),
                *[
                    F.collect_list(c).alias(f"{prefix}_{c}")
                    for c in rk_cols
                ],
                F.flatten(F.collect_list("v")).alias(f"{prefix}_vs"),
            )

        index = _bucketed(
            self.bands.read(resolve=False).join(F.broadcast(vecs), "vec_id"),
            "o",
        )
        mine = _bucketed(
            prepared.select("band_key", "vec_id", *rk_cols, "v"), "n"
        )
        cap, n_ref, dim = self.max_bucket, N_REFINE, self.dim
        cut = self.tau - 1e-3

        def _policy_kernel(pdf_iter):
            import numpy as np

            for pdf in pdf_iter:
                for row in pdf.itertuples(index=False):
                    o_ids = np.asarray(row.o_ids, dtype=np.int64)
                    order = np.argsort(o_ids, kind="stable")
                    o_ids = o_ids[order]
                    o_v = np.asarray(row.o_vs).reshape(-1, dim)[order]
                    n_ids = np.asarray(row.n_ids, dtype=np.int64)
                    n_v = np.asarray(row.n_vs).reshape(-1, dim)
                    # earlier-member count per new = its insertion point
                    # in the sorted old ids (index rows include the
                    # batch itself, so same-batch members count)
                    n_earlier = np.searchsorted(o_ids, n_ids)
                    out_a, out_b = [], []

                    def emit(oi, nj):
                        out_a.extend(o_ids[oi].tolist())
                        out_b.extend(n_ids[nj].tolist())

                    # fast path — the overwhelmingly common branch: every
                    # earlier member is a candidate; one blocked matmul +
                    # margin cut resolves the whole bucket vectorized
                    fast = np.nonzero(n_earlier <= cap)[0]
                    for j0 in range(0, len(fast), 256):  # bound O(m·256) temp
                        js = fast[j0 : j0 + 256]
                        hi = int(n_earlier[js].max()) if len(js) else 0
                        if hi == 0:
                            continue
                        cos = o_v[:hi] @ n_v[js].T
                        oi, jj = np.nonzero(
                            (cos >= cut)
                            & (np.arange(hi)[:, None] < n_earlier[js][None, :])
                        )
                        if len(oi):
                            emit(oi, js[jj])
                    # slow path: nested caps per over-cap new — first
                    # cumulative refinement-agreement level that fits
                    # wins; beyond the deepest level, ONE star probe to
                    # the deepest-agreeing minimum (ids sorted → [0])
                    slow = np.nonzero(n_earlier > cap)[0]
                    if len(slow):
                        o_rk = np.stack(
                            [
                                np.asarray(getattr(row, f"o_{c}"))[order]
                                for c in rk_cols
                            ],
                            axis=1,
                        )
                        n_rk = np.stack(
                            [np.asarray(getattr(row, f"n_{c}")) for c in rk_cols],
                            axis=1,
                        )
                    for j in slow:
                        hi = int(n_earlier[j])
                        m = np.ones(hi, dtype=bool)
                        chosen = None
                        for r in range(n_ref):
                            m &= o_rk[:hi, r] == n_rk[j, r]
                            if m.sum() <= cap:
                                chosen = np.nonzero(m)[0]
                                break
                        if chosen is None:
                            chosen = np.nonzero(m)[0][:1]
                        if len(chosen) == 0:
                            continue
                        cos = o_v[chosen] @ n_v[j]
                        good = chosen[cos >= cut]
                        if len(good):
                            emit(good, np.full(len(good), j))
                    if out_a:
                        yield pd.DataFrame(
                            {"id_a": np.asarray(out_a, dtype=np.int64),
                             "id_b": np.asarray(out_b, dtype=np.int64)}
                        )

        cand = (
            mine.join(index, "band_key")
            .drop("band_key")
            .mapInPandas(_policy_kernel, schema="id_a long, id_b long")
            .distinct()
        )
        va = vecs.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
        vb = vecs.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
        cos = F.round(_dot(F.col("va"), F.col("vb")), self.round_to)
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .withColumn("cos", cos)
            .where(F.col("cos") >= self.tau)
            .select("id_a", "id_b", "cos")
        )

    def pairs_for(
        self,
        vecs: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Recompute the verified pairs of ALREADY-INDEXED vectors
        without writing — the streaming crash-gap recovery path
        (see ``incremental_dedup.MinHashIndex.candidates_for``): valid
        while no later batch has merged, which the stream's offset WAL
        guarantees on replay."""
        return self._verified_pairs(self._prepared(vecs, id_col, vec_col))

    def stats(self) -> dict:
        snap = self.bands._snap()
        return {
            "bands_version": snap.version,
            "vectors_version": self.vectors._snap().version,
            "band_rows": self.bands.read().count(),
            "vectors": self.vectors.read().count(),
            "batches": len(snap.committed_batches),
        }


def run_embed_index_stream(
    spark: SparkSession,
    vecs_dir: str,
    index_root: str,
    checkpoint_dir: str,
    pairs_dir: str,
    *,
    dim: int,
    stream_name: str = "embed",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = 1,
    num_buckets: int = 32,
    **index_kw,
):
    """Structured-Streaming form of the embedding index — the same
    wiring as ``incremental_dedup.run_dedup_index_stream``: tail a
    partitioned vector feed (``batch_id=N`` dirs, one file per batch
    under rate limiting, ids ascending), maintain both index tables
    per micro-batch, land each batch's VERIFIED pairs under
    ``pairs_dir/batch_key=<k>``. The crash-gap between the merges and
    the pairs write recovers through ``pairs_for`` (identical result
    by WAL ordering). Returns the drain-and-stop streaming query."""
    idx = EmbeddingIndex(spark, index_root, dim=dim, **index_kw)
    if not idx.exists():
        idx.create(num_buckets=num_buckets)

    def _apply(batch_df, batch_id: int):
        key = f"{stream_name}-{batch_id}"
        pairs = idx.add_batch(batch_df, key, id_col=id_col, vec_col=vec_col)
        if pairs is None:
            pairs = idx.pairs_for(batch_df, id_col=id_col, vec_col=vec_col)
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch_key={key}")

    reader = spark.readStream.schema(
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField(vec_col, T.ArrayType(T.FloatType())),
                T.StructField("batch_id", T.IntegerType(), True),
            ]
        )
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    reader = reader.parquet(vecs_dir)
    return (
        reader.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(stream_name)
        .trigger(availableNow=True)
        .start()
    )


def replay_embeddings_incremental(
    spark: SparkSession,
    vecs: DataFrame,
    index_root: str,
    *,
    dim: int,
    n_batches: int = 3,
    splits: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stream_name: str = "vecs",
    num_buckets: int = 32,
    **index_kw,
) -> DataFrame:
    """Batch replay mirror of ``replay_documents_incremental`` for
    embeddings: contiguous id ranges through ``EmbeddingIndex``, pairs
    unioned (each batch eagerly materialized before the next mutates
    the index)."""
    idx = EmbeddingIndex(spark, index_root, dim=dim, **index_kw).create(
        num_buckets=num_buckets
    )
    lo, hi = vecs.agg(F.min(id_col), F.max(id_col)).first()
    if splits is None:
        width = (hi - lo) // n_batches + 1
        splits = [lo + (b + 1) * width for b in range(n_batches - 1)]
    bounds = [None, *sorted(splits), None]
    out = None
    for b in range(len(bounds) - 1):
        blo, bhi = bounds[b], bounds[b + 1]
        batch = vecs
        if blo is not None:
            batch = batch.where(F.col(id_col) >= blo)
        if bhi is not None:
            batch = batch.where(F.col(id_col) < bhi)
        pairs = idx.add_batch(
            batch, f"{stream_name}-{b}", id_col=id_col, vec_col=vec_col
        )
        if pairs is None:
            continue
        pairs = pairs.localCheckpoint(eager=True)
        out = pairs if out is None else out.unionByName(pairs)
    assert out is not None
    return out.distinct()
