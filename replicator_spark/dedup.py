"""Last-writer-wins dedup — the explicit form of the reference's implicit
single-consumer in-order apply loop (``pkg/replicator/service.go:391-413``;
positions totally ordered per ``pkg/position/mysql_position.go:78-98``).

One layer, two shapes:

- ``lww_latest`` — one surviving row per key: the max-``seq`` image.
  Parallel-safe replacement for "apply in log order". It also drops
  redelivered events — the at-least-once redelivery the reference's
  Kafka auto-commit can produce (``pkg/streams/kafka_stream.go:370``) —
  since a redelivery carries an identical ``(key, seq)`` and the
  ``event_id`` tiebreak keeps exactly one copy.
- ``lww_collapse_partial`` — the same collapse for batches carrying
  partial updates: each column takes the latest event that touched it.

Both are single-shuffle DataFrame ops (hash partition on the key); at
cluster scale the key (repo, path, commit) is high-cardinality so the
shuffle is skew-resistant even with hot repos.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lww_latest(
    df: DataFrame,
    key_cols: Sequence[str],
    seq_col: str = "seq",
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """Keep, per key, only the row with the greatest ``seq``.

    Implemented as ``max_by(struct(<all other cols>), struct(seq,
    tiebreak))`` — an aggregation with map-side partial combine, so
    redelivered/superseded rows collapse *before* the shuffle (the
    struct-typed buffer makes Spark plan SortAggregate rather than
    HashAggregate, but the partial/final split is what matters). That
    beats the window/row_number formulation (full shuffle of every row,
    then sort + rank) on contended keys, which is exactly the hot-repo
    case. ``tiebreak_col`` makes the result deterministic if
    two events ever share a seq (should not happen for a real LSN;
    belt and braces).

    The aggregate (``latest_by``) and the projection are SQL text: a
    py4j round trip per column where ``Column`` objects cost ~3 to
    build (and one more each to free), which is most of the driver time
    of a short read (a lookup's resolve is planned on every call).
    """
    other = [c for c in df.columns if c not in key_cols]
    if tiebreak_col not in df.columns:
        tiebreak_col = None
    top = latest_by(f"struct({', '.join(map(quote, other))})", seq_col, tiebreak_col)
    return (
        df.groupBy(*key_cols)
        .agg(F.expr(f"{top} AS _top"))
        .selectExpr(*map(quote, key_cols), "_top.*")
    )


def latest_by(value: str, seq_col: str, tiebreak_col: str | None = None) -> str:
    """The LWW aggregate as SQL text: ``value`` (an SQL expression) of
    the group's row with the greatest ``(seq_col, tiebreak_col)``. The
    one statement of the ordering rule — ``lww_latest`` and the mor
    partial upgrade (``LakeTable._upgrade_partials``) both take a key's
    latest image through it, so they cannot disagree."""
    ord_cols = [seq_col] if tiebreak_col is None else [seq_col, tiebreak_col]
    return f"max_by({value}, struct({', '.join(map(quote, ord_cols))}))"


def quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lww_collapse_partial(
    df: DataFrame,
    key_cols: Sequence[str],
    seq_col: str = "seq",
    partial_col: str = "_partial",
    tiebreak_col: str | None = "event_id",
    op_col: str = "op",
) -> DataFrame:
    """Partial-update-aware LWW collapse: one row per key where each
    payload column carries the value of the latest event that *touched*
    it (reference ``$set``/UpdateFields semantics — ``pkg/estuary/
    mongo.go:345-347``, ``pkg/models/models.go:37``).

    Touch rules: a full-image row (``partial_col`` false — inserts,
    full updates, and deletes) touches every column (deletes with null,
    resetting state); a partial row touches only its non-null columns
    (JSON-absent ≡ null after from_json, so partials cannot set a column
    TO null — documented divergence, same information loss as the
    reference's BSON ``$set`` map).

    The collapsed row is itself flagged partial only when *every* event
    in the group was partial — one full image in the group determines
    all columns, so the result is a full image.

    Same single-shuffle max_by partial-aggregation shape as lww_latest;
    one aggregate expression per column.
    """
    engine_cols = {seq_col, op_col, partial_col}
    if tiebreak_col is not None and tiebreak_col in df.columns:
        engine_cols.add(tiebreak_col)
    payload = [c for c in df.columns if c not in set(key_cols) | engine_cols]

    part = F.coalesce(F.col(partial_col), F.lit(False)) & (
        F.col(op_col) != F.lit("delete")
    )
    ord_cols = [F.col(seq_col)]
    if tiebreak_col is not None and tiebreak_col in df.columns:
        ord_cols.append(F.col(tiebreak_col))
    ord_ = F.struct(*ord_cols)

    aggs = [
        F.max_by(F.col(seq_col), ord_).alias(seq_col),
        F.max_by(F.col(op_col), ord_).alias(op_col),
        # all-partial group ⇒ still partial relative to the table
        F.min(F.when(part, 1).otherwise(0)).cast("boolean").alias(partial_col),
    ]
    if tiebreak_col is not None and tiebreak_col in df.columns:
        aggs.append(F.max_by(F.col(tiebreak_col), ord_).alias(tiebreak_col))
    for c in payload:
        touch = (~part) | F.col(c).isNotNull()
        # null ordering rows are ignored by max_by ⇒ only touchers count
        aggs.append(F.max_by(F.col(c), F.when(touch, ord_)).alias(c))
    return df.groupBy(*[F.col(k) for k in key_cols]).agg(*aggs)
