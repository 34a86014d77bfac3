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
  ``LakeTable.merge`` runs it once over a partial batch's events and
  their buckets' current rows, so the touch rule is coded only here.

Both are single-shuffle DataFrame ops (hash partition on the key); at
cluster scale the key (repo, path, commit) is high-cardinality so the
shuffle is skew-resistant even with hot repos.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .model import OP_DELETE


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

    The aggregate and the projection are SQL text: a py4j round trip
    per column where ``Column`` objects cost ~3 to build (and one more
    each to free), which is most of the driver time of a short read (a
    lookup's resolve is planned on every call).
    """
    other = [c for c in df.columns if c not in key_cols]
    order = _order(df, seq_col, tiebreak_col)
    return (
        df.groupBy(*key_cols)
        .agg(F.expr(f"max_by(struct({', '.join(map(quote, other))}), {order}) AS _top"))
        .selectExpr(*map(quote, key_cols), "_top.*")
    )


def quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _order(df: DataFrame, seq_col: str, tiebreak_col: str | None) -> str:
    """The LWW ordering as SQL text: ``struct(seq, tiebreak)``, without
    the tiebreak when ``df`` lacks it. Both collapses order by it."""
    cols = [seq_col] if tiebreak_col not in df.columns else [seq_col, tiebreak_col]
    return f"struct({', '.join(map(quote, cols))})"


def partial_row(op_col: str = "op", partial_col: str = "_partial") -> str:
    """SQL predicate: a partial, non-delete row — one that touches only
    its non-null columns."""
    return (
        f"coalesce({quote(partial_col)}, false) "
        f"AND {quote(op_col)} != '{OP_DELETE}'"
    )


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
    full updates, and deletes) touches every column, a delete with null
    (resetting state, whatever image the delete carried); a partial row
    touches only its non-null columns (JSON-absent ≡ null after
    from_json, so partials cannot set a column TO null — documented
    divergence, same information loss as the reference's BSON ``$set``
    map).

    A row whose ``partial_col`` is NULL is an image of current state,
    not an event: it takes part as a full image, but a key with no
    event is dropped. ``LakeTable.merge`` folds a partial batch into
    its buckets' rows this way. The collapsed row is flagged partial
    only when *every* row of the group was partial — one full image
    determines all columns.

    Same single-shuffle max_by partial-aggregation shape as lww_latest;
    one aggregate per column, built as one SQL-text struct so planning
    it costs a constant number of py4j round trips.
    """
    latest = [c for c in (seq_col, op_col, tiebreak_col) if c in df.columns]
    payload = [c for c in df.columns if c not in {*key_cols, *latest, partial_col}]
    order, part = _order(df, seq_col, tiebreak_col), partial_row(op_col, partial_col)
    op, flag = quote(op_col), quote(partial_col)
    aggs = [f"max_by({c}, {order}) AS {c}" for c in map(quote, latest)]
    aggs.append(
        f"CASE WHEN count({flag}) > 0 "
        f"THEN bool_and(coalesce({part}, false)) END AS {flag}"
    )
    aggs += [
        # null ordering rows are ignored by max_by ⇒ only touchers count
        f"max_by(CASE WHEN {op} = '{OP_DELETE}' THEN NULL ELSE {c} END, "
        f"CASE WHEN {c} IS NOT NULL OR NOT ({part}) THEN {order} END) AS {c}"
        for c in map(quote, payload)
    ]
    return (
        df.groupBy(*key_cols)
        .agg(F.expr(f"struct({', '.join(aggs)}) AS _top"))
        .where(f"_top.{flag} IS NOT NULL")
        .selectExpr(*map(quote, key_cols), "_top.*")
    )
