"""Correctness checks, run after the timed region.

The oracle is DuckDB over the generated feed parquet — the same bytes
the program read — and never calls the program. Its state rule is the
shape of ``SQL_cdc_partial_update_merge``: per key and per payload
column, the last non-null value after the key's last delete. For feeds
without partial updates every non-delete event carries the full image,
so the rule reduces to plain last-writer-wins on seq.

Engine results are written to parquet by Spark and compared with the
oracle as multisets (``EXCEPT ALL`` both ways) on
``(repo, path, commit, _last_seq, _deleted, lang, sha256(content))``.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

COLS = 'repo, path, "commit", _last_seq, _deleted, lang, sha'


def _state_sql(feed_glob: str, cut: int | None) -> str:
    where = f"WHERE seq <= {int(cut)}" if cut is not None else ""
    return f"""
    WITH ev AS (
      SELECT key.repo AS repo, key.path AS path, key."commit" AS "commit",
             seq, op,
             json_extract_string(doc, '$.lang') AS lang,
             json_extract_string(doc, '$.content') AS content
      FROM read_parquet('{feed_glob}', hive_partitioning = false)
      {where}
    ),
    k AS (
      SELECT repo, path, "commit", max(seq) AS last_seq,
             coalesce(max(CASE WHEN op = 'delete' THEN seq END), -1) AS dseq
      FROM ev GROUP BY 1, 2, 3
    ),
    live AS (
      SELECT ev.repo, ev.path, ev."commit",
             max_by(lang, CASE WHEN lang IS NOT NULL THEN seq END) AS lang,
             max_by(content, CASE WHEN content IS NOT NULL THEN seq END) AS content
      FROM ev JOIN k USING (repo, path, "commit")
      WHERE ev.seq > k.dseq AND ev.op <> 'delete'
      GROUP BY 1, 2, 3
    )
    SELECT k.repo, k.path, k."commit", k.last_seq AS _last_seq,
           (k.last_seq = k.dseq) AS _deleted,
           live.lang, sha256(live.content) AS sha
    FROM k LEFT JOIN live USING (repo, path, "commit")
    """


class Oracle:
    """Expected table states for one generated feed."""

    def __init__(self, feed_dir: str, work: str):
        self.glob = os.path.join(feed_dir, "*", "*.parquet")
        self.con = duckdb.connect(os.path.join(work, "oracle.duckdb"))
        self.con.execute(f"SET threads = {os.cpu_count() or 1}")
        self._cuts: dict[int | None, str] = {}

    def close(self) -> None:
        self.con.close()

    def _state(self, cut: int | None) -> str:
        """Name of a materialized state table as of ``seq <= cut``."""
        if cut not in self._cuts:
            name = f"state_{len(self._cuts)}"
            self.con.execute(f"CREATE TABLE {name} AS {_state_sql(self.glob, cut)}")
            self._cuts[cut] = name
        return self._cuts[cut]

    def _diff(self, got_sql: str, want_sql: str) -> tuple[int, int]:
        missing = self.con.execute(
            f"SELECT count(*) FROM (({want_sql}) EXCEPT ALL ({got_sql}))"
        ).fetchone()[0]
        extra = self.con.execute(
            f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql}))"
        ).fetchone()[0]
        return int(missing), int(extra)

    def check_live(self, got_parquet: str) -> tuple[int, int]:
        """Final resolved table (tombstones excluded) vs the oracle."""
        st = self._state(None)
        return self._diff(
            f"SELECT {COLS} FROM read_parquet('{got_parquet}/*.parquet')",
            f"SELECT {COLS} FROM {st} WHERE NOT _deleted",
        )

    def check_changes(
        self, got_parquet: str, polls: list[tuple[int, int, int | None]]
    ) -> tuple[int, int]:
        """Every poll ``(poll_id, since_seq, cut)``: rows (tombstones
        included) whose last change is after ``since_seq``."""
        want = " UNION ALL ".join(
            f"SELECT {pid} AS poll_id, {COLS} FROM {self._state(cut)} "
            f"WHERE _last_seq > {int(since)}"
            for pid, since, cut in polls
        )
        return self._diff(
            f"SELECT poll_id, {COLS} FROM read_parquet("
            f"'{got_parquet}/*/*.parquet', hive_partitioning = true)",
            want,
        )

    def lookup_rows(self, repo: str, path: str, cut: int | None) -> list[tuple]:
        rows = self.con.execute(
            f'SELECT repo, path, "commit", lang, sha FROM {self._state(cut)} '
            "WHERE NOT _deleted AND repo = ? AND path = ?",
            [repo, path],
        ).fetchall()
        return sorted(rows)


def lookup_tuples(rows) -> list[tuple]:
    """Collected lookup Rows in the oracle's ``lookup_rows`` form."""
    return sorted(
        (
            r["repo"], r["path"], r["commit"], r["lang"],
            hashlib.sha256(r["content"].encode()).hexdigest()
            if r["content"] is not None else None,
        )
        for r in rows
    )
