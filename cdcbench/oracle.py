"""Independent DuckDB oracle for every result the benchmark checks.

The expected table is last-writer-wins over the raw event parquet, computed
by DuckDB alone: per doc_id the event with the highest (lsn, op_rank) wins,
and a delete winner removes the doc. The engine's table, its lookups and
its change feed are compared with that, token arrays included.
"""

from __future__ import annotations

import duckdb

PAYLOAD = ("tokens", "n_tok", "source")

_OP_RANK = (
    "CASE op WHEN 'insert' THEN 0 WHEN 'update' THEN 1 "
    "WHEN 'upsert' THEN 2 WHEN 'delete' THEN 3 END"
)


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def state_sql(files: list[str]) -> str:
    """Live rows after applying every event in ``files``."""
    return f"""
    SELECT doc_id, tokens, n_tok, source FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY lsn DESC, {_OP_RANK} DESC) AS rn
      FROM read_parquet({_files_sql(files)})
    ) WHERE rn = 1 AND op <> 'delete'
    """


class Oracle:
    """DuckDB connection holding the expected final state as table ``exp``."""

    def __init__(self, files: list[str]):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE exp AS {state_sql(files)}")

    def live_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM exp").fetchone()[0]

    def table_mismatches(self, actual_dir: str) -> int:
        """Rows that differ between ``exp`` and the parquet the engine wrote
        (missing, extra, duplicated or with any differing column)."""
        act = f"read_parquet('{actual_dir}/*.parquet')"
        dup = self.con.execute(
            f"SELECT count(*) - count(DISTINCT doc_id) FROM {act}"
        ).fetchone()[0]
        differ = " OR ".join(f"e.{c} IS DISTINCT FROM a.{c}" for c in PAYLOAD)
        bad = self.con.execute(
            f"""
            SELECT count(*) FROM exp e FULL OUTER JOIN {act} a
              ON e.doc_id = a.doc_id
            WHERE e.doc_id IS NULL OR a.doc_id IS NULL OR {differ}
            """
        ).fetchone()[0]
        return int(dup) + int(bad)

    def expected_rows(self, keys: list[str]) -> dict:
        rows = self.con.execute(
            "SELECT doc_id, tokens, n_tok, source FROM exp "
            "WHERE doc_id IN (SELECT unnest(?))",
            [list(keys)],
        ).fetchall()
        return {r[0]: (list(r[1]) if r[1] is not None else None, r[2], r[3]) for r in rows}

    def lookup_ok(self, keys: list[str], got_rows: list[tuple]) -> bool:
        """``got_rows``: (doc_id, tokens, n_tok, source) tuples the engine
        returned for ``keys``."""
        want = self.expected_rows(keys)
        got = {}
        for doc_id, tokens, n_tok, source in got_rows:
            if doc_id in got:
                return False
            got[doc_id] = (list(tokens) if tokens is not None else None, n_tok, source)
        return got == want

    def change_counts(self, files_a: list[str], files_b: list[str]) -> dict:
        """Net change-feed row counts per ``_change_type`` between the states
        after ``files_a`` and after ``files_b`` (an update emits a pre and a
        post image)."""
        differ = " OR ".join(f"a.{c} IS DISTINCT FROM b.{c}" for c in PAYLOAD)
        row = self.con.execute(
            f"""
            WITH a AS ({state_sql(files_a)}), b AS ({state_sql(files_b)})
            SELECT
              count(*) FILTER (WHERE a.doc_id IS NULL),
              count(*) FILTER (WHERE b.doc_id IS NULL),
              count(*) FILTER (WHERE a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
                               AND ({differ}))
            FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
            """
        ).fetchone()
        ins, dels, upd = (int(x) for x in row)
        out = {"insert": ins, "delete": dels, "update_pre": upd, "update_post": upd}
        return {k: v for k, v in out.items() if v}

    def close(self) -> None:
        self.con.close()
