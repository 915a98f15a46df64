"""Independent expectations for the benchmark's correctness checks.

DuckDB SQL over the very parquet files a workload scans, written from the
check semantics alone: it shares no expression with the Spark engine, so a
bug in the compiler or the fused pipeline cannot hide in the expectation.
Computed once per fixture, before anything is timed.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

import duckdb

ROLES = ("system", "user", "assistant", "tool")
TOOLS = tuple(f"tool_{i:02d}" for i in range(12))


def _in_list(values) -> str:
    return "(" + ", ".join(f"'{v}'" for v in values) + ")"


def _row_check_sql(src: str) -> str:
    """Per-check counts of the row-level checks (one row per failed check)."""
    return f"""
    SELECT
      count(*) FILTER (conv_id IS NULL) + count(*) FILTER (turn_idx IS NULL)
        + count(*) FILTER (role IS NULL) + count(*) FILTER (ts IS NULL) AS not_null,
      count(*) FILTER (conv_id IS NOT NULL
                       AND NOT regexp_full_match(conv_id, 'c[0-9]{{8}}')) AS text_regex,
      count(*) FILTER (turn_idx < 0) AS number_range,
      count(*) FILTER (role IS NOT NULL AND role NOT IN {_in_list(ROLES)})
        + count(*) FILTER (tool IS NOT NULL AND tool NOT IN {_in_list(TOOLS)}) AS enum,
      count(*) FILTER (length(text) > 4000) AS text_length,
      count(*) FILTER (ts < TIMESTAMP '2000-01-01' OR ts >= TIMESTAMP '2035-01-01') AS ts_range
    FROM {src}
    """


def _table_check_sql(src: str, dims: str) -> str:
    """Per-check counts of the uniqueness, ordering and referential checks:
    keep-first duplicate rank per (conv_id, turn_idx) by (ts, role), and
    lag over each conversation ordered by (turn_idx, ts, role). Rows with
    a NULL conv_id rank duplicates by turn_idx alone and have no ordering
    or referential checks."""
    return f"""
    WITH d AS (SELECT DISTINCT conv_id FROM {dims}),
    a AS (
      SELECT t.turn_idx, t.ts, d.conv_id IS NULL AS orphan,
        lag(t.turn_idx) OVER w AS po, lag(t.ts) OVER w AS pts,
        row_number() OVER (PARTITION BY t.conv_id, t.turn_idx
                           ORDER BY t.ts ASC NULLS FIRST, t.role ASC NULLS FIRST) AS dr
      FROM {src} t LEFT JOIN d ON t.conv_id = d.conv_id
      WHERE t.conv_id IS NOT NULL
      WINDOW w AS (PARTITION BY t.conv_id ORDER BY t.turn_idx ASC NULLS FIRST,
                   t.ts ASC NULLS FIRST, t.role ASC NULLS FIRST)
    ),
    b AS (
      SELECT row_number() OVER (PARTITION BY turn_idx
                                ORDER BY ts ASC NULLS FIRST, role ASC NULLS FIRST) AS dr
      FROM {src} WHERE conv_id IS NULL
    )
    SELECT
      (SELECT count(*) FROM a WHERE dr > 1) + (SELECT count(*) FROM b WHERE dr > 1)
        AS unique_key,
      (SELECT count(*) FROM a WHERE turn_idx - po = 0) AS order_duplicate,
      (SELECT count(*) FROM a WHERE turn_idx - po > 1) AS order_gap,
      (SELECT count(*) FROM a WHERE ts < pts AND turn_idx - po > 0) AS ts_out_of_order,
      (SELECT count(*) FROM a WHERE orphan) AS referential
    """


class Expectation:
    """DuckDB view over one workload's input files."""

    def __init__(self, work_dir: str):
        self.con = duckdb.connect()
        tmp = os.path.join(work_dir, "duckdb_tmp")
        os.makedirs(tmp, exist_ok=True)
        self.con.execute(f"SET temp_directory = '{tmp}'")
        self.con.execute("SET memory_limit = '1GB'")
        self.con.execute("SET threads = 2")

    def close(self) -> None:
        self.con.close()

    def _one(self, sql: str) -> dict:
        cur = self.con.execute(sql)
        names = [d[0] for d in cur.description]
        return dict(zip(names, cur.fetchone()))

    def register(self, name: str, files: list[str], hive: bool = False) -> None:
        """View `name` over parquet `files` (paths, globs or file: URIs);
        `hive` reads key=value directories as columns."""
        paths = [urlparse(f).path if f.startswith("file:") else f for f in files]
        listed = ", ".join(f"'{unquote(p)}'" for p in paths)
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
            f"read_parquet([{listed}], hive_partitioning = {str(hive).lower()})"
        )

    def register_changed(self, name: str, src: str, buckets: tuple[int, ...]) -> None:
        """`src` with role upper-cased in `buckets` (the incremental change)."""
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * REPLACE ("
            f"CASE WHEN bucket IN ({', '.join(map(str, buckets))}) THEN upper(role) "
            f"ELSE role END AS role) FROM {src}"
        )

    def row_checks(self, src: str) -> dict[str, int]:
        return _nonzero(self._one(_row_check_sql(src)))

    def all_checks(self, src: str, dims: str) -> dict[str, int]:
        counts = self._one(_row_check_sql(src))
        counts.update(self._one(_table_check_sql(src, dims)))
        return _nonzero(counts)

    def profile(self, src: str, group_col: str) -> dict:
        """Row count, per-column NULL counts and per-group row counts."""
        p = self._one(
            f"SELECT count(*) AS n, count(*) FILTER (turn_idx IS NULL) AS turn_idx, "
            f"count(*) FILTER (text IS NULL) AS text, count(*) FILTER (ts IS NULL) AS ts "
            f"FROM {src}"
        )
        groups = self.con.execute(
            f"SELECT CAST({group_col} AS VARCHAR), count(*) FROM {src} GROUP BY 1"
        ).fetchall()
        return {
            "n_rows": p.pop("n"),
            "n_null": p,
            "group_rows": {g: n for g, n in groups},
        }

    def manifest(self, manifest_dir: str) -> list[dict]:
        cur = self.con.execute(
            f"SELECT * FROM read_parquet('{os.path.join(manifest_dir, '*.parquet')}')"
        )
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]


def _nonzero(counts: dict) -> dict[str, int]:
    return {k: int(v) for k, v in counts.items() if v}
