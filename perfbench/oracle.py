"""Output checks against DuckDB oracles.

Every check runs after the timed phase. The oracle relations are the
engine's own DuckDB mirrors (``SINK_CLICKHOUSE_INSERT_SQL`` and
``SINK_DUAL_TABLE_SPLIT_SQL``, and each registry id's ``oracle_sql``),
evaluated by DuckDB over the same generated parquet the engine read.
Sinks are compared as multisets on their compared columns (the sink-side
``created_at`` and the ``batch_id`` partition are left out).
"""

from __future__ import annotations

import glob
import os

import duckdb

SINK_COLUMNS = 'id, statement, "timestamp", hashed_value'


def connect(fixture_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the fixture's ``customer`` table as a view;
    ``set_events`` supplies ``events``."""
    con = duckdb.connect()
    path = os.path.join(fixture_dir, "customer.parquet")
    con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{path}')")
    return con


def set_events(con, files: list[str], ts_range: tuple[str, str] | None = None):
    """Point the ``events`` view at ``files``, optionally restricted to an
    inclusive ``ts`` range."""
    where = ""
    if ts_range is not None:
        where = f" WHERE ts BETWEEN TIMESTAMP '{ts_range[0]}' " \
                f"AND TIMESTAMP '{ts_range[1]}'"
    listing = ", ".join(f"'{f}'" for f in files)
    con.execute(f"CREATE OR REPLACE VIEW events AS "
                f"SELECT * FROM read_parquet([{listing}]){where}")


def _sink_relation(sink_dir: str) -> str | None:
    files = glob.glob(os.path.join(sink_dir, "**", "*.parquet"), recursive=True)
    if not files:
        return None
    listing = ", ".join(f"'{f}'" for f in sorted(files))
    return f"SELECT {SINK_COLUMNS} FROM read_parquet([{listing}])"


def _oracles():
    from mongo_to_clickhouse_spark.queries.core import (
        SINK_CLICKHOUSE_INSERT_SQL,
        SINK_DUAL_TABLE_SPLIT_SQL,
    )

    main = f"SELECT {SINK_COLUMNS} FROM ({SINK_CLICKHOUSE_INSERT_SQL})"
    optout = (f"SELECT {SINK_COLUMNS} FROM ({SINK_DUAL_TABLE_SPLIT_SQL}) "
              f"WHERE route = 'opt_out'")
    return main, optout


def diff_ids(con, got: str | None, want: str) -> list[str]:
    """Ids of rows in one relation but not the other, as multisets."""
    if got is None:
        got = f"SELECT * FROM ({want}) WHERE false"
    sql = (f"SELECT id FROM (({got}) EXCEPT ALL ({want})) "
           f"UNION ALL SELECT id FROM (({want}) EXCEPT ALL ({got}))")
    return [r[0] for r in con.execute(sql).fetchall()]


def check_sinks(con, main_dir: str, optout_dir: str) -> dict:
    """Compare a main and an opt-out sink with the oracle over the current
    ``events`` view. Returns the mismatching ids per sink, the ids written
    more than once across both sinks, and the oracle's row counts."""
    want_main, want_optout = _oracles()
    got_main, got_optout = _sink_relation(main_dir), _sink_relation(optout_dir)
    both = " UNION ALL ".join(r for r in (got_main, got_optout) if r)
    dupes = []
    if both:
        dupes = [r[0] for r in con.execute(
            f"SELECT id FROM ({both}) GROUP BY id HAVING count(*) > 1"
        ).fetchall()]
    return {
        "main": diff_ids(con, got_main, want_main),
        "optout": diff_ids(con, got_optout, want_optout),
        "duplicates": dupes,
        "oracle_rows": con.execute(
            f"SELECT (SELECT count(*) FROM ({want_main})) + "
            f"(SELECT count(*) FROM ({want_optout}))").fetchone()[0],
    }


def sink_problems(result: dict) -> list[str]:
    out = []
    for key in ("main", "optout", "duplicates"):
        if result[key]:
            out.append(f"{key}: {len(result[key])} rows differ, "
                       f"e.g. {sorted(result[key])[:3]}")
    return out


def window_count(con) -> int:
    return con.execute("SELECT count(*) FROM events").fetchone()[0]


def dlq_batches(dlq_dir: str) -> int:
    return len(glob.glob(os.path.join(dlq_dir, "tenant=*", "batch_id=*")))


class Collected:
    """A query result collected once, standing in for its DataFrame in
    ``oracle_harness.compare`` (which reads ``collect()``, ``columns`` and
    ``schema``)."""

    def __init__(self, df) -> None:
        self.schema = df.schema
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self):
        return self._rows

    def __len__(self) -> int:
        return len(self._rows)
