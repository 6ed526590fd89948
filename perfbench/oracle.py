"""Independent correctness oracle: last-writer-wins state recomputed in DuckDB
from the raw feed files.

Shares no code with the engine. The winner order restates the landing
table's contract (``schemas.LWW_ORDER``): higher revision height, then live
before deleted, then the greater revision string, then the later seq. Text
is compared after stripping raw and escaped NULs, as the importer does.
"""

from __future__ import annotations

import duckdb

# raw NUL, or '\u0000' preceded by one or more backslashes
_NUL_RE = "(\\\\+u0000)|\\x00"

_STATE_SQL = """
CREATE OR REPLACE TABLE oracle AS
WITH ev AS (
    SELECT seq, source, op, id, rev,
           regexp_replace(doc, '{nul}', '', 'g') AS d
    FROM read_parquet({files})
    WHERE source IN ({sources})
), typed AS (
    SELECT coalesce(json_extract_string(d, '$.conv_id'), split_part(id, ':', 1)) AS conv_id,
           coalesce(CAST(json_extract(d, '$.turn_idx') AS INTEGER),
                    CAST(split_part(id, ':', 2) AS INTEGER)) AS turn_idx,
           json_extract_string(d, '$.role') AS role,
           json_extract_string(d, '$.text') AS text,
           json_extract_string(d, '$.tool') AS tool,
           op = 'delete' AS _deleted,
           rev AS _rev,
           CAST(split_part(rev, '-', 1) AS BIGINT) AS rev_height,
           seq
    FROM ev
)
SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY rev_height DESC, _deleted ASC, _rev DESC, seq DESC) AS rn
    FROM typed)
WHERE rn = 1
"""


def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in items) + "]"


COLS = "conv_id, turn_idx, role, text, tool, _deleted, _rev, seq"


class Oracle:
    def __init__(self, feed_files: list[str], sources: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            _STATE_SQL.format(
                nul=_NUL_RE, files=_sql_list(feed_files), sources=_sql_list(sources)[1:-1]
            )
        )

    def keys(self) -> int:
        return self.con.execute("SELECT count(*) FROM oracle").fetchone()[0]

    def mismatched_keys(self, engine_parquet: str) -> int:
        """Keys whose row differs between the oracle and the engine's
        reconciled state (written to parquet), missing or extra included."""
        q = f"""
        WITH e AS (SELECT {COLS} FROM read_parquet({_sql_list([engine_parquet + "/*.parquet"])})),
             o AS (SELECT {COLS} FROM oracle),
             diff AS ((SELECT * FROM e EXCEPT ALL SELECT * FROM o)
                      UNION ALL (SELECT * FROM o EXCEPT ALL SELECT * FROM e))
        SELECT count(DISTINCT (conv_id, turn_idx)) FROM diff
        """
        return self.con.execute(q).fetchone()[0]

    def mismatched_groups(self, engine_parquet: str, sql_cols: str, agg_sql: str) -> int:
        """Groups whose aggregate differs from a GROUP BY over the oracle's
        live rows. ``agg_sql`` lists the aggregates in ``sql_cols`` order."""
        q = f"""
        WITH e AS (SELECT {sql_cols} FROM read_parquet({_sql_list([engine_parquet + "/*.parquet"])})),
             o AS (SELECT conv_id, {agg_sql} FROM oracle WHERE NOT _deleted GROUP BY conv_id),
             diff AS ((SELECT * FROM e EXCEPT ALL SELECT * FROM o)
                      UNION ALL (SELECT * FROM o EXCEPT ALL SELECT * FROM e))
        SELECT count(DISTINCT conv_id) FROM diff
        """
        return self.con.execute(q).fetchone()[0]

    def groups(self) -> int:
        return self.con.execute(
            "SELECT count(DISTINCT conv_id) FROM oracle WHERE NOT _deleted"
        ).fetchone()[0]

    def close(self) -> None:
        self.con.close()
