"""Independent correctness oracle: the expected violation rows of an
input, computed with DuckDB straight from its parquet files.

Only ``(conv_id, turn_idx, code)`` is compared. The oracle yields
per-code counts and an order-independent digest (row count plus the sum
of DuckDB's 64-bit row hashes, so duplicated rows count twice); an output
matches when both are equal. The same DuckDB functions digest the
engine's output, so no Spark code is on the checking side.
"""

from __future__ import annotations

import duckdb

from gen import ALLOWED_FIRST, ALLOWED_TRANSITIONS, SPEC

def _in_list(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


def _row_local_sql() -> str:
    props = SPEC["properties"]
    enum = _in_list(props["role"]["enum"])
    lo, hi = props["text"]["minLength"], props["text"]["maxLength"]
    required = "\nUNION ALL\n".join(
        f"SELECT conv_id, turn_idx, 'MissingRequired' AS code FROM t "
        f"WHERE {c} IS NULL" for c in SPEC["required"])
    return f"""
SELECT conv_id, turn_idx, 'NotInEnum' AS code FROM t
WHERE role IS NOT NULL AND role NOT IN ({enum})
UNION ALL
SELECT conv_id, turn_idx, 'TooShort' FROM t WHERE length(text) < {lo}
UNION ALL
SELECT conv_id, turn_idx, 'TooLong' FROM t WHERE length(text) > {hi}
UNION ALL
{required}"""


def _cross_row_sql(streaming: bool) -> str:
    pairs = _in_list(f"{a}>{b}" for a, b in ALLOWED_TRANSITIONS)
    first = _in_list(ALLOWED_FIRST)
    dup = ("SELECT conv_id, turn_idx, 'DuplicateKey' AS code FROM w "
           "WHERE peers > 1\nUNION ALL" if not streaming else "")
    return f"""
w AS (SELECT *,
        row_number() OVER o - 1 AS pos,
        count(*) OVER (PARTITION BY conv_id, turn_idx) AS peers,
        lag(ts) OVER o AS prev_ts,
        lag(role) OVER o AS prev_role,
        lag(tool) OVER o AS prev_tool,
        lead(role) OVER o AS next_role
      FROM t WINDOW o AS (PARTITION BY conv_id ORDER BY turn_idx))
{dup}
SELECT conv_id, turn_idx, 'TurnGap' AS code FROM w WHERE turn_idx <> pos
UNION ALL
SELECT conv_id, turn_idx, 'NonMonotonicTs' FROM w
WHERE prev_ts IS NOT NULL AND ts < prev_ts
UNION ALL
SELECT conv_id, turn_idx, 'BadFirstRole' FROM w
WHERE role IS NOT NULL AND prev_role IS NULL AND role NOT IN ({first})
UNION ALL
SELECT conv_id, turn_idx, 'BadRoleTransition' FROM w
WHERE role IS NOT NULL AND prev_role IS NOT NULL
  AND prev_role || '>' || role NOT IN ({pairs})
UNION ALL
SELECT conv_id, turn_idx, 'ToolResultWithoutCall' FROM w
WHERE role = 'tool' AND (prev_role IS NULL OR prev_role <> 'assistant'
                         OR prev_tool IS NULL)
UNION ALL
SELECT conv_id, turn_idx, 'ToolCallWithoutResult' FROM w
WHERE role = 'assistant' AND tool IS NOT NULL
  AND (next_role IS NULL OR next_role <> 'tool')"""


def _summary(con, relation_sql: str) -> dict:
    """Per-code counts and digest of a ``(conv_id, turn_idx, code)``
    relation."""
    con.execute(f"CREATE TEMP TABLE r AS {relation_sql}")
    by_code = dict(con.execute(
        "SELECT code, count(*) FROM r GROUP BY code").fetchall())
    n, digest = con.execute(
        "SELECT count(*), coalesce(sum(hash(conv_id, turn_idx::BIGINT, "
        "code)::HUGEINT), 0)::VARCHAR FROM r").fetchone()
    return {"rows": int(n), "digest": digest,
            "by_code": {k: int(v) for k, v in sorted(by_code.items())}}


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def expected(data_dir: str, *, streaming: bool = False) -> dict:
    """Oracle for an input directory. The batch engine emits row-local
    and every cross-row code; the streaming checks emit only the
    cross-row codes, without ``DuplicateKey``."""
    con = _connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM "
                f"read_parquet('{data_dir}/*.parquet')")
    parts = [f"WITH {_cross_row_sql(streaming)}"]
    if not streaming:
        parts.append(f"UNION ALL {_row_local_sql()}")
    return _summary(con, "\n".join(parts))


def observed(files_glob: str) -> dict:
    """The same summary over violation rows the engine wrote."""
    return _summary(_connect(), f"SELECT conv_id, turn_idx, code FROM "
                                f"read_parquet('{files_glob}')")


def full_rows_equal(glob_a: str, glob_b: str) -> bool:
    """Whether two outputs hold the same multiset of full violation rows
    (instance path and message included)."""
    cols = "conv_id, turn_idx, instance_path, code, message"
    con = _connect()
    q = (f"SELECT count(*) FROM (SELECT {cols} FROM read_parquet('{{}}') "
         f"EXCEPT ALL SELECT {cols} FROM read_parquet('{{}}'))")
    return (con.execute(q.format(glob_a, glob_b)).fetchone()[0] == 0
            and con.execute(q.format(glob_b, glob_a)).fetchone()[0] == 0)
