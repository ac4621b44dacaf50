"""Independent expected results, computed with DuckDB from the generated
input files, and the order-insensitive output fingerprint both sides use.

A fingerprint is ``(rows, sum(h))`` over the rows of a table, where ``h``
mixes the key, the log position and the deleted flag of one row.  All
arithmetic stays below 2**63, so Spark (ANSI) and DuckDB agree exactly.
"""

from __future__ import annotations

import duckdb

P1, P2, M = 2147483647, 2147483629, 1000000007


def row_hash_sql(key: str, pos: str, deleted: str) -> str:
    """SQL expression of ``h`` over BIGINT ``key``/``pos`` and a boolean
    ``deleted`` (valid in both Spark SQL and DuckDB)."""
    d = f"(CASE WHEN {deleted} THEN 1 ELSE 0 END)"
    return (f"((({key} * 1000003 + {pos}) % {P1}) * "
            f"(({pos} * 7919 + {key} * 31 + {d}) % {P2}) % {M})")


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def latest_per_key(files: list[str]) -> tuple[int, int]:
    """Fingerprint of the DEDUPE result: per ``user_id`` the event with
    the largest (ms timestamp, log position), deletes kept as
    tombstones."""
    h = row_hash_sql("user_id", "event_id", "event_type = 'error'")
    q = f"""
        SELECT count(*), coalesce(sum({h}), 0) FROM (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                     ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
          FROM read_parquet({_files_sql(files)}))
        WHERE rn = 1"""
    with _con() as con:
        n, s = con.execute(q).fetchone()
    return int(n), int(s)


def csv_output(csv_dir: str, columns: list[str], key: str, pos: str,
               deleted: str) -> tuple[int, int]:
    """Fingerprint of a headerless CSV table read in manifest column
    order (every column as text, then the three fingerprint columns
    cast)."""
    cols = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in columns) + "}"
    h = row_hash_sql(f"CAST({key} AS BIGINT)", f"CAST({pos} AS BIGINT)",
                     f"CAST({deleted} AS BOOLEAN)")
    q = f"""SELECT count(*), coalesce(sum({h}), 0) FROM read_csv(
              '{csv_dir}/*.csv', header = false, delim = ',',
              quote = '"', escape = '"', nullstr = 'KBC__NULL',
              columns = {cols})"""
    with _con() as con:
        n, s = con.execute(q).fetchone()
    return int(n), int(s)
