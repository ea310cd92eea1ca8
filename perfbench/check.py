"""Output checks: DuckDB runs of the library's oracle SQL over the
generated parquet, and an order-insensitive exact row comparison.

    python3 check.py CORPUS_DIR SQL_JSON OUT_PICKLE

runs each query of the JSON list and pickles the list of (columns, rows),
so the oracles can run in a process of their own.
"""

from __future__ import annotations

import json
import math
import pickle
import sys

import duckdb

TABLES = ("documents", "embeddings", "kv")


class Oracle:
    """A DuckDB connection with one view per generated parquet table."""

    def __init__(self, corpus_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{corpus_dir}/{t}.parquet')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def close(self) -> None:
        self.con.close()


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, (list, tuple)):
        return repr([_norm(x) for x in v])
    return repr(v)


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    """(columns, rows) of a pyarrow Table."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if data else []


def spark_rows(rows) -> tuple[list[str], list[tuple]]:
    """(columns, rows) of collected Spark Rows; columns are empty when
    nothing came back, which compares equal only to an empty oracle."""
    if not rows:
        return [], []
    return list(rows[0].__fields__), [tuple(r) for r in rows]


def mismatch(got: tuple[list[str], list[tuple]],
             want: tuple[list[str], list[tuple]]) -> str | None:
    """None when both sides hold the same columns and the same multiset
    of rows (exact values, no tolerance); else a short description."""
    gcols, grows = got
    wcols, wrows = want
    if not grows and not wrows:
        return None
    if sorted(gcols) != sorted(wcols):
        return f"columns {sorted(gcols)} != {sorted(wcols)}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != {len(wrows)}"
    gi = [gcols.index(c) for c in sorted(gcols)]
    wi = [wcols.index(c) for c in sorted(wcols)]
    gset = sorted(tuple(_norm(r[i]) for i in gi) for r in grows)
    wset = sorted(tuple(_norm(r[i]) for i in wi) for r in wrows)
    if gset != wset:
        bad = [(a, b) for a, b in zip(gset, wset) if a != b]
        return f"{len(bad)} rows differ, first {bad[:1]}"
    return None


def main(corpus_dir: str, sql_json: str, out_pickle: str) -> None:
    with open(sql_json) as f:
        queries = json.load(f)
    oracle = Oracle(corpus_dir)
    try:
        rows = [oracle.rows(sql) for sql in queries]
    finally:
        oracle.close()
    with open(out_pickle, "wb") as f:
        pickle.dump(rows, f)


if __name__ == "__main__":
    main(*sys.argv[1:])
