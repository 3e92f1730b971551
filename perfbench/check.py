"""Correctness gate: DuckDB runs each op's oracle SQL
(`SparkEntry.oracleSql`) on the generated tables and the result must
equal the parquet the timed run wrote, as a multiset of rows. Values
compare exactly after the same normalisation as tools/compare.py
(floats by repr, NaN equal to NaN); row order is not compared."""
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _rows(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def compare(inputs_dir, out_dir, op, sql):
    """None when the op's output matches its oracle, else the cause."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 4}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{inputs_dir}/{t}.parquet')")
        try:
            exp_cols, exp = _rows(con.execute(sql))
        except Exception as e:  # noqa: BLE001 - reported as the cause
            return f"oracle error: {str(e).splitlines()[0][:200]}"
        try:
            got_cols, got = _rows(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{op}/*.parquet')"))
        except Exception as e:  # noqa: BLE001
            return f"output unreadable: {str(e).splitlines()[0][:200]}"
        if got_cols != exp_cols:
            return f"columns {got_cols} != oracle {exp_cols}"
        if len(got) != len(exp):
            return f"rows {len(got)} != oracle {len(exp)}"
        for g, e in zip(got, exp):
            if g != e:
                return f"row {g!r:.160} != oracle {e!r:.160}"
        return None
    finally:
        con.close()
