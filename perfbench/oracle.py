"""Compare query outputs with their DuckDB oracles (`SparkEntry.oracleSql`).

Both sides are reduced inside DuckDB to a row count and an order-free sum of
row hashes, over columns sorted by name. Numbers are compared as DOUBLE and
everything else as text, so an INT column equals a BIGINT one holding the
same values, as in tools/check.py.
"""
import json
import os

import duckdb


def _digest(con, relation):
    cols = con.execute(f"DESCRIBE SELECT * FROM ({relation})").fetchall()
    names = sorted(c[0] for c in cols)
    types = {c[0]: c[1] for c in cols}
    numeric = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT", "DOUBLE")

    def canon(c):
        q = '"' + c.replace('"', '""') + '"'
        if types[c] in numeric or types[c].startswith("DECIMAL"):
            return f"CAST(CAST({q} AS DOUBLE) AS VARCHAR)"
        return f"CAST({q} AS VARCHAR)"

    row = " || chr(31) || ".join(f"COALESCE({canon(c)}, chr(0))" for c in names)
    n, h = con.execute(
        f"SELECT COUNT(*), SUM(hash({row})::HUGEINT) FROM ({relation})").fetchone()
    return names, n, h


def compare(run_dir, tables):
    """{query: reason} for every output in <run_dir>/out that differs from
    its oracle over the generated tables in run_dir."""
    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run_dir}/{t}.parquet'")
    bad = {}
    for q, sql in sorted(oracles.items()):
        got_dir = os.path.join(out, q)
        if not os.path.isdir(got_dir):
            bad[q] = "no output"
            continue
        try:
            got = _digest(con, f"SELECT * FROM '{got_dir}/*.parquet'")
            want = _digest(con, sql)
        except duckdb.Error as e:
            bad[q] = f"oracle error {str(e)[:200]}"
            continue
        if got[0] != want[0]:
            bad[q] = f"columns {got[0]} vs {want[0]}"
        elif got[1:] != want[1:]:
            bad[q] = f"rows/hash {got[1:]} vs {want[1:]}"
    return bad
