"""Expected outputs of every checked operation, from the gate's own DuckDB
oracle SQL (graft.SparkEntry.oracleSql) over the same parquet tables.

Rows are keyed by the canonical text of their exact columns (see
Check.canon on the JVM side). A `quantile_cont(x, q) AS c` column of the
oracle becomes the interval of data values that the engine's t-digest
estimate may take: the sorted group values at ranks (q - EPS) n - 1 and
(q + EPS) n, EPS being the sketch's rank error that AggregatorSpec pins.
"""
import json
import math
import re
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPS = 0.02
QUANTILE = re.compile(r"quantile_cont\((\w+),\s*([0-9.]+)\)\s+AS\s+(\w+)", re.I)


def canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "Btrue" if v else "Bfalse"
    if isinstance(v, float):
        return "D%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, int):
        return f"I{v}"
    return f"S{v}"


def bounds(values, q):
    n = len(values)
    lo = values[max(0, math.floor((q - EPS) * n) - 1)]
    hi = values[min(n - 1, math.ceil((q + EPS) * n))]
    return [lo, hi]


def expected(con, sql):
    quants = {alias: float(q) for _, q, alias in QUANTILE.findall(sql)}
    cur = con.execute(QUANTILE.sub(
        lambda m: f"list({m[1]} ORDER BY {m[1]}) AS {m[3]}", sql))
    cols = [d[0] for d in cur.description]
    keys = sorted(c for c in cols if c not in quants)
    qcols = sorted(quants)
    rows = []
    for r in cur.fetchall():
        cell = dict(zip(cols, r))
        rows.append(["\x01".join(canon(cell[c]) for c in keys),
                     [bounds(cell[c], quants[c]) for c in qcols]])
    return {"columns": cols, "quantiles": qcols, "rows": rows}


def write_expected(data_dir, sql_json, out):
    """`sql_json` maps each check name to its oracle SQL (Main oracle-sql)."""
    with open(sql_json) as f:
        sql = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    exp = {name: expected(con, q) for name, q in sql.items()}
    with open(out, "w") as f:
        json.dump(exp, f)
