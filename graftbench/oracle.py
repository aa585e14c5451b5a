"""Correctness checks of one benchmark run, in DuckDB, outside the timed loop.

olap / corpus: each query's answer (the first timed one; later ones must
equal it inside the run) is compared with its DuckDB twin from
SparkEntry.oracleSql, canonicalised the way tools/check.py does: columns
sorted by name, values normalised, rows sorted.

table_churn: the run's log of change batches, key-range deletes and serve
answers is replayed on a plain DuckDB table (no graft code), and the final
table, the MV contents and every logged serve answer are compared with it.

check() returns a list of problems; empty means correct.
"""
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem",
          "documents", "embeddings"]


def canon_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if v is None:
        return "NULL"
    return str(v)


def canon(rows, cols):
    """Sort columns by name, normalise values, sort rows (tools/check.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon_value(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def compare(name, got_cols, got_rows, exp_cols, exp_rows):
    """Compare two answers after canonicalising both (canon is idempotent,
    so an already canonical side compares as is)."""
    g_cols, g = canon(got_rows, got_cols)
    e_cols, e = canon(exp_rows, exp_cols)
    if g_cols != e_cols:
        return [f"{name}: columns {g_cols} != {e_cols}"]
    if len(g) != len(e):
        return [f"{name}: {len(g)} rows != {len(e)} expected"]
    bad = [(a, b) for a, b in zip(g, e) if a != b]
    if bad:
        return [f"{name}: {len(bad)} rows differ; first: got {bad[0][0]} "
                f"expected {bad[0][1]}"]
    return []


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    return con


def parquet_rows(con, path):
    r = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    return r.columns, r.fetchall()


def expected(con, data_dir, sql):
    """The oracle's answer to `sql` as (columns, rows). The tables of a
    data directory never change, so the answer is computed once per
    directory and query text and cached beside the tables."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(data_dir + ".oracle", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        return cached["cols"], [tuple(r) for r in cached["rows"]]
    exp = con.sql(sql)
    cols, rows = canon(exp.fetchall(), exp.columns)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump({"cols": cols, "rows": rows}, f)
    os.replace(path + ".tmp", path)
    return cols, rows


def check_queries(data_dir, run_dir):
    con = connect(data_dir)
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    problems = []
    for name in sorted(sql):
        path = os.path.join(run_dir, "results", name)
        if not glob.glob(f"{path}/*.parquet"):
            problems.append(f"{name}: no answer to check")
            continue
        g_cols, g_rows = parquet_rows(con, path)
        e_cols, e_rows = expected(con, data_dir, sql[name])
        problems += compare(name, g_cols, g_rows, e_cols, e_rows)
    return problems


def _typed(logged, duck_type):
    """A logged answer value (a string) as the Python type DuckDB returns
    for a column of `duck_type`."""
    t = str(duck_type)
    if logged == "NULL":
        return None
    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT"):
        return int(logged)
    if t in ("DOUBLE", "FLOAT"):
        return float(logged)
    if t.startswith("DECIMAL"):
        return decimal.Decimal(logged)
    if t == "BOOLEAN":
        return logged == "true"
    return logged


class Replay:
    """The orders table replayed from the log in DuckDB."""

    SERVES = {
        "mv_agg": """SELECT o_custkey, COUNT(*) AS n,
            CAST(SUM(price) AS DOUBLE) AS total FROM {t}
            WHERE o_custkey >= {lo} AND o_custkey < {hi}
            GROUP BY o_custkey""",
        "key_range": """SELECT o_orderkey, o_custkey, o_orderstatus,
            CAST(price AS DOUBLE) AS price FROM {t}
            WHERE o_orderkey >= {lo} AND o_orderkey < {hi}""",
        "time_travel": """SELECT COUNT(*) AS n,
            CAST(SUM(price) AS DOUBLE) AS total FROM snap_{version}""",
    }

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute(f"""CREATE TABLE t AS SELECT o_orderkey, o_custkey,
            o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
            FROM '{data_dir}/orders.parquet'""")

    def apply_batch(self, rows):
        keys = ",".join(r[0] for r in rows)
        self.con.execute(f"DELETE FROM t WHERE o_orderkey IN ({keys})")
        ups = [r for r in rows if r[4] == "U"]
        if ups:
            values = ",".join(f"({k}, {c}, '{st}', {p})"
                              for k, c, st, p, _ in ups)
            self.con.execute(f"INSERT INTO t VALUES {values}")

    def serve(self, ev):
        sql = self.SERVES[ev["kind"]].format(
            t="t", **{k: int(v) for k, v in ev.items()
                      if k in ("lo", "hi", "version")})
        exp = self.con.sql(sql)
        typed = [tuple(_typed(v, t) for v, t in zip(row, exp.types))
                 for row in ev["rows"]]
        where = " ".join(sql.split("FROM")[-1].split())
        return compare(f"serve {ev['kind']} {where}", exp.columns, typed,
                       exp.columns, exp.fetchall())


def check_churn(data_dir, run_dir):
    with open(os.path.join(run_dir, "churn", "log.jsonl")) as f:
        events = [json.loads(line) for line in f if line.strip()]
    needed = {int(e["version"]) for e in events if e["kind"] == "time_travel"}
    r = Replay(data_dir)
    problems = []
    for ev in events:
        kind = ev["kind"]
        if kind == "batch":
            r.apply_batch(ev["rows"])
        elif kind == "delete":
            r.con.execute(f"DELETE FROM t WHERE o_orderkey >= {int(ev['lo'])}"
                          f" AND o_orderkey < {int(ev['hi'])}")
        elif kind == "version":
            v = int(ev["version"])
            if v in needed:
                r.con.execute(f"CREATE OR REPLACE TABLE snap_{v} AS "
                              "SELECT * FROM t")
        elif kind in Replay.SERVES:
            problems += r.serve(ev)
    g_cols, g_rows = parquet_rows(r.con, os.path.join(run_dir, "churn", "base"))
    exp = r.con.sql("SELECT * FROM t")
    problems += compare("final table", g_cols, g_rows, exp.columns,
                        exp.fetchall())
    mv = r.con.sql(f"""SELECT o_custkey, n, total FROM
        '{run_dir}/churn/mv/*.parquet' WHERE n > 0""")
    exp = r.con.sql("""SELECT o_custkey, COUNT(*) AS n, SUM(price) AS total
        FROM t GROUP BY o_custkey""")
    problems += compare("materialized view", mv.columns, mv.fetchall(),
                        exp.columns, exp.fetchall())
    return problems


def check(workload, data_dir, run_dir):
    if workload == "table_churn":
        return check_churn(data_dir, run_dir)
    return check_queries(data_dir, run_dir)
