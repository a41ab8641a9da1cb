"""Output checks against DuckDB, run after the JVM has exited.

interactive: every key's output against its oracle SQL
(`SparkEntry.oracleSql`), with the comparison rules imported from
tools/compare.py (nested and decimal columns rejected, type families,
bit-equal cells): same column names, same families, same row order, equal
cells. Keys without an oracle are
checked for a flat schema and a non-empty result. The DuckDB wall of the
oracles is reported as a reference for the engine's DuckDB ratio. Each
read of a key
returned the digest of the checked output, so a wrong output fails every
read of its key.

migrate: the final GraftLog snapshot against the expected state computed
in DuckDB from the source tables and the applied MERGE batches, and the
sink output against the `solr_doc_assembly` oracle.
"""
import hashlib
import importlib.util
import json
import os
import time

import duckdb
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_rules = os.path.join(ROOT, "tools", "compare.py")
if not os.path.exists(_rules):
    raise SystemExit("perfbench: missing tools/compare.py")
_spec = importlib.util.spec_from_file_location("graft_compare", _rules)
rules = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(rules)
TABLES = rules.TABLES


def connect(fx, run_dir):
    con = duckdb.connect()
    tmp = os.path.join(run_dir, "tmp", "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        p = os.path.join(fx, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def flat_error(tbl):
    for f in tbl.schema:
        if rules.is_nested(f.type) or rules.is_decimal(f.type):
            return f"column {f.name} has type {f.type}"
    return None


def compare(spark_tbl, oracle_tbl):
    """None when equal, else the first difference."""
    err = flat_error(spark_tbl)
    if err:
        return err
    if sorted(spark_tbl.column_names) != sorted(oracle_tbl.column_names):
        return f"columns {sorted(spark_tbl.column_names)} != {sorted(oracle_tbl.column_names)}"
    if spark_tbl.num_rows != oracle_tbl.num_rows:
        return f"rows {spark_tbl.num_rows} != {oracle_tbl.num_rows}"
    for c in spark_tbl.column_names:
        st = rules.norm_type(spark_tbl.schema.field(c).type)
        ot = rules.norm_type(oracle_tbl.schema.field(c).type)
        if st != ot:
            return f"column {c} type {st} != {ot}"
        for i, (x, y) in enumerate(zip(spark_tbl.column(c).to_pylist(),
                                       oracle_tbl.column(c).to_pylist())):
            if not rules.cells_equal(x, y):
                return f"column {c} row {i}: {x!r} != {y!r}"
    return None


def read_dir(con, path):
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetch_arrow_table()


def oracle(con, fx, sql):
    """The oracle's result and its DuckDB wall. The fixture is fixed, so
    results are computed once per fixture and oracle text, then reused."""
    path = os.path.join(fx, "oracle", hashlib.sha256(sql.encode()).hexdigest()[:16])
    if not os.path.exists(path + ".json"):
        t0 = time.perf_counter()
        tbl = con.execute(sql).fetch_arrow_table()
        wall = time.perf_counter() - t0
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(tbl, path + ".parquet")
        with open(path + ".json", "w") as f:
            json.dump({"wall_s": wall}, f)
    with open(path + ".json") as f:
        return pq.read_table(path + ".parquet"), json.load(f)["wall_s"]


def interactive(con, fx, run_dir, r):
    failed, errors, wall = 0, [], 0.0
    for key in r["keys"]:
        got = read_dir(con, os.path.join(run_dir, "out", key))
        sql = r["oracle_sql"].get(key)
        if sql is None:
            err = flat_error(got) or (None if got.num_rows > 0 else "empty result")
        else:
            want, w = oracle(con, fx, sql)
            wall += w
            err = compare(got, want)
        if err:
            failed += r["reads_by_key"].get(key, 0)
            errors.append(f"{key}: {err}")
    return {"failed": failed, "errors": errors, "duckdb_wall_s": wall}


DOC_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
            "n_lines, qty, revenue")
# DuckDB twin of perfbench.Migrate.orderDocs.
BASE_DOCS = f"""
  WITH li AS (
    SELECT l_orderkey, COUNT(*) AS n, SUM(l_quantity) AS q,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS r
    FROM lineitem GROUP BY l_orderkey)
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         COALESCE(n, 0) AS n_lines, COALESCE(q, 0.0) AS qty, COALESCE(r, 0.0) AS revenue
  FROM orders LEFT JOIN li ON o_orderkey = l_orderkey"""


def symmetric_diff(con, a, b):
    return con.execute(f"""SELECT COUNT(*) FROM (
        (SELECT * FROM ({a}) EXCEPT ALL SELECT * FROM ({b}))
        UNION ALL (SELECT * FROM ({b}) EXCEPT ALL SELECT * FROM ({a})))""").fetchone()[0]


def migrate(con, ops, run_dir, r):
    failed, errors = 0, []
    n = r["batches_applied"]
    files = [os.path.join(ops, "batches", f"b{b:04d}.parquet") for b in range(n)]
    expected = BASE_DOCS
    if files:
        lst = ", ".join(f"'{p}'" for p in files)
        expected = f"""
          WITH base AS ({BASE_DOCS}),
          b AS (SELECT {DOC_COLS} FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY
              CAST(regexp_extract(filename, 'b([0-9]+)[.]parquet', 1) AS INT) DESC) AS rn
            FROM read_parquet([{lst}], filename = true)) WHERE rn = 1)
          SELECT {DOC_COLS} FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b)
          UNION ALL SELECT {DOC_COLS} FROM b"""
    actual = f"SELECT {DOC_COLS} FROM read_parquet('{run_dir}/out/final_docs/*.parquet')"
    d = symmetric_diff(con, expected, actual)
    if d:
        failed += r["writes"]
        errors.append(f"final order docs: {d} rows differ from the expected state")
    sink = read_dir(con, r["sink_path"])
    want = con.execute(r["oracle_sql"]["solr_doc_assembly"]).fetch_arrow_table()
    err = flat_error(sink) or (None if sorted(sink.column_names) == sorted(want.column_names)
                               else f"columns {sink.column_names}")
    if not err:
        cols = ", ".join(want.column_names)
        con.register("sink_out", sink)
        con.register("sink_want", want)
        d = symmetric_diff(con, f"SELECT {cols} FROM sink_out", f"SELECT {cols} FROM sink_want")
        err = f"{d} rows differ" if d else None
    if err:
        failed += 1
        errors.append(f"customer docs sink: {err}")
    return {"failed": failed, "errors": errors}


def run(workload, fx, ops, run_dir, r):
    if workload == "ann_serve":
        return {"failed": 0, "errors": []}
    con = connect(fx, run_dir)
    try:
        if workload == "interactive":
            return interactive(con, fx, run_dir, r)
        return migrate(con, ops, run_dir, r)
    finally:
        con.close()
