#!/usr/bin/env python3
"""Checks the paper ETL's report tables against DuckDB (dev tool).

Usage: python3 scripts/check_etl.py <outDir>

<outDir> is a RunSalesPipeline output directory. DuckDB recomputes the
five report queries (Q1-Q5) from the load-boundary parquet tables the
pass wrote (produtos, resumo-vendas, empregados), with exact DECIMAL
money sums (the Postgres NUMERIC sums the reference's report runs) and
the same orderings, then:

  - hash-compares each report/<name>.parquet with its query in the
    canonical form check.py uses (columns sorted by name, rows sorted,
    floats as %.17g);
  - checks that each report/<name>.csv, read in file order, holds the
    query's rows in query order. Every query's order is total, so this
    also says the csv equals its parquet rows in query order.

Prints one OK/FAIL line per check, then ALL OK or the failure count.
"""
import csv
import glob
import hashlib
import math
import numbers
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

MONEY = "CAST(SUM(CAST(v.valor_total AS DECIMAL(18, 2))) AS DOUBLE)"
Q1 = f"""SELECT v.id_empregado, e.nome, COALESCE({MONEY}, 0) AS valor_total
  FROM vendas v JOIN empregados e ON v.id_empregado = e.id_empregado
  GROUP BY v.id_empregado, e.nome
  ORDER BY valor_total DESC NULLS LAST, v.id_empregado NULLS FIRST"""
# (name, query) in report order, as SalesPipeline.reportTables declares
# them. Spark sorts ascending keys NULLS FIRST; DuckDB's default is last.
QUERIES = [
    ("vendas_por_funcionario", Q1),
    ("ticket_medio_por_produto", f"""
      SELECT v.id_produto, p.nome,
        COALESCE({MONEY} / COUNT(v.id_venda), 0) AS ticket_medio
      FROM vendas v JOIN produtos p ON v.id_produto = p.id_produto
      GROUP BY v.id_produto, p.nome
      ORDER BY TRY_CAST(regexp_extract(p.nome, '(\\d+)', 1) AS INTEGER) NULLS LAST,
        v.id_produto NULLS FIRST"""),
    ("vendas_por_categoria", """
      SELECT p.categoria, COUNT(v.id_venda) AS quantidade_vendas
      FROM vendas v JOIN produtos p ON v.id_produto = p.id_produto
      GROUP BY p.categoria
      ORDER BY quantidade_vendas DESC NULLS LAST, categoria NULLS FIRST"""),
    ("top5_funcionarios", Q1 + "\n  LIMIT 5"),
    ("vendas_por_periodo", f"""
      SELECT strftime(v.data, '%Y-%m') AS periodo,
        COUNT(v.id_venda) AS quantidade_vendas, {MONEY} AS valor_total
      FROM vendas v
      WHERE v.data IS NOT NULL
      GROUP BY periodo
      ORDER BY periodo NULLS FIRST"""),
]
BOUNDARY = {"produtos": "produtos", "vendas": "resumo-vendas", "empregados": "empregados"}


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def cell(v):
    if isinstance(v, float):
        return "%.17g" % v
    return str(v)


def digest(df):
    m = hashlib.sha256()
    for row in df.itertuples(index=False):
        m.update(("|".join(cell(v) for v in row) + "\n").encode())
    return m.hexdigest()


def missing(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def csv_equal(text, want):
    """Whether one csv cell (Spark's writer: null is the empty field)
    holds the value `want`."""
    if missing(want):
        return text == ""
    if isinstance(want, float):
        return float(text) == want
    if isinstance(want, numbers.Integral):
        return int(text) == want
    return text == str(want)


def check_parquet(name, exp, out):
    files = sorted(glob.glob(f"{out}/report/{name}.parquet/*.parquet"))
    if not files:
        return "no parquet output"
    got = canon(pd.concat([pq.read_table(f).to_pandas() for f in files]))
    want = canon(exp)
    if list(got.columns) != list(want.columns):
        return f"parquet columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"parquet rows {len(got)} vs {len(want)}"
    if digest(got) != digest(want):
        return "parquet hash mismatch"
    return None


def check_csv(name, exp, out):
    files = sorted(glob.glob(f"{out}/report/{name}.csv/part-*"))
    if not files:
        return "no csv output"
    rows = []
    for f in files:
        with open(f, newline="", encoding="utf-8") as fh:
            r = list(csv.reader(fh, delimiter=";", quotechar='"', escapechar="\\", doublequote=False))
            if not r:
                continue
            if r[0] != list(exp.columns):
                return f"csv header {r[0]} vs {list(exp.columns)}"
            rows += r[1:]
    want = [tuple(None if missing(v) else v for v in t) for t in exp.itertuples(index=False)]
    if len(rows) != len(want):
        return f"csv rows {len(rows)} vs {len(want)}"
    for i, (got, w) in enumerate(zip(rows, want)):
        if len(got) != len(w) or not all(csv_equal(g, x) for g, x in zip(got, w)):
            return f"csv row {i} is {got}, query row is {list(w)}"
    return None


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    out = sys.argv[1]
    con = duckdb.connect()
    for view, table in BOUNDARY.items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{out}/{table}.parquet/*.parquet')")
    fails = 0
    for name, sql in QUERIES:
        exp = con.execute(sql).df()
        for kind, check in (("parquet", check_parquet), ("csv", check_csv)):
            err = check(name, exp, out)
            if err:
                print(f"FAIL {name} {kind}: {err}")
                fails += 1
            else:
                print(f"OK   {name} {kind} ({len(exp)} rows)")
    print("ALL OK" if fails == 0 else f"{fails} FAILURES")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
