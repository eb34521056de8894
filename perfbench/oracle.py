"""Oracle check: each query's parquet output against its DuckDB oracle SQL
run over the exact input tables of the run.

Both sides are put in the canonical form of tools/compare.py before they
are compared: columns ordered by name, rows compared as a multiset,
floating values (and DECIMAL/HUGEINT, which compare.py receives as
float64) printed with 9 significant digits, NaN and NULL numbers as 'NaN',
NULL of other types as 'None'. The canonical rows are built and compared
inside DuckDB, so a million-row output is checked in about a second.
"""
import os

import duckdb

FLOATS = ("FLOAT", "DOUBLE", "REAL", "HUGEINT", "UHUGEINT")
INTS = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT",
        "UINTEGER", "UBIGINT")


def _floatish(typ):
    return typ in FLOATS or typ.startswith("DECIMAL")


def _canon_expr(name, typ):
    q = '"' + name.replace('"', '""') + '"'
    if _floatish(typ):
        d = f"CAST({q} AS DOUBLE)"
        return (f"CASE WHEN {q} IS NULL OR isnan({d}) THEN 'NaN' "
                f"ELSE printf('%.9g', {d}) END")
    if typ in INTS:
        return f"coalesce(CAST({q} AS VARCHAR), 'NaN')"
    if typ.endswith("[]") and _floatish(typ[:-2]):
        return (f"coalesce(CAST(list_transform({q}, x -> CASE WHEN x IS NULL OR "
                f"isnan(CAST(x AS DOUBLE)) THEN 'NaN' ELSE printf('%.9g', "
                f"CAST(x AS DOUBLE)) END) AS VARCHAR), 'None')")
    return f"coalesce(CAST({q} AS VARCHAR), 'None')"


def _canon(con, view):
    cols = sorted((r[0], r[1]) for r in con.execute(f"DESCRIBE {view}").fetchall())
    exprs = ", ".join(f"{_canon_expr(n, t)} AS c{i}" for i, (n, t) in enumerate(cols))
    return [n for n, _ in cols], f"SELECT {exprs} FROM {view}"


def _source(path):
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"'{path}'"


def connect(data_dir, tables, temp_dir):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"{_source(os.path.join(data_dir, t + '.parquet'))}")
    return con


def check(con, out_dir, name, sql):
    """None when `out_dir` holds the oracle's rows, else what differs."""
    out = os.path.join(out_dir, name)
    if not os.path.isdir(out):
        return "no output written"
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_rows AS {sql}")
        con.execute(f"CREATE OR REPLACE TEMP VIEW spark_rows AS "
                    f"SELECT * FROM {_source(out)}")
        ocols, osql = _canon(con, "oracle_rows")
        scols, ssql = _canon(con, "spark_rows")
        if ocols != scols:
            return f"schema oracle={ocols} spark={scols}"
        on, sn = (con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
                  for v in ("oracle_rows", "spark_rows"))
        if on != sn:
            return f"rows oracle={on} spark={sn}"
        diff = con.execute(f"SELECT count(*) FROM (({osql}) EXCEPT ALL ({ssql}))"
                           ).fetchone()[0]
        return f"{diff} of {on} rows differ" if diff else None
    except Exception as e:  # an oracle that fails to run is a failed check
        return f"oracle error: {e}"[:300]
