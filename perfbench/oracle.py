"""DuckDB oracle check of the harness's check-pass outputs.

Each op type's output (parquet under <check>/<op>/) is compared with its
`SparkEntry.oracleSql(op)` run in DuckDB over the same generated tables,
by the rules of tools/check_oracle.py: columns sorted by name, rows
sorted, floats rounded to 6 places with a NaN sentinel, declared column
types compared with narrow-to-wide integers equal, then an exact compare.
"""
import glob
import math
import os

import duckdb

import gen


def _canon(rows, cols, types):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("NAN" if math.isnan(v) else round(v, 6))
            else:
                vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out, [cols[i] for i in order], [str(types[i]) for i in order]


def _normtype(t):
    t = str(t).upper()
    return "INTLIKE" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT") else t


def compare(con, got_path, sql):
    """'OK <n> rows' or a one-line failure reason."""
    got = con.sql(f"SELECT * FROM read_parquet('{got_path}')")
    grows, gcols, gtypes = _canon(got.fetchall(), got.columns, got.types)
    try:
        exp = con.sql(sql)
        erows, ecols, etypes = _canon(exp.fetchall(), exp.columns, exp.types)
    except Exception as e:  # the oracle itself failed
        return f"SQLERR {str(e).splitlines()[0][:200]}"
    if [c.lower() for c in gcols] != [c.lower() for c in ecols]:
        return f"SCHEMA got {gcols} exp {ecols}"
    bad = [(c, g, e) for c, g, e in zip(gcols, gtypes, etypes)
           if _normtype(g) != _normtype(e)]
    if bad:
        return "TYPE " + "; ".join(f"{c}: spark={g} oracle={e}" for c, g, e in bad)
    if len(grows) != len(erows):
        return f"ROWS got {len(grows)} exp {len(erows)}"
    for gr, er in zip(grows, erows):
        if any(str(g) != str(e) for g, e in zip(gr, er)):
            return f"HASH first diff got={gr} exp={er}"
    return f"OK {len(grows)} rows"


def check(sf_dir, check_dir, oracle_sql, expected_rows, tables):
    """Verdict per op type that produced a check-pass output."""
    con = duckdb.connect()
    for name in tables:
        path = gen.table_glob(sf_dir, name)
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    verdicts = {}
    for op in expected_rows:
        sql = oracle_sql.get(op, "")
        files = glob.glob(os.path.join(check_dir, op, "*.parquet"))
        if not sql:
            verdicts[op] = "NO-ORACLE"
        elif not files:
            verdicts[op] = "MISS no output"
        else:
            verdicts[op] = compare(con, os.path.join(check_dir, op, "*.parquet"), sql)
    con.close()
    return verdicts
