"""Checks query_catalog's outputs against DuckDB's answers to graft's
oracle SQL over the same testdata tables.

    python3 perfbench/oracle.py RESULTS_DIR [ORACLE_SQL_JSON]

RESULTS_DIR holds one parquet directory per query, as the workload
writes them (rows in output order), and, unless given apart,
oracle_sql.json (query name -> SQL, from SparkEntry.oracleSql). The
expected answers are computed afresh by DuckDB on every check. The
compare rules are those of the repo's oracle check, written apart here:
same column names, same row count, no int-versus-float split of a
column, and per column equal values in order (numbers exactly as
float64, NaN equal to NaN; else as strings; else as timestamps).
"""

import glob
import json
import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH_DIR, "data", "sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _kind(s):
    import pandas.api.types as pt
    if pt.is_float_dtype(s):
        return "float"
    if pt.is_integer_dtype(s):
        return "int"
    return None


def _col_equal(e, g):
    import pandas as pd
    if len(e) == 0:
        return True
    try:
        ef, gf = e.astype("float64"), g.astype("float64")
        return bool(((ef == gf) | (ef.isna() & gf.isna())).all())
    except (ValueError, TypeError):
        pass
    if bool((e.astype(str) == g.astype(str)).all()):
        return True
    try:
        return bool((pd.to_datetime(e.astype(str)) == pd.to_datetime(g.astype(str))).all())
    except (ValueError, TypeError):
        return False


def compare(results, sql_file=None, data=DATA):
    """Returns {query: problem or None} for every query in the oracle SQL."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    with open(sql_file or os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    verdict = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(results, name, "*.parquet")))
        if not files:
            verdict[name] = "no output"
            continue
        exp = con.execute(sql).fetchdf()
        got = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
        exp = exp.reindex(sorted(exp.columns), axis=1).reset_index(drop=True)
        got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
        problem = None
        if list(exp.columns) != list(got.columns):
            problem = f"columns {list(got.columns)}, oracle {list(exp.columns)}"
        elif len(exp) != len(got):
            problem = f"{len(got)} rows, oracle {len(exp)}"
        else:
            for c in exp.columns:
                ke, kg = _kind(exp[c]), _kind(got[c])
                if ke and kg and ke != kg:
                    problem = f"column {c} is {kg}, oracle {ke}"
                elif not _col_equal(exp[c], got[c]):
                    problem = f"column {c} differs from the oracle"
                if problem:
                    break
        verdict[name] = problem
    con.close()
    return verdict


def main():
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    verdict = compare(sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else None)
    for name, problem in verdict.items():
        print(f"{'OK  ' if problem is None else 'FAIL'} {name}" + (f": {problem}" if problem else ""))
    return 0 if all(p is None for p in verdict.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
