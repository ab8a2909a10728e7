"""DuckDB oracle check for the operator-query outputs.

Each query's cold-pass output (parquet) is compared with its DuckDB oracle
(`graft.SparkEntry.oracleSql`) over the same reference tables: the same
column names (order-free), the same row count, and the same multiset of
rows with every value compared as text, which is the compare of
tools/oracle_check.py done inside DuckDB.
"""
import glob
import os

import duckdb


def _columns(con, view):
    return sorted(r[0] for r in con.execute(f"DESCRIBE {view}").fetchall())


def check(tables_dir, out_dir, oracle_sql):
    """Returns [(query, ok, detail)] for every query with an oracle."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    results = []
    for q, sql in sorted(oracle_sql.items()):
        qdir = os.path.join(out_dir, q)
        if not glob.glob(os.path.join(qdir, "*.parquet")):
            results.append((q, False, "no output written"))
            continue
        try:
            con.execute(f"CREATE OR REPLACE TEMP VIEW got AS "
                        f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
            # an oracle may define macros before its final SELECT
            con.register("want", con.execute(sql).arrow())
            cols = _columns(con, "got")
            if cols != _columns(con, "want"):
                results.append((q, False, f"columns {cols} vs {_columns(con, 'want')}"))
                continue
            n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
            n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
            as_text = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
            extra = con.execute(f"SELECT count(*) FROM (SELECT {as_text} FROM got EXCEPT ALL "
                                f"SELECT {as_text} FROM want)").fetchone()[0]
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            results.append((q, False, f"error: {e}"))
            continue
        if n_got != n_want:
            results.append((q, False, f"rows {n_got} vs oracle {n_want}"))
        elif extra:
            results.append((q, False, f"{extra} of {n_got} rows differ from the oracle"))
        else:
            results.append((q, True, f"rows {n_got}"))
    return results
