"""DuckDB oracle compare for contract_mix, the same compare as
tools/check_oracles.py: for each dumped query, run its oracle SQL and
compare columns (sorted by name), row count and the md5 of the sorted,
stringified rows."""
import glob
import hashlib
import json
import os


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    scols = [cols[i] for i in order]
    srows = sorted(str(tuple(str(r[i]) for i in order)) for r in rows)
    return scols, len(srows), hashlib.md5("\n".join(srows).encode()).hexdigest()


def compare(dump_dir, sf_dir):
    import duckdb
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    checks = []
    for name in sorted(sql):
        d = os.path.join(dump_dir, name)
        try:
            t = con.query(f"SELECT * FROM read_parquet('{d}/*.parquet')")
            got = canon(t.columns, t.fetchall())
            t = con.query(sql[name])
            want = canon(t.columns, t.fetchall())
            ok = got == want
            detail = "" if ok else (f"cols {got[0] == want[0]} rows {got[1]}/{want[1]} "
                                    f"hash {got[2] == want[2]}")
        except Exception as e:  # a missing dump or a failing oracle is a failure
            ok, detail = False, f"{type(e).__name__}: {e}"
        checks.append({"name": f"oracle: {name} rows, schema and hash match DuckDB",
                       "ok": ok, "detail": detail})
    con.close()
    return checks
