"""Output checks: every result the harness wrote against DuckDB.

Query workloads: each oracled query's full result must equal its
`SparkEntry.oracleSql` query run by DuckDB over the same parquet, compared
with tools/check_oracle.py's normalization (columns by name, rows sorted,
exact values, timestamp-zone schema). A query with no oracle was written twice
and must give the same rows and fingerprint both times.

table_sql: the statement log is replayed in DuckDB (MERGE as UPDATE ... FROM
plus INSERT ... WHERE NOT EXISTS); every read and the final table must equal
the replay.
"""
import hashlib
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

# the repository's own oracle comparison (tools/check_oracle.py)
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import TABLES, normalize, tz_schema  # noqa: E402

NAMES = "k, orderkey, partkey, qty, price_cents, flag"


def _compare(got, want):
    """None when equal, else the first difference, as check_oracle.py
    finds it."""
    if tz_schema(got.reindex(sorted(got.columns), axis=1)) != \
            tz_schema(want.reindex(sorted(want.columns), axis=1)):
        return "timestamp zone schema differs"
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e)[:300]
    return None


def _fingerprint(df):
    return hashlib.sha256(
        normalize(df).to_csv(index=False).encode()).hexdigest()[:16]


def queries(work, data):
    """{query: None | problem} plus fingerprints of unoracled queries."""
    out = Path(work) / "results"
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        if (Path(data) / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    problems, notes = {}, {}
    names = sorted(p.name for p in out.iterdir()
                   if p.is_dir() and not p.name.endswith(".again"))
    for name in names:
        try:
            got = pd.read_parquet(out / name)
            if name in oracle:
                problems[name] = _compare(got, con.execute(oracle[name]).fetchdf())
            else:
                again = pd.read_parquet(out / f"{name}.again")
                fp = (_fingerprint(got), _fingerprint(again))
                notes[name] = {"rows": [len(got), len(again)], "fingerprint": fp}
                problems[name] = None if len(got) == len(again) and fp[0] == fp[1] \
                    else f"passes disagree: {notes[name]}"
        except Exception as e:  # a missing or unreadable result is a failure
            problems[name] = f"error: {str(e)[:300]}"
    return {"problems": problems, "notes": notes}


def _rows(con, sql):
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _logged(rows):
    return sorted(tuple(r) for r in rows)


def table(work):
    """Replays statements.jsonl in DuckDB; {seq: None | problem}."""
    work = Path(work)
    log = [json.loads(l) for l in (work / "statements.jsonl").read_text().splitlines()]
    stage = work / "stage"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW base AS SELECT {NAMES} "
                f"FROM read_parquet('{stage}/base/*.parquet')")
    con.execute(f"CREATE VIEW pool AS SELECT * FROM read_parquet("
                f"'{stage}/pool/*/*.parquet', hive_partitioning = true)")
    con.execute(f"CREATE TABLE t AS SELECT * FROM base")
    targets = {e["v"] for e in log if e["verb"] == "travel"}
    load = [e for e in log if e["verb"] == "load"][-1]
    if load["version"] in targets:
        con.execute(f"CREATE OR REPLACE TABLE snap_{load['version']} AS SELECT * FROM t")
    problems, changed = {}, {}
    for e in log:
        verb, seq = e["verb"], e.get("seq")
        if seq is None:
            continue
        if verb in ("insert", "stream"):
            n = con.execute(f"INSERT INTO t SELECT {NAMES} FROM pool "
                            f"WHERE block = {e['block']}").fetchone()[0]
        elif verb == "update":
            n = con.execute(
                "UPDATE t SET qty = qty + 1, price_cents = price_cents + 7 "
                f"WHERE k >= {e['lo']} AND k < {e['hi']}").fetchone()[0]
        elif verb == "delete":
            n = con.execute(f"DELETE FROM t WHERE k >= {e['lo']} "
                            f"AND k < {e['hi']}").fetchone()[0]
        elif verb == "merge":
            con.execute(
                "CREATE OR REPLACE TEMP TABLE m AS "
                "SELECT k, orderkey, partkey, qty, price_cents + 13 AS price_cents, "
                f"flag FROM base WHERE k >= {e['lo']} AND k < {e['hi']} "
                f"UNION ALL SELECT {NAMES} FROM pool WHERE block = {e['block']}")
            n = con.execute(
                "UPDATE t SET qty = m.qty, price_cents = m.price_cents "
                "FROM m WHERE t.k = m.k").fetchone()[0]
            n += con.execute(
                f"INSERT INTO t SELECT {NAMES} FROM m "
                "WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.k = m.k)").fetchone()[0]
        elif verb in ("optimize", "vacuum"):
            n = 0
        else:
            want = {
                "scan": "SELECT COUNT(*), SUM(k), SUM(qty), SUM(price_cents) FROM t",
                "agg": "SELECT flag, COUNT(*), SUM(qty), SUM(price_cents) "
                       "FROM t GROUP BY flag",
                "point": f"SELECT {NAMES} FROM t WHERE k = {e.get('key')}",
                "travel": f"SELECT COUNT(*), SUM(price_cents) FROM snap_{e.get('v')}",
            }[verb]
            exp, got = _rows(con, want), _logged(e["rows"])
            problems[seq] = None if exp == got else f"{verb}: {got} != {exp}"
            continue
        changed[seq] = int(n)
        if e["version"] in targets:
            con.execute(f"CREATE OR REPLACE TABLE snap_{e['version']} AS SELECT * FROM t")
    final = work / "final_table"
    fin = f"read_parquet('{final}/*.parquet')"
    extra = con.execute(f"SELECT COUNT(*) FROM (SELECT * FROM {fin} EXCEPT ALL "
                        "SELECT * FROM t)").fetchone()[0]
    missing = con.execute(f"SELECT COUNT(*) FROM (SELECT * FROM t EXCEPT ALL "
                          f"SELECT * FROM {fin})").fetchone()[0]
    final_problem = None if extra == missing == 0 else \
        f"final table: {extra} rows not in the replay, {missing} missing"
    layout = [e for e in log if e["verb"] == "layout"][-1]
    live_rows = con.execute("SELECT COUNT(*) FROM t").fetchone()[0]
    return {"problems": problems, "final": final_problem, "changed": changed,
            "layout": layout, "live_rows": live_rows, "log": log}
