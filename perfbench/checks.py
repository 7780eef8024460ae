"""Output checks, run after the timed loop: graft's results against DuckDB
over the same parquet files.

- star_sql: every statement executed (cold first runs, warm-up and timed
  loop) against the same SQL in DuckDB.  In traced runs also the Dml
  probe: its round of statements replayed in DuckDB (MERGE as UPDATE +
  INSERT, which DuckDB 1.0 lacks); every read, every time-travel read and
  every round's final table are compared.  The replay also counts the rows
  each write changed, for dml.write_amp.
- curation: the output of each entry's cold first run against the entry's
  oracle statement, columns sorted by name; entries without an oracle
  must return rows.

Rows are compared as multisets; floating-point values to a relative 1e-9,
since the engines add in different orders.
"""
import datetime
import decimal
import json
import math
import os

import duckdb


class Verdict:
    def __init__(self):
        self.checked = 0
        self.problems = []
        self.changed_rows = None

    @property
    def ok(self):
        return not self.problems and self.checked > 0


def canon(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    return v


def sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, float(v))
    if isinstance(v, (int, float)):
        return (1, float(f"{v:.8g}")) if math.isfinite(v) else (1, v)
    if isinstance(v, tuple):
        return (2, tuple(sort_key(x) for x in v))
    return (3, str(v))


def close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want):
    """None when the multisets agree, else a short description."""
    got = sorted((canon(r) for r in got), key=sort_key)
    want = sorted((canon(r) for r in want), key=sort_key)
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if not close(g, w):
            return f"row {g} != expected {w}"
    return None


def connect(data):
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS "
                        f"SELECT * FROM read_parquet('{os.path.join(data, f)}')")
    return con


def results(res):
    with open(res["results"]) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_star(v, plan, res, con):
    cache = {}
    for r in results(res):
        if r["probe"]:
            continue
        sql = plan["pass"][r["idx"]]["duck"]
        if sql not in cache:
            cache[sql] = con.execute(sql).fetchall()
        v.checked += 1
        bad = same_rows(r["rows"], cache[sql])
        if bad:
            v.problems.append(f"star_sql op {r['id']} ({sql[:60]}...): {bad}")


def replay_dml(ops, con):
    """Applies one round to a copy of orders in DuckDB, leaving the final
    table in orders_dml: returns the expected result of every read and the
    rows each write changed."""
    con.execute("CREATE TABLE orders_dml AS SELECT * FROM orders")
    expected, changed = {}, {}
    for idx, op in enumerate(ops):
        kind = op["kind"]
        if kind in ("insert", "update", "delete", "merge"):
            con.execute(f"CREATE TABLE before_{idx} AS SELECT * FROM orders_dml")
            changed[idx] = sum(con.execute(s).fetchone()[0] for s in op["duck"])
        else:
            if kind == "time_travel":
                con.execute(f"CREATE OR REPLACE VIEW orders_asof AS "
                            f"SELECT * FROM before_{op['write']}")
            expected[idx] = con.execute(op["duck"]).fetchall()
    return expected, changed


def check_dml(v, ops, res, con):
    expected, changed = replay_dml(ops, con)
    live_rows = con.execute("SELECT count(*) FROM orders_dml").fetchone()[0]
    v.changed_rows = {"by_idx": changed, "live_rows": live_rows}
    for r in results(res):
        if not r["probe"]:
            continue
        v.checked += 1
        bad = same_rows(r["rows"], expected[r["idx"]])
        if bad:
            v.problems.append(f"dml probe round {r['pass']} op {r['idx']} "
                              f"({ops[r['idx']]['kind']}): {bad}")
    # the final tables are compared exactly, in DuckDB: every value the
    # writes produce is a literal or one IEEE multiplication in both engines
    for rnd in res["rounds"]:
        got = f"SELECT * FROM read_parquet('{rnd['final_state']}/*.parquet')"
        v.checked += 1
        for a, b in ((got, "SELECT * FROM orders_dml"),
                     ("SELECT * FROM orders_dml", got)):
            extra = con.execute(
                f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
            if extra:
                v.problems.append(f"dml probe {rnd['name']} final table: "
                                  f"{extra} rows differ")
                break


def check_curation(v, res, con):
    for c in res["outputs"]:
        v.checked += 1
        got = con.execute(f"SELECT * FROM read_parquet('{c['out']}/*.parquet')")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        if c["oracle"] is None:
            if not grows:
                v.problems.append(f"{c['name']}: no rows")
            continue
        want = con.execute(c["oracle"])
        wcols = [d[0] for d in want.description]
        wrows = want.fetchall()
        if sorted(wcols) != sorted(gcols):
            v.problems.append(f"{c['name']}: columns {gcols} != {wcols}")
            continue
        order = sorted(range(len(gcols)), key=lambda i: gcols[i])
        worder = sorted(range(len(wcols)), key=lambda i: wcols[i])
        bad = same_rows([[row[i] for i in order] for row in grows],
                        [[row[i] for i in worder] for row in wrows])
        if bad:
            v.problems.append(f"{c['name']}: {bad}")


def check(workload, plan, res, data):
    v = Verdict()
    con = connect(data)
    if workload == "star_sql":
        check_star(v, plan, res, con)
        if res["probe_ops"]:
            check_dml(v, plan["dml_probe"], res, con)
    else:
        check_curation(v, res, con)
    con.close()
    return v
