"""Output checks of the benchmark, run after the timed region.

Every check compares the engine's answer with DuckDB reading the same
parquet, never with a stored copy of an earlier answer:

- catalog workloads: each program's rows (written by the harness's untimed
  pass) against DuckDB running the program's `SparkEntry.oracleSql` text
  over the same fixture or replica: column names, row count and row
  multiset, floats equal within a relative 1e-9 (absolute 1e-9 near 0);
- serve workload: every sampled fixture point read (GET /tasks/{id}) against
  the `orders` row DuckDB reads; and, read back after each round, every
  session user's coins against the balance rebuilt from the harness's log
  of acknowledged operations, and every acknowledged submission in its
  worker's feed. (A reply with another status than its session step
  expects is a failed operation, counted by the harness.)

`check` returns the list of what was wrong; empty means correct.
"""
import datetime
import decimal
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REL_TOL = 1e-9
ABS_TOL = 1e-9


def connect(fixture):
    """DuckDB with one view per fixture table (a parquet file, or a
    directory of part files as Spark writes them)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        path = os.path.join(fixture, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def norm(v):
    """One value in a comparable form: numbers as float, timestamps as naive
    UTC, lists as tuples."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, float(f"{v:.9g}") if math.isfinite(v) else v)
        if isinstance(v, tuple):
            return (2, tuple(k(x) for x in v))
        return (3, str(v))
    return tuple(k(v) for v in row)


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(name, got_cols, got, want_cols, want):
    """Column names, row count and row multiset; returns a problem or None."""
    if sorted(got_cols) != sorted(want_cols):
        return f"{name}: columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows != oracle {len(want)}"
    order = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    worder = [want_cols.index(got_cols[i]) for i in order]
    g = sorted((tuple(norm(r[i]) for i in order) for r in got), key=sort_key)
    w = sorted((tuple(norm(r[i]) for i in worder) for r in want), key=sort_key)
    for gr, wr in zip(g, w):
        if not all(same_value(a, b) for a, b in zip(gr, wr)):
            return f"{name}: row {gr!r} != oracle {wr!r}"
    return None


def fetch(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def compare_relations(con, name, got_sql, want_sql):
    """The multiset comparison done in DuckDB: rows equal exactly on both
    sides cancel (EXCEPT ALL); only what is left is compared in Python,
    where floats get their tolerance."""
    got_cols = [d[0] for d in con.execute(f"SELECT * FROM ({got_sql}) LIMIT 0").description]
    want_cols = [d[0] for d in con.execute(f"SELECT * FROM ({want_sql}) LIMIT 0").description]
    if sorted(got_cols) != sorted(want_cols):
        return f"{name}: columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    cols = ", ".join(f'"{c}"' for c in sorted(got_cols))
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT {cols} FROM ({got_sql})")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS SELECT {cols} FROM ({want_sql})")
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
    if n_got != n_want:
        return f"{name}: {n_got} rows != oracle {n_want}"
    try:
        _, g = fetch(con, "SELECT * FROM got EXCEPT ALL SELECT * FROM want")
        _, w = fetch(con, "SELECT * FROM want EXCEPT ALL SELECT * FROM got")
    except duckdb.Error:  # column types with no common supertype
        _, g = fetch(con, "SELECT * FROM got")
        _, w = fetch(con, "SELECT * FROM want")
    names = sorted(got_cols)
    return compare_rows(name, names, g, names, w)


def check_catalog(c):
    con = connect(c["fixture"])
    wrong = []
    for name in c["programs"]:
        sql = c["oracle"].get(name, "")
        if not sql:
            wrong.append(f"{name}: no oracle text to check against")
            continue
        files = glob.glob(os.path.join(c["outputs"], name, "*.parquet"))
        if not files:
            wrong.append(f"{name}: the engine wrote no output")
            continue
        p = compare_relations(con, name, f"SELECT * FROM read_parquet({files!r})", sql)
        if p:
            wrong.append(p)
    return wrong


def check_readback(r):
    """One end-of-round read-back against the session log; a problem or None."""
    try:
        rows = json.loads(r["reply"])
    except ValueError:
        return f"{r['email']}: unparseable reply {r['reply'][:100]!r}"
    if r["kind"] == "coins":
        got = rows[0].get("c_acctbal") if isinstance(rows, list) and len(rows) == 1 else None
        if not isinstance(got, (int, float)) or abs(got - r["expected"]) > 1e-6:
            return f"coins of {r['email']}: {got!r}, expected {r['expected']}"
    elif r["kind"] == "feed":
        feed = {(row.get("l_orderkey"), row.get("l_linenumber")) for row in rows}
        for sub in r["expected"]:
            order, line = (int(x) for x in sub.split("-")[:2])
            if (order, line) not in feed:
                return f"submission {sub} missing from the feed of {r['email']}"
    else:
        return f"unknown read-back kind {r['kind']!r}"
    return None


def check_serve(c):
    con = connect(c["fixture"])
    wrong = [p for p in map(check_readback, c["readbacks"]) if p]
    for pr in c["point_reads"]:
        key = int(pr["o_orderkey"])
        want_cols, want = fetch(con, f"SELECT * FROM orders WHERE o_orderkey = {key}")
        try:
            body = json.loads(pr["body"])
        except ValueError:
            wrong.append(f"/tasks/{key}: unparseable reply {pr['body'][:100]!r}")
            continue
        if not isinstance(body, list) or len(body) != 1 or len(want) != 1:
            wrong.append(f"/tasks/{key}: {len(body) if isinstance(body, list) else '?'} rows, "
                         f"oracle {len(want)}")
            continue
        got = body[0]
        if sorted(got) != sorted(want_cols):
            wrong.append(f"/tasks/{key}: fields {sorted(got)} != oracle {sorted(want_cols)}")
            continue
        got_row = [parse_json_value(got[col], want[0][i]) for i, col in enumerate(want_cols)]
        p = compare_rows(f"/tasks/{key}", want_cols, [got_row], want_cols, want)
        if p:
            wrong.append(p)
    return wrong


def parse_json_value(v, like):
    """A JSON reply value in the type of the DuckDB value it is compared to
    (Spark renders timestamps as ISO-8601 text)."""
    if isinstance(like, datetime.datetime) and isinstance(v, str):
        return datetime.datetime.fromisoformat(v.replace("Z", "+00:00"))
    return v


def check(c):
    if c["kind"] == "catalog":
        return check_catalog(c)
    if c["kind"] == "serve":
        return check_serve(c)
    return [f"unknown check kind {c['kind']!r}"]
