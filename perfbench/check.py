"""Independent output checks: the run's operation log replayed into DuckDB.

Every executed operation (the warm-up round included) is checked against
a computation made apart from the engine:

- sql_subquery: the shape's DuckDB SQL with the same literals,
  over the same parquet files;
- ingest, SQL statements: the same writes replayed, in the same order, into a DuckDB
  table; each read compared with the same read on DuckDB at that point;
  the Summing view as GROUP BY ... SUM over the replayed table;
- ingest, document batches: full-truth verdicts against the corpus plus the batches
  appended before, as the engine's qp103 oracle computes them: "exact"
  is an equal MD5 of the normalized text, "near" a 3-word-shingle
  Jaccard of at least 1/2 with some earlier document.

`check(...)` returns one outcome per executed operation: None when the
output is right, otherwise the reason it is not.
"""

import datetime
import decimal
import math
import os

import duckdb

BASE_TABLES = ["customer", "supplier", "part", "orders", "lineitem"]
REL_TOL = 1e-9


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d") + " 00:00:00.000000"
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return str(v)


def _key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, (int, float)):
        return (1, float(f"{float(v):.9g}"))
    if isinstance(v, tuple):
        return (3, tuple(_key(x) for x in v))
    return (2, v)


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(cols, rows, want_cols, want_rows):
    """None when the two results hold the same rows (as multisets, columns
    matched by name), else a short reason."""
    names = [c.lower() for c in cols]
    want_names = [c.lower() for c in want_cols]
    if sorted(names) != sorted(want_names):
        return f"columns {names} != {want_names}"
    if len(rows) != len(want_rows):
        return f"{len(rows)} rows != {len(want_rows)}"
    order = [want_names.index(n) for n in names]
    got = sorted((tuple(_cell(v) for v in r) for r in rows),
                 key=lambda r: tuple(_key(v) for v in r))
    want = sorted((tuple(_cell(r[i]) for i in order) for r in want_rows),
                  key=lambda r: tuple(_key(v) for v in r))
    for g, w in zip(got, want):
        if not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {g} != {w}"
    return None


def _connect(data_dir, tables):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def check_sql(data_dir, plan, execs):
    con = _connect(data_dir, BASE_TABLES)
    ops = {op["id"]: op for rnd in plan["rounds"] for op in rnd}
    expected = {}
    out = []
    for e in execs:
        if e["error"]:
            out.append(f"error: {e['error']}")
            continue
        if e["op"] not in expected:
            expected[e["op"]] = _query(con, ops[e["op"]]["duckdb"])
        out.append(compare(e["columns"], e["rows"], *expected[e["op"]]))
    return out, {}


def check_dml(data_dir, plan, execs):
    """Replays the writes; also returns the user bytes each write inserted
    (8 bytes per Int64 value plus the UTF-8 bytes of each string)."""
    con = _connect(data_dir, ["lineitem"])
    con.execute("CREATE TABLE ingest (k BIGINT, part BIGINT, qty BIGINT, "
                "supp BIGINT, flag VARCHAR)")
    con.execute("CREATE VIEW ingest_sum AS SELECT flag, SUM(qty) AS qty, "
                "SUM(supp) AS supp FROM ingest GROUP BY flag")
    ops = {op["id"]: op for rnd in plan["rounds"] for op in rnd}
    out = []
    user_bytes = {}
    for i, e in enumerate(execs):
        op = ops[e["op"]]
        if e["error"]:
            out.append(f"error: {e['error']}")
            continue
        if op["kind"] == "write":
            if "rows" in op:
                con.executemany("INSERT INTO ingest VALUES (?, ?, ?, ?, ?)", op["rows"])
                user_bytes[i] = sum(32 + len(r[4].encode()) for r in op["rows"])
            else:
                src = ("SELECT l_orderkey * 8 + l_linenumber, l_partkey, "
                       "CAST(l_quantity AS BIGINT), l_suppkey, l_returnflag "
                       f"FROM lineitem WHERE {op['where']}")
                con.execute(f"INSERT INTO ingest {src}")
                n, flag_bytes = con.execute(
                    f"SELECT COUNT(*), COALESCE(SUM(octet_length(l_returnflag::BLOB)), 0) "
                    f"FROM lineitem WHERE {op['where']}").fetchone()
                user_bytes[i] = 32 * n + flag_bytes
            out.append(None)
        elif op["kind"] == "read":
            out.append(compare(e["columns"], e["rows"], *_query(con, op["nutql"])))
        else:
            out.append(None)
    return out, {"user_bytes": user_bytes}


# |A ∩ B| counted as the shingles the two documents share (both sides
# hold distinct shingles), |A ∪ B| = |A| + |B| - |A ∩ B|; a pair that
# shares no shingle has Jaccard 0 and cannot be near.
VERDICT_SQL = """
WITH inter AS (
  SELECT b.doc_id AS bid, k.doc_id AS kid, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(sh) AS s FROM batch) b
  JOIN known_sh k ON k.s = b.s GROUP BY 1, 2),
near AS (
  SELECT DISTINCT i.bid FROM inter i
  JOIN batch b ON b.doc_id = i.bid
  JOIN known k ON k.doc_id = i.kid
  WHERE 2 * i.c >= len(b.sh) + len(k.sh) - i.c),
exact AS (
  SELECT DISTINCT b.doc_id AS bid FROM batch b JOIN known k ON k.fp = b.fp)
SELECT b.doc_id AS id,
  CASE WHEN b.doc_id IN (SELECT bid FROM exact) THEN 'exact'
       WHEN b.doc_id IN (SELECT bid FROM near) THEN 'near' ELSE 'new' END AS verdict
FROM batch b ORDER BY id
"""


def _docs_sql(path):
    return f"""
    SELECT doc_id,
      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
      list_distinct(list_transform(
        range(1, greatest(len(w) - 2, 1) + 1),
        i -> concat_ws(' ', w[i], w[i + 1], w[i + 2]))) AS sh
    FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w
          FROM read_parquet('{path}'))"""


def check_dedup(data_dir, plan, execs):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"CREATE TABLE known AS {_docs_sql(os.path.join(data_dir, 'documents.parquet'))}")
    con.execute("CREATE TABLE known_sh AS SELECT doc_id, unnest(sh) AS s FROM known")
    expected = {}
    for b in plan["batches"]:
        con.execute("DROP TABLE IF EXISTS batch")
        con.execute(f"CREATE TABLE batch AS {_docs_sql(os.path.join(data_dir, b['path']))}")
        expected[b["id"]] = _query(con, VERDICT_SQL)
        if b["kind"] == "ingest":
            con.execute("INSERT INTO known SELECT * FROM batch")
            con.execute("INSERT INTO known_sh SELECT doc_id, unnest(sh) FROM batch")
    out = []
    for e in execs:
        if e["error"]:
            out.append(f"error: {e['error']}")
        else:
            out.append(compare(e["columns"], e["rows"], *expected[e["op"]]))
    return out, {}


def check_ingest(data_dir, plan, execs):
    """The SQL statements through the dml replay, the document batches
    through the verdict replay; user bytes keyed by index into `execs`."""
    batch_ids = {b["id"] for b in plan["batches"]}
    docs = [i for i, e in enumerate(execs) if e["op"] in batch_ids]
    sql = [i for i, e in enumerate(execs) if e["op"] not in batch_ids]
    out = [None] * len(execs)
    sql_out, extra = check_dml(data_dir, plan, [execs[i] for i in sql])
    docs_out, _ = check_dedup(data_dir, plan, [execs[i] for i in docs])
    for i, o in zip(sql, sql_out):
        out[i] = o
    for i, o in zip(docs, docs_out):
        out[i] = o
    return out, {"user_bytes": {sql[k]: v for k, v in extra["user_bytes"].items()}}


def check(workload, data_dir, plan, execs):
    fn = {"sql_subquery": check_sql, "ingest": check_ingest}[workload]
    return fn(data_dir, plan, execs)
