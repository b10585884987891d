"""Seeded inputs for every workload.

All tables and statements are pure functions of the seed: the same seed
gives byte-identical parquet files and the same operation plan. The
tables follow the column layout of the repository's TPC-H-like fixtures
(the layout the engine's queries are written against) at scale factor
0.02: 120,000 lineitem rows, 30,000 orders, 5,000 corpus documents.
"""

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.02
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "bolt", "hot", "large", "ring", "steel", "tin", "wire"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

ORDER_DATE0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404           # 1995-01-01 .. 2001-08-01
SHIP_DATE0 = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2498            # 1995-01-02 .. 2001-11-04

N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_CORPUS = 5_000
DOC_BATCH_DOCS = 100


def _days(start, days):
    return np.datetime64(start, "us") + days.astype("timedelta64[D]")


def _write(table, path):
    pq.write_table(table, path)


ALL_TABLES = ["customer", "supplier", "part", "orders", "lineitem"]


def write_tables(seed, data_dir, names):
    """The read-only base tables named in `names`. Each table draws from
    its own stream of the seed, so a table does not depend on which
    others are written."""
    os.makedirs(data_dir, exist_ok=True)

    def rng_for(name):
        return np.random.default_rng([seed, 1, ALL_TABLES.index(name)])

    if "customer" in names:
        rng = rng_for("customer")
        ck = np.arange(N_CUSTOMER, dtype=np.int64)
        _write(pa.table({
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]}),
            f"{data_dir}/customer.parquet")
    if "supplier" in names:
        rng = rng_for("supplier")
        sk = np.arange(N_SUPPLIER, dtype=np.int64)
        _write(pa.table({
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)}),
            f"{data_dir}/supplier.parquet")
    if "part" in names:
        rng = rng_for("part")
        pk = np.arange(N_PART, dtype=np.int64)
        w = np.array(PART_WORDS)
        _write(pa.table({
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(w[rng.integers(0, 8, N_PART)], " "),
                                  w[rng.integers(0, 8, N_PART)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PART)],
            "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 2001) * 0.1, 2)}),
            f"{data_dir}/part.parquet")
    if "orders" in names:
        rng = rng_for("orders")
        _write(pa.table({
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
            "o_orderdate": _days(ORDER_DATE0, rng.integers(0, ORDER_DAYS, N_ORDERS)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]}),
            f"{data_dir}/orders.parquet")
    if "lineitem" in names:
        rng = rng_for("lineitem")
        _write(pa.table({
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, N_LINEITEM), 2),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
            "l_shipdate": _days(SHIP_DATE0, rng.integers(0, SHIP_DAYS, N_LINEITEM))}),
            f"{data_dir}/lineitem.parquet")


# ---------------------------------------------------------------- SQL shapes
#
# Each shape is (name, nutql, duckdb). Literals are drawn per operation
# from the data's own value domains; `{x}` placeholders are filled in
# both texts with the same values. The DuckDB text follows the oracle SQL
# of the engine's driver entry the shape is named after (the same casts
# make float aggregates exact on both sides).

SUBQUERY_SHAPES = [
    ("q04_exists_semi",
     """select o_orderpriority, count(*) as order_count from orders
        where o_orderdate >= toDateTime('{date} 00:00:00') and exists (
          select 1 from lineitem where l_orderkey = o_orderkey and l_quantity > {qty})
        group by o_orderpriority order by o_orderpriority""",
     """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
        WHERE o_orderdate >= TIMESTAMP '{date} 00:00:00' AND EXISTS (
          SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > {qty})
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    ("q26_scalar_subquery",
     """select o_orderkey, o_totalprice from orders
        where o_orderkey < {key} and o_totalprice > {factor} * (
          select toFloat64(toFloat64(sum(toDecimal(o_totalprice, 12, 2))) / count(*)) from orders)
        order by o_orderkey""",
     """SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey < {key} AND o_totalprice > {factor} * (
          SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) FROM orders)
        ORDER BY o_orderkey"""),
    ("q28_in_subquery",
     """select p_partkey, p_name from part
        where p_size = {size} and p_partkey in (select l_partkey from lineitem where l_quantity >= {qty})
        order by p_partkey""",
     """SELECT p_partkey, p_name FROM part
        WHERE p_size = {size} AND p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= {qty})
        ORDER BY p_partkey"""),
    ("q29_not_in_subquery",
     """select s_suppkey, s_name from supplier
        where s_nationkey not in (select c_nationkey from customer
                                  where c_acctbal < {bal} and c_nationkey < {nation})
        order by s_suppkey""",
     """SELECT s_suppkey, s_name FROM supplier
        WHERE s_nationkey NOT IN (SELECT c_nationkey FROM customer
                                  WHERE c_acctbal < {bal} AND c_nationkey < {nation})
        ORDER BY s_suppkey"""),
    ("qe105_not_exists_agg_having",
     """select c_custkey from customer
        where c_custkey < {ocust} and not exists (
          select 1 from orders where o_custkey = c_custkey
            and exists (select 1 from lineitem where l_orderkey = o_orderkey
                          and l_quantity > {qty} and l_extendedprice > c_acctbal)
          having count(1) <= {count})
        order by c_custkey""",
     None),
    ("qe136_in_theta_grouped",
     """select c_custkey, c_nationkey from customer
        where c_custkey < {ocust} and c_nationkey in (select s_nationkey from supplier
          where s_acctbal > c_acctbal group by s_nationkey having count(1) >= {count})
        order by c_custkey""",
     None),
    ("qe138_in_theta_limit",
     """select c_custkey from customer
        where c_custkey < {ocust} and c_custkey in (
          select o_custkey from orders where o_totalprice > c_acctbal * {mult}
          order by o_totalprice desc, o_orderkey limit 20 offset 2)
        order by c_custkey""",
     None),
    ("qe139_in_theta_distinct_on",
     """select p_partkey, p_size from part
        where p_partkey < {part} and p_partkey % 50 in (
          select distinct on (l_returnflag) l_suppkey % 50 from lineitem
          where l_quantity > p_size + {qty}
          order by l_returnflag, l_extendedprice desc, l_orderkey, l_linenumber)
        order by p_partkey""",
     None),
    ("qe152_exists_theta_limit_offset",
     """select o_orderkey from orders
        where o_orderkey < {okey} and exists (
          select l_suppkey from lineitem where l_extendedprice > o_totalprice / {div}
          group by l_suppkey having count(1) > {count} limit 5 offset 1)
        order by o_orderkey""",
     None),
]


def _date(rng, start, days):
    return (start + dt.timedelta(days=int(rng.integers(0, days)))).strftime("%Y-%m-%d")


def _literals(rng):
    """One draw of every placeholder, each from its column's domain. The
    domains that set how much work a statement does (date cut-offs, key
    cut-offs of correlated outer sides) are kept narrow, so that the
    latency of a shape depends on the seed less than on the engine."""
    return {
        "date": _date(rng, dt.datetime(1997, 6, 1), 180),
        "nation": int(rng.integers(0, 25)),
        "bal": int(rng.integers(-500, 9500)),
        "qty": int(rng.integers(40, 49)),
        "key": int(rng.integers(600, 800)),
        "part": int(rng.integers(50, 80)),
        "size": int(rng.integers(1, 51)),
        "count": int(rng.integers(1, 40)),
        "factor": round(1.0 + float(rng.integers(0, 90)) / 100.0, 2),
        "div": int(rng.integers(2, 6)),
        "mult": int(rng.integers(30, 60)),
        # outer sides of theta-correlated subqueries: each outer row is
        # decided against a whole inner table on the DuckDB side
        "okey": int(rng.integers(80, 120)),
        "ocust": int(rng.integers(80, 120)),
    }


def _fill(text, lits):
    return " ".join(text.format(**lits).split())


# A timed SQL round makes two passes over the shapes: one pass measured
# too little work for a steady run (quartile spread of ops_per_s 0.26
# over seven runs, against 0.15 with two).
SQL_PASSES = 2


def sql_rounds(rng, shapes, rounds):
    """`rounds` rounds. Round 0, the first warm-up round, runs every shape
    once; every later round makes SQL_PASSES passes over the shapes. Each pass runs
    the shapes in a seeded order, every statement with freshly drawn
    literals."""
    out = []
    for r in range(rounds):
        ops = []
        for p in range(1 if r == 0 else SQL_PASSES):
            for i in rng.permutation(len(shapes)):
                name, nutql, duck = shapes[i]
                lits = _literals(rng)
                nut = _fill(nutql, lits)
                ops.append({"id": f"r{r}.{p}.{name}", "shape": name, "kind": "read",
                            "nutql": nut,
                            # qe entries run the same text in both engines
                            "duckdb": _fill(duck, lits) if duck else nut})
        out.append(ops)
    return out


# ----------------------------------------------------- ingest: SQL statements

DML_SETUP = [
    "create table ingest (k Int64, part Int64, qty Int64, supp Int64, flag String) order by k",
    "create view ingest_sum update by Summing order by flag as "
    "select flag, qty, supp from ingest",
    "optimize table ingest_sum",
]
DML_VALUES_ROWS = 200
DML_SELECT_ORDERS = 500     # orders per INSERT ... SELECT key range


def dml_rounds(rng, rounds):
    """Per round: three INSERTs (two VALUES batches, one INSERT ... SELECT
    of a lineitem key range), four reads (point, range, aggregate, the
    Summing view) and one OPTIMIZE of the table. Keys of VALUES rows
    live above every lineitem key so the two insert paths never collide."""
    out = []
    next_key = 10_000_000
    for r in range(rounds):
        ops = []

        def values_batch():
            nonlocal next_key
            rows = []
            for _ in range(DML_VALUES_ROWS):
                next_key += int(rng.integers(1, 4))
                rows.append([next_key, int(rng.integers(0, N_PART)),
                             int(rng.integers(1, 51)), int(rng.integers(0, N_SUPPLIER)),
                             ["A", "N", "R"][rng.integers(0, 3)]])
            return rows

        def values_op(tag):
            rows = values_batch()
            text = "insert into ingest values " + ", ".join(
                f"({k}, {p}, {q}, {s}, '{f}')" for k, p, q, s, f in rows)
            return {"id": f"r{r}.{tag}", "kind": "write", "nutql": text,
                    "rows": rows}

        lo = int(rng.integers(0, N_ORDERS - DML_SELECT_ORDERS))
        hi = lo + DML_SELECT_ORDERS
        sel_where = f"l_orderkey >= {lo} and l_orderkey < {hi}"
        point_k = next_key + 1
        ops.append(values_op("values_a"))
        ops.append({"id": f"r{r}.point", "kind": "read",
                    "nutql": f"select k, part, qty, supp, flag from ingest where k = {point_k - int(rng.integers(1, 200))}"})
        ops.append({"id": f"r{r}.select", "kind": "write",
                    "nutql": "insert into ingest select l_orderkey * 8 + l_linenumber, "
                             "l_partkey, toInt64(l_quantity), l_suppkey, l_returnflag "
                             f"from lineitem where {sel_where}",
                    "where": sel_where})
        ops.append(values_op("values_b"))
        rlo = int(rng.integers(0, N_ORDERS - 2000)) * 8
        ops.append({"id": f"r{r}.range", "kind": "read",
                    "nutql": f"select count(*) as n, sum(qty) as q, min(k) as kmin, max(k) as kmax "
                             f"from ingest where k >= {rlo} and k < {rlo + 16000}"})
        ops.append({"id": f"r{r}.agg", "kind": "read",
                    "nutql": "select flag, count(*) as n, sum(qty) as q from ingest "
                             f"where part < {int(rng.integers(1000, N_PART))} group by flag order by flag"})
        ops.append({"id": f"r{r}.view", "kind": "read",
                    "nutql": "select flag, qty, supp from ingest_sum order by flag"})
        ops.append({"id": f"r{r}.optimize", "kind": "maint",
                    "nutql": "optimize table ingest"})
        out.append(ops)
    return out


# ---------------------------------------------------- ingest: document batches

def _doc(rng, lo=12, hi=80):
    return " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(lo, hi)))])


def _perturb(rng, text, edits):
    words = text.split()
    for _ in range(edits):
        words[int(rng.integers(0, len(words)))] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(words)


def _respace(rng, text):
    """Same normalized text: random case and runs of whitespace."""
    words = text.split()
    return "  ".join(w.upper() if rng.random() < 0.3 else w for w in words) + " "


def write_documents(rng, data_dir):
    """The corpus (`documents.parquet`), one ingest batch (classified and
    appended) and one probe batch (streamed and classified without
    appending). Each batch mixes exact copies (case and whitespace
    changed), near copies (a few words replaced; some fall under the
    threshold) and fresh documents; the probe batch also holds near copies
    of the ingest batch's documents, so it sees the append."""
    corpus = [_doc(rng) for _ in range(N_CORPUS)]
    pq.write_table(pa.table({
        "doc_id": np.arange(N_CORPUS, dtype=np.int64),
        "text": corpus}), f"{data_dir}/documents.parquet")
    appended = []
    batches = []
    for b, kind in enumerate(["ingest", "probe"]):
        texts = []
        for _ in range(DOC_BATCH_DOCS):
            u = rng.random()
            src = corpus[rng.integers(0, N_CORPUS)]
            if appended and u < 0.15:
                texts.append(_perturb(rng, appended[rng.integers(0, len(appended))], 1))
            elif u < 0.3:
                texts.append(_respace(rng, src))
            elif u < 0.55:
                texts.append(_perturb(rng, src, int(rng.integers(1, 6))))
            else:
                texts.append(_doc(rng))
        first = 1_000_000 + b * DOC_BATCH_DOCS
        path = f"{data_dir}/batch_{b:02d}.parquet"
        pq.write_table(pa.table({
            "doc_id": np.arange(first, first + len(texts), dtype=np.int64),
            "text": texts}), path)
        if kind == "ingest":
            appended = texts
        batches.append({"id": f"b{b:02d}", "kind": kind,
                        "path": os.path.basename(path)})
    return batches


# ------------------------------------------------------------------- ingest

def ingest_rounds(rng, data_dir, rounds):
    """dml rounds with the two document batches riding in each: the
    ingest batch after the first INSERT, the probe batch after the range
    read. Every round sends the same two batches; the index starts again
    from the loaded corpus index at each round."""
    batches = write_documents(rng, data_dir)
    ops = {b["kind"]: {"id": b["id"], "kind": "write" if b["kind"] == "ingest" else "read",
                       "batch": b["path"], "mode": b["kind"]} for b in batches}
    out = []
    for r in dml_rounds(rng, rounds):
        r.insert(2, dict(ops["ingest"]))
        r.insert(6, dict(ops["probe"]))
        out.append(r)
    return out, batches


# ----------------------------------------------------------------------- all

# The plan holds WARMUP_ROUNDS[workload] untimed rounds and
# PLAN_TIMED_ROUNDS timed rounds; a run that outlasts them starts again
# from the first timed round. At the default --seconds a run times one
# round. Latencies keep falling for about four rounds while the JIT
# compiles the engine's code paths: on 4 cores, compiler threads took
# about 1.7 cores during the first sql_subquery round after one warm-up
# round. A second warm-up round cut the quartile spread of op_gmean_s
# over five runs from 0.15 to 0.08 on sql_subquery, but not on ingest
# (0.22 and 0.19), where it would cost 12 s a run that the run budget
# does not have.
WARMUP_ROUNDS = {"sql_subquery": 2, "ingest": 1}
PLAN_TIMED_ROUNDS = 2


def generate(workload, seed, run_dir):
    """Write the workload's inputs under `run_dir/data` and its operation
    plan to `run_dir/plan.json`; returns the plan."""
    rng = np.random.default_rng(seed)
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    plan = {"workload": workload, "seed": seed, "data": "data",
            "warmup_rounds": WARMUP_ROUNDS[workload]}
    rounds = WARMUP_ROUNDS[workload] + PLAN_TIMED_ROUNDS
    if workload == "sql_subquery":
        write_tables(seed, data_dir, ALL_TABLES)
        plan["rounds"] = sql_rounds(rng, SUBQUERY_SHAPES, rounds)
    elif workload == "ingest":
        write_tables(seed, data_dir, ["lineitem"])
        plan["setup"] = DML_SETUP
        plan["rounds"], plan["batches"] = ingest_rounds(rng, data_dir, rounds)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
