"""Seeded statement streams for the two workloads.

A plan holds the statements of one pass and the workload's fixtures.  The
harness runs the pass once cold (every statement's first execution in the
session), then untimed warm-up passes, then repeats it in the timed loop.
star_sql's plan also holds the round of DML statements its traced run
sends to the Dml store after the loop (the Dml layer's probe).

The seed fixes every SQL literal, DML key and value and time-travel target,
and the order of the curation builders.  star_sql and the DML round send
their statement kinds in a fixed order: the order shapes the JIT's
profiles, and seeded orders moved whole runs by about 15%.  graft only ever
sees the generated statements.  Each statement carries the DuckDB text the
output checks run, which differs from the Spark text only where the
dialects do.
"""
import datetime
import random

from datagen import ORDER_DAYS as DAYS, ROWS

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def day(n):
    d = datetime.date(1995, 1, 1) + datetime.timedelta(days=n)
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


# ---- star_sql ---------------------------------------------------------------

MV = {"name": "lineitem_daily", "table": "lineitem",
      "dims": ["l_returnflag", "l_linestatus", "l_shipdate"],
      "measures": ["count(1) AS mv_cnt", "sum(l_quantity) AS mv_sum_qty",
                   "sum(l_extendedprice) AS mv_sum_price"]}


def _pricing(r):
    return (f"SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            f"sum(l_extendedprice) AS sum_price, count(*) AS cnt "
            f"FROM lineitem WHERE l_shipdate <= {day(r.randrange(1500, 2100))} "
            f"GROUP BY l_returnflag, l_linestatus "
            f"ORDER BY l_returnflag, l_linestatus")


def _flag_revenue(r):
    d = r.randrange(0, DAYS - 180)
    return (f"SELECT l_returnflag, sum(l_extendedprice) AS rev, count(*) AS cnt "
            f"FROM lineitem WHERE l_shipdate >= {day(d)} "
            f"AND l_shipdate < {day(d + 180)} "
            f"GROUP BY l_returnflag ORDER BY l_returnflag")


def _forecast(r):
    d, x = r.randrange(0, DAYS - 365), r.randrange(2, 9) / 100
    return (f"SELECT sum(l_extendedprice * l_discount) AS revenue, "
            f"count(*) AS n FROM lineitem "
            f"WHERE l_shipdate >= {day(d)} AND l_shipdate < {day(d + 365)} "
            f"AND l_discount BETWEEN {x - 0.01:.2f} AND {x + 0.01:.2f} "
            f"AND l_quantity < {r.randrange(20, 30)}")


def _shipping_priority(r):
    d = day(r.randrange(1100, 1300))
    return (f"SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) "
            f"AS revenue FROM customer, orders, lineitem "
            f"WHERE c_mktsegment = '{r.choice(SEGMENTS)}' "
            f"AND c_custkey = o_custkey AND l_orderkey = o_orderkey "
            f"AND o_orderdate < {d} AND l_shipdate > {d} "
            f"GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10")


def _local_supplier(r):
    d = r.randrange(0, DAYS - 365)
    return (f"SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
            f"FROM customer, orders, lineitem, supplier, nation, region "
            f"WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
            f"AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
            f"AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
            f"AND r_name = '{r.choice(REGIONS)}' "
            f"AND o_orderdate >= {day(d)} AND o_orderdate < {day(d + 365)} "
            f"GROUP BY n_name ORDER BY revenue DESC, n_name")


def _brand_nation(r):
    a = r.randrange(1, 41)
    return (f"SELECT p_brand, n_name, count(*) AS n, sum(l_quantity) AS qty "
            f"FROM lineitem, part, supplier, nation "
            f"WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey "
            f"AND s_nationkey = n_nationkey AND p_type = '{r.choice(PART_TYPES)}' "
            f"AND p_size BETWEEN {a} AND {a + 9} "
            f"GROUP BY p_brand, n_name ORDER BY qty DESC, p_brand, n_name "
            f"LIMIT 20")


def _top_orders(r):
    c = r.randrange(0, ROWS["customer"] - 200)
    return (f"SELECT o_custkey, o_orderkey, o_totalprice, rk FROM ("
            f"SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER ("
            f"PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) "
            f"AS rk FROM orders WHERE o_orderpriority = '{r.choice(PRIORITIES)}' "
            f"AND o_custkey BETWEEN {c} AND {c + 199}) t WHERE rk <= 3 "
            f"ORDER BY o_custkey, rk")


def _customer_rank(r):
    return (f"SELECT n_name, c_custkey, bal FROM ("
            f"SELECT n_name, c_custkey, c_acctbal AS bal, rank() OVER ("
            f"PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rk "
            f"FROM customer JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE c_mktsegment = '{r.choice(SEGMENTS)}') t WHERE rk <= 5 "
            f"ORDER BY n_name, rk")


STAR = {"pricing": (_pricing, True), "flag_revenue": (_flag_revenue, True),
        "forecast": (_forecast, False),
        "shipping_priority": (_shipping_priority, False),
        "local_supplier": (_local_supplier, False),
        "brand_nation": (_brand_nation, False),
        "top_orders": (_top_orders, False),
        "customer_rank": (_customer_rank, False)}


def _star_op(r, key):
    make, mv_eligible = STAR[key]
    sql = make(r)
    return {"kind": "sql", "key": key, "sql": sql, "duck": sql,
            "mv_eligible": mv_eligible}


# ---- curation ---------------------------------------------------------------

# Left out to fit 22 runs per workload in the time budget on 4 cores:
# d22_minhash_md5_pairs (4-6 s warm, 40% of a pass, room for one pass per
# run) and e05_ann_ivf (4-5 s cold; e03_ann_lsh keeps an ANN path).
BUILDERS = ["p04_curation_pipeline", "d03_minhash_pairs", "d11_boilerplate",
            "d15_cdc_chunk_dedup", "t08_tfidf_topk", "t37_heavy_hitters",
            "t46_sequence_pack", "e03_ann_lsh"]


def curation(r):
    ops = [{"kind": "builder", "key": b} for b in BUILDERS]
    r.shuffle(ops)
    return {"pass": ops}


# ---- the Dml probe -------------------------------------------------------------

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
WRITES = ["insert", "update", "delete", "merge"]


def _row(r, key):
    return (f"({key}, {r.randrange(ROWS['customer'])}, '{r.choice('FOP')}', "
            f"CAST({r.randrange(100000, 50000000) / 100:.2f} AS DOUBLE), "
            f"{day(r.randrange(DAYS))}, '{r.choice(PRIORITIES)}')")


def _write(r, kind, idx):
    if kind == "insert":
        values = ", ".join(_row(r, 10_000_000 + idx * 1000 + j)
                           for j in range(20))
        return {"values": values,
                "duck": [f"INSERT INTO orders_dml VALUES {values}"]}
    if kind == "update":
        c = r.randrange(ROWS["customer"] - 50)
        where = f"o_custkey BETWEEN {c} AND {c + 49}"
        sets = [["o_orderstatus", "'F'"],
                ["o_totalprice", "o_totalprice * CAST(1.05 AS DOUBLE)"]]
        assign = ", ".join(f"{c_} = {e}" for c_, e in sets)
        return {"where": where, "set": sets,
                "duck": [f"UPDATE orders_dml SET {assign} WHERE {where}"]}
    if kind == "delete":
        k = r.randrange(ROWS["orders"] - 100)
        where = f"o_orderkey BETWEEN {k} AND {k + 99}"
        return {"where": where,
                "duck": [f"DELETE FROM orders_dml WHERE {where}"]}
    # merge: half the source keys exist (update), half are new (insert)
    keys = r.sample(range(ROWS["orders"]), 10) + [
        20_000_000 + idx * 1000 + j for j in range(10)]
    values = ", ".join(_row(r, k) for k in keys)
    src = f"(VALUES {values}) s({', '.join(ORDER_COLS)})"
    sets = [["o_orderstatus", "s.o_orderstatus"],
            ["o_totalprice", "s.o_totalprice"]]
    return {"values": values, "set": sets, "duck": [
        f"UPDATE orders_dml SET o_orderstatus = s.o_orderstatus, "
        f"o_totalprice = s.o_totalprice FROM {src} "
        f"WHERE orders_dml.o_orderkey = s.o_orderkey",
        f"INSERT INTO orders_dml SELECT s.* FROM {src} WHERE NOT EXISTS ("
        f"SELECT 1 FROM orders_dml t WHERE t.o_orderkey = s.o_orderkey)"]}


def _read(r, template):
    c = r.randrange(ROWS["customer"] - 500)
    sql = [
        f"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
        f"FROM orders_dml WHERE o_orderdate >= {day(r.randrange(DAYS))} "
        f"GROUP BY o_orderstatus ORDER BY o_orderstatus",
        f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        f"FROM orders_dml WHERE o_custkey = {c} ORDER BY o_orderkey",
        f"SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS mx "
        f"FROM orders_dml WHERE o_custkey BETWEEN {c} AND {c + 499} "
        f"GROUP BY o_orderpriority ORDER BY o_orderpriority"][template]
    return {"kind": "read", "key": f"read{template}", "sql": sql, "duck": sql}


AS_OF_SQL = ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
             "FROM orders_asof GROUP BY o_orderstatus ORDER BY o_orderstatus")


def _round(r, kinds):
    """A round of operations against a fresh copy of the base table; a
    time-travel read targets the version before a seeded earlier write."""
    ops = []
    for kind in kinds:
        if kind in WRITES:
            op = {"kind": kind, "key": kind}
            op.update(_write(r, kind, len(ops)))
        elif kind.startswith("read"):
            op = _read(r, int(kind[4:]))
        else:
            earlier = [i for i, o in enumerate(ops) if o["kind"] in WRITES]
            op = {"kind": "time_travel", "key": "time_travel",
                  "write": r.choice(earlier), "sql": AS_OF_SQL,
                  "duck": AS_OF_SQL}
        ops.append(op)
    return ops


# 5 writes and 7 reads, two of them time-travel reads
DML_ROUND = ["insert", "read0", "update", "read1", "time_travel", "delete",
             "read2", "merge", "read0", "update", "time_travel", "read1"]


DML_PROBE_ROUNDS = 3


# ---- plans ------------------------------------------------------------------

def star_sql(r):
    ops = [_star_op(r, k) for k in STAR]
    return {"pass": ops, "mv": MV, "dml_probe": _round(r, DML_ROUND),
            "dml_probe_rounds": DML_PROBE_ROUNDS}


WORKLOADS = {"star_sql": star_sql, "curation": curation}
# untimed passes between the cold pass and the timed loop, so that the loop
# does not start on the steepest part of the JIT's warm-up
WARMUP_PASSES = 1


def make_plan(workload, seed):
    plan = WORKLOADS[workload](random.Random(f"{workload}:{seed}"))
    plan["workload"] = workload
    plan["seed"] = seed
    plan["warmup_passes"] = WARMUP_PASSES
    return plan
