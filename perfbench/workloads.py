"""Seeded workload definitions: input data, PQL statement streams and their DuckDB twins.

Every template draws its literals from a random.Random seeded by the workload
seed and returns a Stmt: the PQL the broker receives, the DuckDB SQL that
computes the reference answer, and how the two are compared:

  agg    one row of aggregation values, exact (floats to 1e-9 relative)
  group  GROUP BY ... TOP n rows: `keys` group keys then values, in TOP order
  sel    selection page with a total ORDER BY, row for row
  hll    DISTINCTCOUNTHLL against the exact distinct count
  pctest PERCENTILEEST values against the [p-5%, p+5%] rank window

On ingest_fresh, "{S}" in both texts is the row count the freshness poller
last saw complete; the load generator fills it in when it sends the query.
"""
import os
import random
from collections import namedtuple

Stmt = namedtuple("Stmt", "tpl pql sql check keys")


def stmt(tpl, pql, sql, check, keys=0):
    return Stmt(tpl, pql, sql, check, keys)


# ---- broker_small: TPC-H-shaped lineitem, 60K rows -------------------------

LINEITEM_ROWS = 60000
# The table is the same for every workload seed, like a fixed sf0.01 table, so
# it and its star-tree are built once; the seed drives statements and events.
LINEITEM_SEED = 1


def write_lineitem(path):
    """Lineitem with the sf0.01 schema; returns (rows, bytes)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(LINEITEM_SEED)
    n = LINEITEM_ROWS
    lines = rng.integers(1, 8, size=n)
    order = np.repeat(np.arange(1, n + 1, dtype=np.int64), lines)[:n]
    starts = np.r_[0, np.flatnonzero(np.diff(order)) + 1]
    linenumber = (np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n])) + 1).astype(np.int32)
    orderkey = order * 4 - 3
    partkey = rng.integers(1, 2001, size=n)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    retail = (90000 + (partkey // 10) % 20001 + 100 * (partkey % 1000)) / 100.0
    days = rng.integers(0, 2526, size=n)
    table = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(1, 101, size=n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail, 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n)],
        "l_shipdate": (np.datetime64("1992-01-02") + days).astype("datetime64[us]"),
    })
    os.makedirs(path, exist_ok=True)
    f = os.path.join(path, "part-00000.parquet")
    pq.write_table(table, f)
    return n, os.path.getsize(f)


def small_templates():
    def count(r):
        return stmt("count", "SELECT COUNT(*) FROM lineitem",
                    "SELECT count(*) FROM lineitem", "agg")

    def sum_avg(r):
        d1 = r.randint(0, 5) / 100
        d2 = round(d1 + r.randint(1, 5) / 100, 2)
        rf = r.choice("RAN")
        w = f"l_discount BETWEEN {d1} AND {d2} AND l_returnflag = '{rf}'"
        return stmt("sum_avg", f"SELECT SUM(l_quantity), AVG(l_extendedprice) FROM lineitem WHERE {w}",
                    f"SELECT sum(l_quantity), avg(l_extendedprice) FROM lineitem WHERE {w}", "agg")

    def group_top(r):
        # star-tree dimensions and metrics only, so the plans rule can route it
        ls, n = r.choice("OF"), r.randint(2, 3)
        return stmt("group_top",
                    f"SELECT SUM(l_quantity), COUNT(*) FROM lineitem WHERE l_linestatus = '{ls}' "
                    f"GROUP BY l_returnflag TOP {n}",
                    "SELECT l_returnflag, sum(l_quantity) AS s, count(*) FROM lineitem "
                    f"WHERE l_linestatus = '{ls}' GROUP BY 1 ORDER BY s DESC, 1 LIMIT {n}", "group", 1)

    def group_udf(r):
        d = r.randint(0, 9) / 100
        n = r.randint(3, 7)
        return stmt("group_udf",
                    f"SELECT COUNT(*) FROM lineitem WHERE l_discount >= {d} "
                    f"GROUP BY shipyear(l_shipdate) TOP {n}",
                    "SELECT year(l_shipdate) AS y, count(*) AS c FROM lineitem "
                    f"WHERE l_discount >= {d} GROUP BY y ORDER BY c DESC, y LIMIT {n}", "group", 1)

    def page(r):
        q = r.randint(1, 45)
        off, n = r.randint(0, 500), r.randint(10, 50)
        w = f"l_quantity > {q}"
        return stmt("page",
                    f"SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE {w} "
                    f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {off}, {n}",
                    f"SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE {w} "
                    f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {n} OFFSET {off}",
                    "sel")

    def distinct(r):
        s = r.randint(5, 100)
        return stmt("distinctcount",
                    f"SELECT DISTINCTCOUNT(l_partkey) FROM lineitem WHERE l_suppkey < {s}",
                    f"SELECT count(DISTINCT l_partkey) FROM lineitem WHERE l_suppkey < {s}", "agg")

    def hll(r):
        q = r.randint(1, 45)
        return stmt("distinctcounthll",
                    f"SELECT DISTINCTCOUNTHLL(l_orderkey) FROM lineitem WHERE l_quantity > {q}",
                    f"SELECT count(DISTINCT l_orderkey) FROM lineitem WHERE l_quantity > {q}", "hll")

    def pctest(r):
        ls = r.choice("OF")
        w = f"l_linestatus = '{ls}'"
        return stmt("percentileest90",
                    f"SELECT PERCENTILEEST90(l_extendedprice) FROM lineitem WHERE {w}",
                    "SELECT quantile_disc(l_extendedprice, 0.85), quantile_disc(l_extendedprice, 0.95) "
                    f"FROM lineitem WHERE {w}", "pctest")

    def pct50(r):
        q = r.randint(1, 45)
        return stmt("percentile50",
                    f"SELECT PERCENTILE50(l_extendedprice) FROM lineitem WHERE l_quantity > {q}",
                    f"SELECT quantile_cont(l_extendedprice, 0.5) FROM lineitem WHERE l_quantity > {q}",
                    "agg")

    def group_supp(r):
        p = r.randint(200, 2000)
        n = r.randint(5, 20)
        return stmt("group_minmax",
                    f"SELECT COUNT(*), MAX(l_extendedprice), MIN(l_discount) FROM lineitem "
                    f"WHERE l_partkey < {p} GROUP BY l_suppkey TOP {n}",
                    "SELECT l_suppkey, count(*) AS c, max(l_extendedprice), min(l_discount) "
                    f"FROM lineitem WHERE l_partkey < {p} GROUP BY 1 ORDER BY c DESC, 1 LIMIT {n}",
                    "group", 1)

    return [count, sum_avg, group_top, group_udf, page, distinct, hll, pctest, pct50, group_supp]


# ---- ingest_fresh: the realtime table the stream publishes ------------------

def ingest_templates():
    kind = lambda r: f"k{r.randint(0, 7)}"

    def count(r):
        return stmt("rt_count", "SELECT COUNT(*) FROM events_rt WHERE seq < {S}",
                    "SELECT count(*) FROM events WHERE seq < {S}", "agg")

    def sum_avg(r):
        w = f"seq < {{S}} AND kind = '{kind(r)}'"
        return stmt("rt_sum_avg", f"SELECT SUM(amount), AVG(latency_ms) FROM events_rt WHERE {w}",
                    f"SELECT sum(amount), avg(latency_ms) FROM events WHERE {w}", "agg")

    def group(r):
        n = r.randint(3, 8)
        return stmt("rt_group_top",
                    f"SELECT COUNT(*), MAX(latency_ms) FROM events_rt WHERE seq < {{S}} GROUP BY kind TOP {n}",
                    "SELECT kind, count(*) AS c, max(latency_ms) FROM events WHERE seq < {S} "
                    f"GROUP BY 1 ORDER BY c DESC, 1 LIMIT {n}", "group", 1)

    def page(r):
        w = f"seq < {{S}} AND kind = '{kind(r)}'"
        n = r.randint(10, 50)
        return stmt("rt_page",
                    f"SELECT seq, user_id, amount FROM events_rt WHERE {w} ORDER BY amount DESC, seq LIMIT {n}",
                    f"SELECT seq, user_id, amount FROM events WHERE {w} ORDER BY amount DESC, seq LIMIT {n}",
                    "sel")

    def distinct(r):
        w = f"seq < {{S}} AND latency_ms > {r.randint(0, 150)}"
        return stmt("rt_distinctcount", f"SELECT DISTINCTCOUNT(user_id) FROM events_rt WHERE {w}",
                    f"SELECT count(DISTINCT user_id) FROM events WHERE {w}", "agg")

    def pctest(r):
        return stmt("rt_percentileest90", "SELECT PERCENTILEEST90(latency_ms) FROM events_rt WHERE seq < {S}",
                    "SELECT quantile_disc(latency_ms, 0.85), quantile_disc(latency_ms, 0.95) "
                    "FROM events WHERE seq < {S}", "pctest")

    return [count, sum_avg, group, page, distinct, pctest]


def stream(templates, seed, n, dashboard_share):
    """Warm-up prefix (one statement per template, which is also the fixed
    dashboard) followed by n statements: each repeats the next dashboard
    statement with probability dashboard_share, else draws fresh literals for
    the next template. Both halves cycle through the templates, so every run
    has the same template mix and only literals and interleaving vary."""
    rng = random.Random(seed)
    dashboard = [t(rng) for t in templates]
    out = list(dashboard)
    d = f = 0
    for _ in range(n):
        if rng.random() < dashboard_share:
            out.append(dashboard[d % len(dashboard)])
            d += 1
        else:
            out.append(templates[f % len(templates)](rng))
            f += 1
    return out, len(dashboard)
