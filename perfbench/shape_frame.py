"""``shape_frame``: frame, flatten and path leaves of
``__spark_entry__.queries()`` over a seeded TPC-H-like dataset with a
third of the orders and lineitems of the sf0.01 test tables.  Each leaf
is checked against its ``oracle_sql()`` twin on DuckDB.

One timed operation is one pass over the leaves (closed loop, one
client); each leaf is built and collected in turn.  The traced run
makes the same pass with one ``ops.relational`` span per leaf.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import __spark_entry__ as entry
from checks import oracle_multiset
from harness import Measured

# The general frame compiler (vocabulary_region is the one leaf the fast
# tree refuses), a zeroOrMore closure and list flatten.  The other leaves
# take the fast frame tree that kg_stream's frame layer already runs; a
# run's time budget, mostly compile-bound warm-up, allows three.
# ``store_frame_names`` could not be used in any case: it writes its sink
# to a fixed path outside the working directory.
LEAVES = (
    "vocabulary_region",
    "path_closure_chain",
    "flatten_list_counts",
)

# sf0.01 has 100 suppliers and 15000 orders (~60k lineitems, four lines
# an order on average).  The leaves run on a third of the orders: on a
# 4-core host a pass over sf0.01's size took ~16 s against ~12 s, which
# with session start, warm-up and two passes does not fit a run's time
# budget.  Per-job cost, more than per-row work, sets both figures.
N_SUPPLIERS, N_ORDERS = 100, 5000
TABLES = ("region", "nation", "supplier", "orders", "lineitem")


def table_sql(seed: int) -> dict:
    """DuckDB statements for the five tables the leaves read, with the
    column names and types of the TPC-H-like test tables.  Every random
    choice is a hash of (seed, row, column), so one seed gives one
    dataset."""
    h = f"hash({seed}::BIGINT, i, '{{col}}')"

    def pick(col: str, n: int) -> str:
        return f"({h.format(col=col)} % {n})::BIGINT"

    return {
        "region": """
            SELECT i::INTEGER AS r_regionkey,
                   ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1]
                     AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
                   (i % 5)::INTEGER AS n_regionkey
            FROM range(25) t(i)""",
        "supplier": f"""
            SELECT i::BIGINT AS s_suppkey,
                   'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   {pick('nation', 25)}::INTEGER AS s_nationkey,
                   round({pick('bal', 1000000)} / 100.0 - 999.99, 2)
                     AS s_acctbal
            FROM range({N_SUPPLIERS}) t(i)""",
        "orders": f"""
            SELECT i::BIGINT AS o_orderkey,
                   {pick('cust', 1500)}::BIGINT AS o_custkey,
                   ['O','F','P'][{pick('status', 3)} + 1] AS o_orderstatus,
                   round({pick('price', 50000000)} / 100.0, 2)
                     AS o_totalprice,
                   (TIMESTAMP '1995-01-01'
                    + to_days({pick('date', 2400)}::INTEGER))
                     AS o_orderdate,
                   ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED',
                    '5-LOW'][{pick('prio', 5)} + 1] AS o_orderpriority
            FROM range({N_ORDERS}) t(i)""",
        "lineitem": f"""
            WITH o AS (
                SELECT i AS ok, 1 + {pick('lines', 7)} AS n
                FROM range({N_ORDERS}) t(i)),
            l AS (
                SELECT ok, unnest(range(1, n + 1)) AS ln FROM o)
            SELECT ok::BIGINT AS l_orderkey,
                   (hash({seed}::BIGINT, ok, ln, 'part') % 2000)::BIGINT
                     AS l_partkey,
                   (hash({seed}::BIGINT, ok, ln, 'supp')
                    % {N_SUPPLIERS})::BIGINT AS l_suppkey,
                   ln::INTEGER AS l_linenumber,
                   (1 + hash({seed}::BIGINT, ok, ln, 'qty') % 50)::DOUBLE
                     AS l_quantity,
                   round((hash({seed}::BIGINT, ok, ln, 'ext') % 10000000)
                         / 100.0, 2) AS l_extendedprice,
                   ((hash({seed}::BIGINT, ok, ln, 'disc') % 11)
                    / 100.0)::DOUBLE AS l_discount,
                   ((hash({seed}::BIGINT, ok, ln, 'tax') % 9)
                    / 100.0)::DOUBLE AS l_tax,
                   ['A','N','R'][(hash({seed}::BIGINT, ok, ln, 'rf') % 3)::BIGINT + 1]
                     AS l_returnflag,
                   ['F','O'][(hash({seed}::BIGINT, ok, ln, 'ls') % 2)::BIGINT + 1]
                     AS l_linestatus,
                   (TIMESTAMP '1995-01-01'
                    + to_days((hash({seed}::BIGINT, ok, ln, 'ship')
                               % 2400)::INTEGER)) AS l_shipdate
            FROM l""",
    }


def write_tables(seed: int, dest: str) -> int:
    """Write the tables as parquet under ``dest``; total rows."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    con = duckdb.connect()
    total = 0
    try:
        for name, sql in table_sql(seed).items():
            path = os.path.join(dest, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
            total += con.execute(
                f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    finally:
        con.close()
    return total


class ShapeFrame:
    name = "shape_frame"
    unit = "queries"
    part = "leaf"  # what one latency sample times
    # the first pass after the warm-up still runs while the JIT compiles
    # what the warm-up queued; the median of two passes is steadier
    min_ops = 2

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed = spark, seed
        self.tables = os.path.join(workdir, "tables")
        self.queries = entry.queries()
        self.samples: list = []
        self.input_rows = 0

    def build_inputs(self) -> None:
        self.input_rows = write_tables(self.seed, self.tables)

    def _pass(self, leaf_span=None) -> tuple:
        rows, unit_s = {}, []
        for name in LEAVES:
            t0 = time.perf_counter()
            if leaf_span is None:
                df = self.queries[name](self.spark, self.tables)
                rows[name] = (df.columns, [tuple(r) for r in df.collect()])
            else:
                with leaf_span(name) as rec:
                    df = self.queries[name](self.spark, self.tables)
                    rec["call_s"] = time.perf_counter() - t0
                    got = [tuple(r) for r in df.collect()]
                    rec["exec_s"] = time.perf_counter() - t0 - rec["call_s"]
                    rec["rows_in"] = self.input_rows
                    rec["rows_out"] = len(got)
                rows[name] = (df.columns, got)
            unit_s.append(time.perf_counter() - t0)
        return rows, unit_s

    def _leaf(self, name: str) -> None:
        self.queries[name](self.spark, self.tables).collect()

    def warm_up(self) -> None:
        """Every leaf once, all at the same time: the first call of a
        leaf is mostly class loading and compiling on the driver, which
        overlaps across leaves, so the warm-up costs about its slowest
        leaf instead of the sum of them."""
        with ThreadPoolExecutor(len(LEAVES)) as pool:
            list(pool.map(self._leaf, LEAVES))

    def timed_op(self, counters) -> dict:
        with Measured(counters) as m:
            rows, unit_s = self._pass()
        rec = {"wall_s": m.wall_s, "cpu_s": m.cpu_s, "rows": rows,
               "unit_s": unit_s}
        self.samples.append(rec)
        return rec

    def units_per_op(self) -> int:
        return len(LEAVES)

    def check(self) -> dict:
        """Every pass's leaves against their DuckDB oracles."""
        df_multiset = oracle_multiset()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            want = {}
            for name in LEAVES:
                rel = con.sql(oracles[name])
                cols = [d[0] for d in rel.description]
                want[name] = (sorted(cols), df_multiset(rel.fetchall(), cols))
        finally:
            con.close()
        per_op, out_rows = [], 0
        for rec in self.samples:
            problems, out_rows = [], 0
            for name, (cols, rows) in rec["rows"].items():
                out_rows += len(rows)
                ocols, oset = want[name]
                if sorted(cols) != ocols:
                    problems.append(f"{name}: columns {sorted(cols)} "
                                    f"!= {ocols}")
                elif df_multiset(rows, cols) != oset:
                    problems.append(f"{name}: rows differ from the oracle")
            per_op.append(problems)
        return {"problems": per_op, "output_rows": out_rows}

    def extra_report(self) -> dict:
        per_leaf: dict = {n: [] for n in LEAVES}
        for rec in self.samples:
            for n, s in zip(LEAVES, rec["unit_s"]):
                per_leaf[n].append(s)
        return {"leaf_s": per_leaf,
                "leaf_rows": {n: len(r) for n, (_, r) in
                              (self.samples[-1]["rows"].items()
                               if self.samples else [])}}

    def baseline_op(self) -> None:
        self._pass()

    def traced_op(self, tracer) -> dict:
        """One pass with a span per leaf, kept for ``check``."""
        rows, _ = self._pass(lambda name: tracer.span(name, "ops.relational"))
        self.samples.append({"rows": rows})
        return {}
