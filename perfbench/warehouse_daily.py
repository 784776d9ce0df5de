"""warehouse_daily — the reference's daily DAG plus its dashboard refresh.

Closed loop, one client.  Each day the benchmark appends a seeded OLTP delta
of loan applications as parquet; the engine then runs extract → clean → QC
(``IncrementalRun.run``), the bucketed LWW load (``upsert_parquet``) and the
star-schema rebuild (``warehouse_sql.build_warehouse``), and the dashboard
is refreshed: the three loan visuals of ``plans.dashboard`` over the
loaded table, the warehouse's ``analytic_query`` and seven queryset queries
over the star schema, each built and ``collect()``-ed.

The first ``WARM_DAYS`` days run untimed and fill the JIT and the tables:
day 0 the whole DAG, later warm days the ETL alone (the JVM's second-tier
compiler is still at work on the ETL through day 0; a second warm refresh
cost more run time than it took out of the spread).  ``MEASURED_DAYS``
measured days follow, so the loaded table grows under the timed loads and
each day's refresh reads a bigger one.  The run's length is set in days,
not by ``--seconds``.  Correctness is checked untimed against DuckDB: the queryset queries against their registry oracles once per
run, the visuals and the analytic query against a recomputation over the
same parquet each day, the QC gate against what the generator wrote, and the
loaded row count against the generator's key count.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import time

import duckdb

import gen
import tracing
from stats import median, tail, tree_cpu_s

QUERYSET = [
    "star_join_revenue", "pricing_summary", "revenue_rollup", "monthly_trend",
    "top_revenue_customers", "latest_event_per_user", "hourly_events",
]
VISUALS = ["kpi_cards", "by_employment_status", "monthly_loan_trend"]
LOAN_ROWS = 2000
KEY, REQUIRED = "Application_ID", "member_id"  # the QC gate: unique keys, no NULL member ids
WARM_DAYS = 2      # untimed days: the whole DAG on the first, the ETL alone after
MEASURED_DAYS = 2
CENT = 0.011  # float slack of the visual checks

VISUAL_SQL = {
    "kpi_cards": "SELECT count(*) AS customers, round(sum(Loan_Amount), 2) AS total_loan_amount, "
                 "round(max(Annual_Income), 2) AS max_annual_income, round(min(Annual_Income), 2) AS min_annual_income FROM loans",
    "by_employment_status": "SELECT Employment_Status AS employment_status, round(sum(Loan_Amount), 2) AS total_loan_amount, "
                            "round(avg(Credit_Score), 2) AS avg_credit_score, count(*) AS customers FROM loans GROUP BY 1",
    "monthly_loan_trend": "SELECT month(Loan_Application_Date) AS month, round(sum(Loan_Amount), 2) AS total_loan_amount FROM loans GROUP BY 1",
    "analytic_query": "SELECT r.r_name AS region, n.n_name AS nation, round(sum(o.o_totalprice), 2) AS total_revenue, count(*) AS num_orders "
                      "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey "
                      "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1, 2",
}


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def oracle_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result (full-precision floats), the
    queryset's oracle-parity contract (tools/diffcheck.py's strict canon)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_canon(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def same_rows(a, b) -> bool:
    """Row-set equality with a cent of slack on floats: the visuals round
    double sums to cents, and two engines may sum in different orders."""
    def key(r):
        return tuple("" if isinstance(v, float) else _canon(v) for v in r)

    a, b = sorted(map(tuple, a), key=key), sorted(map(tuple, b), key=key)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or abs(x - y) > CENT + 1e-9 * abs(x):
                    return False
            elif _canon(x) != _canon(y):
                return False
    return True


class Day:
    """State of the daily DAG across days: paths and the watermark."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.oltp = os.path.join(ctx.work, "oltp", "loans")
        self.loaded = os.path.join(ctx.work, "dw", "loans")
        self.watermark = None
        os.makedirs(self.oltp, exist_ok=True)

    def append_delta(self, day: int) -> int:
        """Write the day's delta; returns the rows the cleaning keeps."""
        return gen.loan_delta(self.ctx.seed, day, LOAN_ROWS, os.path.join(self.oltp, f"day{day:03d}.parquet"))

    def run_etl(self, op: str) -> None:
        """extract → clean → QC → load, then the star schema."""
        from oltp_to_data_warehouse_pipeline_spark.plans import warehouse_sql
        from oltp_to_data_warehouse_pipeline_spark.plans.etl import IncrementalRun
        from oltp_to_data_warehouse_pipeline_spark.sources import upsert

        spark, tr = self.ctx.spark, self.ctx.tracer
        run = IncrementalRun(watermark_col="row_id", quality_keys=(KEY,), quality_not_null=(REQUIRED,))
        with tr.span("etl.run", op):
            cleaned, wm, qc = run.run(spark.read.parquet(self.oltp), self.watermark)
        # the generator writes unique keys per day and the cleaning drops NULL
        # member ids, so every check must pass; a failed gate blocks the load
        # like the DAG's QC task does
        self.ctx.check(all(qc.values()), f"QC gate {qc}")
        if all(qc.values()):
            self.watermark = wm
            upsert.upsert_parquet(spark, cleaned, self.loaded, key=KEY, order_cols=["row_id"])
        with tr.span("warehouse.build", op) as sp:
            tables = warehouse_sql.build_warehouse(spark, self.ctx.sf_dir)
        if tr.enabled:
            wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            sp.attrs["bytes_written"] = sum(tracing.dir_bytes(os.path.join(wh, t)) for t in tables)

    def dashboard(self, queries: dict) -> dict:
        """Build each dashboard query (the construction is part of its wall)."""
        from oltp_to_data_warehouse_pipeline_spark.plans import dashboard, warehouse_sql
        from oltp_to_data_warehouse_pipeline_spark.sources.upsert import read_upserted

        spark, sf = self.ctx.spark, self.ctx.sf_dir
        out = {}
        for name in VISUALS:
            out[name] = lambda name=name: getattr(dashboard, name)(read_upserted(spark, self.loaded))
        out["analytic_query"] = lambda: warehouse_sql.analytic_query(spark)
        for name in QUERYSET:
            out[name] = lambda name=name: queries[name](spark, sf)
        return out

    def refresh(self, queries: dict, op: str, samples: list[float] | None, cpu: list[float] | None) -> dict:
        """Run every dashboard query once; returns {name: (cols, rows)}.
        Appends each query's wall to ``samples`` and CPU seconds to ``cpu``."""
        tr, jsc = self.ctx.tracer, self.ctx.spark.sparkContext._jsc
        results = {}
        for name, build in self.dashboard(queries).items():
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                with tr.span("plans.build", f"{op}.{name}"):
                    df = build()
                with tr.span("exec", f"{op}.{name}"):
                    rows = df.collect()
            except Exception as e:  # one failed query must not end the run
                self.ctx.check(False, f"{name}: {e!r}")
                continue
            self.ctx.check(True, name)
            if samples is not None:
                samples.append(time.perf_counter() - t0)
                cpu.append(tree_cpu_s(os.getpid()) - c0)
            results[name] = (df.columns, [tuple(r) for r in rows])
            if tr.enabled:
                self.ctx.persisted.append(len(jsc.getPersistentRDDs()))
        return results


def duck(ctx, day: Day) -> duckdb.DuckDBPyConnection:
    """DuckDB over the same parquet the engine reads: the star schema and
    the loaded loan table."""
    con = duckdb.connect()
    for t in gen.BASE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.sf_dir}/{t}.parquet'")
    con.execute(f"CREATE VIEW loans AS SELECT * EXCLUDE (__bucket) FROM "
                f"read_parquet('{day.loaded}/*/*.parquet', hive_partitioning = true, union_by_name = true)")
    return con


def check_day(ctx, con, day: Day, days_loaded: int, results: dict) -> None:
    """Untimed checks of one refresh: the visuals and the analytic query
    against DuckDB, the loaded row count against the generator's key count.
    Each mismatch is one failure."""
    for name, sql in VISUAL_SQL.items():
        if name in results:
            ctx.check(same_rows(results[name][1], con.execute(sql).fetchall()), f"{name} differs from DuckDB")
    files = sorted(glob.glob(f"{day.oltp}/*.parquet"))[:days_loaded]
    want = con.execute(f"SELECT count(DISTINCT {KEY}) FROM read_parquet({files!r}) WHERE {REQUIRED} IS NOT NULL").fetchone()[0]
    got = con.execute("SELECT count(*) FROM loans").fetchone()[0]
    ctx.check(want == got, f"{got} rows loaded, generator expects {want} keys")


def check_oracles(ctx, con, results: dict, oracles: dict) -> None:
    """The queryset queries against their DuckDB oracle twins, by hash."""
    for name in QUERYSET:
        if name in results:
            res = con.execute(oracles[name])
            want = oracle_hash([d[0] for d in res.description], res.fetchall())
            ctx.check(oracle_hash(*results[name]) == want, f"{name} differs from its oracle")


def instrument(tr) -> None:
    """Spans around the calls the package makes into other layers."""
    from oltp_to_data_warehouse_pipeline_spark import catalog
    from oltp_to_data_warehouse_pipeline_spark.operators import quality
    from oltp_to_data_warehouse_pipeline_spark.plans import queryset
    from oltp_to_data_warehouse_pipeline_spark.sources import upsert

    tr.wrap(queryset, "load_table", "catalog.load")
    tr.wrap(catalog, "load_table", "catalog.load")
    tr.wrap(quality, "quality_gate", "etl.qc")
    tr.wrap(upsert, "upsert_parquet", "upsert", observe=tracing.observe_upsert)


def layer_metrics(ctx, spans: list, lay: dict) -> dict:
    """The per-layer values only this workload's spans carry."""
    builds = [s for s in spans if s.name == "warehouse.build"]
    return {"warehouse.bytes_written": sum(s.attrs.get("bytes_written", 0) for s in builds) / max(len(builds), 1)}


def run(ctx) -> dict:
    queries, oracles = ctx.registry
    day = Day(ctx)
    for d in range(WARM_DAYS):
        day.append_delta(d)
        day.run_etl(f"day{d}")
        results = day.refresh(queries, f"day{d}", None, None) if d == 0 else {}
        with duck(ctx, day) as con:
            check_day(ctx, con, day, d + 1, results)
            if d == 0:
                check_oracles(ctx, con, results, oracles)
        ctx.log(f"warm day {d} loaded and checked")

    ctx.tracer.phase = "measure"
    etl_walls: list[float] = []
    etl_cpu: list[float] = []
    dash: list[float] = []
    dash_cpu: list[float] = []
    incoming = 0
    for d in range(WARM_DAYS, WARM_DAYS + MEASURED_DAYS):
        incoming += day.append_delta(d)
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        day.run_etl(f"day{d}")
        etl_walls.append(time.perf_counter() - t0)
        etl_cpu.append(tree_cpu_s(os.getpid()) - c0)
        n0 = len(dash)
        results = day.refresh(queries, f"day{d}", dash, dash_cpu)
        ctx.log(f"day {d}: etl {etl_walls[-1]:.2f}s, queries {[round(w, 2) for w in dash[n0:]]}")
        with duck(ctx, day) as con:
            check_day(ctx, con, day, d + 1, results)
    tail_v, tail_p, n = tail(dash)
    ctx.note(op_p50_s=median(dash), op_tail_s=tail_v, op_tail_percentile=tail_p, op_samples=n,
             incoming_rows=incoming, etl_walls=etl_walls)
    # the mean, not a percentile: the samples are eleven different queries,
    # once a day, and a percentile of so lumpy a set jumps between queries
    return {"op_s": sum(dash) / len(dash), "cycle_s": median(etl_walls),
            "op_cpu_s": sum(dash_cpu) / len(dash_cpu), "cycle_cpu_s": median(etl_cpu)}
