"""The benchmark's workloads: request lists, the fan-out workflow, output checks.

Each workload loads a different layer of the engine:

* ``catalog_relational`` — short relational/TPC-H catalog targets plus
  one ``availableNow`` stream replay, whose time is largely driver-side
  per-request overhead (route match, resolve, scan set-up, Catalyst
  compile, micro-batch planning and commits, job scheduling);
* ``routed_fanout`` — one ``Workflow.run`` of 25 pattern-routed targets
  sharing one persisted join, each written to parquet: routing, per-run
  memo, persist-on-reuse, config injection and 25 short write jobs.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

CATALOG_RELATIONAL = (
    "pricing_summary", "region_revenue", "top_orders", "customer_running_spend", "tpch_q08",
    "stream_tumbling_hourly",
)
NATIONS = tuple(f"nation_{i}" for i in range(25))
ROUTED_MAX_DISCOUNT = "0.06"


@dataclass(frozen=True)
class Workload:
    name: str
    targets: tuple[str, ...]
    #: Scale of the generated tables (1.0 ~ 6M lineitem rows).
    sf: float
    #: True: one request resolves every target in one ``Workflow.run``.
    fanout: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload("catalog_relational", CATALOG_RELATIONAL, sf=0.02),
        Workload("routed_fanout", tuple(f"revenue.{n}" for n in NATIONS), sf=0.01, fanout=True),
    )
}


def routed_workflow():
    """The fan-out workflow: 25 ``revenue.{nation}`` targets over one
    shared ``enriched`` join, with ``max_discount`` injected by a
    pattern-routed config entry."""
    from pyspark.sql import functions as F

    from interlinked_spark.sources.readers import table_provider
    from interlinked_spark.workflow import Workflow

    wkf = Workflow("", config={"revenue.{nation:identifier}": {"max_discount": ROUTED_MAX_DISCOUNT}})
    table_provider(wkf)

    @wkf.depend(li="table.lineitem", o="table.orders", c="table.customer", n="table.nation")
    @wkf.provide("enriched")
    def enriched(li, o, c, n):
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(n, c.c_nationkey == n.n_nationkey)
            .select(
                F.lower("n_name").alias("nation"),
                F.year("o_orderdate").alias("year"),
                "l_discount",
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            )
        )

    @wkf.depend(e="enriched")
    @wkf.provide("revenue.{nation:identifier}")
    def revenue(e, nation: str, max_discount: str):
        return (
            e.filter((F.col("nation") == nation) & (F.col("l_discount") <= float(max_discount)))
            .groupBy("year")
            .agg(F.sum("revenue").alias("revenue"), F.count("*").alias("n_lines"))
        )

    return wkf


def routed_oracle(nation: str) -> str:
    """DuckDB SQL for one ``revenue.{nation}`` output."""
    return f"""
        SELECT year(o_orderdate) AS year,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE lower(n_name) = '{nation}' AND l_discount <= {ROUTED_MAX_DISCOUNT}
        GROUP BY 1
    """


# -- output checks ----------------------------------------------------------


def duck_connection(data_dir: str):
    import duckdb

    from datagen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _key(value) -> str:
    if isinstance(value, float):
        return "nan" if math.isnan(value) else f"{value:.6g}"
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return str(value)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return _key(a) == _key(b)


def rows_match(columns_a, rows_a, columns_b, rows_b) -> str | None:
    """None when both results hold the same rows (any order, columns
    matched by name, floats within 1e-9 relative); else a reason."""
    if sorted(columns_a) != sorted(columns_b):
        return f"columns {sorted(columns_a)} != {sorted(columns_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows != {len(rows_b)} rows"
    order_b = [columns_b.index(c) for c in columns_a]
    a = sorted((tuple(r) for r in rows_a), key=lambda r: [_key(v) for v in r])
    b = sorted((tuple(r[i] for i in order_b) for r in rows_b), key=lambda r: [_key(v) for v in r])
    for ra, rb in zip(a, b):
        if not all(_same(x, y) for x, y in zip(ra, rb)):
            return f"row {ra} != {rb}"
    return None


def check_dataframe(df, con, sql: str) -> str | None:
    res = con.sql(sql)
    return rows_match(df.columns, df.collect(), res.columns, res.fetchall())


def check_written(path: str, con, sql: str) -> str | None:
    if not os.path.isdir(path):
        return f"{path} was not written"
    out = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    res = con.sql(sql)
    return rows_match(out.columns, out.fetchall(), res.columns, res.fetchall())
