"""Relational pass: the throughput-bound counterweight to the two
scheduling-bound workloads.

One pass constructs each registered sf0.1 query of ``QUERIES`` and
materializes it with the noop sink, in a seed-chosen order, each under its
own span (``operators.relational.<query>``; ``nation_pagerank`` also under
``operators.graph.nation_pagerank``), all under one whole-pass span
(``operators.relational``). Scans, shuffles and joins over the 600k-row
``lineitem`` do the work here, not scheduling.

It runs once, as a fixed post-loop phase of traced ``ingest`` runs (see
README, "Workloads"). Afterwards, outside the timed spans, every query's
result is collected and compared with its ``oracle_sql()`` twin in DuckDB
over the same tables.
"""

from __future__ import annotations

import duckdb
import numpy as np

import gen
from common import same_rows

QUERIES = (
    "tpch_q1",
    "shipping_priority",
    "revenue_by_nation",
    "top_customers",
    "top_orders_per_customer",
    "rollup_flags",
    "local_supplier_volume",
    "returned_item_losses",
    "large_volume_orders",
    "priority_shipping",
    "nation_pagerank",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def order(seed: int) -> list[str]:
    rng = np.random.default_rng([seed, 30])
    return [QUERIES[i] for i in rng.permutation(len(QUERIES))]


def run_pass(ctx, data_dir: str) -> dict:
    """One timed pass over ``QUERIES``. Returns each query's DataFrame
    (for the check) and its wall seconds."""
    from demo_bigdata_spark.suites import all_queries

    fns = all_queries()
    tr = ctx.tracer
    frames, wall = {}, {}
    with tr.span("operators.relational"):
        for name in order(ctx.seed):
            with tr.span(f"operators.relational.{name}") as sp:
                if name == "nation_pagerank":
                    with tr.span("operators.graph.nation_pagerank"):
                        df = fns[name](ctx.spark, data_dir)
                        df.write.format("noop").mode("overwrite").save()
                else:
                    df = fns[name](ctx.spark, data_dir)
                    df.write.format("noop").mode("overwrite").save()
            frames[name] = df
            wall[name] = sp["wall_s"]
    return {"frames": frames, "wall_s": wall}


def phase(ctx) -> dict:
    """The pass, then its check. Returns each query's wall seconds and
    check outcome."""
    rel = run_pass(ctx, gen.data_dir())
    return {"wall_s": rel["wall_s"], "checks": check(ctx, gen.data_dir(), rel["frames"])}


def check(ctx, data_dir: str, frames: dict) -> dict[str, bool]:
    """Each query's rows equal its DuckDB ``oracle_sql()`` twin's, order-
    insensitively, after the oracle differential's normalization."""
    from demo_bigdata_spark.suites import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    out = {}
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        with ctx.tracer.span("bench.check"):
            for name, df in frames.items():
                res = con.execute(oracles[name])
                out[name] = same_rows(
                    df.columns,
                    [tuple(r) for r in df.collect()],
                    [d[0] for d in res.description],
                    res.fetchall(),
                )
    finally:
        con.close()
    return out
