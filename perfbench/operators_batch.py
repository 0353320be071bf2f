"""The driver-bound batch operators, as registry keys, traced.

Part of ``search_read``'s traced run (``--trace 1``); it adds nothing to
the untraced run. A cold pass over these keys takes about as long as a
whole search_read run, and a workload of its own made the benchmark's
runs overrun their time budget, so the operators have per-layer numbers
and no end-to-end bound.

It writes seeded documents, embeddings, orders and lineitem tables in the
layout ``__spark_entry__.queries()`` reads, loads them through the
package's parquet source, and runs one pass over ``KEYS`` in a fixed
order. Each key pays for the fixtures (engines, indexes, pinned frames)
the registry builds per table directory. A key's time runs from the
registry call (DataFrame construction) until its rows are on the driver.

Check: keys with an ``oracle_sql()`` entry must give the DuckDB oracle's
rows under ``tools/oracle_check.py``'s normalization; the key without one
must give the same row count when run again.
"""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import gen
from common import Context, Result, geomean

# Keys ROADMAP items 3 and 5 and the carried items target. Three more of
# them (dedup_clusters_lsh, docs_importance and pack_sequences) are left
# out to keep the traced run within its time limit.
KEYS = ("semantic_dedup", "dedup_minhash_lsh", "docs_frequent_triples",
        "search_nested_agg", "search_has_child_inner")
TABLES = ("documents", "embeddings", "orders", "lineitem")
FULL, TINY = 0.3, 0.02                   # table scale


def write_tables(rng: np.random.Generator, scale: float, dest: Path) -> str:
    dest.mkdir(parents=True, exist_ok=True)
    for name, table in gen.operator_tables(rng, scale).items():
        pq.write_table(table, str(dest / f"{name}.parquet"))
    return str(dest)


def oracle_rows(con, sql: str):
    res = con.execute(sql)
    return [d[0] for d in res.description], [tuple(r) for r in res.fetchall()]


def same_rows(spark_cols, spark_rows, oracle_cols, oracle_rows) -> bool:
    from tools.oracle_check import _rows_to_set

    return (sorted(spark_cols) == sorted(oracle_cols)
            and _rows_to_set(spark_cols, spark_rows)
            == _rows_to_set(oracle_cols, oracle_rows))


def trace_pass(ctx: Context, res: Result) -> None:
    """One traced pass over ``KEYS``; counts into ``res`` and adds the
    ``setup.build.tables_s`` and ``ops.*`` metrics."""
    import duckdb

    import __spark_entry__ as entry
    from cassandra_es_index_spark.sources.parquet import read_parquet

    scale = TINY if ctx.tiny else FULL
    rng = np.random.default_rng(ctx.seed)
    tables_dir = write_tables(rng, scale, ctx.work / "tables")
    spark, tracer, span = ctx.spark, ctx.tracer, ctx.tracer.span
    queries, oracles = entry.queries(), entry.oracle_sql()

    with span("setup.build.tables", spark_jobs=True) as setup:
        for name in TABLES:
            read_parquet(spark, f"{tables_dir}/{name}.parquet").count()

    runs: list[dict] = []                # one per key call
    t0 = time.perf_counter()
    for key in KEYS:
        res.attempted += 1
        try:
            with span("op", key=key) as op:
                with span("construct", spark_jobs=True, key=key) as c:
                    df = queries[key](spark, tables_dir)
                with span("execute", spark_jobs=True, key=key) as x:
                    rows = [tuple(r) for r in df.collect()]
                x.update(tracer.plan_metrics(df))
            runs.append({"key": key, "cols": list(df.columns), "rows": rows,
                         "op": op, "construct": c, "execute": x})
        except Exception:  # noqa: BLE001 — a failed key is counted
            res.error(f"operator {key}")
    wall = time.perf_counter() - t0

    # correctness, outside every timed region
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{name}.parquet')")
    for r in runs:
        key = r["key"]
        try:
            if key in oracles:
                res.failed += not same_rows(r["cols"], r["rows"],
                                            *oracle_rows(con, oracles[key]))
            else:
                res.failed += (len(r["rows"])
                               != queries[key](spark, tables_dir).count())
        except Exception:  # noqa: BLE001
            res.error(f"reference answer for {key}")
    con.close()

    def secs(span_rec):
        return span_rec["end"] - span_rec["start"]

    m = res.metrics
    m["setup.build.tables_s"] = secs(setup)
    m["ops.wall_s"] = wall
    m["ops.geomean_s"] = geomean([secs(r["op"]) for r in runs])
    for r in runs:
        k = r["key"]
        m[f"ops.{k}.construct_s"] = secs(r["construct"])
        m[f"ops.{k}.construct_jobs"] = r["construct"]["jobs"]
        m[f"ops.{k}.py4j_calls"] = r["construct"]["py4j"]
        m[f"ops.{k}.execute_s"] = secs(r["execute"])
        m[f"ops.{k}.shuffle_bytes"] = r["execute"]["shuffle_bytes"]
