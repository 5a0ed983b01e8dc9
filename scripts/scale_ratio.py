"""Marginal per-row cost ratio: Spark vs DuckDB at sf0.1 and 10x sf0.1.

The bench suite total hides which part of a query's wall is fixed machinery
(job scheduling, stage barriers, Py4J) and which scales with data. This
script separates them the honest way: time every headline query in BOTH
engines at sf0.1 and at a 10x-scaled copy, then report the MARGINAL ratio

    (spark_10x - spark_1x) / (duckdb_10x - duckdb_1x)

which cancels each engine's fixed cost and compares the per-row slopes —
the number that actually predicts 100 TB behavior. Scaling preserves query
selectivity: TPC-H replicas keep their dates (filters keep hitting) under
shifted order keys; events extend the timeline 10x (more buckets/sessions
per key); documents get replica-tagged ids/text (near-dup structure
preserved per replica).

Usage: python scripts/scale_ratio.py [--rebuild]
Writes SCALE_RATIO.json at the repo root and prints a markdown table.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/bfdl_sf0.1_x10"
K = 10
ID_SHIFT = 10**12

COPY_AS_IS = ["region", "nation", "supplier", "customer", "part"]


def build_scaled(src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    # UTC so the TIMESTAMPTZ cast below is value-identity; written as
    # parquet TIMESTAMP(MICROS, adjustedToUTC) which both engines read as a
    # plain timestamp (Spark's unix_micros rejects the NTZ it would get
    # from a TIMESTAMP_NS copy).
    con.execute("SET timezone = 'UTC'")
    for t in COPY_AS_IS:
        shutil.copy(os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))

    okshift = con.sql(
        f"SELECT max(o_orderkey) + 1 FROM read_parquet('{src}/orders.parquet')"
    ).fetchone()[0]
    span_us = con.sql(
        f"SELECT epoch_us(max(ts)) - epoch_us(min(ts)) + 3600000000 FROM read_parquet('{src}/events.parquet')"
    ).fetchone()[0]

    reps = f"(SELECT unnest(range({K})) AS k)"
    jobs = {
        "orders": f"""
            SELECT o_orderkey + k * {okshift} AS o_orderkey,
                   o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM read_parquet('{src}/orders.parquet'), {reps}""",
        "lineitem": f"""
            SELECT l_orderkey + k * {okshift} AS l_orderkey,
                   l_partkey, l_suppkey, l_linenumber, l_quantity,
                   l_extendedprice, l_discount, l_tax, l_returnflag,
                   l_linestatus, l_shipdate
            FROM read_parquet('{src}/lineitem.parquet'), {reps}""",
        "events": f"""
            SELECT event_id + k * {ID_SHIFT} AS event_id,
                   CAST(ts + to_microseconds(CAST(k * {span_us} AS BIGINT)) AS TIMESTAMPTZ) AS ts,
                   user_id, event_type, value, props
            FROM read_parquet('{src}/events.parquet'), {reps}""",
        "documents": f"""
            SELECT doc_id + k * {ID_SHIFT} AS doc_id,
                   text || ' zreplica' || CAST(k AS VARCHAR) AS text,
                   lang, source,
                   n_chars + 9 + length(CAST(k AS VARCHAR)) AS n_chars
            FROM read_parquet('{src}/documents.parquet'), {reps}""",
        "embeddings": f"""
            SELECT vec_id + k * {ID_SHIFT} AS vec_id, embedding, label
            FROM read_parquet('{src}/embeddings.parquet'), {reps}""",
    }
    for t, sql in jobs.items():
        con.execute(f"COPY ({sql}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)")


def duck_views(sf_dir: str, threads: int):
    """A DuckDB connection with ``threads`` threads and one view per
    ``sf_dir`` table."""
    from tests.oracle_utils import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def time_duckdb(sf_dir: str, names: list[str], threads: int) -> dict[str, dict]:
    """Per query: one warm run, then best and median of 3 (machine-load
    noise swamps single shots) with ``threads`` DuckDB threads."""
    from binance_futures_data_lake_spark.plans import driver_queries as DQ

    con = duck_views(sf_dir, threads)
    out = {}
    for n in names:
        con.sql(DQ.ORACLE[n]).fetchall()  # warm
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.sql(DQ.ORACLE[n]).fetchall()
            runs.append(time.perf_counter() - t0)
        out[n] = {"best_s": min(runs), "median_s": statistics.median(runs)}
    con.close()
    return out


def time_spark(spark, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Per query: one warm run (plan JIT + caches), then the run record of
    3 more (same best-of-3 policy as the DuckDB side)."""
    from binance_futures_data_lake_spark import obs
    from binance_futures_data_lake_spark.plans import driver_queries as DQ

    out = {}
    for n in names:
        obs.force(DQ.QUERIES[n](spark, sf_dir))
        out[n] = obs.run(spark, n, lambda n=n: DQ.QUERIES[n](spark, sf_dir), repeat=3)
    return out


def best_walls(records: dict[str, dict]) -> dict[str, float]:
    return {n: round(r["best_s"], 4) for n, r in records.items()}


def duck_suite_wall(sf_dir: str, names: list[str], reps: int) -> dict:
    """Best concurrent suite wall across DuckDB's OWN best configs.

    One query already saturates the machine at threads=32, so DuckDB's
    best suite throughput is low concurrency with high per-query threads —
    measured: (32 threads, serial) 2.28 s / (16, 2 workers) 1.70 s /
    (8, 4) 5.6 s / (4, 8) 14.4 s at sf0.1. The sweep hands it its best."""
    from concurrent.futures import ThreadPoolExecutor

    from binance_futures_data_lake_spark.plans import driver_queries as DQ

    con = duck_views(sf_dir, os.cpu_count())
    for n in names:
        con.sql(DQ.ORACLE[n]).fetchall()  # one warm pass (page cache + pool)
    best = {"wall": float("inf"), "threads": None, "workers": None}
    for threads, workers in ((32, 1), (16, 2), (8, 4)):
        con.execute(f"SET threads TO {threads}")
        wall = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            with ThreadPoolExecutor(workers) as ex:
                list(ex.map(lambda n: con.cursor().sql(DQ.ORACLE[n]).fetchall(), names))
            wall = min(wall, time.perf_counter() - t0)
        if wall < best["wall"]:
            best = {"wall": round(wall, 3), "threads": threads, "workers": workers}
    con.close()
    return best


def spark_suite_wall(spark, sf_dir: str, names: list[str], reps: int) -> dict:
    """Best concurrent suite wall with all plans in one shared session
    (FAIR pool): jobs overlap, so per-job scheduling floors amortize —
    the shape a real deployment runs a query suite in."""
    from concurrent.futures import ThreadPoolExecutor

    from binance_futures_data_lake_spark import obs
    from binance_futures_data_lake_spark.plans import driver_queries as DQ

    def run_query(n):
        obs.force(DQ.QUERIES[n](spark, sf_dir))

    for n in names:
        run_query(n)  # warm plans + codegen
    best = {"wall": float("inf"), "workers": None}
    for workers in (16, len(names)):
        wall = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            with ThreadPoolExecutor(workers) as ex:
                list(ex.map(run_query, names))
            wall = min(wall, time.perf_counter() - t0)
        if wall < best["wall"]:
            best = {"wall": round(wall, 3), "workers": workers}
    return best


# LLM-pipeline family: spark/duck at both SFs where tractable. At 10x the
# replica construction multiplies near-dup PAIR density ~100x (each doc
# gains 9 verbatim cross-replica twins and every shingle's doc-frequency
# rises 10x), so the pair-enumeration workload dedup_clusters runs grows
# quadratically BY PROBLEM DEFINITION: measured >150 s in Spark and >590 s
# (capped, DNF) in DuckDB's recursive-CTE oracle. Recorded as capped
# rather than burning ~15 min per round on a data artifact.
LLM_EXTRA = ["dedup_clusters", "benchmark_decontam", "domain_caps"]
LLM_10X_CAPPED = {"dedup_clusters"}


def main() -> None:
    from bench import HEADLINE

    if "--rebuild" in sys.argv or not os.path.exists(os.path.join(DST, "events.parquet")):
        print("building scaled copy ...", file=sys.stderr)
        build_scaled(SRC, DST)

    from binance_futures_data_lake_spark.session import BENCH_CONFS, get_spark

    names = list(HEADLINE)
    spark = get_spark("bfdl-scale-ratio", overrides=BENCH_CONFS)
    # one core count for both engines: the Spark session's
    threads = spark.sparkContext.defaultParallelism
    duck1 = best_walls(time_duckdb(SRC, names, threads))
    duck10 = best_walls(time_duckdb(DST, names, threads))
    spark1 = best_walls(time_spark(spark, SRC, names))
    spark10 = best_walls(time_spark(spark, DST, names))

    # engine-best concurrent suite throughput, both SFs
    suite_wall = {
        "spark_1x": spark_suite_wall(spark, SRC, names, reps=3),
        "duck_1x": duck_suite_wall(SRC, names, reps=3),
        "spark_10x": spark_suite_wall(spark, DST, names, reps=2),
        "duck_10x": duck_suite_wall(DST, names, reps=1),
    }
    suite_wall["ratio_1x"] = round(
        suite_wall["spark_1x"]["wall"] / suite_wall["duck_1x"]["wall"], 2
    )
    suite_wall["ratio_10x"] = round(
        suite_wall["spark_10x"]["wall"] / suite_wall["duck_10x"]["wall"], 2
    )

    # LLM-pipeline family
    llm_rows = []
    for n in LLM_EXTRA:
        s1 = best_walls(time_spark(spark, SRC, [n]))[n]
        d1 = best_walls(time_duckdb(SRC, [n], threads))[n]
        if n in LLM_10X_CAPPED:
            s10 = d10 = None
        else:
            s10 = best_walls(time_spark(spark, DST, [n]))[n]
            d10 = best_walls(time_duckdb(DST, [n], threads))[n]
        llm_rows.append({
            "query": n, "spark_1x": s1, "duck_1x": d1,
            "spark_10x": s10, "duck_10x": d10,
            "suite_ratio_1x": round(s1 / d1, 2) if d1 else None,
            "capped_10x": n in LLM_10X_CAPPED,
        })
    spark.stop()

    rows = []
    for n in names:
        ds, dd = spark10[n] - spark1[n], duck10[n] - duck1[n]
        marginal = round(ds / dd, 2) if dd > 0.005 else None
        rows.append({
            "query": n, "spark_1x": spark1[n], "spark_10x": spark10[n],
            "duck_1x": duck1[n], "duck_10x": duck10[n],
            "suite_ratio_1x": round(spark1[n] / duck1[n], 2) if duck1[n] else None,
            "marginal_ratio": marginal,
            # a marginal over a <50ms DuckDB delta is mostly timer noise:
            # the query is fixed-cost-dominated in BOTH engines at this SF
            "low_signal": dd < 0.05,
        })

    out = {
        "spark_1x_total": round(sum(spark1.values()), 3),
        "spark_10x_total": round(sum(spark10.values()), 3),
        "duck_1x_total": round(sum(duck1.values()), 3),
        "duck_10x_total": round(sum(duck10.values()), 3),
        "suite_wall_concurrent": suite_wall,
        "llm_pipeline": llm_rows,
        "queries": rows,
    }
    with open(os.path.join(REPO, "SCALE_RATIO.json"), "w") as f:
        json.dump(out, f, indent=2)

    print("| query | spark 1x | spark 10x | duck 1x | duck 10x | 1x ratio | marginal |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['query']} | {r['spark_1x']} | {r['spark_10x']} | {r['duck_1x']} | "
            f"{r['duck_10x']} | {r['suite_ratio_1x']} | {r['marginal_ratio']} |"
        )
    print(json.dumps({k: v for k, v in out.items() if k not in ("queries", "llm_pipeline")}))


if __name__ == "__main__":
    raise SystemExit(main())
