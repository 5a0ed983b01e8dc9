"""Spot-check named registry queries against their DuckDB oracle.

Usage: python scripts/check_query.py [--sf DIR] name [name ...]

Runs on local[$SPARK_GRAFT_CPUS] (default 8).

The single-query loop of scripts/selfcheck.py — same comparison
(tests/oracle_utils), for fast iteration while developing one operator.
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and args[0] == "--sf":
        sf_dir = args[1]
        args = args[2:]
    if not args:
        print(__doc__)
        return 2

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cpus)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from tests.oracle_utils import assert_frames_match, run_oracle

    queries, oracles = entry.queries(), entry.oracle_sql()
    rc = 0
    for name in args:
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
            if name in oracles:
                assert_frames_match(sdf, run_oracle(oracles[name], sf_dir), name)
                print(f"{name}: GREEN rows={len(sdf)} {time.time()-t0:.2f}s")
            else:
                print(f"{name}: rows-only rows={len(sdf)} {time.time()-t0:.2f}s")
        except Exception as e:  # keep checking the rest
            rc = 1
            print(f"{name}: FAIL {type(e).__name__}: {e}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
