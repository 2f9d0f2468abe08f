"""Local replica of the driver's correctness gate. Usage:

    python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import sys

import duckdb

sys.path.insert(0, ".")


def main():
    argv = [a for a in sys.argv[1:] if a != "--plain"]
    plain = "--plain" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from geospark import entry_queries as eq
    from geospark import parity

    if plain:
        # replicate the driver's harness: a bare default session — no Arrow
        # conversion, no tuned configs. The engine must work here too.
        from pyspark.sql import SparkSession

        from geospark.session import local_master

        spark = SparkSession.builder.master(local_master()).appName("oracle-check-plain").getOrCreate()
    else:
        from geospark.session import get_spark

        spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    parity.register_views(con, sf_dir)

    results = {"pass": [], "rows-only": [], "fail": []}
    for name in eq.QUERIES:
        if only and name not in only:
            continue
        try:
            status, detail = parity.compare_one(spark, con, name, sf_dir)
        except Exception as e:  # noqa: BLE001
            status, detail = "fail", f"{type(e).__name__}: {str(e)[:300]}"
        results[status].append((name, detail))

    for status in ("pass", "rows-only", "fail"):
        print(f"=== {status.upper()} ({len(results[status])}) ===")
        for n, d in results[status]:
            print(f"  {n}: {d}")
    sys.exit(1 if results["fail"] else 0)


if __name__ == "__main__":
    main()
