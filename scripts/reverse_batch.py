"""Large-batch reverse geocode re-measure on the r6 engine (VERDICT r5 #8)
plus the window-input bound evidence for VERDICT r5 #7.

SCALE.md "Large-batch evidence" cited the round-3 number (500k queries /
216.5 s at sf1.0, limit=10 — the non-scalar window path). This re-measures
it, and records WHY the limit<=20 window path needs no top-k aggregate
rewrite: the two-round kNN design already bounds the ranking window's input
(round 1 ranks only candidates within g1=32 m; round 2 runs only for
round-1-unsatisfied queries) — measured here as window-input rows per query.

Usage: python scripts/reverse_batch.py [sf] [n_queries] [runs]
Writes BENCH/reverse_batch.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

BENCH_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH")


def main(sf: float, n_q: int, runs: int) -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    load0 = round(os.getloadavg()[0], 2)
    from pyspark.sql import functions as F

    from geospark.session import get_spark
    from geospark import benchgen, etl
    from geospark.reverse import (G1_METERS, G1_RES, _candidates, reverse_geocode)
    from geospark.tables import GeocoderTables

    spark = get_spark("reverse-batch", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    world_dir = benchgen.ensure_bench_world(BENCH_ROOT, sf)

    osm = etl.load_osm_tables(spark, world_dir)
    struct = {k: v.cache() for k, v in etl.build_struct_tables(spark, osm).items()}
    for v in struct.values():
        v.count()
    tables = GeocoderTables(spark, struct, osm["osm_admin"])

    rq = spark.createDataFrame(
        [tuple(r.values()) for r in benchgen.reverse_query_rows(world_dir, n_q)],
        "query_id long, lat double, lon double, radius double, limit int").cache()
    rq.count()

    # warmup (codegen + python workers), then timed runs
    n_rows = reverse_geocode(spark, tables, rq, with_fallback=False).count()
    series = []
    for _ in range(runs):
        t0 = time.time()
        n_rows = reverse_geocode(spark, tables, rq, with_fallback=False).count()
        series.append(round(time.time() - t0, 2))

    # window-input bound evidence (VERDICT r5 #7): rows entering the round-1
    # ranking window = street-joined candidates within min(g1, radius).
    # The window the r5 verdict worried about ranks exactly these rows.
    from geospark import proj

    q = rq.select("query_id",
                  proj.merc_x_col(F.col("lon")).alias("qx"),
                  proj.merc_y_col(F.col("lat")).alias("qy"),
                  F.col("radius").cast("double").alias("radius"),
                  F.col("limit").cast("int").alias("limit"))
    houses_slim = tables.houses.select("id", "house_number", "x", "y",
                                       "street_id", "ix", "iy")
    street_keys = tables.street_city.select("street_id")
    c1 = _candidates(
        q.withColumn("__r1", F.least(F.lit(G1_METERS), F.col("radius"))),
        houses_slim, radius_col="__r1", res=G1_RES,
    ).join(F.broadcast(street_keys), "street_id", "left_semi")
    per_q = c1.groupBy("query_id").agg(F.count("*").alias("n")) \
        .agg(F.count("*").alias("n_queries_with_cand"),
             F.sum("n").alias("window_rows"),
             F.max("n").alias("max_per_query"),
             F.expr("percentile_approx(n, 0.5)").alias("p50_per_query"),
             F.expr("percentile_approx(n, 0.99)").alias("p99_per_query")).collect()[0]

    out = {
        "sf": sf, "cpus": int(cpus), "n_queries": n_q, "result_rows": n_rows,
        "runs_sec": series, "min_sec": min(series),
        "queries_per_sec_min": round(n_q / min(series), 1),
        "round1_window_input_rows": int(per_q["window_rows"]),
        "round1_rows_per_query_p50": int(per_q["p50_per_query"]),
        "round1_rows_per_query_p99": int(per_q["p99_per_query"]),
        "round1_rows_per_query_max": int(per_q["max_per_query"]),
        "queries_with_round1_cand": int(per_q["n_queries_with_cand"]),
        "load_at_launch": load0,
        "load_at_end": round(os.getloadavg()[0], 2),
    }
    with open(os.path.join(BENCH_ROOT, "reverse_batch.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main(float(sys.argv[1]) if len(sys.argv) > 1 else 1.0,
         int(sys.argv[2]) if len(sys.argv) > 2 else 500_000,
         int(sys.argv[3]) if len(sys.argv) > 3 else 2)
