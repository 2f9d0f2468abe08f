"""spark-submit entry point for the geocode-join pipeline (north_rule:
"runs via spark-submit --py-files on a multi-executor cluster").

Builds the reference star schema, mines addresses/coordinates from a
web-page table, geocode-joins them, and commits every stage as a resumable
snapshot with per-partition lineage records and per-stage metrics
(geospark.snapshots). Re-running with the same --out resumes from the last
committed snapshot: completed stages are read back, not rebuilt.

Usage (cluster):
    spark-submit --py-files dist/geospark.zip \
        scripts/submit_geocode_job.py \
        --world /data/world --pages /data/webpages.parquet --out /data/out

Locally, scripts/submit_example.sh packages the zip and smoke-runs this on
local[<nproc>] against a generated bench world.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--world", required=True, help="dir with the 5 OSM-shaped parquet tables")
    ap.add_argument("--pages", required=True, help="web-page parquet (url, warc_ts, html, text, lang)")
    ap.add_argument("--out", required=True, help="snapshot/output root")
    args = ap.parse_args()

    # master/deploy-mode come from spark-submit — never hardcoded here
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("geospark-geocode-join")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from geospark import etl, mine
    from geospark.snapshots import Pipeline
    from geospark.tables import GeocoderTables

    t0 = time.time()
    pipe = Pipeline(spark, args.out)
    osm = etl.load_osm_tables(spark, args.world)

    struct_all = {}

    def _build(key):
        def _fn():
            if not struct_all:
                struct_all.update(etl.build_struct_tables(spark, osm))
            return struct_all[key]
        return _fn

    struct = {k: pipe.stage(k, _build(k))
              for k in ("struct_house", "struct_streets", "struct_cities")}
    tables = GeocoderTables(spark, struct, osm["osm_admin"])

    pages = spark.read.parquet(args.pages)
    n_pages = pages.count()
    result = pipe.stage(
        "geocode_results", lambda: mine.geocode_pages(spark, tables, pages))

    dt = time.time() - t0
    metrics = {
        "pages": n_pages,
        "result_rows": int(result.count()),
        "wall_seconds": round(dt, 3),
        "pages_per_sec": round(n_pages / dt, 1),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "stages": pipe.metrics,
    }
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "metrics.json"), "w") as fp:
        json.dump(metrics, fp, indent=1)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
