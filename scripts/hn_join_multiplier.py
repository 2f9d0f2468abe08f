"""Measure the prefix-gram multiplicity of the forward value-space joins.

The exact-sim verification (array_intersect) runs inside the
BroadcastHashJoin CONDITION of the hn / street-name value-space prefix joins
(geospark.tables.prefix_probe) — once per (pair x shared prefix trigram) —
and a distinct collapses the duplicates afterwards. This script counts, at a given sf:

    join_rows      — (pair x shared prefix gram) rows the condition runs on
    distinct_pairs — unique (term, value) pairs reaching the verify
    verified       — pairs passing sim >= 0.3

join_rows / distinct_pairs is the wasted-evaluation multiplier an
after-dedup verify would remove.

Usage: python scripts/hn_join_multiplier.py [sf]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

BENCH_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH")


def _funnel(terms, term, gram_df, prefix_index, value) -> dict:
    from pyspark.sql import functions as F

    from geospark.tables import prefix_probe, trigram_prefix

    _, q_pfx = trigram_prefix(terms, term, gram_df)
    joined = prefix_index.join(F.broadcast(q_pfx), "trigram")
    out = {
        "join_rows": joined.count(),
        "distinct_pairs": joined.select(term, value).distinct().count(),
        "verified": prefix_probe(terms, term, gram_df, prefix_index, value)
        .select(term, value).distinct().count(),
    }
    out["multiplier"] = round(out["join_rows"] / max(1, out["distinct_pairs"]), 2)
    return out


def main(sf: float) -> None:
    from pyspark.sql import functions as F

    from geospark import benchgen, etl, mine
    from geospark.session import get_spark
    from geospark.tables import GeocoderTables

    spark = get_spark("hn-multiplier")
    spark.sparkContext.setLogLevel("ERROR")
    world_dir = benchgen.ensure_bench_world(BENCH_ROOT, sf)
    osm = etl.load_osm_tables(spark, world_dir)
    struct = {k: v.cache() for k, v in etl.build_struct_tables(spark, osm).items()}
    tables = GeocoderTables(spark, struct, osm["osm_admin"])
    pages = spark.read.parquet(f"{world_dir}/webpages.parquet")
    addr = mine.mine_addresses(pages)

    out = {"sf": sf}
    # forward.py hn_pairs
    out["hn"] = _funnel(addr.select(F.col("house_number").alias("q_hn")), "q_hn",
                        tables.hn_gram_df, tables.hn_value_prefix, "hn")
    # forward.py _street_candidates
    out["street"] = _funnel(addr.select(F.col("road").alias("q_road")), "q_road",
                            tables.street_gram_df, tables.street_name_prefix, "name")
    print(json.dumps(out))


if __name__ == "__main__":
    main(float(sys.argv[1]) if len(sys.argv) > 1 else 1.0)
