"""Benchmark runner (driver contract): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the cores this process may use).
Prints ONE COMPACT JSON line (last stdout line):
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "pages_per_sec": ...,
   "load_at_launch": ..., "load_at_end": ...}
Full detail (per-query run series, recall curves, adaptive-split evidence)
is written to BENCH/last_run.json — the driver's stdout tail-capture is
byte-bounded and the r4 full-detail line overflowed it.

The geocode workload runs against a deterministic sf-scaled synthetic world
(geospark.benchgen) cached under BENCH/; the training-data / relational
queries run on the driver's sf tables.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
BENCH_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")


def infer_sf(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def main():
    sf = infer_sf(SF_DIR)
    # sampled BEFORE any Spark work: end-of-run load is dominated by the
    # bench itself, so only the launch sample can tell "co-tenant was busy"
    # apart from "bench was running" (VERDICT r4: a driver line taken at
    # load ~11.5 read as a phantom 21-31% regression)
    load_at_launch = round(os.getloadavg()[0], 2)
    if load_at_launch > 4:
        print(f"WARNING: host 1-min load {load_at_launch} at bench launch — "
              "timings will be inflated by co-tenant work; re-run quiet "
              "before reading deltas (BENCH/BASELINE.md methodology)",
              file=sys.stderr)
    from geospark.session import get_spark
    from geospark import benchgen, etl, mine, oa
    from geospark.tables import GeocoderTables
    from geospark.forward import forward_geocode
    from geospark.reverse import reverse_geocode
    from geospark.predict import predict_text, prepare_wordlist
    from geospark import dedup, simsearch
    from pyspark.sql import functions as F

    spark = get_spark("bench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")

    world_dir = benchgen.ensure_bench_world(BENCH_ROOT, sf)

    # engine build (ETL) is timed as its own entry
    timings: dict[str, float] = {}
    runs_log: dict[str, list] = {}

    def timed(name, fn, repeat: int = 1):
        """Min-of-N timing: this shared host shows 3-10x single-shot
        outliers (a controlled 5-repeat probe measured 3.3-12.4 s for the
        IDENTICAL reverse job, and 46 s once under co-tenant load — see
        BENCH/BASELINE.md methodology). The min is the least-noise estimator
        of the true cost; every fn builds a FRESH plan per call so repeats
        never read a cache. When the two samples disagree >1.5x (a noise
        burst hit one of them), one extra sample is taken. The full series
        is logged in queries_runs."""
        out, runs = None, []
        for _ in range(repeat):
            t0 = time.time()
            out = fn()
            runs.append(round(time.time() - t0, 3))
        if repeat > 1 and max(runs) > 1.5 * min(runs):
            t0 = time.time()
            out = fn()
            runs.append(round(time.time() - t0, 3))
        timings[name] = min(runs)
        runs_log[name] = runs
        return out

    def build():
        osm = etl.load_osm_tables(spark, world_dir)
        struct = etl.build_struct_tables(spark, osm)
        struct = {k: v.cache() for k, v in struct.items()}
        for v in struct.values():
            v.count()
        tables = GeocoderTables(spark, struct, osm["osm_admin"])
        tables.houses.count()
        tables.street_city.count()
        tables.street_gram_df.count()
        tables.street_name_prefix.count()
        tables.hn_gram_df.count()
        tables.hn_value_prefix.count()
        tables.houses_ranked.count()
        return struct, tables

    struct, tables = timed("etl_build", build)

    pages = spark.read.parquet(f"{world_dir}/webpages.parquet").repartition(2 * int(CPUS)).cache()
    n_pages = pages.count()

    timed("extract_verify", lambda: mine.verify_extraction(pages).filter("not ok").count())
    timed("geocode_pages", lambda: mine.geocode_pages(spark, tables, pages).count(), repeat=2)

    # S8 expansion chain at corpus scale: the chained JVM regexp_replace
    # rules over page text (the .filter forces the projection — a bare
    # count() would prune the expansion away)
    from geospark import postal
    timed("postal_expand",
          lambda: pages.select(postal.expand_term_col(
              F.substring("text", 1, 300)).alias("e"))
          .filter(F.length("e") > 0).count(), repeat=2)

    rq = spark.createDataFrame(
        [tuple(r.values()) for r in benchgen.reverse_query_rows(world_dir, max(2000, int(50_000 * sf)))],
        "query_id long, lat double, lon double, radius double, limit int")
    timed("reverse_geocode",
          lambda: reverse_geocode(spark, tables, rq, with_fallback=False).count(), repeat=2)

    fq = spark.createDataFrame(
        [tuple(r.values()) for r in benchgen.forward_query_rows(max(100, int(2_000 * sf)))],
        "query_id long, road string, house_number string, postcode string, city string, "
        "country string, center_lat double, center_lon double, radius int, limit int")
    timed("forward_geocode", lambda: forward_geocode(spark, tables, fq).count(), repeat=2)

    wl = prepare_wordlist(etl.build_wordlist(struct)).cache()
    pq = spark.createDataFrame(
        [(i, w[: 4 + i % 5]) for i, w in enumerate(
            [r.word for r in wl.select("word").limit(100).collect()])],
        "query_id long, input string")
    timed("predict_text", lambda: predict_text(spark, wl, pq).count(), repeat=2)

    # address formatting (F20) over a materialized reverse result — times
    # the mustache render path alone, not a reverse recompute
    from geospark import formatter
    import pandas as pd
    from pyspark.sql.types import StringType

    rev_cached = reverse_geocode(spark, tables, rq, with_fallback=False) \
        .localCheckpoint(eager=True)

    @F.pandas_udf(StringType())
    def _fmt(road, hn, pc, city, county, state):
        out = []
        for vals in zip(road, hn, pc, city, county, state):
            addr = dict(zip(["road", "house_number", "postcode", "city", "county", "state"], vals))
            out.append(formatter.format_address(addr))
        return pd.Series(out)

    timed("format_addresses",
          lambda: rev_cached.select(_fmt("road", "house_number", "postcode", "city",
                                         "county", "state").alias("f"))
          .filter(F.length("f") > 0).count(), repeat=2)

    # the sf files are single parquet row groups -> 1 input partition;
    # spread them once so the training-data ops exercise real parallelism
    # (a production corpus arrives in many files/row groups)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(int(CPUS)).cache()
    docs.count()
    timed("dedup_minhash_lsh", lambda: dedup.minhash_lsh_pairs(docs, threshold=0.5).count(), repeat=2)
    timed("dedup_jaccard",
          lambda: dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=256).count(), repeat=2)
    # the h>3 escape hatch end-to-end (signatures + recursive banding),
    # hot_threshold=16 so the recursion engages rather than passing through
    timed("dedup_simhash_recursive",
          lambda: dedup.simhash_pairs_recursive(
              dedup.simhash_signatures(docs), max_hamming=3,
              hot_threshold=16).count(), repeat=2)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(int(CPUS)).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))).cache()
    emb.count()
    q = emb.filter("vec_id < 8").select(F.col("vec_id").alias("query_id"), "embedding")
    timed("ann_topk", lambda: simsearch.cosine_topk(emb, q, 5).count(), repeat=2)
    timed("ann_ivf_topk",
          lambda: simsearch.ivf_topk(spark, emb, q, k=5, n_centroids=8, n_probe=2).count(),
          repeat=2)
    timed("emb_dups", lambda: simsearch.embedding_dup_pairs(emb, threshold=0.9).count(), repeat=2)

    # IVF speed buys a recall trade — quantify it (untimed): recall@5 of the
    # bucket-pruned IVF result against the exact brute-force top-k
    brute = {(r.query_id, r.vec_id) for r in simsearch.cosine_topk(emb, q, 5).collect()}
    ivf = {(r.query_id, r.vec_id)
           for r in simsearch.ivf_topk(spark, emb, q, k=5, n_centroids=8, n_probe=2).collect()}
    ivf_recall = round(len(brute & ivf) / max(len(brute), 1), 4)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    timed("tpch_pricing", lambda: li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(F.sum("l_quantity"), F.count("*")).count(), repeat=2)

    # ---- round-3 query families, timed (VERDICT r3 next-round #6): the
    # point is that their added cost is SMALL — prove it with numbers ------
    import numpy as np

    from geospark import multimodal, raster as raster_mod
    from geospark.fixtures import FIXTURE_DIR
    from geospark.proj import lonlat_to_merc
    from geospark.reverse import reverse_geocode_epsg3857

    rq_rows = benchgen.reverse_query_rows(world_dir, max(2000, int(50_000 * sf)))
    qx, qy = lonlat_to_merc(np.array([r["lon"] for r in rq_rows]),
                            np.array([r["lat"] for r in rq_rows]))
    rq3857 = spark.createDataFrame(
        [(r["query_id"], float(x), float(y), float(r["radius"]), int(r["limit"]))
         for r, x, y in zip(rq_rows, qx, qy)],
        "query_id long, x double, y double, radius double, limit int")
    timed("reverse_epsg3857",
          lambda: reverse_geocode_epsg3857(spark, tables, rq3857, with_fallback=False).count(),
          repeat=2)

    # connected components over the LSH near-dup graph; pairs checkpointed so
    # the timing isolates the propagation rounds
    lsh_pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).localCheckpoint(eager=True)
    timed("dedup_clusters", lambda: dedup.dup_clusters(lsh_pairs).count(), repeat=2)

    houses_xy = tables.houses.select("x", "y")
    osm_world = etl.load_osm_tables(spark, world_dir)
    zones6 = osm_world["osm_admin"].filter(F.col("admin_level") == 6)
    timed("raster_density", lambda: raster_mod.rasterize(houses_xy, 15).count(), repeat=2)
    r15 = raster_mod.rasterize(houses_xy, 15).localCheckpoint(eager=True)
    timed("raster_pool", lambda: raster_mod.pool(r15, steps=2, res=15).count(), repeat=2)
    timed("raster_vectorize",
          lambda: raster_mod.vectorize(r15, 15, F.col("n") >= 5).count(), repeat=2)
    timed("raster_zonal",
          lambda: raster_mod.zonal_stats(r15, zones6, 15).count(), repeat=2)

    media = spark.read.parquet(f"{FIXTURE_DIR}/media.parquet").cache()
    media.count()
    timed("media_stats", lambda: multimodal.media_stats(media).count(), repeat=2)
    timed("media_features", lambda: multimodal.decode_features(media).count(), repeat=2)
    timed("media_frames", lambda: multimodal.frame_sample(media).count(), repeat=2)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    timed("events_windowed",
          lambda: ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"), "event_type")
          .agg(F.count("*"), F.sum("value")).count(), repeat=2)

    # ---- adaptive mega-cell split, TRIGGERED (VERDICT r3 next-round #2):
    # rebuild with a threshold the bench world actually trips, record the
    # split evidence, and time reverse+forward on the split tables ---------
    n_houses = tables.houses.count()
    split_thr = max(1000, int(n_houses * 0.02))

    def build_adaptive():
        struct2 = etl.build_struct_tables(spark, osm_world, hot_cell_rows=split_thr)
        struct2 = {k: v.cache() for k, v in struct2.items()}
        for v in struct2.values():
            v.count()
        t2 = GeocoderTables(spark, struct2, osm_world["osm_admin"])
        t2.houses.count()
        t2.street_city.count()
        t2.street_name_prefix.count()
        return struct2, t2

    struct2, tables2 = timed("etl_build_adaptive", build_adaptive)
    res_hist = {int(r["res"]): int(r["n"]) for r in
                struct2["struct_house"].groupBy(
                    F.shiftright("cell_id", 53).alias("res"))
                .agg(F.count("*").alias("n")).collect()}
    split_cells = int(
        struct2["struct_house"].filter(F.shiftright("cell_id", 53) > 15)
        .select("cell_id").distinct().count())
    timed("reverse_geocode_adaptive",
          lambda: reverse_geocode(spark, tables2, rq, with_fallback=False).count(),
          repeat=2)
    timed("forward_geocode_adaptive",
          lambda: forward_geocode(spark, tables2, fq).count(), repeat=2)
    for v in struct2.values():
        v.unpersist()

    # ---- IVF recall where it can FAIL (VERDICT r3 next-round #4): the sf
    # embeddings saturate recall@5 at 1.0, proving nothing — measure the
    # speed/recall knob on a hard synthetic set (64 Gaussian clusters,
    # queries planted on cluster BOUNDARIES so low n_probe must miss) ------
    rng = np.random.RandomState(7)
    n_cl, per, dim = 64, 256, 32
    centers = rng.normal(size=(n_cl, dim))
    vecs = (centers[np.repeat(np.arange(n_cl), per)]
            + 0.6 * rng.normal(size=(n_cl * per, dim)))
    hard = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>").repartition(int(CPUS)).cache()
    hard.count()
    qv = 0.5 * (centers[:16] + centers[16:32]) + 0.1 * rng.normal(size=(16, dim))
    hq = spark.createDataFrame([(int(i), v.tolist()) for i, v in enumerate(qv)],
                               "query_id long, embedding array<double>")
    hard_brute = {(r.query_id, r.vec_id)
                  for r in simsearch.cosine_topk(hard, hq, 5).collect()}
    recall_curve = {}
    for n_probe in (1, 2, 4, 8):
        got = {(r.query_id, r.vec_id)
               for r in simsearch.ivf_topk(spark, hard, hq, k=5,
                                           n_centroids=64, n_probe=n_probe).collect()}
        recall_curve[f"n_probe={n_probe}"] = round(
            len(hard_brute & got) / max(len(hard_brute), 1), 4)
    # the k-means-trained variant on the SAME hard set: substantiates (or
    # refutes) the "trained centroids tighten buckets" guidance with numbers
    km_cent = simsearch.ivf_train(spark, hard, n_centroids=64, iters=2) \
        .localCheckpoint(eager=True)
    km_recall_curve = {}
    for n_probe in (1, 2, 4, 8):
        got = {(r.query_id, r.vec_id)
               for r in simsearch.ivf_topk(spark, hard, hq, k=5, n_centroids=64,
                                           n_probe=n_probe, centroids=km_cent).collect()}
        km_recall_curve[f"n_probe={n_probe}"] = round(
            len(hard_brute & got) / max(len(hard_brute), 1), 4)

    total = round(sum(timings.values()), 3)
    geo_sec = timings["extract_verify"] + timings["geocode_pages"]
    load_at_end = round(os.getloadavg()[0], 2)
    # the COMPACT summary (metric/value/per-query mins only) is the LAST
    # stdout line — the driver captures a bounded byte-tail of stdout, and
    # the r4 full-detail line (queries_runs + recall curves + adaptive
    # evidence) overflowed it -> BENCH_r04 "parsed": null. Detail goes to
    # BENCH/last_run.json instead.
    summary = {
        "metric": "geocode_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "pages": n_pages,
        "pages_per_sec": round(n_pages / geo_sec, 1) if geo_sec > 0 else None,
        "cpus": int(CPUS),
        # launch load tells co-tenant noise apart from the bench's own load;
        # deltas taken at launch load > ~4 are not comparable round-to-round
        "load_at_launch": load_at_launch,
        "load_at_end": load_at_end,
        "noisy_host": load_at_launch > 4,
    }
    detail = dict(summary)
    detail.update({
        "queries_runs": runs_log,
        "ann_ivf_recall_at5": ivf_recall,
        # the non-saturated recall/speed trade on the boundary-query set
        "ann_ivf_recall_curve_hard": recall_curve,
        "ann_ivf_kmeans_recall_curve_hard": km_recall_curve,
        # adaptive-split evidence: threshold used, resulting per-resolution
        # row histogram and number of finer-than-base cells actually created
        "adaptive_split": {"threshold_rows": split_thr,
                           "res_histogram": res_hist,
                           "split_cells": split_cells},
    })
    with open(os.path.join(BENCH_ROOT, "last_run.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
