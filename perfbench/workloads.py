"""Seeded workload inputs and the calls one batch makes into the engine.

The bench world is the scale-factor-0.1 world of ``geospark.benchgen``
(fixed seed 42, so the reference tables never change); ``--seed`` only
changes the queries and pages the engine is asked about. Every generator
returns its rows and the shares of the input properties the engine's
behaviour depends on.
"""

from __future__ import annotations

import functools
import re

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from checks import Points
from geospark import benchgen, fixtures, mine, spatial, text
from geospark.forward import forward_geocode
from geospark.proj import lonlat_to_merc, merc_to_lonlat
from geospark.reverse import G1_METERS, ZERO_UUID, reverse_geocode
from geospark.tables import sim_ge_arrays, trigram_tokens_col

SF = 0.1
WORLD_SEED = 42
PAGES_PER_BATCH = 20_000
FORWARD_PER_BATCH = 1_200
FORWARD_SHAPES = ("road", "road_hn_city", "postcode", "country", "center", "no_match")
FORWARD_SCHEMA = ("query_id long, road string, house_number string, postcode string, "
                  "city string, country string, center_lat double, center_lon double, "
                  "radius int, limit int")
REVERSE_PER_BATCH = 10_000
REVERSE_LIMIT = 10
# one cycle of query kinds: next to a house of the mega-city or of a sparse
# city, in a gap with no OSM house in radius, or next to an OA house (the OA
# sample lies outside the OSM world, so those queries take the OA fallback)
REVERSE_KINDS = ("mega", "sparse", "mega", "sparse", "empty",
                 "mega", "sparse", "oa", "sparse", "empty")
# both sides of G1_METERS: 25 m is answered by round 1 alone
REVERSE_RADII = (25.0, 50.0, 100.0, 200.0)
REVERSE_SCHEMA = "query_id long, lat double, lon double, radius double, limit int"
# geocode_pages' reverse search radius for mined coordinates
PAGES_REV_RADIUS = 150.0


def bench_world() -> dict:
    """The in-memory twin of the world ``benchgen.ensure_bench_world`` writes."""
    p = benchgen.world_params(SF)
    return fixtures.build_world(p["n_streets_per_city"], p["n_houses_per_street"], WORLD_SEED)


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------

def pages_input(world: dict, n: int, seed: int):
    """``n`` web pages re-seeded from the bench world: a quarter carry an
    address, a quarter a coordinate pair, a quarter a street name only and a
    quarter nothing geographic."""
    pages = fixtures.build_webpages(world, n, seed)
    streets = sorted({h["street"] for h in world["osm_house_number"]})
    addr_re, coord_re = re.compile(mine.ADDR_RE), re.compile(mine.COORD_RE)
    n_addr = n_coord = n_street = 0
    for p in pages:
        if addr_re.search(p["text"]):
            n_addr += 1
        elif coord_re.search(p["text"]):
            n_coord += 1
        elif any(s in p["text"] for s in streets):
            n_street += 1
    props = dict(pages=n, address_share=n_addr / n, coordinate_share=n_coord / n,
                 street_only_share=n_street / n,
                 geo_share=(n_addr + n_coord + n_street) / n)
    return pages, props


def _typo(road: str, rng) -> str:
    """Deterministic typo: drop, swap or double one inner character."""
    k = int(rng.randint(1, len(road) - 2))
    kind = int(rng.randint(0, 3))
    if kind == 0:
        return road[:k] + road[k + 1:]
    if kind == 1:
        return road[:k] + road[k + 1] + road[k] + road[k + 2:]
    return road[:k] + road[k] + road[k:]


def forward_input(world: dict, n: int, seed: int):
    """``n`` forward queries cycling the six shapes of
    ``fixtures.build_queries``. Road terms are street names of real houses,
    a third of them with a typo; limits are 10 to 20."""
    rng = np.random.RandomState(seed)
    houses = [h for h in world["osm_house_number"] if h["city"] and h["postcode"]]
    countries = sorted(a["name"] for a in world["osm_admin"] if a["admin_level"] == 2)
    rows = []
    for i in range(n):
        shape = FORWARD_SHAPES[i % len(FORWARD_SHAPES)]
        h = houses[int(rng.randint(0, len(houses)))]
        road = _typo(h["street"], rng) if rng.randint(0, 3) == 0 else h["street"]
        row = dict(query_id=i, road=road, house_number=None, postcode=None, city=None,
                   country=None, center_lat=None, center_lon=None, radius=20_000,
                   limit=int(rng.randint(10, 21)))
        if shape == "road_hn_city":
            row.update(house_number=h["house_number"], city=h["city"])
        elif shape == "postcode":
            row.update(postcode=h["postcode"])
        elif shape == "country":
            row.update(country=countries[int(rng.randint(0, len(countries)))])
        elif shape == "center":
            lon, lat = merc_to_lonlat(
                np.array([h["x"] + rng.uniform(-2_000, 2_000)]),
                np.array([h["y"] + rng.uniform(-2_000, 2_000)]))
            row.update(center_lat=float(lat[0]), center_lon=float(lon[0]),
                       radius=int(rng.choice([1_000, 5_000, 20_000])))
        elif shape == "no_match":
            row.update(road="Zq" + "".join(rng.choice(list("xqzjvk"), 6)) + " Blvd")
        rows.append(row)
    props = {f"{s}_share": sum(r["query_id"] % len(FORWARD_SHAPES) == k for r in rows) / n
             for k, s in enumerate(FORWARD_SHAPES)}
    props.update(queries=n,
                 house_number_share=sum(r["house_number"] is not None for r in rows) / n,
                 road_terms_per_query=len({r["road"] for r in rows}) / n)
    return rows, props


def house_xy(world: dict) -> np.ndarray:
    """Positions of the world's OSM houses."""
    return np.array([(h["x"], h["y"]) for h in world["osm_house_number"]])


def oa_xy() -> np.ndarray:
    """Positions of the OA houses the bench world ships with."""
    rows = fixtures.build_oa_rows(WORLD_SEED)
    x, y = lonlat_to_merc([r["lon"] for r in rows], [r["lat"] for r in rows])
    return np.column_stack([x, y])


def reverse_input(world: dict, n: int, seed: int):
    """``n`` reverse queries (limit 10) cycling ``REVERSE_KINDS``: within
    40 m of a mega-city house or a sparse-city house, with radii on both
    sides of ``G1_METERS``; in a gap with no OSM house within the radius;
    or within 40 m of an OA house. The shares are measured by brute force
    over all OSM and OA houses."""
    rng = np.random.RandomState(seed)
    xy = house_xy(world)
    houses, oa = Points(xy), Points(oa_xy())
    mega_names = {c[0] for c in fixtures.CITIES if c[3]}
    is_mega = np.array([h["city"] in mega_names for h in world["osm_house_number"]])
    pools = {"mega": xy[is_mega], "sparse": xy[~is_mega], "oa": oa.xy}
    lo, hi = xy.min(axis=0), xy.max(axis=0)
    qx, qy, radius = np.empty(n), np.empty(n), np.empty(n)
    for i in range(n):
        kind = REVERSE_KINDS[i % len(REVERSE_KINDS)]
        if kind == "empty":
            radius[i] = 100.0
            while True:  # rejection-sample a point with no house in radius
                x, y = rng.uniform(lo, hi)
                if not len(houses.within(x, y, radius[i])[0]):
                    break
        else:
            pool = pools[kind]
            x, y = pool[rng.randint(0, len(pool))] + rng.uniform(-40, 40, 2)
            radius[i] = 200.0 if kind == "oa" else REVERSE_RADII[rng.randint(0, len(REVERSE_RADII))]
        qx[i], qy[i] = x, y
    lon, lat = merc_to_lonlat(qx, qy)
    rows = [dict(query_id=i, lat=float(lat[i]), lon=float(lon[i]), radius=float(radius[i]),
                 limit=REVERSE_LIMIT) for i in range(n)]

    def share(pts: Points, r, test) -> float:
        return sum(test(len(pts.within(x, y, r_)[0])) for x, y, r_ in zip(qx, qy, r)) / n

    mega_lo, mega_hi = pools["mega"].min(axis=0), pools["mega"].max(axis=0)
    in_mega = (qx >= mega_lo[0]) & (qx <= mega_hi[0]) & (qy >= mega_lo[1]) & (qy <= mega_hi[1])
    props = dict(
        queries=n,
        g1_satisfied_share=share(houses, np.full(n, G1_METERS), lambda k: k >= REVERSE_LIMIT),
        radius_above_g1_share=float(np.mean(radius > G1_METERS)),
        no_osm_share=share(houses, radius, lambda k: k == 0),
        oa_in_radius_share=share(oa, radius, lambda k: k > 0),
        mega_share=float(np.mean(in_mega)))
    return rows, props


def generate(workload: str, seed: int):
    """One batch's input rows for ``workload`` and their properties."""
    world = bench_world()
    if workload == "pages":
        return pages_input(world, PAGES_PER_BATCH, seed)
    if workload == "reverse":
        return reverse_input(world, REVERSE_PER_BATCH, seed)
    return forward_input(world, FORWARD_PER_BATCH, seed)


def load_input(spark, workload: str, rows: list, partitions: int):
    """The input rows as the cached, counted DataFrame a batch reads."""
    import pandas as pd

    if workload == "pages":
        df = spark.createDataFrame(pd.DataFrame(rows)).repartition(partitions)
    else:
        schema = REVERSE_SCHEMA if workload == "reverse" else FORWARD_SCHEMA
        df = spark.createDataFrame([tuple(r.values()) for r in rows], schema)
    df = df.cache()
    df.count()
    return df


# --------------------------------------------------------------------------
# one batch
# --------------------------------------------------------------------------

def run_batch(spark, tables, workload: str, inputs):
    """One untraced batch: the workload's public call, output materialised."""
    if workload == "pages":
        return mine.geocode_pages(spark, tables, inputs)
    if workload == "reverse":
        return reverse_geocode(spark, tables, inputs).localCheckpoint(eager=True)
    return forward_geocode(spark, tables, inputs)


def _admin_pip(spark, tables, *results):
    """The geocoders' admin-level 4/6 point-in-polygon over the OSM rows of
    ``results`` (OA rows carry no admin names)."""
    points = [r.filter(F.col("license_id") == ZERO_UUID).select("x", "y", "county", "state")
              for r in results]
    return functools.reduce(DataFrame.unionByName, points).withColumn(
        "__ad", spatial.multi_pip_match_col(
            spark, {"a4": tables.prepared_admin(4), "a6": tables.prepared_admin(6)},
            "x", "y")).localCheckpoint(eager=True)


def run_traced_batch(tracer, spark, tables, workload: str, inputs, batch: int):
    """One batch with a span around each layer call. Each layer's output is
    materialised inside its own span so the Spark work lands there; the
    result equals the untraced batch's (the digests are compared).

    Returns the output and a dict of DataFrames for the row counts, which
    the caller takes after the spans close."""
    parts = {"batch_in": inputs}
    with tracer.span("batch", batch):
        if workload == "pages":
            # geocode_pages, one layer at a time: the same mined queries,
            # the same scalar top-1 calls, the same join back to urls
            with tracer.span("mine", batch):
                addr = mine.mine_addresses(inputs).withColumn(
                    "query_id", F.xxhash64("url", "road", "house_number", "postcode", "city")
                ).localCheckpoint(eager=True)
                coords = mine.mine_coordinates(inputs).withColumn(
                    "query_id", F.xxhash64("url", "lat", "lon")).localCheckpoint(eager=True)
            fwd_q = addr.select(
                "query_id", "road", "house_number", "postcode", "city",
                F.lit(None).cast("string").alias("country"),
                F.lit(None).cast("double").alias("center_lat"),
                F.lit(None).cast("double").alias("center_lon"),
                F.lit(20000.0).alias("radius"), F.lit(1).alias("limit"))
            rev_q = coords.select("query_id", "lat", "lon",
                                  F.lit(PAGES_REV_RADIUS).alias("radius"),
                                  F.lit(1).alias("limit"))
            with tracer.span("forward", batch):
                fwd = forward_geocode(spark, tables, fwd_q, batch_has_countries=False,
                                      scalar_limit=1)
            with tracer.span("reverse", batch):
                rev = reverse_geocode(spark, tables, rev_q, with_fallback=False,
                                      scalar_limit=1).localCheckpoint(eager=True)
            with tracer.span("spatial", batch):
                pip = _admin_pip(spark, tables, fwd, rev)
            cols = ["road", "house_number", "postcode", "city", "x", "y"]
            out = (fwd.select("query_id", F.lit("address").alias("kind"), *cols)
                   .join(addr.select("query_id", "url"), "query_id").drop("query_id")
                   .unionByName(
                       rev.select("query_id", F.lit("coordinate").alias("kind"), *cols)
                       .join(coords.select("query_id", "url"), "query_id")
                       .drop("query_id"))
                   .localCheckpoint(eager=True))
            parts.update(mine_out=(addr, coords), forward_in=fwd_q, forward_out=fwd,
                         reverse_in=rev_q, reverse_out=rev)
        elif workload == "reverse":
            with tracer.span("reverse", batch):
                out = reverse_geocode(spark, tables, inputs).localCheckpoint(eager=True)
            with tracer.span("spatial", batch):
                pip = _admin_pip(spark, tables, out)
            parts.update(reverse_in=inputs, reverse_out=out)
        else:
            with tracer.span("forward", batch):
                out = forward_geocode(spark, tables, inputs)
            with tracer.span("spatial", batch):
                pip = _admin_pip(spark, tables, out)
            parts.update(forward_in=inputs, forward_out=out)
    parts.update(spatial_out=pip, batch_out=out)
    return out, parts


def record_rows(tracer, parts: dict, batch: int) -> None:
    """Set rows_in/rows_out of the batch's spans (counting runs Spark jobs,
    so this is done after the spans closed)."""
    spans = {sp.name: sp for sp in tracer.spans if sp.batch == batch}
    counts = {"batch": (parts["batch_in"].count(), parts["batch_out"].count())}
    if "mine_out" in parts:
        counts["mine"] = (counts["batch"][0], sum(d.count() for d in parts["mine_out"]))
    for layer in ("forward", "reverse"):
        if f"{layer}_in" in parts:
            counts[layer] = (parts[f"{layer}_in"].count(), parts[f"{layer}_out"].count())
    pip = parts["spatial_out"]
    matches = pip.select(F.sum(F.size("__ad.a4") + F.size("__ad.a6"))).first()[0]
    counts["spatial"] = (pip.count(), matches or 0)
    for name, (rin, rout) in counts.items():
        spans[name].counters.update(rows_in=rin, rows_out=rout)


def spatial_mismatches(pip_df) -> int:
    """Rows whose state/county is not among the admin polygons the PIP
    finds at their point (NULL must mean none was found)."""
    bad = 0
    for r in pip_df.select("county", "state", "__ad.a4", "__ad.a6").collect():
        for name, found in ((r["state"], r["a4"]), (r["county"], r["a6"])):
            found = [f for f in found if f]
            if (name is None and found) or (name is not None and name not in found):
                bad += 1
    return bad


# --------------------------------------------------------------------------
# funnel counts of the trigram prefix joins
# --------------------------------------------------------------------------

def _prefix_pairs(terms, term_col, gram_df, prefix_index, index_arr):
    """Rows of the AllPairs prefix join between ``terms`` and an engine
    prefix index, and how many of them pass ``sim_ge_arrays`` — the funnel
    of forward's street and house-number candidate joins."""
    from pyspark.sql import Window

    tok = (terms.select(F.col(term_col).alias("q")).where("q is not null").distinct()
           .withColumn("q_t", trigram_tokens_col(F.col("q")))
           .select("q", "q_t", F.size("q_t").alias("n_q"), F.explode("q_t").alias("trigram")))
    w = Window.partitionBy("q").orderBy(F.col("__df").asc(), F.col("trigram").asc())
    pfx = (tok.join(F.broadcast(gram_df), "trigram", "left")
           .withColumn("__df", F.coalesce(F.col("df"), F.lit(0)))
           .withColumn("__rk", F.row_number().over(w))
           .filter(F.col("__rk") <= F.col("n_q")
                   - F.ceil(F.lit(text.TRGM_SIM_THRESHOLD) * F.col("n_q")) + 1)
           .select("q", "q_t", "trigram"))
    pairs = prefix_index.join(F.broadcast(pfx), "trigram")
    ok = sim_ge_arrays(F.col("q_t"), F.col(index_arr)).cast("long")
    row = pairs.select(F.count("*").alias("n"), F.sum(ok).alias("v")).first()
    return int(row["n"]), int(row["v"] or 0)


def funnel(tables, parts: dict) -> dict:
    """The funnel counts of one traced batch; 0 for a layer it did not run."""
    out = dict.fromkeys(("forward.street_pairs", "forward.street_verified",
                         "forward.hn_pairs", "forward.hn_verified", "reverse.no_osm_hit"), 0)
    if "forward_in" in parts:
        q = parts["forward_in"]
        sp, sv = _prefix_pairs(q, "road", tables.street_gram_df,
                               tables.street_name_prefix, "name_t")
        hp, hv = _prefix_pairs(q, "house_number", tables.hn_gram_df,
                               tables.hn_value_prefix, "hn_t")
        out.update({"forward.street_pairs": sp, "forward.street_verified": sv,
                    "forward.hn_pairs": hp, "forward.hn_verified": hv})
    if "reverse_in" in parts:
        # OSM rows carry the zero license id; the rest came from the OA fallback
        osm_hits = (parts["reverse_out"].filter(F.col("license_id") == ZERO_UUID)
                    .select("query_id").distinct().count())
        out["reverse.no_osm_hit"] = parts["reverse_in"].count() - osm_hits
    return out
