"""Reverse geocoding: coordinate batches -> nearest addresses.

Semantics: sql/geocoder/004-reverse_geocoding.sql:68-89 + the client-side
LIMIT and OSM->OA fallback of osmgeocoder/reverse.py:39-63, re-expressed per
the north_star as *k-ring cell expansion + sort-merge equi-join + window
top-k*:

  query point -> covering cells of its radius window (P3's 1-D band filter
  generalized to 2-D)  ->  equi-join with houses on cell_id  ->  exact
  planar-distance residual filter (F9)  ->  street/city dim joins (J1/J2)
  ->  admin_level 4/6 containment from the houses' a4/a6 name arrays with
  explode_outer (J3, multiplicity preserved)  ->  row_number() over
  (query ORDER BY distance) <= limit (J10/O2).

The join side is houses (the 10^12-scale relation at design scale): it is
pre-partitioned/sorted by cell_id by the ETL, so the equi-join prunes to the
few cells each query touches; no shuffle of the big side beyond the join
itself, and the query side is the small one (broadcastable).

Sub-results with two consumers are materialized once instead of being
recomputed per consumer: on the window path (any limit but a caller-asserted
scalar 1) the round-1 rows (≤ limit per query) feed both the kept rows and
the satisfied set, and with the OA fallback the OSM result feeds both the
returned rows and the left-anti hit set. Both use
``localCheckpoint(eager=True)``, so a call runs those jobs before it returns.
Cluster caveat (as in forward.py): localCheckpoint truncates lineage, so
blocks lost with an executor are not recomputable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import proj
from .etl import GRID_JOIN_RES
from .tables import GeocoderTables

ZERO_UUID = "00000000-0000-0000-0000-000000000000"

RESULT_COLS = ["query_id", "house", "road", "house_number", "postcode", "city",
               "county", "state", "x", "y", "distance", "license_id"]


def _grid_expand(q: DataFrame, res: int = GRID_JOIN_RES,
                 g_col: str = "radius") -> DataFrame:
    """k-ring expansion as pure JVM expressions: one row per (ix, iy) grid
    cell covering [qx±g, qy±g] (usually ≤4 rows per query —
    sequence + two explodes, fully inside whole-stage codegen)."""
    from .etl import grid_cols

    x0, y0 = grid_cols(F.col("qx") - F.col(g_col), F.col("qy") - F.col(g_col), res)
    x1, y1 = grid_cols(F.col("qx") + F.col(g_col), F.col("qy") + F.col(g_col), res)
    return (q.withColumn("__ix0", x0).withColumn("__ix1", x1)
            .withColumn("__iy0", y0).withColumn("__iy1", y1)
            .withColumn("ix", F.explode(F.sequence(F.col("__ix0"), F.col("__ix1"))))
            .withColumn("iy", F.explode(F.sequence(F.col("__iy0"), F.col("__iy1"))))
            .drop("__ix0", "__ix1", "__iy0", "__iy1"))


def _admin_cols(df: DataFrame) -> DataFrame:
    """LEFT JOIN osm_admin a4/a6 ON ST_Contains (004:82-83) over the houses'
    a4/a6 name arrays: explode_outer preserves both left rows and overlap
    multiplicity (a4-matches x a6-matches)."""
    return (df.withColumn("a4_name", F.explode_outer("a4_names"))
            .withColumn("a6_name", F.explode_outer("a6_names"))
            .drop("a4_names", "a6_names"))


def _admin_min(df: DataFrame) -> DataFrame:
    """_admin_cols then row_number()==1 under (a4_name, a6_name asc NULLS
    LAST), for one house per query: the least name of each array."""
    return (df.withColumn("a4_name", F.array_min("a4_names"))
            .withColumn("a6_name", F.array_min("a6_names"))
            .drop("a4_names", "a6_names"))


def reverse_geocode(spark, tables: GeocoderTables, queries: DataFrame,
                    with_fallback: bool = True,
                    scalar_limit: int | None = None) -> DataFrame:
    """``queries``: (query_id, lat, lon, radius, limit) in EPSG:4326.

    Returns the address_and_distance shape + query_id; row order is
    recovered per query by (distance, tiebreaks) via row_number <= limit.

    ``scalar_limit``: caller-asserted constant value of the ``limit``
    column. When 1 (the mining pipeline's kNN mode), per-query top-1 is
    computed as a map-side-combinable count()+min_by() aggregate instead of
    a window over every candidate row — the window shuffle moves the FULL
    candidate set (measured 4.2 GB / ~50M rows per run at bench sf4.0, the
    largest exchange of the whole geocode_pages job) to rank rows of which
    one per query survives. Results are identical (pytest-pinned):
    row_number()==1 under (distance asc, id asc) is exactly min_by keyed on
    struct(distance, id), and id is unique.

    Eager: on the window path the call materializes the round-1 rows, and
    with the fallback it materializes the OSM result (module docstring), so
    the returned DataFrame reads those from executor blocks whose lineage is
    truncated — an executor lost before the result is consumed loses them."""
    q = queries.select(
        "query_id",
        proj.merc_x_col(F.col("lon")).alias("qx"),
        proj.merc_y_col(F.col("lat")).alias("qy"),
        F.col("radius").cast("double").alias("radius"),
        F.col("limit").cast("int").alias("limit"),
    )
    return _reverse_projected(spark, tables, q, with_fallback, scalar_limit)


def reverse_geocode_epsg3857(spark, tables: GeocoderTables, queries: DataFrame,
                             with_fallback: bool = True,
                             scalar_limit: int | None = None) -> DataFrame:
    """``queries``: (query_id, x, y, radius, limit) already in EPSG:3857 —
    the reference's Geocoder.reverse_epsg3857 entry
    (osmgeocoder/geocoder.py:199-247), for pipelines that store projected
    points. Identical plan to reverse_geocode with the lon/lat projection
    skipped."""
    q = queries.select(
        "query_id",
        F.col("x").cast("double").alias("qx"),
        F.col("y").cast("double").alias("qy"),
        F.col("radius").cast("double").alias("radius"),
        F.col("limit").cast("int").alias("limit"),
    )
    return _reverse_projected(spark, tables, q, with_fallback, scalar_limit)


def _reverse_projected(spark, tables: GeocoderTables, q: DataFrame,
                       with_fallback: bool,
                       scalar_limit: int | None = None) -> DataFrame:
    # NULL radius -> no rows (the reference's ST_DWithin(…, NULL) is never
    # true). Filtered up front: F.least(G1_METERS, radius) in the two-round
    # kNN would otherwise silently treat NULL as a 32 m search window.
    q = q.filter(F.col("radius").isNotNull())

    osm = _reverse_osm(tables, q, scalar_limit).select(*RESULT_COLS)
    if not with_fallback or tables.oa is None:
        return osm

    # J11 source fallback: OA only for queries with zero OSM rows
    # (osmgeocoder/reverse.py:52-63) — left-anti on the hit set. The OSM
    # result has two consumers (returned rows, hit set); column pruning
    # gives them different exchanges, so a lazy plan would run the whole
    # OSM kNN twice. Materialize it once (≤ limit rows per query).
    osm = osm.localCheckpoint(eager=True)
    hits = osm.select("query_id").distinct()
    q_missed = q.join(hits, "query_id", "left_anti")
    oa = _reverse_oa(spark, tables, q_missed, scalar_limit)
    return osm.unionByName(oa.select(*RESULT_COLS))


def _candidates(q: DataFrame, houses: DataFrame,
                radius_col: str = "radius", res: int = GRID_JOIN_RES) -> DataFrame:
    """grid expansion + equi-join + exact residual distance filter.
    ``radius_col`` bounds both the covering-cell window and the distance
    residual, so by construction every house with distance <= radius_col is
    in the join output (the cell bbox covers the closed disk)."""
    qc = _grid_expand(q.withColumn("__g", F.col(radius_col)), res=res, g_col="__g")
    if res == GRID_JOIN_RES:
        keyed = houses
    else:
        # per-round finer grid keys, computed on the fly from cached x/y
        # (pure arithmetic — no re-materialization of the big side)
        from .etl import grid_cols
        fx, fy = grid_cols(F.col("x"), F.col("y"), res)
        keyed = houses.withColumn("ix", fx).withColumn("iy", fy)
    # join strategy left to AQE: at small batch sizes it runtime-broadcasts
    # the query-cell side; at design scale (10^9-row query batches) neither
    # side is broadcastable and this becomes a shuffle join on (ix, iy) with
    # houses pre-partitioned by cell — never force a driver-side broadcast
    # build of a side that scales with the batch
    cand = keyed.join(qc, ["ix", "iy"], "inner")
    # 004:85-87 — the 1-D ST_X band prefilter, then exact ST_DWithin
    cand = cand.filter(
        (F.col("x") >= F.col("qx") - F.col("__g"))
        & (F.col("x") <= F.col("qx") + F.col("__g"))
    ).withColumn("distance", F.sqrt(
        # sqrt form (not Java hypot): bit-identical to PostGIS ST_Distance
        # and to the DuckDB oracle's formula
        (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
        + (F.col("y") - F.col("qy")) * (F.col("y") - F.col("qy"))))
    return cand.filter(F.col("distance") <= F.col("__g")).drop("__g")


# first-pass kNN parameters: guarantee radius (meters) and the fine grid
# resolution used for it (res 21 -> ~19 m cells). Dense mega-cells are the
# reason these exist: within a 150 m radius a dense city cell can genuinely
# hold thousands of in-radius houses per query (measured 40M candidate pairs
# at bench sf0.25), but only the top-`limit` survive — the first pass bounds
# the fan-out to the ~nearest houses and provably satisfies most queries.
G1_METERS = 32.0
G1_RES = 21


def _top1_per_query(cand: DataFrame, *key) -> DataFrame:
    """Per-query best candidate under ``key`` (default (distance asc, id
    asc)) as ONE map-side-combinable aggregate: min_by() partial-aggregates
    inside the candidate-generation stage, so the query_id exchange carries
    one skinny row per (query, upstream partition) instead of the full
    candidate set — the window form shuffles and sorts EVERY candidate row
    (the job's largest exchange, 4.2 GB at bench sf4.0) to keep one. Exact
    for limit=1: min_by on struct(key) == row_number()==1 under the same
    ordering, the key ending in a unique id. Round-1 satisfaction needs no
    count() either: with limit=1 a query is satisfied iff it has ANY
    candidate, i.e. iff its group exists.

    Physical honesty: min_by's buffer is a struct, which HashAggregateExec
    cannot hold (probed: only fully-primitive value+ordering min_by
    hash-aggregates), so the PARTIAL aggregate plans as a SortAggregate —
    it still combines map-side, but via a partition-LOCAL sort of the
    candidate slice (spills to local disk at bench sf4.0). Still the right
    trade: nothing crosses the wire, and per-partition sorts scale
    horizontally with executors. An exact hash-aggregable argmin would need
    either a join-back (recomputing the candidate relation) or packing
    string payloads into primitives — both worse.

    The grouping key is re-selected from the GROUP, not from the min_by
    struct (the struct's query_id always equals it, but Catalyst cannot
    know that): a consumer that prunes to query_id alone — the round-2
    satisfied-set anti-join — then drops the min_by entirely and plans as
    a functionless HashAggregate (distinct) over one 8-byte column,
    instead of re-running the full candidate SORT a second time (probed:
    the struct-keyed shape carried TWIN full-width partial SortAggregates
    through the mining plan — 59 GiB local sort-spill EACH at bench sf8)."""
    key = key or (F.col("distance"), F.col("id"))
    payload = [c for c in cand.columns if c != "query_id"]
    best = F.min_by(F.struct(*[F.col(c) for c in payload]), F.struct(*key)).alias("__best")
    return cand.groupBy("query_id").agg(best).select("query_id", "__best.*")


def _reverse_osm(tables: GeocoderTables, q: DataFrame,
                 scalar_limit: int | None = None) -> DataFrame:
    # SKINNY candidate rows through every shuffle: only join/rank columns
    # (id, x, y, street_id, distance, ...) travel through the windows;
    # street/city display attributes are joined back AFTER the final top-k
    # (the street_city join is key-preserving — street_id is its key — so a
    # pre-rank LEFT SEMI is count-equivalent to the reference's inner join
    # and the decorate-after-top-k rewrite is exact). Measured: the fat rows
    # spilled 7.7 GB through the round-1 window at bench sf1.0.
    street_keys = tables.street_city.select("street_id")
    houses = tables.houses.drop("a2_ids")

    # --- round 1: fine-grid probe within g1 = min(G1_METERS, radius) -------
    # complete-by-construction for distance <= g1, so a query whose round-1
    # street-joined candidate count reaches `limit` (or whose radius was
    # fully covered) needs no second round: the true top-`limit` rows are
    # all within g1. Counting AFTER the street (semi-)join matters — a
    # dangling street_id row must not count toward satisfaction.
    c1 = _candidates(
        q.withColumn("__r1", F.least(F.lit(G1_METERS), F.col("radius"))),
        houses, radius_col="__r1", res=G1_RES,
    ).drop("__r1").join(F.broadcast(street_keys), "street_id", "left_semi")

    if scalar_limit == 1:
        # kNN-1 fast path (the mining pipeline's mode): per-query top-1 is a
        # map-side-combinable aggregate, not a window over every candidate
        # row. With limit=1, EVERY query with a round-1 candidate is
        # satisfied (count >= 1 by construction of groupBy), so round 2 runs
        # exactly for the round-1 misses with radius > g1, and a pre-rank
        # would be a no-op (<=1 row per query per round, rounds disjoint) —
        # both giant query_id exchanges (4.2 GB + 1.2 GB at bench sf4.0)
        # disappear; only per-(query, partition) partial rows shuffle.
        # Only the payload used after the aggregate rides through its
        # partial sort (qx/qy/ix/iy/radius/limit die here); sat_ids prunes
        # c1_keep to its GROUPING key, so that branch plans as a spill-free
        # hash distinct instead of a second full candidate sort (see
        # _top1_per_query).
        payload = ("query_id", "id", "street_id", "house_number", "x", "y", "distance",
                   "a4_names", "a6_names")
        c1_keep = _top1_per_query(c1.select(*payload))
        sat_ids = c1_keep.select("query_id")
        q2 = q.filter(F.col("radius") > F.lit(G1_METERS)) \
            .join(sat_ids, "query_id", "left_anti")
        c2 = _top1_per_query(
            _candidates(q2, houses)
            .join(F.broadcast(street_keys), "street_id", "left_semi").select(*payload))
        top = _admin_min(c1_keep.unionByName(c2))
    else:
        # ONE shuffle by query_id computes both the satisfaction count and
        # the per-query rank; rows are truncated to `limit` right here
        # (their ordering within a satisfied query is final — see pre-rank
        # argument below) and materialized once, because c1_keep and
        # sat_ids both consume them and a lazy plan would rerun the round-1
        # join and window per consumer. A query with n1 >= limit >= 1
        # keeps its rank-1 row, so sat_ids still holds every satisfied
        # query; limit <= 0 or NULL keeps no row and returns no rows.
        _p = Window.partitionBy("query_id")
        c1 = (c1.withColumn("__n1", F.count("*").over(_p))
                .withColumn("__r1rn", F.row_number().over(
                    _p.orderBy(F.col("distance").asc(), F.col("id").asc())))
                .filter(F.col("__r1rn") <= F.col("limit")).drop("__r1rn")
                .localCheckpoint(eager=True))
        c1_keep = c1.filter(
            (F.col("__n1") >= F.col("limit")) | (F.col("radius") <= F.lit(G1_METERS))
        ).drop("__n1")

        # --- round 2: full radius on the res-18 grid, only for queries
        # round 1 could not complete
        sat_ids = c1.filter(F.col("__n1") >= F.col("limit")).select("query_id").distinct()
        q2 = q.filter(F.col("radius") > F.lit(G1_METERS)).join(sat_ids, "query_id", "left_anti")
        c2 = _candidates(q2, houses) \
            .join(F.broadcast(street_keys), "street_id", "left_semi")

        cand = c1_keep.unionByName(c2)
        # pre-rank to `limit` houses per query before the admin explode
        # (duplication by overlapping admin polygons never promotes a
        # lower-ranked house, so results are identical — see forward.py)
        pre_w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("id").asc())
        cand = cand.withColumn("__pre", F.row_number().over(pre_w)) \
            .filter(F.col("__pre") <= F.col("limit")).drop("__pre")
        w = Window.partitionBy("query_id").orderBy(
            F.col("distance").asc(),  # 004:88 ORDER BY ST_Distance
            F.col("id").asc(), F.col("a4_name").asc_nulls_last(), F.col("a6_name").asc_nulls_last(),
        )
        top = _admin_cols(cand).withColumn("__rn", F.row_number().over(w)) \
            .filter(F.col("__rn") <= F.col("limit"))
    return (
        # decorate the surviving top-k with street/city display attributes
        top.join(F.broadcast(tables.street_city.select(
            "street_id", "road", "city_name", "postcode")), "street_id", "inner")
        .select(
            "query_id",
            F.lit(None).cast("string").alias("house"),
            F.col("road"),
            F.col("house_number"),
            F.col("postcode"),
            F.col("city_name").alias("city"),  # 004:73 — no NULLIF here
            F.nullif(F.col("a6_name"), F.lit("")).alias("county"),
            F.nullif(F.col("a4_name"), F.lit("")).alias("state"),
            "x", "y", "distance",
            F.lit(ZERO_UUID).alias("license_id"),
        )
    )


def _reverse_oa(spark, tables: GeocoderTables, q: DataFrame,
                scalar_limit: int | None = None) -> DataFrame:
    """point_to_address_oa (004:30-49): oa_house⋈oa_street⋈oa_city, no admin
    joins, license_id from the city row."""
    oa = tables.oa
    houses = oa["oa_house"]
    dim = (
        oa["oa_street"].select(F.col("id").alias("street_id"), F.col("street").alias("road"),
                               F.col("city_id"))
        .join(F.broadcast(oa["oa_city"].select(F.col("id").alias("__cid"), F.col("city"),
                                               F.col("postcode"), F.col("license_id"))),
              F.col("city_id") == F.col("__cid"), "inner").drop("__cid")
    )
    cand = _candidates(q, houses).join(F.broadcast(dim), "street_id", "inner")
    if scalar_limit == 1:
        # same kNN-1 aggregate rewrite as _reverse_osm (no admin
        # multiplicity here, so the aggregate IS the final top-1)
        cand = _top1_per_query(cand)
    else:
        w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("id").asc())
        cand = cand.withColumn("__rn", F.row_number().over(w)) \
            .filter(F.col("__rn") <= F.col("limit"))
    return (
        cand
        .select(
            "query_id",
            F.col("name").alias("house"),
            F.col("road"), F.col("housenumber").alias("house_number"),
            F.col("postcode"), F.col("city"),
            F.lit(None).cast("string").alias("county"),
            F.lit(None).cast("string").alias("state"),
            "x", "y", "distance", "license_id",
        )
    )
