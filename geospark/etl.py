"""ETL: the reference's 18-step "optimize" pipeline as DataFrame stages.

Builds the queryable star schema (osm_struct_house / _streets / _cities +
wordlist) from the 5 imposm-shaped OSM tables, replicating
osmgeocoder/data/sql/optimize/001..018 semantics with three documented
determinism fixes (SURVEY.md §7.4.3):
  * random uuids -> content-derived sha256 keys,
  * UPDATE ... FROM multi-match nondeterminism -> min(osm_id) winner,
  * geometry backfill arbitrary-row wins (012/013) -> min(osm_id) winner.

Every stage is a plain DataFrame expression: Catalyst gets the whole plan
(column pruning + pushdown free). The point-in-polygon fills are JVM
equi-joins on grid cells (spatial.pip_match) and the centroid is a JVM
shoelace, so the build runs no Python.
"""

from __future__ import annotations

import concurrent.futures
import warnings

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType

from . import cells as cell_mod
from . import proj, spatial

_GEOHASH32_STR = "0123456789bcdefghjkmnpqrstuvwxyz"  # cells._GEOHASH32 as str

HOUSE_CELL_RES = 15  # ~1223 m cells; clustering/partition locality + skew tiling
# the reverse-geocode grid JOIN runs at a finer resolution matched to the
# query radii (default 100-150 m): res 18 -> ~153 m cells, so a radius window
# spans <=3x3 cells and each cell holds ~1/64 of the houses a res-15 cell
# would — the join pairs only near-by houses instead of everything within
# ~1.2 km (measured 755 core-s -> ~25 core-s on the bench reverse join)
GRID_JOIN_RES = 18


def _id(*cols):
    """Content-derived surrogate key (replaces gen_random_uuid,
    optimize/001:3 etc. — determinism deviation §7.4.3a)."""
    return F.sha2(F.concat_ws("", *cols), 256)


def _barrier(df: DataFrame) -> DataFrame:
    """Stage materialization point: in production each optimize stage commits
    a parquet snapshot (snapshots.Pipeline); locally localCheckpoint gives
    the same plan barrier. It also keeps the many downstream branches from
    re-running the point-in-polygon joins on every action."""
    return df.localCheckpoint(eager=True)


def load_osm_tables(spark: SparkSession, fixture_dir: str) -> dict:
    t = {}
    for name in ["osm_admin", "osm_postal_code", "osm_roads", "osm_house_number", "osm_buildings"]:
        path = f"{fixture_dir}/{name}.parquet"
        # explicit schema from the parquet footer (driver-side pyarrow read):
        # schema inference otherwise runs one Spark job PER table — five
        # scheduler round-trips before any real work (profiled 0.75 s + gap
        # time of the 19.5 s etl_build; guide §1.2 step 1 serial-floor work).
        # from_arrow_schema round-trips the footer exactly (probe-verified
        # equal to the inferred schema).
        try:
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            schema = from_arrow_schema(pq.read_schema(path))
            t[name] = spark.read.schema(schema).parquet(path)
        except Exception as exc:
            warnings.warn(f"load_osm_tables: explicit schema for {name} failed "
                          f"({exc!r}); falling back to Spark schema inference")
            t[name] = spark.read.parquet(path)
    return t


def _centroid_cols(df: DataFrame, rings_col: str = "rings"):
    """ST_Centroid over polygon rings (optimize/002:12) as JVM columns cx/cy:
    geometry.polygon_centroid bit for bit — the same shoelace terms, each
    sum taken left to right from 0.0, holes subtracting, and the vertex mean
    when the total area is zero."""
    def ring_sums(ring):
        # (sum cross, sum (x0+x1)*cross, sum (y0+y1)*cross) over the edges
        def edge(acc, i):
            x0, y0 = ring[i][0], ring[i][1]
            x1, y1 = ring[i + 1][0], ring[i + 1][1]
            cross = x0 * y1 - x1 * y0
            return F.struct((acc["a"] + cross).alias("a"),
                            (acc["x"] + (x0 + x1) * cross).alias("x"),
                            (acc["y"] + (y0 + y1) * cross).alias("y"))

        zero = F.struct(*(F.lit(0.0).alias(f) for f in ("a", "x", "y")))
        return F.aggregate(F.sequence(F.lit(0), F.size(ring) - 2), zero, edge)

    def add_ring(acc, s):
        a = s["a"] / F.lit(2.0)
        # rings after the first subtract when wound like the running total
        signed = F.when((acc["n"] > 0) & ((a > 0) == (acc["a"] > 0)), -a).otherwise(a)

        def weighted(sc):
            # a zero-area ring adds a signed zero: nothing
            return F.when(a == 0, F.lit(0.0)).otherwise(signed * (sc / (F.lit(6.0) * a)))

        return F.struct((acc["n"] + 1).alias("n"), (acc["a"] + signed).alias("a"),
                        (acc["x"] + weighted(s["x"])).alias("x"),
                        (acc["y"] + weighted(s["y"])).alias("y"))

    def vertex_mean(k):
        # every vertex but each ring's closing one
        total = F.aggregate(F.col(rings_col), F.lit(0.0), lambda acc, r: F.aggregate(
            F.slice(r, 1, F.size(r) - 1), acc, lambda t, p: t + p[k]))
        count = F.aggregate(F.col(rings_col), F.lit(0), lambda n, r: n + F.size(r) - 1)
        return total / count

    zero = F.struct(F.lit(0).alias("n"), *(F.lit(0.0).alias(f) for f in ("a", "x", "y")))
    c = F.aggregate(F.transform(rings_col, ring_sums), zero, add_ring)
    return df.withColumn("__c", c).select(
        "*",
        F.when(F.col("__c.a") == 0, vertex_mean(0))
        .otherwise(F.col("__c.x") / F.col("__c.a")).alias("cx"),
        F.when(F.col("__c.a") == 0, vertex_mean(1))
        .otherwise(F.col("__c.y") / F.col("__c.a")).alias("cy")).drop("__c")


def cell_col(x_col, y_col, res: int = HOUSE_CELL_RES):
    """Cell id column (the engine's spatial index — replaces GiST/geohash
    clustering, SURVEY.md X1/X2/X4)."""
    import numpy as np

    @F.pandas_udf(LongType())
    def _cell(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(cell_mod.encode(x.to_numpy(np.float64), y.to_numpy(np.float64), res))

    return _cell(x_col, y_col)


def _spread_col(c):
    """JVM bit-spread (one zero bit between each of the low 27 bits) —
    the codegen'd twin of cells._part1by1."""
    c = c.bitwiseAND(F.lit(0x7FFFFFF))
    c = c.bitwiseOR(F.shiftleft(c, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x3333333333333333))
    c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return c


def morton_cell_col(ix_col, iy_col, res: int):
    """(ix, iy) grid coords -> Morton cell id, pure JVM (cells.encode_ij)."""
    return F.lit(res << 53).bitwiseOR(_spread_col(ix_col)) \
        .bitwiseOR(F.shiftleft(_spread_col(iy_col), 1))


def cell_col_jvm(x_col, y_col, res: int = HOUSE_CELL_RES):
    """Pure-JVM Morton cell id — bit-for-bit the same as cells.encode
    (xy_to_ij + bit-spread interleave + res tag), but expressed as codegen'd
    long arithmetic: the ETL's hottest per-row column no longer pays an
    Arrow round-trip, and range-partition sampling re-evaluates only cheap
    JVM ops. The Arrow kernel (cell_col) stays as the reference
    implementation; tests assert equality."""
    ix, iy = grid_cols(x_col, y_col, res)
    return morton_cell_col(ix, iy, res)


def grid_cols(x_col, y_col, res: int = HOUSE_CELL_RES):
    """(ix, iy) grid coordinates as pure JVM Columns — identical math to
    cells.xy_to_ij (floor((v+L)/size) clipped). The spatial equi-join runs on
    (ix, iy) so the probe side needs no Python at all; the Morton cell_id
    column remains for clustering/sorting locality."""
    from .proj import L as _L

    n = 1 << res
    size = cell_mod.cell_size(res)

    def _g(c):
        return F.least(F.greatest(F.floor((c + F.lit(_L)) / F.lit(size)), F.lit(0)),
                       F.lit(n - 1)).cast("long")

    return _g(x_col), _g(y_col)


def geohash_col(x_col, y_col, precision: int = 12):
    import numpy as np

    @F.pandas_udf(StringType())
    def _gh(x: pd.Series, y: pd.Series) -> pd.Series:
        lon, lat = proj.merc_to_lonlat(x.to_numpy(np.float64), y.to_numpy(np.float64))
        return pd.Series(cell_mod.geohash_encode(lat, lon, precision))

    return _gh(x_col, y_col)


def geohash_col_jvm(x_col, y_col, precision: int = 12):
    """Pure-JVM geohash column — the codegen twin of geohash_col (which
    stays as the reference kernel; tests assert equality), removing the last
    Arrow round-trip from the struct_house materialization stage (guide §4.1:
    built-ins over UDFs). Bit-compat notes: every rational op (multiply by
    the same 180/pi double literal numpy's rad2deg uses — NOT F.degrees,
    whose Math.toDegrees computes (x*180)/pi and can differ 1 ulp — add,
    div, mul, floor, clip) is exactly-rounded IEEE and engine-independent;
    exp/atan are libm-dependent in principle, pinned equal in practice by
    tests over the committed fixtures, the bench world and a 2M-point sweep
    of the whole projected plane (zero mismatches)."""
    import math

    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    deg = 180.0 / math.pi  # numpy rad2deg multiplies by this exact constant
    lon = (x_col / F.lit(proj.R)) * F.lit(deg)
    lat = (F.lit(2.0) * F.atan(F.exp(y_col / F.lit(proj.R)))
           - F.lit(math.pi / 2.0)) * F.lit(deg)
    li = F.floor(F.least(F.greatest(
        (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << nlon)),
        F.lit(0.0)), F.lit(float((1 << nlon) - 1)))).cast("long")
    la = F.floor(F.least(F.greatest(
        (lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << nlat)),
        F.lit(0.0)), F.lit(float((1 << nlat) - 1)))).cast("long")
    chars = []
    for c in range(precision):
        acc = None
        for j in range(5):
            b = 5 * c + j  # bit position from the MSB; even = lon, odd = lat
            src = li if b % 2 == 0 else la
            width = nlon if b % 2 == 0 else nlat
            shift = width - 1 - b // 2
            t = F.shiftright(src, shift).bitwiseAND(F.lit(1)) * F.lit(1 << (4 - j))
            acc = t if acc is None else acc + t
        chars.append(F.substr(F.lit(_GEOHASH32_STR), acc + F.lit(1), F.lit(1)))
    return F.concat(*chars)


def build_struct_tables(spark: SparkSession, osm: dict,
                        hot_cell_rows: int = 250_000) -> dict:
    """optimize/001..014 + geocoder/001 (wordlist).

    ``hot_cell_rows``: mega-cell threshold for adaptive cell splitting (X8 /
    north_rule). After the house table materializes, cells holding more rows
    than this are re-encoded at child resolution (tiling.adaptive_cells)
    BEFORE the range partition, so a dense-city cell can never serialize into
    one partition/row-group by id alone. Default 250_000 (~2 comfortable
    128 MB row groups of skinny house rows); 0 disables. Consumers are
    unaffected: the reverse/forward joins key on the (ix, iy) grid, and
    cell_id is a locality/partition key only."""
    admin = osm["osm_admin"]
    postal = osm["osm_postal_code"]

    # --- 001: copy house-number points into struct_house -------------------
    houses = osm["osm_house_number"].select(
        _id(F.lit("hn"), "osm_id").alias("id"),
        "osm_id", "city", "postcode", "street", "house_number", "x", "y",
    )

    # every polygon family this build probes, tiled into grid cells (one
    # small bbox aggregate; no ring reaches the driver): postal for 002 +
    # 004, admin 8/6 for 005, admin 6/4/2 for the houses' admin arrays.
    # Admin-2 matches are osm_ids (the country filter's key; names may
    # repeat), the rest names.
    families = {"pc": postal.select("osm_id", F.col("postcode").alias("attr"), "rings")}
    for key, lvl in (("a8", 8), ("a6", 6), ("a4", 4), ("a2", 2)):
        families[key] = admin.filter(F.col("admin_level") == lvl).select(
            "osm_id", F.col("osm_id" if lvl == 2 else "name").alias("attr"), "rings")
    poly_cells = spatial.polygon_cells(families)

    # --- 002: buildings with house numbers, centroid within postal polygon -
    bld = _centroid_cols(osm["osm_buildings"].filter(F.col("house_number") != ""))
    bld_in_postal = spatial.pip_match(bld, {"pc": poly_cells["pc"]}, "cx", "cy") \
        .withColumn("p_postcode", F.explode("pc")).select(
        _id(F.lit("bld"), "osm_id", "p_postcode").alias("id"),
        "osm_id",
        F.lit("").alias("city"),
        F.col("p_postcode").alias("postcode"),
        "street", "house_number",
        F.col("cx").alias("x"), F.col("cy").alias("y"),
    )
    houses = houses.unionByName(bld_in_postal)

    # --- 004 + 005: fill postcode (postal PIP), then city from admin_level
    # 8 then 6 — the match arrays depend only on (x, y), so one chain of
    # joins computes all five; the sequential UPDATE semantics live in the
    # chained column expressions (each condition reads the PREVIOUS fill's
    # output, exactly like the SQL UPDATE order).
    # Reference UPDATEs take an arbitrary polygon on overlap; we take the
    # min-osm_id winner (match arrays are ordered by osm_id — §7.4.3).
    # Houses keep their full a2/a4/a6 match arrays: the geocoders read them
    # in place of the reference's per-query ST_Contains (004:82-83,
    # 003:112,260,405), and explode_outer restores the LEFT JOIN multiplicity.
    houses = spatial.pip_match(houses, poly_cells, "x", "y")
    houses = houses.withColumn(
        "postcode",
        F.when((F.col("city") == "") & (F.col("postcode") == "")
               & F.get("pc", 0).isNotNull(),
               F.get("pc", 0)).otherwise(F.col("postcode")))
    for key in ("a8", "a6"):
        houses = houses.withColumn(
            "city",
            F.when((F.col("city") == "") & (F.col("postcode") != "")
                   & F.get(key, 0).isNotNull(),
                   F.get(key, 0)).otherwise(F.col("city")))
    houses = houses.withColumn("a2_ids", F.col("a2").cast("array<bigint>")) \
        .withColumn("a4_names", F.col("a4")) \
        .withColumn("a6_names", F.col("a6")).drop(*families)

    # stage barrier (see _barrier): freeze the PIP-filled keys before hashing
    houses = _barrier(houses)

    # --- 006: extract cities (group + ST_Extent bbox agg) ------------------
    cities = (
        houses.filter((F.col("city") != "") | (F.col("postcode") != ""))
        .groupBy(F.col("city").alias("name"), "postcode")
        .agg(F.min("x").alias("xmin"), F.min("y").alias("ymin"),
             F.max("x").alias("xmax"), F.max("y").alias("ymax"))
        .withColumn("id", _id(F.lit("city"), "name", "postcode"))
    )
    cities = _barrier(cities)

    # --- 008: backfill city_id on houses (equi-join on name+postcode) ------
    houses = houses.join(
        F.broadcast(cities.select(F.col("id").alias("city_id"),
                                  F.col("name").alias("__cn"),
                                  F.col("postcode").alias("__cp"))),
        (F.col("city") == F.col("__cn")) & (F.col("postcode") == F.col("__cp")),
        "left",
    ).drop("__cn", "__cp")

    # --- 009: extract streets (group by city_id+street, bbox agg) ----------
    # NULL city_id groups exist (orphan houses) exactly as in Postgres
    streets = (
        houses.groupBy("city_id", F.col("street").alias("name"))
        .agg(F.min("x").alias("xmin"), F.min("y").alias("ymin"),
             F.max("x").alias("xmax"), F.max("y").alias("ymax"))
        .withColumn("id", _id(F.lit("street"), F.coalesce("city_id", F.lit("∅")), "name"))
    )
    streets = _barrier(streets)

    # --- 011: backfill street_id (strict equality: NULL city_id never joins,
    # exactly like the Postgres UPDATE — orphan houses keep NULL street_id) -
    houses = houses.join(
        F.broadcast(streets.select(F.col("id").alias("street_id"),
                                   F.col("city_id").alias("__sc"),
                                   F.col("name").alias("__sn"))),
        (F.col("city_id") == F.col("__sc")) & (F.col("street") == F.col("__sn")),
        "left",
    ).drop("__sc", "__sn")

    # --- 012: street geometry from roads (name equi-join + bbox overlap;
    # min-osm_id winner instead of last-update-wins) -------------------------
    roads = osm["osm_roads"].select(
        F.col("osm_id").alias("r_id"), F.col("street").alias("r_street"), "line",
        F.least("x0", "x1").alias("rxmin"), F.greatest("x0", "x1").alias("rxmax"),
        F.least("y0", "y1").alias("rymin"), F.greatest("y0", "y1").alias("rymax"),
    )
    street_geom = (
        streets.join(F.broadcast(roads), (F.col("name") == F.col("r_street"))
                     & (F.col("rxmin") <= F.col("xmax")) & (F.col("rxmax") >= F.col("xmin"))
                     & (F.col("rymin") <= F.col("ymax")) & (F.col("rymax") >= F.col("ymin")), "inner")
        .groupBy(F.col("id").alias("sid"))
        .agg(F.min(F.struct("r_id", "line")).alias("__w"))
        .select("sid", F.col("__w.line").alias("geometry"))
    )
    streets = streets.join(street_geom, streets["id"] == street_geom["sid"], "left").drop("sid")

    # --- 013: city geometry from postal polys then admin_level 8 -----------
    postal_b = postal.select(F.col("osm_id").alias("p_id"), F.col("postcode").alias("p_pc"),
                             F.col("rings").alias("p_rings"),
                             "xmin", "ymin", "xmax", "ymax") \
        .withColumnRenamed("xmin", "pxmin").withColumnRenamed("ymin", "pymin") \
        .withColumnRenamed("xmax", "pxmax").withColumnRenamed("ymax", "pymax")
    g1 = (
        cities.join(F.broadcast(postal_b), (F.col("p_pc") == F.col("postcode"))
                    & (F.col("pxmin") <= F.col("xmax")) & (F.col("pxmax") >= F.col("xmin"))
                    & (F.col("pymin") <= F.col("ymax")) & (F.col("pymax") >= F.col("ymin")), "inner")
        .groupBy(F.col("id").alias("cid"))
        .agg(F.min(F.struct(F.col("p_id").alias("w_id"), F.col("p_rings").alias("w_rings"))).alias("__w"))
        .select("cid", F.col("__w.w_rings").alias("rings1"))
    )
    admin8 = admin.filter(F.col("admin_level") == 8).select(
        F.col("osm_id").alias("a_id"), F.col("name").alias("a_name"), F.col("rings").alias("a_rings"),
        F.col("xmin").alias("axmin"), F.col("ymin").alias("aymin"),
        F.col("xmax").alias("axmax"), F.col("ymax").alias("aymax"))
    g2 = (
        cities.join(F.broadcast(admin8), (F.col("a_name") == F.col("name"))
                    & (F.col("axmin") <= F.col("xmax")) & (F.col("axmax") >= F.col("xmin"))
                    & (F.col("aymin") <= F.col("ymax")) & (F.col("aymax") >= F.col("ymin")), "inner")
        .groupBy(F.col("id").alias("cid2"))
        .agg(F.min(F.struct(F.col("a_id").alias("w_id"), F.col("a_rings").alias("w_rings"))).alias("__w"))
        .select("cid2", F.col("__w.w_rings").alias("rings2"))
    )
    cities = (
        cities.join(g1, cities["id"] == g1["cid"], "left").drop("cid")
        .join(g2, cities["id"] == g2["cid2"], "left").drop("cid2")
        .withColumn("rings", F.coalesce("rings1", "rings2")).drop("rings1", "rings2")
    )

    # --- 014/015: cleanup + spatial clustering columns ----------------------
    gx, gy = grid_cols(F.col("x"), F.col("y"), GRID_JOIN_RES)
    struct_house = houses.select(
        "id", "osm_id", "house_number", "x", "y", "street_id",
        "a2_ids", "a4_names", "a6_names",
    ).withColumn("cell_id", cell_col_jvm(F.col("x"), F.col("y"))) \
     .withColumn("ix", gx).withColumn("iy", gy) \
     .withColumn("geohash", geohash_col_jvm(F.col("x"), F.col("y")))
    # CLUSTER ... USING geohash (optimize/015) + the importer's 360-way
    # range partitioning on ST_X (X1) -> range-partition on the Morton cell id
    # (a space-filling curve: contiguous id ranges are spatially local) and
    # sort within partitions for parquet min/max row-group skipping (X2)
    # two-key range partitioning: primary = Morton cell (spatial locality,
    # row-group skipping), secondary = id, which SPLITS mega-cells across
    # partitions instead of serializing ~45% of all rows into one task
    # (the fixture's Bigstadt cell is exactly that skew case)
    n_parts = max(16, 2 * spark.sparkContext.defaultParallelism)
    # barrier BEFORE the range partition: RangePartitioner's sampling pass
    # evaluates the child plan a second time — checkpointing first means the
    # cell/geohash kernels run once, and both the sample and the real
    # pass read materialized rows (measured ~2x on the struct_house build)
    struct_house = _barrier(struct_house)

    # X8: adaptive cell splitting for mega-cells (dense cities). The
    # histogram is one combiner-friendly groupBy over the materialized
    # table; hot cells are few by construction, so the map broadcasts.
    if hot_cell_rows > 0:
        import math

        from . import tiling

        # iterate: children of a split cell can THEMSELVES exceed the
        # threshold when houses cluster in a sub-box of the parent (real
        # dense cities do) — re-histogram and re-split until no hot cell
        # remains. Each round's hot set is uniform-resolution (round k's
        # hot cells are all round k-1 children), which adaptive_cells
        # requires; cold cells never change id. Bounded by the id layout's
        # finest resolution and a round cap (duplicate coordinates can
        # never be split apart).
        for _ in range(6):
            hot = tiling.hot_cells(struct_house, hot_cell_rows)
            if not hot:
                break
            # loop invariant, enforced: every round's hot set is uniform-
            # resolution (cold cells never become hot; round k's hot cells
            # are all round k-1 children) — a violation means the invariant
            # broke upstream, and splitting would mis-encode ids silently.
            # ValueError, not assert: `python -O` strips asserts and would
            # silently revert to the mis-encoding (ADVICE r4)
            tiling._require_uniform_res(hot)
            hot_res = next(iter({int(c) >> 53 for c in hot}))
            if hot_res >= cell_mod.MAX_RES:
                break
            # deep enough that the heaviest cell lands under the threshold
            # assuming uniform children (4^steps fan-out)
            steps = max(1, math.ceil(math.log(max(hot.values()) / hot_cell_rows, 4)))
            steps = min(steps, cell_mod.MAX_RES - hot_res)
            struct_house = _barrier(
                tiling.adaptive_cells(struct_house, hot, steps=steps))

    struct_house = struct_house.repartitionByRange(n_parts, "cell_id", "id") \
        .sortWithinPartitions("cell_id", "geohash")

    out = dict(struct_house=struct_house, struct_streets=streets, struct_cities=cities)
    # Eagerly cache + materialize the three tables. The post-barrier tails
    # are independent — the city/street geometry joins (012/013) and the
    # struct_house range partition + sort share no lineage below their
    # checkpoints — and every caller materializes all three anyway. Caching
    # here dedupes with callers' own .cache() via the CacheManager.
    out = {k: v.cache() for k, v in out.items()}
    _materialize([(k, (v,)) for k, v in out.items()])
    return out


def _materialize(chains) -> None:
    """Count cached DataFrames as CONCURRENT jobs: ``chains`` is a list of
    (name, DataFrames). Actions are only sequential because driver code
    calls them sequentially, and counting caches one at a time was a
    scheduler round-trip each of mostly-idle executors (r6 etl profile:
    ~3.5 s of the 19.5 s etl_build). The frames of one chain count in
    order, so a cache that reads an earlier one of its chain reuses it;
    chains overlap."""
    def _count(named):
        name, chain = named
        sc = chain[0].sparkSession.sparkContext
        sc.setJobDescription(f"eager build: {name}")
        for df in chain:
            df.count()
        sc.setJobDescription(None)

    with concurrent.futures.ThreadPoolExecutor(max_workers=len(chains)) as pool:
        list(pool.map(_count, chains))


def build_wordlist(struct: dict, oa: dict | None = None) -> DataFrame:
    """geocoder/001-wordlist_for_text_prediction.sql:43-75 as one plan:
    per-name street/house counts, \\W tokenization, two-phase sum (Spark's
    partial/final agg replaces the hand-rolled temp-table reduce, A4).

    ``oa``: the OpenAddresses tables (oa.build_oa_tables output). When given,
    the OA branch (001:55-69) unions in: oa_city names weighted by street
    count and oa_street names weighted by house count, both grouped by the
    NAME (001:58,63 ``GROUP BY c.city`` / ``GROUP BY s.street`` — two city
    rows sharing a name merge). When None the OSM-only list is built, exactly
    like the reference when ``oa_exists`` is false (001:12-17)."""
    cities, streets, houses = struct["struct_cities"], struct["struct_streets"], struct["struct_house"]
    city_words = (
        cities.join(streets.select(F.col("city_id").alias("cid")), F.col("id") == F.col("cid"), "inner")
        .groupBy(F.col("name")).agg(F.count("*").alias("ct"))
        .select(F.explode(F.split(F.col("name"), "\\W")).alias("word"), "ct")
    )
    street_words = (
        streets.join(houses.select(F.col("street_id").alias("sid")), F.col("id") == F.col("sid"), "inner")
        .groupBy(F.col("name")).agg(F.count("*").alias("ct"))
        .select(F.explode(F.split(F.col("name"), "\\W")).alias("word"), "ct")
    )
    parts = city_words.unionByName(street_words)
    if oa is not None:
        oa_city_words = (
            oa["oa_city"].select(F.col("id").alias("cid"), "city")
            .join(oa["oa_street"].select(F.col("city_id").alias("cid")), "cid", "inner")
            .groupBy("city").agg(F.count("*").alias("ct"))
            .select(F.explode(F.split(F.col("city"), "\\W")).alias("word"), "ct")
        )
        oa_street_words = (
            oa["oa_street"].select(F.col("id").alias("sid"), "street")
            .join(oa["oa_house"].select(F.col("street_id").alias("sid")), "sid", "inner")
            .groupBy("street").agg(F.count("*").alias("ct"))
            .select(F.explode(F.split(F.col("street"), "\\W")).alias("word"), "ct")
        )
        parts = parts.unionByName(oa_city_words).unionByName(oa_street_words)
    return parts.groupBy("word").agg(F.sum("ct").alias("ct"))
