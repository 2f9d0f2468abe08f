"""OpenAddresses importer: CSV rows -> oa_license / oa_city / oa_street /
oa_house, replicating bin/import_openaddress_data.py semantics (S3/S4/A6):

  * every CSV field Python-``str.title()``-cased (line 369 — NOT initcap,
    see text.py_title), region upper-cased in the city tuple (line 393),
  * city identity = md5(city+district+region+postcode) of the title-cased
    row (line 377-383), street identity = md5(street+unit) (line 372-375),
  * houses dedup by house number within a street, LAST input row wins
    (line 410: dict overwrite) — reproduced with a max(row_idx) window,
  * coordinates projected lon/lat -> EPSG:3857 (line 485-ish),
  * geohash computed correctly (the reference swaps lat/lon — §7.4.8),
  * license blocks parsed from LICENSE.txt format (lines 270-314),
  * uuids replaced by content-derived sha256 keys (determinism, §7.4.3a).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StringType

from . import proj, text
from .etl import GRID_JOIN_RES, cell_col_jvm, geohash_col_jvm, grid_cols


def title_col(col):
    @F.pandas_udf(StringType())
    def _t(s: pd.Series) -> pd.Series:
        # pandas .str.title() dispatches to Python str.title per element —
        # identical semantics to the reference's str.title(), ~10x cheaper
        # than a Python-level .map; None stays null
        return s.str.title()

    return _t(col)


def parse_license_text(license_data: bytes) -> list[dict]:
    """import_licenses block format (import_openaddress_data.py:280-314):
    skip 2 header lines; records of [source line, Website:, License:,
    Required attribution:] terminated by blank lines. 'Yes' attribution is
    treated as absent, as in the reference (line 293-296)."""
    out = []
    record = dict(source=None, website=None, license=None, attribution=None)
    for line in license_data.split(b"\n")[2:]:
        if line.startswith(b"Website:"):
            record["website"] = line[8:].decode("utf-8").strip()
        elif line.startswith(b"License:"):
            record["license"] = line[8:].decode("utf-8").strip()
        elif line.startswith(b"Required attribution:"):
            a = line[21:].decode("utf-8").strip()
            if a != "Yes":
                record["attribution"] = a
        elif len(line.strip()) == 0:
            if record["source"] is not None:
                out.append(record)
            record = dict(source=None, website=None, license=None, attribution=None)
        else:
            record["source"] = line.decode("utf-8").strip()
    return out


def build_oa_tables(spark: SparkSession, raw: DataFrame, license_text: bytes) -> dict:
    """``raw``: (lon, lat, number, street, unit, city, district, region,
    postcode, source_file) rows in CSV order. Returns the four OA tables."""
    licenses = parse_license_text(license_text)
    # explicit schema: attribution/website may be None for EVERY record and
    # schema inference on an all-None column fails on sessions without Arrow
    # (e.g. a plain SparkSession.builder.getOrCreate()) — never rely on it
    lic_rows = [(r["website"], r["license"], r["attribution"], r["source"])
                for r in licenses]
    oa_license = spark.createDataFrame(
        lic_rows, "website string, license string, attribution string, source string"
    ).withColumn("id", F.sha2(F.concat_ws("", F.lit("license"), "source"), 256)) \
     .select("id", "website", "license", "attribution", "source")

    if "row_idx" not in raw.columns:
        # last-row-wins house dedup (import_openaddress_data.py:410) is keyed
        # on CSV input order; monotonically_increasing_id() depends on
        # partition layout and silently breaks reproducibility — fail loudly
        raise ValueError(
            "build_oa_tables requires a 'row_idx' column carrying the CSV "
            "input order (the importer's last-row-wins dedup is order-defined)")
    rows = raw
    # title-case every text field (line 369); keep originals for nothing —
    # the reference titles before hashing and storing
    for c in ["number", "street", "unit", "city", "district", "region", "postcode"]:
        rows = rows.withColumn(c, title_col(F.col(c)))

    rows = rows.withColumn("street_hash", F.md5(F.concat(F.coalesce("street", F.lit("")),
                                                         F.coalesce("unit", F.lit("")))))
    rows = rows.withColumn("city_hash", F.md5(F.concat(
        F.coalesce("city", F.lit("")), F.coalesce("district", F.lit("")),
        F.coalesce("region", F.lit("")), F.coalesce("postcode", F.lit("")))))

    # license id per source file: 'us/il/test.csv' block key is the source
    # path without .csv (import…:298 appends '.csv' to the block's file line)
    lic_for_file = oa_license.select(
        F.col("id").alias("license_id"), F.concat(F.col("source"), F.lit(".csv")).alias("source_file"))
    rows = rows.join(F.broadcast(lic_for_file), "source_file", "left")

    def _or_space(c):
        # the COPY writer emits a single space for empty/None fields
        # (import_openaddress_data.py:445-449) — reproduced bug-for-bug
        return F.when(F.coalesce(c, F.lit("")) == "", F.lit(" ")).otherwise(c)

    # note: the city tuple upper-cases POSTCODE only (line 393: row[8].upper();
    # row[8] is the postcode column) — region stays title-cased
    oa_city = (
        rows.groupBy("source_file", "city_hash")
        .agg(F.first("city").alias("city"), F.first("district").alias("district"),
             F.first("region").alias("region"),
             F.upper(F.first("postcode")).alias("postcode"),
             F.first("license_id").alias("license_id"))
        .select("source_file", "city_hash",
                _or_space(F.col("city")).alias("city"),
                _or_space(F.col("district")).alias("district"),
                _or_space(F.col("region")).alias("region"),
                _or_space(F.col("postcode")).alias("postcode"),
                "license_id")
        .withColumn("id", F.sha2(F.concat_ws("|", F.lit("oa_city"), "source_file", "city_hash"), 256))
    )
    oa_street = (
        rows.groupBy("source_file", "city_hash", "street_hash")
        .agg(F.first("street").alias("street"), F.first("unit").alias("unit"))
        .select("source_file", "city_hash", "street_hash",
                _or_space(F.col("street")).alias("street"),
                _or_space(F.col("unit")).alias("unit"))
        .withColumn("city_id", F.sha2(F.concat_ws("|", F.lit("oa_city"), "source_file", "city_hash"), 256))
        .withColumn("id", F.sha2(F.concat_ws("|", F.lit("oa_street"), "source_file",
                                             "city_hash", "street_hash"), 256))
    )
    # houses: per (street, number) LAST row wins (dict overwrite at line 410)
    w = Window.partitionBy("source_file", "city_hash", "street_hash", "number") \
        .orderBy(F.col("row_idx").desc())
    oa_house = (
        rows.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1")
        .select(
            F.sha2(F.concat_ws("|", F.lit("oa_house"), "source_file", "city_hash",
                               "street_hash", "number"), 256).alias("id"),
            proj.merc_x_col(F.col("lon").cast("double")).alias("x"),
            proj.merc_y_col(F.col("lat").cast("double")).alias("y"),
            # the COPY column list omits "name" (import…:552) → stays NULL
            F.lit(None).cast("string").alias("name"),
            _or_space(F.col("number")).alias("housenumber"),
            F.sha2(F.concat_ws("|", F.lit("oa_street"), "source_file",
                               "city_hash", "street_hash"), 256).alias("street_id"),
            F.lit("openaddresses.io").alias("source"),
        )
        .withColumn("cell_id", cell_col_jvm(F.col("x"), F.col("y")))
        .withColumn("geohash", geohash_col_jvm(F.col("x"), F.col("y")))
    )
    gx, gy = grid_cols(F.col("x"), F.col("y"), GRID_JOIN_RES)
    oa_house = oa_house.withColumn("ix", gx).withColumn("iy", gy)
    # X1: the reference range-partitions oa_house 360 ways on ST_X and
    # clusters on geohash — here: range-partition by cell morton + sort
    n_parts = max(16, 2 * spark.sparkContext.defaultParallelism)
    oa_house = oa_house.repartitionByRange(n_parts, "cell_id", "id") \
        .sortWithinPartitions("cell_id", "geohash")
    return dict(oa_license=oa_license, oa_city=oa_city, oa_street=oa_street, oa_house=oa_house)


def oa_address_data(oa: dict) -> DataFrame:
    """The oa_address_data 3-way view (import_openaddress_data.py:121-134)."""
    h, s, c = oa["oa_house"], oa["oa_street"], oa["oa_city"]
    return (
        h.join(s.select(F.col("id").alias("street_id"), "street", "city_id"), "street_id")
        .join(c.select(F.col("id").alias("city_id"), "postcode", "city"), "city_id")
        .select(h["id"], "name", "street", "housenumber", "postcode", "city", "x", "y", "source")
    )


def update_city_names_from_osm(oa: dict, admin: DataFrame,
                               empty_values: tuple = ("",)) -> DataFrame:
    """optimize/017-update_city_names_from_osm.sql: for OA cities with an
    empty name, take the multipoint centroid of all their house locations
    (ST_Centroid(ST_Collect(array_agg(...))) = coordinate mean, A5/F11) and
    fill the name from the containing admin_level-8 polygon.

    Returns the updated oa_city DataFrame. The reference's row loop applies
    overlapping-polygon matches in arbitrary order (last wins) — we take the
    min-osm_id polygon (§7.4.3). NOTE a reference quirk: its importer stores
    empty city fields as a single space (import…:445-449) while 017 tests
    ``c.city = ''`` — so on importer-written data the reference UPDATE never
    fires; pass ``empty_values=(' ',)`` for the arguably-intended behavior
    (documented deviation; default matches the SQL text exactly)."""
    from . import spatial

    oa_city, oa_street, oa_house = oa["oa_city"], oa["oa_street"], oa["oa_house"]
    centroids = (
        oa_city.filter(F.col("city").isin(list(empty_values)))
        .select(F.col("id").alias("cid"))
        .join(oa_street.select(F.col("city_id").alias("cid"), F.col("id").alias("sid")), "cid")
        .join(oa_house.select(F.col("street_id").alias("sid"), "x", "y"), "sid")
        .groupBy("cid").agg(F.avg("x").alias("cx"), F.avg("y").alias("cy"))
    )
    a8 = spatial.polygon_cells({"a8": admin.filter(F.col("admin_level") == 8)
                                .select("osm_id", F.col("name").alias("attr"), "rings")})
    filled = spatial.pip_match(centroids, a8, "cx", "cy") \
        .withColumn("new_city", F.get("a8", 0)) \
        .filter(F.col("new_city").isNotNull()).select("cid", "new_city")
    return (
        oa_city.join(F.broadcast(filled), oa_city["id"] == filled["cid"], "left")
        .withColumn("city", F.coalesce("new_city", "city"))
        .drop("cid", "new_city")
    )


# optimize/018-manual_city_name_updates.sql: hand-maintained fixes keyed on
# the license source of known-broken OpenAddresses exports
MANUAL_CITY_NAMES = {
    "ro/bucharest": "Bucharest",
    "at/city_of_vienna": "Wien",
    "de/nw/city_of_cologne": "Köln",
}


def manual_city_name_updates(oa: dict, mapping: dict | None = None) -> DataFrame:
    """Returns oa_city with the per-license-source manual name fixes applied
    (UPDATE ... WHERE license_id = (SELECT id FROM oa_license WHERE source=…))."""
    mapping = MANUAL_CITY_NAMES if mapping is None else mapping
    fixes = [(src, name) for src, name in sorted(mapping.items())]
    oa_city, oa_license = oa["oa_city"], oa["oa_license"]
    if not fixes:
        return oa_city
    fix_df = oa_license.sparkSession.createDataFrame(fixes, "source string, fixed_city string")
    lic = oa_license.select(F.col("id").alias("__lid"), "source").join(F.broadcast(fix_df), "source")
    return (
        oa_city.join(F.broadcast(lic.select("__lid", "fixed_city")),
                     oa_city["license_id"] == F.col("__lid"), "left")
        .withColumn("city", F.coalesce("fixed_city", "city"))
        .drop("__lid", "fixed_city")
    )
