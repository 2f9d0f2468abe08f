"""GeocoderTables — the engine's prepared reference-data bundle.

Holds the struct tables (ETL output), the admin polygons (as broadcastable
PreparedPolygons per admin_level), the pre-joined street->city dimension
(J1/J2's small side), the distinct-street-name trigram token table (the
"GIN trigram index" re-materialized as data, SURVEY.md X3), and optional
OpenAddresses tables. Everything query functions need, built once.
"""

from __future__ import annotations

import concurrent.futures
from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import spatial, text


def trigram_tokens_col(col):
    """Column: array of distinct pg_trgm trigrams of a string column,
    built ENTIRELY from JVM higher-order functions (regexp word split,
    two-space/one-space padding, 3-gram slicing) so the hot path stays inside
    whole-stage codegen — no Python. Semantics identical to text.trigrams
    (unit-tested + enforced by the DuckDB oracles)."""
    words = F.regexp_extract_all(F.lower(col), F.lit(text._WORD_RE.pattern), F.lit(0))
    padded = F.transform(words, lambda w: F.concat(F.lit("  "), w, F.lit(" ")))
    grams = F.transform(
        padded,
        lambda p: F.transform(
            F.sequence(F.lit(1), F.length(p) - F.lit(2)),
            lambda i: p.substr(i, F.lit(3)),
        ),
    )
    return F.array_distinct(F.flatten(grams))


def sim_from_arrays(ta, tb):
    """pg_trgm similarity from PRECOMPUTED trigram-array columns. The arrays
    must be materialized per side before a join (the GIN-index-as-data
    pattern): evaluating array construction inside a join condition would
    re-run regexp+transforms per probed PAIR — observed as a 100x slowdown."""
    shared = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - shared
    return F.when((F.size(ta) == 0) | (F.size(tb) == 0), F.lit(0.0)) \
        .otherwise(shared.cast("double") / union)


def sim_ge_arrays(ta, tb):
    """Predicate: pg_trgm similarity of two PRECOMPUTED trigram arrays
    >= text.TRGM_SIM_THRESHOLD, with array_intersect referenced exactly ONCE.

    `sim_from_arrays(ta, tb) >= 0.3` expands to an expression tree holding
    TWO identical array_intersect subtrees (numerator and union), and join
    CONDITION codegen does not apply subexpression elimination — so the
    intersect (an OpenHashSet build per evaluation, the dominant cost of
    the hn value-space join: 137.6M evaluations at bench sf4, 95% rejected)
    ran twice per probed pair. Rearranged over the rationals with
    tau = p/q (the threshold's decimal literal as an exact fraction):
             shared/(na+nb-shared) >= p/q
         <=> (p+q)*shared >= p*(na+nb)   [union > 0 given na,nb > 0]
    which references `shared` once; at tau = 3/10 that is
    13*shared >= 3*(na+nb). Exact vs the double-arithmetic form at 3/10:
    verified exhaustively for all (shared, na, nb) up to 200 (trigram
    arrays are far smaller) — no float ratio s/u with u <= 400 can fall
    between double(0.3) and rational 3/10 (interval width ~1.1e-17).
    The empty-side guard mirrors sim_from_arrays' explicit 0.0 (< tau)."""
    tau = Fraction(str(text.TRGM_SIM_THRESHOLD))
    p, q = tau.numerator, tau.denominator
    shared = F.size(F.array_intersect(ta, tb))
    return (F.size(ta) > 0) & (F.size(tb) > 0) \
        & (shared * F.lit(p + q) >= (F.size(ta) + F.size(tb)) * F.lit(p))


class GeocoderTables:
    def __init__(self, spark: SparkSession, struct: dict, osm_admin: DataFrame,
                 oa: dict | None = None, wordlist: DataFrame | None = None):
        self.spark = spark
        self.houses = struct["struct_house"]
        self.streets = struct["struct_streets"]
        self.cities = struct["struct_cities"]
        self.admin = osm_admin
        self.oa = oa
        self.wordlist = wordlist

        # J1 pre-joined: street -> city (inner, as in every geocode function);
        # city/postcode trigram arrays materialized once (GIN-as-data) so the
        # residual % predicates only do array_intersect at join time
        self.street_city = (
            self.streets.select(F.col("id").alias("street_id"), F.col("name").alias("road"),
                                F.col("city_id"))
            .join(F.broadcast(self.cities.select(F.col("id").alias("__cid"),
                                                 F.col("name").alias("city_name"),
                                                 F.col("postcode"))),
                  F.col("city_id") == F.col("__cid"), "inner")
            .drop("__cid")
            .withColumn("city_t", trigram_tokens_col(F.col("city_name")))
            .withColumn("pc_t", trigram_tokens_col(F.col("postcode")))
        )

        # X3: trigram inverted index over distinct street names, WITH the
        # same PPJoin/AllPairs prefix filter the hn index carries (below):
        # the ubiquitous German suffix grams ("str", "tra", "raß", "aße")
        # occur in nearly every street name AND nearly every query road
        # term, so an all-grams token join fans out |streets| x |queries|
        # pair rows before the shared-gram count can prune — profiled at
        # 390 CPU-s of a 485 CPU-s geocode_pages job at bench sf1.0 (the
        # scaling-efficiency killer: the aggregate's memory traffic grows
        # superlinearly with cores). Prefix join keys (rarest
        # n - ceil(tau*n) + 1 grams per name) + exact per-pair verification
        # produce identical results with the fan-out of the RARE grams only.
        # Prefix rows CARRY the value's full trigram array (name_t): the
        # per-pair exact verification is then one array_intersect over ready
        # arrays instead of two fresh trigram constructions per probed pair
        # (regexp+transform+distinct per PAIR was profiled at ~80 µs/row —
        # 366 s of a 485 CPU-s geocode_pages job went to exactly that in the
        # hn join before this index shape).
        # (r5: the unfiltered all-grams street_name_tokens index that
        # predated the prefix index was removed — every consumer now joins
        # through street_name_prefix, so building+caching it was pure waste)
        _name_vals = self.streets.select(F.col("name")).distinct() \
            .withColumn("name_t", trigram_tokens_col(F.col("name")))
        _name_tokens = _name_vals.select(
            "name", "name_t", F.size("name_t").alias("n_trgm"),
            F.explode("name_t").alias("trigram"))
        self.street_gram_df = _name_tokens.groupBy("trigram") \
            .agg(F.count("*").alias("df"))
        _spfx_w = Window.partitionBy("name").orderBy(F.col("df").asc(), F.col("trigram").asc())
        self.street_name_prefix = (
            _name_tokens.join(self.street_gram_df, "trigram")
            .withColumn("__rk", F.row_number().over(_spfx_w))
            .filter(F.col("__rk") <= F.col("n_trgm")
                    - F.ceil(F.lit(text.TRGM_SIM_THRESHOLD) * F.col("n_trgm")) + 1)
            .select("name", "name_t", "trigram"))

        # X3 again, for house numbers: the hn GIN index materialized over
        # DISTINCT house-number strings, with PPJoin/AllPairs-style PREFIX
        # FILTERING. The forward geocoder computes pg_trgm similarity in
        # value space (distinct query terms x distinct hn strings), then
        # equi-joins candidates to houses on (street_id, house_number) — the
        # similarity work never multiplies by houses-per-street. Prefix
        # filter: sort each value's grams by global document frequency
        # (rarest first) and keep only the first n - ceil(tau*n) + 1 as join
        # keys; any pair with sim >= tau must share a prefix gram (overlap
        # >= ceil(tau*max(nA,nB))), so pairs sharing only ultra-common grams
        # ("  1" covers ~46% of numeric hn values — quadratic blow-up) are
        # never materialized. Exact sim is re-verified per surviving pair.
        hn_tokens = (
            self.houses.select(F.col("house_number").alias("hn")).distinct()
            .withColumn("hn_t", trigram_tokens_col(F.col("hn")))
            .select("hn", "hn_t", F.size("hn_t").alias("n_hn"),
                    F.explode("hn_t").alias("trigram")))
        self.hn_gram_df = hn_tokens.groupBy("trigram").agg(F.count("*").alias("df"))
        _pfx_w = Window.partitionBy("hn").orderBy(F.col("df").asc(), F.col("trigram").asc())
        # carries hn_t for the same reason street_name_prefix carries name_t
        self.hn_value_prefix = (
            hn_tokens.join(self.hn_gram_df, "trigram")
            .withColumn("__rk", F.row_number().over(_pfx_w))
            .filter(F.col("__rk") <= F.col("n_hn")
                    - F.ceil(F.lit(text.TRGM_SIM_THRESHOLD) * F.col("n_hn")) + 1)
            .select("hn", "hn_t", "trigram"))

        # per-street rank of houses by id: for queries with NULL house_number
        # and NULL center/country the in-street ordering is (trgm_dist, id) —
        # constant trgm_dist within a street — so only the first `limit`
        # houses per street by id can ever reach the final top-k. One
        # ETL-time window shuffle, reused by every query batch.
        _street_w = Window.partitionBy("street_id").orderBy(F.col("id").asc())
        self.houses_ranked = self.houses.withColumn(
            "sr", F.row_number().over(_street_w))

        # prepared admin polygons per level (broadcast PIP dimension) +
        # countries for the J9 lookup — ONE dim-sized collect for all levels
        # instead of four separate jobs
        by_level: dict[int, list] = {}
        for r in osm_admin.filter(F.col("admin_level").isin([2, 4, 6, 8])) \
                .select("admin_level", "osm_id", "name", "rings").collect():
            by_level.setdefault(r["admin_level"], []).append(r)
        self._prepared = {lvl: spatial.prepare_from_rows(by_level.get(lvl, []))
                          for lvl in (4, 6, 8)}
        self.admin2_rows = [
            {"osm_id": r["osm_id"], "name": r["name"], "rings": r["rings"]}
            for r in by_level.get(2, [])
        ]

        self.houses = self.houses.cache()
        self.street_city = self.street_city.cache()
        self.street_gram_df = self.street_gram_df.cache()
        self.street_name_prefix = self.street_name_prefix.cache()
        self.hn_gram_df = self.hn_gram_df.cache()
        self.hn_value_prefix = self.hn_value_prefix.cache()
        self.houses_ranked = self.houses_ranked.cache()
        # Eager CONCURRENT materialization (guide §2.6): every consumer
        # touches all of these, and materializing them one .count() at a
        # time was ~10 sequential scheduler round-trips of mostly-idle
        # executors (r6 etl profile: ~3.5 s of the 19.5 s etl_build).
        # Chains keep cache dependencies ordered (the prefix indexes
        # join their own gram-df), independent chains overlap.
        chains = [
            ("houses", (self.houses,)),
            ("street_city", (self.street_city,)),
            ("street_grams", (self.street_gram_df, self.street_name_prefix)),
            ("hn_grams", (self.hn_gram_df, self.hn_value_prefix)),
            ("houses_ranked", (self.houses_ranked,)),
        ]

        def _mat(named):
            name, chain = named
            spark.sparkContext.setJobDescription(f"eager tables build: {name}")
            for df in chain:
                df.count()
            spark.sparkContext.setJobDescription(None)

        with concurrent.futures.ThreadPoolExecutor(max_workers=len(chains)) as pool:
            list(pool.map(_mat, chains))

    def prepared_admin(self, level: int) -> spatial.PreparedPolygons:
        return self._prepared[level]

    def country_polygons(self, names) -> spatial.PreparedPolygons:
        """_geocode_get_country_polygon (003-forward_geocoding.sql:6-14)
        for a batch of country terms, as ONE prepared set: each term's
        polygon is the trigram match of the term against admin_level-2
        names. The reference returns an arbitrary matching row; we take
        argmax(similarity) with (name, osm_id) tiebreak (§7.4.3b). Every
        resolved polygon is entered once per term with the TERM as its
        attr, so a point's match array lists exactly the terms whose
        polygon contains it. A term that passes no name's % threshold adds
        nothing (-> ST_Within against NULL -> no rows)."""
        polys = []
        for name in names:
            hits = [(sim, r) for r in self.admin2_rows
                    if (sim := text.similarity(r["name"], name)) >= text.TRGM_SIM_THRESHOLD]
            if hits:
                _, r = min(hits, key=lambda h: (-h[0], h[1]["name"], h[1]["osm_id"]))
                polys.append((r["osm_id"], name, spatial.geometry.as_rings(r["rings"])))
        return spatial.PreparedPolygons(polys)
