"""GeocoderTables — the engine's prepared reference-data bundle.

Holds the struct tables (ETL output), the houses with their admin
membership arrays, the pre-joined street->city dimension (J1/J2's small
side), the trigram prefix indexes over distinct street names, house numbers
and country names (the "GIN trigram index" re-materialized as data,
SURVEY.md X3), and optional OpenAddresses tables. Everything query
functions need, built once.

The bundle owns the id format of the geocoder: house ids and street ids
(``houses.id``/``street_id``, ``houses_ranked``, ``street_city.street_id``)
are BINARY(32), converted once from the ETL's sha256 hex keys
(``_binary_id``). The struct tables, the OA tables and every geocoder
output column keep hex ids or carry none.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import spatial, text
from .etl import _materialize


def _binary_id(name: str):
    """Column: the etl._id key ``name`` as BINARY(32). NULL stays NULL
    (orphan houses have no street_id, and the street joins drop them); a
    lowercase 64-digit hex value is unhexed; anything else fails the
    query with the column name and the value, instead of becoming a NULL
    that would silently win every id tiebreak.

    The conversion keeps every id ordering: each byte is two hex digits and
    0-9a-f is ASCII-increasing in nibble order, so unsigned bytewise
    comparison of unhex(a) and unhex(b) orders exactly like lexicographic
    comparison of the lowercase hex strings a and b. Spark compares BINARY
    unsigned, so min_by and window sorts keyed on a binary id pick the
    winners the hex form would (test_top1_binary_key_order_equivalence)."""
    c = F.col(name)
    return (F.when(c.isNull() | c.rlike("^[0-9a-f]{64}$"), F.unhex(c))
            .otherwise(F.raise_error(F.concat(F.lit(f"non-hex {name}: "), c))))


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


def trigram_prefix(values: DataFrame, key: str,
                   gram_df: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """AllPairs prefix of every distinct ``values.key`` string, as rows
    (key, key_t, trigram), key_t carrying the value's full trigram array.

    pg_trgm ``%`` is re-expressed as a PPJoin/AllPairs prefix join: each
    value's grams are ordered by ONE global (df asc, trigram asc) order and
    only the first n - ceil(tau*n) + 1 become join keys. Any pair with
    Jaccard >= tau shares a prefix gram (AllPairs prefix lemma), so pairs
    sharing only ubiquitous grams — the German street suffixes "str",
    "tra", "raß", "aße"; "  1", in ~46% of numeric house numbers — are never
    materialized (the all-grams token join was profiled at 390 of 485 CPU-s
    of geocode_pages at bench sf1.0); prefix_probe verifies survivors
    exactly. The order and the cut are correct only if BOTH sides of a
    join use them identically — hence this one builder for both. Returns
    (gram_df, prefix):

    * index side (``gram_df`` None): df is the values' own gram document
      frequency (the returned gram_df), joined inner.
    * query side (``gram_df`` = the index's, returned as is): df comes from
      a left join, and grams unseen in the index get df = 0 (rarest): they
      match nothing but legally occupy prefix slots.

    Carrying key_t makes the per-pair verification one array_intersect over
    ready arrays instead of two fresh trigram constructions per probed pair
    (regexp+transform+distinct per PAIR was profiled at ~80 µs/row)."""
    arr = f"{key}_t"
    tokens = (values.select(key).distinct()
              .withColumn(arr, trigram_tokens_col(F.col(key)))
              .select(key, arr, F.explode(arr).alias("trigram")))
    if gram_df is None:
        gram_df = tokens.groupBy("trigram").agg(F.count("*").alias("df"))
        ranked = tokens.join(gram_df, "trigram")
    else:
        ranked = (tokens.join(F.broadcast(gram_df), "trigram", "left")
                  .withColumn("df", F.coalesce(F.col("df"), F.lit(0))))
    n = F.size(arr)
    w = Window.partitionBy(key).orderBy(F.col("df").asc(), F.col("trigram").asc())
    prefix = (ranked.withColumn("__rk", F.row_number().over(w))
              .filter(F.col("__rk") <= n - F.ceil(F.lit(text.TRGM_SIM_THRESHOLD) * n) + 1)
              .select(key, arr, "trigram"))
    return gram_df, prefix


def prefix_probe(terms: DataFrame, term: str, gram_df: DataFrame,
                 prefix_index: DataFrame, value: str) -> DataFrame:
    """Join rows (term, term_t, value, value_t, trigram) of the distinct
    ``terms.term`` strings against a trigram_prefix index over ``value``,
    kept iff pg_trgm similarity >= tau — exactly the pairs ``term % value``
    holds for, one row per shared prefix gram (callers project + distinct).

    STREAM the partitioned prefix index and BROADCAST the per-batch query
    prefix: the tiny distinct-query side AQE-coalesces to ~1 partition, and
    streaming it would funnel the whole pair generation through one task
    (measured: a single 300 s task spilling 20 GB). The exact verify runs
    on each join row BEFORE any distinct: a distinct-then-verify shape over
    raw strings let Catalyst push the filter below the aggregate, rebuilding
    trigrams per pair row (366 of 485 CPU-s of geocode_pages at bench
    sf1.0). sim_ge_arrays, not sim_from_arrays >= tau: the filter lands in
    the join CONDITION (no codegen subexpression elimination there), and the
    rational rearrangement evaluates the per-pair array_intersect once
    instead of twice (for the hn join it ran 137.6M times at bench sf4, 7.2M
    survivors). The join-row / verified-row funnel of both forward joins is
    perfbench's traced forward.{street,hn}_pairs / _verified;
    scripts/hn_join_multiplier.py counts it at any sf."""
    _, q_pfx = trigram_prefix(terms, term, gram_df)
    return (prefix_index.join(F.broadcast(q_pfx), "trigram")
            .filter(sim_ge_arrays(F.col(f"{term}_t"), F.col(f"{value}_t"))))


class GeocoderTables:
    def __init__(self, spark: SparkSession, struct: dict, osm_admin: DataFrame,
                 oa: dict | None = None):
        self.spark = spark
        # the geocoders' projection of struct_house, keyed by binary ids; the
        # admin arrays are the ETL's one PIP of every house (etl 004/005):
        # admin-2 osm_ids for the country filter, admin-4/6 names for the
        # state/county decorate
        self.houses = struct["struct_house"].select(
            _binary_id("id").alias("id"), "house_number", "x", "y",
            _binary_id("street_id").alias("street_id"), "ix", "iy",
            "a2_ids", "a4_names", "a6_names")
        self.streets = struct["struct_streets"]
        self.cities = struct["struct_cities"]
        self.oa = oa
        self._osm_admin = osm_admin
        self._admin_polygons: dict[int, spatial.PreparedPolygons] = {}

        # J1 pre-joined: street -> city (inner, as in every geocode function);
        # city/postcode trigram arrays materialized once (GIN-as-data) so the
        # residual % predicates only do array_intersect at join time
        self.street_city = (
            self.streets.select(_binary_id("id").alias("street_id"), F.col("name").alias("road"),
                                F.col("city_id"))
            .join(F.broadcast(self.cities.select(F.col("id").alias("__cid"),
                                                 F.col("name").alias("city_name"),
                                                 F.col("postcode"))),
                  F.col("city_id") == F.col("__cid"), "inner")
            .drop("__cid")
            .withColumn("city_t", trigram_tokens_col(F.col("city_name")))
            .withColumn("pc_t", trigram_tokens_col(F.col("postcode")))
        )

        # X3: the GIN trigram indexes re-materialized as data, over DISTINCT
        # street names, DISTINCT house-number strings and DISTINCT admin-2
        # (country) names — AllPairs prefix indexes (see trigram_prefix)
        # that forward probes via prefix_probe
        self.street_gram_df, self.street_name_prefix = trigram_prefix(
            self.streets.select("name"), "name")
        self.hn_gram_df, self.hn_value_prefix = trigram_prefix(
            self.houses.select(F.col("house_number").alias("hn")), "hn")
        # forward resolves country terms to admin-2 osm_ids via country_ids
        self.country_ids = osm_admin.filter(F.col("admin_level") == 2) \
            .select("name", "osm_id")
        self.country_gram_df, self.country_name_prefix = trigram_prefix(
            self.country_ids, "name")

        # per-street rank of houses by id: for queries with NULL house_number
        # and NULL center/country the in-street ordering is (trgm_dist, id) —
        # constant trgm_dist within a street — so only the first `limit`
        # houses per street by id can ever reach the final top-k. One
        # ETL-time window shuffle, reused by every query batch.
        _street_w = Window.partitionBy("street_id").orderBy(F.col("id").asc())
        self.houses_ranked = self.houses.withColumn(
            "sr", F.row_number().over(_street_w))

        self.houses = self.houses.cache()
        self.street_city = self.street_city.cache()
        self.street_gram_df = self.street_gram_df.cache()
        self.street_name_prefix = self.street_name_prefix.cache()
        self.hn_gram_df = self.hn_gram_df.cache()
        self.hn_value_prefix = self.hn_value_prefix.cache()
        self.country_ids = self.country_ids.cache()
        self.country_gram_df = self.country_gram_df.cache()
        self.country_name_prefix = self.country_name_prefix.cache()
        self.houses_ranked = self.houses_ranked.cache()
        # Eager materialization: every consumer touches all of these, and
        # the id checks of _binary_id run here, at build. Chains keep cache
        # dependencies ordered (the prefix indexes join their own gram-df);
        # the country prefix's count alone fills the two caches it reads.
        _materialize([
            ("houses", (self.houses,)),
            ("street_city", (self.street_city,)),
            ("street_grams", (self.street_gram_df, self.street_name_prefix)),
            ("hn_grams", (self.hn_gram_df, self.hn_value_prefix)),
            ("country_grams", (self.country_name_prefix,)),
            ("houses_ranked", (self.houses_ranked,)),
        ])

    def prepared_admin(self, level: int) -> spatial.PreparedPolygons:
        """One level's admin polygons prepared for the broadcast PIP,
        collected on first use: the independent check of the houses' admin
        arrays (the geocoders run no PIP)."""
        if level not in self._admin_polygons:
            self._admin_polygons[level] = spatial.prepare_from_rows(
                self._osm_admin.filter(F.col("admin_level") == level)
                .select("osm_id", "name", "rings").collect())
        return self._admin_polygons[level]
