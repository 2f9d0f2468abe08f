"""Forward geocoding: structured address batches -> candidate coordinates.

Semantics: sql/geocoder/003-forward_geocoding.sql (all six variants) + the
dispatch precedence of geocode_osm (postcode > city > road, 003:474-492) and
the country branch (003:143-155), re-expressed per the north_star as a
*tokenized trigram-similarity join in Spark SQL*:

  1. the ``s.name % search_term`` GIN-index scan becomes an AllPairs prefix
     join (J8/X3, tables.trigram_prefix / tables.prefix_probe): DISTINCT
     street names and the batch's distinct road terms each keep only their
     rarest pg_trgm trigrams as join keys, the prefix index is streamed
     against the broadcast query prefix, and every joined pair is verified
     exactly (sim = shared / (|A| + |B| - shared) >= 0.3). The prefix lemma
     makes this lossless; ubiquitous trigrams never become join keys. The
     house-number ``%`` is the same join over distinct house-number strings.
  2. residual ``%`` predicates on the already-pruned candidates
     (postcode/city) are pure JVM array_intersect over trigram
     arrays PRECOMPUTED per side (GIN-index-as-data; never rebuilt inside
     join conditions).
  3. the country restriction resolves the batch's distinct country terms
     to admin-2 osm_ids by the same prefix join (_resolve_countries),
     broadcasts them (R1's loop-invariant hoisting) and keeps a row iff its
     house's admin-2 array (houses.a2_ids) holds its term's id.
  4. ranking: ORDER BY distance ASC NULLS LAST (Postgres ASC default —
     Spark needs asc_nulls_last, §7.4.2), then trigram distance, then stable
     tiebreaks; row_number() <= limit per query (O1).

Queries table: (query_id, road, house_number, postcode, city, country,
center_lat, center_lon, radius, limit). NULL road is not supported by the
reference either (its `%` on NULL yields no rows) — we filter such queries out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import proj
from .reverse import ZERO_UUID, _admin_cols, _admin_min, _top1_per_query
from .tables import (GeocoderTables, prefix_probe, sim_from_arrays, sim_ge_arrays,
                     trigram_tokens_col)

RESULT_COLS = ["query_id", "house", "road", "house_number", "postcode", "city",
               "county", "state", "x", "y", "distance", "trgm_dist", "license_id"]


def _street_candidates(tables: GeocoderTables, road_terms: DataFrame) -> DataFrame:
    """(q_road, matching street name, trgm_dist) with sim >= 0.3 for the
    distinct ``road_terms.q_road`` strings: the street-name prefix join
    (tables.prefix_probe); the exact sim VALUE is computed only for the
    verified survivors."""
    pairs = prefix_probe(road_terms, "q_road", tables.street_gram_df,
                         tables.street_name_prefix, "name")
    return (pairs.select("q_road", F.col("name").alias("road"),
                         (1.0 - sim_from_arrays(F.col("q_road_t"), F.col("name_t")))
                         .alias("trgm_dist"))
            .distinct())


def _resolve_countries(tables: GeocoderTables, terms: DataFrame) -> DataFrame:
    """_geocode_get_country_polygon (003-forward_geocoding.sql:6-14) for the
    distinct ``terms.country`` strings, as rows (country, a2_id): the
    admin-2 osm_id whose name matches the term under pg_trgm ``%``. The
    reference returns an arbitrary matching row; we take argmax(similarity)
    with (name, osm_id) tiebreak (§7.4.3b). A term that passes no name's
    threshold gets no row."""
    pairs = prefix_probe(terms.select("country").where(F.col("country").isNotNull()),
                         "country", tables.country_gram_df, tables.country_name_prefix,
                         "name")
    best = F.min(F.struct((-F.col("sim")).alias("neg_sim"), "name", "osm_id"))
    return (pairs.select("country", "name",
                         sim_from_arrays(F.col("country_t"), F.col("name_t")).alias("sim"))
            .distinct()
            .join(F.broadcast(tables.country_ids), "name")
            .groupBy("country").agg(best.alias("__best"))
            .select("country", F.col("__best.osm_id").alias("a2_id")))


def split_address_cols(df: DataFrame, term_col: str = "search_term",
                       expand: bool = True) -> DataFrame:
    """The libpostal /split stage (bin/postal_service.py:39-65) replaced by
    the canonical rule-table expansion (postal.expand_term_col — libpostal
    runs expand_address FIRST, then parses the first variant,
    osmgeocoder/forward.py:43-46) followed by a JVM regexp splitter with the
    reference's documented fallback: when the expanded term doesn't parse,
    the WHOLE string becomes the road (osmgeocoder/forward.py:47-49).
    Parsed shape: 'road hn, pc city'. ``expand=False`` reproduces the
    reference's no-postal-service fallback (raw term, abbreviations rely on
    trigram tolerance alone)."""
    from . import postal
    from .mine import ADDR_RE

    anchored = "^" + ADDR_RE + "$"
    term = postal.expand_term_col(F.col(term_col)) if expand else F.col(term_col)
    df = df.withColumn("__xterm", term)
    parsed = F.regexp_extract(F.col("__xterm"), anchored, 1)
    return df.withColumn(
        "road", F.when(parsed != "", parsed).otherwise(F.col("__xterm"))
    ).withColumn(
        "house_number", F.nullif(F.regexp_extract(F.col("__xterm"), anchored, 2), F.lit(""))
    ).withColumn(
        "postcode", F.nullif(F.regexp_extract(F.col("__xterm"), anchored, 3), F.lit(""))
    ).withColumn(
        "city", F.nullif(F.regexp_extract(F.col("__xterm"), anchored, 4), F.lit(""))
    ).drop("__xterm")


def forward_geocode_unstructured(spark, tables: GeocoderTables, queries: DataFrame,
                                 expand: bool = True) -> DataFrame:
    """Geocoder.forward(address, ...) (osmgeocoder/geocoder.py:46-76):
    unstructured search strings expanded (libpostal /expand semantics,
    ``geospark.postal``), split, then geocoded. ``queries``:
    (query_id, search_term, country, center_lat, center_lon, radius, limit).
    """
    return forward_geocode(spark, tables, split_address_cols(queries, expand=expand))


def _top1_forward(cand: DataFrame) -> DataFrame:
    """reverse._top1_per_query keyed for forward: row_number()==1 under
    (distance asc NULLS LAST, trgm_dist asc, id asc). NULLS LAST is encoded
    as coalesce(distance, +inf) — planar distances are finite."""
    return _top1_per_query(cand, F.coalesce(F.col("distance"), F.lit(float("inf"))),
                           F.col("trgm_dist"), F.col("id"))


def forward_geocode(spark, tables: GeocoderTables, queries: DataFrame,
                    batch_has_countries: bool | None = None,
                    materialize: bool = True,
                    persist_registry: list | None = None,
                    scalar_limit: int | None = None) -> DataFrame:
    """``batch_has_countries=False`` skips the country-term resolution join
    when the caller KNOWS the batch carries no country terms (e.g. mined
    pages build the column as a NULL literal); a row that does carry a term
    then returns no rows.

    ``scalar_limit=1`` (caller contract: EVERY row's ``limit`` column equals
    1, as the mining pipeline guarantees by constructing it as a literal)
    replaces both ranking windows — the pre-rank over the full candidate set
    and the final admin-extended ranking — with the map-side top-1
    aggregate ``_top1_forward`` and the admin-name minima of the one
    surviving house (reverse._admin_min); result-identical (pytest-pinned
    equivalence), but the full-candidate query_id shuffle+sort disappears.

    ``materialize=False`` returns the LAZY plan (no eager checkpoint), so a
    composing caller can evaluate it concurrently with other work in one
    job; the caller then owns cache cleanup and MUST pass
    ``persist_registry`` (a list): every DataFrame this call persists is
    appended to it, and the caller unpersists them after materializing.
    An explicit registry — not an attribute on the returned DataFrame —
    because any ``.select``/wrapper would silently drop an attribute and
    leak the candidate cache."""
    if not materialize and persist_registry is None:
        raise ValueError(
            "materialize=False requires persist_registry: the caller owns "
            "unpersisting the candidate cache after materializing")
    q = queries.filter(F.col("road").isNotNull()).select(
        "query_id",
        F.col("road").alias("q_road"),
        F.col("house_number").alias("q_hn"),
        F.col("postcode").alias("q_postcode"),
        F.col("city").alias("q_city"),
        "country",
        F.when(F.col("center_lat").isNotNull(), proj.merc_x_col(F.col("center_lon"))).alias("cx"),
        F.when(F.col("center_lat").isNotNull(), proj.merc_y_col(F.col("center_lat"))).alias("cy"),
        F.col("radius").cast("double").alias("radius"),
        F.col("limit").cast("int").alias("limit"),
    )
    # precompute query-term trigram arrays ONCE per query row — the residual
    # % predicates below are then array_intersect over ready arrays (never
    # rebuild trigrams inside a join condition: that re-runs regexp+transform
    # per probed PAIR — measured as a ~100x slowdown)
    q = q.withColumn("q_pc_t", trigram_tokens_col(F.col("q_postcode"))) \
         .withColumn("q_city_t", trigram_tokens_col(F.col("q_city")))

    # J8: street-name candidates per distinct road term via the trigram
    # prefix join; then fan back out to queries and street rows
    # SKINNY candidates: the street/city display attributes are NOT carried
    # through the house joins and ranking shuffles — they are joined back by
    # street_id after the final top-k (street_city is key-preserving on
    # street_id, so the decorate-after-top-k rewrite is exact); only the
    # trigram arrays needed by the residual % predicates ride along and are
    # dropped right after the branch filter.
    cand_names = _street_candidates(tables, q)
    street_dim = tables.street_city.select(
        "street_id", F.col("road").alias("s_road"), "city_t", "pc_t")
    cand = (
        q.join(cand_names, "q_road", "inner")
        .join(street_dim, F.col("road") == F.col("s_road"), "inner")
        .drop("road", "s_road")
    )

    # dispatch precedence (geocode_osm 003:474-492): postcode > city > road —
    # expressed as per-row residual predicates (batch-level branch pruning is
    # Catalyst constant-folding when a whole batch shares the shape)
    # sim_ge_arrays: threshold-only residuals — single array_intersect per
    # evaluated branch (tables.sim_ge_arrays)
    cand = cand.withColumn(
        "__branch_ok",
        F.when(F.col("q_postcode").isNotNull(),
               sim_ge_arrays(F.col("pc_t"), F.col("q_pc_t")))
         .when(F.col("q_city").isNotNull(),
               sim_ge_arrays(F.col("city_t"), F.col("q_city_t")))
         .otherwise(F.lit(True)),
    ).filter("__branch_ok").drop("__branch_ok", "city_t", "pc_t", "q_pc_t", "q_city_t",
                                 "q_postcode", "q_city")

    # J2: bring in the houses of each candidate street — the big side at
    # design scale (10^12 houses). A naive fan-out join on street_id alone
    # materializes |queries| x |houses-per-street| pairs (measured 33.5M rows
    # at bench sf0.25 for 10k queries) before any hn filter can run, so the
    # candidate build is split by query shape (the same batch-level dispatch
    # the reference does in geocode_osm, R4), each shape with the join
    # strategy that avoids the blow-up. ``cand`` feeds all three branches —
    # persist it so the trigram-candidate subplan runs once, not thrice (at
    # design scale the query batch is a materialized table anyway).
    cand = cand.persist()
    cand_qs = cand  # persisted (query x street) candidates
    admin = ("a2_ids", "a4_names", "a6_names")
    houses = tables.houses.select(
        F.col("id").alias("house_id"), "house_number", "x", "y", "street_id", *admin)
    carry = [c for c in cand.columns
             if c not in ("query_id", "q_road", "q_hn", "street_id")]

    # (a) house_number present: the residual ``h.house_number % hn`` (003:58)
    # in VALUE space — the same prefix join as the street names
    # (tables.prefix_probe), over the batch's distinct query hn terms x the
    # distinct house-number strings, both orders of magnitude smaller than
    # the row counts they describe. Verified (term, value) pairs then reach
    # houses through a plain equi-join on (street_id, house_number), so the
    # similarity work never multiplies by houses-per-street: a street-keyed
    # token join was measured at 100M pair rows / 30 GB spill on dense bench
    # streets. Pair funnel: perfbench's traced forward.hn_pairs /
    # forward.hn_verified.
    with_hn = cand.filter(F.col("q_hn").isNotNull())
    hn_pairs = (
        prefix_probe(with_hn, "q_hn", tables.hn_gram_df, tables.hn_value_prefix, "hn")
        .select("q_hn", F.col("hn").alias("house_number")).distinct()
    )
    cand_hn = (
        with_hn.select("query_id", "street_id", "q_hn", *carry)
        .join(hn_pairs, "q_hn")
        .join(houses, ["street_id", "house_number"])
        .drop("q_hn")
    )

    # (b) no house_number but a center radius or country restriction: the
    # reference fan-out (every house on the matched street is a candidate)
    # with the residual filters below; join strategy left to AQE (the
    # candidate side is small per batch -> runtime broadcast, but never
    # forced: at design scale a huge batch must shuffle instead).
    fan = cand.filter(F.col("q_hn").isNull()
                      & (F.col("cx").isNotNull() | F.col("country").isNotNull()))
    cand_fan = houses.join(fan.select("query_id", "street_id", *carry), "street_id")

    # (c) no house_number, no center, no country: within a street every house
    # ties on (distance=NULL, trgm_dist), so the final top-`limit` rows can
    # only come from the first `limit` houses per street by id — join the
    # ETL's per-street rank prefix instead of the whole street (O(limit) rows
    # per candidate street instead of O(street size)).
    fast = cand.filter(F.col("q_hn").isNull() & F.col("cx").isNull()
                       & F.col("country").isNull())
    cand_fast = (
        tables.houses_ranked.select(F.col("id").alias("house_id"),
                                    "house_number", "x", "y", "street_id", *admin, "sr")
        .join(fast.select("query_id", "street_id", *carry), "street_id")
        .filter(F.col("sr") <= F.col("limit")).drop("sr")
    )

    cand = cand_hn.unionByName(cand_fan).unionByName(cand_fast) \
        .withColumnRenamed("house_id", "id")

    # P2: radius filter around center; distance NULL when center is NULL
    cand = cand.withColumn(
        "distance",
        # sqrt(dx^2+dy^2) (not Java hypot): bit-identical to PostGIS
        # ST_Distance and to the DuckDB oracle's formula
        F.when(F.col("cx").isNotNull(), F.sqrt(
            (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
            + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy")))))
    cand = cand.filter(F.col("cx").isNull() | (F.col("distance") <= F.col("radius")))

    # P4: country containment. Rows with NULL country pass; an unresolved
    # term's NULL a2_id fails array_contains, as ST_Within against NULL does
    if batch_has_countries is False:
        # caller promised a country-free batch (skipping the resolution
        # join); make the promise fail-SAFE rather than silently wrong —
        # any row that does carry a country term is dropped, and the filter
        # is a JVM no-op for correct callers
        cand = cand.filter(F.col("country").isNull())
    else:
        # terms read from the persisted candidates, not the raw query plan,
        # which may be an expensive page scan
        cand = (cand.join(F.broadcast(_resolve_countries(tables, cand_qs)), "country", "left")
                .filter(F.col("country").isNull()
                        | F.array_contains(F.col("a2_ids"), F.col("a2_id"))))

    # pre-rank houses to `limit` per query BEFORE the admin decorate: the
    # explode only duplicates rows of a house (it never reorders across
    # houses), so the final top-`limit` rows can only come from the
    # top-`limit` houses in this pre-admin ordering — provably identical
    # results while bounding the explode/window input to limit×queries rows
    if scalar_limit == 1:
        # only the payload used after the aggregate rides through its
        # partial sort: the country/cx/cy/radius/limit columns are dead
        # here — the residual filters above consumed them
        top = _admin_min(_top1_forward(cand.select(
            "query_id", "id", "street_id", "house_number", "x", "y", "distance",
            "trgm_dist", "a4_names", "a6_names")))
    else:
        pre_w = Window.partitionBy("query_id").orderBy(
            F.col("distance").asc_nulls_last(), F.col("trgm_dist").asc(), F.col("id").asc())
        cand = cand.withColumn("__pre", F.row_number().over(pre_w)) \
            .filter(F.col("__pre") <= F.col("limit")).drop("__pre")
        # J3: admin_level 4/6 left joins (before the final ranking —
        # duplicates count toward LIMIT exactly as in the reference)
        cand = _admin_cols(cand)
        # O1 ranking: distance ASC NULLS LAST (§7.4.2), trigram distance,
        # stable tiebreaks for reproducibility (§7.4.3c)
        w = Window.partitionBy("query_id").orderBy(
            F.col("distance").asc_nulls_last(), F.col("trgm_dist").asc(),
            F.col("id").asc(), F.col("a4_name").asc_nulls_last(), F.col("a6_name").asc_nulls_last())
        top = cand.withColumn("__rn", F.row_number().over(w)) \
            .filter(F.col("__rn") <= F.col("limit"))
    out = (
        # decorate the surviving top-k with street/city display attributes
        top.join(F.broadcast(tables.street_city.select(
            "street_id", F.col("road").alias("s_road"), "city_name",
            F.col("postcode").alias("c_postcode"))), "street_id", "inner")
        .select(
            "query_id",
            F.lit(None).cast("string").alias("house"),
            F.col("s_road").alias("road"),
            "house_number",
            F.col("c_postcode").alias("postcode"),
            F.nullif(F.col("city_name"), F.lit("")).alias("city"),
            F.nullif(F.col("a6_name"), F.lit("")).alias("county"),
            F.nullif(F.col("a4_name"), F.lit("")).alias("state"),
            "x", "y", "distance", "trgm_dist",
            F.lit(ZERO_UUID).alias("license_id"),
        )
    )
    # materialize the (small) top-k result eagerly, then release the cached
    # candidate table: a long-lived session serving many batches must not
    # accumulate per-batch cache entries in executor storage (round-1 leak).
    # localCheckpoint blocks are owned by the RDD and GC'd with the plan.
    # Cluster caveat: localCheckpoint truncates lineage, so blocks lost with
    # an executor (spot nodes, dynamic allocation) are NOT recomputable —
    # callers needing durability must sink results promptly (the submit
    # pipeline commits a parquet snapshot per stage, snapshots.Pipeline).
    if not materialize:
        persist_registry.append(cand_qs)  # caller-owned cleanup contract
        return out
    out = out.localCheckpoint(eager=True)
    cand_qs.unpersist()
    return out
