"""Forward geocoding: structured address batches -> candidate coordinates.

Semantics: sql/geocoder/003-forward_geocoding.sql (all six variants) + the
dispatch precedence of geocode_osm (postcode > city > road, 003:474-492) and
the country branch (003:143-155), re-expressed per the north_star as a
*tokenized trigram-similarity join in Spark SQL*:

  1. the ``s.name % search_term`` GIN-index scan becomes: explode query road
     terms and DISTINCT street names into pg_trgm trigrams, equi-join on the
     trigram, count shared grams per (query, name), compute
     sim = shared / (|A| + |B| - shared) and keep sim >= 0.3 (J8/X3).
     The exploded token table IS the inverted index, shuffled once on the
     trigram key; skew on ubiquitous trigrams is handled by AQE skew-join.
  2. residual ``%`` predicates on the already-pruned candidates
     (house_number/postcode/city) are pure JVM array_intersect over trigram
     arrays PRECOMPUTED per side (GIN-index-as-data; never rebuilt inside
     join conditions).
  3. the country restriction resolves the batch's distinct country terms
     driver-side into ONE prepared polygon set (R1's loop-invariant
     hoisting -> broadcast) and probes it with the shared vectorized PIP.
  4. ranking: ORDER BY distance ASC NULLS LAST (Postgres ASC default —
     Spark needs asc_nulls_last, §7.4.2), then trigram distance, then stable
     tiebreaks; row_number() <= limit per query (O1).

Queries table: (query_id, road, house_number, postcode, city, country,
center_lat, center_lon, radius, limit). NULL road is not supported by the
reference either (its `%` on NULL yields no rows) — we filter such queries out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import proj, spatial, text
from .reverse import ZERO_UUID, _admin_cols, _pack_candidates, _unpack_top1
from .tables import GeocoderTables, sim_from_arrays, sim_ge_arrays, trigram_tokens_col

RESULT_COLS = ["query_id", "house", "road", "house_number", "postcode", "city",
               "county", "state", "x", "y", "distance", "trgm_dist", "license_id"]


def _street_candidates(tables: GeocoderTables, road_terms: DataFrame) -> DataFrame:
    """Trigram-token join: (q_road, matching street name, trgm_dist) with
    sim >= 0.3. ``road_terms``: distinct (q_road) strings.

    PPJoin/AllPairs prefix filtering on BOTH sides (the same machinery as
    the hn join below): join keys are only each value's rarest
    n - ceil(tau*n) + 1 grams under one global (df asc, trigram asc) order —
    any pair with Jaccard >= tau must share a prefix gram (AllPairs prefix
    lemma), so the ubiquitous suffix grams every German street name carries
    never materialize |streets| x |queries| pair rows (profiled: 390 CPU-s
    of a 485 CPU-s geocode_pages job at sf1.0 was this join's shared-gram
    aggregate). Surviving candidate pairs are few; exact pg_trgm sim is
    recomputed per pair in value space — results identical to the
    all-grams join."""
    q_tok = (road_terms.distinct()
             .withColumn("q_t", trigram_tokens_col(F.col("q_road")))
             .select("q_road", "q_t", F.size("q_t").alias("n_q"),
                     F.explode("q_t").alias("trigram")))
    # query grams unseen in the street index get df=0 (rarest): they match
    # nothing but legally occupy prefix slots
    q_pfx_w = Window.partitionBy("q_road").orderBy(F.col("__df").asc(), F.col("trigram").asc())
    q_pfx = (q_tok.join(F.broadcast(tables.street_gram_df), "trigram", "left")
             .withColumn("__df", F.coalesce(F.col("df"), F.lit(0)))
             .withColumn("__rk", F.row_number().over(q_pfx_w))
             .filter(F.col("__rk") <= F.col("n_q")
                     - F.ceil(F.lit(text.TRGM_SIM_THRESHOLD) * F.col("n_q")) + 1)
             .select("q_road", "q_t", "trigram"))
    # stream the big, partitioned street-name prefix index; broadcast the
    # per-batch distinct query prefixes (same single-task-explosion
    # rationale as hn_pairs). Exact sim = array_intersect over the arrays
    # BOTH prefix rows carry — filter-then-distinct, so the per-pair cost is
    # one intersect, never a trigram rebuild.
    cand = tables.street_name_prefix.join(F.broadcast(q_pfx), "trigram")
    # filter FIRST with the single-intersect predicate (it lands in the join
    # condition, where rejected pairs — the vast majority — now cost one
    # array_intersect instead of two), then compute the exact sim VALUE only
    # for survivors (same rows, same sim: the predicate is the exact
    # rational rearrangement of sim >= tau — tables.sim_ge_arrays)
    return (cand.filter(sim_ge_arrays(F.col("q_t"), F.col("name_t")))
            .withColumn("sim", sim_from_arrays(F.col("q_t"), F.col("name_t")))
            .select("q_road", F.col("name").alias("road"),
                    (1.0 - F.col("sim")).alias("trgm_dist"))
            .distinct())


def _country_filter(spark, tables: GeocoderTables, cand: DataFrame,
                    cand_qs: DataFrame) -> DataFrame:
    """Country containment (with-country variants 003:112,260,405) with
    driver-prefetched polygons (R1): the batch's distinct country terms
    (read from the persisted query x street candidates ``cand_qs``, not the
    raw query plan, which may be an expensive page scan) resolve to ONE
    prepared set whose attrs are the terms, probed once per row. Rows with
    NULL country pass; rows whose term resolved to no polygon fail
    (ST_Within against NULL is false): their term is in no match array."""
    countries = [r[0] for r in cand_qs.select("country").where("country is not null")
                 .distinct().collect()]
    if not countries:
        # batch-level constant folding (R4): no country terms in this batch
        # -> no Arrow stage at all
        return cand
    pip = spatial.multi_pip_match_col(
        spark, {"c": tables.country_polygons(countries)}, "x", "y")
    return (cand.withColumn("__pip", pip)
            .filter(F.col("country").isNull()
                    | F.array_contains(F.col("__pip.c"), F.col("country")))
            .drop("__pip"))


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


def _top1_forward(cand: DataFrame, with_admin: bool) -> DataFrame:
    """Per-query best forward candidate as ONE map-side-combinable hash
    aggregate (the forward twin of reverse._top1_per_query): min_by()
    partial-aggregates inside the candidate-generation stage, so the
    query_id exchange carries one skinny row per (query, upstream partition)
    instead of every candidate row — the window form shuffled AND sorted the
    full candidate set through one giant exchange.

    Physical honesty: min_by's buffer is a struct, which HashAggregateExec
    cannot hold (probed on this Spark: only fully-primitive value+ordering
    min_by hash-aggregates), so the PARTIAL aggregate plans as a
    SortAggregate — it still combines map-side, but via a partition-LOCAL
    sort of the candidate slice (spills to local disk at bench sf4.0).
    That trade is still right: the exchange stays skinny (the window moved
    the whole candidate set through one query_id shuffle), and a
    partition-local sort scales horizontally — each executor sorts only
    its own slice, nothing crosses the wire. An exact hash-aggregable
    argmin would need either a join-back (recomputing the candidate
    relation) or packing string payloads into primitives — both worse.

    Exact for limit=1: row_number()==1 under (distance asc NULLS LAST,
    trgm_dist asc, id asc[, a4_name asc NULLS LAST, a6_name asc NULLS LAST])
    is min_by keyed on the same tuple. NULLS LAST is encoded as
    coalesce(distance, +inf) — planar distances are finite — and for the
    admin-name tiebreaks as (isNull asc, coalesce(name, '') asc): false
    sorts before true, so non-null names win, and tied nulls are disambiguated
    only when the preceding unique-id key already ties (PIP-duplicated rows
    of the SAME house), where the surviving columns are identical anyway.

    As in reverse._top1_per_query, the grouping key is re-selected from the
    GROUP rather than from the min_by struct, so a consumer that prunes to
    query_id alone drops the aggregate function (and its full-candidate
    partial sort) instead of recomputing it."""
    key = [F.coalesce(F.col("distance"), F.lit(float("inf"))),
           F.col("trgm_dist"), F.col("id")]
    if with_admin:
        key += [F.col("a4_name").isNull(), F.coalesce(F.col("a4_name"), F.lit("")),
                F.col("a6_name").isNull(), F.coalesce(F.col("a6_name"), F.lit(""))]
    payload = [c for c in cand.columns if c != "query_id"]
    best = F.min_by(F.struct(*[F.col(c) for c in payload]),
                    F.struct(*key)).alias("__best")
    return cand.groupBy("query_id").agg(best).select("query_id", "__best.*")


def forward_geocode(spark, tables: GeocoderTables, queries: DataFrame,
                    batch_has_countries: bool | None = None,
                    materialize: bool = True,
                    persist_registry: list | None = None,
                    scalar_limit: int | None = None) -> DataFrame:
    """``batch_has_countries=False`` skips the eager driver-side country
    prefetch (R1) when the caller KNOWS the batch carries no country terms
    (e.g. mined pages build the column as a NULL literal) — the candidate
    persist then materializes lazily inside the main job instead of in a
    separate up-front collect.

    ``scalar_limit=1`` (caller contract: EVERY row's ``limit`` column equals
    1, as the mining pipeline guarantees by constructing it as a literal)
    replaces both ranking windows — the pre-rank over the full candidate set
    and the final post-PIP ranking — with the map-side top-1 aggregate
    ``_top1_forward``; result-identical (pytest-pinned equivalence), but the
    full-candidate query_id shuffle+sort disappears.

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

    # J8: street-name candidates per distinct road term via the tokenized
    # trigram join; then fan back out to queries and street rows
    # SKINNY candidates: the street/city display attributes are NOT carried
    # through the house joins and ranking shuffles — they are joined back by
    # street_id after the final top-k (street_city is key-preserving on
    # street_id, so the decorate-after-top-k rewrite is exact); only the
    # trigram arrays needed by the residual % predicates ride along and are
    # dropped right after the branch filter.
    cand_names = _street_candidates(tables, q.select("q_road").distinct())
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
    # evaluated branch (same rationale as the hn_pairs filter below)
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
    cand_qs = cand  # persisted (query x street) candidates — country collect below reuses it
    houses = tables.houses.select(
        F.col("id").alias("house_id"), "house_number", "x", "y", "street_id")
    carry = [c for c in cand.columns
             if c not in ("query_id", "q_road", "q_hn", "street_id")]

    # (a) house_number present: the residual ``h.house_number % hn`` (003:58)
    # as a VALUE-SPACE set-similarity join. hn similarity depends only on
    # the two strings, so it is computed once per (distinct query hn term) x
    # (distinct house-number string) — both value spaces are orders of
    # magnitude smaller than the row counts they describe — via the
    # exploded-trigram equi-join + shared-gram count (exact pg_trgm sim;
    # lossless: sim >= 0.3 > 0 requires a shared gram). Candidates then
    # reach houses through a plain equi-join on (street_id, house_number).
    # This never multiplies by houses-per-street: a street-keyed token join
    # was measured at 100M pair rows / 30 GB spill on dense bench streets.
    with_hn = cand.filter(F.col("q_hn").isNotNull())
    # query-side prefix tokens, ordered by the SAME global gram-frequency
    # order as the house index (grams unseen on the house side get df=0 —
    # rarest — they match nothing but legally occupy prefix slots)
    q_tok = (with_hn.select("q_hn").distinct()
             .withColumn("q_hn_arr", trigram_tokens_col(F.col("q_hn")))
             .select("q_hn", "q_hn_arr", F.size("q_hn_arr").alias("n_q"),
                     F.explode("q_hn_arr").alias("trigram")))
    q_pfx_w = Window.partitionBy("q_hn").orderBy(F.col("__df").asc(), F.col("trigram").asc())
    q_tok = (q_tok.join(F.broadcast(tables.hn_gram_df), "trigram", "left")
             .withColumn("__df", F.coalesce(F.col("df"), F.lit(0)))
             .withColumn("__rk", F.row_number().over(q_pfx_w))
             .filter(F.col("__rk") <= F.col("n_q")
                     - F.ceil(F.lit(text.TRGM_SIM_THRESHOLD) * F.col("n_q")) + 1)
             .select("q_hn", "q_hn_arr", "trigram"))
    # STREAM the partitioned house-prefix index and BROADCAST the per-batch
    # query tokens (the tiny distinct-query side AQE-coalesces to ~1
    # partition — streaming it would funnel the whole pair generation
    # through one task; measured as a single 300 s task spilling 20 GB).
    # Exact pg_trgm sim verifies each join row via array_intersect over the
    # carried arrays BEFORE the distinct — the old distinct-then-verify
    # shape over raw strings let Catalyst push the filter below the agg,
    # rebuilding trigrams per pair row (profiled: 366 of 485 CPU-s of
    # geocode_pages at sf1.0 — the scaling bottleneck).
    # sim_ge_arrays, not sim_from_arrays >= tau: the filter lands in the
    # join CONDITION (no codegen subexpr elimination there), and the
    # rational rearrangement evaluates the per-pair array_intersect ONCE
    # instead of twice — this condition ran 137.6M times at bench sf4
    # (125.3M distinct pairs, 7.2M survivors; measured by
    # scripts/hn_join_multiplier.py).
    hn_pairs = (
        tables.hn_value_prefix.join(F.broadcast(q_tok), "trigram")
        .filter(sim_ge_arrays(F.col("q_hn_arr"), F.col("hn_t")))
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
                                    "house_number", "x", "y", "street_id", "sr")
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

    # P4: country containment
    if batch_has_countries is False:
        # caller promised a country-free batch (skipping the eager prefetch
        # collect); make the promise fail-SAFE rather than silently wrong —
        # any row that does carry a country term is dropped (the reference's
        # ST_Within against an unresolved polygon also yields no rows), and
        # the filter is a JVM no-op for correct callers
        cand = cand.filter(F.col("country").isNull())
    else:
        cand = _country_filter(spark, tables, cand, cand_qs)

    # pre-rank houses to `limit` per query BEFORE the admin PIP join: the
    # PIP left-join only duplicates rows of a house (it never reorders across
    # houses), so the final top-`limit` rows can only come from the
    # top-`limit` houses in this pre-admin ordering — provably identical
    # results while bounding the PIP/window input to limit×queries rows
    if scalar_limit == 1:
        # pack the candidate rows for the partial sort (reverse's skinny,
        # binary-id pack plus trgm_dist): the country/cx/cy/radius/limit
        # columns are dead here — the residual filters above consumed them.
        # ~232 -> ~144 B per sorted row. The ids come back as hex (≤1 row
        # per query from here on) for the post-PIP re-aggregation tiebreak
        # and the decorate join on street_id.
        cand = _unpack_top1(_top1_forward(_pack_candidates(cand, "trgm_dist"),
                                          with_admin=False))
    else:
        pre_w = Window.partitionBy("query_id").orderBy(
            F.col("distance").asc_nulls_last(), F.col("trgm_dist").asc(), F.col("id").asc())
        cand = cand.withColumn("__pre", F.row_number().over(pre_w)) \
            .filter(F.col("__pre") <= F.col("limit")).drop("__pre")

    # J3: admin_level 4/6 left PIP joins (before the final ranking —
    # duplicates count toward LIMIT exactly as in the reference)
    cand = _admin_cols(spark, tables, cand)

    # O1 ranking: distance ASC NULLS LAST (§7.4.2), trigram distance, stable
    # tiebreaks for reproducibility (§7.4.3c)
    if scalar_limit == 1:
        # the PIP left join may have duplicated the pre-ranked row (tiled
        # overlapping polygons); top-1 again under the admin-extended key —
        # exactly row_number()==1 of the window below at limit=1
        top = _top1_forward(cand, with_admin=True)
    else:
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
