"""Web-page mining: the engine's primary 10^12-document workload.

Input table (BASELINE.json input_hint): (url string, warc_ts timestamp,
html binary, text string, lang string). This module:

  * re-extracts text from html with the deterministic extractor and verifies
    the byte-identical-per-url invariant,
  * mines structured address candidates and coordinate pairs from the text
    with JVM-side regexp (no Python in the scan),
  * geocode-joins the mined candidates against the reference tables
    (forward join for addresses, reverse k-ring join for coordinates) —
    the "geocode-join throughput (pages/sec)" headline metric.

Scale notes: the page scan is embarrassingly parallel (narrow);
regexp_extract_all stays inside whole-stage codegen; only the distinct mined
terms hit the trigram join (tiny relative to pages); the coordinate join
shuffles by cell id.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from . import extract
from .forward import forward_geocode
from .reverse import reverse_geocode

# "Visit us at Main Street 12, 62704 Springfield." style address mentions:
# street words + number, comma, postcode, city word(s)
ADDR_RE = (
    r"([A-ZÀ-Þ][\wß-ÿ]+(?:[ -][A-ZÀ-Þ]?[\wß-ÿ]+)*)"
    r"\s+(\d+[a-z]?)\s*,\s*(\d{4,5})\s+"
    r"([A-ZÀ-Þ][\wß-ÿ]+)"
)
# "47.550535, 9.738889" style lat, lon pairs
COORD_RE = r"(-?\d{1,2}\.\d{3,8})\s*,\s*(-?\d{1,3}\.\d{3,8})"

# cheap anchor implied by every ADDR_RE match (the ``<hn>, <postcode> ``
# core): pages without it skip the expensive backtracking name regex —
# a pure prefilter, it can never drop a page that ADDR_RE would match
ADDR_ANCHOR_RE = r"\d[a-z]?\s*,\s*\d{4,5}\s"


def extract_text_col(html_col):
    """Arrow-batched deterministic extractor (pure function of html bytes)."""

    @F.pandas_udf(StringType())
    def _ex(html: pd.Series) -> pd.Series:
        return html.map(lambda b: extract.extract_text(bytes(b)) if b is not None else "")

    return _ex(html_col)


def verify_extraction(pages: DataFrame) -> DataFrame:
    """Per-url invariant check: stored text == extractor(html), as sha256 —
    returns (url, ok). Running this at two parallelism levels and hashing
    the result evidences byte-identical extraction (BASELINE.md)."""
    return pages.select(
        "url",
        (F.sha2(extract_text_col(F.col("html")), 256) == F.sha2(F.col("text"), 256)).alias("ok"),
    )


def latest_snapshot(pages: DataFrame) -> DataFrame:
    """Per-url latest-crawl dedup: Common-Crawl-style tables carry one row
    per (url, warc_ts) fetch; downstream consumers want exactly one row per
    url — the newest fetch, ties broken by content hash for determinism.
    One window shuffle keyed on url (at 10^12 rows this is the canonical
    hash-partitioned dedup; no driver state)."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.sha2("text", 256).asc())
    return (pages.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


# registrable host: scheme://HOST[:port]/... — string ops only (JVM)
_HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/:?#]+)"


def domain_stats(pages: DataFrame) -> DataFrame:
    """Per-host crawl aggregates (page count, distinct texts, total text
    bytes, first/last fetch): the corpus-curation view a CC pipeline keeps
    per domain. Pure JVM regexp + one groupBy."""
    host = F.regexp_extract(F.lower(F.col("url")), _HOST_RE, 1)
    return (pages.withColumn("host", host)
            .groupBy("host")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct(F.sha2("text", 256)).alias("n_distinct_texts"),
                 F.sum(F.length("text")).alias("text_chars"),
                 F.min("warc_ts").alias("first_ts"),
                 F.max("warc_ts").alias("last_ts")))


def mine_addresses(pages: DataFrame) -> DataFrame:
    """(url, road, house_number, postcode, city) candidates via JVM regexp."""
    m = pages.select(
        "url", F.regexp_extract_all(F.col("text"), F.lit(ADDR_RE), F.lit(0)).alias("__ms"),
    ).select("url", F.explode("__ms").alias("__m"))
    return m.select(
        "url",
        F.regexp_extract("__m", ADDR_RE, 1).alias("road"),
        F.regexp_extract("__m", ADDR_RE, 2).alias("house_number"),
        F.regexp_extract("__m", ADDR_RE, 3).alias("postcode"),
        F.regexp_extract("__m", ADDR_RE, 4).alias("city"),
    ).filter(F.col("road") != "")


def mine_coordinates(pages: DataFrame) -> DataFrame:
    """(url, lat, lon) candidates; plausibility-filtered to valid ranges."""
    m = pages.select(
        "url", F.explode(F.regexp_extract_all(F.col("text"), F.lit(COORD_RE), F.lit(0))).alias("__m"))
    out = m.select(
        "url",
        F.regexp_extract("__m", COORD_RE, 1).cast("double").alias("lat"),
        F.regexp_extract("__m", COORD_RE, 2).cast("double").alias("lon"),
    )
    return out.filter((F.abs("lat") <= 85.06) & (F.abs("lon") <= 180.0))


def geocode_pages(spark, tables, pages: DataFrame,
                  fwd_limit: int = 1, rev_radius: float = 150.0,
                  rev_limit: int = 1) -> DataFrame:
    """The headline geocode-join: mined addresses forward-geocoded + mined
    coordinates reverse-geocoded, unioned as (url, kind, road, house_number,
    postcode, city, x, y)."""
    # ONE persisted pass over the pages extracts both candidate kinds: the
    # address regex runs only on pages passing the cheap anchor prefilter,
    # and every downstream consumer (forward join, url join-back) reuses the
    # persisted matches instead of re-running the scan
    # (Catalyst collapses projections, so even one plan evaluates the regex
    # multiple times per row without this barrier). Round-4 profiling
    # CORRECTED an earlier attribution: the scan itself is ~2 core-s at
    # sf1.0 — the job's former 366-core-s hotspot was per-pair trigram
    # re-verification in the geocode joins (fixed in forward.py/tables.py).
    scan = pages.select(
        "url",
        F.when(F.col("text").rlike(ADDR_ANCHOR_RE),
               F.regexp_extract_all(F.col("text"), F.lit(ADDR_RE), F.lit(0)))
         .otherwise(F.array().cast("array<string>")).alias("__am"),
        F.regexp_extract_all(F.col("text"), F.lit(COORD_RE), F.lit(0)).alias("__cm"),
    ).filter((F.size("__am") > 0) | (F.size("__cm") > 0)).persist()

    addr = (scan.select("url", F.explode("__am").alias("__m"))
            .select("url",
                    F.regexp_extract("__m", ADDR_RE, 1).alias("road"),
                    F.regexp_extract("__m", ADDR_RE, 2).alias("house_number"),
                    F.regexp_extract("__m", ADDR_RE, 3).alias("postcode"),
                    F.regexp_extract("__m", ADDR_RE, 4).alias("city"))
            .filter(F.col("road") != "")
            .withColumn("query_id",
                        F.xxhash64("url", "road", "house_number", "postcode", "city")))
    fwd_q = addr.select(
        "query_id", "road", "house_number", "postcode", "city",
        F.lit(None).cast("string").alias("country"),
        F.lit(None).cast("double").alias("center_lat"),
        F.lit(None).cast("double").alias("center_lon"),
        F.lit(20000.0).alias("radius"), F.lit(fwd_limit).alias("limit"),
    )
    # materialize=False: keep the forward half LAZY so the single union
    # checkpoint below evaluates both geocode halves concurrently in one job
    # (an inner eager checkpoint serializes the two phases and their
    # straggler tails); this function owns the candidate-cache cleanup
    fwd_persists: list = []
    # fwd_limit is baked into fwd_q as lit(fwd_limit), so the scalar_limit
    # caller contract holds by construction; =1 engages the map-side top-1
    # aggregates (no full-candidate query_id window shuffle+sort — profiled
    # as twin ~12 GiB Sort spills per run at bench sf4.0)
    fwd_raw = forward_geocode(spark, tables, fwd_q, batch_has_countries=False,
                              materialize=False, persist_registry=fwd_persists,
                              scalar_limit=fwd_limit if fwd_limit == 1 else None)
    fwd = fwd_raw.select(
        "query_id", F.lit("address").alias("kind"),
        "road", "house_number", "postcode", "city", "x", "y")
    fwd = fwd.join(addr.select("query_id", "url"), "query_id", "inner").drop("query_id")

    coords = (scan.select("url", F.explode("__cm").alias("__m"))
              .select("url",
                      F.regexp_extract("__m", COORD_RE, 1).cast("double").alias("lat"),
                      F.regexp_extract("__m", COORD_RE, 2).cast("double").alias("lon"))
              .filter((F.abs("lat") <= 85.06) & (F.abs("lon") <= 180.0))
              .withColumn("query_id", F.xxhash64("url", "lat", "lon")))
    rev_q = coords.select("query_id", "lat", "lon",
                          F.lit(rev_radius).alias("radius"), F.lit(rev_limit).alias("limit"))
    # rev_limit is a Python scalar baked into rev_q as lit(rev_limit), so the
    # caller assertion behind scalar_limit holds by construction; =1 engages
    # the map-side top-1 aggregate (no full-candidate window shuffle)
    rev = reverse_geocode(spark, tables, rev_q, with_fallback=False,
                          scalar_limit=rev_limit if rev_limit == 1 else None).select(
        "query_id", F.lit("coordinate").alias("kind"),
        "road", "house_number", "postcode", "city", "x", "y")
    rev = rev.join(coords.select("query_id", "url"), "query_id", "inner").drop("query_id")

    # ONE eager materialization for both halves, then release every
    # per-call cache (the page scan + forward's candidate table): nothing
    # persisted outlives the call in a long-lived session
    out = fwd.unionByName(rev).localCheckpoint(eager=True)
    for cached in fwd_persists:
        cached.unpersist()
    scan.unpersist()
    return out
