"""Query + oracle registry backing __spark_entry__.py (the driver contract).

Every operator from SURVEY.md §2 gets a ``queries()`` entry; where the
semantics are ANSI-SQL-expressible the matching ``oracle_sql()`` string lets
DuckDB recompute the result independently (point-in-polygon is done in SQL by
ray-casting over the exploded polygon *edge* fixtures, trigram similarity by
list-lambda trigram sets — no engine code in the oracle path).

Cross-engine determinism rules used throughout:
  * computed DOUBLEs are emitted scaled-and-rounded to BIGINT (``*_mm``,
    ``*_e6``) — raw doubles appear only when they pass through unchanged
    from parquet,
  * sha256/md5 of identical strings are the shared key/hash primitives,
  * ORDER-dependent results always carry a total order (stable tiebreaks).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import dedup, etl, mine, multimodal, oa, simsearch, textops
from .fixtures import FIXTURE_DIR
from .forward import forward_geocode
from .predict import predict_text, prepare_wordlist
from .reverse import reverse_geocode
from .tables import GeocoderTables

FIX = FIXTURE_DIR

# ---------------------------------------------------------------------------
# lazy per-session engine state (ETL outputs built once, cached)
# ---------------------------------------------------------------------------

_STATE: dict = {}


class _GeoState:
    """Lazily-built per-session engine state. Each component is built on
    first access and memoized; a failure in ONE source (e.g. OpenAddresses)
    must never take down queries that don't touch it — round 1 lost 16
    driver queries to a single OA-build exception raised eagerly here."""

    def __init__(self, spark):
        import threading

        self.spark = spark
        self._cache: dict = {}
        # a driver may issue queries from concurrent threads; without the
        # lock two first-touches would build (and .cache()) the same
        # component twice — duplicate jobs and leaked cache registrations.
        # RLock: component builds recurse (_build_struct -> self["osm"])
        self._lock = threading.RLock()

    def __getitem__(self, key):
        with self._lock:
            if key not in self._cache:
                self._cache[key] = getattr(self, "_build_" + key)()
            return self._cache[key]

    def _build_osm(self):
        return etl.load_osm_tables(self.spark, FIX)

    def _build_struct(self):
        struct = etl.build_struct_tables(self.spark, self["osm"])
        return {k: v.cache() for k, v in struct.items()}

    def _build_oa(self):
        oa_tabs = oa.build_oa_tables(
            self.spark, self.spark.read.parquet(f"{FIX}/oa_raw.parquet"),
            open(f"{FIX}/oa_license.txt", "rb").read())
        return {k: v.cache() for k, v in oa_tabs.items()}

    def _oa_or_none(self):
        """OA tables with fault isolation + one retry: a TRANSIENT failure
        (executor hiccup) must not permanently downgrade the session to
        OSM-only; a persistent one (missing source) degrades loudly after 2
        attempts — mirroring the reference's ``oa_exists`` branch
        (001-wordlist…:12-17: the OA side is optional by design)."""
        for attempt in (1, 2):
            try:
                return self["oa"]
            except Exception as exc:
                self._cache.pop("oa", None)
                if attempt == 2:
                    import warnings

                    warnings.warn(f"OpenAddresses tables unavailable ({exc!r}); "
                                  "running without the OA source")
        return None

    def _build_wordlist(self):
        return prepare_wordlist(
            etl.build_wordlist(self["struct"], oa=self._oa_or_none())).cache()

    def _build_tables(self):
        return GeocoderTables(self.spark, self["struct"], self["osm"]["osm_admin"],
                              oa=self._oa_or_none())


def geo_state(spark):
    key = id(spark)
    if key not in _STATE:
        _STATE[key] = _GeoState(spark)
    return _STATE[key]


# ---------------------------------------------------------------------------
# DuckDB SQL builders (shared CTE machinery)
# ---------------------------------------------------------------------------

def _pq(name: str) -> str:
    return f"'{FIX}/{name}.parquet'"


def _pip(edges: str, poly_id: str, px: str, py: str) -> str:
    """Ray-casting PIP as a correlated count over an edge table — the
    oracle-side equivalent of geometry.points_in_polygon."""
    return (f"((SELECT count(*) FROM {edges} e WHERE e.osm_id = {poly_id} "
            f"AND ((e.y0 > {py}) != (e.y1 > {py})) "
            f"AND {px} < e.x0 + ({py} - e.y0) * (e.x1 - e.x0) / (e.y1 - e.y0)) % 2 = 1)")


def _trg(s: str) -> str:
    """pg_trgm trigram set of an expression (text.py semantics) in DuckDB."""
    return ("list_distinct(flatten(list_transform("
            f"regexp_extract_all(lower({s}), '[a-z0-9]+'), "
            "w -> list_transform(range(0, length(w) + 1), "
            "i -> substr('  ' || w || ' ', i + 1, 3)))))")


def _sim(a: str, b: str) -> str:
    ta, tb = _trg(a), _trg(b)
    shared = f"len(list_intersect({ta}, {tb}))"
    return f"(CASE WHEN len({ta}) = 0 OR len({tb}) = 0 THEN 0.0 ELSE {shared} * 1.0 / (len({ta}) + len({tb}) - {shared}) END)"


# stage 001..011 of the optimize pipeline as one reusable CTE chain
STRUCT_CTES = f"""
hn AS (SELECT * FROM {_pq('osm_house_number')}),
postal AS (SELECT * FROM {_pq('osm_postal_code')}),
pe AS (SELECT * FROM {_pq('osm_postal_edges')}),
adm AS (SELECT * FROM {_pq('osm_admin')}),
ae AS (SELECT * FROM {_pq('osm_admin_edges')}),
bld AS (SELECT * FROM {_pq('osm_buildings')}),
h0 AS (
    SELECT sha256('hn' || osm_id) AS id, osm_id, city, postcode, street, house_number, x, y
    FROM hn
    UNION ALL
    SELECT sha256('bld' || b.osm_id || p.postcode), b.osm_id, '', p.postcode,
           b.street, b.house_number, b.centroid_x, b.centroid_y
    FROM bld b, postal p
    WHERE b.house_number <> '' AND {_pip('pe', 'p.osm_id', 'b.centroid_x', 'b.centroid_y')}
),
p04 AS (
    SELECT h.id, arg_min(p.postcode, p.osm_id) AS fill_pc
    FROM h0 h, postal p
    WHERE h.city = '' AND h.postcode = '' AND {_pip('pe', 'p.osm_id', 'h.x', 'h.y')}
    GROUP BY h.id
),
h1 AS (
    SELECT h.* REPLACE (CASE WHEN h.city = '' AND h.postcode = '' AND f.fill_pc IS NOT NULL
                             THEN f.fill_pc ELSE h.postcode END AS postcode)
    FROM h0 h LEFT JOIN p04 f USING (id)
),
a8f AS (
    SELECT h.id, arg_min(a.name, a.osm_id) AS nm
    FROM h1 h, adm a
    WHERE a.admin_level = 8 AND h.city = '' AND h.postcode <> '' AND {_pip('ae', 'a.osm_id', 'h.x', 'h.y')}
    GROUP BY h.id
),
h2 AS (
    SELECT h.* REPLACE (CASE WHEN h.city = '' AND h.postcode <> '' AND f.nm IS NOT NULL
                             THEN f.nm ELSE h.city END AS city)
    FROM h1 h LEFT JOIN a8f f USING (id)
),
a6f AS (
    SELECT h.id, arg_min(a.name, a.osm_id) AS nm
    FROM h2 h, adm a
    WHERE a.admin_level = 6 AND h.city = '' AND h.postcode <> '' AND {_pip('ae', 'a.osm_id', 'h.x', 'h.y')}
    GROUP BY h.id
),
h3 AS (
    SELECT h.* REPLACE (CASE WHEN h.city = '' AND h.postcode <> '' AND f.nm IS NOT NULL
                             THEN f.nm ELSE h.city END AS city)
    FROM h2 h LEFT JOIN a6f f USING (id)
),
cities AS (
    SELECT city AS name, postcode,
           min(x) AS xmin, min(y) AS ymin, max(x) AS xmax, max(y) AS ymax,
           sha256('city' || city || postcode) AS id
    FROM h3 WHERE city <> '' OR postcode <> ''
    GROUP BY city, postcode
),
h4 AS (
    SELECT h.*, c.id AS city_id
    FROM h3 h LEFT JOIN cities c ON h.city = c.name AND h.postcode = c.postcode
),
streets AS (
    SELECT city_id, street AS name,
           min(x) AS xmin, min(y) AS ymin, max(x) AS xmax, max(y) AS ymax,
           sha256('street' || coalesce(city_id, '∅') || street) AS id
    FROM h4 GROUP BY city_id, street
),
h5 AS (
    SELECT h.*, s.id AS street_id
    FROM h4 h LEFT JOIN streets s ON s.city_id = h.city_id AND s.name = h.street
)"""

# OA importer as CTEs (title-case covers the fixture charset: space-separated
# words; Python str.title() and this per-word upper/lower agree there)
_TITLE = ("array_to_string(list_transform(string_split({s}, ' '), "
          "w -> CASE WHEN length(w) = 0 THEN w ELSE upper(substr(w, 1, 1)) || lower(substr(w, 2)) END), ' ')")


def _title(s: str) -> str:
    return _TITLE.format(s=s)


OA_CTES = f"""
raw0 AS (SELECT * FROM {_pq('oa_raw')}),
raw1 AS (
    SELECT row_idx, source_file, lon, lat,
           {_title('number')} AS number, {_title('street')} AS street, {_title('unit')} AS unit,
           {_title('city')} AS city, {_title('district')} AS district,
           {_title('region')} AS region, {_title('postcode')} AS postcode
    FROM raw0
),
raw2 AS (
    SELECT *, md5(street || unit) AS street_hash,
           md5(city || district || region || postcode) AS city_hash
    FROM raw1
),
oa_city AS (
    SELECT source_file, city_hash,
           CASE WHEN any_value(city) = '' THEN ' ' ELSE any_value(city) END AS city,
           CASE WHEN any_value(district) = '' THEN ' ' ELSE any_value(district) END AS district,
           CASE WHEN any_value(region) = '' THEN ' ' ELSE any_value(region) END AS region,
           CASE WHEN upper(any_value(postcode)) = '' THEN ' ' ELSE upper(any_value(postcode)) END AS postcode,
           sha256('license' || regexp_replace(source_file, '\\.csv$', '')) AS license_id,
           sha256('oa_city' || '|' || source_file || '|' || city_hash) AS id
    FROM raw2 GROUP BY source_file, city_hash
),
oa_street AS (
    SELECT source_file, city_hash, street_hash,
           CASE WHEN any_value(street) = '' THEN ' ' ELSE any_value(street) END AS street,
           CASE WHEN any_value(unit) = '' THEN ' ' ELSE any_value(unit) END AS unit,
           sha256('oa_city' || '|' || source_file || '|' || city_hash) AS city_id,
           sha256('oa_street' || '|' || source_file || '|' || city_hash || '|' || street_hash) AS id
    FROM raw2 GROUP BY source_file, city_hash, street_hash
),
oa_house AS (
    SELECT sha256('oa_house' || '|' || source_file || '|' || city_hash || '|' || street_hash || '|' || number) AS id,
           radians(lon::DOUBLE) * 6378137.0 AS x,
           ln(tan(pi() / 4 + radians(lat::DOUBLE) / 2)) * 6378137.0 AS y,
           CAST(NULL AS VARCHAR) AS name,
           CASE WHEN number = '' THEN ' ' ELSE number END AS housenumber,
           sha256('oa_street' || '|' || source_file || '|' || city_hash || '|' || street_hash) AS street_id,
           'openaddresses.io' AS source
    FROM raw2
    QUALIFY row_number() OVER (PARTITION BY source_file, city_hash, street_hash, number
                               ORDER BY row_idx DESC) = 1
)"""

# Mercator projection of query coordinates (closed form, same ops as proj.py)
_QXY = ("radians(lon) * 6378137.0 AS qx, "
        "ln(tan(pi() / 4 + radians(lat) / 2)) * 6378137.0 AS qy")


def reverse_oracle_sql(rq_cte: str | None = None) -> str:
    dist = "sqrt((h.x - q.qx) * (h.x - q.qx) + (h.y - q.qy) * (h.y - q.qy))"
    if rq_cte is None:
        rq_cte = f'SELECT query_id, {_QXY}, radius, "limit" FROM {_pq("rev_queries")}'
    return f"""
WITH {STRUCT_CTES},
{OA_CTES.lstrip()},
rq AS ({rq_cte}),
rcand AS (
    SELECT q.query_id, q."limit", h.id, h.house_number, h.x, h.y,
           s.name AS road, c.name AS city_name, c.postcode AS postcode, {dist} AS distance
    FROM rq q, h5 h
    JOIN streets s ON h.street_id = s.id
    JOIN cities c ON s.city_id = c.id
    WHERE h.x >= q.qx - q.radius AND h.x <= q.qx + q.radius AND {dist} <= q.radius
),
a4m AS (
    SELECT h.id AS hid, a.name AS a_name
    FROM (SELECT DISTINCT id, x, y FROM h5) h, adm a
    WHERE a.admin_level = 4 AND {_pip('ae', 'a.osm_id', 'h.x', 'h.y')}
),
a6m AS (
    SELECT h.id AS hid, a.name AS a_name
    FROM (SELECT DISTINCT id, x, y FROM h5) h, adm a
    WHERE a.admin_level = 6 AND {_pip('ae', 'a.osm_id', 'h.x', 'h.y')}
),
rres AS (
    SELECT r.*, a4.a_name AS a4_name, a6.a_name AS a6_name
    FROM rcand r
    LEFT JOIN a4m a4 ON a4.hid = r.id
    LEFT JOIN a6m a6 ON a6.hid = r.id
),
osm_rows AS (
    SELECT query_id, CAST(NULL AS VARCHAR) AS house, road, house_number, postcode,
           city_name AS city, nullif(a6_name, '') AS county, nullif(a4_name, '') AS state,
           x, y, CAST(round(distance * 1000) AS BIGINT) AS distance_mm,
           '00000000-0000-0000-0000-000000000000' AS license_id
    FROM rres
    QUALIFY row_number() OVER (PARTITION BY query_id
        ORDER BY distance ASC, id ASC, a4_name ASC NULLS LAST, a6_name ASC NULLS LAST) <= "limit"
),
oadim AS (
    SELECT h.id, h.x, h.y, h.name, h.housenumber, s.street AS road, c.postcode, c.city, c.license_id
    FROM oa_house h JOIN oa_street s ON h.street_id = s.id JOIN oa_city c ON s.city_id = c.id
),
oa_rows AS (
    SELECT q.query_id, d.name AS house, d.road, d.housenumber AS house_number, d.postcode,
           d.city, CAST(NULL AS VARCHAR) AS county, CAST(NULL AS VARCHAR) AS state,
           d.x, d.y,
           CAST(round(sqrt((d.x - q.qx) * (d.x - q.qx) + (d.y - q.qy) * (d.y - q.qy)) * 1000) AS BIGINT) AS distance_mm,
           d.license_id
    FROM rq q, oadim d
    WHERE q.query_id NOT IN (SELECT DISTINCT query_id FROM osm_rows)
      AND d.x >= q.qx - q.radius AND d.x <= q.qx + q.radius
      AND sqrt((d.x - q.qx) * (d.x - q.qx) + (d.y - q.qy) * (d.y - q.qy)) <= q.radius
    QUALIFY row_number() OVER (PARTITION BY q.query_id
        ORDER BY sqrt((d.x - q.qx) * (d.x - q.qx) + (d.y - q.qy) * (d.y - q.qy)) ASC, d.id ASC) <= q."limit"
)
SELECT query_id, house, road, house_number, postcode, city, county, state,
       CAST(round(x * 1000) AS BIGINT) AS x_mm, CAST(round(y * 1000) AS BIGINT) AS y_mm,
       distance_mm, license_id
FROM (SELECT * FROM osm_rows UNION ALL SELECT * FROM oa_rows)
"""


def forward_oracle_sql(fq_cte: str | None = None) -> str:
    dist = "sqrt((h.x - q.qx) * (h.x - q.qx) + (h.y - q.qy) * (h.y - q.qy))"
    if fq_cte is None:
        fq_cte = f"""
    SELECT query_id, road AS q_road, house_number AS q_hn, postcode AS q_pc, city AS q_city,
           country, "limit", radius::DOUBLE AS radius,
           CASE WHEN center_lat IS NOT NULL THEN radians(center_lon) * 6378137.0 END AS qx,
           CASE WHEN center_lat IS NOT NULL THEN ln(tan(pi() / 4 + radians(center_lat) / 2)) * 6378137.0 END AS qy
    FROM {_pq('fwd_queries')} WHERE road IS NOT NULL"""
    return f"""
WITH {STRUCT_CTES},
fq AS ({fq_cte}
),
names AS (SELECT DISTINCT name FROM streets),
cand0 AS (
    SELECT q.query_id, n.name, {_sim('q.q_road', 'n.name')} AS sim
    FROM fq q, names n
    WHERE {_sim('q.q_road', 'n.name')} >= 0.3
),
cpoly AS (
    SELECT query_id, osm_id FROM (
        SELECT q.query_id, a.osm_id, a.name, {_sim('a.name', 'q.country')} AS s
        FROM fq q, adm a
        WHERE q.country IS NOT NULL AND a.admin_level = 2 AND {_sim('a.name', 'q.country')} >= 0.3)
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, name ASC, osm_id ASC) = 1
),
fcand AS (
    SELECT q.query_id, q."limit", c0.sim, s.name AS s_road, ci.name AS city_name,
           ci.postcode AS c_postcode, h.id, h.house_number, h.x, h.y,
           CASE WHEN q.qx IS NOT NULL THEN {dist} END AS distance
    FROM fq q
    JOIN cand0 c0 ON c0.query_id = q.query_id
    JOIN streets s ON s.name = c0.name
    JOIN cities ci ON s.city_id = ci.id
    JOIN h5 h ON h.street_id = s.id
    LEFT JOIN cpoly cp ON cp.query_id = q.query_id
    WHERE (CASE WHEN q.q_pc IS NOT NULL THEN {_sim('ci.postcode', 'q.q_pc')} >= 0.3
                WHEN q.q_city IS NOT NULL THEN {_sim('ci.name', 'q.q_city')} >= 0.3
                ELSE TRUE END)
      AND (q.q_hn IS NULL OR {_sim('h.house_number', 'q.q_hn')} >= 0.3)
      AND (q.qx IS NULL OR {dist} <= q.radius)
      AND (q.country IS NULL OR (cp.osm_id IS NOT NULL AND {_pip('ae', 'cp.osm_id', 'h.x', 'h.y')}))
),
a4m AS (
    SELECT h.id AS hid, a.name AS a_name
    FROM (SELECT DISTINCT id, x, y FROM h5) h, adm a
    WHERE a.admin_level = 4 AND {_pip('ae', 'a.osm_id', 'h.x', 'h.y')}
),
a6m AS (
    SELECT h.id AS hid, a.name AS a_name
    FROM (SELECT DISTINCT id, x, y FROM h5) h, adm a
    WHERE a.admin_level = 6 AND {_pip('ae', 'a.osm_id', 'h.x', 'h.y')}
),
fres AS (
    SELECT f.*, a4.a_name AS a4_name, a6.a_name AS a6_name
    FROM fcand f
    LEFT JOIN a4m a4 ON a4.hid = f.id
    LEFT JOIN a6m a6 ON a6.hid = f.id
)
SELECT query_id, CAST(NULL AS VARCHAR) AS house, s_road AS road, house_number,
       c_postcode AS postcode, nullif(city_name, '') AS city,
       nullif(a6_name, '') AS county, nullif(a4_name, '') AS state,
       CAST(round(x * 1000) AS BIGINT) AS x_mm, CAST(round(y * 1000) AS BIGINT) AS y_mm,
       CAST(round(distance * 1000) AS BIGINT) AS distance_mm,
       CAST(round((1.0 - sim) * 1e6) AS BIGINT) AS trgm_dist_e6,
       '00000000-0000-0000-0000-000000000000' AS license_id
FROM fres
QUALIFY row_number() OVER (PARTITION BY query_id
    ORDER BY distance ASC NULLS LAST, sim DESC, id ASC,
             a4_name ASC NULLS LAST, a6_name ASC NULLS LAST) <= "limit"
"""


# the wordlist build (geocoder/001:43-69, OSM + OA branches) as a reusable
# subquery over STRUCT_CTES + OA_CTES — shared by the etl_wordlist and
# predict_text oracles
_WORDLIST_SQL = """
SELECT word, sum(ct) AS ct FROM (
    SELECT unnest(regexp_split_to_array(name, '\\W')) AS word, ct FROM (
        SELECT c.name AS name, count(*) AS ct
        FROM cities c JOIN streets s ON c.id = s.city_id GROUP BY c.name)
    UNION ALL
    SELECT unnest(regexp_split_to_array(name, '\\W')) AS word, ct FROM (
        SELECT s.name AS name, count(*) AS ct
        FROM streets s JOIN h5 h ON s.id = h.street_id GROUP BY s.name)
    UNION ALL
    SELECT unnest(regexp_split_to_array(city, '\\W')) AS word, ct FROM (
        SELECT c.city AS city, count(*) AS ct
        FROM oa_city c JOIN oa_street s ON c.id = s.city_id GROUP BY c.city)
    UNION ALL
    SELECT unnest(regexp_split_to_array(street, '\\W')) AS word, ct FROM (
        SELECT s.street AS street, count(*) AS ct
        FROM oa_street s JOIN oa_house h ON s.id = h.street_id GROUP BY s.street)
) GROUP BY word"""


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_oracle_sql(precision: int = 12) -> str:
    """Standard base-32 geohash recomputed in pure DuckDB bit/string math
    (F17): inverse-Mercator the stored (x, y), quantize lon/lat to 30 bits
    each (floor — numpy's uint64 cast truncates), interleave from the MSB
    with the lon bit first, and emit 5-bit base-32 characters. Checks the
    engine's clustering key (cells.geohash_encode) fully independently —
    including the documented lat/lon argument-order fix vs the reference
    importer (SURVEY.md §7.4.8)."""
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    lon = "degrees(x / 6378137.0)"
    lat = "degrees(2 * atan(exp(y / 6378137.0)) - pi() / 2)"
    li = (f"CAST(floor(least(greatest((({lon}) + 180.0) / 360.0 * {float(1 << nlon)}, 0.0), "
          f"{float((1 << nlon) - 1)})) AS BIGINT)")
    la = (f"CAST(floor(least(greatest((({lat}) + 90.0) / 180.0 * {float(1 << nlat)}, 0.0), "
          f"{float((1 << nlat) - 1)})) AS BIGINT)")
    chars = []
    for c in range(precision):
        terms = []
        for j in range(5):
            b = 5 * c + j  # bit position from the MSB; even = lon, odd = lat
            src = "li" if b % 2 == 0 else "la"
            width = nlon if b % 2 == 0 else nlat
            shift = width - 1 - b // 2
            terms.append(f"(({src} >> {shift}) & 1) * {1 << (4 - j)}")
        chars.append(f"substr('{_GEOHASH32}', CAST({' + '.join(terms)} AS INT) + 1, 1)")
    gh = " || ".join(chars)
    return f"""
WITH {STRUCT_CTES},
gh_src AS (SELECT id, {li} AS li, {la} AS la FROM h5)
SELECT id, ({gh}) AS geohash FROM gh_src
"""


def _raster_grid_sql(res: int) -> str:
    """h5 points -> (ix, iy, n) grid aggregate in DuckDB — same closed-form
    double ops (and the same Python-float literals) as etl.grid_cols."""
    from . import cells as cell_mod
    from .proj import L as _L

    size = cell_mod.cell_size(res)
    n = (1 << res) - 1
    ix = f"CAST(least(greatest(floor((x + {_L!r}) / {size!r}), 0), {n}) AS BIGINT)"
    iy = f"CAST(least(greatest(floor((y + {_L!r}) / {size!r}), 0), {n}) AS BIGINT)"
    return (f"SELECT {ix} AS ix, {iy} AS iy, CAST(count(*) AS BIGINT) AS n "
            f"FROM h5 GROUP BY 1, 2")


def _morton_sql(res: int, ix: str = "ix", iy: str = "iy") -> str:
    """Morton cell id (cells.encode_ij) as pure SQL bit math: res tag in
    bits 53+, bit-interleave as a sum of disjoint shifted bits — an
    independent recompute of the engine's JVM bit-spread."""
    terms = [f"((({ix} >> {b}) & 1) << {2 * b}) + ((({iy} >> {b}) & 1) << {2 * b + 1})"
             for b in range(res)]
    return f"({res << 53} + {' + '.join(terms)})"


def _sim_arr(a: str, b: str) -> str:
    """pg_trgm similarity of two PRE-COMPUTED trigram-array expressions."""
    shared = f"len(list_intersect({a}, {b}))"
    return (f"(CASE WHEN len({a}) = 0 OR len({b}) = 0 THEN 0.0 "
            f"ELSE {shared} * 1.0 / (len({a}) + len({b}) - {shared}) END)")


def predict_oracle_sql() -> str:
    """002-text_prediction.sql recomputed end-to-end in DuckDB: the wordlist
    (001:43-69), the OR-of-4 dmetaphone trigram ``%`` matches (002:14-19),
    prefix-levenshtein < 3 (002:10,22), and the 4-key ranking + LIMIT 10
    (002:23-28). Metaphone codes come from the fixture code table
    (dmetaphone_codes.parquet, see fixtures.build_dmetaphone_codes) — fixed
    inputs, like the polygon edge tables are for PIP — so the trigram /
    levenshtein / ranking dataflow is recomputed fully independently of the
    engine."""
    lev = "levenshtein(substr(w.word, 1, length(q.input)), q.input)"
    sims = " OR ".join(
        f"{_sim_arr(f'w.{wa}', f'q.{qa}')} >= 0.3"
        for wa in ("tp", "ta") for qa in ("tp", "ta"))
    return f"""
WITH {STRUCT_CTES},
{OA_CTES.lstrip()},
wl AS ({_WORDLIST_SQL}),
codes AS (SELECT word, dmet, dmet_alt FROM {_pq('dmetaphone_codes')}),
wlc AS (
    SELECT w.word, w.ct, {_trg('c.dmet')} AS tp, {_trg('c.dmet_alt')} AS ta
    FROM wl w JOIN codes c ON c.word = w.word),
qc AS (
    SELECT p.query_id, p.input, {_trg('c.dmet')} AS tp, {_trg('c.dmet_alt')} AS ta
    FROM {_pq('predict_queries')} p JOIN codes c ON c.word = p.input),
cand AS (
    SELECT q.query_id, w.word, w.ct, {lev} AS dist
    FROM qc q, wlc w
    WHERE ({sims}) AND {lev} < 3)
SELECT query_id, word, CAST(ct AS BIGINT) AS ct, CAST(dist AS BIGINT) AS dist
FROM cand
QUALIFY row_number() OVER (PARTITION BY query_id
    ORDER BY dist ASC, ct DESC, length(word) ASC, word ASC) <= 10
"""


# ---------------------------------------------------------------------------
# Spark-side query wrappers (column names/types match the oracle exactly)
# ---------------------------------------------------------------------------

def _mm(col):
    return F.round(col * 1000).cast("long")


def q_struct_cities(spark, sf_dir):
    c = geo_state(spark)["struct"]["struct_cities"]
    return c.select("id", "name", "postcode",
                    _mm(F.col("xmin")).alias("xmin_mm"), _mm(F.col("ymin")).alias("ymin_mm"),
                    _mm(F.col("xmax")).alias("xmax_mm"), _mm(F.col("ymax")).alias("ymax_mm"),
                    F.col("rings").isNotNull().alias("has_geom"))


def q_struct_streets(spark, sf_dir):
    s = geo_state(spark)["struct"]["struct_streets"]
    return s.select("id", "city_id", "name",
                    _mm(F.col("xmin")).alias("xmin_mm"), _mm(F.col("ymin")).alias("ymin_mm"),
                    _mm(F.col("xmax")).alias("xmax_mm"), _mm(F.col("ymax")).alias("ymax_mm"))


def q_struct_house(spark, sf_dir):
    h = geo_state(spark)["struct"]["struct_house"]
    return h.select("id", "osm_id", "house_number",
                    _mm(F.col("x")).alias("x_mm"), _mm(F.col("y")).alias("y_mm"), "street_id")


def q_geohash_check(spark, sf_dir):
    """F17: the struct_house geohash clustering key vs the oracle's pure-SQL
    base-32 recompute (geohash_oracle_sql)."""
    return geo_state(spark)["struct"]["struct_house"].select("id", "geohash")


def q_wordlist(spark, sf_dir):
    # the cached prepared wordlist (OSM + OA branches, 001:43-69) minus the
    # metaphone decoration — reuses the session build instead of re-running it
    return geo_state(spark)["wordlist"].select("word", F.col("ct").cast("long").alias("ct"))


def q_oa_city(spark, sf_dir):
    """S3 importer output + A5 backfill folded into one row set (r5): the
    FINAL city table after optimize/017 (empty OA city names filled from the
    admin_level-8 polygon containing the multipoint centroid of their
    houses) + optimize/018 (manual per-source fixes). Rows untouched by the
    backfill pass through byte-identical, so the raw-importer semantics
    (district/region/postcode/license_id and all non-empty city values)
    stay hash-checked alongside the backfill. (empty marker ' ' — the
    importer's empty-field encoding; see oa.update_city_names_from_osm.)"""
    st = geo_state(spark)
    filled = oa.update_city_names_from_osm(st["oa"], st["osm"]["osm_admin"],
                                           empty_values=(" ",))
    final = oa.manual_city_name_updates({**st["oa"], "oa_city": filled})
    return final.select("id", "city", "district", "region", "postcode", "license_id")


def q_oa_street(spark, sf_dir):
    return geo_state(spark)["oa"]["oa_street"].select("id", "street", "unit", "city_id")


def q_oa_house(spark, sf_dir):
    return geo_state(spark)["oa"]["oa_house"].select(
        "id", _mm(F.col("x")).alias("x_mm"), _mm(F.col("y")).alias("y_mm"),
        "name", "housenumber", "street_id", "source")


def q_oa_license(spark, sf_dir):
    return geo_state(spark)["oa"]["oa_license"].select(
        "id", "website", "license", "attribution", "source")


def q_oa_address_data(spark, sf_dir):
    return oa.oa_address_data(geo_state(spark)["oa"]).select(
        "id", "name", "street", "housenumber", "postcode", "city",
        _mm(F.col("x")).alias("x_mm"), _mm(F.col("y")).alias("y_mm"), "source")


def q_reverse_geocode(spark, sf_dir):
    st = geo_state(spark)
    rq = spark.read.parquet(f"{FIX}/rev_queries.parquet")
    r = reverse_geocode(spark, st["tables"], rq)
    return r.select("query_id", "house", "road", "house_number", "postcode", "city",
                    "county", "state",
                    _mm(F.col("x")).alias("x_mm"), _mm(F.col("y")).alias("y_mm"),
                    _mm(F.col("distance")).alias("distance_mm"), "license_id")


def q_reverse_epsg3857(spark, sf_dir):
    """Geocoder.reverse_epsg3857 (geocoder.py:199-247): same pipeline over
    already-projected points (no lon/lat -> Mercator step)."""
    from .reverse import reverse_geocode_epsg3857

    st = geo_state(spark)
    rq = spark.read.parquet(f"{FIX}/rev3857_queries.parquet")
    r = reverse_geocode_epsg3857(spark, st["tables"], rq)
    return r.select("query_id", "house", "road", "house_number", "postcode", "city",
                    "county", "state",
                    _mm(F.col("x")).alias("x_mm"), _mm(F.col("y")).alias("y_mm"),
                    _mm(F.col("distance")).alias("distance_mm"), "license_id")


def q_forward_geocode(spark, sf_dir):
    st = geo_state(spark)
    fq = spark.read.parquet(f"{FIX}/fwd_queries.parquet")
    f = forward_geocode(spark, st["tables"], fq)
    return f.select("query_id", "house", "road", "house_number", "postcode", "city",
                    "county", "state",
                    _mm(F.col("x")).alias("x_mm"), _mm(F.col("y")).alias("y_mm"),
                    _mm(F.col("distance")).alias("distance_mm"),
                    F.round(F.col("trgm_dist") * 1e6).cast("long").alias("trgm_dist_e6"),
                    "license_id")


def q_predict_text(spark, sf_dir):
    st = geo_state(spark)
    pq = spark.read.parquet(f"{FIX}/predict_queries.parquet")
    return predict_text(spark, st["wordlist"], pq).select(
        "query_id", "word", F.col("ct").cast("long").alias("ct"),
        F.col("dist").cast("long").alias("dist"))


def q_extract_hashes(spark, sf_dir):
    """Byte-identical-per-url invariant: engine re-extracts html; oracle
    hashes the stored text column — equality IS the invariant."""
    pages = spark.read.parquet(f"{FIX}/webpages.parquet")
    return pages.select("url", F.sha2(mine.extract_text_col(F.col("html")), 256).alias("text_sha"))


def q_mine_addresses(spark, sf_dir):
    pages = spark.read.parquet(f"{FIX}/webpages.parquet")
    return mine.mine_addresses(pages)


def q_mine_coordinates(spark, sf_dir):
    pages = spark.read.parquet(f"{FIX}/webpages.parquet")
    return mine.mine_coordinates(pages).select(
        "url", F.round(F.col("lat") * 1e6).cast("long").alias("lat_e6"),
        F.round(F.col("lon") * 1e6).cast("long").alias("lon_e6"))


def q_pages_latest(spark, sf_dir):
    """Per-url latest-crawl dedup over a simulated re-crawl: the fixture
    pages unioned with a +1000 s re-fetch replica; exactly the newer row per
    url must survive."""
    pages = spark.read.parquet(f"{FIX}/webpages.parquet")
    recrawl = pages.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1000 SECONDS"))
    out = mine.latest_snapshot(pages.unionByName(recrawl))
    return out.select("url", F.unix_timestamp("warc_ts").cast("long").alias("ts_epoch"),
                      F.sha2("text", 256).alias("text_sha"))


def q_domain_stats(spark, sf_dir):
    pages = spark.read.parquet(f"{FIX}/webpages.parquet")
    d = mine.domain_stats(pages)
    return d.select("host", F.col("n_pages").cast("long").alias("n_pages"),
                    F.col("n_distinct_texts").cast("long").alias("n_distinct_texts"),
                    F.col("text_chars").cast("long").alias("text_chars"),
                    F.unix_timestamp("first_ts").cast("long").alias("first_epoch"),
                    F.unix_timestamp("last_ts").cast("long").alias("last_epoch"))


def q_geocode_pages(spark, sf_dir):
    st = geo_state(spark)
    pages = spark.read.parquet(f"{FIX}/webpages.parquet")
    out = mine.geocode_pages(spark, st["tables"], pages)
    return out.select("url", "kind", "road", "house_number", "postcode", "city",
                      _mm(F.col("x")).alias("x_mm"), _mm(F.col("y")).alias("y_mm"))


def q_format_addresses(spark, sf_dir):
    """Mustache-render the reverse results (F20) — render kernel is not
    SQL-expressible; rows-only driver check + unit tests cover it."""
    import pandas as pd
    from pyspark.sql.types import StringType
    from . import formatter

    r = q_reverse_geocode(spark, sf_dir)

    @F.pandas_udf(StringType())
    def _fmt(road, hn, pc, city, county, state):
        out = []
        for vals in zip(road, hn, pc, city, county, state):
            addr = dict(zip(["road", "house_number", "postcode", "city", "county", "state"], vals))
            out.append(formatter.format_address(addr))
        return pd.Series(out)

    return r.select("query_id", "road", "house_number",
                    _fmt("road", "house_number", "postcode", "city", "county", "state").alias("formatted"))


# ---- training-data ops over the driver tables ------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_doc_tokens(spark, sf_dir):
    return textops.token_counts(_docs(spark, sf_dir)).select(
        "doc_id", F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"))


def q_doc_quality(spark, sf_dir):
    q = textops.quality_scores(_docs(spark, sf_dir))
    return q.select("doc_id", F.col("n_chars_calc").cast("long").alias("n_chars_calc"),
                    F.col("n_words").cast("long").alias("n_words"),
                    F.round(F.col("alpha_ratio") * 1e6).cast("long").alias("alpha_ratio_e6"),
                    F.round(F.col("stop_ratio") * 1e6).cast("long").alias("stop_ratio_e6"),
                    F.round(F.col("quality") * 1e6).cast("long").alias("quality_e6"))


def q_doc_langid(spark, sf_dir):
    return textops.language_id(_docs(spark, sf_dir))


def q_doc_fingerprints(spark, sf_dir):
    return textops.fingerprints(_docs(spark, sf_dir))


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dup_groups(_docs(spark, sf_dir)).select(
        "text_sha", F.col("n_docs").cast("long").alias("n_docs"),
        F.col("keeper").cast("long").alias("keeper"))


def q_dedup_jaccard(spark, sf_dir):
    # max_df caps the per-shingle pair fan-out (a shingle in df docs yields
    # df^2/2 pairs — uncapped stop-shingles are quadratic at corpus scale);
    # the oracle applies the identical cap
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5, max_df=256).select(
        "doc_a", "doc_b", F.round(F.col("jaccard") * 1e6).cast("long").alias("jaccard_e6"))


def q_minhash_sigs(spark, sf_dir):
    return dedup.minhash_signatures(_docs(spark, sf_dir).filter("doc_id < 100")).select(
        "doc_id", F.col("perm").cast("long").alias("perm"), F.col("minhash").cast("long").alias("minhash"))


def q_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5).select(
        "doc_a", "doc_b", F.round(F.col("jaccard") * 1e6).cast("long").alias("jaccard_e6"))


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the minhash-LSH near-dup graph: the dedup
    group assignment (doc_id -> keeper) a pipeline acts on."""
    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)
    return dedup.dup_clusters(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("keeper").cast("long").alias("keeper"))


def q_simhash_sigs(spark, sf_dir):
    return dedup.simhash_signatures(_docs(spark, sf_dir).filter("doc_id < 100"))


def q_simhash_pairs(spark, sf_dir):
    # max_hamming=3 — the classic simhash near-dup operating point: the
    # pigeonhole banding then uses 4 bands of 15-16 bits (32k-65k buckets
    # per band); larger h keeps exact recall but the bands get coarse
    # (63/(h+1) bits), degrading candidate selectivity at corpus scale
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=3).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def q_simhash_recursive(spark, sf_dir):
    """The h>3 escape hatch (recursive pigeonhole on oversize buckets,
    dedup.simhash_pairs_recursive) — output is EXACTLY simhash_pairs', so it
    shares the dedup_simhash_pairs oracle; hot_threshold=16 forces the
    recursion to engage on the sf corpus (not just pass through cold)."""
    sig = dedup.simhash_signatures(_docs(spark, sf_dir))
    return dedup.simhash_pairs_recursive(sig, max_hamming=3, hot_threshold=16) \
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def q_ann_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double")))
    q = emb.filter("vec_id < 8").select(F.col("vec_id").alias("query_id"), "embedding")
    out = simsearch.cosine_topk(emb, q, k=5)
    return out.select("query_id", "vec_id",
                      F.round(F.col("cosine") * 1e4).cast("long").alias("cosine_e4"),
                      F.col("rank").cast("long").alias("rank"))


def q_ann_ivf_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double")))
    q = emb.filter("vec_id < 8").select(F.col("vec_id").alias("query_id"), "embedding")
    out = simsearch.ivf_topk(spark, emb, q, k=5, n_centroids=8, n_probe=2)
    return out.select("query_id", "vec_id",
                      F.round(F.col("cosine") * 1e4).cast("long").alias("cosine_e4"),
                      F.col("rank").cast("long").alias("rank"))


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF with deterministic k-means-trained centroids (2 iterations,
    integer-quantized updates — bit-identical in Spark and DuckDB)."""
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double")))
    q = emb.filter("vec_id < 8").select(F.col("vec_id").alias("query_id"), "embedding")
    cent = simsearch.ivf_train(spark, emb, n_centroids=8, iters=2)
    out = simsearch.ivf_topk(spark, emb, q, k=5, n_probe=2, centroids=cent)
    return out.select("query_id", "vec_id",
                      F.round(F.col("cosine") * 1e4).cast("long").alias("cosine_e4"),
                      F.col("rank").cast("long").alias("rank"))


def q_emb_dups(spark, sf_dir):
    # threshold 0.9: "duplicate" = near-identical vector, the regime where
    # sign-band LSH recall is strong (cos 0.9 -> ~86% per-bit agreement ->
    # ~94% chance of sharing one of 8 8-bit bands; near 1.0 it approaches
    # certainty). Lower thresholds are similarity SEARCH, not dedup — use
    # ann_topk/ivf_topk (exact contract) for that regime.
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double")))
    return simsearch.embedding_dup_pairs(emb, threshold=0.9).select(
        "vec_a", "vec_b", F.round(F.col("cosine") * 1e4).cast("long").alias("cosine_e4"))


# ---- raster <-> vector (north_rule; geospark/raster.py) --------------------

RASTER_RES = 15
POOL_STEPS = 2
VEC_MIN_N = 5


def _raster15(spark):
    from . import raster

    return raster.rasterize(geo_state(spark)["struct"]["struct_house"], RASTER_RES)


def q_raster_density(spark, sf_dir):
    return _raster15(spark).select("ix", "iy", "cell_id",
                                   F.col("n").cast("long").alias("n"))


def q_raster_pool(spark, sf_dir):
    from . import raster

    return raster.pool(_raster15(spark), steps=POOL_STEPS, res=RASTER_RES).select(
        "ix", "iy", "cell_id", F.col("n").cast("long").alias("n"))


def q_raster_vectorize(spark, sf_dir):
    from . import raster

    v = raster.vectorize(_raster15(spark), RASTER_RES, F.col("n") >= VEC_MIN_N)
    return v.select("cell_id", "ix", "iy", F.col("n").cast("long").alias("n"),
                    _mm(F.col("xmin")).alias("xmin_mm"), _mm(F.col("ymin")).alias("ymin_mm"),
                    _mm(F.col("xmax")).alias("xmax_mm"), _mm(F.col("ymax")).alias("ymax_mm"))


def q_raster_zonal(spark, sf_dir):
    from . import raster

    st = geo_state(spark)
    zones = st["osm"]["osm_admin"].filter(F.col("admin_level") == 6)
    out = raster.zonal_stats(_raster15(spark), zones, RASTER_RES)
    return out.select("zone", F.col("n_cells").cast("long").alias("n_cells"),
                      F.col("n_points").cast("long").alias("n_points"))


def q_media_stats(spark, sf_dir):
    media = spark.read.parquet(f"{FIX}/media.parquet")
    return multimodal.media_stats(media).select(
        "media_id", "kind", F.col("n_bytes").cast("long").alias("n_bytes"))


def q_media_features(spark, sf_dir):
    media = spark.read.parquet(f"{FIX}/media.parquet")
    feats = multimodal.decode_features(media)
    return feats.select("media_id", "kind",
                        F.round(F.element_at("features", 1) * 1e6).cast("long").alias("f0_e6"),
                        F.size("features").cast("long").alias("dim"))


def q_media_frames(spark, sf_dir):
    media = spark.read.parquet(f"{FIX}/media.parquet")
    fr = multimodal.frame_sample(media)
    return fr.select("media_id", F.col("frame_idx").cast("long").alias("frame_idx"),
                     F.length("frame").cast("long").alias("frame_bytes"),
                     # hex, not md5: DuckDB cannot slice BLOBs, so the oracle
                     # compares the hex substring of the payload directly
                     F.hex("frame").alias("frame_hex"))


def q_events_windowed(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy(F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("long").alias("hour_epoch"), "event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.sum("value") * 100).cast("long").alias("value_c")))


def q_tpch_pricing(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity") * 100).cast("long").alias("sum_qty_c"),
                 F.round(F.sum("l_extendedprice") * 100).cast("long").alias("sum_price_c"),
                 F.count("*").cast("long").alias("count_order")))


def q_topk_orders(spark, sf_dir):
    from pyspark.sql import Window
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy(F.pmod(F.col("o_custkey"), F.lit(10))).orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("bucket", F.pmod(F.col("o_custkey"), F.lit(10)).cast("long"))
            .withColumn("rank", F.row_number().over(
                Window.partitionBy("bucket").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())))
            .filter(F.col("rank") <= 5)
            .select("bucket", F.col("rank").cast("long").alias("rank"), "o_orderkey",
                    F.round(F.col("o_totalprice") * 100).cast("long").alias("totalprice_c")))


# ---------------------------------------------------------------------------
# oracle SQL for the remaining queries
# ---------------------------------------------------------------------------

_MM = "CAST(round({c} * 1000) AS BIGINT)"


def _struct_sql(select: str) -> str:
    return f"WITH {STRUCT_CTES}\n{select}"


def _oa_sql(select: str) -> str:
    return f"WITH {OA_CTES.lstrip()}\n{select}"


ORACLES: dict[str, str] = {}

ORACLES["etl_struct_cities"] = _struct_sql(f"""
SELECT c.id, c.name, c.postcode,
       {_MM.format(c='c.xmin')} AS xmin_mm, {_MM.format(c='c.ymin')} AS ymin_mm,
       {_MM.format(c='c.xmax')} AS xmax_mm, {_MM.format(c='c.ymax')} AS ymax_mm,
       (g1.cid IS NOT NULL OR g2.cid IS NOT NULL) AS has_geom
FROM cities c
LEFT JOIN (
    SELECT DISTINCT c.id AS cid FROM cities c, postal p
    WHERE p.postcode = c.postcode AND p.xmin <= c.xmax AND p.xmax >= c.xmin
      AND p.ymin <= c.ymax AND p.ymax >= c.ymin
) g1 ON g1.cid = c.id
LEFT JOIN (
    SELECT DISTINCT c.id AS cid FROM cities c, adm a
    WHERE a.admin_level = 8 AND a.name = c.name AND a.xmin <= c.xmax AND a.xmax >= c.xmin
      AND a.ymin <= c.ymax AND a.ymax >= c.ymin
) g2 ON g2.cid = c.id
""")

ORACLES["etl_struct_streets"] = _struct_sql(f"""
SELECT id, city_id, name,
       {_MM.format(c='xmin')} AS xmin_mm, {_MM.format(c='ymin')} AS ymin_mm,
       {_MM.format(c='xmax')} AS xmax_mm, {_MM.format(c='ymax')} AS ymax_mm
FROM streets
""")

ORACLES["etl_struct_house"] = _struct_sql(f"""
SELECT id, osm_id, house_number,
       {_MM.format(c='x')} AS x_mm, {_MM.format(c='y')} AS y_mm, street_id
FROM h5
""")

ORACLES["geohash_check"] = geohash_oracle_sql()

# both branches of 001: OSM struct words (43-54) + OA words (55-69)
ORACLES["etl_wordlist"] = f"""
WITH {STRUCT_CTES},
{OA_CTES.lstrip()}
SELECT word, CAST(ct AS BIGINT) AS ct FROM ({_WORDLIST_SQL})
"""

# final (backfilled) city table: optimize/017 admin-8 centroid fill +
# optimize/018 manual fixes on top of the raw importer CTEs
ORACLES["oa_city"] = f"""
WITH {OA_CTES.lstrip()},
adm AS (SELECT * FROM {_pq('osm_admin')}),
ae AS (SELECT * FROM {_pq('osm_admin_edges')}),
cent AS (
    SELECT c.id AS cid, avg(h.x) AS cx, avg(h.y) AS cy
    FROM oa_city c
    JOIN oa_street s ON s.city_id = c.id
    JOIN oa_house h ON h.street_id = s.id
    WHERE c.city = ' '
    GROUP BY c.id
),
fill AS (
    SELECT t.cid, arg_min(a.name, a.osm_id) AS new_city
    FROM cent t, adm a
    WHERE a.admin_level = 8 AND {_pip('ae', 'a.osm_id', 't.cx', 't.cy')}
    GROUP BY t.cid
),
manual AS (SELECT * FROM (VALUES
    ('ro/bucharest', 'Bucharest'), ('at/city_of_vienna', 'Wien'),
    ('de/nw/city_of_cologne', 'Köln')) t(source, fixed_city)),
lic AS (SELECT * FROM (VALUES
    ('us/il/test'), ('us/ny/rivertown'), ('de/by/lakeside')) t(source))
SELECT c.id,
       coalesce(m.fixed_city, f.new_city, c.city) AS city,
       c.district, c.region, c.postcode, c.license_id
FROM oa_city c
LEFT JOIN fill f ON f.cid = c.id
LEFT JOIN (
    SELECT sha256('license' || l.source) AS lid, m.fixed_city
    FROM lic l JOIN manual m ON m.source = l.source
) m ON m.lid = c.license_id
"""
ORACLES["oa_street"] = _oa_sql("SELECT id, street, unit, city_id FROM oa_street")
ORACLES["oa_house"] = _oa_sql(f"""
SELECT id, {_MM.format(c='x')} AS x_mm, {_MM.format(c='y')} AS y_mm,
       name, housenumber, street_id, source
FROM oa_house
""")
ORACLES["oa_license"] = f"""
WITH lic AS (SELECT * FROM (VALUES
    ('us/il/test', 'https://example.org/data', 'CC-BY-4.0', 'Example County GIS'),
    ('us/ny/rivertown', 'https://example.org/ny', 'Public Domain', NULL),
    ('de/by/lakeside', 'https://example.org/by', 'DL-DE-BY-2.0', 'Bayern GIS')
) t(source, website, license, attribution))
SELECT sha256('license' || source) AS id, website, license, attribution, source FROM lic
"""
ORACLES["oa_address_data"] = _oa_sql(f"""
SELECT h.id, h.name, s.street, h.housenumber, c.postcode, c.city,
       {_MM.format(c='h.x')} AS x_mm, {_MM.format(c='h.y')} AS y_mm, h.source
FROM oa_house h
JOIN oa_street s ON h.street_id = s.id
JOIN oa_city c ON s.city_id = c.id
""")

ORACLES["predict_text"] = predict_oracle_sql()
ORACLES["reverse_geocode"] = reverse_oracle_sql()
ORACLES["reverse_epsg3857"] = reverse_oracle_sql(
    f'SELECT query_id, x AS qx, y AS qy, radius, "limit" FROM {_pq("rev3857_queries")}')
ORACLES["forward_geocode"] = forward_oracle_sql()

# the registered format query renders the DEFAULT worldwide template
# (road hn \n postcode first(city||town||village||state), None dropped,
# whole-string strip) over the reverse results — that render is plain
# string SQL, so the mustache path gets an independent check too
_FMT_FIRST = ("CASE WHEN trim(coalesce(city, '')) <> '' THEN city "
              "WHEN trim(coalesce(state, '')) <> '' THEN state ELSE '' END")
ORACLES["format_addresses"] = f"""
SELECT query_id, road, house_number,
       trim(concat(coalesce(road, ''), ' ', coalesce(house_number, ''), chr(10),
                   coalesce(postcode, ''), ' ', {_FMT_FIRST}),
            ' ' || chr(10)) AS formatted
FROM ({reverse_oracle_sql()})
"""

ORACLES["extract_hashes"] = f"SELECT url, sha256(text) AS text_sha FROM {_pq('webpages')}"

ORACLES["pages_latest"] = f"""
WITH crawl AS (
    SELECT url, warc_ts, text FROM {_pq('webpages')}
    UNION ALL
    SELECT url, warc_ts + INTERVAL 1000 SECOND, text FROM {_pq('webpages')})
SELECT url, CAST(epoch(warc_ts) AS BIGINT) AS ts_epoch, sha256(text) AS text_sha
FROM crawl
QUALIFY row_number() OVER (PARTITION BY url
    ORDER BY warc_ts DESC, sha256(text) ASC) = 1
"""

ORACLES["domain_stats"] = f"""
SELECT regexp_extract(lower(url), '{mine._HOST_RE}', 1) AS host,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_texts,
       CAST(sum(length(text)) AS BIGINT) AS text_chars,
       CAST(min(epoch(warc_ts)) AS BIGINT) AS first_epoch,
       CAST(max(epoch(warc_ts)) AS BIGINT) AS last_epoch
FROM {_pq('webpages')}
GROUP BY 1
"""

_ADDR_RE_SQL = mine.ADDR_RE.replace("'", "''")
_COORD_RE_SQL = mine.COORD_RE.replace("'", "''")
ORACLES["mine_addresses"] = f"""
WITH m AS (
    SELECT url, unnest(regexp_extract_all(text, '{_ADDR_RE_SQL}', 0)) AS s
    FROM {_pq('webpages')})
SELECT url,
       regexp_extract(s, '{_ADDR_RE_SQL}', 1) AS road,
       regexp_extract(s, '{_ADDR_RE_SQL}', 2) AS house_number,
       regexp_extract(s, '{_ADDR_RE_SQL}', 3) AS postcode,
       regexp_extract(s, '{_ADDR_RE_SQL}', 4) AS city
FROM m WHERE regexp_extract(s, '{_ADDR_RE_SQL}', 1) <> ''
"""
ORACLES["mine_coordinates"] = f"""
WITH m AS (
    SELECT url, unnest(regexp_extract_all(text, '{_COORD_RE_SQL}', 0)) AS s
    FROM {_pq('webpages')})
SELECT url,
       CAST(round(regexp_extract(s, '{_COORD_RE_SQL}', 1)::DOUBLE * 1e6) AS BIGINT) AS lat_e6,
       CAST(round(regexp_extract(s, '{_COORD_RE_SQL}', 2)::DOUBLE * 1e6) AS BIGINT) AS lon_e6
FROM m
WHERE abs(regexp_extract(s, '{_COORD_RE_SQL}', 1)::DOUBLE) <= 85.06
  AND abs(regexp_extract(s, '{_COORD_RE_SQL}', 2)::DOUBLE) <= 180.0
"""

# flagship oracle: mined addresses forward-geocoded (top-1 per distinct
# query tuple; postcode branch + hn residual — mined matches always carry
# all four fields) + mined coordinates reverse-geocoded (top-1, OSM only,
# radius 150), each joined back to the match multiset — the exact plan
# mine.geocode_pages runs (per-url query_id hashing changes nothing: the
# ranking is url-independent, the join-back restores multiplicity)
ORACLES["geocode_pages"] = f"""
WITH {STRUCT_CTES},
am AS (
    SELECT url, unnest(regexp_extract_all(text, '{_ADDR_RE_SQL}', 0)) AS s
    FROM {_pq('webpages')}),
m AS (
    SELECT url,
           regexp_extract(s, '{_ADDR_RE_SQL}', 1) AS road,
           regexp_extract(s, '{_ADDR_RE_SQL}', 2) AS hn,
           regexp_extract(s, '{_ADDR_RE_SQL}', 3) AS pc,
           regexp_extract(s, '{_ADDR_RE_SQL}', 4) AS city
    FROM am WHERE regexp_extract(s, '{_ADDR_RE_SQL}', 1) <> ''),
fq AS (SELECT DISTINCT road AS q_road, hn AS q_hn, pc AS q_pc, city AS q_city FROM m),
names AS (SELECT DISTINCT name FROM streets),
cand0 AS (
    SELECT q.q_road, n.name, {_sim('q.q_road', 'n.name')} AS sim
    FROM (SELECT DISTINCT q_road FROM fq) q, names n
    WHERE {_sim('q.q_road', 'n.name')} >= 0.3),
fcand AS (
    SELECT q.q_road, q.q_hn, q.q_pc, q.q_city, c0.sim, s.name AS s_road,
           ci.name AS city_name, ci.postcode AS c_postcode,
           h.id, h.house_number, h.x, h.y
    FROM fq q
    JOIN cand0 c0 ON c0.q_road = q.q_road
    JOIN streets s ON s.name = c0.name
    JOIN cities ci ON s.city_id = ci.id
    JOIN h5 h ON h.street_id = s.id
    WHERE {_sim('ci.postcode', 'q.q_pc')} >= 0.3
      AND {_sim('h.house_number', 'q.q_hn')} >= 0.3),
fa4 AS (
    SELECT h.id AS hid, a.name AS a_name
    FROM (SELECT DISTINCT id, x, y FROM h5) h, adm a
    WHERE a.admin_level = 4 AND {_pip('ae', 'a.osm_id', 'h.x', 'h.y')}),
fa6 AS (
    SELECT h.id AS hid, a.name AS a_name
    FROM (SELECT DISTINCT id, x, y FROM h5) h, adm a
    WHERE a.admin_level = 6 AND {_pip('ae', 'a.osm_id', 'h.x', 'h.y')}),
fres AS (
    SELECT f.*, a4.a_name AS a4_name, a6.a_name AS a6_name
    FROM fcand f LEFT JOIN fa4 a4 ON a4.hid = f.id LEFT JOIN fa6 a6 ON a6.hid = f.id),
fwd_top AS (
    SELECT q_road, q_hn, q_pc, q_city, s_road AS road, house_number,
           c_postcode AS postcode, nullif(city_name, '') AS city, x, y
    FROM fres
    QUALIFY row_number() OVER (PARTITION BY q_road, q_hn, q_pc, q_city
        ORDER BY sim DESC, id ASC, a4_name ASC NULLS LAST, a6_name ASC NULLS LAST) <= 1),
fwd_rows AS (
    SELECT m.url, 'address' AS kind, t.road, t.house_number, t.postcode, t.city, t.x, t.y
    FROM m JOIN fwd_top t ON t.q_road = m.road AND t.q_hn = m.hn
                         AND t.q_pc = m.pc AND t.q_city = m.city),
cm AS (
    SELECT url, unnest(regexp_extract_all(text, '{_COORD_RE_SQL}', 0)) AS s
    FROM {_pq('webpages')}),
co AS (
    SELECT url, regexp_extract(s, '{_COORD_RE_SQL}', 1)::DOUBLE AS lat,
           regexp_extract(s, '{_COORD_RE_SQL}', 2)::DOUBLE AS lon
    FROM cm
    WHERE abs(regexp_extract(s, '{_COORD_RE_SQL}', 1)::DOUBLE) <= 85.06
      AND abs(regexp_extract(s, '{_COORD_RE_SQL}', 2)::DOUBLE) <= 180.0),
crq AS (
    SELECT DISTINCT lat, lon, radians(lon) * 6378137.0 AS qx,
           ln(tan(pi() / 4 + radians(lat) / 2)) * 6378137.0 AS qy
    FROM co),
rcand2 AS (
    SELECT q.lat, q.lon, h.id, h.house_number, h.x, h.y, s.name AS road,
           c.name AS city_name, c.postcode,
           sqrt((h.x - q.qx) * (h.x - q.qx) + (h.y - q.qy) * (h.y - q.qy)) AS distance
    FROM crq q, h5 h
    JOIN streets s ON h.street_id = s.id
    JOIN cities c ON s.city_id = c.id
    WHERE h.x >= q.qx - 150.0 AND h.x <= q.qx + 150.0
      AND sqrt((h.x - q.qx) * (h.x - q.qx) + (h.y - q.qy) * (h.y - q.qy)) <= 150.0),
rres2 AS (
    SELECT r.*, a4.a_name AS a4_name, a6.a_name AS a6_name
    FROM rcand2 r LEFT JOIN fa4 a4 ON a4.hid = r.id LEFT JOIN fa6 a6 ON a6.hid = r.id),
rev_top AS (
    SELECT lat, lon, road, house_number, postcode, city_name AS city, x, y
    FROM rres2
    QUALIFY row_number() OVER (PARTITION BY lat, lon
        ORDER BY distance ASC, id ASC, a4_name ASC NULLS LAST, a6_name ASC NULLS LAST) <= 1),
rev_rows AS (
    SELECT co.url, 'coordinate' AS kind, t.road, t.house_number, t.postcode,
           t.city, t.x, t.y
    FROM co JOIN rev_top t ON t.lat = co.lat AND t.lon = co.lon)
SELECT url, kind, road, house_number, postcode, city,
       CAST(round(x * 1000) AS BIGINT) AS x_mm, CAST(round(y * 1000) AS BIGINT) AS y_mm
FROM (SELECT * FROM fwd_rows UNION ALL SELECT * FROM rev_rows)
"""

_SW_EN = "['the','and','of','to','a','in','is','it','for','on']"
_SW_DE = "['der','die','das','und','ist','ein','zu','den','mit','von']"
_SW_FR = "['le','la','les','et','de','un','une','est','pour','dans']"
_WORDS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

ORACLES["doc_tokens"] = f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
FROM documents
"""

ORACLES["doc_quality"] = f"""
WITH d AS (
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len({_WORDS}) AS n_words,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / greatest(length(text), 1) AS alpha_ratio,
           len(list_filter({_WORDS}, w -> list_contains({_SW_EN}, w))) * 1.0
               / greatest(len({_WORDS}), 1) AS stop_ratio
    FROM documents)
SELECT doc_id, CAST(n_chars_calc AS BIGINT) AS n_chars_calc, CAST(n_words AS BIGINT) AS n_words,
       CAST(round(alpha_ratio * 1e6) AS BIGINT) AS alpha_ratio_e6,
       CAST(round(stop_ratio * 1e6) AS BIGINT) AS stop_ratio_e6,
       CAST(round(round(least(n_words / 100.0, 1.0) * 0.4 + alpha_ratio * 0.3
                  + least(stop_ratio * 5.0, 1.0) * 0.3, 6) * 1e6) AS BIGINT) AS quality_e6
FROM d
"""

ORACLES["doc_langid"] = f"""
WITH d AS (
    SELECT doc_id,
           len(list_filter({_WORDS}, w -> list_contains({_SW_DE}, w))) AS h_de,
           len(list_filter({_WORDS}, w -> list_contains({_SW_EN}, w))) AS h_en,
           len(list_filter({_WORDS}, w -> list_contains({_SW_FR}, w))) AS h_fr
    FROM documents)
SELECT doc_id,
       CASE WHEN greatest(h_de, h_en, h_fr) = 0 THEN 'und'
            WHEN h_de = greatest(h_de, h_en, h_fr) THEN 'de'
            WHEN h_en = greatest(h_de, h_en, h_fr) THEN 'en'
            ELSE 'fr' END AS lang_pred
FROM d
"""

ORACLES["doc_fingerprints"] = f"""
WITH d AS (SELECT doc_id, {_WORDS} AS ws FROM documents)
SELECT doc_id,
       CASE WHEN len(ws) >= 5 THEN
           list_min(list_transform(range(0, len(ws) - 5 + 1),
               i -> md5(array_to_string(ws[i + 1 : i + 5], ' '))))
       ELSE md5(array_to_string(ws, ' ')) END AS fingerprint
FROM d
"""

ORACLES["dedup_exact"] = """
SELECT sha256(text) AS text_sha, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keeper
FROM documents GROUP BY sha256(text) HAVING count(*) > 1
"""

_SHINGLES = f"""
sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(ws) >= 3 THEN
            list_transform(range(0, len(ws) - 3 + 1), i -> array_to_string(ws[i + 1 : i + 3], ' '))
        ELSE [array_to_string(ws, ' ')] END)) AS shingle
    FROM (SELECT doc_id, {_WORDS} AS ws FROM documents)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)"""

ORACLES["dedup_jaccard"] = f"""
WITH {_SHINGLES.lstrip()},
shdf AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN shdf USING (shingle) WHERE shdf.df <= 256),
sizes_c AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id)
SELECT s.doc_a, s.doc_b,
       CAST(round(round(s.shared * 1.0 / (na.n_sh + nb.n_sh - s.shared), 6) * 1e6) AS BIGINT) AS jaccard_e6
FROM shared s JOIN sizes_c na ON na.doc_id = s.doc_a JOIN sizes_c nb ON nb.doc_id = s.doc_b
WHERE round(s.shared * 1.0 / (na.n_sh + nb.n_sh - s.shared), 6) >= 0.5
"""

_MINHASH = f"""
sh100 AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(ws) >= 3 THEN
            list_transform(range(0, len(ws) - 3 + 1), i -> array_to_string(ws[i + 1 : i + 3], ' '))
        ELSE [array_to_string(ws, ' ')] END)) AS shingle
    FROM (SELECT doc_id, {_WORDS} AS ws FROM documents WHERE doc_id < {{lim}})),
shx AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 4294967296 AS x FROM sh100),
sig AS (
    SELECT doc_id, perm, min(((2 * perm + 1) * x + 7919 * perm + 104729) % 4294967311) AS minhash
    FROM shx, (SELECT unnest(range(64)) AS perm)
    GROUP BY doc_id, perm)"""

ORACLES["dedup_minhash_sigs"] = f"""
WITH {_MINHASH.format(lim=100).lstrip()}
SELECT doc_id, CAST(perm AS BIGINT) AS perm, CAST(minhash AS BIGINT) AS minhash FROM sig
"""

# the full minhash-LSH pair derivation as a reusable CTE chain ending in
# ``lshp`` (doc_a, doc_b, j6) — consumed by dedup_minhash_lsh and the
# connected-components clusters oracle
_LSH_PAIRS_CTES = f"""{_MINHASH.format(lim=1000000000).lstrip().replace('sh100', 'shall')},
bh AS (
    SELECT doc_id, CAST(perm / 8 AS INT) AS band,
           md5(array_to_string(list_sort(list(perm || ':' || minhash)), ',')) AS bhash
    FROM sig GROUP BY doc_id, CAST(perm / 8 AS INT)),
cand AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bh l JOIN bh r ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id),
{_SHINGLES.lstrip()},
shared AS (
    SELECT c.doc_a, c.doc_b, count(*) AS shared
    FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY c.doc_a, c.doc_b),
lshp AS (
    SELECT s.doc_a, s.doc_b,
           round(s.shared * 1.0 / (na.n_sh + nb.n_sh - s.shared), 6) AS j6
    FROM shared s JOIN sizes na ON na.doc_id = s.doc_a JOIN sizes nb ON nb.doc_id = s.doc_b
    WHERE round(s.shared * 1.0 / (na.n_sh + nb.n_sh - s.shared), 6) >= 0.5)"""

ORACLES["dedup_minhash_lsh"] = f"""
WITH {_LSH_PAIRS_CTES}
SELECT doc_a, doc_b, CAST(round(j6 * 1e6) AS BIGINT) AS jaccard_e6 FROM lshp
"""

# connected components over the LSH near-dup graph via a recursive CTE:
# every (node, reachable-label) pair is enumerated (fixture-scale closure),
# keeper = min label per node — independent of the engine's iterative
# min-label propagation
ORACLES["dedup_clusters"] = f"""
WITH RECURSIVE {_LSH_PAIRS_CTES},
e AS (SELECT doc_a AS src, doc_b AS dst FROM lshp
      UNION SELECT doc_b, doc_a FROM lshp),
n AS (SELECT DISTINCT src AS node FROM e),
cc(node, lbl) AS (
    SELECT node, node FROM n
    UNION
    SELECT e.dst, cc.lbl FROM cc JOIN e ON e.src = cc.node)
SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS keeper FROM cc GROUP BY node
"""

_SIMHASH = f"""
w AS (SELECT doc_id, unnest(list_distinct({_WORDS})) AS word
      FROM documents WHERE doc_id < {{lim}}),
wh AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM w),
bits AS (
    SELECT doc_id, bit,
           sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM wh, (SELECT unnest(range(63)) AS bit)
    GROUP BY doc_id, bit),
simsig AS (
    SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id)"""

ORACLES["dedup_simhash_sigs"] = f"""
WITH {_SIMHASH.format(lim=100).lstrip()}
SELECT doc_id, simhash FROM simsig
"""

ORACLES["dedup_simhash_pairs"] = f"""
WITH {_SIMHASH.format(lim=1000000000).lstrip()},
banded AS (
    -- max_hamming=3 -> 4 disjoint chunks of 16/16/16/15 bits
    -- (pigeonhole-exact recall at Hamming <= 3)
    SELECT doc_id, simhash, unnest(list_transform(range(4),
        i -> i || ':' || CASE WHEN i < 3 THEN ((simhash >> (i * 16)) & 65535)
                              ELSE ((simhash >> 48) & 32767) END)) AS band
    FROM simsig),
cand AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, l.simhash AS ha, r.simhash AS hb
    FROM banded l JOIN banded r ON l.band = r.band AND l.doc_id < r.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""

_DOT = ("list_sum(list_transform(range(1, len(a.embedding) + 1), "
        "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))")
_NORM_A = "sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))"
_NORM_B = "sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))"
_COS = f"({_DOT} / ({_NORM_A} * {_NORM_B}))"

ORACLES["ann_topk"] = f"""
WITH scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
           round({_COS}, 6) AS cosine
    FROM embeddings a, embeddings b WHERE a.vec_id < 8)
SELECT query_id, vec_id, CAST(round(cosine * 1e4) AS BIGINT) AS cosine_e4,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) <= 5
"""

ORACLES["ann_ivf_topk"] = f"""
WITH cent AS (
    SELECT vec_id AS centroid_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8),
assigned AS (
    SELECT a.vec_id, a.embedding, b.centroid_id
    FROM embeddings a, (SELECT centroid_id, embedding FROM cent) b
    QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY {_COS} DESC, b.centroid_id ASC) = 1),
probes AS (
    SELECT a.vec_id AS query_id, a.embedding AS q_emb, b.centroid_id
    FROM embeddings a, (SELECT centroid_id, embedding FROM cent) b
    WHERE a.vec_id < 8
    QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY {_COS} DESC, b.centroid_id ASC) <= 2),
scored AS (
    SELECT p.query_id, v.vec_id,
           round(list_sum(list_transform(range(1, len(p.q_emb) + 1),
                 i -> p.q_emb[i]::DOUBLE * v.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(p.q_emb, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(v.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
    FROM probes p JOIN assigned v ON v.centroid_id = p.centroid_id)
SELECT query_id, vec_id, CAST(round(cosine * 1e4) AS BIGINT) AS cosine_e4,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) <= 5
"""

# cosine of a raw-float row vs a double-list centroid; sequential folds in
# both engines -> identical doubles
_COS_C = ("(list_sum(list_transform(range(1, len(e.embedding) + 1), "
          "i -> e.embedding[i]::DOUBLE * c.c_emb[i])) "
          "/ (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) "
          "* sqrt(list_sum(list_transform(c.c_emb, x -> x * x)))))")

# one k-means round: assign every vector to argmax round(cos, 6) (tiebreak
# centroid_id), then per-dim integer-quantized mean rounded to 6 decimals —
# mirrors simsearch.ivf_train exactly
_KM_ROUND = """
a{n} AS (
    SELECT e.vec_id, e.embedding, c.centroid_id
    FROM embeddings e, cent{p} c
    QUALIFY row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round({cos}, 6) DESC, c.centroid_id ASC) = 1),
cent{n} AS (
    SELECT centroid_id, list(c ORDER BY dim) AS c_emb FROM (
        SELECT centroid_id, dim,
               round((sum(vq) * 1.0 / count(*)) / 1e6, 6) AS c
        FROM (
            SELECT a.centroid_id, u.i - 1 AS dim,
                   CAST(round(a.embedding[u.i]::DOUBLE * 1e6) AS BIGINT) AS vq
            FROM a{n} a, unnest(range(1, len(a.embedding) + 1)) u(i))
        GROUP BY centroid_id, dim)
    GROUP BY centroid_id)"""

ORACLES["ann_ivf_kmeans"] = f"""
WITH cent0 AS (
    SELECT vec_id AS centroid_id, list_transform(embedding, x -> x::DOUBLE) AS c_emb
    FROM embeddings ORDER BY vec_id LIMIT 8),
{_KM_ROUND.format(n=1, p=0, cos=_COS_C).lstrip()},
{_KM_ROUND.format(n=2, p=1, cos=_COS_C).lstrip()},
assigned AS (
    SELECT e.vec_id, e.embedding, c.centroid_id
    FROM embeddings e, cent2 c
    QUALIFY row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round({_COS_C}, 6) DESC, c.centroid_id ASC) = 1),
probes AS (
    SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.centroid_id
    FROM embeddings e, cent2 c
    WHERE e.vec_id < 8
    QUALIFY row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {_COS_C} DESC, c.centroid_id ASC) <= 2),
scored AS (
    SELECT p.query_id, v.vec_id,
           round(list_sum(list_transform(range(1, len(p.q_emb) + 1),
                 i -> p.q_emb[i]::DOUBLE * v.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(p.q_emb, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(v.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
    FROM probes p JOIN assigned v ON v.centroid_id = p.centroid_id)
SELECT query_id, vec_id, CAST(round(cosine * 1e4) AS BIGINT) AS cosine_e4,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) <= 5
"""

# banded-candidate contract (simsearch.embedding_dup_pairs): candidates =
# pairs sharing >= 1 sign-bit band (8 bands x 8 dims), exact-cosine verified
ORACLES["emb_dups"] = f"""
WITH banded AS (
    SELECT vec_id, unnest(list_transform(range(8), b ->
        b || ':' || list_sum(list_transform(range(8), j ->
            CASE WHEN embedding[b * 8 + j + 1] > 0 THEN (1 << j) ELSE 0 END)))) AS band
    FROM embeddings),
cand AS (
    SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
    FROM banded l JOIN banded r ON l.band = r.band AND l.vec_id < r.vec_id)
SELECT c.vec_a, c.vec_b,
       CAST(round(round({_COS}, 6) * 1e4) AS BIGINT) AS cosine_e4
FROM cand c JOIN embeddings a ON a.vec_id = c.vec_a
            JOIN embeddings b ON b.vec_id = c.vec_b
WHERE round({_COS}, 6) >= 0.9
"""

def _raster_oracles() -> dict[str, str]:
    from . import cells as cell_mod
    from .proj import L as _L

    res, steps = RASTER_RES, POOL_STEPS
    size = cell_mod.cell_size(res)
    out = {}
    out["raster_density"] = _struct_sql(f"""
SELECT ix, iy, {_morton_sql(res)} AS cell_id, n
FROM ({_raster_grid_sql(res)})
""")
    out["raster_pool"] = _struct_sql(f"""
SELECT ix, iy, {_morton_sql(res - steps)} AS cell_id, CAST(n AS BIGINT) AS n FROM (
    SELECT (ix >> {steps}) AS ix, (iy >> {steps}) AS iy, sum(n) AS n
    FROM ({_raster_grid_sql(res)}) GROUP BY 1, 2)
""")
    out["raster_vectorize"] = _struct_sql(f"""
SELECT {_morton_sql(res)} AS cell_id, ix, iy, n,
       CAST(round((ix * {size!r} - {_L!r}) * 1000) AS BIGINT) AS xmin_mm,
       CAST(round((iy * {size!r} - {_L!r}) * 1000) AS BIGINT) AS ymin_mm,
       CAST(round(((ix * {size!r} - {_L!r}) + {size!r}) * 1000) AS BIGINT) AS xmax_mm,
       CAST(round(((iy * {size!r} - {_L!r}) + {size!r}) * 1000) AS BIGINT) AS ymax_mm
FROM ({_raster_grid_sql(res)}) WHERE n >= {VEC_MIN_N}
""")
    out["raster_zonal"] = _struct_sql(f"""
SELECT CAST(a.osm_id AS VARCHAR) AS zone,
       CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(c.n) AS BIGINT) AS n_points
FROM (SELECT ix, iy, n,
             (ix + 0.5) * {size!r} - {_L!r} AS cx,
             (iy + 0.5) * {size!r} - {_L!r} AS cy
      FROM ({_raster_grid_sql(res)})) c, adm a
WHERE a.admin_level = 6 AND {_pip('ae', 'a.osm_id', 'c.cx', 'c.cy')}
GROUP BY a.osm_id
""")
    return out


ORACLES.update(_raster_oracles())

ORACLES["media_stats"] = f"""
SELECT media_id, kind, CAST(octet_length(payload) AS BIGINT) AS n_bytes
FROM {_pq('media')}
"""

# fake_decode lane-0 feature recomputed from hex bytes: mean over
# ceil(n/8) lanes of byte(8*i) (zero-padded), /255, cast to float32 — the
# same float64 ops in the same order as the numpy kernel, so bit-identical
ORACLES["media_features"] = f"""
WITH m AS (SELECT media_id, kind, hex(payload) AS hx, octet_length(payload) AS n
           FROM {_pq('media')}),
d AS (
    SELECT media_id, kind,
           CASE WHEN n = 0 THEN CAST(0.0 AS REAL)
                ELSE CAST((list_sum(list_transform(range(0, (n + 7) // 8),
                          i -> CASE WHEN 8 * i < n
                               THEN ('0x' || substr(hx, 16 * i + 1, 2))::BIGINT
                               ELSE 0 END))
                       * 1.0 / ((n + 7) // 8)) / 255.0 AS REAL) END AS f0
    FROM m)
SELECT media_id, kind, CAST(round(f0 * 1e6) AS BIGINT) AS f0_e6,
       CAST(8 AS BIGINT) AS dim
FROM d
"""

ORACLES["media_frames"] = f"""
WITH m AS (SELECT media_id, hex(payload) AS hx, octet_length(payload) // 64 AS nf
           FROM {_pq('media')}),
f AS (SELECT media_id, hx, unnest(range(0, nf)) AS fi FROM m)
SELECT media_id, CAST(fi AS BIGINT) AS frame_idx, CAST(64 AS BIGINT) AS frame_bytes,
       substr(hx, 128 * fi + 1, 128) AS frame_hex
FROM f WHERE fi % 4 = 0
"""

ORACLES["events_windowed"] = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(value) * 100) AS BIGINT) AS value_c
FROM events GROUP BY 1, 2
"""

ORACLES["tpch_pricing"] = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_c,
       CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_price_c,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["topk_orders"] = """
SELECT CAST(o_custkey % 10 AS BIGINT) AS bucket,
       CAST(row_number() OVER (PARTITION BY o_custkey % 10
            ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rank,
       o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_c
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey % 10
        ORDER BY o_totalprice DESC, o_orderkey ASC) <= 5
"""


# ---------------------------------------------------------------------------
# the registry
# ---------------------------------------------------------------------------

QUERIES = {
    # ETL / star schema (optimize 001..014, SURVEY §2.1-2.4)
    "etl_struct_cities": q_struct_cities,
    "etl_struct_streets": q_struct_streets,
    "etl_struct_house": q_struct_house,
    "etl_wordlist": q_wordlist,
    "geohash_check": q_geohash_check,
    # OpenAddresses importer (S3/S4/A6)
    "oa_city": q_oa_city,
    "oa_street": q_oa_street,
    "oa_house": q_oa_house,
    "oa_license": q_oa_license,
    "oa_address_data": q_oa_address_data,
    # geocoders (J8/J10/J11/O1/O2)
    "reverse_geocode": q_reverse_geocode,
    "reverse_epsg3857": q_reverse_epsg3857,
    "forward_geocode": q_forward_geocode,
    "predict_text": q_predict_text,
    "format_addresses": q_format_addresses,
    # web mining (input_hint table)
    "extract_hashes": q_extract_hashes,
    "pages_latest": q_pages_latest,
    "domain_stats": q_domain_stats,
    "mine_addresses": q_mine_addresses,
    "mine_coordinates": q_mine_coordinates,
    "geocode_pages": q_geocode_pages,
    # training-data ops (documents/embeddings)
    "doc_tokens": q_doc_tokens,
    "doc_quality": q_doc_quality,
    "doc_langid": q_doc_langid,
    "doc_fingerprints": q_doc_fingerprints,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash_sigs": q_minhash_sigs,
    "dedup_minhash_lsh": q_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash_sigs": q_simhash_sigs,
    "dedup_simhash_pairs": q_simhash_pairs,
    "dedup_simhash_recursive": q_simhash_recursive,
    "ann_topk": q_ann_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivf_kmeans": q_ann_ivf_kmeans,
    "emb_dups": q_emb_dups,
    # raster <-> vector (north_rule)
    "raster_density": q_raster_density,
    "raster_pool": q_raster_pool,
    "raster_vectorize": q_raster_vectorize,
    "raster_zonal": q_raster_zonal,
    # multimodal plumbing
    "media_stats": q_media_stats,
    "media_features": q_media_features,
    "media_frames": q_media_frames,
    # time-series / relational breadth
    "events_windowed": q_events_windowed,
    "tpch_pricing": q_tpch_pricing,
    "topk_orders": q_topk_orders,
}


# ---------------------------------------------------------------------------
# round-1 late additions: imposm source filters (S1/S2) + unstructured
# forward geocoding (S8/F21 libpostal-fallback splitter)
# ---------------------------------------------------------------------------

def q_osm_source_filter(spark, sf_dir):
    """imposm mapping filters over the raw tagged-elements table: emits
    (table_name, osm_id) of every accepted element — reject rows must be
    absent (S2)."""
    from . import sources

    raw = spark.read.parquet(f"{FIX}/osm_raw_elements.parquet")
    t = sources.import_osm(raw)
    parts = [t[name].select(F.lit(name).alias("table_name"), "osm_id")
             for name in sorted(t)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLES["osm_source_filter"] = f"""
WITH raw AS (SELECT * FROM {_pq('osm_raw_elements')})
SELECT 'osm_admin' AS table_name, osm_id FROM raw
WHERE kind = 'polygon' AND json_extract_string(tags_json, '$.boundary') = 'administrative'
  AND json_extract_string(tags_json, '$.admin_level') IS NOT NULL
UNION ALL
SELECT 'osm_buildings', osm_id FROM raw
WHERE kind = 'polygon' AND json_extract_string(tags_json, '$.building') IS NOT NULL
UNION ALL
SELECT 'osm_house_number', osm_id FROM raw
WHERE kind = 'point' AND json_extract_string(tags_json, '$."addr:housenumber"') IS NOT NULL
UNION ALL
SELECT 'osm_postal_code', osm_id FROM raw
WHERE kind = 'polygon' AND json_extract_string(tags_json, '$.postal_code') IS NOT NULL
UNION ALL
SELECT 'osm_roads', osm_id FROM raw
WHERE kind = 'linestring' AND json_extract_string(tags_json, '$.highway') IS NOT NULL
  AND json_extract_string(tags_json, '$.name') IS NOT NULL
  AND coalesce(json_extract_string(tags_json, '$.area'), 'no') <> 'yes'
"""


def q_forward_unstructured(spark, sf_dir):
    from .forward import forward_geocode_unstructured

    st = geo_state(spark)
    q = spark.read.parquet(f"{FIX}/unstructured_queries.parquet")
    f = forward_geocode_unstructured(spark, st["tables"], q)
    return f.select("query_id", "house", "road", "house_number", "postcode", "city",
                    "county", "state",
                    _mm(F.col("x")).alias("x_mm"), _mm(F.col("y")).alias("y_mm"),
                    _mm(F.col("distance")).alias("distance_mm"),
                    F.round(F.col("trgm_dist") * 1e6).cast("long").alias("trgm_dist_e6"),
                    "license_id")


def _unstructured_fq_cte() -> str:
    """Expansion + split recomputed independently: the DuckDB side runs the
    SAME committed rule table (postal.expand_term_sql, RE2 regexes) over the
    raw search_term before the splitter regex — so the engine's Java-regex
    expansion is cross-checked by an RE2 recompute, then both flow through
    the identical parse/trigram/ranking dataflow."""
    from . import postal
    from .mine import ADDR_RE

    a = ("^" + ADDR_RE + "$").replace("'", "''")
    xt = postal.expand_term_sql("search_term")
    return f"""
    SELECT query_id,
           CASE WHEN regexp_extract(xterm, '{a}', 1) <> ''
                THEN regexp_extract(xterm, '{a}', 1) ELSE xterm END AS q_road,
           nullif(regexp_extract(xterm, '{a}', 2), '') AS q_hn,
           nullif(regexp_extract(xterm, '{a}', 3), '') AS q_pc,
           nullif(regexp_extract(xterm, '{a}', 4), '') AS q_city,
           country, "limit", radius::DOUBLE AS radius,
           CASE WHEN center_lat IS NOT NULL THEN radians(center_lon) * 6378137.0 END AS qx,
           CASE WHEN center_lat IS NOT NULL THEN ln(tan(pi() / 4 + radians(center_lat) / 2)) * 6378137.0 END AS qy
    FROM (SELECT *, {xt} AS xterm FROM {_pq('unstructured_queries')})"""


ORACLES["forward_unstructured"] = forward_oracle_sql(_unstructured_fq_cte())


def q_postal_expand(spark, sf_dir):
    """S8 (bin/postal_service.py /expand): the canonical rule-table
    expansion of each unstructured search term, as its own checked surface —
    the Spark (Java regex) chain vs the DuckDB (RE2) recompute."""
    from . import postal

    q = spark.read.parquet(f"{FIX}/unstructured_queries.parquet")
    return q.select("query_id", "search_term",
                    postal.expand_term_col(F.col("search_term")).alias("expanded"))


def _postal_expand_oracle() -> str:
    from . import postal

    return f"""
SELECT query_id, search_term, {postal.expand_term_sql('search_term')} AS expanded
FROM {_pq('unstructured_queries')}"""


ORACLES["postal_expand"] = _postal_expand_oracle()

QUERIES["osm_source_filter"] = q_osm_source_filter
QUERIES["forward_unstructured"] = q_forward_unstructured
QUERIES["postal_expand"] = q_postal_expand


ORACLES["dedup_simhash_recursive"] = ORACLES["dedup_simhash_pairs"]
