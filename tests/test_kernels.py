"""Unit tests for the pure kernels (SURVEY.md §5.1) — no Spark needed."""

import math

import numpy as np
import pytest

from geospark import cells, extract, formatter, geometry, metaphone, proj, text


# ---------------------------------------------------------------------- proj
def test_mercator_roundtrip():
    lon = np.array([-180.0, -9.738889, 0.0, 9.738889, 13.4, 179.9])
    lat = np.array([-85.0, -47.5, 0.0, 47.550535, 52.52, 84.9])
    x, y = proj.lonlat_to_merc(lon, lat)
    lon2, lat2 = proj.merc_to_lonlat(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_mercator_known_values():
    # reference example point: lon 9.738889 lat 47.550535
    # (sql/geocoder/004-reverse_geocoding.sql:101)
    x, y = proj.lonlat_to_merc(9.738889, 47.550535)
    assert abs(float(x) - 1084128.1643722132) < 1e-6  # x = R * radians(lon)
    assert abs(float(y) - 6032402.96884676) < 1e-6


# --------------------------------------------------------------------- cells
def test_cell_encode_decode_roundtrip():
    rng = np.random.RandomState(7)
    x = rng.uniform(-proj.L, proj.L, 1000)
    y = rng.uniform(-proj.L, proj.L, 1000)
    for res in (0, 5, 15, 26):
        c = cells.encode(x, y, res)
        r, ix, iy = cells.decode(c)
        assert (r == res).all()
        jx, jy = cells.xy_to_ij(x, y, res)
        assert (ix == jx).all() and (iy == jy).all()


def test_cell_parent_child():
    c = int(cells.encode(np.array([1000.0]), np.array([2000.0]), 16)[0])
    p = int(cells.parent(np.array([c]))[0])
    kids = cells.children(p)
    assert c in set(kids.tolist())


def test_covering_cells():
    size = cells.cell_size(10)
    cov = cells.covering_cells_bbox(
        np.array([-size * 0.4]), np.array([-size * 0.4]),
        np.array([size * 0.4]), np.array([size * 0.4]), 10)
    assert len(cov[0]) == 4  # window straddles the origin corner


def test_res_for_radius():
    res = cells.res_for_radius(100.0)
    assert cells.cell_size(res) >= 100.0 > cells.cell_size(res + 1)


# ------------------------------------------------------------------ geometry
SQUARE = [np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)]
CONCAVE = [np.array([[0, 0], [10, 0], [10, 10], [5, 5], [0, 10], [0, 0]], dtype=float)]
HOLED = [
    np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float),
    np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float),
]


def test_pip_convex_concave_holes():
    px = np.array([2.0, 15.0, 5.0, 5.0, 2.0, 5.0])
    py = np.array([5.0, 5.0, 9.0, 5.5, 2.0, -1.0])
    assert geometry.points_in_polygon(px, py, SQUARE).tolist() == [
        True, False, True, True, True, False]
    # (5, 9) and (5, 5.5) sit inside the top notch of the concave polygon
    assert geometry.points_in_polygon(px, py, CONCAVE).tolist() == [
        True, False, False, False, True, False]
    # (5, 5.5) falls in the hole
    assert geometry.points_in_polygon(px, py, HOLED).tolist() == [
        True, False, True, False, True, False]


def test_pip_brute_force_agreement():
    rng = np.random.RandomState(42)
    ring = np.array(
        [[math.cos(t) * (1.5 + 0.5 * math.sin(5 * t)),
          math.sin(t) * (1.5 + 0.5 * math.sin(5 * t))]
         for t in np.linspace(0, 2 * math.pi, 61)])
    ring[-1] = ring[0]
    px, py = rng.uniform(-2.2, 2.2, 500), rng.uniform(-2.2, 2.2, 500)
    got = geometry.points_in_polygon(px, py, [ring])
    # cross-check with an independent winding-number implementation
    for i in (0, 13, 99, 250, 499):
        wn = 0.0
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            wn += math.atan2((x0 - px[i]) * (y1 - py[i]) - (x1 - px[i]) * (y0 - py[i]),
                             (x0 - px[i]) * (x1 - px[i]) + (y0 - py[i]) * (y1 - py[i]))
        assert got[i] == (abs(wn) > math.pi)


def test_centroid():
    cx, cy = geometry.polygon_centroid(SQUARE)
    assert abs(cx - 5.0) < 1e-12 and abs(cy - 5.0) < 1e-12
    cx, cy = geometry.polygon_centroid(HOLED)
    assert abs(cx - 5.0) < 1e-9 and abs(cy - 5.0) < 1e-9


def test_wkb_roundtrip():
    h = geometry.ewkb_point_hex(1084124.3, 6025498.2)
    assert h.startswith("0101000020110f0000")
    typ, (x, y) = geometry.parse_wkb_hex(h)
    assert typ == "point" and x == pytest.approx(1084124.3) and y == pytest.approx(6025498.2)


# ---------------------------------------------------------------------- text
def test_trigrams_pg_semantics():
    assert text.trigrams("cat") == frozenset(["  c", " ca", "cat", "at "])
    # two words each padded separately; case-folded; punctuation separates
    assert text.trigrams("Foo-Bar") == text.trigrams("foo bar")


def test_similarity_golden_pg_trgm():
    # golden values computed with pg_trgm's formula shared/union
    assert text.similarity("cat", "cats") == pytest.approx(0.5)
    assert text.similarity("word", "words") == pytest.approx(4 / 7)
    assert text.similarity("foo bar", "bar foo") == pytest.approx(1.0)
    assert text.similarity("abc", "abc") == pytest.approx(1.0)
    assert text.similarity("", "abc") == 0.0
    assert text.similarity("Georgenstr", "Georgenstraße") > 0.3  # reference demo query
    assert text.is_similar("Dickenr", "Dickenreuth")


def test_levenshtein_and_prefix():
    assert text.levenshtein("kitten", "sitting") == 3
    assert text.levenshtein("", "abc") == 3
    # substr(word, 0, n+1) quirk: compare only the first len(input) chars
    assert text.prefix_levenshtein("dickenreuth", "dickenr") == 0
    assert text.prefix_levenshtein("dackenreuth", "dickenr") == 1


def test_py_title_vs_initcap_divergence():
    assert text.py_title("o'brien 12a") == "O'Brien 12A"  # initcap → "O'brien 12a"


# ----------------------------------------------------------------- metaphone
def test_double_metaphone_vectors():
    vectors = {
        "smith": ("SM0", "XMT"),
        "schmidt": ("XMT", "SMT"),
        "jose": ("HS", "HS"),
        "cabrillo": ("KPRL", "KPR"),
        "knight": ("NT", "NT"),
        "wright": ("RT", "RT"),
        "xavier": ("SF", "SFR"),
        "michael": ("MKL", "MXL"),
        "thomas": ("TMS", "TMS"),
        "school": ("SKL", "SKL"),
    }
    for word, expected in vectors.items():
        assert metaphone.double_metaphone(word) == expected, word


def test_double_metaphone_edge_inputs():
    assert metaphone.double_metaphone("") == ("", "")
    assert metaphone.double_metaphone("123") == ("", "")
    assert metaphone.dmetaphone_alt("smith") == "XMT"


# ------------------------------------------------------------------- extract
def test_extract_deterministic_and_spec():
    html = (b"<html><head><title>x</title></head><body>"
            b"<h1>Main Street 12</h1><p>Visit  us &amp; say hi.</p>"
            b"<script>var x=1;</script><div>Second   line</div></body></html>")
    out = extract.extract_text(html)
    assert out == "Main Street 12\nVisit us & say hi.\nSecond line"
    assert extract.extract_text(html) == out  # pure function


def test_extract_entities_and_comments():
    assert extract.extract_text(b"a &lt;b&gt; <!-- hidden -->&#8364; c") == "a <b> € c"


# ----------------------------------------------------------------- formatter
def test_format_default_template():
    addr = {"road": "Georgenstraße", "house_number": "34",
            "postcode": "92224", "city": "Amberg", "county": None, "state": None}
    out = formatter.format_address(addr)
    assert out == "Georgenstraße 34\n92224 Amberg"


def test_format_first_helper_fallback():
    addr = {"road": "Main St", "house_number": "1", "state": "Bavaria"}
    out = formatter.format_address(addr)
    # city/town/village all missing -> state wins inside {{#first}}
    assert "Bavaria" in out
    assert out.splitlines()[0] == "Main St 1"


def test_format_country_specific():
    addr = {"road": "Main St", "house_number": "1", "city": "Springfield",
            "postcode": "62704", "state_code": "IL"}
    assert formatter.format_address(addr, country="us") == \
        "1 Main St\nSpringfield, IL 62704"


def test_jvm_trigram_similarity_matches_kernel(spark, geo):
    """The JVM similarity (tables.sim_from_arrays over trigram_tokens_col)
    must equal the text.py kernel exactly — on the fixture street names and
    house numbers, and on edge strings (empty, one character,
    punctuation-only, umlauts/eszett)."""
    from pyspark.sql import functions as F

    from geospark.tables import sim_from_arrays, trigram_tokens_col

    assert text.trigrams("a") == frozenset(["  a", " a "])
    names = sorted(r[0] for r in geo["struct"]["struct_streets"]
                   .select("name").distinct().collect() if r[0] is not None)
    hns = sorted(r[0] for r in geo["struct"]["struct_house"]
                 .select("house_number").distinct().collect() if r[0] is not None)
    edges = ["", "a", "Z", "-", "!!!", " . , ", "Müller", "MÜLLER", "Straße",
             "Strasse", "Großes Öd", "12a", "1/2"]
    pairs = []
    for vals in (names, hns):
        # every value against its neighbours: near-duplicates, shared
        # suffixes and disjoint pairs alike
        pairs += [(a, b) for i, a in enumerate(vals) for b in vals[i:i + 3]]
    pairs += [(a, b) for a in edges for b in edges + names[:5] + hns[:5]]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = df.select("a", "b", sim_from_arrays(
        trigram_tokens_col(F.col("a")), trigram_tokens_col(F.col("b"))).alias("s")).collect()
    assert len(got) == len(pairs)
    bad = [(r.a, r.b, r.s, text.similarity(r.a, r.b)) for r in got
           if r.s != text.similarity(r.a, r.b)]
    assert not bad, bad[:10]
