"""Skew handling (X8) + the JVM point-in-polygon join."""

from pyspark.sql import functions as F

from geospark import tiling


def test_mega_cell_detected_and_split(spark, geo):
    """The fixture mega-city holds >30% of all houses in one res-15 cell
    (FIXTURES.md §6); adaptive splitting to child resolution must break it
    into multiple balanced cells without changing row count."""
    h = geo["struct"]["struct_house"]
    total = h.count()
    hot = tiling.hot_cells(h, threshold=int(total * 0.2))
    assert len(hot) == 1 and max(hot.values()) > 0.3 * total

    split = tiling.adaptive_cells(h, hot, steps=3)
    assert split.count() == total
    new_hot = tiling.hot_cells(split, threshold=int(total * 0.2))
    assert new_hot == {}  # no cell above 20% anymore
    # cold cells untouched
    cold_before = h.filter(~F.col("cell_id").isin(list(hot))).select("cell_id")
    cold_after = split.join(h.select(F.col("cell_id").alias("orig")),
                            F.col("cell_id") == F.col("orig"), "left_semi")
    assert cold_after.count() == cold_before.count()


def test_adaptive_split_wired_into_etl(spark, geo):
    """build_struct_tables with a triggering hot-cell threshold must write a
    house table whose mega-cell ids are re-encoded at child resolution
    (north_rule 'adaptive cell splitting'), with reverse-geocode results
    bit-identical to the unsplit build (cell_id is a locality key only —
    the grid join keys on ix/iy)."""
    from geospark import etl
    from geospark.fixtures import FIXTURE_DIR
    from geospark.reverse import reverse_geocode
    from geospark.tables import GeocoderTables

    h0 = geo["struct"]["struct_house"]
    total = h0.count()
    thr = int(total * 0.2)  # the fixture mega-city holds >30% of all houses

    osm = geo["osm"]
    struct2 = etl.build_struct_tables(spark, osm, hot_cell_rows=thr)
    h2 = struct2["struct_house"]

    # row count preserved; the written table carries split (finer-res) ids
    assert h2.count() == total
    res_counts = {int(r["res"]): int(r["n"]) for r in
                  h2.groupBy(F.shiftright("cell_id", 53).alias("res"))
                    .agg(F.count("*").alias("n")).collect()}
    assert 15 in res_counts and any(r > 15 for r in res_counts), res_counts
    # no remaining cell above the threshold
    from geospark import tiling
    assert tiling.hot_cells(h2, thr) == {}

    # reverse results unchanged vs the session's default-threshold build
    rq = spark.read.parquet(f"{FIXTURE_DIR}/rev_queries.parquet")
    t2 = GeocoderTables(spark, struct2, osm["osm_admin"])
    base = reverse_geocode(spark, geo["tables"], rq, with_fallback=False)
    split = reverse_geocode(spark, t2, rq, with_fallback=False)
    key = lambda r: (r.query_id, r.road, r.house_number, round(r.distance, 9))
    assert sorted(map(key, base.collect())) == sorted(map(key, split.collect()))


def test_adaptive_cells_rejects_mixed_resolution(geo):
    """A hot-cell map mixing resolutions must fail loudly — the split kernel
    reads the resolution off one member, so mixing would silently mis-encode
    children (ADVICE r3)."""
    import pytest

    h = geo["struct"]["struct_house"]
    mixed = {(15 << 53) + 5: 10, (17 << 53) + 9: 10}
    with pytest.raises(ValueError, match="mixes resolutions"):
        tiling.adaptive_cells(h, mixed)


RINGS = "rings array<array<array<double>>>"


def _jvm_matches(spark, points, polys):
    """{point id: attrs} from spatial.pip_match over (osm_id, attr, rings)
    polygon rows and (pt, x, y) point rows."""
    from geospark import spatial

    fam = spatial.polygon_cells({"m": spark.createDataFrame(
        polys, f"osm_id long, attr string, {RINGS}")})
    pts = spark.createDataFrame(points, "pt long, x double, y double")
    out = spatial.pip_match(pts, fam).collect()
    got = {r.pt: list(r.m) for r in out}
    assert len(out) == len(got) == len(points)  # every point exactly once
    return got


def test_tiled_pip_left_join_identity(spark):
    """Every input point survives exactly once — points are never merged by
    (x, y) equality (round-3 verdict wrong-item 1): distinct points sharing
    coordinates keep their own rows, points inside two polygons keep ONE
    row holding both attrs, and points whose cell holds no polygon keep a
    row with an empty match array."""
    sq = [[[0.0, 0.0], [100.0, 0.0], [100.0, 100.0], [0.0, 100.0], [0.0, 0.0]]]
    half = [[[0.0, 0.0], [50.0, 0.0], [50.0, 100.0], [0.0, 100.0], [0.0, 0.0]]]
    points = [
        # two distinct points at IDENTICAL matched coordinates
        (1, 60.0, 60.0), (2, 60.0, 60.0),
        # two distinct points at IDENTICAL unmatched coordinates
        (3, 500.0, 500.0), (4, 500.0, 500.0),
        # inside both polygons; far from every polygon's cells
        (5, 10.0, 10.0), (6, -3e6, -3e6),
    ]
    got = _jvm_matches(spark, points, [(2, "zoneB", half), (1, "zoneA", sq)])
    assert got == {1: ["zoneA"], 2: ["zoneA"], 3: [], 4: [],
                   5: ["zoneA", "zoneB"], 6: []}


def test_tiled_pip_join_matches_broadcast(spark, geo):
    """The JVM join yields the same per-point attrs, in the same osm_id
    order, as the NumPy PreparedPolygons reference, for every fixture
    house against every polygon family the ETL probes."""
    import numpy as np

    from geospark import spatial

    osm = geo["osm"]
    pts = geo["struct"]["struct_house"].select("id", "x", "y")
    fams = {"pc": osm["osm_postal_code"].select("osm_id", F.col("postcode").alias("attr"), "rings")}
    for lvl in (8, 6, 4, 2):
        fams[f"a{lvl}"] = osm["osm_admin"].filter(F.col("admin_level") == lvl) \
            .select("osm_id", F.col("name").alias("attr"), "rings")
    got = spatial.pip_match(pts, spatial.polygon_cells(fams)).collect()
    assert len(got) == pts.count()
    xs = np.array([r.x for r in got])
    ys = np.array([r.y for r in got])
    for key, df in fams.items():
        ref = spatial.prepare_from_rows(df.collect(), attr_key="attr").match(xs, ys)
        assert [list(r[key]) for r in got] == ref, key
        assert any(len(m) > 1 for m in ref) or key != "a6"  # overlap covered


def test_pip_match_equals_points_in_polygon(spark, geo):
    """The JVM even-odd test equals geometry.points_in_polygon exactly,
    boundaries included: fixture polygons, points on vertices, on
    horizontal and vertical edges, inside holes, in overlapping polygons,
    and in a 12-edge star."""
    import math

    import numpy as np

    from geospark import geometry

    polys = [(r.osm_id, str(r.osm_id), [[list(p) for p in ring] for ring in r.rings])
             for name in ("osm_admin", "osm_postal_code")
             for r in geo["osm"][name].select("osm_id", "rings").collect()]
    holed = [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]],
             [[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0], [4.0, 4.0]]]
    over = [[[5.0, 5.0], [15.0, 5.0], [15.0, 15.0], [5.0, 15.0], [5.0, 5.0]]]
    star = [[[30.0 + (10.0 if k % 2 == 0 else 4.0) * math.cos(k * math.pi / 6),
              30.0 + (10.0 if k % 2 == 0 else 4.0) * math.sin(k * math.pi / 6)]
             for k in range(12)]]
    star[0].append(star[0][0])
    polys += [(-1, "holed", holed), (-2, "over", over), (-3, "star", star)]
    pts = [(20.0, 30.0), (30.0, 30.0), (25.0, 31.5), (40.0, 30.0), (34.0, 30.0)]
    for _, _, rings in polys:
        for ring in rings:
            r = np.asarray(ring)
            for (x0, y0), (x1, y1) in zip(r[:-1], r[1:]):
                pts += [(x0, y0), ((x0 + x1) / 2, (y0 + y1) / 2)]  # vertex, edge
            lo, hi = r.min(axis=0), r.max(axis=0)
            pts += [tuple((lo + hi) / 2), (lo[0], (lo[1] + hi[1]) / 2),
                    ((lo[0] + hi[0]) / 2, hi[1]), tuple(hi + 1.0)]
    pts += [(5.0, 5.0), (4.0, 5.0), (5.0, 4.0), (5.0, 6.0), (6.0, 5.0),
            (7.0, 7.0), (12.0, 12.0), (10.0, 7.0), (7.0, 10.0)]
    points = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    got = _jvm_matches(spark, points, polys)
    xs = np.array([p[1] for p in points])
    ys = np.array([p[2] for p in points])
    want = {i: [] for i, _, _ in points}
    for osm_id, attr, rings in sorted(polys, key=lambda p: p[0]):
        inside = geometry.points_in_polygon(xs, ys, geometry.as_rings(rings))
        for i in np.flatnonzero(inside):
            want[points[i][0]].append(attr)
    assert got == want
    # the probes reach both sides of the boundary rule
    assert any(len(v) > 1 for v in want.values())
    assert sum(not v for v in want.values()) > 10
