"""Raster <-> vector operators (north_rule: H3/S2 index, PIP, kNN,
raster<->vector)."""

from pyspark.sql import functions as F

from geospark import raster


def test_rasterize_counts_conserved(spark, geo):
    h = geo["struct"]["struct_house"]
    r = raster.rasterize(h, 15)
    assert r.agg(F.sum("n")).first()[0] == h.count()
    # every cell id carries the res-15 tag and decodes back to its (ix, iy)
    bad = r.filter(F.shiftright("cell_id", 53) != 15).count()
    assert bad == 0


def test_pool_is_exact_pyramid(spark, geo):
    r15 = raster.rasterize(geo["struct"]["struct_house"], 15)
    r13 = raster.pool(r15, steps=2, res=15)
    assert r13.agg(F.sum("n")).first()[0] == r15.agg(F.sum("n")).first()[0]
    # parents are exactly the shifted children keys
    parents = {(row.ix, row.iy) for row in r13.select("ix", "iy").collect()}
    children = {(row.ix >> 2, row.iy >> 2) for row in r15.select("ix", "iy").collect()}
    assert parents == children
    # res=None path reads the carried res column and agrees
    r13b = raster.pool(r15, steps=2)
    assert sorted((row.ix, row.iy, row.n) for row in r13.collect()) == \
           sorted((row.ix, row.iy, row.n) for row in r13b.collect())


def test_pool_rejects_mixed_resolution_inference(spark, geo):
    """pool(res=None) on a union of pyramid levels must raise instead of
    pooling with an arbitrary level's shift (ADVICE r3)."""
    import pytest

    r15 = raster.rasterize(geo["struct"]["struct_house"], 15)
    mixed = r15.unionByName(raster.pool(r15, steps=2, res=15))
    with pytest.raises(ValueError, match="mixed-resolution"):
        raster.pool(mixed, steps=1)
    # explicit res still works on a filtered level
    assert raster.pool(mixed.filter("res = 13"), steps=1, res=13).count() > 0


def test_vectorize_rings_are_cell_bounds(spark, geo):
    import numpy as np

    from geospark import cells

    r = raster.rasterize(geo["struct"]["struct_house"], 15)
    v = raster.vectorize(r, 15, F.col("n") >= 5)
    rows = v.collect()
    assert rows
    size = cells.cell_size(15)
    from geospark.proj import L
    for row in rows[:20]:
        ring = row.rings[0]
        assert len(ring) == 5 and ring[0] == ring[4]  # closed
        assert np.isclose(ring[0][0], row.ix * size - L)
        assert np.isclose(ring[2][1], (row.iy + 1) * size - L)
        assert row.xmax > row.xmin and row.ymax > row.ymin
    # vector output feeds the engine's own PIP machinery: the cell's center
    # is inside its own ring
    from geospark.geometry import as_rings, points_in_polygon
    row = rows[0]
    cx, cy = (row.xmin + row.xmax) / 2, (row.ymin + row.ymax) / 2
    assert points_in_polygon(np.array([cx]), np.array([cy]), as_rings(row.rings))[0]


def test_zonal_stats_tiled_equals_broadcast(geo):
    """zonal_stats equals a PreparedPolygons reference computed here: the
    raster cells whose center lies in each zone, counted and summed."""
    import numpy as np

    from geospark import cells, spatial
    from geospark.proj import L

    zones = geo["osm"]["osm_admin"].filter(F.col("admin_level") == 6)
    r = raster.rasterize(geo["struct"]["struct_house"], 15)
    got = {(row.zone, row.n_cells, row.n_points)
           for row in raster.zonal_stats(r, zones, 15).collect()}

    prep = spatial.prepare_from_rows(
        zones.select("osm_id", F.col("osm_id").cast("string").alias("zone"), "rings")
        .collect(), attr_key="zone")
    cells15 = r.select("ix", "iy", "n").collect()
    size = cells.cell_size(15)
    cx = (np.array([c.ix for c in cells15]) + 0.5) * size - L
    cy = (np.array([c.iy for c in cells15]) + 0.5) * size - L
    want: dict = {}
    for c, matched in zip(cells15, prep.match(cx, cy)):
        for zone in matched:
            n_cells, n_points = want.get(zone, (0, 0))
            want[zone] = (n_cells + 1, n_points + c.n)
    assert got == {(z, nc, npts) for z, (nc, npts) in want.items()} and got


def test_zonal_stats_multiplicity_and_totals(geo):
    """Overlapping zones each receive the cell (reference PIP-join
    multiplicity): the fixture's Overlap Special District (level 6) overlaps
    Nordland County 1, so their shared cells count in BOTH zones."""
    zones = geo["osm"]["osm_admin"].filter(F.col("admin_level") == 6)
    r = raster.rasterize(geo["struct"]["struct_house"], 15)
    out = {row.zone: (row.n_cells, row.n_points)
           for row in raster.zonal_stats(r, zones, 15).collect()}
    assert len(out) >= 8  # all 8 counties hold houses
    # zone ids are polygon osm_ids as strings
    valid = {str(row.osm_id) for row in zones.select("osm_id").collect()}
    assert set(out) <= valid
    # totals: per-zone point counts cannot exceed the corpus, and the
    # overlap district's points are double-counted somewhere
    total_houses = geo["struct"]["struct_house"].count()
    assert all(npts <= total_houses for _, npts in out.values())
    assert sum(npts for _, npts in out.values()) >= total_houses * 0.9
