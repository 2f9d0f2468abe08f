"""Tests of the benchmark's own code (no Spark session needed):

    python -m pytest perfbench/tests -q
"""

import math
import random

import numpy as np
import pytest

import checks
import workloads as wl
from spans import Span, union_length


@pytest.fixture(scope="module")
def world():
    return wl.bench_world()


def test_pages_deterministic_per_seed(world):
    a, pa = wl.pages_input(world, 400, 5)
    b, pb = wl.pages_input(world, 400, 5)
    c, _ = wl.pages_input(world, 400, 6)
    assert a == b and pa == pb
    assert [p["text"] for p in a] != [p["text"] for p in c]


def test_pages_shares(world):
    _, props = wl.pages_input(world, 400, 5)
    # every fourth page has nothing geographic, every fourth a coordinate
    assert props["geo_share"] == 0.75
    assert props["coordinate_share"] == 0.25
    # address pages whose house lacks a city or postcode read as street-only
    assert 0.15 <= props["address_share"] <= 0.25
    assert props["address_share"] + props["street_only_share"] == pytest.approx(0.5)


def test_forward_deterministic_per_seed(world):
    a, pa = wl.forward_input(world, 120, 3)
    b, pb = wl.forward_input(world, 120, 3)
    c, _ = wl.forward_input(world, 120, 4)
    assert a == b and pa == pb
    assert a != c


def test_forward_shares(world):
    rows, props = wl.forward_input(world, 600, 3)
    for shape in wl.FORWARD_SHAPES:
        assert props[f"{shape}_share"] == pytest.approx(1 / 6)
    assert props["house_number_share"] == pytest.approx(1 / 6)
    assert all(10 <= r["limit"] <= 20 for r in rows)
    by_shape = {s: rows[k::6] for k, s in enumerate(wl.FORWARD_SHAPES)}
    assert all(r["house_number"] and r["city"] for r in by_shape["road_hn_city"])
    assert all(r["postcode"] for r in by_shape["postcode"])
    assert all(r["country"] for r in by_shape["country"])
    assert all(r["center_lat"] is not None for r in by_shape["center"])
    streets = {h["street"] for h in world["osm_house_number"]}
    assert not any(r["road"] in streets for r in by_shape["no_match"])
    # a third of the road terms carry a typo, so they are not all street names
    typo = sum(r["road"] not in streets for r in by_shape["road"]) / len(by_shape["road"])
    assert 0.2 < typo < 0.5
    assert 0 < props["road_terms_per_query"] < 1


def test_digest_ignores_row_and_column_order():
    cols = ["url", "x", "road"]
    rows = [("a", 1.5, "Main"), ("b", None, "High"), ("a", 1.5, "Main")]
    d = checks.digest(rows, cols)
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    assert checks.digest(shuffled, cols) == d
    perm = [2, 0, 1]
    assert checks.digest([tuple(r[i] for i in perm) for r in rows],
                         [cols[i] for i in perm]) == d
    # a changed value or a lost duplicate changes the digest
    assert checks.digest([("a", 1.5, "Main"), ("b", None, "High")], cols) != d
    assert checks.digest(rows[:2] + [("a", 1.6, "Main")], cols) != d


def test_reverse_deterministic_per_seed(world):
    a, pa = wl.reverse_input(world, 200, 5)
    b, pb = wl.reverse_input(world, 200, 5)
    c, _ = wl.reverse_input(world, 200, 6)
    assert a == b and pa == pb
    assert a != c


def test_reverse_shares(world):
    from geospark.proj import lonlat_to_merc

    rows, props = wl.reverse_input(world, 1000, 7)
    assert all(r["limit"] == wl.REVERSE_LIMIT for r in rows)
    # a quarter of the house-anchored queries (70%) use a radius below G1
    assert 0.75 < props["radius_above_g1_share"] < 0.9
    assert 0.25 <= props["mega_share"] <= 0.35
    assert props["oa_in_radius_share"] == pytest.approx(0.1)
    assert 0.2 <= props["no_osm_share"] <= 0.45
    assert 0.2 <= props["g1_satisfied_share"] <= 0.6
    # every "empty" query has no OSM house within its radius
    houses = checks.Points(wl.house_xy(world))
    for r in rows:
        if wl.REVERSE_KINDS[r["query_id"] % len(wl.REVERSE_KINDS)] == "empty":
            x, y = lonlat_to_merc(r["lon"], r["lat"])
            assert not len(houses.within(float(x), float(y), r["radius"])[0])


def test_topk_mismatches():
    pts = checks.Points(np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 20.0], [300.0, 0.0]]))
    oa = checks.Points(np.array([[500.0, 0.0]]))
    q = ("q", 1.0, 0.0, 50.0, 2)

    def bad(rows, query=q, fallback=None):
        return checks.topk_mismatches(pts, [query], {"q": rows}, fallback)

    near, second = (0.0, 0.0, 1.0), (10.0, 0.0, 9.0)
    assert bad([near, second]) == 0
    assert bad([near, near]) == 0                 # one house, twice (two admin areas)
    assert bad([second, near]) == 0               # row order does not matter
    assert bad([near]) == 1                       # stops short of the limit
    assert bad([second, (0.0, 20.0, math.hypot(1, 20))]) == 1  # skips the nearest
    assert bad([near, second, near]) == 1         # more rows than the limit
    assert bad([near, (10.0, 5.0, math.hypot(9, 5))]) == 1     # not a house
    assert bad([near, (10.0, 0.0, 9.5)]) == 1     # wrong distance
    # nothing in radius: empty, or the nearest fallback points when given
    far = ("q", 480.0, 0.0, 50.0, 2)
    assert bad([], far) == 0
    assert bad([], far, oa) == 1
    assert bad([(500.0, 0.0, 20.0)], far, oa) == 0


def _span(name, start, end, parent=None):
    sp = Span(name, 0, parent, name, start, end)
    if parent is not None:
        parent.children.append(sp)
    return sp


def test_self_time_is_span_minus_union_of_children():
    batch = _span("batch", 0.0, 10.0)
    _span("mine", 1.0, 3.0, batch)
    _span("forward", 2.0, 5.0, batch)      # overlaps mine: counted once
    _span("spatial", 9.0, 12.0, batch)     # clipped at the batch end
    assert batch.self_s() == pytest.approx(10.0 - (4.0 + 1.0))
    assert _span("leaf", 0.0, 2.5).self_s() == pytest.approx(2.5)


def test_union_length():
    assert union_length([], 0, 5) == 0
    assert union_length([(1, 2), (1.5, 3), (4, 6)], 0, 5) == pytest.approx(3.0)
    assert union_length([(-1, 1)], 0, 5) == pytest.approx(1.0)
