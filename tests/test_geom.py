"""Golden tests for the pure-numpy geometry kernels.

Golden values come verbatim from the reference's SQL test suite:
/root/reference/tests/sql/*.sql + /root/reference/tests/expected/*.sql.out
"""

import numpy as np
import pytest

from mvt_oracle import clip_to_rect
from sparktiles.functions import geom as G


# ---------------------------------------------------------------- WKB

def test_wkb_point_srid_golden_hex():
    # reference tests/expected/ToPoint.sql.out v1
    g = ("Point", (0.0, 0.0))
    assert G.wkb_dumps(g, srid=900913).hex().upper() == (
        "010100002031BF0D0000000000000000000000000000000000"
    )


def test_wkb_roundtrip():
    cases = [
        ("Point", (1.5, -2.5)),
        ("LineString", np.array([[0.0, 0.0], [10.0, 5.0], [20.0, 0.0]])),
        ("Polygon", [np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)]),
        ("MultiPolygon", [[np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)]]),
    ]
    for g in cases:
        rt = G.wkb_loads(G.wkb_dumps(g, srid=3857))
        assert rt[0] == g[0]
        assert G.wkt_dumps(rt) == G.wkt_dumps(g)
    assert G.wkb_srid(G.wkb_dumps(cases[0], srid=900913)) == 900913


# ---------------------------------------------------------------- ToPoint goldens

TOPOINT_CASES = [
    # (wkt, expected point or None)  — reference tests/sql/ToPoint.sql + .out
    ("POINT(0 0)", (0.0, 0.0)),
    ("POLYGON EMPTY", None),
    ("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))", (5.0, 5.0)),
    ("POLYGON((0 0, 10 0, 0 10, 10 10, 0 0))", (5.0, 7.5)),
    ("MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0)))", (5.0, 5.0)),
    (
        "MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0)), ((20 20, 30 20, 30 30, 20 30, 20 20)))",
        (5.0, 5.0),
    ),
    ("POLYGON((50 5,10 8,10 10,100 190,150 30,150 10,50 5))", (92.5, 110.0)),
]


@pytest.mark.parametrize("wkt,expected", TOPOINT_CASES)
def test_to_point_goldens(wkt, expected):
    pt = G.to_point(G.wkt_loads(wkt))
    if expected is None:
        assert pt is None
    else:
        assert pt == pytest.approx(expected, abs=1e-9)


# ---------------------------------------------------------------- basics

def test_area_centroid_length():
    sq = G.wkt_loads("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert G.area(sq) == 100.0
    assert G.centroid(sq) == pytest.approx((5.0, 5.0))
    ls = G.wkt_loads("LINESTRING(0 0, 0 300)")
    assert G.length(ls) == 300.0
    assert G.n_points(sq) == 5


def test_simplify_dp():
    # nearly-collinear midpoint removed, corner kept
    ls = ("LineString", np.array([[0, 0], [5, 0.01], [10, 0], [10, 10]], dtype=float))
    s = G.simplify(ls, 0.1)
    assert [tuple(p) for p in s[1]] == [(0, 0), (10, 0), (10, 10)]
    # tolerance below deviation keeps the point
    s2 = G.simplify(ls, 0.001)
    assert len(s2[1]) == 4
    # polygon collapsing below 4 points becomes empty
    tri = G.wkt_loads("POLYGON((0 0, 10 0.01, 20 0, 0 0))")
    assert G.is_empty(G.simplify(tri, 1.0))


def test_clip_polygon_rect():
    sq = G.wkt_loads("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))")
    c = clip_to_rect(sq, 5, 5, 20, 20)
    assert c is not None and G.area(c) == 25.0
    assert clip_to_rect(sq, 20, 20, 30, 30) is None
    # fully inside unchanged area
    c2 = clip_to_rect(sq, -5, -5, 15, 15)
    assert G.area(c2) == 100.0


def test_clip_line_rect():
    ls = G.wkt_loads("LINESTRING(-5 5, 15 5)")
    c = clip_to_rect(ls, 0, 0, 10, 10)
    assert c[0] == "LineString"
    assert G.length(c) == 10.0
    # line leaving and re-entering -> MultiLineString
    zig = ("LineString", np.array([[-5, 1], [5, 1], [5, 20], [6, 20], [6, 1], [15, 1]], dtype=float))
    c2 = clip_to_rect(zig, 0, 0, 10, 10)
    assert c2[0] == "MultiLineString" and len(c2[1]) == 2


def test_point_in_polygon():
    concave = G.wkt_loads("POLYGON((50 5,10 8,10 10,100 190,150 30,150 10,50 5))")
    assert G.point_in_polygon(92.5, 110.0, concave)
    assert not G.point_in_polygon(0.0, 0.0, concave)
    # holes
    donut = (
        "Polygon",
        [
            np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float),
            np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float),
        ],
    )
    assert G.point_in_polygon(2.0, 2.0, donut)
    assert not G.point_in_polygon(5.0, 5.0, donut)
    xs = np.array([2.0, 5.0, 20.0])
    ys = np.array([2.0, 5.0, 20.0])
    assert G.points_in_polygon(xs, ys, donut).tolist() == [True, False, False]


def test_make_valid_bowtie():
    bow = G.wkt_loads("POLYGON((0 0, 10 0, 0 10, 10 10, 0 0))")
    fixed = G.make_valid(bow)
    assert fixed[0] == "MultiPolygon" and len(fixed[1]) == 2
    assert G.area(fixed) == pytest.approx(50.0)
    assert G.is_valid(fixed)
    assert not G.is_valid(bow)
