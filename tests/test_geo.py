"""Geo layer tests (SURVEY.md §2.9): GeoJSON FeatureCollection explode,
GeoJSON->WKT rendering, UTM->WGS84 inverse transform."""

from __future__ import annotations

import json
import math
import random

import numpy as np
import pytest

from bioeco_portal_etl_spark.geo.crs import _utm_to_wgs84_np, utm_to_wgs84
from bioeco_portal_etl_spark.geo.geojson import (
    _geojson_geom_to_wkt,
    explode_feature_collection,
    geojson_geom_type,
    geojson_to_wkt,
    point_geojson,
)
from bioeco_portal_etl_spark.geo.shapefile import parse_wkt

FC = json.dumps(
    {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "site-a"},
                "geometry": {"type": "Point", "coordinates": [2.5, 41.0]},
            },
            {
                "type": "Feature",
                "properties": {"name": "site-b"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]],
                },
            },
        ],
    }
)


def test_explode_feature_collection(spark):
    df = spark.createDataFrame(
        [(1, FC), (2, None), (3, "null")], "pid int, gj string"
    )
    out = explode_feature_collection(df, "gj").collect()
    by_pid = {}
    for r in out:
        by_pid.setdefault(r.pid, []).append(r)
    assert len(by_pid[1]) == 2
    assert by_pid[1][0].feature_properties["name"] == "site-a"
    # guarded rows survive with null geometry (posexplode_outer)
    assert by_pid[2][0].geometry_json is None
    assert by_pid[3][0].geometry_json is None


def test_geojson_to_wkt_types(spark):
    df = spark.createDataFrame(
        [
            ('{"type":"Point","coordinates":[2.5,41.0]}',),
            ('{"type":"LineString","coordinates":[[0,0],[1,1]]}',),
            ('{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}',),
            (None,),
        ],
        "g string",
    )
    rows = df.select(
        geojson_to_wkt("g").alias("wkt"), geojson_geom_type("g").alias("t")
    ).collect()
    assert rows[0].wkt == "POINT (2.5 41.0)" and rows[0].t == "POINT"
    assert rows[1].wkt == "LINESTRING (0 0, 1 1)"
    assert rows[2].wkt.startswith("POLYGON ((0 0, 1 0, 1 1, 0 0))")
    assert rows[3].wkt is None and rows[3].t is None


def _ref_wkt(s):
    """The pure-Python rendering: None where it cannot render the input."""
    if s is None:
        return None
    try:
        return _geojson_geom_to_wkt(json.loads(s))
    except (ValueError, TypeError, IndexError, KeyError, AttributeError):
        return None


def _spark_wkt(spark, inputs):
    df = spark.createDataFrame([(i, g) for i, g in enumerate(inputs)], "i int, g string")
    rows = df.select("i", geojson_to_wkt("g").alias("w")).collect()
    return [r.w for r in sorted(rows, key=lambda r: r.i)]


WKT_CASES = [
    ('{"type":"Point","coordinates":[2.5,41.0]}', "POINT (2.5 41.0)"),
    ('{"type":"MultiPoint","coordinates":[[1.5,2.5],[-3.25,4.0]]}', "MULTIPOINT (1.5 2.5, -3.25 4.0)"),
    ('{"type":"LineString","coordinates":[[0.5,0.5],[1.5,1.5]]}', "LINESTRING (0.5 0.5, 1.5 1.5)"),
    (
        '{"type":"MultiLineString","coordinates":[[[0.5,0.5],[1.5,1.5]],[[2.5,2.5],[3.5,3.5]]]}',
        "MULTILINESTRING ((0.5 0.5, 1.5 1.5), (2.5 2.5, 3.5 3.5))",
    ),
    (
        '{"type":"Polygon","coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,4.0],[0.0,0.0]],'
        '[[1.0,1.0],[2.0,1.0],[2.0,2.0],[1.0,1.0]]]}',
        "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 0.0), (1.0 1.0, 2.0 1.0, 2.0 2.0, 1.0 1.0))",
    ),
    (
        '{"type":"MultiPolygon","coordinates":[[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]],'
        '[[[5.0,5.0],[6.0,5.0],[6.0,6.0],[5.0,5.0]]]]}',
        "MULTIPOLYGON (((0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 0.0)), ((5.0 5.0, 6.0 5.0, 6.0 6.0, 5.0 5.0)))",
    ),
    # integer, negative and negative-zero coordinates
    ('{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}', "POLYGON ((0 0, 1 0, 1 1, 0 0))"),
    ('{"type":"Point","coordinates":[-170,-80]}', "POINT (-170 -80)"),
    ('{"type":"Point","coordinates":[-0.0,-12.75]}', "POINT (-0.0 -12.75)"),
    # 3-D positions: z is dropped
    ('{"type":"Point","coordinates":[1.5,2.5,10.0]}', "POINT (1.5 2.5)"),
    ('{"type":"LineString","coordinates":[[0,0,1],[1,1,2]]}', "LINESTRING (0 0, 1 1)"),
    # whitespace and key order in the input, lower-case type
    ('{ "coordinates" : [ 3 , 4 ] ,\n "type" : "point" }', "POINT (3 4)"),
    ('{"type":"Point","coordinates":[]}', "POINT EMPTY"),
    (
        '{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[1,2]},'
        '{"type":"LineString","coordinates":[[0,0],[1,1]]}]}',
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))",
    ),
    ('{"type":"GeometryCollection","geometries":[]}', "GEOMETRYCOLLECTION ()"),
    # no geometry
    (None, None),
    ("null", None),
    ('{"type":"Point","coordinates":[1,', None),
    ("not json", None),
    ('{"coordinates":[1,2]}', None),
    ('{"type":"Circle","coordinates":[1,2]}', None),
    ('{"type":"Circle","coordinates":[]}', None),
    # coordinates that do not fit the type
    ('{"type":"Point","coordinates":[5]}', None),
    ('{"type":"Polygon","coordinates":[[0,0],[1,1]]}', None),
    ('{"type":"LineString","coordinates":[[0,0],1]}', None),
    (
        '{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[1,2]},'
        '{"type":"Circle","coordinates":[1,2]}]}',
        None,
    ),
]


def test_geojson_to_wkt_table(spark):
    """Every case renders as the pure-Python reference does, text for text."""
    inputs = [g for g, _ in WKT_CASES]
    got = _spark_wkt(spark, inputs)
    for (g, want), w in zip(WKT_CASES, got):
        assert _ref_wkt(g) == want, g
        assert w == want, g


def test_geojson_geom_type_table(spark):
    df = spark.createDataFrame(
        [(i, g) for i, (g, _) in enumerate(WKT_CASES)], "i int, g string"
    )
    got = {r.i: r.t for r in df.select("i", geojson_geom_type("g").alias("t")).collect()}
    for i, (g, _) in enumerate(WKT_CASES):
        try:
            obj = json.loads(g) if g is not None else None
        except ValueError:
            obj = None
        want = obj["type"].upper() if isinstance(obj, dict) and "type" in obj else None
        assert got[i] == want, g


def test_geojson_to_wkt_nested_collection_is_null(spark):
    """Collections are rendered one level deep: a nested collection gives
    null (RFC 7946 §3.1.8 discourages nesting); the Python reference
    recurses."""
    g = (
        '{"type":"GeometryCollection","geometries":[{"type":"GeometryCollection",'
        '"geometries":[{"type":"Point","coordinates":[1,2]}]}]}'
    )
    assert _spark_wkt(spark, [g]) == [None]
    assert _ref_wkt(g) == "GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POINT (1 2)))"


def _random_geometry(rng, num):
    def pos():
        return [num(), num()]

    def ring(n):
        return [pos() for _ in range(n)]

    kind = rng.choice(["Point", "MultiPoint", "LineString", "MultiLineString", "Polygon", "MultiPolygon"])
    coords = {
        "Point": lambda: pos(),
        "MultiPoint": lambda: ring(rng.randint(1, 4)),
        "LineString": lambda: ring(rng.randint(2, 5)),
        "MultiLineString": lambda: [ring(rng.randint(2, 4)) for _ in range(rng.randint(1, 3))],
        "Polygon": lambda: [ring(rng.randint(4, 6)) for _ in range(rng.randint(1, 3))],
        "MultiPolygon": lambda: [[ring(4)] for _ in range(rng.randint(1, 3))],
    }[kind]()
    return json.dumps({"type": kind, "coordinates": coords})


def test_geojson_to_wkt_positional_parity(spark):
    """Integers and |x| in [1e-3, 1e7) print positionally on both sides
    (Java Double.toString, Python repr): the WKT text must be identical.
    Every perfbench and reference input lies in this range."""
    rng = random.Random(7)

    def num():
        r = rng.random()
        if r < 0.3:
            return rng.randint(-180, 180)
        x = 10 ** rng.uniform(-3, 7) * rng.choice([1, -1])
        return round(x, rng.randint(0, 8)) if r < 0.6 else x

    inputs = [_random_geometry(rng, num) for _ in range(2000)]
    got = _spark_wkt(spark, inputs)
    bad = [(g, w) for g, w in zip(inputs, got) if w != _ref_wkt(g)]
    assert not bad, bad[:3]


@pytest.mark.parametrize("x", [1e-5, -2.5e-4, 1.0123456e7, -3e12, 1e21, 5e-324])
def test_geojson_to_wkt_exponent_numbers_parse_alike(spark, x):
    """Outside [1e-3, 1e7) Jackson prints exponent form (1.0E-5) where
    Python prints 1e-05: the text differs, the doubles the shapefile
    writer reads from it do not."""
    g = json.dumps({"type": "LineString", "coordinates": [[x, 1.5], [2.5, x]]})
    (w,) = _spark_wkt(spark, [g])
    assert "E" in w
    assert parse_wkt(w) == parse_wkt(_ref_wkt(g))


def test_point_geojson_null_pairing(spark):
    df = spark.createDataFrame([(2.5, 41.0), (None, 41.0)], "lon double, lat double")
    rows = df.select(point_geojson("lon", "lat").alias("g")).collect()
    assert json.loads(rows[0].g)["coordinates"] == [2.5, 41.0]
    assert rows[1].g is None


def _forward_tm(lat_deg, lon_deg, zone, k0=0.9996, a=6378137.0, f_inv=298.257223563):
    """Independent forward Transverse Mercator (Snyder PP1395 eq. 8-9..8-13)
    used only to round-trip-check the engine's inverse."""
    e2 = (2 - 1 / f_inv) / f_inv
    ep2 = e2 / (1 - e2)
    lat, lon = math.radians(lat_deg), math.radians(lon_deg)
    lon0 = math.radians((zone - 1) * 6 - 180 + 3)
    n = a / math.sqrt(1 - e2 * math.sin(lat) ** 2)
    t = math.tan(lat) ** 2
    c = ep2 * math.cos(lat) ** 2
    A = (lon - lon0) * math.cos(lat)
    m = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * lat
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * math.sin(2 * lat)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * math.sin(4 * lat)
        - (35 * e2**3 / 3072) * math.sin(6 * lat)
    )
    easting = k0 * n * (
        A + (1 - t + c) * A**3 / 6 + (5 - 18 * t + t**2 + 72 * c - 58 * ep2) * A**5 / 120
    ) + 500000.0
    northing = k0 * (
        m + n * math.tan(lat) * (
            A**2 / 2
            + (5 - t + 9 * c + 4 * c**2) * A**4 / 24
            + (61 - 58 * t + t**2 + 600 * c - 330 * ep2) * A**6 / 720
        )
    )
    return easting, northing


def test_utm_inverse_anchor():
    """(500000 E, 0 N) on zone 30N is exactly the equator at 3°W."""
    lon, lat = _utm_to_wgs84_np(np.array([500000.0]), np.array([0.0]), 30, True)
    assert abs(lon[0] - (-3.0)) < 1e-9
    assert abs(lat[0]) < 1e-9


def test_utm_inverse_roundtrip():
    """Forward(Snyder) -> engine inverse recovers lat/lon to ~1e-6 deg
    across the Basque survey's UTM zone 30N area (index.Rmd:532-533)."""
    for lat0, lon0 in [(43.3, -2.9), (42.8, -1.7), (40.0, -3.0), (48.0, -0.5)]:
        e, n = _forward_tm(lat0, lon0, 30)
        lon, lat = _utm_to_wgs84_np(np.array([e]), np.array([n]), 30, True)
        assert abs(lon[0] - lon0) < 1e-6
        assert abs(lat[0] - lat0) < 1e-6


def test_utm_to_wgs84_dataframe(spark):
    e, n = _forward_tm(43.3, -2.9, 30)
    df = spark.createDataFrame([(e, n)], "x double, y double")
    row = utm_to_wgs84(df, "x", "y", zone=30).collect()[0]
    assert abs(row.lon - (-2.9)) < 1e-6
    assert abs(row.lat - 43.3) < 1e-6


def test_polygon_area_centroid_known_shapes(spark):
    """Shoelace measure (geo/measure.py): unit square and a 3-4-5 right
    triangle against hand-computed area/centroid; degenerate (collinear)
    ring yields area 0 + NULL centroid instead of a division error; both
    ring orientations give the same positive area."""
    from bioeco_portal_etl_spark.geo.measure import polygon_area_centroid

    polys = spark.createDataFrame(
        [
            # unit square, CCW: area 1, centroid (0.5, 0.5)
            (0, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]),
            # same square, CW (reversed)
            (1, [0.0, 0.0, 1.0, 1.0], [0.0, 1.0, 1.0, 0.0]),
            # right triangle (0,0)-(4,0)-(0,3): area 6, centroid (4/3, 1)
            (2, [0.0, 4.0, 0.0], [0.0, 0.0, 3.0]),
            # collinear: degenerate
            (3, [0.0, 1.0, 2.0], [0.0, 1.0, 2.0]),
        ],
        "poly_id int, xs array<double>, ys array<double>",
    )
    got = {
        r.poly_id: (r.area_e4, r.cx_e4, r.cy_e4)
        for r in polygon_area_centroid(polys).collect()
    }
    assert got[0] == (10000, 5000, 5000)
    assert got[1] == (10000, 5000, 5000)
    assert got[2] == (60000, 13333, 10000)
    assert got[3] == (0, None, None)
