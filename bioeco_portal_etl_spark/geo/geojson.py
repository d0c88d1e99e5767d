"""GeoJSON <-> geometry bridging (SURVEY.md §2.9 G3/G4, §2.1 S6).

Reference parity:
  - parse_feature_collection -> notebooks/index.Rmd:407-408 (geojson_sf on a
    column value holding a whole FeatureCollection)
  - geometry_to_geojson      -> notebooks/index.Rmd:332 (sfc_geojson)

Strategy: GeoJSON FeatureCollections held in a string column are parsed with
``from_json`` + ``explode`` — declarative, codegen-friendly, no Python. The
geometry of each feature stays a compact JSON string and is converted to WKT
with built-in expressions too: ``from_json`` reads ``coordinates`` as a string,
which hands back the raw (Jackson re-serialized) coordinate text whatever its
nesting depth, and WKT is a text rewrite of it — ``[x,y(,z)]`` -> ``x y``,
then ``[]`` -> ``()``. Numbers keep Jackson's rendering (Java
``Double.toString``): the same text as Python's for integers and
|x| in [1e-3, 1e7); outside that range it is exponent form (``1.0E-5``),
which ``geo.shapefile.parse_wkt`` reads to the same double.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Schema for a FeatureCollection: geometry kept as raw JSON string so ragged
# coordinate nesting survives (coordinates depth differs per geometry type).
_FEATURE_SCHEMA = (
    "struct<type:string, features:array<struct<type:string, "
    "properties:map<string,string>, geometry:string>>>"
)


def explode_feature_collection(
    df: DataFrame, geojson_col: str, out_geom_col: str = "geometry_json"
) -> DataFrame:
    """Parse a FeatureCollection string column into one row per feature with
    the feature's geometry as a compact JSON string + its properties map.

    Null and the literal sentinel ``"null"`` are guarded (index.Rmd:403).
    """
    guarded = F.when(
        F.col(geojson_col).isNotNull() & (F.col(geojson_col) != "null"),
        F.col(geojson_col),
    )
    parsed = df.withColumn(
        "__fc",
        F.from_json(guarded, _FEATURE_SCHEMA, {"mode": "PERMISSIVE"}),
    )
    exploded = parsed.select(
        *df.columns,
        F.posexplode_outer(F.col("__fc.features")).alias("feature_idx", "__feat"),
    )
    return exploded.select(
        *df.columns,
        "feature_idx",
        F.col("__feat.geometry").alias(out_geom_col),
        F.col("__feat.properties").alias("feature_properties"),
    )


# Pure-Python rendering of a parsed geometry: the reference the tests hold
# geojson_to_wkt to.
def _ring_to_wkt(coords) -> str:
    return "(" + ", ".join(f"{p[0]} {p[1]}" for p in coords) + ")"


def _geojson_geom_to_wkt(geom: dict) -> str:
    t = geom.get("type", "").upper()
    c = geom.get("coordinates")
    if t == "POINT":
        return f"POINT ({c[0]} {c[1]})" if c else "POINT EMPTY"
    if t == "MULTIPOINT":
        return "MULTIPOINT (" + ", ".join(f"{p[0]} {p[1]}" for p in c) + ")"
    if t == "LINESTRING":
        return "LINESTRING " + _ring_to_wkt(c)
    if t == "MULTILINESTRING":
        return "MULTILINESTRING (" + ", ".join(_ring_to_wkt(r) for r in c) + ")"
    if t == "POLYGON":
        return "POLYGON (" + ", ".join(_ring_to_wkt(r) for r in c) + ")"
    if t == "MULTIPOLYGON":
        return (
            "MULTIPOLYGON ("
            + ", ".join("(" + ", ".join(_ring_to_wkt(r) for r in poly) + ")" for poly in c)
            + ")"
        )
    if t == "GEOMETRYCOLLECTION":
        geoms = geom.get("geometries", [])
        return "GEOMETRYCOLLECTION (" + ", ".join(_geojson_geom_to_wkt(g) for g in geoms) + ")"
    return None


# One geometry's fields; ``coordinates`` as a string keeps the raw nesting.
# GeometryCollection members are read one level deep.
_GEOM_SCHEMA = (
    "struct<type:string, coordinates:string, "
    "geometries:array<struct<type:string, coordinates:string>>>"
)
# array depth of ``coordinates`` per geometry type
_DEPTH = {
    "POINT": 1,
    "MULTIPOINT": 2,
    "LINESTRING": 2,
    "MULTILINESTRING": 3,
    "POLYGON": 3,
    "MULTIPOLYGON": 4,
}
# a position [x,y] or [x,y,z]: z is dropped
_POSITION = r"\[([^\[\],]+),([^\[\],]+)(?:,[^\[\],]+)*\]"
# an array element that is not a rewritten "x y" position (short or ragged)
_BARE_ELEMENT = r"(^|[\[,])[^\[\], ]+([\],]|$)"


def _coords_wkt(gtype: Column, coords: Column) -> Column:
    """WKT of one non-collection geometry from its upper-cased type and raw
    coordinate text; null for an unknown type or coordinates whose depth or
    positions do not fit the type (the Python rendering raises there)."""
    body = F.regexp_replace(coords, _POSITION, "$1 $2")
    depth = F.create_map(*[F.lit(x) for kv in _DEPTH.items() for x in kv])
    want = F.try_element_at(depth, gtype)  # null for an unknown type
    # the run of "[" before the first number must be the type's depth
    lead = F.regexp_extract(coords, r"^(\[*)[^\[\]]", 1)
    fits = F.when(coords == "[]", want.isNotNull()).otherwise(F.length(lead) == want)
    ok = fits & ~body.rlike(_BARE_ELEMENT)
    text = F.regexp_replace(F.translate(body, "[]", "()"), ",", ", ")
    point = F.when(
        F.coalesce(coords, F.lit("[]")) == "[]", F.lit("POINT EMPTY")
    ).when(ok, F.concat(F.lit("POINT ("), text, F.lit(")")))
    return F.when(gtype == "POINT", point).when(
        ok, F.concat(gtype, F.lit(" "), text)
    )


def geojson_to_wkt(col: Column | str) -> Column:
    """GeoJSON-geometry-string -> WKT, all built-in expressions.

    Null, ``"null"``, malformed JSON, a missing or unknown ``type`` and
    ill-shaped coordinates give null. 3-D positions drop z; an empty Point is
    ``POINT EMPTY``. A GeometryCollection renders its members (one level: a
    nested collection, or any member that renders null, makes it null)."""
    g = F.from_json(_col(col), _GEOM_SCHEMA)
    gtype = F.upper(g["type"])
    members = F.transform(
        g["geometries"], lambda m: _coords_wkt(F.upper(m["type"]), m["coordinates"])
    )
    collection = F.when(
        ~F.coalesce(F.exists(members, lambda w: w.isNull()), F.lit(False)),
        F.concat(
            F.lit("GEOMETRYCOLLECTION ("),
            F.coalesce(F.array_join(members, ", "), F.lit("")),
            F.lit(")"),
        ),
    )
    return F.when(gtype == "GEOMETRYCOLLECTION", collection).otherwise(
        _coords_wkt(gtype, g["coordinates"])
    )


def geojson_geom_type(col: Column | str) -> Column:
    """st_geometry_type for GeoJSON-string geometries: the upper-cased
    ``type``; null when the string is null or not a JSON object with one."""
    return F.upper(F.from_json(_col(col), "struct<type:string>")["type"])


def union_points_geojson_agg(lon: Column | str, lat: Column | str) -> Column:
    """Aggregate: the group's point union serialized as compact GeoJSON —
    the reference's ``sfc_geojson(st_union(geometry_sfc))`` at
    notebooks/index.Rmd:332 (A1e in its GeoJSON form; multipoint_agg is the
    same union in WKT). Pure built-ins, whole-stage codegen.

    Shape mirrors sf/geojsonsf: one distinct point -> ``Point``, several ->
    ``MultiPoint``, none (all coords null) -> empty ``GeometryCollection``.
    Members are de-duplicated (st_union collapses duplicates) and sorted
    canonically for partition-invariant output (the reference inherits
    union's internal order — documented divergence, same member set)."""
    lon_c, lat_c = _col(lon), _col(lat)
    pair = F.when(
        lon_c.isNotNull() & lat_c.isNotNull(),
        F.format_string("[%s,%s]", lon_c.cast("string"), lat_c.cast("string")),
    )
    pts = F.array_sort(F.array_distinct(F.collect_list(pair)))
    return (
        F.when(
            F.size(pts) == 0,
            F.lit('{"type":"GeometryCollection","geometries":[]}'),
        )
        .when(
            F.size(pts) == 1,
            F.concat(
                F.lit('{"type":"Point","coordinates":'),
                F.element_at(pts, 1),
                F.lit("}"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"type":"MultiPoint","coordinates":['),
                F.array_join(pts, ","),
                F.lit("]}"),
            )
        )
    )


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def point_geojson(lon: Column | str, lat: Column | str) -> Column:
    """G3 for the common case: point -> compact GeoJSON string, pure built-ins."""
    lon_c = F.col(lon) if isinstance(lon, str) else lon
    lat_c = F.col(lat) if isinstance(lat, str) else lat
    return F.when(
        lon_c.isNotNull() & lat_c.isNotNull(),
        F.format_string(
            '{"type":"Point","coordinates":[%s,%s]}',
            lon_c.cast("string"),
            lat_c.cast("string"),
        ),
    )
