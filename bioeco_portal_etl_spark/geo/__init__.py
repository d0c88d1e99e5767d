"""Geometry functions (SURVEY.md §2.9 G1-G8).

Spark has no native geometry type; geometries travel as WKT/GeoJSON
StringType columns (SURVEY.md §1.1). Construction, inspection, GeoJSON
parsing and GeoJSON->WKT rendering are pure Column expressions; CRS math is
an Arrow-batched pandas UDF (no shapely/pyproj in this environment — WKT
assembly and the UTM->WGS84 inverse Mercator math are implemented directly;
both are public textbook formulas)."""

from bioeco_portal_etl_spark.geo.shapefile import read_shapefile, write_shapefile
from bioeco_portal_etl_spark.geo.wkt import (
    geom_type,
    linestring_agg,
    multipoint_agg,
    point_wkt,
)

__all__ = [
    "geom_type",
    "linestring_agg",
    "multipoint_agg",
    "point_wkt",
    "read_shapefile",
    "write_shapefile",
]
