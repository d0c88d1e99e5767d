"""The canonical-programs pipeline — SURVEY.md §3 entry points 1 and 3.

Re-expresses the reference's whole dataflow (notebooks/index.Rmd) as one
composable, data-driven module: survey + contacts ingest -> df_initial;
EuroSea ingest + merge aggregation -> df_eurosea; union + identity ->
df_combined; then the sync-staging derivations (users, EOV associations,
SQL script). Every step is a pure DataFrame -> DataFrame function so tests
can pin each intermediate (the reference's audits: 371 / 256 / 627 / 218).

Everything configurable in the reference (recode maps, EOV column lists,
frequency orderings, coordinate column names) is a PARAMETER here — the
reference hard-codes them inline (index.Rmd:105-117, :192-271, :728-739);
an engine drives them from config so new survey rounds don't change code.

Scale notes: the only shuffles are the EuroSea groupBy (A1) and the window
ops on identifier/username — both keyed on natural entity keys. Joins are
broadcast (dimension-scale sides). The 279->25 projection happens at scan
(Catalyst ReadSchema), so fact bytes never pay for dropped columns.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from bioeco_portal_etl_spark.functions.dates import end_of_year, year_to_date
from bioeco_portal_etl_spark.functions.recode import recode
from bioeco_portal_etl_spark.functions.strings import (
    blanks_to_null,
    make_identifier,
    str_trunc,
)
from bioeco_portal_etl_spark.geo.wkt import multipoint_agg
from bioeco_portal_etl_spark.operators.aggregate import (
    bool_any,
    distinct_concat,
    ordinal_min,
)
from bioeco_portal_etl_spark.operators.dedupe import (
    dedupe_keep_first,
    duplicate_audit,
    make_unique,
)
from bioeco_portal_etl_spark.operators.projection import (
    flag_columns,
    flag_columns_eq,
    pair_null,
    select_rename,
)
from bioeco_portal_etl_spark.operators.union import union_by_name
from bioeco_portal_etl_spark.operators.unpivot import unpivot_flags
from bioeco_portal_etl_spark.sinks.sqlscript import sql_update_script

# Default orderings/maps, matching the reference's semantics (index.Rmd:297-312
# frequency levels; :105-117 initial frequency map). Callers override per
# deployment — these are config DATA, not engine code.
FREQUENCY_LEVELS = [
    "sub_daily",
    "daily",
    "monthly",
    "quarterly",
    "twice_per_year",
    "annually",
    "every_2_to_5_years",
    "every_6_to_10_years",
    "every_10_years_or_more",
    "opportunistically",
]

INITIAL_FREQ_MAP = {
    "Sub-daily": "sub_daily",
    "Daily": "daily",
    "Monthly (12x per year)": "monthly",
    "Quarterly (4x per year)": "quarterly",
    "2x per year": "twice_per_year",
    "1x per year": "annually",
    "1x every 2 to 5 years": "every_2_to_5_years",
    "1x every 6-10 years": "every_6_to_10_years",
    "1x every >10 years": "every_10_years_or_more",
    "Opportunistically/highly irregular intervals": "opportunistically",
}


def ingest_contacts(
    raw: DataFrame, projection: dict[str, str]
) -> DataFrame:
    """EP1 step 1 (index.Rmd:56-66): canonicalize the contacts survey —
    project/rename then blank->null across every string column."""
    return blanks_to_null(select_rename(raw, projection))


def ingest_survey(
    raw: DataFrame,
    contacts: DataFrame,
    projection: dict[str, str],
    freq_map: dict[str, str] | None = None,
    eov_pattern: str = r"^eov_",
    url_trunc: int = 200,
    abstract_col: str | None = None,
    source: str | None = None,
) -> DataFrame:
    """EP1 steps 2-3 (index.Rmd:69-127): project the wide survey, broadcast
    left-join contacts on name, convert EOV flags, truncate urls, parse
    year-precision dates, recode frequency. ``abstract_col`` duplicates a
    canonical column as ``abstract`` (the reference selects
    abstract = prog_name); ``source`` stamps the provenance label the
    reference adds at ingest (index.Rmd:102)."""
    df = blanks_to_null(select_rename(raw, projection))
    if abstract_col is not None:
        df = df.withColumn("abstract", F.col(abstract_col))
    if source is not None:
        df = df.withColumn("source", F.lit(source))
    df = df.join(F.broadcast(contacts), "name", "left")
    df = flag_columns(df, eov_pattern)
    if "url" in df.columns:
        df = df.withColumn("url", str_trunc("url", url_trunc))
    start = year_to_date("start_year")
    df = (
        df.withColumn("start_date", start)
        .withColumn("end_date", end_of_year(year_to_date("end_year")))
        .drop("start_year", "end_year")
    )
    df = df.withColumn(
        "temporal_resolution", recode("frequency", freq_map or INITIAL_FREQ_MAP)
    ).drop("frequency")
    return df


def ingest_eurosea(
    raw: DataFrame,
    projection: dict[str, str],
    freq_map: dict[str, str],
    frequency_levels: list[str] | None = None,
    eov_pattern: str = r"^eov_",
    geometry: str = "wkt",
    url_trunc: int = 500,
    source: str | None = None,
) -> DataFrame:
    """EP1 steps 4-5 (index.Rmd:135-338): project, drop null names, "x"-flag
    EOVs, split the time range, parse dates, recode frequency (passthrough on
    unmatched), numeric-cast + pair-null coordinates, then the merge
    aggregation per (organization, name): min/max dates, any() flags,
    distinct-concat urls (truncated to ``url_trunc``, index.Rmd:337),
    ordinal-min frequency, "org - name" abstract, union of points.

    ``geometry``: "wkt" emits geometry_wkt (MULTIPOINT), "geojson" emits
    geometry_geojson (sfc_geojson(st_union(...)) parity, index.Rmd:332)."""
    levels = frequency_levels or FREQUENCY_LEVELS
    df = blanks_to_null(select_rename(raw, projection))
    df = df.filter(F.col("name").isNotNull())
    df = flag_columns_eq(df, eov_pattern, "x")
    parts = F.split(F.col("time_period"), r"[^0-9A-Za-z]+")
    # F.get (not getItem): bare "2012" has no second part; get returns null
    df = (
        df.withColumn("start_date", year_to_date(F.get(parts, 0)))
        .withColumn("end_date", end_of_year(year_to_date(F.get(parts, 1))))
        .drop("time_period")
    )
    df = df.withColumn("temporal_resolution", recode("frequency", freq_map)).drop(
        "frequency"
    )
    # try_cast, not cast: R's as.numeric is NA-on-malformed (the real data
    # holds degree-minute strings like "058;29.422'"); an ANSI session must
    # not change pipeline semantics
    df = df.withColumn("lat", F.trim(F.col("lat")).try_cast("double")).withColumn(
        "lon", F.trim(F.col("lon")).try_cast("double")
    )
    df = pair_null(df, "lat", "lon")

    if geometry == "geojson":
        from bioeco_portal_etl_spark.geo.geojson import union_points_geojson_agg

        geom_agg = union_points_geojson_agg("lon", "lat").alias("geometry_geojson")
    else:
        geom_agg = multipoint_agg("lon", "lat").alias("geometry_wkt")
    eov_cols = [c for c in df.columns if c.startswith("eov_")]
    aggs = [
        F.min("start_date").alias("start_date"),
        F.max("end_date").alias("end_date"),
        *[bool_any(c).alias(c) for c in eov_cols],
        str_trunc(distinct_concat("url"), url_trunc).alias("url"),
        ordinal_min("temporal_resolution", levels).alias("temporal_resolution"),
        geom_agg,
    ]
    out = df.groupBy("organization", "name").agg(*aggs)
    # index.Rmd:330 — abstract = concat(org, name, " - ") with NA dropped
    out = out.withColumn(
        "abstract", F.concat_ws(" - ", F.col("organization"), F.col("name"))
    )
    if source is not None:
        out = out.withColumn("source", F.lit(source))
    return out


def combine(
    initial: DataFrame,
    eurosea: DataFrame,
    source_labels: tuple[str, str] = ("survey", "eurosea"),
) -> DataFrame:
    """EP1 step 6 (index.Rmd:346-393): union by name (null-fill), assign a
    deterministic id, init has_shapefile=false (the EP2 spatial flow flips
    it), slugify, and make identifiers unique. Inputs that already carry a
    ``source`` column keep it (the reference stamps source at ingest).

    The reference's id = row_number over frame order; we order by
    (source, name, organization) — explicit, partition-invariant."""
    a, b = initial, eurosea
    if "source" not in a.columns:
        a = a.withColumn("source", F.lit(source_labels[0]))
    if "source" not in b.columns:
        b = b.withColumn("source", F.lit(source_labels[1]))
    u = union_by_name(a, b)
    # Total order: (source, name, organization) + a full-row hash tiebreak so
    # rows tied on all three keys (same-name survey rows) still order
    # deterministically under any partitioning. Rows identical in EVERY
    # column remain tied — but then either assignment yields the same output.
    order = [
        F.col("source"),
        F.col("name"),
        F.col("organization").asc_nulls_last(),
        F.xxhash64(*[F.col(c) for c in u.columns]),
    ]
    u = u.withColumn("id", F.row_number().over(Window.orderBy(*order)))
    u = u.withColumn("has_shapefile", F.lit(False))
    u = u.withColumn("identifier", make_identifier(F.col("name")))
    return make_unique(u, "identifier", [F.col("id").asc()])


def duplicate_identifier_report(combined: DataFrame) -> DataFrame:
    """index.Rmd:382-386 — every member of a pre-suffix collision group.
    Run BEFORE make_unique in the reference; here we recompute the raw slug
    (cheap, no shuffle) to audit the same thing."""
    audited = combined.withColumn("raw_identifier", make_identifier(F.col("name")))
    return (
        duplicate_audit(audited, ["raw_identifier"])
        .select("id", "name", "raw_identifier")
        .orderBy("raw_identifier", "id")
    )


def users(combined: DataFrame, pk_base: int = 2000) -> DataFrame:
    """EP3 users staging (index.Rmd:664-671): non-null emails, Django
    profile shape (first_name / last_name / email / username /
    is_superuser=false), dedupe by username keep-first (explicit id
    order), assign pks from pk_base."""
    u = combined.filter(F.col("contact_email").isNotNull()).select(
        F.col("contact_firstname").alias("first_name"),
        F.col("contact_lastname").alias("last_name"),
        F.col("contact_email").alias("email"),
        F.col("contact_email").alias("username"),
        F.lit(False).alias("is_superuser"),
        "id",
    )
    first = dedupe_keep_first(u, ["username"], [F.col("id").asc()])
    w = Window.orderBy(F.col("id").asc())
    return first.withColumn("pk", F.lit(pk_base) + F.row_number().over(w)).drop("id")


def eov_associations(
    combined: DataFrame, eov_order: list[str], id_col: str = "id"
) -> DataFrame:
    """EP3 association staging (index.Rmd:727-747): unpivot the boolean EOV
    columns into (id, eov_id) rows. ``eov_order`` defines eov_id — the
    reference's fixture pk order, NOT the frame's column order."""
    return unpivot_flags(combined, [id_col], eov_order, ordinal_col="eov_id")


def in_obis_statements(
    df: DataFrame, status_map: dict[str, str], name_col: str = "name"
) -> DataFrame:
    """The export_in_obis.R flow (P6 recode -> P19 quote -> K8 script).

    Statements come in ``id`` order (the combined frame's, which is the
    reference's frame order) when the frame has one: programs may share a
    name with different statuses, so which update runs last must not depend
    on the physical plan."""
    recoded = df.withColumn("__status", recode("in_obis", status_map, default_passthrough=False))
    if "id" in df.columns:
        recoded = recoded.orderBy("id")
    return sql_update_script(recoded, "layers_layer", "data_in_obis", "__status", name_col)
