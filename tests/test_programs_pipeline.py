"""End-to-end canonical-programs pipeline test (SURVEY.md §3 EP1/EP3).

Synthetic fixtures follow FIXTURES.md domains, with the dirty cases the
reference's operators must survive: multiline quoted GeoJSON, ""/NA nulls,
accents + punctuation in names, >58-char names, slug collisions within and
across sources, "active" end years, unmatched frequency strings (recode
passthrough), "x "-style flag values, trailing-space coordinates, one-sided
missing coordinates, duplicate (org, name) EuroSea groups.
"""

from __future__ import annotations

import csv

import pyspark.sql.functions as F
import pytest

from bioeco_portal_etl_spark.geo.geojson import explode_feature_collection
from bioeco_portal_etl_spark.pipelines.programs import (
    combine,
    duplicate_identifier_report,
    eov_associations,
    in_obis_statements,
    ingest_contacts,
    ingest_eurosea,
    ingest_survey,
    users,
)
from bioeco_portal_etl_spark.sources.files import read_csv

LONG_NAME = "Mega Observatory Of The Northern And Southern Atlantic Basin Zones"
FC = (
    '{"type": "FeatureCollection",\n "features": [{"type": "Feature",\n'
    ' "properties": {},\n "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}}]}'
)
LONG_URL = "https://example.org/" + "p/" * 120  # > 200 chars

CONTACTS_ROWS = [
    ["prog_name", "First", "Last", "Email", "GeoJSON", "Junk"],
    ["Coral Watch", "Ann", "Lee", "ann@x.org", FC, "z"],
    ["Seagrass Net", "", "Um", "", "null", "z"],
    ["Ghost Program", "Bo", "Ka", "bo@x.org", "NA", "z"],
]

SURVEY_ROWS = [
    ["prog_name", "Abbrev", "URL", "StartYear", "EndYear", "Freq", "Birds", "Fish", "In_OBIS", "Noise1"],
    ["Coral Watch", "CW", "https://cw.org", "1990", "2018", "Daily", "Yes", "NA", "Yes, all data.", "n"],
    ["Seagrass Net", "SN", LONG_URL, "2005", "active", "1x per year", "NA", "present", "No.", "n"],
    ["Doppel Prógram", "DP", "NA", "NA", "NA", "sometimes-ish", "NA", "NA", "NA", "n"],
    ["Doppel Program", "DQ", "NA", "2010", "2012", "Sub-daily", "x", "NA", "NA", "n"],
    [LONG_NAME, "MO", "NA", "1999", "2001", "2x per year", "NA", "NA", "NA", "n"],
]

EUROSEA_ROWS = [
    ["Country", "Organisation", "Program name", "Time period", "Frequency", "Microbes", "BirdsE", "Lat", "Lon", "Website"],
    ["NL", "OrgA", "North Sea Monitor", "1979-current", "weekly-ish", "x", "NA", "52.1", "4.3", "https://a.org"],
    ["NL", "OrgA", "North Sea Monitor", "2009-2018", "Daily", "NA", "x ", "28.166667 ", "NA", "https://b.org"],
    ["NL", "OrgA", "North Sea Monitor", "2012", "Daily", "NA", "NA", "53.0", "5.0", "https://a.org"],
    ["ES", "OrgB", "Coral Watch", "2015-current", "Daily", "NA", "NA", "40.0", "-3.0", "NA"],
    ["ES", "OrgB", "", "2015-current", "Daily", "NA", "NA", "40.0", "-3.0", "NA"],
]

EUROSEA_FREQ_MAP = {"Daily": "daily", "Weekly": "weekly"}

CONTACTS_PROJ = {
    "prog_name": "name",
    "First": "contact_firstname",
    "Last": "contact_lastname",
    "Email": "contact_email",
    "GeoJSON": "geometry_geojson",
}
SURVEY_PROJ = {
    "prog_name": "name",
    "Abbrev": "abbreviation",
    "URL": "url",
    "StartYear": "start_year",
    "EndYear": "end_year",
    "Freq": "frequency",
    "Birds": "eov_birds",
    "Fish": "eov_fish",
    "In_OBIS": "in_obis",
}
EUROSEA_PROJ = {
    "Program name": "name",
    "Organisation": "organization",
    "Time period": "time_period",
    "Frequency": "frequency",
    "Microbes": "eov_microbes",
    "BirdsE": "eov_birds",
    "Lat": "lat",
    "Lon": "lon",
    "Website": "url",
}


def _write_csv(path, rows):
    with open(path, "w", newline="") as f:
        csv.writer(f, quoting=csv.QUOTE_MINIMAL).writerows(rows)


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures")
    _write_csv(d / "contacts.csv", CONTACTS_ROWS)
    _write_csv(d / "survey.csv", SURVEY_ROWS)
    _write_csv(d / "eurosea.csv", EUROSEA_ROWS)
    contacts = ingest_contacts(read_csv(spark, str(d / "contacts.csv")), CONTACTS_PROJ)
    initial = ingest_survey(
        read_csv(spark, str(d / "survey.csv")), contacts, SURVEY_PROJ
    )
    eurosea = ingest_eurosea(
        read_csv(spark, str(d / "eurosea.csv")), EUROSEA_PROJ, EUROSEA_FREQ_MAP
    )
    combined = combine(initial, eurosea)
    return {
        "contacts": contacts,
        "initial": initial,
        "eurosea": eurosea,
        "combined": combined,
    }


def test_multiline_geojson_survives_csv_and_explodes(frames):
    row = frames["contacts"].filter(F.col("name") == "Coral Watch").collect()[0]
    assert "\n" in row.geometry_geojson  # multiLine CSV kept the embedded newlines
    feats = explode_feature_collection(
        frames["contacts"], "geometry_geojson"
    ).filter(F.col("geometry_json").isNotNull())
    assert feats.count() == 1  # "null" sentinel and NA rows guarded out


def test_initial_preserves_survey_rows_and_cleans(frames):
    initial = frames["initial"]
    assert initial.count() == 5  # left join: every survey row survives
    by_name = {r["name"]: r for r in initial.collect()}
    cw = by_name["Coral Watch"]
    assert cw.contact_email == "ann@x.org"
    assert cw.eov_birds is True and cw.eov_fish is False  # NA -> False
    assert str(cw.start_date) == "1990-01-01"
    # P9 Date-class ceiling (change_on_boundary=TRUE): end 2018 -> 2018-12-31
    assert str(cw.end_date) == "2018-12-31"
    assert cw.temporal_resolution == "daily"
    sn = by_name["Seagrass Net"]
    assert sn.end_date is None  # "active" -> null
    assert len(sn.url) == 200 and sn.url.endswith("...")
    assert sn.contact_firstname is None  # "" -> null
    assert sn.eov_fish is True  # any non-NA value -> True
    dp = by_name["Doppel Prógram"]
    assert dp.temporal_resolution == "sometimes-ish"  # recode passthrough


def test_eurosea_merge_aggregation(frames):
    eurosea = frames["eurosea"]
    rows = {(r.organization, r["name"]): r for r in eurosea.collect()}
    assert set(rows) == {("OrgA", "North Sea Monitor"), ("OrgB", "Coral Watch")}
    g = rows[("OrgA", "North Sea Monitor")]
    assert str(g.start_date) == "1979-01-01"  # min over the group
    assert str(g.end_date) == "2018-12-31"  # max (2018 -> P9 -> 2018-12-31)
    assert g.eov_microbes is True and g.eov_birds is True  # "x"/"x " both count
    assert g.url == "https://a.org; https://b.org"  # sorted distinct concat
    assert g.temporal_resolution == "daily"  # finest mapped level in group
    # trailing-space lat parsed; lon-missing row pair-nulled out of the union
    assert g.geometry_wkt == "MULTIPOINT (4.3 52.1, 5.0 53.0)"


def test_combined_identity_and_dedupe(frames):
    combined = frames["combined"]
    assert combined.count() == 7  # 5 survey + 2 eurosea groups
    ids = [r.identifier for r in combined.collect()]
    assert len(set(ids)) == 7  # make_unique resolved every collision
    # accents transliterate then collide -> suffix; first-by-id keeps the name
    assert sum(1 for i in ids if i.startswith("doppel_program")) == 2
    assert "doppel_program" in ids and "doppel_program_1" in ids
    assert sum(1 for i in ids if i.startswith("coral_watch")) == 2
    long_ids = [i for i in ids if i.startswith("mega_observatory")]
    assert long_ids and len(long_ids[0]) == 58  # P13 shortening
    report = duplicate_identifier_report(combined)
    assert {r.raw_identifier for r in report.collect()} == {
        "doppel_program",
        "coral_watch",
    }


def test_users_staging(frames):
    u = users(frames["combined"]).collect()
    assert len(u) == 1  # only Coral Watch has a joined contact email
    assert u[0].username == "ann@x.org" and u[0].pk == 2001


def test_eov_associations_order(frames):
    assoc = eov_associations(
        frames["combined"], ["eov_microbes", "eov_birds", "eov_fish"]
    )
    rows = {(r.id, r.eov_id) for r in assoc.collect()}
    combined = {r["name"]: r.id for r in frames["combined"].collect()}
    # eov_id follows the caller's order: microbes=1, birds=2, fish=3
    nsm = combined["North Sea Monitor"]
    assert (nsm, 1) in rows and (nsm, 2) in rows and (nsm, 3) not in rows


def test_in_obis_script(frames):
    df = frames["initial"].filter(F.col("in_obis").isNotNull())
    stmts = sorted(
        r.stmt
        for r in in_obis_statements(df, {"Yes, all data.": "Y", "No.": "N"}).collect()
    )
    assert stmts == [
        "update layers_layer set data_in_obis = 'N' where name = 'Seagrass Net';",
        "update layers_layer set data_in_obis = 'Y' where name = 'Coral Watch';",
    ]


def test_in_obis_statements_follow_id_order(frames):
    """Programs may share a name with different statuses, so statement order
    decides which update wins: it follows ``id``, whatever the partitioning."""
    status = {"Yes, all data.": "Y", "No.": "N"}
    combined = frames["combined"]
    lists = [
        [r.stmt for r in in_obis_statements(combined.repartition(n), status).collect()]
        for n in (1, 7)
    ]
    assert lists[0] == lists[1]
    names = [r["name"] for r in combined.orderBy("id").collect()]
    assert [s.rsplit(" where name = ", 1)[1] for s in lists[0]] == [
        f"'{n}';" for n in names
    ]
