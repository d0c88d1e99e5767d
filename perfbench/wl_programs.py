"""programs_etl: the paper's own batch pipeline over seeded F1-F3 inputs.

ingest (contacts CSV + wide survey CSV + EuroSea .xlsx) -> combine ->
duplicate report, users, EOV associations, in-OBIS SQL script -> GeoJSON to
WKT layer table -> one shapefile layer per program (features or empty) ->
program fixture -> stage-and-merge into a fresh in-memory Derby database.

A pass persists the combined frame and the layer table once, as a driver
script would. A traced pass also materializes every stage at its span
boundary, so each span covers its own work.
"""

from __future__ import annotations

import csv
import json
import os

import pyspark.sql.functions as F
from pyspark.sql.types import StringType, StructField, StructType

from bioeco_portal_etl_spark.pipelines import reference_config as rc
from bioeco_portal_etl_spark.pipelines.layers import (
    layer_eligible_identifiers,
    layer_table_from_geojson,
    with_has_shapefile,
    write_empty_layers,
    write_layers,
)
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
from bioeco_portal_etl_spark.sinks.fixtures import write_fixture
from bioeco_portal_etl_spark.sinks.jdbc_upsert import stage_and_merge
from bioeco_portal_etl_spark.sources.files import read_csv, read_excel

import gen
from harness import Pass

SURVEY_PROJ = {**rc.SURVEY_PROJECTION, "In_OBIS": "in_obis"}
EOV_ORDER = [
    "eov_phytoplankton", "eov_zooplankton", "eov_fish", "eov_seaturtles",
    "eov_birds", "eov_mammals", "eov_hardcoral", "eov_seagrass",
    "eov_macroalgae", "eov_mangroves", "eov_microbes", "eov_benthicinvertebrates",
]
USER_FIELDS = ["first_name", "last_name", "email", "username", "is_superuser"]
PROGRAM_FIELDS = ["identifier", "name", "source", "start_date", "end_date",
                  "temporal_resolution", "has_shapefile"]
MERGE_COLS = ["identifier", "name", "source", "temporal_resolution"]


def prepare(in_dir: str, seed: int) -> dict:
    return gen.programs_inputs(in_dir, seed)


def _strings(state, name):
    """An explicit all-string schema: survey answers are text until the
    pipeline parses them, and an explicit schema spares a scan."""
    return StructType([StructField(c, StringType()) for c in state["headers"][name]])


def _mat(df):
    df = df.persist()
    df.count()
    return df


def run_pass(spark, state, out_dir, tr):
    p = Pass()
    os.makedirs(out_dir)
    paths = state["paths"]
    layers_dir = os.path.join(out_dir, "layers")
    traced = tr.enabled

    def stage(df):
        """Materialize at the span boundary (traced passes only)."""
        return _mat(df) if traced else df

    def build_combined():
        with tr.span("sources.read_csv"):
            raw_contacts = stage(read_csv(spark, paths["contacts"], schema=_strings(state, "contacts")))
            raw_survey = stage(read_csv(spark, paths["survey"], schema=_strings(state, "survey")))
        with tr.span("sources.read_excel"):
            raw_eurosea = stage(read_excel(spark, paths["eurosea"]))
        with tr.span("programs.ingest"):
            contacts = ingest_contacts(raw_contacts, rc.CONTACTS_PROJECTION)
            initial = stage(ingest_survey(raw_survey, contacts, SURVEY_PROJ, source="survey"))
            eurosea = stage(ingest_eurosea(
                raw_eurosea, rc.EUROSEA_PROJECTION, rc.EUROSEA_FREQ_MAP,
                geometry="geojson", source="eurosea",
            ))
        with tr.span("programs.combine"):
            return _mat(combine(initial, eurosea))

    def dup_report(combined):
        with tr.span("programs.dup_report"):
            rows = duplicate_identifier_report(combined).collect()
        path = os.path.join(out_dir, "duplicate_identifiers.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["id", "name", "raw_identifier"])
            w.writerows([r["id"], r["name"], r["raw_identifier"]] for r in rows)
        return rows

    def users_fixture(combined):
        with tr.span("programs.users"):
            u = stage(users(combined))
        with tr.span("sinks.fixture"):
            write_fixture(u, "people.profile", "pk", USER_FIELDS,
                          os.path.join(out_dir, "users.json"), order_by="pk")

    def eov_fixture(combined):
        with tr.span("programs.eov_assoc"):
            a = stage(eov_associations(combined, EOV_ORDER).withColumn(
                "pk", F.col("id") * 100 + F.col("eov_id")))
        with tr.span("sinks.fixture"):
            write_fixture(a, "layers.layer_eovs", "pk", ["id", "eov_id"],
                          os.path.join(out_dir, "layer_eovs.json"), order_by="pk")

    def in_obis_script(combined):
        with tr.span("sinks.sqlscript"):
            rows = in_obis_statements(combined, gen.IN_OBIS_MAP).collect()
        with open(os.path.join(out_dir, "in_obis.sql"), "w") as fh:
            fh.write("".join(r["stmt"] + "\n" for r in rows))

    def layer_table(combined):
        with tr.span("layers.geojson_to_wkt"):
            eligible = layer_eligible_identifiers(combined)
            t = layer_table_from_geojson(combined).join(eligible, "identifier", "left_semi")
            return _mat(t)

    def write_programs_layers(t):
        with tr.span("layers.write_layers"):
            write_layers(t, layers_dir)

    def write_empty(combined, t):
        with tr.span("layers.write_empty"):
            programs = _mat(with_has_shapefile(combined, t))
            write_empty_layers(programs, layers_dir)
        return programs

    def program_fixture(programs):
        with tr.span("sinks.fixture"):
            write_fixture(programs, "layers.program", "id", PROGRAM_FIELDS,
                          os.path.join(out_dir, "programs.json"), order_by="id")

    def jdbc_merge(programs):
        # keyed on the integer id: Derby maps StringType to CLOB, which
        # cannot be compared, so a string merge key fails there
        url = state["derby_url"] = f"jdbc:derby:memory:{os.path.basename(out_dir)};create=true"
        with tr.span("sinks.jdbc_merge"):
            cols = programs.select("id", *MERGE_COLS)
            cols.limit(0).write.jdbc(url, "PROGRAMS", mode="overwrite")
            stage_and_merge(cols, url, "PROGRAMS", ["id"], MERGE_COLS)

    with tr.span("pass"):
        combined = p.op("build_combined", build_combined)
        p.outputs["dup_rows"] = p.op("dup_report", dup_report, combined)
        p.op("users", users_fixture, combined)
        p.op("eov_assoc", eov_fixture, combined)
        p.op("in_obis_script", in_obis_script, combined)
        t = p.op("layer_table", layer_table, combined)
        p.op("write_layers", write_programs_layers, t)
        programs = p.op("write_empty_layers", write_empty, combined, t)
        p.op("program_fixture", program_fixture, programs)
        p.op("jdbc_merge", jdbc_merge, programs)
    p.outputs.update(out_dir=out_dir, combined=combined)
    return p


def _records(shx_path: str) -> int:
    return (os.path.getsize(shx_path) - 100) // 8


def check(spark, state, p) -> None:
    """Invariants known from the generator, outside the timed region."""
    if p.failed_from is not None:
        return
    exp = state["expect"]
    out_dir = p.outputs["out_dir"]
    rows = p.outputs["combined"].select("id", "identifier", "name", "organization", "source").collect()
    idents = [r["identifier"] for r in rows]
    if len(rows) != exp["n_programs"] or len(set(idents)) != len(idents):
        p.fail("build_combined", f"{len(rows)} programs, {len(set(idents))} distinct identifiers, "
                                 f"expected {exp['n_programs']} unique")
    got = sorted(r["name"] for r in p.outputs["dup_rows"])
    if got != exp["dup_members"]:
        p.fail("dup_report", f"{len(got)} duplicate-report members, expected {len(exp['dup_members'])}")
    with open(os.path.join(out_dir, "users.json")) as fh:
        emails = [u["fields"]["email"] for u in json.load(fh)]
    if sorted(emails) != exp["users"]:
        p.fail("users", f"{len(emails)} users, expected {len(exp['users'])} distinct emails")
    with open(os.path.join(out_dir, "in_obis.sql")) as fh:
        if sum(1 for _ in fh) != len(rows):
            p.fail("in_obis_script", "statement count != program count")
    layers_dir = os.path.join(out_dir, "layers")
    dirs = set(os.listdir(layers_dir)) if os.path.isdir(layers_dir) else set()
    if dirs != set(idents):
        p.fail("write_empty_layers", f"{len(dirs)} layer dirs for {len(set(idents))} identifiers")
    else:
        geo = {tuple(g) for g in exp["geo_programs"]}
        bad = 0
        nonempty = 0
        for r in rows:
            n = _records(os.path.join(layers_dir, r["identifier"], r["identifier"] + ".shx"))
            nonempty += n > 0
            key = (r["source"], r["name"], r["organization"] if r["source"] == "eurosea" else None)
            bad += (n > 0) != (key in geo)
        if bad:
            p.fail("write_layers", f"{bad} layers whose feature count disagrees with the generator")
        p.outputs["nonempty"] = nonempty
    n_db = spark.read.jdbc(state["derby_url"], "PROGRAMS").count()
    p.outputs["jdbc_rows"] = n_db
    if n_db != len(set(r["id"] for r in rows)):
        p.fail("jdbc_merge", f"Derby holds {n_db} rows for {len(rows)} ids")
    files, size = 0, 0
    for root, _, names in os.walk(out_dir):
        for n in names:
            files += root.startswith(layers_dir)
            size += os.path.getsize(os.path.join(root, n))
    p.outputs.update(files_written=files, bytes_written=size, n_dirs=len(dirs))


def layer_metrics(state, p) -> dict:
    last = p.outputs
    n_dirs = max(last.get("n_dirs", 0), 1)
    return {
        "sources.input_bytes": state["input_bytes"],
        "sources.input_records": state["input_records"],
        "layers.files_written": last.get("files_written", 0),
        "layers.bytes_written": last.get("bytes_written", 0),
        "layers.nonempty_ratio": last.get("nonempty", 0) / n_dirs,
        "sinks.jdbc_rows": last.get("jdbc_rows", 0),
        "out_bytes_per_in_byte": last.get("bytes_written", 0) / state["input_bytes"],
        "programs": state["expect"]["n_programs"],
    }
