"""Seeded input generators for every workload.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical files, another seed writes different bytes. Besides the
files, each generator returns an ``expect`` dict of facts known by
construction, which the workloads' output checks compare against.

- ``programs_inputs``: FIXTURES.md F1-F3 (contacts CSV, wide survey CSV with
  multiline GeoJSON, EuroSea ``.xlsx`` written with stdlib ``zipfile``),
  including the dirty cases the pipeline must survive.
- ``catalog_tables``: the catalog's parquet tables (region ... lineitem,
  events, documents, embeddings) in the value domains the catalog queries
  and their DuckDB oracles expect.
- ``event_files``: parquet files in the ``events`` table schema for the
  streaming drains.
"""

from __future__ import annotations

import csv
import json
import os
import re
import zipfile
from xml.sax.saxutils import escape

import numpy as np

from bioeco_portal_etl_spark.pipelines.reference_config import EUROSEA_FREQ_MAP

# ---------------------------------------------------------------------------
# slug mirror (functions/strings.py make_identifier) for expected collisions
# ---------------------------------------------------------------------------

_PUNCT = re.compile(r"""[()":',&/.;]""")
_RUNS = re.compile(r"[ \t\n\r\f\v\-–]+")
_TRANSLIT = {
    "á": "a", "é": "e", "í": "i", "ó": "o", "ú": "u", "ñ": "n", "ç": "c",
    "ü": "u", "ö": "o", "ä": "a", "è": "e", "ø": "o", "å": "a",
}


def slug(name: str) -> str:
    """Python mirror of ``make_identifier`` for the characters the generator
    emits (ASCII, the accents above, ASCII whitespace, en-dash)."""
    s = _PUNCT.sub("", name.lower()).strip(" ")
    s = _RUNS.sub("_", s)
    s = "".join(_TRANSLIT.get(ch, ch) for ch in s)
    s = re.sub(r"[^\x00-\x7F]", "", s)
    s = _PUNCT.sub("", s)
    return s[:29] + s[-29:] if len(s) > 58 else s


# ---------------------------------------------------------------------------
# programs_etl inputs (FIXTURES.md F1-F3)
# ---------------------------------------------------------------------------

ADJ = "Coastal Pelagic Benthic Arctic Tropical Northern Southern Deep Shallow Open Reef Polar".split()
PLACE = "Atlantic Pacific Baltic Adriatic Caribbean Aegean Nordic Iberian Celtic Andaman Coral Tasman".split()
NOUN = "Survey Monitoring Observatory Network Census Programme Transect Mooring Cruise Array".split()
ACCENTED = {"o": "ó", "a": "á", "e": "é", "u": "ü", "n": "ñ", "c": "ç"}
FREQ = [
    "Sub-daily", "Daily", "Monthly (12x per year)", "Quarterly (4x per year)",
    "2x per year", "1x per year", "1x every 2 to 5 years", "1x every 6-10 years",
    "1x every >10 years", "Opportunistically/highly irregular intervals", "NA",
    "sometimes-ish",  # unmapped: recode passes it through
]
IN_OBIS_MAP = {
    "Yes, all data are in OBIS.": "yes",
    "Yes, some data are in OBIS.": "partial",
    "No, but data will be shared.": "planned",
    "No, data cannot be shared.": "no",
    "I don't know.": "unknown",
}
SURVEY_EOV = [
    "Birds", "Hard_Coral", "Fish", "Macroalgae", "Mangroves", "Microbes",
    "Ocean_Sound", "Phytoplankton", "Seagrass", "Sea_Turtles", "Zooplankton",
    "Benthic_Invertebrate", "Marine_Mammals",
]
EUROSEA_EOV = [
    "Birds", "Hard coral", "Fish", "Macroalgae", "Mangrove", "Microbes",
    "Phytoplankton", "Seagrass", "Turtles", "Zooplankton",
    "Benthic invertebrates", "Mammals",
]
EUROSEA_HEADER = [
    "Country", "Organisation", "Program name", "Programs/Location",
    "Time period", "Frequency", *EUROSEA_EOV, "Lat", "Lon", "Website",
]
EUROSEA_EXTRA_FREQ = ["weekly-ish", "when funded", "Every full moon"]


def _base_name(rng, i: int) -> str:
    return f"{rng.choice(ADJ)} {rng.choice(PLACE)} {rng.choice(NOUN)} {i}"


def _long_name(rng, i: int, middle: str | None = None) -> str:
    mid = middle or " ".join(rng.choice(PLACE, 4))
    return f"P{i} Integrated Long Term Marine {mid} Ecosystem Observation And Monitoring Programme {i}"


def _accent(name: str) -> str:
    for a, b in ACCENTED.items():
        if a in name:
            return name.replace(a, b, 1)
    return name + " Ñ"


def _polygon(rng) -> list:
    x, y = int(rng.integers(-170, 160)), int(rng.integers(-80, 70))
    w, h = int(rng.integers(1, 9)), int(rng.integers(1, 9))
    return [[[x, y], [x + w, y], [x + w, y + h], [x, y + h], [x, y]]]


def _feature_collection(rng, mixed: bool) -> str:
    n = int(rng.integers(1, 4))
    feats = []
    for k in range(n):
        if rng.random() < 0.5:
            geom = {"type": "Polygon", "coordinates": _polygon(rng)}
        else:
            geom = {"type": "Point", "coordinates": [int(rng.integers(-170, 170)), int(rng.integers(-80, 80))]}
        feats.append({"type": "Feature", "properties": {"k": k}, "geometry": geom})
    kinds = {f["geometry"]["type"] for f in feats}
    if mixed and len(kinds) == 1:
        other = "Point" if "Polygon" in kinds else "Polygon"
        geom = (
            {"type": "Point", "coordinates": [1, 2]}
            if other == "Point"
            else {"type": "Polygon", "coordinates": _polygon(rng)}
        )
        feats.append({"type": "Feature", "properties": {"k": n}, "geometry": geom})
    elif not mixed and len(kinds) > 1:
        feats = [f for f in feats if f["geometry"]["type"] == feats[0]["geometry"]["type"]]
    # indent -> the field spans several physical lines (multiLine CSV)
    return json.dumps({"type": "FeatureCollection", "features": feats}, indent=1)


def _write_csv(path: str, rows: list[list[str]]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n").writerows(rows)


def _col_letter(j: int) -> str:
    s = ""
    j += 1
    while j:
        j, r = divmod(j - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path: str, rows: list[list[str | None]]) -> None:
    """A one-sheet ``.xlsx`` with shared strings, via stdlib ``zipfile``.
    ``None`` cells are left out (blank). Fixed zip timestamps keep the
    bytes a function of ``rows`` alone."""
    strings: dict[str, int] = {}
    sheet = []
    for i, row in enumerate(rows, start=1):
        cells = []
        for j, v in enumerate(row):
            if v is None:
                continue
            idx = strings.setdefault(v, len(strings))
            cells.append(f'<c r="{_col_letter(j)}{i}" t="s"><v>{idx}</v></c>')
        sheet.append(f'<row r="{i}">{"".join(cells)}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    sst = "".join(
        f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in strings
    )
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg}">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" xmlns:r="{rel}">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg}">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}">'
            f'<sheetData>{"".join(sheet)}</sheetData></worksheet>'
        ),
        "xl/sharedStrings.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><sst xmlns="{ns}" '
            f'count="{len(strings)}" uniqueCount="{len(strings)}">{sst}</sst>'
        ),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body.encode("utf-8"))


def _coord(rng, lo: float, hi: float) -> str:
    r = rng.random()
    v = f"{rng.uniform(lo, hi):.6f}"
    if r < 0.10:
        return v + " "  # trailing space: trim then parse
    if r < 0.14:
        return "058;29.422'"  # degree-minute junk -> null
    if r < 0.20:
        return ""  # missing -> pair-null rule drops the point
    return v


def programs_inputs(out_dir: str, seed: int, n_survey: int = 800, n_groups: int = 400) -> dict:
    """Write contacts.csv, survey.csv and eurosea.xlsx; return the paths and
    the expectations the output checks use."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    # --- survey names: unique bases plus planted within-source collisions
    survey_names: list[str] = []
    for i in range(n_survey):
        r = rng.random()
        if survey_names and r < 0.03:
            survey_names.append(str(rng.choice(survey_names)))  # exact repeat
        elif survey_names and r < 0.06:
            survey_names.append(_accent(str(rng.choice(survey_names))))
        elif survey_names and r < 0.08:
            # punctuation / en-dash variant: slugs to the same identifier
            base = str(rng.choice(survey_names)).split(" ")
            base.insert(1, rng.choice(["&", "–", "(", "/"]))
            survey_names.append(" ".join(base))
        elif r < 0.13:
            survey_names.append(_long_name(rng, i))
        elif r < 0.14:
            # two long names that differ only past the 58-char cut
            survey_names.append(_long_name(rng, i, "Alpha Beta Gamma Delta"))
            survey_names.append(_long_name(rng, i, "Omega Sigma Kappa Theta"))
        else:
            survey_names.append(_base_name(rng, i))

    # --- contacts (F1): one row per distinct survey name that has a contact
    distinct_names = sorted(set(survey_names))
    emails = [f"user{k}@obs{k % 7}.org" for k in range(max(8, len(distinct_names) // 3))]
    contacts = [["prog_name", "resp_firstname", "resp_lastname", "resp_email",
                 "ErinSpatialGeoJSON", *[f"extra_{k}" for k in range(20)]]]
    contact_email: dict[str, str | None] = {}
    contact_geo: dict[str, bool] = {}
    for name in distinct_names:
        if rng.random() < 0.25:
            continue
        r = rng.random()
        email = "" if r < 0.12 else ("NA" if r < 0.2 else str(rng.choice(emails)))
        contact_email[name] = None if email in ("", "NA") else email
        g = rng.random()
        if g < 0.45:
            geo, ok = _feature_collection(rng, mixed=False), True
        elif g < 0.52:
            geo, ok = _feature_collection(rng, mixed=True), False
        elif g < 0.65:
            geo, ok = "null", False
        elif g < 0.8:
            geo, ok = "NA", False
        else:
            geo, ok = "", False
        contact_geo[name] = ok
        first = "" if rng.random() < 0.1 else str(rng.choice(["Ann", "José", "Li", "Zoë"]))
        contacts.append([name, first, str(rng.choice(["Lee", "Núñez", "O'Hara"])),
                         email, geo, *["z"] * 20])
    for k in range(max(3, n_survey // 50)):  # contacts with no survey row
        contacts.append([f"Orphan Contact Programme {k}", "A", "B", f"orphan{k}@x.org",
                         "null", *["z"] * 20])
    order = [0, *(1 + rng.permutation(len(contacts) - 1))]
    contacts = [contacts[k] for k in order]

    # --- wide survey (F2): 25 projected columns + 50 noise columns
    long_url = "https://example.org/" + "p/" * 120
    header = ["prog_name", "prog_abbrev", "prog_url", "duration_start_year",
              "duration_end_year", "freq_interval", *SURVEY_EOV, "In_OBIS",
              "Interest_OBIS", *[f"noise_{k}" for k in range(50)]]
    survey = [header]
    for name in survey_names:
        start = "NA" if rng.random() < 0.1 else str(int(rng.integers(1950, 2021)))
        end = str(rng.choice(["active", "NA", "0", str(int(rng.integers(1990, 2021)))]))
        url = str(rng.choice(["NA", "https://obs.org/p", long_url]))
        flags = [("NA" if rng.random() < 0.6 else str(rng.choice(["x", "Yes", "present"])))
                 for _ in SURVEY_EOV]
        obis = str(rng.choice([*IN_OBIS_MAP, "NA"]))
        survey.append([name, name[:3].upper(), url, start, end, str(rng.choice(FREQ)),
                       *flags, obis, str(rng.choice(["Yes", "No", "NA"])),
                       *[str(int(rng.integers(0, 9))) for _ in range(50)]])

    # --- EuroSea (F3): multi-row (org, name) groups, cross-source names
    orgs = [f"Org {c}" for c in "ABCDEFGHIJKLMNOP"]
    groups: list[tuple[str, str]] = []
    for g in range(n_groups):
        r = rng.random()
        if r < 0.12:
            name = str(rng.choice(survey_names))  # cross-source collision
        elif r < 0.16 and groups:
            name = groups[int(rng.integers(0, len(groups)))][1]  # same name, other org
        else:
            name = f"{rng.choice(PLACE)} Sea {rng.choice(NOUN)} E{g}"
        org = str(rng.choice(orgs))
        if (org, name) not in groups:
            groups.append((org, name))
    eurosea: list[list[str | None]] = [EUROSEA_HEADER]
    freq_keys = [*EUROSEA_FREQ_MAP, *EUROSEA_EXTRA_FREQ]
    group_geo: dict[tuple[str, str], bool] = {}
    for org, name in groups:
        has_pt = False
        for _ in range(int(rng.integers(1, 5))):
            lat, lon = _coord(rng, -60, 75), _coord(rng, -170, 170)
            try:
                float(lat.strip()), float(lon.strip())
                has_pt = True
            except ValueError:
                pass
            period = rng.choice(["1979-current", "2009-2018", "2015-current", "2012", None])
            flags = [rng.choice(["x", "x ", None, "NA"]) for _ in EUROSEA_EOV]
            site = rng.choice(["https://a.eu", "https://b.eu/monitoring", "https://c.eu/" + "q" * 300])
            eurosea.append(["NL", org, name, "North Sea", period,
                            str(rng.choice(freq_keys)), *flags, lat or None, lon or None, site])
        group_geo[(org, name)] = has_pt
    for k in range(max(2, n_groups // 40)):  # null program names are dropped
        eurosea.append(["ES", "Org Z", None, None, "2012", "Daily", *[None] * 12, "1", "2", None])
    body = eurosea[1:]
    eurosea = [eurosea[0], *[body[k] for k in rng.permutation(len(body))]]

    paths = {
        "contacts": os.path.join(out_dir, "contacts.csv"),
        "survey": os.path.join(out_dir, "survey.csv"),
        "eurosea": os.path.join(out_dir, "eurosea.xlsx"),
    }
    _write_csv(paths["contacts"], contacts)
    _write_csv(paths["survey"], survey)
    write_xlsx(paths["eurosea"], eurosea)

    # --- expectations, by construction
    programs = [("survey", n, None) for n in survey_names] + [
        ("eurosea", n, o) for o, n in groups
    ]
    slugs = [slug(n) for _, n, _ in programs]
    counts: dict[str, int] = {}
    for s in slugs:
        counts[s] = counts.get(s, 0) + 1
    dup_members = sorted(n for (_, n, _), s in zip(programs, slugs) if counts[s] > 1)
    geo = {("survey", n, None) for n in survey_names if contact_geo.get(n)}
    geo |= {("eurosea", n, o) for (o, n), ok in group_geo.items() if ok}
    users = {e for n, e in contact_email.items() if e is not None and n in set(survey_names)}
    return {
        "paths": paths,
        "headers": {"contacts": contacts[0], "survey": survey[0]},
        "input_bytes": sum(os.path.getsize(p) for p in paths.values()),
        "input_records": (len(contacts) - 1) + (len(survey) - 1) + (len(eurosea) - 1),
        "expect": {
            "n_programs": len(programs),
            "dup_members": dup_members,
            "geo_programs": sorted(geo, key=lambda t: (t[0], t[1], t[2] or "")),
            "users": sorted(users),
        },
    }


# ---------------------------------------------------------------------------
# catalog tables (TESTDATA.md schema)
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "green", "large", "steel", "quiet"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "valve", "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = (
    "the a data table row column key value part line order customer query "
    "scan join merge sort hash group agg window batch stream spark filter "
    "fast slow big small vector index shard cache plan stage task node edge"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _ts(base, offsets_us):
    return (base + offsets_us.astype("timedelta64[us]")).astype("datetime64[us]")


def catalog_tables(out_dir: str, seed: int, n_orders: int = 1500, names: list[str] | None = None) -> dict:
    """Write the catalog tables (all ten, or ``names``) as parquet under
    ``out_dir``. Every table is drawn either way, so a table's bytes do not
    depend on which others are written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = max(50, n_orders // 10), max(10, n_orders // 150), max(100, n_orders // 7)
    n_events, n_docs, n_vecs = n_orders, max(200, n_orders // 6), 500
    tables: dict[str, dict] = {}
    tables["region"] = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    tables["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    }
    tables["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust)),
    }
    tables["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    }
    span_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    odate = _ts(EPOCH_1995, rng.integers(0, span_days, n_orders) * DAY_US)
    tables["orders"] = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_orders)),
    }
    # 1-13 lines per order; every 97th order is a planted q18 "large order"
    n_lines = 1 + rng.binomial(12, 0.25, n_orders)
    big = np.arange(n_orders) % 97 == 0
    n_lines[big] = 10
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), n_lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    qty[np.repeat(big, n_lines)] = rng.integers(35, 51, int(big.sum()) * 10)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    tables["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(
            _ts(EPOCH_1995, rng.integers(1, span_days + 90, n_li) * DAY_US), pa.timestamp("us")
        ),
    }
    ev_off = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    tables["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(_ts(np.datetime64("2024-01-01", "us"), ev_off), pa.timestamp("us")),
        "user_id": rng.integers(0, max(20, n_events // 60), n_events),
        "event_type": list(rng.choice(EVENT_TYPES, n_events)),
        "value": np.round(rng.exponential(40.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    }
    tables["documents"] = _documents(rng, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    tables = {k: v for k, v in tables.items() if names is None or k in names}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return {"dir": out_dir, "rows": {k: len(next(iter(v.values()))) for k, v in tables.items()}}


def _documents(rng, n: int) -> dict:
    """Random-vocabulary documents with planted exact duplicates,
    near-duplicates (one token changed) and quote-inclusion pairs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if texts and r < 0.06:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.12:
            toks = texts[int(rng.integers(0, len(texts)))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
            texts.append(" ".join(toks))
        elif texts and r < 0.15:
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append(src + " " + " ".join(rng.choice(WORDS, 4)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(20, 90)))))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=[0.44, 0.13, 0.15, 0.14, 0.14])),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


# ---------------------------------------------------------------------------
# events_stream inputs
# ---------------------------------------------------------------------------


def event_files(out_dir: str, seed: int, n_files: int = 2, per_file: int = 400, n_users: int = 40) -> dict:
    """Parquet files in the ``events`` schema, one per micro-batch. File
    ``f`` covers hour ``f``, so per-user event time never goes back across
    files (the streaming sessionizer's arrival contract); about 5% of the
    rows re-send an earlier row of the same file (the dedupe drain's work)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    next_id, n_rows = 0, 0
    for f in range(n_files):
        n_new = int(per_file * 0.95)
        ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        off = np.sort(rng.integers(0, 3_600_000_000, n_new)) + f * 3_600_000_000
        rows = {
            "event_id": ids,
            "ts": _ts(np.datetime64("2024-01-01", "us"), off),
            "user_id": rng.integers(0, n_users, n_new),
            "event_type": rng.choice(EVENT_TYPES, n_new),
            "value": np.round(rng.exponential(40.0, n_new) + 0.01, 2),
            "props": np.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_new)]),
        }
        dup = rng.integers(0, n_new, per_file - n_new)
        rows = {k: np.concatenate([v, v[dup]]) for k, v in rows.items()}
        n_rows += per_file
        table = pa.table({
            "event_id": rows["event_id"],
            "ts": pa.array(rows["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": rows["user_id"].astype(np.int64),
            "event_type": list(rows["event_type"]),
            "value": rows["value"],
            "props": list(rows["props"]),
        })
        pq.write_table(table, os.path.join(out_dir, f"events-{f:04d}.parquet"))
    return {"dir": out_dir, "rows": n_rows, "distinct_ids": next_id}
