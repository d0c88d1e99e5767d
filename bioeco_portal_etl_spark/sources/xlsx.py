"""Minimal pure-stdlib XLSX reader — S4's engine (``files.read_excel``),
needing no xlsx library (openpyxl/xlrd).

Reference parity: R ``read.xlsx(path, 1)`` at notebooks/index.Rmd:135
(EuroSea) and :547 (WESPAS positions). XLSX is a zip of XML parts; this
reads exactly the subset those calls need: the n-th worksheet, shared
strings, inline strings, numbers, and booleans. No styles/date-format
handling (the reference sheets carry dates as text), no formula
evaluation (cached ``<v>`` values are used).

Driver-side by design: Excel files are dimension-scale configuration
inputs (a few hundred rows); fact-scale data arrives as parquet. The
resulting rows feed ``spark.createDataFrame`` in ``files.read_excel``.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_REL_NS = {
    "r": "http://schemas.openxmlformats.org/package/2006/relationships",
}
_R_ATTR = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)
_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _col_index(ref: str) -> int:
    """A -> 0, B -> 1, ..., AA -> 26 (spreadsheet base-26 column letters)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _text_of(elem) -> str:
    """Concatenated <t> runs under an <si> or <is> (rich-text strings split
    one logical value across multiple runs)."""
    return "".join(t.text or "" for t in elem.iter(f"{{{_NS['m']}}}t"))


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    return [_text_of(si) for si in root.findall("m:si", _NS)]


def _sheet_path(z: zipfile.ZipFile, sheet: int) -> str:
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    sheets = wb.findall("m:sheets/m:sheet", _NS)
    if not 0 <= sheet < len(sheets):
        raise IndexError(f"sheet {sheet} out of range ({len(sheets)} sheets)")
    rid = sheets[sheet].get(_R_ATTR)
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    for rel in rels.findall("r:Relationship", _REL_NS):
        if rel.get("Id") == rid:
            target = rel.get("Target")
            return target if target.startswith("xl/") else f"xl/{target}"
    raise ValueError(f"no relationship for sheet {sheet} (r:id={rid})")


def _cell_value(c, shared: list[str]):
    t = c.get("t", "n")
    if t == "inlineStr":
        is_elem = c.find("m:is", _NS)
        return _text_of(is_elem) if is_elem is not None else None
    v = c.find("m:v", _NS)
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return v.text == "1"
    if t in ("str", "e"):
        return v.text
    try:
        return float(v.text)
    except ValueError:  # malformed numeric cell: surface the raw text
        return v.text


def read_xlsx_rows(path: str, sheet: int = 0) -> list[list]:
    """The n-th worksheet as dense rows (None for absent cells), trailing
    all-None cells trimmed per row; rows keep their sheet order. A file
    that is not an xlsx zip raises ValueError."""
    try:
        with zipfile.ZipFile(path) as z:
            shared = _shared_strings(z)
            root = ET.fromstring(z.read(_sheet_path(z, sheet)))
    except (zipfile.BadZipFile, KeyError) as e:  # not a zip / no workbook part
        raise ValueError(f"{path} is not an xlsx workbook: {e}") from e
    rows: list[list] = []
    for row in root.findall("m:sheetData/m:row", _NS):
        out: list = []
        for c in row.findall("m:c", _NS):
            ref = c.get("r", "")
            m = _CELL_REF.match(ref)
            idx = _col_index(m.group(1)) if m else len(out)
            while len(out) < idx:
                out.append(None)
            val = _cell_value(c, shared)
            if len(out) == idx:
                out.append(val)
            else:  # defensive: duplicate/odd refs — last write wins
                out[idx] = val
        while out and out[-1] is None:
            out.pop()
        rows.append(out)
    return rows


def _fmt(v) -> str:
    """R-like display of a value landing in a character column: integral
    floats print without the trailing .0 (read.xlsx shows 2012, not 2012.0)."""
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return str(v)


def read_xlsx_table(path: str, sheet: int = 0) -> tuple[list[str], list[list]]:
    """First row as header, remaining rows padded/truncated to the header
    width. Column typing mirrors R read.xlsx: a column whose every non-null
    value is numeric stays float; anything mixed becomes character (with
    integral floats rendered bare: 2012 not 2012.0)."""
    rows = read_xlsx_rows(path, sheet)
    if not rows:
        return [], []
    header = [str(h) if h is not None else f"col_{i}" for i, h in enumerate(rows[0])]
    width = len(header)
    body = [(r + [None] * width)[:width] for r in rows[1:]]
    # drop rows that are entirely empty (Excel often stores trailing blanks)
    body = [r for r in body if any(v is not None for v in r)]
    for j in range(width):
        vals = [r[j] for r in body if r[j] is not None]
        if vals and not all(isinstance(v, float) for v in vals):
            for r in body:
                if r[j] is not None:
                    r[j] = _fmt(r[j])
    return header, body
