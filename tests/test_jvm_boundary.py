"""The programs ETL stays in the JVM up to the shapefile byte writer: no
Python UDF in the layer table, no Python RDD behind the xlsx frame, and one
Python daemon per session for the Python that does run."""

from __future__ import annotations

import json
import os
import zipfile
from xml.sax.saxutils import escape

import pandas as pd
import pyspark.sql.functions as F

from bioeco_portal_etl_spark.pipelines.layers import layer_table_from_geojson
from bioeco_portal_etl_spark.sources.files import read_excel
from bioeco_portal_etl_spark.sources.xlsx import read_xlsx_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_layer_table_plans_no_python_udf(spark):
    fc = json.dumps(
        {
            "type": "FeatureCollection",
            "features": [
                {"type": "Feature", "properties": {},
                 "geometry": {"type": "Point", "coordinates": [1.5, 2.5]}},
                {"type": "Feature", "properties": {},
                 "geometry": {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]]}},
            ],
        },
        indent=1,
    )
    programs = spark.createDataFrame(
        [
            ("fc", fc),
            ("bare", '{"type":"MultiPoint","coordinates":[[3,4],[5.25,-6]]}'),
            ("none", None),
        ],
        "identifier string, geometry_geojson string",
    )
    layers = layer_table_from_geojson(programs)
    plan = _plan(layers)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert sorted((r.identifier, r.geometry_wkt) for r in layers.collect()) == [
        ("bare", "MULTIPOINT (3 4, 5.25 -6)"),
        ("fc", "POINT (1.5 2.5)"),
        ("fc", "POLYGON ((0 0, 1 0, 1 1, 0 0))"),
    ]


def _write_xlsx(path, rows):
    """One sheet of inline-string and numeric cells; None is a blank cell."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    sheet = []
    for i, row in enumerate(rows, start=1):
        cells = []
        for j, v in enumerate(row):
            ref = f"{chr(65 + j)}{i}"
            if isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            elif v is not None:
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(v)}</t></is></c>')
        sheet.append(f'<row r="{i}">{"".join(cells)}</row>')
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", f'<workbook xmlns="{ns}" xmlns:r="{rel}"><sheets>'
                   '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>')
        z.writestr("xl/_rels/workbook.xml.rels", f'<Relationships xmlns="{pkg}">'
                   f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
                   "</Relationships>")
        z.writestr("xl/worksheets/sheet1.xml",
                   f'<worksheet xmlns="{ns}"><sheetData>{"".join(sheet)}</sheetData></worksheet>')


def test_read_excel_plans_local_table_scan(spark, tmp_path):
    p = str(tmp_path / "book.xlsx")
    _write_xlsx(p, [
        ["name", "lat", "year", "blank", "mixed"],
        ["a", 52.5, 2012, None, "x"],
        ["b", None, 2013, None, 7],
        [None, -3, 2014.5, None, None],
    ])
    df = read_excel(spark, p)
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields] == [
        ("name", "string", True),
        ("lat", "double", True),
        ("year", "double", True),
        ("blank", "string", True),
        ("mixed", "string", True),
    ]
    rows = [tuple(r) for r in df.collect()]
    assert rows == [
        ("a", 52.5, 2012.0, None, "x"),
        ("b", None, 2013.0, None, "7"),
        (None, -3.0, 2014.5, None, None),
    ]
    # the same rows and types as handing the reader's rows over as a list
    header, body = read_xlsx_table(p)
    assert [tuple(r) for r in spark.createDataFrame(body, df.schema).collect()] == rows
    assert df.columns == header


def test_one_python_daemon_per_session(spark):
    """An RDD function and a SQL pandas UDF run in workers of the same
    daemon (one daemon per executor), and call-site capture is off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

    def ppid(_):  # local: pickled by value, the test module is not importable there
        yield os.getppid()

    rdd_parents = set(spark.sparkContext.parallelize(range(4), 2).mapPartitions(ppid).collect())

    @F.pandas_udf("int")
    def parent(s: pd.Series) -> pd.Series:
        return pd.Series([os.getppid()] * len(s))

    udf_parents = {r.p for r in spark.range(4).repartition(2).select(parent("id").alias("p")).collect()}
    assert len(rdd_parents) == 1 and rdd_parents == udf_parents
