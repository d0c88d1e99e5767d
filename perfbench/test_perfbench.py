"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import decimal
import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from harness import Pass  # noqa: E402
from spans import ENGINE_KEYS, percentile, self_times, totals_by_name  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_shape(declared):
    assert set(declared) == {"command", "paths", "run_seconds", "workloads",
                             "end_to_end", "per_layer"}
    assert declared["command"][:2] == ["python3", "perfbench/run.py"]
    assert declared["paths"] == ["perfbench"]
    assert 1 <= declared["run_seconds"] <= 60
    assert 2 <= len(declared["workloads"]) <= 8
    assert {w["name"] for w in declared["workloads"]} <= set(run.WORKLOADS)


def test_metric_names_units_and_counts(declared):
    e2e, layer = declared["end_to_end"], declared["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = [m["name"] for m in e2e + layer + declared["workloads"]]
    assert len(names) == len(set(names))
    for m in e2e + layer:
        assert NAME.match(m["name"]) and re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"])
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in e2e if m["name"] == "setup_s").items()


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


def test_span_self_time_on_a_synthetic_tree():
    spans = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "a.child", 1.5, 2.5, 1),
        _span(3, "b", 5.0, 9.0, 0),
        _span(4, "b.child", 5.0, 6.0, 3),
        _span(5, "b.child", 7.0, 8.5, 3),
    ]
    own = self_times(spans)
    assert own == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 1.5, 4: 1.0, 5: 1.5})
    assert totals_by_name(spans)["b.child"] == pytest.approx([1.0, 1.5])
    assert totals_by_name(spans, self_time=True)["b"] == pytest.approx([1.5])


def test_tracer_records_nesting_without_spark():
    from spans import Tracer

    tr = Tracer(None, enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s["name"], s["parent"], s["group"]) for s in tr.spans] == [
        ("outer", None, "0:outer"), ("inner", 0, "1:inner")]
    off = Tracer(None, enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_percentile_reports_count_and_withholds_thin_tails():
    xs = [float(i) for i in range(1, 101)]
    p50 = percentile(xs, 0.5)
    assert p50 == {"value": pytest.approx(50.5), "n": 100, "beyond": 50}
    p90 = percentile(xs, 0.9)
    assert p90["value"] == pytest.approx(90.1) and p90["beyond"] == 10
    thin = percentile(xs, 0.95)  # only 5 samples lie above it
    assert thin["value"] is None and thin["n"] == 100 and thin["beyond"] == 5
    assert percentile(xs[:19], 0.5)["value"] is None  # 9 beyond the median
    assert percentile([], 0.5) == {"value": None, "n": 0, "beyond": 0}


def test_failed_ops_are_counted_and_chained_passes_stop():
    p = Pass()
    p.op("a", lambda: 1)
    p.op("b", lambda: 1 / 0)
    p.op("c", lambda: 2)
    assert [(o.name, o.ok) for o in p.ops] == [("a", True), ("b", False), ("c", False)]
    assert "ZeroDivisionError" in p.ops[1].error and "skipped after b" in p.ops[2].error
    q = Pass(chained=False)
    q.op("b", lambda: 1 / 0)
    q.op("c", lambda: 2)
    q.fail("c", "wrong output")
    assert [(o.name, o.ok, o.error) for o in q.ops][1] == ("c", False, "wrong output")


def test_oracle_comparison_uses_the_repository_comparator():
    duckdb = pytest.importorskip("duckdb")
    from wl_analytics import compare

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1::BIGINT, 2.5::DOUBLE), (3, NULL)) t(a, b)"
    assert compare("q", (["b", "a"], [(None, 3), (2.5, 1)]), con, sql) is None
    assert "hash match False" in compare("q", (["a", "b"], [(1, 2.5), (3, 0.0)]), con, sql)
    assert "vacuous" in compare("q", (["a"], []), con, "SELECT 1::BIGINT AS a WHERE false")
    assert "Decimal" in compare("q", (["a"], [(decimal.Decimal("1.5"),)]), con,
                                "SELECT 1.5::DOUBLE AS a")


def test_every_workload_part_is_a_workload_module():
    for parts in run.WORKLOADS.values():
        for m in parts:
            assert os.path.isfile(os.path.join(HERE, f"{m}.py"))


def _fake_result():
    detail = {
        "session.start_s": 8.1, "session.first_job_s": 3.9,
        "trace.pass_s": 31.0, "trace.spans": 16.0,
        "spark": {k: 1.0 for k in ENGINE_KEYS},
    }
    e2e = {"setup_s": 0.5, "pass_s": 30.0, "pass_cpu_s": 90.0, "peak_rss_mb": 2000.0}
    return {"detail": detail, "e2e": e2e}


@pytest.mark.parametrize("trace", [False, True])
def test_runner_output_carries_every_declared_metric(declared, trace):
    metrics = run.select_metrics(declared, _fake_result(), trace)
    want = declared["per_layer" if trace else "end_to_end"]
    assert list(metrics) == [m["name"] for m in want]
    for m in want:
        got = metrics[m["name"]]
        assert set(got) == {"value", "unit"} and got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def _digest(d: str) -> dict:
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("make", [
    lambda d, s: gen.programs_inputs(d, s, n_survey=120, n_groups=60),
    lambda d, s: gen.catalog_tables(d, s, n_orders=300),
    lambda d, s: gen.event_files(d, s, n_files=3, per_file=50),
])
def test_generators_are_seed_deterministic(tmp_path, make):
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    a, b, c = (_digest(str(tmp_path / k)) for k in "abc")
    assert a and a == b
    fixed = {"region.parquet", "nation.parquet"}  # the same 5 regions, 25 nations for every seed
    assert a.keys() == c.keys() and all(a[k] != c[k] for k in a if k not in fixed)


def test_slug_mirror_matches_documented_cases():
    assert gen.slug("Doppel Prógram") == gen.slug("Doppel Program") == "doppel_program"
    assert gen.slug("Coral & Reef") == gen.slug("Coral – Reef") == "coral_reef"
    long = gen.slug("Mega Observatory Of The Northern And Southern Atlantic Basin Zones")
    assert len(long) == 58


def test_programs_expectations_are_consistent(tmp_path):
    info = gen.programs_inputs(str(tmp_path), 3, n_survey=200, n_groups=100)
    exp = info["expect"]
    assert exp["dup_members"] and exp["geo_programs"] and exp["users"]
    assert len(exp["dup_members"]) < exp["n_programs"]
    from bioeco_portal_etl_spark.sources.xlsx import read_xlsx_table

    header, body = read_xlsx_table(info["paths"]["eurosea"])
    assert header == gen.EUROSEA_HEADER and len(body) > 100
