"""corpus_dedupe: ``curate_documents`` over seeded documents, then the
catalog's text/graph/similarity entries ``td2_minhash_lsh``,
``td10_containment``, ``gr6_dup_components`` and ``ts3_ivf_topk``.

These are driver-orchestrated multi-job loops with persist/unpersist over
small data: the cost is job and stage overhead plus cache fills. The
generated corpus plants exact duplicates, one-token near-duplicates and
quote-inclusion pairs.

``ts3_ivf_topk`` stands for the design's ``ts4_kmeans_ivf``: the same IVF
top-k, against fixed centroids instead of k-means-fitted ones. ts4's oracle
pins literal results for the fixed testdata embeddings only, so on
generated embeddings it could not be checked, and its driver-looped fit
cost about 10 s of a pass; ts3 has a DuckDB oracle.

Checks: the curation funnel starts at the document count and never grows;
td2/td10/gr6/ts3 match their DuckDB oracles.
"""

from __future__ import annotations

from bioeco_portal_etl_spark import catalog
from bioeco_portal_etl_spark.pipelines.curation import curate_documents
from bioeco_portal_etl_spark.sources.files import read_parquet_table

import gen
from harness import Pass
from wl_analytics import compare, oracle_connection

QUERIES = ["td2_minhash_lsh", "td10_containment", "gr6_dup_components", "ts3_ivf_topk"]
TABLES = ["documents", "embeddings"]


def prepare(in_dir: str, seed: int) -> dict:
    info = gen.catalog_tables(in_dir, seed, names=TABLES)
    return {"dir": info["dir"], "rows": info["rows"]}


def run_pass(spark, state, out_dir, tr):
    p = Pass(chained=False)
    fns = catalog.queries()
    results = p.outputs["results"] = {}

    def curate():
        with tr.span("curation.curate"):
            docs = read_parquet_table(spark, state["dir"], "documents")
            curated, funnel = curate_documents(docs)
            curated.unpersist()
        p.outputs["funnel"] = funnel

    def run_query(name):
        with tr.span(f"query.{name}"):
            df = fns[name](spark, state["dir"])
            results[name] = (df.columns, [tuple(r) for r in df.collect()])

    with tr.span("pass"):
        p.op("curate_documents", curate)
        for name in QUERIES:
            p.op(name, run_query, name)
    return p


def check(spark, state, p) -> None:
    funnel = p.outputs.get("funnel")
    if funnel is not None:
        counts = list(funnel.values())
        if counts[0] != state["rows"]["documents"] or counts != sorted(counts, reverse=True):
            p.fail("curate_documents", f"funnel {funnel}")
        state["funnel"] = funnel
    oracles = catalog.oracle_sql()
    con = oracle_connection(state["dir"], TABLES)
    try:
        for name, got in p.outputs["results"].items():
            why = compare(name, got, con, oracles[name])
            if why:
                p.fail(name, why)
    finally:
        con.close()


def layer_metrics(state, p) -> dict:
    funnel = state.get("funnel", {})
    return {f"curation.funnel.{k}": v for k, v in funnel.items()}
