"""Workload definitions: which registry modules each workload covers, its
input shape, and the fixed query list a default run times.

The two workloads partition the engine's benchable queries (every
``queries()`` entry not tagged ``bisect``/``nobench``) by the module that
registers them. A full pass over a partition takes minutes, so a default run
times a fixed subset chosen to touch every module group of the workload;
``--queries all`` times the whole partition.
"""

from __future__ import annotations

import importlib

# module group -> registry modules (the harness reads each module's QUERIES,
# or the dict named after a colon)
GROUPS = {
    "relational": ("duckdb_ml_spark.plans.relational:RELATIONAL_QUERIES",),
    "scale": ("duckdb_ml_spark.plans.scale",),
    "analytics": ("duckdb_ml_spark.operators.analytics",),
    "asof": ("duckdb_ml_spark.operators.asof",),
    "dq": ("duckdb_ml_spark.operators.dq",),
    "mlprep": ("duckdb_ml_spark.operators.mlprep",),
    "streaming": ("duckdb_ml_spark.streaming.queries",),
    "dedup": ("duckdb_ml_spark.operators.dedup",),
    "similarity": (
        "duckdb_ml_spark.operators.similarity",
        "duckdb_ml_spark.operators.pq",
        "duckdb_ml_spark.operators.ivfpq",
    ),
    "text": ("duckdb_ml_spark.operators.text", "duckdb_ml_spark.operators.bpe"),
    "pipeline": ("duckdb_ml_spark.operators.pipeline",),
    "sampling": ("duckdb_ml_spark.operators.sampling",),
    "sources": ("duckdb_ml_spark.sources.readers",),
    "multimodal": ("duckdb_ml_spark.operators.multimodal",),
    "ml": ("duckdb_ml_spark.functions.queries", "duckdb_ml_spark.autompg"),
    "other": (),
}
NOBENCH_TAGS = {"bisect", "nobench"}

WORKLOADS = {
    "analytics": {
        "why": (
            "modules relational, scale, analytics, asof, dq, mlprep, "
            "streaming on 4x-replicated facts: ~19x curation's shuffle, 5x "
            "its scan and 5x its warm executor CPU, so JVM-operator changes show"
        ),
        "groups": ("relational", "scale", "analytics", "asof", "dq", "mlprep", "streaming"),
        "sf": 0.0125,
        "factor": 4,
        "queries": (
            "pricing_summary",
            "revenue_by_nation",
            "skew_salted_agg",
            "events_sessionize",
            "range_event_pairs",
            "dq_distinct_sketch",
            "ml_onehot_orders",
            "stream_tumbling_hourly",
        ),
    },
    "curation": {
        "why": (
            "modules dedup, similarity, text, pipeline, sampling, sources, "
            "ml, multimodal: 4x analytics' builder time, more multi-job "
            "queries, lowest executor CPU share; job-floor, driver, Python changes show"
        ),
        "groups": (
            "dedup",
            "similarity",
            "text",
            "pipeline",
            "sampling",
            "sources",
            "ml",
            "multimodal",
        ),
        "sf": 0.01,
        "factor": 1,
        "queries": (
            "dedup_minhash_lsh_pairs",
            "sim_topk_bruteforce",
            "bpe_merge_table",
            "pack_sequences",
            "sample_stratified",
            "source_csv_roundtrip",
            "ml_train_predict",
            "mm_decode_png",
        ),
    },
}


def group_of_queries() -> dict[str, str]:
    """Benchable query name -> module group, read from the registries.

    Benchable queries that no listed module registers fall in ``other``."""
    import __spark_entry__ as entry

    specs = entry._all_query_specs()
    out = {}
    for group, modules in GROUPS.items():
        for spec in modules:
            modname, _, attr = spec.partition(":")
            for name in getattr(importlib.import_module(modname), attr or "QUERIES"):
                out[name] = group
    return {
        name: out.get(name, "other")
        for name, spec in specs.items()
        if not NOBENCH_TAGS & set(getattr(spec, "tags", ()) or ())
    }


def query_list(workload: str, which: str | None = None) -> list[str]:
    """The queries a run times: the workload's default list, its whole
    partition (``which == "all"``), or an explicit comma-separated list."""
    wl = WORKLOADS[workload]
    if not which:
        return list(wl["queries"])
    if which == "all":
        return [q for q, g in group_of_queries().items() if g in wl["groups"]]
    return which.split(",")
