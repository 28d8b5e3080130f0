"""Per-layer metrics: the table of names, and their values from a trace.

A layer is a package module. Spans are named after the module function
the benchmark called (``sources.json_ingest.ingest_batch``), or carry a
``layer`` attribute naming the module that built a registered query
(``operators.dedup``). ``<span>.busy_s`` is the summed wall time of the
spans with that name or layer inside the measured ``run`` span, children
included; the two index-build metrics are read from the ``setup`` span,
where the build happens. ``spark.*`` sums the Spark runtime numbers of
every span under ``run``.
"""

from __future__ import annotations

from collections import defaultdict

# one registered query per analytics module (see README.md)
ANALYTICS_QUERIES = (
    "q34_sql_tpch_q3 q09_tpch_q1 dedup_simhash_banded dedup_bloom_decontaminate "
    "q73_knn_classify q91_centroid_outliers q105_lang_top_bigrams"
).split()
SERVES = (
    "idx_bm25_serve",
    "idx_maxscore_topk",
    "idx_term_lookup",
    "idx_phrase_search",
    "idx_bm25_incremental_serve",
)
ANALYTICS_MODULES = (
    "operators.dedup",
    "operators.sketches",
    "operators.similarity",
    "operators.pipeline",
    "operators.text_analysis",
    "operators.relational",
    "plans.sql",
)
SPARK = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("driver_s", "s"),
)
SETUP_METRICS = ("index.build.write_index.busy_s", "index.search.search_index_table.build_s")

_W, _R = "write_path", "read_mix"
_SEARCH = "search_p50_ms, search_qps"
_ANALYTICS = "analytics_pass_s, analytics_vs_duckdb"

# (metric, unit, better, workload that exercises it (None: every workload),
#  the workload's named metric it should move)
LAYERS: list[tuple[str, str, str, str | None, str]] = [
    ("sources.json_ingest.ingest_batch.busy_s", "s", "lower", _W, "write_docs_per_s, freshness_p50_s"),
    ("sources.json_ingest.ingest_batch.bytes_written", "bytes", "lower", _W, "write_amp"),
    ("documents.validate.valid_frac", "ratio", "higher", _W, "write_docs_per_s"),
    ("documents.merge.merge.busy_s", "s", "lower", _W, "update_p50_s"),
    ("documents.merge.replace.busy_s", "s", "lower", _W, "update_p50_s"),
    ("documents.delete.cascade_delete.busy_s", "s", "lower", _W, "update_p50_s"),
    ("documents.shred.write_tables.bytes_written", "bytes", "lower", _W, "write_amp"),
    ("streaming.index_maintenance.upsert_batch.busy_s", "s", "lower", _W, "freshness_p50_s"),
    ("streaming.index_maintenance.compact.busy_s", "s", "lower", _W, "freshness_p90_s, space_amp"),
    ("streaming.index_maintenance.read_postings.busy_s", "s", "lower", _W, "freshness_p50_s"),
    ("streaming.index_maintenance.partials", "count", "lower", _W, "freshness_p90_s, space_amp"),
    ("index.build.write_index.busy_s", "s", "lower", _R, "index_build_s, setup_s"),
    ("index.search.search_index_table.build_s", "s", "lower", _R, "index_build_s, setup_s"),
    *[(f"index.search.{q}.busy_s", "s", "lower", _R, _SEARCH) for q in SERVES],
    ("index.search.term_impacts.busy_s", "s", "lower", _R, _SEARCH),
    ("index.search.term_impacts.rows_read_per_hit", "ratio", "lower", _R, _SEARCH),
    ("documents.reassemble.reassemble.busy_s", "s", "lower", _R, _SEARCH),
    *[
        (f"documents.search.{k}.busy_s", "s", "lower", _R, _SEARCH)
        for k in ("match", "wildcard", "range", "nested")
    ],
    *[(f"{m}.busy_s", "s", "lower", _R, _ANALYTICS) for m in ANALYTICS_MODULES],
    *[(f"registry.{q}.busy_s", "s", "lower", _R, _ANALYTICS) for q in ANALYTICS_QUERIES],
    *[(f"spark.{k}", u, "lower", None, "cpu_ms_per_op, op_p50_ms") for k, u in SPARK],
    ("trace.overhead_s", "s", "lower", None, "none (traced minus untraced wall time)"),
    ("trace.bookkeeping_s", "s", "lower", None, "none (time inside the tracer's own calls)"),
]


def subtree(spans: list[dict], root_name: str) -> list[dict]:
    """The top-level span named ``root_name`` and all its descendants."""
    inside = {s["id"] for s in spans if s["name"] == root_name and s["parent"] is None}
    out = []
    for s in spans:  # parents precede children
        if s["id"] in inside or s["parent"] in inside:
            inside.add(s["id"])
            out.append(s)
    return out


def layer_values(
    spans: list[dict], extra: dict[str, float], overhead_s: float, bookkeeping_s: float
) -> dict[str, float]:
    """The per-layer values the trace holds, by metric name."""
    values: dict[str, float] = defaultdict(float)
    for root in ("setup", "run"):
        for s in subtree(spans, root):
            for key in {s["name"], s.get("layer")} - {None}:
                name = f"{key}.busy_s"
                if (name in SETUP_METRICS or key == "index.search.search_index_table") == (
                    root == "setup"
                ):
                    values[name] += s["dur"]
            if root == "run":
                if "bytes_written" in s:
                    values[f"{s['name']}.bytes_written"] += s["bytes_written"]
                for key, _ in SPARK:
                    values[f"spark.{key}"] += s[key]
    if "index.search.search_index_table.busy_s" in values:
        values["index.search.search_index_table.build_s"] = values.pop(
            "index.search.search_index_table.busy_s"
        )
    values.update(extra)
    values["trace.overhead_s"] = overhead_s
    values["trace.bookkeeping_s"] = bookkeeping_s
    return dict(values)


def per_layer(values: dict[str, float]) -> dict:
    """{metric: (value, unit)} for every name in LAYERS; a layer the
    workload never called reads 0."""
    return {name: (values.get(name, 0.0), unit) for name, unit, _, _, _ in LAYERS}


def missing(values: dict[str, float], workload: str) -> list[str]:
    """Per-layer metrics of ``workload`` that its trace did not record."""
    return [
        f"no {name} in the {workload} trace"
        for name, _, _, w, _ in LAYERS
        if w in (None, workload) and name not in values
    ]
