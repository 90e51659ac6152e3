"""Per-layer metrics of one traced pass.

Layers are named by the engine module they time. Self times telescope: each
is a cumulative prefix minus the previous prefix, and the last prefix is the
pass itself, so the self times of a workload add up to ``trace.pass_s``.
Layers a workload never enters read 0.
"""

from __future__ import annotations

from kgbench.eventlog import SpanStats

# name -> unit, in BENCHMARK.json order
PER_LAYER = {
    "sources.io.scan_s": "s",
    "functions.normalize.self_s": "s",
    "operators.extract.doc_facts_self_s": "s",
    "operators.extract.triples_self_s": "s",
    "operators.extract.py_bytes_sent": "bytes",
    "operators.extract.py_bytes_returned": "bytes",
    "operators.extract.py_run_s": "s",
    "operators.extract.rows_out": "count",
    "plans.materialize.self_s": "s",
    "plans.materialize.jobs": "count",
    "plans.materialize.files_written": "count",
    "plans.materialize.bytes_written": "bytes",
    "plans.materialize.shuffle_write_bytes": "bytes",
    "plans.materialize.edges": "count",
    "plans.materialize.vertices": "count",
    "plans.add_content.batch_triples_s": "s",
    "plans.add_content.merge_self_s": "s",
    "plans.add_content.jobs": "count",
    "plans.add_content.affected_buckets": "count",
    "plans.add_content.rows_rewritten": "count",
    "plans.add_content.rewrite_amplification": "ratio",
    "operators.dedup.signatures_s": "s",
    "operators.dedup.candidates_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verify_s": "s",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.py_bytes_sent": "bytes",
    "operators.canonicalize.cc_s": "s",
    "operators.canonicalize.jobs": "count",
    "plans.incremental_dedup.publish_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_mb": "MB",
    "spark.jvm_peak_rss_mb": "MB",
    "spark.py_worker_start_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_ratio": "ratio",
}

_SENT = "data sent to Python workers"
_RETURNED = "data returned from Python workers"
_RUN = "time to run Python workers"
_START = "time to start Python workers"
_ROWS = "number of output rows"
_WRITE_CMD = "Execute InsertIntoHadoopFsRelationCommand"


def _extract(v: dict, s: dict[str, float], facts: SpanStats) -> None:
    v["sources.io.scan_s"] = s["scan"]
    v["functions.normalize.self_s"] = s["normalize"] - s["scan"]
    v["operators.extract.doc_facts_self_s"] = s["doc_facts"] - s["normalize"]
    v["operators.extract.triples_self_s"] = s["triples"] - s["doc_facts"]
    v["operators.extract.py_bytes_sent"] = facts.sql_sum(_SENT)
    v["operators.extract.py_bytes_returned"] = facts.sql_sum(_RETURNED)
    v["operators.extract.py_run_s"] = facts.sql_seconds(_RUN)
    v["operators.extract.rows_out"] = facts.sql_sum(_ROWS, "MapInPandas")


def per_layer_metrics(workload: str, tracer, result: dict,
                      spans: dict[str, SpanStats], jvm_peak_kb: int,
                      untraced_s: float) -> dict:
    s = tracer.spans
    stats = {name: spans.get(tracer.label(name), SpanStats()) for name in s}
    full = stats["pass"]
    v = dict.fromkeys(PER_LAYER, 0)
    if workload == "kg_build":
        _extract(v, s, stats["doc_facts"])
        v["plans.materialize.self_s"] = s["pass"] - s["triples"]
        v["plans.materialize.jobs"] = full.jobs
        v["plans.materialize.files_written"] = full.sql_sum("number of written files")
        v["plans.materialize.bytes_written"] = full.sql_sum("written output")
        v["plans.materialize.shuffle_write_bytes"] = full.shuffle_write_bytes
        v["plans.materialize.edges"] = result["edges"]
        v["plans.materialize.vertices"] = result["vertices"]
        add, added = stats["add"], result["add"]
        rewritten = add.sql_sum(_ROWS, _WRITE_CMD)
        v["plans.add_content.batch_triples_s"] = s["add_triples"]
        v["plans.add_content.merge_self_s"] = s["add"] - s["add_triples"]
        v["plans.add_content.jobs"] = add.jobs
        v["plans.add_content.affected_buckets"] = len(added["affected_buckets"])
        v["plans.add_content.rows_rewritten"] = rewritten
        v["plans.add_content.rewrite_amplification"] = rewritten / max(1, added["new_edges"])
    else:
        cand, ver = result["candidate_pairs"], result["verified_pairs"]
        v["operators.dedup.signatures_s"] = s["signatures"]
        v["operators.dedup.candidates_s"] = s["candidates"] - s["signatures"]
        v["operators.dedup.candidate_pairs"] = cand
        v["operators.dedup.verify_s"] = s["verify"] - s["candidates"]
        v["operators.dedup.verified_pairs"] = ver
        v["operators.dedup.verify_yield"] = ver / max(1, cand)
        v["operators.dedup.py_bytes_sent"] = full.sql_sum(_SENT)
        v["operators.canonicalize.cc_s"] = s["cc"] - s["verify"]
        v["operators.canonicalize.jobs"] = stats["cc"].jobs - stats["verify"].jobs
        v["plans.incremental_dedup.publish_s"] = s["pass"] - s["cc"]
    v["spark.executor_cpu_s"] = full.executor_cpu_ns / 1e9
    v["spark.gc_s"] = full.gc_ms / 1e3
    v["spark.spill_bytes"] = full.spill_bytes
    v["spark.peak_exec_mem_mb"] = full.peak_exec_mem / 2**20
    v["spark.jvm_peak_rss_mb"] = jvm_peak_kb / 1024
    v["spark.py_worker_start_s"] = full.sql_seconds(_START)
    v["trace.pass_s"] = s["pass"]
    v["trace.overhead_ratio"] = s["pass"] / untraced_s - 1
    return {name: {"value": v[name], "unit": unit} for name, unit in PER_LAYER.items()}
