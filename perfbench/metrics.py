"""Metric catalogue: every name the benchmark prints, with its unit, and the
reduction of a workload's raw results into them. ``BENCHMARK.json`` lists
the same names; ``tests/test_perfbench.py`` keeps the two in step.

Every workload prints every metric. A per-layer metric of a layer the
workload does not call reads 0 (the layer did no work there).
"""

from __future__ import annotations

import statistics

import spans
from workloads import QUERIES

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "call_p50_ms": "ms",
    "cpu_s": "s",
}

_PER_LAYER = [
    # untraced user-facing numbers of the workload that has them
    ("ingest_pages_per_s", "pages/s", "higher"),
    ("batch_p50_s", "s", "lower"),
    ("get_p50_ms", "ms", "lower"),
    ("get_p90_ms", "ms", "lower"),
    ("info_p50_ms", "ms", "lower"),
    ("archive_s", "s", "lower"),
    ("query_suite_s", "s", "lower"),
    ("stored_bytes_per_input_byte", "ratio", "lower"),
    ("failed_ops_ratio", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
    # session
    ("session.start_s", "s", "lower"),
    # functions.parse / parse_vec / _native / hashing
    ("hashing.native_kernel", "count", "higher"),
    ("parse.s", "s", "lower"),
    ("parse.cpu_s", "s", "lower"),
    ("parse.records_out", "count", "higher"),
    ("parse.error_share", "ratio", "lower"),
    # operators.dedup + records_keys
    ("dedup.antijoin_s", "s", "lower"),
    ("dedup.keys_files_scanned", "count", "lower"),
    ("dedup.keys_rows_scanned", "count", "lower"),
    ("dedup.duplicates", "count", "higher"),
    ("dedup.hit_ratio", "ratio", "higher"),
    # operators.enrich / operators.route
    ("route.s", "s", "lower"),
    ("route.sink_skew", "ratio", "lower"),
    # plans.pipeline
    ("pipeline.batch_s", "s", "lower"),
    ("pipeline.parse_stats_s", "s", "lower"),
    ("pipeline.write_s", "s", "lower"),
    ("pipeline.readbacks_s", "s", "lower"),
    ("pipeline.bookkeeping_s", "s", "lower"),
    ("pipeline.refresh_aggregates_s", "s", "lower"),
    ("pipeline.self_s", "s", "lower"),
    ("pipeline.jvm_cpu_s", "s", "lower"),
    ("pipeline.python_cpu_s", "s", "lower"),
    ("pipeline.gc_s", "s", "lower"),
    ("pipeline.shuffle_write_bytes", "bytes", "lower"),
    ("pipeline.spill_bytes", "bytes", "lower"),
    ("pipeline.files_written", "count", "lower"),
    ("pipeline.keys_files_per_batch", "count", "lower"),
    # catalog
    ("catalog.write_small_s", "s", "lower"),
    ("catalog.records_files", "count", "lower"),
    ("catalog.keys_files", "count", "lower"),
    # operators.lookup
    ("lookup.s", "s", "lower"),
    ("lookup.input_bytes", "bytes", "lower"),
    ("lookup.rows_scanned_per_result", "ratio", "lower"),
    # operators.aggregate
    ("aggregate.info_s", "s", "lower"),
    ("aggregate.info_input_bytes", "bytes", "lower"),
    # cli archive
    ("archive.files_before", "count", "lower"),
    ("archive.files_after", "count", "lower"),
    ("archive.keys_files_after", "count", "lower"),
    # query operators (queries*, dedup_text, similarity, lm, web)
    ("query.self_s", "s", "lower"),
    *[
        (f"query.{q}.{m}", u, "lower")
        for q in QUERIES
        for m, u in (("s", "s"), ("jvm_cpu_s", "s"), ("shuffle_bytes", "bytes"))
    ],
]
PER_LAYER = {name: unit for name, unit, _ in _PER_LAYER}
BETTER = {name: better for name, _, better in _PER_LAYER}


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def replay_layers(layers: dict, e2e_untraced: dict, failed_ratio: float) -> dict:
    sp, traced, probes = layers["spans"], layers["traced"], layers["probes"]
    jobs = layers["jobs"]
    by_span = spans.attribute(sp, jobs)
    selfs = spans.self_times(sp)

    def named(name):
        return [s for s in sp if s["name"] == name]

    def under(span):
        return [j for sid in spans.subtree(sp, span["id"]) for j in by_span[sid]]

    pipe = named("pipeline.run_pipeline")[0]
    pipe_jobs = spans.totals(under(pipe))
    batches = named("pipeline.run_batch")
    phases = [spans.batch_phases(b, under(b)) for b in batches]
    gets = named("lookup.get")
    get_tot = [spans.totals(under(s)) for s in gets]
    result_rows = [len(rows) for kind, _, rows in traced["calls"] if kind == "get"]
    infos = named("aggregate.info")
    info_tot = [spans.totals(under(s)) for s in infos]
    summary = layers["archive"]
    user = layers["user"]
    dups = sum(b.duplicates for b in traced["batches"])
    out = {
        **user,
        "failed_ops_ratio": failed_ratio,
        "trace.overhead_s": traced["phase_s"] - e2e_untraced["job_s"],
        "session.start_s": _median(layers["session_s"]),
        "parse.s": _dur(named("parse.parse_pages")[0]),
        "parse.cpu_s": probes["parse.cpu_s"],
        "parse.records_out": probes["parse.records_out"],
        "parse.error_share": probes["parse.error_share"],
        "dedup.antijoin_s": _dur(named("dedup.anti_join")[0]),
        "dedup.keys_files_scanned": probes["dedup.keys_files_scanned"],
        "dedup.keys_rows_scanned": probes["dedup.keys_rows_scanned"],
        "dedup.duplicates": dups,
        "dedup.hit_ratio": dups / max(1, probes["dedup.keys_rows_scanned"]),
        "route.s": _dur(named("route.enrich_route")[0]),
        "route.sink_skew": probes["route.sink_skew"],
        "pipeline.batch_s": _median([_dur(b) for b in batches]),
        "pipeline.parse_stats_s": _median([p["parse_stats_s"] for p in phases]),
        "pipeline.write_s": _median([p["write_s"] for p in phases]),
        "pipeline.readbacks_s": _median([p["readbacks_s"] for p in phases]),
        "pipeline.bookkeeping_s": _median([p["bookkeeping_s"] for p in phases]),
        "pipeline.refresh_aggregates_s": sum(_dur(s) for s in named("pipeline.refresh_aggregates")),
        "pipeline.self_s": selfs[pipe["id"]],
        "pipeline.jvm_cpu_s": pipe_jobs["cpu_s"],
        "pipeline.python_cpu_s": traced["pipeline_python_cpu_s"],
        "pipeline.gc_s": pipe_jobs["gc_s"],
        "pipeline.shuffle_write_bytes": pipe_jobs["shuffle_write_bytes"],
        "pipeline.spill_bytes": pipe_jobs["spill_bytes"],
        "pipeline.files_written": traced["files_written"],
        "pipeline.keys_files_per_batch": traced["keys_files_written"] / max(1, len(batches)),
        "catalog.write_small_s": sum(traced["write_small_s"]),
        "catalog.records_files": traced["records_files"],
        "catalog.keys_files": traced["keys_files"],
        "lookup.s": _median([_dur(s) for s in gets]),
        "lookup.input_bytes": _median([t["input_bytes"] for t in get_tot]),
        "lookup.rows_scanned_per_result": sum(t["input_records"] for t in get_tot) / max(1, sum(result_rows)),
        "aggregate.info_s": _median([_dur(s) for s in infos]),
        "aggregate.info_input_bytes": _median([t["input_bytes"] for t in info_tot]),
        "archive.files_before": summary.get("files_before", 0),
        "archive.files_after": summary.get("files_after", 0),
        "archive.keys_files_after": (summary.get("keys") or {}).get("keys_files_after", 0),
    }
    out["trace.overhead_share"] = out["trace.overhead_s"] / e2e_untraced["job_s"]
    return out


def suite_layers(layers: dict, e2e_untraced: dict, failed_ratio: float) -> dict:
    sp, jobs = layers["spans"], layers["jobs"]
    by_span = spans.attribute(sp, jobs)
    selfs = spans.self_times(sp)
    out = {**layers["user"], "failed_ops_ratio": failed_ratio, "session.start_s": _median(layers["session_s"])}
    traced_pass = 0.0
    for s in sp:
        if s["name"] == "query_suite.pass":
            traced_pass = _dur(s)
            out["query.self_s"] = selfs[s["id"]]
        elif s["name"].startswith("query."):
            tot = spans.totals([j for sid in spans.subtree(sp, s["id"]) for j in by_span[sid]])
            out[f"{s['name']}.s"] = _dur(s)
            out[f"{s['name']}.jvm_cpu_s"] = tot["cpu_s"]
            out[f"{s['name']}.shuffle_bytes"] = tot["shuffle_write_bytes"]
    out["trace.overhead_s"] = traced_pass - e2e_untraced["job_s"]
    out["trace.overhead_share"] = out["trace.overhead_s"] / e2e_untraced["job_s"]
    return out


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def per_layer(workload: str, layers: dict, e2e: dict, failed_ratio: float, native: bool) -> dict:
    reduce = replay_layers if workload == "ingest_replay" else suite_layers
    got = reduce(layers, e2e, failed_ratio)
    got["peak_rss_mb"] = layers["peak_rss_mb"]
    got["hashing.native_kernel"] = int(native)
    return {name: got.get(name, 0) for name in PER_LAYER}

