"""Per-layer metrics of a run, from its spans, the Spark event log,
the streaming listener and the ctgov_etl stand-ins' counters.

Every per-layer value is the mean over the warm traced passes (all
passes but the first, with tracing on), so a value is per pass and
does not depend on how many passes fit in the run.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench import tracing
from perfbench.workloads import MODULE_OF, N_STUDIES

# name -> unit, in the order they are reported.
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.plan_s": "s", "catalyst.first_plan_s": "s", "catalyst.plan_lines": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.idle_core_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "spill.memory_bytes": "bytes", "spill.disk_bytes": "bytes",
    "scan.bytes_read": "bytes", "scan.records_read": "count",
    "output.bytes_written": "bytes", "output.records_written": "count",
    "python.boot_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.bytes_sent": "bytes", "python.bytes_returned": "bytes", "python.rows_returned": "count",
    "sources.rest.extract_s": "s", "sources.rest.pages": "count",
    "operators.flatten.flatten_s": "s",
    "operators.llm.classify_s": "s", "operators.llm.calls": "count", "operators.llm.wait_s": "s",
    "operators.llm.calls_per_row": "ratio", "sources.csv_sink.write_s": "s",
    "operators.dedup.s": "s", "operators.similarity.s": "s", "operators.quality.s": "s",
    "operators.decontam.s": "s", "functions.text.s": "s", "operators.multimodal.s": "s",
    "streaming.batches": "count", "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.latest_offset_s": "s",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_s": "s", "streaming.outside_batch_s": "s",
    "streaming.batch_p50_ms": "ms", "streaming.batch_p90_ms": "ms",
    "findings.noop_llm_calls_per_row": "ratio",
    "findings.token_noop_s": "s", "findings.token_tasks": "count",
    "findings.indexed_noop_s": "s", "findings.indexed_tasks": "count",
    "trace.overhead_s": "s",
}

# Event-log fold key -> per-layer name, summed over every window of a pass.
_TASK_KEYS = {
    "stages": "exec.stages", "tasks": "exec.tasks", "task_run_s": "exec.task_run_s",
    "task_cpu_s": "exec.task_cpu_s", "gc_s": "exec.gc_s",
    "shuffle_write_bytes": "shuffle.write_bytes", "shuffle_read_bytes": "shuffle.read_bytes",
    "fetch_wait_s": "shuffle.fetch_wait_s", "spill_memory_bytes": "spill.memory_bytes",
    "spill_disk_bytes": "spill.disk_bytes", "scan_bytes_read": "scan.bytes_read",
    "scan_records_read": "scan.records_read", "output_bytes_written": "output.bytes_written",
    "output_records_written": "output.records_written",
    **{k: k for k in (
        "python.boot_s", "python.init_s", "python.run_s", "python.bytes_sent",
        "python.bytes_returned", "python.rows_returned",
    )},
}
# Span name -> the window kind its jobs and tasks are attributed to.
_SPAN_KIND = {
    "queries.build": "build",
    "plans.pipeline.read_studies": "build",
    "operators.flatten.flatten_studies": "build",
    "operators.llm.llm_classify": "build",
    "catalyst.plan": "plan",
    "exec.action": "action",
    "sources.csv_sink.write_reference_csv": "action",
}
_PHASES = {
    "streaming.trigger_s": "triggerExecution", "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning", "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets", "streaming.latest_offset_s": "latestOffset",
}


def wrap_pipeline(tracer) -> None:
    """Span the stage functions ``run_pipeline`` calls, by replacing
    the names it looks up in its own module."""
    from ctgov_ai_etl_spark.plans import pipeline

    for attr, name in (
        ("read_studies", "plans.pipeline.read_studies"),
        ("flatten_studies", "operators.flatten.flatten_studies"),
        ("llm_classify", "operators.llm.llm_classify"),
        ("write_reference_csv", "sources.csv_sink.write_reference_csv"),
    ):
        tracer.wrap(pipeline, attr, name)


def ctgov_prefixes(spark, wl, tracer) -> dict:
    """Run pipeline prefixes once each to a noop sink, after the timed
    window: extract, extract+flatten, the whole pipeline (with and
    without the LLM delay), and the whole pipeline with indexed paging.
    Differences between prefixes give the per-stage times."""
    from ctgov_ai_etl_spark.operators.flatten import flatten_studies
    from ctgov_ai_etl_spark.plans import pipeline

    out: dict = {"windows": []}

    def noop(label: str, build, plan: bool = False) -> float:
        t0 = time.time()
        with tracer.span(f"prefix.{label}"):
            df = build()
            if plan:
                with tracer.span("catalyst.plan"):
                    physical = df._jdf.queryExecution().executedPlan()
                out["plan_lines"] = len(physical.toString().splitlines())
            df.write.format("noop").mode("overwrite").save()
        t1 = time.time()
        out["windows"].append((t0, t1, label))
        return t1 - t0

    extract = noop("extract", lambda: pipeline.read_studies(spark, wl.cfg()))
    flatten = noop("flatten", lambda: flatten_studies(pipeline.read_studies(spark, wl.cfg())))
    before = wl.read_counts()["llm_calls"]
    classify = noop("classify", lambda: pipeline.run_pipeline(spark, wl.cfg()), plan=True)
    out["noop_llm_calls"] = wl.read_counts()["llm_calls"] - before
    out["token_noop_s"] = noop("token", lambda: pipeline.run_pipeline(spark, wl.cfg(delay_s=0)))
    out["indexed_noop_s"] = noop(
        "indexed", lambda: pipeline.run_pipeline(spark, wl.cfg("indexed", delay_s=0))
    )
    out.update(extract_s=extract, flatten_s=flatten - extract, classify_s=classify - flatten)
    out["classify_total_s"] = classify
    return out


def _in(t: float, window: dict) -> bool:
    return window["start"] <= t <= window["end"]


def per_layer(workload, wl, passes, tracer, listener, dirs, extras, cores) -> dict:
    """``{name: (value, unit)}`` for every per-layer metric; metrics a
    workload does not exercise are 0."""
    vals = {k: 0.0 for k in PER_LAYER}
    spans = tracer.with_self_times() if tracer.spans else []
    warm = [p for p in passes[1:] if p["traced"]] or passes[1:]

    # Windows for the event-log fold: (start, end, "<pass>:<kind>").
    windows = [
        (s["start"], s["end"], f"{p['n']}:{_SPAN_KIND[s['name']]}")
        for p in passes if p["traced"]
        for s in spans if s["name"] in _SPAN_KIND and _in(s["start"], p)
    ] + list(extras.get("windows", []))
    logged = os.listdir(dirs["eventlog"])
    folded = tracing.fold_event_log(tracing.read_event_log(dirs["eventlog"]), windows) if logged else {}

    def mean(per_pass) -> float:
        xs = [per_pass(p) for p in warm]
        return sum(xs) / len(xs) if xs else 0.0

    def span_sum(p, kind) -> float:
        return sum(s["dur_s"] for s in spans if _SPAN_KIND.get(s["name"]) == kind and _in(s["start"], p))

    def fold(p, kind, key) -> float:
        return folded.get(f"{p['n']}:{kind}", {}).get(key, 0.0)

    vals["queries.build_s"] = mean(lambda p: span_sum(p, "build"))
    vals["catalyst.plan_s"] = mean(lambda p: span_sum(p, "plan"))
    vals["catalyst.first_plan_s"] = span_sum(passes[0], "plan") if passes[0]["traced"] else 0.0
    vals["catalyst.plan_lines"] = mean(lambda p: sum(o["plan_lines"] for o in p["ops"].values()))
    vals["exec.action_s"] = mean(lambda p: span_sum(p, "action"))
    vals["queries.build_jobs"] = mean(lambda p: fold(p, "build", "jobs"))
    vals["exec.jobs"] = mean(lambda p: fold(p, "action", "jobs"))
    for key, name in _TASK_KEYS.items():
        vals[name] = mean(lambda p: sum(fold(p, k, key) for k in ("build", "plan", "action")))
    vals["exec.idle_core_s"] = mean(
        lambda p: cores * span_sum(p, "action") - fold(p, "action", "task_run_s")
    )
    for q, module in MODULE_OF.items():
        vals[f"{module}.s"] += mean(lambda p: p["ops"].get(q, {}).get("s", 0.0))

    if listener is not None:
        all_warm = passes[1:]
        batches = [b for b in listener.batches if any(_in(b["start"], p) for p in warm)]
        n_warm = max(len(warm), 1)
        vals["streaming.batches"] = len(batches) / n_warm
        for name, phase in _PHASES.items():
            vals[name] = sum(b["durationMs"].get(phase, 0) for b in batches) / 1e3 / n_warm
        vals["streaming.state_rows"] = sum(b["state_rows"] for b in batches) / n_warm
        vals["streaming.state_memory_bytes"] = sum(b["state_memory_bytes"] for b in batches) / n_warm
        vals["streaming.state_commit_s"] = sum(b["state_commit_ms"] for b in batches) / 1e3 / n_warm
        vals["streaming.outside_batch_s"] = vals["queries.build_s"] - vals["streaming.trigger_s"]
        trig = [
            b["durationMs"]["triggerExecution"]
            for b in listener.batches if any(_in(b["start"], p) for p in all_warm)
        ]
        if trig:
            vals["streaming.batch_p50_ms"] = statistics.median(trig)
            vals["streaming.batch_p90_ms"] = (
                statistics.quantiles(trig, n=10, method="inclusive")[8] if len(trig) > 1 else trig[0]
            )

    if workload == "ctgov_etl":
        warm_counts = [c for p, c in zip(passes, wl.counts) if p in warm]
        n = max(len(warm_counts), 1)
        vals["operators.llm.calls"] = sum(c["llm_calls"] for c in warm_counts) / n
        vals["operators.llm.wait_s"] = sum(c["llm_wait_s"] for c in warm_counts) / n
        vals["sources.rest.pages"] = sum(c["pages"] for c in warm_counts) / n
        rows = sum(wl.rows) or 1
        vals["operators.llm.calls_per_row"] = sum(c["llm_calls"] for c in wl.counts) / rows
        if extras:
            vals["sources.rest.extract_s"] = extras["extract_s"]
            vals["operators.flatten.flatten_s"] = extras["flatten_s"]
            vals["operators.llm.classify_s"] = extras["classify_s"]
            vals["sources.csv_sink.write_s"] = mean(lambda p: p["s"]) - extras["classify_total_s"]
            vals["findings.noop_llm_calls_per_row"] = extras["noop_llm_calls"] / N_STUDIES
            vals["findings.token_noop_s"] = extras["token_noop_s"]
            vals["findings.indexed_noop_s"] = extras["indexed_noop_s"]
            vals["findings.token_tasks"] = folded.get("token", {}).get("tasks", 0.0)
            vals["findings.indexed_tasks"] = folded.get("indexed", {}).get("tasks", 0.0)
            vals["catalyst.plan_s"] = sum(
                s["dur_s"] for s in spans if s["name"] == "catalyst.plan"
            )
            vals["catalyst.plan_lines"] = extras["plan_lines"]

    traced_s = [p["s"] for p in passes[1:] if p["traced"]]
    plain_s = [p["s"] for p in passes[1:] if not p["traced"]]
    if traced_s and plain_s:
        vals["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(plain_s)
    return {k: (float(v), PER_LAYER[k]) for k, v in vals.items()}


def e2e_extras(workload: str, layer_vals: dict) -> dict:
    """The workload-specific end-to-end figures printed in the table
    (they are not defined on every workload, so they are not in the
    JSON line of an untraced run)."""
    keys = {
        "ctgov_etl": ("operators.llm.calls_per_row",),
        "curation": ("streaming.batch_p50_ms", "streaming.batch_p90_ms"),
    }.get(workload, ())
    return {k.split(".")[-1]: layer_vals[k] for k in keys}


def write_span_file(root: str, args, res: dict, leftover: dict) -> str:
    """Write the traced run's record once, at the end of the run."""
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "setup_runs_s": res["setup_runs_s"], "passes": res["passes"],
        "spans": res["spans"], "per_layer": {k: v for k, (v, _) in res["layers"].items()},
        "leftover_bytes": leftover,
        "findings": {
            "csv_llm_calls_per_row": res["layers"]["operators.llm.calls_per_row"][0],
            "noop_llm_calls_per_row": res["layers"]["findings.noop_llm_calls_per_row"][0],
            "token_noop_s": res["layers"]["findings.token_noop_s"][0],
            "indexed_noop_s": res["layers"]["findings.indexed_noop_s"][0],
            "indexed_tasks": res["layers"]["findings.indexed_tasks"][0],
        },
    }
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    return path
