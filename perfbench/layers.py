"""Per-layer figures of a traced run: spans from spans.py joined with the
Spark jobs that eventlog.py attributes to each operation.

Times and counts are per operation (a query, or a load batch) and
averaged over the traced operations, so each value carries its base in
its unit (``s/op``, ``jobs/op``).
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

import eventlog
from spans import Span

#: Spans that stand for a layer; the outermost of them in an operation
#: cover its time, and what they leave uncovered is unaccounted.
LAYER_SPANS = {"operators", "catalyst", "execute", "sources", "plans", "pipeline.build", "sinks"}


def _ancestors(spans: list[Span], i: int) -> list[str]:
    out, p = [], spans[i].parent
    while p is not None:
        out.append(spans[p].name)
        p = spans[p].parent
    return out


def span_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per group: summed seconds and counts of each layer's outermost spans."""
    tot: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for i, s in enumerate(spans):
        up = _ancestors(spans, i)
        dur = s.end - s.start
        t = tot[s.group]
        if s.name == "op":
            t["op"] += dur
            continue
        if s.name in LAYER_SPANS and not LAYER_SPANS.intersection(up):
            t["covered"] += dur
        if s.name in up:
            continue  # nested in a span of the same layer
        t[s.name] += dur
        t[s.name + ".calls"] += 1
        if "operators" in up and s.name in ("sources", "plans") and not {"sources", "plans"}.intersection(up):
            t["operators.children"] += dur
    return tot


def dir_stats(path: str) -> tuple[int, int, int]:
    """(bytes, rows, files) of the parquet data files under ``path``."""
    import pyarrow.parquet as pq

    size = rows = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, n)
            size += os.path.getsize(full)
            rows += pq.ParquetFile(full).metadata.num_rows
            files += 1
    return size, rows, files


def per_layer(bench, app_id: str) -> dict[str, float]:
    groups = bench.traced_groups
    n = max(1, len(groups))
    spans = span_totals(bench.tracer.spans)
    jobs = eventlog.by_group(eventlog.read_jobs(os.path.join(bench.work, "events"), app_id))

    def span_sum(key: str) -> float:
        return sum(spans[g][key] for g in groups)

    def job_count(layer: str) -> int:
        return sum(1 for g in groups for j in jobs.get(g, []) if eventlog.in_layer(j, layer))

    all_jobs = [j for g in groups for j in jobs.get(g, [])]
    n_jobs = len(all_jobs)
    stages = sum(len(j.stages) for j in all_jobs)
    tasks = sum(j.tasks for j in all_jobs)
    job_s = sum(j.seconds for j in all_jobs)
    run_s = sum(j.run_ms for j in all_jobs) / 1000.0
    op_s = span_sum("op")
    construct = span_sum("operators")

    sink_jobs = [j for j in all_jobs if eventlog.in_layer(j, "sinks")]
    sink_bytes = sum(j.bytes_written for j in sink_jobs)
    batch_bytes = 0
    dest_bytes = dest_rows = dest_files = 0
    if bench.is_load:
        per_batch = [os.path.getsize(p) for p in bench.load.batch_paths]
        batch_bytes = sum(per_batch[int(g.rsplit(".", 1)[1])] for g in groups)
        dest_bytes, dest_rows, dest_files = bench.dest_stats

    plain = statistics.median(bench.plain_pass) if bench.plain_pass else 0.0
    traced = statistics.median(bench.traced_pass) if bench.traced_pass else 0.0

    return {
        "session.start_s": statistics.median(bench.session_s),
        "session.warm_s": bench.warm_s[0],
        "sources.read_calls": span_sum("sources.calls") / n,
        "sources.read_s": span_sum("sources") / n,
        "sources.read_jobs": job_count("sources") / n,
        "operators.construct_s": construct / n,
        "operators.self_s": (construct - span_sum("operators.children")) / n,
        "operators.construct_jobs": job_count("operators") / n,
        "operators.construct_share": construct / op_s if op_s else 0.0,
        "plans.materialize_calls": span_sum("plans.calls") / n,
        "plans.materialize_s": span_sum("plans") / n,
        "plans.materialize_jobs": job_count("plans") / n,
        "plans.cached_bytes_max": float(max(bench.cached_bytes, default=0)),
        "catalyst.plan_s": span_sum("catalyst") / n,
        "execute.s": span_sum("execute") / n,
        "execute.jobs": n_jobs / n,
        "execute.stages": stages / n,
        "execute.tasks": tasks / n,
        "execute.tasks_per_stage": tasks / stages if stages else 0.0,
        "execute.job_s_mean": job_s / n_jobs if n_jobs else 0.0,
        "execute.executor_run_s": run_s / n,
        "execute.executor_cpu_s": sum(j.cpu_ns for j in all_jobs) / 1e9 / n,
        "execute.gc_s": sum(j.gc_ms for j in all_jobs) / 1000.0 / n,
        "execute.core_busy_frac": run_s / (job_s * bench.cores) if job_s else 0.0,
        "execute.shuffle_write_bytes": sum(j.shuffle_write for j in all_jobs) / n,
        "execute.shuffle_read_bytes": sum(j.shuffle_read for j in all_jobs) / n,
        "execute.spill_bytes": sum(j.spill for j in all_jobs) / n,
        "pipeline.build_s": span_sum("pipeline.build") / n,
        "sinks.merge_s": span_sum("sinks") / n,
        "sinks.jobs_per_batch": len(sink_jobs) / n,
        "sinks.bytes_written": sink_bytes / n,
        "sinks.write_amp": sink_bytes / batch_bytes if batch_bytes else 0.0,
        "sinks.bytes_per_row": dest_bytes / dest_rows if dest_rows else 0.0,
        "sinks.files": float(dest_files),
        "trace.overhead_share": (traced - plain) / plain if plain else 0.0,
        "trace.unaccounted_share": (op_s - span_sum("covered")) / op_s if op_s else 0.0,
    }
