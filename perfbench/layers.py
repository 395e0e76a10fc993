"""Per-layer metrics of a traced run.

Each traced round yields one value per metric; the run reports the
median over its traced rounds. A layer's time is the wall time of its
outermost spans (a nested call into the same layer is not counted
twice). A job belongs to the innermost span that submitted it; jobs of
the streaming engine's own threads carry the stream's job group and so
count for the op only. Task metrics come from the AppStatusStore stages
of every job the op ran.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

# (name, unit) in report order
METRICS = (
    ("session.start_s", "s"),
    ("plans.build_s", "s"),
    ("plans.action_s", "s"),
    ("plans.jobs", "count"),
    ("plans.stages", "count"),
    ("plans.tasks", "count"),
    ("plans.in_task_frac", "ratio"),
    ("operators.dedup.build_s", "s"),
    ("operators.dedup.jobs", "count"),
    ("operators.similarity.build_s", "s"),
    ("operators.similarity.jobs", "count"),
    ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"),
    ("shuffle.spill_bytes", "bytes"),
    ("exec.task_skew", "ratio"),
    ("exec.tasks_failed", "count"),
    ("functions.task_s", "s"),
    ("functions.jvm_cpu_s", "s"),
    ("functions.nonjvm_task_s", "s"),
    ("functions.gc_s", "s"),
    ("functions.in_task_frac", "ratio"),
    ("sources.input_bytes", "bytes"),
    ("sources.ensure_table_s", "s"),
    ("sources.output_bytes", "bytes"),
    ("sources.write_amplification", "ratio"),
    ("caching.persisted_rdds_after_op", "count"),
    ("caching.release_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_s", "s"),
    ("streaming.query_planning_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_memory_bytes", "bytes"),
    ("streaming.state_commit_s", "s"),
    ("process.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
    ("trace.spans_per_round", "count"),
)


def _outer_time(spans, layer, name=None) -> float:
    """Summed duration of the outermost spans of ``layer``."""
    by_id = {s.span_id: s for s in spans}
    total = 0.0
    for s in spans:
        if s.layer != layer or (name and s.name != name):
            continue
        p = by_id.get(s.parent)
        while p is not None and p.layer != layer:
            p = by_id.get(p.parent)
        if p is None:
            total += s.end - s.start
    return total


def _round_values(rnd, spans_by_op, tracer, spark_stage_skew, cores) -> dict:
    spans = [s for o in rnd.ops for s in spans_by_op.get(o.op_id, [])]
    layer_of = {s.span_id: s.layer for s in spans}
    per_op = []
    stages = []
    jobs_by_layer: dict[str, int] = defaultdict(int)
    out_bytes_by_layer: dict[str, int] = defaultdict(int)
    for o in rnd.ops:
        res, jobs = o.result, o.jobs
        op_stages = [st for j in jobs for st in j.stages if st.status != "SKIPPED"]
        stages.extend(op_stages)
        for j in jobs:
            layer = layer_of.get(j.span_id, "op")
            jobs_by_layer[layer] += 1
            out_bytes_by_layer[layer] += sum(st.output_bytes for st in j.stages)
        task_s = sum(st.run_ms for st in op_stages) / 1e3
        per_op.append(
            {
                "build_s": res.build_s,
                "action_s": res.action_s + o.release_s,
                "jobs": len(jobs),
                "stages": len(op_stages),
                "tasks": sum(st.num_tasks for st in op_stages),
                "in_task_frac": task_s / (res.wall_s * cores) if res.wall_s else 0.0,
            }
        )

    def med(key):
        return statistics.median(o[key] for o in per_op)

    task_s = sum(st.run_ms for st in stages) / 1e3
    cpu_s = sum(st.cpu_ns for st in stages) / 1e9
    input_bytes = sum(st.input_bytes for st in stages)
    largest = max(stages, key=lambda st: st.run_ms, default=None)
    progress = tracer.stream_progress_for({o.op_id for o in rnd.ops})

    def dur(key):
        return sum(p["duration_ms"].get(key, 0) for p in progress) / 1e3

    return {
        "plans.build_s": med("build_s"),
        "plans.action_s": med("action_s"),
        "plans.jobs": med("jobs"),
        "plans.stages": med("stages"),
        "plans.tasks": med("tasks"),
        "plans.in_task_frac": med("in_task_frac"),
        "operators.dedup.build_s": _outer_time(spans, "operators.dedup"),
        "operators.dedup.jobs": jobs_by_layer["operators.dedup"],
        "operators.similarity.build_s": _outer_time(spans, "operators.similarity"),
        "operators.similarity.jobs": jobs_by_layer["operators.similarity"],
        "shuffle.write_bytes": sum(st.shuffle_write_bytes for st in stages),
        "shuffle.read_bytes": sum(st.shuffle_read_bytes for st in stages),
        "shuffle.spill_bytes": sum(st.spill_bytes for st in stages),
        "exec.task_skew": spark_stage_skew(largest.stage_id) if largest else 0.0,
        "exec.tasks_failed": sum(st.failed_tasks for st in stages),
        "functions.task_s": task_s,
        "functions.jvm_cpu_s": cpu_s,
        "functions.nonjvm_task_s": task_s - cpu_s,
        "functions.gc_s": sum(st.gc_ms for st in stages) / 1e3,
        "functions.in_task_frac": task_s / (rnd.wall_s * cores),
        "sources.input_bytes": input_bytes,
        "sources.ensure_table_s": _outer_time(spans, "sources", "ensure_table"),
        "sources.output_bytes": out_bytes_by_layer["sources"],
        "sources.write_amplification": (
            out_bytes_by_layer["sources"] / input_bytes if input_bytes else 0.0
        ),
        "caching.persisted_rdds_after_op": max(o.persisted_rdds for o in rnd.ops),
        "caching.release_s": _outer_time(spans, "caching", "release_caches"),
        "streaming.batches": len(progress),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.state_rows": max((p["state_rows"] for p in progress), default=0),
        "streaming.state_memory_bytes": max(
            (p["state_memory_bytes"] for p in progress), default=0
        ),
        "streaming.state_commit_s": sum(p["state_commit_ms"] for p in progress) / 1e3,
        "trace.spans_per_round": len(spans),
    }


def per_layer(rounds, tracer, spark_stage_skew, session_s: float, rss, cores: int) -> dict:
    traced = [r for r in rounds if r.traced]
    plain = [r for r in rounds if not r.traced]
    spans_by_op = defaultdict(list)
    for s in tracer.spans:
        spans_by_op[s.op_id].append(s)
    per_round = [
        _round_values(r, spans_by_op, tracer, spark_stage_skew, cores) for r in traced
    ]
    values = {k: statistics.median(v[k] for v in per_round) for k in per_round[0]}
    values["session.start_s"] = session_s
    rss.sample()
    values["process.peak_rss_mb"] = rss.peak_bytes / 1e6
    # whole rounds, so the status reads between traced ops count too
    values["trace.overhead_s"] = statistics.median(
        r.elapsed_s for r in traced
    ) - statistics.median(r.elapsed_s for r in plain)
    return {name: {"value": values[name], "unit": unit} for name, unit in METRICS}
