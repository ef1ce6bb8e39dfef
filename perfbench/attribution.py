"""Per-layer metrics from a traced pass: span times, plus the event
log's jobs, stages and tasks attributed by time window to the innermost
span that contains them."""

from __future__ import annotations

from collections import defaultdict

import eventlog
import spans as sp

#: The per-layer metrics of each traced span, by suffix: ``.s`` and
#: ``.jobs`` are inclusive of nested calls, ``.self_s`` and
#: ``.self_jobs`` exclude wrapped callees, ``.calls`` counts calls.
LAYERS = {
    "plans.pipeline.run_monthly_pipeline": ("self_s", "self_jobs"),
    "sources.layers.write_month_idempotent": ("s", "jobs"),
    "sources.layers.overwrite_snapshot": ("s", "jobs"),
    "sources.layers.read_month": ("s", "jobs"),
    "sources.dsv.read_dsv": ("s", "jobs", "calls"),
    "operators.quality": ("s", "jobs"),
    "sources.json_raw.encode_raw_json": ("s",),
    "sources.json_raw.parse_raw_json": ("s",),
    "operators.transform": ("s",),
    "operators.modeling": ("s",),
    "plans.ingest.run_incremental_ingest": ("self_s", "self_jobs"),
    "plans.ingest.ingest_increment": ("s", "jobs"),
    "sources.layers.commit_tables": ("s", "jobs"),
    "sources.layers.read_manifest_table": ("s", "calls"),
}
SUFFIX_UNITS = {"s": "s", "jobs": "count", "self_s": "s", "self_jobs": "count", "calls": "count"}

#: metrics of the whole traced pass, from the event log
PASS_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.executor_busy_share": "ratio",
    "python_udf.run_s": "s",
    "python_udf.boot_s": "s",
    "python_udf.mb_sent": "MB",
    "python_udf.rows_received": "count",
}


def units(catalog_queries) -> dict:
    """Name and unit of every metric :func:`layer_metrics` reports."""
    out = {f"{name}.{suf}": SUFFIX_UNITS[suf] for name, sufs in LAYERS.items() for suf in sufs}
    out.update({"catalog.build_s": "s", "catalog.execute_s": "s"})
    out.update({f"catalog.{q}.s": "s" for q in catalog_queries})
    out["catalog.m53_copurchase_triangles.task_skew"] = "ratio"
    out.update(PASS_UNITS)
    return out


def layer_metrics(spans: list[sp.Span], log: eventlog.EventLog, root: int, cores: int) -> dict:
    """Metrics of the pass whose root span is ``spans[root]``; event-log
    items outside the root's window (set-up, output checks) are ignored."""
    lo, hi = spans[root].start, spans[root].end
    inside = [i for i in range(len(spans)) if sp.is_within(spans, i, root)]
    local = {i: n for n, i in enumerate(inside)}
    # re-index the pass's subtree so the arithmetic sees only this pass
    sub = [
        sp.Span(spans[i].name, spans[i].start, spans[i].end,
                None if i == root else local[spans[i].parent],
                [local[c] for c in spans[i].children])
        for i in inside
    ]
    selfs = sp.self_times(sub)

    jobs_at = defaultdict(int)  # span -> jobs whose innermost span it is
    n_jobs = 0
    for submitted in log.jobs.values():
        if lo <= submitted <= hi:
            n_jobs += 1
            jobs_at[sp.innermost(sub, submitted)] += 1

    def jobs_under(i: int) -> int:
        return sum(n for j, n in jobs_at.items() if sp.is_within(sub, j, i))

    out: dict[str, float] = {}
    tops = sp.outermost_of_name(sub)
    for name, sufs in LAYERS.items():
        every = [i for i, s in enumerate(sub) if s.name == name]
        outer = [i for i in tops if sub[i].name == name]
        value = {
            "s": sum(sub[i].duration for i in outer),
            "jobs": sum(jobs_under(i) for i in outer),
            "self_s": sum(selfs[i] for i in every),
            "self_jobs": sum(jobs_at[i] for i in every),
            "calls": len(every),
        }
        out.update({f"{name}.{suf}": value[suf] for suf in sufs})

    # catalog: per query inclusive time; build vs execute split
    for s in sub:
        if s.name.startswith("catalog.") and s.name not in ("catalog.build", "catalog.execute"):
            out[f"{s.name}.s"] = out.get(f"{s.name}.s", 0.0) + s.duration
    out["catalog.build_s"] = sum(s.duration for s in sub if s.name == "catalog.build")
    out["catalog.execute_s"] = sum(s.duration for s in sub if s.name == "catalog.execute")

    stages = [st for st in log.stages.values() if lo <= st.submitted <= hi]
    tasks = [t for st in stages for t in st.tasks]
    skews = [k for k in (st.skew() for st in stages) if k is not None]
    m53 = [i for i, s in enumerate(sub) if s.name == "catalog.m53_copurchase_triangles"]
    m53_skews = [
        k for st in stages
        if any(sub[i].start <= st.submitted <= sub[i].end for i in m53)
        for k in [st.skew()] if k is not None
    ]
    wall = hi - lo
    out.update({
        "catalog.m53_copurchase_triangles.task_skew": max(m53_skews, default=0.0),
        "spark.jobs": n_jobs,
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.shuffle_write_mb": sum(t.shuffle_write for t in tasks) / 1e6,
        "spark.spill_mb": sum(t.disk_spill for t in tasks) / 1e6,
        "spark.task_skew": max(skews, default=0.0),
        "spark.executor_busy_share":
            sum(t.duration for t in tasks) / (wall * cores) if wall > 0 else 0.0,
        "python_udf.run_s": sum(t.python_run_ms for t in tasks) / 1e3,
        "python_udf.boot_s": sum(t.python_boot_ms for t in tasks) / 1e3,
        "python_udf.mb_sent": sum(t.python_sent for t in tasks) / 1e6,
        "python_udf.rows_received": sum(t.python_rows for t in tasks),
        "trace.self_sum_s": sum(selfs),
        "trace.pass_s": wall,
    })
    return out
