"""Turn measured passes into the benchmark's metrics.

End-to-end metrics (untraced runs) are the same four on every workload,
so every run reports every metric:

- ``setup_s``: process start until the session is built and the warm-up
  passes are done, minus input generation and output checking;
- ``pass_s``: median wall time of one pass over the workload's operations;
- ``cpu_per_pass_s``: median CPU seconds of the whole process tree (client
  driver, driver JVM, Python workers) per pass;
- ``peak_rss_mb``: resident memory of that tree at its highest, sampled
  after every operation (JVM high-water mark plus the proportional set
  size of the Python processes).

Per-layer metrics (traced runs) are per pass, taken from the passes run
with tracing on; see ``LAYERS.md`` for which end-to-end metric each one
should move.  ``trace.tagging_overhead_frac`` compares traced and plain
passes of the same traced process, so it holds the cost of job-group
tagging and span bookkeeping only: the Spark UI, its status listener and
the enlarged status store are on for both.  The whole cost of tracing is a
traced run's ``pass.wall_s`` against an untraced run's ``pass_s`` for the
same seed.
"""

from __future__ import annotations

import json
import os
from statistics import fmean, median

from spans import covered


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as declared in the checkout's BENCHMARK.json."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def end_to_end(setup_s: float, passes: list[dict], tree) -> dict:
    values = {
        "setup_s": setup_s,
        "pass_s": median([p["wall"] for p in passes]),
        "cpu_per_pass_s": median([p["cpu"].total_s for p in passes]),
        "peak_rss_mb": tree.peak_rss_kb / 1024,
    }
    units = _units("end_to_end")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def tail(values: list[float]) -> tuple[float, int, int] | None:
    """The highest percentile with at least ten samples above it, as
    (value, percentile, sample count); None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 10  # samples at or below the reported one
    return sorted(values)[k - 1], int(100 * k / n), n


def summary_line(workload: str, inputs: dict, passes: list[dict], setup_s: float,
                 gen_s: float, build_s: float, attempted: int, failed: int, tree) -> str:
    """One '#'-prefixed JSON line with the workload's own figures, in the
    vocabulary of the layer it stresses."""
    op_walls = [w for p in passes for w in p["op_walls"]]
    pass_wall = median([p["wall"] for p in passes])
    cpu = median([p["cpu"].total_s for p in passes])
    s = {"workload": workload, "passes": len(passes), "ops": len(op_walls),
         "pass_walls_s": [p["wall"] for p in passes],
         "op_median_s": {label: median([p["op_walls"][i] for p in passes])
                         for i, label in enumerate(passes[0]["labels"])},
         "setup_s": setup_s, "session_build_s": build_s, "input_gen_s": gen_s,
         "peak_rss_parts_mb": {k: v / 1024 for k, v in tree.peak_parts_kb.items()},
         "failed_frac": failed / attempted if attempted else 1.0}
    if workload == "crawl_sink":
        s.update(crawl_entries=inputs["entries"],
                 crawl_entries_per_s=inputs["entries"] / median(op_walls),
                 crawl_cpu_s=cpu)
    elif workload == "report_menu":
        s.update(lake_rows=inputs["rows"], report_p50_s=median(op_walls),
                 report_cpu_s=cpu, report_pass_s=pass_wall)
        t = tail(op_walls)
        s["report_tail_s"] = None if t is None else {"value": t[0], "percentile": t[1],
                                                     "samples": t[2]}
    else:
        s.update(tables=inputs["rows"], query_pass_s=pass_wall, query_cpu_s=cpu)
    return "# summary " + json.dumps(s)


def per_layer(spark, tracer, traced: list, plain: list[dict], build_s: float) -> tuple[dict, dict]:
    """Per-layer metrics (medians over the traced passes) and the per-span
    breakdown written with the spans."""
    from sparkstats import StatusReader

    groups = StatusReader(spark).by_group()
    per_pass = []
    for spans, p in traced:
        ops = [s for s in spans if s.parent is None]
        stats = [groups[s.group] for s in spans if s.group in groups]
        row = {
            "pass.wall_s": p["wall"],
            "pass.self_s": sum(tracer.self_time(s) for s in ops),
            # per operation: time during which none of its jobs ran
            "spark.driver_s": sum(
                _uncovered(o, [groups[s.group] for s in spans if s.op == o.op and s.group in groups])
                for o in ops),
            "spark.jobs": sum(g.jobs for g in stats),
            "spark.stages": sum(g.stages for g in stats),
            "spark.task_skew": max((g.task_skew for g in stats), default=1.0),
            "proc.driver_cpu_s": p["cpu"].driver_s,
            "proc.jvm_cpu_s": p["cpu"].jvm_s,
            "proc.worker_cpu_s": p["cpu"].workers_s,
        }
        for name in stats[0].counters if stats else ():
            row[f"spark.{name}"] = sum(g.counters[name] for g in stats)
        per_pass.append(row)
    metrics = {k: median([r[k] for r in per_pass]) for k in per_pass[0]}
    metrics["session.build_s"] = build_s
    metrics["trace.tagging_overhead_frac"] = (median([p["wall"] for _, p in traced])
                                      / median([p["wall"] for p in plain]) - 1)
    units = _units("per_layer")
    return ({k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
            _breakdown(tracer, groups))


def _uncovered(span, stats) -> float:
    """Part of ``span`` during which none of the given groups' jobs ran."""
    return span.wall - covered(span.start, span.end, [j for g in stats for j in g.job_spans])


def _breakdown(tracer, groups) -> dict:
    """Per span name (e.g. ``crawl``, ``lake.write``, ``report.du``,
    ``q.<name>.plan``): mean wall, self and driver-only time, the Spark
    counters of its job group and the counts taken at the span."""
    acc: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s.group is None or s.name.startswith("op."):
            continue
        g = groups.get(s.group)
        row = {"wall_s": s.wall, "self_s": tracer.self_time(s),
               "driver_s": _uncovered(s, [g] if g else [])}
        if g is not None:
            row.update(jobs=g.jobs, stages=g.stages, task_skew=g.task_skew, **g.counters)
        row.update(s.attrs)
        acc.setdefault(s.name, []).append(row)
    return {name: {k: fmean(r.get(k, 0.0) for r in rows) for k in rows[0]}
            for name, rows in acc.items()}
