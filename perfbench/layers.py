"""Per-layer metrics of a traced run, from its spans and event log.

Values cover the timed region only and are given per *unit*: every
operation counted once (a query row once, the draft build once, each
pick once), which is the shape ``suite_s`` sums. Job, stage and read
counts therefore repeat exactly from run to run.
"""

from __future__ import annotations

import glob
import statistics
from collections import Counter, defaultdict

from perfbench.trace import parse_event_log, self_times

#: the three sgp.models functions with the most self time on draft_day
SLOW_MODELS = ("mart_overall_rankings", "stg_hitting_rep_lvl", "stg_ranked_standings")

EXEC_KEYS = ("tasks", "task_run_s", "task_cpu_s", "gc_s", "task_wait_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "python_bytes")

UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_pct": "%"}
FETCHES = ("exec.fetch", "serving.api.fetch")


def _unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def layer_metrics(wl, tracer, samples, t_timed: float, context: dict, log_dir: str) -> dict:
    spans = [s for s in tracer.spans if s["start"] >= t_timed and s["op"] is not None]
    runs_of = Counter(s["op"] for s in spans if s["name"] == "op")
    weight = {s["id"]: 1.0 / runs_of[s["op"]] for s in spans}
    self_s = self_times(tracer.spans)
    total_jobs = defaultdict(int)  # a span's jobs plus its descendants'
    for s in tracer.spans:  # children close, and are appended, before their parents
        total_jobs[s["id"]] += s["jobs"]
        if s["parent"] is not None:
            total_jobs[s["parent"]] += total_jobs[s["id"]]

    def total(names, value):
        return sum(value(s) * weight[s["id"]] for s in spans if s["name"].startswith(names))

    def dur(names):
        return total(names, lambda s: s["end"] - s["start"])

    def jobs(names):
        return total(names, lambda s: total_jobs[s["id"]])

    def own(names):
        return total(names, lambda s: self_s[s["id"]])

    def attr(names, key):
        return total(names, lambda s: s.get(key, 0))

    def phase(name):
        return total(FETCHES, lambda s: s.get("phases", {}).get(name, 0.0))

    log = glob.glob(f"{log_dir}/*")
    task = parse_event_log(log[0]) if log else {}
    group_weight = {f"pb{s['id']}": weight[s["id"]] for s in spans}
    ex = {k: sum(m[k] * group_weight[g] for g, m in task.items() if g in group_weight)
          for k in EXEC_KEYS}

    by_op = defaultdict(list)
    for op, sub in samples:
        by_op[op].append(sub["wall"])
    med = {op: statistics.median(v) for op, v in by_op.items()}
    graph_rows = getattr(wl, "graph_rows", ())
    last_op = wl.ops()[-1]
    get_spark = next(s for s in tracer.spans if s["name"] == "session.get_spark")
    acid_commits = ("sources.acid.write", "sources.acid.merge", "sources.acid.delete")
    commits_ms = [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"].startswith(acid_commits)]

    out = {
        "setup_cpu_s": context["setup_cpu_s"],
        "suite_s": context["suite_s"],
        "build_s": context["build_s"],
        "session.get_spark_s": get_spark["end"] - get_spark["start"],
        "query.short_suite_s": sum(v for op, v in med.items() if op not in graph_rows)
        if graph_rows else 0.0,
        "query.graph_suite_s": sum(v for op, v in med.items() if op in graph_rows),
        "sources.tables.reads": total("sources.tables.read", lambda s: 1),
        "sources.tables.read_s": dur("sources.tables.read"),
        "sources.tables.read_jobs": jobs("sources.tables.read"),
        "query.build_self_s": own("query.build"),
        "query.build_jobs": jobs("query.build"),
        "catalyst.analysis_s": phase("analysis"),
        "catalyst.optimization_s": phase("optimization"),
        "catalyst.planning_s": phase("planning"),
        "exec.fetch_s": dur(FETCHES),
        "exec.jobs": total("", lambda s: s["jobs"]),
        "exec.stages": total("", lambda s: s["stages"]),
        **{f"exec.{k}": v for k, v in ex.items()},
        "exec.result_rows": attr(FETCHES, "rows"),
        "exec.result_bytes": attr(FETCHES, "bytes"),
        "sources.reader.read_s": dur("sources.reader."),
        "sources.reader.jobs": jobs("sources.reader."),
        "sources.snapshots.filter_s": dur("sources.snapshots."),
        "plans.graph.run_s": dur("plans.graph.run"),
        "plans.graph.jobs": jobs("plans.graph.run"),
        "sgp.models.self_s": own("sgp.models."),
        **{f"sgp.models.{n}_s": own(f"sgp.models.{n}") for n in SLOW_MODELS},
        "sgp.write_s": dur("sgp.write"),
        "sgp.write_bytes": attr("sgp.write", "bytes"),
        "serving.api.build_s": own("serving.api.") - own("serving.api.fetch"),
        "serving.api.fetch_s": dur("serving.api.fetch"),
        "serving.api.jobs": jobs("serving.api."),
        "sources.acid.read_s": dur("sources.acid.read"),
        "sources.acid.read_jobs": jobs("sources.acid.read"),
        "sources.acid.merge_s": dur(("sources.acid.write", "sources.acid.merge")),
        "sources.acid.delete_s": dur("sources.acid.delete"),
        "sources.acid.commit_jobs": jobs(acid_commits),
        "sources.acid.files_added": attr(acid_commits, "files_added"),
        "sources.acid.bytes_added": attr(acid_commits, "bytes_added"),
        "sources.acid.live_files": sum(s["live_files"] * weight[s["id"]] for s in spans
                                       if "live_files" in s and s["op"] == last_op),
        "refresh_p50_ms": context["refresh_p50_ms"],
        "refresh_p90_ms": context["refresh_p90_ms"],
        "write_p50_ms": statistics.median(commits_ms) if commits_ms else 0.0,
        "process.peak_rss_mb": context["jvm_peak_rss_mb"] + context["py_peak_rss_mb"],
        "process.jvm_peak_rss_mb": context["jvm_peak_rss_mb"],
        "process.py_peak_rss_mb": context["py_peak_rss_mb"],
        "host.steal_pct": context["steal_pct"],
        "trace.overhead_pct": 100.0 * tracer.bookkeeping_s / max(context["timed_s"], 1e-9),
    }
    context["model_self_s"] = {name[len("sgp.models."):]: round(own(name), 4)
                               for name in {s["name"] for s in spans if s["name"].startswith("sgp.models.")}}
    return {k: {"value": v, "unit": _unit(k)} for k, v in out.items()}
