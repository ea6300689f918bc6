"""Span recorder, layer wrappers and Spark event-log parser for traced runs.

A traced run wraps the public functions of each engine layer from the
benchmark's side; nothing in the package is edited. Every span runs
under its own Spark job group, so the jobs and stages it launched are
counted exactly through ``statusTracker`` when it ends, and task
metrics are joined back to it from Spark's JSON event log after the
session stops. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: accumulator names Spark's Python exec nodes report bytes under
PYTHON_BYTES_ACCUMULATORS = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.sc = None
        self.op: str | None = None
        self.bookkeeping_s = 0.0
        self._next = 0

    def attach(self, sc) -> None:
        self.sc = sc
        self.status = sc.statusTracker()

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        self._next += 1
        parent = self.stack[-1] if self.stack else None
        rec = {"id": self._next, "name": name, "parent": parent["id"] if parent else None,
               "op": self.op}
        group = f"pb{self._next}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        self.stack.append(rec)
        self.bookkeeping_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t = time.perf_counter()
            self.stack.pop()
            if self.sc is not None:
                jobs = list(self.status.getJobIdsForGroup(group))
                rec["jobs"] = len(jobs)
                rec["stages"] = sum(len(i.stageIds) for i in map(self.status.getJobInfo, jobs) if i)
                self.sc.setJobGroup(f"pb{parent['id']}" if parent else "pb0", "")
            else:
                rec["jobs"] = rec["stages"] = 0
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned version of itself."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)


def install_wrappers(tracer: Tracer) -> None:
    """Wrap each layer's public entry points. Must run before the
    query registry is imported: eleven query modules bind
    ``standard_queries.T`` at import, so the table read is hooked at
    ``DataFrameReader.parquet``, which every ``T()`` call looks up at
    call time."""
    from pyspark.sql import DataFrameReader

    from dbt_lakehouse_aws_spark.plans import graph
    from dbt_lakehouse_aws_spark.serving import api
    from dbt_lakehouse_aws_spark.sgp import models
    from dbt_lakehouse_aws_spark.sources import acid, reader, snapshots

    read = DataFrameReader.parquet

    @functools.wraps(read)
    def parquet(self, *paths, **kwargs):
        inside_query = any(s["name"] == "query.build" for s in tracer.stack)
        with tracer.span("sources.tables.read" if inside_query else "io.parquet_read"):
            return read(self, *paths, **kwargs)

    DataFrameReader.parquet = parquet
    tracer.wrap(reader, "read_csv_source", "sources.reader.read_csv_source")
    tracer.wrap(snapshots, "latest_snapshot", "sources.snapshots.latest_snapshot")
    tracer.wrap(snapshots, "latest_per_group", "sources.snapshots.latest_per_group")
    tracer.wrap(graph.ModelGraph, "run", "plans.graph.run")
    for fn in dir(models):
        if fn.startswith(("stg_", "mart_")) and callable(getattr(models, fn)):
            tracer.wrap(models, fn, f"sgp.models.{fn}")
    for fn in ("rankings_scan", "apply_filters", "with_draft_status", "undrafted_pool",
               "pick_probabilities", "team_aggregates"):
        tracer.wrap(api, fn, f"serving.api.{fn}")
    tracer.wrap(api.DurableDraftBoard, "scan", "sources.acid.read")

    for op in ("write", "merge", "delete"):
        _wrap_commit(tracer, acid.AcidTable, op)


def _wrap_commit(tracer: Tracer, cls, attr: str) -> None:
    """Span an ACID commit and record the files and bytes it added
    and the live files it left."""
    fn = getattr(cls, attr)

    @functools.wraps(fn)
    def spanned(self, *args, **kwargs):
        before = set(self.snapshot().files) if self.exists() else set()
        with tracer.span(f"sources.acid.{attr}") as rec:
            out = fn(self, *args, **kwargs)
        after = self.snapshot().files
        added = [f for f in after if f not in before]
        rec["files_added"] = len(added)
        rec["bytes_added"] = sum(os.path.getsize(os.path.join(self._data, f)) for f in added)
        rec["live_files"] = len(after)
        return out

    setattr(cls, attr, spanned)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Task metrics per job group from a Spark JSON event log."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = out[stage_group.get(sid, "")]
                info = ev["Task Info"]
                tm = ev.get("Task Metrics") or {}
                m["tasks"] += 1
                m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["task_wait_s"] += max(0, info["Launch Time"] - stage_submit.get(sid, info["Launch Time"])) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") in PYTHON_BYTES_ACCUMULATORS:
                        m["python_bytes"] += float(acc.get("Update", 0) or 0)
    return out


def planning_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase from the action's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out
