"""Traced runs: job-group tagging at layer boundaries and the event-log reducer.

Spans are cut from outside the library.  ``Tracer.install`` wraps the
public ``Catalog.write`` / ``replace_partitions`` / ``append`` methods;
each return of one of them closes the open span of ``run_pipeline`` and
opens the next, and every span's jobs carry their own Spark job group.
Jobs are attributed by job group rather than call site: most pipeline
work runs in AQE's asynchronous query-stage jobs, whose call site names
a ``CompletableFuture`` frame and not the pipeline line that caused them.

The reducer reads the uncompressed Spark event log (``spark.eventLog.
compress=false``, since Spark 4 defaults to zstd and no Python zstd
module is available) with the stdlib ``json`` module.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

# The span that ends when a write to this table returns.
SPAN_OF_TABLE = {
    "stage_extracted": "extraction",
    "stage_assignments": "components",
    "stage_entities": "merge.fold_entities",
    "stage_triples": "merge.fold_triples",
    "stage_renames": "merge.renames",
    "entity_nodes": "catalog.commit_entities",
    "triples": "catalog.commit_triples",
    "checkpoint_ledger": "checkpoint.ledger",
}
SPANS = list(SPAN_OF_TABLE.values())
SPAN_FIELDS = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "task_skew": ("ratio", "lower"),
    "rows_out": ("count", "lower"),
}

MB = 1024.0 * 1024.0


class Tracer:
    """Tags jobs with job groups and records span walls.

    ``tag(name)`` sets the job group for work outside ``run_pipeline``
    (queries, operator queries, set-up); ``pipeline(rep)`` brackets one
    pipeline call, whose spans are then cut at catalog commits.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []  # {rep, name, group, t0, t1}
        self._open = None
        self._seq = 0

    def tag(self, name: str) -> None:
        self.sc.setJobGroup(name, name, False)

    def _start_span(self, rep: str) -> None:
        self._seq += 1
        group = f"span{self._seq}"
        self._open = {"rep": rep, "name": None, "group": group, "t0": time.perf_counter()}
        self.tag(group)

    def _close_span(self, name: str | None) -> None:
        if self._open is None:
            return
        s = self._open
        s["t1"] = time.perf_counter()
        s["name"] = name or "unattributed"
        self.spans.append(s)
        self._open = None

    @contextlib.contextmanager
    def pipeline(self, rep: str):
        self._start_span(rep)
        try:
            yield
        finally:
            # work after the ledger append has no commit to close it
            self._close_span(None)
            self.tag("between")

    def install(self) -> None:
        from knowledgegraph_spark.sources.catalog import Catalog

        for meth in ("write", "replace_partitions", "append"):
            orig = getattr(Catalog, meth)
            setattr(Catalog, meth, self._hook(orig))

    def _hook(self, orig):
        tracer = self

        def wrapped(cat, df, table, *a, **kw):
            out = orig(cat, df, table, *a, **kw)
            span = SPAN_OF_TABLE.get(table)
            if span is not None and tracer._open is not None:
                rep = tracer._open["rep"]
                tracer._close_span(span)
                tracer._start_span(rep)
            return out

        return wrapped


def event_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """Reduce the event log to per-job-group task aggregates.

    Returns {group: {"jobs": n, "stages": {stage_id: [task dicts]}}}, where
    each task dict carries run/cpu/gc seconds, shuffle-write and spill
    bytes and records written.
    """
    # Spark 4 rolls the log by default: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        (f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")),
        key=lambda f: [int(x) if x.isdigit() else x for x in os.path.basename(f).split("_")],
    )
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "stages": defaultdict(list)})
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    om = m.get("Output Metrics") or {}
                    g = stage_group.get(ev.get("Stage ID"), "untagged")
                    groups[g]["stages"][ev.get("Stage ID")].append({
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
                        "rows_out": om.get("Records Written", 0),
                    })
    return groups


def group_stats(groups: dict, names: list[str]) -> dict:
    """Summed task metrics over the given job groups."""
    out = {"jobs": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "rows_out": 0, "task_skew": 1.0}
    heaviest, heaviest_run = None, -1.0
    for g in names:
        info = groups.get(g)
        if info is None:
            continue
        out["jobs"] += info["jobs"]
        for tasks in info["stages"].values():
            run = sum(t["run_s"] for t in tasks)
            out["run_s"] += run
            out["cpu_s"] += sum(t["cpu_s"] for t in tasks)
            out["gc_s"] += sum(t["gc_s"] for t in tasks)
            out["shuffle_write_mb"] += sum(t["shuffle_write_b"] for t in tasks) / MB
            out["spill_mb"] += sum(t["spill_b"] for t in tasks) / MB
            out["rows_out"] += sum(t["rows_out"] for t in tasks)
            if run > heaviest_run:
                heaviest, heaviest_run = tasks, run
    if heaviest:
        # skew of the span's costliest stage: slowest task over the median
        runs = [t["run_s"] for t in heaviest]
        out["task_skew"] = max(runs) / max(statistics.median(runs), 1e-3)
    return out


def span_metrics(tracer: Tracer, groups: dict, reps: list[str]) -> dict:
    """Per-span metrics, each the median over the timed pipeline calls."""
    per_rep: dict[str, dict[str, list[dict]]] = defaultdict(lambda: defaultdict(list))
    for s in tracer.spans:
        if s["rep"] in reps:
            st = group_stats(groups, [s["group"]])
            st["wall_s"] = s["t1"] - s["t0"]
            per_rep[s["name"]][s["rep"]].append(st)
    out = {}
    for span in SPANS:
        rows = []
        for rep in reps:
            parts = per_rep[span].get(rep, [])
            if not parts:
                rows.append({k: 0.0 for k in SPAN_FIELDS} | {"task_skew": 1.0})
                continue
            merged = {k: sum(p[k] for p in parts) for k in SPAN_FIELDS if k != "task_skew"}
            merged["task_skew"] = max(p["task_skew"] for p in parts)
            rows.append(merged)
        for k in SPAN_FIELDS:
            out[f"{span}.{k}"] = statistics.median(r[k] for r in rows)
    return out


def pipeline_run_s(tracer: Tracer, groups: dict, reps: list[str]) -> float:
    """Executor run time summed over every span of the given calls."""
    names = [s["group"] for s in tracer.spans if s["rep"] in reps]
    return group_stats(groups, names)["run_s"]
