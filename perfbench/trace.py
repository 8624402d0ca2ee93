"""Spans around the package's public functions, and the Spark work under them.

Tracing lives entirely in the benchmark: ``Tracer.wrap`` replaces a
function on the module where its caller looks it up (``converter.copy_table``
is the name ``convert_table`` calls; ``operators.dedup.connected_groups`` is
the name ``pipeline`` calls) and restores it on ``uninstall``.  Each span
sets its own Spark job group in the calling thread, so every job, including
those from ``convert_all``'s table-worker threads, names the innermost span
that launched it.  Setting a job group launches no job.

Spans stay in memory; ``read_event_log`` and ``span_jobs`` join them with
the Spark event log after the session stops.
"""

from __future__ import annotations

import glob
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        #: Parent for spans opened on threads with no open span (the
        #: table-worker threads of ``convert_all``): the current op span.
        self.root: int | None = None
        self.op = ""
        #: While set (output checks between ops), spans are neither
        #: recorded nor given a job group.
        self.paused = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if self.paused:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else self.root,
            "thread": threading.get_ident(),
            "op": self.op,
            "start": time.perf_counter(),
        }
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op_span(self, name: str):
        """A top-level span for one benchmark op; orphan spans attach here."""
        self.op = name
        with self.span(name) as rec:
            self.root = rec["id"]
            try:
                yield rec
            finally:
                self.root = None

    def wrap(self, module, attr: str, name: str, note=None) -> None:
        """Replace ``module.attr`` with a spanned call.  ``note(rec, result)``
        may copy counts from the result onto the span."""
        fn = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if note is not None:
                    note(rec, out)
                return out

        self._patches.append((module, attr, fn))
        setattr(module, attr, spanned)

    def uninstall(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap every layer boundary the benchmark reports on."""
    from spanner_jdbc_converter_spark import converter, copy, delete, pipeline
    from spanner_jdbc_converter_spark.operators import dedup, selection, text
    from spanner_jdbc_converter_spark.plans import etl

    def rows_bytes(rec, result):
        rec["rows"], rec["bytes"] = result.record_count, result.byte_count

    w = tracer.wrap
    w(converter, "load_table", "catalog.load_table")
    w(etl, "load_table", "catalog.load_table")
    for fn in ("table_spec_from_schema", "create_table_ddl", "drop_table_ddl"):
        w(converter, fn, "ddl")
    w(converter, "convert_table", "converter.convert_table")
    w(converter, "_dest_state", "copy.dest_probe")
    w(copy, "_dest_state", "copy.dest_probe")
    w(converter, "copy_table", "copy.copy_table", rows_bytes)
    w(delete, "delete_pipeline", "delete.delete_pipeline")
    w(delete, "plan_delete_ranges", "delete.plan_delete_ranges",
      lambda rec, ranges: rec.update(ranges=len(ranges)))
    w(pipeline, "curate_documents", "pipeline.curate_documents")
    w(etl, "_curated", "pipeline.store")
    w(dedup, "connected_groups", "dedup.connected_groups")
    w(text, "document_profile", "text.document_profile")
    for fn in ("fingerprint_dedup", "lsh_candidate_pairs", "benchmark_overlap"):
        w(dedup, fn, f"dedup.{fn}")
    for fn in ("select_token_budget", "pack_token_sequences"):
        w(selection, fn, f"selection.{fn}")


# -- event log ---------------------------------------------------------------

#: Spans whose Spark work (inclusive of child spans) is reported.
WORK_SPANS = (
    "op.create_pass",
    "op.resync_pass",
    "op.delete",
    "op.curate",
    "copy.copy_table",
    "dedup.connected_groups",
    "copy.dest_probe",
)
WORK_METRICS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("task_cpu_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("task_skew", "ratio"),
    ("scheduler_delay_s", "s"),
)


def read_event_log(log_dir: str) -> dict:
    """Jobs (group, tags, stages) and per-stage task records from an
    uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_submit: dict[int, float] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    # Spark 4 writes a directory per application (eventlog_v2_*) holding
    # events_* files and an appstatus_* marker.
    for path in sorted(glob.glob(f"{log_dir}/*/events_*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get(_GROUP),
                        "tags": set(filter(None, (props.get("spark.job.tags") or "").split(","))),
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info.get("Submission Time") is not None:
                        stage_submit[info["Stage ID"]] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    rd, wr = tm.get("Shuffle Read Metrics", {}), tm.get("Shuffle Write Metrics", {})
                    tasks[ev["Stage ID"]].append(
                        {
                            "launch": ti["Launch Time"],
                            "dur_ms": ti["Finish Time"] - ti["Launch Time"],
                            "cpu_ns": tm.get("Executor CPU Time", 0),
                            "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                            "write": wr.get("Shuffle Bytes Written", 0),
                            "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        }
                    )
    return {"jobs": jobs, "stage_submit": stage_submit, "tasks": tasks}


def jobs_with_tag(log: dict, tag: str) -> int:
    return sum(1 for j in log["jobs"].values() if tag in j["tags"])


def work_of(log: dict, job_ids) -> dict[str, float]:
    """The WORK_METRICS totals of a set of jobs; stages shared by several
    jobs count once, and skipped stages (no tasks) not at all."""
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stages"] if log["tasks"].get(s)}
    out = dict.fromkeys((m for m, _ in WORK_METRICS), 0.0)
    out["jobs"] = float(len(job_ids))
    out["stages"] = float(len(stage_ids))
    for s in stage_ids:
        ts = log["tasks"][s]
        out["task_cpu_s"] += sum(t["cpu_ns"] for t in ts) / 1e9
        out["shuffle_read_bytes"] += sum(t["read"] for t in ts)
        out["shuffle_write_bytes"] += sum(t["write"] for t in ts)
        out["spill_bytes"] += sum(t["spill"] for t in ts)
        med = statistics.median(t["dur_ms"] for t in ts)
        if med > 0:
            out["task_skew"] = max(out["task_skew"], max(t["dur_ms"] for t in ts) / med)
        submitted = log["stage_submit"].get(s)
        if submitted is not None:
            out["scheduler_delay_s"] += sum(max(t["launch"] - submitted, 0) for t in ts) / 1e3
    return out


# -- span folding ------------------------------------------------------------


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals (children may run in parallel)."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


def fold_spans(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: calls, inclusive seconds, self seconds, and the
    summed counts the wrappers noted (rows, bytes, ranges)."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        agg = out[s["name"]]
        dur = s["end"] - s["start"]
        agg["calls"] += 1
        agg["s"] += dur
        agg["self_s"] += dur - _covered([(c["start"], c["end"]) for c in children[s["id"]]])
        for k in ("rows", "bytes", "ranges"):
            if k in s:
                agg[k] += s[k]
    return out


def span_jobs(spans: list[dict], log: dict) -> dict[str, list[int]]:
    """Job ids under every span name, inclusive of descendant spans."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, set[int]] = defaultdict(set)
    for job_id, job in log["jobs"].items():
        group = job["group"] or ""
        if not group.startswith("span-"):
            continue
        sid = int(group[5:])
        while sid in by_id:
            out[by_id[sid]["name"]].add(job_id)
            sid = by_id[sid]["parent"]
    return {k: sorted(v) for k, v in out.items()}


# -- per-layer metrics -------------------------------------------------------

STAGES = ("input", "quality_filter", "exact_dedup", "near_dedup",
          "decontaminated", "token_budget", "packed")
OPERATORS = ("text.document_profile", "dedup.fingerprint_dedup", "dedup.lsh_candidate_pairs",
             "dedup.benchmark_overlap", "selection.select_token_budget",
             "selection.pack_token_sequences")


def layer_metrics(spans: list[dict], log: dict, rounds: int, workload, extra: dict) -> dict:
    """Every per-layer metric as {name: (value, unit)}, per traced round.
    A layer the workload does not reach reports 0."""
    from perfbench.workloads import CURATE_ENTRIES

    folded = fold_spans(spans)
    jobs = span_jobs(spans, log)

    def f(name, key="s"):
        return folded.get(name, {}).get(key, 0.0) / rounds

    def njobs(name):
        return len(jobs.get(name, ())) / rounds

    m = {
        "session.start_s": (extra["session_start_s"], "s"),
        "peak_pss_mb": (extra["peak_pss_mb"], "MB"),
        "catalog.load_table.calls": (f("catalog.load_table", "calls"), "count"),
        "catalog.load_table.s": (f("catalog.load_table"), "s"),
        "ddl.s": (f("ddl"), "s"),
    }
    for name in ("converter.convert_table", "copy.copy_table"):
        m[f"{name}.s"] = (f(name), "s")
        m[f"{name}.self_s"] = (f(name, "self_s"), "s")
    m["copy.dest_probe.calls"] = (f("copy.dest_probe", "calls"), "count")
    m["copy.dest_probe.s"] = (f("copy.dest_probe"), "s")
    for key in ("rows", "bytes"):
        m[f"copy.{key}"] = (f("copy.copy_table", key), key)
    m["delete.delete_pipeline.build_s"] = (f("delete.delete_pipeline"), "s")
    m["delete.plan_delete_ranges.s"] = (f("delete.plan_delete_ranges"), "s")
    m["delete.ranges"] = (f("delete.plan_delete_ranges", "ranges"), "count")
    m["delete.range_precision"] = (getattr(workload, "range_precision", 0.0), "ratio")
    m["pipeline.curate_documents.build_s"] = (f("pipeline.curate_documents"), "s")
    # The store build's own time is the noop write that materializes the
    # packed frame and fires the observed stage counts.
    m["pipeline.materialize_s"] = (f("pipeline.store", "self_s"), "s")
    stages = getattr(workload, "stage_rows", {})
    for stage in STAGES:
        m[f"pipeline.stage_rows.{stage}"] = (float(stages.get(stage, 0)), "rows")
    m["pipeline.keep_ratio"] = (stages["packed"] / stages["input"] if stages else 0.0, "ratio")
    m["dedup.connected_groups.s"] = (f("dedup.connected_groups"), "s")
    m["dedup.connected_groups.jobs"] = (njobs("dedup.connected_groups"), "count")
    for name in OPERATORS:
        m[f"{name}.build_s"] = (f(name), "s")
    family_s = family_jobs = 0.0
    for entry in CURATE_ENTRIES:
        build, run = f(f"plans.{entry}.build"), f(f"plans.{entry}.exec")
        entry_jobs = njobs(f"plans.{entry}.build") + njobs(f"plans.{entry}.exec")
        m[f"plans.{entry}.build_s"] = (build, "s")
        m[f"plans.{entry}.exec_s"] = (run, "s")
        m[f"plans.{entry}.jobs"] = (entry_jobs, "count")
        family_s += build + run
        family_jobs += entry_jobs
    m["plans.pipeline.s"] = (family_s, "s")
    m["plans.pipeline.jobs"] = (family_jobs, "count")
    for span in WORK_SPANS:
        if span.startswith("op."):
            m[f"{span}.s"] = (f(span), "s")
        work = work_of(log, jobs.get(span, ()))
        for metric, unit in WORK_METRICS:
            # task_skew is a worst case, not a per-round total
            m[f"{span}.{metric}"] = (work[metric] / (1 if metric == "task_skew" else rounds), unit)
    # The tracing overhead is this minus round_s of the untraced runs.
    m["trace.round_s"] = (extra["round_s"], "s")
    return m
