"""In-memory spans around calls into the engine's layers, Spark job-group
tagging per span, and the per-layer table built from spans plus Spark's
event log.

A span records name, start, end, parent, request id and process-tree CPU
seconds. While a span is open, every Spark job the calling thread starts
carries the span's id as its job group, so the event log attributes each
stage's task metrics to exactly one span. Disabled tracers record nothing
and cost one branch per call.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from contextlib import contextmanager

from .procfs import tree_cpu_s

GROUP_PREFIX = "pb-span-"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
# the detail section of a file write's physical plan: "(7) Execute
# InsertIntoHadoopFsRelationCommand", then "Arguments: file:/out/dir, ..."
WRITE_ARGS = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?"
    r"Arguments: (?:file:)?([^,\n]+)"
)

STAGE_FIELDS = (
    "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
    "input_records", "output_bytes", "shuffle_read_bytes",
    "shuffle_read_records", "fetch_wait_s", "shuffle_write_bytes",
    "shuffle_write_records",
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # the SparkContext, once the session exists

    @contextmanager
    def span(self, name: str, req: int | None = None, cpu: bool = True):
        """Yields the span record (a dict callers may add fields to); a
        disabled tracer yields a throwaway dict. cpu=False skips the two
        process-tree reads (~5 ms each) for short, frequent spans."""
        if not self.enabled:
            yield {}
            return
        cpu0 = tree_cpu_s() if cpu else 0.0
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None, "req": req,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self._tag(parent, None if parent is None
                      else self.spans[parent]["name"])
            rec["core_s"] = tree_cpu_s() - cpu0 if cpu else 0.0

    def _tag(self, span_id: int | None, name: str | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty(
            "spark.jobGroup.id",
            None if span_id is None else f"{GROUP_PREFIX}{span_id}",
        )
        self.sc.setLocalProperty("spark.job.description", name)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace module.attr with a version that runs inside a span; used
        for engine-internal steps that public calls reach through a module
        global (the engine itself is not modified)."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)


def _span_of(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


def parse_event_log(log_dir: str) -> tuple[dict[int, dict], dict[int, int], list[dict]]:
    """({stage_id: metrics incl. 'span'}, {span_id: jobs started}, the SQL
    executions that wrote files as [{"span", "path", "wall_s"}]) from the
    single application log under `log_dir`. An engine step that returns a
    lazy DataFrame (term_stats_from_blocks) does its work in the caller's
    write, so its time is the wall time of the write to its output."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {paths}")
    stages: dict[int, dict] = {}
    jobs: dict[int, int] = {}
    writes: dict[int, dict] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == SQL_START:
                m = WRITE_ARGS.search(ev.get("physicalPlanDescription", ""))
                if m:
                    writes[ev["executionId"]] = {
                        "span": _span_of(ev.get("jobGroupId")),
                        "path": m.group(1).strip(), "start": ev["time"],
                    }
            elif kind == SQL_END and ev["executionId"] in writes:
                w = writes[ev["executionId"]]
                w["wall_s"] = (ev["time"] - w.pop("start")) / 1e3
            elif kind == "SparkListenerJobStart":
                sid = _span_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                if sid is not None:
                    jobs[sid] = jobs.get(sid, 0) + 1
                for st in ev["Stage IDs"]:
                    rec = stages.setdefault(st, dict.fromkeys(STAGE_FIELDS, 0))
                    rec.setdefault("span", sid)
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                rec = stages.get(ev["Stage ID"])
                if tm is None or rec is None:
                    continue
                sr = tm.get("Shuffle Read Metrics", {})
                sw = tm.get("Shuffle Write Metrics", {})
                rec["tasks"] += 1
                rec["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                rec["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                rec["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                rec["input_records"] += tm.get("Input Metrics", {}).get("Records Read", 0)
                rec["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                rec["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                rec["shuffle_read_records"] += sr.get("Total Records Read", 0)
                rec["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                rec["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
    return stages, jobs, [w for w in writes.values() if "wall_s" in w]


def layer_table(spans: list[dict], stages: dict[int, dict],
                jobs: dict[int, int]) -> dict[str, dict]:
    """Per span name: calls, wall/self/core seconds, Spark jobs, and the
    summed task metrics of the stages its own job groups ran. Self time is
    the span's wall time minus the time its direct children cover."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                    + s["end"] - s["start"])
    by_span: dict[int, dict] = {}
    for st in stages.values():
        if st.get("span") is None:
            continue
        acc = by_span.setdefault(st["span"], dict.fromkeys(STAGE_FIELDS, 0))
        for k in STAGE_FIELDS:
            acc[k] += st[k]
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s["name"], {
            "calls": 0, "wall_s": 0.0, "self_s": 0.0, "core_s": 0.0,
            "spark_jobs": 0, **dict.fromkeys(STAGE_FIELDS, 0),
        })
        wall = s["end"] - s["start"]
        row["calls"] += 1
        row["wall_s"] += wall
        row["self_s"] += wall - child_s.get(s["id"], 0.0)
        row["core_s"] += s["core_s"]
        row["spark_jobs"] += jobs.get(s["id"], 0)
        for k, v in by_span.get(s["id"], {}).items():
            row[k] += v
    return table


def split_build_stages(spans: list[dict], stages: dict[int, dict],
                       parent_name: str) -> dict[str, dict]:
    """Stage metrics of the write_group_blocks spans under `parent_name`,
    split into the runs stage (tokenize + invert, ends in the shuffle
    write) and the merge + parquet write stage (reads that shuffle)."""
    names = {s["id"]: s["name"] for s in spans}
    ids = {
        s["id"] for s in spans
        if s["name"] == "build.write_group_blocks"
        and s["parent"] is not None and names[s["parent"]] == parent_name
    }
    out = {"stage1": dict.fromkeys(STAGE_FIELDS, 0),
           "merge_write": dict.fromkeys(STAGE_FIELDS, 0)}
    for st in stages.values():
        if st.get("span") not in ids or not st["tasks"]:
            continue
        acc = out["stage1" if st["shuffle_write_bytes"] else "merge_write"]
        for k in STAGE_FIELDS:
            acc[k] += st[k]
    return out
