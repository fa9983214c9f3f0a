"""Spans around calls into the package's layers, folded with Spark's own
event log.

A span is (id, name, parent, start, end). Entering one sets the Spark job
description to ``span:<id>:<name>``, so every job submitted while it is
the innermost open span is logged under it. After the run, ``fold``
reads the event log and attributes TaskEnd metrics and the SQL plan-node
accumulators of each job to its span. Spans are kept in memory and
written out once, at the end.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"span:{sid}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobDescription(f"span:{top['id']}:{top['name']}")
            else:
                self.sc.setJobDescription(None)

    def wrap(self, owner, attr: str, name_of) -> None:
        """Replace ``owner.attr`` by a wrapper that runs the original
        inside ``span(name_of(*args))``; ``unpatch`` restores it."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def patch_pipeline(self) -> None:
        """Spans where ``plans.pipeline`` looks its callees up: the stage
        runner (one span per stage) and the two materialize writers,
        which the pipeline calls through the module (``M.<name>``)."""
        from distributed_extraction_framework_spark.plans import materialize
        from distributed_extraction_framework_spark.plans.pipeline import Pipeline

        self.wrap(Pipeline, "_run_stage", lambda _self, stage, *a, **k: f"stage.{stage}")
        self.wrap(materialize, "write_graph_tables", lambda *a, **k: "materialize.graph_tables")
        self.wrap(materialize, "write_formats", lambda *a, **k: "materialize.exports")

    # -- span arithmetic ----------------------------------------------------
    def wall(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def children(self, sid: int) -> list[int]:
        return [s["id"] for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def self_time(self, sid: int) -> float:
        """Span wall minus its child spans (one client thread: children
        run one after another inside their parent)."""
        return self.wall(sid) - sum(self.wall(c) for c in self.children(sid))

    def named(self, name: str) -> list[int]:
        return [s["id"] for s in self.spans if s["name"] == name]


# SQL metric types as Spark's SQLMetrics reports them
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0 / 2**20}


def _walk_plan(node: dict, acc_meta: dict, corpus_acc: set, corpus_path: str | None) -> None:
    name = node.get("nodeName", "")
    location = (node.get("metadata") or {}).get("Location", "")
    is_corpus = bool(corpus_path) and corpus_path in location
    for m in node.get("metrics", []):
        acc_meta[m["accumulatorId"]] = (name, m["name"], m["metricType"])
        if is_corpus:
            corpus_acc.add(m["accumulatorId"])
    for child in node.get("children", []):
        _walk_plan(child, acc_meta, corpus_acc, corpus_path)


def _span_of(desc: str | None) -> int | None:
    if desc and desc.startswith("span:"):
        return int(desc.split(":", 2)[1])
    return None


class Folded:
    """Per-span totals from the event log (exclusive: each job counts
    only under the innermost span open when it was submitted)."""

    def __init__(self):
        self.jobs = defaultdict(int)
        self.failed_tasks = defaultdict(int)
        self.tasks = defaultdict(list)         # span -> task durations (s)
        self.task = defaultdict(lambda: defaultdict(float))  # span -> metric -> value
        self.sql = defaultdict(lambda: defaultdict(float))   # span -> (node, metric) -> value
        self.corpus_rows = defaultdict(float)  # span -> rows out of corpus scans
        self.corpus_mb = defaultdict(float)    # span -> MB of corpus files read

    def total(self, attr: str, sids, key=None) -> float:
        table = getattr(self, attr)
        if key is None:
            return sum(table[s] for s in sids)
        return sum(table[s].get(key, 0.0) for s in sids)

    def sql_sum(self, sids, node_prefix: str, metric: str) -> float:
        return sum(v for s in sids for (node, name), v in self.sql[s].items()
                   if node.startswith(node_prefix) and name == metric)


def read_events(event_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        base = os.path.basename(path)
        if os.path.isdir(path) or base.startswith(".") or base.startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def fold(events: list[dict], corpus_path: str | None = None) -> Folded:
    out = Folded()
    acc_meta: dict[int, tuple] = {}
    corpus_acc: set[int] = set()
    exec_span: dict[int, int | None] = {}
    stage_span: dict[int, int | None] = {}
    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev["sparkPlanInfo"], acc_meta, corpus_acc, corpus_path)
            if kind.endswith("SQLExecutionStart"):
                exec_span[ev["executionId"]] = _span_of(ev.get("description"))
        elif kind == "SparkListenerJobStart":
            sid = _span_of((ev.get("Properties") or {}).get("spark.job.description"))
            out.jobs[sid] += 1
            for st in ev["Stage IDs"]:
                stage_span[st] = sid
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            sid = exec_span.get(ev["executionId"])
            for acc_id, value in ev["accumUpdates"]:
                _add_sql(out, sid, acc_meta, corpus_acc, acc_id, value)
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            info = ev["Task Info"]
            if info.get("Failed") or ev["Task End Reason"].get("Reason") != "Success":
                out.failed_tasks[sid] += 1
            out.tasks[sid].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            m = ev.get("Task Metrics") or {}
            t = out.task[sid]
            t["run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / 2**20
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            t["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 2**20
            t["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
            t["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 2**20
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    _add_sql(out, sid, acc_meta, corpus_acc, acc["ID"], acc.get("Update"))
    return out


def _add_sql(out: Folded, sid, acc_meta, corpus_acc, acc_id, value) -> None:
    meta = acc_meta.get(acc_id)
    if meta is None or value is None:
        return
    node, name, mtype = meta
    v = float(value) * _SCALE.get(mtype, 1.0)
    out.sql[sid][(node, name)] += v
    if acc_id in corpus_acc:
        if name == "number of output rows":
            out.corpus_rows[sid] += v
        elif name == "size of files read":
            out.corpus_mb[sid] += v


def span_table(tracer: Tracer, folded: Folded, cores: int) -> list[dict]:
    """One row per span name: wall, self and executor-side totals,
    inclusive of nested spans, summed over the span's occurrences."""
    rows = {}
    for s in tracer.spans:
        sids = tracer.descendants(s["id"])
        r = rows.setdefault(s["name"], defaultdict(float, {"name": s["name"], "n": 0}))
        wall = tracer.wall(s["id"])
        r["n"] += 1
        r["wall_s"] += wall
        r["self_s"] += tracer.self_time(s["id"])
        r["jobs"] += folded.total("jobs", sids)
        r["failed_tasks"] += folded.total("failed_tasks", sids)
        for key in ("run_s", "cpu_s", "gc_s", "shuffle_read_mb",
                    "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"):
            r[key] += folded.total("task", sids, key)
        durations = [d for sid in sids for d in folded.tasks[sid]]
        r["_busy"] += sum(durations)
        r["_cap"] += wall * cores
        r.setdefault("_durations", []).extend(durations)
    table = []
    for r in rows.values():
        durs = r.pop("_durations")
        busy, cap = r.pop("_busy"), r.pop("_cap")
        r["core_idle_frac"] = 1.0 - busy / cap if cap > 0 else 0.0
        r["task_skew"] = (max(durs) / statistics.median(durs)
                          if durs and statistics.median(durs) > 0 else 0.0)
        table.append(dict(r))
    return table


TABLE_COLS = ("n", "wall_s", "self_s", "jobs", "run_s", "cpu_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
              "core_idle_frac", "task_skew", "failed_tasks")


def format_table(table: list[dict]) -> list[str]:
    head = f"{'span':28s}" + "".join(f"{c:>17s}" for c in TABLE_COLS)
    lines = [head]
    for r in table:
        lines.append(f"{r['name'][:28]:28s}"
                     + "".join(f"{r.get(c, 0):17.4g}" for c in TABLE_COLS))
    return lines
