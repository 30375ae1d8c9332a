"""Spans around calls into the engine's layers, plus the Spark counters
each span caused.

A span is (id, name, start, end, parent, op). With tracing on, every
span sets its own Spark job group, so the jobs an action launches can
be attributed to the innermost open span. Nothing is read from Spark
while ops run: ``resolve`` runs after the timed region, once the
listener bus has drained, and joins job ids -> stage data (status
store) and job ids -> SQL executions -> plan-node metrics.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager

# stage-data counters summed per span: name -> (StageData getter, scale)
STAGE_COUNTERS = {
    "tasks": ("numTasks", 1),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "executor_run_s": ("executorRunTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "output_bytes": ("outputBytes", 1),
}

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_NODE_RE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*)" tooltip=')
_SPLIT_TAIL = "total (min, med, max (stageId: taskId))"
_EDGE_RE = re.compile(r"^\s*(\d+)->(\d+);")


def parse_metric(text: str) -> float:
    """SQL UI metric text ('12.3 s', '1,024', '4.0 MiB') -> number in
    base units (s, bytes, count)."""
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _unescape(s: str) -> str:
    return s.encode("latin-1", "backslashreplace").decode("unicode_escape")


def parse_dot(dot: str) -> tuple[dict[int, dict], list[tuple[int, int]]]:
    """SparkPlanGraph.makeDotFile output -> ({id: {name, metrics}}, edges
    child->parent)."""
    nodes: dict[int, dict] = {}
    edges: list[tuple[int, int]] = []
    for line in dot.splitlines():
        m = _NODE_RE.match(line)
        if m:
            parts = [p for p in _unescape(m.group(2)).split("<br>") if p]
            name = re.sub(r"</?b>", "", parts[0]).strip()
            metrics = {}
            # a per-task metric spans two parts: "<name> total (min, med,
            # max (stageId: taskId))" then "<total> (<min>, ...)"
            for p, nxt in zip(parts[1:], parts[2:] + [""]):
                if p.endswith(_SPLIT_TAIL):
                    metrics[p[: -len(_SPLIT_TAIL)].strip()] = parse_metric(nxt)
                elif ": " in p and not p.startswith(tuple("0123456789")):
                    k, v = p.split(": ", 1)
                    metrics[k.strip()] = parse_metric(v)
            nodes[int(m.group(1))] = {"name": name, "metrics": metrics}
            continue
        m = _EDGE_RE.match(line)
        if m:
            edges.append((int(m.group(1)), int(m.group(2))))
    return nodes, edges


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one generator
    frame and records nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
        }
        rec["group"] = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(rec["group"], name, False)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ---------------------------------------------------------- resolve

    def resolve(self) -> None:
        """Attach per-span Spark counters and plan nodes (self only, not
        children). Call after the timed region."""
        if not self.spans:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        empty_tasks = jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(jvm.double, 0)
        stage_cache: dict[int, dict | None] = {}

        def stage(sid: int) -> dict | None:
            if sid not in stage_cache:
                sl = store.stageData(sid, False, empty_tasks, False, no_q)
                rec = None
                if sl.size():
                    sd = sl.apply(0)
                    if sd.status().toString() != "SKIPPED":
                        rec = {k: getattr(sd, g)() * s for k, (g, s) in STAGE_COUNTERS.items()}
                stage_cache[sid] = rec
            return stage_cache[sid]

        job_span: dict[int, dict] = {}
        for sp in self.spans:
            jobs = list(tracker.getJobIdsForGroup(sp["group"]))
            sp["jobs"] = len(jobs)
            stages = set()
            for j in jobs:
                job_span[j] = sp
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            sums = dict.fromkeys(STAGE_COUNTERS, 0.0)
            n_st = 0
            for sid in stages:
                rec = stage(sid)
                if rec:
                    n_st += 1
                    for k, v in rec.items():
                        sums[k] += v
            sp["stages"] = n_st
            sp.update(sums)
            sp["plans"] = []

        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = e.jobs().keySet().toString()  # "Set(1, 2)"
            ids = [int(x) for x in re.findall(r"\d+", jobs)]
            owner = next((job_span[j] for j in ids if j in job_span), None)
            if owner is None:
                continue
            eid = e.executionId()
            dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
            owner["plans"].append(parse_dot(dot))

    def rows(self) -> list[dict]:
        """Spans as plain records, with self time = duration minus the
        part covered by child spans."""
        kids: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids[sp["parent"]] = kids.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
        out = []
        for sp in self.spans:
            r = {k: v for k, v in sp.items() if k not in ("group", "plans")}
            r["dur_s"] = sp["end"] - sp["start"]
            r["self_s"] = r["dur_s"] - kids.get(sp["id"], 0.0)
            out.append(r)
        return out


def plan_nodes(spans: list[dict]):
    """Yield (span, node) for every plan node executed under ``spans``."""
    for sp in spans:
        for nodes, _ in sp.get("plans", []):
            for n in nodes.values():
                yield sp, n


def node_sum(spans: list[dict], name_re: str, metric: str) -> float:
    rx = re.compile(name_re)
    return sum(
        n["metrics"].get(metric, 0.0) for _, n in plan_nodes(spans) if rx.search(n["name"])
    )
