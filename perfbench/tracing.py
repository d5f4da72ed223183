"""Spans around the benchmark's calls into each layer, plus the two
Spark-side sources of operator numbers:

- the AQE final physical plan of a finished DataFrame action, read over
  py4j (``plan_nodes``);
- the local Spark event log (``read_event_log``), which also sees the
  jobs that ``localCheckpoint`` runs outside the final plan.

Every span sets the Spark job group to its own id, so the stages of the
jobs a span launched can be found in the event log by that id.  Spans
are kept in memory and written out once, by ``Tracer.dump``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self._sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        span_id = f"{self.run_id}:{len(self.spans)}"
        rec = {
            "id": span_id, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(span_id, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(parent["id"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# ---------------------------------------------------------------------------
# AQE final plan over py4j
# ---------------------------------------------------------------------------

def _metric_values(jplan) -> dict:
    out = {}
    it = jplan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        name = metric.name().get() if metric.name().isDefined() else kv._1()
        out[name] = out.get(name, 0) + metric.value()
    return out


def plan_nodes(df) -> list:
    """(node name, {metric name: value}) for every node of the executed
    plan of ``df``'s last action, descending through AQE query stages."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        out.append((node.nodeName(), _metric_values(node)))
        kids = node.children().iterator()
        while kids.hasNext():
            stack.append(kids.next())
    return out


def join_output_rows(nodes: list) -> int:
    return sum(
        int(m.get("number of output rows", 0))
        for name, m in nodes if name.endswith("Join")
    )


def python_output_rows(nodes: list, node_name: str) -> int:
    return sum(
        int(m.get("number of output rows", 0))
        for name, m in nodes if name == node_name
    )


# ---------------------------------------------------------------------------
# Local event log
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def read_event_log(log_dir: str) -> dict:
    """job group -> list of stage records, each with summed SQL and task
    metrics (``acc``) and its task durations in ms (``task_ms``)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not f.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    stage_group: dict = {}
    stages: dict = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                rec = stages.setdefault(
                    ev["Stage ID"], {"acc": {}, "task_ms": []}
                )
                info = ev["Task Info"]
                rec["task_ms"].append(
                    info["Finish Time"] - info["Launch Time"]
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                rec = stages.setdefault(
                    info["Stage ID"], {"acc": {}, "task_ms": []}
                )
                for a in info.get("Accumulables", ()):
                    try:
                        val = float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        continue
                    rec["acc"][a["Name"]] = rec["acc"].get(a["Name"], 0.0) + val
    by_group: dict = {}
    for sid, rec in stages.items():
        by_group.setdefault(stage_group.get(sid), []).append(rec)
    return by_group


def stage_sum(stage_recs: list, name: str) -> float:
    return sum(r["acc"].get(name, 0.0) for r in stage_recs)


def task_skew_max(stage_recs: list) -> float:
    """max/median task time of the worst stage with 2+ tasks (1.0 when
    no stage has more than one task)."""
    worst = 1.0
    for r in stage_recs:
        ms = r["task_ms"]
        if len(ms) >= 2:
            med = statistics.median(ms)
            if med > 0:
                worst = max(worst, max(ms) / med)
    return worst
