"""Spans kept in memory, and counters read from Spark's executed plans.

Spans are recorded by the benchmark around its calls into gipspark's
public functions; nothing inside the library is instrumented. A span
has a name, start and end (``time.perf_counter`` seconds), the id of
its parent span and the run id. Self time is a span's duration minus
the time its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. When ``enabled`` is false, ``span`` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [{**s, "self_s": selfs[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **extra}, f, indent=1)


# ---------------------------------------------------------------------------
# executed-plan counters
# ---------------------------------------------------------------------------


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def plan_nodes(df) -> list[dict]:
    """Flatten the AQE-final executed plan of ``df`` after an action.

    ``AdaptiveSparkPlanExec`` and ``*QueryStageExec`` wrappers are
    unwrapped. Call this after ``collect``/``toArrow`` on the same
    Dataset: a ``df.write`` plans a new QueryExecution whose metrics the
    Dataset never sees.
    """
    out: list[dict] = []
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
        out.append(
            {
                "node": cls,
                "desc": str(node.simpleString(25)),
                "output": str(node.output().toString()),
                "metrics": _metrics(node),
            }
        )
        stack.extend(_children(node))
    return out


_PYTHON_NODES = ("MapInPandasExec", "MapInArrowExec", "ArrowEvalPythonExec", "BatchEvalPythonExec")


def python_boundary(nodes: list[dict]) -> dict[str, float]:
    """Summed Python-node counters: total time (s) and bytes each way."""
    tot = {"time_ms": 0, "sent": 0, "received": 0}
    for n in nodes:
        if n["node"] in _PYTHON_NODES:
            m = n["metrics"]
            tot["time_ms"] += m.get("pythonTotalTime", 0)
            tot["sent"] += m.get("pythonDataSent", 0)
            tot["received"] += m.get("pythonDataReceived", 0)
    return {"python_time_s": tot["time_ms"] / 1000.0, "sent": tot["sent"], "received": tot["received"]}


def pip_funnel(nodes: list[dict]) -> dict[str, int]:
    """The PIP prefilter/refine funnel from one ``pip_join`` plan.

    cover_rows: rows of the broadcast (cell, poly_id) cover;
    probe_rows: rows out of the Generate that explodes each point into
    its parent cells; candidates: rows out of the cover join; kept: rows
    out of the edges join, whose condition is the ray cast.
    """
    f = {"cover_rows": 0, "probe_rows": 0, "candidates": 0, "kept": 0}
    for n in nodes:
        rows = n["metrics"].get("numOutputRows", 0)
        if n["node"] == "BroadcastExchangeExec" and "__pcell" in n["output"]:
            f["cover_rows"] += rows
        elif n["node"] == "GenerateExec" and "__pcell" in n["output"]:
            f["probe_rows"] += rows
        elif n["node"] == "BroadcastHashJoinExec" and "__pcell" in n["desc"]:
            f["candidates"] += rows
        elif n["node"] == "BroadcastHashJoinExec" and "__edges" in n["desc"]:
            f["kept"] += rows
    return f
