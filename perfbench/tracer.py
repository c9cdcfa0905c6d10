"""Out-of-program span tracer for the traced benchmark run.

``Tracer.wrap_namespace`` replaces the engine functions bound in a
module namespace (``cli``, ``pipeline``, ``llm_pipeline``) with timing
wrappers at runtime; no engine file changes. Each span runs under its
own Spark job group, so ``statusTracker`` attributes every job, stage
and task to the innermost span that launched it. Spans stay in memory
until ``write``.

Self time is a span's duration minus the time its direct children
cover. ``overhead_s`` is the tracer's own bookkeeping time (job-group
switches, status queries), which is what tracing adds to the wall time.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from contextlib import contextmanager

# Spans this close to the root record the storage Spark still holds
# when they end (the root's children and grandchildren).
HELD_DEPTH = 2

LAYERS = (
    "session", "catalog", "plans", "cli", "pipeline", "llm_pipeline", "operators", "sources",
)


def layer_of(module: str) -> str:
    """``cds_etl_spark.operators.validation`` -> ``operators``."""
    parts = module.split(".")
    return parts[1] if len(parts) > 1 and parts[0] == "cds_etl_spark" else parts[0]


def held_storage(sc) -> tuple[int, float]:
    """Cached/checkpointed blocks and MiB Spark storage still holds."""
    blocks, size = 0, 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        blocks += info.numCachedPartitions()
        size += info.memSize() + info.diskSize()
    return blocks, size / 2**20


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.overhead_s = 0.0
        self._next = 0

    # -- wrapping -----------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def wrap_namespace(self, module, names: dict[str, str] | None = None, exclude=()) -> None:
        """Wrap every public engine function bound in ``module`` (plus the
        private ones ``names`` lists); span names are
        ``<layer>.<function>`` unless ``names`` overrides them."""
        names = names or {}
        for attr, obj in list(vars(module).items()):
            if not inspect.isfunction(obj) or not obj.__module__.startswith("cds_etl_spark"):
                continue
            if attr in exclude:
                continue
            if not attr.startswith("_") or attr in names:
                self.wrap(module, attr, names.get(attr, f"{layer_of(obj.__module__)}.{attr.lstrip('_')}"))

    # -- spans --------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        self._next += 1
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self._next}",
            **attrs,
        }
        self.sc.setJobGroup(rec["group"], name)
        depth = len(self.stack)
        self.stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self._counts(rec["group"]))
            if depth <= HELD_DEPTH:
                rec["held_blocks"], rec["held_mb"] = held_storage(self.sc)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _counts(self, group: str) -> dict[str, int]:
        jobs = stages = tasks = 0
        for jid in self.status.getJobIdsForGroup(group):
            jobs += 1
            info = self.status.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.status.getStageInfo(sid)
                ran = st.numCompletedTasks + st.numFailedTasks if st is not None else 0
                if ran:  # 0: skipped, its shuffle output was reused
                    stages += 1
                    tasks += ran
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    # -- summaries ----------------------------------------------------
    def subtree(self, root: dict) -> list[dict]:
        kids: dict[int | None, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids.get(s["id"], [])
        return out

    def summary(self, root: dict) -> dict:
        """Per span name and per layer: calls, inclusive seconds, self
        seconds and inclusive job/stage/task counts, under ``root``."""
        spans = self.subtree(root)
        child_s: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        incl: dict[int, dict[str, int]] = {}
        for s in sorted(spans, key=lambda s: -s["id"]):  # children close first
            c = incl.setdefault(s["id"], {"jobs": 0, "stages": 0, "tasks": 0})
            for k in c:
                c[k] += s[k]
            if s["parent"] is not None and s is not root:
                p = incl.setdefault(s["parent"], {"jobs": 0, "stages": 0, "tasks": 0})
                for k in p:
                    p[k] += c[k]
        by_name: dict[str, dict] = {}
        by_layer = {layer: 0.0 for layer in LAYERS}
        for s in spans:
            dur = s["end"] - s["start"]
            self_s = dur - child_s.get(s["id"], 0.0)
            agg = by_name.setdefault(
                s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0}
            )
            agg["calls"] += 1
            agg["s"] += dur
            agg["self_s"] += self_s
            for k in ("jobs", "stages", "tasks"):
                agg[k] += incl[s["id"]][k]
            layer = s["name"].split(".")[0]
            if s is not root and layer in by_layer:
                by_layer[layer] += self_s
        top = [s for s in spans if s["parent"] == root["id"]]
        wall = root["end"] - root["start"]
        return {
            "wall_s": wall,
            "top_level_s": sum(s["end"] - s["start"] for s in top),
            "unattributed_s": wall - sum(s["end"] - s["start"] for s in top),
            "by_name": by_name,
            "by_layer_self_s": by_layer,
            "totals": incl[root["id"]],
        }

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({**extra, "overhead_s": self.overhead_s, "spans": spans}, f, indent=1)
