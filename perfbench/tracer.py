"""Outside-in tracing: spans recorded by the benchmark around its own calls
into the package's public functions.

A span holds a name, start, end and the id of the span that was open when
it began. Spans are kept in memory and dumped once at the end of the run.
Each span also records the Spark jobs, stages and tasks that ran while it
was open, read from ``SparkContext.statusTracker()``: every span sets a
job group named after itself, and its jobs are the ids the tracker lists
(for its group or for no group, which covers the crawler's helper thread)
that are newer than the newest id known when the span began.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: set[str] = set()

    def _job_ids(self) -> set[int]:
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        for g in self._groups:
            ids.update(st.getJobIdsForGroup(g))
        return ids

    @contextmanager
    def span(self, name: str, **attrs):
        """Record the block as a span; ``layer`` in attrs names its layer."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"{name}#{sid}"
        self._groups.add(group)
        self.sc.setJobGroup(group, name)
        lo = max(self._job_ids(), default=-1)
        rec["start"] = time.monotonic()
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            rec.update(self._spark_counts(lo))
            parent = rec["parent"]
            if parent is not None:
                p = self.spans[parent]
                self.sc.setJobGroup(f"{p['name']}#{parent}", p["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _spark_counts(self, lo: int) -> dict:
        st = self.sc.statusTracker()
        jobs = sorted(j for j in self._job_ids() if j > lo)
        tasks = failed = stages = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Self time per layer: a span's duration minus the part of it its
        children cover, summed over the spans of each ``layer`` attribute
        (the span name when it has none)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], edge), min(c["end"], s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            layer = s["attrs"].get("layer") or s["name"]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, metrics: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "metrics": metrics}, f, indent=1)


def phase_durations(metrics: list[dict]) -> dict[str, float]:
    """Per-phase seconds summed over supersteps, from the offsets the crawl
    records in ``CrawlResult.metrics[i]["trace"]`` under WALK_SPARK_TRACE.

    ``fetch_extract``, ``bloom_update``, ``seq_assign`` and ``metrics`` are
    offsets from the start of the superstep; ``expand_build`` and
    ``checkpoint`` are durations already. Without the bloom filter there is
    no ``bloom_update`` offset and the expansion starts after the fetch."""
    out = dict.fromkeys(
        ("fetch_extract_s", "bloom_wait_s", "expand_build_s",
         "seq_assign_s", "metrics_wait_s", "checkpoint_s"), 0.0)
    for m in metrics:
        t = m.get("trace") or {}
        if not t:
            continue
        fe = t.get("fetch_extract", 0.0)
        bu = t.get("bloom_update", fe)
        eb = t.get("expand_build", 0.0)
        sa = t.get("seq_assign", bu + eb)
        out["fetch_extract_s"] += fe
        out["bloom_wait_s"] += bu - fe
        out["expand_build_s"] += eb
        out["seq_assign_s"] += sa - bu - eb
        out["metrics_wait_s"] += t.get("metrics", sa) - sa
        out["checkpoint_s"] += t.get("checkpoint", 0.0)
    return out
