"""Layer spans for the traced run, recorded from the benchmark's side.

``Tracer.install`` wraps the program's public layer entry points (merge,
lake and replay calls) in spans. Each span names a Spark job group for its
thread, so every job it launches can be attributed to it afterwards.
``Tracer.layers`` folds per-stage task metrics from Spark's uncompressed
event log into the spans and sums them per layer.
"""

from __future__ import annotations

import functools
import inspect
import json
import statistics
import threading
import time
from collections import defaultdict

FIELDS = {
    "calls": "count", "wall_s": "s", "self_s": "s", "jobs": "count",
    "executor_cpu_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "queue_wait_s": "s",
}
# reported on every run, zero when a run has no such span
LAYERS = [
    "runner.replay", "scd2.apply_batches", "scd2.apply_batch",
    "scd2.prepare_batch", "hubs.hub", "hubs.link", "lake.stage_tagged",
    "lake.commit", "lake.compact", "reads.point", "reads.scan", "pipe.replay",
]
QUERIES = ["queries.domain_orders_current"]  # wall_s only
REPLAYS = ("runner.replay", "pipe.replay")
GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[dict]] = {}
        self._main = threading.get_ident()
        self.paths: list[str] = []  # which path each replay's lanes took

    # ------------------------------------------------------------- recording

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> dict:
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            # a lane or prefetch thread's first span hangs off the span the
            # main thread is inside (the replay that started the thread)
            outer = stack or self._stacks.get(self._main) or [None]
            sp = {"id": len(self.spans), "name": name, "thread": tid,
                  "parent": outer[-1]["id"] if outer[-1] else None,
                  "prev_group": self.sc.getLocalProperty(GROUP)}
            self.spans.append(sp)
            stack.append(sp)
        self.sc.setLocalProperty(GROUP, f"perfbench-{sp['id']}")
        sp["start"] = time.perf_counter()
        return sp

    def _close(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        self.sc.setLocalProperty(GROUP, sp.pop("prev_group"))
        with self._lock:
            self._stacks[sp["thread"]].pop()

    def wrap(self, cls, attr: str, name, on_result=None) -> None:
        """Replace ``cls.attr`` with a spanned call; ``name`` is a layer name
        or a function of the instance."""
        orig = getattr(cls, attr)
        sig = inspect.signature(orig)
        tracer = self

        @functools.wraps(orig)
        def spanned(obj, *args, **kwargs):
            with tracer.span(name(obj) if callable(name) else name) as sp:
                out = orig(obj, *args, **kwargs)
                if on_result is not None:
                    on_result(sp, out, sig.bind(obj, *args, **kwargs).arguments)
                return out

        setattr(cls, attr, spanned)

    def install(self) -> None:
        from pyelt_spark.operators.hubs import HubMerge, LinkMerge
        from pyelt_spark.operators.scd2 import Scd2Merge, Scd2Table
        from pyelt_spark.plans.pipe import Pipe
        from pyelt_spark.storage.lake import LakeTable
        from pyelt_spark.streaming.runner import MicrobatchRunner

        def hub_name(m):
            return "hubs.link" if isinstance(m, LinkMerge) else "hubs.hub"

        def window_taken(sp, out, arguments):
            sp["taken"] = out is not None
            sp["window"] = len(arguments.get("batch_ids") or [])

        self.wrap(MicrobatchRunner, "replay", "runner.replay")
        self.wrap(Pipe, "replay", "pipe.replay")
        self.wrap(Scd2Merge, "apply_batches", "scd2.apply_batches", window_taken)
        self.wrap(Scd2Merge, "apply_batch", "scd2.apply_batch")
        self.wrap(Scd2Merge, "prepare_batch", "scd2.prepare_batch")
        self.wrap(HubMerge, "apply_batch", hub_name)
        self.wrap(HubMerge, "apply_batches", hub_name, window_taken)
        self.wrap(LakeTable, "stage_tagged", "lake.stage_tagged")
        self.wrap(LakeTable, "commit", "lake.commit")
        self.wrap(LakeTable, "compact", "lake.compact")
        self.wrap(Scd2Table, "compact_head", "lake.compact")

    # --------------------------------------------------------------- folding

    def layers(self, event_log: str) -> dict[str, float]:
        """Per-layer sums, the window and lane ratios, from the finished
        spans and the (flushed) event log."""
        spans = [s for s in self.spans if "end" in s]
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        per_span = _fold_event_log(event_log)
        spans_by_id = {s["id"]: s for s in spans}
        # the orders domain's merges count as part of its Pipe replay, so
        # the transcript vault's layers stay its own
        inner = set()
        for s in spans:
            pipe = _ancestor(s, spans_by_id, "pipe.replay")
            if pipe is not None:
                inner.add(s["id"])
                into = per_span.setdefault(f"perfbench-{pipe['id']}", {})
                for k, v in per_span.get(f"perfbench-{s['id']}", {}).items():
                    into[k] = into.get(k, 0) + v
        out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in FIELDS}
        out.update({f"{q}.wall_s": 0.0 for q in QUERIES})
        for s in spans:
            layered = s["name"] in LAYERS
            if s["id"] in inner or not layered and s["name"] not in QUERIES:
                continue
            wall = s["end"] - s["start"]
            m = per_span.get(f"perfbench-{s['id']}", {})
            row = {
                "calls": 1, "wall_s": wall,
                "self_s": wall - _covered(s, kids[s["id"]]),
                "jobs": m.get("jobs", 0),
                "executor_cpu_s": m.get("cpu_ns", 0) / 1e9,
                "shuffle_bytes": m.get("shuffle_bytes", 0),
                "spill_bytes": m.get("spill_bytes", 0),
                "queue_wait_s": m.get("queue_wait_ms", 0) / 1e3,
            }
            fields = FIELDS if layered else ["wall_s"]
            parent = spans_by_id.get(s["parent"])
            if parent is not None and parent["name"] == s["name"]:
                # a layer call nested in the same layer (a one-batch window
                # delegating to the per-batch merge) is one call
                fields = [f for f in fields if f not in ("calls", "wall_s")]
            for f in fields:
                key = f"{s['name']}.{f}"
                out[key] = out.get(key, 0.0) + row[f]
        out.update(self._lanes(spans, kids))
        return out

    def _lanes(self, spans, kids) -> dict[str, float]:
        """Window acceptance and lane accounting per replay span.

        ``accepted_share`` and ``critical_share`` count the transcript
        vault's replays only. ``accepted_share``: of the sat lanes given two
        or more batches, the share that applied them as one window (declined
        windows and lanes the volume gate kept off the window path both
        count as not taken).
        A lane is a thread that ran merge spans under the replay (threads
        that only prefetch batch frames are helpers, not lanes). Lanes are
        submitted together, so a lane's wall runs from the first lane span's
        start to that lane's last span end."""
        taken = attempted = 0
        critical, covered = [], []
        for r in (s for s in spans if s["name"] in REPLAYS):
            vault = r["name"] == "runner.replay"
            lanes: dict[int, list[dict]] = defaultdict(list)
            for k in kids[r["id"]]:
                if k["thread"] != r["thread"]:
                    lanes[k["thread"]].append(k)
            lanes = {t: ks for t, ks in lanes.items()
                     if any(k["name"] != "scd2.prepare_batch" for k in ks)}
            if not lanes:
                continue
            start = min(k["start"] for ks in lanes.values() for k in ks)
            walls, lane_paths = [], []
            for ks in lanes.values():
                lane = {"start": start, "end": max(k["end"] for k in ks)}
                walls.append(lane["end"] - start)
                covered.append(_covered(lane, ks) / max(walls[-1], 1e-9))
                # a sat lane given two or more batches: did it coalesce them?
                windows = [k for k in ks if k["name"] == "scd2.apply_batches"]
                if vault and (any(k["window"] > 1 for k in windows)
                              or sum(k["name"] == "scd2.apply_batch" for k in ks) > 1):
                    attempted += 1
                    taken += any(k["taken"] and k["window"] > 1 for k in windows)
                lane_paths.append(_lane_path(ks))
            paths = ", ".join(sorted(lane_paths))
            self.paths.append(f"{r['name']} {r['end'] - r['start']:.3f}s: {paths}")
            if vault:
                critical.append(max(walls) / (r["end"] - r["start"]))
        return {
            "scd2.apply_batches.accepted_share": taken / attempted if attempted else 0.0,
            "lane.critical_share": statistics.median(critical) if critical else 0.0,
            "lane.covered_share": min(covered) if covered else 0.0,
        }


def _ancestor(span: dict, spans_by_id: dict, name: str) -> dict | None:
    """The nearest enclosing span called ``name``, if any."""
    p = spans_by_id.get(span["parent"])
    while p is not None and p["name"] != name:
        p = spans_by_id.get(p["parent"])
    return p


def _lane_path(spans: list[dict]) -> str:
    """'sat window', 'hub per-batch x4', ...: which path a lane took."""
    names = {k["name"] for k in spans}
    lane = ("link" if "hubs.link" in names else "hub" if "hubs.hub" in names
            else "sat")
    taken = [k for k in spans if k.get("taken")]
    if taken:
        return f"{lane} window x{taken[0]['window']}"
    n = sum(k["name"] in ("scd2.apply_batch", "hubs.hub", "hubs.link")
            and "taken" not in k for k in spans)
    return f"{lane} per-batch x{n}"


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> dict:
        self.sp = self.tracer._open(self.name)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


def _covered(span: dict, children: list[dict]) -> float:
    """Length of the part of ``span`` that the children's intervals cover."""
    total, reach = 0.0, span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], reach), min(c.get("end", c["start"]), span["end"])
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def _fold_event_log(path: str) -> dict[str, dict]:
    """Job group → jobs, executor CPU, shuffle write bytes, spill bytes and
    queue wait (stage submission to first task launch), from one
    uncompressed Spark event log. A stage counts for the first job that
    lists it."""
    group_of_stage: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    submitted: dict[int, int] = {}
    first_launch: dict[int, int] = {}
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP)
                if group:
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    submitted.setdefault(info["Stage ID"], info["Submission Time"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                group = group_of_stage.get(sid)
                if group is None:
                    continue
                launch = ev["Task Info"]["Launch Time"]
                first_launch[sid] = min(first_launch.get(sid, launch), launch)
                tm = ev.get("Task Metrics") or {}
                a = acc[group]
                a["cpu_ns"] += tm.get("Executor CPU Time", 0)
                a["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                a["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
    for sid, launch in first_launch.items():
        if sid in submitted:
            acc[group_of_stage[sid]]["queue_wait_ms"] += max(launch - submitted[sid], 0)
    out = {g: dict(a) for g, a in acc.items()}
    for g, n in jobs.items():
        out.setdefault(g, {})["jobs"] = n
    return out
