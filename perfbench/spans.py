"""In-memory spans and per-layer attribution for the traced runs.

A span is ``{"id", "parent", "name", "layer", "inv", "start", "end"}``
with epoch-second times; spans of one invocation share ``inv``. They are
kept in a list and written out once, when the run ends.

Layer time inside one invocation is a partition of its wall: every
instant of the invocation is charged to exactly one layer, the
highest-priority layer whose span covers it (``fetch`` > ``exec`` >
``catalyst`` > the span's own layer). Self times therefore sum to the
invocation wall by construction, and a span that leaks outside its
parent is counted as a violation instead of being charged.
"""

from __future__ import annotations

import itertools
import json
import threading

#: Tolerance for "child inside parent": stage times come from the JVM
#: at millisecond resolution, invocation times from Python.
SLACK_S = 0.002

#: Higher wins when spans of different layers overlap.
PRIORITY = {"fetch": 4, "exec": 3, "catalyst": 2}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.violations = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def span(self, name: str, layer: str, start: float, end: float,
             parent: int | None = None, inv: int | None = None, **attrs) -> int:
        sid = next(self._ids)
        rec = {"id": sid, "parent": parent, "name": name, "layer": layer,
               "inv": inv, "start": start, "end": end, **attrs}
        with self._lock:
            self.spans.append(rec)
        return sid

    def finish(self, sid: int, end: float) -> None:
        """Set the end of a span opened with a provisional end."""
        with self._lock:
            next(r for r in self.spans if r["id"] == sid)["end"] = end

    def violation(self) -> None:
        with self._lock:
            self.violations += 1

    def check_inside(self, start: float, end: float, pstart: float, pend: float) -> bool:
        ok = start >= pstart - SLACK_S and end <= pend + SLACK_S
        if not ok:
            self.violation()
        return ok

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"violations": self.violations, "spans": self.spans}, fh)


def partition(start: float, end: float, own_layer: str,
              children: list[tuple[str, float, float]]) -> dict[str, float]:
    """Charge every instant of ``[start, end]`` to one layer.

    ``children`` are ``(layer, start, end)`` intervals, clipped to the
    parent; uncovered time goes to ``own_layer``.
    """
    cuts = sorted({start, end, *(min(max(t, start), end)
                                 for _, s, e in children for t in (s, e))})
    out: dict[str, float] = {}
    for lo, hi in zip(cuts, cuts[1:]):
        mid = (lo + hi) / 2
        best, rank = own_layer, 0
        for layer, s, e in children:
            if s <= mid < e and PRIORITY.get(layer, 1) > rank:
                best, rank = layer, PRIORITY.get(layer, 1)
        out[best] = out.get(best, 0.0) + (hi - lo)
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkStats:
    """Read the jobs and stages of one job group from the live status
    store of a SparkContext (works with the UI off)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has applied every event, so the
        status store holds the jobs just run."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def group(self, gid: str) -> dict:
        jobs, stages = [], []
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            jd = self.store.job(jid)
            end = jd.completionTime()
            jobs.append({
                "job": jid,
                "submit": jd.submissionTime().get().getTime() / 1000,
                "end": end.get().getTime() / 1000 if end.isDefined() else None,
            })
            it = jd.stageIds().iterator()
            while it.hasNext():
                st = self.store.lastStageAttempt(it.next())
                sub, comp = st.submissionTime(), st.completionTime()
                if not (sub.isDefined() and comp.isDefined()):
                    continue  # skipped stage: its output was reused
                stages.append({
                    "stage": st.stageId(),
                    "start": sub.get().getTime() / 1000,
                    "end": comp.get().getTime() / 1000,
                    "tasks": st.numTasks(),
                    "failed_tasks": st.numFailedTasks(),
                    "run_s": st.executorRunTime() / 1000,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.diskBytesSpilled(),
                })
        return {"jobs": jobs, "stages": stages}


def phases(df) -> dict[str, tuple[float, float]]:
    """Catalyst phase intervals (epoch seconds) of ``df``'s query
    execution: analysis, optimization, planning."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        ps = kv._2()
        out[kv._1()] = (ps.startTimeMs() / 1000, ps.endTimeMs() / 1000)
    return out


EXEC_COUNTERS = ("tasks", "failed_tasks", "run_s", "cpu_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes")


def exec_totals(stats: dict) -> dict[str, float]:
    tot = {k: 0.0 for k in EXEC_COUNTERS}
    for st in stats["stages"]:
        for k in EXEC_COUNTERS:
            tot[k] += st[k]
    tot["jobs"] = len(stats["jobs"])
    tot["stages"] = len(stats["stages"])
    return tot


def attribute(tracer: Tracer, inv: int, parent: int | None, name: str,
              t0: float, t_build: float, t1: float, rows: int,
              stats: dict, phase_iv: dict[str, tuple[float, float]]) -> dict:
    """Record the spans of one invocation (build ``[t0, t_build]``,
    action ``[t_build, t1]``) and return its layer partition plus
    execution counters."""
    iid = tracer.span(name, "invocation", t0, t1, parent=parent, inv=inv)
    bid = tracer.span("build", "registry", t0, t_build, parent=iid, inv=inv)
    aid = tracer.span("action", "sched", t_build, t1, parent=iid, inv=inv)
    children = []
    for ph, (s, e) in phase_iv.items():
        in_build = e <= t_build + SLACK_S
        ps, pe = (t0, t_build) if in_build else (t_build, t1)
        tracer.span(ph, "catalyst", s, e, parent=bid if in_build else aid, inv=inv)
        if tracer.check_inside(s, e, ps, pe):
            children.append(("catalyst", s, e))
    for st in stats["stages"]:
        tracer.span(f"stage {st['stage']}", "exec", st["start"], st["end"],
                    parent=aid, inv=inv, **{k: st[k] for k in EXEC_COUNTERS})
        if tracer.check_inside(st["start"], st["end"], t_build, t1):
            children.append(("exec", st["start"], st["end"]))
    ends = [j["end"] for j in stats["jobs"] if j["end"] is not None and j["end"] >= t_build]
    fetch_from = max(ends) if ends else t_build
    fetch_from = min(max(fetch_from, t_build), t1)
    tracer.span("fetch", "fetch", fetch_from, t1, parent=aid, inv=inv, rows=rows)
    children.append(("fetch", fetch_from, t1))
    build_part = partition(t0, t_build, "registry",
                           [c for c in children if c[2] <= t_build + SLACK_S])
    action_part = partition(t_build, t1, "sched",
                            [c for c in children if c[2] > t_build + SLACK_S])
    layers = dict(build_part)
    for k, v in action_part.items():
        layers[k] = layers.get(k, 0.0) + v
    if abs(sum(layers.values()) - (t1 - t0)) > SLACK_S:
        tracer.violation()
    phase_s = {ph: e - s for ph, (s, e) in phase_iv.items()}
    return {"wall": t1 - t0, "layers": layers, "phases": phase_s,
            "exec": exec_totals(stats), "fetch_rows": rows}
