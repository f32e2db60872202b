"""Spans around the benchmark's calls into the engine, plus Spark's own
per-job and per-stage metrics read back from the status store.

Tracing is measured from outside the package: a span wraps each public
call the benchmark makes, and every operation runs under its own Spark job
group ``<workload>.<op>.<n>`` so that jobs and stages map back to it.
Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import resource
import statistics
import time


class Tracer:
    """Records spans ``(name, start, end, parent, op)`` and tags Spark
    jobs per operation.  Disabled, it records nothing and sets no job
    group, so untraced runs pay none of its cost."""

    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str, n: int):
        """One operation: a root span and the Spark job group it runs under."""
        group = f"{self.workload}.{kind}.{n}"
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(group, group)
        try:
            with self.span(kind, op=group):
                yield
        finally:
            self.sc._jsc.clearJobGroup()


# -- Spark status store ------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """All jobs (with job group and stage ids) and per-stage metrics summed
    over attempts, from the status store; works with the UI disabled."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm, gw = sc._jvm, sc._gateway
    store = jsc.statusStore()
    as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    jobs = []
    for j in as_java(store.jobsList(jvm.java.util.ArrayList())):
        group = j.jobGroup()
        stage_ids = str(j.stageIds().mkString(","))
        jobs.append({
            "job": int(j.jobId()),
            "group": group.get() if group.isDefined() else None,
            "stages": [int(s) for s in stage_ids.split(",") if s],
            "start": _opt_ms(j.submissionTime()),
            "end": _opt_ms(j.completionTime()),
            "status": str(j.status().toString()),
        })
    stages: dict[int, dict] = {}
    for s in as_java(store.stageList(
        jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )):
        acc = stages.setdefault(int(s.stageId()), {
            "tasks": 0, "failed_tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
            "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        })
        acc["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
        acc["failed_tasks"] += int(s.numFailedTasks())
        acc["run_ms"] += int(s.executorRunTime())
        acc["cpu_ms"] += int(s.executorCpuTime()) / 1e6
        acc["input_bytes"] += int(s.inputBytes())
        acc["shuffle_read_bytes"] += int(s.shuffleReadBytes())
        acc["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
        acc["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
    return jobs, stages


def _union_len(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def op_profile(span: dict, jobs: list[dict], stages: dict[int, dict], cores: int) -> dict:
    """Spark work done under one operation's job group, and the share of
    the operation's wall time that no Spark job covers (driver work)."""
    mine = [j for j in jobs if j["group"] == span["op"]]
    stage_ids = sorted({s for j in mine for s in j["stages"] if s in stages})
    out = {k: sum(stages[s][k] for s in stage_ids) for k in (
        "tasks", "failed_tasks", "run_ms", "cpu_ms", "input_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    )}
    covered = _union_len(
        (max(j["start"], span["start"]), min(j["end"], span["end"]))
        for j in mine
        if j["start"] is not None and j["end"] is not None
        and min(j["end"], span["end"]) > max(j["start"], span["start"])
    )
    wall = span["end"] - span["start"]
    out["jobs"] = len(mine)
    out["stages"] = len(stage_ids)
    out["wall_ms"] = wall * 1000.0
    out["jobs_covered_ms"] = covered * 1000.0
    out["uncovered_ms"] = max(0.0, wall - covered) * 1000.0
    out["slot_busy_frac"] = out["run_ms"] / (covered * 1000.0 * cores) if covered > 0 else 0.0
    return out


# -- per-layer table ---------------------------------------------------------

def layer_table(spans: list[dict]) -> list[dict]:
    """Per span name: calls, total and self time (duration minus the part
    of it covered by child spans) and the median call."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    by_name: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = _union_len((c["start"], c["end"]) for c in children.get(s["id"], []))
        row = by_name.setdefault(s["name"], {"layer": s["name"], "calls": 0, "durs": [], "self_s": 0.0})
        row["calls"] += 1
        row["durs"].append(dur)
        row["self_s"] += max(0.0, dur - kids)
    rows = []
    for row in by_name.values():
        durs = row.pop("durs")
        row["total_s"] = sum(durs)
        row["p50_ms"] = statistics.median(durs) * 1000.0
        rows.append(row)
    rows.sort(key=lambda r: -r["total_s"])
    return rows


def format_table(rows: list[dict]) -> str:
    lines = [f"{'layer':34s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} {'p50_ms':>10s}"]
    for r in rows:
        lines.append(
            f"{r['layer']:34s} {r['calls']:6d} {r['total_s']:9.3f} "
            f"{r['self_s']:9.3f} {r['p50_ms']:10.1f}"
        )
    return "\n".join(lines)


# -- memory ------------------------------------------------------------------

def jvm_hwm_mb(sc) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MB."""
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def py_hwm_mb() -> float:
    """Peak resident set of this (driver) Python process, in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
