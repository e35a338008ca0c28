"""Measurement helpers: process-tree CPU and memory from ``/proc``, spans
around calls into the program, and per-pass totals from Spark's event log.

Spans are kept in memory and written out once at the end of a run. A span's
self time is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
GROUP_PREFIX = "perfbench"


# --------------------------------------------------------------------------
# /proc: CPU seconds and peak RSS of this process and its descendants
# --------------------------------------------------------------------------


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None


def _thread_cpu_s(pid: int) -> float:
    """CPU seconds of a process's threads. Live threads are read from
    ``schedstat`` (nanoseconds, and with paravirtual steal accounting it
    excludes time the hypervisor took); threads that already exited are
    taken from the tick counts in ``stat``."""
    total_ticks, live_ticks, live_ns = 0, 0, 0
    stat = _read(f"/proc/{pid}/stat")
    if stat is None:
        return 0.0
    f = stat.rsplit(")", 1)[1].split()
    total_ticks = int(f[11]) + int(f[12])
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except (FileNotFoundError, ProcessLookupError):
        return total_ticks / _CLK
    for tid in tids:
        tstat = _read(f"/proc/{pid}/task/{tid}/stat")
        sched = _read(f"/proc/{pid}/task/{tid}/schedstat")
        if tstat is None or sched is None:
            continue
        tf = tstat.rsplit(")", 1)[1].split()
        live_ticks += int(tf[11]) + int(tf[12])
        live_ns += int(sched.split()[0])
    return live_ns / 1e9 + max(0, total_ticks - live_ticks) / _CLK


def process_tree(root: int | None = None) -> list[dict]:
    """Every live process in the tree rooted at ``root`` (default: this
    process), with its role, CPU seconds and VmHWM. CPU includes reaped
    children (cutime/cstime), so work of a worker that exited while the
    tree was sampled is still counted, on its parent."""
    root = os.getpid() if root is None else root
    procs: dict[int, dict] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        stat = _read(f"/proc/{d}/stat")
        if stat is None:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        procs[int(d)] = {
            "pid": int(d),
            "ppid": int(fields[1]),
            "children_s": (int(fields[13]) + int(fields[14])) / _CLK,
        }
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p["ppid"], []).append(p["pid"])
    tree, todo = [], [(root, "driver")]
    while todo:
        pid, parent_role = todo.pop()
        if pid not in procs:
            continue
        cmd = (_read(f"/proc/{pid}/cmdline") or "").replace("\0", " ")
        if pid == root:
            role = "driver"
        elif "pyspark.daemon" in cmd or "pyspark/daemon.py" in cmd or parent_role == "pyworker":
            role = "pyworker"
        elif cmd.split(" ")[0].endswith("java"):
            role = "jvm"
        else:
            role = "other"
        status = _read(f"/proc/{pid}/status") or ""
        hwm = next((int(line.split()[1]) for line in status.splitlines()
                    if line.startswith("VmHWM:")), 0)
        tree.append({**procs[pid], "self_s": _thread_cpu_s(pid), "role": role, "hwm_kb": hwm})
        todo.extend((c, role) for c in children.get(pid, ()))
    return tree


def host_steal_s() -> float:
    """CPU seconds the hypervisor took from this guest since boot, all
    CPUs together (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def cpu_by_role(tree: list[dict]) -> dict[str, float]:
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for p in tree:
        # the driver's reaped children are the JVM launcher scripts, not work
        out[p["role"]] += p["self_s"] + (p["children_s"] if p["role"] != "driver" else 0.0)
    out["total"] = sum(out.values())
    return out


def peak_rss_mb(tree: list[dict]) -> float:
    return sum(p["hwm_kb"] for p in tree) / 1024.0


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. ``wrap`` replaces a module attribute with a
    timing wrapper; ``unwrap_all`` restores every original, so one process
    can run traced and untraced passes."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = True

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Record a span; with ``group``, Spark jobs started inside it run
        under the job group ``<parent group>|<group>``."""
        if not self.enabled:
            yield
            return
        prev_group = None
        if group is not None and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"{prev_group or GROUP_PREFIX}|{group}")
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def wrap(self, module, attr: str, span_name: str, group: str | None = None, label=None):
        """Time every call to ``module.attr``; ``label(args, kwargs)``
        returns an extra attribute recorded on the span."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            extra = {"label": label(args, kwargs)} if label else {}
            with self.span(span_name, group=group, **extra):
                return original(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, original))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span: its duration minus the union of its direct
    children's intervals, clipped to the span."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(i, [])]
        out.append(s["end"] - s["start"] - _union_length([c for c in clipped if c[1] > c[0]]))
    return out


def subtree(spans: list[dict], root: int) -> list[int]:
    """Indices of ``root`` and all spans below it."""
    members = {root}
    for i in range(root + 1, len(spans)):
        if spans[i]["parent"] in members:
            members.add(i)
    return sorted(members)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


def _scope_names(stage_info: dict) -> list[str]:
    names = []
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.append(json.loads(scope).get("name", ""))
            except ValueError:
                pass
    return names


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the (uncompressed) event log in
    ``log_dir``, each tagged with the job group it ran under."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    stages: list[dict] = []
    tasks: list[dict] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {"group": props.get("spark.jobGroup.id") or "",
                                      "start": ev["Submission Time"] / 1000.0, "end": None}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or ""
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages.append({"id": info["Stage ID"],
                               "group": stage_group.get(info["Stage ID"], ""),
                               "scopes": _scope_names(info)})
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                accum = {}
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = a.get("Name")
                    if name in ("time to run Python workers", "data sent to Python workers"):
                        accum[name] = accum.get(name, 0) + int(a.get("Update") or 0)
                tasks.append({
                    "group": stage_group.get(ev["Stage ID"], ""),
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "py_run_s": accum.get("time to run Python workers", 0) / 1e3,
                    "py_sent": accum.get("data sent to Python workers", 0),
                })
    return {"jobs": list(jobs.values()), "stages": stages, "tasks": tasks}


def in_pass(group: str, pass_idx: int) -> bool:
    return group.startswith(f"{GROUP_PREFIX}|{pass_idx}|") or group == f"{GROUP_PREFIX}|{pass_idx}"
