"""Measurement plumbing: spans, process-tree CPU/RSS, and the Spark event
log reduced to per-layer numbers.

Spans are recorded only from the benchmark's own code, around its calls
into each library module; nothing inside the library is instrumented.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Spans:
    """In-memory span recorder; ``enabled=False`` makes every span free."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "span_id": len(self.records),
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.records.append(rec)
        self._stack.append(rec["span_id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, under: str | None = None) -> list[float]:
        """Durations of the spans called ``name``, optionally only those
        with an ancestor called ``under``."""
        def inside(r):
            while r["parent"] is not None:
                r = self.records[r["parent"]]
                if r["name"] == under:
                    return True
            return False

        return [
            r["end"] - r["start"] for r in self.records
            if r["name"] == name and r["end"] is not None and (under is None or inside(r))
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r) + "\n")


# --- process tree -----------------------------------------------------------


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the JVM and its Python workers)."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            children[int(_stat(int(name))[1])].append(int(name))
        except (OSError, ValueError, IndexError):
            continue
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


#: JVM threads whose CPU is left out of ``tree_cpu_s`` (``comm`` prefixes;
#: the kernel cuts names at 15 characters). JIT compilation decays over a
#: run at a pace that differs from run to run. With get_spark's default
#: heap, G1 starts small and grows it, and whether its concurrent cycles
#: run during the timed phase flips from run to run: ~3 CPU-s per
#: meds_etl pass in some runs, ~0.3 in others. Neither is work the program
#: does for its input; GC pause time stays visible per layer in exec.gc_s.
_EXCLUDED_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ")


def _comm(path: str) -> str:
    with open(f"{path}/comm") as f:
        return f.read().strip()


def tree_cpu_s(root: int) -> float:
    """user+sys CPU seconds of the descendants of ``root``, including
    children they have already reaped, minus the JIT compiler and garbage
    collector threads."""
    total = 0
    for pid in descendants(root):
        try:
            f = _stat(pid)
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in f[11:15])
            for tid in os.listdir(f"/proc/{pid}/task"):
                task = f"/proc/{pid}/task/{tid}"
                if _comm(task).startswith(_EXCLUDED_THREADS):
                    with open(f"{task}/stat") as fh:
                        raw = fh.read()
                    total -= sum(int(x) for x in raw[raw.rindex(")") + 2 :].split()[11:13])
        except OSError:
            continue
    return total / _CLK_TCK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    VM's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the descendants' peak resident set sizes (VmHWM)."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# --- Spark event log ----------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _plan_python_accums(node: dict, out: dict) -> None:
    """Accumulator ids of Python-node SQL metrics, keyed by metric name.

    A plan node is a Python node when it carries the "data sent to Python
    workers" metric (MapInArrow, ArrowEvalPython, FlatMapGroupsInPandas...).
    """
    metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if _PY_SENT in metrics:
        for name, acc in metrics.items():
            out.setdefault(name, set()).add(acc)
    for child in node.get("children", []):
        _plan_python_accums(child, out)


def read_event_log(evdir: str) -> list[dict]:
    files = []
    for dirpath, _, names in os.walk(evdir):
        files += [os.path.join(dirpath, n) for n in names if not n.startswith(".")]
    events = []
    for path in sorted(files):
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


class EventLog:
    """Jobs, stages and tasks of one application, grouped by job group."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str] = {}
        self.stage_submit: dict[int, float] = {}
        self.tasks: list[dict] = []
        py_accums: dict[str, set] = {}
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                self.jobs[ev["Job ID"]] = {"group": group, "t0": ev["Submission Time"] / 1e3}
                for sid in ev.get("Stage IDs", []):
                    self.stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sub = info.get("Submission Time")
                if sub is not None:
                    self.stage_submit[info["Stage ID"]] = sub / 1e3
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(ev)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                plan = ev.get("sparkPlanInfo")
                if plan:
                    _plan_python_accums(plan, py_accums)
        self.py_sent = py_accums.get(_PY_SENT, set())
        self.py_recv = py_accums.get(_PY_RECV, set())
        self.py_rows = py_accums.get("number of output rows", set())

    def layer(self, match) -> dict:
        """Per-layer totals over the job groups for which ``match(group)``
        holds."""
        jobs = [j for j in self.jobs.values() if match(j["group"])]
        stages = {s for s, g in self.stage_group.items() if match(g)}
        out = defaultdict(float)
        out["jobs"] = len(jobs)
        out["tasks"] = 0
        first_launch: dict[int, float] = {}
        for ev in self.tasks:
            sid = ev["Stage ID"]
            if sid not in stages:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            out["tasks"] += 1
            launch = info["Launch Time"] / 1e3
            first_launch[sid] = min(first_launch.get(sid, launch), launch)
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                out["failed_tasks"] += 1
            out["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
            out["peak_execution_memory_mb"] = max(
                out["peak_execution_memory_mb"], m.get("Peak Execution Memory", 0) / 2**20
            )
            out["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rd = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            is_py = False
            for acc in info.get("Accumulables", []):
                aid, upd = acc.get("ID"), acc.get("Update")
                if upd is None:
                    continue
                if aid in self.py_sent:
                    out["py_bytes_to_workers"] += int(upd)
                    is_py = True
                elif aid in self.py_recv:
                    out["py_bytes_from_workers"] += int(upd)
                    is_py = True
                elif aid in self.py_rows:
                    out["py_rows_out"] += int(upd)
            if is_py:
                out["py_stage_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["stages"] = len(first_launch)
        out["scheduler_delay_s"] = sum(
            first_launch[s] - self.stage_submit[s] for s in first_launch if s in self.stage_submit
        )
        # wall time during which at least one of the group's jobs ran
        busy = sorted((j["t0"], j.get("t1", j["t0"])) for j in jobs)
        covered, end = 0.0, None
        for t0, t1 in busy:
            if end is None or t0 > end:
                covered += t1 - t0
                end = t1
            elif t1 > end:
                covered += t1 - end
                end = t1
        out["job_busy_s"] = covered
        return dict(out)
