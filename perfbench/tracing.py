"""Observation without changing what is observed.

* ``CountingDriver`` / ``StampDriver``: ``IterationDriver`` subclasses that
  keep every default of the base class (``checkpoint_every=1`` and the
  rest) and only count iterations, or count them and stamp the clock and
  retag the Spark job group when a phase ends. They are handed to the
  operators through their public ``driver=`` argument.
* ``JobTags``: a job group and description per operator call and phase
  (``workload``, ``op``, ``phase=setup|iter|finish``, ``it=k``).
* ``fold_event_log``: sums the TaskEnd metrics of an uncompressed,
  non-rolling Spark event log per job group.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field

from comm_detect_spark.plans.driver import IterationDriver


class CountingDriver(IterationDriver):
    """Counts installed iterations; the untraced runs use it to know how
    many sweeps a convergent operator ran."""

    def __init__(self):
        super().__init__()
        self.iterations = 0

    def install(self, prepared, iteration, **metrics):
        out = super().install(prepared, iteration, **metrics)
        self.iterations += 1
        return out


class StampDriver(CountingDriver):
    """Records when ``start()`` and each ``install()`` return, and moves
    the job group on to the phase that follows."""

    def __init__(self, tags: "JobTags", op: str):
        super().__init__()
        self.tags, self.op = tags, op
        self.started_at: float | None = None
        self.installed_at: list[float] = []

    def start(self, state, iteration=0):
        out = super().start(state, iteration)
        self.started_at = time.perf_counter()
        self.tags.set(self.op, "iter", iteration + 1)
        return out

    def install(self, prepared, iteration, **metrics):
        out = super().install(prepared, iteration, **metrics)
        self.installed_at.append(time.perf_counter())
        self.tags.set(self.op, "iter", iteration + 1)
        return out

    def finish(self, iteration, **metrics):
        self.tags.set(self.op, "finish", iteration)
        return super().finish(iteration, **metrics)


class JobTags:
    """Job group ``workload|op|phase|it`` plus a readable description."""

    def __init__(self, sc, workload: str):
        self.sc, self.workload = sc, workload

    def set(self, op: str, phase: str, it: int = 0) -> None:
        # the group's description is the job description
        self.sc.setJobGroup(
            group_id(self.workload, op, phase, it),
            f"workload={self.workload} op={op} phase={phase} it={it}",
        )

    def clear(self) -> None:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            self.sc.setLocalProperty(key, None)


def group_id(workload: str, op: str, phase: str, it: int) -> str:
    return f"{workload}|{op}|{phase}|{it}"


def parse_group(gid: str) -> tuple[str, str, str, int] | None:
    parts = gid.split("|")
    if len(parts) != 4:
        return None
    return parts[0], parts[1], parts[2], int(parts[3])


@dataclass
class Fold:
    """TaskEnd metrics summed over a set of jobs."""

    jobs: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    gc_ms: int = 0
    cpu_ns: int = 0
    python_bytes_sent: int = 0
    python_bytes_returned: int = 0
    # stage id -> task durations (ms), for the skew ratio
    task_ms: dict[int, list[int]] = field(default_factory=dict)

    def add(self, other: "Fold") -> None:
        for k in (
            "jobs", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "gc_ms", "cpu_ns", "python_bytes_sent",
            "python_bytes_returned",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.peak_exec_mem_bytes = max(
            self.peak_exec_mem_bytes, other.peak_exec_mem_bytes
        )
        for s, d in other.task_ms.items():
            self.task_ms.setdefault(s, []).extend(d)

    def task_skew(self, min_tasks: int = 2) -> float:
        """Max over median task time on the worst stage (stages with at
        least ``min_tasks`` tasks and a nonzero median)."""
        worst = 1.0
        for d in self.task_ms.values():
            if len(d) >= min_tasks:
                med = statistics.median(d)
                if med > 0:
                    worst = max(worst, max(d) / med)
        return worst


_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
COGROUP_KERNEL = "FlatMapCoGroupsInPandas"
_SQL_START = (
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"'
)


def fold_event_log(path: str) -> tuple[dict[str, Fold], dict[str, Fold]]:
    """Returns ({job group: Fold}, {call-site key: Fold}).

    The second map attributes jobs to the Python call site recorded for
    them (``callSite.short`` of the job, else of any job of the same SQL
    execution — AQE's stage jobs carry no call site of their own), keyed
    by the source file name, e.g. ``louvain.py``. Actions that record no
    call site (``count()``) fall under ``COGROUP_KERNEL`` when their plan
    runs a cogrouped pandas kernel, else stay unattributed."""
    job_group: dict[int, str] = {}
    job_exec: dict[int, str] = {}
    job_site: dict[int, str] = {}
    exec_site: dict[str, str] = {}
    kernel_execs: set[str] = set()
    stage_job: dict[int, int] = {}
    per_job: dict[int, Fold] = {}
    with open(path) as f:
        for line in f:
            # the log is mostly SQL plan updates; parse only what is folded
            if line.startswith(_SQL_START):
                if COGROUP_KERNEL in line:
                    kernel_execs.add(str(json.loads(line)["executionId"]))
            elif line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_group[jid] = props.get("spark.jobGroup.id") or ""
                ex = props.get("spark.sql.execution.id")
                site = props.get("callSite.short") or ""
                if ex is not None:
                    job_exec[jid] = ex
                    if site:
                        exec_site.setdefault(ex, site)
                job_site[jid] = site
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                per_job[jid] = Fold(jobs=1)
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                _add_task(per_job[jid], ev)
    groups: dict[str, Fold] = {}
    sites: dict[str, Fold] = {}
    for jid, fold in per_job.items():
        groups.setdefault(job_group[jid], Fold()).add(fold)
        ex = job_exec.get(jid, "")
        site = job_site[jid] or exec_site.get(ex, "")
        # "collect at /path/to/louvain.py:402" -> "louvain.py"
        key = site.rsplit("/", 1)[-1].split(":", 1)[0] if site else (
            COGROUP_KERNEL if ex in kernel_execs else ""
        )
        if key:
            sites.setdefault(key, Fold()).add(fold)
    return groups, sites


def _add_task(fold: Fold, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    fold.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    fold.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    fold.spill_bytes += m.get("Disk Bytes Spilled", 0)
    fold.peak_exec_mem_bytes = max(
        fold.peak_exec_mem_bytes, m.get("Peak Execution Memory", 0)
    )
    fold.gc_ms += m.get("JVM GC Time", 0)
    fold.cpu_ns += m.get("Executor CPU Time", 0)
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == _PY_SENT:
            fold.python_bytes_sent += int(acc.get("Update") or 0)
        elif name == _PY_RETURNED:
            fold.python_bytes_returned += int(acc.get("Update") or 0)
    if "Launch Time" in info and "Finish Time" in info:
        fold.task_ms.setdefault(ev["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"]
        )
