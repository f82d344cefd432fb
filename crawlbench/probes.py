"""Readers for what the OS and Spark already record.

Nothing here changes what the program does: CPU and memory come from
``/proc`` for the Spark JVM and its Python worker tree, steal time from
``/proc/stat``, and job/stage/SQL-execution metrics from Spark's own
status stores, which fill whether or not the web UI is enabled.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Tuple

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------
# /proc
# --------------------------------------------------------------------

def _stat(pid: int) -> Optional[List[str]]:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root_pid: int) -> List[int]:
    """``root_pid`` and every live descendant."""
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """utime+stime of the process tree, plus the reaped-children times
    each live process carries, so a worker that exits inside a window
    still counts."""
    ticks = 0
    for pid in process_tree(root_pid):
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / CLK_TCK


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def python_pids(root_pid: int) -> List[int]:
    """This driver process plus the Python workers under the JVM."""
    pids = [os.getpid()]
    for pid in process_tree(root_pid)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    pids.append(pid)
        except OSError:
            continue
    return pids


def host_cpu_ticks() -> Tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat(os.getpid())[19])  # starttime, stat field 22
    return uptime - start_ticks / CLK_TCK


# --------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------

@dataclass
class StageTotals:
    """Sums over a set of stages (each stage counted once)."""

    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, st) -> None:
        self.stages += 1
        self.tasks += st.numCompleteTasks()
        self.run_ms += st.executorRunTime()
        self.cpu_ns += st.executorCpuTime()
        self.gc_ms += st.jvmGcTime()
        self.input_bytes += st.inputBytes()
        self.input_records += st.inputRecords()
        self.output_bytes += st.outputBytes()
        self.shuffle_read_bytes += st.shuffleReadBytes()
        self.shuffle_write_bytes += st.shuffleWriteBytes()
        self.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()


@dataclass
class JobWindow:
    """The Spark jobs and SQL executions started between two marks."""

    job_ids: List[int]
    stage_owner: Dict[int, int]  # stage id -> the job that ran it
    exec_plans: Dict[int, str] = field(default_factory=dict)  # job -> plan


def _split_ints(text: str) -> List[int]:
    return [int(v) for v in text.split(",") if v]


class SparkLedger:
    """Marks and reads Spark's application and SQL status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> Tuple[int, int]:
        """(highest job id so far, SQL executions so far)."""
        jobs = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(jobs, default=-1), int(self.sql.executionsCount())

    def window(self, start: Tuple[int, int], end: Tuple[int, int]) -> JobWindow:
        job_ids = list(range(start[0] + 1, end[0] + 1))
        stage_owner: Dict[int, int] = {}
        for jid in job_ids:
            # a stage listed by several jobs was run by the first of
            # them; later jobs skip it
            for sid in _split_ints(self.app.job(jid).stageIds().mkString(",")):
                stage_owner.setdefault(sid, jid)
        exec_plans: Dict[int, str] = {}
        for eid in range(start[1], end[1]):
            opt = self.sql.execution(eid)
            if opt.isEmpty():
                continue
            ex = opt.get()
            plan = ex.physicalPlanDescription()
            for jid in _split_ints(ex.jobs().keys().mkString(",")):
                exec_plans[jid] = plan
        return JobWindow(job_ids, stage_owner, exec_plans)

    def stage(self, stage_id: int):
        return self.app.lastStageAttempt(stage_id)

    def completed_run_ms(self, t0: float, t1: float) -> int:
        """Executor run time of every stage attempt the status store
        lists as complete, submitted at or after ``t0`` and completed
        by ``t1`` (epoch seconds). It reads the store's stage list, not
        the jobs of a window, so it checks ``window`` independently."""
        jvm = self.sc._jvm
        complete = jvm.java.util.ArrayList()
        complete.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        stages = self.app.stageList(
            complete,
            getattr(self.app, "stageList$default$2")(),
            getattr(self.app, "stageList$default$3")(),
            getattr(self.app, "stageList$default$4")(),
            getattr(self.app, "stageList$default$5")(),
        )
        lo, hi = int(t0 * 1000), int(t1 * 1000)
        total = 0
        it = stages.iterator()
        while it.hasNext():
            st = it.next()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            if sub.get().getTime() >= lo and done.get().getTime() <= hi:
                total += st.executorRunTime()
        return total

    def totals(self, stage_ids: Iterable[int]) -> StageTotals:
        out = StageTotals()
        for sid in stage_ids:
            out.add(self.stage(sid))
        return out


_WRITE_ARGS = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand.*?\nArguments: (?:file:)?([^,\s]+)",
    re.S,
)


def write_target(plan: str, root: str) -> Optional[str]:
    """The store table a SQL execution writes, from the output path in
    its formatted physical plan: the first path component under
    ``root``, or None when it writes nothing there."""
    root = root.rstrip("/") + "/"
    for m in _WRITE_ARGS.finditer(plan):
        path = m.group(1)
        if path.startswith(root):
            return path[len(root):].split("/", 1)[0]
    return None


def attribute_run_ms(
    ledger: SparkLedger, win: JobWindow, root: str, tables: Iterable[str]
) -> Tuple[Dict[str, int], int, int]:
    """Executor run time of the window split by the store table each
    SQL execution writes under ``root``. Returns (per-table ms,
    unattributed ms, total ms); every stage lands in exactly one
    bucket."""
    per_table = {name: 0 for name in tables}
    unattributed = 0
    total = 0
    for sid, jid in win.stage_owner.items():
        ms = ledger.stage(sid).executorRunTime()
        total += ms
        target = write_target(win.exec_plans.get(jid, ""), root)
        if target in per_table:
            per_table[target] += ms
        else:
            unattributed += ms
    return per_table, unattributed, total
