"""Read Spark's own execution statistics from the benchmark process.

Nothing here reaches into ``dere_spark``: the numbers come from the live
application status store (stages and tasks of a job group) and from the
SQL status store (the physical plan of the last SQL execution, in its
final adaptive form).
"""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

_NODE = re.compile(
    r"^(?P<indent>[ :]*)(?P<marker>[:+]- )?(?:\* )?(?P<name>[A-Za-z][\w ]*?) \((?P<id>\d+)\)"
)
_REUSE = re.compile(r"^\((\d+)\) ReusedExchange \[Reuses operator id: (\d+)\]")


class JobGroup:
    """What one traced action did: wall time, and the stages, tasks and
    SQL plan Spark recorded for it."""

    def __init__(self, spark, name: str) -> None:
        self.spark = spark
        self.name = name
        self.wall_s = 0.0
        self._exec_before = 0

    # -- stages and tasks ------------------------------------------------
    def _stages(self) -> List:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        out = []
        for job in sc.statusTracker().getJobIdsForGroup(self.name):
            info = sc.statusTracker().getJobInfo(job)
            for stage_id in info.stageIds if info else []:
                attempts = store.stageData(
                    stage_id, False, sc._jvm.java.util.ArrayList(), False, empty
                )
                for i in range(attempts.size()):
                    out.append(attempts.apply(i))
        return out

    def stage_totals(self) -> Dict[str, int]:
        totals = {"shuffle_write_bytes": 0, "spill_bytes": 0}
        for sd in self._stages():
            totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            totals["spill_bytes"] += sd.diskBytesSpilled()
        return totals

    def task_cpu_s(self) -> float:
        """CPU seconds the group's tasks spent on executor threads."""
        return sum(sd.executorCpuTime() for sd in self._stages()) / 1e9

    def task_skew(self) -> float:
        """max / median task duration in the stage that ran longest (the
        one that blocks the result)."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        stages = [sd for sd in self._stages() if sd.numCompleteTasks() > 0]
        if not stages:
            return 0.0
        top = max(stages, key=lambda sd: sd.executorRunTime())
        tasks = store.taskList(top.stageId(), top.attemptId(), 1 << 20)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(d.get())
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0

    # -- SQL plan ---------------------------------------------------------
    def final_plan(self) -> str:
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        if execs.size() <= self._exec_before:
            return ""
        return execs.apply(execs.size() - 1).physicalPlanDescription()


@contextmanager
def traced(spark, name: str):
    """Run the body as job group ``name``; yields the JobGroup, whose
    ``wall_s`` is set when the body returns."""
    sc = spark.sparkContext
    group = JobGroup(spark, name)
    group._exec_before = (
        spark._jsparkSession.sharedState().statusStore().executionsList().size()
    )
    sc.setJobGroup(name, name, False)
    t0 = time.perf_counter()
    try:
        yield group
        group.wall_s = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class PlanTree:
    """The ``== Final Plan ==`` tree of a formatted physical plan."""

    def __init__(self, description: str) -> None:
        lines = description.splitlines()
        try:
            start = next(i for i, l in enumerate(lines) if "== Final Plan ==" in l) + 1
        except StopIteration:  # no adaptive wrapper: the whole tree is final
            start = next((i for i, l in enumerate(lines) if "== Physical Plan ==" in l), -1) + 1
        self.nodes: Dict[int, Dict] = {}
        stack: List = []
        for line in lines[start:]:
            if not line.strip() or "== Initial Plan ==" in line:
                break
            m = _NODE.match(line)
            if not m:
                continue
            # a child's branch marker sits in its parent's name column
            depth = m.end("indent") + (3 if m.group("marker") else 0)
            node = {"name": m.group("name").strip(), "children": []}
            nid = int(m.group("id"))
            while stack and stack[-1][0] >= depth:
                stack.pop()
            if stack:
                self.nodes[stack[-1][1]]["children"].append(nid)
            stack.append((depth, nid))
            self.nodes.setdefault(nid, node)
            self.nodes[nid]["name"] = node["name"]
        self.reuses = {
            int(m.group(1)): int(m.group(2))
            for m in (_REUSE.match(l) for l in lines)
            if m
        }

    def count(self, pred) -> int:
        return sum(1 for n in self.nodes.values() if pred(n["name"]))

    def exchanges(self) -> int:
        """Exchanges the plan executes (shuffles and broadcasts, not reuses)."""
        return self.count(lambda n: n in ("Exchange", "BroadcastExchange"))

    def _scans_under(self, nid: int, seen=()) -> int:
        if nid in seen:
            return 0
        node = self.nodes.get(nid)
        if node is None:
            return 0
        if node["name"].startswith("Scan parquet"):
            return 1
        if node["name"] == "ReusedExchange" and nid in self.reuses:
            return self._scans_under(self.reuses[nid], seen + (nid,))
        return sum(self._scans_under(c, seen + (nid,)) for c in node["children"])

    def source_reads(self) -> int:
        """Times the plan consumes a parquet file scan: each scan leaf, plus
        each reused exchange whose original reads a scan (the data is read
        from storage once but fed into the plan again)."""
        roots = set(self.nodes) - {c for n in self.nodes.values() for c in n["children"]}
        return sum(self._scans_under(r) for r in roots)


def jvm_cpu_s(spark) -> float:
    """User plus system CPU seconds the Spark JVM has used since it started
    (all its threads: tasks, query planning, JIT compiler, GC). Time the
    hypervisor steals from the VM is not in it."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # the fields after the command name start at field 3; utime and stime
    # are fields 14 and 15
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> Optional[float]:
    """Peak resident set (VmHWM) of the Spark JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def cached_bytes(spark) -> int:
    """Memory plus disk bytes of every persisted RDD/Dataset."""
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total
