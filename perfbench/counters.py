"""Execution counters read from Spark's own status tracker and store.

Each operation the benchmark times runs under a job group of its own:
``getJobIdsForGroup`` accumulates under a reused name, so a reused
group would count an earlier operation's jobs again. After the
operation, the group's jobs give its stage ids (status tracker), and
the status store gives those stages' task metrics. Both work with the
UI disabled. The store keeps ``spark.ui.retainedStages`` stages, which
the benchmark sizes so none is evicted during a run.
"""

from __future__ import annotations

import itertools

FIELDS = ("jobs", "stages", "tasks", "single_task_stages", "run_ms",
          "input_records", "input_bytes", "output_bytes",
          "shuffle_write_bytes", "spill_bytes")


class Counters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._seq = itertools.count()
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._complete = jvm.java.util.ArrayList()
        self._complete.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._no_tasks = jvm.java.util.ArrayList()

    def start(self, label: str) -> str:
        """Route the jobs started from now on to a fresh group."""
        group = f"perfbench-{next(self._seq)}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def read(self, group: str) -> dict:
        """Totals over the completed stages of the group's jobs."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(FIELDS, 0)
        out["jobs"] = len(jobs)
        if not stage_ids:
            return out
        # The store lists stages newest first: stop below the oldest id.
        lowest = min(stage_ids)
        stages = self._store.stageList(
            self._complete, False, False, self._no_quantiles, self._no_tasks)
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid < lowest:
                break
            if sid not in stage_ids:
                continue
            n_tasks = s.numTasks()
            out["stages"] += 1
            out["tasks"] += n_tasks
            out["single_task_stages"] += n_tasks == 1
            out["run_ms"] += s.executorRunTime()
            out["input_records"] += s.inputRecords()
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for process {pid}")
