"""Per-call Spark engine counters, read from Spark's own status store.

Every timed call runs under its own job group.  Afterwards ``read_group``
waits for the listener bus to drain, takes the group's jobs, stages and
task counts from ``statusTracker()`` and the byte, spill, GC and run-time
totals from ``AppStatusStore.stageList``.  (The executor summary's
``totalDuration`` is not used: in local mode it reads as wall-clock time,
not task time.)
"""

from __future__ import annotations

from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_ms",
    "run_ms",
)


def summarize(jobs: dict[int, list[int]], stages: dict[int, tuple[int, int]], stage_data: list[dict]) -> dict:
    """Counters for one job group from plain values.

    ``jobs`` maps job id → its stage ids; ``stages`` maps stage id →
    (completed tasks, failed tasks) of its latest attempt; ``stage_data``
    holds one dict per stage attempt with the status store's fields.  A
    stage that no task ran for (skipped: its shuffle output was reused) is
    not counted; every attempt of a stage that ran adds its bytes and times.
    """
    ran = {
        sid
        for sids in jobs.values()
        for sid in sids
        if sid in stages and sum(stages[sid]) > 0
    }
    out = dict.fromkeys(COUNTERS, 0)
    out["jobs"] = len(jobs)
    out["stages"] = len(ran)
    out["tasks"] = sum(stages[s][0] for s in ran)
    out["failed_tasks"] = sum(stages[s][1] for s in ran)
    for sd in stage_data:
        if sd["stage_id"] not in ran:
            continue
        out["shuffle_read_bytes"] += sd["shuffle_read_bytes"]
        out["shuffle_write_bytes"] += sd["shuffle_write_bytes"]
        out["spill_bytes"] += sd["memory_spilled"] + sd["disk_spilled"]
        out["gc_ms"] += sd["gc_ms"]
        out["run_ms"] += sd["run_ms"]
    return out


class SparkCounters:
    """Names a job group per call and reads its counters back."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._seq = 0

    @contextmanager
    def group(self, name: str):
        """Run the body under a fresh job group; yields the group id."""
        self._seq += 1
        gid = f"linkbench-{self._seq}-{name}"
        self._sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self._sc.setJobGroup(f"linkbench-idle-{self._seq}", "between calls")

    def read_group(self, gid: str) -> dict:
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs: dict[int, list[int]] = {}
        stages: dict[int, tuple[int, int]] = {}
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs[jid] = [int(s) for s in info.stageIds]
            for sid in jobs[jid]:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    stages[sid] = (si.numCompletedTasks, si.numFailedTasks)
        wanted = {s for sids in jobs.values() for s in sids}
        gw = sc._gateway
        data = []
        it = jsc.statusStore().stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None).iterator()
        while it.hasNext():
            sd = it.next()
            if sd.stageId() not in wanted:
                continue
            data.append(
                {
                    "stage_id": sd.stageId(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "memory_spilled": sd.memoryBytesSpilled(),
                    "disk_spilled": sd.diskBytesSpilled(),
                    "gc_ms": sd.jvmGcTime(),
                    "run_ms": sd.executorRunTime(),
                }
            )
        return summarize(jobs, stages, data)
