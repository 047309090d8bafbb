"""Stage metrics of the jobs of one job group, read from the application
status store through py4j (works with the UI disabled)."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "inputRecords",
    "numTasks",
)


def group_stages(sc, group: str) -> dict[int, dict]:
    """stage id -> {field: value, 'status': ...} for every stage of every
    job in ``group``.  A stage skipped because an earlier job of the group
    already ran it appears once, with the metrics of the run."""
    jsc = sc._jsc.sc()
    # the status store is fed by the listener bus; drain it first
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out: dict[int, dict] = {}
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in out:
                continue
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            row = {f: getattr(sd, f)() for f in FIELDS}
            row["status"] = sd.status().toString()
            row["job"] = jid
            out[sid] = row
    return out


def job_count(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def held_storage_mb(sc) -> float:
    """Memory + disk held by cached / checkpointed RDD blocks right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
