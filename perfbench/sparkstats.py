"""Per-query Spark runtime figures, read from the driver's status store.

``sc._jsc.sc().statusStore()`` is populated with ``spark.ui.enabled=false``.
The benchmark tags each traced query execution with its own job group and
reads that group's jobs and stages after the query, outside its timed window.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

#: stage figures summed per query (times in the store's ms and ns)
STAGE_FIELDS = ("stages", "run_ms", "cpu_ns", "gc_ms", "spill_bytes",
                "shuffle_read", "shuffle_write", "input_bytes", "tasks",
                "failed_tasks")


def _opt_time(opt):
    """Epoch seconds of a ``scala.Option[java.util.Date]``, or ``None``."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def query_jobs(sc, group: str) -> tuple[list[dict], dict[str, int]]:
    """Jobs of ``group``: ``[{"id", "submit", "end"}]`` in epoch seconds,
    ``end`` being ``None`` for a job still running, and the ``STAGE_FIELDS``
    summed over the distinct stages the jobs ran.  Skipped stages ran in an
    earlier job and are not counted again."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    stage_ids: set[int] = set()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        try:
            j = store.job(jid)
        except Py4JJavaError:
            continue
        submit = _opt_time(j.submissionTime())
        end = _opt_time(j.completionTime())
        if submit is not None:
            # the store keeps milliseconds: take the middle of the tick
            jobs.append({"id": jid, "submit": submit + 0.0005,
                         "end": None if end is None else end + 0.0005})
        ids = j.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    totals = dict.fromkeys(STAGE_FIELDS, 0)
    for sid in sorted(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        if s.status().toString() == "SKIPPED":
            continue
        totals["stages"] += 1
        totals["run_ms"] += s.executorRunTime()
        totals["cpu_ns"] += s.executorCpuTime()
        totals["gc_ms"] += s.jvmGcTime()
        totals["spill_bytes"] += s.diskBytesSpilled()
        totals["shuffle_read"] += s.shuffleReadBytes()
        totals["shuffle_write"] += s.shuffleWriteBytes()
        totals["input_bytes"] += s.inputBytes()
        totals["tasks"] += s.numTasks()
        totals["failed_tasks"] += s.numFailedTasks()
    return jobs, totals
