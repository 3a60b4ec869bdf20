"""Per-layer counters read from outside the program: Spark's status store
(one job group per benchmark operation) and static plan shapes via
``builder_spark.plans.inspect``."""

from __future__ import annotations

import re

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "tasks_failed": "numFailedTasks",
    "task_busy_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}

#: Node-detail headers of EXPLAIN FORMATTED, e.g. ``(7) Exchange``.
PLAN_NODES = {
    "exchanges": r"Exchange",
    "broadcasts": r"BroadcastExchange",
    "sorts": r"Sort",
    # the Arrow/pandas Python-worker boundary (operators.arrowkern)
    "python_evals": r"(?:ArrowEvalPython|BatchEvalPython|\w*MapInArrow|\w*MapInPandas"
    r"|FlatMap\w*In(?:Pandas|Arrow)|AggregateInPandas|WindowInPandas)",
}


def plan_counts(plan: str) -> dict[str, int]:
    """Exact node counts in one formatted physical plan."""
    return {
        k: len(re.findall(rf"^\(\d+\) {pat}\b", plan, flags=re.MULTILINE))
        for k, pat in PLAN_NODES.items()
    }


class StatusReader:
    """Sums stage metrics over the Spark jobs of one job group."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        self._gateway = sc._gateway

    def drain(self) -> None:
        """Block until the listener bus has applied every finished event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict[str, int]:
        out = dict.fromkeys(["jobs", *STAGE_FIELDS], 0)
        stage_ids: set[int] = set()
        for jid in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                out["jobs"] += 1
                stage_ids.update(info.stageIds)
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        for sid in stage_ids:
            seq = self._store.stageData(sid, False, self._jvm.java.util.ArrayList(),
                                        False, no_quantiles)
            for i in range(seq.length()):
                sd = seq.apply(i)
                for k, getter in STAGE_FIELDS.items():
                    out[k] += int(getattr(sd, getter)())
        return out
