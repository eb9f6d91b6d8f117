"""Per-job-group stage metrics from Spark's status store.

Work is tagged with ``SparkContext.setJobGroup``; afterwards the group's job
ids come from the status tracker and the stage data from
``statusStore().stageList``, the same store the web UI reads (it is kept
with ``spark.ui.enabled=false``). No listener jar is needed.
"""

from __future__ import annotations

from metrics import MB


class StageReader:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jvm = spark.sparkContext._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def tag(self, group: str) -> None:
        """Attribute the jobs this thread starts from now on to ``group``."""
        self._sc.setJobGroup(group, group, False)

    def untag(self) -> None:
        self._sc._jsc.clearJobGroup()

    def stages(self, group: str) -> list:
        """One dict per completed stage of the group's jobs."""
        tracker = self._sc.statusTracker()
        wanted = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                wanted.update(info.stageIds)
        empty = self._jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        seq = self._store.stageList(empty, False, False, no_quantiles, empty)
        out = []
        for i in range(seq.size()):
            st = seq.apply(i)
            if st.stageId() not in wanted or str(st.status()) != "COMPLETE":
                continue
            out.append(
                {
                    "stage_id": st.stageId(),
                    "attempt": st.attemptId(),
                    "tasks": st.numTasks(),
                    "failed_tasks": st.numFailedTasks(),
                    "run_ms": st.executorRunTime(),
                    "wall_s": (
                        st.completionTime().get().getTime()
                        - st.submissionTime().get().getTime()
                    )
                    / 1000.0,
                    "shuffle_write_mb": st.shuffleWriteBytes() / MB,
                    "peak_exec_mb": st.peakExecutionMemory() / MB,
                }
            )
        return out

    def task_skew(self, stage: dict) -> float:
        """Max over median task run time of one stage."""
        q = self._sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self._store.taskSummary(stage["stage_id"], stage["attempt"], q)
        if dist.isEmpty():
            return 0.0
        run = dist.get().executorRunTime()
        median, top = run.apply(0), run.apply(1)
        return top / median if median > 0 else 0.0


def extract_stage(stages: list) -> dict:
    """The stage that runs the extraction UDF: the busiest stage that
    writes the post-UDF alignment shuffle."""
    return max((s for s in stages if s["shuffle_write_mb"] > 0), key=lambda s: s["run_ms"])
