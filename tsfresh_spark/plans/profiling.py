"""Stage-level job profiling from Spark's application status store.

The reference ships a function-level profiler for its python workers
(utilities/profiling.py:1-60 — cProfile start/end around extraction); on
Spark the equivalent observability unit is the *stage*: executor CPU time,
shuffle bytes, spill, and input/output volume tell you whether a pipeline
is compute-bound, shuffle-bound, or spilling — exactly the signals the
100-TB tuning loop needs (partition sizing, salting decisions, AQE
verification).

:class:`StageProfiler` scopes a code section with a unique SparkContext job
tag.  On exit it asks the status tracker for that tag's jobs and reads only
their stages (including SKIPPED ones) from the status store, so a profile
costs O(stages of the section), not O(stages the session has retained).
A stage the store has already evicted is left out, as a snapshot of the
store would leave it out.
Job tags are thread-local, so jobs other threads run meanwhile are not
counted; profilers nest (an outer section's stages include the inner
one's).  It reads the same data the Spark UI renders, so it works with
``spark.ui.enabled=false`` and on any cluster without extra listeners.
"""

from __future__ import annotations

import uuid
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


@dataclass
class StageMetrics:
    stage_id: int
    name: str
    status: str
    num_tasks: int
    executor_run_time_ms: int
    executor_cpu_time_ms: int
    input_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    memory_spilled_bytes: int
    disk_spilled_bytes: int

    def as_dict(self) -> dict:
        return asdict(self)


def _stage_metrics(store, stage_id: int) -> StageMetrics | None:
    """The latest attempt of one stage, as the status store holds it, or
    None once the store has evicted it (``spark.ui.retainedStages``; SKIPPED
    stages go first)."""
    try:
        s = store.lastStageAttempt(stage_id)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
            raise
        return None
    return StageMetrics(
        stage_id=int(s.stageId()),
        name=str(s.name()),
        status=str(s.status().toString()),
        num_tasks=int(s.numTasks()),
        executor_run_time_ms=int(s.executorRunTime()),
        executor_cpu_time_ms=int(s.executorCpuTime()) // 1_000_000,
        input_bytes=int(s.inputBytes()),
        output_bytes=int(s.outputBytes()),
        shuffle_read_bytes=int(s.shuffleReadBytes()),
        shuffle_write_bytes=int(s.shuffleWriteBytes()),
        memory_spilled_bytes=int(s.memoryBytesSpilled()),
        disk_spilled_bytes=int(s.diskBytesSpilled()),
    )


class StageProfiler:
    """``with StageProfiler(spark) as prof: <run jobs>`` → ``prof.stages``
    holds the stages of the jobs this thread ran inside the block,
    ``prof.summary()`` the aggregate totals."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.stages: list[StageMetrics] = []
        self.tag = f"tsfresh_spark-profile-{uuid.uuid4().hex}"

    def __enter__(self) -> "StageProfiler":
        self.spark.sparkContext.addJobTag(self.tag)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        sc = self.spark.sparkContext
        try:
            jsc = sc._jsc.sc()
            store = jsc.statusStore()
            # mkString: one py4j call per job, not one per stage id
            stage_ids = {
                int(s)
                for job_id in jsc.statusTracker().getJobIdsForTag(self.tag)
                for s in str(store.job(job_id).stageIds().mkString(",")).split(",")
                if s
            }
            found = (_stage_metrics(store, s) for s in sorted(stage_ids))
            self.stages = [m for m in found if m is not None]
        finally:
            sc.removeJobTag(self.tag)

    def summary(self) -> dict:
        keys = (
            "executor_run_time_ms",
            "executor_cpu_time_ms",
            "input_bytes",
            "output_bytes",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "memory_spilled_bytes",
            "disk_spilled_bytes",
        )
        agg = {k: sum(getattr(m, k) for m in self.stages) for k in keys}
        agg["num_stages"] = len(self.stages)
        agg["num_tasks"] = sum(m.num_tasks for m in self.stages)
        return agg

    def report(self) -> list[dict]:
        return [m.as_dict() for m in self.stages]
