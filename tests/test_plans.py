"""Physical-plan contracts: pushdown and shuffle discipline —
the properties that make the operators survive a 100x scale-up."""

import re

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.filter(F.col("user_id") == 7).select("user_id", "value")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.select("user_id", "value")
    plan = _plan(q)
    assert "ReadSchema: struct<user_id:bigint,value:double>" in plan


def test_extraction_prunes_unused_columns(spark, sf_dir):
    """The tokens extraction must not drag props/event_id into the scan."""
    from tsfresh_spark.extract import extract_features_tokens
    from tsfresh_spark.sources.tables import events_tokens
    from tsfresh_spark.settings import minimal_settings

    toks = events_tokens(spark, sf_dir)
    out = extract_features_tokens(toks, minimal_settings())
    plan = _plan(out)
    assert "props" not in plan  # the json blob column never leaves the scan


def test_grouped_extraction_single_shuffle(spark, sf_dir):
    from tsfresh_spark.extract import extract_features_long
    from tsfresh_spark.settings import minimal_settings

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("id"),
        F.col("event_type").alias("kind"),
        F.col("ts").alias("time"),
        F.col("value"),
    )
    out = extract_features_long(ev, minimal_settings())
    plan = _plan(out)
    assert plan.count("Exchange") == 1  # exactly the groupBy co-location


def _drain_listeners(spark) -> None:
    """Wait until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _store_stage_list(spark):
    store = spark.sparkContext._jsc.sc().statusStore()
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    stages = store.stageList(spark._jvm.java.util.ArrayList(), *defaults)
    return [stages.apply(i) for i in range(stages.size())]


def _store_stage_ids(spark) -> set:
    """Every stage id the status store holds (a full snapshot)."""
    return {int(s.stageId()) for s in _store_stage_list(spark)}


def _store_stages_since(spark, before: set) -> dict:
    """Status-store diff: stage id → (tasks, run ms, cpu ms, shuffle read,
    shuffle write) of every stored stage whose id is not in ``before``."""
    out = {}
    for s in _store_stage_list(spark):
        if int(s.stageId()) not in before:
            out[int(s.stageId())] = (
                int(s.numTasks()),
                int(s.executorRunTime()),
                int(s.executorCpuTime()) // 1_000_000,
                int(s.shuffleReadBytes()),
                int(s.shuffleWriteBytes()),
            )
    return out


def _ids(prof) -> set:
    return {m.stage_id for m in prof.stages}


def _group_sum(spark, n: int) -> None:
    spark.range(n).groupBy((F.col("id") % 13).alias("k")).agg(F.sum("id")).collect()


def test_stage_profiler_captures_section_stages(spark):
    from tsfresh_spark.plans.profiling import StageProfiler

    # outside-the-block job must not be attributed to the section
    spark.range(10000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    _drain_listeners(spark)
    before = _store_stage_ids(spark)
    with StageProfiler(spark) as prof:
        _group_sum(spark, 200000)
        _drain_listeners(spark)
    s = prof.summary()
    assert s["num_stages"] >= 2  # map + reduce side of the groupBy
    assert s["executor_run_time_ms"] >= 0
    assert s["shuffle_write_bytes"] > 0
    assert s["shuffle_read_bytes"] > 0
    assert all(m.stage_id >= 0 for m in prof.stages)
    # the tag-scoped stages are exactly what a status-store diff sees
    diff = _store_stages_since(spark, before)
    assert _ids(prof) == set(diff)
    tasks, run_ms, cpu_ms, shuffle_r, shuffle_w = (sum(c) for c in zip(*diff.values()))
    assert s["num_tasks"] == tasks
    assert s["executor_run_time_ms"] == run_ms
    assert s["executor_cpu_time_ms"] == cpu_ms
    assert s["shuffle_read_bytes"] == shuffle_r
    assert s["shuffle_write_bytes"] == shuffle_w
    # a second profiled section sees only its own stages
    with StageProfiler(spark) as prof2:
        spark.range(100).count()
    assert _ids(prof2).isdisjoint(_ids(prof))


def test_stage_profiler_ignores_other_threads(spark):
    """Job tags are thread-local: a job another thread runs during the
    block is not the block's, though a status-store diff would count it."""
    import threading

    from tsfresh_spark.plans.profiling import StageProfiler

    other = []

    def run_elsewhere():
        with StageProfiler(spark) as p:
            _group_sum(spark, 5000)
        other.append(p)

    _drain_listeners(spark)
    before = _store_stage_ids(spark)
    with StageProfiler(spark) as prof:
        _group_sum(spark, 1000)
        worker = threading.Thread(target=run_elsewhere)
        worker.start()
        worker.join()
        _drain_listeners(spark)
    diff = _store_stage_ids(spark) - before
    (other_prof,) = other
    assert _ids(other_prof) and _ids(prof)
    assert _ids(other_prof) <= diff
    assert _ids(prof).isdisjoint(_ids(other_prof))
    assert _ids(prof) == diff - _ids(other_prof)


def test_nested_stage_profilers(spark):
    from tsfresh_spark.plans.profiling import StageProfiler

    with StageProfiler(spark) as outer:
        _group_sum(spark, 1000)
        with StageProfiler(spark) as inner:
            _group_sum(spark, 2000)
    assert _ids(inner)
    assert _ids(outer) > _ids(inner)
    tags = spark.sparkContext.getJobTags()
    assert outer.tag not in tags and inner.tag not in tags


def test_stage_profiler_removes_tag_when_block_raises(spark):
    from tsfresh_spark.plans.profiling import StageProfiler

    prof = StageProfiler(spark)
    with pytest.raises(ZeroDivisionError):
        with prof:
            assert prof.tag in spark.sparkContext.getJobTags()
            spark.range(100).count()
            1 / 0
    assert prof.tag not in spark.sparkContext.getJobTags()
    assert prof.stages  # the stages run before the error are still reported


def test_stage_profiler_skips_evicted_stages(spark):
    """Past ``spark.ui.retainedStages`` the status store evicts stages,
    SKIPPED ones first, so a tagged job can name a stage the store no
    longer holds: the profile leaves it out, as a store snapshot would."""
    from tsfresh_spark.plans.profiling import StageProfiler

    jvm = spark._jvm
    kv = spark.sparkContext._jsc.sc().statusStore().store()
    wrapper = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
    before = _store_stage_ids(spark)
    with StageProfiler(spark) as prof:
        _group_sum(spark, 1000)  # AQE: its final job lists a SKIPPED stage
        _drain_listeners(spark)
        skipped = [
            s
            for s in _store_stage_list(spark)
            if int(s.stageId()) not in before and str(s.status().toString()) == "SKIPPED"
        ]
        assert skipped
        for s in skipped:  # evict them, as the store's retention would
            key = spark.sparkContext._gateway.new_array(jvm.int, 2)
            key[0], key[1] = s.stageId(), s.attemptId()
            kv.delete(wrapper, key)
    evicted = {int(s.stageId()) for s in skipped}
    assert _ids(prof) and _ids(prof).isdisjoint(evicted)
    assert _ids(prof) == _store_stage_ids(spark) - before


def test_stage_profiler_cost_is_bounded_by_block(spark, monkeypatch):
    """However many jobs the session has run, exiting a profiled block
    looks up exactly the block's stages."""
    from tsfresh_spark.plans import profiling

    for _ in range(300):
        spark.range(1).collect()
    looked_up = []
    stage_metrics = profiling._stage_metrics

    def counting(store, stage_id):
        looked_up.append(stage_id)
        return stage_metrics(store, stage_id)

    monkeypatch.setattr(profiling, "_stage_metrics", counting)
    _drain_listeners(spark)
    before = _store_stage_ids(spark)
    with profiling.StageProfiler(spark) as prof:
        _group_sum(spark, 1000)
        _drain_listeners(spark)
    stored = _store_stage_ids(spark)
    block = stored - before
    assert _ids(prof) == block
    assert len(looked_up) == len(set(looked_up))
    # every lookup is one of the block's stages: stored ones are in the
    # diff; a long session's store may already have evicted SKIPPED ones
    assert set(looked_up) >= block
    assert not (set(looked_up) - block) & stored


def test_grouped_extraction_pins_partition_count(spark):
    """extract_features_long must carry a user-specified repartition on the
    group keys (REPARTITION_BY_NUM) so AQE cannot byte-coalesce the
    compute-bound kernel stage down to 1-2 partitions (the regression that
    ran the kernels on 2 cores).  The count is max(shuffle partitions,
    defaultParallelism): one wave of tasks, one per core."""
    import pandas as pd

    from tsfresh_spark.extract import extract_features_long

    pdf = pd.DataFrame(
        {
            "id": [1, 1, 2, 2],
            "kind": ["a"] * 4,
            "time": [0, 1, 0, 1],
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    out = extract_features_long(spark.createDataFrame(pdf), {"mean": None})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan[:600]
    want = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    # the pinned partition count survives planning
    assert f", {want}), REPARTITION_BY_NUM" in plan, plan[:600]


def _long_map_tasks(spark, kind) -> tuple[int, list, str]:
    """One-wave count n, the task counts of the completed stages that run
    the long path's ``MapInArrow``, and its executed plan, for a frame of
    4n series whose kind column is ``kind``."""
    from tsfresh_spark.extract import extract_features_long
    from tsfresh_spark.plans.profiling import StageProfiler

    n = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    df = spark.range(0, 64 * n).select(
        (F.col("id") % (4 * n)).alias("id"),
        kind.alias("kind"),
        F.col("id").alias("time"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    out = extract_features_long(df, {"mean": None})
    with StageProfiler(spark) as prof:
        out.collect()
    store = spark.sparkContext._jsc.sc().statusStore()
    graph = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    maps = [
        m.num_tasks
        for m in prof.stages
        if m.status == "COMPLETE"
        and 'label="MapInArrow"' in graph.makeDotFile(store.operationGraphForStage(m.stage_id))
    ]
    return n, maps, _plan(out)


def test_long_map_runs_in_one_wave(spark):
    """The long path's ``MapInArrow`` runs in exactly one completed stage,
    on max(shuffle partitions, defaultParallelism) tasks: one wave, one
    task per core, so each Python task's fixed cost is paid once per core."""
    n, maps, plan = _long_map_tasks(spark, (F.col("id") % 2).cast("string"))
    assert maps == [n], maps
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange ") == 1, plan
    assert re.search(r"Exchange hashpartitioning\(id#\d+L?, kind#\d+, \d+\)", final), plan


def test_literal_kind_long_map_runs_in_one_wave(spark):
    """A literal kind column gets the same plan shape: one exchange, pinned
    on the id alone, below the map, which runs on the one-wave count of
    tasks.  Pinned on (id, kind), Catalyst folds the literal into the
    aggregate's keys, adds a second exchange and AQE coalesces it to one
    task."""
    n, maps, plan = _long_map_tasks(spark, F.lit("a"))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange ") == 1, plan
    assert re.search(r"Exchange hashpartitioning\(id#\d+L?, \d+\)", final), plan
    assert maps == [n], maps
