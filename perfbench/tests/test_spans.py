from __future__ import annotations

import pytest

from spans import (
    PipelineTracer, SpanTree, event_log_files, fold_event_log, select_groups,
)


def test_self_time_on_hand_built_tree():
    t = SpanTree()
    run = t.open("run", 0.0)
    stage = t.open("block", 1.0, run)
    a = t.open("block.features", 1.0, stage)
    b = t.open("block.block_keys", 3.0, stage)
    c = t.open("block.append", 3.5, stage)  # overlaps b
    t.close(a, 2.0)
    t.close(b, 5.0)
    t.close(c, 4.0)
    t.close(stage, 6.0)
    late = t.open("score", 9.0, run)
    t.close(late, 12.0)  # runs past its parent: clipped
    t.close(run, 10.0)
    # stage [1, 6]: children cover [1, 2] ∪ [3, 5] = 3 s of 5 s
    assert t.self_time(stage) == pytest.approx(2.0)
    # run [0, 10]: children cover [1, 6] ∪ [9, 10] = 6 s of 10 s
    assert t.self_time(run) == pytest.approx(4.0)
    assert t.self_time(a) == pytest.approx(1.0)
    assert t.children(run) == [stage, late]


def test_self_time_of_unclosed_and_empty_spans():
    t = SpanTree()
    run = t.open("run", 5.0)
    assert t.self_time(run) == 0.0
    t.close(run, 7.5)
    assert t.self_time(run) == pytest.approx(2.5)


def test_fold_event_log_groups_and_task_metrics(spark, event_log_dir):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobGroup("fold.c1:block:features", "x")
    spark.range(0, 20_000, numPartitions=4).groupBy(
        (F.col("id") % 97).alias("k")).count().collect()
    sc.setJobGroup("fold.c1:score:score_pairs", "y")
    spark.range(0, 1_000, numPartitions=3).selectExpr("sum(id)").collect()
    sc.setLocalProperty("spark.jobGroup.id", None)

    groups = fold_event_log(event_log_files(event_log_dir))
    blk = groups["fold.c1:block:features"]
    scr = groups["fold.c1:score:score_pairs"]
    assert blk.jobs >= 1 and scr.jobs >= 1
    # a 4-partition map stage then its reduce side
    assert blk.tasks >= 5
    assert blk.shuffle_write_b > 0 and blk.shuffle_read_b > 0
    assert blk.cpu_s > 0
    assert blk.task_skew >= 1.0
    assert scr.tasks >= 3
    only_block = select_groups(groups, "fold.c1", "block")
    assert only_block.tasks == blk.tasks
    both = select_groups(groups, "fold.c1")
    assert both.tasks == blk.tasks + scr.tasks
    assert select_groups(groups, "other").tasks == 0


def test_tracer_tiles_a_tiny_pipeline_run(spark, event_log_dir, tmp_path):
    from datamatcher_spark.plans.run import run_pipeline
    from datamatcher_spark.sources.synth import generate_pages

    pages = generate_pages(spark, n_docs=300, seed=5).cache()
    tracer = PipelineTracer(spark)
    with tracer.installed():
        with tracer.traced_run("tiny.c1") as run_idx:
            res = run_pipeline(spark, pages, str(tmp_path), "c1")
    tree = tracer.tree
    stages = [tree.spans[i].name for i in tree.children(run_idx)]
    assert stages == ["block", "score", "cluster"]
    walls = tracer.step_walls(run_idx)
    for step in ("block.features", "block.block_keys", "block.truncate_oversized",
                 "block.salted_repartition", "score.candidate_pairs",
                 "score.score_pairs", "cluster.connected_components",
                 "cluster.partition_lineage", "cluster.commit"):
        assert walls[step] > 0, step
    # the compute steps run while run_pipeline's stage clock runs
    block_steps = sum(walls[f"block.{s}"] for s in (
        "features", "block_keys", "truncate_oversized", "salted_repartition"))
    assert block_steps >= res.counts["block_wall_ms"] / 1000.0
    # wrappers are gone after the context
    import datamatcher_spark.plans.run as run_mod
    from datamatcher_spark.plans.blocking import features

    assert run_mod.features is features
    groups = fold_event_log(event_log_files(event_log_dir))
    # features' write runs in its own span; the persisted raw block table
    # first materializes at the census collect, inside truncate_oversized
    assert select_groups(groups, "tiny.c1", "block", ("features",)).tasks > 0
    assert select_groups(groups, "tiny.c1", "block", ("truncate_oversized",)).tasks > 0
    assert select_groups(groups, "tiny.c1", "score", ("score_pairs",)).tasks > 0
    assert select_groups(groups, "tiny.c1", "cluster",
                         ("connected_components",)).jobs > 0
    pages.unpersist()
