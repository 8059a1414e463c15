"""Per-layer metrics of a traced ER run.

Walls come from the step spans (``spans.PipelineTracer``); CPU, GC,
shuffle, spill and skew from the Spark task metrics folded per job group
(``spans.fold_event_log``); counts from ``PipelineResult.counts`` and
from the stage outputs, read after the run. Each metric is the median
over the run's traced pipeline calls.
"""

from __future__ import annotations

import statistics

from spans import LINEAGE_STEPS, select_groups

MB = 1024.0 * 1024.0
BLOCK_STEPS = ("features", "block_keys", "truncate_oversized", "salted_repartition")
SCORE_STEPS = ("candidate_pairs", "score_pairs")
CLUSTER_STEPS = ("connected_components",)
STAGES = ("block", "score", "cluster")


def stage_output_stats(spark, sample: dict) -> dict:
    """Counts read back from one call's block table and metrics table."""
    from pyspark.sql import functions as F

    from datamatcher_spark.plans.lineage import MetricsTable

    mt = MetricsTable(spark, sample["work"], sample["run_id"])
    blocks = spark.read.parquet(mt.stage_output_path("block"))
    n = F.col("n")
    b = (
        blocks.groupBy("block_key")
        .agg(F.count("*").alias("rows"), F.count_distinct("uid").alias("n"))
        .agg(
            F.sum("rows").alias("kept_rows"),
            F.sum(F.when(n >= 2, F.col("rows")).otherwise(0)).alias("useful_rows"),
            F.sum(F.when(n >= 2, n * (n - 1) / 2).otherwise(0))
            .cast("long").alias("enumerated"),
        )
        .collect()[0]
    )
    m = (
        mt.read()
        .filter(F.col("run_id") == sample["run_id"])
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.when(F.col("stage") == "block_truncated", F.col("pair_count"))
                  .otherwise(0)).alias("truncated_rows"),
        )
        .collect()[0]
    )
    return {
        "kept_rows": b.kept_rows or 0,
        "useful_rows": b.useful_rows or 0,
        "enumerated_pairs": b.enumerated or 0,
        "lineage_rows": m.rows,
        "truncated_rows": m.truncated_rows or 0,
    }


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def tiling(tracer, sample: dict) -> dict[str, tuple[float, float]]:
    """stage → (sum of its step spans, stage wall + its lineage spans).

    The stage walls are ``run_pipeline``'s own ``<stage>_wall_ms``; the
    lineage spans are added because those steps run after the stage
    clock stops."""
    walls = tracer.step_walls(sample["run_span"])
    out = {}
    for stage in STAGES:
        steps = sum(v for k, v in walls.items() if k.startswith(stage + "."))
        lineage = sum(walls.get(f"{stage}.{s}", 0.0) for s in LINEAGE_STEPS)
        out[stage] = (steps, sample["counts"][f"{stage}_wall_ms"] / 1000.0 + lineage)
    return out


def _one_call(workload: str, tracer, groups, sample: dict, out: dict) -> dict:
    prefix = f"{workload}.{sample['run_id']}"
    c = sample["counts"]
    walls = tracer.step_walls(sample["run_span"])
    tree = tracer.tree
    run = sample["run_span"]
    blk = select_groups(groups, prefix, "block", BLOCK_STEPS)
    scr = select_groups(groups, prefix, "score", SCORE_STEPS)
    clu = select_groups(groups, prefix, "cluster", CLUSTER_STEPS)
    score_s = c["score_wall_ms"] / 1000.0
    raw_rows = out["kept_rows"] + out["truncated_rows"]
    m = {
        "blocking.wall_s": (c["block_wall_ms"] / 1000.0, "s"),
        **{f"blocking.{s}.wall_s": (walls.get(f"block.{s}", 0.0), "s")
           for s in BLOCK_STEPS},
        "blocking.cpu_s": (blk.cpu_s, "s"),
        "blocking.gc_s": (blk.gc_s, "s"),
        "blocking.shuffle_write_mb": (blk.shuffle_write_b / MB, "MB"),
        "blocking.spill_mb": (blk.spill_b / MB, "MB"),
        "blocking.python_mb": (blk.python_b / MB, "MB"),
        "blocking.task_skew": (blk.task_skew, "ratio"),
        "blocking.block_rows": (c["blocks"], "count"),
        "blocking.truncated_blocks": (c["truncated_blocks"], "count"),
        "blocking.useful_row_ratio": (_ratio(out["useful_rows"], raw_rows), "ratio"),
        "scoring.wall_s": (score_s, "s"),
        **{f"scoring.{s}.wall_s": (walls.get(f"score.{s}", 0.0), "s")
           for s in SCORE_STEPS},
        "scoring.cpu_s": (scr.cpu_s, "s"),
        "scoring.gc_s": (scr.gc_s, "s"),
        "scoring.shuffle_read_mb": (scr.shuffle_read_b / MB, "MB"),
        "scoring.shuffle_write_mb": (scr.shuffle_write_b / MB, "MB"),
        "scoring.spill_mb": (scr.spill_b / MB, "MB"),
        "scoring.python_mb": (scr.python_b / MB, "MB"),
        "scoring.task_skew": (scr.task_skew, "ratio"),
        "scoring.pairs_scored": (c["pairs_scored"], "count"),
        "scoring.pairs_per_s": (_ratio(c["pairs_scored"], score_s), "pairs/s"),
        "scoring.enumerated_pairs": (out["enumerated_pairs"], "count"),
        "scoring.distinct_ratio": (
            _ratio(c["pairs_scored"], out["enumerated_pairs"]), "ratio"),
        "scoring.accept_ratio": (_ratio(c["edges_accepted"], c["pairs_scored"]), "ratio"),
        "clustering.wall_s": (c["cluster_wall_ms"] / 1000.0, "s"),
        "clustering.cc_iterations": (c["cc_iterations"], "count"),
        "clustering.edges_in": (c["edges_accepted"], "count"),
        "clustering.cpu_s": (clu.cpu_s, "s"),
        "clustering.gc_s": (clu.gc_s, "s"),
        "clustering.shuffle_write_mb": (clu.shuffle_write_b / MB, "MB"),
        "clustering.jobs": (clu.jobs, "count"),
        "lineage.wall_s": (
            sum(v for k, v in walls.items() if k.split(".")[1] in LINEAGE_STEPS), "s"),
        "lineage.rows_appended": (out["lineage_rows"], "count"),
        "run.unattributed_s": (
            tree.self_time(run) + sum(tree.self_time(i) for i in tree.children(run)),
            "s"),
        "window.steal_pct": (sample["steal_pct"], "%"),
        "window.busy_pct": (sample["busy_pct"], "%"),
    }
    return m


def layer_metrics(workload: str, tracer, groups, samples: list[dict],
                  outputs: list[dict]) -> dict[str, tuple[float, str]]:
    """name → (median over the traced calls, unit)."""
    per_call = [
        _one_call(workload, tracer, groups, s, o) for s, o in zip(samples, outputs)
    ]
    if not per_call:
        return {}
    return {
        k: (statistics.median(m[k][0] for m in per_call), unit)
        for k, (_, unit) in per_call[0].items()
    }
