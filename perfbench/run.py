#!/usr/bin/env python3
"""Benchmark of the ER pipeline (block → score → cluster) on ``local[4]``.

    python3 perfbench/run.py --workload er_web --seed 42 --seconds 20 --trace 0

``--trace 0``: start one Spark session, build and cache the workload's
corpus from ``--seed`` with the public ``sources.synth`` generators
(``SETUP_ROUNDS`` times, keeping the last), warm up with one full
``plans.run.run_pipeline`` call, then time fresh calls on the warm session
until the next one would overrun ``--seconds`` (at least ``MIN_CALLS``).
``wall_s`` is their median. Every output is checked outside the timed
region. Prints the end-to-end metrics.

``--trace 1``: one session with the Spark event log on; after set-up and
the same warm-up call, alternate traced and untraced calls (at least one
of each, until ``--seconds`` have passed), time ``MIN_RESUMES`` resumes
of the last traced call, and print the per-layer table and metrics (see
``spans.py`` for the attribution rule).

The last stdout line is the result JSON: ``{"correct", "attempted",
"failed", "metrics"}``; the line before it holds the run's details.
Scratch files (Spark local dirs, event logs, pipeline work dirs) live
under ``perfbench/.work`` and are removed at exit; a traced run also
saves its spans and metrics to ``perfbench/traces/`` for ``report.py``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(REPO))

import layers  # noqa: E402
import report  # noqa: E402
from checks import (  # noqa: E402
    Window, cluster_coverage_failures, count_failures, peak_rss_mb,
)
from spans import PipelineTracer, event_log_files, fold_event_log  # noqa: E402

CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "4g"
SETUP_ROUNDS = 3
MIN_CALLS = 1
MIN_RESUMES = 3
DEFAULT_SEED = 42
MIN_F1 = 0.99
TILE_TOLERANCE = 0.10


# Sizes keep a run near 50 s and the work steady across seeds. At 5k
# docs the second-largest domain always exceeds the 500-doc block cap and
# the third never nears it, so the pair count barely moves with the seed
# (at 3k or 4k docs one domain sits at the cap). The skew base is small
# enough that no domain nears the cap; the mega and boilerplate bands do
# not depend on the seed.
ER_WEB_DOCS = 5_000
SKEW_BASE, SKEW_MEGA, SKEW_BOILER = 600, 10_000, 1_500
SKEW_BROADCAST_ROWS = 10_000


@dataclass(frozen=True)
class Workload:
    name: str
    build: Callable  # (spark, seed) → the pipeline's input pages
    truth: Callable  # (spark, seed) → the labelled part, with ``cluster_id``
    cfg: Callable  # () → PipelineConfig
    # COUNT_KEYS at DEFAULT_SEED, measured on the code this benchmark was
    # written against; every later commit must reproduce them exactly
    expected: dict


def _er_web_build(spark, seed):
    from datamatcher_spark.sources.synth import generate_pages

    return generate_pages(spark, n_docs=ER_WEB_DOCS, seed=seed)


def _er_web_truth(spark, seed):
    from datamatcher_spark.sources.synth import generate_pages_with_truth

    return generate_pages_with_truth(spark, n_docs=ER_WEB_DOCS, seed=seed)


def _er_skew_build(spark, seed):
    from datamatcher_spark.sources.synth import generate_adversarial_pages

    return generate_adversarial_pages(
        spark, n_base=SKEW_BASE, n_mega=SKEW_MEGA, n_boiler=SKEW_BOILER, seed=seed
    )


def _er_skew_truth(spark, seed):
    # the planted base clusters; mega and boilerplate docs have no truth
    from datamatcher_spark.sources.synth import generate_pages_with_truth

    return generate_pages_with_truth(spark, n_docs=SKEW_BASE, seed=seed)


def _default_cfg():
    from datamatcher_spark.plans.config import PipelineConfig

    return PipelineConfig()


def _skew_cfg():
    # the production (shuffle-hash) side of the feature-join cutover,
    # which the default 250k-row cutover reserves for larger corpora
    from datamatcher_spark.plans.config import PipelineConfig

    return PipelineConfig(broadcast_feature_rows=SKEW_BROADCAST_ROWS)


COUNT_KEYS = ("pairs_scored", "edges_accepted", "clusters", "cc_iterations")
WORKLOADS = {
    w.name: w
    for w in (
        Workload("er_web", _er_web_build, _er_web_truth, _default_cfg, expected={
            "pairs_scored": 243_223, "edges_accepted": 5_858,
            "clusters": 2_016, "cc_iterations": 2,
        }),
        Workload("er_skew", _er_skew_build, _er_skew_truth, _skew_cfg, expected={
            "pairs_scored": 30_410, "edges_accepted": 692,
            "clusters": 11_741, "cc_iterations": 2,
        }),
    )
}


# -- session -----------------------------------------------------------------
def start_session(work: Path, event_log: Path | None = None):
    from datamatcher_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log.as_uri(),
        })
    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- one run -----------------------------------------------------------------
class Runner:
    def __init__(self, wl: Workload, seed: int, work: Path):
        self.wl, self.seed, self.work = wl, seed, work
        self.ops: list[dict] = []  # one per attempted operation
        self.reference: dict | None = None
        self.n_calls = 0

    def setup(self, spark, rounds: int) -> tuple[list[float], str]:
        """Build + cache the corpus ``rounds`` times; keep the last."""
        from datamatcher_spark.sources.synth import corpus_fingerprint

        times = []
        self.pages = None
        for _ in range(rounds):
            if self.pages is not None:
                self.pages.unpersist(blocking=True)
                self.urls.unpersist(blocking=True)
            t0 = time.perf_counter()
            self.pages = self.wl.build(spark, self.seed).cache()
            self.n_input = self.pages.count()
            self.urls = self.pages.select("url").distinct().cache()
            self.urls.count()
            times.append(time.perf_counter() - t0)
        return times, corpus_fingerprint(self.pages)

    def call(self, spark, tracer=None) -> dict | None:
        """One fresh pipeline call and its output checks. Returns the
        sample, or None when the call raised."""
        from datamatcher_spark.plans.run import run_pipeline

        self.n_calls += 1
        run_id = f"c{self.n_calls}"
        work = self.work / "pipeline" / run_id
        op = {"op": "pipeline", "failures": []}
        self.ops.append(op)
        try:
            if tracer is None:
                with Window() as win:
                    res = run_pipeline(spark, self.pages, str(work), run_id, self.wl.cfg())
            else:
                with tracer.traced_run(f"{self.wl.name}.{run_id}") as run_idx:
                    with Window() as win:
                        res = run_pipeline(
                            spark, self.pages, str(work), run_id, self.wl.cfg()
                        )
        except Exception:
            op["failures"].append(traceback.format_exc())
            return None
        sample = {
            "op": len(self.ops) - 1, "run_id": run_id, "work": str(work),
            "wall_s": win.wall, "steal_pct": win.steal_pct, "busy_pct": win.busy_pct,
            "counts": dict(res.counts),
        }
        if tracer is not None:
            sample["run_span"] = run_idx
        # -- checks, outside the timed region --
        op["failures"] += cluster_coverage_failures(self.urls, res.clusters)
        if self.reference is None:
            self.reference = {k: res.counts.get(k) for k in COUNT_KEYS}
        op["failures"] += count_failures(res.counts, self.reference)
        if self.seed == DEFAULT_SEED:
            op["failures"] += count_failures(res.counts, self.wl.expected)
        return sample

    def resume(self, spark, sample: dict) -> dict | None:
        """Delete only the ``cluster`` commit marker of a finished call and
        re-invoke ``run_pipeline`` with the same work dir and run id."""
        from datamatcher_spark.plans.run import run_pipeline

        op = {"op": "resume", "failures": []}
        self.ops.append(op)
        work, run_id = Path(sample["work"]), sample["run_id"]
        (work / "_commits" / run_id / "cluster.json").unlink()
        try:
            with Window() as win:
                res = run_pipeline(spark, self.pages, str(work), run_id, self.wl.cfg())
        except Exception:
            op["failures"].append(traceback.format_exc())
            return None
        if res.stages_run != ["cluster"]:
            op["failures"].append(f"resume ran stages {res.stages_run}")
        want = sample["counts"].get("clusters")
        if res.counts.get("clusters") != want:
            op["failures"].append(f"resume clusters {res.counts.get('clusters')} != {want}")
        op["failures"] += cluster_coverage_failures(self.urls, res.clusters)
        return {"resume_s": win.wall, "steal_pct": win.steal_pct,
                "busy_pct": win.busy_pct}

    def f1(self, spark, clusters_dir: str) -> float:
        from datamatcher_spark.plans.run import pairwise_f1
        from datamatcher_spark.sources.synth import generate_labeled_pairs

        # cached: the labelled-pair build reads the truth corpus five times
        truth = self.wl.truth(spark, self.seed).cache()
        try:
            pairs = generate_labeled_pairs(truth, seed=self.seed)
            return pairwise_f1(spark.read.parquet(clusters_dir), pairs)["f1"]
        finally:
            truth.unpersist()

    def fail(self, sample: dict, msg: str) -> None:
        self.ops[sample["op"]]["failures"].append(msg)


def warm_up(runner: Runner, spark) -> dict | None:
    """The session's first call, checked but not timed: it pays JIT,
    codegen and Python-worker start-up. It runs on the whole corpus, since
    after a call on a slice of it the next full call was still about 1.3x
    slower than a warm one. Its work dir is dropped."""
    sample = runner.call(spark)
    if sample is not None:
        drop_work(sample)
    return sample


def drop_work(sample: dict) -> None:
    shutil.rmtree(sample["work"], ignore_errors=True)


def median(xs):
    return statistics.median(xs) if xs else None


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end_metrics(n_docs, walls, f1, setup_s) -> dict:
    wall = median(walls)
    return {
        "wall_s": metric(wall, "s"),
        "docs_per_s": metric(n_docs / wall if wall else None, "docs/s"),
        "pairwise_f1": metric(f1, "ratio"),
        "setup_s": metric(setup_s, "s"),
    }


def collect_garbage(spark) -> None:
    """Full GC in the JVM and in Python, outside the timed region, so each
    timed call starts from the same heap state."""
    gc.collect()
    spark._jvm.java.lang.System.gc()


def run_untraced(runner: Runner, args, work: Path) -> dict:
    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    phases = {"session": session_s}  # cumulative seconds at each phase end
    samples: list[dict] = []
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rounds, fingerprint = runner.setup(spark, SETUP_ROUNDS)
        phases["setup"] = time.perf_counter() - t0
        first = warm_up(runner, spark)
        phases["warm_up"] = time.perf_counter() - t0
        # the timed region: fresh calls on the warm session until the next
        # one would overrun --seconds (at least MIN_CALLS); their median is
        # the metric
        t_timed = time.perf_counter()
        while first is not None:
            if len(samples) >= MIN_CALLS:
                spent = time.perf_counter() - t_timed
                if spent + median([s["wall_s"] for s in samples]) > args.seconds:
                    break
            collect_garbage(spark)
            s = runner.call(spark)
            if s is None:
                break
            if samples:
                drop_work(samples[-1])
            samples.append(s)
        phases["measure"] = time.perf_counter() - t0
        # before the F1 check, whose labelled-pair joins are not the program's
        rss = peak_rss_mb(pid)
        f1 = None
        if samples:
            last = samples[-1]
            f1 = runner.f1(spark, f"{last['work']}/stages/{last['run_id']}/cluster")
            if f1 < MIN_F1:
                runner.fail(last, f"pairwise_f1 {f1:.5f} < {MIN_F1}")
            drop_work(last)
        phases["checks"] = time.perf_counter() - t0
    finally:
        stop_jvm(spark)
    phases["stop"] = time.perf_counter() - t0
    detail = {
        "workload": runner.wl.name, "seed": runner.seed, "n_docs": runner.n_input,
        "fingerprint": fingerprint, "session_s": session_s, "setup_rounds_s": rounds,
        "pairwise_f1": f1, "peak_rss_mb": rss, "phases": phases,
        "first_call": first and {k: v for k, v in first.items() if k != "work"},
        "calls": [{k: v for k, v in s.items() if k != "work"} for s in samples],
    }
    metrics = end_to_end_metrics(
        runner.n_input, [s["wall_s"] for s in samples], f1,
        session_s + median(rounds),
    )
    return {"detail": detail, "metrics": metrics}


def run_traced(runner: Runner, args, work: Path) -> dict:
    log_dir = work / "eventlog"
    spark = start_session(work, event_log=log_dir)
    tracer = PipelineTracer(spark)
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        _, fingerprint = runner.setup(spark, 1)
        warm_up(runner, spark)
        # traced calls alternate with untraced ones (same session, no
        # spans, no job groups), so both see the same JIT warming
        samples, untraced = [], []
        t_end = time.perf_counter() + args.seconds
        with tracer.installed():
            while len(samples) + len(untraced) < 2 or time.perf_counter() < t_end:
                traced = len(samples) <= len(untraced)
                collect_garbage(spark)
                s = runner.call(spark, tracer if traced else None)
                if s is None:
                    break
                (samples if traced else untraced).append(s)
        for s in untraced:
            drop_work(s)
        rss = peak_rss_mb(pid)
        outputs = [layers.stage_output_stats(spark, s) for s in samples]
        # untraced resumes of the last traced call, after its lineage
        # rows were counted
        resumes = []
        for _ in range(MIN_RESUMES if samples else 0):
            r = runner.resume(spark, samples[-1])
            if r is None:
                break
            resumes.append(r)
        for s in samples:
            drop_work(s)
    finally:
        stop_jvm(spark)
    groups = fold_event_log(event_log_files(log_dir))
    table = layers.layer_metrics(runner.wl.name, tracer, groups, samples, outputs)
    tiling = [layers.tiling(tracer, s) for s in samples]
    for s, t in zip(samples, tiling):
        for stage, (steps, target) in t.items():
            if abs(steps - target) > TILE_TOLERANCE * target:
                runner.fail(s, f"{stage} steps {steps:.3f}s vs stage {target:.3f}s")
    base_wall = median([s["wall_s"] for s in untraced])
    traced_wall = median([s["wall_s"] for s in samples])
    table["run.resume_s"] = (median([r["resume_s"] for r in resumes]), "s")
    table["jvm.peak_rss_mb"] = (rss, "MB")
    table["trace.overhead_s"] = (
        traced_wall - base_wall if samples and untraced else None, "s"
    )
    record = {
        "workload": runner.wl.name, "seed": runner.seed, "fingerprint": fingerprint,
        "untraced_walls_s": [s["wall_s"] for s in untraced],
        "traced_walls_s": [s["wall_s"] for s in samples],
        "resumes": resumes,
        "tiling": tiling,
        "metrics": {k: metric(v, u) for k, (v, u) in table.items()},
        "spans": tracer.tree.to_json(),
        "samples": [{k: v for k, v in s.items() if k != "work"} for s in samples],
    }
    return {"detail": record, "metrics": record["metrics"]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the program under test must be importable before anything starts
    import datamatcher_spark.plans.run  # noqa: F401
    import datamatcher_spark.sources.synth  # noqa: F401

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = None

    runner = Runner(WORKLOADS[args.workload], args.seed, work)
    try:
        out = (run_traced if args.trace else run_untraced)(runner, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(1 for op in runner.ops if op["failures"])
    for op in runner.ops:
        for f in op["failures"]:
            print(f"FAILED {op['op']}: {f}", file=sys.stderr)
    if args.trace:
        traces = HERE / "traces"
        traces.mkdir(exist_ok=True)
        path = traces / f"{args.workload}-{args.seed}.json"
        path.write_text(json.dumps(out["detail"], indent=1))
        print(report.format_table(out["detail"]))
    else:
        print(json.dumps(out["detail"]))
    metrics = out["metrics"]
    correct = failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({
        "correct": correct,
        "attempted": max(len(runner.ops), 1),
        "failed": failed if runner.ops else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
