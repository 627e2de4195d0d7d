"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_job --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed (cached under ``.perfbench_work/``), starts a local Spark
session through ``vspace_spark.session.get_spark`` pinned to
``local[nproc]`` and runs the workload's set-up. A cold workload then
measures its first pass; a warm one repeats its pass for ``--seconds``
(at least once). Every output is checked. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Every file it writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "items_per_s": "1/s",
    "accuracy": "ratio",
    "ok_frac": "ratio",
}

_LAYER_STAGE_UNITS = {
    "self_s": "s",
    "cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "tasks": "count",
}
SPAN_LAYERS = (
    "io.sources",
    "io.sinks",
    "functions.text",
    "operators.stats",
    "pipelines.corpus_job",
    "streaming.corpus",
    "operators.dedup",
    "operators.graph",
    "operators.textanalysis",
    "operators.similarity",
)
SPAN_FUNCTIONS = (
    "io.sources.load_raw_corpus",
    "io.sources.load_index",
    "io.sources.load_sources",
    "io.sources.load_phrases",
    "io.sources.load_collections",
    "io.sinks.write_parquet",
    "functions.text.normalize",
    "operators.stats.build_vocabulary",
    "operators.stats.term_stats",
    "operators.stats.tokenized_documents",
    "operators.stats.compute_stats",
    "pipelines.corpus_job.combine_corpus_with_sources",
    "pipelines.corpus_job.run_job",
    "streaming.corpus.streaming_term_stats",
    "operators.dedup.minhash_lsh_pairs",
    "operators.graph.dedup_clusters",
    "operators.textanalysis.quality_score",
    "operators.dedup.hierarchical_codebook",
    "operators.similarity.ivf_topk",
)
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "peak_rss_mb": "MB",
    **{f"{fn}_s": "s" for fn in SPAN_FUNCTIONS},
    **{
        f"{layer}.{field}": unit
        for layer in SPAN_LAYERS
        for field, unit in _LAYER_STAGE_UNITS.items()
    },
    "io.sources.docs_out": "count",
    "io.sources.bytes_in": "bytes",
    "operators.stats.grams_exploded": "count",
    "operators.stats.gate_keep_ratio": "ratio",
    "pipelines.corpus_job.source_fanout": "ratio",
    "io.sinks.bytes_written": "bytes",
    "io.sinks.files_written": "count",
    "streaming.corpus.batches": "count",
    "streaming.corpus.add_batch_ms": "ms",
    "streaming.corpus.trigger_ms": "ms",
    "streaming.corpus.state_rows": "count",
    "streaming.corpus.state_mem_mb": "MB",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_ratio": "ratio",
    "operators.graph.spark_jobs": "count",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
    "recall_at_10": "ratio",
    "batch_s.p50": "s",
    "batch_s.tail": "s",
    "trace.untraced_run_s": "s",
    "trace.traced_run_s": "s",
    "trace.overhead_s": "s",
    "trace.uncovered_frac": "ratio",
}


def tail(samples: list[float], q: float) -> float:
    """Nearest-rank ``q`` quantile of ``samples``."""
    s = sorted(samples)
    return s[max(0, math.ceil(q * len(s) - 1e-9) - 1)]


def pin_environment() -> dict[str, str]:
    """Topology and scratch locations, set before Spark starts: one
    task thread per available core, and every temporary file under the
    work directory. Returns the extra Spark conf to pass."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }


def shutdown_jvm(spark) -> None:
    """Stop Spark, then the JVM it ran in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def attempt(fn, *args):
    """Run one operation; an exception counts as a failed operation."""
    from workloads import Rep

    t0 = time.perf_counter()
    try:
        return fn(*args)
    except Exception as exc:  # a failed operation is a result, not a crash
        traceback.print_exc()
        return Rep(time.perf_counter() - t0, error=f"raised {exc!r}")


def measure(wl, conf: dict, seconds: float) -> tuple[list, dict[str, float]]:
    from vspace_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    wl.warm_up(spark)
    setup_s = time.perf_counter() - t0
    reps = []
    t0 = time.perf_counter()
    # a cold workload measures its first pass only
    while not reps or (not wl.cold and time.perf_counter() - t0 < seconds):
        reps.append(attempt(wl.run_once, spark))
    shutdown_jvm(spark)
    run_s = statistics.median(r.seconds for r in reps)
    return reps, {
        "setup_s": setup_s,
        "run_s": run_s,
        "items_per_s": wl.meta["docs"] / run_s,
        "accuracy": min(r.accuracy for r in reps),
    }


def measure_traced(wl, conf: dict) -> tuple[list, dict[str, float]]:
    """After set-up (and, for a cold workload, one untimed pass), an
    untraced and a traced pass in one session; the traced time minus
    the untraced time is the tracing overhead."""
    import tracing
    from workloads import Rep

    from vspace_spark.session import get_spark

    log_dir = os.path.join(WORK, "eventlog", f"{wl.name}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(log_dir)
    conf = {
        **conf,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    wl.warm_up(spark)
    if wl.cold:
        wl.run_once(spark)  # the cold pass, so the overhead compares warm passes
    plain = [attempt(wl.run_once, spark)]
    tr = tracing.Tracer(spark, f"{wl.name}-{os.getpid()}")
    try:
        traced, counters = wl.traced(spark, tr)
    except Exception as exc:  # a failed operation is a result, not a crash
        traceback.print_exc()
        traced, counters = Rep(0.0, error=f"traced pass raised {exc!r}"), {}
    tr.release()
    shutdown_jvm(spark)
    tr.dump(log_dir + "-spans.json")

    metrics = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    metrics["session.get_spark_s"] = get_spark_s
    metrics.update(counters)
    stage = tracing.stage_metrics_by_group(log_dir)
    for group, idx in tr.groups.items():
        layer = tr.spans[idx]["name"].rsplit(".", 1)[0]
        for field, value in stage.get(group, {}).items():
            if field == "jobs":
                if layer == "operators.graph":
                    metrics["operators.graph.spark_jobs"] += value
            else:
                metrics[f"{layer}.{field}"] += value
    selfs = tr.self_times()
    for span, own in zip(tr.spans, selfs):
        layer = span["name"].rsplit(".", 1)[0]
        metrics[f"{span['name']}_s"] += span["end"] - span["start"]
        metrics[f"{layer}.self_s"] += own
    if wl.has_batches:
        batches = [b for r in plain for b in r.batches]
        metrics["batch_s.p50"] = statistics.median(batches)
        metrics["batch_s.tail"] = tail(batches, wl.tail_q)
    parents = {s["parent"] for s in tr.spans}
    pass_end = traced.start + traced.seconds
    leaf_s = sum(
        s["end"] - s["start"]
        for i, s in enumerate(tr.spans)
        if i not in parents and traced.start <= s["start"] and s["end"] <= pass_end
    )
    untraced_s = plain[0].seconds
    metrics["trace.untraced_run_s"] = untraced_s
    metrics["trace.traced_run_s"] = traced.seconds
    metrics["trace.overhead_s"] = traced.seconds - untraced_s
    # the share of the traced pass that no innermost layer span covers
    metrics["trace.uncovered_frac"] = 1 - leaf_s / traced.seconds if traced.seconds else 1.0
    return [*plain, traced], metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "vspace_spark", "session.py")):
        print(f"no vspace_spark package under {ROOT}", file=sys.stderr)
        return 2
    conf = pin_environment()
    sys.path.insert(0, ROOT)
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    load_start, cpu_start = os.getloadavg(), cpu_times()
    wl = workloads.WORKLOADS[args.workload](
        os.path.join(WORK, "inputs"), WORK, args.seed
    )
    if args.trace:
        # sampling walks /proc ten times a second, so only traced runs pay it
        with tracing.RssSampler() as rss:
            reps, metrics = measure_traced(wl, conf)
        metrics["peak_rss_mb"] = rss.peak / 2**20
    else:
        reps, metrics = measure(wl, conf, args.seconds)
    failed = [r.error for r in reps if r.error]
    for err in failed:
        print(f"check failed: {err}", file=sys.stderr)
    if not args.trace:
        metrics["ok_frac"] = 1 - len(failed) / len(reps)
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    cpu = [b - a for a, b in zip(cpu_start, cpu_times())]
    print(
        json.dumps(
            {
                "host": {
                    "nproc": len(os.sched_getaffinity(0)),
                    "spark_master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
                    "loadavg_start": load_start,
                    "loadavg_end": os.getloadavg(),
                    # share of CPU time the hypervisor gave to other guests
                    "cpu_steal_frac": cpu[7] / max(1, sum(cpu)),
                    "reps_s": [r.seconds for r in reps],
                    "reps_accuracy": [r.accuracy for r in reps],
                    "reps_guards": [r.guards for r in reps],
                    "inputs": wl.meta,
                }
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(reps),
                "failed": len(failed),
                "metrics": {
                    k: {"value": metrics[k], "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
