"""ot_spark benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- flagship: read -> parse -> complex_filter -> remove_tags ->
  spatial_enrich -> noop sink over seeded generated pages.
- pipeline_write: Pipeline(PipelineConfig(...)).run writing bucketed
  parquet + lineage + snapshot, then the resume re-run.

Every run: set-up (process start until the first pass is ready, input
generation excluded), one cold pass, untimed warm-up passes, timed passes
for --seconds, then output checks against independent computations.
--trace 0 reports the end-to-end metrics.  --trace 1 runs with Spark's
event log configured but detached, and after one pass runs traced rounds
(an untraced and a traced pass back to back, then noop-sink prefix cuts);
it reports the per-layer metrics (cut differences, df.observe counters,
stage/task/SQL metrics from the log) and the tracing overhead.  --smoke
runs tiny sizes with one warm pass.

Everything the run writes lives under .perfbench_tmp/run-<pid> in the
checkout (removed at exit); generated inputs are cached under
.perfbench_cache; a traced run writes its spans to .perfbench_out.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ABORT_S = 170.0  # a run still going then is killed and prints no result

SIZES = {"flagship": {"pages": 300_000}, "pipeline_write": {"pages": 150_000}}
SMOKE_SIZES = {"flagship": {"pages": 20_000}, "pipeline_write": {"pages": 8_000}}

END_TO_END = {"setup_s": "s", "wall_s": "s"}

# Every per-layer metric, with its unit.  A workload reports 0 for a layer
# that is not on its path (see perfbench/reference.json).
PER_LAYER = {
    "cold.first_pass_s": "s",
    "memory.peak_rss_mb": "MB",
    "setup.imports_s": "s",
    "session.get_spark_s": "s",
    "area_index.build_area_index_s": "s",
    "raster.RasterIndex_s": "s",
    "plan.assemble_s": "s",
    "warmup.s": "s",
    "scan.s": "s",
    "parse.with_coordinates.s": "s",
    "parse.rows_with_coords": "count",
    "filters.complex_filter.s": "s",
    "filters.complex_filter.selectivity": "ratio",
    "filters.remove_tags.s": "s",
    "enrich_fused.spatial_enrich.s": "s",
    "enrich_fused.border_rows": "count",
    "enrich_fused.pip_hit_ratio": "ratio",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "arrow.python_s": "s",
    "semi.filter_referenced.s": "s",
    "semi.rows_kept_ratio": "ratio",
    "pipeline.enrich_stage.s": "s",
    "lineage.write_with_lineage.s": "s",
    "lineage.files_written": "count",
    "lineage.bytes_written": "bytes",
    "lineage.write_amp": "byte/byte",
    "lineage.buckets_written": "count",
    "lineage.buckets_skipped": "count",
    "lineage.resume_failed": "count",
    "shuffle.bytes_written": "bytes",
    "shuffle.records": "count",
    "spill.bytes": "bytes",
    "task.skew": "ratio",
    "layers.sum_s": "s",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.observe_overhead_s": "s",
    "trace.layer_sum_gap": "ratio",
}


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, one warm pass (the benchmark's own tests)")
    return p.parse_args(argv)


def isolate(tmp_root: str) -> None:
    """Point every scratch location at the run's temp root, and let Spark's
    Python workers import ot_spark from the checkout (the fused enrich UDF
    pickles references to it)."""
    for d in ("py-tmp", "jvm-tmp", "spark-local"):
        os.makedirs(os.path.join(tmp_root, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp_root, "py-tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp_root, "spark-local")
    # every JVM spark-submit starts (its launcher too): temp files under the
    # run's root, and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.path.join(tmp_root, 'jvm-tmp')} -XX:-UsePerfData",
    ]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def sweep_dead_runs(base: str) -> None:
    """Remove temp roots of earlier runs whose process is gone."""
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        pid = d.removeprefix("run-")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def execute(run, session, w, imports_s: float) -> None:
    """``imports_s``: process start until the program's modules were
    imported, the first part of set-up."""
    from harness import quartiles, timed_passes, vm_hwm_mb

    spans = run.spans
    with spans.span("prepare"):
        w.prepare()  # input generation: not part of set-up

    timings = {"setup.imports_s": imports_s}
    with spans.span("setup"):
        t0 = time.perf_counter()
        spark = session.start()
        timings["session.get_spark_s"] = time.perf_counter() - t0
        w.setup(spark, timings)
        run.metrics["setup_s"] = imports_s + time.perf_counter() - t0
    run.layers.update(timings)

    session.group("cold")
    with spans.span("cold_pass"):
        t0 = time.perf_counter()
        w.one_pass(spark, 0)
        run.layers["cold.first_pass_s"] = time.perf_counter() - t0
    run.attempted += 1
    w.between_passes()
    session.group("warmup")
    for _ in range(0 if run.smoke else w.warmup_passes):
        with spans.span("warmup_pass"):
            w.one_pass(spark, 0)
        run.attempted += 1
        w.between_passes()
    run.layers["warmup.s"] = sum(spans.durations("warmup_pass"), 0.0)

    # a traced run times its passes in the traced rounds, so it takes one
    # pass here, for the operations that follow
    min_n = 1 if run.smoke or run.trace else w.min_passes
    warm = timed_passes(run, session, lambda i: w.one_pass(spark, i),
                        0 if run.trace else run.seconds, min_n, after=w.between_passes)
    run.metrics["wall_s"] = statistics.median(warm)

    with spans.span("after_passes"):
        w.after_passes(spark)

    if run.trace:
        trace(run, session, w, 1 if run.smoke else w.trace_rounds)
    with spans.span("check"):
        w.check(session.spark)

    peak = vm_hwm_mb("self") + vm_hwm_mb(session.jvm_pid())
    run.layers["memory.peak_rss_mb"] = peak
    q1, med, q3 = quartiles(warm)
    warmups = ", ".join(f"{t:.3f}" for t in spans.durations("warmup_pass"))
    timed = ", ".join(f"{t:.3f}" for t in warm)
    run.summary = [
        f"wall_s = {med:.4f} s (q1 {q1:.4f}, q3 {q3:.4f}, n={len(warm)} timed passes: "
        f"{timed}; untimed warm-up passes after the cold one: {warmups or 'none'})",
        f"pages_per_s = {w.sizes['pages'] / med:.1f} pages/s ({w.sizes['pages']} pages per pass)",
        f"cold_s = {run.layers['cold.first_pass_s']:.4f} s (first pass in the fresh session)",
        "setup_s = {:.4f} s (process start to first pass ready: imports {:.3f}, get_spark "
        "{:.3f}, area index {:.3f}, raster index {:.3f}, plan {:.3f})".format(
            run.metrics["setup_s"], *(run.layers[k] for k in (
                "setup.imports_s", "session.get_spark_s", "area_index.build_area_index_s",
                "raster.RasterIndex_s", "plan.assemble_s"))),
        f"peak_rss_mb = {peak:.1f} MB (VmHWM of this process + the driver JVM)",
    ] + w.human_lines()


def trace(run, session, w, min_rounds) -> None:
    """Traced rounds for run_seconds, in the session the run warmed up:
    an untraced and a traced pass of the plain workload, in alternating
    order, then the workload's layer cuts.  The traced pass (job group
    "traced") is the only one the event log sees; the overhead is the
    median of the paired differences."""
    spans = run.spans
    spark = session.spark
    t_end = time.time() + run.seconds
    diffs = []
    rounds = 0
    while rounds < min_rounds or time.time() < t_end:
        with spans.span("traced_round"):
            pair = {}
            for mode in ("untraced", "traced")[:: 1 if rounds % 2 == 0 else -1]:
                session.group(mode)
                with spans.span(f"{mode}_pass"), session.logged(mode == "traced"):
                    t0 = time.perf_counter()
                    w.one_pass(spark, 0)
                    pair[mode] = time.perf_counter() - t0
                w.between_passes()
            diffs.append(pair["traced"] - pair["untraced"])
            w.layer_cuts(spark)
        w.between_passes()
        rounds += 1
    run.attempted += 2 * rounds
    layers = w.trace_layers(spark)
    traced_wall = statistics.median(spans.durations("traced_pass"))
    layers["trace.wall_s"] = traced_wall
    layers["trace.untraced_wall_s"] = statistics.median(spans.durations("untraced_pass"))
    layers["trace.overhead_s"] = statistics.median(diffs)
    layers["trace.layer_sum_gap"] = (layers["layers.sum_s"] - traced_wall) / traced_wall
    run.layers.update(layers)
    run.pending_event_log = (session.event_log(), rounds)


def finish_trace(run) -> None:
    """After the session is stopped: fold the event log in, write spans."""
    import eventlog

    path, rounds = run.pending_event_log
    events = eventlog.read_events(path)
    run.layers.update(eventlog.layer_metrics(events, {"traced"}, rounds))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run.workload}-seed{run.seed}-spans.jsonl"), "w") as fh:
        for rec in run.spans.records:
            fh.write(json.dumps(rec) + "\n")


def abort(session) -> None:
    """The run overran (a hang, or passes too slow to reach their minimum
    count): stop the JVM and exit with no result."""
    print(f"[perfbench] run exceeded {ABORT_S:.0f} s; aborting", file=sys.stderr, flush=True)
    with contextlib.suppress(Exception):
        session.kill()
    shutil.rmtree(session.run.tmp_root, ignore_errors=True)
    os._exit(3)


def main(argv=None) -> int:
    process_start = time.perf_counter() - process_age_s()
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench_tmp")
    sweep_dead_runs(base)
    tmp_root = os.path.join(base, f"run-{os.getpid()}")
    try:
        isolate(tmp_root)
        import harness
        from workloads import WORKLOADS  # imports the program's modules

        imports_s = time.perf_counter() - process_start
        run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), tmp_root)
        run.smoke = args.smoke
        cpus = len(os.sched_getaffinity(0))
        session = harness.Session(run, cpus)
        watchdog = threading.Timer(ABORT_S - (time.perf_counter() - process_start),
                                   abort, (session,))
        watchdog.daemon = True
        watchdog.start()
        cache_root = os.path.join(ROOT, ".perfbench_cache")
        sizes = (SMOKE_SIZES if args.smoke else SIZES)[args.workload]
        w = WORKLOADS[args.workload](run, session, sizes, cache_root)
        try:
            execute(run, session, w, imports_s)
        finally:
            session.close()
            watchdog.cancel()
        if run.pending_event_log is not None:
            finish_trace(run)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no other run is using it
    return report(run, w, cpus, time.perf_counter() - process_start)


def report(run, w, cpus: int, elapsed: float) -> int:
    print(f"workload {run.workload} seed {run.seed} on local[{cpus}], "
          f"run took {elapsed:.1f} s")
    import inputs

    props = inputs.input_properties(w.inp, w.idx)
    print("input " + json.dumps(props, sort_keys=True))
    if run.trace:
        names, metrics = PER_LAYER, {k: run.layers.get(k, 0.0) for k in PER_LAYER}
        print(f"tracing overhead: {metrics['trace.overhead_s']:+.4f} s per pass (median of "
              f"paired traced - untraced passes; medians: traced wall_s "
              f"{metrics['trace.wall_s']:.4f} s, untraced {metrics['trace.untraced_wall_s']:.4f} s)")
        print(f"summed layer times {metrics['layers.sum_s']:.4f} s vs traced wall_s: "
              f"{metrics['trace.layer_sum_gap']:+.2%}")
    else:
        names = END_TO_END
        metrics = run.metrics
        for line in run.summary:
            print(line)
    for k in names:
        print(f"{k} = {metrics[k]!r} {names[k]}")
    ratio = run.failed / run.attempted if run.attempted else 0.0
    print(f"ops_failed = {ratio:.4f} ratio ({run.failed} failed of {run.attempted} attempted)")
    correct = run.mismatches == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": names[k]} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
