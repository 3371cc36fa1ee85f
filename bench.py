"""Benchmark harness — prints ONE JSON line.

Headline metric: pages/sec through the flagship spatial filter-enrich-tile
pipeline (parse coords -> attribute filter -> tag projection -> fused Arrow
enrich: grid cell + admin PIP + raster elevation + S2/H3 tiles -> noop
write), on a deterministically generated
pages table (BASELINE.json: synthesize at small scale; no external data).

Also times each correctness query from __spark_entry__.queries() at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) so regressions in any
operator show up per-round.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "8000000"))
# min-of-10 with a short warmup: the host shows 3-4x noisy-neighbor swings
# WITHIN a single bench (observed flagship runs [11.6, 6.1, 15.8, 4.9,
# 4.2] in one minute) — more measured samples, uniformly applied, is the
# only estimator that survives that.  The JIT is NOT warm after 4
# iterations: on a 4-core host C2 was still compiling through about pass
# 30 (flagship median 0.43 s at passes 6-13, 0.34 s at passes 40-59), so
# the min-of-10 reads a still-warming JVM.
FLAGSHIP_WARMUP = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "4"))
FLAGSHIP_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "10"))


def run_pipeline(spark, n_pages: int) -> tuple[float, int, list[float]]:
    """Flagship: parse -> filter -> project -> fused enrich (grid cell,
    admin PIP, raster elevation, S2/H3 tiles) -> noop sink.

    Single timings swing 3x with noisy neighbors (BENCH/BASELINE.md
    protocol), so: warm up, then min-of-K.  The JVM is not at steady state
    after the warm-up: C2 keeps compiling through about pass 30 on a
    4-core host (see FLAGSHIP_WARMUP)."""
    from gate_queries.common import _admin_index, _raster_index
    from ot_spark import filters, parse
    from ot_spark.benchdata import GEN_VERSION, pages_range_df
    from ot_spark.enrich_fused import spatial_enrich

    idx = _admin_index()
    ridx = _raster_index()
    # scan a materialized parquet (the production shape), generating it
    # once if absent.
    # The default path carries the generator version so a stale file from an
    # older pages_range_df is never silently reused; the write goes to a
    # pid-unique temp dir + atomic rename so concurrent bench runs can't
    # race the exists-then-write check.
    input_path = os.environ.get(
        "SPARK_GRAFT_BENCH_INPUT",
        f"/tmp/bench_pages_v{GEN_VERSION}_{n_pages}.parquet",
    )
    if not os.path.exists(input_path):
        tmp = f"{input_path}.tmp-{os.getpid()}"
        pages_range_df(spark, n_pages, partitions=128).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            os.rename(tmp, input_path)
        except OSError:  # another run won the race; use theirs
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    df = spark.read.parquet(input_path)
    df = parse.with_coordinates(df)
    df = filters.complex_filter(df)
    df = filters.remove_tags(df)
    out = spatial_enrich(df, idx, ridx)
    for _ in range(FLAGSHIP_WARMUP):
        out.write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(FLAGSHIP_RUNS):
        t0 = time.time()
        out.write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    return min(times), n_pages, [round(t, 3) for t in times]


def time_query(spark, fn, sf_dir: str, repeats: int) -> list[tuple[float, float]]:
    """(build, action) wall seconds of ``repeats`` runs of one gate query:
    building the DataFrame (driver-side index builds and training collects
    included), then writing it to the noop sink."""
    runs = []
    for _ in range(repeats):
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        runs.append((t1 - t0, time.time() - t1))
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

    from ot_spark.session import get_spark

    spark = get_spark("ot_spark_bench", parallelism=cpus)

    # Bench-mode scope for the write-twice integrity queries: their cost is
    # /tmp I/O (two full 8M-row materializations in r3's bench perturbed
    # every query timed after them), not operator cost.  The correctness
    # gate never sets this, so oracles always see full inputs.
    os.environ.setdefault("SPARK_GRAFT_WRITE_QUERY_CAP", "100000")

    import __spark_entry__ as entrymod

    # Per-query fault isolation: one broken query must never zero the whole
    # round's bench output (round-1 postmortem).  Errors become per-query
    # entries; the final JSON line always prints.
    #
    # Warm protocol (VERDICT r3): each query runs TWICE and reports the
    # min — the first run pays JIT + first-touch I/O, which made r3's
    # single-shot numbers unattributable (cold effects vs regressions).
    # Both runs are recorded in queries_cold for drift forensics.
    q_times: dict[str, object] = {}
    q_cold: dict[str, object] = {}
    q_split: dict[str, object] = {}
    errors: dict[str, str] = {}
    skipped: list[str] = []
    # Soft deadline for the per-query phase: under a 2-4x noisy-neighbor
    # window, 60+ run-twice queries could push the whole bench past an
    # external timeout and TRUNCATE stdout — the r4 parsed:null failure
    # via a different path.  Past the deadline, remaining queries are
    # SKIPPED (named in the output) and the flagship + final JSON line
    # always print.  Quiet-host runs never hit this.
    deadline = time.time() + float(
        os.environ.get("SPARK_GRAFT_BENCH_QUERY_BUDGET", "360")
    )
    for name, fn in entrymod.queries().items():
        if time.time() > deadline:
            skipped.append(name)
            continue
        try:
            runs = time_query(spark, fn, sf_dir, 2)
            totals = [round(b + a, 3) for b, a in runs]
            q_times[name] = min(totals)
            q_cold[name] = totals
            q_split[name] = [[round(b, 3), round(a, 3)] for b, a in runs]
        except Exception as exc:  # noqa: BLE001 — isolate per query
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    flagship_all: list[float] = []
    try:
        pipe_sec, n, flagship_all = run_pipeline(spark, BENCH_PAGES)
        pages_per_sec = n / pipe_sec
        q_times["flagship_pipeline"] = round(pipe_sec, 3)
    except Exception as exc:  # noqa: BLE001
        errors["flagship_pipeline"] = f"{type(exc).__name__}: {exc}"[:300]
        pages_per_sec, n = 0.0, 0

    sf = 0.1
    if "sf0.01" in sf_dir:
        sf = 0.01
    elif "sf0.001" in sf_dir:
        sf = 0.001

    # The FINAL stdout line must stay COMPACT: r4's line inlined
    # queries_all_runs and outgrew the driver's tail capture, leaving
    # BENCH_r04.json "parsed": null.  Headline + per-query min only here;
    # all-runs detail, protocol, and the active query list go to
    # .bench/BENCH_DETAIL.json (git-ignored: a run leaves no tracked file
    # modified).
    flagship_steady = (
        round(sorted(flagship_all[-5:])[len(flagship_all[-5:]) // 2], 3)
        if len(flagship_all) >= 5
        else None
    )
    detail = {
        "queries_all_runs": q_cold,
        "queries_build_action_runs": q_split,
        "flagship_runs_sec": flagship_all,
        "flagship_steady_median_last5_sec": flagship_steady,
        "protocol": "per-query run-twice-min; write-query cap "
        + os.environ.get("SPARK_GRAFT_WRITE_QUERY_CAP", ""),
        "active_queries": sorted(q_times) + sorted(errors) + sorted(skipped),
        "bench_pages": n,
        "errors": errors,
        "skipped_on_deadline": skipped,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench", "BENCH_DETAIL.json"
    )
    try:
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        print(f"BENCH DETAIL WRITE FAILED: {exc}", file=sys.stderr)
    # visible (non-final-line) record of the gate surface, so a stale
    # driver-side query list (r4's missing audio_features row) is auditable
    print(f"BENCH ACTIVE QUERIES ({len(detail['active_queries'])}): "
          + ",".join(detail["active_queries"]), file=sys.stderr)

    payload = {
        "metric": "pages_per_sec_spatial_pipeline",
        "value": round(pages_per_sec, 1),
        "unit": "sec",
        "queries": q_times,
        "sf": sf,
        "cpus": cpus,
    }
    if flagship_steady is not None:
        payload["flagship_steady_sec"] = flagship_steady
    if errors:
        payload["errors"] = errors
    if skipped:
        payload["skipped_on_deadline"] = skipped
    print(json.dumps(payload))
    if errors:
        # loud failure channel: the JSON line above always prints (the
        # driver parses stdout), but CI / strict runs get a nonzero exit
        print(f"BENCH ERRORS: {sorted(errors)}", file=sys.stderr)
        if os.environ.get("SPARK_GRAFT_BENCH_STRICT"):
            sys.exit(1)


if __name__ == "__main__":
    main()
