"""Gate-query CLI: run the ``__spark_entry__.queries()`` battery, or a
named subset of it, four ways over one Spark session.

    python tools/gate.py oracle SF [q ...]
    python tools/gate.py snapshot save|diff DIR SF [q ...]
    python tools/gate.py time SF REPEATS q ...
    python tools/gate.py plan SF [--out DIR] [q ...]

- ``oracle``: Spark's rows against ``oracle_sql()`` on DuckDB over the
  same parquet dir: row count, column names and the 9-significant-digit
  hash of ``tools/canon.py``.  Queries with no oracle report rows only.
- ``snapshot``: the bit-exact Spark-vs-Spark check for optimisation
  work.  ``save`` writes one hash file per query to DIR; ``diff``
  recomputes and compares.
- ``time``: wall seconds of REPEATS build -> noop-write runs per query,
  bench.py's own measurement (``bench.time_query``), with bench.py's
  write-query cap.  Besides each run's total it prints the minimum
  DataFrame build time (driver work) and the minimum action time apart.
  For a before/after, run it once per tree with ``PYTHONPATH`` pointing
  at a checkout of the other commit.
- ``plan``: per-query counts of shuffle and broadcast exchanges, join
  kinds and Arrow nodes (ArrowEvalPython, MapInArrow) from the formatted
  physical plan; ``--out`` also writes each plan to DIR/<query>.txt.  A
  Python node outside the engine's one boundary style — a row-at-a-time
  UDF (BatchEvalPython), MapInPandas, or an ArrowEvalPython running a
  pandas UDF — in any plan is a failure.

SF is a testdata dir of parquet tables (the layout ``queries()`` reads).
Each query prints one verdict line; the exit status is non-zero if any
query fails.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

# appended, not prepended: a PYTHONPATH checkout wins over this tree
sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("oracle")
    p.add_argument("sf")
    p.add_argument("queries", nargs="*")
    p = sub.add_parser("snapshot")
    p.add_argument("mode", choices=["save", "diff"])
    p.add_argument("dir")
    p.add_argument("sf")
    p.add_argument("queries", nargs="*")
    p = sub.add_parser("time")
    p.add_argument("sf")
    p.add_argument("repeats", type=int)
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("plan")
    p.add_argument("sf")
    p.add_argument("--out")
    p.add_argument("queries", nargs="*")
    # queries after ``--out DIR`` arrive as extras: argparse fills a
    # positional list only once
    args, extra = ap.parse_known_args(argv)
    args.queries += extra
    return args


def _oracle(args, spark):
    import canon  # tools/ is sys.path[0] when run as a script
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for p in glob.glob(f"{args.sf}/*.parquet"):
        name = os.path.basename(p).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracles = entrymod.oracle_sql()

    def check(name, fn):
        df = fn(spark, args.sf)
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
        if name not in oracles:
            return True, f"rows={len(rows)} (rows-only, no oracle)"
        return canon.compare_oracle(con, oracles[name], cols, rows)

    return check


def _snapshot(args, spark):
    import canon

    os.makedirs(args.dir, exist_ok=True)

    def check(name, fn):
        df = fn(spark, args.sf)
        rows = df.collect()
        rec = {"hash": canon.snapshot_hash(df.columns, rows), "rows": len(rows),
               "cols": df.columns}
        path = os.path.join(args.dir, f"{name}.json")
        if args.mode == "save":
            with open(path, "w") as fh:
                json.dump(rec, fh)
            return True, f"saved {len(rows)} rows"
        if not os.path.exists(path):
            return False, "NO BASELINE"
        with open(path) as fh:
            want = json.load(fh)
        if want != rec:
            return False, f"FAIL want={want} got={rec}"
        return True, f"PASS ({len(rows)} rows)"

    return check


def _time(args, spark):
    import bench

    os.environ.setdefault("SPARK_GRAFT_WRITE_QUERY_CAP", "100000")

    def check(name, fn):
        runs = bench.time_query(spark, fn, args.sf, args.repeats)
        totals = [round(b + a, 3) for b, a in runs]
        build, action = (round(min(ts), 3) for ts in zip(*runs))
        return True, f"min={min(totals)} build_min={build} action_min={action} runs={totals}"

    return check


def node_count(plan: str, op: str) -> int:
    """Distinct physical nodes of type ``op`` in a formatted plan, by the
    ``(n) <op>`` header each node gets once in the details section: the
    formatted mode prints every node twice (tree and details), so a
    substring count doubles, and a tree line may put arguments between
    the name and the id (``BroadcastHashJoin Inner BuildRight (7)``)."""
    return len(set(re.findall(rf"^\((\d+)\) {op}\b", plan, re.M)))


def python_nodes(plan: str) -> tuple[int, int]:
    """(Arrow Python nodes, pandas or row-at-a-time Python nodes) of a
    formatted plan.  An ArrowEvalPython node prints its UDFs' eval type
    last in its ``Arguments`` line; a pandas UDF's (200 scalar, 204
    scalar iterator) counts as pandas."""
    from pyspark.util import PythonEvalType

    pandas_types = {
        PythonEvalType.SQL_SCALAR_PANDAS_UDF, PythonEvalType.SQL_SCALAR_PANDAS_ITER_UDF
    }
    eval_types = re.findall(
        r"^\(\d+\) ArrowEvalPython\nInput.*\nArguments: .*, (\d+)$", plan, re.M
    )
    pandas_arrow = sum(int(t) in pandas_types for t in eval_types)
    arrow = node_count(plan, "ArrowEvalPython") + node_count(plan, "MapInArrow")
    other = node_count(plan, "BatchEvalPython") + node_count(plan, "MapInPandas")
    return arrow - pandas_arrow, other + pandas_arrow


def _plan(args, spark):
    if args.out:
        os.makedirs(args.out, exist_ok=True)

    def check(name, fn):
        df = fn(spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if args.out:
            with open(os.path.join(args.out, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        arrow, other = python_nodes(plan)
        return not other, (
            f"shuffle_exchanges={node_count(plan, 'Exchange')} "
            f"broadcast={node_count(plan, 'BroadcastExchange')} "
            f"bhj={node_count(plan, 'BroadcastHashJoin')} "
            f"smj={node_count(plan, 'SortMergeJoin')} "
            f"arrow={arrow} other_python={other}"
            + (" FAIL pandas or row-at-a-time Python node in plan" if other else "")
        )

    return check


def main(argv: list[str]) -> int:
    args = _args(argv)

    import __spark_entry__ as entrymod
    from ot_spark.session import get_spark

    qs = entrymod.queries()
    unknown = [n for n in args.queries if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    modes = {"oracle": _oracle, "snapshot": _snapshot, "time": _time, "plan": _plan}
    check = modes[args.cmd](args, get_spark(f"gate_{args.cmd}"))
    failed = []
    for name in args.queries or qs:
        t0 = time.time()
        try:
            ok, verdict = check(name, qs[name])
        except Exception as exc:  # noqa: BLE001 — per-query isolation
            ok, verdict = False, f"ERROR {type(exc).__name__}: {exc}"[:300]
        print(f"{name:>20}: {verdict} {time.time() - t0:.1f}s", flush=True)
        if not ok:
            failed.append(name)
    if failed:
        print(f"FAILED: {failed}")
        return 1
    print(f"all {len(args.queries or qs)} queries pass")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
