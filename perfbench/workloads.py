"""The workloads: what a pass does, the set-up it needs, the layer cuts
of a traced run and the independent output checks.

Importing this module imports the program's modules, which set-up time
counts; the benchmark's own input generator and DuckDB are imported
later, outside set-up."""

from __future__ import annotations

import os
import random
import re
import shutil
import statistics
import time
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Observation
from pyspark.sql import functions as F

from harness import Run, Session
from ot_spark import filters, parse, semi
from ot_spark.area_index import build_area_index
from ot_spark.enrich_fused import spatial_enrich
from ot_spark.pipeline import Pipeline, PipelineConfig
from ot_spark.raster import RasterIndex

SAMPLE_ROWS = 200


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ set-up

def fixture_rows():
    """Admin polygons and raster tiles of the repo's fixture (untimed)."""
    from ot_spark.synth import gen_admin_polygons, gen_raster_tiles

    rows = [(r["key"], r["name"], r["wkt"]) for r in gen_admin_polygons().to_pylist()]
    return rows, gen_raster_tiles()


def build_indexes(rows, tiles, timings: dict) -> tuple:
    t0 = time.perf_counter()
    idx = build_area_index(rows, tile_size=1.0)
    t1 = time.perf_counter()
    ridx = RasterIndex.from_arrow(tiles)
    t2 = time.perf_counter()
    timings["area_index.build_area_index_s"] = t1 - t0
    timings["raster.RasterIndex_s"] = t2 - t1
    return idx, ridx


class Workload:
    name = ""
    # Timed passes are taken for --seconds and at least min_passes times:
    # single passes swing ~10% on a shared 4-core host, so wall_s needs a
    # median over several.  warmup_passes untimed passes follow the cold
    # one: pass times fall steeply for the first three or so, then by a few
    # percent a pass for several more while JIT compilation competes with
    # the tasks for the cores, so wall_s is always taken at the same pass
    # numbers.  A traced run takes at least trace_rounds rounds (odd, so the
    # median of the paired differences is one of them).
    min_passes = 8
    warmup_passes = 5
    trace_rounds = 3

    def __init__(self, run: Run, session: Session, sizes: dict, cache_root: str):
        self.run = run
        self.session = session
        self.sizes = sizes
        self.cache_root = cache_root

    # -- hooks
    def prepare(self) -> None:
        """Make the inputs and the fixture rows (untimed; no Spark)."""
        self.rows, self.tiles = fixture_rows()

    def setup(self, spark, timings: dict) -> None:
        """Index builds and plan assembly (timed as set-up)."""
        self.idx, self.ridx = build_indexes(self.rows, self.tiles, timings)

    def one_pass(self, spark, i: int) -> None:
        raise NotImplementedError

    def between_passes(self) -> None:
        """Runs after every pass, outside the timed region."""

    def after_passes(self, spark) -> None:
        """Workload-specific operations after the timed passes."""

    def check(self, spark) -> None:
        raise NotImplementedError

    def layer_cuts(self, spark) -> None:
        """The noop-sink prefix cuts of one traced round (job group
        "cut"), after its untraced and traced plain passes."""
        raise NotImplementedError

    def trace_layers(self, spark) -> dict[str, float]:
        raise NotImplementedError

    def human_lines(self) -> list[str]:
        return []


# ---------------------------------------------------------------- flagship

class Flagship(Workload):
    """read -> parse -> complex_filter -> remove_tags -> spatial_enrich ->
    noop, the paper's headline chain (bench.py's flagship)."""

    name = "flagship"
    CUTS = ("scan", "parse", "filter", "project", "enrich")

    def prepare(self) -> None:
        import inputs

        super().prepare()
        self.inp = inputs.make_inputs(self.cache_root, self.run.seed,
                                      self.sizes["pages"], with_links=False)

    def setup(self, spark, timings: dict) -> None:
        super().setup(spark, timings)
        t0 = time.perf_counter()
        self.plan = self.chain(spark)["enrich"]
        timings["plan.assemble_s"] = time.perf_counter() - t0

    def chain(self, spark, observe: dict | None = None) -> dict:
        """The prefix plans, one per cut; ``observe`` (name -> Observation)
        attaches row counters at the layer boundaries.  Catalyst does not
        push filters through an observation, so an observed plan does more
        work than the plain one and is never timed as a layer."""

        def obs(df, name, *exprs):
            if observe is None:
                return df
            return df.observe(observe[name], F.count(F.lit(1)).alias("rows"), *exprs)

        out = {}
        df = obs(spark.read.parquet(self.inp["pages"]), "scan")
        out["scan"] = df
        df = parse.with_coordinates(df)
        df = obs(df, "parse", F.count_if(F.col("lat").isNotNull()).alias("with_coords"))
        out["parse"] = df
        df = obs(filters.complex_filter(df), "filter")
        out["filter"] = df
        df = filters.remove_tags(df)
        out["project"] = df
        df = spatial_enrich(df, self.idx, self.ridx)
        border = F.col("grid_cell").isin([int(c) for c in self.idx.border_cells])
        df = obs(
            df, "enrich",
            F.count_if(border).alias("border_rows"),
            F.count_if(border & F.col("admin_key").isNotNull()).alias("border_keyed"),
        )
        out["enrich"] = df
        return out

    def one_pass(self, spark, i: int) -> None:
        noop(self.plan)

    def layer_cuts(self, spark) -> None:
        plain = self.chain(spark)
        self.session.group("cut")
        for cut in self.CUTS:
            with self.run.spans.span(f"cut.{cut}"):
                noop(plain[cut])

    def trace_layers(self, spark) -> dict[str, float]:
        # the row counters come from a separate observed pass; its extra
        # time over the untraced plain pass is the cost of observing
        observations = {n: Observation(n) for n in ("scan", "parse", "filter", "enrich")}
        self.session.group("observe")
        with self.run.spans.span("observed_pass"):
            noop(self.chain(spark, observations)["enrich"])
        sp = self.run.spans
        cut = {c: _median(sp.durations(f"cut.{c}")) for c in self.CUTS}
        obs = {n: o.get for n, o in observations.items()}
        border = obs["enrich"]["border_rows"]
        return {
            "scan.s": cut["scan"],
            "parse.with_coordinates.s": cut["parse"] - cut["scan"],
            "filters.complex_filter.s": cut["filter"] - cut["parse"],
            "filters.remove_tags.s": cut["project"] - cut["filter"],
            "enrich_fused.spatial_enrich.s": cut["enrich"] - cut["project"],
            "layers.sum_s": cut["enrich"],
            "parse.rows_with_coords": obs["parse"]["with_coords"],
            "filters.complex_filter.selectivity": obs["filter"]["rows"] / obs["scan"]["rows"],
            "enrich_fused.border_rows": border,
            "enrich_fused.pip_hit_ratio": obs["enrich"]["border_keyed"] / border if border else 0.0,
            "trace.observe_overhead_s": (_median(sp.durations("observed_pass"))
                                         - _median(sp.durations("untraced_pass"))),
        }

    def check(self, spark) -> None:
        """One action: the output row count (observed before the sample
        filter) and a fixed sample of rows, both against DuckDB and the
        index probes."""
        run = self.run
        lo, n = self.inp["first_doc_id"], self.inp["n_pages"]
        rng = random.Random(run.seed)
        sample = rng.sample(range(lo, lo + n), SAMPLE_ROWS // 2)
        sample += rng.sample(range(lo, lo + n, 2), SAMPLE_ROWS // 2)
        total = Observation("total")
        rows = run.attempt(
            "flagship output collect",
            lambda: self.plan.observe(total, F.count(F.lit(1)).alias("rows"))
            .where(F.col("doc_id").isin(sample))
            .select("doc_id", "lat", "lon", "admin_key", "elev").collect(),
        )
        if rows is None:
            return
        got, want = total.get["rows"], filter_count_duckdb(lo, n)
        run.op(got == want, f"flagship rows {got} != DuckDB {want}", mismatch=True)
        by_id = {r["doc_id"]: r for r in rows}
        passing = set(sample_passes_duckdb(sample))
        for doc_id in sorted(set(sample)):
            r = by_id.get(doc_id)
            if (r is not None) != (doc_id in passing):
                run.op(False, f"doc {doc_id}: present={r is not None}", mismatch=True)
                continue
            if r is None:
                continue
            run.op(check_row(r, doc_id, self.idx, self.ridx),
                   f"doc {doc_id}: admin/elev {r}", mismatch=True)


def filter_count_duckdb(lo: int, n: int) -> int:
    import duckdb

    from ot_spark import pagesview

    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(*) FROM range({lo}, {lo + n}) t(doc_id) "
            f"WHERE {pagesview.complex_filter_sql()}"
        ).fetchone()[0]
    finally:
        con.close()


def sample_passes_duckdb(ids: list[int]) -> list[int]:
    import duckdb

    from ot_spark import pagesview

    con = duckdb.connect()
    try:
        values = ", ".join(f"({i})" for i in ids)
        return [r[0] for r in con.execute(
            f"SELECT doc_id FROM (VALUES {values}) t(doc_id) "
            f"WHERE {pagesview.complex_filter_sql()}"
        ).fetchall()]
    finally:
        con.close()


def _coords(doc_id: int) -> tuple[int, int] | None:
    """(lat*100, lon*100) of a generated page, None when it embeds none."""
    if doc_id % 10 > 7:
        return None
    if doc_id % 2 == 0:
        lat100, lon100 = doc_id * 7919 % 400, doc_id * 104729 % 800
    else:
        lat100 = doc_id * 7919 % 18000 - 9000
        lon100 = doc_id * 104729 % 36000 - 18000
    return lat100, lon100


def expected_elev(ridx, lat: float, lon: float) -> float | None:
    """Finest tile whose [min, max) box holds the point, then the pixel
    under it (GeoTIFF affine); NoData is None; rounded half-up to 2."""
    import math

    for t in ridx.tiles:
        if t["min_lon"] <= lon < t["max_lon"] and t["min_lat"] <= lat < t["max_lat"]:
            px = min(max(math.floor((lon - t["min_lon"]) / t["pixel_w"]), 0), t["width"] - 1)
            py = min(max(math.floor((t["max_lat"] - lat) / t["pixel_h"]), 0), t["height"] - 1)
            v = float(t["grid"][py, px])
            if v == t["nodata"]:
                return None
            return float(Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_UP))
    return None


def check_row(r, doc_id: int, idx, ridx) -> bool:
    c = _coords(doc_id)
    if c is None:
        return r["lat"] is None and r["admin_key"] is None and r["elev"] is None
    lat100, lon100 = c
    lat, lon = lat100 / 100.0, lon100 / 100.0
    if (r["lat"], r["lon"]) != (lat, lon):
        return False
    if r["elev"] != expected_elev(ridx, lat, lon):
        return False
    # points on a fixture polygon edge hit the reference's documented
    # grid-edge limitation; __spark_entry__ excludes the same set
    on_edge = (lat100 % 50 == 0 or lon100 % 50 == 0
               or lon100 + lat100 == 900 or lon100 - lat100 == 400)
    return on_edge or r["admin_key"] == idx.probe(lat, lon)


# ---------------------------------------------------------- pipeline_write

class PipelineWrite(Workload):
    """submit.py's shape: Pipeline(PipelineConfig(...)).run writing 64
    bucket parquet + lineage + snapshot into a fresh directory per pass."""

    name = "pipeline_write"
    # a pass costs ~4 s, mostly fixed per-job and per-file costs, so fewer
    # warm-up passes keep a run inside the time budget
    min_passes = 4
    warmup_passes = 3

    def prepare(self) -> None:
        import inputs

        super().prepare()
        self.inp = inputs.make_inputs(self.cache_root, self.run.seed,
                                      self.sizes["pages"], with_links=True)
        self.out_root = os.path.join(self.run.tmp_root, "out")
        os.makedirs(self.out_root, exist_ok=True)
        self.done: list[str] = []
        self.n_runs = 0
        self.last_info = None
        self.resume_s = None

    def config(self, out_dir: str, run_id: str | None = None):
        """``run_id`` is set from the seed so a run is a function of its
        seed: the program's default, uuid4().hex[:12], is sometimes a
        string like "8e91234567" that Spark's partition inference reads as
        a decimal with a huge exponent and hangs on (see reference.json)."""

        return PipelineConfig(
            pages_path=self.inp["pages"], links_path=self.inp["links"],
            out_dir=out_dir, admin_index=self.idx, raster_index=self.ridx,
            run_id=run_id,
        )

    def setup(self, spark, timings: dict) -> None:
        super().setup(spark, timings)
        t0 = time.perf_counter()
        Pipeline(self.config(os.path.join(self.out_root, "plan"))).build(spark)
        timings["plan.assemble_s"] = time.perf_counter() - t0

    def one_pass(self, spark, i: int) -> None:
        self.n_runs += 1
        self.done.append(os.path.join(self.out_root, f"pass{self.n_runs}"))
        run_id = f"seed{self.run.seed}pass{self.n_runs}"
        self.last_info = Pipeline(self.config(self.done[-1], run_id)).run(spark)

    def between_passes(self) -> None:
        """Delete all but the newest output so disk use stays flat."""
        for out in self.done[:-1]:
            for p in (out, f"{out}_lineage"):
                shutil.rmtree(p, ignore_errors=True)
        del self.done[:-1]

    def after_passes(self, spark) -> None:
        """Re-run the last config over its completed output: submit.py's
        resume path.  Only a successful re-run gives resume_s."""

        run = self.run
        t0 = time.perf_counter()
        info = run.attempt(
            "pipeline resume (same PipelineConfig over completed output)",
            lambda: Pipeline(self.config(self.done[-1], f"seed{run.seed}resume")).run(spark),
        )
        self.resume_info = info
        if info is not None:
            self.resume_s = time.perf_counter() - t0
            run.op(info["buckets_written"] == 0,
                   f"resume wrote {info['buckets_written']} buckets", mismatch=True)
        self.storage = storage_stats(self.done[-1], self.inp["pages"])

    def check(self, spark) -> None:
        run = self.run
        info = self.last_info
        out_rows = info["metrics"]["output"]["rows"]
        lineage_rows = run.attempt(
            "lineage row_count sum",
            lambda: spark.read.parquet(f"{self.done[-1]}_lineage")
            .agg(F.sum("row_count")).first()[0],
        )
        read_back = run.attempt("read back output",
                                lambda: spark.read.parquet(self.done[-1]).count())
        want = expected_kept(self.inp)
        run.op(lineage_rows == out_rows == read_back == want,
               f"rows: lineage {lineage_rows}, metrics {out_rows}, "
               f"read back {read_back}, expected {want}", mismatch=True)

    def layer_cuts(self, spark) -> None:
        pages = spark.read.parquet(self.inp["pages"])
        links = spark.read.parquet(self.inp["links"])
        kept = semi.filter_referenced(pages, links)
        self.session.group("cut")
        with self.run.spans.span("cut.scan"):
            noop(pages)
        with self.run.spans.span("cut.semi"):
            noop(kept)
        with self.run.spans.span("cut.parse"):
            noop(parse.with_coordinates(filters.remove_metadata(kept)))
        with self.run.spans.span("cut.build"):
            noop(Pipeline(self.config(os.path.join(self.out_root, "plan"))).build(spark))

    def trace_layers(self, spark) -> dict[str, float]:
        sp = self.run.spans
        cut = {c: _median(sp.durations(f"cut.{c}")) for c in ("scan", "semi", "parse", "build")}
        run_s = _median(sp.durations("untraced_pass"))
        m = self.last_info["metrics"]
        st = self.storage
        return {
            "scan.s": cut["scan"],
            "semi.filter_referenced.s": cut["semi"] - cut["scan"],
            "parse.with_coordinates.s": cut["parse"] - cut["semi"],
            "pipeline.enrich_stage.s": cut["build"] - cut["parse"],
            "lineage.write_with_lineage.s": run_s - cut["build"],
            "layers.sum_s": run_s,
            "semi.rows_kept_ratio": m["accepted"]["rows"] / m["input"]["rows"],
            "lineage.files_written": st["files"],
            "lineage.bytes_written": st["bytes"],
            "lineage.write_amp": st["write_amp"],
            "lineage.buckets_written": self.last_info["buckets_written"],
            "lineage.buckets_skipped": self.last_info["buckets_skipped"],
            "lineage.resume_failed": 0 if self.resume_info is not None else 1,
        }

    def human_lines(self) -> list[str]:
        st = self.storage
        lines = [f"write_amp = {st['write_amp']:.4f} byte/byte "
                 f"({st['bytes']} bytes in {st['files']} parquet files under "
                 f"output + lineage / input parquet bytes)"]
        if self.resume_s is None:
            lines.append("resume_s = n/a: the re-run over the completed output "
                         "failed (counted in ops_failed)")
        else:
            lines.append(f"resume_s = {self.resume_s:.4f} s")
        return lines


def storage_stats(out_dir: str, input_dir: str) -> dict:
    def walk(path):
        files = sizes = 0
        for d, _, fs in os.walk(path):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    sizes += os.path.getsize(os.path.join(d, f))
        return files, sizes

    files, out_b = walk(out_dir)
    _, lin_b = walk(f"{out_dir}_lineage")
    _, in_b = walk(input_dir)
    return {"files": files, "bytes": out_b + lin_b,
            "write_amp": (out_b + lin_b) / in_b if in_b else 0.0}


def _accepts(attrs: dict) -> bool:
    """The reference's routing filter written out in Python:
    (good key OR good key=value OR no bad key) AND NOT only-removable-keys."""
    keys = list(attrs)
    good = (any(k in filters.GOOD_KEYS for k in keys)
            or any(attrs.get(k) == v for k, v in filters.GOOD_KEY_VALUES.items())
            or not any(k in filters.BAD_KEYS for k in keys))
    only_removable = all(re.search(filters.TAGS_TO_REMOVE, k) for k in keys)
    return good and not only_removable


def expected_kept(inp: dict) -> int:
    """Pages referenced by an accepted link (each page has <= 1 link)."""
    import pyarrow.parquet as pq

    links = pq.read_table(inp["links"]).to_pylist()
    return sum(len(lk["refs"]) for lk in links if _accepts(dict(lk["attrs"])))


WORKLOADS = {w.name: w for w in (Flagship, PipelineWrite)}
