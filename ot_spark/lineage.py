"""Per-partition lineage records + exact resume (north_rule requirement).

The reference is a single-process tool whose only resumability is "re-run
the whole file"; the graft mandates: every partition emits a lineage record
(cell range, row count, checksum) to a checkpoint table enabling exact
resume.  Implemented as idempotent batch-with-checkpoint (SURVEY.md §2.7 —
deliberately NOT Structured Streaming):

- the output is partitioned by (bucket, run): ``bucket=<b>/run=<run_id>/``
  — cells of one bucket co-locate, bucket count bounds task/file counts
  independent of data scale, and a committed (bucket, run) directory is
  IMMUTABLE: no later run ever writes into it, so snapshots that pin
  (bucket, run) pairs return byte-identical content forever (Iceberg's
  data-file pinning, expressed as partition dirs);
- a write first anti-joins buckets already present in the lineage table
  (broadcast — lineage is tiny), deletes its own run's unrecorded
  ``run=<run_id>`` dirs (a same-run_id retry's crash leftovers), appends
  the remainder under its own ``run=<run_id>`` subdirs, then appends one
  lineage row per completed bucket: ``(run_id, bucket, cell_min, cell_max,
  row_count, checksum, files, ts)`` — ``files`` lists the data files,
  manifest-style.  The lineage rows are collected to the driver and
  appended like every other metadata log (``_write_tiny``);
- checksum is ``bit_xor(xxhash64(key cols))`` — order-insensitive,
  overflow-free (ANSI-safe), cheap in codegen;
- resume = call the same function again: completed buckets are skipped
  exactly, partial buckets are rewritten under the new run_id;
- CURRENT state = :func:`read_current` (semi-join on lineage's
  (bucket, run) pairs).  Files from crashed runs that never reached
  lineage are ORPHANS: invisible to every read path, reclaimed by
  :func:`remove_orphans` (Iceberg's orphan-file maintenance).

Crash-safety argument: the lineage row for a bucket is appended only after
the bucket's files are committed; a crash in between leaves the bucket
absent from lineage -> next run rewrites it under a fresh run dir and the
half-written files are orphaned, never read.

One writer per table: the pre-write delete of this run's dirs and the
snapshot numbering (``_append_snapshot``, read-modify-write) take no lock.
"""

from __future__ import annotations

import contextlib
import functools
import operator
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import arrow_table, local_df

BUCKET_COL = "cell_bucket"
RUN_COL = "run"


def with_bucket(df: DataFrame, n_buckets: int = 64) -> DataFrame:
    """NULL cells (no coords / poles) go to bucket -1."""
    return df.withColumn(
        BUCKET_COL,
        F.coalesce(F.pmod(F.col("grid_cell"), F.lit(n_buckets)), F.lit(-1)).cast("int"),
    )


def _hadoop_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``: local and remote URIs go
    through the one FileSystem API Spark itself writes with."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _bucket_of(status) -> int:
    """The bucket of a ``<bucket col>=<b>/<run col>=<id>`` dir's FileStatus."""
    return int(status.getPath().getParent().getName().partition("=")[2])


def _exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_path(spark, path)
    return fs.exists(p)


PROPS_SUBDIR = "_properties"  # leading underscore: Spark readers skip it


def _tiny_df(spark: SparkSession, rows: list, schema: str | StructType) -> DataFrame:
    """Single-partition DataFrame for metadata-log writes.

    ``createDataFrame(local_rows)`` slices the rows into defaultParallelism
    LocalTableScan partitions; pulling those through ``coalesce(1)`` costs
    ~150 ms PER SLICE in local mode (measured: every one-row metadata write
    took ~5 s at local[32], regardless of sink format — the bulk of
    snapshot_read's round-5 regression).  parallelize(rows, 1) pins ONE
    slice at creation: no coalesce, no shuffle, one task."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def _local_fs_path(path: str) -> str | None:
    """Local filesystem path for ``path``, or None for a remote URI."""
    p = path[7:] if path.startswith("file://") else path
    return None if "://" in p else p


def _write_tiny(
    spark: SparkSession, rows: list, schema: str | StructType, path: str,
    mode: str = "append",
) -> None:
    """Append/overwrite a tiny metadata log.

    Iceberg writes table metadata DRIVER-SIDE (through FileIO), never as
    cluster jobs — the symmetric twin of ``_meta_rows``'s local read
    fast-path.  Each metadata write issued as a Spark job pays whole-job
    scheduling latency to move a handful of rows (measured ~0.15 s per
    write at local[32]; a snapshot commit does three of them).  Local
    paths write through pyarrow (``_put_parquet``), typed by the same
    schema the Spark fallback uses, so footer types do not depend on the
    writer; non-local URIs (s3://, hdfs://) use the one-task Spark write."""
    local = _local_fs_path(path)
    if local is None:
        _tiny_df(spark, rows, schema).write.mode(mode).parquet(path)
        return
    import shutil

    if mode == "overwrite" and os.path.exists(local):
        shutil.rmtree(local)
    os.makedirs(local, exist_ok=True)
    _put_parquet(arrow_table(rows, schema), local)


def _put_parquet(table, local_dir: str) -> None:
    """Add ``table`` to ``local_dir`` as a new part file, renamed into place
    from a hidden temp name so readers only see complete files (a crash
    leaves a ``.part-*.tmp`` that Spark and the ``*.parquet`` globs skip)."""
    import pyarrow.parquet as pq

    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(local_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(local_dir, name))


def write_table_properties(spark: SparkSession, out_dir: str, props: dict) -> None:
    """Persist table properties (the osmosis_replication_timestamp analog,
    /root/reference/src/utils.rs:4-8) as a tiny parquet sidecar under the
    output dir — scheme-agnostic (no driver-local fs ops), invisible to
    readers of the data dir itself."""
    rows = [(str(k), str(v)) for k, v in sorted(props.items())]
    _write_tiny(
        spark, rows, "key string, value string",
        f"{out_dir}/{PROPS_SUBDIR}", mode="overwrite",
    )


def read_table_properties(spark: SparkSession, in_dir: str) -> dict:
    """Properties of ``in_dir``; ``{}`` when it has no sidecar."""
    path = f"{in_dir}/{PROPS_SUBDIR}"
    if not _exists(spark, path):
        return {}
    return {r["key"]: r["value"] for r in spark.read.parquet(path).collect()}


def propagate_table_properties(spark: SparkSession, in_dir: str, out_dir: str) -> dict:
    """input -> output property carry-through, mirroring the reference's
    end-to-end replication-timestamp preservation
    (tests/integration_test.rs:267-291)."""
    props = read_table_properties(spark, in_dir)
    if props:
        write_table_properties(spark, out_dir, props)
    return props


def _completed_bucket_list(
    spark: SparkSession, lineage_path: str
) -> list[int] | None:
    """Distinct completed buckets, read DRIVER-SIDE on local paths (the
    lineage table is bounded by bucket count x runs — metadata scale);
    falls back to a Spark distinct+collect on remote URIs."""
    if not _exists(spark, lineage_path):
        return None
    local = _local_fs_path(lineage_path)
    if local is not None:
        import glob as _glob

        import pyarrow.parquet as pq

        files = sorted(_glob.glob(os.path.join(local, "*.parquet")))
        if not files:
            return None
        seen: set[int] = set()
        for f in files:
            seen.update(
                pq.read_table(f, columns=[BUCKET_COL])
                .column(BUCKET_COL)
                .to_pylist()
            )
        return sorted(seen)
    return sorted(
        r[BUCKET_COL]
        for r in spark.read.parquet(lineage_path)
        .select(BUCKET_COL)
        .distinct()
        .collect()
    )


@contextlib.contextmanager
def _observations_kept(spark: SparkSession):
    """Keep ``df.observe`` counters of the written frame alive when its
    shuffle stage comes out empty (a resume whose completed buckets cover
    every row): AQE would replace that stage with an empty relation, the
    final plan would lose the CollectMetrics nodes below it, and every
    Observation on the frame would fail.  Scoped to the write action."""
    key = "spark.sql.adaptive.optimizer.excludedRules"
    prev = spark.conf.get(key, None)
    rule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    spark.conf.set(key, f"{prev},{rule}" if prev else rule)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def write_with_lineage(
    df: DataFrame,
    out_dir: str,
    lineage_path: str,
    key_cols: list[str],
    n_buckets: int = 64,
    run_id: str | None = None,
    snapshot: bool = True,
    audit_input: bool = False,
) -> dict:
    """Write df partitioned by (cell bucket, run) with lineage; skips
    buckets the lineage table already records. Returns summary counters.

    ``audit_input``: lineage facts normally come from a read-back of the
    committed files, which audits POST-COMMIT drift but cannot see a
    write-time input-vs-disk divergence.  Setting this recomputes the
    global (count, checksum) from the INPUT frame too (one extra pass over
    the upstream DAG — the cost the read-back exists to avoid; use at
    validation scale, not per-commit at 100 TB) and raises if the disk
    disagrees.

    A snapshot commit whose data columns differ from the last snapshot's
    raises ``ValueError`` before anything is written.

    Assumes one writer per table at a time (see the module docstring)."""
    spark = df.sparkSession
    data_schema = StructType(
        [f for f in df.schema if f.name not in (BUCKET_COL, RUN_COL)]
    ).simpleString()
    last = _last_snapshot(spark, out_dir) if snapshot else None
    last_schema = getattr(last, "data_schema", None)
    if last_schema not in (None, data_schema):
        raise ValueError(
            f"{out_dir}: data schema {data_schema} differs from the last "
            f"snapshot's {last_schema}; write a new table instead"
        )
    # a leading letter keeps partition discovery from typing run=<id> as a
    # number (an all-digit id, or one like 12345e67890)
    run_id = run_id or f"r{uuid.uuid4().hex[:12]}"
    bucketed = with_bucket(df, n_buckets)

    done = set(_completed_bucket_list(spark, lineage_path) or ())
    skipped = len(done)
    if done:
        done_df = local_df(spark, [(int(b),) for b in sorted(done)], f"{BUCKET_COL} int")
        bucketed = bucketed.join(F.broadcast(done_df), BUCKET_COL, "left_anti")

    # idempotency: every run writes only under its own run=<id> subdirs, so
    # committed (bucket, run) dirs are never touched; a half-written bucket
    # from a crashed run is re-written under the NEW run id and the crashed
    # files become unreferenced orphans (see remove_orphans).  A retry under
    # the crashed run's OWN id first deletes that run's dirs for buckets
    # lineage does not record, so the append below cannot duplicate rows.
    fs, run_dirs = _hadoop_path(spark, f"{out_dir}/{BUCKET_COL}=*/{RUN_COL}={run_id}")
    for st in fs.globStatus(run_dirs) or []:
        if _bucket_of(st) not in done:
            fs.delete(st.getPath(), True)

    # hash-distribute on bucket before the partitioned write (Iceberg's
    # write.distribution-mode=hash): without it every upstream task emits
    # a file into every bucket dir — tasks x buckets small files, the
    # classic partitioned-write explosion at 100 TB (and measurably most
    # of this write's cost at gate scale).  One shuffle, one file per
    # (bucket, run).  No explicit partition count: repartition(n, col) pins
    # REPARTITION_BY_NUM, which disables AQE coalescing/skew-splitting on
    # this exchange — column-only keeps it REPARTITION_BY_COL so AQE can
    # rebalance straggler buckets; each bucket still hashes to exactly one
    # reducer, preserving one file per (bucket, run).
    frame = bucketed.repartition(F.col(BUCKET_COL)).withColumn(RUN_COL, F.lit(run_id))
    with _observations_kept(spark):
        frame.write.partitionBy(BUCKET_COL, RUN_COL).mode("append").parquet(out_dir)

    # lineage facts come from a READ-BACK of the committed bucket files, not
    # from re-evaluating the input DAG (which would run the whole upstream
    # pipeline again for the agg and a third time for the count — the
    # round-2 3x-compute finding).  Reading what actually landed also makes
    # the checksum an integrity audit of the files themselves.  Restrict to
    # THIS run's dirs of buckets lineage does not record == exactly the
    # buckets this run committed, listed once; an empty input (or a resume
    # that skipped every bucket) wrote none and reads nothing.
    landed_dirs = [
        st.getPath().toString()
        for st in fs.globStatus(run_dirs) or []
        if _bucket_of(st) not in done
    ]
    rows = []
    if landed_dirs:
        # _metadata is a hidden column: select it at the scan (it does not
        # survive joins) so the lineage row can list its data files.
        # basePath recovers the partition cols; reading with the schema just
        # written means no footer inference job, and run stays a string
        # whatever the id looks like.
        cols = frame.schema
        landed = (
            spark.read.schema(StructType(
                [f for f in cols if f.name not in (BUCKET_COL, RUN_COL)]
                + [cols[BUCKET_COL], cols[RUN_COL]]
            ))
            .option("basePath", out_dir)
            .parquet(*landed_dirs)
            .select("*", F.col("_metadata.file_path").alias("__file"))
        )
        lineage = (
            landed.groupBy(BUCKET_COL)
            .agg(
                F.min("grid_cell").alias("cell_min"),
                F.max("grid_cell").alias("cell_max"),
                F.count(F.lit(1)).alias("row_count"),
                F.bit_xor(F.xxhash64(*key_cols)).alias("checksum"),
                F.collect_set(F.col("__file")).alias("files"),
            )
            .withColumn("run_id", F.lit(run_id))
            .withColumn("ts", F.lit(int(time.time() * 1000)))
        )
        # one row per bucket written: appended driver-side like the other
        # metadata logs, typed (nullability included) by the aggregate so
        # the file matches the lineage files Spark wrote before
        rows = lineage.collect()
        if rows:
            _write_tiny(spark, rows, lineage.schema, lineage_path)
    written = len(rows)
    if audit_input:
        want = bucketed.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*key_cols)).alias("h"),
        ).first()
        got_n = sum(r["row_count"] for r in rows)
        got_h = functools.reduce(operator.xor, [r["checksum"] for r in rows] or [None])
        if (want["n"], want["h"]) != (got_n, got_h):
            raise RuntimeError(
                f"write-time divergence: input (rows={want['n']}, "
                f"checksum={want['h']}) vs committed files "
                f"(rows={got_n}, checksum={got_h})"
            )
    snap_id = None
    if snapshot and _exists(spark, lineage_path):
        snap_id = _append_snapshot(
            spark, out_dir, lineage_path,
            None if last is None else last.snapshot_id,
            run_id, written, skipped, data_schema,
        )
    return {
        "run_id": run_id,
        "buckets_written": written,
        "buckets_skipped": skipped,
        "snapshot_id": snap_id,
    }


# ------------------------------------------------------- snapshot surface
# The graft's input_hint names an Iceberg table; without Iceberg jars in the
# sandbox we keep the SPIRIT of its metadata model on plain parquet: every
# write_with_lineage commit appends a snapshot row (id, parent, ts,
# operation, summary, data schema) to ``<out>/_snapshots`` and a manifest
# under ``<out>/_manifests/snap=<id>`` listing the buckets (files) VISIBLE
# at that snapshot with row counts + checksums — enabling time-travel reads
# of table membership and snapshot-pinned integrity audits for resume.
# Underscore prefixes keep both invisible to readers of the data dir.
#
# A table has ONE data schema: reads take the columns of whichever file
# footer Spark samples, so a commit that changed the columns could lose
# some silently.  A snapshot commit whose schema differs from the last
# snapshot's is refused before anything is written.

SNAPSHOTS_SUBDIR = "_snapshots"
MANIFESTS_SUBDIR = "_manifests"


def _last_snapshot(spark: SparkSession, out_dir: str):
    """The newest snapshot row, or None for a never-committed table."""
    rows = _meta_rows(spark, f"{out_dir}/{SNAPSHOTS_SUBDIR}")
    return max(rows, key=lambda r: r.snapshot_id) if rows else None


def _append_snapshot(
    spark: SparkSession,
    out_dir: str,
    lineage_path: str,
    parent: int | None,
    run_id: str,
    written: int,
    skipped: int,
    data_schema: str,
) -> int:
    snap_id = (parent or 0) + 1
    # manifest = full lineage state AS OF this commit (cumulative bucket
    # membership — Iceberg's manifest-list role); tiny: one row per bucket
    _copy_manifest(
        spark, lineage_path, f"{out_dir}/{MANIFESTS_SUBDIR}/snap={snap_id}"
    )
    row = [(
        snap_id,
        parent,
        int(time.time() * 1000),
        "append" if skipped else "overwrite",
        run_id,
        written,
        skipped,
        data_schema,
    )]
    _write_tiny(
        spark,
        row,
        "snapshot_id long, parent_id long, ts long, operation string, "
        "run_id string, buckets_written long, buckets_skipped long, "
        "data_schema string",
        f"{out_dir}/{SNAPSHOTS_SUBDIR}",
    )
    return snap_id


_MANIFEST_COLS = [
    BUCKET_COL, "cell_min", "cell_max", "row_count", "checksum",
    "run_id", "files",
]


def _copy_manifest(
    spark: SparkSession, lineage_path: str, dest: str
) -> None:
    """Snapshot the cumulative lineage state into a manifest dir.

    Driver-side on local paths (same FileIO discipline as ``_write_tiny``
    / ``_meta_rows``): the lineage table is one row per (bucket, run) —
    metadata scale — and a pyarrow read+write of it skips two whole Spark
    jobs (listing read + coalesced write) per commit.  Types are
    preserved exactly because the rows round-trip through arrow from the
    parquet footers Spark wrote.  Remote URIs use the Spark path."""
    local_src = _local_fs_path(lineage_path)
    local_dst = _local_fs_path(dest)
    if local_src is not None and local_dst is not None:
        import glob as _glob
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        files = sorted(_glob.glob(os.path.join(local_src, "*.parquet")))
        tables = [pq.read_table(f, columns=_MANIFEST_COLS) for f in files]
        merged = pa.concat_tables(tables, promote_options="default")
        if os.path.exists(local_dst):
            shutil.rmtree(local_dst)
        os.makedirs(local_dst)
        _put_parquet(merged, local_dst)
        return
    lin = spark.read.parquet(lineage_path).select(*_MANIFEST_COLS)
    lin.coalesce(1).write.mode("overwrite").parquet(dest)


def read_manifest(spark: SparkSession, out_dir: str, snapshot_id: int) -> DataFrame:
    return spark.read.parquet(
        f"{out_dir}/{MANIFESTS_SUBDIR}/snap={snapshot_id}"
    )


def _pinned_read(spark: SparkSession, out_dir: str, pins: DataFrame) -> DataFrame:
    """Data restricted to the (bucket, run) pairs in ``pins`` — partition
    pruning makes this touch only the pinned directories; the run column is
    dropped so reader-facing schema stays stable."""
    pairs = pins.select(
        BUCKET_COL, F.col("run_id").alias(RUN_COL)
    ).distinct()
    return (
        spark.read.parquet(out_dir)
        .join(F.broadcast(pairs), [BUCKET_COL, RUN_COL], "left_semi")
        .drop(RUN_COL)
    )


def read_current(spark: SparkSession, out_dir: str, lineage_path: str) -> DataFrame:
    """CURRENT table state: the (bucket, run) pairs the lineage table
    records.  Orphaned files from crashed runs are invisible here."""
    return _pinned_read(spark, out_dir, spark.read.parquet(lineage_path))


def read_as_of(spark: SparkSession, out_dir: str, snapshot_id: int) -> DataFrame:
    """Time-travel read: exactly the (bucket, run) directories committed as
    of ``snapshot_id``.  Committed run dirs are immutable, so this returns
    byte-identical CONTENT even after a later rewrite of the same bucket
    (full Iceberg data-file pinning, not just membership)."""
    return _pinned_read(spark, out_dir, read_manifest(spark, out_dir, snapshot_id))


def _meta_rows(spark: SparkSession, path: str) -> list | None:
    """Collected rows of a tiny metadata log, or None when absent.

    Iceberg reads table metadata DRIVER-SIDE (through FileIO), never as
    cluster jobs — a snapshot lookup that launches a Spark job
    pays whole-job scheduling latency to fetch a handful of rows (measured:
    issuing these lookups as jobs doubled snapshot_read).  Local paths read
    through pyarrow on the driver; non-local URIs (s3://, hdfs://) fall
    back to ONE Spark read+collect."""
    local = _local_fs_path(path)
    if local is not None:
        import glob as _glob
        from types import SimpleNamespace

        import pyarrow.parquet as pq

        files = sorted(_glob.glob(os.path.join(local, "*.parquet")))
        if not files:
            return None
        # two-pass manual mergeSchema: older-generation files lack columns
        # newer ones carry; every row gets the UNION of keys (None-filled)
        # so attribute access never depends on which file a row came from
        tables = [pq.read_table(f) for f in files]
        all_keys: list[str] = []
        for t in tables:
            for name in t.column_names:
                if name not in all_keys:
                    all_keys.append(name)
        rows: list = []
        for t in tables:
            rows.extend(
                SimpleNamespace(**{k: d.get(k) for k in all_keys})
                for d in t.to_pylist()
            )
        return rows
    try:
        # mergeSchema: files of older metadata generations lack columns
        # newer ones carry; the log is tiny, so the footer merge is free
        df = spark.read.option("mergeSchema", "true").parquet(path)
    except Exception:  # noqa: BLE001 — absent log
        return None
    return df.collect()


def audit_snapshot(
    spark: SparkSession, out_dir: str, snapshot_id: int, key_cols: list[str]
) -> DataFrame:
    """Snapshot-pinned integrity audit: recompute count+checksum of every
    bucket visible at ``snapshot_id`` from the CURRENT files and return the
    rows that disagree with that snapshot's manifest (empty == the resume
    state recorded then is still intact on disk)."""
    man = read_manifest(spark, out_dir, snapshot_id).select(
        BUCKET_COL, "row_count", "checksum"
    )
    actual = (
        read_as_of(spark, out_dir, snapshot_id)
        .groupBy(BUCKET_COL)
        .agg(
            F.count(F.lit(1)).alias("actual_rows"),
            F.bit_xor(F.xxhash64(*key_cols)).alias("actual_checksum"),
        )
    )
    return actual.join(man, BUCKET_COL, "full").where(
        ~F.col("actual_rows").eqNullSafe(F.col("row_count"))
        | ~F.col("actual_checksum").eqNullSafe(F.col("checksum"))
    )


def verify_against_lineage(
    spark: SparkSession, out_dir: str, lineage_path: str, key_cols: list[str]
) -> DataFrame:
    """Audit: recompute per-bucket count+checksum from the files the
    lineage table pins and join back; returns rows that disagree (empty =
    intact).  Detects POST-COMMIT drift (lost/corrupted files); write-time
    input-vs-disk divergence is ``write_with_lineage(audit_input=True)``'s
    job — the read-back-derived checksum here can't see it by
    construction."""
    out = read_current(spark, out_dir, lineage_path)
    actual = out.groupBy(BUCKET_COL).agg(
        F.count(F.lit(1)).alias("actual_rows"),
        F.bit_xor(F.xxhash64(*key_cols)).alias("actual_checksum"),
    )
    lin = spark.read.parquet(lineage_path).select(
        BUCKET_COL, "row_count", "checksum"
    )
    return actual.join(lin, BUCKET_COL, "full").where(
        ~F.col("actual_rows").eqNullSafe(F.col("row_count"))
        | ~F.col("actual_checksum").eqNullSafe(F.col("checksum"))
    )


def orphan_files(spark: SparkSession, out_dir: str, lineage_path: str) -> list[str]:
    """Data files under ``out_dir`` that no lineage row references —
    leftovers of runs that crashed between data commit and lineage append.
    Invisible to every read path; listed here for reclamation."""
    on_disk = (
        spark.read.parquet(out_dir)
        .select(F.col("_metadata.file_path").alias("f"))
        .distinct()
    )
    referenced = (
        spark.read.parquet(lineage_path)
        .select(F.explode("files").alias("f"))
        .distinct()
    )
    return [
        r["f"] for r in on_disk.join(referenced, "f", "left_anti").collect()
    ]


def remove_orphans(spark: SparkSession, out_dir: str, lineage_path: str) -> int:
    """Delete orphaned data files (Iceberg's remove_orphan_files
    maintenance) through the Hadoop FileSystem, on local and remote URIs."""
    orphans = orphan_files(spark, out_dir, lineage_path)
    for f in orphans:
        fs, p = _hadoop_path(spark, f)
        fs.delete(p, False)
    return len(orphans)
