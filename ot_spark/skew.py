"""Skew handling: salted two-stage aggregation (north_star requirement).

The reference never needs this (single machine, no shuffle); at cluster
scale a mega-cell (dense urban tile) sends every row to one reducer.  The
standard rewrite: stage 1 aggregates on (keys + salt) — the hot key's rows
spread over ``n_salt`` reducers and combine map-side — stage 2 merges the
per-salt partials on the true keys, touching only #distinct-keys x n_salt
rows.  AQE's skew-join splitting (on in ot_spark.session) covers joins;
this covers aggregations.

Everything is plain Column algebra: both stages stay in whole-stage
codegen and the rewrite is semantics-preserving for the decomposable
aggregates exposed here (count / sum / min / max — avg as sum/count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salt: int = 16, unique_col: str | None = None) -> DataFrame:
    """Add a salt in [0, n_salt) that varies WITHIN every group key.

    Deterministic when ``unique_col`` (a unique row id) is given —
    pmod(xxhash64(id), n_salt); otherwise derived from
    monotonically_increasing_id (stable within a run, which is all salting
    needs: the final result is salt-invariant)."""
    src = (
        F.xxhash64(F.col(unique_col))
        if unique_col is not None
        else F.xxhash64(F.monotonically_increasing_id())
    )
    return df.withColumn(SALT_COL, F.pmod(src, F.lit(n_salt)).cast("int"))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    counts: dict[str, Column] | None = None,
    sums: dict[str, Column] | None = None,
    maxs: dict[str, Column] | None = None,
    n_salt: int = 16,
    unique_col: str | None = None,
) -> DataFrame:
    """Two-stage skew-safe groupBy(keys).agg(...).

    counts: out_name -> condition-ish Column counted via count(expr)
            (pass F.lit(1) for plain row counts);
    sums/maxs: out_name -> value Column.
    """
    counts, sums, maxs = counts or {}, sums or {}, maxs or {}
    salted = with_salt(df, n_salt, unique_col)

    def _count_expr(c: Column) -> Column:
        # count(col) counts NON-NULL — a boolean condition column would
        # count its False rows too.  Detect boolean via analysis only (no
        # job) and rewrite to count(when(cond, 1)).
        from pyspark.sql.types import BooleanType

        dt = salted.select(c.alias("__t")).schema[0].dataType
        return F.when(c, 1) if isinstance(dt, BooleanType) else c

    partial = salted.groupBy(*keys, SALT_COL).agg(
        *[F.count(_count_expr(c)).alias(f"__c_{o}") for o, c in counts.items()],
        *[F.sum(c).alias(f"__s_{o}") for o, c in sums.items()],
        *[F.max(c).alias(f"__mx_{o}") for o, c in maxs.items()],
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(f"__c_{o}").cast("long").alias(o) for o in counts],
        *[F.sum(f"__s_{o}").alias(o) for o in sums],
        *[F.max(f"__mx_{o}").alias(o) for o in maxs],
    )
