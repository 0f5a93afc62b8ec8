"""Incrementally maintained materialized aggregates over Delta tables.

The reference's incremental story stops at "subscribe to new data"
(``/root/reference/README.md:39-43``); this module closes the loop the
way a 100 TB deployment actually consumes a change feed: a grouped
aggregate table that is *refreshed from the CDF delta only*, never by
re-scanning the base table.

Semantics: additive aggregates (count / sum — avg derives as sum/count
at read time; ``var_cols`` adds EXACT incrementally-maintained variance
via decimal-quantized sum + sum-of-squares, both invertible under
deletes — decimal adds/subtracts cancel exactly where doubles would
drift). Inserts add, deletes subtract; a rewritten row
(MERGE/UPDATE) appears in the feed as delete+insert, so the net update
is exact. Groups whose count reaches zero are dropped. Compaction
commits (``dataChange=false``) produce no feed rows and therefore no
refresh work — matching Delta's own CDF contract.

Scale shape: each refresh aggregates ONLY the changed rows (partial +
final agg on the group key), then folds the per-group deltas into the
view with a full-outer join sized by |groups| — a day of changes
against a years-deep base costs the changed rows plus the (small) view,
never a base rescan. State (last refreshed base version) rides in the
view's own Delta log as configuration, in the SAME commit as the rows
it describes: a create is one commit (protocol + metaData + adds) and
a refresh is one commit (metaData + removes + adds), both through
``deltalog.commit``. A create or refresh that fails before its commit
leaves the view as it was (the staged files are orphans VACUUM
reclaims), so re-running it is exact, and a refresh with no new base
commits is a no-op.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guidewire_spark.sources.deltalog import commit
from guidewire_spark.sources.snapshot import (
    empty_snapshot,
    load_snapshot,
    read_delta,
    read_delta_changes,
    scan_live_files,
)
from guidewire_spark.sources.writer import (
    _checked_write,
    _create_actions,
    _overwrite_actions,
    stage_add_actions,
    table_configuration,
)

_STATE_KEY = "guidewire.matview.state"


def _q(c: str):
    """Quantize a double column to exact decimal cents-of-micro (6dp)
    the repo's DECIMAL-bridge way: cast HIGHER than the target scale,
    then round — never let the cast itself round (engine conventions
    differ at the boundary)."""
    return F.round(F.col(c).cast("decimal(26,16)"), 6).cast("decimal(18,6)")


def _agg_exprs(
    sum_cols: list[str], minmax_cols: list[str], var_cols: list[str] | None = None
) -> list:
    exprs = [F.count(F.lit(1)).alias("view_count")]
    exprs += [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    for c in minmax_cols:
        exprs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    for c in var_cols or []:
        exprs += [
            F.sum(_q(c)).cast("decimal(38,6)").alias(f"vsum_{c}"),
            F.sum(_q(c) * _q(c)).cast("decimal(38,12)").alias(f"vssq_{c}"),
        ]
    return exprs


def _signed_agg(
    changes: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    var_cols: list[str] | None = None,
) -> DataFrame:
    """Aggregate feed rows with sign: insert = +1, delete = -1.
    Partial aggregation makes the shuffle per-group, not per-row."""
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    signed = changes.withColumn("__sign", sign)
    return signed.groupBy(*group_cols).agg(
        F.sum("__sign").alias("view_count"),
        *[F.sum(F.col(c) * F.col("__sign")).alias(f"sum_{c}") for c in sum_cols],
        *[
            e
            for c in var_cols or []
            for e in (
                F.sum(_q(c) * F.col("__sign"))
                .cast("decimal(38,6)")
                .alias(f"vsum_{c}"),
                F.sum(_q(c) * _q(c) * F.col("__sign"))
                .cast("decimal(38,12)")
                .alias(f"vssq_{c}"),
            )
        ],
    )


def _state(configuration: dict, view_path: str) -> dict:
    raw = configuration.get(_STATE_KEY)
    if raw is None:
        raise ValueError(f"{view_path} is not a materialized view")
    return json.loads(raw)


def view_state(view_path: str) -> dict:
    return _state(table_configuration(view_path), view_path)


def create_materialized_aggregate(
    spark: SparkSession,
    base_table: str,
    view_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] | None = None,
    var_cols: list[str] | None = None,
) -> int:
    """Initial build: one full aggregate of the base snapshot, committed
    as the view's version 0 with the base version pinned in its
    configuration. Returns the pinned base version. A path that
    already holds a log refuses the create (its version-0 commit
    collides).

    ``minmax_cols`` adds min_c/max_c columns. Min/max is not
    invertible under deletes, so refresh handles it hybrid: inserts
    fold in monotonically; groups touched by a delete are re-aggregated
    from the base, restricted to exactly those groups (a semi-join the
    optimizer pushes into the scan — with the base partitioned or
    z-ordered on the group key this prunes to the affected files)."""
    minmax_cols = minmax_cols or []
    var_cols = var_cols or []
    base_snap = load_snapshot(base_table)
    full = (
        scan_live_files(spark, base_snap, base_snap.files)
        .groupBy(*group_cols)
        .agg(*_agg_exprs(sum_cols, minmax_cols, var_cols))
    )
    state = {
        "base_version": base_snap.version,
        "group_cols": group_cols,
        "sum_cols": sum_cols,
        "minmax_cols": minmax_cols,
        "var_cols": var_cols,
    }
    view = empty_snapshot(view_path)
    adds = stage_add_actions(full, view)
    now = int(time.time() * 1000)
    config = {**adds.configuration, _STATE_KEY: json.dumps(state)}
    actions = _create_actions(full.schema, now, config) + adds
    mode = f"base_version={base_snap.version}"
    commit(view, "CREATE MATERIALIZED VIEW", mode, actions, now)
    return base_snap.version


def refresh_materialized_aggregate(
    spark: SparkSession, base_table: str, view_path: str
) -> int:
    """Incremental refresh: aggregate ONLY the CDF rows since the
    pinned base version, merge the signed deltas into the view, drop
    zero-count groups, advance the pin — rows and pin in one commit.
    Re-running with no new base commits is a no-op. Returns the new
    pinned version."""
    view = load_snapshot(view_path)
    state = _state(view.configuration, view_path)
    group_cols, sum_cols = state["group_cols"], state["sum_cols"]
    minmax_cols = state.get("minmax_cols") or []
    var_cols = state.get("var_cols") or []
    from_version = state["base_version"]
    base_snap = load_snapshot(base_table)
    if base_snap.version <= from_version:
        return from_version  # nothing new

    changes = read_delta_changes(
        spark, base_table, from_version=from_version, to_version=base_snap.version
    )
    deltas = _signed_agg(changes, group_cols, sum_cols, var_cols)
    if minmax_cols:
        # inserts fold into min/max monotonically...
        ins_ext = (
            changes.where(F.col("_change_type") == "insert")
            .groupBy(*group_cols)
            .agg(
                *[F.min(c).alias(f"i_min_{c}") for c in minmax_cols],
                *[F.max(c).alias(f"i_max_{c}") for c in minmax_cols],
            )
        )
        # ...but a delete can remove the current extreme, so groups
        # touched by any delete are re-aggregated from the base,
        # restricted to exactly those groups (left-semi pushdown).
        del_groups = (
            changes.where(F.col("_change_type") == "delete")
            .select(*group_cols)
            .distinct()
        )
        recomputed = (
            scan_live_files(spark, base_snap, base_snap.files)
            .join(F.broadcast(del_groups), group_cols, "left_semi")
            .groupBy(*group_cols)
            .agg(
                *[F.min(c).alias(f"r_min_{c}") for c in minmax_cols],
                *[F.max(c).alias(f"r_max_{c}") for c in minmax_cols],
            )
            .withColumn("__recomputed", F.lit(True))
        )

    current = scan_live_files(spark, view, view.files)
    merged = (
        current.select(
            *group_cols,
            "view_count",
            *[f"sum_{c}" for c in sum_cols],
            *[x for c in minmax_cols for x in (f"min_{c}", f"max_{c}")],
            *[x for c in var_cols for x in (f"vsum_{c}", f"vssq_{c}")],
        )
        .join(deltas.withColumnRenamed("view_count", "d_count").select(
            *group_cols, "d_count",
            *[F.col(f"sum_{c}").alias(f"d_sum_{c}") for c in sum_cols],
            *[
                x
                for c in var_cols
                for x in (
                    F.col(f"vsum_{c}").alias(f"d_vsum_{c}"),
                    F.col(f"vssq_{c}").alias(f"d_vssq_{c}"),
                )
            ],
        ), group_cols, "full_outer")
    )
    if minmax_cols:
        merged = merged.join(ins_ext, group_cols, "left").join(
            recomputed, group_cols, "left"
        )
    out_cols = [F.col(c) for c in group_cols]
    out_cols.append(
        (
            F.coalesce("view_count", F.lit(0)) + F.coalesce("d_count", F.lit(0))
        ).alias("view_count")
    )
    out_cols += [
        (
            F.coalesce(f"sum_{c}", F.lit(0.0)) + F.coalesce(f"d_sum_{c}", F.lit(0.0))
        ).alias(f"sum_{c}")
        for c in sum_cols
    ]
    for c in var_cols:
        # decimal adds cancel exactly under delete-then-reinsert — the
        # property that makes incremental variance EXACT, not drifting
        out_cols.append(
            (
                F.coalesce(F.col(f"vsum_{c}"), F.lit(0).cast("decimal(38,6)"))
                + F.coalesce(F.col(f"d_vsum_{c}"), F.lit(0).cast("decimal(38,6)"))
            ).cast("decimal(38,6)").alias(f"vsum_{c}")
        )
        out_cols.append(
            (
                F.coalesce(F.col(f"vssq_{c}"), F.lit(0).cast("decimal(38,12)"))
                + F.coalesce(F.col(f"d_vssq_{c}"), F.lit(0).cast("decimal(38,12)"))
            ).cast("decimal(38,12)").alias(f"vssq_{c}")
        )
    for c in minmax_cols:
        # recomputed groups take the authoritative base value (the base
        # already contains this window's inserts); others extend
        # monotonically (least/greatest skip nulls).
        out_cols.append(
            F.when(F.col("__recomputed"), F.col(f"r_min_{c}"))
            .otherwise(F.least(f"min_{c}", f"i_min_{c}"))
            .alias(f"min_{c}")
        )
        out_cols.append(
            F.when(F.col("__recomputed"), F.col(f"r_max_{c}"))
            .otherwise(F.greatest(f"max_{c}", f"i_max_{c}"))
            .alias(f"max_{c}")
        )
    merged = merged.select(*out_cols).where(F.col("view_count") > 0)
    # The view is small relative to the base (one row per group); a
    # full-outer rebuild of the view table is the simple correct move,
    # and stays proportional to |groups|, never |base|. (A keyed MERGE
    # of only-touched groups is the next refinement when |groups| is
    # itself huge.)  The rebuild is an overwrite of the view, so it
    # runs the checks write_delta's overwrite runs (constraints,
    # append-only, identity, the writer-protocol gate) before staging.
    merged = _checked_write(merged, view, "overwrite")
    adds = stage_add_actions(merged, view)
    now = int(time.time() * 1000)
    state = {**state, "base_version": base_snap.version}
    config = {**adds.configuration, _STATE_KEY: json.dumps(state)}
    actions = _overwrite_actions(view, merged.schema, now, config) + adds
    mode = f"base_version={base_snap.version}"
    commit(view, "REFRESH MATERIALIZED VIEW", mode, actions, now)
    return base_snap.version


def read_materialized_aggregate(spark: SparkSession, view_path: str) -> DataFrame:
    """Read the view with derived averages (avg_c = sum_c / count)."""
    state = view_state(view_path)
    df = read_delta(spark, view_path)
    for c in state["sum_cols"]:
        df = df.withColumn(f"avg_{c}", F.col(f"sum_{c}") / F.col("view_count"))
    for c in state.get("var_cols") or []:
        # sample variance from the exact decimal components; the cast
        # to double happens at the END (one deterministic conversion),
        # and the double expression is written identically in the
        # oracle so both engines run the same IEEE ops in the same
        # order
        n = F.col("view_count").cast("double")
        sm = F.col(f"vsum_{c}").cast("double")
        sq = F.col(f"vssq_{c}").cast("double")
        df = df.withColumn(
            f"var_{c}",
            F.when(F.col("view_count") > 1, (sq - sm * sm / n) / (n - F.lit(1.0))),
        )
    return df
