"""Checkpoint / resume / lineage for zonal runs.

Reimplements the reference's result cache + status-table semantics
(reference results_store.py:208-224; tiling.py:164-181 — md5 cache key per
(query, tile), cached tiles skipped on retry) on top of table snapshots:

- partials are persisted keyed by a **query fingerprint** (md5 of the
  query IR + environment + grid) and (aoi_id, cell_id);
- a ``done`` marker table records which (aoi_id, cell_id) units committed,
  written strictly *after* the partials commit, so a crash between the two
  writes only ever causes recomputation, never double counting: readers
  take, per cell, only the partial rows of the **first committed run**;
- a ``lineage`` table gets one row per Spark partition per run (cells,
  rows, kernel wall-ms) — the reference's per-tile status/heartbeat rows
  (results_store.py:115-131) as queryable metrics.

On a real deployment these three are Iceberg tables and the two-phase
commit collapses into one atomic snapshot; this environment has no
Iceberg runtime jar, so parquet directories emulate the layout (the
protocol above is what makes that emulation safe).
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans import planner
from .plans.ir import ZonalQuery
from .sources.catalog import DataEnvironment


def query_fingerprint(query: ZonalQuery, env: DataEnvironment, grid_name: str) -> str:
    blob = f"{query!r}|{env.to_json()}|{grid_name}".encode()
    return hashlib.md5(blob).hexdigest()


def _try_read(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def _new_partials(images: DataFrame, todo: DataFrame, query: ZonalQuery,
                  env: DataEnvironment, grid_name: str, run_id: str) -> DataFrame:
    """The partials of the AOI-cell frame ``todo``, in the query's wide
    partial columns (the on-disk layout), tagged with the Spark partition
    and ``run_id``. They come from the planner's cogroup route, which
    collects nothing to the driver however large the batch."""
    return (
        planner.split_multi_partials(
            planner._build_partials_over_bound(images, todo, [query], env, grid_name), 0, query
        )
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("run_id", F.lit(run_id))
    )


def run_zonal_checkpointed(
    spark: SparkSession,
    images: DataFrame,
    aoi_df: DataFrame,
    query: ZonalQuery,
    env: DataEnvironment,
    grid_name: str,
    checkpoint_dir: str,
    run_id: str | None = None,
) -> DataFrame:
    """Execute with resume: (aoi, cell) units already committed under this
    query fingerprint are anti-joined out of the AOI-cell frame and only
    the remainder runs, through the cogroup route
    (:func:`_new_partials`). Returns the finalized result over *all*
    partials (old + new)."""
    if query.select_pixels:
        raise ValueError("checkpointing applies to aggregate queries (partials)")
    fp = query_fingerprint(query, env, grid_name)
    run_id = run_id or f"r{time.time_ns():020d}"
    pdir = f"{checkpoint_dir}/partials/q={fp}"
    ddir = f"{checkpoint_dir}/done/q={fp}"
    ldir = f"{checkpoint_dir}/lineage"

    # the emptiness check, the cogroup route's two reads and the done
    # markers all read the remainder: with the AOI-cell frame persisted,
    # polygon->cells runs once for all of them. (Caching the remainder
    # itself would tie it to the done table, which Spark re-lists into
    # every cached plan that reads it after the markers land.)
    cells = planner.aoi_cells(aoi_df, grid_name).persist()
    done = _try_read(spark, ddir)
    todo = (
        cells.join(F.broadcast(done.select("aoi_id", "cell_id")), ["aoi_id", "cell_id"], "left_anti")
        if done is not None
        else cells
    )
    try:
        if not todo.isEmpty():
            new_partials = _new_partials(images, todo, query, env, grid_name, run_id)
            new_partials.write.mode("append").parquet(pdir)
            # done markers AFTER the partials commit (see module docstring)
            todo.select("aoi_id", "cell_id").withColumn("run_id", F.lit(run_id)).write.mode(
                "append"
            ).parquet(ddir)
            # lineage: one row per Spark partition of this run
            (
                spark.read.parquet(pdir)
                .filter(F.col("run_id") == run_id)
                .groupBy("run_id", "_pid")
                .agg(
                    F.countDistinct("cell_id").alias("n_cells"),
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("_ms").alias("kernel_ms"),
                )
                .withColumn("query_fp", F.lit(fp))
                .withColumn("committed_at", F.current_timestamp())
                .write.mode("append")
                .parquet(ldir)
            )
    finally:
        cells.unpersist()

    # authoritative run per (aoi, cell) = first committed marker
    done_now = spark.read.parquet(ddir)
    auth = done_now.groupBy("aoi_id", "cell_id").agg(F.min("run_id").alias("run_id"))
    full = (
        spark.read.parquet(pdir)
        .join(F.broadcast(auth), ["aoi_id", "cell_id", "run_id"], "left_semi")
        .drop("run_id", "_pid")
    )
    return planner.finalize_partials(full, query, env)


def read_lineage(spark: SparkSession, checkpoint_dir: str) -> DataFrame | None:
    return _try_read(spark, f"{checkpoint_dir}/lineage")


def run_zonal_checkpointed_snapshot(
    spark: SparkSession,
    images: DataFrame,
    aoi_df: DataFrame,
    query: ZonalQuery,
    env: DataEnvironment,
    grid_name: str,
    table_dir: str,
    run_id: str | None = None,
) -> DataFrame:
    """The snapshot-native form of :func:`run_zonal_checkpointed`: the
    module docstring's promise — "on a real deployment ... the two-phase
    commit collapses into one atomic snapshot" — made literal on
    :class:`~..sources.snapshots.SnapshotTable`.

    One partials table per query fingerprint, partitioned by run_id.
    A run's partials AND its done markers land in ONE atomic snapshot
    commit (marker rows ride the same table flagged ``_marker``, so an
    (aoi, cell) pair that produces zero partial rows — AOI over cells
    with no image tiles — is still recorded done), which removes the
    two-phase crash window entirely: a run that dies mid-write leaves
    only invisible staged files (readers resolve file sets from
    manifests). Resume anti-joins the committed distinct
    (aoi_id, cell_id). Replays of the same run_id are idempotent via
    dynamic partition overwrite (the partition key is run_id).
    Concurrent DIFFERENT run_ids that race the same todo set are still
    resolved first-committed-wins by the min(run_id) rule, as before.

    Lineage rows ride a second snapshot table — queryable history
    (``SnapshotTable.snapshots()``) plus per-partition metrics rows.
    """
    from .sources.snapshots import SnapshotTable

    if query.select_pixels:
        raise ValueError("checkpointing applies to aggregate queries (partials)")
    fp = query_fingerprint(query, env, grid_name)
    run_id = run_id or f"r{time.time_ns():020d}"
    pt = SnapshotTable.create(
        spark, f"{table_dir}/partials_q_{fp}", partition_by=["run_id"]
    )
    lt = SnapshotTable.create(
        spark, f"{table_dir}/lineage", partition_by=["run_id"]
    )

    cells = planner.aoi_cells(aoi_df, grid_name).persist()  # read 3-4 times, evaluated once
    committed = pt.read() if pt.current_snapshot_id() else None
    todo = (
        cells.join(
            F.broadcast(committed.select("aoi_id", "cell_id").distinct()),
            ["aoi_id", "cell_id"],
            "left_anti",
        )
        if committed is not None
        else cells
    )
    try:
        if not todo.isEmpty():
            new_partials = _new_partials(images, todo, query, env, grid_name, run_id)
            markers = (
                todo.select("aoi_id", "cell_id")
                .withColumn("run_id", F.lit(run_id))
                .withColumn("_marker", F.lit(True))
            )
            commit_df = new_partials.withColumn("_marker", F.lit(False)).unionByName(
                markers, allowMissingColumns=True
            )
            # ONE atomic commit (partials + done markers); a replayed run_id
            # overwrites its own partition instead of duplicating partials
            pt.overwrite_partitions(commit_df)
            lineage = (
                pt.read(partition_filter={"run_id": run_id})
                .filter(~F.col("_marker"))
                .groupBy("run_id", "_pid")
                .agg(
                    F.countDistinct("cell_id").alias("n_cells"),
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("_ms").alias("kernel_ms"),
                )
                .withColumn("query_fp", F.lit(fp))
                .withColumn("committed_at", F.current_timestamp())
            )
            lt.overwrite_partitions(lineage)
    finally:
        cells.unpersist()

    full = pt.read().filter(~F.col("_marker")).drop("_marker")
    # first-committed-wins across racing run_ids (same rule as the
    # two-phase variant; with a single writer this is a no-op)
    auth = full.groupBy("aoi_id", "cell_id").agg(F.min("run_id").alias("run_id"))
    full = full.join(
        F.broadcast(auth), ["aoi_id", "cell_id", "run_id"], "left_semi"
    ).drop("run_id", "_pid")
    return planner.finalize_partials(full, query, env)
