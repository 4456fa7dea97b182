"""Incremental zonal statistics over a growing images corpus
(Structured Streaming).

The reference has no streaming path — its "near-real-time" GLAD alert
layers are plain rasters re-read per request (reference
tests/fixtures/fixtures.py:170-189) and freshness comes from re-running
the analysis. At 10^12-image scale that re-scan is the wrong shape: this
module keeps zonal partials CONTINUOUSLY up to date as new tiles land.

Design: `readStream` over the images directory (file source tracks new
parquet files exactly-once via its own source checkpoint) ->
`foreachBatch` RECOMPUTES every cell the micro-batch touched from the
*full* corpus and overwrites exactly those cells' partial partitions
(dynamic partition overwrite keyed by cell). The micro-batch is used only
as a CHANGE SIGNAL — which cells have new data — never as the compute
input, because a cell's layers are not guaranteed to co-arrive in one
batch (the base layer may land today and the filter layer tomorrow; the
kernel zero-fills absent layers, so computing from a partial layer set
would silently under-count). Recompute-from-source is a pure function of
the current corpus state, so:

- late layers are handled: the late tile's batch touches the cell again
  and the recompute now sees both layers;
- replays are idempotent: a crashed/replayed micro-batch overwrites the
  same cell partitions with the same (or newer) data — no markers, no
  append double-counting;
- the result is always `finalize_partials` over the partial table.

Delivery guarantee: end-to-end EXACTLY-ONCE, from exactly-once input
assignment (file-source checkpoint) composed with idempotent output
(recompute-from-source + dynamic partition overwrite keyed by `_pcell`).
`foreachBatch` itself is only at-least-once; the overwrite — not batch
tracking — is what absorbs the retry. The same composition backs
`curation.write_decontaminate_batch` (batch-id partition overwrite);
the built-in parquet streaming sink ops in `events.py` get it from the
sink's `_spark_metadata` transaction log instead.

Cost note (100 TB): per batch the work is O(touched cells), not
O(corpus) — the full-source read is pruned to the touched cell ids
(IN-list / min-max pushdown in build_partials_with_lookup). Partition-
per-cell is the overwrite unit; a production deployment on Iceberg would
use `bucket(N, cell_id)` partitioning with row-level replace (MERGE) to
bound directory counts — the parquet emulation here keeps one directory
per touched cell.

FROM-data queries additionally need rows for AOI cells that have *never*
received a tile (missing-tile tolerance S2). Those are synthesized ONCE
at read time — `read_incremental_result(..., aoi_df=...)` unions kernel
partials for lookup cells with no stored partition — rather than per
batch (the round-1 design re-emitted them every batch and double-counted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import query_fingerprint
from ..plans import planner
from ..plans.ir import ZonalQuery
from ..sources.catalog import FROM_DATA, DataEnvironment
from ..sources.images import with_derived_keys

IMAGES_SCHEMA_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def _aoi_lookup(spark: SparkSession, aoi_df: DataFrame, grid_name: str):
    """Bounded AOI index for the stream — same guards as the batch path
    (``prepare_aoi_index``: relational row-count + WKB-bytes probe, then
    cell-limit-aborted enumeration). The incremental design keys its
    partial store and per-batch change signal on a driver broadcast, so an
    over-bound batch cannot silently fall back to a distributed plan here
    — it gets a clear refusal instead of an unbounded collect/OOM."""
    idx = planner.prepare_aoi_index(spark, aoi_df, grid_name)
    if idx is None:
        raise ValueError(
            "AOI batch exceeds the driver broadcast bound "
            f"(> {planner.DRIVER_ENUM_AOI_LIMIT} AOI rows, "
            f"> {planner.DRIVER_ENUM_WKB_BYTES} geometry bytes, or "
            f"> {planner.BROADCAST_CELL_LIMIT} aoi-cell rows): the "
            "incremental stream requires a broadcastable AOI index. Split "
            "the AOI batch across streams, or use the batch path "
            "(run_zonal_query), which falls back to a distributed plan."
        )
    return idx.lookup, idx.salted


def _partials(images: DataFrame, lookup, salted: dict, query: ZonalQuery,
              env: DataEnvironment, grid_name: str) -> DataFrame:
    """The query's kernel partials over ``lookup``, in its wide partial
    columns (the stream's on-disk layout)."""
    return planner.split_multi_partials(
        planner.build_partials_with_lookup(images, lookup, salted, [query], env, grid_name),
        0, query,
    )


def _touched_target_cells(touched: list, grid_name: str) -> set:
    """Map the micro-batch's touched cell ids onto the QUERY grid.

    Cell ids embed their grid's index in the top bits, so a batch carrying
    a layer stored on a different grid (the multigrid co-registration case
    — e.g. coarse biomass tiles arriving on their own schedule) would never
    intersect a lookup keyed by the target grid. A coarser touched cell
    expands to the ratio^2 target cells it covers; a finer one maps to its
    target-grid ancestor."""
    from ..functions import grid as G

    target = G.get_grid(grid_name)
    out: set = set()
    for c in touched:
        src = G.grid_of_cell(c)
        x, y = (int(v) for v in G.cell_to_xy(c))
        if src.name == target.name:
            out.add(c)
        elif src.tile_deg >= target.tile_deg:  # coarser -> expand to children
            r = G.cell_ratio(src, target)
            for i in range(r):
                for j in range(r):
                    out.add(int(G.cell_from_xy(target, x * r + i, y * r + j)))
        else:  # finer -> ancestor
            r = G.cell_ratio(target, src)
            out.add(int(G.cell_from_xy(target, x // r, y // r)))
    return out


def incremental_zonal(
    spark: SparkSession,
    images_dir: str,
    aoi_df: DataFrame,
    query: ZonalQuery,
    env: DataEnvironment,
    grid_name: str,
    out_dir: str,
    trigger_once: bool = True,
    use_snapshots: bool = False,
):
    """Start (and by default run-once) the incremental zonal stream.

    Partials accumulate under ``{out_dir}/partials/q={fingerprint}``,
    partitioned by cell; read the current result with
    :func:`read_incremental_result`. ``trigger_once=False`` leaves a
    continuous micro-batch stream running. Returns the StreamingQuery.

    ``use_snapshots=True`` routes the sink through
    :class:`~..sources.snapshots.SnapshotTable.overwrite_partitions`
    instead of Spark's dynamic partition overwrite. Same idempotence,
    two upgrades: the multi-partition overwrite becomes ONE atomic
    manifest swap (Spark's dynamic overwrite swaps partition directories
    one by one — a reader can catch a half-overwritten state), and every
    micro-batch leaves a time-travelable snapshot, so the zonal result
    as-of any past commit stays queryable."""
    fp = query_fingerprint(query, env, grid_name)
    pdir = f"{out_dir}/partials/q={fp}"
    snap_table = None
    if use_snapshots:
        from ..sources.snapshots import SnapshotTable

        snap_table = SnapshotTable.create(spark, pdir + ".snap",
                                          partition_by=["_pcell"])

    lookup, salted = _aoi_lookup(spark, aoi_df, grid_name)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the batch is a change signal only: which cells got new tiles?
        touched = [
            int(r["cell_id"])
            for r in with_derived_keys(batch_df)
            .select("cell_id").distinct().collect()
        ]
        target = _touched_target_cells(touched, grid_name)
        sub = {c: lookup.value[c] for c in target if c in lookup.value}
        if not sub:
            return
        sub_lookup = spark.sparkContext.broadcast(sub)
        sub_salted = {c: n for c, n in salted.items() if c in sub}
        # recompute touched cells from the FULL corpus (cell-pruned scan),
        # so a cell whose layers arrived in different batches is correct
        imgs = with_derived_keys(
            spark.read.schema(IMAGES_SCHEMA_DDL).parquet(images_dir)
        )
        partials = _partials(
            imgs, sub_lookup, sub_salted, query, env, grid_name
        ).withColumn("_pcell", F.col("cell_id"))
        # sentinel row per recomputed cell: guarantees the cell's partition
        # is overwritten even when the recompute yields zero partial rows
        # (a newly-arrived filter layer can legitimately SHRINK a cell's
        # result — stale rows must not survive)
        sent = spark.createDataFrame([(int(c),) for c in sub], "_pcell long")
        for f in partials.schema.fields:
            if f.name != "_pcell":
                sent = sent.withColumn(f.name, F.lit(None).cast(f.dataType))
        out = partials.unionByName(sent.select(partials.columns))
        if snap_table is not None:
            snap_table.overwrite_partitions(out)
        else:
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_pcell")
                .parquet(pdir)
            )
        sub_lookup.unpersist()

    stream = (
        spark.readStream.schema(IMAGES_SCHEMA_DDL)
        .parquet(images_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", f"{out_dir}/source_ckpt/q={fp}")
    )
    if trigger_once:
        stream = stream.trigger(availableNow=True)
    return stream.start()


def read_incremental_result(
    spark: SparkSession,
    query: ZonalQuery,
    env: DataEnvironment,
    grid_name: str,
    out_dir: str,
    aoi_df: DataFrame | None = None,
    use_snapshots: bool = False,
    snapshot_id: int | None = None,
) -> DataFrame:
    """The current zonal result over every tile ingested so far.
    With ``use_snapshots`` the partial state comes from the snapshot
    table (optionally time-traveled to ``snapshot_id`` — the zonal
    result AS OF that micro-batch commit).

    ``aoi_df`` is required for FROM-data queries: AOI cells that never
    received any tile still owe rows (missing-tile tolerance S2); they are
    synthesized here, once, from the AOI lookup minus the stored cell
    partitions."""
    fp = query_fingerprint(query, env, grid_name)
    pdir = f"{out_dir}/partials/q={fp}"
    try:
        if use_snapshots:
            from ..sources.snapshots import SnapshotTable

            stored = (
                SnapshotTable.load(spark, pdir + ".snap")
                .read(snapshot_id=snapshot_id)
                .withColumn("_pcell", F.col("_pcell").cast("long"))
            )
        else:
            stored = spark.read.parquet(pdir)
    except Exception:
        if use_snapshots and snapshot_id is not None:
            raise  # an explicit time-travel target must not degrade to empty
        # no batch has written partials yet (no ingested tile intersected
        # any AOI): the current result is empty — or, FROM data, entirely
        # the synthesized missing-cell rows below
        empty = with_derived_keys(spark.createDataFrame([], IMAGES_SCHEMA_DDL))
        stored = _partials(
            empty, spark.sparkContext.broadcast({}), {}, query, env, grid_name
        ).withColumn("_pcell", F.col("cell_id"))
    partials = stored.filter(F.col("aoi_id").isNotNull()).drop("_pcell")
    if query.base_layer == FROM_DATA:
        if aoi_df is None:
            raise ValueError(
                "FROM-data incremental queries need aoi_df to synthesize "
                "rows for never-ingested AOI cells"
            )
        lookup, _ = _aoi_lookup(spark, aoi_df, grid_name)
        seen = {
            int(r["_pcell"])
            for r in stored.select("_pcell").distinct().collect()
        }
        missing = {c: v for c, v in lookup.value.items() if c not in seen}
        if missing:
            empty = with_derived_keys(
                spark.createDataFrame([], IMAGES_SCHEMA_DDL)
            )
            synth = _partials(
                empty, spark.sparkContext.broadcast(missing), {},
                query, env, grid_name,
            )
            partials = partials.unionByName(synth)
    return planner.finalize_partials(partials, query, env)
