"""Pyramid build: hierarchical 2×2→1 downsampling up the zoom levels
(SURVEY.md §2.4 A8).

Reference: ``Pyramid.upLevels(rdd, layoutScheme, zoom)`` writes one
layer per zoom (GeotiffToPyramid.scala:58-69, LayerToPyramid.scala:59-65).
Here one level is a single groupBy on the parent key
``(tile_col div 2, tile_row div 2)`` — children land in quadrants, a
numpy block-mean (NaN-aware) produces the parent tile. The shuffle per
level moves each tile exactly once; level n+1 is ¼ the size of level n,
so the whole pyramid costs < 2× the base layer.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biggis_landuse_spark.operators.focal import _to_nullable_list

_GROUPED_SCHEMA = (
    "layer string, zoom int, tile_col int, tile_row int, "
    "cols int, rows int, cell_type string, n_bands int, "
    "quads map<int, array<array<double>>>"
)

_TILE_OUT_SCHEMA = (
    "layer string, zoom int, tile_col int, tile_row int, ts timestamp, "
    "tile struct<cols:int, rows:int, cell_type:string, "
    "bands:array<array<double>>>"
)


def pyramid_up(tiles: DataFrame, method: str = "mean") -> DataFrame:
    """One pyramid level: (zoom) → (zoom-1), 4 child tiles → 1 parent.

    Child (c, r) sits in parent (c div 2, r div 2) at quadrant
    (c mod 2, r mod 2) — the inverse of the zoom-resample child
    arithmetic (ZoomResampleTEST.scala:29-36). Downsample methods:
    ``"mean"`` (NaN-aware 2×2 block mean — continuous rasters) or
    ``"mode"`` (2×2 block majority, ties to the SMALLEST value,
    NODATA excluded — the correct reduction for CLASSIFIED rasters,
    where averaging class codes is meaningless).
    """
    if method not in ("mean", "mode"):
        raise ValueError(f"unknown pyramid method {method!r}: mean | mode")
    from biggis_landuse_spark.shipping import ensure_package_shipped

    ensure_package_shipped(tiles.sparkSession)
    grouped = (
        tiles.select(
            "layer",
            (F.col("zoom") - 1).alias("zoom"),
            F.expr("tile_col div 2").cast("int").alias("tile_col"),
            F.expr("tile_row div 2").cast("int").alias("tile_row"),
            (
                (F.col("tile_col") % 2) + (F.col("tile_row") % 2) * 2
            ).cast("int").alias("quad"),
            F.col("tile")["bands"].alias("bands"),
            F.col("tile")["cols"].alias("cols"),
            F.col("tile")["rows"].alias("rows"),
            F.col("tile")["cell_type"].alias("cell_type"),
        )
        .groupBy("layer", "zoom", "tile_col", "tile_row")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("quad"), F.col("bands")))
            ).alias("quads"),
            F.first("cols").alias("cols"),
            F.first("rows").alias("rows"),
            F.first("cell_type").alias("cell_type"),
            F.max(F.size("bands")).alias("n_bands"),
        )
        .select(
            "layer", "zoom", "tile_col", "tile_row",
            "cols", "rows", "cell_type", "n_bands", "quads",
        )
    )

    def downsample(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            out = []
            for r in pdf.itertuples(index=False):
                cols, rows_, nb = int(r.cols), int(r.rows), int(r.n_bands)
                bands_out = []
                for b in range(nb):
                    big = np.full((2 * rows_, 2 * cols), np.nan)
                    for quad, bands in (r.quads or {}).items():
                        if bands is None or b >= len(bands):
                            continue
                        qx, qy = quad % 2, quad // 2
                        arr = np.asarray(
                            [np.nan if v is None else v for v in bands[b]],
                            dtype=np.float64,
                        ).reshape(rows_, cols)
                        big[
                            qy * rows_ : (qy + 1) * rows_,
                            qx * cols : (qx + 1) * cols,
                        ] = arr
                    blocks = big.reshape(rows_, 2, cols, 2)
                    if method == "mode":
                        # per-block majority, smallest value wins ties,
                        # NaN never votes (same election as focal mode)
                        cand = blocks.transpose(0, 2, 1, 3).reshape(
                            rows_, cols, 4
                        )
                        srt = np.sort(cand, axis=2)  # NaN sorts last
                        parent = np.full((rows_, cols), np.nan)
                        best_cnt = np.zeros((rows_, cols))
                        for i in range(4):
                            v = srt[:, :, i]
                            cnt_i = np.zeros((rows_, cols))
                            for j in range(4):
                                cnt_i += srt[:, :, j] == v
                            better = (~np.isnan(v)) & (cnt_i > best_cnt)
                            parent = np.where(better, v, parent)
                            best_cnt = np.where(better, cnt_i, best_cnt)
                    else:
                        with np.errstate(invalid="ignore"):
                            cnt = (~np.isnan(blocks)).sum(axis=(1, 3))
                            s = np.nansum(blocks, axis=(1, 3))
                            parent = np.where(
                                cnt > 0, s / np.maximum(cnt, 1), np.nan
                            )
                    bands_out.append(_to_nullable_list(parent))
                out.append(
                    {
                        "layer": r.layer,
                        "zoom": r.zoom,
                        "tile_col": r.tile_col,
                        "tile_row": r.tile_row,
                        "ts": None,
                        "tile": {
                            "cols": cols,
                            "rows": rows_,
                            "cell_type": r.cell_type,
                            "bands": bands_out,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return grouped.mapInPandas(downsample, schema=_TILE_OUT_SCHEMA)


def build_pyramid(catalog, layer: str, from_zoom: int, to_zoom: int = 0) -> None:
    """Write every level from ``from_zoom`` down to ``to_zoom``
    (reference: Pyramid.upLevels + writeRddToLayer per level,
    LayerToPyramid.scala:55-65). Each level is read back from the
    catalog (cheap, pruned) so lineage stays short and each write is
    independent."""
    current = catalog.read_layer(layer, from_zoom)
    crs = catalog.layer_crs(layer, from_zoom)
    for z in range(from_zoom, to_zoom, -1):
        parent = pyramid_up(current.withColumn("zoom", F.lit(z)))
        catalog.write_layer(
            parent.select("tile_col", "tile_row", "ts", "tile"),
            layer, z - 1, crs=crs,
        )
        current = catalog.read_layer(layer, z - 1)


def update_pyramid(
    catalog,
    layer: str,
    changed_keys: DataFrame,
    from_zoom: int,
    to_zoom: int = 0,
    method: str = "mean",
) -> None:
    """Incrementally maintain an existing pyramid after a partial
    update of the base level — the 100 TB companion to
    :func:`build_pyramid`, which recomputes every level from scratch.

    ``changed_keys``: (tile_col, tile_row) tiles changed at
    ``from_zoom`` (e.g. the update frame a merge_into_layer or a
    streaming microbatch ingested). Per level, only the parents of
    changed tiles are recomputed: the changed-key set maps to parent
    keys, the 4-child groups feeding those parents are selected with a
    BROADCAST semi-join (an incremental update touches a vanishing
    fraction of a 100 TB layer — the key set stays driver-small while
    the layer never shuffles), pyramid_up downsamples just those
    groups, and the level is rewritten with the recomputed parents
    replacing their old tiles (a parent is a pure function of its 4
    children, so whole-tile replace is exact). Same staging discipline
    as merge_into_layer: never read + overwrite one partition in a
    single job.

    Compute is proportional to |changed|·levels; the level REWRITE is
    I/O-bound at the catalog's overwrite granularity (layer, zoom) —
    identical to merge_into_layer's documented cost, and the reason
    the affected-parent computation must be (and is) incremental.
    Levels must already exist (build_pyramid first) — a missing level
    raises instead of silently writing a sparse pyramid.
    """
    existing_levels = {z for (l, z) in catalog.layer_ids() if l == layer}
    needed = set(range(to_zoom, from_zoom + 1))
    missing = sorted(needed - existing_levels)
    if missing:
        raise KeyError(
            f"update_pyramid needs existing levels {sorted(needed)} of "
            f"{layer!r}; missing {missing} — run build_pyramid first"
        )
    crs = catalog.layer_crs(layer, from_zoom)
    keys = changed_keys.select("tile_col", "tile_row").dropDuplicates()
    for z in range(from_zoom, to_zoom, -1):
        parents = keys.select(
            F.expr("tile_col div 2").cast("int").alias("tile_col"),
            F.expr("tile_row div 2").cast("int").alias("tile_row"),
        ).dropDuplicates()
        children = catalog.read_layer(layer, z)
        affected = children.join(
            F.broadcast(
                parents.select(
                    F.col("tile_col").alias("_pc"),
                    F.col("tile_row").alias("_pr"),
                )
            ),
            (F.expr("tile_col div 2").cast("int") == F.col("_pc"))
            & (F.expr("tile_row div 2").cast("int") == F.col("_pr")),
        ).drop("_pc", "_pr")
        new_parents = pyramid_up(
            affected.withColumn("zoom", F.lit(z)), method
        ).select("tile_col", "tile_row", "ts", "tile")
        kept = (
            catalog.read_layer(layer, z - 1)
            .join(F.broadcast(parents), ["tile_col", "tile_row"], "left_anti")
            .select("tile_col", "tile_row", "ts", "tile")
        )
        staged = catalog._stage(
            kept.unionByName(new_parents), f"pyramid/{layer}/{z - 1}"
        )
        catalog.write_layer(staged, layer, z - 1, crs=crs)
        catalog._delete_dir(f"{catalog.base}/_staging")
        keys = parents
