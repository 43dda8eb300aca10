"""Layer catalog: Parquet tile storage + a per-key JSON attribute store.

Replaces the reference's HDFS AttributeStore + Avro layer
readers/writers + SFC index (api/package.scala:62-385):

- ``{base}/tiles/layer=<name>/zoom=<z>/part-*.parquet`` — tile rows,
  hive-partitioned by (layer, zoom) so reads prune partitions, sorted
  within files by a Z-order (Morton) key over (tile_col, tile_row) so
  Parquet row-group min/max stats prune spatial ranges — the exact
  role of the reference's ZCurveKeyIndexMethod (api/package.scala:143).
  Reads use the pinned ``model.TILE_SCHEMA`` (no footer inference).
- ``{base}/_attributes/<layer>/<zoom>/metadata.json`` — the metadata
  row of one (layer, zoom) (TileLayerMetadata analog, inferred from the
  data at write time like TileLayerMetadata.fromRDD,
  GeotiffTilingExample.scala:50).
- ``{base}/_attributes/<layer>/<zoom>/attr/<name>.json`` — one JSON
  attribute (Utils.writeHistogram / readHistogram analog,
  Utils.scala:78-89), the layout of the reference's
  HadoopAttributeStore: one small file per key.

Attribute files are written to a temp name and renamed over the target
(``FileContext.rename`` with OVERWRITE), so writers of different keys
never touch a shared file and readers never see a half-written one;
reads glob the directory listing in-process and skip temp names. Metadata and
attribute reads and writes run no Spark job.

Scale: writes never collect tiles; the metadata and the histogram are
two aggregates over the written files; deletes drop whole directories.
"""

from __future__ import annotations

import json
import uuid
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biggis_landuse_spark.model import (
    ATTRIBUTE_SCHEMA,
    LAYER_META_SCHEMA,
    TILE_SCHEMA,
)
from biggis_landuse_spark.session import local_df

# tile columns stored in the parquet files; layer and zoom live in the
# partition directory names
_DATA_SCHEMA = T.StructType(
    [f for f in TILE_SCHEMA.fields if f.name not in ("layer", "zoom")]
)
_TMP_SUFFIX = ".tmp"
HISTOGRAM_BUCKETS = 16

Z_BITS = 16


def zorder_key(col: str = "tile_col", row: str = "tile_row") -> F.Column:
    """Morton (Z-curve) interleave of two 16-bit keys (O2, SFC write
    order) — a pure column expression, codegen'd; no custom Catalyst
    work (SURVEY.md §4.1)."""
    terms = " + ".join(
        f"(shiftleft(CAST((shiftright({col}, {i}) & 1) AS BIGINT), {2 * i}) + "
        f"shiftleft(CAST((shiftright({row}, {i}) & 1) AS BIGINT), {2 * i + 1}))"
        for i in range(Z_BITS)
    )
    return F.expr(terms)


def with_hilbert_key(
    df: DataFrame,
    col: str = "tile_col",
    row: str = "tile_row",
    out: str = "_hk",
    bits: int = Z_BITS,
) -> DataFrame:
    """Append the Hilbert-curve index of (col, row) on a 2^bits grid —
    the reference's `HilbertKeyIndexMethod` key order
    (api/package.scala:152-164); `zorder_key` is the engine's default
    (documented-equivalent range pruning), this is the exact-parity
    alternative.

    The classic quadrant-recursive descent (MSB → LSB: consume the top
    bit of each axis, reduce into the quadrant, reflect+transpose on
    the lower two quadrants) expressed as ONE STAGED PROJECTION PER
    BIT LEVEL. The state (x, y) feeds the next level through several
    references, so a single closed-form expression would grow 4^bits
    nodes; per-level projections keep the plan linear in `bits` and
    each stage inside whole-stage codegen — the same staging
    discipline as the warp families (BASELINE.md r6 note). Hilbert
    beats Z-order on range-query locality (no long diagonal jumps),
    identical cost at write time: still a pure column pipeline feeding
    repartitionByRange.
    """
    x, y = "_hx", "_hy"
    df = (
        df.withColumn(x, F.col(col).cast("long"))
        .withColumn(y, F.col(row).cast("long"))
        .withColumn(out, F.lit(0).cast("long"))
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        df = (
            df.withColumn("_rx", F.expr(f"CAST(({x} & {s}) > 0 AS BIGINT)"))
            .withColumn("_ry", F.expr(f"CAST(({y} & {s}) > 0 AS BIGINT)"))
            .withColumn(
                out,
                F.expr(
                    f"{out} + CAST({s} AS BIGINT) * {s}"
                    f" * ((3 * _rx) ^ _ry)"
                ),
            )
            # reduce into the quadrant, then reflect+transpose the
            # lower-left (rx=0,ry=0) and lower-right (rx=1,ry=0) cases
            .withColumn("_qx", F.expr(f"{x} & {s - 1}"))
            .withColumn("_qy", F.expr(f"{y} & {s - 1}"))
            .withColumn(
                x,
                F.expr(
                    f"CASE WHEN _ry = 0 THEN"
                    f" (CASE WHEN _rx = 1 THEN {s - 1} - _qy ELSE _qy END)"
                    f" ELSE _qx END"
                ),
            )
            .withColumn(
                y,
                F.expr(
                    f"CASE WHEN _ry = 0 THEN"
                    f" (CASE WHEN _rx = 1 THEN {s - 1} - _qx ELSE _qx END)"
                    f" ELSE _qy END"
                ),
            )
        )
    return df.drop("_hx", "_hy", "_rx", "_ry", "_qx", "_qy")


class LayerCatalog:
    """Catalog service over a base directory (local FS or HDFS/S3 URI)."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base.rstrip("/")
        self.tiles_path = f"{self.base}/tiles"
        self.attributes_path = f"{self.base}/_attributes"

    # -- write -------------------------------------------------------------

    def write_layer(
        self,
        tiles: DataFrame,
        layer: str,
        zoom: int,
        crs: str = "EPSG:3857",
        target_files: int | None = None,
        index_method: str = "zorder",
    ) -> None:
        """Write a tile DataFrame as (layer, zoom), globally SFC-ordered
        across ``target_files`` files, and store the inferred metadata
        and the histogram attribute.

        ``index_method``: "zorder" (default, Morton interleave) or
        "hilbert" (locality-equivalent Hilbert keying — the same
        disjoint-file-range write contract and range locality as the
        reference's HilbertKeyIndexMethod, api/package.scala:152; the
        reference's uzaygezen compact-Hilbert index values generally
        differ in curve orientation from the classic xy2d transform
        used here, and the keys are internal sort keys, so index-value
        parity is neither claimed nor needed).

        Reference: writeRddToLayer (api/package.scala:130-180) = SFC
        index + Avro write + histogram attribute; here the SFC is a
        sort key and the histogram is a one-pass agg stored as JSON.

        The write range-partitions on the SFC key (default
        ``defaultParallelism`` output files): every task writes a
        disjoint, sorted key range, so (a) the write parallelizes — a
        plain repartition(layer, zoom) would funnel the whole layer
        through ONE task at 100 TB — and (b) file- and row-group-level
        min/max stats on the key stay non-overlapping, which is what
        makes spatial-range reads prune files like the reference's
        Z-curve index ranges (api/package.scala:143).

        The input is conformed to the stored tile columns (int keys, a
        timestamp ``ts`` — NULL for spatial layers — and ``tile``), so
        the files always match the schema ``read_layer`` pins.
        """
        # space-time layers (SpaceTimeKey analog, api/package.scala:
        # 152-164 HilbertKeyIndexMethod(1)): time-major, Z-curve within
        # each instant, so Parquet row-group min/max stats prune BOTH a
        # time-range filter and a spatial-range filter. Spatial-only
        # layers (no ts column) keep the pure Z-order.
        sort_keys = ["ts", "_zk"] if "ts" in tiles.columns else ["_zk"]
        ts = F.col("ts") if "ts" in tiles.columns else F.lit(None)
        keyed = tiles.select(
            F.lit(layer).alias("layer"),
            F.lit(zoom).alias("zoom"),
            F.col("tile_col").cast("int").alias("tile_col"),
            F.col("tile_row").cast("int").alias("tile_row"),
            ts.cast("timestamp").alias("ts"),
            "tile",
        )
        if index_method == "hilbert":
            keyed = with_hilbert_key(keyed, out="_zk")
        elif index_method == "zorder":
            keyed = keyed.withColumn("_zk", zorder_key())
        else:
            raise ValueError(
                f"index_method must be 'zorder' or 'hilbert', got "
                f"{index_method!r}"
            )
        n_files = (
            target_files
            if target_files is not None
            else self.spark.sparkContext.defaultParallelism
        )
        # repartitionByRange needs a range-SAMPLING pass before the
        # write pass, so an unmaterialized input executes its whole
        # upstream plan twice — for the lazy ingest chain (chunked
        # decode → warp → reassembly) that was most of scene-ingest
        # wall time (r10, found by the 4-band scene e2e: 21-30 s per
        # band of which ~5 s is the chain run once). Persist spills to
        # local disk past memory, trading one extra local IO pass for
        # a full recompute — the same trade at 1000 executors.
        from pyspark import StorageLevel

        keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            (
                keyed.repartitionByRange(n_files, "layer", "zoom", *sort_keys)
                .sortWithinPartitions(*sort_keys)
                .drop("_zk")
                .write.mode("overwrite")
                .partitionBy("layer", "zoom")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(self.tiles_path)
            )
        finally:
            keyed.unpersist()
        # metadata + histogram read BACK from the written parquet
        # (r8, found by the scene-scale e2e): computing them from the
        # input relation re-executed the whole upstream pipeline. Two
        # global aggregates: the first yields key bounds, tile shape,
        # band count and value bounds; the second bins every value
        # against those bounds.
        written = self.read_layer(layer, zoom)
        t = F.col("tile")
        values = F.flatten(t["bands"])
        meta = written.agg(
            F.first(t["cell_type"]).alias("cell_type"),
            F.max(F.size(t["bands"])).alias("n_bands"),
            F.first(t["cols"]).alias("tile_cols"),
            F.first(t["rows"]).alias("tile_rows"),
            (F.max("tile_col") - F.min("tile_col") + 1).alias("layout_cols"),
            (F.max("tile_row") - F.min("tile_row") + 1).alias("layout_rows"),
            F.min("tile_col").alias("key_col_min"),
            F.max("tile_col").alias("key_col_max"),
            F.min("tile_row").alias("key_row_min"),
            F.max("tile_row").alias("key_row_max"),
            F.min(F.array_min(values)).alias("lo"),
            F.max(F.array_max(values)).alias("hi"),
        ).first().asDict()
        lo, hi = meta.pop("lo"), meta.pop("hi")
        self._put_json(
            self._metadata_path(layer, zoom),
            {"layer": layer, "zoom": zoom, "crs": crs, "extent": None, **meta},
        )
        self.write_attribute(
            layer, zoom, "histogramData", self._histogram_json(written, lo, hi)
        )

    @staticmethod
    def _histogram_json(tiles: DataFrame, lo, hi) -> str:
        """Layer histogram attribute (reference: rdd.histogram written
        at zoom 0, api/package.scala:146) over every non-NULL value of
        every band, binned against the layer's true lo/hi (not
        band-0-only clamps). One aggregate, one ``count_if`` per
        bucket; only non-empty buckets are listed."""
        if lo is None or hi is None or hi == lo:
            return json.dumps({"lo": lo, "hi": hi, "counts": []})
        n = HISTOGRAM_BUCKETS
        step = (hi - lo) / n
        v = F.col("v")
        bucket = F.least(
            F.greatest(F.floor((v - F.lit(lo)) / F.lit(step)), F.lit(0)),
            F.lit(n - 1),
        )
        row = (
            tiles.select(F.explode(F.flatten(F.col("tile")["bands"])).alias("v"))
            .where(v.isNotNull())
            .select(bucket.alias("bucket"))
            .agg(*[F.count_if(F.col("bucket") == k) for k in range(n)])
            .first()
        )
        return json.dumps(
            {
                "lo": lo,
                "hi": hi,
                "counts": [[k, int(c)] for k, c in enumerate(row) if c],
            }
        )

    # -- read --------------------------------------------------------------

    def layers(self) -> DataFrame:
        """Metadata rows of every (layer, zoom), as a local relation."""
        return local_df(self.spark, self._metadata_rows(), LAYER_META_SCHEMA)

    def layer_ids(self) -> list[tuple[str, int]]:
        """All (layer, zoom) pairs (reference: attributeStore.layerIds,
        api/package.scala:108-122)."""
        return [(m["layer"], m["zoom"]) for m in self._metadata_rows()]

    def finest_zoom(self, layer: str) -> int:
        """Reference: zoomsOfLayer ... maxBy(_.zoom)
        (NDVILayerExample.scala:95-103)."""
        zooms = [m["zoom"] for m in self._metadata_rows(layer)]
        if not zooms:
            raise KeyError(f"layer not found: {layer}")
        return max(zooms)

    def layer_crs(self, layer: str, zoom: int | None = None) -> str:
        """Grid CRS recorded for (layer, zoom) — zoom=None means any
        level (one layer keeps one grid CRS across its pyramid). The
        stacking alignment check reads this (reference:
        tilesmerged.metadata.crs != tiles.metadata.crs,
        ManyLayersToMultibandLayer.scala:244)."""
        if zoom is None:
            rows = self._metadata_rows(layer)
        else:
            rows = [self._get_json(self._metadata_path(layer, zoom))]
        if not rows or rows[0] is None:
            raise KeyError(f"layer not found: {layer}")
        return rows[0]["crs"]

    def read_layer(
        self,
        layer: str,
        zoom: int | None = None,
        band: int | None = None,
        time_range: tuple | None = None,
    ) -> DataFrame:
        """Partition-pruned read of one (layer, zoom); optional band
        selection (reference: readRddFromLayer band coercion,
        api/package.scala:189-308) and, for space-time layers, a
        ``time_range=(start, end)`` half-open filter — pushed to the
        parquet scan, where the time-major write order makes it a
        row-group-pruning range predicate (the Hilbert-index read path,
        api/package.scala:225-245). The scan uses the pinned
        ``TILE_SCHEMA``, so building the DataFrame runs no job."""
        if zoom is None:
            zoom = self.finest_zoom(layer)
        df = self.spark.read.schema(TILE_SCHEMA).parquet(self.tiles_path).where(
            (F.col("layer") == layer) & (F.col("zoom") == zoom)
        )
        if time_range is not None:
            start, end = time_range
            df = df.where(
                (F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))
            )
        if band is not None:
            from biggis_landuse_spark.operators.local import band_select

            df = df.withColumn("tile", band_select(F.col("tile"), band))
        return df

    # -- delete ------------------------------------------------------------

    def delete_layer(self, layer: str, zoom: int | None = None) -> None:
        """Drop one zoom or all zooms of a layer, including metadata and
        attributes (S5; reference: deleteLayerFromCatalog /
        deleteZoomLevelFromLayer, api/package.scala:67-102). The
        metadata goes first, so an interrupted delete never leaves a
        listed layer without tiles."""
        if zoom is None:
            self._delete_dir(self._key_dir(layer))
            self._delete_dir(f"{self.tiles_path}/layer={layer}")
        else:
            self._delete_dir(self._key_dir(layer, zoom))
            self._delete_dir(f"{self.tiles_path}/layer={layer}/zoom={zoom}")

    # -- merge (layer update) ----------------------------------------------

    def merge_into_layer(self, update: DataFrame, layer: str, zoom: int) -> None:
        """Merge an update into an existing layer: full-outer join on the
        tile key, cell-level coalesce(existing, update) — Delta MERGE
        semantics built from join + overwrite (reference:
        mergeRddIntoLayer, api/package.scala:328-385). The layer keeps
        its recorded CRS."""
        from biggis_landuse_spark.operators.local import tile_merge

        existing = self.read_layer(layer, zoom).select(
            "tile_col", "tile_row", F.col("tile").alias("t_old")
        )
        upd = update.select(
            "tile_col", "tile_row", F.col("tile").alias("t_new")
        )
        merged = existing.join(upd, ["tile_col", "tile_row"], "full_outer").select(
            "tile_col",
            "tile_row",
            F.lit(None).cast("timestamp").alias("ts"),
            F.when(
                F.col("t_old").isNotNull() & F.col("t_new").isNotNull(),
                tile_merge(F.col("t_old"), F.col("t_new")),
            )
            .otherwise(F.coalesce("t_old", "t_new"))
            .alias("tile"),
        )
        # stage (never read+overwrite the same partition), then rewrite
        # the layer from the staged result — scales to any layer size,
        # never collects tiles
        staged = self._stage(merged, f"{layer}/{zoom}")
        self.write_layer(staged, layer, zoom, crs=self.layer_crs(layer, zoom))
        self._delete_dir(f"{self.base}/_staging")

    def compact_layer(
        self, layer: str, zoom: int, target_files: int = 1
    ) -> None:
        """Rewrite a layer partition into ``target_files`` globally
        Z-ordered files.

        Incremental ingest (streaming foreachBatch merges, repeated
        merge_into_layer calls) accretes small files; at scale, scan
        cost and open-file overhead grow with file count while min/max
        pruning degrades as key ranges overlap. Compaction re-sorts
        once and restores the write-time layout contract (disjoint
        sorted key ranges per file). Same staging discipline as merge:
        never read and overwrite a partition in one job.
        """
        meta = self._get_json(self._metadata_path(layer, zoom))
        staged = self._stage(
            self.read_layer(layer, zoom), f"compact/{layer}/{zoom}"
        )
        self.write_layer(
            staged,
            layer,
            zoom,
            crs=meta["crs"] if meta else "EPSG:3857",
            target_files=target_files,
        )
        self._delete_dir(f"{self.base}/_staging")

    def _stage(self, tiles: DataFrame, name: str) -> DataFrame:
        """Materialize ``tiles`` under ``{base}/_staging/<name>`` and
        read it back with the pinned tile columns."""
        tmp = f"{self.base}/_staging/{name}"
        tiles.select(*_DATA_SCHEMA.fieldNames()).write.mode("overwrite").parquet(tmp)
        return self.spark.read.schema(_DATA_SCHEMA).parquet(tmp)

    # -- attributes (S19) ---------------------------------------------------

    def write_attribute(self, layer: str, zoom: int, name: str, payload: str) -> None:
        self._put_json(
            self._attribute_path(layer, zoom, name),
            {"layer": layer, "zoom": zoom, "name": name, "json": payload},
        )

    def attributes(self) -> DataFrame:
        """Every attribute row, as a local relation."""
        rows = self._glob_json(f"{self.attributes_path}/*/*/attr/*.json")
        return local_df(self.spark, rows, ATTRIBUTE_SCHEMA)

    def read_attribute(self, layer: str, zoom: int, name: str) -> str | None:
        row = self._get_json(self._attribute_path(layer, zoom, name))
        return row["json"] if row else None

    # -- attribute store ----------------------------------------------------

    def _key_dir(self, layer: str, zoom: int | None = None) -> str:
        d = f"{self.attributes_path}/{quote(layer, safe='')}"
        return d if zoom is None else f"{d}/{zoom}"

    def _metadata_path(self, layer: str, zoom: int) -> str:
        return f"{self._key_dir(layer, zoom)}/metadata.json"

    def _attribute_path(self, layer: str, zoom: int, name: str) -> str:
        return f"{self._key_dir(layer, zoom)}/attr/{quote(name, safe='')}.json"

    def _metadata_rows(self, layer: str | None = None) -> list[dict]:
        """Metadata rows sorted by (layer, zoom); one layer's if given."""
        layer_dir = "*" if layer is None else quote(layer, safe="")
        rows = self._glob_json(
            f"{self.attributes_path}/{layer_dir}/*/metadata.json"
        )
        return sorted(rows, key=lambda m: (m["layer"], m["zoom"]))

    def _put_json(self, path: str, row: dict) -> None:
        """Write ``row`` to a temp name beside ``path``, then rename it
        over ``path`` — atomic on HDFS, so a reader sees the old file or
        the new one, never a partial write."""
        jvm = self.spark._jvm
        fs, target = self._hadoop_path(path)
        tmp = jvm.org.apache.hadoop.fs.Path(
            f"{path}.{uuid.uuid4().hex}{_TMP_SUFFIX}"
        )
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(row).encode("utf-8")))
        finally:
            out.close()
        rename = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
        opts = self.spark.sparkContext._gateway.new_array(rename, 1)
        opts[0] = rename.OVERWRITE
        jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            target.toUri(), self.spark._jsc.hadoopConfiguration()
        ).rename(tmp, target, opts)

    def _get_json(self, path: str) -> dict | None:
        fs, p = self._hadoop_path(path)
        return self._read_json(fs, p)

    def _glob_json(self, pattern: str) -> list[dict]:
        """Rows of every file matching ``pattern`` (temp names end in
        ``.tmp``, so a ``*.json`` pattern never lists them)."""
        fs, p = self._hadoop_path(pattern)
        rows = (self._read_json(fs, s.getPath()) for s in fs.globStatus(p) or [])
        return [r for r in rows if r is not None]

    def _read_json(self, fs, p) -> dict | None:
        """One attribute file; None when it is absent (never written, or
        deleted between a listing and this read)."""
        from py4j.protocol import Py4JJavaError

        try:
            stream = fs.open(p)
        except Py4JJavaError as e:
            if "FileNotFoundException" in str(e.java_exception):
                return None
            raise
        try:
            text = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(text)

    # -- util ---------------------------------------------------------------

    def _hadoop_path(self, path: str):
        """Resolve a path through the Hadoop FileSystem API so every
        catalog op works on any supported scheme (local FS, HDFS, S3A),
        not just os.path-reachable local paths."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, p

    def _delete_dir(self, path: str) -> None:
        fs, p = self._hadoop_path(path)
        if fs.exists(p):
            fs.delete(p, True)
