"""``scene_pipeline``: the reference's product path on one synthetic
Landsat-like scene, then served tiles and point reads.

Set-up encodes red (b4), near-infrared (b5) and QA (bqa) bands as UTM
zone 32N GeoTIFFs; only pixel values depend on the seed, so every seed
does the same amount of work. One pass, on a fresh catalog:

1. ``operators.reproject.ingest_layers_webmercator`` of the 3 bands;
2. 3-layer tile join with ``mask_bits`` + ``ndvi``, ``catalog.write_layer``;
3. ``operators.pyramid.build_pyramid`` one level up;
4. every tile of both levels fetched over HTTP from
   ``serving.TileServer``, one GET at a time, three times over (the
   first GET of a zoom renders that zoom, the rest hit its cache);
5. seed-drawn point reads through ``serving.lookup_tile(...).collect()``.

Checks, in numpy and outside the clock: each ingested band against
the source raster warped to web mercator by the benchmark's own
projection formulas (``warp_to_webmercator``), the NDVI layer against
cloud-masked NDVI recomputed from the b4/b5/bqa tiles read back from
the catalog (read with pyarrow, not through the package), every
pyramid parent against the NaN-mean of its four
children, every GET is a PNG for a key that exists, every point read
against the tiles read back. The op latency is the point read: a warm
GET is a ~1 ms dictionary hit whose run-to-run spread on a 4-core box
was ~20%, so GETs are reported in the details and per-layer metrics.
"""

from __future__ import annotations

import math
import os
import urllib.request

import numpy as np

from perfbench.harness import median

SIZE = 256  # pixels per side of each band
CELL = 30.0  # metres per pixel
UTM_ORIGIN = (399960.0, 5_300_040.0)  # top-left corner, EPSG:32632
ZOOM = 12  # zoomed-layout level of 30 m cells
LEVELS = (ZOOM, ZOOM - 1)  # base level and one pyramid level
CLOUD_BITS = 0x8000 | 0x2000  # cloud and cirrus flags of the QA band
TILE = 256
READS = 4  # point reads per pass
GET_ROUNDS = 3  # times every tile is fetched per pass
BREAKS = [-0.2, 0.0, 0.2, 0.4, 0.6]
PALETTE = [0x7A0403FF, 0xEF5A11FF, 0xE1DD37FF, 0xA2FC3CFF, 0x46F884FF, 0x18D6CBFF]
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# source grid: WGS84 UTM zone 32N
WGS84_A = 6378137.0
WGS84_F = 1 / 298.257223563
UTM_LON0 = 9.0  # central meridian, degrees
UTM_K0 = 0.9996
UTM_FE = 500_000.0
MERC_MAX = math.pi * WGS84_A
# ingested cells that may differ from the warp: a source pixel centre
# within float noise of a cell edge can land on either side
WARP_TOLERANCE = 1e-3


def synth_bands(seed: int) -> dict[str, np.ndarray]:
    """Seeded red/NIR/QA rasters: NIR above red like vegetation, QA
    noise bits everywhere and four cloud or cirrus rectangles."""
    rng = np.random.default_rng([seed, 1])
    red = rng.integers(300, 3000, (SIZE, SIZE), dtype=np.uint16)
    nir = (red + rng.integers(0, 4000, (SIZE, SIZE))).astype(np.uint16)
    qa = (rng.integers(0, 4, (SIZE, SIZE)) << 4).astype(np.uint16)
    for _ in range(4):
        r0, c0 = rng.integers(0, SIZE - SIZE // 6, 2)
        h, w = rng.integers(SIZE // 16, SIZE // 6, 2)
        qa[r0 : r0 + h, c0 : c0 + w] |= 0x8000 if rng.random() < 0.5 else 0x2000
    return {"b4": red, "b5": nir, "bqa": qa}


def utm_to_lonlat(e: np.ndarray, n: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse transverse Mercator of zone-32N easting/northing to
    longitude/latitude in radians, by Krüger's series in the third
    flattening n to third order (sub-millimetre inside a zone)."""
    n3 = WGS84_F / (2 - WGS84_F)
    big_a = WGS84_A / (1 + n3) * (1 + n3**2 / 4 + n3**4 / 64)
    beta = (n3 / 2 - 2 * n3**2 / 3 + 37 * n3**3 / 96,
            n3**2 / 48 + n3**3 / 15,
            17 * n3**3 / 480)
    delta = (2 * n3 - 2 * n3**2 / 3 - 2 * n3**3,
             7 * n3**2 / 3 - 8 * n3**3 / 5,
             56 * n3**3 / 15)
    xi = n / (UTM_K0 * big_a)
    eta = (e - UTM_FE) / (UTM_K0 * big_a)
    xi1, eta1 = xi.copy(), eta.copy()
    for j, b in enumerate(beta, start=1):
        xi1 -= b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta1 -= b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xi1) / np.cosh(eta1))
    lat = chi + sum(d * np.sin(2 * j * chi) for j, d in enumerate(delta, start=1))
    lon = math.radians(UTM_LON0) + np.arctan2(np.sinh(eta1), np.cos(xi1))
    return lon, lat


def warp_to_webmercator(bands: dict[str, np.ndarray]) -> dict[str, dict]:
    """Each source raster warped onto the zoom-``ZOOM`` web-mercator
    tiles: every source pixel centre goes to the cell that contains it,
    and of several in one cell the nearest to the cell centre wins
    (then the smaller value), nearest-neighbour forward warping.
    Returns band → (tile_col, tile_row) → array, NODATA as NaN."""
    rows, cols = np.mgrid[0:SIZE, 0:SIZE]
    lon, lat = utm_to_lonlat(
        UTM_ORIGIN[0] + (cols.ravel() + 0.5) * CELL,
        UTM_ORIGIN[1] - (rows.ravel() + 0.5) * CELL,
    )
    mx = WGS84_A * lon
    my = WGS84_A * np.log(np.tan(math.pi / 4 + lat / 2))
    res = 2 * MERC_MAX / (TILE * 2**ZOOM)
    gx = np.floor((mx + MERC_MAX) / res).astype(np.int64)
    gy = np.floor((MERC_MAX - my) / res).astype(np.int64)
    d2 = (mx + MERC_MAX - (gx + 0.5) * res) ** 2 + (MERC_MAX - (gy + 0.5) * res - my) ** 2
    cell = gx * (TILE << ZOOM) + gy
    out = {}
    for name, band in bands.items():
        v = band.ravel().astype(np.float64)
        order = np.lexsort((v, d2, cell))
        win = order[np.r_[True, cell[order][1:] != cell[order][:-1]]]
        tiles: dict = {}
        for x, y, val in zip(gx[win], gy[win], v[win]):
            key = (int(x // TILE), int(y // TILE))
            if key not in tiles:
                tiles[key] = np.full((TILE, TILE), np.nan)
            tiles[key][y % TILE, x % TILE] = val
        out[name] = tiles
    return out


def cells_differing(got: dict, want: dict) -> int:
    """Cells that are NODATA in one tile set only, or differ in value."""
    bad = 0
    for key in set(got) | set(want):
        a = got.get(key, np.full((TILE, TILE), np.nan))
        b = want.get(key, np.full((TILE, TILE), np.nan))
        same = (np.isnan(a) & np.isnan(b)) | (a == b)
        bad += int((~same).sum())
    return bad


def tiles_to_numpy(tbl) -> dict[tuple[int, int], np.ndarray]:
    """Arrow table of tiles → (tile_col, tile_row) → band-0 array with
    NODATA as NaN."""
    tile = tbl.column("tile").combine_chunks()
    out = {}
    for i, key in enumerate(
        zip(tbl.column("tile_col").to_pylist(), tbl.column("tile_row").to_pylist())
    ):
        band0 = tile.field("bands")[i].values[0].values
        arr = band0.to_numpy(zero_copy_only=False).astype(np.float64)
        out[key] = arr.reshape(tile.field("rows")[i].as_py(), tile.field("cols")[i].as_py())
    return out


def read_tiles(cat, layer: str, zoom: int) -> dict[tuple[int, int], np.ndarray]:
    """One layer and zoom of the catalog, read with pyarrow from its
    partition directory."""
    import pyarrow.parquet as pq

    return tiles_to_numpy(pq.read_table(
        os.path.join(cat.tiles_path, f"layer={layer}", f"zoom={zoom}"),
        columns=["tile_col", "tile_row", "tile"],
    ))


def row_to_numpy(row) -> np.ndarray:
    t = row["tile"]
    return np.array(
        [np.nan if v is None else v for v in t["bands"][0]], dtype=np.float64
    ).reshape(t["rows"], t["cols"])


def expected_ndvi(red: np.ndarray, nir: np.ndarray, qa: np.ndarray) -> np.ndarray:
    """Cloud-masked (nir - red) / (nir + red); NODATA where any input
    is NODATA, a QA cloud bit is set or the denominator is 0."""
    nodata = np.isnan(red) | np.isnan(nir) | np.isnan(qa) | (nir + red == 0)
    cloud = (np.nan_to_num(qa).astype(np.int64) & CLOUD_BITS) != 0
    with np.errstate(invalid="ignore", divide="ignore"):
        out = (nir - red) / (nir + red)
    out[nodata | cloud] = np.nan
    return out


def parent_level(children: dict) -> dict:
    """NaN-mean 2×2 downsample of one level to the next."""
    quads: dict = {}
    for (c, r), arr in children.items():
        quads.setdefault((c // 2, r // 2), {})[(c % 2, r % 2)] = arr
    out = {}
    for key, q in quads.items():
        big = np.full((2 * TILE, 2 * TILE), np.nan)
        for (qx, qy), arr in q.items():
            big[qy * TILE : (qy + 1) * TILE, qx * TILE : (qx + 1) * TILE] = arr
        blocks = big.reshape(TILE, 2, TILE, 2)
        cnt = (~np.isnan(blocks)).sum(axis=(1, 3))
        with np.errstate(invalid="ignore", divide="ignore"):
            out[key] = np.where(cnt > 0, np.nansum(blocks, axis=(1, 3)) / cnt, np.nan)
    return out


def same_tile(a: np.ndarray, b: np.ndarray, tol: float) -> bool:
    if a.shape != b.shape or not np.array_equal(np.isnan(a), np.isnan(b)):
        return False
    ok = ~np.isnan(a)
    return bool(np.all(np.abs(a[ok] - b[ok]) <= tol))


def parquet_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under a directory."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class ScenePipeline:
    OP = "read"

    def __init__(self, spark, tracer, failures, work: str, seed: int) -> None:
        self.spark, self.tracer, self.failures = spark, tracer, failures
        self.root = os.path.join(work, "scene")
        self.seed = seed
        self.op_ms: list[float] = []
        self.catalog_io: list[dict] = []

    def setup(self) -> None:
        from biggis_landuse_spark.sources.tiff import encode_tiff

        bands = synth_bands(self.seed)
        self.warped = warp_to_webmercator(bands)
        for name, band in bands.items():
            d = os.path.join(self.root, "scenes", name)
            os.makedirs(d)
            with open(os.path.join(d, "scene.tif"), "wb") as f:
                f.write(
                    encode_tiff(
                        [band], compression="deflate", tile_size=TILE,
                        georef=(*UTM_ORIGIN, CELL, CELL),
                    )
                )

    def run_pass(self, pass_id: int) -> float:
        """One pass; returns the seconds spent in the program's calls."""
        from biggis_landuse_spark.catalog import LayerCatalog

        cat = LayerCatalog(self.spark, os.path.join(self.root, f"cat{pass_id}"))
        timed = 0.0
        for stage in (self._ingest, self._ndvi, self._pyramid):
            dt, ok = stage(cat)
            timed += dt
            if not ok:
                return timed
        with self.tracer.span("check"):
            model = self._check_layers(cat)
        if model is None:
            return timed
        timed += self._serve(cat, model)
        timed += self._point_reads(cat, model, pass_id)
        files, size = parquet_stats(cat.tiles_path)
        ndvi_files, _ = parquet_stats(os.path.join(cat.tiles_path, "layer=ndvi"))
        raw = 8 * TILE * TILE * (sum(len(m) for m in model.values()) + 3 * len(model[ZOOM]))
        self.catalog_io.append({"files": ndvi_files, "bytes": size, "amp": size / raw})
        return timed

    # -- the product path -----------------------------------------------------

    def _ingest(self, cat) -> tuple[float, bool]:
        from biggis_landuse_spark.operators.reproject import ingest_layers_webmercator

        with self.failures.op("ingest") as st, self.tracer.span("reproject.ingest") as sp:
            ingest_layers_webmercator(
                self.spark,
                {b: os.path.join(self.root, "scenes", b) for b in ("b4", "b5", "bqa")},
                cat, zoom=ZOOM, src_crs="EPSG:32632",
            )
        return sp["end"] - sp["start"], st["ok"]

    def _ndvi(self, cat) -> tuple[float, bool]:
        from pyspark.sql import functions as F

        from biggis_landuse_spark.operators.local import mask_bits, ndvi

        tr = self.tracer
        dt = 0.0
        with self.failures.op("ndvi_write") as st:
            bands = {}
            for b, alias in (("b5", "t_nir"), ("b4", "t_red"), ("bqa", "t_qa")):
                with tr.span("catalog.read_layer") as sp:
                    bands[b] = cat.read_layer(b, ZOOM).select(
                        "tile_col", "tile_row", F.col("tile").alias(alias)
                    )
                dt += sp["end"] - sp["start"]
            joined = bands["b5"].join(bands["b4"], ["tile_col", "tile_row"]).join(
                bands["bqa"], ["tile_col", "tile_row"]
            )
            result = joined.select(
                "tile_col", "tile_row", F.lit(None).cast("timestamp").alias("ts"),
                ndvi(
                    mask_bits(F.col("t_nir"), F.col("t_qa"), CLOUD_BITS),
                    mask_bits(F.col("t_red"), F.col("t_qa"), CLOUD_BITS),
                ).alias("tile"),
            )
            with tr.span("catalog.write_layer") as sp:
                cat.write_layer(result, "ndvi", ZOOM)
            dt += sp["end"] - sp["start"]
        return dt, st["ok"]

    def _pyramid(self, cat) -> tuple[float, bool]:
        from biggis_landuse_spark.operators.pyramid import build_pyramid

        with self.failures.op("pyramid_build") as st, self.tracer.span("pyramid.build") as sp:
            build_pyramid(cat, "ndvi", from_zoom=ZOOM, to_zoom=LEVELS[-1])
        return sp["end"] - sp["start"], st["ok"]

    def _check_layers(self, cat) -> dict | None:
        """Read every layer back; check NDVI and the pyramid level.
        Returns the tiles of each level, the model for later reads."""
        fl = self.failures
        with fl.op("check_layers") as st:
            got = {b: read_tiles(cat, b, ZOOM) for b in ("b4", "b5", "bqa")}
            model = {z: read_tiles(cat, "ndvi", z) for z in LEVELS}
            base = model[ZOOM]
            for b, want in self.warped.items():
                valid = sum(int((~np.isnan(t)).sum()) for t in want.values())
                bad = cells_differing(got[b], want)
                fl.check(
                    f"ingest_{b}", bad <= WARP_TOLERANCE * valid,
                    f"{bad} of {valid} cells differ from the warped source",
                )
            keys = set(got["b4"]) & set(got["b5"]) & set(got["bqa"])
            fl.check(
                "ndvi_keys", set(base) == keys and len(keys) > 0,
                f"{len(base)} NDVI tiles vs {len(keys)} joined band tiles",
            )
            bad = [
                k for k in keys & set(base)
                if not same_tile(
                    base[k], expected_ndvi(got["b4"][k], got["b5"][k], got["bqa"][k]), 1e-6
                )
            ]
            fl.check("ndvi_values", not bad, f"{len(bad)} NDVI tiles differ, e.g. {bad[:2]}")
            for child, parent in zip(LEVELS, LEVELS[1:]):
                want = parent_level(model[child])
                bad = sorted(set(want) ^ set(model[parent])) + [
                    k for k in set(want) & set(model[parent])
                    if not same_tile(model[parent][k], want[k], 1e-9)
                ]
                fl.check(f"pyramid_z{parent}", not bad, f"{len(bad)} parents differ, e.g. {bad[:2]}")
        return model if st["ok"] else None

    # -- serving --------------------------------------------------------------

    def _serve(self, cat, model: dict) -> float:
        from biggis_landuse_spark.serving import TileServer

        fl, tr = self.failures, self.tracer
        server = TileServer(cat, "ndvi", breaks=BREAKS, palette=PALETTE)
        port = server.start()
        timed = 0.0
        try:
            for z in LEVELS:
                keys = sorted(model[z]) * GET_ROUNDS
                for i, (x, y) in enumerate(keys):
                    with fl.op("get") as st, tr.span("serving.get", first=i == 0) as sp:
                        with urllib.request.urlopen(
                            f"http://127.0.0.1:{port}/{z}/{x}/{y}", timeout=60
                        ) as resp:
                            status, body = resp.status, resp.read()
                    timed += sp["end"] - sp["start"]
                    if st["ok"]:
                        fl.check(
                            "get_png", status == 200 and body[:8] == PNG_MAGIC,
                            f"/{z}/{x}/{y}: status {status}, {len(body)} bytes",
                        )
        finally:
            server.stop()
        return timed

    def _point_reads(self, cat, model: dict, pass_id: int) -> float:
        """Seed-drawn reads, three in four from the base level."""
        from biggis_landuse_spark.serving import lookup_tile

        fl, tr = self.failures, self.tracer
        rng = np.random.default_rng([self.seed, 2, pass_id])
        timed = 0.0
        for _ in range(READS):
            z = ZOOM if rng.random() < 0.75 else LEVELS[1]
            keys = sorted(model[z])
            key = keys[int(rng.integers(len(keys)))]
            with fl.op("read") as st, tr.span("serving.lookup") as sp:
                rows = lookup_tile(cat, "ndvi", z, *key).collect()
            dt = sp["end"] - sp["start"]
            timed += dt
            self.op_ms.append(dt * 1e3)
            if st["ok"]:
                fl.check(
                    "read", len(rows) == 1 and same_tile(row_to_numpy(rows[0]), model[z][key], 1e-9),
                    f"z{z} {key}: {len(rows)} rows or values differ",
                )
        return timed

    # -- reporting ------------------------------------------------------------

    def _get_ms(self) -> tuple[list[float], list[float]]:
        """(first GET of each zoom, every other GET) of the timed passes, ms."""
        timed = set(self.tracer.timed_passes())
        gets = [s for s in self.tracer.by_name("serving.get") if s["op"] in timed]
        return (
            [(s["end"] - s["start"]) * 1e3 for s in gets if s["first"]],
            [(s["end"] - s["start"]) * 1e3 for s in gets if not s["first"]],
        )

    def detail(self) -> dict:
        first, warm = self._get_ms()
        return {
            "size_px": SIZE,
            "levels": list(LEVELS),
            "reads_per_pass": READS,
            "tile_p50_ms": median(first + warm),
            "tile_render_ms": first,
            "tile_warm_p50_ms": median(warm),
            "tile_samples": len(first) + len(warm),
        }

    def layer_extras(self) -> dict:
        first, warm = self._get_ms()
        io = self.catalog_io[1:]
        return {
            "serving.render_s": sum(first) / 1e3 / len(self.tracer.timed_passes()),
            "serving.get_ms": median(warm),
            "serving.lookup_collect_ms": median(self.op_ms),
            "catalog.bytes_written": median([c["bytes"] for c in io]),
            "catalog.write_amp": median([c["amp"] for c in io]),
            "catalog.files": median([c["files"] for c in io]),
        }
