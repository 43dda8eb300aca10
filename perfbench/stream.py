"""Streaming leg of ``query_mix``: the package's scene pixel stream,
driven the way ``streaming/bench.py:run_pipeline_scene`` drives it.

The pipe is one streaming query: ``sources.spool`` source →
``sources.kafka.decode_stream`` → ``streaming.pixels.
reassemble_tiles_stream`` (256×256 tiles, state-store partitions set
to 4 and no-data micro-batches off, as in ``run_pipeline_scene``) →
``streaming.pixels.stream_to_versioned`` into a ``versioning.
VersionedLayerStore``. Set-up writes every message string from the
seed, in the wire format ``label;value;SpatialKey(c,r);x;y``, with
plain Python formatting. Each pass starts a fresh query on a fresh
spool, checkpoint and store, and feeds it in waves: the next wave is
appended only after ``processAllAvailable()`` returns. Each tile is
sent in two row bands. The first wave carries all of tile 0 and the
first band of tile 1; each later wave completes the tile that waits
half-done in the state store and starts the next. So every wave
completes one tile: the first is a ``VersionedLayerStore.write``, each
later one a merge.

Checks, outside the clock and without the package (pyarrow reads the
store's manifests and parquet files): one version per completed
tile, version k holds exactly the first k tiles with no key twice and
no batch id twice, and the last version equals the generated pixels,
so the rows committed equal the rows sent.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np

from perfbench.harness import median

SIZE = 256  # tile side in pixels
TILES = 2
CHUNKS = 2  # row bands per tile; tile t's band b goes out in wave max(t + b - 1, 0)
WAVES = TILES + CHUNKS - 2
STATE_PARTS = 4
SPOOL_PARTS = 4
LAYER = "scene"

# StreamingQueryProgress.durationMs fields summed per pass
DURATIONS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.latest_offset_ms": "latestOffset",
}


def synth_pixels(seed: int) -> np.ndarray:
    """(TILES, SIZE, SIZE) pixel values, multiples of 1/8 so that their
    text form and its parse are exact."""
    rng = np.random.default_rng([seed, 3])
    return rng.integers(0, 80_000, (TILES, SIZE, SIZE)) / 8.0


def wave_messages(pixels: np.ndarray) -> list[dict[int, list[str]]]:
    """Per wave, spool partition → message lines."""
    waves: list[dict[int, list[str]]] = [{} for _ in range(WAVES)]
    band = SIZE // CHUNKS
    for t in range(TILES):
        for b in range(CHUNKS):
            wave = waves[max(t + b - 1, 0)]
            for y in range(b * band, (b + 1) * band):
                row = pixels[t, y]
                wave.setdefault(y % SPOOL_PARTS, []).extend(
                    f"0.0;{row[x]!r};SpatialKey({t},0);{x};{y}" for x in range(SIZE)
                )
    return waves


def read_versions(store_root: str) -> list[tuple[dict, list, dict]]:
    """(manifest, tile keys as stored, (tile_col, tile_row) → array)
    per committed version, oldest first, read with pyarrow."""
    import pyarrow.parquet as pq

    from perfbench.scene import tiles_to_numpy

    out = []
    manifests = glob.glob(os.path.join(store_root, LAYER, "0", "_manifests", "v*.json"))
    for path in sorted(manifests, key=lambda p: int(os.path.basename(p)[1:-5])):
        with open(path) as f:
            manifest = json.load(f)
        tbl = pq.read_table(manifest["data"], columns=["tile_col", "tile_row", "tile"])
        keys = list(zip(tbl.column("tile_col").to_pylist(), tbl.column("tile_row").to_pylist()))
        out.append((manifest, keys, tiles_to_numpy(tbl)))
    return out


class StreamLeg:
    def __init__(self, spark, tracer, failures, work: str, seed: int) -> None:
        self.spark, self.tracer, self.failures = spark, tracer, failures
        self.root = os.path.join(work, "stream")
        self.seed = seed
        # per pass id (0 is the cold pass)
        self.wave_ms: dict[int, list[float]] = {}
        self.progress: dict[int, dict] = {}  # summed progress fields
        self.rows_per_s: dict[int, float] = {}

    def setup(self) -> None:
        from biggis_landuse_spark.sources.spool import register_spool

        register_spool(self.spark)
        self.pixels = synth_pixels(self.seed)
        self.waves = wave_messages(self.pixels)

    def run_pass(self, pass_id: int) -> float:
        """One stream; returns the seconds spent in the program's calls."""
        fl, tr = self.failures, self.tracer
        root = os.path.join(self.root, f"pass{pass_id}")
        spool = os.path.join(root, "spool")
        os.makedirs(spool)
        conf = self.spark.conf
        saved = {
            k: conf.get(k)
            for k in ("spark.sql.shuffle.partitions",
                      "spark.sql.streaming.noDataMicroBatches.enabled")
        }
        conf.set("spark.sql.shuffle.partitions", str(STATE_PARTS))
        conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        query = None
        timed = 0.0
        try:
            with tr.span("stream") as outer:
                with fl.op("stream_start") as st, tr.span("streaming.start") as sp:
                    query = self._start(root, spool)
                    outer["groups"].append(str(query.runId))
                timed += sp["end"] - sp["start"]
                if not st["ok"]:
                    return timed
                first = None
                for w, parts in enumerate(self.waves):
                    with fl.op("wave") as st, tr.span("streaming.wave", wave=w) as sp:
                        with tr.span("spool.append"):
                            self._append(spool, parts)
                        query.processAllAvailable()
                    dt = sp["end"] - sp["start"]
                    timed += dt
                    first = sp["start"] if first is None else first
                    if not st["ok"]:
                        return timed
                    self.wave_ms.setdefault(pass_id, []).append(dt * 1e3)
                self.rows_per_s[pass_id] = self.pixels.size / (sp["end"] - first)
                self.progress[pass_id] = self._progress(query)
        finally:
            if query is not None:
                query.stop()
            for k, v in saved.items():
                conf.set(k, v)
        with tr.span("check"):
            self._check(os.path.join(root, "store"), pass_id)
        return timed

    def _start(self, root: str, spool: str):
        from pyspark.sql import functions as F

        from biggis_landuse_spark.sources.kafka import decode_stream
        from biggis_landuse_spark.streaming.pixels import (
            reassemble_tiles_stream,
            stream_to_versioned,
        )
        from biggis_landuse_spark.versioning import VersionedLayerStore

        lines = self.spark.readStream.format("spool").option("path", spool).load()
        px = decode_stream(lines).select(
            "tile_col", "tile_row", F.col("label").cast("int").alias("band"),
            "px", "py", F.element_at("features", 1).alias("value"),
            F.timestamp_seconds(F.lit(1_700_000_000)).alias("event_ts"),
        )
        tiles = reassemble_tiles_stream(px, cols=SIZE, rows=SIZE)
        store = VersionedLayerStore(self.spark, os.path.join(root, "store"))
        return stream_to_versioned(
            tiles, store, LAYER, cols=SIZE, rows=SIZE,
            checkpoint=os.path.join(root, "ck"),
        ).start()

    @staticmethod
    def _append(spool: str, parts: dict[int, list[str]]) -> None:
        from biggis_landuse_spark.sources.spool import append_messages, atomic_appends

        # all partitions of a wave land in one micro-batch
        with atomic_appends(spool):
            for p, lines in sorted(parts.items()):
                append_messages(spool, p, lines)

    @staticmethod
    def _progress(query) -> dict:
        """Sums (maxima for state size) over the pass's micro-batches."""
        out = {"streaming.batches": 0, "streaming.state_rows": 0,
               "streaming.state_bytes": 0, "streaming.state_commit_ms": 0,
               **{k: 0 for k in DURATIONS}}
        for p in query.recentProgress:
            out["streaming.batches"] += 1
            dur = p.durationMs
            for metric, field in DURATIONS.items():
                out[metric] += dur.get(field, 0)
            for op in p.stateOperators:
                out["streaming.state_rows"] = max(out["streaming.state_rows"], op.numRowsTotal)
                out["streaming.state_bytes"] = max(out["streaming.state_bytes"], op.memoryUsedBytes)
                out["streaming.state_commit_ms"] += op.commitTimeMs
        return out

    def _check(self, store_root: str, pass_id: int) -> None:
        fl = self.failures
        with fl.op("stream_check") as st:
            versions = read_versions(store_root)
        if not st["ok"]:
            return
        self.progress[pass_id]["versioning.versions"] = len(versions)
        fl.check("stream_versions", len(versions) == TILES,
                 f"{len(versions)} versions for {TILES} completed tiles")
        batch_ids = [m.get("batch_id") for m, _, _ in versions]
        fl.check("stream_batches_once", len(set(batch_ids)) == len(batch_ids),
                 f"batch ids {batch_ids}")
        for k, (_, keys, _) in enumerate(versions, start=1):
            want = sorted((t, 0) for t in range(k))
            fl.check(f"stream_v{k}_keys", sorted(keys) == want,
                     f"keys {sorted(keys)}, expected {want}")
        if versions:
            last = versions[-1][2]
            bad = [t for t in range(TILES)
                   if not np.array_equal(last.get((t, 0)), self.pixels[t])]
            rows = sum(int(np.sum(~np.isnan(a))) for a in last.values())
            fl.check("stream_pixels", not bad, f"tiles {bad} differ from the pixels sent")
            fl.check("stream_rows", rows == self.pixels.size,
                     f"{rows} rows committed, {self.pixels.size} sent")

    # -- reporting ------------------------------------------------------------

    def _timed(self, per_pass: dict) -> list:
        return [v for p, v in sorted(per_pass.items()) if p != 0]

    def detail(self) -> dict:
        from perfbench.harness import percentile, tail_percentile

        waves = [ms for per in self._timed(self.wave_ms) for ms in per]
        q = tail_percentile(len(waves))
        return {
            "stream_tiles": TILES,
            "stream_waves_per_pass": WAVES,
            "rows_per_s": median(self._timed(self.rows_per_s)),
            "wave_p50_ms": median(waves),
            f"wave_p{q}_ms": percentile(waves, q),
            "wave_ms": waves,
        }

    def layer_extras(self) -> dict:
        """Medians over the timed passes."""
        runs = self._timed(self.progress)
        out = {k: median([r.get(k, 0) for r in runs]) for k in runs[0]} if runs else {}
        out["streaming.rows_per_s"] = median(self._timed(self.rows_per_s))
        out["streaming.wave_ms"] = self.detail()["wave_p50_ms"]
        return out
