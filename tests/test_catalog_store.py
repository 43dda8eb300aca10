"""Catalog metadata and attribute store on the 8×8 fixture tiles:
metadata rows, the histogram attribute, rewrites, deletes, concurrent
writers, crashed-writer temp files, job-free metadata reads and the
pinned tile schema."""

from __future__ import annotations

import datetime as dt
import json
import os
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from biggis_landuse_spark import catalog as C
from biggis_landuse_spark import fixtures as FX
from biggis_landuse_spark.catalog import LayerCatalog


@pytest.fixture(scope="module")
def red(spark):
    return FX.fixture_layer(spark, "b4_red")


@pytest.fixture(scope="module")
def nir(spark):
    return FX.fixture_layer(spark, "b5_nir")


def _fixture_values(layer: str) -> np.ndarray:
    return np.array(
        [v for tr in range(FX.GRID) for tc in range(FX.GRID)
         for v in FX.band(layer, tc, tr)],
        dtype=np.float64,
    )


def _jobs_in(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_metadata_row_matches_fixture_geometry(spark, tmp_path, red):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    cat.write_layer(red, "b4_red", zoom=3, crs="EPSG:32632")
    rows = [r.asDict() for r in cat.layers().collect()]
    assert rows == [
        {
            "layer": "b4_red",
            "zoom": 3,
            "cell_type": "float64",
            "crs": "EPSG:32632",
            "n_bands": 1,
            "tile_cols": FX.TS,
            "tile_rows": FX.TS,
            "layout_cols": FX.GRID,
            "layout_rows": FX.GRID,
            "key_col_min": 0,
            "key_col_max": FX.GRID - 1,
            "key_row_min": 0,
            "key_row_max": FX.GRID - 1,
            "extent": None,
        }
    ]


@pytest.mark.parametrize("layer", ["b4_red", "b5_nir"])
def test_histogram_matches_numpy_buckets(spark, tmp_path, layer):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    cat.write_layer(FX.fixture_layer(spark, layer), layer, zoom=0)
    hist = json.loads(cat.read_attribute(layer, 0, "histogramData"))

    values = _fixture_values(layer)
    lo, hi = values.min(), values.max()
    n = C.HISTOGRAM_BUCKETS
    buckets = np.clip(np.floor((values - lo) / ((hi - lo) / n)), 0, n - 1)
    counts = np.bincount(buckets.astype(np.int64), minlength=n)
    assert (hist["lo"], hist["hi"]) == (lo, hi)
    assert hist["counts"] == [[k, int(c)] for k, c in enumerate(counts) if c]
    assert sum(c for _, c in hist["counts"]) == values.size


def test_constant_layer_has_empty_histogram(spark, tmp_path, red):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    flat = red.withColumn(
        "tile", F.struct(
            F.col("tile.cols"), F.col("tile.rows"), F.col("tile.cell_type"),
            F.array(F.array_repeat(F.lit(7.0), FX.TS * FX.TS)).alias("bands"),
        ),
    )
    cat.write_layer(flat, "flat", zoom=0)
    hist = json.loads(cat.read_attribute("flat", 0, "histogramData"))
    assert hist == {"lo": 7.0, "hi": 7.0, "counts": []}


def test_rewrite_keeps_one_row(spark, tmp_path, red, nir):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    cat.write_layer(red, "band", zoom=2, crs="EPSG:3857")
    cat.write_layer(nir, "band", zoom=2, crs="EPSG:32632")
    rows = cat.layers().collect()
    assert [(r["layer"], r["zoom"], r["crs"]) for r in rows] == [
        ("band", 2, "EPSG:32632")
    ]
    assert cat.attributes().count() == 1
    hist = json.loads(cat.read_attribute("band", 2, "histogramData"))
    assert hist["hi"] == _fixture_values("b5_nir").max()


def test_delete_removes_row_and_attributes(spark, tmp_path, red):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    for z in (1, 2):
        cat.write_layer(red, "gone", zoom=z)
    cat.write_layer(red, "kept", zoom=1)
    cat.write_attribute("gone", 2, "note", '{"a": 1}')

    cat.delete_layer("gone", 2)
    assert cat.layer_ids() == [("gone", 1), ("kept", 1)]
    assert cat.read_attribute("gone", 2, "histogramData") is None
    assert cat.read_attribute("gone", 2, "note") is None
    assert cat.read_layer("gone", 2).count() == 0

    cat.delete_layer("gone")
    assert cat.layer_ids() == [("kept", 1)]
    assert [
        (r["layer"], r["zoom"], r["name"]) for r in cat.attributes().collect()
    ] == [("kept", 1, "histogramData")]
    with pytest.raises(KeyError):
        cat.finest_zoom("gone")


def test_concurrent_writers_each_keep_their_row(spark, tmp_path, red):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    errors = []

    def write(name):
        try:
            cat.write_layer(red, name, zoom=4)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=write, args=(f"t{i}",)) for i in range(3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert cat.layer_ids() == [("t0", 4), ("t1", 4), ("t2", 4)]
    assert cat.layers().count() == 3
    assert all(
        cat.read_attribute(f"t{i}", 4, "histogramData") for i in range(3)
    )


def test_stray_temp_files_are_ignored(spark, tmp_path, red):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    cat.write_layer(red, "b4_red", zoom=3)
    stray = [
        cat._metadata_path("b4_red", 3),
        cat._attribute_path("b4_red", 3, "histogramData"),
        cat._metadata_path("ghost", 5),  # a first write that crashed
        cat._attribute_path("ghost", 5, "note"),
    ]
    for path in stray:
        tmp = f"{path}.0123abcd{C._TMP_SUFFIX}"
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "w") as f:
            f.write('{"truncated": ')
    assert cat.layer_ids() == [("b4_red", 3)]
    assert cat.layers().count() == 1
    assert [r["name"] for r in cat.attributes().collect()] == ["histogramData"]
    assert cat.read_attribute("ghost", 5, "note") is None
    assert cat.layer_crs("b4_red", 3) == "EPSG:3857"


def test_metadata_reads_launch_no_jobs(spark, tmp_path, red):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    cat.write_layer(red, "b4_red", zoom=3, crs="EPSG:32632")
    cat.write_layer(red, "b4_red", zoom=2, crs="EPSG:32632")

    def reads():
        return (
            cat.layer_ids(),
            cat.finest_zoom("b4_red"),
            cat.layer_crs("b4_red"),
            cat.layer_crs("b4_red", 2),
            json.loads(cat.read_attribute("b4_red", 3, "histogramData"))["lo"],
            cat.read_layer("b4_red").columns,
        )

    out, jobs = _jobs_in(spark, "catalog-metadata-reads", reads)
    assert jobs == []
    assert out[:5] == (
        [("b4_red", 2), ("b4_red", 3)], 3, "EPSG:32632", "EPSG:32632", 0.0
    )
    # the job-group probe itself sees jobs when there are some
    _, jobs = _jobs_in(spark, "catalog-probe", lambda: cat.layers().count())
    assert jobs


def _inferred(spark, cat, layer, zoom):
    return spark.read.option("basePath", cat.tiles_path).parquet(
        f"{cat.tiles_path}/layer={layer}/zoom={zoom}"
    )


def _fields(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def test_pinned_schema_equals_inference(spark, tmp_path, red):
    cat = LayerCatalog(spark, str(tmp_path / "cat"))
    # spatial: an input without a ts column
    cat.write_layer(red.drop("ts"), "spatial", zoom=1)
    days = [dt.datetime(2024, 1, d) for d in (1, 2)]
    space_time = red.drop("ts").crossJoin(
        spark.createDataFrame([(d,) for d in days], "ts timestamp")
    )
    cat.write_layer(space_time, "st", zoom=0)

    for layer, zoom in (("spatial", 1), ("st", 0)):
        pinned = cat.read_layer(layer, zoom)
        inferred = _inferred(spark, cat, layer, zoom)
        assert _fields(pinned) == _fields(inferred)
        assert sorted(map(str, pinned.collect())) == sorted(
            map(str, inferred.collect())
        )
    got = cat.read_layer("st", 0, time_range=(days[1], dt.datetime(2024, 1, 3)))
    assert got.count() == FX.GRID * FX.GRID
    assert {r["ts"] for r in got.select("ts").collect()} == {days[1]}
