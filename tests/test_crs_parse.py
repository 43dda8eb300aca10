"""Spark-free tests of the CRS layer: EPSG / proj4 / WKT parsing to
(kind, params) descriptors, honest refusals, datum routing, sidecar
resolution and driver-side projection constants. No Spark session —
this file runs in the default test tier."""

from __future__ import annotations

import math

import pytest

from biggis_landuse_spark.operators.reproject import zoom_for_resolution

def test_zoom_for_resolution_roundtrip():
    # zoom z cell size in degrees at the equator:
    # 360 / (2^z * 256) deg-ish (mercator x is linear in lon)
    for z in (0, 5, 10):
        deg = 360.0 / (2**z * 256)
        assert zoom_for_resolution(deg) == z

def test_parse_crs():
    from biggis_landuse_spark.operators.reproject import parse_crs

    assert parse_crs("EPSG:4326") == ("lonlat", None)
    assert parse_crs("EPSG:32632") == ("utm", (32, True))
    assert parse_crs("epsg:32734") == ("utm", (34, False))
    assert parse_crs("EPSG:3035")[0] == "laea"  # LAEA Europe (r6)
    kind, p = parse_crs("EPSG:27700")  # OSGB: generic TM family (r7)
    assert kind == "tm" and (p.fe, p.fn) == (400000.0, -100000.0)
    kind, p = parse_crs("EPSG:31468")  # Gauss-Krüger zone 4
    assert kind == "tm" and (p.lon0, p.fe) == (12.0, 4500000.0)
    kind, p = parse_crs("EPSG:2056")  # Swiss LV95 (r8: was a refusal)
    assert kind == "somerc" and (p.fe, p.fn) == (2600000.0, 1200000.0)
    kind, p = parse_crs("EPSG:28992")  # Dutch RD New (r8)
    assert kind == "sterea" and (p.fe, p.fn) == (155000.0, 463000.0)

def test_parse_proj4_families():
    from biggis_landuse_spark.operators.reproject import (
        _LAEA_CRS,
        _LCC_CRS,
        parse_crs,
        parse_proj4,
    )

    assert parse_proj4("+proj=longlat +datum=WGS84 +no_defs") == ("lonlat", None)
    assert parse_proj4("+proj=utm +zone=32 +datum=WGS84") == ("utm", (32, True))
    assert parse_proj4("+proj=utm +zone=19 +south") == ("utm", (19, False))
    # tmerc in the exact UTM parameter shape → same descriptor
    assert parse_proj4(
        "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +y_0=0"
    ) == ("utm", (32, True))

    # published proj4 of RGF93 / Lambert-93 reproduces the EPSG entry
    kind, p = parse_proj4(
        "+proj=lcc +lat_1=44 +lat_2=49 +lat_0=46.5 +lon_0=3 "
        "+x_0=700000 +y_0=6600000 +ellps=GRS80 +units=m +no_defs"
    )
    ref = _LCC_CRS[2154]
    assert kind == "lcc"
    assert (p.a, p.f_inv, p.lat0, p.lon0, p.lat1, p.lat2, p.fe, p.fn) == (
        ref.a, ref.f_inv, ref.lat0, ref.lon0, ref.lat1, ref.lat2, ref.fe, ref.fn
    )

    # published proj4 of ETRS89-LAEA reproduces the EPSG entry
    kind, p = parse_proj4(
        "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 "
        "+ellps=GRS80 +towgs84=0,0,0,0,0,0,0 +units=m +no_defs"
    )
    ref = _LAEA_CRS[3035]
    assert kind == "laea"
    assert (p.a, p.f_inv, p.lat0, p.lon0, p.fe, p.fn) == (
        ref.a, ref.f_inv, ref.lat0, ref.lon0, ref.fe, ref.fn
    )

    # parse_crs dispatches proj4 strings
    assert parse_crs("+proj=utm +zone=7")[1] == (7, True)

def test_parse_proj4_honest_bounds():
    from biggis_landuse_spark.operators.reproject import parse_proj4

    for bad in (
        "+proj=omerc +lonc=7 +alpha=30",     # omerc missing +lat_0
        "+proj=robin +lon_0=0",              # Robinson: unimplemented
        "+proj=utm +zone=0",                 # zone out of range
        "+proj=lcc +lat_1=44",               # missing lat_0/lon_0
        "+proj=laea +lat_0=52 +lon_0=10 +ellps=evrst30",  # odd ellipsoid
        "no plus signs here",
    ):
        with pytest.raises(ValueError):
            parse_proj4(bad)

WKT_UTM32 = (
    'PROJCS["WGS 84 / UTM zone 32N",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],'
    'UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],'
    'PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",9],'
    'PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],'
    'PARAMETER["false_northing",0],UNIT["metre",1]]'
)

WKT_L93 = (
    'PROJCS["RGF93 / Lambert-93",GEOGCS["RGF93",DATUM["Reseau_Geodesique_'
    'Francais_1993",SPHEROID["GRS 1980",6378137,298.257222101]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Lambert_Conformal_Conic_2SP"],'
    'PARAMETER["standard_parallel_1",49],PARAMETER["standard_parallel_2",44],'
    'PARAMETER["latitude_of_origin",46.5],PARAMETER["central_meridian",3],'
    'PARAMETER["false_easting",700000],PARAMETER["false_northing",6600000],'
    'UNIT["metre",1]]'
)

WKT_3035 = (
    'PROJCS["ETRS89-extended / LAEA Europe",GEOGCS["ETRS89",DATUM['
    '"European_Terrestrial_Reference_System_1989",SPHEROID["GRS 1980",'
    '6378137,298.257222101]],PRIMEM["Greenwich",0],UNIT["degree",'
    '0.0174532925199433]],PROJECTION["Lambert_Azimuthal_Equal_Area"],'
    'PARAMETER["latitude_of_center",52],PARAMETER["longitude_of_center",10],'
    'PARAMETER["false_easting",4321000],PARAMETER["false_northing",3210000],'
    'UNIT["metre",1]]'
)

def test_parse_wkt_crs_families():
    from biggis_landuse_spark.operators.reproject import (
        _LAEA_CRS,
        _LCC_CRS,
        parse_crs,
        parse_wkt_crs,
    )

    assert parse_wkt_crs(WKT_UTM32) == ("utm", (32, True))
    kind, p = parse_wkt_crs(WKT_L93)
    ref = _LCC_CRS[2154]
    assert kind == "lcc" and (p.lat0, p.lon0, p.lat1, p.lat2, p.fe, p.fn) == (
        ref.lat0, ref.lon0, 49.0, 44.0, ref.fe, ref.fn
    )
    kind, p = parse_wkt_crs(WKT_3035)
    ref = _LAEA_CRS[3035]
    assert kind == "laea" and (p.lat0, p.lon0, p.fe, p.fn) == (
        ref.lat0, ref.lon0, ref.fe, ref.fn
    )
    # GEOGCS = geographic lon/lat
    assert parse_wkt_crs(
        'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
        '298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",'
        '0.0174532925199433]]'
    ) == ("lonlat", None)
    # parse_crs dispatches WKT strings (the .prj sidecar path)
    assert parse_crs(WKT_UTM32) == ("utm", (32, True))

def test_parse_wkt_crs_honest_bounds():
    from biggis_landuse_spark.operators.reproject import parse_wkt_crs

    with pytest.raises(ValueError, match="unsupported WKT PROJECTION"):
        parse_wkt_crs(
            'PROJCS["x",GEOGCS["y",DATUM["d",SPHEROID["s",6378137,298.25]]],'
            'PROJECTION["Robinson"],PARAMETER["central_meridian",0],'
            'UNIT["metre",1]]'
        )
    # ellipsoidal Sinusoidal parses as the rectifying-series family
    # (r8: was a typed refusal through r7)
    kind, _ = parse_wkt_crs(
        'PROJCS["x",GEOGCS["y",DATUM["d",SPHEROID["s",6378137,298.25]]],'
        'PROJECTION["Sinusoidal"],PARAMETER["central_meridian",0],'
        'UNIT["metre",1]]'
    )
    assert kind == "sinu_ell"
    with pytest.raises(ValueError, match="metres only"):
        parse_wkt_crs(WKT_UTM32.replace('UNIT["metre",1]', 'UNIT["foot",0.3048]'))
    # a non-zone central meridian is no longer a refusal — it drops
    # out of the UTM fast path into the generic TM family (r7)
    kind, p = parse_wkt_crs(
        WKT_UTM32.replace('"central_meridian",9', '"central_meridian",8')
    )
    assert kind == "tm" and p.lon0 == 8.0 and p.fe == 500000.0
    with pytest.raises(ValueError, match="not a WKT CRS"):
        parse_wkt_crs("COMPD_CS[something]")

def test_sidecar_crs_honest_bounds(tmp_path):
    from biggis_landuse_spark.operators.reproject import sidecar_crs

    d = tmp_path / "noprj"
    d.mkdir()
    with pytest.raises(ValueError, match="no .prj"):
        sidecar_crs(str(d))
    (d / "a.prj").write_text(WKT_UTM32)
    (d / "b.prj").write_text(WKT_L93)
    with pytest.raises(ValueError, match="conflicting"):
        sidecar_crs(str(d))
    # two agreeing sidecars (multi-scene dir) are fine
    (d / "b.prj").write_text(WKT_UTM32)
    assert sidecar_crs(str(d)) == WKT_UTM32
    # unparseable sidecar content fails fast
    d2 = tmp_path / "bad"
    d2.mkdir()
    (d2 / "x.proj4").write_text("+proj=robin +lon_0=0")
    with pytest.raises(ValueError, match="unsupported"):
        sidecar_crs(str(d2))
    # "+proj=sinu" with no ellipsoid now parses (r8: PROJ's default is
    # the WGS84 ELLIPSOID, i.e. the rectifying-series family); a
    # malformed parameter still fails fast
    d3 = tmp_path / "sinu_default"
    d3.mkdir()
    (d3 / "x.proj4").write_text("+proj=sinu +lon_0=0")
    assert sidecar_crs(str(d3)).startswith("+proj=sinu")
    d4 = tmp_path / "omerc_missing"
    d4.mkdir()
    (d4 / "x.proj4").write_text("+proj=omerc +lonc=7 +alpha=30")
    with pytest.raises(ValueError, match=r"needs \+lat_0"):
        sidecar_crs(str(d4))

def _aea_forward(lat, lon, p):
    # independent forward Albers equal-area conic (Snyder eqs.
    # 14-1..14-4) — the twin of the engine's inverse
    from biggis_landuse_spark.operators.reproject import _aea_consts

    e, qp, n, c, rho0 = _aea_consts(p)
    e2 = e * e
    s = math.sin(math.radians(lat))
    q = (1 - e2) * (
        s / (1 - e2 * s * s)
        - (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s))
    )
    rho = p.a * math.sqrt(c - n * q) / n
    theta = n * math.radians(lon - p.lon0)
    ee = p.fe + rho * math.sin(theta)
    nn = p.fn + rho0 - rho * math.cos(theta)
    return ee, nn

def test_aea_inverse_matches_iterative_inverse():
    # independent check without the closed-form series: iterate
    # Snyder eq. 3-16 for phi from q' and compare
    from biggis_landuse_spark.operators.reproject import (
        _AEA_CRS,
        _aea_consts,
    )

    p = _AEA_CRS[5070]
    e, qp, n, c, rho0 = _aea_consts(p)
    e2 = e * e
    lat, lon = 39.7392, -104.9903
    ee, nn = _aea_forward(lat, lon, p)
    rho = math.hypot(ee - p.fe, rho0 - (nn - p.fn))
    qprime = (c - rho * rho * n * n / (p.a * p.a)) / n
    phi = math.asin(qprime / 2)
    for _ in range(20):
        s = math.sin(phi)
        f = (
            (1 - e2 * s * s) ** 2
            / (2 * math.cos(phi))
            * (
                qprime / (1 - e2)
                - s / (1 - e2 * s * s)
                + (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s))
            )
        )
        phi += f
    assert math.degrees(phi) == pytest.approx(lat, abs=1e-9)

def test_parse_proj4_ps_aea_families():
    from biggis_landuse_spark.operators.reproject import (
        _AEA_CRS,
        _PS_CRS,
        parse_proj4,
    )

    # published proj4 of EPSG:3413 reproduces the EPSG entry
    kind, p = parse_proj4(
        "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=0 +y_0=0 "
        "+datum=WGS84 +units=m +no_defs"
    )
    ref = _PS_CRS[3413]
    assert kind == "ps"
    assert (p.a, p.f_inv, p.lon0, p.fe, p.fn, p.north, p.lat_ts) == (
        ref.a, ref.f_inv, ref.lon0, ref.fe, ref.fn, ref.north, ref.lat_ts
    )
    # published proj4 of EPSG:5070 reproduces the EPSG entry
    kind, p = parse_proj4(
        "+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 "
        "+x_0=0 +y_0=0 +ellps=GRS80 +units=m +no_defs"
    )
    ref = _AEA_CRS[5070]
    assert kind == "aea"
    assert (p.a, p.f_inv, p.lat0, p.lon0, p.lat1, p.lat2, p.fe, p.fn) == (
        ref.a, ref.f_inv, ref.lat0, ref.lon0, ref.lat1, ref.lat2, ref.fe, ref.fn
    )
    # oblique +proj=stere (the NON-double-projection variant) stays an
    # honest error — the Dutch grid ships as +proj=sterea (EPSG 9809,
    # the double stereographic), which IS supported (r8)
    with pytest.raises(ValueError, match="polar aspect"):
        parse_proj4("+proj=stere +lat_0=52.15 +lon_0=5.38 +k=0.9999079")

WKT_3413 = (
    'PROJCS["WGS 84 / NSIDC Sea Ice Polar Stereographic North",'
    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
    '298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",'
    '0.0174532925199433]],PROJECTION["Polar_Stereographic"],'
    'PARAMETER["latitude_of_origin",70],PARAMETER["central_meridian",-45],'
    'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
    'UNIT["metre",1]]'
)

WKT_5070 = (
    'PROJCS["NAD83 / Conus Albers",GEOGCS["NAD83",DATUM['
    '"North_American_Datum_1983",SPHEROID["GRS 1980",6378137,'
    '298.257222101]],PRIMEM["Greenwich",0],UNIT["degree",'
    '0.0174532925199433]],PROJECTION["Albers_Conic_Equal_Area"],'
    'PARAMETER["latitude_of_center",23],PARAMETER["longitude_of_center",-96],'
    'PARAMETER["standard_parallel_1",29.5],'
    'PARAMETER["standard_parallel_2",45.5],'
    'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
    'UNIT["metre",1]]'
)

def test_parse_wkt_ps_aea_families():
    from biggis_landuse_spark.operators.reproject import (
        _AEA_CRS,
        _PS_CRS,
        parse_wkt_crs,
    )

    kind, p = parse_wkt_crs(WKT_3413)
    ref = _PS_CRS[3413]
    assert kind == "ps" and (p.lon0, p.lat_ts, p.north) == (
        ref.lon0, ref.lat_ts, True
    )
    kind, p = parse_wkt_crs(WKT_5070)
    ref = _AEA_CRS[5070]
    assert kind == "aea" and (p.lat0, p.lon0, p.lat1, p.lat2) == (
        ref.lat0, ref.lon0, ref.lat1, ref.lat2
    )

def test_parse_wkt_sinusoidal():
    from biggis_landuse_spark.operators.reproject import (
        MODIS_SINU,
        parse_wkt_crs,
    )

    # the ESRI-style .prj content MODIS reprojections ship
    wkt = (
        'PROJCS["MODIS Sinusoidal",GEOGCS["Sphere",DATUM["D_unknown",'
        'SPHEROID["S",6371007.181,0.0]],PRIMEM["Greenwich",0],'
        'UNIT["Degree",0.0174532925199433]],PROJECTION["Sinusoidal"],'
        'PARAMETER["central_meridian",0.0],'
        'PARAMETER["false_easting",0.0],'
        'PARAMETER["false_northing",0.0],UNIT["Meter",1.0]]'
    )
    kind, prm = parse_wkt_crs(wkt)
    assert kind == "sinu"
    assert prm.r == MODIS_SINU.r and prm.lon0 == 0.0
    # ellipsoidal sinusoidal WKT routes to the rectifying-series
    # family (r8: was an honest refusal through r7); the unknown
    # non-WGS84 datum stays DATUM_UNKNOWN so the WARP still refuses
    from biggis_landuse_spark.operators.reproject import DATUM_UNKNOWN

    ell = wkt.replace("6371007.181,0.0", "6378137.0,298.257223563")
    kind2, prm2 = parse_wkt_crs(ell)
    assert kind2 == "sinu_ell"
    assert prm2.a == 6378137.0 and prm2.f_inv == 298.257223563
    # SPHEROID is exactly WGS84 → null shift, warp allowed
    assert getattr(prm2, "helmert", None) is not DATUM_UNKNOWN

WKT_27700 = (
    'PROJCS["OSGB36 / British National Grid",GEOGCS["OSGB36",'
    'DATUM["Ordnance_Survey_of_Great_Britain_1936",'
    'SPHEROID["Airy 1830",6377563.396,299.3249646]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Transverse_Mercator"],'
    'PARAMETER["latitude_of_origin",49],'
    'PARAMETER["central_meridian",-2],'
    'PARAMETER["scale_factor",0.9996012717],'
    'PARAMETER["false_easting",400000],'
    'PARAMETER["false_northing",-100000],UNIT["metre",1]]'
)

def test_parse_tm_wkt_and_proj4_reproduce_epsg_entry():
    from biggis_landuse_spark.operators.reproject import (
        _TM_CRS,
        parse_proj4,
        parse_wkt_crs,
    )

    ref = _TM_CRS[27700]
    from biggis_landuse_spark.operators.reproject import DATUM_UNKNOWN

    for parse, src, want_hel in (
        # WKT DATUM name → EPSG-registry towgs84 (proj4j parity)
        (parse_wkt_crs, WKT_27700, "osgb"),
        # named legacy ellipsoid with NO towgs84: projection params
        # parse (datum-agnostic math) but the datum is marked unknown
        # so the WebMercator warp refuses instead of silently keying
        # OSGB36 coordinates as WGS84 (r8, VERDICT r7 defect #1)
        (parse_proj4,
         "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
         "+x_0=400000 +y_0=-100000 +ellps=airy +units=m +no_defs",
         "unknown"),
        (parse_proj4,  # +datum= spelling carries the registry shift
         "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
         "+x_0=400000 +y_0=-100000 +datum=OSGB36", "osgb"),
        (parse_proj4,  # explicit +towgs84 wins
         "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
         "+x_0=400000 +y_0=-100000 +ellps=airy "
         "+towgs84=446.448,-125.157,542.06,0.1502,0.247,0.8421,-20.4894",
         "osgb"),
    ):
        kind, p = parse(src)
        assert kind == "tm"
        assert (p.a, p.f_inv, p.lat0, p.lon0, p.k0, p.fe, p.fn) == (
            ref.a, ref.f_inv, ref.lat0, ref.lon0, ref.k0, ref.fe, ref.fn
        )
        hel = getattr(p, "helmert", None)
        if want_hel == "osgb":
            assert hel is not None and hel is not DATUM_UNKNOWN
            assert (hel.dx, hel.dy, hel.dz) == pytest.approx(
                (446.448, -125.157, 542.06), abs=1e-3
            )
        else:
            assert hel is DATUM_UNKNOWN
    # WKT in the exact UTM shape on WGS84 still takes the utm family
    wkt_utm = (
        WKT_27700
        .replace("6377563.396,299.3249646", "6378137,298.257223563")
        .replace('DATUM["Ordnance_Survey_of_Great_Britain_1936"',
                 'DATUM["WGS_1984"')
        .replace('"latitude_of_origin",49', '"latitude_of_origin",0')
        .replace('"central_meridian",-2', '"central_meridian",9')
        .replace('"scale_factor",0.9996012717', '"scale_factor",0.9996')
        .replace('"false_easting",400000', '"false_easting",500000')
        .replace('"false_northing",-100000', '"false_northing",0')
    )
    assert parse_wkt_crs(wkt_utm) == ("utm", (32, True))

def test_helmert_epsg_position_vector_worked_example():
    # EPSG Guidance Note 7-2 §4.1 position-vector worked example
    # (WGS72→WGS84): ECEF (3657660.66, 255768.55, 5201382.11) with
    # (dx,dy,dz, rx,ry,rz, ds) = (0,0,4.5, 0,0,0.554, 0.219) →
    # (3657660.78, 255778.43, 5201387.75). Validates the Helmert
    # step's convention (rotation signs, ppm scale) exactly.
    from biggis_landuse_spark.operators.reproject import HelmertParams

    h = HelmertParams(0.0, 0.0, 4.5, 0.0, 0.0, 0.554, 0.219)
    s = math.pi / (180 * 3600)
    m = 1 + h.ds * 1e-6
    x, y, z = 3657660.66, 255768.55, 5201382.11
    x2 = h.dx + m * (x - h.rz * s * y + h.ry * s * z)
    y2 = h.dy + m * (h.rz * s * x + y - h.rx * s * z)
    z2 = h.dz + m * (-h.ry * s * x + h.rx * s * y + z)
    assert x2 == pytest.approx(3657660.78, abs=0.015)
    assert y2 == pytest.approx(255778.43, abs=0.015)
    assert z2 == pytest.approx(5201387.75, abs=0.015)

def test_wkt_towgs84_element_and_utm_datum_routing():
    # an explicit TOWGS84[] WKT element attaches the shift; a UTM
    # definition with a shift rides the generic TM family so the
    # shift travels with the params
    from biggis_landuse_spark.operators.reproject import (
        parse_proj4,
        parse_wkt_crs,
    )

    wkt = WKT_27700.replace(
        'SPHEROID["Airy 1830",6377563.396,299.3249646]',
        'SPHEROID["Airy 1830",6377563.396,299.3249646],'
        "TOWGS84[446.448,-125.157,542.06,0.1502,0.247,0.8421,-20.4894]",
    )
    kind, p = parse_wkt_crs(wkt)
    assert kind == "tm"
    assert p.helmert.dz == pytest.approx(542.06)
    # ED50 UTM with explicit towgs84 → generic tm on intl ellipsoid
    kind, p = parse_proj4("+proj=utm +zone=30 +ellps=intl "
                          "+towgs84=-87,-98,-121")
    assert kind == "tm"
    assert (p.a, p.f_inv) == (6378388.0, 297.0)
    assert (p.lat0, p.lon0, p.k0, p.fe, p.fn) == (
        0.0, -3.0, 0.9996, 500000.0, 0.0
    )
    assert (p.helmert.dx, p.helmert.rx, p.helmert.ds) == (-87.0, 0.0, 0.0)
    # null towgs84 keeps the plain UTM fast path
    assert parse_proj4("+proj=utm +zone=30 +towgs84=0,0,0") == (
        "utm", (30, True)
    )

def test_parse_merc_eqc_moll_proj4_wkt_epsg():
    from biggis_landuse_spark.operators.reproject import (
        _EQC_CRS,
        _MERC_CRS,
        _MOLL_CRS,
        parse_crs,
        parse_proj4,
        parse_wkt_crs,
    )

    # EPSG codes
    kind, p = parse_crs("EPSG:3395")
    assert kind == "merc" and p is _MERC_CRS[3395]
    kind, p = parse_crs("EPSG:4087")
    assert kind == "eqc" and p is _EQC_CRS[4087]
    kind, p = parse_crs("ESRI:54009")
    assert kind == "moll" and p is _MOLL_CRS[54009]

    # proj4 — variant A, variant B, eqc, moll
    kind, p = parse_proj4(
        "+proj=merc +lon_0=0 +k=1 +x_0=0 +y_0=0 +datum=WGS84 +units=m"
    )
    assert kind == "merc" and p.k0 == 1.0 and p.lat_ts is None
    kind, p = parse_proj4("+proj=merc +lat_ts=42 +lon_0=51 +ellps=krass")
    assert kind == "merc" and p.lat_ts == 42.0 and p.k0 is None
    assert (p.a, p.f_inv) == (6378245.0, 298.3)
    kind, p = parse_proj4(
        "+proj=eqc +lat_ts=0 +lat_0=0 +lon_0=0 +x_0=0 +y_0=0 +datum=WGS84"
    )
    assert kind == "eqc" and (p.lat_ts, p.lat0) == (0.0, 0.0)
    kind, p = parse_proj4("+proj=moll +lon_0=0 +x_0=0 +y_0=0 +R=6371000")
    assert kind == "moll" and p.r == 6371000.0
    kind, p = parse_proj4("+proj=moll +lon_0=0 +datum=WGS84")
    assert kind == "moll" and p.r == 6378137.0  # sphere-on-a semantics

    # WKT — OGC Mercator_1SP (EPSG:3395's .prj), ESRI Mercator with a
    # standard parallel (variant B), Equidistant_Cylindrical, Mollweide
    wkt_3395 = (
        'PROJCS["WGS 84 / World Mercator",GEOGCS["WGS 84",'
        'DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],'
        'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
        'PROJECTION["Mercator_1SP"],'
        'PARAMETER["central_meridian",0],PARAMETER["scale_factor",1],'
        'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
        'UNIT["metre",1]]'
    )
    kind, p = parse_wkt_crs(wkt_3395)
    assert kind == "merc" and p.k0 == 1.0 and p.lat_ts is None

    wkt_esri_merc = (
        'PROJCS["Caspian",GEOGCS["Pulkovo 1942",DATUM["Pulkovo_1942",'
        'SPHEROID["Krassowsky 1940",6378245,298.3]],'
        'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]],'
        'PROJECTION["Mercator"],'
        'PARAMETER["standard_parallel_1",42],'
        'PARAMETER["central_meridian",51],'
        'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
        'UNIT["Meter",1]]'
    )
    kind, p = parse_wkt_crs(wkt_esri_merc)
    assert kind == "merc" and p.lat_ts == 42.0 and p.k0 is None

    wkt_4087 = (
        'PROJCS["WGS 84 / World Equidistant Cylindrical",'
        'GEOGCS["WGS 84",DATUM["WGS_1984",'
        'SPHEROID["WGS 84",6378137,298.257223563]],'
        'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
        'PROJECTION["Equidistant_Cylindrical"],'
        'PARAMETER["standard_parallel_1",0],'
        'PARAMETER["central_meridian",0],'
        'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
        'UNIT["metre",1]]'
    )
    kind, p = parse_wkt_crs(wkt_4087)
    assert kind == "eqc" and p.lat_ts == 0.0

    wkt_54009 = (
        'PROJCS["World_Mollweide",GEOGCS["GCS_WGS_1984",'
        'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137,298.257223563]],'
        'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]],'
        'PROJECTION["Mollweide"],PARAMETER["central_meridian",0],'
        'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
        'UNIT["Meter",1]]'
    )
    kind, p = parse_wkt_crs(wkt_54009)
    assert kind == "moll" and p.r == 6378137.0

    # ambiguous Mercator (both standard parallel and non-1 k0) raises
    bad = wkt_esri_merc.replace(
        'PARAMETER["central_meridian",51]',
        'PARAMETER["scale_factor",0.997],PARAMETER["central_meridian",51]',
    )
    with pytest.raises(ValueError, match="ambiguous"):
        parse_wkt_crs(bad)

def test_proj4_bad_b_raises():
    from biggis_landuse_spark.operators.reproject import parse_proj4

    with pytest.raises(ValueError, match=r"\+b must be"):
        parse_proj4("+proj=merc +a=6378137 +b=7000000 +lon_0=0")

def test_parse_somerc_sterea_proj4_wkt():
    from biggis_landuse_spark.operators.reproject import (
        _SOMERC_CRS,
        _STEREA_CRS,
        parse_proj4,
        parse_wkt_crs,
    )

    ref = _SOMERC_CRS[2056]
    kind, p = parse_proj4(
        "+proj=somerc +lat_0=46.95240555555556 "
        "+lon_0=7.439583333333333 +k_0=1 +x_0=2600000 +y_0=1200000 "
        "+ellps=bessel +towgs84=674.374,15.056,405.346 +units=m +no_defs"
    )
    assert kind == "somerc"
    assert (p.a, p.f_inv) == (ref.a, ref.f_inv)
    assert p.lat0 == pytest.approx(ref.lat0, abs=1e-12)
    assert (p.fe, p.fn) == (ref.fe, ref.fn)
    assert (p.helmert.dx, p.helmert.dy, p.helmert.dz) == (
        674.374, 15.056, 405.346
    )
    # ESRI .prj for CH1903+ / LV95 (Hotine azimuth-center, azimuth 90)
    wkt_ch = (
        'PROJCS["CH1903+_LV95",GEOGCS["GCS_CH1903+",DATUM["D_CH1903+",'
        'SPHEROID["Bessel_1841",6377397.155,299.1528128]],'
        'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]],'
        'PROJECTION["Hotine_Oblique_Mercator_Azimuth_Center"],'
        'PARAMETER["False_Easting",2600000],'
        'PARAMETER["False_Northing",1200000],'
        'PARAMETER["Scale_Factor",1],'
        'PARAMETER["Azimuth",90],'
        'PARAMETER["Longitude_Of_Center",7.43958333333333],'
        'PARAMETER["Latitude_Of_Center",46.9524055555556],'
        'UNIT["Meter",1]]'
    )
    kind, p = parse_wkt_crs(wkt_ch)
    assert kind == "somerc"
    assert (p.fe, p.fn) == (2600000.0, 1200000.0)
    assert p.helmert.dx == 674.374  # D_CH1903+ resolves the registry set
    # a general Hotine azimuth routes to the omerc family (r8)
    kind_g, p_g = parse_wkt_crs(
        wkt_ch.replace('PARAMETER["Azimuth",90]',
                       'PARAMETER["Azimuth",45]')
    )
    assert kind_g == "omerc" and p_g.alpha == 45.0 and p_g.variant == "B"
    # RD New proj4 and ESRI Double_Stereographic WKT
    refd = _STEREA_CRS[28992]
    kind, p = parse_proj4(
        "+proj=sterea +lat_0=52.15616055555555 +lon_0=5.38763888888889 "
        "+k=0.9999079 +x_0=155000 +y_0=463000 +ellps=bessel "
        "+towgs84=565.417,50.3319,465.552,-0.398957,0.343988,-1.8774,"
        "4.0725 +units=m +no_defs"
    )
    assert kind == "sterea"
    assert (p.a, p.f_inv, p.k0) == (refd.a, refd.f_inv, refd.k0)
    assert p.lat0 == pytest.approx(refd.lat0, abs=1e-9)
    assert p.helmert.rz == pytest.approx(-1.8774)
    wkt_rd = (
        'PROJCS["RD_New",GEOGCS["GCS_Amersfoort",DATUM["D_Amersfoort",'
        'SPHEROID["Bessel_1841",6377397.155,299.1528128]],'
        'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]],'
        'PROJECTION["Double_Stereographic"],'
        'PARAMETER["False_Easting",155000],'
        'PARAMETER["False_Northing",463000],'
        'PARAMETER["Central_Meridian",5.38763888888889],'
        'PARAMETER["Scale_Factor",0.9999079],'
        'PARAMETER["Latitude_Of_Origin",52.1561605555556],'
        'UNIT["Meter",1]]'
    )
    kind, p = parse_wkt_crs(wkt_rd)
    assert kind == "sterea"
    assert (p.fe, p.fn) == (155000.0, 463000.0)
    assert p.helmert.ds == pytest.approx(4.0725)  # D_Amersfoort registry

def test_parse_omerc_proj4_wkt_epsg():
    from biggis_landuse_spark.operators.reproject import (
        _OMERC_CRS,
        parse_crs,
        parse_proj4,
        parse_wkt_crs,
    )

    ref = _OMERC_CRS[29873]
    kind, p = parse_crs("EPSG:29873")
    assert kind == "omerc" and p.variant == "B"
    assert (p.helmert.dx, p.helmert.dy, p.helmert.dz) == (-679.0, 669.0, -48.0)
    kind, p = parse_proj4(
        "+proj=omerc +lat_0=4 +lonc=115 +alpha=53.31582047222222 "
        "+gamma=53.13010236111111 +k=0.99984 +x_0=590476.87 "
        "+y_0=442857.65 +ellps=evrstSS +towgs84=-679,669,-48 +units=m"
    )
    assert kind == "omerc" and p.variant == "B"
    assert (p.a, p.f_inv) == (ref.a, ref.f_inv)
    assert p.alpha == pytest.approx(ref.alpha, abs=1e-9)
    # +no_uoff = variant A (EPSG 9812)
    kind, p = parse_proj4(
        "+proj=omerc +lat_0=4 +lonc=115 +alpha=53.3158 +k=0.99984 +no_uoff"
    )
    assert kind == "omerc" and p.variant == "A"
    # azimuth ±90 belongs to somerc — typed redirection, not a warp
    with pytest.raises(ValueError, match="somerc"):
        parse_proj4("+proj=omerc +lat_0=46.95 +lonc=7.44 +alpha=90 +k=1")
    # ESRI natural-origin spelling = variant A
    wkt = (
        'PROJCS["Timbalai_1948_RSO_Borneo_Meters",GEOGCS["GCS_Timbalai_1948",'
        'DATUM["D_Timbalai_1948",SPHEROID["Everest_Definition_1967",'
        '6377298.556,300.8017]],PRIMEM["Greenwich",0],'
        'UNIT["Degree",0.0174532925199433]],'
        'PROJECTION["Hotine_Oblique_Mercator_Azimuth_Natural_Origin"],'
        'PARAMETER["False_Easting",0],PARAMETER["False_Northing",0],'
        'PARAMETER["Scale_Factor",0.99984],'
        'PARAMETER["Azimuth",53.31582047222222],'
        'PARAMETER["Longitude_Of_Center",115],'
        'PARAMETER["Latitude_Of_Center",4],UNIT["Meter",1]]'
    )
    kind, p = parse_wkt_crs(wkt)
    assert kind == "omerc" and p.variant == "A"
    assert p.gamma == pytest.approx(53.31582047222222)  # defaults to azimuth

def test_parse_krovak_proj4_wkt():
    from biggis_landuse_spark.operators.reproject import (
        parse_crs,
        parse_proj4,
        parse_wkt_crs,
    )

    # EPSG codes: 5514 East North, 2065 southing/westing
    kind, p = parse_crs("EPSG:5514")
    assert kind == "krovak" and p.axes == "EN"
    assert p.helmert is not None and p.helmert.dx == 570.8
    kind, p = parse_crs("EPSG:2065")
    assert kind == "krovak" and p.axes == "SW"
    # the canonical proj4 expansion of EPSG:5514 (PROJ: lon_0 east of
    # Greenwich, default axes EN, +czech flips to southing/westing)
    kind, p = parse_proj4(
        "+proj=krovak +lat_0=49.5 +lon_0=24.83333333333333 "
        "+alpha=30.28813972222222 +k=0.9999 +x_0=0 +y_0=0 "
        "+ellps=bessel +towgs84=570.8,85.7,462.8,4.998,1.587,5.261,3.56"
    )
    assert kind == "krovak" and p.axes == "EN"
    assert p.lon0 == pytest.approx(24 + 50 / 60, abs=1e-9)
    assert p.helmert is not None and p.helmert.rz == 5.261
    kind, p = parse_proj4("+proj=krovak +czech +ellps=bessel "
                          "+towgs84=589,76,480")
    assert kind == "krovak" and p.axes == "SW"
    # GDAL-style OGC WKT: D_S_JTSK datum name resolves the registry
    # shift, AXIS["X",EAST] selects the East-North orientation
    wkt_en = (
        'PROJCS["S-JTSK / Krovak East North",GEOGCS["S-JTSK",'
        'DATUM["System_Jednotne_Trigonometricke_Site_Katastralni",'
        'SPHEROID["Bessel 1841",6377397.155,299.1528128]],'
        'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
        'PROJECTION["Krovak"],PARAMETER["latitude_of_center",49.5],'
        'PARAMETER["longitude_of_center",24.83333333333333],'
        'PARAMETER["azimuth",30.28813972222222],'
        'PARAMETER["pseudo_standard_parallel_1",78.5],'
        'PARAMETER["scale_factor",0.9999],'
        'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
        'UNIT["metre",1],AXIS["X",EAST],AXIS["Y",NORTH]]'
    )
    kind, p = parse_wkt_crs(wkt_en)
    assert kind == "krovak" and p.axes == "EN"
    assert p.helmert is not None and p.helmert.ds == 3.56
    # without AXIS elements the EPSG method's southing/westing stands
    kind, p = parse_wkt_crs(wkt_en[: wkt_en.index(',AXIS')] + "]")
    assert kind == "krovak" and p.axes == "SW"
    # ESRI East-North spelling: X_Scale=-1/Y_Scale=-1/XY_Plane_Rotation
    wkt_esri = (
        'PROJCS["S-JTSK_Krovak_East_North",GEOGCS["GCS_S_JTSK",'
        'DATUM["D_S_JTSK",SPHEROID["Bessel_1841",6377397.155,'
        '299.1528128]],PRIMEM["Greenwich",0],'
        'UNIT["Degree",0.0174532925199433]],PROJECTION["Krovak"],'
        'PARAMETER["False_Easting",0],PARAMETER["False_Northing",0],'
        'PARAMETER["Pseudo_Standard_Parallel_1",78.5],'
        'PARAMETER["Scale_Factor",0.9999],'
        'PARAMETER["Azimuth",30.28813975277778],'
        'PARAMETER["Longitude_Of_Center",24.83333333333333],'
        'PARAMETER["Latitude_Of_Center",49.5],'
        'PARAMETER["X_Scale",-1],PARAMETER["Y_Scale",-1],'
        'PARAMETER["XY_Plane_Rotation",90],UNIT["Meter",1]]'
    )
    kind, p = parse_wkt_crs(wkt_esri)
    assert kind == "krovak" and p.axes == "EN"


def test_proj4_utm_resolves_its_ellipsoid_like_tmerc():
    # +proj=utm takes the same ellipsoid resolution as every other
    # family: an explicit non-WGS84 ellipsoid is a Transverse Mercator
    # on that ellipsoid, never the WGS84 utm descriptor
    from biggis_landuse_spark.operators.reproject import parse_proj4

    def tm_fields(p):
        return (p.a, p.f_inv, p.lat0, p.lon0, p.k0, p.fe, p.fn)

    kind_u, utm = parse_proj4("+proj=utm +zone=33 +a=6378245 +rf=298.3")
    kind_t, tm = parse_proj4(
        "+proj=tmerc +lon_0=15 +k=0.9996 +x_0=500000 +a=6378245 +rf=298.3"
    )
    assert kind_u == kind_t == "tm"
    assert tm_fields(utm) == tm_fields(tm) == (
        6378245.0, 298.3, 0.0, 15.0, 0.9996, 500000.0, 0.0
    )
    kind, sph = parse_proj4("+proj=utm +zone=33 +R=6371000")
    assert kind == "tm" and (sph.a, sph.f_inv) == (6371000.0, math.inf)
    # the datum shift travels with the source ellipsoid, which is what
    # the warp's Helmert step reads (params.a, params.f_inv)
    for crs in (
        "+proj=utm +zone=33 +a=6378245 +rf=298.3 +towgs84=24,-123,-94",
        "+proj=longlat +a=6378245 +rf=298.3 +towgs84=24,-123,-94",
    ):
        _, p = parse_proj4(crs)
        assert (p.a, p.f_inv) == (6378245.0, 298.3), crs
        h = p.helmert
        assert (h.dx, h.dy, h.dz) == (24.0, -123.0, -94.0), crs
    for crs in ("+proj=utm +zone=33 +ellps=foo",
                "+proj=tmerc +lon_0=15 +ellps=foo"):
        with pytest.raises(ValueError, match="unsupported ellipsoid"):
            parse_proj4(crs)
    # the UTM shape on WGS84 stays the utm descriptor however spelled
    assert parse_proj4(
        "+proj=utm +zone=32 +a=6378137 +rf=298.257223563"
    ) == ("utm", (32, True))


def test_parse_crs_epsg_lookup_covers_the_supported_codes():
    from biggis_landuse_spark.operators.reproject import (
        FAMILIES,
        parse_crs,
    )

    # the EPSG codes the refusal message names, family by family
    want = {
        "tm": {27700, 31466, 31467, 31468, 31469, 2193},
        "lcc": {3034, 2154}, "laea": {3035}, "ps": {3413, 3031},
        "aea": {5070}, "cea": {6933}, "merc": {3395}, "eqc": {4087},
        "somerc": {21781, 2056}, "sterea": {28992}, "omerc": {29873},
        "krovak": {5514, 2065}, "cassini": {30200, 28191},
    }
    got = {k: set(codes) for k, (_, codes) in FAMILIES.items() if codes}
    assert got == want
    for kind, codes in want.items():
        for code in codes:
            assert parse_crs(f"EPSG:{code}")[0] == kind
    assert parse_crs("ESRI:54009")[0] == "moll"
    for bad in ("EPSG:54009", "ESRI:27700", "EPSG:32600", "EPSG:32761",
                "EPSG:032632", "EPSG:3857"):
        with pytest.raises(ValueError, match="unsupported source CRS"):
            parse_crs(bad)
