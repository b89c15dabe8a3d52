"""WKT + PIP + cover kernel unit tests (mirrors the reference's 7-type
matrix, geometry/tests/test_geometry.py:19-37, and the bbox contract,
test_bounding_box.py:77-86)."""

from __future__ import annotations

import numpy as np
import pytest

from geografir_spark.geo import cells, kernels, wkt

SEVEN_TYPES = [
    ("POINT (30 10)", (30, 10, 30, 10)),
    ("LINESTRING (30 10, 10 30, 40 40)", (10, 10, 40, 40)),
    ("POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))", (10, 10, 40, 40)),
    ("MULTIPOINT ((10 40), (40 30), (20 20), (30 10))", (10, 10, 40, 40)),
    ("MULTIPOINT (10 40, 40 30, 20 20, 30 10)", (10, 10, 40, 40)),
    (
        "MULTILINESTRING ((10 10, 20 20, 10 40), (40 40, 30 30, 40 20, 30 10))",
        (10, 10, 40, 40),
    ),
    (
        "MULTIPOLYGON (((30 20, 45 40, 10 40, 30 20)),"
        " ((15 5, 40 10, 10 20, 5 10, 15 5)))",
        (5, 5, 45, 40),
    ),
    (
        "GEOMETRYCOLLECTION (POINT (40 10),"
        " LINESTRING (10 10, 20 20, 10 40),"
        " POLYGON ((40 40, 20 45, 45 30, 40 40)))",
        (10, 10, 45, 45),
    ),
]


@pytest.mark.parametrize("wkt_str,exp_bounds", SEVEN_TYPES)
def test_parse_roundtrip_and_bounds(wkt_str, exp_bounds):
    g = wkt.parse_wkt(wkt_str)
    # roundtrip: parse(to_wkt(g)) structurally equal
    g2 = wkt.parse_wkt(wkt.to_wkt(g))
    assert wkt.bounds(g) == wkt.bounds(g2)
    assert wkt.bounds(g) == pytest.approx(exp_bounds)


def test_parse_errors():
    with pytest.raises(wkt.WktError):
        wkt.parse_wkt("CIRCLE (0 0, 5)")
    with pytest.raises(wkt.WktError):
        wkt.parse_wkt("POINT 30 10")


def test_pip_square():
    poly = wkt.parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    px = np.array([5.0, 15.0, -1.0, 9.999, 0.5])
    py = np.array([5.0, 5.0, 5.0, 9.999, 0.5])
    np.testing.assert_array_equal(
        kernels.points_in_polygon(px, py, poly), [True, False, False, True, True]
    )


def test_pip_with_hole():
    poly = wkt.parse_wkt(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    )
    px = np.array([5.0, 3.0, 4.5])
    py = np.array([5.0, 3.0, 4.5])
    np.testing.assert_array_equal(
        kernels.points_in_polygon(px, py, poly), [False, True, False]
    )


def test_pip_concave():
    # concave "C" shape
    poly = wkt.parse_wkt(
        "POLYGON ((0 0, 10 0, 10 3, 3 3, 3 7, 10 7, 10 10, 0 10, 0 0))"
    )
    px = np.array([5.0, 1.5, 5.0])
    py = np.array([5.0, 5.0, 1.5])
    np.testing.assert_array_equal(
        kernels.points_in_polygon(px, py, poly), [False, True, True]
    )


def test_pip_multipolygon():
    mp = wkt.parse_wkt("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 10, 14 10, 14 14, 10 14, 10 10)))")
    px = np.array([2.0, 12.0, 7.0])
    py = np.array([2.0, 12.0, 7.0])
    np.testing.assert_array_equal(
        kernels.points_in_polygon(px, py, mp), [True, True, False]
    )


def test_cover_rectangle_full_classification():
    res = 6
    cw, ch = cells.cell_size(res)
    # rectangle spanning 4x4 cells exactly offset by half a cell
    minx, miny = -180 + 0.5 * cw, -90 + 0.5 * ch
    maxx, maxy = minx + 4 * cw, miny + 4 * ch
    w = f"POLYGON (({minx} {miny}, {maxx} {miny}, {maxx} {maxy}, {minx} {maxy}, {minx} {miny}))"
    cover, full = kernels.cover_geometry(w, res)
    assert len(cover) == 25  # 5x5 candidate cells
    assert full.sum() == 9   # interior 3x3 fully inside
    # every full cell's bounds within rect
    fminx, fminy, fmaxx, fmaxy = cells.cell_bounds_np(cover[full])
    assert (fminx >= minx).all() and (fmaxx <= maxx).all()


def test_cover_triangle_conservative():
    w = "POLYGON ((0 0, 20 0, 10 15, 0 0))"
    res = 7
    cover, full = kernels.cover_geometry(w, res)
    # full cells must truly be inside: all corners pass PIP
    g = wkt.parse_wkt(w)
    for c, f in zip(cover, full):
        minx, miny, maxx, maxy = cells.cell_bounds_np(np.asarray([c]))
        corners_in = all(
            kernels.points_in_polygon(np.array([x]), np.array([y]), g)[0]
            for x, y in [(minx[0], miny[0]), (minx[0], maxy[0]), (maxx[0], miny[0]), (maxx[0], maxy[0])]
        )
        if f:
            assert corners_in


def test_cover_concave_bite_not_full():
    """VERDICT r1 #3: an edge whose endpoints are BOTH outside a cell can
    still cross it (thin concave notch). The cell has all 4 corners inside
    and no polygon vertex inside, so the round-1 corner+vertex heuristic
    called it full and join rows skipped refine — wrong answer. The exact
    edge-vs-cell separating-axis test must classify it partial."""
    res = 7
    cw, ch = cells.cell_size(res)
    # target cell: the one containing (10, 10), well inside the grid
    cell = cells.cover_bbox_np(10.0, 10.0, 10.0, 10.0, res)
    cminx, cminy, cmaxx, cmaxy = (float(a[0]) for a in cells.cell_bounds_np(cell))
    ym = (cminy + cmaxy) / 2.0
    eps = ch / 64.0
    x0, y0 = cminx - 2 * cw, cminy - 2 * ch   # big rect around the cell
    x1, y1 = cmaxx + 2 * cw, cmaxy + 2 * ch
    xn = cmaxx + cw / 4.0                      # notch tip: right of the cell
    w = (
        f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, "
        f"{x0} {ym + eps}, {xn} {ym + eps}, {xn} {ym - eps}, {x0} {ym - eps}, "
        f"{x0} {y0}))"
    )
    g = wkt.parse_wkt(w)
    # sanity: all 4 corners of the target cell ARE inside, no vertex in cell
    for x, y in [(cminx, cminy), (cminx, cmaxy), (cmaxx, cminy), (cmaxx, cmaxy)]:
        assert kernels.points_in_polygon(np.array([x]), np.array([y]), g)[0]
    # the bitten midline point is OUTSIDE the polygon
    cx = (cminx + cmaxx) / 2.0
    assert not kernels.points_in_polygon(np.array([cx]), np.array([ym]), g)[0]

    cover, full = kernels.cover_geometry(w, res)
    idx = np.nonzero(cover == cell[0])[0]
    assert len(idx) == 1
    assert not full[idx[0]], "bitten cell must be partial so refine runs"
    # and every full cell really is fully inside: probe a 5x5 lattice
    fminx, fminy, fmaxx, fmaxy = cells.cell_bounds_np(cover[full])
    for i in range(len(fminx)):
        gx = np.linspace(fminx[i] + 1e-9, fmaxx[i] - 1e-9, 5)
        gy = np.linspace(fminy[i] + 1e-9, fmaxy[i] - 1e-9, 5)
        X, Y = np.meshgrid(gx, gy)
        assert kernels.points_in_polygon(X.ravel(), Y.ravel(), g).all()


def test_pip_join_excludes_bitten_points(spark):
    """End-to-end: spatial_join_pip must exclude points sitting in a concave
    bite of a cell whose corners are all inside the polygon."""
    from geografir_spark.geo import cells as C
    from geografir_spark.operators.pip_join import spatial_join_pip

    res = 7
    cw, ch = C.cell_size(res)
    cell = C.cover_bbox_np(10.0, 10.0, 10.0, 10.0, res)
    cminx, cminy, cmaxx, cmaxy = (float(a[0]) for a in C.cell_bounds_np(cell))
    ym = (cminy + cmaxy) / 2.0
    eps = ch / 64.0
    x0, y0 = cminx - 2 * cw, cminy - 2 * ch
    x1, y1 = cmaxx + 2 * cw, cmaxy + 2 * ch
    xn = cmaxx + cw / 4.0
    w = (
        f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, "
        f"{x0} {ym + eps}, {xn} {ym + eps}, {xn} {ym - eps}, {x0} {ym - eps}, "
        f"{x0} {y0}))"
    )
    cx = (cminx + cmaxx) / 2.0
    pts = spark.createDataFrame(
        [
            (1, cx, ym),                      # in the bite: must be excluded
            (2, cx, (cminy + ym - eps) / 2),  # below the bite: included
            (3, cx, (cmaxy + ym + eps) / 2),  # above the bite: included
        ],
        "point_id LONG, lon DOUBLE, lat DOUBLE",
    )
    pts = C.with_cell(pts, "lon", "lat", res)
    zones = spark.createDataFrame([(7, w)], "zone_id LONG, geom_wkt STRING")
    got = sorted(
        r["point_id"]
        for r in spatial_join_pip(pts, zones, res=res).select("point_id").collect()
    )
    assert got == [2, 3]


def test_polygons_intersect_multipolygon_part_containment():
    """VERDICT r2 #3: a MULTIPOLYGON whose FIRST part is disjoint from the
    other polygon but whose SECOND part lies wholly inside it (no edge
    crossings) must still intersect — the containment term tests one anchor
    vertex per part, not just the first part's first vertex. Reference
    7-type discipline (geometry/tests/test_geometry.py:19-37)."""
    big = wkt.parse_wkt("POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))")
    # part 1 far away (disjoint), part 2 strictly inside `big`
    mp = wkt.parse_wkt(
        "MULTIPOLYGON (((200 200, 210 200, 210 210, 200 210, 200 200)),"
        " ((40 40, 60 40, 60 60, 40 60, 40 40)))"
    )
    assert kernels.polygons_intersect(mp, big)
    assert kernels.polygons_intersect(big, mp)  # both directions
    # and a genuinely disjoint multipolygon still reads False
    far = wkt.parse_wkt(
        "MULTIPOLYGON (((200 200, 210 200, 210 210, 200 210, 200 200)),"
        " ((300 300, 310 300, 310 310, 300 310, 300 300)))"
    )
    assert not kernels.polygons_intersect(far, big)
    assert not kernels.polygons_intersect(big, far)
    # containment inside a HOLE is not an intersection of interiors under
    # even-odd: the anchor of the contained part reads outside
    donut = wkt.parse_wkt(
        "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0),"
        " (30 30, 70 30, 70 70, 30 70, 30 30))"
    )
    inner = wkt.parse_wkt(
        "MULTIPOLYGON (((200 200, 210 200, 210 210, 200 210, 200 200)),"
        " ((45 45, 55 45, 55 55, 45 55, 45 45)))"
    )
    assert not kernels.polygons_intersect(inner, donut)


def test_debug_reprs():
    """G4/G8/R19: debug repr parity shapes (geometry.py:242-245,
    bounding_box.py:176-179, raster_metadata.py:220-224)."""
    from geografir_spark.raster.model import tile_meta_repr

    assert (
        wkt.geometry_repr("POINT (1 2)", "EPSG:4326")
        == "Geometry(geometry=<POINT (1 2)>, crs='EPSG:4326')"
    )
    assert wkt.bbox_repr(0.0, 1.0, 2.0, 3.0, "EPSG:3857") == (
        "BoundingBox(minx=0.0, miny=1.0, maxx=2.0, maxy=3.0, crs='EPSG:3857')"
    )
    meta = {
        "crs": "EPSG:4326", "count": 1, "width": 3, "height": 3,
        "dtype": "float32", "nodata": 0.0,
        "transform": [5.0, 0.0, 0.0, 0.0, -5.0, 5.0],
    }
    assert tile_meta_repr(meta) == (
        "RasterMetadata(crs=EPSG:4326, count=1, width=3, height=3,"
        " dtype='float32', nodata=0.0,"
        " transform=Affine(5.0, 0.0, 0.0, 0.0, -5.0, 5.0), resolution=5.0)"
    )


def test_pip_join_compact_cover_equals_standard(spark):
    """Multi-resolution (compacted full-cell) PIP join must return exactly
    the standard join's rows — compaction of the full subset is exact (4
    full siblings tile their parent) — while broadcasting far fewer cover
    rows. Exercised on a big rectangle (deep interior → real compaction)
    and the concave-bite polygon (refine path)."""
    from geografir_spark.geo import cells as C
    from geografir_spark.operators.pip_join import cover_cells, spatial_join_pip

    res = 8
    big_rect = "POLYGON ((-20 -15, 30 -15, 30 25, -20 25, -20 -15))"
    cw, ch = C.cell_size(7)
    cell = C.cover_bbox_np(10.0, 10.0, 10.0, 10.0, 7)
    cminx, cminy, cmaxx, cmaxy = (float(a[0]) for a in C.cell_bounds_np(cell))
    ym = (cminy + cmaxy) / 2.0
    eps = ch / 64.0
    bite = (
        f"POLYGON (({cminx - 2 * cw} {cminy - 2 * ch}, {cmaxx + 2 * cw} {cminy - 2 * ch}, "
        f"{cmaxx + 2 * cw} {cmaxy + 2 * ch}, {cminx - 2 * cw} {cmaxy + 2 * ch}, "
        f"{cminx - 2 * cw} {ym + eps}, {cmaxx + cw / 4} {ym + eps}, "
        f"{cmaxx + cw / 4} {ym - eps}, {cminx - 2 * cw} {ym - eps}, "
        f"{cminx - 2 * cw} {cminy - 2 * ch}))"
    )
    zones = spark.createDataFrame(
        [(1, big_rect), (2, bite)], "zone_id LONG, geom_wkt STRING"
    )
    # deterministic point cloud over the bbox of both zones
    pts = spark.range(0, 4000).selectExpr(
        "id AS point_id",
        "-25.0 + (CAST(pmod(id * 2654435761, 97) AS DOUBLE) / 96.0) * 60.0 AS lon",
        "-20.0 + (CAST(pmod(id * 40503, 89) AS DOUBLE) / 88.0) * 50.0 AS lat",
    )
    pts = C.with_cell(pts, "lon", "lat", res)

    std = spatial_join_pip(pts, zones, res=res)
    cmp_ = spatial_join_pip(pts, zones, res=res, compact_cover=True)
    a = sorted((r["point_id"], r["zone_id"]) for r in std.collect())
    b = sorted((r["point_id"], r["zone_id"]) for r in cmp_.collect())
    assert a == b and len(a) > 0

    n_std = cover_cells(zones, "geom_wkt", res).count()
    n_cmp = cover_cells(zones, "geom_wkt", res, compact=True).count()
    assert n_cmp < n_std / 3, (n_cmp, n_std)  # the broadcast actually shrinks


def _pip_fixture(spark, tmp_path):
    """A big rectangle (deep interior, so compaction really happens) and a
    concave zone, over a deterministic point cloud stored as parquet."""
    from geografir_spark.geo import cells as C

    zones = spark.createDataFrame(
        [
            (1, "POLYGON ((-20 -15, 30 -15, 30 25, -20 25, -20 -15))"),
            (2, "POLYGON ((-24 -19, 34 -19, 34 29, 5 0, -24 29, -24 -19))"),
        ],
        "zone_id LONG, geom_wkt STRING",
    )
    path = f"{tmp_path}/points"
    spark.range(0, 4000).selectExpr(
        "id AS point_id",
        "-25.0 + (CAST(pmod(id * 2654435761, 97) AS DOUBLE) / 96.0) * 60.0 AS lon",
        "-20.0 + (CAST(pmod(id * 40503, 89) AS DOUBLE) / 88.0) * 50.0 AS lat",
    ).write.parquet(path)
    return C.with_cell(spark.read.parquet(path), "lon", "lat", 8), zones


@pytest.mark.parametrize("compact", [False, True])
def test_pip_join_plan_is_single_pass(spark, tmp_path, compact):
    """One join, one refine: the executed plan scans the points once,
    broadcasts the cover once and runs exactly one Python kernel, `refine`
    (the cover is built on the driver, not in a second mapInPandas)."""
    from geografir_spark.operators.pip_join import spatial_join_pip

    pts, zones = _pip_fixture(spark, tmp_path)
    out = spatial_join_pip(pts, zones, res=8, compact_cover=compact)
    assert len(out.collect()) > 0
    # the executed (final) plan; AQE appends the initial plan after it
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    mip = [ln for ln in lines if "MapInPandas" in ln]
    assert len(mip) == 1 and "MapInPandas refine(" in mip[0], plan
    scans = [ln for ln in lines if "FileScan" in ln]
    assert len(scans) == 1 and "FileScan parquet [point_id" in scans[0], plan
    assert sum("BroadcastExchange" in ln for ln in lines) == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_pip_join_compact_releases_what_it_persists(spark, tmp_path):
    """The compacted join leaves no persisted RDD behind."""
    from geografir_spark.operators.pip_join import spatial_join_pip

    pts, zones = _pip_fixture(spark, tmp_path)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert len(spatial_join_pip(pts, zones, res=8, compact_cover=True).collect()) > 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before


def test_simplify_ring_douglas_peucker():
    """DP simplification: collinear chains collapse, genuine corners stay,
    tolerance bounds the Hausdorff error, and PIP over the simplified
    polygon matches the original away from the boundary band."""
    # a square densified with 9 collinear points per edge + one real notch
    t = np.linspace(0.0, 10.0, 11)
    bottom = np.column_stack([t, np.zeros_like(t)])
    right = np.column_stack([np.full_like(t, 10.0), t])
    top = np.column_stack([t[::-1], np.full_like(t, 10.0)])
    left = np.column_stack([np.zeros_like(t), t[::-1]])
    ring = np.vstack([bottom[:-1], right[:-1], top[:-1], left])  # closed
    simp = wkt.simplify_ring(ring, tol=1e-9)
    assert len(simp) == 5  # 4 corners + closure
    np.testing.assert_array_equal(simp[0], simp[-1])

    # a spike taller than tol survives; shorter than tol goes
    spike = np.array([[0, 0], [4, 0], [5, 0.5], [6, 0], [10, 0],
                      [10, 10], [0, 10], [0, 0]], dtype=float)
    kept = wkt.simplify_ring(spike, tol=0.1)
    assert any((kept == [5, 0.5]).all(axis=1))           # spike apex kept
    dropped = wkt.simplify_ring(spike, tol=1.0)
    assert len(dropped) == 5                             # square only
    assert not any((dropped == [5, 0.5]).all(axis=1))

    # WKT round trip + PIP agreement away from the boundary
    w = ("POLYGON ((" +
         ", ".join(f"{x} {y}" for x, y in ring) + "))")
    sw = wkt.simplify_wkt(w, 1e-9)
    g0, g1 = wkt.parse_wkt(w), wkt.parse_wkt(sw)
    rng = np.random.RandomState(5)
    px = rng.uniform(-2, 12, 500)
    py = rng.uniform(-2, 12, 500)
    a = kernels.points_in_polygon(px, py, g0)
    b = kernels.points_in_polygon(px, py, g1)
    np.testing.assert_array_equal(a, b)


def test_concave_zone_cover_has_full_cells(spark):
    """The driver-gate L-shaped zones (queries.pip_zone_counts_concave) must
    exercise the general full/partial classifier with NON-EMPTY full-cell
    sets (VERDICT r2 #3: rectangles-only zones never hit that path), and
    cells beyond the notch must not be full."""
    from geografir_spark.queries import _L_WKT_SQL, _L_X0, _L_Y0, PIP_RES

    zdf = (
        spark.range(0, 25)
        .selectExpr("id AS n_nationkey")
        .selectExpr("n_nationkey AS zone_id", f"{_L_X0} AS x0", f"{_L_Y0} AS y0")
        .selectExpr("zone_id", "x0", "y0", _L_WKT_SQL)
        .collect()
    )
    for r in zdf:
        g = wkt.parse_wkt(r["geom_wkt"])
        assert not wkt.is_axis_rectangle(g)  # general path, not the fast path
        cover, full = kernels.cover_geometry(r["geom_wkt"], PIP_RES)
        assert full.sum() > 0, r["zone_id"]
        # every full cell is truly interior: all 4 corners pass exact PIP,
        # including around the concave notch
        fminx, fminy, fmaxx, fmaxy = cells.cell_bounds_np(cover[full])
        for x, y in [(fminx, fminy), (fminx, fmaxy), (fmaxx, fminy), (fmaxx, fmaxy)]:
            assert kernels.points_in_polygon(x, y, g).all(), r["zone_id"]
        # the notch region (above the lower band, right of the arm) is
        # OUTSIDE: its center cell must not be covered-full
        nx, ny = r["x0"] + 35.0, r["y0"] + 18.0
        assert not kernels.points_in_polygon(
            np.array([nx]), np.array([ny]), g
        )[0]


def test_polygon_area_centroid():
    """Shoelace kernel: square, square-with-hole (winding subtracts),
    multipolygon parts sum."""
    sq = wkt.parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    area, cx, cy = kernels.polygon_area_centroid(sq)
    assert (area, cx, cy) == (16.0, 2.0, 2.0)
    # hole wound clockwise subtracts its area
    holed = wkt.parse_wkt(
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 3, 3 3, 3 1, 1 1))"
    )
    area, cx, cy = kernels.polygon_area_centroid(holed)
    assert area == 12.0 and (cx, cy) == (2.0, 2.0)
    # two disjoint parts: area adds, centroid is the area-weighted mean
    mp = wkt.parse_wkt(
        "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
        " ((10 0, 14 0, 14 4, 10 4, 10 0)))"
    )
    area, cx, cy = kernels.polygon_area_centroid(mp)
    assert area == 4.0 + 16.0
    assert cx == (4.0 * 1.0 + 16.0 * 12.0) / 20.0
    assert cy == (4.0 * 1.0 + 16.0 * 2.0) / 20.0


def test_cover_linestring_supercover():
    """Every cell the segment passes through is covered (touching counts),
    cells away from the line are not, and a MULTILINESTRING unions parts."""
    res = 6
    cw, ch = cells.cell_size(res)
    # horizontal segment through the middle of a row of cells
    y = -90 + 10.5 * ch
    x0, x1 = -180 + 3.25 * cw, -180 + 7.75 * cw
    cov = kernels.cover_linestring(f"LINESTRING ({x0} {y}, {x1} {y})", res)
    exp = cells.cover_bbox_np(x0, y, x1, y, res)
    assert sorted(cov.tolist()) == sorted(exp.tolist())  # 5 cells in the row
    assert len(cov) == 5
    # diagonal: the anti-diagonal corner cells of the bbox are NOT hit
    d = kernels.cover_linestring(
        f"LINESTRING ({-180 + 3.1 * cw} {-90 + 3.1 * ch},"
        f" {-180 + 5.9 * cw} {-90 + 5.9 * ch})", res)
    bbox = cells.cover_bbox_np(
        -180 + 3.1 * cw, -90 + 3.1 * ch, -180 + 5.9 * cw, -90 + 5.9 * ch, res)
    assert len(d) < len(bbox)  # SAT prunes off-diagonal corners
    import numpy as np

    far_corner = cells.encode_np(
        np.array([-180 + 3.5 * cw]), np.array([-90 + 5.5 * ch]), res)[0]
    assert far_corner in bbox and far_corner not in d
    # multilinestring unions two disjoint parts
    m = kernels.cover_linestring(
        f"MULTILINESTRING (({x0} {y}, {x1} {y}),"
        f" ({-180 + 20.5 * cw} {-90 + 20.5 * ch}, {-180 + 21.5 * cw} {-90 + 20.5 * ch}))",
        res)
    assert len(m) == 5 + 2
