"""Seeded input generator for the benchmark.

Everything the engine sees is generated here from one integer seed, with
numpy and pyarrow only (no Spark, no engine code), and written as parquet:

- ``pages``       FIXTURES.md shape (page_id, url, warc_ts, html, text, lang).
                  About 70% of rows carry a "lat, lon" pair drawn from
                  zipf-weighted hot spots (80%) and a uniform background
                  (20%); the rest carry none, so the engine's geocode
                  fallback places them. No page lands in an empty region.
- ``pages_small`` the first ``n_pages // cores`` rows of the same stream,
                  the input of the single-core scaling leg and of the
                  commit step.
- ``zones``       PIP zones: rectangles, concave polygons and one giant
                  concave zone over the hottest spot (zone_id, geom_wkt).
- ``queries``     kNN queries (qid, qx, qy); a quarter sit inside empty
                  regions, so the ring expansion needs straggler rounds.
- ``tiles``       cell-aligned raster tiles in the engine's TILE_SCHEMA, with
                  nodata pixels; pixel values are a closed-form function of
                  (tile, row, col) so zonal sums can be checked exactly.
- ``zone_cover``  zonal-stats rectangles, one row per covering tile cell.

The shape is fixed per size; a seed moves only positions, so every seed
gives the engine the same amount and kind of work. Coordinates of polygon
vertices, rectangle edges and zone edges sit half a step off the 1e-4 grid
the page coordinates live on, so no point or pixel centre lies on a boundary.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# geocode fallback constants: the documented pseudo-coordinate rule of the
# engine's geocoder, (((seed % P) * A) % M) / 1000 - origin
_P_LON, _A_LON = 999983, 40503
_P_LAT, _A_LAT = 999979, 69069

WORDS = (
    "river market harbor station museum bridge garden library school temple "
    "forest valley coast island tower castle square avenue village meadow "
    "festival concert review guide history travel weather report notes"
).split()
LANGS = np.array(["en", "de", "fr", "es", "pt"])
LANG_P = np.array([0.6, 0.1, 0.1, 0.1, 0.1])
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


GEO_SHARE = 0.7  # rows with a "lat, lon" pair in the text
HOT_SHARE = 0.8  # of geocoded rows: from hot spots
N_HOT = 8
ZIPF_S = 1.2
HOT_SIGMA = 0.35  # degrees
N_EMPTY = 3
EMPTY_W, EMPTY_H = 8.0, 5.0  # degrees
N_RECT_ZONES = 12
N_POLY_ZONES = 10
STRAGGLER_SHARE = 0.25  # of kNN queries: inside empty regions
RASTER_RES = 7  # cell resolution of the raster tiles


@dataclass(frozen=True)
class Shape:
    """Workload sizes; only positions depend on the seed. The defaults of
    the last four are the benchmark's; the tests shrink them."""

    n_pages: int
    cores: int
    n_queries: int = 96
    tile_block: int = 20  # tiles form a tile_block × tile_block cell block
    tile_px: int = 32
    n_zonal_zones: int = 12


def fallback_lon(seed: np.ndarray) -> np.ndarray:
    return ((((seed % _P_LON) * _A_LON) % 360000).astype(np.float64)) / 1000.0 - 180.0


def fallback_lat(seed: np.ndarray) -> np.ndarray:
    return ((((seed % _P_LAT) * _A_LAT) % 180000).astype(np.float64)) / 1000.0 - 90.0


def _off_grid(v: np.ndarray) -> np.ndarray:
    """Snap to the 1e-4 grid, then move half a step off it."""
    return np.round(np.asarray(v, dtype=np.float64), 4) + 0.00005


def _in_rects(x: np.ndarray, y: np.ndarray, rects: np.ndarray, pad: float = 0.0) -> np.ndarray:
    hit = np.zeros(len(x), dtype=bool)
    for minx, miny, maxx, maxy in rects:
        hit |= (x >= minx - pad) & (x <= maxx + pad) & (y >= miny - pad) & (y <= maxy + pad)
    return hit


def _layout(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """Empty regions (minx, miny, maxx, maxy) and hot-spot centres."""
    empties = []
    while len(empties) < N_EMPTY:
        x = rng.uniform(-170.0, 170.0 - EMPTY_W)
        y = rng.uniform(-70.0, 70.0 - EMPTY_H)
        r = (x, y, x + EMPTY_W, y + EMPTY_H)
        if not any(_in_rects(np.array([x, x + EMPTY_W]), np.array([y, y + EMPTY_H]),
                             np.array([e]), pad=8.0).any() for e in empties):
            empties.append(r)
    empties_a = _off_grid(np.array(empties))
    hots = []
    while len(hots) < N_HOT:
        x, y = rng.uniform(-150.0, 150.0), rng.uniform(-55.0, 55.0)
        if _in_rects(np.array([x]), np.array([y]), empties_a, pad=5.0)[0]:
            continue
        if any(abs(x - hx) < 25 and abs(y - hy) < 15 for hx, hy in hots):
            continue
        hots.append((x, y))
    return empties_a, np.array(hots)


def _points(rng, n: int, empties, hots) -> tuple[np.ndarray, np.ndarray]:
    """Geocoded page coordinates, rounded to 4 decimals like the text."""
    w = 1.0 / np.arange(1, N_HOT + 1) ** ZIPF_S
    w /= w.sum()
    n_hot = int(round(n * HOT_SHARE))
    which = rng.choice(N_HOT, size=n_hot, p=w)
    hx = hots[which, 0] + rng.normal(0.0, HOT_SIGMA, n_hot)
    hy = hots[which, 1] + rng.normal(0.0, HOT_SIGMA * 0.6, n_hot)
    bx = rng.uniform(-179.0, 179.0, n - n_hot)
    by = rng.uniform(-80.0, 80.0, n - n_hot)
    x = np.round(np.clip(np.concatenate([hx, bx]), -179.9, 179.9), 4)
    y = np.round(np.clip(np.concatenate([hy, by]), -89.9, 89.9), 4)
    bad = _in_rects(x, y, empties)
    while bad.any():  # background rows only: hot spots keep 5 degrees away
        x[bad] = np.round(rng.uniform(-179.0, 179.0, bad.sum()), 4)
        y[bad] = np.round(rng.uniform(-80.0, 80.0, bad.sum()), 4)
        bad = _in_rects(x, y, empties)
    perm = rng.permutation(n)
    return x[perm], y[perm]


def make_pages(rng, n: int, empties, hots) -> dict:
    """Columns of the pages table plus the coordinates the engine must find."""
    has_geo = rng.random(n) < GEO_SHARE
    gx, gy = _points(rng, int(has_geo.sum()), empties, hots)
    lon = np.empty(n)
    lat = np.empty(n)
    lon[has_geo], lat[has_geo] = gx, gy
    # page ids: i * 8 + j, where j moves fallback rows out of empty regions
    page_id = np.arange(n, dtype=np.int64) * 8
    plain = np.flatnonzero(~has_geo)
    for j in range(8):
        pid = page_id[plain] + j
        fx, fy = fallback_lon(pid), fallback_lat(pid)
        ok = ~_in_rects(fx, fy, empties)
        page_id[plain[ok]] = pid[ok]
        lon[plain[ok]], lat[plain[ok]] = fx[ok], fy[ok]
        plain = plain[~ok]
        if len(plain) == 0:
            break
    if len(plain):
        raise RuntimeError("fallback coordinates could not avoid the empty regions")

    site = np.minimum(rng.zipf(1.5, n), 5000)
    w1 = rng.integers(0, len(WORDS), n)
    w2 = rng.integers(0, len(WORDS), n)
    words = [f"{WORDS[a]} {WORDS[b]}" for a, b in zip(w1, w2)]
    text = [
        f"page {p} on {t} near {la:.4f}, {lo:.4f} and more {t}" if g
        else f"page {p} on {t} with no place named"
        for p, t, g, la, lo in zip(page_id.tolist(), words, has_geo.tolist(),
                                   lat.tolist(), lon.tolist())
    ]
    return {
        "page_id": page_id,
        "url": [f"https://site{s}.example/{p}" for s, p in zip(site.tolist(), page_id.tolist())],
        "warc_ts": BASE_TS_US + rng.integers(0, 180 * 86400, n) * 1_000_000,
        "html": [b"<html>" + t.encode() + b"</html>" for t in text],
        "text": text,
        "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "lon": lon,
        "lat": lat,
    }


def _rect_wkt(minx, miny, maxx, maxy) -> str:
    return (f"POLYGON (({minx!r} {miny!r}, {maxx!r} {miny!r}, {maxx!r} {maxy!r}, "
            f"{minx!r} {maxy!r}, {minx!r} {miny!r}))")


def _ring_wkt(xs: np.ndarray, ys: np.ndarray) -> str:
    pts = ", ".join(f"{x!r} {y!r}" for x, y in zip(xs.tolist() + [xs[0]], ys.tolist() + [ys[0]]))
    return f"POLYGON (({pts}))"


def _star(rng, cx, cy, r_out, n_tips=5, aspect=0.6):
    """Concave star-shaped ring around (cx, cy)."""
    k = 2 * n_tips
    ang = np.arange(k) * (2 * np.pi / k) + rng.uniform(0, np.pi)
    rad = np.where(np.arange(k) % 2 == 0, r_out, r_out * 0.4)
    return _off_grid(cx + rad * np.cos(ang)), _off_grid(cy + aspect * rad * np.sin(ang))


def make_zones(rng, hots) -> dict:
    """PIP zones: rectangles and stars near hot spots and in the open, plus
    one giant star over the hottest spot (zone_id 0)."""
    ids, wkts = [0], []
    gx, gy = _star(rng, hots[0, 0], hots[0, 1], 14.0, n_tips=6, aspect=0.7)
    wkts.append(_ring_wkt(gx, gy))
    for i in range(N_RECT_ZONES):
        if i % 2 == 0:
            cx, cy = hots[(i // 2) % N_HOT] + rng.normal(0, 0.4, 2)
        else:
            cx, cy = rng.uniform(-160, 160), rng.uniform(-60, 60)
        f = i / (N_RECT_ZONES - 1)  # sizes are fixed, positions are not
        w, h = 0.5 + 5.5 * f, 0.4 + 3.6 * (1 - f)
        minx, miny, maxx, maxy = _off_grid([cx - w, cy - h, cx + w, cy + h])
        ids.append(len(ids))
        wkts.append(_rect_wkt(minx, miny, maxx, maxy))
    for i in range(N_POLY_ZONES):
        if i % 2 == 0:
            cx, cy = hots[(i // 2 + 1) % N_HOT] + rng.normal(0, 0.3, 2)
        else:
            cx, cy = rng.uniform(-160, 160), rng.uniform(-60, 60)
        xs, ys = _star(rng, cx, cy, 0.6 + 4.4 * i / (N_POLY_ZONES - 1), n_tips=4 + i % 4)
        ids.append(len(ids))
        wkts.append(_ring_wkt(xs, ys))
    return {"zone_id": np.array(ids, dtype=np.int64), "geom_wkt": wkts}


def make_queries(rng, n_queries: int, empties, hots) -> dict:
    n_str = int(round(n_queries * STRAGGLER_SHARE))
    n_near = n_queries - n_str
    e = empties[rng.integers(0, len(empties), n_str)]
    sx = e[:, 0] + (e[:, 2] - e[:, 0]) * rng.uniform(0.3, 0.7, n_str)
    sy = e[:, 1] + (e[:, 3] - e[:, 1]) * rng.uniform(0.3, 0.7, n_str)
    h = hots[rng.integers(0, N_HOT, n_near // 2)]
    hx = h[:, 0] + rng.normal(0, 0.5, len(h))
    hy = h[:, 1] + rng.normal(0, 0.3, len(h))
    bx = rng.uniform(-170, 170, n_near - len(h))
    by = rng.uniform(-70, 70, n_near - len(h))
    qx = _off_grid(np.concatenate([sx, hx, bx]))
    qy = _off_grid(np.concatenate([sy, hy, by]))
    return {"qid": np.arange(n_queries, dtype=np.int64), "qx": qx, "qy": qy}


def spread_bits(v: np.ndarray) -> np.ndarray:
    """Bit i of v moves to bit 2i (plain loop, independent of the engine)."""
    v = np.asarray(v, dtype=np.int64)
    out = np.zeros_like(v)
    for i in range(27):
        out |= ((v >> i) & 1) << (2 * i)
    return out


def cell_id(xi: np.ndarray, yi: np.ndarray, res: int) -> np.ndarray:
    """Z-order cell id: interleave(xi, yi) << 5 | res (FIXTURES.md cell scheme)."""
    return ((spread_bits(xi) | (spread_bits(yi) << 1)) << 5) | res


def grid_index(coord: np.ndarray, res: int, *, lat: bool) -> np.ndarray:
    n = 1 << res
    origin, span = (-90.0, 180.0) if lat else (-180.0, 360.0)
    idx = np.floor((np.asarray(coord, dtype=np.float64) - origin) / span * float(n))
    return np.clip(idx, 0, n - 1).astype(np.int64)


def pixel_values(tile_id: np.ndarray, px: int) -> tuple[np.ndarray, np.ndarray]:
    """Closed-form band-1 values and nodata mask, shape (tiles, px, px)."""
    t = np.asarray(tile_id, dtype=np.int64)[:, None, None]
    r = np.arange(px)[None, :, None]
    c = np.arange(px)[None, None, :]
    val = ((t * 31 + r * 7 + c * 3) % 97).astype(np.float64)
    nod = (t + r * 5 + c) % 11 == 0
    return val, nod


def make_tiles(rng, sh: Shape, hots) -> tuple:
    """Cell-aligned tiles over a block near a hot spot, and zonal rectangles
    inside the block with their covering cells."""
    res, b, px = RASTER_RES, sh.tile_block, sh.tile_px
    n = 1 << res
    x0 = int(grid_index(hots[1, 0], res, lat=False)) - b // 2
    y0 = int(grid_index(hots[1, 1], res, lat=True)) - b // 2
    x0, y0 = min(max(x0, 0), n - b), min(max(y0, 0), n - b)
    gx, gy = np.meshgrid(np.arange(x0, x0 + b), np.arange(y0, y0 + b))
    xi, yi = gx.ravel(), gy.ravel()
    cell = cell_id(xi, yi, res)
    tile_id = np.arange(len(cell), dtype=np.int64) + 1000
    cw, ch = 360.0 / n, 180.0 / n
    val, nod = pixel_values(tile_id, px)
    is_float = tile_id % 2 == 0
    nodata = np.where(is_float, np.nan, -99.0)
    pix = np.where(nod, nodata[:, None, None], val).reshape(len(cell), -1)
    minx = -180.0 + xi * cw
    maxy = -90.0 + yi * ch + ch
    tiles = {
        "tile_id": tile_id,
        "cell": cell,
        "crs": ["EPSG:4326"] * len(cell),
        "count": np.ones(len(cell), dtype=np.int32),
        "width": np.full(len(cell), px, dtype=np.int32),
        "height": np.full(len(cell), px, dtype=np.int32),
        "dtype": np.where(is_float, "float64", "int16"),
        "nodata": nodata,
        "transform": [[cw / px, 0.0, a, 0.0, -ch / px, m] for a, m in zip(minx, maxy)],
        "pixels": list(pix),
    }
    # zonal rectangles strictly inside the block
    bx0, by0 = -180.0 + x0 * cw, -90.0 + y0 * ch
    bx1, by1 = bx0 + b * cw, by0 + b * ch
    rects = []
    for i in range(sh.n_zonal_zones):
        f = i / max(sh.n_zonal_zones - 1, 1)
        w, h = 1.0 + f * (0.3 * (bx1 - bx0) - 1.0), 0.5 + (1 - f) * (0.3 * (by1 - by0) - 0.5)
        mx = rng.uniform(bx0 + 0.1, bx1 - w - 0.1)
        my = rng.uniform(by0 + 0.1, by1 - h - 0.1)
        rects.append(_off_grid([mx, my, mx + w, my + h]))
    rects_a = np.array(rects)
    zc = {k: [] for k in ("zone_id", "minx", "miny", "maxx", "maxy", "cell")}
    for zid, (a, c_, d, e) in enumerate(rects_a):
        cx0, cx1 = grid_index(a, res, lat=False), grid_index(d, res, lat=False)
        cy0, cy1 = grid_index(c_, res, lat=True), grid_index(e, res, lat=True)
        mx, my = np.meshgrid(np.arange(cx0, cx1 + 1), np.arange(cy0, cy1 + 1))
        cells_z = cell_id(mx.ravel(), my.ravel(), res)
        for cz in cells_z.tolist():
            for k, v in zip(zc, (zid, a, c_, d, e, cz)):
                zc[k].append(v)
    return tiles, zc, rects_a, xi, yi


TILE_FIELDS = [
    ("tile_id", pa.int64()), ("cell", pa.int64()), ("crs", pa.string()),
    ("count", pa.int32()), ("width", pa.int32()), ("height", pa.int32()),
    ("dtype", pa.string()), ("nodata", pa.float64()),
    ("transform", pa.list_(pa.float64())), ("pixels", pa.list_(pa.float64())),
]
PAGE_FIELDS = [
    ("page_id", pa.int64()), ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
]


def _write(table: pa.Table, path: str, n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"),
                       compression="snappy", row_group_size=16384)


def generate(seed: int, out_dir: str, sh: Shape) -> dict:
    """Write every input table for ``seed`` under ``out_dir``; return the
    ground truth the output checks need (numpy arrays, never read back
    from Spark)."""
    rng = np.random.default_rng(seed)
    empties, hots = _layout(rng)
    pages = make_pages(rng, sh.n_pages, empties, hots)
    zones = make_zones(rng, hots)
    queries = make_queries(rng, sh.n_queries, empties, hots)
    tiles, zone_cover, zonal_rects, tile_xi, tile_yi = make_tiles(rng, sh, hots)

    ptab = pa.table({k: pa.array(pages[k], type=t) for k, t in PAGE_FIELDS})
    _write(ptab, f"{out_dir}/pages", n_files=8)
    _write(ptab.slice(0, sh.n_pages // sh.cores), f"{out_dir}/pages_small", n_files=2)
    _write(pa.table(zones), f"{out_dir}/zones")
    _write(pa.table(queries), f"{out_dir}/queries")
    _write(pa.table({k: pa.array(tiles[k], type=t) for k, t in TILE_FIELDS}), f"{out_dir}/tiles")
    _write(pa.table({"zone_id": pa.array(zone_cover["zone_id"], pa.int64()),
                     **{k: pa.array(zone_cover[k], pa.float64())
                        for k in ("minx", "miny", "maxx", "maxy")},
                     "cell": pa.array(zone_cover["cell"], pa.int64())}), f"{out_dir}/zone_cover")
    return {
        "page_id": pages["page_id"], "lon": pages["lon"], "lat": pages["lat"],
        "zones": zones, "queries": queries, "empties": empties,
        "tile_id": tiles["tile_id"], "tile_xi": tile_xi, "tile_yi": tile_yi, "tile_px": sh.tile_px,
        "tile_res": RASTER_RES,
        "zonal_rects": zonal_rects, "zonal_pairs": len(zone_cover["cell"]),
        "pages_dir": f"{out_dir}/pages",
    }
