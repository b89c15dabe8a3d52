"""Independent answers for every job, computed with numpy from the
generator's ground truth (never from the engine, never with geo.kernels),
and the comparisons that turn a job's result into a pass or a failure.

Each ``check_*`` returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from gen import cell_id, grid_index, pixel_values


def points(truth: dict, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return truth["page_id"][:n], truth["lon"][:n], truth["lat"][:n]


def _compare(got: pd.DataFrame, want: pd.DataFrame, key: list[str], what: str) -> list[str]:
    cols = list(want.columns)
    if sorted(got.columns) != sorted(cols):
        return [f"{what}: columns {sorted(got.columns)} != {sorted(cols)}"]
    a = got[cols].sort_values(key, kind="mergesort").reset_index(drop=True)
    b = want[cols].sort_values(key, kind="mergesort").reset_index(drop=True)
    if len(a) != len(b):
        return [f"{what}: {len(a)} rows, expected {len(b)}"]
    bad = []
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        same = (av == bv) | (pd.isna(av) & pd.isna(bv))
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            bad.append(f"{what}: column {c} differs at {a.loc[i, key].tolist()}: {av[i]} != {bv[i]}")
    return bad


# -- tile ------------------------------------------------------------------

def tile_expected(truth: dict, n: int, res: int) -> pd.DataFrame:
    pid, lon, lat = points(truth, n)
    cell = cell_id(grid_index(lon, res, lat=False), grid_index(lat, res, lat=True), res)
    df = pd.DataFrame({"cell": cell, "n": 1, "sum_id": pid})
    return df.groupby("cell", as_index=False).sum()


def check_tile(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return _compare(got, want, ["cell"], "tile")


# -- pip -------------------------------------------------------------------

def parse_ring(wkt: str) -> np.ndarray:
    nums = [float(v) for v in re.findall(r"-?\d+(?:\.\d+)?(?:e-?\d+)?", wkt)]
    return np.asarray(nums).reshape(-1, 2)


def inside_even_odd(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Brute-force even-odd rule: count edges a rightward ray crosses."""
    inside = np.zeros(len(px), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        spans = (y0 > py) != (y1 > py)
        if not spans.any():
            continue
        xc = x0 + (py[spans] - y0) * (x1 - x0) / (y1 - y0)
        inside[np.flatnonzero(spans)[px[spans] < xc]] ^= True
    return inside


def pip_expected(truth: dict, n: int) -> pd.DataFrame:
    pid, lon, lat = points(truth, n)
    rows = []
    for zid, wkt in zip(truth["zones"]["zone_id"].tolist(), truth["zones"]["geom_wkt"]):
        hit = inside_even_odd(lon, lat, parse_ring(wkt))
        if hit.any():
            rows.append((zid, int(hit.sum()), int(pid[hit].sum())))
    return pd.DataFrame(rows, columns=["zone_id", "n", "sum_id"])


def check_pip(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return _compare(got, want, ["zone_id"], "pip")


# -- knn -------------------------------------------------------------------

def knn_expected(truth: dict, n: int, k: int) -> pd.DataFrame:
    """Exact k nearest page points per query; ties go to the smaller tid."""
    tid, tx, ty = points(truth, n)
    order = np.argsort(tid, kind="stable")
    tid, tx, ty = tid[order], tx[order], ty[order]
    q = truth["queries"]
    rows = []
    for qid, qx, qy in zip(q["qid"].tolist(), q["qx"].tolist(), q["qy"].tolist()):
        d = ((qx - tx) * (qx - tx)) + ((qy - ty) * (qy - ty))
        best = np.lexsort((tid, d))[:k]
        for r, i in enumerate(best, start=1):
            rows.append((qid, int(tid[i]), float(d[i]), r))
    return pd.DataFrame(rows, columns=["qid", "tid", "dist", "rank"])


def check_knn(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return _compare(got, want, ["qid", "rank"], "knn")


# -- zonal -----------------------------------------------------------------

def zonal_expected(truth: dict) -> pd.DataFrame:
    """Per-zone stats straight from the closed-form pixel definition."""
    res, px = truth["tile_res"], truth["tile_px"]
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    val, nod = pixel_values(truth["tile_id"], px)
    xi, yi = truth["tile_xi"], truth["tile_yi"]
    rows = []
    for zid, (zx0, zy0, zx1, zy1) in enumerate(truth["zonal_rects"].tolist()):
        cnt, tot, lo, hi = 0, 0.0, np.inf, -np.inf
        for t in range(len(xi)):
            minx = -180.0 + xi[t] * cw
            maxy = -90.0 + yi[t] * ch + ch
            cx = minx + (np.arange(px) + 0.5) * (cw / px)
            cy = maxy - (np.arange(px) + 0.5) * (ch / px)
            ok = ((cy >= zy0) & (cy <= zy1))[:, None] & ((cx >= zx0) & (cx <= zx1))[None, :]
            ok &= ~nod[t]
            if ok.any():
                v = val[t][ok]
                cnt += int(ok.sum())
                tot += float(v.sum())
                lo, hi = min(lo, float(v.min())), max(hi, float(v.max()))
        rows.append((zid, cnt, tot, lo if cnt else None, hi if cnt else None))
    return pd.DataFrame(rows, columns=["zone_id", "n_pixels", "sum_val", "min_val", "max_val"])


def check_zonal(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return _compare(got, want, ["zone_id"], "zonal")


# -- resume ----------------------------------------------------------------

def unit_counts(truth: dict, n: int, tile_res: int, unit_res: int) -> pd.DataFrame:
    """Rows per commit unit: the unit is the res-``unit_res`` ancestor of
    each page's res-``tile_res`` cell, i.e. its grid index >> (difference)."""
    _, lon, lat = points(truth, n)
    shift = tile_res - unit_res
    part = cell_id(grid_index(lon, tile_res, lat=False) >> shift,
                   grid_index(lat, tile_res, lat=True) >> shift, unit_res)
    u, c = np.unique(part, return_counts=True)
    return pd.DataFrame({"part_key": u, "n_rows": c})


def check_resume(seq: dict, reference: pd.DataFrame, counts: pd.DataFrame) -> list[str]:
    """The resumed table must commit every unit once, with the per-unit
    checksums of an uninterrupted run and the independently counted rows."""
    if reference is None:
        return ["resume: no uninterrupted reference run"]
    bad = []
    if seq["bad_units"] != 0:
        bad.append(f"resume: verify_lineage reported {seq['bad_units']} bad units")
    pending = len(counts) - seq["committed_before_resume"]
    if seq["processed_on_resume"] != pending:
        bad.append(f"resume: processed {seq['processed_on_resume']} units on resume, {pending} were pending")
    bad += _compare(seq["lineage"], reference, ["part_key"], "resume lineage")
    bad += _compare(seq["lineage"][["part_key", "n_rows"]], counts, ["part_key"], "resume unit rows")
    return bad
