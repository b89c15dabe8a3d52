"""Filter-refine point-in-polygon spatial join.

Strategy (BASELINE.json north_star: "broadcast/partitioned point-in-polygon
joins with ... exact PIP test"):

1. **cover** — each polygon is decomposed into covering cells at ``res``
   with a full/partial flag (cover_rows over geo.kernels.cover_geometry).
   ``spatial_join_pip`` collects the polygon side and builds its cover on
   the driver, once. The cover goes back as a small local frame that
   carries an integer polygon index instead of the WKT; the parsed
   geometries of polygons with boundary cells ride in the refine closure.
   ``cover_cells`` runs the same cover_rows as a mapInPandas, for
   callers that keep the cover distributed (raster zonal stats, the
   polygon-polygon join).
2. **join** — points (with a ``cell`` column from geo.cells.with_cell)
   join the broadcast cover once, on the integer cell key. With a
   compacted cover a point joins on its ancestor at every level present.
3. **refine** — the native bbox prefilter (``cell_full OR bbox``), then
   one Arrow-batched mapInPandas kernel. Full-cell rows cross Arrow as a
   pass-through: no WKT per row and no geometry work. Boundary rows run
   the exact even-odd PIP test, grouped by polygon index.

Envelope: the polygon side must fit on the driver, as the broadcast of its
cover already required. The point side is scanned once and never leaves
the executors.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geografir_spark.geo import kernels

_COVER_FIELDS = [
    T.StructField("cell", T.LongType()),
    T.StructField("cell_full", T.BooleanType()),
    T.StructField("pminx", T.DoubleType()),
    T.StructField("pminy", T.DoubleType()),
    T.StructField("pmaxx", T.DoubleType()),
    T.StructField("pmaxy", T.DoubleType()),
]


def cover_rows(
    pdf: pd.DataFrame, wkt_col: str, res: int, *, compact: bool = False
) -> pd.DataFrame:
    """Every row of ``pdf`` repeated once per covering cell of its polygon,
    plus (cell, cell_full, pminx..pmaxy): the one cover construction
    behind cover_cells and spatial_join_pip.

    ``compact=True`` compacts the FULL subset of each polygon's cover into
    its minimal multi-resolution set (geo.cells.compact_np). This is exact:
    four full siblings tile their parent, so the parent is itself entirely
    inside the polygon. Partial (boundary) cells stay at base ``res`` —
    they feed the exact refine. A continent-scale zone's cover shrinks
    from O(area/cell²) to O(perimeter/cell + interior quadtree nodes)."""
    from geografir_spark.geo import wkt as wktmod
    from geografir_spark.geo.cells import compact_np

    parts = []
    for i, wkt_str in enumerate(pdf[wkt_col]):
        cover, full = kernels.cover_geometry(wkt_str, res)
        if len(cover) == 0:
            continue
        if compact and full.any():
            cfull = compact_np(cover[full])
            cover = np.concatenate([cfull, cover[~full]])
            full = np.arange(len(cover)) < len(cfull)
        rep = pdf.iloc[[i] * len(cover)].reset_index(drop=True)
        rep["cell"] = cover
        rep["cell_full"] = full
        bbox = wktmod.bounds(wktmod.parse_wkt(wkt_str))
        rep["pminx"], rep["pminy"], rep["pmaxx"], rep["pmaxy"] = bbox
        parts.append(rep)
    if not parts:
        return pdf.iloc[:0].assign(
            cell=np.int64(0), cell_full=False, pminx=0.0, pminy=0.0, pmaxx=0.0, pmaxy=0.0
        )
    return pd.concat(parts, ignore_index=True)


def cover_cells(
    polys: DataFrame, wkt_col: str, res: int, *, compact: bool = False
) -> DataFrame:
    """Explode polygons into covering cells: all input columns +
    (cell bigint, cell_full boolean, pminx..pmaxy double). ``compact`` as
    in cover_rows."""
    out_schema = T.StructType(list(polys.schema.fields) + _COVER_FIELDS)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = cover_rows(pdf, wkt_col, res, compact=compact)
            if len(out):
                yield out

    return polys.mapInPandas(gen, schema=out_schema)


def spatial_join_pip(
    points: DataFrame,
    polys: DataFrame,
    *,
    res: int,
    lon: str = "lon",
    lat: str = "lat",
    wkt_col: str = "geom_wkt",
    cell_col: str = "cell",
    compact_cover: bool = False,
) -> DataFrame:
    """Inner PIP join: result = points ⋈ polys where point ∈ polygon.

    ``points`` must already carry ``cell_col`` at the same ``res``
    (geo.cells.with_cell). Output: all point columns + all polygon columns
    except the wkt. ``polys`` is collected to the driver when this is
    called (see the module envelope); ``points`` may be a stream.

    ``compact_cover=True`` is the multi-resolution variant: the full-cell
    half of each cover is compacted (exact — see cover_rows) and each
    point joins on its ancestor cell at every level present in the cover,
    a native bit-math projection. Same rows out; the broadcast cover for a
    large zone drops ~100× and the join stays one int64 hash join.
    """
    from geografir_spark.geo import wkt as wktmod
    from geografir_spark.geo.cells import RES_BITS, RES_MASK

    attrs = [f for f in polys.schema.fields if f.name != wkt_col]
    poly_pdf = polys.toPandas()
    poly_pdf["__pidx"] = np.arange(len(poly_pdf), dtype=np.int32)
    cov_pdf = cover_rows(poly_pdf, wkt_col, res, compact=compact_cover)
    geoms = {
        int(i): wktmod.parse_wkt(poly_pdf[wkt_col].iat[i])
        for i in cov_pdf.loc[~cov_pdf["cell_full"], "__pidx"].unique()
    }
    levels = set((cov_pdf["cell"].to_numpy() & RES_MASK).tolist())
    cov_schema = T.StructType(
        attrs
        + [T.StructField("__pidx", T.IntegerType()),
           T.StructField("__poly_cell", T.LongType())]
        + _COVER_FIELDS[1:]
    )
    cov_pdf = cov_pdf.rename(columns={"cell": "__poly_cell"})[cov_schema.names]
    cov = F.broadcast(points.sparkSession.createDataFrame(cov_pdf, cov_schema))

    if levels <= {res}:
        pts, key = points, points[cell_col]
    else:
        # the point's ancestor at every level present in the cover: the
        # L-way row inflation is map-side and shuffle-free, and cover cells
        # of one polygon are disjoint, so each (point, polygon) matches once
        lvl_arr = ", ".join(str(r) for r in sorted(levels))
        pts = points.selectExpr(
            "*", f"explode(array({lvl_arr})) AS __lvl"
        ).selectExpr(
            "*",
            f"((((({cell_col}) >> {RES_BITS}) >> (2 * ((({cell_col}) & {RES_MASK})"
            f" - __lvl))) << {RES_BITS}) | __lvl) AS __pc",
        )
        key = pts["__pc"]
    joined = pts.join(cov, on=key == cov["__poly_cell"], how="inner")

    out_cols = points.columns + [f.name for f in attrs]
    cand = joined.filter(
        F.col("cell_full")
        | (
            (F.col(lon) >= F.col("pminx"))
            & (F.col(lon) <= F.col("pmaxx"))
            & (F.col(lat) >= F.col("pminy"))
            & (F.col(lat) <= F.col("pmaxy"))
        )
    ).select(*out_cols, "__pidx", "cell_full")

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf["cell_full"].to_numpy(dtype=bool, copy=True)
            for pidx, grp in pdf[~keep].groupby("__pidx", sort=False):
                keep[grp.index] = kernels.points_in_polygon(
                    grp[lon].to_numpy(), grp[lat].to_numpy(), geoms[pidx]
                )
            if keep.any():
                yield pdf.loc[keep, out_cols]

    return cand.mapInPandas(refine, schema=T.StructType([cand.schema[c] for c in out_cols]))
