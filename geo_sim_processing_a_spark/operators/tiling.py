"""Tiling contract + skew salting (SURVEY.md §2.4 X7/X10/X11, §4.3).

Tiling contract (correctness-critical at any scale):
 - every geometry is duplicated into EVERY cell its bbox covers at the
   chosen resolution (halo duplication), so a tile kernel sees all
   geometries whose segments can interact with its own;
 - exactly one copy is the OWNER (owner rule: the cell of the
   geometry's first vertex) and only the owner's kernel emits output —
   dedup-by-construction, no post-shuffle distinct needed.

Skew salting (two-pass):
 - pass 1: groupBy(cell).count() — partial+final hash agg, cheap;
 - pass 2: n_salt(cell) = ceil(count / target_rows_per_task) joined
   back broadcast; salt = pmod(xxhash64(url), n_salt); repartition on
   (cell, salt).  Kernels group by (cell, salt); owners are disjoint
   across salts so outputs remain exact.  AQE skew-join stays on as a
   backstop (plans/session.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cells as C


def _cover_batch(pdf: pd.DataFrame, res: int) -> pd.DataFrame:
    """Vectorized halo cover of one Arrow batch: per-geometry bbox via
    ``np.minimum.reduceat`` over the concatenated coordinates, cover
    grid enumerated with repeat/arange arithmetic, owner cell from the
    first vertex — zero per-row Python."""
    n = len(pdf)
    if n == 0:
        out = pdf.copy()
        out["cell"] = pd.Series([], dtype="int64")
        out["is_owner"] = pd.Series([], dtype="bool")
        return out
    xs_list = pdf["xs"].tolist()
    ys_list = pdf["ys"].tolist()
    lens = np.fromiter((len(v) for v in xs_list), dtype=np.int64, count=n)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    fx = np.concatenate([np.asarray(v, dtype=np.float64) for v in xs_list])
    fy = np.concatenate([np.asarray(v, dtype=np.float64) for v in ys_list])
    minx = np.minimum.reduceat(fx, starts)
    maxx = np.maximum.reduceat(fx, starts)
    miny = np.minimum.reduceat(fy, starts)
    maxy = np.maximum.reduceat(fy, starts)

    ix0, iy0 = C.lonlat_to_ixiy(minx, miny, res)
    ix1, iy1 = C.lonlat_to_ixiy(maxx, maxy, res)
    w = ix1 - ix0 + 1
    h = iy1 - iy0 + 1
    counts = w * h
    total = int(counts.sum())
    row_idx = np.repeat(np.arange(n), counts)
    cum = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=cum[1:])
    k = np.arange(total, dtype=np.int64) - cum[row_idx]
    wr = w[row_idx]
    ix = ix0[row_idx] + (k % wr)
    iy = iy0[row_idx] + (k // wr)
    cells = C.encode_ixiy(ix, iy, res)
    owner = C.encode(fx[starts], fy[starts], res)
    is_owner = cells == owner[row_idx]

    out = pdf.iloc[row_idx].reset_index(drop=True)
    out["cell"] = cells
    out["is_owner"] = is_owner
    return out


def with_cell_cover(geoms: DataFrame, res: int) -> DataFrame:
    """geoms(url, kind, xs, ys, ...) -> exploded (cell, is_owner, ...):
    every geometry is duplicated into each covered cell (halo), with
    exactly one owner copy (owner = cell of the first vertex)."""
    from pyspark.sql import types as T

    # extend the input StructType directly (a simpleString round-trip
    # drops nullability and breaks on DDL-unparseable names)
    out_schema = T.StructType(
        list(geoms.schema.fields)
        + [T.StructField("cell", T.LongType()),
           T.StructField("is_owner", T.BooleanType())])

    def run(batches):
        for pdf in batches:
            yield _cover_batch(pdf, res)

    return geoms.mapInPandas(run, out_schema)


def salt_by_cell(df: DataFrame, key_col: str = "url", cell_col: str = "cell",
                 target_rows_per_task: int = 20_000,
                 broadcast_counts: bool = True) -> DataFrame:
    """Two-pass skew salting; adds ``salt`` (the kernel stage,
    plans/pipeline.simplify_tiles, owns the (cell, salt) shuffle).

    Every row of a hot cell is REPLICATED to each salt replica as
    read-only context, and ``is_owner`` stays true only in the row's
    home salt — each replica sees the full constraint context that an
    interacting kernel like Sherbend needs (SURVEY.md §4.3.2), outputs
    stay exact, and ownership is disjoint.  Independent-feature kernels
    (dp/vw) need no context: simplify_tiles drops their non-owner rows
    before its shuffle.  Frames without ``is_owner`` get the home salt
    only.

    ``broadcast_counts`` (default True) hints the per-cell counts join:
    correct for coarse grids where the count table is bounded by the
    cell space (res 6 -> <= 4096 rows, the flagship path).  Pass False
    at FINE resolutions (res > ~12), where distinct cells grow with the
    data and an explicit broadcast hint would bypass
    autoBroadcastJoinThreshold — let AQE pick the join strategy."""
    counts = (df.groupBy(cell_col).count()
                .withColumn("n_salt",
                            F.greatest(F.lit(1),
                                       F.ceil(F.col("count") / F.lit(target_rows_per_task))
                                       .cast("int")))
                .drop("count"))
    counts_side = F.broadcast(counts) if broadcast_counts else counts
    base = (df.join(counts_side, on=cell_col, how="left")
              .withColumn("n_salt", F.coalesce(F.col("n_salt"), F.lit(1)))
              .withColumn("home_salt",
                          F.pmod(F.xxhash64(F.col(key_col)), F.col("n_salt")).cast("int")))
    if "is_owner" in df.columns:
        salted = (base
                  .withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1)))
                  .withColumn("salt", F.col("salt").cast("int"))
                  .withColumn("is_owner",
                              F.col("is_owner") & (F.col("salt") == F.col("home_salt"))))
    else:
        salted = base.withColumn("salt", F.col("home_salt"))
    return salted.drop("n_salt", "home_salt")


def _clip_segments_to_grid(gx0, gy0, gx1, gy1, n_sub: int):
    """Liang-Barsky clip of segments (grid coords) to [0, n_sub]^2.
    Returns (keep mask, clipped endpoints ax, ay, bx, by)."""
    dx = gx1 - gx0
    dy = gy1 - gy0
    lim = float(n_sub)
    # Degenerate axis (dx==0 / dy==0): the axis imposes no constraint
    # when the shared coordinate is inside [0, lim] (interval (-inf,
    # +inf)), and must make the WHOLE interval empty when it is outside.
    # Both slots get +inf for "outside" so min(t0,t1)=+inf forces
    # t_enter=+inf > t_exit and the segment is rejected — a -inf/+inf
    # split would collapse back to a vacuous interval under the min/max
    # below and keep segments that never touch the window.
    with np.errstate(divide="ignore", invalid="ignore"):
        in_x = (0.0 <= gx0) & (gx0 <= lim)
        in_y = (0.0 <= gy0) & (gy0 <= lim)
        t0x = np.where(dx != 0, (0.0 - gx0) / dx, np.where(in_x, -np.inf, np.inf))
        t1x = np.where(dx != 0, (lim - gx0) / dx, np.where(in_x, np.inf, np.inf))
        t0y = np.where(dy != 0, (0.0 - gy0) / dy, np.where(in_y, -np.inf, np.inf))
        t1y = np.where(dy != 0, (lim - gy0) / dy, np.where(in_y, np.inf, np.inf))
    t_enter = np.maximum(np.maximum(np.minimum(t0x, t1x), np.minimum(t0y, t1y)), 0.0)
    t_exit = np.minimum(np.minimum(np.maximum(t0x, t1x), np.maximum(t0y, t1y)), 1.0)
    keep = t_enter <= t_exit
    with np.errstate(invalid="ignore"):  # rejected rows have t=inf, dx=0
        ax = gx0 + t_enter * dx
        ay = gy0 + t_enter * dy
        bx = gx0 + t_exit * dx
        by = gy0 + t_exit * dy
    return keep, ax, ay, bx, by


def _mark_segments(occ: np.ndarray, row_of_seg: np.ndarray,
                   ax, ay, bx, by, n_sub: int) -> None:
    """Exact grid traversal of clipped segments (Amanatides-Woo
    expressed as sorted grid-line crossings): for every segment, every
    sub-cell it passes through is marked in ``occ`` (n_rows, n_sub^2).
    Fully vectorized across ALL segments of the batch — crossing
    parameters are enumerated with repeat/arange, sorted with lexsort,
    and consecutive-midpoint sampling yields exactly one point per
    traversed sub-cell."""
    m = len(ax)
    if m == 0:
        return
    # crossing counts per axis (integers strictly between the endpoints)
    xlo, xhi = np.minimum(ax, bx), np.maximum(ax, bx)
    ylo, yhi = np.minimum(ay, by), np.maximum(ay, by)
    cx0 = np.floor(xlo).astype(np.int64) + 1
    cx1 = np.ceil(xhi).astype(np.int64) - 1
    kx = np.maximum(cx1 - cx0 + 1, 0)
    cy0 = np.floor(ylo).astype(np.int64) + 1
    cy1 = np.ceil(yhi).astype(np.int64) - 1
    ky = np.maximum(cy1 - cy0 + 1, 0)

    # global ragged enumeration: per segment [t=0, x-crossings, y-crossings, t=1]
    counts = kx + ky + 2
    total = int(counts.sum())
    seg_of = np.repeat(np.arange(m), counts)
    cum = np.zeros(m, dtype=np.int64)
    np.cumsum(counts[:-1], out=cum[1:])
    j = np.arange(total, dtype=np.int64) - cum[seg_of]  # position within segment

    ts = np.empty(total, dtype=np.float64)
    ts[j == 0] = 0.0
    last = j == counts[seg_of] - 1
    ts[last] = 1.0
    is_x = (j >= 1) & (j <= kx[seg_of]) & ~last
    with np.errstate(divide="ignore", invalid="ignore"):
        gridx = cx0[seg_of] + (j - 1)
        ts[is_x] = ((gridx[is_x] - ax[seg_of[is_x]])
                    / (bx[seg_of[is_x]] - ax[seg_of[is_x]]))
        is_y = (j > kx[seg_of]) & ~last & (j >= 1)
        gridy = cy0[seg_of] + (j - 1 - kx[seg_of])
        ts[is_y] = ((gridy[is_y] - ay[seg_of[is_y]])
                    / (by[seg_of[is_y]] - ay[seg_of[is_y]]))
    order = np.lexsort((ts, seg_of))
    ts_s = ts[order]
    seg_s = seg_of[order]
    # midpoints of consecutive crossings within the same segment
    same = seg_s[1:] == seg_s[:-1]
    tm = 0.5 * (ts_s[1:] + ts_s[:-1])[same]
    sm = seg_s[:-1][same]
    px = ax[sm] + tm * (bx[sm] - ax[sm])
    py = ay[sm] + tm * (by[sm] - ay[sm])
    ix = np.clip(np.floor(px).astype(np.int64), 0, n_sub - 1)
    iy = np.clip(np.floor(py).astype(np.int64), 0, n_sub - 1)
    occ[row_of_seg[sm], iy * n_sub + ix] = True


def raster_tile_assign(geoms: DataFrame, res: int, sub_res: int = 4) -> DataFrame:
    """X10 — raster<->vector tile assignment: per covered cell, the
    (2^sub_res)^2 occupancy bitmask of sub-cells the GEOMETRY actually
    rasterizes into (not its bbox):

     - boundary: exact grid traversal of every edge clipped to the cell
       (Liang-Barsky + crossing-sorted sampling, batch-vectorized);
     - polygon interior: even-odd PIP of sub-cell centers against ALL
       rings — holes punch out their sub-cells;
     - points: the single containing sub-cell.

    ONE fused mapInPandas stage (cover + rasterize) — chaining two
    Python stages oversubscribes the cores (measured 3-10x regression);
    returns (…, cell, is_owner, occupancy array<boolean> row-major)."""
    from ..geom import primitives as P

    from pyspark.sql import types as T

    n_sub = 1 << sub_res
    out_schema = T.StructType(
        list(geoms.schema.fields)
        + [T.StructField("cell", T.LongType()),
           T.StructField("is_owner", T.BooleanType()),
           T.StructField("occupancy", T.ArrayType(T.BooleanType()))])
    has_offsets = "ring_offsets" in geoms.columns

    def rasterize_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        cov = _cover_batch(pdf, res)
        n = len(cov)
        occ = np.zeros((n, n_sub * n_sub), dtype=bool)
        if n:
            lon0, lat0, lon1, lat1 = C.cell_bounds(cov["cell"].to_numpy())
            sx = (lon1 - lon0) / n_sub
            sy = (lat1 - lat0) / n_sub
            kinds = cov["kind"].to_numpy()
            xs_l = cov["xs"].tolist()
            ys_l = cov["ys"].tolist()
            offs_l = cov["ring_offsets"].tolist() if has_offsets else [[0]] * n

            # points: vectorized in one shot
            pt = np.flatnonzero(kinds == 0)
            if len(pt):
                px = np.array([xs_l[i][0] for i in pt])
                py = np.array([ys_l[i][0] for i in pt])
                ix = np.clip(((px - lon0[pt]) / sx[pt]).astype(np.int64), 0, n_sub - 1)
                iy = np.clip(((py - lat0[pt]) / sy[pt]).astype(np.int64), 0, n_sub - 1)
                occ[pt, iy * n_sub + ix] = True

            # edges of lines and polygon rings: gather ALL segments of
            # the batch (grid coords per owning row), clip, traverse
            seg_row, seg_ax, seg_ay, seg_bx, seg_by = [], [], [], [], []
            for i in np.flatnonzero(kinds != 0):
                x = (np.asarray(xs_l[i], dtype=np.float64) - lon0[i]) / sx[i]
                y = (np.asarray(ys_l[i], dtype=np.float64) - lat0[i]) / sy[i]
                offs = np.asarray(offs_l[i], dtype=np.int64)
                ends = np.append(offs[1:], len(x))
                for k in range(len(offs)):
                    rx, ry = x[offs[k]:ends[k]], y[offs[k]:ends[k]]
                    if len(rx) < 2:
                        continue
                    seg_row.append(np.full(len(rx) - 1, i, dtype=np.int64))
                    seg_ax.append(rx[:-1])
                    seg_ay.append(ry[:-1])
                    seg_bx.append(rx[1:])
                    seg_by.append(ry[1:])
            if seg_row:
                row_of_seg = np.concatenate(seg_row)
                keep, ax, ay, bx, by = _clip_segments_to_grid(
                    np.concatenate(seg_ax), np.concatenate(seg_ay),
                    np.concatenate(seg_bx), np.concatenate(seg_by), n_sub)
                _mark_segments(occ, row_of_seg[keep], ax[keep], ay[keep],
                               bx[keep], by[keep], n_sub)

            # polygon interiors: even-odd PIP of sub-cell centers vs all
            # rings (vectorized per polygon-cell row over 256 x E)
            ctr = (np.arange(n_sub) + 0.5)
            gx, gy = np.meshgrid(ctr, ctr)  # (n_sub, n_sub), row-major y-outer
            gxf, gyf = gx.ravel(), gy.ravel()
            for i in np.flatnonzero(kinds == 2):
                cxs = lon0[i] + gxf * sx[i]
                cys = lat0[i] + gyf * sy[i]
                x = np.asarray(xs_l[i], dtype=np.float64)
                y = np.asarray(ys_l[i], dtype=np.float64)
                offs = np.asarray(offs_l[i], dtype=np.int64)
                ends = np.append(offs[1:], len(x))
                inside = np.zeros(n_sub * n_sub, dtype=bool)
                for k in range(len(offs)):
                    ring = np.column_stack([x[offs[k]:ends[k]], y[offs[k]:ends[k]]])
                    if len(ring) >= 3:
                        inside ^= P.points_in_ring(cxs, cys, ring)
                occ[i] |= inside

        out = cov.copy()
        out["occupancy"] = pd.Series(list(occ), dtype="object")
        return out

    def run(batches):
        for pdf in batches:
            yield rasterize_batch(pdf)

    return geoms.mapInPandas(run, out_schema)
