"""DataFrame-level spatial joins (SURVEY.md X8/X9) — filter-refine:
coarse Catalyst hash-join on cell, exact NumPy refine per group.

X8 broadcast point-in-polygon join:
    polygons -> cover cells (tiny dim side) -> broadcast
    points   -> cell                       -> equi-join -> PIP refine
X9 cell-local kNN:
    candidates replicated to their cell's ring-1 neighborhood via
    explode; queries keep their own cell; groupBy(cell) brute-force
    refine (exact within cell+ring1 — callers pick the resolution so
    the k-th neighbor distance < one cell size).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells as C
from .spatial_join import knn_brute, pip_refine


def encode_cell_udf(res: int):
    @F.pandas_udf("long")
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(C.encode(lon.to_numpy(), lat.to_numpy(), res))
    return _enc


from ..geom.primitives import split_rings as _split_rings  # shared decoder


def cell_parent_col(cell, steps: int = 1):
    """JVM-side Morton parent — the bit-for-bit twin of cells.parent
    (cell layout: (morton << 5) | res, so the parent is
    ``((cell >> (5 + 2*steps)) << 5) | ((cell & 31) - steps)``).
    Pure integer ops: whole-stage codegen, and directly expressible in
    any SQL engine (the DuckDB oracle writes the same shifts)."""
    return (F.shiftleft(F.shiftright(cell, 5 + 2 * steps), 5)
            .bitwiseOR(cell.bitwiseAND(F.lit(31)) - F.lit(steps)))


def cell_pyramid(df: DataFrame, cell_col: str = "cell",
                 levels: int = 2) -> DataFrame:
    """Multi-resolution rollup pyramid (the tile-server aggregation):
    row counts per cell at the native resolution (level 0) plus each of
    ``levels`` coarser parent resolutions.

    Scale shape — hierarchical reaggregation: level k+1 aggregates the
    LEVEL-k AGGREGATE (~n/4 rows per step), never the raw table, so the
    raw data is shuffled exactly once; every coarser level is a
    geometrically-shrinking hash-agg.  Returns (cell_col, n, level)."""
    if levels < 0:
        raise ValueError(f"cell_pyramid: levels must be >= 0, got {levels}")
    base = df.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n"))
    out = base.withColumn("level", F.lit(0))
    cur = base
    for k in range(1, levels + 1):
        cur = (cur.groupBy(cell_parent_col(F.col(cell_col), 1)
                           .alias(cell_col))
               .agg(F.sum("n").alias("n")))
        out = out.unionByName(cur.withColumn("level", F.lit(k)))
    return out


def pip_join(points: DataFrame, polys: DataFrame, res: int = 8) -> DataFrame:
    """points(pid, lon, lat) x polys(poly_id, xs, ys[, ring_offsets]) ->
    (pid, poly_id, lon, lat).  Polygon side broadcast.  Multi-ring
    polygons (ring_offsets: exterior first, holes after) use even-odd
    semantics — points inside a hole do NOT match."""
    from .dedup import _ensure_parallelism_if_big
    enc = encode_cell_udf(res)
    # size-conditional floor: a small point table pays more for the
    # fan-out than the light encode costs (sf0.1: 1.31 s floored vs 0.81)
    pts = (_ensure_parallelism_if_big(points)
           .withColumn("cell", enc("lon", "lat")))
    has_offsets = "ring_offsets" in polys.columns

    if has_offsets:
        @F.pandas_udf(T.ArrayType(T.LongType()))
        def cover_udf(xs: pd.Series, ys: pd.Series, offs: pd.Series) -> pd.Series:
            out = []
            for x, y, o in zip(xs, ys, offs):
                rings = _split_rings(np.asarray(x, float), np.asarray(y, float),
                                     o if o is not None else [0])
                out.append([int(c) for c in C.cover_polygon_rings(rings, res)])
            return pd.Series(out)

        pol_cells = polys.withColumn(
            "cell", F.explode(cover_udf("xs", "ys", "ring_offsets")))
    else:
        @F.pandas_udf(T.ArrayType(T.LongType()))
        def cover_udf(xs: pd.Series, ys: pd.Series) -> pd.Series:
            out = []
            for x, y in zip(xs, ys):
                ring = np.column_stack([np.asarray(x, float), np.asarray(y, float)])
                out.append([int(c) for c in C.cover_polygon(ring, res)])
            return pd.Series(out)

        pol_cells = polys.withColumn("cell", F.explode(cover_udf("xs", "ys")))

    joined = pts.join(F.broadcast(pol_cells), on="cell", how="inner")

    def refine(pdf: pd.DataFrame) -> pd.DataFrame:
        keep = []
        for (poly_id,), grp in pdf.groupby(["poly_id"], sort=True):
            x = np.asarray(grp["xs"].iloc[0], float)
            y = np.asarray(grp["ys"].iloc[0], float)
            offs = (grp["ring_offsets"].iloc[0]
                    if has_offsets and grp["ring_offsets"].iloc[0] is not None
                    else [0])
            px = grp["lon"].to_numpy()
            py = grp["lat"].to_numpy()
            inside = np.zeros(len(grp), dtype=bool)
            for ring in _split_rings(x, y, offs):  # even-odd: holes punch out
                inside ^= pip_refine(px, py, ring)
            keep.append(grp.loc[inside, ["pid", "poly_id", "lon", "lat"]])
        if keep:
            return pd.concat(keep, ignore_index=True)
        return pd.DataFrame({"pid": [], "poly_id": [], "lon": [], "lat": []})

    # dedup-by-construction: a point encodes to exactly ONE cell, so a
    # (pid, poly_id) pair can only form in that cell — a distinct here
    # would be a full extra exchange that can never remove anything
    # (plan-gated in tests/test_plans.py: one shuffle after the
    # broadcast join)
    return (joined.groupBy("cell")
            .applyInPandas(refine, "pid long, poly_id long, lon double, lat double"))


def range_join(left: DataFrame, right: DataFrame, res: int = 6,
               left_id: str = "a_id", right_id: str = "b_id") -> DataFrame:
    """Spatial RANGE JOIN: pairs whose bounding boxes intersect.

    Scale shape (the classic grid partitioned spatial join):
     - both sides are duplicated into every covered cell (halo cover,
       same contract as the tile kernels);
     - candidates come from an equi-join ON CELL ONLY — never a cross
       join;
     - the exact bbox-overlap test is four JVM comparisons;
     - duplicates are eliminated by the REFERENCE-POINT rule (report a
       pair only in the single cell containing the overlap region's
       min corner) — dedup by construction, no distinct shuffle.

    Inputs: (id, xs, ys[, ring_offsets]) geometry frames.  Returns
    (left_id, right_id)."""
    def covered(df, id_col, prefix):
        bb = df.select(
            F.col(id_col),
            F.array_min("xs").alias(f"{prefix}minx"),
            F.array_min("ys").alias(f"{prefix}miny"),
            F.array_max("xs").alias(f"{prefix}maxx"),
            F.array_max("ys").alias(f"{prefix}maxy"),
            "xs", "ys")
        from .tiling import with_cell_cover
        return (with_cell_cover(bb, res)
                .drop("xs", "ys", "is_owner"))

    la = covered(left, left_id, "a_")
    rb = covered(right, right_id, "b_")
    enc = encode_cell_udf(res)
    rx = F.greatest("a_minx", "b_minx")
    ry = F.greatest("a_miny", "b_miny")
    return (la.join(rb, "cell")
            .where((F.col("a_minx") <= F.col("b_maxx"))
                   & (F.col("a_maxx") >= F.col("b_minx"))
                   & (F.col("a_miny") <= F.col("b_maxy"))
                   & (F.col("a_maxy") >= F.col("b_miny")))
            .where(enc(rx, ry) == F.col("cell"))
            .select(left_id, right_id))


def knn_join(points: DataFrame, k: int, res: int = 6,
             strict: bool = True, n_query_salts: int = 1) -> DataFrame:
    """Self-kNN of points(pid, lon, lat): for each point the k nearest
    OTHER points within its cell + ring-1 neighbors.  Exact in that
    neighborhood; ties by (dist2, pid).  Returns
    (pid, neighbor_id, dist2, rank).

    Exactness guarantee: the ring-1 candidate block extends at least
    one full cell dimension beyond the query's own cell in every
    direction, so results are globally exact whenever the k-th
    neighbor distance < min(cell width, cell height).  With ``strict``
    (default) the kernel RAISES if any query's k-th neighbor falls
    outside that radius — a too-fine ``res`` fails loudly instead of
    silently returning ring-local results.

    ``n_query_salts`` splits each cell's QUERY set into that many
    refine groups (candidates replicated per salt).  Per-query results
    are independent of grouping, so output is identical; use > 1 when
    ``res`` is deliberately coarse (few cells) and the refine would
    otherwise run on as few tasks as there are cells.  Keep 1 at scale
    where cells outnumber cores — salting multiplies the candidate
    shuffle bytes by the salt count."""
    from .dedup import _ensure_parallelism_if_big
    cell_w = 360.0 / (1 << res)
    cell_h = 180.0 / (1 << res)
    exact_radius2 = min(cell_w, cell_h) ** 2
    enc = encode_cell_udf(res)
    pts = (_ensure_parallelism_if_big(points)
           .withColumn("cell", enc("lon", "lat")))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def nbrs_udf(cell: pd.Series) -> pd.Series:
        # fully vectorized (n, 9) = [cell | ring-1] matrix; pole rows
        # may repeat the cell itself (C.neighbors clips at the poles) —
        # the refine stage drops duplicate candidates, so no per-row
        # set/dedup loop is needed here
        c = cell.to_numpy()
        mat = np.concatenate([c[:, None], C.neighbors(c)], axis=1)
        mat.sort(axis=1)
        return pd.Series(mat.tolist())

    cands = (pts.withColumn("cell", F.explode(nbrs_udf("cell")))
             .select(F.col("pid").alias("cid"), F.col("lon").alias("clon"),
                     F.col("lat").alias("clat"), "cell"))
    queries = pts.select("pid", "lon", "lat", "cell")
    keys = ["cell"]
    if n_query_salts > 1:
        keys = ["cell", "qsalt"]
        queries = queries.withColumn(
            "qsalt", F.pmod(F.xxhash64("pid"), F.lit(n_query_salts)).cast("int"))
        cands = cands.withColumn(
            "qsalt", F.explode(F.sequence(F.lit(0), F.lit(n_query_salts - 1))))

    def refine(q: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
        # COGROUP shape: queries and candidates arrive as separate
        # frames per cell (an equi-JOIN here would materialize the
        # per-cell cartesian product just to dedup it in the kernel —
        # at sf0.1 that was ~90M shuffled rows for 19k points).
        # Zero per-row Python: rank/self-exclusion/strict checks and
        # the output emit are matrix ops over knn_brute's (nq, k+1)
        # block.
        if len(q) == 0 or len(c) == 0:
            return pd.DataFrame({"pid": pd.Series([], dtype="int64"),
                                 "neighbor_id": pd.Series([], dtype="int64"),
                                 "dist2": pd.Series([], dtype="float64"),
                                 "rank": pd.Series([], dtype="int32")})
        c = c.drop_duplicates("cid")  # pole rows can repeat a neighbor cell
        cid = c["cid"].to_numpy()
        order, d2 = knn_brute(q["lon"].to_numpy(), q["lat"].to_numpy(),
                              c["clon"].to_numpy(), c["clat"].to_numpy(),
                              cid, k + 1)
        qid = q["pid"].to_numpy()
        nid = cid[order]                          # (nq, kk)
        keep = nid != qid[:, None]                # drop each query's self row
        rank = np.cumsum(keep, axis=1)
        keep &= rank <= k
        if strict:
            short = np.flatnonzero(keep.sum(axis=1) < k)
            if len(short):
                i = int(short[0])
                raise ValueError(
                    f"knn_join(res={res}): only {int(keep[i].sum())} candidates "
                    f"for pid={int(qid[i])} within cell+ring1 (k={k}) — outside "
                    "the exactness radius guarantee; choose a coarser res or "
                    "pass strict=False")
            kth_d2 = np.where(keep & (rank == k), d2, -np.inf).max(axis=1)
            bad = np.flatnonzero(kth_d2 > exact_radius2)
            if len(bad):
                i = int(bad[0])
                raise ValueError(
                    f"knn_join(res={res}): k-th neighbor of pid={int(qid[i])} at "
                    f"dist={kth_d2[i] ** 0.5:.6g} exceeds the exactness radius "
                    f"{exact_radius2 ** 0.5:.6g} (= min cell dimension); "
                    "choose a coarser res or pass strict=False")
        ri, ci = np.nonzero(keep)
        return pd.DataFrame({"pid": qid[ri].astype(np.int64),
                             "neighbor_id": nid[ri, ci].astype(np.int64),
                             "dist2": d2[ri, ci].astype(np.float64),
                             "rank": rank[ri, ci].astype(np.int32)})

    return (queries.groupBy(*keys)
            .cogroup(cands.groupBy(*keys))
            .applyInPandas(refine, "pid long, neighbor_id long, dist2 double, rank int"))


# ---------------------------------------------------------------------------
# Fully-JVM spatial join: Morton encode / bbox cover as Column
# expressions + exact integer SAT refine (no Python anywhere).
# ---------------------------------------------------------------------------

_SPREAD_STAGES = [(16, 281470681808895), (8, 71777214294589695),
                  (4, 1085102592571150095), (2, 3689348814741910323),
                  (1, 6148914691236517205)]


def _spread_col(c):
    """Column twin of cells._spread_bits (interleave-ready bit spread);
    the five shift/mask stages are the same constants the DuckDB
    oracle uses (driver_queries._sql_morton_cell)."""
    for s, m in _SPREAD_STAGES:
        c = c.bitwiseOR(F.shiftleft(c, s)).bitwiseAND(F.lit(m))
    return c


def _grid_index_col(v, lo: float, extent: float, res: int):
    """Clamped grid index floor((v - lo) / extent * 2^res) as long."""
    n = 1 << res
    raw = F.floor((v - F.lit(lo)) / F.lit(extent) * F.lit(n)).cast("long")
    return F.least(F.greatest(raw, F.lit(0).cast("long")),
                   F.lit(n - 1).cast("long"))


def cell_encode_ixiy_col(ix, iy, res: int):
    """JVM bit-twin of cells.encode_ixiy: Morton-interleave two grid
    indices and tag the resolution (cell = (morton << 5) | res)."""
    m = _spread_col(ix).bitwiseOR(F.shiftleft(_spread_col(iy), 1))
    return F.shiftleft(m, 5).bitwiseOR(F.lit(res))


def cell_encode_col(lon, lat, res: int):
    """JVM bit-twin of cells.encode(lon, lat, res) — pure Column
    arithmetic, whole-stage codegen, no Python worker (contrast
    encode_cell_udf; asserted equal in tests/test_round5_ops.py)."""
    return cell_encode_ixiy_col(_grid_index_col(lon, -180.0, 360.0, res),
                                _grid_index_col(lat, -90.0, 180.0, res),
                                res)


def cell_cover_bbox_col(minx, miny, maxx, maxy, res: int):
    """array<long> of every cell at ``res`` whose grid rectangle
    intersects the bbox — the JVM twin of a rectangular cells cover:
    a nested sequence over the ix and iy index ranges, flattened.
    Builds inside the scan stage (zero Python, zero shuffle); cover
    size is (ix span)x(iy span) — pick ``res`` so typical geometries
    span O(1..10) cells, exactly like the UDF covers."""
    ix0 = _grid_index_col(minx, -180.0, 360.0, res)
    ix1 = _grid_index_col(maxx, -180.0, 360.0, res)
    iy0 = _grid_index_col(miny, -90.0, 180.0, res)
    iy1 = _grid_index_col(maxy, -90.0, 180.0, res)
    return F.flatten(F.transform(
        F.sequence(ix0, ix1),
        lambda ix: F.transform(F.sequence(iy0, iy1),
                               lambda iy: cell_encode_ixiy_col(ix, iy, res))))


def pick_res_for_spans(minx: float, miny: float, maxx: float, maxy: float,
                       span: float, target_cells: int = 256,
                       max_res: int = 15) -> int:
    """Resolution for joins of EXTENDED geometries (segments/boxes of
    typical axis span ``span`` degrees): bbox-cover candidate volume is
    ~ n_a*n_b*(1 + span/c)^4 * c^2 / extent^2, minimized at cell size
    c ~ span (cover ~4 cells/feature) — finer cells grow covers
    quadratically, coarser cells grow per-cell occupancy.  Density
    never moves this optimum; only the span does.  The extent-based
    pick_res() still applies as a parallelism FLOOR (enough occupied
    cells for the equi-join), and the result is capped at max_res.
    Output is res-invariant, as for pick_res."""
    import math
    res_floor = pick_res(minx, miny, maxx, maxy, target_cells, max_res)
    if span <= 0:
        return res_floor
    # lat cells are 180/2^res high (the tighter axis): aim c_lat ~ span
    res_span = int(round(math.log2(max(180.0 / span, 1.0))))
    return max(res_floor, min(res_span, max_res))


def pick_res(minx: float, miny: float, maxx: float, maxy: float,
             target_cells: int = 256, max_res: int = 15) -> int:
    """Adaptive grid resolution for the exact-integer joins (VERDICT r5
    #6): the COARSEST res whose grid lays >= ``target_cells`` cells
    over the data extent, so the cell equi-join always has O(100-1k)
    distinct keys regardless of whether the data spans the globe or a
    city block.  A res hardcoded for one extent collapses to a handful
    of join keys on another (res 6 over a +-9 degree extent gave ~30
    occupied cells and near-zero join parallelism — the round-5
    scale-killer).  Any res yields IDENTICAL join output (bbox covers +
    the reference-point rule are res-independent); res only tunes the
    candidate volume / parallelism trade."""
    import math
    w = max(float(maxx) - float(minx), 1e-12)
    h = max(float(maxy) - float(miny), 1e-12)
    for res in range(max_res + 1):
        nx = max(1, math.ceil(w / (360.0 / (1 << res))))
        ny = max(1, math.ceil(h / (180.0 / (1 << res))))
        if nx * ny >= target_cells:
            return res
    return max_res


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _require_integral(df: DataFrame, cols: list, op: str) -> None:
    """The exact-integer joins are only exact over integral columns —
    a float column would silently put IEEE rounding on the decision
    boundary, so refuse it loudly."""
    types = dict(df.dtypes)
    bad = {c: types[c] for c in cols if types.get(c) not in _INTEGRAL_TYPES}
    if bad:
        raise ValueError(
            f"{op} requires integer coordinate columns (exact SAT/CCW "
            f"arithmetic); cast or rescale first: {bad}")


def _diamond_sep_on_axis(dx, dy, ux, uy, aw, ah, bw, bh):
    """True when axis (ux, uy) separates diamonds A and B whose
    centers differ by (dx, dy) — EXACT BIGINT arithmetic: a diamond's
    projection radius on (ux, uy) is max(|w*ux|, |h*uy|) (its vertices
    are center +- (w,0),(0,h))."""
    proj = F.abs(dx * ux + dy * uy)
    ra = F.greatest(F.abs(aw * ux), F.abs(ah * uy))
    rb = F.greatest(F.abs(bw * ux), F.abs(bh * uy))
    return proj > ra + rb


def diamond_sat_intersects(acx, acy, aw, ah, bcx, bcy, bw, bh):
    """Closed-set intersects test for two axis-aligned diamonds
    (L1 balls |x-cx|/w + |y-cy|/h <= 1) with INTEGER center/half-extent
    columns: separating-axis over the four edge normals
    (ah, +-aw), (bh, +-bw) — exact integer compares, so touching
    boundaries count as intersecting and no float ever sits on the
    decision boundary (the DuckDB twin writes the same four
    inequalities)."""
    dx, dy = bcx - acx, bcy - acy
    axes = [(ah, aw), (ah, -aw), (bh, bw), (bh, -bw)]
    hit = F.lit(True)
    for ux, uy in axes:
        hit = hit & ~_diamond_sep_on_axis(dx, dy, ux, uy, aw, ah, bw, bh)
    return hit


def diamond_join(left: DataFrame, right: DataFrame, res: int = 6,
                 scale: float = 1000.0) -> DataFrame:
    """Polygon-polygon INTERSECTS join for diamond geometries —
    left(a_id, acx, acy, aw, ah) x right(b_id, bcx, bcy, bw, bh), all
    coordinates integers in 1/``scale`` degrees.  Returns (a_id, b_id)
    pairs whose closed diamonds intersect (touching counts).

    Scale shape — the grid-partitioned filter-refine join with ZERO
    Python at any stage:
      - both sides explode into their bbox's cell cover INSIDE the
        scan stage (cell_cover_bbox_col — arrays built by codegen);
      - candidates come from the equi-join ON CELL ONLY, never a
        cross join (small side broadcasts when Catalyst sees fit);
      - an integer bbox-overlap prefilter drops far pairs;
      - the REFERENCE-POINT rule (pair reported only in the cell of
        the bbox-overlap's min corner, re-encoded with the same JVM
        Morton path the cover used, so the floor arithmetic is
        bit-identical) dedups by construction — no distinct shuffle;
      - the exact refine is diamond_sat_intersects: four integer
        separating-axis inequalities, whole-stage codegen.
    """
    from .dedup import _ensure_parallelism
    sc = float(scale)
    _require_integral(left, ["acx", "acy", "aw", "ah"], "diamond_join")
    _require_integral(right, ["bcx", "bcy", "bw", "bh"], "diamond_join")
    # floored: the refine predicate ran single-task on one-split scans
    # (round-5: 18+ s wall vs ~1 CPU busy)
    left = _ensure_parallelism(left)
    right = _ensure_parallelism(right)
    la = left.select(
        "a_id", "acx", "acy", "aw", "ah",
        F.explode(cell_cover_bbox_col(
            (F.col("acx") - F.col("aw")) / sc,
            (F.col("acy") - F.col("ah")) / sc,
            (F.col("acx") + F.col("aw")) / sc,
            (F.col("acy") + F.col("ah")) / sc, res)).alias("cell"))
    rb = right.select(
        "b_id", "bcx", "bcy", "bw", "bh",
        F.explode(cell_cover_bbox_col(
            (F.col("bcx") - F.col("bw")) / sc,
            (F.col("bcy") - F.col("bh")) / sc,
            (F.col("bcx") + F.col("bw")) / sc,
            (F.col("bcy") + F.col("bh")) / sc, res)).alias("cell"))
    rx = F.greatest(F.col("acx") - F.col("aw"), F.col("bcx") - F.col("bw"))
    ry = F.greatest(F.col("acy") - F.col("ah"), F.col("bcy") - F.col("bh"))
    return (la.join(rb, "cell")
            .where((F.col("acx") - F.col("aw") <= F.col("bcx") + F.col("bw"))
                   & (F.col("acx") + F.col("aw") >= F.col("bcx") - F.col("bw"))
                   & (F.col("acy") - F.col("ah") <= F.col("bcy") + F.col("bh"))
                   & (F.col("acy") + F.col("ah") >= F.col("bcy") - F.col("bh")))
            .where(cell_encode_col(rx / sc, ry / sc, res) == F.col("cell"))
            .where(diamond_sat_intersects(
                F.col("acx"), F.col("acy"), F.col("aw"), F.col("ah"),
                F.col("bcx"), F.col("bcy"), F.col("bw"), F.col("bh")))
            .select("a_id", "b_id"))


def _cross3(ox, oy, ax, ay, bx, by):
    """Integer cross product (a-o) x (b-o) — the CCW orientation
    primitive; with integer coordinates the sign is EXACT."""
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def segments_intersect_cols(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """Closed-set segment-intersection predicate (CLRS 33.1) over
    INTEGER coordinate columns: proper crossings via opposite CCW
    orientations, collinear/endpoint touches via the zero-cross +
    bbox-on-segment test.  Every comparison is BIGINT-exact, so the
    DuckDB twin writes the same expressions and can never diverge."""
    d1 = _cross3(bx1, by1, bx2, by2, ax1, ay1)
    d2 = _cross3(bx1, by1, bx2, by2, ax2, ay2)
    d3 = _cross3(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = _cross3(ax1, ay1, ax2, ay2, bx2, by2)
    zero = F.lit(0).cast("long")
    proper = (((d1 > zero) & (d2 < zero)) | ((d1 < zero) & (d2 > zero))) \
        & (((d3 > zero) & (d4 < zero)) | ((d3 < zero) & (d4 > zero)))

    def on_seg(px, py, qx, qy, rx, ry):
        # r collinear with pq assumed; is r within pq's bbox?
        return (F.least(px, qx) <= rx) & (rx <= F.greatest(px, qx)) \
            & (F.least(py, qy) <= ry) & (ry <= F.greatest(py, qy))

    touch = ((d1 == zero) & on_seg(bx1, by1, bx2, by2, ax1, ay1)) \
        | ((d2 == zero) & on_seg(bx1, by1, bx2, by2, ax2, ay2)) \
        | ((d3 == zero) & on_seg(ax1, ay1, ax2, ay2, bx1, by1)) \
        | ((d4 == zero) & on_seg(ax1, ay1, ax2, ay2, bx2, by2))
    return proper | touch


def segment_join(left: DataFrame, right: DataFrame, res: int = 6,
                 scale: float = 1000.0) -> DataFrame:
    """Segment-segment INTERSECTION join — left(a_id, ax1, ay1, ax2,
    ay2) x right(b_id, bx1, by1, bx2, by2), integer coordinates in
    1/``scale`` degrees.  Returns (a_id, b_id) for every pair of
    closed segments that cross or touch.

    Same zero-Python grid shape as diamond_join: codegen bbox cell
    cover of each segment -> equi-join on cell -> integer bbox
    prefilter -> reference-point dedup -> exact integer CCW refine
    (segments_intersect_cols)."""
    from .dedup import _ensure_parallelism
    sc = float(scale)
    _require_integral(left, ["ax1", "ay1", "ax2", "ay2"], "segment_join")
    _require_integral(right, ["bx1", "by1", "bx2", "by2"], "segment_join")
    left = _ensure_parallelism(left)
    right = _ensure_parallelism(right)

    # Join key = the RAW GRID INDEX PAIR (ix, iy), not the Morton cell:
    # the cover is two plain sequence-explodes and the reference-point
    # check two clamped floors.  The earlier Morton form inlined the
    # 5-stage bit spread several times per candidate row — a generated
    # method so large it degraded per-candidate cost ~10x at sf1.0
    # volumes.  (ix, iy) <-> cell is a bijection at fixed res, so the
    # candidate set, the dedup rule and the output are IDENTICAL.
    def covered(df, pfx, id_col):
        minx = F.least(F.col(f"{pfx}x1"), F.col(f"{pfx}x2"))
        maxx = F.greatest(F.col(f"{pfx}x1"), F.col(f"{pfx}x2"))
        miny = F.least(F.col(f"{pfx}y1"), F.col(f"{pfx}y2"))
        maxy = F.greatest(F.col(f"{pfx}y1"), F.col(f"{pfx}y2"))
        return (df.select(
            id_col, f"{pfx}x1", f"{pfx}y1", f"{pfx}x2", f"{pfx}y2",
            minx.alias(f"{pfx}_minx"), maxx.alias(f"{pfx}_maxx"),
            miny.alias(f"{pfx}_miny"), maxy.alias(f"{pfx}_maxy"))
            .withColumn("ix", F.explode(F.sequence(
                _grid_index_col(minx / sc, -180.0, 360.0, res),
                _grid_index_col(maxx / sc, -180.0, 360.0, res))))
            .withColumn("iy", F.explode(F.sequence(
                _grid_index_col(miny / sc, -90.0, 180.0, res),
                _grid_index_col(maxy / sc, -90.0, 180.0, res)))))

    la = covered(left, "a", "a_id")
    rb = covered(right, "b", "b_id")
    rx = F.greatest("a_minx", "b_minx")
    ry = F.greatest("a_miny", "b_miny")
    return (la.join(rb, ["ix", "iy"])
            .where((F.col("a_minx") <= F.col("b_maxx"))
                   & (F.col("a_maxx") >= F.col("b_minx"))
                   & (F.col("a_miny") <= F.col("b_maxy"))
                   & (F.col("a_maxy") >= F.col("b_miny")))
            .where((_grid_index_col(rx / sc, -180.0, 360.0, res)
                    == F.col("ix"))
                   & (_grid_index_col(ry / sc, -90.0, 180.0, res)
                      == F.col("iy")))
            .where(segments_intersect_cols(
                F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"),
                F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2")))
            .select("a_id", "b_id"))


def _hull_extreme_points(px, py):
    """Extreme points (strict convex-hull vertices) of a point set —
    Andrew monotone chain with STRICT turns, so collinear boundary
    points and interior points drop; input deduplicated.  Returns the
    (k, 2) int array of extreme points in lexicographic order (a set,
    not a ring — order-free so any engine can compare)."""
    import numpy as np
    pts = np.unique(np.column_stack([np.asarray(px, np.int64),
                                     np.asarray(py, np.int64)]), axis=0)
    n = len(pts)
    if n <= 2:
        return pts

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                # strict left turn keeps; collinear/right drops
                if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) > 0:
                    break
                out.pop()
            out.append((int(p[0]), int(p[1])))
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    ring = lower[:-1] + upper[:-1]
    ring = sorted(set(ring))
    return np.array(ring, dtype=np.int64).reshape(-1, 2)


def convex_hull(points: DataFrame, group_cols: list[str] | None = None,
                x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Distributed convex hull per group — the associative geometric
    aggregate: hull(A ∪ B) = hull(hull(A) ∪ hull(B)), so stage 1
    reduces each partition's points to its partial hull (map-side,
    like a sketch register table) and stage 2 merges the tiny
    partials.
    Returns the EXTREME points (strict vertices; collinear boundary
    and duplicate points drop) as rows (group_cols..., x, y) —
    a set, not a ring, so the result is order-free and an integer
    brute-force oracle (a point is non-extreme iff some triangle of
    other points covers it) can verify it exactly.

    Integer coordinates required (exact CCW tests — same rule as the
    SAT/CCW joins)."""
    import pandas as pd

    group_cols = list(group_cols or [])
    _require_integral(points, [x_col, y_col], "convex_hull")
    key_cols = group_cols + ["_part"]
    staged = points.withColumn("_part", F.spark_partition_id())

    def hull_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        h = _hull_extreme_points(pdf[x_col].to_numpy(),
                                 pdf[y_col].to_numpy())
        out = pdf.iloc[:1][group_cols].reset_index(drop=True)
        out = out.loc[out.index.repeat(len(h))].reset_index(drop=True)
        out[x_col] = h[:, 0]
        out[y_col] = h[:, 1]
        return out

    schema_fields = []
    for f in points.schema.fields:
        if f.name in group_cols:
            schema_fields.append(f"{f.name} {f.dataType.simpleString()}")
    schema = ", ".join(schema_fields + [f"{x_col} long", f"{y_col} long"])
    partial = (staged.groupBy(*key_cols)
               .applyInPandas(lambda pdf: hull_pdf(pdf), schema))
    if group_cols:
        return (partial.groupBy(*group_cols)
                .applyInPandas(lambda pdf: hull_pdf(pdf), schema)
                .select(*group_cols, x_col, y_col))
    return (partial.withColumn("_g", F.lit(1))
            .groupBy("_g")
            .applyInPandas(lambda pdf: hull_pdf(pdf.drop(columns=["_g"])),
                           schema)
            .select(x_col, y_col))
