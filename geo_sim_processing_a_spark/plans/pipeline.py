"""The flagship pipeline (SURVEY.md §3.3):

  SCAN pages → PREP (text extract P9, dedup, geocode P10)
  → TILE (cell encode X6, halo cover X7) → SALT (X11)
  → KERNEL (groupBy(cell,salt).applyInPandas(reduce_bend | dp | vw))
  → CHECKPOINT (output parquet + lineage manifest S7) → RESUME

All geometry math is inside Arrow-batched kernels; everything else is
whole-stage-codegen Spark SQL.  The kernel stage shuffles exactly once
(the salted repartition doubles as the groupBy's required hashing via
the same keys).
"""

from __future__ import annotations

import json
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geom.epsilon import Epsilon
from ..kernels import reduce_bend as RBK
from ..kernels.simplify import simplify_feature
from ..operators import cells as C
from ..operators.dedup import _coalesce_to_waves, _kernel_buckets
from ..operators.tiling import salt_by_cell
from ..sources import manifest as MF
from ..sources.pages import extract_text_series, synthesize_geoms_pdf

# Columnar multi-ring geometry (SURVEY.md §1.2): xs/ys are the
# flat-concatenated ring coordinates, ring_offsets the start index of
# each ring (exterior first) — the Spark twin of the reference's
# polygon-as-ring-list (reduce_bend_algorithm.py:322-335).
GEOM_SCHEMA = ("url string, h long, kind tinyint, xs array<double>, "
               "ys array<double>, ring_offsets array<int>")
KERNEL_OUT_SCHEMA = ("cell long, url string, kind tinyint, "
                     "xs array<double>, ys array<double>, ring_offsets array<int>, "
                     "n_in int, n_out int, n_pass int, n_bend_reduced int, "
                     "n_line_smooth int, n_hole_del int, n_pol_del int, salt int")

# Epsilon for the geo pipeline is fixed from the global lon/lat domain
# (one R1-style agg would give the same value for any full-domain run;
# pinning it keeps every tile's kernel arithmetic identical, which the
# vertex-sequence parity requires).
WORLD_EPS = Epsilon((-180.0, -90.0, 180.0, 90.0))


# ---------------------------------------------------------------------------
# PREP: normalization, text extraction + geometry synthesis
# ---------------------------------------------------------------------------

def normalize_geoms(geoms: DataFrame, validate: bool = True) -> DataFrame:
    """P2 — Z/M normalization (true parity with the reference's ingest,
    reduce_bend_algorithm.py:1110-1122 'Drop Z M processing' and its
    unittest case 32): a geometry frame may carry per-vertex ``zs`` /
    ``ms`` arrays (3-D / measured input); the engine is 2-D by
    construction, so normalization accepts them, checks they are
    parallel to ``xs`` (per-row JVM assert, no UDF), and DROPS them.
    Frames without zs/ms pass through unchanged."""
    out = geoms
    for c in ("zs", "ms"):
        if c in geoms.columns:
            if validate:
                ok = F.col(c).isNull() | (F.size(c) == F.size("xs"))
                msg = F.concat(
                    F.lit(f"normalize_geoms: {c} arity != xs arity for url="),
                    F.col("url"))
                # inside a filter so column pruning cannot eliminate it;
                # assert_true yields NULL on success -> coalesce(True)
                out = out.where(F.coalesce(F.assert_true(ok, msg), F.lit(True)))
            out = out.drop(c)
    return out

def extracted_text_parity(pages: DataFrame) -> DataFrame:
    """P9 — recompute text from html in a pandas UDF and compare to the
    stored column; returns (url, ok). Byte-identity is asserted in
    tests and checked by count in the pipeline."""
    @F.pandas_udf("string")
    def extract_udf(html: pd.Series) -> pd.Series:
        return extract_text_series(html)

    return pages.select("url",
                        (extract_udf("html") == F.col("text")).alias("ok"))


def _url_hashes(pages: DataFrame) -> DataFrame:
    """(url, h): h is computed JVM-side (xxhash64 of the doc id parsed
    from the url) so Catalyst prunes/pushes around it.  Spark cannot
    column-prune INTO mapInPandas: without the select the corpus's
    biggest columns (html, text) would round-trip JVM->Arrow->Python
    just to be dropped."""
    return (pages
            .withColumn("doc_id", F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long"))
            .withColumn("h", F.xxhash64("doc_id"))
            .select("url", "h"))


def pages_to_geoms(pages: DataFrame) -> DataFrame:
    """P10 — geocode pages into multi-ring geometry rows (points,
    footprint polygons for pmod(h,7)==0 — holed when pmod(h,21)==0 —
    and trace polylines for pmod(h,3)==0); the geometry synthesis is
    one batch-vectorized Arrow kernel (sources/pages.py)."""
    def gen(batches):
        for pdf in batches:
            yield synthesize_geoms_pdf(pdf["url"].to_numpy(), pdf["h"].to_numpy())

    return _url_hashes(pages).mapInPandas(gen, GEOM_SCHEMA)


def pages_to_covered_geoms(pages: DataFrame, res: int) -> DataFrame:
    """Fused P10 + X7: geometry synthesis AND halo cell cover in ONE
    Arrow stage.  Chaining two mapInPandas stages inside one task runs
    two Python workers per core (measured 3-10x wall regression at
    local[32] from the oversubscription); fusing keeps exactly one
    Python worker per task and halves the Arrow transport.  The input
    is coalesced to whole waves of cores (dedup._coalesce_to_waves),
    not left at the shuffle-partition count of an upstream dedup."""
    from ..operators.tiling import _cover_batch

    def gen(batches):
        for pdf in batches:
            geoms = synthesize_geoms_pdf(pdf["url"].to_numpy(), pdf["h"].to_numpy())
            yield _cover_batch(geoms, res)

    return _coalesce_to_waves(_url_hashes(pages)).mapInPandas(
        gen, GEOM_SCHEMA + ", cell long, is_owner boolean")


# ---------------------------------------------------------------------------
# KERNEL: per-tile simplification
# ---------------------------------------------------------------------------

from ..geom.primitives import split_rings as _split_rings  # shared decoder


def _flatten_rings(rings: list):
    """list of (n,2) ring arrays -> (xs list, ys list, offsets list)."""
    xs = np.concatenate([r[:, 0] for r in rings])
    ys = np.concatenate([r[:, 1] for r in rings])
    lens = [len(r) for r in rings]
    offs = [0]
    for ln in lens[:-1]:
        offs.append(offs[-1] + ln)
    return xs.tolist(), ys.tolist(), offs


def _reduce_bend_tile(cell, urls, kinds, xs, ys, offsets, owners,
                      diameter_tol: float, smooth: bool, out: dict,
                      epsilon=WORLD_EPS) -> None:
    """One (cell, salt) tile over pre-extracted column slices: run
    Sherbend over owned + halo features (multi-ring polygons included,
    matching the reference's RbPolygon ring list,
    reduce_bend_algorithm.py:322-335), append owned results to ``out``.
    Caller guarantees deterministic (url, kind) order.
    ``epsilon=None`` derives the reference's data-dependent epsilon
    from the tile's own bbox (used by the golden-parity Spark tests);
    the pipeline pins WORLD_EPS so all tiles share one epsilon.
    Output features are matched back by the index carried in
    Feature.attrs."""
    feats = []
    for i in range(len(urls)):
        x = np.asarray(xs[i])
        y = np.asarray(ys[i])
        rings = _split_rings(x, y, offsets[i])
        feats.append(RBK.Feature(int(kinds[i]), rings, attrs=i))
    res = RBK.reduce_bends(feats, diameter_tol, smooth_line=smooth, epsilon=epsilon)
    n_reduced = int(sum(res.nbr_bend_reduced))
    for fout in res.features:
        i = fout.attrs
        if not owners[i]:
            continue
        fxs, fys, foffs = _flatten_rings(fout.rings)
        out["cell"].append(cell)
        out["url"].append(urls[i])
        out["kind"].append(int(kinds[i]))
        out["xs"].append(fxs)
        out["ys"].append(fys)
        out["ring_offsets"].append(foffs)
        out["n_in"].append(int(len(xs[i])))
        out["n_out"].append(int(len(fxs)))
        out["n_pass"].append(res.nbr_pass)
        out["n_bend_reduced"].append(n_reduced)
        out["n_line_smooth"].append(int(res.nbr_line_smooth))
        out["n_hole_del"].append(int(res.nbr_hole_del))
        out["n_pol_del"].append(int(res.nbr_pol_del))


def _dp_tile(cell, urls, kinds, xs, ys, offsets, owners,
             tolerance: float, method: str, out: dict) -> None:
    """Independent-feature simplification over one tile's slices:
    the full reference Simplifier semantics (simplify_algorithm.py) —
    lines AND polygon rings simplified per-ring with the
    topology-preserving variants, then the invalid-polygon repair pass
    (escaped interior rings dropped, counted in n_hole_del)."""
    for i in range(len(urls)):
        if not owners[i]:
            continue
        x = np.asarray(xs[i])
        y = np.asarray(ys[i])
        rings = _split_rings(x, y, offsets[i])
        simp, holes_del = simplify_feature(rings, int(kinds[i]), tolerance,
                                           method=method)
        fxs, fys, foffs = _flatten_rings(simp)
        out["cell"].append(cell)
        out["url"].append(urls[i])
        out["kind"].append(int(kinds[i]))
        out["xs"].append(fxs)
        out["ys"].append(fys)
        out["ring_offsets"].append(foffs)
        out["n_in"].append(int(len(x)))
        out["n_out"].append(int(len(fxs)))
        out["n_hole_del"].append(int(holes_del))


_OUT_COLS = ("cell", "url", "kind", "xs", "ys", "ring_offsets", "n_in",
             "n_out", "n_pass", "n_bend_reduced", "n_line_smooth",
             "n_hole_del", "n_pol_del", "salt")


def _kernel_out_pdf(out: dict) -> pd.DataFrame:
    """Typed empty-safe kernel output (Arrow needs object dtype for the
    array columns even when a (cell,salt) group owns nothing)."""
    n = len(out["cell"])
    zeros = [0] * n
    return pd.DataFrame({
        "cell": pd.Series(out["cell"], dtype="int64"),
        "url": pd.Series(out["url"], dtype="object"),
        "kind": pd.Series(out["kind"], dtype="int8"),
        "xs": pd.Series(out["xs"], dtype="object"),
        "ys": pd.Series(out["ys"], dtype="object"),
        "ring_offsets": pd.Series(out["ring_offsets"], dtype="object"),
        "n_in": pd.Series(out["n_in"], dtype="int32"),
        "n_out": pd.Series(out["n_out"], dtype="int32"),
        "n_pass": pd.Series(out.get("n_pass") or zeros, dtype="int32"),
        "n_bend_reduced": pd.Series(out.get("n_bend_reduced") or zeros, dtype="int32"),
        "n_line_smooth": pd.Series(out.get("n_line_smooth") or zeros, dtype="int32"),
        "n_hole_del": pd.Series(out.get("n_hole_del") or zeros, dtype="int32"),
        "n_pol_del": pd.Series(out.get("n_pol_del") or zeros, dtype="int32"),
        "salt": pd.Series(out.get("salt") or zeros, dtype="int32"),
    })


def _run_bucket(pdf: pd.DataFrame, tile_fn) -> pd.DataFrame:
    """Run ``tile_fn`` over each (cell, salt) tile of one bucket.
    Pandas work happens ONCE per bucket (sort + column extraction);
    tiles are numpy slices — per-tile overhead measured ~6 ms when
    done with per-tile DataFrames, ~0.1 ms this way."""
    out = {c: [] for c in _OUT_COLS}
    if len(pdf) == 0:
        return _kernel_out_pdf(out)
    has_salt = "salt" in pdf.columns
    sort_cols = ["cell", "salt", "url", "kind"] if has_salt else ["cell", "url", "kind"]
    pdf = pdf.sort_values(sort_cols, kind="mergesort")
    cells = pdf["cell"].to_numpy()
    salts = pdf["salt"].to_numpy() if has_salt else np.zeros(len(pdf), dtype=np.int64)
    urls = pdf["url"].to_numpy()
    kinds = pdf["kind"].to_numpy()
    xs = pdf["xs"].to_numpy()
    ys = pdf["ys"].to_numpy()
    if "ring_offsets" in pdf.columns:
        offsets = pdf["ring_offsets"].to_numpy()
    else:  # single-ring callers (golden tests, ad-hoc frames)
        offsets = np.full(len(pdf), None, dtype=object)
        offsets[:] = [[0]] * len(pdf)
    owners = pdf["is_owner"].to_numpy()
    # tile boundaries on the sorted (cell, salt) pairs
    change = np.flatnonzero((cells[1:] != cells[:-1]) | (salts[1:] != salts[:-1])) + 1
    bounds = np.concatenate([[0], change, [len(pdf)]])
    for b in range(len(bounds) - 1):
        lo, hi = bounds[b], bounds[b + 1]
        before = len(out["cell"])
        tile_fn(int(cells[lo]), urls[lo:hi], kinds[lo:hi],
                xs[lo:hi], ys[lo:hi], offsets[lo:hi], owners[lo:hi], out)
        # tag each emitted row with its (cell, salt) subgroup so the
        # manifest can aggregate per-subgroup counters exactly
        out["salt"].extend([int(salts[lo])] * (len(out["cell"]) - before))
    return _kernel_out_pdf(out)


def _reduce_bend_kernel(pdf: pd.DataFrame, diameter_tol: float, smooth: bool,
                        epsilon=WORLD_EPS) -> pd.DataFrame:
    return _run_bucket(pdf, lambda c, u, k, x, y, r, o, out:
                       _reduce_bend_tile(c, u, k, x, y, r, o, diameter_tol, smooth, out,
                                         epsilon=epsilon))


def _dp_kernel(pdf: pd.DataFrame, tolerance: float, method: str) -> pd.DataFrame:
    return _run_bucket(pdf, lambda c, u, k, x, y, r, o, out:
                       _dp_tile(c, u, k, x, y, r, o, tolerance, method, out))


def simplify_tiles(geoms_with_cells: DataFrame, diameter_tol: float = 0.004,
                   kernel: str = "sherbend", smooth: bool = False,
                   epsilon=WORLD_EPS) -> DataFrame:
    """Per-tile kernels over halo-complete tiles.

    Tiles are BUCKETED: one (cell, salt)-hashed partition holds many
    tiles and the kernel iterates them as numpy slices — per-batch
    Arrow/pandas overhead is paid per bucket, not per tile.  The bucket
    count is dedup._kernel_buckets: one to four waves of cores (not of
    shuffle partitions), one bucket per ~4 MB of input.  Tile semantics
    are unchanged: each (cell, salt) subgroup is processed
    independently, owners only are emitted.

    Sherbend reads every row of a tile as context (halo copies and the
    hot-cell replicas of salt_by_cell); dp/vw simplify each owned
    feature alone, so their non-owner rows are dropped before the
    shuffle — after the bucket count is sized from the input."""
    has_salt = "salt" in geoms_with_cells.columns
    n_buckets = _kernel_buckets(geoms_with_cells)
    if kernel == "sherbend":
        def bucket_fn(pdf):
            return _reduce_bend_kernel(pdf, diameter_tol, smooth, epsilon=epsilon)
    else:
        def bucket_fn(pdf):
            return _dp_kernel(pdf, diameter_tol, kernel)
        geoms_with_cells = geoms_with_cells.where(F.col("is_owner"))

    # ONE shuffle: hash-partition by (cell, salt) — every tile lands
    # wholly in one partition — then run the kernel with mapInPandas,
    # CARVING tiles incrementally.  (groupBy().applyInPandas would add
    # a second shuffle after the salting repartition.)
    #
    # The partition-local sort makes each tile's rows CONTIGUOUS, so
    # the Python worker holds at most (current tile + one Arrow batch)
    # in memory — salting bounds a TILE (~2x target_rows_per_task), but
    # nothing bounds a PARTITION (~total/n_buckets rows: gathering it whole,
    # as this stage originally did, OOMs the worker once rows-per-
    # partition outgrow memory at scale).  Tungsten sort spills to disk;
    # per-tile outputs are unchanged (the kernel re-sorts each bucket
    # internally with a stable mergesort).
    key_names = ["cell", "salt"] if has_salt else ["cell"]
    keys = [F.col(k) for k in key_names]
    parted = (geoms_with_cells.repartition(n_buckets, *keys)
              .sortWithinPartitions(*keys))

    def run(batches):
        import numpy as _np
        pending = None  # open tail: the final (possibly incomplete) tile
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            kc = pdf[key_names].to_numpy()
            tail = (kc == kc[-1]).all(axis=1)
            not_tail = _np.nonzero(~tail)[0]
            # sorted input => rows of the last key form the contiguous
            # suffix; everything before it is complete tiles
            cut = int(not_tail[-1]) + 1 if len(not_tail) else 0
            if cut > 0:
                yield bucket_fn(pdf.iloc[:cut].reset_index(drop=True))
                pending = pdf.iloc[cut:].reset_index(drop=True)
            else:
                pending = pdf
        if pending is not None and len(pending):
            yield bucket_fn(pending)

    return parted.mapInPandas(run, KERNEL_OUT_SCHEMA)


# ---------------------------------------------------------------------------
# full pipeline with checkpoint/resume
# ---------------------------------------------------------------------------

def derive_epsilon(covered: DataFrame) -> Epsilon:
    """R1 — the reference's data-dependent epsilon from the global
    bbox of ALL input features (reduce_bend_algorithm.py:1045-1088):
    one whole-stage-codegen min/max aggregate over the coordinate
    arrays, collapsed to a driver scalar and passed into the kernels
    as a literal."""
    row = covered.agg(
        F.min(F.array_min("xs")).alias("xmin"),
        F.min(F.array_min("ys")).alias("ymin"),
        F.max(F.array_max("xs")).alias("xmax"),
        F.max(F.array_max("ys")).alias("ymax")).collect()[0]
    if row["xmin"] is None:
        return Epsilon(None)
    return Epsilon((row["xmin"], row["ymin"], row["xmax"], row["ymax"]))


def run_pipeline(spark: SparkSession, pages: DataFrame, out_dir: str,
                 res: int = 6, diameter_tol: float = 0.004,
                 kernel: str = "sherbend", smooth: bool = False,
                 target_rows_per_task: int = 20_000,
                 stage: str = "simplify", epsilon=WORLD_EPS) -> dict:
    """End-to-end run; resumable via the manifest in out_dir, which is
    the run's one record (sources/manifest.py): it decides which tiles
    still run, holds the run-parameter fingerprint a resume must match
    (ValueError otherwise — use a new out_dir or stage), and the
    returned counters are read from it: ``tiles`` manifest rows of the
    stage, ``geoms`` their n_features, ``v_in``/``v_out`` their vertex
    counters, over every attempt so far.  ``epsilon=None`` derives the
    reference's data-dependent epsilon from the global bbox of the
    actual inputs (one agg pass, R1); the default pins WORLD_EPS because
    the synthetic geocoder's domain IS the full lon/lat plane."""
    params = {"res": res, "diameter_tol": diameter_tol, "kernel": kernel,
              "smooth": smooth}
    completed, attempt, recorded = _recorded_run(spark, out_dir, stage)
    # fail FAST on a non-epsilon mismatch — before the expensive covered
    # materialization (the epsilon is only known after resolution below)
    _check_params(recorded, params, out_dir, stage)
    deduped = pages.dropDuplicates(["url"])
    # persisted: reused by the salting count pass and the kernel stage
    # (S4 — the reference's in-memory temp layers, SURVEY.md §2.1)
    covered = pages_to_covered_geoms(deduped, res).persist()
    try:
        covered.count()  # materialize once; multiple AQE stages consume it
        if epsilon is None:
            epsilon = derive_epsilon(covered)
        # the fingerprint carries the RESOLVED epsilon, so an epsilon=None
        # run and a resume with an explicit equal epsilon match (ADVICE r3)
        params["epsilon"] = [epsilon.zero_relative, epsilon.zero_absolute]
        _check_params(recorded, params, out_dir, stage)
        return _run_pipeline_body(spark, covered, out_dir, stage, params, epsilon,
                                  target_rows_per_task, completed, attempt)
    finally:
        # release even on failure: a foreachBatch loop calling
        # run_pipeline per micro-batch would otherwise pin one cached
        # frame per (failed) batch for the session's lifetime
        covered.unpersist()


def _recorded_run(spark, out_dir, stage) -> tuple:
    """(completed tiles or None, next attempt, recorded fingerprint or
    None) of ``stage`` in one collect over its manifest rows.  A stage
    whose rows hold more than one fingerprint RAISES: its tiles were
    computed under different parameters and cannot be resumed."""
    completed = MF.read_completed(spark, out_dir, stage)
    if completed is None:
        return None, 0, None
    last, fps = completed.agg(F.max("attempt"), F.collect_set("params")).collect()[0]
    if last is None:  # manifest exists but not for this stage
        return None, 0, None
    if len(fps) > 1:
        raise ValueError(
            f"run_pipeline: out_dir {out_dir!r} stage {stage!r} holds "
            f"{len(fps)} run-parameter fingerprints {sorted(fps)} — its "
            f"tiles mix runs; use a new out_dir or stage")
    return completed, last + 1, json.loads(fps[0]) if fps else None


def _check_params(recorded, params: dict, out_dir, stage) -> None:
    """Resume safety: a stage's manifest prunes on (stage, cell) only,
    so resuming with DIFFERENT parameters (kernel, tolerance, res, ...)
    would silently keep tiles computed under the old ones — or compare
    incommensurable cell ids across resolutions.  Checks the keys of
    ``params`` against the stage's recorded fingerprint."""
    if recorded is None:
        return
    mismatched = {k: (recorded.get(k), v) for k, v in params.items()
                  if recorded.get(k) != v}
    if mismatched:
        raise ValueError(
            f"run_pipeline: out_dir {out_dir!r} stage {stage!r} was written "
            f"with different parameters {mismatched} (recorded, requested) "
            f"— use a new out_dir or stage")


def _run_pipeline_body(spark, covered, out_dir, stage, params, epsilon,
                       target_rows_per_task, completed=None, attempt=0) -> dict:
    kernel = params["kernel"]
    todo = MF.prune_completed(covered, completed, tile_col="cell")
    salted = salt_by_cell(todo, key_col="url", cell_col="cell",
                          target_rows_per_task=target_rows_per_task)
    result = simplify_tiles(salted, params["diameter_tol"], kernel, params["smooth"],
                            epsilon=epsilon)
    # idempotent per-attempt output dir: a re-run of the same attempt
    # overwrites rather than duplicating (S7 "latest complete attempt")
    # within-partition sort by cell: parquet row groups become
    # cell-clustered so downstream per-tile reads touch fewer pages
    # (no extra shuffle — sort is partition-local)
    (result.sortWithinPartitions("cell")
     .write.mode("overwrite").parquet(f"{out_dir}/data/stage={stage}/attempt={attempt}"))

    # per-tile counters for THIS attempt -> manifest, written as a
    # DataFrame (distributed groupBy + write; the per-tile rows never
    # round-trip through the driver — at res 12 there can be 16.7M
    # tiles and a driver-side collect would be the bottleneck)
    new_data = spark.read.parquet(f"{out_dir}/data/stage={stage}/attempt={attempt}")
    # Sherbend counters are per-(cell, salt) SUBGROUP totals replicated
    # onto each of the subgroup's rows: take one value per subgroup,
    # then SUM the additive ones across salts (a plain per-cell max
    # under-reported hot salted cells by all but the largest subgroup).
    # dp/vw count escaped holes per feature: sum them.
    hole = F.first if kernel == "sherbend" else F.sum
    per_salt = (new_data.groupBy("cell", "salt")
                .agg(F.count("*").alias("nf"),
                     F.first("n_bend_reduced").alias("s_bend"),
                     hole("n_hole_del").alias("s_hole"),
                     F.first("n_line_smooth").alias("s_smooth"),
                     F.first("n_pass").alias("s_pass"),
                     F.first("n_pol_del").alias("s_pol"),
                     F.sum("n_in").alias("s_in"),
                     F.sum("n_out").alias("s_out")))
    counters = F.to_json(F.struct(
        F.sum("s_bend").alias("n_bend_reduced"),
        F.sum("s_hole").alias("n_hole_del"),
        F.sum("s_smooth").alias("n_line_smooth"),
        F.max("s_pass").alias("n_pass"),
        F.sum("s_pol").alias("n_pol_del"),
        F.sum("s_in").alias("v_in"),
        F.sum("s_out").alias("v_out")))
    mdf = (per_salt.groupBy("cell")
           .agg(F.sum("nf").alias("n_features"), counters.alias("counters"))
           .select(F.lit(stage).alias("stage"),
                   F.col("cell").alias("tile"),
                   F.lit(attempt).cast("int").alias("attempt"),
                   F.col("n_features").cast("long"),
                   "counters",
                   F.lit(json.dumps(params, sort_keys=True)).alias("params"),
                   F.lit(float(time.time())).alias("ts")))
    MF.append_manifest(mdf, out_dir)

    # stats for THIS stage only (out_dir may host several stages), from
    # its manifest rows: one per tile, across every attempt
    rows = spark.read.parquet(MF.manifest_path(out_dir)).where(F.col("stage") == stage)
    vertices = [F.sum(F.get_json_object("counters", f"$.{k}").cast("long"))
                for k in ("v_in", "v_out")]
    tiles, geoms, v_in, v_out = rows.agg(F.count("*"), F.sum("n_features"),
                                         *vertices).collect()[0]
    return {"geoms": int(geoms or 0), "tiles": tiles,
            "v_in": int(v_in or 0), "v_out": int(v_out or 0)}
