"""The workloads: inputs, the timed job, its output checks and the
traced composition that yields the per-layer numbers.

A workload object is used in this order: ``make_inputs`` (once, in
set-up), ``warm_up`` (the reference run, excluded from the
samples), then ``job`` + ``check`` per sample, or, in a traced run,
``make_trace_inputs`` and ``traced`` once after one untimed sample.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

import inputs as I
from tracing import Tracer, span_spark

from geo_sim_processing_a_spark.geom.primitives import split_rings
from geo_sim_processing_a_spark.kernels import reduce_bend as RBK
from geo_sim_processing_a_spark.kernels.simplify import simplify_feature
from geo_sim_processing_a_spark.operators import cells as C
from geo_sim_processing_a_spark.operators import dedup as D
from geo_sim_processing_a_spark.operators import tiling as TL
from geo_sim_processing_a_spark.operators.curation import curate_corpus_fuzzy
from geo_sim_processing_a_spark.operators.spark_joins import knn_join, pip_join
from geo_sim_processing_a_spark.plans import pipeline as PL
from geo_sim_processing_a_spark.sources import manifest as MF

DIAMETER_TOL = 0.004   # run_pipeline's default tolerance
KERNEL_SAMPLE_TILES = 24


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# tiles_*: run_pipeline over seeded pages
# ---------------------------------------------------------------------------

def run_kernel_tiles(pdf: pd.DataFrame, kernel: str) -> tuple:
    """Run the kernels in this process over the (cell, salt) tiles in
    ``pdf`` the way the tile stage does (rows sorted by url, kind within
    a tile; owners emitted).  Returns ({(cell, url, kind): rings}, cpu
    seconds, vertices in, vertices out, bends reduced)."""
    out, v_in, v_out, bends, cpu = {}, 0, 0, 0, 0.0
    pdf = pdf.sort_values(["cell", "salt", "url", "kind"], kind="mergesort")
    for (cell, _), tile in pdf.groupby(["cell", "salt"], sort=False):
        rings = [split_rings(x, y, o) for x, y, o in
                 zip(tile["xs"], tile["ys"], tile["ring_offsets"])]
        kinds = tile["kind"].to_numpy()
        owners = tile["is_owner"].to_numpy()
        urls = tile["url"].to_numpy()
        c0 = time.process_time()
        if kernel == "sherbend":
            feats = [RBK.Feature(int(k), r, attrs=i)
                     for i, (k, r) in enumerate(zip(kinds, rings))]
            res = RBK.reduce_bends(feats, DIAMETER_TOL, epsilon=PL.WORLD_EPS)
            got = [(f.attrs, f.rings) for f in res.features]
            bends += int(sum(res.nbr_bend_reduced))
            v_in += int(sum(len(x) for x in tile["xs"]))
        else:
            got = [(i, simplify_feature(rings[i], int(kinds[i]), DIAMETER_TOL,
                                        method=kernel)[0])
                   for i in np.flatnonzero(owners)]
            v_in += int(sum(len(tile["xs"].iloc[i]) for i in np.flatnonzero(owners)))
        cpu += time.process_time() - c0
        for i, rs in got:
            if owners[i]:
                out[(int(cell), urls[i], int(kinds[i]))] = rs
                v_out += sum(len(r) for r in rs)
    return out, cpu, v_in, v_out, bends


def compare_tiles(expected: dict, spark_rows: pd.DataFrame) -> list:
    """Bit-for-bit comparison of in-process kernel output against the
    rows Spark wrote for the same tiles."""
    fails = []
    got = {(int(r.cell), r.url, int(r.kind)): split_rings(r.xs, r.ys, r.ring_offsets)
           for r in spark_rows.itertuples()}
    if set(got) != set(expected):
        fails.append(f"kernel sample: {len(got)} Spark rows vs {len(expected)} in-process")
    for key, rings in expected.items():
        other = got.get(key)
        if other is None or len(other) != len(rings) or not all(
                a.shape == b.shape and np.array_equal(a, b) for a, b in zip(rings, other)):
            fails.append(f"kernel sample: tile output differs for {key}")
            break
    return fails


class Tiles:
    """run_pipeline at res 6 into a fresh out dir; the traced run also
    resumes it over the complete dir."""

    def __init__(self, name, kernel, n_pages, target_rows, hot_share=0.0,
                 hot_cells=0, traced_extras=()):
        self.name, self.kernel, self.n_pages = name, kernel, n_pages
        self.target_rows, self.hot_share, self.hot_cells = target_rows, hot_share, hot_cells
        # layers no timed workload runs, measured after this traced job
        self.traced_extras = traced_extras

    def make_trace_inputs(self, spark, seed, path, cores):
        for x in self.traced_extras:
            x.make_inputs(spark, seed, os.path.join(path, x.name), cores)

    # -- inputs ------------------------------------------------------------
    def make_inputs(self, spark, seed, path, cores):
        if self.hot_share:
            ids = I.hotspot_ids(seed, self.n_pages, self.hot_share, self.hot_cells)
        else:
            ids = I.uniform_ids(seed, self.n_pages)
        I.write_pages(spark, ids, os.path.join(path, "pages"), cores)
        self.pages_path = os.path.join(path, "pages")
        self.expected_geoms = I.expected_geoms(ids)

    def _run(self, spark, out, target_rows):
        pages = spark.read.parquet(self.pages_path)
        return PL.run_pipeline(spark, pages, out, res=I.RES, diameter_tol=DIAMETER_TOL,
                               kernel=self.kernel, target_rows_per_task=target_rows)

    def _stage(self, spark, out):
        return (spark.read.option("basePath", f"{out}/data")
                .parquet(f"{out}/data/stage=simplify"))

    def _digest(self, spark, out):
        """(rows, distinct (url, kind), order-independent digest)."""
        row = (self._stage(spark, out)
               .select("url", "kind", F.xxhash64("url", "kind", "cell", "xs", "ys",
                                                 "ring_offsets", "n_in", "n_out",
                                                 "n_hole_del").alias("h"))
               .agg(F.count("*"), F.countDistinct("url", "kind"),
                    F.xxhash64(F.sort_array(F.collect_list("h"))))
               .collect()[0])
        return int(row[0]), int(row[1]), int(row[2] or 0)

    # -- timed job -----------------------------------------------------------
    def warm_up(self, spark, out):
        """Unsalted reference run: its digest is what every salted
        sample must reproduce."""
        self._run(spark, out, target_rows=1 << 40)
        self.ref = self._digest(spark, out)

    def job(self, spark, out):
        r = self._run(spark, out, self.target_rows)
        return {"items": int(r["tiles"]) + int(r["geoms"])}

    def check(self, spark, out, first):
        fails = []
        n, n_keys, d = self._digest(spark, out)
        if n != self.expected_geoms or n_keys != n:
            fails.append(f"{n} rows, {n_keys} distinct geometries, "
                         f"{self.expected_geoms} expected once each")
        if d != self.ref[2]:
            fails.append("salted output digest differs from the unsalted reference")
        if first:
            fails += self._kernel_sample(spark, out)[0]
        return fails

    def _pruned_share(self, spark, out):
        tiles = self._stage(spark, out).select("cell").distinct().count()
        redone = self._stage(spark, out).where(F.col("attempt") > 0) \
            .select("cell").distinct().count()
        return (tiles - redone) / tiles

    def _sample_cells(self, spark, out):
        cells = sorted(r[0] for r in self._stage(spark, out)
                       .select("cell").distinct().collect())
        step = max(1, len(cells) // KERNEL_SAMPLE_TILES)
        return cells[::step][:KERNEL_SAMPLE_TILES]

    def _kernel_sample(self, spark, out, salted=None):
        """Re-run sampled tiles in process and compare with the output.
        ``salted`` (traced run) supplies the kernel-stage input; else it
        is recomputed unsalted, which yields the same owned outputs."""
        cells = self._sample_cells(spark, out)
        if salted is None:
            pages = spark.read.parquet(self.pages_path).dropDuplicates(["url"])
            salted = PL.pages_to_covered_geoms(pages, I.RES).withColumn("salt", F.lit(0))
        pdf = salted.where(F.col("cell").isin(cells)).toPandas()
        expected, cpu, v_in, v_out, bends = run_kernel_tiles(pdf, self.kernel)
        rows = (self._stage(spark, out).where(F.col("cell").isin(cells))
                .select("cell", "url", "kind", "xs", "ys", "ring_offsets").toPandas())
        return compare_tiles(expected, rows), cpu, v_in

    # -- traced --------------------------------------------------------------
    def traced(self, spark, tr: Tracer, out):
        with tr.span("sources"):
            pages = tr.materialize(spark.read.parquet(self.pages_path))
        undo = [tr.wrap(PL, "pages_to_covered_geoms", "prep"),
                tr.wrap(PL, "salt_by_cell", "salt"),
                tr.wrap(PL, "simplify_tiles", "kernel_stage"),
                tr.wrap(MF, "read_completed", "manifest.read"),
                tr.wrap(MF, "append_manifest", "manifest.append", materialize=False),
                tr.wrap(DataFrameWriter, "parquet", "sink", materialize=False)]
        try:
            kw = dict(res=I.RES, diameter_tol=DIAMETER_TOL, kernel=self.kernel,
                      target_rows_per_task=self.target_rows)
            with tr.span("fresh"):
                r = PL.run_pipeline(spark, pages, out, **kw)
            with tr.span("resume"):
                PL.run_pipeline(spark, pages, out, **kw)
        finally:
            for u in undo:
                u()
        m = tr.job_metrics(["sources", "fresh"])

        covered, salted, result = (tr.calls["prep"][0], tr.calls["salt"][0],
                                   tr.calls["kernel_stage"][0])
        n_cov = covered.count()
        per_tile = salted.groupBy("cell", "salt").count()
        salt_cells = salted.groupBy("cell").agg(F.countDistinct("salt").alias("n"))
        n_salted = salted.count()
        n_out = result.count()
        run_rows = salted if self.kernel == "sherbend" else salted.where("is_owner")
        v_in = run_rows.agg(F.sum(F.size("xs"))).collect()[0][0] or 0
        outs = result.groupBy("cell", "salt").agg(
            F.sum("n_out").alias("v"), F.first("n_bend_reduced").alias("b")) \
            .agg(F.sum("v"), F.sum("b")).collect()[0]
        fails, k_cpu, k_vin = self._kernel_sample(spark, out, salted=salted)
        us_per_vertex = 1e6 * k_cpu / max(k_vin, 1)
        kernel_cpu = us_per_vertex * v_in / 1e6
        m.update({
            "sources.scan_s": tr.busy("sources"),
            "sources.rows_in": pages.count(),
            "prep.busy_s": tr.busy("fresh/prep"),
            "prep.cpu_s": tr.cpu("fresh/prep"),
            "prep.geoms": covered.where("is_owner").count(),
            "prep.covered_rows": n_cov,
            "salt.busy_s": tr.busy("fresh/salt"),
            "salt.rows_out": n_salted,
            "salt.replication": n_salted / n_cov,
            "salt.hot_cells": salt_cells.where("n > 1").count(),
            "salt.max_tile_rows": per_tile.agg(F.max("count")).collect()[0][0],
            "kernel_stage.busy_s": tr.busy("fresh/kernel_stage"),
            "kernel_stage.cpu_s": tr.cpu("fresh/kernel_stage"),
            "kernel_stage.rows_in": n_salted,
            "kernel_stage.geoms_out": n_out,
            "kernel_stage.useful_share": n_out / n_salted,
            "kernel.cpu_s": kernel_cpu,
            "kernel.us_per_vertex": us_per_vertex,
            "kernel.v_in": v_in,
            "kernel.v_out": outs[0] or 0,
            "kernel.bends_reduced": outs[1] or 0,
            "sink.write_s": tr.busy("fresh/sink"),
            "sink.bytes": _dir_bytes(f"{out}/data"),
            "manifest.append_s": tr.busy("fresh/manifest.append"),
            "manifest.read_s": tr.busy("resume/manifest.read"),
            "resume.s": tr.busy("resume"),
            "resume.pruned_share": self._pruned_share(spark, out),
        })
        m["kernel_stage.overhead_ratio"] = m["kernel_stage.cpu_s"] / kernel_cpu if kernel_cpu else 0.0
        n, n_keys, d = self._digest(spark, out)
        if d != self.ref[2] or n != self.expected_geoms or n_keys != n:
            fails.append("resumed output differs from the unsalted reference")
        if m["resume.pruned_share"] != 1.0:
            fails.append("resume re-ran tiles")
        for x in self.traced_extras:
            xm, xf = x.traced(spark, tr, os.path.join(out, x.name))
            m.update(xm)
            fails += [f"{x.name}: {f}" for f in xf]
        return m, fails

    def spark_layers(self, stages):
        k = span_spark(stages, "fresh/kernel_stage")
        out = {"kernel_stage.tasks": k["stage_tasks"], "kernel_stage.task_skew": k["task_skew"],
               "kernel_stage.shuffle_bytes": k["shuffle_bytes"],
               "kernel_stage.spill_bytes": k["spill_bytes"]}
        for x in self.traced_extras:
            out.update(x.spark_layers(stages))
        return out


# ---------------------------------------------------------------------------
# Layers no timed workload runs: measured once, in a traced run
# ---------------------------------------------------------------------------

class Curate:
    """curate_corpus_fuzzy over docs with planted exact/near duplicates."""
    name = "curate_fuzzy_dups"
    threshold = 0.5  # curate_corpus_fuzzy's default

    def __init__(self, n_docs):
        self.n_docs = n_docs

    def make_inputs(self, spark, seed, path, cores):
        self.plan = I.docs_plan(seed, self.n_docs)
        self.docs_path = os.path.join(path, "docs")
        I.write_docs(spark, self.plan, self.docs_path, cores)

    def check(self, spark, out):
        fails = []
        row = spark.read.parquet(out).agg(
            F.count("*").alias("n"),
            F.countDistinct(F.md5("text")).alias("texts"),
            F.sum((F.col("doc_id") >= int(self.plan.copy_ids[0])).cast("int"))
            .alias("planted")).collect()[0]
        if row["n"] != row["texts"]:
            fails.append(f"{row['n'] - row['texts']} exact duplicates survived")
        if row["planted"]:
            fails.append(f"{row['planted']} planted copies survived")
        return fails

    def traced(self, spark, tr: Tracer, out):
        docs = tr.materialize(spark.read.parquet(self.docs_path))
        undo = [tr.wrap(D, "near_dup_clusters", "dedup"),
                tr.record(D, "_is_big", "is_big")]
        try:
            with tr.span("curation"):
                curate_corpus_fuzzy(docs).write.mode("overwrite") \
                    .partitionBy("split").parquet(out)
        finally:
            for u in undo:
                u()
        clusters = tr.calls["dedup"][0]
        reps = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        cand = D.minhash_lsh_pairs(reps, threshold=0.0, hot_key_cap=1000).persist()
        n_cand = cand.count()
        n_true = cand.where(F.col("jaccard") >= self.threshold).count()
        cand.unpersist()
        cid = dict(clusters.select("doc_id", "cluster_id").toPandas()
                   .itertuples(index=False, name=None))
        found = sum(cid.get(int(c)) == cid.get(int(s))
                    for c, s in zip(self.plan.copy_ids, self.plan.src_ids))
        m = {
            "dedup.busy_s": tr.busy("curation/dedup"),
            "dedup.cpu_s": tr.cpu("curation/dedup"),
            "dedup.candidate_pairs": n_cand,
            "dedup.precision": n_true / n_cand if n_cand else 0.0,
            "dedup.recall_planted": found / len(self.plan.copy_ids),
            "curation.busy_s": tr.self_time("curation"),
            "curation.docs_kept": spark.read.parquet(out).count(),
            # the first size probe of the call is the quality stage's cut
            "curation.checkpointed": float(bool((tr.calls.get("is_big") or [False])[0])),
        }
        return m, self.check(spark, out)

    @staticmethod
    def spark_layers(stages):
        return {"dedup.shuffle_bytes": span_spark(stages, "curation/dedup")["shuffle_bytes"]}


def _even_odd(px, py, xs, ys, offs):
    """Brute-force even-odd containment of points in one polygon."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in split_rings(xs, ys, offs):
        for (a, b), (c, d) in zip(ring[:-1], ring[1:]):
            if b != d:  # a horizontal edge crosses no horizontal ray
                inside ^= ((b > py) != (d > py)) & (px < (c - a) * (py - b) / (d - b) + a)
    return inside


class Joins:
    """pip_join, knn_join and raster_tile_assign over page geometry."""
    name = "geo_joins"
    k = 5
    pip_res = 8     # pip_join's default
    raster_res = 6
    n_check = 64

    def __init__(self, n_pages):
        self.n_pages = n_pages

    def make_inputs(self, spark, seed, path, cores):
        ids = I.uniform_ids(seed, self.n_pages)
        self.points_path = os.path.join(path, "points")
        self.polys_path = os.path.join(path, "polys")
        I.write_join_tables(spark, ids, self.points_path, self.polys_path, cores)
        # knn resolution from the point density: the finest res whose
        # cell keeps a 5x margin over the expected k-th neighbor distance
        r_k = math.sqrt(self.k * 360.0 * 170.0 / (math.pi * self.n_pages))
        self.knn_res = max(1, min(12, int(math.log2(180.0 / (5 * r_k)))))

    def check(self, spark, out, pts, polys):
        """Brute force over a sample of points and kNN queries."""
        fails = []
        pts = pts.sort_values("pid")
        sample = pts.iloc[np.linspace(0, len(pts) - 1, self.n_check).astype(int)]
        px, py = sample["lon"].to_numpy(), sample["lat"].to_numpy()
        want = set()
        for p in polys.itertuples():
            x, y = np.asarray(p.xs), np.asarray(p.ys)
            near = np.flatnonzero((px >= x.min()) & (px <= x.max())
                                  & (py >= y.min()) & (py <= y.max()))
            hit = _even_odd(px[near], py[near], x, y, p.ring_offsets)
            want |= {(int(sample["pid"].iloc[i]), int(p.poly_id)) for i in near[hit]}
        sel = [int(v) for v in sample["pid"]]
        got = {(int(a), int(b)) for a, b in spark.read.parquet(f"{out}/pip")
               .where(F.col("pid").isin(sel)).select("pid", "poly_id").collect()}
        if got != want:
            fails.append(f"pip_join: {len(got)} pairs for sampled points, brute force {len(want)}")
        ax, ay, aid = pts["lon"].to_numpy(), pts["lat"].to_numpy(), pts["pid"].to_numpy()
        knn = (spark.read.parquet(f"{out}/knn").where(F.col("pid").isin(sel))
               .select("pid", "neighbor_id", "rank").toPandas())
        for pid, qx, qy in zip(sample["pid"], px, py):
            d2 = (ax - qx) ** 2 + (ay - qy) ** 2
            order = np.lexsort((aid, d2))
            nb = [int(aid[i]) for i in order if aid[i] != pid][:self.k]
            if knn[knn["pid"] == pid].sort_values("rank")["neighbor_id"].tolist() != nb:
                fails.append(f"knn_join: neighbors of {pid} differ from brute force")
                break
        empty = (spark.read.parquet(f"{out}/raster").where("is_owner")
                 .where(~F.exists("occupancy", lambda b: b)).count())
        if empty:
            fails.append(f"raster_tile_assign: {empty} owner tiles with no occupied sub-cell")
        return fails

    def traced(self, spark, tr: Tracer, out):
        points = tr.materialize(spark.read.parquet(self.points_path))
        polys = tr.materialize(spark.read.parquet(self.polys_path))
        calls = {"pip": pip_join(points, polys, res=self.pip_res),
                 "knn": knn_join(points, k=self.k, res=self.knn_res, strict=True),
                 "raster": TL.raster_tile_assign(polys, res=self.raster_res)
                 .select("poly_id", "cell", "is_owner", "occupancy")}
        for k, df in calls.items():
            with tr.span(k):
                df.write.mode("overwrite").parquet(f"{out}/{k}")
        pts = points.toPandas()
        pol = polys.toPandas()
        # candidates: points sharing a res-8 cell with a polygon's cover
        pcell = pd.Series(C.encode(pts["lon"].to_numpy(), pts["lat"].to_numpy(),
                                   self.pip_res)).value_counts()
        n_cand = sum(int(pcell.get(c, 0)) for p in pol.itertuples()
                     for c in C.cover_polygon_rings(split_rings(p.xs, p.ys, p.ring_offsets),
                                                    self.pip_res))
        qcell = C.encode(pts["lon"].to_numpy(), pts["lat"].to_numpy(), self.knn_res)
        kcount = pd.Series(qcell).value_counts()
        block = np.concatenate([qcell[:, None], C.neighbors(qcell)], axis=1)
        per_q = [sum(int(kcount.get(c, 0)) for c in set(row)) for row in block.tolist()]
        n_pip = spark.read.parquet(f"{out}/pip").count()
        m = {
            "pip.busy_s": tr.busy("pip"),
            "pip.candidates": n_cand,
            "pip.precision": n_pip / n_cand if n_cand else 0.0,
            "knn.busy_s": tr.busy("knn"),
            "knn.candidates_per_query": float(np.mean(per_q)),
            "raster.busy_s": tr.busy("raster"),
            "raster.cells": spark.read.parquet(f"{out}/raster").count(),
        }
        return m, self.check(spark, out, pts, pol)

    @staticmethod
    def spark_layers(stages):
        return {}


def make(name: str, scale: float):
    n = lambda v: max(200, int(v * scale))  # noqa: E731
    if name == "tiles_sherbend_uniform":
        return Tiles(name, "sherbend", n(14_000), target_rows=20_000)
    if name == "tiles_dp_hotspot":
        return Tiles(name, "dp", n(6_000), target_rows=max(20, int(150 * scale)),
                     hot_share=0.5, hot_cells=6,
                     traced_extras=(Curate(n(3_000)), Joins(n(6_000))))
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("tiles_sherbend_uniform", "tiles_dp_hotspot")
