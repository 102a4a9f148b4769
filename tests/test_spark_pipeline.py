"""End-to-end Spark tests: pages source + text byte-parity (G5.6),
the flagship pipeline, salting exactness (G5.4), resume (G5.5),
and Spark-vs-local kernel parity (FIXTURES.md §5.2.1)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geo_sim_processing_a_spark.plans.pipeline import (
    _reduce_bend_kernel, extracted_text_parity, pages_to_geoms, run_pipeline,
    simplify_tiles)
from geo_sim_processing_a_spark.operators.tiling import (
    raster_tile_assign, salt_by_cell, with_cell_cover)
from geo_sim_processing_a_spark.sources.spark_pages import build_pages

N_PAGES = 300
RES = 6
TOL = 0.004


@pytest.fixture(scope="module")
def pages(spark):
    return build_pages(spark, N_PAGES, partitions=4).cache()


def test_pages_schema_and_determinism(spark, pages):
    assert pages.count() == N_PAGES
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    # determinism across different partitioning
    again = build_pages(spark, N_PAGES, partitions=7)
    a = sorted(pages.select("url", "text", "lang").collect())
    b = sorted(again.select("url", "text", "lang").collect())
    assert a == b


def test_text_extraction_byte_parity(spark, pages):
    """input_hint invariant: byte-identical extracted text per url."""
    ok = extracted_text_parity(pages)
    assert ok.where(~F.col("ok")).count() == 0
    assert ok.count() == N_PAGES


def test_geoms_and_cover(spark, pages):
    geoms = pages_to_geoms(pages)
    covered = with_cell_cover(geoms, RES).cache()
    n_geoms = geoms.count()
    assert n_geoms >= N_PAGES  # every page yields at least its point
    owners = covered.where("is_owner")
    # owner rule: exactly one owner copy per geometry
    assert owners.count() == n_geoms
    covered.unpersist()


def _collect_output(df):
    rows = df.select("cell", "url", "kind", "xs", "ys").collect()
    return sorted((r["cell"], r["url"], r["kind"], tuple(r["xs"]), tuple(r["ys"]))
                  for r in rows)


@pytest.mark.parametrize("kernel", ["sherbend", "dp"])
def test_salting_does_not_change_output(spark, pages, kernel):
    """G5.4 — salted run output == unsalted run output, exactly: for
    Sherbend, which reads the replicated context, and for dp, whose
    non-owner rows simplify_tiles drops before the shuffle."""
    geoms = pages_to_geoms(pages)
    covered = with_cell_cover(geoms, RES).cache()
    unsalted = simplify_tiles(covered, TOL, kernel)
    salted = simplify_tiles(
        salt_by_cell(covered, target_rows_per_task=20), TOL, kernel)
    assert _collect_output(unsalted) == _collect_output(salted)
    covered.unpersist()


def test_spark_kernel_matches_local(spark, pages):
    """The Spark applyInPandas path and a direct local kernel call over
    the same tile produce identical vertex sequences."""
    geoms = pages_to_geoms(pages)
    covered = with_cell_cover(geoms, RES).cache()
    spark_out = _collect_output(simplify_tiles(covered, TOL, "sherbend"))

    pdf = covered.toPandas()
    local = []
    for cell, grp in pdf.groupby("cell"):
        out = _reduce_bend_kernel(grp, TOL, False)
        for r in out.itertuples(index=False):
            local.append((r.cell, r.url, r.kind, tuple(r.xs), tuple(r.ys)))
    assert spark_out == sorted(local)
    covered.unpersist()


def test_pipeline_end_to_end_and_resume(spark, pages, tmp_path):
    out = str(tmp_path / "run1")
    stats1 = run_pipeline(spark, pages, out, res=RES, diameter_tol=TOL)
    assert stats1["geoms"] > 0 and stats1["tiles"] > 0
    assert stats1["v_out"] <= stats1["v_in"]

    # manifest exists, one row per tile
    mf = spark.read.parquet(f"{out}/_manifest")
    assert mf.select("tile").distinct().count() == stats1["tiles"]

    # resume: nothing to do, no duplicate tiles, byte-identical data
    data1 = _collect_output(spark.read.option("basePath", f"{out}/data").parquet(f"{out}/data"))
    stats2 = run_pipeline(spark, pages, out, res=RES, diameter_tol=TOL)
    data2 = _collect_output(spark.read.option("basePath", f"{out}/data").parquet(f"{out}/data"))
    assert data1 == data2
    assert stats2["tiles"] == stats1["tiles"]
    mf2 = spark.read.parquet(f"{out}/_manifest")
    # each (stage, tile) completed exactly once
    dup = (mf2.groupBy("stage", "tile").count().where("count > 1")).count()
    assert dup == 0


def test_partial_run_resume_completes(spark, pages, tmp_path):
    """G5.5 — kill after a partial tile set; re-run completes the rest;
    final output equals a single-shot run."""
    out_full = str(tmp_path / "full")
    out_part = str(tmp_path / "part")
    run_pipeline(spark, pages, out_full, res=RES, diameter_tol=TOL)
    full = _collect_output(spark.read.option("basePath", f"{out_full}/data")
                           .parquet(f"{out_full}/data"))

    # simulate an interrupted run: only pages with even doc id
    part_pages = pages.where(F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long") % 2 == 0)
    run_pipeline(spark, part_pages, out_part, res=RES, diameter_tol=TOL)
    # now resume with the complete input
    run_pipeline(spark, pages, out_part, res=RES, diameter_tol=TOL)
    resumed = _collect_output(spark.read.option("basePath", f"{out_part}/data")
                              .parquet(f"{out_part}/data"))
    # completed tiles are never recomputed; tiles from the partial run
    # keep their (correct-per-contract) results; the tile SET matches
    full_tiles = {t[0] for t in full}
    resumed_tiles = {t[0] for t in resumed}
    assert resumed_tiles == full_tiles
    # tiles untouched by the partial input are byte-identical
    part_tiles = {r["tile"] for r in
                  spark.read.parquet(f"{out_part}/_manifest").where("attempt = 0").collect()}
    full_map = {}
    for t in full:
        full_map.setdefault(t[0], []).append(t)
    res_map = {}
    for t in resumed:
        res_map.setdefault(t[0], []).append(t)
    for tile in full_tiles - part_tiles:
        assert full_map[tile] == res_map[tile]


def test_raster_tile_assign(spark, pages):
    geoms = pages_to_geoms(pages).where("kind = 2").limit(20)
    out = raster_tile_assign(geoms, RES).select("cell", "url", "occupancy").collect()
    assert len(out) >= 20
    for r in out:
        assert any(r["occupancy"])


def test_dp_kernel_path(spark, pages):
    geoms = pages_to_geoms(pages)
    covered = with_cell_cover(geoms, RES)
    out = simplify_tiles(covered, 0.001, "dp")
    agg = out.agg(F.sum("n_in").alias("i"), F.sum("n_out").alias("o")).collect()[0]
    assert agg["o"] <= agg["i"]


def test_manifest_sums_dp_hole_counters(spark, tmp_path):
    """dp counts escaped holes per FEATURE: a tile where two owned
    polygons each lose one hole records 2 in the manifest, not the
    first() of the per-feature values."""
    import json

    from geo_sim_processing_a_spark.plans.pipeline import (
        WORLD_EPS, _run_pipeline_body)
    from geo_sim_processing_a_spark.sources import manifest as MF

    def polygon(x0):
        # the outer ring's 0.05-deep bump goes under the 0.1 tolerance;
        # the hole inside the bump then lies outside the simplified ring
        outer = [(x0, 1.0), (x0 + 0.5, 0.95), (x0 + 1, 1.0), (x0 + 1, 2.0),
                 (x0, 2.0), (x0, 1.0)]
        hole = [(x0 + 0.48, 0.97), (x0 + 0.52, 0.97), (x0 + 0.52, 0.99),
                (x0 + 0.48, 0.99), (x0 + 0.48, 0.97)]
        pts = outer + hole
        return (f"u{x0}", 0, 2, [p[0] for p in pts], [p[1] for p in pts],
                [0, len(outer)])

    geoms = spark.createDataFrame(
        [polygon(1.0), polygon(3.0)],
        "url string, h long, kind tinyint, xs array<double>, "
        "ys array<double>, ring_offsets array<int>")
    covered = with_cell_cover(geoms, RES)
    out = str(tmp_path / "run")
    got = _run_pipeline_body(spark, covered, out, RES, 0.1, "dp", False,
                             20_000, "simplify", WORLD_EPS)
    assert got["geoms"] == 2
    rows = spark.read.parquet(MF.manifest_path(out)).collect()
    assert len(rows) == 1  # both polygons are owned by one tile
    assert json.loads(rows[0]["counters"])["n_hole_del"] == 2
