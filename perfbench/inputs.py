"""Seeded input tables for the workloads.

Every table is a pure function of (seed, size): doc ids are drawn from a
seed-specific id range and every derived column comes from the
program's own deterministic page generator and geocoder, so the same
seed always yields byte-identical inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from geo_sim_processing_a_spark.functions.hashing import xxhash64_long, xxhash64_long_signed
from geo_sim_processing_a_spark.operators import cells as C
from geo_sim_processing_a_spark.sources.pages import (
    generate_pages_pdf, geocode_hashes, synthesize_geoms_pdf)
from geo_sim_processing_a_spark.sources.spark_pages import PAGES_SCHEMA

RES = 6  # tile resolution of both tiles_* workloads

# planted-duplicate shares of the curation corpus (over the base docs)
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
NEAR_DUP_MARK = "planted"  # not in the page vocabulary
NEAR_DUP_MIN_CHARS = 800   # ~130 tokens: one swapped token keeps Jaccard ~0.95


def id_base(seed: int) -> int:
    """First doc id of a seed's range (disjoint ranges per seed)."""
    return (seed % 100_000) * 100_000_000 + 1


def expected_geoms(ids: np.ndarray) -> int:
    """Geometries the geocoder derives from these pages: one point per
    page, a footprint where pmod(h,7)==0, a trace where pmod(h,3)==0."""
    h = xxhash64_long_signed(ids)
    return int(len(ids) + np.count_nonzero(np.mod(h, 7) == 0)
               + np.count_nonzero(np.mod(h, 3) == 0))


def uniform_ids(seed: int, n: int) -> np.ndarray:
    base = id_base(seed)
    return np.arange(base, base + n, dtype=np.int64)


def hotspot_ids(seed: int, n: int, hot_share: float, hot_cells: int) -> np.ndarray:
    """Doc ids of which ``hot_share`` geocode (point geometry) into
    ``hot_cells`` res-6 cells, the rest anywhere else.  The hot cells
    are the cells of the first ids of the seed's range; ids are
    scanned in order against the program's geocoder formula."""
    n_hot = int(round(n * hot_share))
    n_cold = n - n_hot
    per_cell = -(-n_hot // hot_cells)
    base = id_base(seed)
    hot: list = []
    cold: list = []
    cells = None
    taken: dict = {}
    lo = base
    chunk = 1 << 20
    while sum(len(a) for a in hot) < n_hot or sum(len(a) for a in cold) < n_cold:
        ids = np.arange(lo, lo + chunk, dtype=np.int64)
        lon, lat, _, _ = geocode_hashes(xxhash64_long_signed(ids))
        cell = C.encode(lon, lat, RES)
        if cells is None:  # clear of the geocoder's +-85 latitude edge
            inner = cell[np.abs(lat) < 80.0]
            cells = np.array(list(dict.fromkeys(inner.tolist()))[:hot_cells])
            taken = {int(c): 0 for c in cells}
        in_hot = np.isin(cell, cells)
        for c in cells:
            sel = ids[cell == c][:per_cell - taken[int(c)]]
            taken[int(c)] += len(sel)
            hot.append(sel)
        need_cold = n_cold - sum(len(a) for a in cold)
        cold.append(ids[~in_hot][:max(need_cold, 0)])
        lo += chunk
    hot_ids = np.sort(np.concatenate(hot))[:n_hot]
    return np.sort(np.concatenate([hot_ids, np.concatenate(cold)[:n_cold]]))


@dataclass
class DocsPlan:
    """Curation corpus: base docs plus planted copies of some of them."""
    base: np.ndarray      # doc ids whose text is their own page text
    copy_ids: np.ndarray  # planted doc ids (all above every base id)
    src_ids: np.ndarray   # the base doc each copy was made from
    near: np.ndarray      # bool: near duplicate (else exact)


def docs_plan(seed: int, n: int) -> DocsPlan:
    base = uniform_ids(seed, n)
    h = xxhash64_long(base)
    n_chars = 50 + (h % np.uint64(1951)).astype(np.int64)  # page text length
    rng = np.random.default_rng(seed)
    n_exact = int(n * EXACT_DUP_SHARE)
    n_near = int(n * NEAR_DUP_SHARE)
    exact_src = rng.choice(base, n_exact, replace=False)
    near_src = rng.choice(base[n_chars >= NEAR_DUP_MIN_CHARS], n_near, replace=False)
    src = np.concatenate([exact_src, near_src])
    copy_ids = base[-1] + 1 + np.arange(len(src), dtype=np.int64)
    near = np.concatenate([np.zeros(n_exact, bool), np.ones(n_near, bool)])
    return DocsPlan(base, copy_ids, src, near)


def _near_copy(text: str) -> str:
    toks = text.split(" ")
    toks[len(toks) // 2] = NEAR_DUP_MARK
    return " ".join(toks)


def _ids_frame(spark, ids, partitions: int, **cols):
    pdf = pd.DataFrame({"id": np.asarray(ids, dtype=np.int64), **cols})
    return spark.createDataFrame(pdf).repartition(partitions)


def write_pages(spark, ids: np.ndarray, path: str, partitions: int) -> None:
    def gen(batches):
        for pdf in batches:
            yield generate_pages_pdf(pdf["id"].to_numpy())

    (_ids_frame(spark, ids, partitions).mapInPandas(gen, PAGES_SCHEMA)
     .write.mode("overwrite").parquet(path))


def write_docs(spark, plan: DocsPlan, path: str, partitions: int) -> None:
    ids = np.concatenate([plan.base, plan.copy_ids])
    src = np.concatenate([plan.base, plan.src_ids])
    near = np.concatenate([np.zeros(len(plan.base), bool), plan.near])

    def gen(batches):
        for pdf in batches:
            pages = generate_pages_pdf(pdf["src"].to_numpy())
            text = pages["text"].to_numpy().copy()
            mark = pdf["near"].to_numpy()
            text[mark] = [_near_copy(t) for t in text[mark]]
            yield pd.DataFrame({"doc_id": pdf["id"].to_numpy(), "text": text,
                                "lang": pages["lang"].to_numpy()})

    (_ids_frame(spark, ids, partitions, src=src, near=near)
     .mapInPandas(gen, "doc_id long, text string, lang string")
     .write.mode("overwrite").parquet(path))


def write_join_tables(spark, ids: np.ndarray, points_path: str, polys_path: str,
                      partitions: int) -> None:
    """Page points (pid, lon, lat) and footprint polygons
    (poly_id, kind, xs, ys, ring_offsets) from the program's geocoder."""
    def geoms(pdf):
        ids = pdf["id"].to_numpy()
        urls = np.array([f"p/{i}" for i in ids], dtype=object)
        g = synthesize_geoms_pdf(urls, xxhash64_long_signed(ids))
        g["gid"] = np.array([int(u[2:]) for u in g["url"]], dtype=np.int64)
        return g

    def points(batches):
        for pdf in batches:
            g = geoms(pdf)
            g = g[g["kind"] == 0]
            yield pd.DataFrame({"pid": g["gid"].to_numpy(),
                                "lon": [float(x[0]) for x in g["xs"]],
                                "lat": [float(y[0]) for y in g["ys"]]})

    def polys(batches):
        for pdf in batches:
            g = geoms(pdf)
            g = g[g["kind"] == 2]
            yield pd.DataFrame({"poly_id": g["gid"].to_numpy(), "kind": g["kind"].to_numpy(),
                                "xs": g["xs"].to_numpy(), "ys": g["ys"].to_numpy(),
                                "ring_offsets": g["ring_offsets"].to_numpy()})

    base = _ids_frame(spark, ids, partitions)
    (base.mapInPandas(points, "pid long, lon double, lat double")
     .write.mode("overwrite").parquet(points_path))
    (base.mapInPandas(polys, "poly_id long, kind tinyint, xs array<double>, "
                      "ys array<double>, ring_offsets array<int>")
     .write.mode("overwrite").parquet(polys_path))
