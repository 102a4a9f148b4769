"""Round-4 behaviors: wider SimHash radius (8x8-bit bands, Hamming<=7),
hash-sampled IVF quantizer (no first-N-by-id bias), connected-components
checkpoint cadence + empirical O(log n) round bound, and the lazy
frequency_cap variant."""

import math
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# SimHash: 8-band scheme recalls ALL pairs to Hamming<=7 (pigeonhole)
# ---------------------------------------------------------------------------

def _perturbed_docs(n_base=40, n_tokens=60):
    """Deterministic corpus: base docs plus token-perturbed variants, so
    planted pairs land at a spread of small SimHash Hamming distances."""
    docs = []
    did = 0
    for b in range(n_base):
        base_toks = [f"b{b}w{j}" for j in range(n_tokens)]
        docs.append((did, " ".join(base_toks))); did += 1
        for n_swap in (1, 2, 3, 4):
            toks = list(base_toks)
            for s in range(n_swap):
                toks[(7 * s + b) % n_tokens] = f"alt{b}x{s}"
            docs.append((did, " ".join(toks))); did += 1
    return docs


def test_simhash_8band_complete_to_hamming7(spark):
    from geo_sim_processing_a_spark.operators.dedup import (
        simhash_pairs, simhash_signatures)

    docs = _perturbed_docs()
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]),
                               "doc_id long, text string")
    # ground truth: brute-force Hamming over the collected signatures
    sigs = {r["doc_id"]: np.uint64(r["simhash"] & 0xFFFFFFFFFFFFFFFF)
            for r in simhash_signatures(df).collect()}
    ids = sorted(sigs)
    truth7, truth3 = set(), set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(int(sigs[a]) ^ int(sigs[b])).count("1")
            if h <= 7:
                truth7.add((a, b))
            if h <= 3:
                truth3.add((a, b))
    assert truth7 - truth3, "corpus must include planted Hamming 4-7 pairs"
    # spread evidence: at least one pair in the 5-7 range the 4-band
    # scheme cannot guarantee
    assert any(bin(int(sigs[a]) ^ int(sigs[b])).count("1") >= 5
               for a, b in truth7 - truth3)

    got7 = {(r["id_a"], r["id_b"])
            for r in simhash_pairs(df, max_hamming=7).collect()}
    assert got7 == truth7  # COMPLETE recall to radius 7 (8-band pigeonhole)

    got3 = {(r["id_a"], r["id_b"])
            for r in simhash_pairs(df, max_hamming=3).collect()}
    assert got3 == truth3  # the 4x16 default scheme is untouched


def test_simhash_raises_beyond_8band_guarantee(spark):
    from geo_sim_processing_a_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x"]}),
                               "doc_id long, text string")
    with pytest.raises(ValueError, match="Hamming<=7"):
        simhash_pairs(df, max_hamming=8)
    # explicit opt-in to partial recall still constructs
    simhash_pairs(df, max_hamming=8, allow_partial_recall=True)


# ---------------------------------------------------------------------------
# IVF quantizer: hash-sampled training set is unbiased under id-ordered
# cluster structure (first-N-by-id would train on ONE cluster only)
# ---------------------------------------------------------------------------

def test_ivf_recall_survives_id_ordered_clusters(spark):
    from geo_sim_processing_a_spark.operators.similarity import (
        brute_topk, ivf_topk)

    # ids strictly ordered by cluster: the first sample_n ids all belong
    # to cluster 0 (the exact crawl-segment correlation VERDICT r3 #4
    # warned about); hash sampling must still see every cluster
    rng_dim, per_cluster, n_clusters, sample_n = 16, 256, 8, 128
    rows = []
    vid = 0
    for c in range(n_clusters):
        base = np.zeros(rng_dim); base[c % rng_dim] = 1.0; base[(c + 3) % rng_dim] = 0.5
        for i in range(per_cluster):
            jit = base + 0.01 * np.array(
                [((vid * 2654435761 + j * 40503) % 1000) / 1000.0 - 0.5
                 for j in range(rng_dim)])
            rows.append((vid, [float(x) for x in jit])); vid += 1
    emb = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]),
                                "vec_id long, embedding array<float>")
    queries = (emb.where(F.col("vec_id") % 64 == 0)
               .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")))
    exact = {(r["qid"], r["vec_id"])
             for r in brute_topk(emb, queries, k=5).collect()}
    approx = {(r["qid"], r["vec_id"])
              for r in ivf_topk(emb, queries, k=5, dim=rng_dim, n_lists=8,
                                nprobe=2, sample_n=sample_n).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall} under id-ordered clusters"


# ---------------------------------------------------------------------------
# connected components: cadence + empirical O(log n) rounds on a 1k path
# ---------------------------------------------------------------------------

def test_cc_1k_path_logarithmic_rounds(spark):
    from geo_sim_processing_a_spark.operators.graph import connected_components

    n = 1024  # diameter 1023: plain hash-min propagation would need
    # ~1023 rounds and fail max_iter=50 — pointer jumping must not
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": np.arange(1, n), "id_b": np.arange(0, n - 1)}),
        "id_a long, id_b long")
    stats = {}
    got = {r["id"]: r["component"]
           for r in connected_components(edges, max_iter=50,
                                         checkpoint_every=2,
                                         stats=stats).collect()}
    assert len(got) == n and set(got.values()) == {0}
    assert stats["converged"]
    bound = 2 * math.log2(n) + 4
    assert stats["rounds"] <= bound, (stats, bound)


def test_cc_checkpoint_every_validation(spark):
    from geo_sim_processing_a_spark.operators.graph import connected_components

    edges = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [2]}),
                                  "id_a long, id_b long")
    with pytest.raises(ValueError, match="checkpoint_every"):
        connected_components(edges, checkpoint_every=0)


def test_fs_exists_local(spark, tmp_path):
    from geo_sim_processing_a_spark.sources.manifest import fs_exists

    p = tmp_path / "x"
    assert not fs_exists(spark, str(p))
    p.mkdir()
    assert fs_exists(spark, str(p))
    assert fs_exists(spark, f"file://{p}")


# ---------------------------------------------------------------------------
# frequency_cap: lazy variant drops the same rows without a call-time job
# ---------------------------------------------------------------------------

def test_frequency_cap_lazy_matches_eager(spark):
    from geo_sim_processing_a_spark.operators.skew import frequency_cap

    pdf = pd.DataFrame({"doc_id": list(range(500)) + [9001, 9002, 9003],
                        "fp": [42] * 500 + [7, 7, 9]})
    df = spark.createDataFrame(pdf, "doc_id long, fp long")
    eager = {(r["doc_id"], r["fp"])
             for r in frequency_cap(df, ["fp"], cap=100, label="t").collect()}
    lazy = {(r["doc_id"], r["fp"])
            for r in frequency_cap(df, ["fp"], cap=100, label="t",
                                   eager=False).collect()}
    assert eager == lazy == {(9001, 7), (9002, 7), (9003, 9)}


# ---------------------------------------------------------------------------
# raw pair APIs: capping is opt-in (contract holds verbatim by default)
# ---------------------------------------------------------------------------

def test_minhash_default_uncapped_keeps_hot_pairs(spark):
    """300 exact duplicates: the default (no cap) returns their pairs —
    the documented contract; capping is what near_dup_clusters adds."""
    from geo_sim_processing_a_spark.operators.dedup import minhash_lsh_pairs

    same = "identical text body for every row " * 3
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(60), "text": [same] * 60}),
        "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, threshold=0.9).count()
    assert pairs == 60 * 59 // 2


# ---------------------------------------------------------------------------
# end-to-end boilerplate skew: 20% of the real documents table shares one
# boilerplate paragraph; the guarded pipeline stays bounded, reports its
# drops, and still clusters planted TRUE near-dup pairs (VERDICT r3 #6;
# the sf0.1 measurement lives in tools/boilerplate_skew_proof.py + notes)
# ---------------------------------------------------------------------------

def test_near_dup_clusters_boilerplate_20pct_documents(spark, caplog):
    import logging

    from geo_sim_processing_a_spark.operators.dedup import near_dup_clusters

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        pytest.skip("testdata not present")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    boiler = " ".join(f"boilerplate legal footer token{i} all rights reserved"
                      for i in range(30))
    docs = docs.withColumn(
        "text", F.when(F.col("doc_id") % 5 == 0,
                       F.concat(F.lit(boiler + " "), F.col("text")))
        .otherwise(F.col("text")))
    twins = (docs.where(F.col("doc_id") % 97 == 0)
             .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" twinsuffix")).alias("text")))
    expected = [int(r["doc_id"]) for r in
                docs.where(F.col("doc_id") % 97 == 0).select("doc_id").collect()]
    with caplog.at_level(logging.WARNING,
                         logger="geo_sim_processing_a_spark.operators.skew"):
        cmap = {r["doc_id"]: r["cluster_id"]
                for r in near_dup_clusters(docs.unionByName(twins),
                                           threshold=0.5,
                                           hot_key_cap=20).collect()}
    assert any("hot-key guard" in r.message for r in caplog.records)
    for a in expected:
        assert cmap[a] == cmap[a + 10_000_000], a


# ---------------------------------------------------------------------------
# n-gram corpus stats + deterministic content-addressed sampling/split
# ---------------------------------------------------------------------------

def test_word_ngrams_edges(spark):
    from geo_sim_processing_a_spark.operators.text import word_ngrams
    df = spark.createDataFrame(
        [("",), ("a",), ("a b",), ("a b c",), ("a b c d",)], ["text"])
    rows = df.select(F.col("text"),
                     word_ngrams(F.col("text"), 3).alias("g")).collect()
    got = {r["text"]: r["g"] for r in rows}
    assert got[""] == [] and got["a"] == [] and got["a b"] == []
    assert got["a b c"] == ["a b c"]
    assert got["a b c d"] == ["a b c", "b c d"]


def test_ngram_topk_counts_and_tiebreak(spark):
    from geo_sim_processing_a_spark.operators.text import ngram_topk
    df = spark.createDataFrame(
        [("x y z x y z",), ("x y z q r s",), ("q r s t u v",)], ["text"])
    rows = ngram_topk(df, n=3, k=4).collect()
    # "x y z": doc1 has 2 ("x y z" at 0 and 3)? tokens: x y z x y z ->
    # grams: xyz yzx zxy xyz -> "x y z" twice; doc2 once -> 3 total
    assert rows[0]["gram"] == "x y z" and rows[0]["n"] == 3
    assert rows[1]["n"] == 2 and rows[1]["gram"] == "q r s"
    # ties broken lexically
    tied = [r["gram"] for r in rows if r["n"] == rows[2]["n"]]
    assert tied == sorted(tied)


def test_deterministic_split_content_addressed(spark):
    """Split membership is a pure function of content: unchanged by
    repartitioning (unlike DataFrame.sample) and disjoint+complete."""
    from geo_sim_processing_a_spark.operators.sampling import (
        deterministic_sample, deterministic_split)
    df = spark.range(500).select(
        F.col("id"), F.concat(F.lit("doc "), F.col("id")).alias("text"))
    a = {(r["id"], r["split"]) for r in deterministic_split(df).collect()}
    b = {(r["id"], r["split"])
         for r in deterministic_split(df.repartition(13)).collect()}
    assert a == b and len(a) == 500
    n_test = sum(1 for _, s in a if s == "test")
    assert 20 <= n_test <= 90  # ~10% of 500, content-hash variance
    # sample(frac) == the rows whose bucket is under the threshold
    s = {r["id"] for r in deterministic_sample(df, "text", 0.1).collect()}
    assert s == {i for i, sp in a if sp == "test"}


def test_contamination_semantics(spark):
    """Planted leak: doc 2 shares an exact 5-gram run with probe doc 0;
    doc 3 shares nothing; short docs are absent from the output."""
    from geo_sim_processing_a_spark.operators.text import ngram_contamination
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (2, "x y alpha beta gamma delta epsilon q"),
         (3, "p q r s t u v w"),
         (4, "too short")],
        ["doc_id", "text"])
    probes = docs.where(F.col("doc_id") == 0)
    got = {r["doc_id"]: (r["n_grams"], r["n_hits"])
           for r in ngram_contamination(docs, probes, n=5).collect()}
    assert got[0] == (2, 2)           # probe doc: fully contaminated
    assert got[2] == (4, 1)           # exactly one shared 5-gram window
    assert got[3] == (4, 0)
    assert 4 not in got               # < 5 tokens -> no grams


def test_repetition_stats(spark):
    from geo_sim_processing_a_spark.operators.text import repetition_stats
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),       # degenerate
         (2, "one two three four five six seven")],  # all trigrams unique
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(docs, n=3).collect()}
    assert got[1]["top_gram_n"] == 4 and got[1]["n_grams"] == 4
    assert got[1]["top_share"] == 1.0
    assert got[2]["top_gram_n"] == 1 and abs(got[2]["top_share"] - 0.2) < 1e-9


def test_domain_mix(spark):
    from geo_sim_processing_a_spark.operators.sampling import domain_mix
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", f"doc number {i}") for i in range(300)],
        ["doc_id", "source", "text"])
    out = domain_mix(df, {"s0": 0.0, "s1": 0.5})
    got = {r["source"]: r["n"]
           for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert "s0" not in got                 # fraction 0 -> fully dropped
    assert got["s2"] == 100                # unlisted -> default keeps all
    assert 25 <= got["s1"] <= 75           # ~half, content-hash variance
    # membership is content-addressed: repartitioning changes nothing
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"]
               for r in domain_mix(df.repartition(7), {"s0": 0.0, "s1": 0.5}).collect())
    assert a == b
    with pytest.raises(ValueError):
        domain_mix(df, {"s0": 1.5})


def test_simhash_sharded(spark):
    """shard_cols: candidates only within a shard (per-shard n^2/2^w
    volume); identical in-shard recall, cross-shard pairs excluded."""
    from geo_sim_processing_a_spark.operators.dedup import simhash_pairs
    base = " ".join(f"tok{j}" for j in range(60))
    rows = []
    for i, lang in enumerate(["en", "en", "fr", "fr"]):
        rows.append((i, lang, base + (" extra" if i % 2 else "")))
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    unsharded = {(r["id_a"], r["id_b"])
                 for r in simhash_pairs(df, max_hamming=7).collect()}
    sharded = {(r["id_a"], r["id_b"])
               for r in simhash_pairs(df, max_hamming=7,
                                      shard_cols=("lang",)).collect()}
    assert (0, 2) in unsharded          # identical text across langs
    # sharded pairs are exactly the unsharded ones whose docs share a lang
    lang_of = {i: l for i, l, _ in rows}
    assert sharded == {p for p in unsharded if lang_of[p[0]] == lang_of[p[1]]}
    assert len(sharded) < len(unsharded)


def test_sampling_null_semantics(spark):
    """NULL content: dropped by sample/mix, 'train' in split — the
    documented (and cross-engine-identical) propagation."""
    from geo_sim_processing_a_spark.operators.sampling import (
        deterministic_sample, deterministic_split, domain_mix)
    df = spark.createDataFrame(
        [(1, "s0", "some text"), (2, "s0", None)],
        ["doc_id", "source", "text"])
    assert deterministic_sample(df, "text", 1.0).count() == 1
    assert domain_mix(df, {"s0": 1.0}).count() == 1
    got = {r["doc_id"]: r["split"] for r in deterministic_split(df).collect()}
    assert got[2] == "train"


def test_curate_corpus_semantics(spark):
    from geo_sim_processing_a_spark.operators.curation import curate_corpus
    good = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, "en", good),                          # kept (rep of the dup pair)
        (2, "en", good),                          # exact dup of 1 -> dropped
        (3, "en", "too short text"),              # < min_tokens -> dropped
        (4, "en", " ".join(["spam"] * 40)),       # top_share 1.0 -> dropped
        (5, "fr", " ".join(f"v{i}" for i in range(25))),  # kept
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = curate_corpus(df)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 5}
    assert got[1]["n_tokens"] == 30 and got[1]["split"] in ("train", "valid", "test")
    assert got[5]["lang"] == "fr"


# ---------------------------------------------------------------------------
# operator-review regression tests: NaN cosine, banding validation,
# hypertable state-read propagation
# ---------------------------------------------------------------------------

def test_zero_vector_does_not_rank_top(spark):
    """An all-zero embedding must score 0.0 (guarded), not NaN — Spark
    orders NaN above every double, so unguarded it would rank top-1
    for every query and pass every threshold."""
    from geo_sim_processing_a_spark.operators.similarity import (
        brute_topk, with_cosine)
    rows = [(0, [0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        pd.DataFrame([(100, [1.0, 0.0, 0.0])], columns=["qid", "qvec"]),
        "qid long, qvec array<float>")
    top = brute_topk(emb, queries, k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]   # zero vector NOT first
    cos0 = (with_cosine(emb.crossJoin(queries), "embedding", "qvec")
            .where("vec_id = 0").collect()[0]["cos"])
    assert cos0 == 0.0 and not math.isnan(cos0)


def test_minhash_bands_validation(spark):
    from geo_sim_processing_a_spark.operators.dedup import minhash_lsh_pairs
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x"]}),
                               "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(df, n_hashes=32, bands=64)
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(df, n_hashes=32, bands=7)


def test_hypertable_state_corruption_raises(spark, tmp_path):
    """A corrupt state file must RAISE, not silently restart at
    generation 0 (which would overwrite every bucket and poison the
    change detection with duplicate state rows)."""
    from geo_sim_processing_a_spark.operators.hypertable import refresh
    out = str(tmp_path / "ht")
    e = spark.createDataFrame(
        pd.DataFrame({"event_id": [1, 2], "user_id": [1, 1],
                      "event_type": ["a", "b"],
                      "ts": pd.to_datetime(["2024-01-01 10:05",
                                            "2024-01-01 11:10"]),
                      "value": [1.0, 2.0]}))
    refresh(spark, e, out, bucket="hour")
    # corrupt the state dir: a parquet file with garbage bytes
    state_dir = f"{out}/_rollup_state"
    victim = next(p for p in os.listdir(state_dir) if p.endswith(".parquet"))
    with open(os.path.join(state_dir, victim), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception) as exc:
        refresh(spark, e, out, bucket="hour")
    assert "PATH_NOT_FOUND" not in str(exc.value)


def test_hypertable_detects_value_change_same_count(spark, tmp_path):
    """A bucket whose values changed but whose row count did not must
    still refresh (content checksum, not count-only detection)."""
    from geo_sim_processing_a_spark.operators.hypertable import (
        read_rollup, refresh)
    out = str(tmp_path / "ht2")

    def events(v):
        return spark.createDataFrame(
            pd.DataFrame({"event_id": [1], "user_id": [1],
                          "event_type": ["a"],
                          "ts": pd.to_datetime(["2024-01-01 10:05"]),
                          "value": [v]}))

    r1 = refresh(spark, events(1.0), out, bucket="hour")
    assert r1["buckets_refreshed"] == 1
    r2 = refresh(spark, events(2.0), out, bucket="hour")  # same count!
    assert r2["buckets_refreshed"] == 1
    got = read_rollup(spark, out).collect()[0]
    assert got["total_value"] == 2.0
    r3 = refresh(spark, events(2.0), out, bucket="hour")  # unchanged
    assert r3["buckets_refreshed"] == 0
