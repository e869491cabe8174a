"""Round-3 hardening: resumed-build offset-shift invalidation, incomplete-
generation resume, folded-docstore serving."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from audioflux_spark.config import EngineConfig, IndexConfig
from audioflux_spark.operators.indexer import build_index
from audioflux_spark.oracle import BM25Oracle
from audioflux_spark.plans.checkpoint import load_manifest
from audioflux_spark.sources.segments import IndexReader
from tests.test_topk_exhaustive import assert_rank_identical

CFG4 = EngineConfig(index=IndexConfig(block_size=32, build_partitions=4))


def test_resume_offset_shift_rebuilds_later_partitions(
    spark, transcripts_pdf, queries, tmp_path_factory
):
    """A resumed build where an EARLIER partition's doc count changes must
    rebuild every later 'done' partition too: their fingerprints still match,
    but their stored docIDs encode the old offsets and would collide."""
    d = str(tmp_path_factory.mktemp("offset_shift") / "idx")
    sdf1 = spark.createDataFrame(transcripts_pdf).repartition(4, "conv_id")
    build_index(spark, sdf1, d, cfg=CFG4, resume=False)
    m1 = load_manifest(d)
    n1 = {p: e.input_fingerprint.split(":")[0] for p, e in m1.entries.items()}

    # add one turn to the first conv — exactly one partition's count changes,
    # which shifts the offset of every partition ordered after it
    conv0 = sorted(transcripts_pdf["conv_id"].unique())[0]
    extra = transcripts_pdf[transcripts_pdf.conv_id == conv0].iloc[[0]].copy()
    extra["turn_idx"] = int(transcripts_pdf[transcripts_pdf.conv_id == conv0]["turn_idx"].max()) + 1
    extra["text"] = "freshly appended resumed turn"
    pdf2 = pd.concat([transcripts_pdf, extra], ignore_index=True)
    sdf2 = spark.createDataFrame(pdf2).repartition(4, "conv_id")
    build_index(spark, sdf2, d, cfg=CFG4, resume=True)

    # docstore must be a dense permutation — no colliding docIDs
    r = IndexReader(spark, d)
    ids = np.sort(
        np.array([row["doc_id"] for row in r.docstore.select("doc_id").collect()])
    )
    assert ids.size == len(pdf2)
    assert (ids == np.arange(len(pdf2))).all(), "docID collision after resumed offset shift"

    # and results must equal a from-scratch build over the new corpus
    from audioflux_spark.operators.wand import bm25_topk_indexed

    oracle2 = BM25Oracle(pdf2)
    for q in queries[:4]:
        got = bm25_topk_indexed(r, q.query_text, q.k).toPandas()
        assert_rank_identical(got, oracle2.topk(q.query_text, q.k), context=f"offset-shift {q.query_id}")

    # sanity: at least one later partition was invalidated purely by offset
    m2 = load_manifest(d)
    n2 = {p: e.input_fingerprint.split(":")[0] for p, e in m2.entries.items()}
    same_count = [p for p in n1 if p in n2 and n1[p] == n2[p]]
    assert same_count, "fixture did not exercise the unchanged-partition path"
    for p, e in m2.entries.items():
        assert e.doc_offset >= 0


def test_simhash_pairs_find_planted_near_dup(spark, tmp_path_factory):
    """Identical docs → hamming 0; one-token-changed doc → small hamming;
    unrelated docs must NOT pair at hamming ≤ 3."""
    from audioflux_spark.entry_queries import q_dedup_simhash, q_dedup_simhash_pairs

    d = str(tmp_path_factory.mktemp("simhash"))
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest until the morning light arrives"
    )
    rows = [(0, base), (1, base), (2, base.replace("morning", "evening"))]
    rows += [
        (i, f"totally different subject matter {i} covering wq{i} xq{i} yq{i} zq{i} aq{i} bq{i}")
        for i in range(3, 40)
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        os.path.join(d, "documents.parquet")
    )
    sig = q_dedup_simhash(spark, d).toPandas()
    assert list(sig.columns) == ["doc_id", "sim0", "sim1", "sim2", "sim3"]
    bands = sig[["sim0", "sim1", "sim2", "sim3"]].to_numpy()
    assert ((bands >= 0) & (bands < 1 << 16)).all(), "band values must be 16-bit"
    got = q_dedup_simhash_pairs(spark, d).toPandas()
    pairs = {(a, b): h for a, b, h in zip(got.doc_a, got.doc_b, got.hamming)}
    assert pairs.get((0, 1)) == 0, f"identical docs must pair at hamming 0: {pairs}"
    for a, b in pairs:
        assert {a, b} <= {0, 1, 2}, f"unrelated docs paired: {(a, b)}"


def test_ivf_index_artifact_recall(spark, tmp_path_factory):
    """Persisted IVF artifact: build once, query many — recall@10 vs brute
    force is monotone in nprobe and exact at nprobe=k on clustered data."""
    import numpy as np

    from audioflux_spark.operators.ann import IVFReader, build_ivf_index

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 32)) * 5
    X = np.concatenate([c + rng.normal(scale=0.3, size=(64, 32)) for c in centers])
    src = str(tmp_path_factory.mktemp("ivf_src"))
    pd.DataFrame(
        {"vec_id": np.arange(len(X)), "embedding": [row.astype(np.float32).tolist() for row in X]}
    ).to_parquet(os.path.join(src, "embeddings.parquet"))
    emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))

    art = str(tmp_path_factory.mktemp("ivf_art") / "ivf")
    build_ivf_index(spark, emb, art, k=8, train_sample=256)
    reader = IVFReader(spark, art)
    assert reader.C.shape == (8, 32)
    assert reader.meta["k"] == 8

    q = X[0]
    cos = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    brute = set(np.argsort(-cos)[:10].tolist())
    recalls = []
    for nprobe in (1, 2, 4, 8):
        got = set(
            r["vec_id"]
            for r in reader.search_cosine(q, k=10, nprobe=nprobe).collect()
        )
        recalls.append(len(got & brute) / 10.0)
    assert recalls == sorted(recalls), f"recall not monotone in nprobe: {recalls}"
    assert recalls[0] >= 0.9, f"clustered query should mostly live in 1 bucket: {recalls}"
    assert recalls[-1] == 1.0, f"nprobe=k must equal brute force: {recalls}"

    # the artifact is self-contained: a second reader answers without the
    # source table, retraining, or any driver-side sample collect
    reader2 = IVFReader(spark, art)
    got2 = [r["vec_id"] for r in reader2.search_cosine(q, k=10, nprobe=2).collect()]
    got1 = [r["vec_id"] for r in reader.search_cosine(q, k=10, nprobe=2).collect()]
    assert got1 == got2


def test_nmf_nnz_cap_bounds_group(spark):
    """A group above max_nnz is deterministically row-sampled before the
    group shuffle; an under-cap group is untouched. Two runs agree exactly."""
    from audioflux_spark.operators.sequence import nmf_topics

    rows = []
    for r in range(60):           # big group: 60 rows x 10 cols = 600 nnz
        for c in range(10):
            rows.append(("big", r, f"t{c}", float(1 + (r * 7 + c) % 5)))
    for r in range(5):            # small group: 50 nnz, under any cap
        for c in range(10):
            rows.append(("small", r, f"t{c}", float(1 + (r + c) % 3)))
    df = spark.createDataFrame(
        rows, "src string, doc_id long, term string, tf double"
    )
    capped = nmf_topics(df, "src", "doc_id", "term", "tf", k=2, max_nnz=200).toPandas()
    full = nmf_topics(df, "src", "doc_id", "term", "tf", k=2, max_nnz=10**9).toPandas()

    big_capped = capped[capped.group == "big"]
    assert 0 < len(big_capped) < 60, "oversized group must be row-sampled"
    assert len(big_capped) * 10 <= 2 * 200, "sampled nnz should be near the cap"
    # under-cap group identical with and without the cap
    pd.testing.assert_frame_equal(
        capped[capped.group == "small"].sort_values("row_id").reset_index(drop=True),
        full[full.group == "small"].sort_values("row_id").reset_index(drop=True),
    )
    # determinism: the sample is a pure function of the data
    again = nmf_topics(df, "src", "doc_id", "term", "tf", k=2, max_nnz=200).toPandas()
    pd.testing.assert_frame_equal(
        capped.sort_values(["group", "row_id"]).reset_index(drop=True),
        again.sort_values(["group", "row_id"]).reset_index(drop=True),
    )


def test_incomplete_generation_is_resumed(spark, transcripts_pdf, tmp_path_factory):
    """A crash between a generation's segment write and its meta.json must be
    detected (meta.json is the build's last write) and the generation's build
    resumed, not silently served half-built."""
    from audioflux_spark.streaming.incremental import add_generation

    base = str(tmp_path_factory.mktemp("halfgen") / "idx")
    keys = sorted(transcripts_pdf["conv_id"].unique())
    half = len(keys) // 2
    first = transcripts_pdf[transcripts_pdf.conv_id.isin(keys[:half])]
    second = transcripts_pdf[transcripts_pdf.conv_id.isin(keys[half:])]
    build_index(spark, spark.createDataFrame(first), base, cfg=CFG4, resume=False)
    multi = add_generation(spark, spark.createDataFrame(second), base, cfg=CFG4)
    gen_dir = multi.generations[-1].dir
    os.remove(os.path.join(gen_dir, "meta.json"))  # simulate the crash

    # the reader contract: meta.json missing == generation incomplete
    with pytest.raises(FileNotFoundError):
        IndexReader(spark, base)

    # a resumed build of that generation completes it without rebuilding
    # finished partitions (manifest fingerprints all match)
    build_index(spark, spark.createDataFrame(second), gen_dir, cfg=CFG4, resume=True)
    r = IndexReader(spark, base)
    assert len(r.generations) == 2
    assert r.n_docs == len(transcripts_pdf)
