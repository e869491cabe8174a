"""Round-2 operators: Baum-Welch training, doc-range-sharded WAND,
byte-skipping, LSH banded dedup pairs,
ghost-partition resume cleanup, multimodal real-decoder path."""

from __future__ import annotations

import os
import sys
import types

import numpy as np
import pandas as pd
import pytest

from audioflux_spark.config import EngineConfig, IndexConfig
from audioflux_spark.operators.indexer import build_index
from audioflux_spark.operators.sequence import GaussianHMM, baum_welch, hmm_fit
from audioflux_spark.operators.wand import bm25_topk_many, wand_topk_kernel
from audioflux_spark.sources.segments import IndexReader
from tests.test_topk_exhaustive import assert_rank_identical

# ------------------------------------------------------------- Baum-Welch


def _sample_hmm(rng, T, pi, A, means, stds):
    S = len(pi)
    states = np.empty(T, dtype=np.int64)
    states[0] = rng.choice(S, p=pi)
    for t in range(1, T):
        states[t] = rng.choice(S, p=A[states[t - 1]])
    x = rng.normal(np.asarray(means)[states], np.asarray(stds)[states])
    return x, states


def test_baum_welch_recovers_planted_params():
    rng = np.random.default_rng(7)
    x, _ = _sample_hmm(
        rng, 4000, [0.5, 0.5], np.array([[0.95, 0.05], [0.05, 0.95]]),
        [-2.0, 2.0], [0.7, 0.7],
    )
    fitted, ll, iters = baum_welch(x, GaussianHMM(means=(-0.5, 0.5)), max_iter=100)
    mu = sorted(fitted.means)
    assert abs(mu[0] - (-2.0)) < 0.15 and abs(mu[1] - 2.0) < 0.15
    sd = sorted(fitted.stds)
    assert abs(sd[0] - 0.7) < 0.15 and abs(sd[1] - 0.7) < 0.15
    A = np.asarray(fitted.trans)
    order = np.argsort(np.asarray(fitted.means))
    A = A[order][:, order]
    assert A[0, 0] > 0.9 and A[1, 1] > 0.9
    assert iters >= 2 and np.isfinite(ll)


def test_baum_welch_monotone_loglik():
    rng = np.random.default_rng(11)
    x = rng.normal(size=500)
    lls = []
    for it in range(1, 6):
        _, ll, _ = baum_welch(x, GaussianHMM(), max_iter=it, thresh=-1.0)
        lls.append(ll)
    assert all(b >= a - 1e-8 for a, b in zip(lls, lls[1:]))


def test_hmm_fit_spark_matches_local(spark):
    rng = np.random.default_rng(3)
    frames = []
    for uid in range(4):
        x, _ = _sample_hmm(
            rng, 300, [0.6, 0.4], np.array([[0.9, 0.1], [0.2, 0.8]]),
            [0.0, 3.0], [0.5, 0.5],
        )
        frames.append(pd.DataFrame({"uid": uid, "i": np.arange(300), "v": x}))
    pdf = pd.concat(frames, ignore_index=True)
    sdf = spark.createDataFrame(pdf)
    got = hmm_fit(sdf, "uid", ["i"], "v").toPandas().sort_values(["group", "state"])
    assert len(got) == 8
    for uid, g in pdf.groupby("uid"):
        fitted, _, _ = baum_welch(
            g.sort_values("i")["v"].to_numpy(), GaussianHMM()
        )
        want = np.sort(np.asarray(fitted.means))
        rows = got[got["group"] == uid].sort_values("state")
        np.testing.assert_allclose(rows["mean"].to_numpy(), want, rtol=1e-9)


# ------------------------------------------------- sharded WAND + byte skip


def test_sharded_wand_rank_identity(pos_reader, oracle, queries):
    """Tiny shard size forces many doc-range shards per query; the k-way
    merge must still be rank-identical to the oracle."""
    batch = [(q.query_id, q.query_text, q.k) for q in queries[:6]]
    res = bm25_topk_many(pos_reader, batch, shard_docs=200).toPandas()
    for qid, text, k in batch:
        got = (
            res[res.query_id == qid]
            .sort_values("rank")[["conv_id", "turn_idx", "score"]]
            .reset_index(drop=True)
        )
        want = oracle.topk(text, k)
        assert_rank_identical(got, want, context=f"sharded {qid} '{text}'")


def test_byte_skipping_decodes_fewer_blocks(pos_reader):
    """k=1 on a hot+selective query must leave most blocks undecoded —
    the point of per-block byte offsets (BMW byte skipping)."""
    rows = pos_reader.segments.filter(
        pos_reader.segments.term.isin(["hotterm", "needle_unique_0"])
    ).collect()
    assert rows
    stats: dict = {}
    wand_topk_kernel(
        rows,
        pos_reader.meta.n_docs,
        pos_reader.meta.avgdl,
        pos_reader.meta.k1,
        pos_reader.meta.b,
        k=1,
        stats_out=stats,
    )
    assert stats["blocks_total"] > 8
    assert stats["blocks_decoded"] < stats["blocks_total"]


def test_lazy_block_decode_equals_full(pos_reader):
    """_TermBlocks lazy decode over the full range == the phrase module's
    full decode (two independent decode paths, same postings)."""
    from audioflux_spark.operators.phrase import _decode_full
    from audioflux_spark.operators.wand import _TermBlocks

    row = pos_reader.segments.filter(pos_reader.segments.term == "hotterm").collect()[0]
    want_docs, want_tf, _dl, _pos = _decode_full(row)
    tb = _TermBlocks(row, pos_reader.meta.avgdl, 1.2, 0.75, 1.0, 1.0)
    ds, _cs = tb.candidates(0, int(row["last_doc"]) + 1)
    got = np.concatenate(ds)
    np.testing.assert_array_equal(got, want_docs)


# ------------------------------------------------------------ ghost cleanup


def test_resume_cleans_ghost_partitions(spark, transcripts_sdf, tmp_path_factory, oracle, queries):
    """Same index_dir, DIFFERENT partition layout across runs: stale seg_id
    dirs from the first layout must be deleted, not merged as ghosts."""
    d = str(tmp_path_factory.mktemp("ghost") / "idx")
    cfg8 = EngineConfig(index=IndexConfig(block_size=32, build_partitions=8))
    cfg4 = EngineConfig(index=IndexConfig(block_size=32, build_partitions=4))
    build_index(spark, transcripts_sdf.repartition(8, "conv_id"), d, cfg=cfg8)
    build_index(spark, transcripts_sdf.repartition(4, "conv_id"), d, cfg=cfg4, resume=True)

    seg_dirs = {
        int(n.split("=")[1])
        for n in os.listdir(os.path.join(d, "segments_partial"))
        if n.startswith("seg_id=")
    }
    assert seg_dirs == set(range(4)), f"ghost partials survived: {seg_dirs}"
    r = IndexReader(spark, d)
    assert r.docstore.count() == oracle.N  # no duplicated ghost docs
    from audioflux_spark.operators.wand import bm25_topk_indexed

    q = queries[0]
    got = bm25_topk_indexed(r, q.query_text, q.k).toPandas()
    assert_rank_identical(got, oracle.topk(q.query_text, q.k), context="ghost")


# ------------------------------------------------------------------- LSH


def test_lsh_pairs_find_planted_dup(spark, tmp_path_factory):
    from audioflux_spark.entry_queries import q_dedup_lsh_pairs

    d = str(tmp_path_factory.mktemp("lsh"))
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(0, base), (1, base), (2, base + " extra tail tokens here")]
    rows += [(i, f"unrelated document number {i} with words w{i} x{i} y{i} z{i}")
             for i in range(3, 30)]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        os.path.join(d, "documents.parquet")
    )
    got = q_dedup_lsh_pairs(spark, d).toPandas()
    pairs = set(zip(got["doc_a"], got["doc_b"]))
    assert (0, 1) in pairs
    exact = got[(got.doc_a == 0) & (got.doc_b == 1)]["jaccard_e6"].iloc[0]
    assert exact == 1_000_000


# -------------------------------------------------------------------- ANN


def test_kmeans_deterministic_and_clusters():
    from audioflux_spark.operators.ann import ivf_assign_np, kmeans_train

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 16)) * 4
    X = np.concatenate([c + rng.normal(scale=0.2, size=(50, 16)) for c in centers])
    C1 = kmeans_train(X, 4)
    C2 = kmeans_train(X, 4)
    np.testing.assert_array_equal(C1, C2)  # no RNG anywhere
    a = ivf_assign_np(X, C1)
    # planted clusters must be pure: every group of 50 maps to one bucket
    for g in range(4):
        assert len(set(a[g * 50 : (g + 1) * 50].tolist())) == 1
    assert len(set(a.tolist())) == 4


def test_ivf_probe_recall(spark):
    """nprobe=2 of 8 buckets must recover the brute-force top-10 for a query
    inside a planted cluster (the IVF recall contract on clustered data)."""
    from audioflux_spark.operators.ann import (
        ivf_assign_np,
        ivf_probe_buckets,
        kmeans_train,
    )

    rng = np.random.default_rng(9)
    centers = rng.normal(size=(8, 32)) * 5
    X = np.concatenate([c + rng.normal(scale=0.3, size=(64, 32)) for c in centers])
    C = kmeans_train(X[:256], 8)
    a = ivf_assign_np(X, C)
    q = X[0]
    cos = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    brute = set(np.argsort(-cos)[:10].tolist())
    probes = ivf_probe_buckets(q, C, 2)
    cand = np.flatnonzero(np.isin(a, probes))
    got = set(cand[np.argsort(-cos[cand])[:10]].tolist())
    assert got == brute


# ------------------------------------------------------------- multimodal


def test_multimodal_uses_real_pil_when_present(monkeypatch):
    """A present decoder library must be USED, not crashed on."""
    from audioflux_spark.sources import multimodal

    decoded = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)

    class _FakeImg:
        def convert(self, mode):
            return decoded

    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda buf: _FakeImg()
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    out = multimodal._decode_image(b"\x89PNG...", 2, 2, 3)
    np.testing.assert_array_equal(out, decoded)


def test_multimodal_fake_fallback_warns_on_bad_payload(monkeypatch):
    from audioflux_spark.sources import multimodal

    class _Raises:
        @staticmethod
        def open(buf):
            raise ValueError("not an image")

    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = _Raises.open
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    with pytest.warns(UserWarning):
        out = multimodal._decode_image(b"junk", 4, 3, 3)
    assert out.shape == (3, 4, 3)  # deterministic fake with metadata shape
