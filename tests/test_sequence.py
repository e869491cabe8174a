"""Viterbi operator: distributed result == direct NumPy per sequence; known
planted-path recovery. Baum-Welch: planted-parameter recovery, monotone
log-likelihood, distributed == local."""

from __future__ import annotations

import numpy as np
import pandas as pd

from audioflux_spark.operators.sequence import (
    GaussianHMM,
    baum_welch,
    hmm_fit,
    viterbi_decode,
    viterbi_path,
)


def test_viterbi_recovers_planted_states():
    rng = np.random.default_rng(5)
    # well-separated emissions → the decoded path equals the planted path
    hmm = GaussianHMM(means=(0.0, 10.0), stds=(1.0, 1.0))
    true = np.repeat([0, 1, 0, 1], 25)
    x = np.where(true == 1, 10.0, 0.0) + rng.normal(0, 0.5, true.size)
    np.testing.assert_array_equal(viterbi_path(x, hmm), true)


def test_distributed_matches_local(spark):
    rng = np.random.default_rng(11)
    rows = []
    for uid in range(20):
        n = int(rng.integers(5, 60))
        vals = rng.normal(rng.integers(0, 2, n).astype(float), 0.8)
        for i, v in enumerate(vals):
            rows.append((uid, i, float(v)))
    pdf = pd.DataFrame(rows, columns=["user_id", "seq", "value"])
    sdf = spark.createDataFrame(pdf).repartition(4)
    got = (
        viterbi_decode(sdf, "user_id", ["seq"], "value")
        .toPandas()
        .sort_values(["user_id", "seq"])
        .reset_index(drop=True)
    )
    hmm = GaussianHMM()
    for uid, grp in pdf.groupby("user_id"):
        grp = grp.sort_values("seq")
        want = viterbi_path(grp["value"].to_numpy(), hmm)
        np.testing.assert_array_equal(
            got[got.user_id == uid]["state"].to_numpy(), want, err_msg=f"user {uid}"
        )


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
