"""NMF operator: convergence, non-negativity, planted-structure recovery,
distributed == local."""

from __future__ import annotations

import numpy as np
import pandas as pd

from audioflux_spark.operators.sequence import nmf_factorize, nmf_topics


def test_nmf_error_decreases_and_nonneg():
    rng = np.random.default_rng(3)
    V = rng.random((30, 20))
    W, H, err = nmf_factorize(V, k=5, max_iter=80)
    assert (W >= 0).all() and (H >= 0).all()
    assert err < np.linalg.norm(V)  # better than the zero factorization
    # rank-5 approx of a random matrix should capture a good chunk
    assert err / np.linalg.norm(V) < 0.8


def test_nmf_recovers_planted_blocks():
    """Block-diagonal matrix → rows of the same block share a dominant factor."""
    V = np.zeros((40, 30))
    V[:20, :15] = 5.0
    V[20:, 15:] = 5.0
    W, H, err = nmf_factorize(V, k=2, max_iter=200)
    t = np.argmax(W, axis=1)
    assert (t[:20] == t[0]).all() and (t[20:] == t[20]).all()
    assert t[0] != t[20]
    assert err < 1.0


def test_nmf_distributed_matches_local(spark):
    rng = np.random.default_rng(9)
    rows = []
    for g in range(6):
        for r in range(15):
            for c in rng.choice(12, 6, replace=False):
                rows.append((g, r, int(c), float(rng.integers(1, 9))))
    pdf = pd.DataFrame(rows, columns=["g", "r", "c", "v"])
    sdf = spark.createDataFrame(pdf).repartition(3)
    got = (
        nmf_topics(sdf, "g", "r", "c", "v", k=3)
        .toPandas()
        .sort_values(["group", "row_id"])
        .reset_index(drop=True)
    )
    assert len(got) == 6 * 15
    assert (got["weight"] >= 0).all()
    # distributed result equals local per-group factorization (deterministic)
    for g, grp in pdf.groupby("g"):
        urows, rix = np.unique(grp["r"], return_inverse=True)
        ucols, cix = np.unique(grp["c"], return_inverse=True)
        V = np.zeros((urows.size, ucols.size))
        V[rix, cix] = grp["v"]
        from audioflux_spark.operators.sequence import nmf_factorize as nf

        W, _, _ = nf(V, min(3, *V.shape), max_iter=60)
        want_topic = np.argmax(W, axis=1)
        sub = got[got.group == g].sort_values("row_id")
        np.testing.assert_array_equal(sub["topic"].to_numpy(), want_topic)


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
