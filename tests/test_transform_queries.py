"""Analytic invariants for the transform/DSP-analog entry queries.

Each test synthesizes a tiny events/documents parquet pair with a closed-form
answer (the reference validates its transforms the same way — pure tones and
constant signals with known spectra, e.g. chirp fixtures in
/root/reference/python/audioflux/utils) and checks the query output exactly
(e6 fixed-point). The DuckDB driver oracle covers cross-engine agreement on
the real tables; these tests pin the MATH.
"""

import math
import os

import pandas as pd
import pytest

from audioflux_spark import entry_queries as eq

SF_SMALL = os.path.join(os.path.dirname(eq.ORACLE_SF_DIR), "sf0.001")


@pytest.fixture(scope="module")
def tiny_dir(tmp_path_factory):
    """A minimal sf-dir: one user's regular event series + crafted docs."""
    d = tmp_path_factory.mktemp("tiny_sf")
    base = 1_700_000_000 - (1_700_000_000 % 86400)  # UTC midnight
    rows = []
    # user 0: one event per hour for 24 hours, constant value 5.0 (type "a")
    for h in range(24):
        rows.append((h, base + h * 3600, 0, "a", 5.0, "{}"))
    # user 1: two events 90 min apart so the 30-min grid has interior points
    rows.append((100, base + 0, 1, "b", 2.0, "{}"))
    rows.append((101, base + 5400, 1, "b", 8.0, "{}"))
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    # microsecond precision: Spark 4 rejects pandas' default TIMESTAMP(NANOS)
    ev["ts"] = pd.to_datetime(ev["ts"], unit="s").astype("datetime64[us]")
    ev.to_parquet(os.path.join(d, "events.parquet"), index=False)

    dup = "the quick brown fox jumps over the lazy dog tonight"
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            # doc 0: tf spectrum 8,4,2,1,1,1 -> HPS argmax at k=1 with
            #        L_1 = ln8+ln4+ln2 = ln64
            "text": [
                "a a a a a a a a b b b b c c d e f",
                # doc 1: every term once -> flat log-spectrum -> zero residue
                "alpha beta gamma delta epsilon zeta",
                # docs 2-4: an identical triple -> one canonical cluster
                dup,
                dup,
                dup,
            ],
            "lang": ["en"] * 5,
            "source": ["t"] * 5,
        }
    )
    docs["n_chars"] = docs["text"].str.len()
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return str(d)


def test_fir_constant_series_is_identity(spark, tiny_dir):
    # y = conv(x, h)/sum(h): a constant series must pass through unchanged
    out = eq.q_events_fir(spark, tiny_dir).toPandas()
    u0 = out[out.event_id < 100]
    assert len(u0) == 24 - 4  # 'valid' mode drops the first 4 frames
    assert (u0.fir_e6 == 5_000_000).all()


def test_resample_sample_and_hold(spark, tiny_dir):
    out = eq.q_events_resample(spark, tiny_dir).toPandas()
    u1 = out[out.user_id == 1].sort_values("grid_t")
    # grid spans [t0, t0+5400] at 1800 s: 4 points; hold 2.0 until the
    # 8.0 event lands exactly on the last grid point
    assert list(u1.value_e6) == [2_000_000, 2_000_000, 2_000_000, 8_000_000]


def test_goertzel_flat_series_has_zero_ac_bins(spark, tiny_dir):
    # 1 event/hour for 24 h -> x_i = 1: every k>=1 DFT bin sums a full
    # complex exponential period = 0
    out = eq.q_events_goertzel(spark, tiny_dir).toPandas()
    row = out[out.event_type == "a"].iloc[0]
    for c in ("re1_e6", "im1_e6", "re2_e6", "im2_e6", "re3_e6", "im3_e6"):
        assert abs(int(row[c])) <= 1  # e6 rounding of ~1e-10 residuals


def test_cepstrogram_flat_frame_is_dc_only(spark, tiny_dir):
    out = eq.q_events_cepstrogram(spark, tiny_dir).toPandas()
    row = out[out.event_type == "a"].iloc[0]
    assert int(row.c0_e6) == round(24 * math.log(2.0) * 1e6)
    assert abs(int(row.c1_e6)) <= 1 and abs(int(row.c2_e6)) <= 1


def test_envelope_residue_flat_spectrum_has_zero_residue(spark, tiny_dir):
    out = eq.q_doc_envelope_residue(spark, tiny_dir).toPandas()
    row = out[out.doc_id == 1].iloc[0]
    # x_i = ln 2 constant -> the Q=3 envelope reproduces it exactly
    assert int(row.res_energy_e6) == 0
    assert int(row.env_energy_e6) == round(6 * math.log(2.0) ** 2 * 1e6)


def test_hps_picks_fundamental(spark, tiny_dir):
    out = eq.q_doc_hps(spark, tiny_dir).toPandas()
    row = out[out.doc_id == 0].iloc[0]
    assert int(row.pitch_k) == 1
    assert int(row.hps_log_e6) == round(math.log(64.0) * 1e6)
    # doc 1 has 6 distinct terms -> k in {1,2} candidates exist, all ln(1)=0
    row1 = out[out.doc_id == 1].iloc[0]
    assert int(row1.pitch_k) == 1 and int(row1.hps_log_e6) == 0


def test_doc_hps_array_fold_matches_window_rank(spark):
    """The array_sort fold must reproduce the (tf desc, term asc) rank
    order the old row_number window produced — re-derive doc_hps with an
    explicit window formulation and compare values."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    got = eq.queries()["doc_hps"](spark, SF_SMALL).toPandas()

    tf = eq._doc_tf(spark, SF_SMALL).select(
        "doc_id", "term", F.col("tf").cast("double").alias("s")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), "term")
    ranked = tf.withColumn("r", F.row_number().over(w))
    sp = ranked.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("r"), F.log("s").alias("ls")))
        ).alias("sp")
    )
    ls = lambda k: F.element_at(F.col("sp"), k)["ls"]  # noqa: E731
    cand = F.sequence(F.lit(1), (F.size("sp") / 3).cast("int"))
    hps = F.transform(
        cand,
        lambda k: F.struct(
            F.round((ls(k) + ls(k * 2) + ls(k * 3)) * 1e6)
            .cast("long")
            .alias("L"),
            (-k).alias("negk"),
        ),
    )
    best = F.array_max(hps)
    want = (
        sp.filter(F.size("sp") >= 3)
        .select(
            "doc_id",
            (-best["negk"]).cast("long").alias("pitch_k"),
            best["L"].alias("hps_log_e6"),
        )
        .orderBy("doc_id")
        .toPandas()
    )
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_analyzer_axes_jvm_pandas_parity(spark):
    """tokens_col (JVM) and tokenize_series (pandas) must agree on every
    ANALYZERS preset, including the min-length and truncation axes."""
    from audioflux_spark.config import ANALYZERS
    from audioflux_spark.functions.analyzer import (
        doc_len_col,
        tokenize_series,
        tokens_col,
    )

    texts = [
        "The CATS sat-on 2 mats, a_b X y12 zzzz!",
        "supercalifragilistic words words word s ss sss",
        "",
    ]
    pdf = pd.DataFrame({"text": texts})
    sdf = spark.createDataFrame(pdf)
    for name, cfg in ANALYZERS.items():
        jvm = (
            sdf.select(
                tokens_col("text", cfg).alias("t"),
                doc_len_col("text", cfg).alias("n"),
            )
            .toPandas()
        )
        pdl = tokenize_series(pd.Series(texts), cfg)
        for i in range(len(texts)):
            assert list(jvm.t[i]) == list(pdl[i]), (name, i, list(jvm.t[i]), pdl[i])
            assert int(jvm.n[i]) == len(pdl[i]), (name, i)


def test_hilbert_constant_series(spark, tiny_dir):
    """Antisymmetric FIR taps sum to zero: a constant series has zero
    quadrature and envelope == |x|."""
    out = eq.q_events_hilbert(spark, tiny_dir).toPandas()
    u0 = out[out.event_id < 100]
    assert len(u0) == 24 - 6  # odd taps reach ±3: drops 3 frames each side
    assert (u0.quad_e6 == 0).all()
    assert (u0.env_e6 == 5_000_000).all()


def test_czt_integer_bins_vanish_on_flat_series(spark, tiny_dir):
    """Flat series: integer-k zoom bins (k=1, 2) sum full complex periods
    to zero; fractional bins need not."""
    out = eq.q_events_czt(spark, tiny_dir).toPandas()
    row = out[out.event_type == "a"].iloc[0]
    for c in ("re4q_e6", "im4q_e6", "re8q_e6", "im8q_e6"):
        assert abs(int(row[c])) <= 1


def test_tristimulus_shares(spark, tiny_dir):
    out = eq.q_doc_tristimulus(spark, tiny_dir).toPandas()
    r0 = out[out.doc_id == 0].iloc[0]  # tf 8,4,2,1,1,1: tot=17
    assert int(r0.t1_e6) == round(8 / 17 * 1e6)
    assert int(r0.t2_e6) == round(7 / 17 * 1e6)
    assert int(r0.t3_e6) == round(2 / 17 * 1e6)
    r1 = out[out.doc_id == 1].iloc[0]  # six terms, tf=1 each
    assert int(r1.t1_e6) == round(1 / 6 * 1e6)
    assert int(r1.t2_e6) == round(3 / 6 * 1e6)
    assert int(r1.t3_e6) == round(2 / 6 * 1e6)
    # shares sum to 1 (±1 µunit rounding) for every doc
    s = out.t1_e6 + out.t2_e6 + out.t3_e6
    assert ((s - 1_000_000).abs() <= 2).all()


def test_reassign_mass_conserved_and_centered(spark, tiny_dir):
    out = eq.q_events_reassign(spark, tiny_dir).toPandas()
    a = out[out.event_type == "a"]
    # 24 events, one per hour AT the hour start: centroid == own bucket
    assert int(a.mass.sum()) == 24
    assert int(a.moved_bins.sum()) == 0


def test_canonical_clusters_identical_docs(spark, tiny_dir):
    out = eq.q_dedup_canonical(spark, tiny_dir).toPandas()
    # docs 2,3,4 are byte-identical: one cluster with canon=2
    assert set(out.doc_id) == {2, 3, 4}
    assert (out.canon_id == 2).all()
    assert list(out.sort_values("doc_id").is_dup) == [0, 1, 1]


@pytest.fixture(scope="module")
def periodic_dir(tmp_path_factory):
    """Events whose hourly count series has a planted period of 4 hours
    (counts 5,1,1,1 repeating) for 32 hours — the NCF pitch target."""
    d = tmp_path_factory.mktemp("periodic_sf")
    base = 1_700_000_000 - (1_700_000_000 % 86400)
    rows = []
    eid = 0
    for h in range(32):
        n = 5 if h % 4 == 0 else 1
        for i in range(n):
            rows.append((eid, base + h * 3600 + i, 0, "p", 1.0, "{}"))
            eid += 1
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    ev["ts"] = pd.to_datetime(ev["ts"], unit="s").astype("datetime64[us]")
    ev.to_parquet(os.path.join(d, "events.parquet"), index=False)
    return str(d)


def test_ncf_flat_series_ties_to_smallest_lag(spark, tiny_dir):
    """Constant hourly counts: ncf(L) = 1 exactly at every lag, so the
    argmax tie-break must pick the smallest candidate lag."""
    res = eq.q_events_ncf_pitch(spark, tiny_dir).toPandas()
    row = res[res["event_type"] == "a"].iloc[0]
    assert int(row["pitch_lag"]) == min(eq._NCF_LAGS)
    assert int(row["ncf_e6"]) == 1_000_000


def test_ncf_detects_planted_period(spark, periodic_dir):
    res = eq.q_events_ncf_pitch(spark, periodic_dir).toPandas()
    assert int(res.iloc[0]["pitch_lag"]) == 4
    assert int(res.iloc[0]["ncf_e6"]) == 1_000_000  # exact periodic alignment


def test_wpt_haar_parseval(spark, tiny_dir):
    """Unnormalized Haar conserves energy ×2 per level when every pair is
    complete: a² + d² = 2(x₀² + x₁²). Type 'a' = 24 hours of count 1."""
    res = eq.q_events_wpt_rollup(spark, tiny_dir).toPandas()
    a_rows = res[res["event_type"] == "a"]
    sum_x2 = 24  # 24 hourly counts of 1
    l1 = a_rows[a_rows["level"] == 1]["energy"].sum()
    l2 = a_rows[a_rows["level"] == 2]["energy"].sum()
    assert int(l1) == 2 * sum_x2
    assert int(l2) == 4 * sum_x2
    # flat series: all detail energy is zero, everything in the 'a'/'aa' node
    assert int(a_rows[a_rows["node"] == "d"]["energy"].iloc[0]) == 0
    assert int(a_rows[a_rows["node"] == "aa"]["energy"].iloc[0]) == 4 * sum_x2


def test_synsq_mass_conserved(spark, tiny_dir):
    """Synchrosqueezing MOVES energy, never creates or destroys it: per
    scale, Σ mass over squeezed bins equals Σ y² over the response. Flat
    24-hour series: y = Σweights exactly on every full-support bin."""
    res = eq.q_events_synsq(spark, tiny_dir).toPandas()
    a_rows = res[res["event_type"] == "a"]
    for s in eq._SCALOGRAM_SCALES:
        n_full = 24 - 2 * s
        if n_full <= 0:
            continue
        y = (s + 1) ** 2  # Σ_{j} (s+1-|j|) · 1 = (s+1)²
        want = n_full * y * y
        got = int(a_rows[a_rows["scale"] == s]["mass"].sum())
        assert got == want, (s, got, want)


def test_swt_undecimated_coef_counts(spark, tiny_dir):
    """SWT's defining property: no decimation — level L keeps n - 2^(L-1)
    coefficients (vs the halving in the packet tree)."""
    res = eq.q_events_swt(spark, tiny_dir).toPandas()
    a_rows = res[res["event_type"] == "a"]
    for L in eq._SWT_LEVELS:
        row = a_rows[a_rows["level"] == L].iloc[0]
        assert int(row["n_coefs"]) == 24 - (1 << (L - 1))
        # flat series: zero detail energy, approx = (2x)² everywhere
        assert int(row["detail_energy"]) == 0
        assert int(row["approx_energy"]) == 4 * int(row["n_coefs"])


def test_stft_pitch_flat_series_ties_to_first_bin(spark, tiny_dir):
    """Flat hourly counts have (near-)zero power at every nonzero bin; the
    argmax tie-break lands on the smallest probe bin."""
    res = eq.q_events_stft_pitch(spark, tiny_dir).toPandas()
    row = res[res["event_type"] == "a"].iloc[0]
    assert int(row["pitch_bin"]) == min(eq._STFT_PITCH_BINS)


def test_pack_windows_conserves_tokens(spark):
    """Packing is a partition of the concatenated token stream: window token
    sums add up to the corpus total and window ids are contiguous."""
    sf = "/root/testdata/sf0.001"
    res = eq.q_doc_pack_windows(spark, sf).toPandas()
    total = eq.q_doc_lengths(spark, sf).toPandas()["doc_len"].sum()
    assert res["tokens"].sum() == total
    wids = res["window_id"].to_numpy()
    assert (wids == range(len(wids))).all()


def test_stratified_sample_deterministic(spark):
    sf = "/root/testdata/sf0.001"
    a = eq.q_doc_stratified_sample(spark, sf).toPandas()
    b = eq.q_doc_stratified_sample(spark, sf).toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert (a["n_kept"] <= a["n_total"]).all()
    assert (a["n_kept"] > 0).any()


def test_pef_detects_planted_period(spark, periodic_dir):
    """The comb taps at tau AND 2*tau both align with the planted 4-hour
    period, so PEF must pick lag 4 over the uncombed candidates."""
    res = eq.q_events_pef_pitch(spark, periodic_dir).toPandas()
    assert int(res.iloc[0]["pitch_lag"]) == 4


def test_timestretch_vocoder_invariants(spark):
    """rate = 1/2 phase-vocoder contract: every event type emits exactly
    2F steps; even steps (alpha = 0) carry the UN-interpolated analysis
    magnitude of frame k, and step 0 reproduces frame 0 exactly (seed
    phase, untouched magnitude)."""
    sf = "/root/testdata/sf0.001"
    fr = eq._frame_bin1(spark, sf).toPandas()
    res = eq.q_events_timestretch(spark, sf).toPandas()
    for et, g in res.groupby("event_type"):
        nf = (fr["event_type"] == et).sum()
        assert len(g) == 2 * nf
        f0 = fr[fr["event_type"] == et].sort_values("frame").iloc[0]
        s0 = g.sort_values("step").iloc[0]
        # step 0: psi = phi0, mag = |frame 0| -> out re/im == frame re/im
        assert abs(int(s0["out_re_e6"]) - int(f0["re_e6"])) <= 2
        assert abs(int(s0["out_im_e6"]) - int(f0["im_e6"])) <= 2
        # even steps: magnitude equals the analysis frame magnitude
        ev = g[g["step"] % 2 == 0].sort_values("step")
        mags = (
            fr[fr["event_type"] == et].sort_values("frame")
            .assign(m=lambda d: ((d["re_e6"] / 1e6) ** 2 + (d["im_e6"] / 1e6) ** 2) ** 0.5)
        )["m"].to_numpy()
        assert ((ev["mag_e6"].to_numpy() / 1e6 - mags) ** 2 < 1e-10).all()


def test_pitchshift_is_decimated_stretch(spark):
    """pitchShift = timeStretch(rate) then resample by the same factor
    (pitchShift_algorithm.c:66-75): the +12-semitone query must equal the
    stretched output at even steps with the step index halved."""
    sf = "/root/testdata/sf0.001"
    st = eq.q_events_timestretch(spark, sf).toPandas()
    ps = eq.q_events_pitchshift(spark, sf).toPandas()
    ev = st[st["step"] % 2 == 0].copy()
    ev["t"] = ev["step"] // 2
    merged = ps.merge(ev, on=["event_type", "t"], suffixes=("", "_st"))
    assert len(merged) == len(ps) > 0
    assert (merged["out_re_e6"] == merged["out_re_e6_st"]).all()
    assert (merged["out_im_e6"] == merged["out_im_e6_st"]).all()
