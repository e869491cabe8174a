"""Round-6 optimization invariants: the rewrites that changed operator
internals each get a focused test pinning the equivalence the rewrite
relies on (beyond the full DuckDB-parity sweep in test_entry_contract)."""

from __future__ import annotations

import numpy as np
import pytest

import audioflux_spark.entry_queries as eq

SF_DIR = "/root/testdata/sf0.001"


def test_doc_lens_matches_doc_len_col(spark):
    """The _doc_lens spine (Σtf over the _doc_tf artifact, left-joined to
    the doc_id spine) must equal doc_len_col for every document — the
    invariant every r6 length-consumer swap rests on."""
    from audioflux_spark.functions.analyzer import doc_len_col
    from pyspark.sql import functions as F

    got = (
        eq._doc_lens(spark, SF_DIR)
        .toPandas()
        .set_index("doc_id")["len"]
        .sort_index()
    )
    want = (
        eq._docs(spark, SF_DIR)
        .select("doc_id", doc_len_col("text").cast("long").alias("len"))
        .toPandas()
        .set_index("doc_id")["len"]
        .sort_index()
    )
    assert got.equals(want)
    assert len(got) == eq._docs(spark, SF_DIR).count()  # token-less docs kept


def _brute_pairs(vec, tau):
    """Independent per-pair cosine (np.dot per pair — different summation
    order than the kernel's BLAS matmul) over the same bucketing."""
    exp = []
    for _, grp in vec.groupby("bucket"):
        grp = grp.sort_values("vec_id")
        ids = grp["vec_id"].to_numpy()
        X = np.stack(grp["embedding"].to_numpy()).astype(np.float64)
        nrm = np.sqrt((X * X).sum(axis=1))
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                c = float(np.dot(X[i], X[j])) / (nrm[i] * nrm[j])
                ce6 = int(np.floor(c * 1e6 + 0.5))
                if ce6 >= tau:
                    exp.append((int(ids[i]), int(ids[j]), ce6))
    return sorted(exp)


def test_emb_dup_pairs_match_bruteforce(spark):
    """The per-bucket Gram kernel must emit exactly the pairs an
    independent per-pair cosine finds (same τ filter, same rounding)."""
    reader = eq._ivf_reader(spark, SF_DIR)
    vec = reader.vectors.select("bucket", "vec_id", "embedding").toPandas()
    tau = int(eq.EMB_NEAR_DUP_TAU * 1e6)
    got = sorted(
        tuple(r)
        for r in eq._emb_dup_pairs(spark, SF_DIR)
        .toPandas()
        .itertuples(index=False)
    )
    assert got == _brute_pairs(vec, tau)
    assert len(got) > 0  # the fixture plants near-duplicates


def test_emb_dup_pairs_block_boundary(spark, monkeypatch):
    """Shrinking the Gram row-block below every bucket size must not change
    the pair set: blocks partition rows, the upper-triangle mask uses
    global indices, so boundary pairs appear exactly once."""
    big = eq._emb_dup_pairs(spark, SF_DIR).toPandas()
    monkeypatch.setattr(eq, "_GRAM_BLK", 7)
    small = eq._emb_dup_pairs(spark, SF_DIR).toPandas()
    key = ["vec_id_a", "vec_id_b", "cos_e6"]
    assert sorted(map(tuple, big[key].itertuples(index=False))) == sorted(
        map(tuple, small[key].itertuples(index=False))
    )


def test_doc_hps_array_fold_matches_window_rank(spark):
    """The array_sort fold must reproduce the (tf desc, term asc) rank
    order the old row_number window produced — re-derive doc_hps with an
    explicit window formulation and compare values."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    got = eq.queries()["doc_hps"](spark, SF_DIR).toPandas()

    tf = eq._doc_tf(spark, SF_DIR).select(
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


def test_simhash_tf_weighting_matches_occurrences(spark):
    """The tf-weighted bit sums must equal per-occurrence ±1 sums: rebuild
    the signature from the exploded token table and compare bands."""
    from pyspark.sql import functions as F

    got = eq.queries()["dedup_simhash"](spark, SF_DIR).toPandas()

    tok = (
        eq._doc_tokens(spark, SF_DIR)
        .withColumn("h1", F.md5("term"))
        .withColumn("h2", F.md5(F.concat(F.lit("simhash2|"), F.col("term"))))
    )

    def bit_src(b):
        col, off = ("h1", b) if b < 32 else ("h2", b - 32)
        return F.when(
            F.ascii(F.substring(col, off + 1, 1)) % 2 == 1, 1
        ).otherwise(-1)

    agg = tok.groupBy("doc_id").agg(
        *[F.sum(bit_src(b)).alias(f"s{b}") for b in range(eq.N_SIMHASH_BITS)]
    )
    bands = []
    for j in range(eq.SIMHASH_BANDS):
        v = None
        for i in range(16):
            b = 16 * j + i
            bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            v = bit if v is None else v + bit
        bands.append(v.cast("long").alias(f"sim{j}"))
    want = agg.select("doc_id", *bands).orderBy("doc_id").toPandas()
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_session_cache_evicts_on_corpus_change(spark, tmp_path):
    """Regenerating a corpus dir in place must invalidate the in-session
    cached subtrees (the r6 corpus-fingerprint key), not serve stale rows."""
    import shutil

    src = "/root/testdata/sf0.001"
    d = tmp_path / "corpus"
    d.mkdir()
    for f in ("documents.parquet",):
        shutil.copy(f"{src}/{f}", d / f)
    sf = str(d)
    first = eq._doc_lens(spark, sf)
    n1 = first.count()
    again = eq._doc_lens(spark, sf)
    assert again is first  # cache hit while the corpus is unchanged
    # regenerate in place: halve the corpus (different size => new fingerprint)
    import pandas as pd

    pdf = pd.read_parquet(d / "documents.parquet")
    pdf.iloc[: len(pdf) // 2].to_parquet(d / "documents.parquet", index=False)
    rebuilt = eq._doc_lens(spark, sf)
    assert rebuilt is not first
    assert rebuilt.count() == len(pdf) // 2 != n1


# ---- serving: tasks over the files a reader stamped at open ----


def test_serving_refuses_rebuilt_index(spark, transcripts_sdf, tmp_path):
    """A reader lists its files with their stamps at open; once the index
    directory is rebuilt under it, the next single query, batch or phrase
    query raises instead of reading the new files, and a reader opened
    afterwards serves again."""
    from audioflux_spark.config import EngineConfig, IndexConfig
    from audioflux_spark.operators.indexer import build_index
    from audioflux_spark.operators.phrase import bm25_topk_phrase
    from audioflux_spark.operators.wand import bm25_topk_indexed, bm25_topk_many
    from audioflux_spark.sources.segments import IndexReader

    d = str(tmp_path / "idx")
    cfg = EngineConfig(index=IndexConfig(store_positions=True))
    small = transcripts_sdf.limit(300)
    build_index(spark, small, d, cfg=cfg)
    reader = IndexReader(spark, d)
    want = bm25_topk_indexed(reader, "hotterm", 5).collect()
    assert want
    batch = [("a", "hotterm", 5), ("b", "tie hotterm", 3)]
    assert bm25_topk_many(reader, batch).collect()
    assert bm25_topk_phrase(reader, "hotterm", 5).collect()
    build_index(spark, small, d, cfg=cfg, resume=False)
    stale = "changed or vanished since its IndexReader opened"
    with pytest.raises(Exception, match=stale):
        bm25_topk_indexed(reader, "hotterm", 5).collect()
    with pytest.raises(Exception, match=stale):
        bm25_topk_many(reader, batch).collect()
    with pytest.raises(Exception, match=stale):
        bm25_topk_phrase(reader, "hotterm", 5).collect()
    assert bm25_topk_indexed(IndexReader(spark, d), "hotterm", 5).collect() == want
