"""Incremental generations: rank-identity of (base + added snapshot) vs the
oracle over the FULL corpus, and the Structured Streaming sink."""

from __future__ import annotations

import os

import pytest

from audioflux_spark.config import EngineConfig, IndexConfig
from audioflux_spark.operators.wand import bm25_topk_indexed, bm25_topk_many
from audioflux_spark.streaming.incremental import add_generation, streaming_index_sink
from audioflux_spark.operators.indexer import build_index
from audioflux_spark.sources.segments import IndexReader
from tests.test_index_wand import assert_indexed_matches_oracle
from tests.test_topk_exhaustive import assert_rank_identical

CFG = EngineConfig(index=IndexConfig(block_size=32, build_partitions=4))


@pytest.fixture(scope="module")
def split_corpus(transcripts_pdf):
    convs = sorted(transcripts_pdf["conv_id"].unique())
    # interleave so the new generation's conv_ids INTERLEAVE lexicographically
    # with the base's — the hard case for cross-generation tie-breaking
    half_a = set(convs[::2])
    a = transcripts_pdf[transcripts_pdf.conv_id.isin(half_a)]
    b = transcripts_pdf[~transcripts_pdf.conv_id.isin(half_a)]
    return a.reset_index(drop=True), b.reset_index(drop=True)


@pytest.fixture(scope="module")
def incr_reader(spark, split_corpus, tmp_path_factory):
    a, b = split_corpus
    d = str(tmp_path_factory.mktemp("incr") / "idx")
    build_index(spark, spark.createDataFrame(a), d, cfg=CFG)
    return add_generation(spark, spark.createDataFrame(b), d, cfg=CFG)


def test_generations_present(incr_reader):
    assert len(incr_reader.generations) == 2
    assert incr_reader.n_docs == sum(g.meta.n_docs for g in incr_reader.generations)


def test_incremental_rank_identity(incr_reader, oracle, queries):
    """Scores/ranks over base+generation must equal a full-corpus oracle, on
    the one-task path (which sums df across the generations' files itself)
    and on the sharded route 200-doc shards force."""
    assert_indexed_matches_oracle(incr_reader, oracle, queries)
    assert_indexed_matches_oracle(incr_reader, oracle, queries[:6], shard_docs=200)


def test_incremental_batch_path(incr_reader, oracle, queries):
    batch = [(q.query_id, q.query_text, q.k) for q in queries[:6]]
    res = bm25_topk_many(incr_reader, batch).toPandas()
    for qid, text, k in batch:
        got = (
            res[res.query_id == qid]
            .sort_values("rank")[["conv_id", "turn_idx", "score"]]
            .reset_index(drop=True)
        )
        want = oracle.topk(text, k)
        assert_rank_identical(got, want, context=f"incr batch {qid}")


def test_streaming_sink(spark, split_corpus, oracle, queries, tmp_path_factory):
    """availableNow micro-batches over a file stream → generations; results
    rank-identical to the oracle on everything streamed."""
    a, b = split_corpus
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "src")
    os.makedirs(src)
    d = str(root / "idx")
    ckpt = str(root / "ckpt")
    # seed base index with half A, stream in half B as one file
    build_index(spark, spark.createDataFrame(a), d, cfg=CFG)
    spark.createDataFrame(b).coalesce(1).write.parquet(os.path.join(src, "batch1"))

    q = streaming_index_sink(
        spark, os.path.join(src, "*"), d, ckpt, cfg=CFG, trigger_available_now=True
    )
    q.awaitTermination(120)
    reader = IndexReader(spark, d)
    assert len(reader.generations) >= 2
    sample = queries[0]
    got = bm25_topk_indexed(reader, sample.query_text, sample.k).toPandas()
    want = oracle.topk(sample.query_text, sample.k)
    assert_rank_identical(got, want, context="stream")
