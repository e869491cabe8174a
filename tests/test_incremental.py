"""Incremental generations: rank-identity of (base + added snapshot) vs the
oracle over the FULL corpus, compaction of the generations, and the
Structured Streaming sink."""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pytest

from audioflux_spark.config import EngineConfig, IndexConfig
from audioflux_spark.operators.indexer import build_index, merge_segments
from audioflux_spark.operators.phrase import bm25_topk_phrase
from audioflux_spark.operators.wand import bm25_topk_indexed, bm25_topk_many
from audioflux_spark.oracle import BM25Oracle
from audioflux_spark.plans.checkpoint import load_manifest
from audioflux_spark.sources.segments import IndexReader
from audioflux_spark.streaming.incremental import (
    add_generation,
    compact_index,
    streaming_index_sink,
)
from tests.test_build_kill import _files
from tests.test_index_wand import assert_indexed_matches_oracle, inspect_cli
from tests.test_phrase import _brute_phrase_docs
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


def test_compaction_rank_identity(spark, transcripts_pdf, tmp_path_factory, oracle, queries):
    """Compacting a base and one generation writes the index a build of
    their partitions writes: rank-identical to the oracle, phrase queries
    included; a manifest listing every generation partition, which
    merge_segments re-merges byte for byte and the inspect CLI reads; and a
    base that takes a further generation and compacts again. An index in
    the old compacted layout is refused."""
    root = tmp_path_factory.mktemp("compact")
    base, out, out2 = (str(root / n) for n in ("idx", "compacted", "compacted2"))
    keys = sorted(transcripts_pdf["conv_id"].unique())
    half = len(keys) // 2
    first = transcripts_pdf[transcripts_pdf.conv_id.isin(keys[:half])]
    second = transcripts_pdf[transcripts_pdf.conv_id.isin(keys[half:])]
    cfg = EngineConfig(index=IndexConfig(block_size=32, build_partitions=4,
                                         store_positions=True))
    build_index(spark, spark.createDataFrame(first), base, cfg=cfg, resume=False)
    multi = add_generation(spark, spark.createDataFrame(second), base, cfg=cfg)
    assert len(multi.generations) == 2

    compacted = compact_index(spark, base, out, cfg=cfg)
    assert len(compacted.generations) == 1
    assert compacted.meta.n_docs == oracle.N
    assert abs(compacted.avgdl - oracle.avgdl) < 1e-9

    assert_indexed_matches_oracle(compacted, oracle, queries[:6])

    # phrase queries survive compaction (positions + block re-anchoring)
    toks = re.findall("[a-z0-9_]+", transcripts_pdf.iloc[0]["text"].lower())
    phrase_terms = toks[:2]
    want_docs = _brute_phrase_docs(transcripts_pdf, phrase_terms)
    got = bm25_topk_phrase(compacted, " ".join(phrase_terms), k=len(want_docs) + 50).toPandas()
    assert set(zip(got["conv_id"], got["turn_idx"].astype(int))) == want_docs

    # the build's layout: every generation partition, renumbered in order
    parts = [e for g in multi.generations for _, e in sorted(load_manifest(g.dir).entries.items())]
    entries = sorted(load_manifest(out).entries.items())
    assert [(e.n, e.input_fingerprint) for _, e in entries] == [
        (e.n, e.input_fingerprint) for e in parts
    ]
    assert len(compacted.meta.offsets) == sum(g.meta.n_partitions for g in multi.generations)

    info = inspect_cli(out)
    assert info["n_partitions_built"] == len(parts)
    assert info["totals"] == {
        k: sum(getattr(e, k) for e in parts) for k in ("terms", "postings", "bytes")
    }

    files = _files(out)
    merge_segments(spark, out, cfg)
    assert _files(out) == files

    # a generation on the compacted index, compacted again
    extra = transcripts_pdf[transcripts_pdf.conv_id.isin(keys[:3])].assign(
        conv_id=lambda d: d.conv_id + "-again"
    )
    add_generation(spark, spark.createDataFrame(extra), out, cfg=cfg)
    again = compact_index(spark, out, out2, cfg=cfg)
    oracle2 = BM25Oracle(pd.concat([transcripts_pdf, extra], ignore_index=True))
    assert again.meta.n_docs == oracle2.N
    assert_indexed_matches_oracle(again, oracle2, queries[:6])

    # an index compacted into the old layout (global docIDs in the docstore,
    # offsets [], encode_avgdl in its meta) is refused, not misread
    meta_path = os.path.join(out2, "meta.json")
    with open(meta_path) as f:
        raw = json.load(f)
    with open(meta_path, "w") as f:
        json.dump(dict(raw, offsets=[], encode_avgdl=raw["avgdl"]), f)
    with pytest.raises(RuntimeError, match="compact again"):
        IndexReader(spark, out2)


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
    build_index(spark, spark.createDataFrame(first), base, cfg=CFG, resume=False)
    multi = add_generation(spark, spark.createDataFrame(second), base, cfg=CFG)
    gen_dir = multi.generations[-1].dir
    os.remove(os.path.join(gen_dir, "meta.json"))  # simulate the crash

    # the reader contract: meta.json missing == generation incomplete
    with pytest.raises(FileNotFoundError):
        IndexReader(spark, base)

    # a resumed build of that generation completes it without rebuilding
    # finished partitions (manifest fingerprints all match)
    build_index(spark, spark.createDataFrame(second), gen_dir, cfg=CFG, resume=True)
    r = IndexReader(spark, base)
    assert len(r.generations) == 2
    assert r.n_docs == len(transcripts_pdf)
