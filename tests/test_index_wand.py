"""M2-M5: index build, blob integrity, block-max WAND rank-identity,
resume byte-identity (FIXTURES.md F5), per-turn text round-trip."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from audioflux_spark.config import DEFAULT, EngineConfig, IndexConfig
from audioflux_spark.functions.codec import delta_decode_segmented, varint_decode
from audioflux_spark.operators.indexer import build_index
from audioflux_spark.operators.topk import query_terms
from audioflux_spark.operators.wand import (
    DEFAULT_SHARD_DOCS,
    _serve_query,
    _task_items,
    _task_params,
    _top_with_ties,
    bm25_topk_indexed,
    bm25_topk_many,
)
from audioflux_spark.plans.checkpoint import load_manifest, save_manifest
from audioflux_spark.sources.segments import IndexReader
from tests.test_topk_exhaustive import assert_rank_identical

# 8 build partitions take the range merge, whose tasks read the partial
# files themselves; the exchange_build fixture passes its limit
CFG = EngineConfig(index=IndexConfig(block_size=32, build_partitions=8))


@pytest.fixture(scope="module")
def index_dir(spark, transcripts_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index") / "idx")
    build_index(spark, transcripts_sdf, d, cfg=CFG)
    return d


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


def test_meta_matches_oracle(reader, oracle):
    assert reader.meta.n_docs == oracle.N
    assert abs(reader.meta.avgdl - oracle.avgdl) < 1e-9


def test_segment_blobs_match_oracle_postings(reader, oracle):
    """Decode every segment blob for a sample of terms; the posting SET
    (doc keys, tf, dl) must equal the oracle's. Engine docIDs are
    hash-partition-relative, so compare through the docstore key mapping."""
    sample_terms = ["hotterm", "tie", "needle_unique_0", "needle_pair_0"]
    rows = {
        r["term"]: r
        for r in reader.segments.filter(
            reader.segments.term.isin(sample_terms)
        ).collect()
    }
    ds = reader.docstore.select("doc_id", "conv_id", "turn_idx").toPandas()
    # oracle index of each engine doc_id: oracle docs are key-rank ordered
    key_to_oracle = {
        (c, t): i for i, (c, t) in enumerate(zip(oracle.conv_id, oracle.turn_idx))
    }
    docid_to_oracle = np.full(len(ds), -1, dtype=np.int64)
    for did, c, t in zip(ds["doc_id"], ds["conv_id"], ds["turn_idx"]):
        docid_to_oracle[did] = key_to_oracle[(c, t)]
    assert (docid_to_oracle >= 0).all()  # docIDs are a 0..N-1 permutation

    for t in sample_terms:
        assert t in rows, f"term {t} missing from merged segments"
        r = rows[t]
        n = int(r["df"])
        gaps = varint_decode(bytes(r["doc_blob"]), n).astype(np.int64)
        got_docs = delta_decode_segmented(gaps, np.asarray(r["part_counts"]))
        got_tf = varint_decode(bytes(r["tf_blob"]), n).astype(np.int64)
        got_dl = varint_decode(bytes(r["dl_blob"]), n).astype(np.int64)
        got_oracle_ix = docid_to_oracle[got_docs]
        order = np.argsort(got_oracle_ix)
        want_docs, want_tf = oracle.postings[t]
        np.testing.assert_array_equal(got_oracle_ix[order], want_docs)
        np.testing.assert_array_equal(got_tf[order], want_tf.astype(np.int64))
        np.testing.assert_array_equal(
            got_dl[order], oracle.doc_len[want_docs].astype(np.int64)
        )


def test_hot_term_was_merged_from_many_partials(reader, index_dir, spark):
    partials = spark.read.parquet(os.path.join(index_dir, "segments_partial"))
    n = partials.filter(partials.term == "hotterm").count()
    assert n == CFG.index.build_partitions  # present in every partition
    merged = reader.segments.filter(reader.segments.term == "hotterm").count()
    assert merged == 1


# single queries at the edges of the serving path: k above the match count,
# a term absent from the index, alone and beside a present one
EDGE_QUERIES = [
    ("needle_unique_0", 50),
    ("needle_pair_0 needle_unique_1", 40),
    ("zzqx_absent_term", 10),
    ("hotterm zzqx_absent_term", 7),
]


def assert_indexed_matches_oracle(reader, oracle, queries, shard_docs=None):
    """bm25_topk_indexed over the reference queries and EDGE_QUERIES is
    rank-identical to the oracle; shard_docs below a generation's size
    spreads each query's doc ranges over several tasks and ranks their
    rows per query."""
    kw = {} if shard_docs is None else {"shard_docs": shard_docs}
    for text, k in [(q.query_text, q.k) for q in queries] + EDGE_QUERIES:
        got = bm25_topk_indexed(reader, text, k, **kw).toPandas()
        assert_rank_identical(got, oracle.topk(text, k), context=f"'{text}' k={k} {kw}")


def test_wand_rank_identity_all_queries(spark, reader, exchange_build, oracle, queries):
    """Every query, on the range-merged index and the exchange-merged one."""
    for r in (reader, IndexReader(spark, exchange_build[0])):
        assert_indexed_matches_oracle(r, oracle, queries)


def test_indexed_sharded_route_rank_identity(reader, oracle, queries):
    """With 200-doc shards, a single query's ranges span several tasks and
    a per-query rank merges their rows."""
    assert_indexed_matches_oracle(reader, oracle, queries[:6], shard_docs=200)


def _assert_wand_equals_exhaustive(reader, oracle, seed=123, trials=10):
    rng = np.random.default_rng(seed)
    vocab = sorted(oracle.postings.keys())
    for trial in range(trials):
        n_terms = int(rng.integers(1, 5))
        terms = [vocab[i] for i in rng.integers(0, len(vocab), n_terms)]
        qtext = " ".join(terms)
        k = int(rng.choice([3, 10, 50]))
        got = bm25_topk_indexed(reader, qtext, k).toPandas()
        want = oracle.topk(qtext, k)
        assert_rank_identical(got, want, context=f"random '{qtext}' k={k}")


def test_wand_equals_exhaustive_random_queries(reader, oracle):
    """Property (SURVEY §5/M4): WAND pruning == exhaustive scoring, random
    multi-term queries drawn from the corpus vocabulary."""
    _assert_wand_equals_exhaustive(reader, oracle)


def _assert_batch_matches_oracle(reader, oracle, queries):
    batch = [(q.query_id, q.query_text, q.k) for q in queries[:8]]
    res = bm25_topk_many(reader, batch).toPandas()
    for qid, text, k in batch:
        got = (
            res[res.query_id == qid]
            .sort_values("rank")[["conv_id", "turn_idx", "score"]]
            .reset_index(drop=True)
        )
        want = oracle.topk(text, k)
        assert_rank_identical(got, want, context=f"batch {qid}")


def test_batch_query_path(reader, oracle, queries):
    _assert_batch_matches_oracle(reader, oracle, queries)


def test_skewed_partition_avgdl_rank_identity(spark, transcripts_pdf, queries, tmp_path_factory):
    """Build partitions whose mean turn lengths differ several-fold: each
    partial's block maxes are encoded under its own avgdl, far from the
    corpus avgdl, and the merge widens them by max(1, avgdl / avgdl_pid).
    The bounds stay safe and scoring exact: WAND == exhaustive, and single
    (also over 200-doc shards), batch and phrase queries are rank-identical
    to the oracle."""
    from audioflux_spark.oracle import BM25Oracle
    from audioflux_spark.operators.phrase import bm25_topk_phrase

    pdf = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # createDataFrame slices the rows into contiguous partitions, each a
    # build partition: long turns in some slices, two-word turns in others
    part = np.arange(len(pdf)) * 8 // len(pdf)
    pdf["text"] = [
        " ".join([t] * 6) if j % 3 == 0 else " ".join(t.split()[:2]) if j % 3 == 1 else t
        for t, j in zip(pdf["text"], part)
    ]
    d = str(tmp_path_factory.mktemp("skewed") / "idx")
    cfg = EngineConfig(
        index=IndexConfig(block_size=32, build_partitions=4, store_positions=True)
    )
    build_index(spark, spark.createDataFrame(pdf), d, cfg=cfg)
    reader = IndexReader(spark, d)
    oracle = BM25Oracle(pdf)
    assert reader.meta.n_docs == oracle.N
    assert abs(reader.meta.avgdl - oracle.avgdl) < 1e-9
    part_avgdl = [e.avgdl for e in load_manifest(d).entries.values()]
    assert len(part_avgdl) >= 4
    assert max(part_avgdl) / oracle.avgdl > 2 and oracle.avgdl / min(part_avgdl) > 2

    _assert_wand_equals_exhaustive(reader, oracle, seed=7, trials=12)
    assert_indexed_matches_oracle(reader, oracle, queries)
    assert_indexed_matches_oracle(reader, oracle, queries[:6], shard_docs=200)
    _assert_batch_matches_oracle(reader, oracle, queries)

    from audioflux_spark.functions.analyzer import tokenize_series

    toks = [" ".join(t) for t in tokenize_series(pdf["text"])]
    assert (oracle.conv_id == pdf["conv_id"].to_numpy()).all()  # oracle docs = rows
    for row in (0, len(pdf) * 3 // 16):  # a long-turn and a two-word-turn slice
        phrase = " ".join(toks[row].split()[:2])
        assert len(query_terms(phrase)) == 2, phrase
        scores = oracle.score_query(phrase)
        hits = [i for i, t in enumerate(toks) if f" {phrase} " in f" {t} "]
        order = sorted(hits, key=lambda i: (-scores[i], i))[:10]
        want = pd.DataFrame({
            "conv_id": oracle.conv_id[order],
            "turn_idx": oracle.turn_idx[order].astype(np.int32),
            "score": scores[order],
        })
        for shard_docs in (DEFAULT_SHARD_DOCS, 200):
            got = bm25_topk_phrase(reader, phrase, 10, shard_docs=shard_docs).toPandas()
            assert_rank_identical(got, want, context=f"phrase '{phrase}' {shard_docs}")


def test_batch_rejects_duplicate_query_ids(reader):
    """Rows are ranked per query_id, so a batch repeating one is refused
    up front in both plan shapes (whole queries per task, or doc ranges
    merged by the per-query rank)."""
    batch = [("a", "hotterm", 3), ("a", "tie", 3)]
    for shard_docs in (DEFAULT_SHARD_DOCS, 200):
        with pytest.raises(ValueError, match="duplicate query_id"):
            bm25_topk_many(reader, batch, shard_docs)


def serve_locally(params: dict, task: int) -> list[dict]:
    """The rows serving task number ``task`` returns for ``params`` (built
    by _task_params), run in this process."""
    import pyarrow as pa

    batch = pa.RecordBatch.from_pydict({"id": [task], "params": [json.dumps(params)]})
    return [r for b in _serve_query([batch]) for r in b.to_pylist()]


def test_batch_rows_equal_single_query_rows(reader, queries):
    """Each query's rows inside a 24-query batch spread over several tasks
    equal its single-query rows (same rows, same order), whether a task
    owns whole queries or, with 200-doc shards, doc ranges of every
    query."""
    batch = [(q.query_id, q.query_text, q.k) for q in queries]
    assert len(batch) == 24
    for shard_docs in (DEFAULT_SHARD_DOCS, 200):
        params, _ = _task_params(
            reader, [(qid, query_terms(text), k, False) for qid, text, k in batch],
            shard_docs, reader.spark.sparkContext.defaultParallelism,
        )
        assert params["n_tasks"] > 1
        rows = bm25_topk_many(reader, batch, shard_docs).collect()
        for qid, text, k in batch:
            mine = sorted((r for r in rows if r["query_id"] == qid), key=lambda r: r["rank"])
            assert [r["rank"] for r in mine] == list(range(len(mine)))
            got = [(r["conv_id"], r["turn_idx"], r["score"]) for r in mine]
            want = [tuple(r) for r in bm25_topk_indexed(reader, text, k, shard_docs).collect()]
            assert got == want, (text, shard_docs)


def test_wide_batch_in_one_task_rank_identity(reader, oracle):
    """A batch served by ONE task whose queries hold more than 64 distinct
    terms (the task's term filter is then isin, not an OR of equalities),
    and a single query of more than 64 terms through Spark, both
    rank-identical to the oracle."""
    vocab = sorted(oracle.postings)
    rng = np.random.default_rng(64)
    batch = [
        (f"w{i}", [vocab[j] for j in rng.choice(len(vocab), 8, replace=False)], k, False)
        for i, k in enumerate([3, 10, 50, 10, 10, 1, 10, 20, 10, 5])
    ]
    assert len({t for _, terms, _, _ in batch for t in terms}) > 64
    params, spans = _task_params(reader, batch, DEFAULT_SHARD_DOCS, n_tasks=1)
    assert params["n_tasks"] == 1 and not spans
    rows = serve_locally(params, 0)
    for qid, terms, k, _ in batch:
        mine = [r for r in rows if r["query_id"] == qid]
        assert [r["rank"] for r in mine] == list(range(len(mine)))
        got = pd.DataFrame(
            [(r["conv_id"], r["turn_idx"], r["score"]) for r in mine],
            columns=["conv_id", "turn_idx", "score"],
        )
        text = " ".join(terms)
        assert_rank_identical(got, oracle.topk(text, k), context=f"one-task '{text}' k={k}")

    text = " ".join(vocab[j] for j in rng.choice(len(vocab), 70, replace=False))
    got = bm25_topk_indexed(reader, text, 25).toPandas()
    assert_rank_identical(got, oracle.topk(text, 25), context="70-term query")


def test_top_with_ties_keeps_whole_kth_tie_group():
    """The one tie cut (WAND kernel, phrase items): the k best by
    (score desc, doc_id asc), then every further doc tying the k-th score,
    never a doc below it — against a sorted-list reference."""
    rng = np.random.default_rng(7)
    for _ in range(200):
        n = int(rng.integers(0, 40))
        doc_ids = rng.permutation(1000)[:n].astype(np.int64)
        scores = rng.integers(0, 5, n).astype(np.float64)  # many ties
        k = int(rng.integers(1, 12))
        ref = sorted(zip((-scores).tolist(), doc_ids.tolist()))
        if len(ref) > k:
            ref = [r for r in ref if r[0] <= ref[k - 1][0]]
        got_d, got_s = _top_with_ties(doc_ids, scores, k)
        assert list(zip((-got_s).tolist(), got_d.tolist())) == ref


def test_task_items_partition_every_item_once():
    """Every (query, range) item goes to exactly one task: tasks own whole
    queries when each generation is one range, else runs of ranges."""
    queries = [[f"q{i}", ["t"], 5, False] for i in range(7)]
    for ranges, whole in (([[0, 0, 10], [1, 0, 4]], True),
                          ([[0, lo, lo + 3] for lo in range(0, 30, 3)], False)):
        for n in range(1, 12):
            p = {"queries": queries, "ranges": ranges, "whole": whole,
                 "n_tasks": min(n, len(queries if whole else ranges))}
            items = [
                (q[0], tuple(r)) for t in range(p["n_tasks"]) for q, r in _task_items(p, t)
            ]
            want = [(q[0], tuple(r)) for q in queries for r in ranges]
            assert sorted(items) == sorted(want), (whole, n)
            if whole:  # a query's items never span tasks
                owner = {}
                for t in range(p["n_tasks"]):
                    for q, _ in _task_items(p, t):
                        assert owner.setdefault(q[0], t) == t


def test_per_turn_text_roundtrip(reader, transcripts_pdf):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering after index → docstore round-trip."""
    got = (
        reader.docstore.select("doc_id", "seg_id", "conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        transcripts_pdf[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    # per-turn text equality under the stable key order
    pd.testing.assert_frame_equal(got[["conv_id", "turn_idx", "text"]], want)
    # docIDs are a dense permutation, key-ordered within each partition
    ids = np.sort(got["doc_id"].to_numpy())
    assert (ids == np.arange(len(want))).all()
    for _seg, grp in got.groupby("seg_id"):
        d = grp.sort_values(["conv_id", "turn_idx"])["doc_id"].to_numpy()
        assert (np.diff(d) == 1).all(), "doc_id not key-contiguous within partition"


def test_manifest_lineage(index_dir, oracle):
    m = load_manifest(index_dir)
    assert len(m.entries) == CFG.index.build_partitions
    for e in m.entries.values():
        assert e.status == "done"
        assert e.postings > 0 and e.bytes > 0 and e.terms > 0
        assert e.input_fingerprint.split(":")[0] == str(e.n)
        assert e.avgdl == e.tokens / e.n
        assert 0 < e.skew_ratio < 10
    assert sum(e.n for e in m.entries.values()) == oracle.N


def inspect_cli(index_dir: str) -> dict:
    """scripts/index_inspect_cli.inspect over index_dir."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "index_inspect_cli",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "index_inspect_cli.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.inspect(index_dir)


def test_index_inspect_cli(index_dir):
    """The observability CLI surfaces the manifest + meta faithfully: totals
    equal the manifest sums, every partition row carries the lineage fields,
    and a complete index reports no incomplete partitions."""
    out = inspect_cli(index_dir)
    m = load_manifest(index_dir)
    assert out["n_partitions_built"] == len(m.entries)
    assert out["incomplete_partitions"] == []
    assert out["totals"]["postings"] == sum(e.postings for e in m.entries.values())
    assert out["totals"]["bytes"] == sum(e.bytes for e in m.entries.values())
    assert out["meta"]["n_partitions"] == CFG.index.build_partitions
    assert out["meta"]["n_docs"] > 0 and out["meta"]["avgdl"] > 0
    offs = [p["doc_offset"] for p in out["partitions"]]
    assert offs == sorted(offs) and offs[0] == 0
    ns = [p["n"] for p in out["partitions"]]
    assert offs[1:] == np.cumsum(ns)[:-1].tolist()
    assert sum(p["tokens"] for p in out["partitions"]) == out["meta"]["total_tokens"]
    assert all(p["avgdl"] > 0 for p in out["partitions"])


def _segset(spark, d):
    rows = (
        spark.read.parquet(os.path.join(d, "segments"))
        .select("term", "df", "doc_blob", "tf_blob", "dl_blob")
        .collect()
    )
    return {
        r["term"]: (r["df"], bytes(r["doc_blob"]), bytes(r["tf_blob"]), bytes(r["dl_blob"]))
        for r in rows
    }


def test_resume_byte_identical(spark, transcripts_sdf, index_dir, tmp_path_factory):
    """F5: truncate the manifest + delete half the partial partitions; the
    resumed build must only rebuild those and produce blob-identical merged
    segments."""
    d2 = str(tmp_path_factory.mktemp("index_resume") / "idx")
    shutil.copytree(index_dir, d2)
    m = load_manifest(d2)
    killed = sorted(m.entries)[: len(m.entries) // 2]
    for pid in killed:
        del m.entries[pid]
        shutil.rmtree(os.path.join(d2, "segments_partial", f"seg_id={pid}"))
        shutil.rmtree(os.path.join(d2, "docstore", f"seg_id={pid}"))
    save_manifest(d2, m)
    kept = [p for p in sorted(load_manifest(index_dir).entries) if p not in killed]
    mtimes_before = {
        p: os.path.getmtime(os.path.join(d2, "segments_partial", f"seg_id={p}"))
        for p in kept
    }

    build_index(spark, transcripts_sdf, d2, cfg=CFG, resume=True)

    # kept partitions must NOT have been rewritten (true resume, not rebuild)
    for p in kept:
        assert (
            os.path.getmtime(os.path.join(d2, "segments_partial", f"seg_id={p}"))
            == mtimes_before[p]
        ), f"partition {p} was rebuilt despite valid checkpoint"

    assert _segset(spark, d2) == _segset(spark, index_dir)
    m2 = load_manifest(d2)
    assert len(m2.entries) == CFG.index.build_partitions


def test_manifest_lineage_matches_partials(spark, index_dir):
    """Manifest terms / postings / bytes per partition equal an aggregation
    of the partial segments as they sit on disk."""
    from pyspark.sql import functions as F

    def total(col):
        return F.aggregate(col, F.lit(0).cast("long"), lambda a, x: a + x)

    rows = (
        spark.read.parquet(os.path.join(index_dir, "segments_partial"))
        .groupBy("seg_id")
        .agg(
            F.count(F.lit(1)).alias("terms"),
            F.sum("df").alias("postings"),
            F.sum(
                total("block_doc_bytes") + total("block_tf_bytes") + total("block_dl_bytes")
            ).alias("bytes"),
        )
        .collect()
    )
    want = {int(r["seg_id"]): (r["terms"], r["postings"], r["bytes"]) for r in rows}
    m = load_manifest(index_dir)
    got = {pid: (e.terms, e.postings, e.bytes) for pid, e in m.entries.items()}
    assert got == want


def _partition_batch(pdf: pd.DataFrame, pid: int):
    """One partition's rows as the partials job ships them to its task (h
    stands in for the JVM row hash)."""
    import pyarrow as pa

    tbl = pa.Table.from_pandas(
        pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]], preserve_index=False
    )
    tbl = tbl.add_column(0, "h", pa.array(np.arange(len(pdf), dtype=np.int64) * 7919))
    return tbl.add_column(0, "pid", pa.array([pid] * len(pdf), pa.int32())).to_batches()[0]


def _lineage_entry(batches):
    """The manifest entry of a partial task's one lineage row."""
    from audioflux_spark.plans.checkpoint import PartitionEntry

    (batch,) = batches
    (row,) = batch.to_pylist()
    return PartitionEntry(**json.loads(row["entry"]))


def test_partial_writer_rewrite_byte_identical(tmp_path, transcripts_pdf):
    """A retried partial task rewrites the same files: one docstore file, its
    fingerprint marker and one partial file, the same bytes and lineage, and
    no temporary files left behind; before writing it unpublishes the merged segments/. Given
    its own lineage as the manifest's entry, the task returns that row and
    writes and unpublishes nothing."""
    from audioflux_spark.operators import indexer

    batch = _partition_batch(transcripts_pdf.head(300), 3)
    entries = {}
    write = indexer._make_partial_writer(
        indexer._make_segment_fn(CFG), entries, str(tmp_path), 4
    )
    lineage, data = [], []
    for i in range(3):
        if i == 2:  # the third call finds the partition recorded
            entries[3] = lineage[0]
        os.makedirs(tmp_path / "segments", exist_ok=True)
        lineage.append(_lineage_entry(list(write(iter([batch])))))
        assert os.path.isdir(tmp_path / "segments") == (i == 2)
        files = []
        for sub, extra in (("docstore", ["_fingerprint"]), ("segments_partial", [])):
            seg_dir = tmp_path / sub / "seg_id=3"
            assert sorted(os.listdir(seg_dir)) == extra + ["part-00000.parquet"]
            files.append(
                ((seg_dir / "part-00000.parquet").read_bytes(),
                 os.stat(seg_dir / "part-00000.parquet").st_mtime_ns)
            )
        data.append(files)
    assert [f[0] for f in data[0]] == [f[0] for f in data[1]]
    assert data[2] == data[1]
    assert lineage[0] == lineage[1] == lineage[2]
    e = lineage[0]
    assert e.partition_id == 3 and e.terms > 0 and e.postings >= e.terms
    assert e.n == 300 and e.avgdl == e.tokens / 300
    assert e.output_path == "segments_partial/seg_id=3" and len(e.term_splits) == 3
    h = np.bitwise_xor.reduce(np.arange(300, dtype=np.int64) * 7919)
    assert e.input_fingerprint == f"300:{h}"
    assert (tmp_path / "docstore" / "seg_id=3" / "_fingerprint").read_text() == e.input_fingerprint
    docs = pd.read_parquet(tmp_path / "docstore" / "seg_id=3")
    assert docs["doc_id"].tolist() == list(range(300))
    assert docs["conv_id"].tolist() == transcripts_pdf["conv_id"].head(300).tolist()
    assert int(docs["doc_len"].sum()) == e.tokens


def test_partial_writer_tokenless_partition(tmp_path, transcripts_pdf):
    """A partition without a single token still gets its docstore file
    (doc_len 0 on every row) and a lineage row without terms, but no
    partial file."""
    from audioflux_spark.operators import indexer

    pdf = transcripts_pdf.head(4).assign(text=["", "!!", " - ", None])
    write = indexer._make_partial_writer(
        indexer._make_segment_fn(CFG), {}, str(tmp_path), 4
    )
    e = _lineage_entry(list(write(iter([_partition_batch(pdf, 1)]))))
    assert (e.n, e.tokens, e.terms, e.term_splits) == (4, 0, 0, [])
    docs = pd.read_parquet(tmp_path / "docstore" / "seg_id=1" / "part-00000.parquet")
    assert docs["doc_id"].tolist() == [0, 1, 2, 3]
    assert docs["doc_len"].tolist() == [0, 0, 0, 0]
    assert not os.path.exists(tmp_path / "segments_partial")


def test_docstore_doc_len_matches_token_stats(spark, reader):
    """total_tokens is the sum of the partials kernel's token counts (its
    lineage), which also gives the docstore's doc_len; the registry's JVM
    token count (doc_len_col) must agree with it on every row, and the
    docstore with the meta on the total."""
    from pyspark.sql import functions as F

    from audioflux_spark.functions.analyzer import doc_len_col

    ds = reader.docstore
    assert ds.agg(F.sum("doc_len")).first()[0] == reader.meta.total_tokens
    assert ds.filter(F.col("doc_len") != doc_len_col("text", CFG.analyzer)).count() == 0


def test_resume_after_killed_partial_task(
    spark, transcripts_sdf, index_dir, tmp_path_factory, oracle, queries
):
    """A partial task killed between its two writes leaves a docstore file
    (and a writer's temporary file) but no partial file and no manifest
    entry: the resume rebuilds that partition and the docstore holds each
    document exactly once."""
    from pyspark.sql import functions as F

    d2 = str(tmp_path_factory.mktemp("killed_partial") / "idx")
    shutil.copytree(index_dir, d2)
    m = load_manifest(d2)
    pid = sorted(m.entries)[1]
    del m.entries[pid]
    save_manifest(d2, m)
    shutil.rmtree(os.path.join(d2, "segments_partial", f"seg_id={pid}"))
    seg_docs = os.path.join(d2, "docstore", f"seg_id={pid}")
    with open(os.path.join(seg_docs, ".part-00000.parquet.0.tmp"), "wb") as f:
        f.write(b"half-written")

    build_index(spark, transcripts_sdf, d2, cfg=CFG, resume=True)
    assert sorted(os.listdir(seg_docs)) == ["_fingerprint", "part-00000.parquet"]
    assert pid in load_manifest(d2).entries
    assert _segset(spark, d2) == _segset(spark, index_dir)
    reader = IndexReader(spark, d2)
    ds = reader.docstore
    assert ds.count() == oracle.N
    assert ds.select("conv_id", "turn_idx").distinct().count() == oracle.N
    assert ds.agg(F.countDistinct("doc_id")).first()[0] == oracle.N
    for q in queries[:6]:
        got = bm25_topk_indexed(reader, q.query_text, q.k).toPandas()
        assert_rank_identical(got, oracle.topk(q.query_text, q.k), context=q.query_id)


def test_index_without_row_counts_is_refused_then_rebuilt(
    spark, transcripts_sdf, index_dir, tmp_path
):
    """Manifest entries without a row count come from builds whose docstore
    files held global docIDs: a reader refuses such an index instead of
    mapping its keys as local rows, and a resumed build rebuilds every
    partition of it."""
    from audioflux_spark.plans.checkpoint import manifest_path

    d2 = str(tmp_path / "idx")
    shutil.copytree(index_dir, d2)
    with open(manifest_path(d2)) as f:
        raw = json.load(f)
    for e in raw["entries"].values():
        for k in ("n", "tokens", "avgdl"):
            del e[k]
    with open(manifest_path(d2), "w") as f:
        json.dump(raw, f)
    with pytest.raises(RuntimeError, match="partition-local"):
        IndexReader(spark, d2)

    partial = os.path.join(d2, "segments_partial", "seg_id=0", "part-00000.parquet")
    before = os.stat(partial).st_mtime_ns
    build_index(spark, transcripts_sdf, d2, cfg=CFG, resume=True)
    assert os.stat(partial).st_mtime_ns != before
    assert _segset(spark, d2) == _segset(spark, index_dir)
    assert IndexReader(spark, d2).meta == IndexReader(spark, index_dir).meta


def test_declared_schemas_match_written_files(spark, index_dir):
    """Readers pass MERGED_SCHEMA / DOCSTORE_SCHEMA instead of inferring;
    they must describe what the writers produce. Partial files hold merged
    rows, partitioned by seg_id."""
    from audioflux_spark.operators.indexer import DOCSTORE_SCHEMA, MERGED_SCHEMA

    for sub, declared in (
        ("segments_partial", "seg_id int, " + MERGED_SCHEMA),
        ("segments", MERGED_SCHEMA),
        ("docstore", DOCSTORE_SCHEMA),
    ):
        inferred = spark.read.parquet(os.path.join(index_dir, sub)).schema
        want = spark.createDataFrame([], declared).schema
        assert {f.name: f.dataType for f in inferred} == {
            f.name: f.dataType for f in want
        }, sub


@pytest.mark.parametrize("lost", ["none", "half"])
def test_resume_after_unpublished_merge(
    spark, transcripts_sdf, index_dir, tmp_path_factory, monkeypatch, oracle, queries, lost
):
    """A build killed after its partials but before its merge is published
    leaves no segments/ (a stale one is unpublished first); the resumed build
    merges again, blob- and rank-identical to an uninterrupted build.
    lost="none": a fresh build killed mid-merge; "half": a resume that was
    rebuilding half the partitions of a complete index."""
    from audioflux_spark.operators import indexer

    d2 = str(tmp_path_factory.mktemp(f"unpublished_{lost}") / "idx")
    if lost == "half":
        shutil.copytree(index_dir, d2)
        m = load_manifest(d2)
        for pid in sorted(m.entries)[: len(m.entries) // 2]:
            del m.entries[pid]
            shutil.rmtree(os.path.join(d2, "segments_partial", f"seg_id={pid}"))
            shutil.rmtree(os.path.join(d2, "docstore", f"seg_id={pid}"))
        save_manifest(d2, m)

    class Killed(Exception):
        pass

    def killed(staging, out_dir):
        assert os.listdir(staging), "merge killed before it wrote its ranges"
        raise Killed

    monkeypatch.setattr(indexer, "_publish", killed)
    with pytest.raises(Killed):
        build_index(spark, transcripts_sdf, d2, cfg=CFG, resume=(lost == "half"))
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(d2, "segments"))
    assert len(load_manifest(d2).entries) == CFG.index.build_partitions

    build_index(spark, transcripts_sdf, d2, cfg=CFG, resume=True)
    assert _segset(spark, d2) == _segset(spark, index_dir)
    reader = IndexReader(spark, d2)
    for q in queries[:6]:
        got = bm25_topk_indexed(reader, q.query_text, q.k).toPandas()
        assert_rank_identical(got, oracle.topk(q.query_text, q.k), context=q.query_id)


def test_empty_build_opens_as_empty_index(spark, transcripts_sdf, tmp_path_factory):
    """A build whose merge writes no files still publishes segments/, and
    the declared-schema readers open it as an empty index."""
    d = str(tmp_path_factory.mktemp("empty") / "idx")
    meta = build_index(spark, transcripts_sdf.limit(0), d, cfg=CFG)
    assert meta.n_docs == 0
    assert os.listdir(os.path.join(d, "segments")) == []
    reader = IndexReader(spark, d)
    assert reader.segments.count() == 0 and reader.docstore.count() == 0
    assert bm25_topk_indexed(reader, "hotterm", 5).count() == 0


def _segment_table(d):
    """Every merged row of the index at d, all MERGED_SCHEMA columns, by term."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    from audioflux_spark.operators.indexer import _segment_fields

    schema = pa.schema(_segment_fields())
    return pads.dataset(os.path.join(d, "segments"), schema=schema).to_table().sort_by("term")


def _build_jobs(spark, transcripts, d) -> list[int]:
    """Build a fresh index with CFG at d; the ids of the jobs it launched."""
    sc = spark.sparkContext
    group = f"afspark-fresh-build-{d}"
    sc.setJobGroup(group, "fresh build")
    try:
        build_index(spark, transcripts, d, cfg=CFG, resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def exchange_build(spark, transcripts_sdf, tmp_path_factory):
    """(index dir, job ids) of a fresh build from more scan splits than the
    range merge reads, which is how real inputs pass its limit: it merges
    through the exchange."""
    from audioflux_spark.operators.indexer import _RANGE_MERGE_MAX_PARTIALS

    d = str(tmp_path_factory.mktemp("exchange") / "idx")
    jobs = _build_jobs(spark, transcripts_sdf.repartition(_RANGE_MERGE_MAX_PARTIALS + 1), d)
    assert len(load_manifest(d).entries) == _RANGE_MERGE_MAX_PARTIALS + 1
    return d, jobs


def test_range_merge_matches_exchange(spark, index_dir, exchange_build, tmp_path):
    """The range merge and the exchange merge (used past the range merge's
    limit), each reading the partial
    files through the same shift, give identical rows in every column,
    part_counts and block lists included: for the range-merged index and
    for the exchange-merged one."""
    from audioflux_spark.operators.indexer import (
        _exchange_merge,
        _partial_inputs,
        _range_bounds,
        _range_merge,
    )

    exchanged = str(tmp_path / "exchanged")
    shutil.copytree(index_dir, exchanged)
    _exchange_merge(spark, exchanged, _partial_inputs(exchanged, load_manifest(exchanged).entries), 8)

    ranged = str(tmp_path / "ranged")
    shutil.copytree(exchange_build[0], ranged)
    m = load_manifest(ranged)
    _range_merge(spark, ranged, _partial_inputs(ranged, m.entries), _range_bounds(m.entries.values(), 8))

    for got_dir, want_dir in ((index_dir, exchanged), (ranged, exchange_build[0])):
        got, want = _segment_table(got_dir), _segment_table(want_dir)
        assert got.num_rows == want.num_rows > 0
        for name in want.column_names:
            assert got.column(name).equals(want.column(name)), (got_dir, name)


def test_range_merge_deterministic_layout(spark, transcripts_sdf, index_dir, tmp_path):
    """Term ranges come from the manifest's splits, not from a random
    sample: two fresh builds write byte-identical segments/ files, and the
    files hold disjoint, increasing term ranges."""
    import pyarrow.parquet as pq

    d2 = str(tmp_path / "idx")
    build_index(spark, transcripts_sdf, d2, cfg=CFG, resume=False)
    files = sorted(os.listdir(os.path.join(index_dir, "segments")))
    assert sorted(os.listdir(os.path.join(d2, "segments"))) == files
    assert len(files) > 1
    ranges = []
    for f in files:
        a, b = (os.path.join(x, "segments", f) for x in (index_dir, d2))
        with open(a, "rb") as fa, open(b, "rb") as fb:
            assert fa.read() == fb.read(), f
        terms = pq.read_table(b, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(set(terms)), f
        ranges.append((terms[0], terms[-1]))
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo


def test_range_merge_grouped_tasks_same_files(index_dir, tmp_path):
    """With fewer merge tasks than term ranges (fewer cores than
    build_partitions), each task reads the partial files once and writes
    several ranges: the files are byte-identical to one task per range."""
    import pyarrow as pa

    from audioflux_spark.operators.indexer import (
        _make_range_merge,
        _partial_inputs,
        _range_bounds,
    )

    entries = load_manifest(index_dir).entries
    bounds = _range_bounds(entries.values(), CFG.index.build_partitions)
    assert len(bounds) + 1 > 3
    merge = _make_range_merge(_partial_inputs(index_dir, entries), bounds, str(tmp_path), 3)
    for g in range(3):
        list(merge(iter([pa.RecordBatch.from_pydict({"id": [g]})])))
    want = os.path.join(index_dir, "segments")
    assert sorted(os.listdir(tmp_path)) == sorted(os.listdir(want))
    for f in os.listdir(want):
        with open(tmp_path / f, "rb") as a, open(os.path.join(want, f), "rb") as b:
            assert a.read() == b.read(), f


def test_range_merge_without_manifest_splits(spark, index_dir, tmp_path):
    """A manifest written before splits were recorded (no term_splits key in
    any entry) still merges, standalone, to the same term -> blob set."""
    from audioflux_spark.operators.indexer import merge_segments
    from audioflux_spark.plans.checkpoint import manifest_path

    d2 = str(tmp_path / "idx")
    shutil.copytree(index_dir, d2)
    with open(manifest_path(d2)) as f:
        raw = json.load(f)
    for e in raw["entries"].values():
        assert e.pop("term_splits")
    with open(manifest_path(d2), "w") as f:
        json.dump(raw, f)
    assert all(e.term_splits == [] for e in load_manifest(d2).entries.values())

    merge_segments(spark, d2, CFG)
    assert _segset(spark, d2) == _segset(spark, index_dir)


def test_exchange_build_records_no_splits(index_dir, exchange_build):
    """Splits are recorded only when the range merge will read them: past
    its limit the build merges through the exchange, and the manifest would
    otherwise grow as partitions x ranges."""
    assert all(e.term_splits == [] for e in load_manifest(exchange_build[0]).entries.values())
    assert all(e.term_splits for e in load_manifest(index_dir).entries.values())


def test_range_merge_without_manifest_refuses(spark, index_dir, tmp_path):
    """The range merge takes its files from the manifest: partial
    segments that no manifest lists are an error, not an index merged from
    a directory listing."""
    from audioflux_spark.operators.indexer import merge_segments
    from audioflux_spark.plans.checkpoint import manifest_path

    d2 = str(tmp_path / "idx")
    shutil.copytree(index_dir, d2)
    os.remove(manifest_path(d2))
    with pytest.raises(FileNotFoundError, match="manifest"):
        merge_segments(spark, d2, CFG)
    assert sorted(os.listdir(os.path.join(d2, "segments"))) == sorted(
        os.listdir(os.path.join(index_dir, "segments"))
    )


# jobs a fresh range-merge build launches under AQE. Its input (one cached
# partition) has fewer partitions than CFG builds, so the build repartitions
# it: that shuffle's map stage (1), the partials job, the one pass over the
# text, writing docstore and partial files and returning lineage with term
# splits (1), and the merge job whose tasks read the partial files (1)
FRESH_BUILD_JOBS = 3
# jobs of a fresh build whose input is already split into enough partitions
# by its scan: the partials job and the merge
SCAN_SPLIT_BUILD_JOBS = 2
# jobs of the fresh exchange-merge build (exchange_build), whose input is a
# repartitioned DataFrame: the input's shuffle map stage, run once when
# build_index asks the input for its partition count (DataFrame.rdd runs
# an adaptive plan's shuffles) and again by the partials job (2), the
# partials job (1), and the exchange merge (3): range sampling, the shuffle
# map stage and the merge writers, its input tasks reading the partial
# files the manifest lists
EXCHANGE_BUILD_JOBS = 6


def test_fresh_build_job_count(spark, transcripts_sdf, exchange_build, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("jobs") / "idx")
    assert len(_build_jobs(spark, transcripts_sdf, d)) == FRESH_BUILD_JOBS
    assert len(exchange_build[1]) == EXCHANGE_BUILD_JOBS, exchange_build[1]
    # one parquet file per partition, each its own scan split
    src = str(tmp_path_factory.mktemp("split_src") / "t.parquet")
    transcripts_sdf.repartition(CFG.index.build_partitions, "conv_id").write.parquet(src)
    split = spark.read.parquet(src)
    assert split.rdd.getNumPartitions() == CFG.index.build_partitions
    d = str(tmp_path_factory.mktemp("jobs_split") / "idx")
    assert len(_build_jobs(spark, split, d)) == SCAN_SPLIT_BUILD_JOBS
