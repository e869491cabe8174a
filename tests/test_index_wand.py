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
from audioflux_spark.operators.wand import bm25_topk_indexed, bm25_topk_many
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
    routes every query through bm25_topk_many's sharded shape."""
    kw = {} if shard_docs is None else {"shard_docs": shard_docs}
    for text, k in [(q.query_text, q.k) for q in queries] + EDGE_QUERIES:
        got = bm25_topk_indexed(reader, text, k, **kw).toPandas()
        assert_rank_identical(got, oracle.topk(text, k), context=f"'{text}' k={k} {kw}")


def test_wand_rank_identity_all_queries(spark, reader, exchange_build, oracle, queries):
    """Every query, on the range-merged index and the exchange-merged one."""
    for r in (reader, IndexReader(spark, exchange_build[0])):
        assert_indexed_matches_oracle(r, oracle, queries)


def test_indexed_sharded_route_rank_identity(reader, oracle, queries):
    """With 200-doc shards, single queries take bm25_topk_many's sharded
    shape instead of the one-task path."""
    assert_indexed_matches_oracle(reader, oracle, queries[:6], shard_docs=200)


def test_wand_equals_exhaustive_random_queries(reader, oracle):
    """Property (SURVEY §5/M4): WAND pruning == exhaustive scoring, random
    multi-term queries drawn from the corpus vocabulary."""
    rng = np.random.default_rng(123)
    vocab = sorted(oracle.postings.keys())
    for trial in range(10):
        n_terms = int(rng.integers(1, 5))
        terms = [vocab[i] for i in rng.integers(0, len(vocab), n_terms)]
        qtext = " ".join(terms)
        k = int(rng.choice([3, 10, 50]))
        got = bm25_topk_indexed(reader, qtext, k).toPandas()
        want = oracle.topk(qtext, k)
        assert_rank_identical(got, want, context=f"random '{qtext}' k={k}")


def test_batch_query_path(reader, oracle, queries):
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


def test_manifest_lineage(index_dir):
    m = load_manifest(index_dir)
    assert len(m.entries) == CFG.index.build_partitions
    for e in m.entries.values():
        assert e.status == "done"
        assert e.postings > 0 and e.bytes > 0 and e.terms > 0
        assert e.input_fingerprint
        assert 0 < e.skew_ratio < 10


def test_index_inspect_cli(index_dir):
    """The observability CLI surfaces the manifest + meta faithfully: totals
    equal the manifest sums, every partition row carries the lineage fields,
    and a complete index reports no incomplete partitions."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "index_inspect_cli",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "index_inspect_cli.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out = mod.inspect(index_dir)
    m = load_manifest(index_dir)
    assert out["n_partitions_built"] == len(m.entries)
    assert out["incomplete_partitions"] == []
    assert out["totals"]["postings"] == sum(e.postings for e in m.entries.values())
    assert out["totals"]["bytes"] == sum(e.bytes for e in m.entries.values())
    assert out["meta"]["n_partitions"] == CFG.index.build_partitions
    assert out["meta"]["n_docs"] > 0 and out["meta"]["avgdl"] > 0
    offs = [p["doc_offset"] for p in out["partitions"]]
    assert offs == sorted(offs) and offs[0] == 0


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
    """One partition's rows as the partials job ships them to its task."""
    import pyarrow as pa

    tbl = pa.Table.from_pandas(
        pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]], preserve_index=False
    )
    return tbl.add_column(0, "pid", pa.array([pid] * len(pdf), pa.int32())).to_batches()[0]


def test_partial_writer_rewrite_byte_identical(tmp_path, transcripts_pdf):
    """A retried partial task rewrites the same files: one docstore file and
    one partial file, the same bytes and lineage, and no temporary files
    left behind."""
    from audioflux_spark.operators import indexer

    batch = _partition_batch(transcripts_pdf.head(300), 3)
    write = indexer._make_partial_writer(
        indexer._make_segment_fn(10.0, CFG), [0, 0, 0, 40],
        str(tmp_path / "partial"), str(tmp_path / "docstore"), 4,
    )
    lineage, data = [], []
    for _ in range(2):
        lineage.append([b.to_pylist() for b in write(iter([batch]))])
        files = []
        for sub in ("docstore", "partial"):
            seg_dir = tmp_path / sub / "seg_id=3"
            assert sorted(os.listdir(seg_dir)) == ["part-00000.parquet"]
            files.append((seg_dir / "part-00000.parquet").read_bytes())
        data.append(files)
    assert data[0] == data[1]
    assert lineage[0] == lineage[1]
    (row,) = lineage[0][0]
    assert row["seg_id"] == 3 and row["terms"] > 0 and row["postings"] >= row["terms"]
    docs = pd.read_parquet(tmp_path / "docstore" / "seg_id=3")
    assert docs["doc_id"].tolist() == list(range(40, 340))
    assert docs["conv_id"].tolist() == transcripts_pdf["conv_id"].head(300).tolist()


def test_partial_writer_tokenless_partition(tmp_path, transcripts_pdf):
    """A partition without a single token still gets its docstore file
    (doc_len 0 on every row) but no partial file and no lineage row."""
    from audioflux_spark.operators import indexer

    pdf = transcripts_pdf.head(4).assign(text=["", "!!", " - ", None])
    write = indexer._make_partial_writer(
        indexer._make_segment_fn(10.0, CFG), [0, 7],
        str(tmp_path / "partial"), str(tmp_path / "docstore"), 4,
    )
    assert list(write(iter([_partition_batch(pdf, 1)]))) == []
    docs = pd.read_parquet(tmp_path / "docstore" / "seg_id=1" / "part-00000.parquet")
    assert docs["doc_id"].tolist() == [7, 8, 9, 10]
    assert docs["doc_len"].tolist() == [0, 0, 0, 0]
    assert not os.path.exists(tmp_path / "partial")


def test_docstore_doc_len_matches_token_stats(spark, reader):
    """avgdl comes from the stats pass's JVM token count, the docstore's
    doc_len from the Python tokenizer: the two analyzers must agree on
    every row, and so on the total."""
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
    assert sorted(os.listdir(seg_docs)) == ["part-00000.parquet"]
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


def test_declared_schemas_match_written_files(spark, index_dir):
    """Readers pass PARTIAL_SCHEMA / MERGED_SCHEMA / DOCSTORE_SCHEMA instead
    of inferring; they must describe what the writers produce."""
    from audioflux_spark.operators.indexer import (
        DOCSTORE_SCHEMA,
        MERGED_SCHEMA,
        PARTIAL_SCHEMA,
    )

    for sub, declared in (
        ("segments_partial", PARTIAL_SCHEMA),
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
    """The range merge over the partial files and the exchange merge
    (write_merged_segments, used past the range merge's limit and by
    compaction) over the same partials give identical rows in every column,
    part_counts and block lists included: for the range-merged index and
    for the exchange-merged one."""
    from audioflux_spark.operators.indexer import (
        PARTIAL_SCHEMA,
        _merge_partial_files,
        _range_bounds,
        write_merged_segments,
    )

    partials = spark.read.schema(PARTIAL_SCHEMA).parquet(
        os.path.join(index_dir, "segments_partial")
    )
    exchanged = str(tmp_path / "exchanged")
    write_merged_segments(partials, os.path.join(exchanged, "segments"), 8)

    ranged = str(tmp_path / "ranged")
    shutil.copytree(exchange_build[0], ranged)
    m = load_manifest(ranged)
    _merge_partial_files(spark, ranged, m, _range_bounds(m.entries.values(), 8))

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

    from audioflux_spark.operators.indexer import _make_range_merge, _range_bounds

    entries = load_manifest(index_dir).entries.values()
    files = sorted(
        os.path.join(index_dir, e.output_path, "part-00000.parquet")
        for e in entries
        if e.terms
    )
    bounds = _range_bounds(entries, CFG.index.build_partitions)
    assert len(bounds) + 1 > 3
    merge = _make_range_merge(files, bounds, str(tmp_path), 3)
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


# jobs a fresh range-merge build launches under AQE: partition stats with
# the token count (4), the partials job writing docstore and partial files and
# returning lineage with term splits (1), the merge job whose tasks read the
# partial files (1)
FRESH_BUILD_JOBS = 6
# jobs of the fresh exchange-merge build (exchange_build), whose input is a
# repartitioned DataFrame: partition stats (4), the partials job, which
# re-runs the input's shuffle (2), and the exchange merge (4): listing the
# 65 seg_id directories (past Spark's parallel-listing threshold), range
# sampling, the shuffle map stage and the merge writers
EXCHANGE_BUILD_JOBS = 10


def test_fresh_build_job_count(spark, transcripts_sdf, exchange_build, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("jobs") / "idx")
    jobs = _build_jobs(spark, transcripts_sdf, d)
    assert len(jobs) <= FRESH_BUILD_JOBS, jobs
    assert len(exchange_build[1]) <= EXCHANGE_BUILD_JOBS, exchange_build[1]
