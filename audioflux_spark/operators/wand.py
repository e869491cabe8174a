"""Block-max WAND top-k over the compressed segment table (M4).

The reference's onset peak-pick (/root/reference/src/mir/onset_algorithm.c:
423-460) selects bounded candidates using *local* windowed bounds (local max,
local avg + delta) — block-max WAND (Ding & Suel, SIGIR 2011) is the same
idea over posting lists: per-block exact upper bounds let the scorer skip
every region that cannot beat the current k-th score (θ).

Byte-skipping: posting bytes are varint-decoded *per block, on demand* —
block metadata (first docID, upper bound, byte length) is enough to prune a
block without ever touching its bytes. The per-block byte lengths stored in
the segment schema make each block independently decodable (its first docID
re-anchors the delta chain), which is the entire point of BMW at scale: a
Zipf-head term's posting list is mostly skipped, not just mostly unscored.

Vectorization contract (input_hint: no per-row Python): classic WAND chases
per-document pointers — hostile to NumPy — so this kernel prunes at *block*
granularity instead: elementary doc-id intervals are formed from the union of
all query terms' block boundaries, each interval gets the upper bound
Σ_t idf_t · blockmax_t(interval), intervals are processed in descending bound
order with whole-interval vectorized scoring, and processing stops once the
next bound cannot reach θ (with a 1e-9 float-safety margin). Pruning power is
identical to doc-at-a-time BMW up to block resolution; all inner loops are
NumPy. Property-tested against exhaustive scoring (tests/test_index_wand.py).

Serving shapes (all scoring runs in EXECUTOR tasks — no posting blob ever
reaches the driver):
* ``bm25_topk_many``    — a DataFrame of queries broadcast-joined to the
  term-pruned segment scan, doc-range SHARDED (each shard owns an exact
  docID range; a term's blocks are byte-sliced to the ranges they overlap),
  scored per (query, generation, shard) via applyInPandas, then k-way merged
  with a rank window. Per-task memory is bounded by the shard size, not by
  the hottest term's full posting list.
* ``bm25_topk_indexed`` — one query, one job of one Python task
  (``_serve_query``) that reads the query terms' segment rows and the hits'
  docstore keys from the files the reader listed at open, refusing files
  changed since, and returns the sorted top k. A generation larger than one
  shard sends the query through ``bm25_topk_many`` instead.
"""

from __future__ import annotations

import json
import operator
import os
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from audioflux_spark.functions.bm25 import idf_value
from audioflux_spark.functions.codec import varint_decode
from audioflux_spark.operators.indexer import _segment_fields
from audioflux_spark.operators.topk import query_terms
from audioflux_spark.sources.segments import IndexReader

_EPS = 1e-9

# default docs per WAND shard: sized so a shard's postings (worst case every
# doc matching every query term) stay comfortably in one task's memory
DEFAULT_SHARD_DOCS = 4_000_000


def _block_ends(firsts: np.ndarray, last_doc: int) -> np.ndarray:
    """Safe per-block end docIDs: no doc lives between one block's last and
    the next block's first, so next_first - 1 bounds a block; the row-level
    last_doc bounds the final block."""
    ends = np.empty(firsts.size, dtype=np.int64)
    if firsts.size:
        ends[:-1] = firsts[1:] - 1
        ends[-1] = last_doc
    return ends


def _byte_offsets(lengths) -> np.ndarray:
    """Start offset of every block in its blob (plus the end), from the
    per-block byte lengths."""
    ln = np.asarray(lengths, dtype=np.int64)
    out = np.empty(ln.size + 1, dtype=np.int64)
    out[0] = 0
    np.cumsum(ln, out=out[1:])
    return out


class _TermBlocks:
    """Lazy per-block posting decoder for one (term, generation) row.

    Parses only block metadata up front; ``candidates(lo, hi)`` varint-decodes
    just the blocks overlapping [lo, hi), each at most once (cached). A block
    is self-contained: its stored first docID re-anchors the delta chain, so
    decoding needs no bytes before the block (true byte skipping).
    """

    __slots__ = (
        "firsts", "ends", "ubs", "counts", "doc_off", "tf_off", "dl_off",
        "doc_mv", "tf_mv", "dl_mv", "idf", "k1", "b", "avgdl", "_cache",
        "blocks_decoded",
    )

    def __init__(self, row, avgdl: float, k1: float, b: float, idf: float,
                 ub_scale: float):
        self.counts = np.asarray(row["block_counts"], dtype=np.int64)
        self.firsts = np.asarray(row["block_firsts"], dtype=np.int64)
        self.ubs = idf * ub_scale * np.asarray(row["block_maxes"], dtype=np.float64)
        self.ends = _block_ends(self.firsts, int(row["last_doc"]))
        self.doc_off = _byte_offsets(row["block_doc_bytes"])
        self.tf_off = _byte_offsets(row["block_tf_bytes"])
        self.dl_off = _byte_offsets(row["block_dl_bytes"])
        self.doc_mv = memoryview(bytes(row["doc_blob"]))
        self.tf_mv = memoryview(bytes(row["tf_blob"]))
        self.dl_mv = memoryview(bytes(row["dl_blob"]))
        self.idf, self.k1, self.b, self.avgdl = idf, k1, b, avgdl
        self._cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.blocks_decoded = 0

    def _block(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        got = self._cache.get(i)
        if got is not None:
            return got
        c = int(self.counts[i])
        gaps = varint_decode(
            self.doc_mv[self.doc_off[i]:self.doc_off[i + 1]], c
        ).astype(np.int64)
        docs = self.firsts[i] + np.cumsum(gaps) - gaps[0]
        tf = varint_decode(
            self.tf_mv[self.tf_off[i]:self.tf_off[i + 1]], c
        ).astype(np.float64)
        dl = varint_decode(
            self.dl_mv[self.dl_off[i]:self.dl_off[i + 1]], c
        ).astype(np.float64)
        contrib = self.idf * tf * (self.k1 + 1.0) / (
            tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl)
        )
        self._cache[i] = (docs, contrib)
        self.blocks_decoded += 1
        return docs, contrib

    def candidates(self, lo: int, hi: int) -> tuple[list, list]:
        """Decoded (docs, contribs) pieces overlapping docID range [lo, hi)."""
        bi = int(np.searchsorted(self.ends, lo, side="left"))
        bj = int(np.searchsorted(self.firsts, hi, side="left"))
        out_d, out_c = [], []
        for i in range(bi, bj):
            docs, contrib = self._block(i)
            s = int(np.searchsorted(docs, lo, side="left"))
            e = int(np.searchsorted(docs, hi, side="left"))
            if e > s:
                out_d.append(docs[s:e])
                out_c.append(contrib[s:e])
        return out_d, out_c


def wand_topk_kernel(
    term_rows: list,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    idfs: list[float] | None = None,
    ub_scale: float = 1.0,
    doc_lo: int | None = None,
    doc_hi: int | None = None,
    stats_out: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max pruned top-k. Returns (doc_ids, scores) sorted by
    (score desc, doc_id asc); len may exceed k only by docs TYING the k-th
    score (docIDs are only key-ordered within a build partition, so boundary
    ties must be resolved by the caller against the real (conv_id, turn_idx)
    keys — the ENTIRE tie group is kept, never truncated). idfs defaults to
    per-row Lucene idf from (n_docs, row df) — pass explicit values for
    multi-generation/sharded indexes where df is global. doc_lo/doc_hi
    restrict scoring to an exact docID range (WAND sharding)."""
    if not term_rows or k <= 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    if idfs is None:
        idfs = [idf_value(n_docs, int(r["df"])) for r in term_rows]

    terms = [
        _TermBlocks(r, avgdl, k1, b, i, ub_scale)
        for r, i in zip(term_rows, idfs)
    ]

    # elementary intervals from the union of block boundaries
    points = np.unique(
        np.concatenate(
            [t.firsts for t in terms] + [t.ends + 1 for t in terms]
        )
    )
    if doc_lo is not None or doc_hi is not None:
        lo = doc_lo if doc_lo is not None else int(points[0])
        hi = doc_hi if doc_hi is not None else int(points[-1])
        points = points[(points > lo) & (points < hi)]
        points = np.concatenate(([lo], points, [hi]))
    n_iv = points.size - 1
    total_ub = np.zeros(max(n_iv, 0), dtype=np.float64)
    for t in terms:
        ix = np.searchsorted(t.firsts, points[:-1], side="right") - 1
        valid = (ix >= 0) & (
            points[:-1] <= t.ends[np.clip(ix, 0, t.ends.size - 1)]
        )
        total_ub += np.where(valid, t.ubs[np.clip(ix, 0, t.ubs.size - 1)], 0.0)

    order = np.argsort(-total_ub, kind="stable")

    # bounded top-k state, kept sorted by (score desc, doc_id asc); a doc
    # belongs to exactly one elementary interval, so merges never duplicate
    top_d = np.zeros(0, dtype=np.int64)
    top_s = np.zeros(0, dtype=np.float64)
    theta = -np.inf

    for iv in order:
        if top_d.size >= k and total_ub[iv] < theta - _EPS:
            break
        lo_iv, hi_iv = int(points[iv]), int(points[iv + 1])
        cand_docs: list = []
        cand_scores: list = []
        for t in terms:
            ds, cs = t.candidates(lo_iv, hi_iv)
            cand_docs.extend(ds)
            cand_scores.extend(cs)
        if not cand_docs:
            continue
        docs = np.concatenate(cand_docs)
        scores = np.concatenate(cand_scores)
        u_docs, inv = np.unique(docs, return_inverse=True)
        u_scores = np.zeros(u_docs.size, dtype=np.float64)
        np.add.at(u_scores, inv, scores)
        all_d = np.concatenate([top_d, u_docs])
        all_s = np.concatenate([top_s, u_scores])
        sel = np.lexsort((all_d, -all_s))
        if sel.size > k:
            s_sorted = all_s[sel]
            kth = s_sorted[k - 1]
            # keep every doc tying the k-th score (never truncate the tie
            # group: the caller's key-based tie-break must see all of them)
            cutoff = int(np.searchsorted(-s_sorted, -kth, side="right"))
            sel = sel[:cutoff]
        top_d, top_s = all_d[sel], all_s[sel]
        if top_d.size >= k:
            theta = top_s[k - 1]

    if stats_out is not None:
        stats_out["blocks_total"] = int(sum(t.counts.size for t in terms))
        stats_out["blocks_decoded"] = int(sum(t.blocks_decoded for t in terms))
    return top_d, top_s


_SHARDED_COLS = (
    "query_id string, gen int, shard int, k int, term string, gdf long, "
    "df long, last_doc long, doc_blob binary, tf_blob binary, dl_blob binary, "
    "block_counts array<int>, block_firsts array<long>, block_maxes array<double>, "
    "block_doc_bytes array<int>, block_tf_bytes array<int>, block_dl_bytes array<int>"
)
_SHARDED_SCHEMA = _SHARDED_COLS + ", range_lo long, range_hi long"
# phrase path: position blobs ride along, sliced by the same block arithmetic
_SHARDED_POS_SCHEMA = (
    _SHARDED_COLS + ", pos_blob binary, block_pos_bytes array<int>, "
    "range_lo long, range_hi long"
)


def _make_shard_splitter(gen_ndocs: dict[int, int], shard_docs: int,
                         include_pos: bool = False):
    """mapInPandas splitter: one (query, term, gen) segment row → one sub-row
    per docID-range shard it overlaps, with posting blobs BYTE-SLICED to the
    overlapping block range (per-block byte lengths make slicing pure
    arithmetic — no decode). Shards partition the docID space exactly; a
    block straddling a boundary is sent to both sides and the kernel clips to
    [range_lo, range_hi), so every doc is scored in exactly one shard with
    all its terms present. With ``include_pos``, position blobs are sliced by
    the same per-block byte lengths (block_pos_bytes) — the substrate for
    doc-range-sharded PHRASE matching (a Zipf-head phrase term's positions
    never land in one task)."""
    blob_cols = [("doc_blob", "block_doc_bytes"), ("tf_blob", "block_tf_bytes"),
                 ("dl_blob", "block_dl_bytes")]
    if include_pos:
        blob_cols.append(("pos_blob", "block_pos_bytes"))

    def split(batches):
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in [
                "query_id", "gen", "shard", "k", "term", "gdf", "df",
                "last_doc", "doc_blob", "tf_blob", "dl_blob", "block_counts",
                "block_firsts", "block_maxes", "block_doc_bytes",
                "block_tf_bytes", "block_dl_bytes",
                *(["pos_blob", "block_pos_bytes"] if include_pos else []),
                "range_lo", "range_hi",
            ]}
            # loop over SEGMENT rows (per-term metadata — bounded by query
            # terms × generations, not by postings); all per-posting work
            # inside is numpy slicing on flat buffers
            for row in pdf.to_dict("records"):
                gen = int(row["gen"])
                n_docs_g = gen_ndocs.get(gen, 0)
                n_shards = max((n_docs_g + shard_docs - 1) // shard_docs, 1)
                firsts = np.asarray(row["block_firsts"], dtype=np.int64)
                counts = np.asarray(row["block_counts"], dtype=np.int64)
                ends = _block_ends(firsts, int(row["last_doc"]))
                offs = {lcol: _byte_offsets(row[lcol]) for _, lcol in blob_cols}
                blobs = {bcol: bytes(row[bcol]) for bcol, _ in blob_cols}
                maxes = np.asarray(row["block_maxes"], dtype=np.float64)
                for s in range(n_shards):
                    lo = s * shard_docs
                    hi = min((s + 1) * shard_docs, n_docs_g) if n_shards > 1 else n_docs_g
                    bi = int(np.searchsorted(ends, lo, side="left"))
                    bj = int(np.searchsorted(firsts, hi, side="left"))
                    if bj <= bi:
                        continue
                    out["query_id"].append(row["query_id"])
                    out["gen"].append(gen)
                    out["shard"].append(s)
                    out["k"].append(int(row["k"]))
                    out["term"].append(row["term"])
                    out["gdf"].append(int(row["gdf"]))
                    out["df"].append(int(row["df"]))
                    out["last_doc"].append(int(ends[bj - 1]))
                    for col, bo in blob_cols:
                        o = offs[bo]
                        out[col].append(blobs[col][o[bi]:o[bj]])
                        out[bo].append(
                            (o[bi + 1:bj + 1] - o[bi:bj]).astype(np.int32)
                        )
                    out["block_counts"].append(counts[bi:bj].astype(np.int32))
                    out["block_firsts"].append(firsts[bi:bj])
                    out["block_maxes"].append(maxes[bi:bj])
                    out["range_lo"].append(lo)
                    out["range_hi"].append(hi)
            if out["query_id"]:
                yield pd.DataFrame(out)

    return split


def _ub_scale(avgdl: float, encode_avgdl: float) -> float:
    """Block-max widening for a generation encoded under encode_avgdl and
    scored under the global avgdl: tf-norm is monotone in avgdl, bounded by
    their ratio."""
    return max(1.0, avgdl / encode_avgdl) if encode_avgdl else 1.0


def _check_stamps(files) -> None:
    """Raise unless every (path, size, mtime_ns) still matches its file:
    the index was rebuilt or removed since the reader listed it."""
    for path, size, mtime_ns in files:
        try:
            st = os.stat(path)
        except FileNotFoundError:
            st = None
        if st is None or (st.st_size, st.st_mtime_ns) != (size, mtime_ns):
            raise RuntimeError(
                f"index file {path} changed or vanished since its IndexReader "
                "opened; open a new IndexReader"
            )


def _term_filter(terms: list[str]):
    """Segment rows of the query terms. An OR of equalities, not ``isin``:
    pyarrow checks this form against each row group's min/max statistics,
    so a segment file whose term range holds no query term is skipped
    without decoding (4 term-range files, one term: 21 ms of CPU with isin,
    7.6 ms with ==). The OR's cost grows faster than linearly with its
    width (200 values: 43 ms), so a query of more than 64 terms takes isin,
    which decodes every file once."""
    import pyarrow.dataset as pads

    field = pads.field("term")
    if len(terms) > 64:
        return field.isin(terms)
    return reduce(operator.or_, [field == t for t in terms])


def _read_stamped(files, schema, columns: list[str], filter):
    """The rows of ``files`` (listed with stamps at reader open) that pass
    ``filter``, read with pyarrow; the stamps are checked before and after
    the read, so rows from a replaced file are never returned."""
    import pyarrow.dataset as pads

    if not files:
        return schema.empty_table().select(columns)
    _check_stamps(files)
    tbl = pads.dataset(
        [f[0] for f in files], schema=schema, format="parquet"
    ).to_table(columns=columns, filter=filter)
    _check_stamps(files)
    return tbl


def _docstore_keys(docstore_files, doc_ids: np.ndarray) -> dict[int, tuple[str, int]]:
    """doc_id → (conv_id, turn_idx) for the given docIDs, read with pyarrow
    inside the serving task. Docstore files are doc_id-sorted; the range
    conjuncts let pyarrow skip files and row groups outside the hits' span
    by their statistics, and isin picks the rows."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    schema = pa.schema(
        [("doc_id", pa.int64()), ("conv_id", pa.string()), ("turn_idx", pa.int32())]
    )
    field = pads.field("doc_id")
    ids = doc_ids.tolist()
    tbl = _read_stamped(
        docstore_files, schema, schema.names,
        field.isin(ids) & (field >= min(ids)) & (field <= max(ids)),
    )
    return dict(zip(
        tbl.column("doc_id").to_pylist(),
        zip(tbl.column("conv_id").to_pylist(), tbl.column("turn_idx").to_pylist()),
    ))


# the segment columns the WAND kernel reads (no positions, no part counts)
_KERNEL_COLS = [
    "term", "df", "last_doc", "doc_blob", "tf_blob", "dl_blob", "block_counts",
    "block_firsts", "block_maxes", "block_doc_bytes", "block_tf_bytes",
    "block_dl_bytes",
]
_SERVE_SCHEMA = "conv_id string, turn_idx int, score double"


def _serve_query(batches):
    """The single-query task (mapInArrow over one parameter row, a JSON
    object built by bm25_topk_indexed). It reads the query terms' segment
    rows of every generation from the files listed at reader open, sums df
    across generations for the global idf, runs the WAND kernel once per
    generation over its whole docID range, resolves the hits' keys from the
    generation's docstore files, and returns the top k by (score desc,
    conv_id, turn_idx). Module-level, so unpickling it imports the package
    (plans/pyworker.py) and ships no closure."""
    import pyarrow as pa

    (p,) = [json.loads(s) for b in batches for s in b.column("params").to_pylist()]
    k, n_docs, avgdl = p["k"], p["n_docs"], p["avgdl"]
    seg_schema = pa.schema(_segment_fields())
    has_term = _term_filter(p["terms"])
    gen_rows = [
        _read_stamped(g["segments"], seg_schema, _KERNEL_COLS, has_term).to_pylist()
        for g in p["gens"]
    ]
    gdf: dict[str, int] = {}
    for rows in gen_rows:
        for r in rows:
            gdf[r["term"]] = gdf.get(r["term"], 0) + r["df"]
    hits = []  # (-score, conv_id, turn_idx): ascending = the result order
    for g, rows in zip(p["gens"], gen_rows):
        doc_ids, scores = wand_topk_kernel(
            rows, n_docs, avgdl, p["k1"], p["b"], k,
            idfs=[idf_value(n_docs, gdf[r["term"]]) for r in rows],
            ub_scale=_ub_scale(avgdl, g["encode_avgdl"]),
            doc_lo=0, doc_hi=g["n_docs"],
        )
        if doc_ids.size:
            keys = _docstore_keys(g["docstore"], doc_ids)
            hits += [(-s, *keys[d]) for d, s in zip(doc_ids.tolist(), scores.tolist())]
    top = sorted(hits)[:k]
    if top:
        neg_scores, conv_ids, turn_idxs = zip(*top)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(conv_ids, pa.string()),
                pa.array(turn_idxs, pa.int32()),
                pa.array([-s for s in neg_scores], pa.float64()),
            ],
            names=["conv_id", "turn_idx", "score"],
        )


def _make_score_shard(
    gen_avgdl: dict[int, float],
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
):
    """Per-(query, gen, shard) scoring function of the batch path."""

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(pdf["k"].iloc[0])
        gen_id = int(pdf["gen"].iloc[0])
        rows = pdf.to_dict("records")  # one C-level conversion, no .iloc loop
        idfs = [idf_value(n_docs, int(r["gdf"])) for r in rows]
        doc_ids, scores = wand_topk_kernel(
            rows, n_docs, avgdl, k1, b, k, idfs=idfs,
            ub_scale=_ub_scale(avgdl, gen_avgdl.get(gen_id, avgdl)),
            doc_lo=int(pdf["range_lo"].iloc[0]),
            doc_hi=int(pdf["range_hi"].iloc[0]),
        )
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "gen": gen_id,
                "doc_id": doc_ids,
                "score": scores,
                "k": k,
            }
        )

    return score_shard


_HITS_SCHEMA = "query_id string, gen int, doc_id long, score double, k int"


def _sharded_hits(
    reader: IndexReader,
    queries: list[tuple[str, str, int]],
    shard_docs: int,
) -> DataFrame | None:
    """Scored candidates per (query, generation, shard):
    (query_id, gen, doc_id, score, k) with exact global BM25 scores and whole
    tie groups kept. All scoring runs in executor tasks; no posting blob ever
    reaches the driver."""
    spark = reader.spark
    k1, b = reader.meta.k1, reader.meta.b
    n_docs, avgdl = reader.n_docs, reader.avgdl
    # per-generation ENCODE avgdl (≤ the gen's final avgdl after partial
    # rebuilds): bounds widen by the ratio so block maxes stay safe
    gen_avgdl = {
        g.gen_id: (g.meta.encode_avgdl or g.meta.avgdl) for g in reader.generations
    }
    gen_ndocs = {g.gen_id: g.meta.n_docs for g in reader.generations}

    qrows = []
    for qid, text, k in queries:
        for t in query_terms(text):
            qrows.append((qid, t, k))
    if not qrows:
        return None
    # literal `term IN (...)` BEFORE any join: the query terms are known on
    # the driver, and the predicate prunes term-sorted parquet files / row
    # groups (or the cached table) without touching blob columns — a join
    # alone would probe every segment row
    terms_all = sorted({t for _, t, _ in qrows})

    seg_union = reduce(
        DataFrame.unionByName,
        [
            g.segments.drop("pos_blob", "block_pos_bytes")
            .filter(F.col("term").isin(terms_all))
            .withColumn("gen", F.lit(g.gen_id))
            for g in reader.generations
        ],
    )
    qdf = spark.createDataFrame(qrows, "query_id string, term string, k int")
    joined = seg_union.join(F.broadcast(qdf), on="term")
    if len(reader.generations) == 1:
        # a term appears at most once per generation → df IS the global df
        joined = joined.withColumn("gdf", F.col("df"))
    else:
        # global df per (query, term) = sum over generations — aggregated on
        # the pruned columns only and broadcast back (blobs shuffle exactly
        # once, into the shard split)
        gdf = joined.groupBy("query_id", "term").agg(F.sum("df").alias("gdf"))
        joined = joined.join(F.broadcast(gdf), on=["query_id", "term"])

    single_shard = all(n <= shard_docs for n in gen_ndocs.values())
    if single_shard:
        # one shard per generation — skip the splitter's Python exchange
        range_hi = F.col("gen")
        for gid, n in gen_ndocs.items():
            range_hi = F.when(F.col("gen") == gid, F.lit(n)).otherwise(range_hi)
        sharded = (
            joined.withColumn("shard", F.lit(0))
            .withColumn("range_lo", F.lit(0).cast("long"))
            .withColumn("range_hi", range_hi.cast("long"))
        )
    else:
        sharded = joined.mapInPandas(
            _make_shard_splitter(gen_ndocs, shard_docs), schema=_SHARDED_SCHEMA
        )

    score_shard = _make_score_shard(gen_avgdl, n_docs, avgdl, k1, b)
    return sharded.groupBy("query_id", "gen", "shard").applyInPandas(
        score_shard, schema=_HITS_SCHEMA
    )


def bm25_topk_many(
    reader: IndexReader,
    queries: list[tuple[str, str, int]],
    shard_docs: int = DEFAULT_SHARD_DOCS,
) -> DataFrame:
    """Distributed batch query path: [(query_id, query_text, k)] → doc-range
    sharded block-max WAND, one task per (query, generation, shard).

    Scale shape: the query table is tiny and broadcast into a join against
    the term-sorted segment table (broadcast-hash join whose probe side is
    pruned by term min/max); the shard splitter byte-slices each matching
    blob so the shuffle into applyInPandas carries each posting byte exactly
    once (± boundary blocks) and NO task ever holds a hot term's full list.
    Per-shard top-k with global (N, avgdl, df) is exact, so the final rank
    window is a pure k-way merge. No posting blob ever reaches the driver.

    r6: the hits side (≤ Σ k+ties rows) is explicitly BROADCAST into the
    docstore key join — the planner has no size estimate for the
    applyInPandas output, so it previously picked a sort-merge join that
    shuffled and sorted the ENTIRE docstore to attach keys to a few
    hundred result rows (guide §3.1: hint the join when you know a side is
    small; measured 1.68 s → 1.55 s on the 24-query batch, and at corpus
    scale the docstore shuffle it removes grows with N while the hits side
    stays O(Σk)).
    """

    from pyspark.sql.window import Window

    hits = _sharded_hits(reader, queries, shard_docs)
    if hits is None:
        return reader.spark.createDataFrame(
            [],
            "query_id string, conv_id string, turn_idx int, score double, rank int",
        )
    ds_union = reduce(
        DataFrame.unionByName,
        [
            g.docstore.select(
                F.lit(g.gen_id).alias("gen"), "doc_id", "conv_id", "turn_idx"
            )
            for g in reader.generations
        ],
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("conv_id").asc(), F.col("turn_idx").asc()
    )
    return (
        F.broadcast(hits).join(ds_union, on=["gen", "doc_id"])
        .withColumn("rank", F.row_number().over(w) - 1)
        .filter(F.col("rank") < F.col("k"))
        .select("query_id", "conv_id", "turn_idx", "score", "rank")
    )


def bm25_topk_indexed(
    reader: IndexReader,
    query_text: str,
    k: int = 10,
    shard_docs: int = DEFAULT_SHARD_DOCS,
) -> DataFrame:
    """Single-query top-k via the compressed index; returns
    (conv_id, turn_idx, score) in (score desc, conv_id, turn_idx) order.

    When every generation holds ≤ shard_docs docs, the query is ONE Spark
    job of one task: a one-row Range carries the query and the reader's
    stamped file lists to _serve_query (mapInArrow), which reads the query
    terms' segment rows and the hits' docstore keys with pyarrow, scores
    every generation with the WAND kernel and returns the final k rows
    already sorted. No plan over the segment table is built, so the query
    costs the JVM one trivial job, not a scan plan to analyse and compile.
    Any other single query takes bm25_topk_many's doc-range sharded shape.
    Multi-generation stats (N, avgdl, df) are global, so scores are exact
    global BM25; ties resolve by the real (conv_id, turn_idx) keys
    (rank-identical to the oracle regardless of docID assignment order)."""
    terms = query_terms(query_text)
    if not terms or k <= 0:
        return reader.spark.createDataFrame(
            [], "conv_id string, turn_idx int, score double"
        )
    if any(g.meta.n_docs > shard_docs for g in reader.generations):
        return (
            bm25_topk_many(reader, [("q", query_text, k)], shard_docs)
            .orderBy("rank")
            .select("conv_id", "turn_idx", "score")
        )
    params = json.dumps({
        "terms": terms, "k": int(k), "n_docs": reader.n_docs,
        "avgdl": reader.avgdl, "k1": reader.meta.k1, "b": reader.meta.b,
        "gens": [
            {
                "n_docs": g.meta.n_docs,
                "encode_avgdl": g.meta.encode_avgdl or g.meta.avgdl,
                "segments": g.segment_files,
                "docstore": g.docstore_files,
            }
            for g in reader.generations
        ],
    })
    return (
        reader.spark.range(0, 1, 1, 1)
        .select(F.lit(params).alias("params"))
        .mapInArrow(_serve_query, _SERVE_SCHEMA)
    )
