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

Serving shape: one for every query. ``_topk_plan`` builds spark.range with
one partition per task, each row one task's JSON parameters, mapped by
``_serve_query`` (mapInArrow). A task owns items — (query, generation,
docID range), WAND or phrase — reads its terms' segment rows and its hits'
docstore keys from the files the reader listed at open (refusing files
changed since), takes global df across generations itself, scores each
item with the kernel's doc_lo/doc_hi, and returns each query's top k. When
every generation fits one shard a task owns whole queries, so the plan has
no Exchange; only when a query's ranges span tasks does a per-query
row_number merge the tasks' top k rows. No posting blob reaches the driver.
``bm25_topk_many`` is a batch, ``bm25_topk_indexed`` a batch of one and
``operators.phrase.bm25_topk_phrase`` a phrase item.
"""

from __future__ import annotations

import json
import operator
import os
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from audioflux_spark.functions.bm25 import idf_value
from audioflux_spark.functions.codec import varint_decode
from audioflux_spark.operators.indexer import _segment_fields
from audioflux_spark.operators.topk import query_terms
from audioflux_spark.sources.segments import IndexReader

_EPS = 1e-9

# default docs per WAND shard: sized so a shard's decoded postings (worst
# case every doc matching every query term) stay comfortably in one task's
# memory
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


def _top_with_ties(
    doc_ids: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """The k best (score desc, doc_id asc) docs plus every doc tying the
    k-th score, in that order. docIDs are only key-ordered within a build
    partition, so the caller breaks boundary ties by the real
    (conv_id, turn_idx) keys and must see the whole tie group."""
    sel = np.lexsort((doc_ids, -scores))
    if sel.size > k:
        s_sorted = scores[sel]
        sel = sel[:int(np.searchsorted(-s_sorted, -s_sorted[k - 1], side="right"))]
    return doc_ids[sel], scores[sel]


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
        top_d, top_s = _top_with_ties(
            np.concatenate([top_d, u_docs]), np.concatenate([top_s, u_scores]), k
        )
        if top_d.size >= k:
            theta = top_s[k - 1]

    if stats_out is not None:
        stats_out["blocks_total"] = int(sum(t.counts.size for t in terms))
        stats_out["blocks_decoded"] = int(sum(t.blocks_decoded for t in terms))
    return top_d, top_s


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
    width (200 values: 43 ms), so a task whose queries hold more than 64
    distinct terms takes isin, which decodes every file once."""
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


# the segment columns the WAND kernel reads; phrase items add the positions
_KERNEL_COLS = [
    "term", "df", "last_doc", "doc_blob", "tf_blob", "dl_blob", "block_counts",
    "block_firsts", "block_maxes", "block_doc_bytes", "block_tf_bytes",
    "block_dl_bytes",
]
_POS_COLS = ["pos_blob", "block_pos_bytes"]
# the serving task's output columns and their types
_TOPK_TYPES = {
    "query_id": "string", "conv_id": "string", "turn_idx": "int",
    "score": "double", "rank": "int",
}
_HIT_COLS = ("conv_id", "turn_idx", "score")


def _ddl(cols) -> str:
    return ", ".join(f"{c} {_TOPK_TYPES[c]}" for c in cols)


def _task_items(p: dict, task: int) -> list[tuple]:
    """The (query, range) items of task number ``task``: a contiguous run
    of the queries, each over every range, when every generation is one
    range; otherwise a contiguous run of the ranges, each for every
    query."""
    queries, ranges, n = p["queries"], p["ranges"], p["n_tasks"]
    units = queries if p["whole"] else ranges
    mine = units[task * len(units) // n:(task + 1) * len(units) // n]
    if p["whole"]:
        return [(q, r) for q in mine for r in ranges]
    return [(q, r) for r in mine for q in queries]


def _serve_query(batches):
    """A serving task: mapInArrow over one (id, params) row, params being
    the JSON object built by _task_params, id the task's number. Its items
    are (query, generation docID range) pairs, scored by WAND or, for a
    phrase, by phrase matching. It reads the items' terms' segment rows of
    every generation from the files listed at reader open (term and df only
    where it scores nothing), sums df across generations for the global
    idf, scores each item over its range, resolves the hits' keys from the
    generations' docstore files, and returns each query's top k by
    (score desc, conv_id, turn_idx), ranked from 0, in the columns params
    names. Module-level, so unpickling it imports the package
    (plans/pyworker.py) and ships no closure."""
    import pyarrow as pa

    from audioflux_spark.operators.phrase import phrase_match_kernel

    seg_schema = pa.schema(_segment_fields())
    rows_in = [
        r for b in batches
        for r in zip(b.column("id").to_pylist(), b.column("params").to_pylist())
    ]
    for task, params in rows_in:
        p = json.loads(params)
        gens, n_docs, avgdl, k1, b = p["gens"], p["n_docs"], p["avgdl"], p["k1"], p["b"]
        items = _task_items(p, task)
        cols = _KERNEL_COLS + (_POS_COLS if any(q[3] for q, _ in items) else [])
        scored = {r[0] for _, r in items}
        has_term = _term_filter(sorted({t for q, _ in items for t in q[1]}))
        gen_rows = [
            {r["term"]: r for r in _read_stamped(
                g["segments"], seg_schema, cols if gi in scored else ["term", "df"],
                has_term,
            ).to_pylist()}
            for gi, g in enumerate(gens)
        ]
        gdf: dict[str, int] = {}
        for rows in gen_rows:
            for t, r in rows.items():
                gdf[t] = gdf.get(t, 0) + r["df"]
        idf = {t: idf_value(n_docs, df) for t, df in gdf.items()}
        found = []  # (query_id, gen, doc_ids, scores) per item with hits
        for (qid, terms, k, phrase), (gi, lo, hi) in items:
            rows = [gen_rows[gi][t] for t in terms if t in gen_rows[gi]]
            if phrase:
                doc_ids, scores = _top_with_ties(*phrase_match_kernel(
                    rows, terms, avgdl, k1, b, idf, lo, hi
                ), k)
            else:
                doc_ids, scores = wand_topk_kernel(
                    rows, n_docs, avgdl, k1, b, k,
                    idfs=[idf[r["term"]] for r in rows],
                    ub_scale=_ub_scale(avgdl, gens[gi]["encode_avgdl"]),
                    doc_lo=lo, doc_hi=hi,
                )
            if doc_ids.size:
                found.append((qid, gi, doc_ids, scores))
        keys = {
            gi: _docstore_keys(
                gens[gi]["docstore"], np.concatenate([f[2] for f in found if f[1] == gi])
            )
            for gi in {f[1] for f in found}
        }
        hits: dict[str, list] = {}  # query_id -> [(-score, conv_id, turn_idx)]
        for qid, gi, doc_ids, scores in found:
            hits.setdefault(qid, []).extend(
                (-s, *keys[gi][d]) for d, s in zip(doc_ids.tolist(), scores.tolist())
            )
        k_of = {q[0]: q[2] for q in p["queries"]}
        out = [
            (qid, conv_id, turn_idx, -neg, rank)
            for qid, h in hits.items()
            for rank, (neg, conv_id, turn_idx) in enumerate(sorted(h)[:k_of[qid]])
        ]
        if out:
            qids, conv_ids, turn_idxs, scores, ranks = zip(*out)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids, pa.string()),
                    pa.array(conv_ids, pa.string()),
                    pa.array(turn_idxs, pa.int32()),
                    pa.array(scores, pa.float64()),
                    pa.array(ranks, pa.int32()),
                ],
                names=list(_TOPK_TYPES),
            ).select(p["cols"])


def _task_params(
    reader: IndexReader,
    queries: list[tuple[str, list[str], int, bool]],
    shard_docs: int,
    n_tasks: int,
    cols=tuple(_TOPK_TYPES),
) -> tuple[dict, bool]:
    """The JSON parameters every serving task receives, and whether a
    query's items span tasks. queries holds (query_id, terms, k, phrase).
    Each generation is cut into docID ranges of shard_docs docs; an item is
    one query over one range. When every generation is one range, each of
    at most n_tasks tasks owns whole queries (_task_items) and returns
    ``cols``; otherwise each owns ranges, and returns every column for the
    per-query rank."""
    gens = reader.generations
    queries = [[q, terms, int(k), phrase] for q, terms, k, phrase in queries if terms and k > 0]
    ranges = [
        [gi, lo, min(lo + shard_docs, g.meta.n_docs)]
        for gi, g in enumerate(gens) for lo in range(0, g.meta.n_docs, shard_docs)
    ]
    whole = all(g.meta.n_docs <= shard_docs for g in gens)
    n = min(len(queries if whole else ranges), n_tasks) if queries and ranges else 0
    spans = n > 1 and not whole
    return {
        "n_docs": reader.n_docs, "avgdl": reader.avgdl,
        "k1": reader.meta.k1, "b": reader.meta.b,
        "gens": [
            {
                "encode_avgdl": g.meta.encode_avgdl or g.meta.avgdl,
                "segments": g.segment_files,
                "docstore": g.docstore_files,
            }
            for g in gens
        ],
        "queries": queries, "ranges": ranges, "whole": whole, "n_tasks": n,
        "cols": list(_TOPK_TYPES) if spans else list(cols),
    }, spans


def _topk_plan(
    reader: IndexReader,
    queries: list[tuple[str, list[str], int, bool]],
    shard_docs: int,
    cols=tuple(_TOPK_TYPES),
) -> DataFrame:
    """``cols`` of (query_id, conv_id, turn_idx, score, rank) for
    (query_id, terms, k, phrase) queries: spark.range with one partition
    per task, every row carrying the same JSON parameters, mapped by
    _serve_query. Only when a query's items span tasks does a per-query
    row_number rank the tasks' rows."""
    from pyspark.sql.window import Window

    spark = reader.spark
    p, spans = _task_params(
        reader, queries, shard_docs, spark.sparkContext.defaultParallelism, cols
    )
    n = p["n_tasks"]
    if not n:
        return spark.createDataFrame([], _ddl(cols))
    df = (
        spark.range(0, n, 1, n)
        .select("id", F.lit(json.dumps(p)).alias("params"))
        .mapInArrow(_serve_query, _ddl(p["cols"]))
    )
    if not spans:
        return df
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("conv_id").asc(), F.col("turn_idx").asc()
    )
    k_of = F.create_map(*[F.lit(x) for q in p["queries"] for x in (q[0], q[2])])
    return (
        df.withColumn("rank", F.row_number().over(w) - 1)
        .filter(F.col("rank") < k_of[F.col("query_id")])
        .select(*cols)
    )


def bm25_topk_many(
    reader: IndexReader,
    queries: list[tuple[str, str, int]],
    shard_docs: int = DEFAULT_SHARD_DOCS,
) -> DataFrame:
    """Batch top-k: [(query_id, query_text, k)] → (query_id, conv_id,
    turn_idx, score, rank), rank from 0, through _topk_plan.

    With every generation within shard_docs docs, the batch is one job of
    one task per core, each owning whole queries and returning them ranked:
    no shuffle. Past that, each task owns docID ranges and returns every
    query's top k over them, and a per-query row_number over at most
    tasks × k rows per query ranks the union. Per-shard top-k with global
    (N, avgdl, df) is exact, and keys are resolved inside the tasks, so the
    rank is a pure merge. No posting blob ever reaches the driver. Query
    ids must be unique: rows are ranked per query_id."""
    ids = [qid for qid, _, _ in queries]
    if len(set(ids)) != len(ids):
        raise ValueError("bm25_topk_many: duplicate query_id in the batch")
    return _topk_plan(
        reader, [(qid, query_terms(text), k, False) for qid, text, k in queries], shard_docs
    )


def bm25_topk_indexed(
    reader: IndexReader,
    query_text: str,
    k: int = 10,
    shard_docs: int = DEFAULT_SHARD_DOCS,
) -> DataFrame:
    """Single-query top-k via the compressed index; returns
    (conv_id, turn_idx, score) in (score desc, conv_id, turn_idx) order.

    A batch of one. When every generation holds ≤ shard_docs docs that is
    ONE Spark job of one task over a one-row Range: the task reads the
    query terms' segment rows and the hits' docstore keys with pyarrow,
    scores every generation with the WAND kernel and returns the k rows
    already sorted, so no plan over the segment table is built. Otherwise
    the per-query rank sorts its partition into rank order. Multi-generation
    stats (N, avgdl, df) are global, so scores are exact global BM25; ties
    resolve by the real (conv_id, turn_idx) keys (rank-identical to the
    oracle regardless of docID assignment order)."""
    return _topk_plan(
        reader, [("q", query_terms(query_text), k, False)], shard_docs, _HIT_COLS
    )
