"""Exact-phrase search over the positional index — doc-range sharded.

The reference's framing operators preserve intra-frame order
(/root/reference/src/stft_algorithm.c:813-833 — samples keep their position
inside each frame); the positional index preserves token order the same way
(per-posting position deltas, functions/codec.encode_positions_flat), which
is what makes "exact phrase" — the second query every search user types —
answerable without rescanning text.

Kernel shape (vectorized, no per-doc Python): a doc contains the phrase
t₀ t₁ … t_{m-1} iff ∩_i { (doc, p - i) : p ∈ positions(t_i, doc) } ≠ ∅.
Each term's (doc, position) pairs become int64 keys doc·M + (pos − i); the
phrase test is then m−1 successive np.intersect1d calls — set intersection
over sorted int64 arrays, the same primitive the reference's vector library
exposes as sorted search (/root/reference/src/vector/flux_vector.h).

Matched docs are scored with standard BM25 over the phrase terms (global
N/avgdl/df — exact corpus-level scores), so results rank like any other
query.

Scale shape: a phrase query is one item of the serving task
(operators/wand._serve_query), one per (generation, doc-range shard). The
task reads each phrase term's segment row, positions included, and
decodes only the blocks overlapping its range (per-block byte lengths give
each block's bytes, and each block re-anchors its docIDs), so a Zipf-HEAD
phrase term's full posting/position list is never decoded in one task.
Matches are clipped to the range, so every doc matches in exactly one
shard with all its terms present, and each shard keeps only its top k plus
the k-th-score tie group before keys are resolved.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from audioflux_spark.functions.codec import (
    decode_positions,
    delta_decode_segmented,
    varint_decode,
)
from audioflux_spark.operators.topk import query_terms
from audioflux_spark.operators.wand import (
    _HIT_COLS,
    DEFAULT_SHARD_DOCS,
    _block_ends,
    _byte_offsets,
    _topk_plan,
)
from audioflux_spark.sources.segments import IndexReader

# position-key stride: must exceed any doc_len + phrase length; doc ids up to
# ~1e12 still fit int64 (1e12 · 2^22 < 2^63)
_POS_STRIDE = 1 << 22


def _decode_full(
    row, lo: int = 0, hi: int | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tf, dl, positions) of the blocks of one merged term row
    that overlap docID range [lo, hi); the whole row by default.

    Doc ids are BLOCK-anchored (each block's first docID re-anchors its delta
    chain) rather than partial-anchored: block_firsts is then the only
    absolute docID state in the whole row besides each partial's first
    gap, which is what lets the merge shift a partition's docID space by
    rewriting one varint per partial, and lets a range's blocks decode
    straight from their per-block byte offsets."""
    counts = np.asarray(row["block_counts"], dtype=np.int64)
    firsts = np.asarray(row["block_firsts"], dtype=np.int64)
    bi = int(np.searchsorted(_block_ends(firsts, int(row["last_doc"])), lo, side="left"))
    bj = counts.size if hi is None else int(np.searchsorted(firsts, hi, side="left"))
    counts, firsts = counts[bi:bj], firsts[bi:bj]
    n = int(counts.sum())

    def blocks(blob: str, lengths: str) -> memoryview:
        off = _byte_offsets(row[lengths])
        return memoryview(row[blob])[off[bi]:off[bj]]

    gaps = varint_decode(blocks("doc_blob", "block_doc_bytes"), n).astype(np.int64)
    rel = delta_decode_segmented(gaps, counts)
    block_starts = np.cumsum(counts) - counts
    doc_ids = rel - np.repeat(rel[block_starts], counts) + np.repeat(firsts, counts)
    tf = varint_decode(blocks("tf_blob", "block_tf_bytes"), n).astype(np.int64)
    dl = varint_decode(blocks("dl_blob", "block_dl_bytes"), n).astype(np.int64)
    pos = decode_positions(blocks("pos_blob", "block_pos_bytes"), tf)
    return doc_ids, tf, dl, pos


def phrase_match_kernel(
    term_rows: list,
    terms: list[str],
    avgdl: float,
    k1: float,
    b: float,
    idfs: dict[str, float],
    doc_lo: int = 0,
    doc_hi: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One (generation, shard)'s phrase match + BM25 scoring.

    term_rows: one segment row per phrase term (same generation). Only the
    blocks overlapping [doc_lo, doc_hi) are decoded, and matches are clipped
    to that exact range (a boundary block is decoded by both shards).
    Returns (doc_ids, scores) for docs containing the sequence, by doc_id."""
    by_term = {r["term"]: r for r in term_rows}
    if any(t not in by_term for t in terms):
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)

    decoded = {
        t: _decode_full(by_term[t], doc_lo, doc_hi) for t in dict.fromkeys(terms)
    }

    # packed-key safety: a position ≥ _POS_STRIDE would silently corrupt the
    # (doc, position) keys and produce wrong matches — fail loudly instead
    for t, (_d, _tf, _dl, pos) in decoded.items():
        if pos.size and int(pos.max()) + len(terms) >= _POS_STRIDE:
            raise ValueError(
                f"document too long for phrase matching: term {t!r} has a "
                f"token position {int(pos.max())} >= stride {_POS_STRIDE}"
            )

    keys = None
    for i, t in enumerate(terms):
        doc_ids, tf, _dl, pos = decoded[t]
        expanded = np.repeat(doc_ids, tf)
        k_i = expanded * _POS_STRIDE + (pos - i)
        k_i = k_i[pos >= i]  # a token at position < i cannot start-align
        if keys is None:
            keys = np.unique(k_i)
        else:
            keys = np.intersect1d(keys, k_i, assume_unique=False)
        if keys.size == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)

    match_docs = np.unique(keys // _POS_STRIDE)
    match_docs = match_docs[match_docs >= doc_lo]
    if doc_hi is not None:
        match_docs = match_docs[match_docs < doc_hi]
    if match_docs.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)

    scores = np.zeros(match_docs.size, dtype=np.float64)
    for t in dict.fromkeys(terms):
        doc_ids, tf, dl, _pos = decoded[t]
        ix = np.searchsorted(doc_ids, match_docs)
        tff = tf[ix].astype(np.float64)
        dlf = dl[ix].astype(np.float64)
        scores += idfs[t] * tff * (k1 + 1.0) / (
            tff + k1 * (1.0 - b + b * dlf / avgdl)
        )
    return match_docs, scores


def bm25_topk_phrase(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    shard_docs: int = DEFAULT_SHARD_DOCS,
) -> DataFrame:
    """Exact-phrase top-k: docs containing the token sequence, ranked by the
    BM25 score of the phrase's terms (global corpus stats), ties broken by
    (conv_id, turn_idx). Requires an index built with store_positions.

    The serving plan of operators/wand with one phrase query: matching runs
    in its tasks, one item per (generation, doc-range shard), and each
    shard sends at most k rows on to the final rank."""
    return _topk_plan(reader, [("q", query_terms(phrase), k, True)], shard_docs, _HIT_COLS)
