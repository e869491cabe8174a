"""Exact-phrase queries over the positional index: brute-force equality,
order sensitivity, and the doc-range-sharded serving items (each bounded
to k rows, together identical to the unsharded ranking)."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from audioflux_spark.operators.phrase import bm25_topk_phrase
from audioflux_spark.operators.topk import query_terms
from audioflux_spark.operators.wand import _task_params
from tests.test_index_wand import serve_locally


def _brute_phrase_docs(pdf: pd.DataFrame, terms: list[str]) -> set:
    out = set()
    pat = re.compile("[a-z0-9_]+")
    for _, row in pdf.iterrows():
        toks = pat.findall(row["text"].lower())
        for i in range(len(toks) - len(terms) + 1):
            if toks[i : i + len(terms)] == terms:
                out.add((row["conv_id"], int(row["turn_idx"])))
                break
    return out


def _head_tokens(pdf: pd.DataFrame) -> list[str]:
    return re.findall("[a-z0-9_]+", pdf.iloc[0]["text"].lower())


def test_phrase_matches_brute_force(spark, pos_reader, transcripts_pdf):
    # pick a phrase that actually occurs: first doc's first two tokens
    phrase_terms = _head_tokens(transcripts_pdf)[:2]
    phrase = " ".join(phrase_terms)
    want = _brute_phrase_docs(transcripts_pdf, phrase_terms)
    assert want, "fixture phrase must occur at least once"
    got = bm25_topk_phrase(pos_reader, phrase, k=len(want) + 50).toPandas()
    got_keys = set(zip(got["conv_id"], got["turn_idx"].astype(int)))
    assert got_keys == want


def test_phrase_order_sensitivity(pos_reader, transcripts_pdf):
    """A phrase and its reversal match different doc sets (order matters)."""
    a, b = _head_tokens(transcripts_pdf)[:2]
    if a == b:
        pytest.skip("degenerate fixture head")
    fwd = _brute_phrase_docs(transcripts_pdf, [a, b])
    rev = _brute_phrase_docs(transcripts_pdf, [b, a])
    got_fwd = bm25_topk_phrase(pos_reader, f"{a} {b}", k=10_000).toPandas()
    got_rev = bm25_topk_phrase(pos_reader, f"{b} {a}", k=10_000).toPandas()
    assert set(zip(got_fwd["conv_id"], got_fwd["turn_idx"].astype(int))) == fwd
    assert set(zip(got_rev["conv_id"], got_rev["turn_idx"].astype(int))) == rev


def test_phrase_sharded_equals_unsharded(spark, pos_reader, transcripts_pdf):
    """Tiny shard size forces the multi-shard phrase path (block-range
    decode, per-shard match, per-query rank over the shards' rows): results
    must be identical to the single-shard path and to brute force —
    including a Zipf-HEAD phrase (hotterm appears in ~40% of turns), the
    exact case the sharding exists for."""
    # a tail phrase (first doc's first two tokens) and a head phrase: the
    # first 'hotterm X' bigram found in the corpus
    phrases = [_head_tokens(transcripts_pdf)[:2]]
    for _, row in transcripts_pdf.iterrows():
        toks = re.findall("[a-z0-9_]+", str(row["text"]).lower())
        for i, t in enumerate(toks[:-1]):
            if t == "hotterm":
                phrases.append([toks[i], toks[i + 1]])
                break
        if len(phrases) == 2:
            break
    assert len(phrases) == 2, "fixture must contain a hotterm bigram"

    for terms in phrases:
        phrase = " ".join(terms)
        want = _brute_phrase_docs(transcripts_pdf, terms)
        assert want, f"fixture phrase {phrase!r} must occur"
        kk = len(want) + 50
        one = bm25_topk_phrase(pos_reader, phrase, k=kk).toPandas()
        many = bm25_topk_phrase(pos_reader, phrase, k=kk, shard_docs=200).toPandas()
        got_one = set(zip(one["conv_id"], one["turn_idx"].astype(int)))
        got_many = set(zip(many["conv_id"], many["turn_idx"].astype(int)))
        assert got_one == want, f"single-shard phrase wrong for {phrase!r}"
        assert got_many == want, f"multi-shard phrase wrong for {phrase!r}"
        pd.testing.assert_frame_equal(
            one.reset_index(drop=True), many.reset_index(drop=True)
        )


def test_phrase_items_bounded_per_shard(pos_reader, transcripts_pdf):
    """Forced-small shard_docs: each (generation, doc-range shard) item
    sends at most k rows plus the k-th-score tie group on to the final
    rank, so its input is bounded by shards*(k+ties) — never the full match
    set — and an item's rows are the unbounded ranking's head over its
    range. Top-k itself stays identical to the unbounded (huge-k)
    ranking."""
    terms = _head_tokens(transcripts_pdf)[:2]
    phrase = " ".join(terms)
    n_matches = len(_brute_phrase_docs(transcripts_pdf, terms))
    k = 3
    full = bm25_topk_phrase(pos_reader, phrase, k=10_000).toPandas()
    ds = pos_reader.docstore.select("doc_id", "conv_id", "turn_idx").toPandas()
    doc_of = {(c, int(t)): d for d, c, t in zip(ds.doc_id, ds.conv_id, ds.turn_idx)}
    full_docs = [doc_of[(c, int(t))] for c, t in zip(full.conv_id, full.turn_idx)]

    # as many tasks as shards: one item per task
    params, spans = _task_params(
        pos_reader, [("q", query_terms(phrase), k, True)], 200, n_tasks=1_000
    )
    assert spans and params["n_tasks"] == len(params["ranges"]) > 1
    emitted = 0
    for task in range(params["n_tasks"]):
        _, lo, hi = params["ranges"][task]
        rows = serve_locally(params, task)
        emitted += len(rows)
        scores = [r["score"] for r in rows]
        if len(rows) > k:
            # everything past position k must tie the k-th score exactly
            assert all(s == scores[k - 1] for s in scores[k:]), (
                f"item {lo}-{hi} emitted rows past a non-tied k-th score"
            )
        in_range = full[[lo <= d < hi for d in full_docs]]
        want = list(zip(in_range.conv_id, in_range.turn_idx, in_range.score))[: len(rows)]
        assert [(r["conv_id"], r["turn_idx"], r["score"]) for r in rows] == want
        assert len(rows) == min(k, len(in_range))
    # the final rank's input is the bounded union, not the match set
    if n_matches > params["n_tasks"] * k:
        assert emitted < n_matches

    # rank identity vs the unbounded path
    bounded = bm25_topk_phrase(pos_reader, phrase, k=k, shard_docs=200).toPandas()
    pd.testing.assert_frame_equal(
        bounded.reset_index(drop=True), full.head(len(bounded)).reset_index(drop=True)
    )
