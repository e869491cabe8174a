"""Seeded inputs for the benchmark: transcripts corpora, query mixes and the
registry tables.

Transcripts come from the repo's own generator,
``audioflux_spark.fixtures.gen_transcripts``, written once per (size, seed)
under the benchmark's work directory. ``fixtures.gen_queries`` ignores its
seed and ``fixtures.fixture_dir`` caches by scale factor only, so neither can
feed a seeded workload; the query sampler lives here for that reason.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from audioflux_spark.fixtures import HOTTERM, gen_transcripts

NEEDLES = [f"needle_unique_{i}" for i in range(3)] + [f"needle_pair_{i}" for i in range(2)]
# query classes of the serving mix, drawn in equal shares: no recorded
# traffic says how often each class occurs, so the mix is synthetic
QUERY_CLASSES = ("needle", "rare", "mid", "hot", "multi", "absent")


def _write_once(write, path: str) -> str:
    """Run ``write(path)`` unless a finished write (marker file) is there."""
    marker = path + ".done"
    if not os.path.exists(marker):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write(path)
        with open(marker, "w") as f:
            f.write("ok")
    return path


def cached_corpus(cache_dir: str, n_convs: int, seed: int) -> tuple[str, pd.DataFrame]:
    """(directory holding transcripts.parquet, frame) for (n_convs, seed);
    generated at most once per cache directory."""
    out = os.path.join(cache_dir, f"transcripts_n{n_convs}_s{seed}")
    path = os.path.join(out, "transcripts.parquet")
    if os.path.exists(path + ".done"):
        return out, pq.read_table(path).to_pandas()
    frame = gen_transcripts(n_convs, seed)
    # small row groups so the scan splits into several tasks, as fixture_dir does
    _write_once(lambda p: frame.to_parquet(p, index=False, row_group_size=20_000), path)
    return out, frame


@dataclass(frozen=True)
class Query:
    cls: str
    text: str
    k: int


class QuerySampler:
    """Seeded query mix drawn by class from a corpus's document frequencies.

    needle: planted terms (df 1-2); rare: df 2-5; mid: df around the median
    of the regular vocabulary; hot: ``hotterm`` with k in {1, 10, 100};
    multi: 2-3 terms from the rare, mid and hot pools; absent: terms not in
    the corpus.
    """

    def __init__(self, df: dict[str, int], seed: int):
        self.rng = np.random.default_rng(seed)
        self._round: list[str] = []
        regular = sorted((d, t) for t, d in df.items() if t.startswith("term"))
        dfs = np.array([d for d, _ in regular])
        terms = [t for _, t in regular]
        self.needles = [t for t in NEEDLES if t in df]
        self.rare = [t for d, t in regular if 2 <= d <= 5] or terms[:10]
        lo, hi = np.searchsorted(dfs, np.quantile(dfs, [0.45, 0.55]))
        self.mid = terms[lo:max(hi, lo + 1)]

    def _pick(self, pool: list[str]) -> str:
        return pool[int(self.rng.integers(len(pool)))]

    def draw(self) -> Query:
        """Next query of the mix: the classes come in rounds that hold each
        class once, in seeded order, so every run has the same class shares."""
        if not self._round:
            self._round = [QUERY_CLASSES[i] for i in self.rng.permutation(len(QUERY_CLASSES))]
        return self.draw_class(self._round.pop())

    def draw_class(self, cls: str) -> Query:
        if cls == "needle":
            return Query(cls, self._pick(self.needles), 10)
        if cls == "rare":
            return Query(cls, self._pick(self.rare), 10)
        if cls == "mid":
            return Query(cls, self._pick(self.mid), 10)
        if cls == "hot":
            return Query(cls, HOTTERM, int(self.rng.choice([1, 10, 100])))
        if cls == "multi":
            pools = [self.rare, self.mid, [HOTTERM]]
            n = int(self.rng.integers(2, 4))
            picks = {self._pick(pools[int(self.rng.integers(len(pools)))]) for _ in range(n)}
            return Query(cls, " ".join(sorted(picks)), 10)
        if cls == "absent":
            return Query(cls, f"zzqx_absent_{int(self.rng.integers(1 << 30))}", 10)
        raise ValueError(f"unknown query class {cls!r}")

    def one_per_class(self) -> list[Query]:
        return [self.draw_class(c) for c in QUERY_CLASSES]


# ---- registry tables (documents, events, embeddings) in the shape of the
# repo's scale-factor test data: 30 uniform words, 10-100 tokens per document,
# a rare "dup" token and a few exact duplicates; five event types over 30
# days; 64-dimensional embeddings with ten labels

DOC_WORDS = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])


def registry_tables(n_docs: int, n_events: int, n_vecs: int, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, size=n_docs)
    words = DOC_WORDS[rng.integers(len(DOC_WORDS), size=int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] += " dup"
    for i in rng.choice(np.arange(n_docs // 2, n_docs), size=max(1, n_docs // 500), replace=False):
        texts[i] = texts[int(rng.integers(n_docs // 2))]
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), size=n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    gaps = rng.exponential(30 * 86_400 / n_events, size=n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(150, size=n_events).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(len(EVENT_TYPES), size=n_events)],
        "value": np.round(rng.exponential(50.0, size=n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(100, size=n_events)],
    })

    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32) * np.float32(0.13)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(10, size=n_vecs).astype(np.int32),
    })
    return {"documents": documents, "events": events, "embeddings": embeddings}


def write_registry(out_dir: str, tables: dict[str, pd.DataFrame]) -> str:
    for name, frame in tables.items():
        _write_once(lambda p, f=frame: f.to_parquet(p, index=False),
                    os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
