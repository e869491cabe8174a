"""Per-partition checkpoint manifest — the resumable-build layer.

Analog of the reference's isContinue/tail-carry protocol
(/root/reference/src/stft_algorithm.c:41,50-51,536-586): bounded state that
makes a long computation restartable without redoing completed work, with
identical results to a one-shot run. Spark gives task-level retry; cross-RUN
resume needs this explicit lineage: each build partition records its input
fingerprint + metrics, and a re-run recomputes only partitions whose
fingerprint is missing or stale.

Manifest row: (partition_id, input_fingerprint, status, n, tokens, avgdl,
doc_offset, terms, postings, bytes, skew_ratio, output_path, term_splits) —
FIXTURES.md F5. The partials task writes its partition's files with
partition-local docIDs and block maxes under the partition's own avgdl
(n rows, tokens tokens), so a kept partition stays valid whatever the other
partitions hold: the merge shifts and widens it (indexer._read_partial).
The fingerprint is "<rows>:<XOR of xxhash64(conv_id, turn_idx, text)>",
computed by the partials task itself; a task whose partition matches its
entry, with its files present, writes nothing.
term_splits are the partition's terms at even shares in byte order, from
which the range merge draws its term ranges; a kept partition keeps
them, so a resumed build merges over the same ranges. They are empty when
the build has more partitions than the range merge reads, and merges
through the exchange instead.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import asdict, dataclass, field


@dataclass
class PartitionEntry:
    partition_id: int
    input_fingerprint: str
    status: str = "done"
    # rows and tokens of the partition, and the avgdl (tokens / n) its block
    # maxes were encoded under. n = 0 marks an entry written before these
    # were recorded, whose files hold global docIDs: it is rebuilt
    n: int = 0
    tokens: int = 0
    avgdl: float = 0.0
    # the docID of the partition's first row in the merged index (the rows
    # of partitions 0 .. pid-1). Derived from the entries' n at every build;
    # recorded for inspection, it decides nothing on resume
    doc_offset: int = -1
    terms: int = 0
    postings: int = 0
    bytes: int = 0
    skew_ratio: float = 0.0
    output_path: str = ""
    # empty for exchange-merged builds and in manifests written before
    # splits were recorded: the merge's ranges are then drawn from the other
    # entries (any ranges are correct)
    term_splits: list[str] = field(default_factory=list)


@dataclass
class Manifest:
    version: int = 1
    entries: dict[int, PartitionEntry] = field(default_factory=dict)


def manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.json")


def load_manifest(index_dir: str) -> Manifest:
    path = manifest_path(index_dir)
    if not os.path.exists(path):
        return Manifest()
    with open(path) as f:
        raw = json.load(f)
    return Manifest(
        version=raw.get("version", 1),
        entries={
            int(pid): PartitionEntry(**e) for pid, e in raw.get("entries", {}).items()
        },
    )


def save_manifest(index_dir: str, manifest: Manifest) -> None:
    """Atomic write (tmp + rename) so a crash never half-writes lineage."""
    os.makedirs(index_dir, exist_ok=True)
    payload = {
        "version": manifest.version,
        "entries": {str(p): asdict(e) for p, e in manifest.entries.items()},
    }
    fd, tmp = tempfile.mkstemp(dir=index_dir, suffix=".manifest.tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        os.replace(tmp, manifest_path(index_dir))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
