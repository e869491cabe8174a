#!/usr/bin/env python
"""Index observability CLI: per-partition lineage + metrics for a built
index — the operator-facing view of the manifest the build writes
(rows, tokens, avgdl, docID offset, terms, postings, bytes, skew ratio
per partition; resume status; corpus-level meta). Pure metadata: reads manifest.json + meta.json, no
Spark session and no segment scan, so it is safe to run against a live
index at any scale.

    python scripts/index_inspect_cli.py --index-dir /data/index [--json]

Exit status is non-zero when the manifest records any non-done partition
(a resumable build that has not completed), so the command doubles as a
build-health probe in orchestration.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def inspect(index_dir: str) -> dict:
    from audioflux_spark.operators.indexer import IndexMeta
    from audioflux_spark.plans.checkpoint import load_manifest

    manifest = load_manifest(index_dir)
    meta_path = os.path.join(index_dir, "meta.json")
    meta = None
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = IndexMeta.from_json(f.read())

    parts = [
        {
            "partition_id": e.partition_id,
            "status": e.status,
            "n": e.n,
            "tokens": e.tokens,
            "avgdl": e.avgdl,
            "doc_offset": e.doc_offset,
            "terms": e.terms,
            "postings": e.postings,
            "bytes": e.bytes,
            "skew_ratio": round(e.skew_ratio, 4),
            "input_fingerprint": e.input_fingerprint,
            "output_path": e.output_path,
        }
        for _, e in sorted(manifest.entries.items())
    ]
    not_done = [p["partition_id"] for p in parts if p["status"] != "done"]
    out: dict = {
        "index_dir": index_dir,
        "n_partitions_built": len(parts),
        "incomplete_partitions": not_done,
        "totals": {
            "terms": sum(p["terms"] for p in parts),
            "postings": sum(p["postings"] for p in parts),
            "bytes": sum(p["bytes"] for p in parts),
        },
        "max_skew_ratio": max((p["skew_ratio"] for p in parts), default=0.0),
        "partitions": parts,
    }
    if meta is not None:
        out["meta"] = {
            "n_docs": meta.n_docs,
            "avgdl": meta.avgdl,
            "total_tokens": meta.total_tokens,
            "k1": meta.k1,
            "b": meta.b,
            "block_size": meta.block_size,
            "n_partitions": meta.n_partitions,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--json", action="store_true", help="machine-readable dump")
    args = ap.parse_args()

    out = inspect(args.index_dir)
    if args.json:
        print(json.dumps(out, indent=1, sort_keys=True))
    else:
        m = out.get("meta")
        if m:
            print(
                f"index {out['index_dir']}: {m['n_docs']} docs, "
                f"avgdl {m['avgdl']:.4f}, {m['n_partitions']} partitions, "
                f"block_size {m['block_size']}, k1={m['k1']} b={m['b']}"
            )
        t = out["totals"]
        print(
            f"built partitions: {out['n_partitions_built']} "
            f"(incomplete: {out['incomplete_partitions'] or 'none'}); "
            f"terms {t['terms']}, postings {t['postings']}, "
            f"bytes {t['bytes']}, max skew {out['max_skew_ratio']:.3f}"
        )
        print(
            "pid  status           n     tokens    avgdl  doc_offset"
            "      terms   postings      bytes  skew"
        )
        for p in out["partitions"]:
            print(
                f"{p['partition_id']:>3}  {p['status']:<6} {p['n']:>10} {p['tokens']:>10} "
                f"{p['avgdl']:>8.3f} {p['doc_offset']:>11} "
                f"{p['terms']:>10} {p['postings']:>10} {p['bytes']:>10} "
                f"{p['skew_ratio']:>5.2f}"
            )
    sys.exit(1 if out["incomplete_partitions"] else 0)


if __name__ == "__main__":
    main()
