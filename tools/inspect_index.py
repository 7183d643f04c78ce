"""Index introspection: sizes, head terms, shard histogram, compression.

    python tools/inspect_index.py /path/to/index

No Spark session needed — reads the parquet artifacts with pyarrow.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.dataset as pads

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.storage import read_json_files  # noqa: E402


def inspect(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "corpus_stats.json")) as f:
        cs = json.load(f)

    merged = pads.dataset(os.path.join(index_dir, "merged")).to_table(
        columns=["term", "shard", "df", "cf", "docids", "tfs"]
    )
    df = np.asarray(merged.column("df"))
    blob_bytes = sum(len(b.as_py()) for b in merged.column("docids")) + sum(
        len(b.as_py()) for b in merged.column("tfs")
    )
    n_postings = int(df.sum())
    shard_counts: dict[str, int] = {}
    for t in merged.column("term").to_pylist():
        shard_counts[t] = shard_counts.get(t, 0) + 1
    multi_shard = {t: c for t, c in shard_counts.items() if c > 1}

    order = np.argsort(df)[::-1][:10]
    terms = merged.column("term").to_pylist()
    head = [{"term": terms[int(i)], "df": int(df[i])} for i in order]

    manifests = list(read_json_files(os.path.join(index_dir, "manifests")).values())

    return {
        "corpus": cs,
        "merged_rows": merged.num_rows,
        "total_postings": n_postings,
        "posting_bytes": blob_bytes,
        "bytes_per_posting": round(blob_bytes / max(n_postings, 1), 3),
        "head_terms": head,
        "salted_terms": len(multi_shard),
        "max_shards_per_term": max(shard_counts.values()) if shard_counts else 0,
        "partitions": len(manifests),
        "partition_docs": {
            "min": min(m["n_docs"] for m in manifests),
            "max": max(m["n_docs"] for m in manifests),
        },
        "statuses": sorted({m["status"] for m in manifests}),
    }


if __name__ == "__main__":
    print(json.dumps(inspect(sys.argv[1]), indent=2))
