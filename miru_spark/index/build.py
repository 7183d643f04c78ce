"""Index build pipeline: stable docIDs → per-partition posting segments.

The Spark-native rebuild of miru's MiruIndexer.index pipeline
(miru-service/.../stream/MiruIndexer.java:47-126) and posting-list
construction (miru-service/.../stream/MiruIndexPrimaryFields.java:37-160):
per partition, term → sorted (docID, tf) runs. Partition-local docID spaces
in miru (MiruPartitionCursor.java:29-31) become one GLOBAL dense docID space
here, assigned as the rank in (repo, path, commit) order — stable across
parallelism levels (SURVEY.md §7.4b) — with partitions owning contiguous,
disjoint docID ranges so the later merge is pure concatenation (the same
insight as miru's atomized posting keys, LabInvertedIndex.java:87-150).

Scale notes (100 TB / 10^12 files):
- the content takes exactly ONE pass: key range-partition shuffle → per-task
  tokenize + segment + forward-index write. docIDs are partition-local there;
  global ids (= global key rank) appear at merge time by adding manifest-count
  prefix-sum offsets — no count pre-job, no id-stamping re-pass, no global
  sort bottleneck, no driver materialization beyond one int per partition.
  (The earlier two-pass design moved all content through JVM↔Arrow↔Python
  twice and measurably saturated memory bandwidth before CPUs.)
- the only shuffles in the whole build are the repartitionByRange and the
  term-keyed merge (which carries postings, never content); with
  assume_sorted=True (corpus pre-sorted by key, e.g. Iceberg sort order)
  even the range shuffle disappears.
- each task writes its own segment parquet + manifest (write-tmp-then-rename,
  checkpoint-after-durable-write ordering copied from miru's FullTextGatherer
  sip cursor, miru-stream-plugins/.../fulltext/FullTextGatherer.java:205-242),
  so an interrupted build resumes by skipping completed partitions.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from miru_spark.analyzer import tokenize_arrow_flat
from miru_spark import roaring
from miru_spark.codec import encode_postings
from miru_spark.corpus import verify_sha256
from miru_spark.index.merge import ROW_GROUP_BYTES, forward_index, whole_groups
from miru_spark.storage import load_json, put_atomic, save_json_atomic

KEY_COLS = ["repo", "path", "commit"]

SEGMENT_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("pid", pa.int32()),
        ("df", pa.int64()),
        ("cf", pa.int64()),
        ("min_doc", pa.int64()),
        ("max_doc", pa.int64()),
        ("docids", pa.binary()),
        ("tfs", pa.binary()),
        ("block_last", pa.binary()),
        ("block_max_tf", pa.binary()),
    ]
)

MANIFEST_ROW_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("n_postings", T.LongType()),
        T.StructField("n_terms", T.LongType()),
        T.StructField("doc_id_start", T.LongType()),
        T.StructField("doc_id_end", T.LongType()),
        T.StructField("status", T.StringType()),
    ]
)


def key_partition(df: DataFrame, num_partitions: int, assume_sorted: bool = False) -> DataFrame:
    """Range-partition + sort by (repo, path, commit): a total key order
    across partitions, so partition p owns keys strictly below partition p+1
    and partition-local ranks + offsets give the global key rank.
    ``assume_sorted``: the input files are already globally key-sorted (e.g.
    an Iceberg table with a matching sort order) — skip the shuffle entirely
    and use the existing file partitioning."""
    if assume_sorted:
        return df.withColumn("_pid", F.spark_partition_id())
    return (
        df.repartitionByRange(num_partitions, *KEY_COLS)
        .sortWithinPartitions(*KEY_COLS)
        .withColumn("_pid", F.spark_partition_id())
    )


def check_assumed_sort(keyed: DataFrame) -> None:
    """Guard for ``assume_sorted=True``: verify each partition is internally
    key-sorted AND partition key ranges are strictly ascending/disjoint in
    pid order. A file source that bin-packs splits (size-sorted, large files
    split at maxPartitionBytes) does NOT preserve key order in
    spark_partition_id order -- silently building on it would corrupt every
    docID and the zero-decode merge. One key-columns-only map pass (the scan
    is column-pruned to the 3 key columns, no shuffle); fails loudly."""
    check_schema = T.StructType(
        [
            T.StructField("pid", T.IntegerType()),
            T.StructField("lo", T.StringType()),
            T.StructField("hi", T.StringType()),
            T.StructField("sorted", T.BooleanType()),
        ]
    )

    def per_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        # \x01, not \x00: pandas object-dtype concat goes through numpy
        # fixed-width unicode, which TRUNCATES trailing NULs — the separator
        # would vanish and break tuple-order equivalence. \x01 survives and
        # still sorts below every printable key character.
        sep = chr(1)
        keys = pdf["repo"] + sep + pdf["path"] + sep + pdf["commit"]
        is_sorted = bool((keys >= keys.shift()).iloc[1:].all()) if len(keys) > 1 else True
        yield pd.DataFrame(
            [
                {
                    "pid": int(pdf["_pid"].iloc[0]),
                    "lo": keys.min(),
                    "hi": keys.max(),
                    "sorted": is_sorted,
                }
            ]
        )

    rows = sorted(
        keyed.select("repo", "path", "commit", "_pid")
        .mapInPandas(per_part, schema=check_schema)
        .collect(),
        key=lambda r: r["pid"],
    )
    prev_hi, prev_pid = None, None
    for r in rows:
        pid, lo, hi = r["pid"], r["lo"], r["hi"]
        if not r["sorted"]:
            raise ValueError(
                f"assume_sorted violated: partition {pid} is not internally "
                "key-sorted -- rebuild without assume_sorted"
            )
        if prev_hi is not None and lo <= prev_hi:
            raise ValueError(
                f"assume_sorted violated: partition {pid} key range starts at "
                f"{lo!r} which is <= partition {prev_pid} max {prev_hi!r}; "
                "the input is not globally key-sorted in partition order -- "
                "rebuild without assume_sorted (or pre-range-partition in-plan)"
            )
        prev_hi, prev_pid = hi, pid


def assign_doc_ids(
    df: DataFrame, num_partitions: int, persist: bool = True
) -> tuple[DataFrame, dict[int, int]]:
    """Global dense docIDs = rank in (repo, path, commit) order, materialized
    as a column (used by the oracle/test paths; the production build derives
    the same ids with ONE pass over content — local ranks in the segment
    pass + manifest-count offsets applied at merge, see build_index).

    Per-partition counts → prefix-sum offsets (broadcast dict, one entry per
    partition). Independent of parallelism: the rank of a key is the rank,
    whatever N is.
    """
    keyed = key_partition(df, num_partitions)
    if persist:
        keyed = keyed.persist()
    counts = {r["_pid"]: r["count"] for r in keyed.groupBy("_pid").count().collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in range(num_partitions):
        offsets[pid] = acc
        acc += counts.get(pid, 0)

    off_b = df.sparkSession.sparkContext.broadcast(offsets)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("_pid", T.IntegerType()), T.StructField("doc_id", T.LongType())]
    )

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            base = off_b.value[pid] + seen
            pdf = pdf.copy()
            pdf["doc_id"] = np.arange(base, base + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield pdf

    return keyed.mapInPandas(add_ids, schema=out_schema), offsets


def _build_segment_rows(
    pdf: pd.DataFrame, stopwords: frozenset = frozenset(), analyzer=None
) -> tuple[dict, dict, pa.Table]:
    """Tokenize one partition and build its posting rows.

    Entirely Arrow/numpy vectorized (input_hint: no per-row Python): RE2
    regex split + dictionary-encode in Arrow C++, then int-only lexsort and
    run-length encoding — profiling shows ~4x over the object-array path,
    and it's the build's hot loop.

    docIDs here are PARTITION-LOCAL (0..n-1 in key order). Global ids =
    local + the partition's manifest-count prefix-sum offset, applied when
    the merge decodes the runs — so the whole build makes ONE pass over
    content (no separate count job, no id-stamping re-pass). Same insight as
    miru's partition-local docID spaces (MiruPartitionCursor.java:29-31).
    """
    doc_ids = np.arange(len(pdf), dtype=np.int64)
    codes, vocab, parents, n_tokens = tokenize_arrow_flat(pdf["content"])
    if stopwords:
        # locale analyzer (Q2, analyzers.py): one isin over the SMALL vocab,
        # then a boolean gather over the token stream — no per-token Python.
        # doc_len counts post-stopword tokens (what BM25 normalizes by).
        stop_mask = np.isin(vocab, sorted(stopwords))
        keep = ~stop_mask[codes]
        codes, parents = codes[keep], parents[keep]
        n_tokens = codes.size
    if analyzer is not None and analyzer.stem:
        # stemming is a VOCAB-LEVEL transform (analyzers.Analyzer.stem_vocab):
        # stem each unique dictionary word once, re-encode codes through the
        # merged stemmed vocab — the token stream is touched only by int
        # gathers, never per-token Python. Tokens stemming to "" drop (the
        # analyzer's drop-empties rule); doc_len counts post-stem tokens.
        stemmed = analyzer.stem_vocab(vocab)
        svocab, inv = np.unique(stemmed, return_inverse=True)
        codes = inv.astype(codes.dtype)[codes]
        vocab = svocab
        if svocab.size and svocab[0] == "":  # "" sorts first when present
            keep = codes != 0
            codes, parents = codes[keep], parents[keep]
        n_tokens = codes.size
    doc_lens = np.bincount(parents, minlength=len(pdf)).astype(np.int32)
    flat_docs = doc_ids[parents]
    # (term-code, doc) -> tf via int lexsort + run-length encoding
    order = np.lexsort((flat_docs, codes))
    sc, sd = codes[order], flat_docs[order]
    if sc.size:
        new_run = np.empty(sc.size, dtype=bool)
        new_run[0] = True
        new_run[1:] = (sc[1:] != sc[:-1]) | (sd[1:] != sd[:-1])
        run_starts = np.nonzero(new_run)[0]
        tf = np.diff(np.append(run_starts, sc.size))
        u_codes, u_docs = sc[run_starts], sd[run_starts]
        new_term = np.empty(u_codes.size, dtype=bool)
        new_term[0] = True
        new_term[1:] = u_codes[1:] != u_codes[:-1]
        term_starts = np.nonzero(new_term)[0]
        term_ends = np.append(term_starts[1:], u_codes.size)
    else:
        u_codes = u_docs = tf = term_starts = term_ends = np.empty(0, dtype=np.int64)

    rows = {k: [] for k in ("term", "df", "cf", "min_doc", "max_doc", "docids", "tfs", "block_last", "block_max_tf")}
    # emit in term-string order (deterministic segment layout); the groups
    # are contiguous per code, so this is a permutation of group slices
    present = u_codes[term_starts]
    group_of = {int(c): gi for gi, c in enumerate(present)}
    for c in sorted(group_of, key=lambda c: vocab[c]):
        gi = group_of[c]
        s, e = term_starts[gi], term_ends[gi]
        d, t = u_docs[s:e], tf[s:e]
        blobs = encode_postings(d, t)
        rows["term"].append(vocab[c])
        rows["df"].append(int(e - s))
        rows["cf"].append(int(t.sum()))
        rows["min_doc"].append(int(d[0]))
        rows["max_doc"].append(int(d[-1]))
        rows["docids"].append(blobs[0])
        rows["tfs"].append(blobs[1])
        rows["block_last"].append(blobs[2])
        rows["block_max_tf"].append(blobs[3])
    stats = dict(
        n_docs=int(len(pdf)),
        n_tokens=int(n_tokens),
        n_postings=int(u_codes.size),
        n_terms=int(term_starts.size),
        doc_id_start=int(doc_ids.min()) if doc_ids.size else -1,
        doc_id_end=int(doc_ids.max()) if doc_ids.size else -1,
    )
    # forward index rows (miru's activity index analog,
    # miru-plugin/.../index/MiruActivityIndex.java:16-45), fused into the same
    # pass: doc_len comes free from the tokenizer's parent indices — a
    # separate JVM-tokenize scan measured ~24s/1M docs and didn't parallelize.
    # local_doc_id + pid → globalized by the merge.
    meta_cols = {
        "local_doc_id": pa.array(doc_ids, pa.int64()),
        "repo": pa.array(pdf["repo"], pa.string()),
        "path": pa.array(pdf["path"], pa.string()),
        "commit": pa.array(pdf["commit"], pa.string()),
        "lang": pa.array(pdf["lang"], pa.string()),
        "doc_len": pa.array(doc_lens, pa.int32()),
    }
    if "ts" in pdf.columns:
        # S4 doc-time index: event time rides the forward index (the analog
        # of miru's MiruTimeIndex doc-order timestamps) — time-range masks
        # compose with every query at zero extra passes
        meta_cols["ts"] = pa.array(pdf["ts"].astype("int64"), pa.int64())
    meta = pa.table(meta_cols)
    return rows, stats, meta


def write_parquet_atomic(table: pa.Table, path: str, **options) -> None:
    """The one parquet write of index files, published whole."""
    put_atomic(path, lambda tmp: pq.write_table(table, tmp, compression="snappy", **options))


def segment_path(index_dir: str, pid: int) -> str:
    """A pid's posting segment. With ``meta_path`` and ``manifest_path``, the
    one naming of a partition's files: manifests and journals hold no paths."""
    return os.path.join(index_dir, "segments", f"seg_{pid}.parquet")


def meta_path(index_dir: str, pid: int) -> str:
    """A pid's forward-index (doc_meta_local) file."""
    return os.path.join(index_dir, "doc_meta_local", f"meta_{pid}.parquet")


def manifest_path(index_dir: str, pid: int) -> str:
    """A pid's manifest: its counts, published after its data files."""
    return os.path.join(index_dir, "manifests", f"partition_{pid}.json")


def write_forward_index(meta: pa.Table, path: str) -> None:
    """One pid's doc_meta_local file, read by position: row groups decode to
    at most ROW_GROUP_BYTES; dictionaries only on low-cardinality columns."""
    per_row = max(1, meta.nbytes // max(1, meta.num_rows))
    write_parquet_atomic(
        meta,
        path,
        row_group_size=max(1, ROW_GROUP_BYTES // per_row),
        use_dictionary=["repo", "commit", "lang", "doc_len", "pid"],
        column_encoding={"local_doc_id": "DELTA_BINARY_PACKED", "path": "PLAIN", "ts": "PLAIN"},
    )


def build_segments(
    keyed: DataFrame, index_dir: str, resume: bool = True
) -> DataFrame:
    """Build per-partition segment files + manifests; returns manifest DF.

    Tasks for partitions whose manifest already exists (resume) emit the
    recorded manifest and skip all work — the S14/S15 checkpoint contract.

    The index's analyzer config (analyzer.json, written by build_index) is
    read HERE so streaming appends automatically tokenize with the same
    analyzer the index was built with — the Q2 parity contract.
    """
    from miru_spark import analyzers as anz

    analyzer = anz.load(index_dir)
    stopwords = analyzer.stopwords
    for sub in ("segments", "doc_meta_local", "manifests"):
        os.makedirs(os.path.join(index_dir, sub), exist_ok=True)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        pid = int(pdf["_pid"].iloc[0])
        seg_out, meta_out = segment_path(index_dir, pid), meta_path(index_dir, pid)
        man_path = manifest_path(index_dir, pid)
        m = load_json(man_path, None) if resume else None
        if m is not None and m.get("n_docs") == len(pdf) and os.path.exists(seg_out) and os.path.exists(meta_out):
            m["status"] = "skipped"
            yield pd.DataFrame([m])[[f.name for f in MANIFEST_ROW_SCHEMA.fields]]
            return
        rows, stats, meta = _build_segment_rows(pdf, stopwords, analyzer)
        meta = meta.append_column("pid", pa.array([pid] * len(meta), pa.int32()))
        table = pa.table(
            {
                "term": rows["term"],
                "pid": pa.array([pid] * len(rows["term"]), pa.int32()),
                **{k: rows[k] for k in ("df", "cf", "min_doc", "max_doc")},
                **{k: pa.array(rows[k], pa.binary()) for k in ("docids", "tfs", "block_last", "block_max_tf")},
            },
            schema=SEGMENT_SCHEMA,
        )
        write_parquet_atomic(table, seg_out)  # data durable BEFORE manifest
        write_forward_index(meta, meta_out)
        manifest = dict(pid=pid, **stats, status="built")
        save_json_atomic(man_path, manifest)
        yield pd.DataFrame([manifest])[[f.name for f in MANIFEST_ROW_SCHEMA.fields]]

    return keyed.mapInPandas(build, schema=MANIFEST_ROW_SCHEMA)


def build_field_filters(spark: SparkSession, index_dir: str) -> None:
    """lang/repo filter bitmaps: field value → Roaring bitmap of docIDs
    (miru_spark.roaring, array/bitmap containers per 64Ki chunk).

    The analog of miru's per-term Roaring filter bitmaps / authz index
    (miru-plugin/.../index/MiruAuthzIndex.java:9-13); AND/OR/ANDNOT against
    candidate doc sets at query time. Low-cardinality fields only.

    One scan of the forward index, stacked into (field, value, doc_id) rows,
    hashed by (field, value) and sorted by doc_id within each group; a
    ``mapInArrow`` kernel encodes every group's sorted ids with
    ``roaring.from_array`` (``merge.whole_groups``: no pandas, no Python call
    per group from Spark).

    Ends by re-saving ``corpus_stats.json``: its mtime is the serving
    caches' generation stamp, and merge_segments writes it BEFORE this
    rewrite — a query in between would cache the old bitmaps under the new
    generation. Re-saving it makes it once more the last file written.
    """
    keys = ("field", "value")

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch, starts in whole_groups(batches, keys):
            bounds = np.append(starts, batch.num_rows)
            ids = batch.column("doc_id").to_numpy()
            bitmaps = [roaring.from_array(ids[s:e]) for s, e in zip(bounds[:-1], bounds[1:])]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("field").take(starts),
                    batch.column("value").take(starts),
                    pa.array(np.diff(bounds)),
                    pa.array(bitmaps, pa.binary()),
                ],
                names=["field", "value", "n", "doc_ids"],
            )

    (
        forward_index(spark, index_dir)
        .selectExpr("stack(2, 'lang', lang, 'repo', repo) AS (field, value)", "doc_id")
        .repartition(*keys)
        .sortWithinPartitions(*keys, "doc_id")
        .mapInArrow(enc, "field string, value string, n long, doc_ids binary")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "filters"))
    )
    stats_path = os.path.join(index_dir, "corpus_stats.json")
    save_json_atomic(stats_path, load_json(stats_path, None))


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    num_partitions: int = 8,
    resume: bool = True,
    check_sha256: bool = True,
    assume_sorted: bool = False,
    analyzer=None,
) -> dict:
    """End-to-end build: verify sha → key-partition → ONE content pass
    (tokenize + segments + forward index, partition-local ids) → merge
    (globalizes ids from manifest-count offsets, salted by head term) →
    stats → filters. Returns build summary."""
    from miru_spark.index.merge import merge_segments

    if check_sha256 and "sha256" in corpus.columns:
        mismatches = verify_sha256(corpus)
        if mismatches:
            raise ValueError(f"sha256(content) mismatch on {mismatches} rows")
    if "sha256" in corpus.columns:
        # already verified — don't haul 64 B/row through the shuffle + Arrow
        corpus = corpus.drop("sha256")

    # versioned schema (§1.2, MiruSchema.checkAdditive): first build
    # registers; a rebuild/append with a non-additive schema fails loudly
    from miru_spark.schema import register_or_check

    os.makedirs(index_dir, exist_ok=True)
    register_or_check(index_dir, corpus)

    # Q2 locale analyzer: record the config BEFORE building so every segment
    # task (and later streaming appends) reads the same analyzer.json.
    # ``analyzer`` accepts an analyzers.Analyzer or a (locale, use_stopwords)
    # pair like the reference parser's arguments (TermAnalyzers.findAnalyzer).
    from miru_spark import analyzers as anz

    if analyzer is not None:
        if isinstance(analyzer, tuple):
            analyzer = anz.find_analyzer(*analyzer)
        anz.save(index_dir, analyzer)

    keyed = key_partition(corpus, num_partitions, assume_sorted=assume_sorted)
    if assume_sorted:
        # one key-columns-only verification pass — the flag elides the range
        # SHUFFLE, not the scan; a bin-packed file source fails loudly here
        # instead of silently corrupting docIDs
        check_assumed_sort(keyed)
    manifests = build_segments(keyed, index_dir, resume=resume).collect()
    summary = merge_segments(spark, index_dir)
    build_field_filters(spark, index_dir)
    summary["partitions"] = len(manifests)
    summary["skipped_partitions"] = sum(1 for m in manifests if m["status"] == "skipped")
    summary["n_tokens"] = sum(m["n_tokens"] for m in manifests)
    save_json_atomic(os.path.join(index_dir, "build_summary.json"), summary)
    return summary
