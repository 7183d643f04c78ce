"""miru_spark — a from-scratch PySpark-native inverted-index + BM25 engine.

Rebuilds the query/data-processing capabilities of jivesoftware/miru
(reference at /root/reference, read-only) as an idiomatic Spark engine:

- write side: tokenize → stable docIDs → per-partition posting segments
  (delta+varint, TF payloads) → salted hierarchical merge → stats table
  (analog of miru's MiruIndexer pipeline,
  miru-service/src/main/java/com/jivesoftware/os/miru/service/stream/MiruIndexer.java:47-126)
- read side: boolean filter AST (and/or/pButNotQ,
  miru-api/.../filter/MiruFilterOperation.java:10-22) + BM25 top-k with
  block-max pruning (miru scores TF-IDF in
  miru-stream-plugins/.../fulltext/FullText.java:99-220; the north rule
  specifies BM25) and `(score desc, docID desc)` tie order
  (FullText.java:294-303).
- plus the analytics/reco plugin surface re-expressed as DataFrame
  programs (SURVEY.md §2.4-2.6) and large-scale training-data pipeline
  ops (dedup, similarity search, text analysis).

Nothing here is a port: execution is DataFrame/Catalyst + vectorized
Arrow UDFs, not bitmap LSM trees.
"""

__version__ = "0.1.0"

from miru_spark import zipcache as _zipcache

# every Python worker imports miru_spark when it unpickles an engine kernel,
# so installing here spares each of its later tasks the zip re-reads
_zipcache.install()
