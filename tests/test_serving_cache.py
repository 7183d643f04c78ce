"""The serving path's one byte-bounded cache (scorer._CACHE): decoded
postings and their aligned doc lengths, doc_meta_local footers and row
groups, filter bitmaps, dense per-doc arrays and dataset handles; its bound,
its keys, and the sweep of an index's stale generations."""

import os
import shutil

import numpy as np
import pytest

from miru_spark.query import scorer as sc

QUERIES = [
    ("merge AND sort", None),
    ("rareterm0", None),
    ("merge OR sort OR index", None),
    ("merge AND NOT sort", None),
    ("merge", ["python"]),
]


def _kind(key):
    """A cache key's kind: postings are keyed (index_dir, gen, term), a
    row group by its file's footer key plus the group number."""
    if len(key) == 3:
        return "postings"
    return "row_group" if key[2] == "doc_meta_local" and len(key) == 7 else key[2]


def _assert_sizes_add_up():
    assert sum(n for _, n in sc._CACHE.entries.values()) == sc._CACHE.nbytes


@pytest.fixture
def reads(monkeypatch, serving_cache):
    """Counts doc_meta row-group reads and the dataset scans each serving
    call starts, per index part, behind a fresh cache (no dense doc_len
    array, so queries take the sparse path)."""
    counts = {"row_groups": 0}
    read_row_group, dataset = sc._read_row_group, sc._dataset

    def counting_read(*args, **kwargs):
        counts["row_groups"] += 1
        return read_row_group(*args, **kwargs)

    def counting_dataset(index_dir, part):
        counts[part] = counts.get(part, 0) + 1
        return dataset(index_dir, part)

    monkeypatch.setattr(sc, "_read_row_group", counting_read)
    monkeypatch.setattr(sc, "_dataset", counting_dataset)
    return counts


def _answers(index_dir):
    return [sc.search_local(index_dir, q, k=10, lang_filter=lang) for q, lang in QUERIES]


def test_warm_repeat_reads_no_doc_meta_parquet(tiny_index, reads):
    cold = _answers(tiny_index)
    assert reads["row_groups"] > 0 and reads.get("filters", 0) > 0
    reads.clear()
    reads["row_groups"] = 0
    warm = _answers(tiny_index)
    assert reads == {"row_groups": 0}, reads  # no doc_meta, filters or posting reads
    assert (tiny_index, sc._index_generation(tiny_index), "dense", "doc_len") not in sc._CACHE
    for a, b in zip(cold, warm):
        assert a.equals(b)
    _assert_sizes_add_up()


def test_byte_bound_holds_and_answers_unchanged(tiny_index, reads, serving_cache, monkeypatch):
    """One bound over every kind: below what QUERIES hold at once, entries
    of different kinds evict each other and every answer stays the unbounded one."""
    expected = _answers(tiny_index)
    sizes = {}
    for k, (_, n) in sc._CACHE.entries.items():
        sizes.setdefault(_kind(k), []).append(n)
    held = {"postings", "doclens", "row_group", "filters/lang"}
    assert held <= set(sizes)
    bound = sum(sum(sizes[kind]) for kind in held) // 3
    assert bound >= max(max(sizes[kind]) for kind in held)  # every entry fits alone
    monkeypatch.setattr(sc, "_CACHE_MAX_BYTES", bound)
    serving_cache.reset()
    evicted, before = set(), set()
    for _ in range(2):
        for (q, lang), want in zip(QUERIES, expected):
            got = sc.search_local(tiny_index, q, k=10, lang_filter=lang)
            assert got.equals(want), q
            assert sc._CACHE.nbytes <= bound
            _assert_sizes_add_up()
            evicted |= {_kind(k) for k in before - set(sc._CACHE.entries)}
            before = set(sc._CACHE.entries)
    assert {"postings", "doclens", "row_group"} <= evicted


def test_oversized_entry_is_served_not_kept(monkeypatch):
    """An entry larger than the bound goes back to its caller and leaves
    every older entry in place."""
    monkeypatch.setattr(sc, "_CACHE_MAX_BYTES", 10 << 20)
    cache = sc._ByteLRU()
    for i in range(10):
        assert cache.put(("idx", 0.0, "blob", i), i, 1 << 20) == i
    before = dict(cache.entries)
    big = np.zeros(1)
    assert cache.put(("idx", 0.0, "big", 0), big, (10 << 20) + 1) is big
    assert ("idx", 0.0, "big", 0) not in cache
    assert cache.entries == before and cache.nbytes == 10 << 20
    cache.put(("idx", 0.0, "blob", 10), 10, 1 << 20)  # one that fits still evicts the oldest
    assert ("idx", 0.0, "blob", 0) not in cache and cache.nbytes == 10 << 20


def test_meta_lookup_empty_and_absent_ids(tiny_index, reads):
    before = dict(reads)
    assert len(sc._meta_lookup(tiny_index, np.empty(0, dtype=np.int64), ["doc_len"])["doc_len"]) == 0
    assert reads == before  # an empty id set reads no file
    n_docs = sc.IndexHandle.open(tiny_index).n_docs
    with pytest.raises(ValueError, match="doc_meta is missing 1 of 2 ids"):
        sc._meta_lookup(tiny_index, [0, n_docs + 5], ["doc_len"])
    with pytest.raises(ValueError, match="doc_meta is missing"):
        sc._docmeta_for(tiny_index, np.array([n_docs + 7]))
    col = sc._sparse_col(tiny_index, "doc_len", np.array([1, 0]))
    with pytest.raises(KeyError):
        col[np.array([2])]


def test_filter_bitmaps_match_doc_meta(tiny_index, reads, global_doc_meta):
    meta = global_doc_meta(tiny_index, ["doc_id", "lang"])
    langs = sorted(meta["lang"].unique())[:2] + ["no-such-lang"]
    for _ in range(2):  # cold, then from the block cache
        got = sc.load_filter_set(tiny_index, "lang", langs)
        want = np.sort(meta.loc[meta["lang"].isin(langs), "doc_id"].to_numpy())
        np.testing.assert_array_equal(got, want)
    assert reads.get("filters") == 1  # the absent value is cached too


def test_new_generation_sweeps_stale_cache_entries(tiny_index, tmp_path, serving_cache):
    idx = str(tmp_path / "copy")
    shutil.copytree(tiny_index, idx)
    sc.search_local(idx, "lang:python OR merge", k=10)  # termless
    sc.search_local(idx, "NOT sort", k=10)  # the all-ids mask: a dense array
    for q, lang in QUERIES:
        sc.search_local(idx, q, k=10, lang_filter=lang)
    old = sc._index_generation(idx)
    kinds = {"postings", "doclens", "dataset", "file", "doc_meta_local", "row_group",
             "filters/lang", "dense"}
    assert {_kind(k) for k in sc._CACHE.entries if k[:2] == (idx, old)} == kinds
    stats = os.path.join(idx, "corpus_stats.json")
    os.utime(stats, (os.path.getatime(stats), os.path.getmtime(stats) + 10))
    sc.search_local(idx, "merge AND sort", k=10, lang_filter=["python"])
    assert sc._index_generation(idx) != old
    assert not [k for k in sc._CACHE.entries if k[:2] == (idx, old)]
    _assert_sizes_add_up()


def test_filters_rewrite_after_merge_starts_a_new_generation(spark, tmp_path):
    """merge_segments stamps corpus_stats.json before build_field_filters
    rewrites filters/. A filtered query in that window caches the old
    bitmaps; the filters rewrite must start a generation of its own, so the
    next filtered query answers like a cold cache."""
    from pyspark.sql import functions as F

    from miru_spark.corpus import generate_corpus
    from miru_spark.index.build import build_field_filters
    from miru_spark.index.merge import merge_segments
    from miru_spark.streaming.ingest import append_batch, refresh

    idx = str(tmp_path / "idx")
    full = generate_corpus(spark, n_rows=120, seed=7, partitions=1)
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    append_batch(full.filter(rowidx < 60), 0, idx, partitions_per_batch=1)
    refresh(spark, idx)
    append_batch(full.filter(rowidx >= 60), 1, idx, partitions_per_batch=1)

    def filtered(index_dir):
        return sc.search_local(index_dir, "merge OR sort OR def", k=1000, lang_filter=["python"])

    merge_segments(spark, idx)
    filtered(idx)  # the window: new generation, old filters/
    build_field_filters(spark, idx)
    warm = filtered(idx)
    cold_dir = str(tmp_path / "cold")
    shutil.copytree(idx, cold_dir)  # another path: nothing of it is cached
    cold = filtered(cold_dir)
    assert len(cold) > 0 and (cold["doc_id"] >= 60).any()  # the second batch answers
    assert warm.equals(cold)


# ------------------------------------------------- posting-aligned doc lengths
SHAPES = [  # (query, masks): every search_local shape that scores
    ("merge AND sort", {}),
    ("merge OR sort OR index", {}),  # block-max WAND
    ("merge AND NOT sort", {}),
    ("rare*", {}),
    ("rareterm0", {}),
    ("NOT merge", {}),  # termless: candidates from the all-ids mask
    ("lang:python OR merge", {}),  # Field candidates at score 0.0
    ("merge OR sort", {"lang_filter": ["python", "go"]}),
    ("def", {"repo_filter": ["org1/repo1"]}),
]
TIME_SHAPES = [
    ("merge OR sort", {"time_range": (0, 17)}),
    ("merge AND NOT def", {"time_range": (5, 30)}),
    ("ts:[0 TO 17] OR sort", {}),  # Range candidates at score 0.0
]


def _dense_reference(index_dir, query, monkeypatch, diag, **masks):
    """Reference search_local: every candidate's doc_len read by docID from
    the dense doc_meta array (WAND's θ seed gathers from it too), term
    contributions accumulated in sorted term order."""
    dense = sc._dense_column(index_dir, "doc_len")

    def doclens_for(index_dir, postings, terms, diag=None):
        return {t: dense[postings[t][0]] for t in terms if t in postings}

    def score(cand, scoring_terms, postings, doclens, n_docs, avgdl, df):
        scores = np.zeros(cand.size, dtype=np.float64)
        dl = dense[cand].astype(np.float64)
        for t in sorted(scoring_terms):
            if t not in postings:
                continue
            d, tf = postings[t][:2]
            pos = np.searchsorted(d, cand)
            pos_c = np.minimum(pos, d.size - 1)
            mask = (pos < d.size) & (d[pos_c] == cand)
            if mask.any():
                idf = sc.bm25_idf(float(d.size), n_docs)
                scores[mask] += idf * sc.bm25_tf_norm(
                    tf[pos_c[mask]].astype(np.float64), dl[mask], avgdl
                )
        return scores

    with monkeypatch.context() as m:
        m.setattr(sc, "_doclens_for", doclens_for)
        m.setattr(sc, "_score_candidates", score)
        return sc.search_local(index_dir, query, k=10, diag=diag, **masks)


def _assert_matches_dense(index_dir, shapes, monkeypatch):
    """Cold and warm answers equal the dense reference exactly: doc_ids,
    raw float scores and display columns, and the same WAND θ and pruning
    counts."""
    for query, masks in shapes:
        want_diag = {}
        want = _dense_reference(index_dir, query, monkeypatch, want_diag, **masks)
        assert len(want) > 0, query
        for _ in ("cold", "warm"):
            diag = {}
            got = sc.search_local(index_dir, query, k=10, diag=diag, **masks)
            assert got.equals(want), (query, masks)
            del diag["doclen_fetched"]
            assert diag == want_diag, (query, masks)


@pytest.fixture(scope="module")
def ts_index(spark, tiny_corpus, tmp_path_factory):
    """tiny_corpus with ts = row index % 37."""
    from pyspark.sql import functions as F

    from miru_spark.index.build import build_index

    index_dir = str(tmp_path_factory.mktemp("tsidx") / "idx")
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    build_index(spark, tiny_corpus.withColumn("ts", F.pmod(rowidx, F.lit(37))),
                index_dir, num_partitions=2)
    yield index_dir
    shutil.rmtree(index_dir, ignore_errors=True)


def _cached_doclens(index_dir):
    """term → its cached aligned doc lengths, for ``index_dir``'s generation."""
    gen = sc._index_generation(index_dir)
    return {k[3]: v for k, (v, _) in sc._CACHE.entries.items()
            if k[:3] == (index_dir, gen, "doclens")}


def _cached_postings(index_dir, term):
    return sc._CACHE.entries[(index_dir, sc._index_generation(index_dir), term)][0]


def test_aligned_doclens_bitwise_equal_dense(tiny_index, serving_cache, monkeypatch):
    _assert_matches_dense(tiny_index, SHAPES, monkeypatch)
    cached = _cached_doclens(tiny_index)
    assert cached
    for t, lens in cached.items():
        assert lens.dtype == np.int32
        assert lens.size == _cached_postings(tiny_index, t)[0].size


def test_aligned_doclens_time_masks_and_removals(ts_index, tmp_path, serving_cache, monkeypatch):
    from miru_spark.index import removal

    _assert_matches_dense(ts_index, TIME_SHAPES, monkeypatch)
    idx = str(tmp_path / "removed")
    shutil.copytree(ts_index, idx)
    victims = {int(d) for q in ("merge OR sort", "merge AND sort", "def")
               for d in sc.search_local(idx, q, k=3)["doc_id"]}
    assert removal.remove_docs(idx, sorted(victims), version=1) == len(victims)
    _assert_matches_dense(idx, SHAPES + TIME_SHAPES, monkeypatch)
    for q, masks in SHAPES + TIME_SHAPES:
        assert not victims & set(sc.search_local(idx, q, k=10, **masks)["doc_id"])


def test_large_terms_gather_from_dense_array(tiny_index, serving_cache, monkeypatch):
    """Terms over _SPARSE_IDS_MAX postings read the dense array per query
    and are never cached; the small ones still resolve once."""
    monkeypatch.setattr(sc, "_SPARSE_IDS_MAX", 12)
    gen = sc._index_generation(tiny_index)
    diag = {}
    assert len(sc.search_local(tiny_index, "merge AND sort", k=10, diag=diag))
    assert diag["doclen_fetched"] == 0  # both terms are large
    assert (tiny_index, gen, "dense", "doc_len") in sc._CACHE
    assert not _cached_doclens(tiny_index)
    _assert_matches_dense(tiny_index, SHAPES, monkeypatch)
    cached = _cached_doclens(tiny_index)
    assert cached
    assert all(_cached_postings(tiny_index, t)[0].size <= 12 for t in cached)
    assert _cached_postings(tiny_index, "merge")[0].size > 12
    assert "merge" not in cached


@pytest.fixture
def doclen_lookups(monkeypatch):
    """Counts _meta_lookup calls that ask for doc_len."""
    calls = []
    lookup = sc._meta_lookup

    def counting(index_dir, ids, columns, diag=None):
        if "doc_len" in columns:
            calls.append(len(ids))
        return lookup(index_dir, ids, columns, diag)

    monkeypatch.setattr(sc, "_meta_lookup", counting)
    return calls


def test_warm_query_reads_no_doc_lengths(spark, tmp_path, serving_cache, doclen_lookups):
    """A repeated query resolves no doc length from doc_meta; a refresh
    starts a generation that fetches them again and answers like a cold
    cache."""
    from pyspark.sql import functions as F

    from miru_spark.corpus import generate_corpus
    from miru_spark.streaming.ingest import append_batch, refresh

    idx = str(tmp_path / "idx")
    full = generate_corpus(spark, n_rows=120, seed=11, partitions=1)
    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    append_batch(full.filter(rowidx < 60), 0, idx, partitions_per_batch=1)
    refresh(spark, idx)
    query = "merge OR sort OR def"

    def served():
        diag = {}
        out = sc.search_local(idx, query, k=10, diag=diag)
        return out, diag["doclen_fetched"]

    cold, fetched = served()
    assert len(cold) > 0 and fetched > 0 and len(doclen_lookups) == 1
    doclen_lookups.clear()
    for _ in range(2):
        warm, fetched = served()
        assert warm.equals(cold)
        assert fetched == 0 and doclen_lookups == []

    append_batch(full.filter(rowidx >= 60), 1, idx, partitions_per_batch=1)
    refresh(spark, idx)
    after, fetched = served()
    assert fetched > 0 and len(doclen_lookups) == 1
    cold_dir = str(tmp_path / "cold")
    shutil.copytree(idx, cold_dir)  # another path: nothing of it is cached
    assert after.equals(sc.search_local(cold_dir, query, k=10))
    doclen_lookups.clear()
    assert served()[1] == 0 and doclen_lookups == []


# ------------------------------------------------------------- one key space
KIND_NAMES = ["doc_len", "ts", "all_ids", "pid_offsets", "merged", "stats", "filters"]


def test_terms_named_like_cache_kinds_answer_cold(spark, tmp_path, serving_cache, monkeypatch):
    """Terms spelled like another kind's name (the dense arrays, the offset
    table, the dataset parts) share the cache with those entries but never
    their keys: with the dense arrays resident, querying them answers like a
    cold cache, and ``(index_dir, gen, term) in _POSTING_CACHE``, the
    residency probe of perfbench's trace, holds exactly for loaded terms."""
    from pyspark.sql import functions as F

    from miru_spark.corpus import generate_corpus
    from miru_spark.index.build import build_index

    rowidx = F.regexp_extract("path", r"f(\d+)\.", 1).cast("long")
    # the p-th name goes into every (3p + 2)-th doc: 30 docs down to 3, so
    # some names are over _SPARSE_IDS_MAX (4) postings and some are not
    extra = F.concat_ws(" ", *[F.when(rowidx % (3 * p + 2) == 0, F.lit(t))
                               for p, t in enumerate(KIND_NAMES)])
    corpus = (generate_corpus(spark, n_rows=60, seed=5, partitions=1)
              .withColumn("content", F.concat_ws(" ", "content", extra))
              .withColumn("sha256", F.sha2("content", 256))
              .withColumn("ts", F.pmod(rowidx, F.lit(37))))
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, idx, num_partitions=2)
    monkeypatch.setattr(sc, "_SPARSE_IDS_MAX", 4)
    gen = sc._index_generation(idx)
    primers = ["ts:[0 TO 17]", "NOT merge", "merge"]  # dense ts, all ids, doc_len
    for q in primers:
        sc.search_local(idx, q, k=10)
    for name in ("ts", "all_ids", "doc_len"):
        assert (idx, gen, "dense", name) in sc._CACHE, name
    assert (idx, gen, "file", "pid_offsets.json") in sc._CACHE
    assert (idx, gen, "dataset", "merged") in sc._CACHE

    queries = [*KIND_NAMES, " OR ".join(KIND_NAMES), "doc_len AND NOT ts", *primers]
    warm = [sc.search_local(idx, q, k=10) for q in queries]
    assert all(len(w) for w in warm)
    for t in [*KIND_NAMES, "merge", "sort", "no_such_term"]:
        loaded = t in KIND_NAMES or t == "merge"
        assert ((idx, gen, t) in sc._POSTING_CACHE) == loaded, t
    for q, want in zip(queries, warm):
        serving_cache.reset()
        assert sc.search_local(idx, q, k=10).equals(want), q
