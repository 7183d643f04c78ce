"""The serving path's caches: the byte-bounded block cache of decoded
doc_meta_local row groups and filter bitmaps (scorer._BLOCK_CACHE), the
posting-aligned doc lengths (scorer._TERM_DOCLENS), and the sweep of an
index's stale generations out of every serving cache."""

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


def _cache_keys():
    return [
        k
        for cache in (sc._DATASET_CACHE, sc._DOCLEN_CACHE, sc._POSTING_CACHE,
                      sc._TERM_DOCLENS, sc._BLOCK_CACHE.entries)
        for k in cache
    ]


@pytest.fixture
def reads(monkeypatch):
    """Counts doc_meta row-group reads and the dataset scans each serving
    call starts, per index part, behind a fresh block cache and no dense
    doc_len array (so queries take the sparse path)."""
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
    monkeypatch.setattr(sc, "_BLOCK_CACHE", sc._ByteLRU())
    monkeypatch.setattr(sc, "_DOCLEN_CACHE", {})
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
    assert (tiny_index, sc._index_generation(tiny_index), "doc_len") not in sc._DOCLEN_CACHE
    for a, b in zip(cold, warm):
        assert a.equals(b)
    assert sum(n for _, n in sc._BLOCK_CACHE.entries.values()) == sc._BLOCK_CACHE.nbytes


def test_byte_bound_holds_and_answers_unchanged(tiny_index, reads, monkeypatch):
    expected = _answers(tiny_index)
    sizes = [n for _, n in sc._BLOCK_CACHE.entries.values()]
    assert len(sizes) > 2
    bound = sorted(sizes)[len(sizes) // 2] * 2  # holds a few entries, not all
    assert bound < sum(sizes)
    monkeypatch.setattr(sc, "_BLOCK_CACHE_MAX_BYTES", bound)
    monkeypatch.setattr(sc, "_BLOCK_CACHE", sc._ByteLRU())
    for _ in range(2):
        for (q, lang), want in zip(QUERIES, expected):
            got = sc.search_local(tiny_index, q, k=10, lang_filter=lang)
            assert got.equals(want), q
            assert sc._BLOCK_CACHE.nbytes <= bound
            assert sum(n for _, n in sc._BLOCK_CACHE.entries.values()) == sc._BLOCK_CACHE.nbytes


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


def test_new_generation_sweeps_stale_cache_entries(tiny_index, tmp_path):
    idx = str(tmp_path / "copy")
    shutil.copytree(tiny_index, idx)
    sc.search_local(idx, "lang:python OR merge", k=10)  # termless
    sc.search_local(idx, "NOT sort", k=10)  # the all-ids mask: a dense array
    for q, lang in QUERIES:
        sc.search_local(idx, q, k=10, lang_filter=lang)
    old = sc._index_generation(idx)
    for cache in (sc._DATASET_CACHE, sc._DOCLEN_CACHE, sc._POSTING_CACHE,
                  sc._TERM_DOCLENS, sc._BLOCK_CACHE.entries):
        assert any(k[:2] == (idx, old) for k in cache)
    stats = os.path.join(idx, "corpus_stats.json")
    os.utime(stats, (os.path.getatime(stats), os.path.getmtime(stats) + 10))
    sc.search_local(idx, "merge AND sort", k=10, lang_filter=["python"])
    assert sc._index_generation(idx) != old
    assert not [k for k in _cache_keys() if k[:2] == (idx, old)]
    assert sum(n for _, n in sc._BLOCK_CACHE.entries.values()) == sc._BLOCK_CACHE.nbytes


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

    def score(cand, scoring_terms, postings, doclens, n_docs, avgdl):
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


@pytest.fixture
def fresh_doclens(monkeypatch):
    monkeypatch.setattr(sc, "_TERM_DOCLENS", {})
    monkeypatch.setattr(sc, "_DOCLEN_CACHE", {})


def test_aligned_doclens_bitwise_equal_dense(tiny_index, fresh_doclens, monkeypatch):
    _assert_matches_dense(tiny_index, SHAPES, monkeypatch)
    gen = sc._index_generation(tiny_index)
    assert any(k[:2] == (tiny_index, gen) for k in sc._TERM_DOCLENS)
    for (_, _, t), lens in sc._TERM_DOCLENS.items():
        assert lens.dtype == np.int32
        assert lens.size == sc._POSTING_CACHE[(tiny_index, gen, t)][0].size


def test_aligned_doclens_time_masks_and_removals(ts_index, tmp_path, fresh_doclens, monkeypatch):
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


def test_large_terms_gather_from_dense_array(tiny_index, fresh_doclens, monkeypatch):
    """Terms over _SPARSE_IDS_MAX postings read the dense array per query
    and are never cached; the small ones still resolve once."""
    monkeypatch.setattr(sc, "_SPARSE_IDS_MAX", 12)
    gen = sc._index_generation(tiny_index)
    diag = {}
    assert len(sc.search_local(tiny_index, "merge AND sort", k=10, diag=diag))
    assert diag["doclen_fetched"] == 0  # both terms are large
    assert (tiny_index, gen, "doc_len") in sc._DOCLEN_CACHE
    assert not sc._TERM_DOCLENS
    _assert_matches_dense(tiny_index, SHAPES, monkeypatch)
    cached = [k for k in sc._TERM_DOCLENS if k[:2] == (tiny_index, gen)]
    assert cached
    assert all(sc._POSTING_CACHE[k][0].size <= 12 for k in cached)
    assert sc._POSTING_CACHE[(tiny_index, gen, "merge")][0].size > 12
    assert (tiny_index, gen, "merge") not in sc._TERM_DOCLENS


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


def test_warm_query_reads_no_doc_lengths(spark, tmp_path, fresh_doclens, doclen_lookups):
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
