"""Incremental upsert (index/merge.py) — reference parity with the
indexer's overwrite-by-id path (indexer.py:236-247, 249-271, 273-293):

- re-crawled urls tombstone their old doc and index the new one
- tombstoned docs never surface in top-k (pre- and post-compaction)
- WAND block-max pruning stays EXACT on a merged index (bounds are
  recomputed from (max_tf, min_dl) under current stats, never read
  from stale block_max_score)
- compact_index folds tombstones out: ranking over the compacted index
  equals a from-scratch build over the surviving documents
"""

import uuid

import pytest
from pyspark.sql import functions as F

from search_engine_spark.index.builder import build_index
from search_engine_spark.index.merge import (
    compact_index,
    live_docs,
    merge_pages,
    read_tombstones,
)
from search_engine_spark.query.bm25 import LOCAL_MAX_DF, BM25Index
from search_engine_spark.synth import synth_pages
from search_engine_spark.text.tokenizer import tokenize_py

N_ALL = 400
N_BASE = 300  # rows 0..299
BATCH_LO = 200  # rows 200..399 re-crawl 200..299, add 300..399
# driver-local path at the default gate, then the Spark plan (gate 0)
GATES = (LOCAL_MAX_DF, 0)

QUERIES = [
    "python programming tutorial",
    "quick brown fox",
    "machine learning data science",
    "database partition shuffle",
    "search engine ranking",
]


@pytest.fixture(scope="module")
def merged(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("merged_idx"))
    all_pages = synth_pages(spark, N_ALL, num_partitions=6)
    # deterministic row split by the synthetic page ordinal in the url
    ordinal = F.regexp_extract("url", r"page/(\d+)", 1).cast("long")
    base_pages = all_pages.filter(ordinal < N_BASE)
    batch_pages = all_pages.filter(ordinal >= BATCH_LO)
    build_index(
        spark, base_pages, root, num_buckets=16, block_size=32,
        num_partitions=8, resume=False,
    )
    res = merge_pages(
        spark, root, batch_pages, num_buckets=16, block_size=32,
        num_partitions=8,
    )
    return root, res, all_pages


class TestMerge:
    def test_counts(self, spark, merged):
        root, res, _ = merged
        assert res.new_docs == N_ALL - BATCH_LO  # 200 batch docs
        assert res.tombstoned == N_BASE - BATCH_LO  # 100 re-crawled
        tomb = read_tombstones(spark, BM25Index(spark, root).paths)
        assert tomb.count() == N_BASE - BATCH_LO
        # live view: every url exactly once
        live = live_docs(spark, BM25Index(spark, root).paths)
        assert live.count() == N_ALL
        assert live.select("url").distinct().count() == N_ALL

    def test_corpus_stats_lucene_semantics(self, spark, merged):
        root, _, _ = merged
        idx = BM25Index(spark, root)
        # N counts tombstoned docs until compaction (Lucene docCount)
        assert idx.n_docs == N_BASE + (N_ALL - BATCH_LO)
        assert idx.merged

    def test_stats_nets_out_tombstones(self, spark, merged):
        root, _, _ = merged
        s = BM25Index(spark, root).stats()
        assert s["indexed_docs"] == N_ALL  # live docs only
        assert s["tombstoned_docs"] == N_BASE - BATCH_LO
        assert s["merged"] is True
        assert s["index_size_mb"] > 0

    def test_no_tombstone_in_topk(self, spark, merged):
        root, _, _ = merged
        idx = BM25Index(spark, root)
        tomb_ids = {
            r["doc_id"] for r in read_tombstones(spark, idx.paths).collect()
        }
        for gate in GATES:
            idx.local_max_df = gate
            for q in QUERIES:
                got = idx.search(q, k=50, mode="exhaustive").collect()
                assert not ({r["doc_id"] for r in got} & tomb_ids), (q, gate)

    def test_recrawled_url_resolves_to_new_doc(self, spark, merged):
        root, _, _ = merged
        idx = BM25Index(spark, root)
        # every url in results maps to exactly one (live) doc row
        for q in QUERIES[:2]:
            rows = idx.search(q, k=30).collect()
            assert len({r["url"] for r in rows}) == len(rows)

    def test_blockmax_equals_exhaustive_after_merge(self, spark, merged):
        """Stale stored block_max_score must not corrupt pruning: the
        merged-index bounds come from (max_tf, min_dl) + current stats."""
        root, _, _ = merged
        idx = BM25Index(spark, root, seed_min_df=0)
        idx.local_max_df = 0  # θ-pruning runs on the Spark path only
        assert idx.merged
        for q in QUERIES:
            bm = [
                (r["doc_id"], round(r["score"], 9))
                for r in idx.search(q, k=20, mode="blockmax").collect()
            ]
            ex = [
                (r["doc_id"], round(r["score"], 9))
                for r in idx.search(q, k=20, mode="exhaustive").collect()
            ]
            assert bm == ex, q


@pytest.fixture(scope="module")
def compacted(spark, merged, tmp_path_factory):
    """(compacted merged index, fresh build over the same live pages)"""
    root, _, all_pages = merged
    out = str(tmp_path_factory.mktemp("compact_idx"))
    fresh = str(tmp_path_factory.mktemp("fresh_idx"))
    compact_index(
        spark, root, out, num_buckets=16, block_size=32, num_partitions=8
    )
    build_index(
        spark, all_pages, fresh, num_buckets=16, block_size=32,
        num_partitions=8, resume=False,
    )
    return out, fresh


class TestCompact:
    def test_compacted_is_fresh_equivalent(self, spark, compacted):
        """Rank/score identity vs a from-scratch build over the same
        logical corpus, compared by url (doc ids differ by design)."""
        out, fresh = compacted
        idx_c = BM25Index(spark, out)
        idx_f = BM25Index(spark, fresh)
        assert idx_c.n_docs == idx_f.n_docs == N_ALL
        assert abs(idx_c.avgdl - idx_f.avgdl) < 1e-9
        for gate, q in ((g, q) for g in GATES for q in QUERIES):
            idx_c.local_max_df = idx_f.local_max_df = gate
            # k = corpus size -> full result set; canonicalize by
            # (-score, url) so equal-score ties compare stably
            a = sorted(
                (round(r["score"], 8), r["url"])
                for r in idx_c.search(q, k=N_ALL, mode="exhaustive").collect()
            )
            b = sorted(
                (round(r["score"], 8), r["url"])
                for r in idx_f.search(q, k=N_ALL, mode="exhaustive").collect()
            )
            assert a == b, (q, gate)

    def test_compacted_not_merged_flagged(self, spark, compacted):
        out, _ = compacted
        idx = BM25Index(spark, out)
        assert not idx.merged
        assert read_tombstones(spark, idx.paths) is None

    def test_compacted_blockmax_exact(self, spark, compacted):
        out, _ = compacted
        idx = BM25Index(spark, out, seed_min_df=0)
        idx.local_max_df = 0  # θ-pruning runs on the Spark path only
        for q in QUERIES:
            bm = [
                (r["doc_id"], round(r["score"], 9))
                for r in idx.search(q, k=15, mode="blockmax").collect()
            ]
            ex = [
                (r["doc_id"], round(r["score"], 9))
                for r in idx.search(q, k=15, mode="exhaustive").collect()
            ]
            assert bm == ex, q


class TestMergeResume:
    def test_rerun_same_build_id_is_noop(self, spark, tmp_path):
        """A crashed-and-rerun merge (same build_id) must not splice
        delta blocks or stats twice — every sub-step is manifest-guarded."""
        root = str(tmp_path / "idx")
        pages = synth_pages(spark, 120, num_partitions=4)
        ordinal = F.regexp_extract("url", r"page/(\d+)", 1).cast("long")
        build_index(
            spark, pages.filter(ordinal < 80), root, num_buckets=8,
            block_size=16, num_partitions=4, resume=False,
        )
        batch = pages.filter(ordinal >= 60)
        r1 = merge_pages(
            spark, root, batch, num_buckets=8, block_size=16,
            num_partitions=4, build_id="fixedmerge01",
        )
        idx1 = BM25Index(spark, root)
        postings1 = idx1.postings.count()
        docs1 = idx1.docs.count()
        df1 = {
            r["term"]: r["df"]
            for r in idx1.term_stats.orderBy("term").limit(20).collect()
        }
        # rerun with the SAME build_id — everything already done
        r2 = merge_pages(
            spark, root, batch, num_buckets=8, block_size=16,
            num_partitions=4, build_id="fixedmerge01",
        )
        idx2 = BM25Index(spark, root)
        assert idx2.postings.count() == postings1
        assert idx2.docs.count() == docs1
        assert idx2.n_docs == idx1.n_docs
        df2 = {
            r["term"]: r["df"]
            for r in idx2.term_stats.orderBy("term").limit(20).collect()
        }
        assert df2 == df1
        assert r1.new_docs == 60 and r1.tombstoned == 20


class TestMergeSafety:
    def _base(self, spark, tmp_path, n=60, cut=40):
        root = str(tmp_path / "idx")
        pages = synth_pages(spark, n, num_partitions=2)
        ordinal = F.regexp_extract("url", r"page/(\d+)", 1).cast("long")
        build_index(
            spark, pages.filter(ordinal < cut), root, num_buckets=8,
            block_size=16, num_partitions=2, resume=False,
        )
        return root, pages, ordinal

    def test_bucket_mismatch_raises(self, spark, tmp_path):
        root, pages, o = self._base(spark, tmp_path)
        with pytest.raises(ValueError, match="num_buckets"):
            merge_pages(spark, root, pages.filter(o >= 40), num_buckets=16)

    def test_config_resolved_when_omitted(self, spark, tmp_path):
        root, pages, o = self._base(spark, tmp_path)
        res = merge_pages(spark, root, pages.filter(o >= 40))
        assert res.new_docs == 20
        idx = BM25Index(spark, root)
        # merged blocks land in the base's 8-bucket layout: every doc
        # findable
        assert idx.search("python", k=60).count() > 0

    def test_partial_splice_detected(self, spark, tmp_path):
        from search_engine_spark.index.builder import _Manifest, IndexPaths

        root, pages, o = self._base(spark, tmp_path)
        # simulate a crash INSIDE the postings append of build "bidX":
        # start marker present, no done marker
        man = _Manifest(spark, IndexPaths(root), "bidX")
        man.mark("merge_postings", status="start", fingerprint="bidX")
        with pytest.raises(RuntimeError, match="compact_index"):
            merge_pages(spark, root, pages.filter(o >= 40), build_id="bidX")

    def test_batch_internal_dup_url_keeps_one(self, spark, tmp_path):
        root, pages, o = self._base(spark, tmp_path)
        batch = pages.filter(o >= 40)
        doubled = batch.unionByName(batch)  # same urls twice in one batch
        res = merge_pages(spark, root, doubled)
        assert res.new_docs == 20  # deduped to one doc per url
        live = live_docs(spark, BM25Index(spark, root).paths)
        assert live.select("url").distinct().count() == live.count() == 60

    def test_merge_into_empty_base(self, spark, tmp_path):
        root = str(tmp_path / "emptyidx")
        pages = synth_pages(spark, 30, num_partitions=2)
        build_index(
            spark, pages.filter(F.lit(False)), root, num_buckets=8,
            block_size=16, num_partitions=2, resume=False,
        )
        res = merge_pages(spark, root, pages)
        assert res.new_docs == 30 and res.tombstoned == 0
        idx = BM25Index(spark, root)
        assert idx.n_docs == 30
        assert idx.search("python", k=5).count() > 0


def _jobs_run(spark, fn):
    """fn()'s result and the Spark jobs it launched, counted under a
    job group of its own."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same_topk(got, want):
    """Ids identical and scores within 1e-9; docs whose scores tie
    within 1e-9 may swap (summation order moves the last bits)."""
    assert len(got) == len(want)
    tol = 1e-9
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) <= tol
    # compare id sets per run of tied scores; the run the cut ends in
    # may hold different members of the tie
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and abs(want[j]["score"] - want[i]["score"]) <= tol:
            j += 1
        if j < len(want):
            assert {r["doc_id"] for r in got[i:j]} == {
                r["doc_id"] for r in want[i:j]
            }
        i = j
    if want and "url" in want[0].__fields__:
        urls = {r["doc_id"]: r["url"] for r in want}
        for r in got:
            if r["doc_id"] in urls:
                assert r["url"] == urls[r["doc_id"]]


class TestLocalPath:
    """The driver-local serving path against the Spark plan on one
    BM25Index: the gate at its default answers without a Spark job, at
    0 it forces the Spark plan (the oracle)."""

    # (mode, min_should_match, join_docs)
    CASES = [
        ("blockmax", 1, True),
        ("exhaustive", 1, False),
        ("and", 1, True),
        ("blockmax", 2, False),
        ("exhaustive", 2, True),
    ]

    @pytest.fixture(scope="class", params=["fresh", "merged", "compacted"])
    def index(self, request, spark, merged, compacted):
        root = {
            "fresh": compacted[1],
            "merged": merged[0],
            "compacted": compacted[0],
        }[request.param]
        return BM25Index(spark, root)

    def _both(self, spark, idx, q, **kw):
        default = idx.local_max_df
        local, jobs = _jobs_run(spark, lambda: idx.search(q, **kw).collect())
        idx.local_max_df = 0
        try:
            oracle = idx.search(q, **kw).collect()
        finally:
            idx.local_max_df = default
        return local, jobs, oracle

    def test_rank_identical_to_spark_plan(self, spark, index):
        for q in QUERIES[:3]:
            for mode, msm, join_docs in self.CASES:
                local, jobs, oracle = self._both(
                    spark, index, q, k=10, mode=mode,
                    min_should_match=msm, join_docs=join_docs,
                )
                assert jobs == 0, (q, mode, msm)
                assert oracle, (q, mode, msm)
                _assert_same_topk(local, oracle)

    def test_k_above_match_count(self, spark, index):
        local, jobs, oracle = self._both(
            spark, index, QUERIES[1], k=N_ALL + 100, mode="exhaustive"
        )
        assert jobs == 0
        assert 0 < len(oracle) < N_ALL + 100
        _assert_same_topk(local, oracle)

    def test_unknown_terms_empty(self, spark, index):
        local, jobs, oracle = self._both(spark, index, "zzqx qqzv", k=10)
        assert jobs == 0
        assert local == oracle == []

    def test_sum_df_over_gate_takes_spark(self, spark, index):
        q = QUERIES[0]
        stats = index._query_stats(sorted(set(tokenize_py(q))))
        sum_df = sum(s[0] for s in stats.values())
        local, jobs, oracle = self._both(spark, index, q, k=10)
        assert jobs == 0
        default = index.local_max_df
        index.local_max_df = sum_df - 1
        try:
            over, over_jobs = _jobs_run(
                spark, lambda: index.search(q, k=10).collect()
            )
        finally:
            index.local_max_df = default
        assert over_jobs > 0
        _assert_same_topk(local, over)
        _assert_same_topk(over, oracle)
