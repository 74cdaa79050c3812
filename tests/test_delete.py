"""delete_pages (index/merge.py) — ES DELETE /_doc/{id} and
_delete_by_query parity realized Lucene-style (tombstones, no segment
rewrite): deleted docs vanish from every query mode immediately,
re-deletes are idempotent no-ops, ranking over the survivors matches
the oracle restricted to them, and compact_index folds deletions out
into an index rank-identical to a fresh build over the survivors."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.index.builder import build_index
from search_engine_spark.index.merge import (
    compact_index,
    delete_pages,
    live_docs,
)
from search_engine_spark.query.bm25 import LOCAL_MAX_DF, BM25Index
from search_engine_spark.query.oracle import BM25Oracle
from search_engine_spark.synth import synth_pages
from search_engine_spark.text.tokenizer import tokenize_py

N_PAGES = 250
QUERY = "python programming tutorial"


@pytest.fixture()
def built(spark, tmp_path):
    root = str(tmp_path / "idx")
    pages = synth_pages(spark, N_PAGES, num_partitions=4)
    paths = build_index(
        spark, pages, root, num_buckets=16, block_size=32, num_partitions=8
    )
    docs = spark.read.parquet(paths.docs).select(
        "doc_id", "url", "domain"
    ).collect()
    id_by_url = {r["url"]: r["doc_id"] for r in docs}
    texts = pages.select("url", "text").collect()
    oracle_docs = {id_by_url[r["url"]]: tokenize_py(r["text"]) for r in texts}
    return root, docs, oracle_docs


def _topk(idx, query, k=10):
    return [
        (r["doc_id"], r["score"])
        for r in idx.search(query, k=k, join_docs=False)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .collect()
    ]


class TestDeleteByUrl:
    def test_deleted_never_surface(self, spark, built):
        root, docs, oracle_docs = built
        idx0 = BM25Index(spark, root)
        before = _topk(idx0, QUERY)
        assert before
        # delete the top hit by url
        top_doc = before[0][0]
        top_url = next(r["url"] for r in docs if r["doc_id"] == top_doc)
        n = delete_pages(spark, root, urls=[top_url])
        assert n == 1
        idx = BM25Index(spark, root)  # fresh handle sees tombstones
        # scores of survivors unchanged (stats stay stale, Lucene-style):
        # the remainder of the old top-k is the head of the new one
        want = [x for x in before if x[0] != top_doc][:5]
        # the driver-local path at the default gate, then the Spark plan
        for gate in (LOCAL_MAX_DF, 0):
            idx.local_max_df = gate
            after = _topk(idx, QUERY)
            assert all(d != top_doc for d, _ in after), gate
            assert [d for d, _ in after[:5]] == [d for d, _ in want], gate
            for (_, gs), (_, ws) in zip(after[:5], want):
                assert abs(gs - ws) < 1e-9, gate

    def test_idempotent_and_counts(self, spark, built):
        root, docs, _ = built
        url = docs[0]["url"]
        idx0 = BM25Index(spark, root)
        live_before = live_docs(spark, idx0.paths).count()
        assert delete_pages(spark, root, urls=[url]) == 1
        assert delete_pages(spark, root, urls=[url]) == 0  # already gone
        idx = BM25Index(spark, root)
        assert live_docs(spark, idx.paths).count() == live_before - 1
        assert delete_pages(spark, root, urls=[]) == 0

    def test_count_matches_drops(self, spark, built):
        root, docs, oracle_docs = built
        idx0 = BM25Index(spark, root)
        total_before = idx0.count_matches(QUERY)
        hit = _topk(idx0, QUERY)[0][0]
        url = next(r["url"] for r in docs if r["doc_id"] == hit)
        delete_pages(spark, root, urls=[url])
        idx = BM25Index(spark, root)
        assert idx.count_matches(QUERY) == total_before - 1


class TestDeleteByQuery:
    def test_predicate_matches_oracle(self, spark, built):
        root, docs, oracle_docs = built
        gone_domain = "example.com"
        n = delete_pages(spark, root, predicate=f"domain = '{gone_domain}'")
        expected_gone = {
            r["doc_id"] for r in docs if r["domain"] == gone_domain
        }
        assert n == len(expected_gone)
        idx = BM25Index(spark, root)
        got = _topk(idx, QUERY)
        # oracle over the FULL corpus restricted to survivors — stats
        # stay stale after delete, exactly like Lucene pre-merge
        oracle = BM25Oracle(oracle_docs)
        want = [
            (d, s)
            for d, s in oracle.topk(QUERY, k=N_PAGES)
            if d not in expected_gone
        ][:10]
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9

    def test_compact_folds_deletes_out(self, spark, built, tmp_path):
        root, docs, oracle_docs = built
        gone_domain = "wiki.demo.io"
        delete_pages(spark, root, predicate=f"domain = '{gone_domain}'")
        out = str(tmp_path / "compacted")
        compact_index(spark, root, out)
        idx = BM25Index(spark, out)
        survivors = {
            d: toks
            for d, toks in oracle_docs.items()
            if d in {r["doc_id"] for r in docs if r["domain"] != gone_domain}
        }
        # fresh-stats oracle over survivors only: compaction recomputes
        # N/avgdl/df exactly
        oracle = BM25Oracle(survivors)
        got = _topk(idx, QUERY)
        want = oracle.topk(QUERY, k=10)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9

    def test_arg_validation(self, spark, built):
        root, *_ = built
        with pytest.raises(ValueError):
            delete_pages(spark, root)
        with pytest.raises(ValueError):
            delete_pages(spark, root, urls=["x"], predicate="1=1")
