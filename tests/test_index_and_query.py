"""End-to-end index build + BM25 rank-identity vs the pure-Python oracle,
block-max == exhaustive equality, and kill/resume convergence."""

import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.index.builder import IndexPaths, build_index
from search_engine_spark.query.bm25 import LOCAL_MAX_DF, BM25Index
from search_engine_spark.query.oracle import BM25Oracle, TFIDFOracle
from search_engine_spark.synth import synth_pages
from search_engine_spark.text.tokenizer import tokenize_py

N_PAGES = 400

# driver-local path at the default gate, then the Spark plan (gate 0)
GATES = (LOCAL_MAX_DF, 0)

QUERIES = [
    "python programming tutorial",
    "quick brown fox",
    "search engine ranking relevance",
    "machine learning data science",
    "spark cluster partition shuffle",
    "database transaction",
    "fox database python",  # cross-topic
    "the and is of",  # stopword-only -> empty
    "zzzznotaterm",  # unknown term -> empty
    "crawl fetch parse browser",
]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    pages = synth_pages(spark, N_PAGES, num_partitions=6)
    paths = build_index(
        spark, pages, root, num_buckets=16, block_size=32, num_partitions=8
    )
    # oracle over the same corpus, doc ids as assigned by the build
    docs = spark.read.parquet(paths.docs).select("doc_id", "url").collect()
    id_by_url = {r["url"]: r["doc_id"] for r in docs}
    texts = pages.select("url", "text").collect()
    oracle_docs = {id_by_url[r["url"]]: tokenize_py(r["text"]) for r in texts}
    return paths, BM25Oracle(oracle_docs)


class TestBuild:
    def test_docs_table(self, spark, corpus):
        paths, _ = corpus
        docs = spark.read.parquet(paths.docs)
        assert docs.count() == N_PAGES
        assert docs.select("doc_id").distinct().count() == N_PAGES
        r = docs.filter(F.col("url") == "https://example.com/page/0").collect()[0]
        assert len(r["url_hash"]) == 64  # sha256 hex (utils.py:11-13)
        assert r["domain"] == "example.com"

    def test_block_invariants(self, spark, corpus):
        paths, _ = corpus
        blocks = spark.read.parquet(paths.postings)
        assert blocks.filter(F.col("first_doc_id") > F.col("last_doc_id")).count() == 0
        assert blocks.filter(F.col("count") < 1).count() == 0
        assert blocks.filter(F.col("block_max_score") <= 0).count() == 0
        # df in term_stats == decoded posting count per term
        stats = spark.read.parquet(paths.term_stats)
        per_term = blocks.groupBy("term").agg(F.sum("count").alias("n"))
        joined = stats.join(per_term, "term")
        assert joined.filter(F.col("df") != F.col("n")).count() == 0

    def test_bucket_routing(self, spark, corpus):
        paths, _ = corpus
        blocks = spark.read.parquet(paths.postings)
        bad = blocks.filter(
            F.col("term_bucket") != F.pmod(F.xxhash64("term"), F.lit(16)).cast("int")
        )
        assert bad.count() == 0


class TestRankIdentity:
    @pytest.mark.parametrize("query", QUERIES)
    def test_matches_oracle(self, spark, corpus, query):
        paths, oracle = corpus
        idx = BM25Index(spark, paths.root)
        want = oracle.topk(query, k=10)
        for gate in GATES:
            idx.local_max_df = gate
            got = [
                (r["doc_id"], r["score"])
                for r in idx.search(query, k=10, mode="exhaustive", join_docs=False)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (query, gate)
            for (_, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9, (query, gate)

    @pytest.mark.parametrize("query", QUERIES)
    def test_blockmax_equals_exhaustive(self, spark, corpus, query):
        paths, _ = corpus
        idx = BM25Index(spark, paths.root, seed_min_df=0)
        idx.local_max_df = 0  # θ-pruning runs on the Spark path only
        a = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.search(query, k=10, mode="blockmax", join_docs=False)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        b = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.search(query, k=10, mode="exhaustive", join_docs=False)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        assert a == b, query

    @pytest.mark.parametrize(
        "query",
        ["python programming tutorial", "fox database python", "database transaction"],
    )
    def test_and_mode_matches_oracle(self, spark, corpus, query):
        paths, oracle = corpus
        idx = BM25Index(spark, paths.root)
        want = oracle.topk_and(query, k=10)
        for gate in GATES:
            idx.local_max_df = gate
            got = [
                (r["doc_id"], r["score"])
                for r in idx.search(query, k=10, mode="and", join_docs=False)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (query, gate)
            for (_, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9, (query, gate)

    @pytest.mark.parametrize(
        "query",
        ["python programming tutorial", "quick brown fox", "the and is of"],
    )
    def test_tfidf_mode_matches_oracle(self, spark, corpus, query):
        """mode='tfidf' over the SAME posting index reproduces the
        reference TF-IDF ranker (tfidf.py:167-572) rank-identically."""
        paths, oracle = corpus
        tfidf_oracle = TFIDFOracle(
            {d: list(toks) for d, toks in oracle.docs.items()}
        )
        idx = BM25Index(spark, paths.root)
        got = [
            (r["doc_id"], r["score"])
            for r in idx.search(query, k=10, mode="tfidf", join_docs=False)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        want = tfidf_oracle.topk(query, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], query
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, query

    @pytest.mark.parametrize(
        "idf_method", ["standard", "probabilistic", "max"]
    )
    @pytest.mark.parametrize(
        "query",
        ["python programming tutorial", "quick brown fox", "the and is of"],
    )
    def test_tfidf_idf_variants_match_oracle(
        self, spark, corpus, query, idf_method
    ):
        """tfidf_idf= selects the reference's standard / probabilistic /
        max IDF variants (tfidf.py:301-360) — each rank- and score-
        identical to the pure-Python oracle over the same postings."""
        paths, oracle = corpus
        tfidf_oracle = TFIDFOracle(
            {d: list(toks) for d, toks in oracle.docs.items()}
        )
        idx = BM25Index(spark, paths.root)
        got = [
            (r["doc_id"], r["score"])
            for r in idx.search(
                query, k=10, mode="tfidf", join_docs=False,
                tfidf_idf=idf_method,
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        want = tfidf_oracle.topk(query, k=10, idf_method=idf_method)
        assert [d for d, _ in got] == [d for d, _ in want], query
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, query

    def test_tfidf_unknown_idf_method_raises(self, spark, corpus):
        paths, _ = corpus
        idx = BM25Index(spark, paths.root)
        with pytest.raises(ValueError, match="idf method"):
            idx.search("python", mode="tfidf", tfidf_idf="bogus")

    def test_join_docs(self, spark, corpus):
        paths, _ = corpus
        idx = BM25Index(spark, paths.root)
        rows = idx.search("python programming", k=5).collect()
        assert 0 < len(rows) <= 5
        assert all(r["url"].startswith("https://") for r in rows)

    @pytest.mark.parametrize(
        "query", ["python programming tutorial", "fox database python"]
    )
    def test_and_candidate_gate_rank_identical(self, spark, corpus, query):
        """AND-mode with the rarest-term candidate gate FORCED ON must
        rank identically to the ungated oracle — decode is then bounded
        by the rarest term's df, not the Zipf-head term's."""
        paths, oracle = corpus
        idx = BM25Index(spark, paths.root)
        idx.local_max_df = 0  # the candidate gate is the Spark path's
        idx.phrase_cand_max_df = 10**9
        idx.phrase_cand_ratio = 0.0
        idx.phrase_cand_min_pruned = 0
        terms = sorted(set(tokenize_py(query)))
        stats = idx._query_stats(terms)
        assert idx._conjunctive_candidates(terms, stats) is not None
        got = [
            (r["doc_id"], r["score"])
            for r in idx.search(query, k=10, mode="and", join_docs=False)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        want = oracle.topk_and(query, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], query
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, query

    def test_stats_surface(self, spark, corpus):
        """Engine /stats parity (main.py:606-643 shape)."""
        paths, oracle = corpus
        s = BM25Index(spark, paths.root).stats()
        assert s["indexed_docs"] == N_PAGES
        assert s["tombstoned_docs"] == 0
        assert s["vocab_terms"] == len(
            {t for toks in oracle.docs.values() for t in toks}
        )
        assert s["posting_blocks"] > 0
        assert s["index_size_mb"] > 0
        assert abs(s["avgdl"] - oracle.avgdl) < 1e-9
        assert s["merged"] is False


BOOLEAN_QUERIES = [
    "python NOT database",
    "python programming NOT fox",
    "python AND tutorial NOT database",
    "spark OR shuffle",
    "search engine NOT engine",  # term both positive and negated
    "fox NOT zzzznotaterm",  # unknown negated term -> plain search
    "NOT python",  # pure negation -> empty
]


class TestBoolean:
    """search_boolean executes the AND/OR/NOT structure the reference
    only parses (tfidf.py:589-626) — rank-identical to the pure-Python
    boolean oracle, with must_not as unscored filter context."""

    @pytest.mark.parametrize("query", BOOLEAN_QUERIES)
    def test_matches_oracle(self, spark, corpus, query):
        paths, oracle = corpus
        idx = BM25Index(spark, paths.root)
        got = [
            (r["doc_id"], r["score"])
            for r in idx.search_boolean(query, k=10, join_docs=False)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        want = oracle.topk_boolean(query, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], query
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, query

    @pytest.mark.parametrize("query", ["python NOT database", "fox NOT brown"])
    def test_blockmax_exclusion_aware_theta(self, spark, corpus, query):
        """Forced θ-seeding (seed_min_df=0) with NOT terms: the seed
        anti-join keeps θ a valid lower bound, so pruned == exhaustive."""
        paths, _ = corpus
        idx = BM25Index(spark, paths.root, seed_min_df=0)
        a = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.search_boolean(query, k=10, join_docs=False)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        b = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.search_boolean(
                query, k=10, mode="exhaustive", join_docs=False
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        ]
        assert a == b, query

    def test_excluded_docs_never_surface(self, spark, corpus):
        paths, oracle = corpus
        idx = BM25Index(spark, paths.root)
        neg_stem = tokenize_py("database")[0]
        bad = {d for d in oracle.docs if oracle.tf[d].get(neg_stem, 0) > 0}
        got = {
            r["doc_id"]
            for r in idx.search_boolean(
                "python NOT database", k=400, join_docs=False
            ).collect()
        }
        assert got and not (got & bad)

    def test_phrase_clause_needs_positions(self, spark, corpus):
        # phrases ARE boolean must clauses (tests/test_phrase.py), but
        # this fixture's index has no positional postings — the guard
        # must fire loudly instead of degrading to bag-of-words
        paths, _ = corpus
        idx = BM25Index(spark, paths.root)
        with pytest.raises(ValueError, match="positions"):
            idx.search_boolean('"quick brown" fox')


class TestResume:
    def test_partial_build_resumes_to_identical_index(self, spark, tmp_path):
        full_dir = str(tmp_path / "full")
        part_dir = str(tmp_path / "partial")
        pages = synth_pages(spark, 150, num_partitions=4)

        build_index(spark, pages, full_dir, num_buckets=8, block_size=32,
                    bucket_groups=4, num_partitions=4)

        # simulate a crash: run only bucket groups 0-1, then "restart"
        class Boom(Exception):
            pass

        import search_engine_spark.index.builder as B

        orig = B._Manifest.mark_done
        calls = {"blocks": 0}

        def failing(self, stage, *a, **k):
            orig(self, stage, *a, **k)
            if stage == "blocks":
                calls["blocks"] += 1
                if calls["blocks"] == 2:
                    raise Boom()

        B._Manifest.mark_done = failing
        try:
            with pytest.raises(Boom):
                build_index(spark, pages, part_dir, num_buckets=8, block_size=32,
                            bucket_groups=4, num_partitions=4)
        finally:
            B._Manifest.mark_done = orig

        # resume: completed groups must be skipped, result identical
        build_index(spark, pages, part_dir, num_buckets=8, block_size=32,
                    bucket_groups=4, num_partitions=4, resume=True)

        man = spark.read.parquet(IndexPaths(part_dir).manifest)
        done_blocks = man.filter(
            (F.col("stage") == "blocks") & (F.col("status") == "done")
        )
        assert done_blocks.select("partition_key").distinct().count() == 4
        # no group rebuilt twice
        assert done_blocks.count() == 4

        # Logical identity: the decoded posting sets are exactly equal.
        # (Physical block boundaries may differ between builds — range-
        # partitioner sampling is not bit-stable — like Lucene segments.)
        assert _decoded_postings(spark, full_dir) == _decoded_postings(spark, part_dir)
        shutil.rmtree(full_dir, ignore_errors=True)


def _decoded_postings(spark, index_dir):
    import numpy as np

    from search_engine_spark.index.codec import varint_decode

    out = set()
    for r in spark.read.parquet(IndexPaths(index_dir).postings).collect():
        ids = np.cumsum(varint_decode(bytes(r["doc_ids"]), r["count"]))
        tfs = varint_decode(bytes(r["tfs"]), r["count"])
        dls = varint_decode(bytes(r["doclens"]), r["count"])
        for i in range(r["count"]):
            out.add((r["term"], int(ids[i]), int(tfs[i]), int(dls[i])))
    return out


class TestSearchMany:
    """Batch multi-query API: one plan == per-query search results."""

    def test_matches_per_query_search(self, spark, corpus):
        paths, oracle = corpus
        idx = BM25Index(spark, paths.root)
        qs = {f"q{i}": q for i, q in enumerate(QUERIES)}
        got = idx.search_many(qs, k=10).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], round(r["score"], 9))
            )
        for qid, q in qs.items():
            batch = sorted(by_q.get(qid, []))
            single = [
                (i + 1, r["doc_id"], round(r["score"], 9))
                for i, r in enumerate(
                    idx.search(q, k=10, mode="exhaustive", join_docs=False)
                    .orderBy(F.desc("score"), F.asc("doc_id"))
                    .collect()
                )
            ]
            assert batch == single, q

    def test_and_mode(self, spark, corpus):
        paths, oracle = corpus
        idx = BM25Index(spark, paths.root)
        q = "fox database python"
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.search_many({"a": q}, k=10, mode="and")
            .orderBy("rank")
            .collect()
        ]
        want = [(d, round(s, 9)) for d, s in oracle.topk_and(q, k=10)]
        assert got == want

    def test_join_docs_and_empties(self, spark, corpus):
        paths, _ = corpus
        idx = BM25Index(spark, paths.root)
        got = idx.search_many(
            {"a": "python programming", "b": "zzzznotaterm", "c": "the and is"},
            k=3,
            join_docs=True,
        ).collect()
        assert {r["query_id"] for r in got} == {"a"}
        assert all(r["url"].startswith("https://") for r in got)


class TestDocsLookup:
    def test_lookup_path_equals_broadcast_path(self, spark, corpus):
        """Above lookup_min_docs the join-back collects ids and prunes
        the docs scan; results must be identical to the lazy join."""
        paths, _ = corpus
        idx = BM25Index(spark, paths.root)
        idx.local_max_df = 0  # both join-backs are the Spark path's
        for q in ["python programming tutorial", "quick brown fox"]:
            idx.lookup_min_docs = 10**9
            lazy = [
                (r["doc_id"], round(r["score"], 9), r["url"])
                for r in idx.search(q, k=10).collect()
            ]
            idx.lookup_min_docs = 0
            lookup = [
                (r["doc_id"], round(r["score"], 9), r["url"])
                for r in idx.search(q, k=10).collect()
            ]
            assert lazy == lookup, q

    def test_docs_sorted_by_doc_id_within_files(self, spark, corpus):
        """Build invariant the lookup relies on: row groups are doc_id
        ranges (sorted within each file)."""
        import pyarrow.dataset as pads

        paths, _ = corpus
        frags = list(
            pads.dataset(paths.docs, format="parquet").get_fragments()
        )
        for frag in frags:
            tbl = frag.to_table(columns=["doc_id"])
            ids = tbl.column("doc_id").to_pylist()
            assert ids == sorted(ids)


class TestExplain:
    """explain=True returns the reference's TFIDFScore.term_scores
    shape (tfidf.py:484-507, D6): a per-query-term contribution map,
    0.0 for terms the doc lacks, summing exactly to the score —
    identical ranking to the plain mode in every engine mode."""

    @pytest.mark.parametrize(
        "mode", ["blockmax", "exhaustive", "and", "tfidf"]
    )
    def test_contributions_match_oracle(self, spark, corpus, mode):
        paths, oracle = corpus
        tfidf_oracle = TFIDFOracle(
            {d: list(toks) for d, toks in oracle.docs.items()}
        )
        idx = BM25Index(spark, paths.root)
        for query in ["python programming tutorial", "fox database python"]:
            rows = idx.search(query, k=10, mode=mode, explain=True).collect()
            plain = idx.search(
                query, k=10, mode=mode, join_docs=False
            ).collect()
            assert [(r["doc_id"], round(r["score"], 9)) for r in rows] == [
                (r["doc_id"], round(r["score"], 9)) for r in plain
            ], (mode, query)
            ref = tfidf_oracle if mode == "tfidf" else oracle
            for r in rows:
                ts = dict(r["term_scores"])
                # map sums to the score
                assert abs(sum(ts.values()) - r["score"]) < 1e-9
                want = ref.term_scores(r["doc_id"], list(ts))
                for t, v in ts.items():
                    assert abs(v - want[t]) < 1e-9, (mode, query, t)
                # zero-filled: every indexed query term is a key
                assert len(ts) >= 2

    def test_empty_cases_keep_schema(self, spark, corpus):
        paths, _ = corpus
        idx = BM25Index(spark, paths.root)
        for q in ["zzzznotaterm", "the and is of"]:
            df = idx.search(q, k=5, explain=True)
            assert df.count() == 0
            assert set(df.columns) == {"doc_id", "score", "term_scores"}
        df = idx.search("python", k=0, explain=True)
        assert df.count() == 0 and "term_scores" in df.columns


class TestCountMatches:
    """count_matches — the ES hits.total the /search response reports
    (main.py:218): exact OR/AND match counts, ids-only decode."""

    @pytest.mark.parametrize("query", QUERIES)
    def test_or_and_vs_oracle(self, spark, corpus, query):
        paths, oracle = corpus
        idx = BM25Index(spark, paths.root)
        from search_engine_spark.text.tokenizer import tokenize_py as tok

        terms = [t for t in set(tok(query)) if oracle.df.get(t, 0) > 0]
        want_or = sum(
            1 for d in oracle.docs
            if any(oracle.tf[d].get(t, 0) > 0 for t in terms)
        ) if terms else 0
        want_and = sum(
            1 for d in oracle.docs
            if terms and all(oracle.tf[d].get(t, 0) > 0 for t in terms)
        )
        assert idx.count_matches(query, mode="or") == want_or, query
        assert idx.count_matches(query, mode="and") == want_and, query

    def test_tombstones_excluded(self, spark, tmp_path):
        from search_engine_spark.index.merge import merge_pages, read_tombstones

        all_pages = synth_pages(spark, 80, num_partitions=2)
        ordinal = F.regexp_extract("url", r"page/(\d+)", 1).cast("long")
        root = str(tmp_path / "cntidx")
        build_index(spark, all_pages.filter(ordinal < 60), root,
                    num_buckets=4, block_size=16, num_partitions=2)
        merge_pages(spark, root, all_pages.filter(ordinal >= 40),
                    num_partitions=2)
        idx = BM25Index(spark, root, seed_min_df=0)
        # a term common enough to hit everything: compare against the
        # LIVE doc count upper bound and the brute search result
        live = idx.stats()["indexed_docs"]
        n = idx.count_matches("the quick data python web page", mode="or")
        assert 0 < n <= live
        hits = idx.search("data", k=10_000, mode="exhaustive",
                          join_docs=False).count()
        assert idx.count_matches("data", mode="or") == hits
