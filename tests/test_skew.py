"""Hot-term skew salting (SURVEY §4.2.1): a Zipf-head term must fan out
across reducers AND stay query-correct across its multiple block runs.

At production settings a term salts at df > 64k; here rows_per_salt is
dialed down so a small corpus exercises the same machinery."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.index.builder import build_index
from search_engine_spark.index.codec import varint_decode
from search_engine_spark.query.bm25 import LOCAL_MAX_DF, BM25Index
from search_engine_spark.synth import synth_pages

N_PAGES = 240
ROWS_PER_SALT = 32  # hot terms (df ~ N_PAGES) fan out over ~8 salts


@pytest.fixture(scope="module")
def salted(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("skew_idx"))
    build_index(
        spark, synth_pages(spark, N_PAGES, num_partitions=4), root,
        num_buckets=8, block_size=16, num_partitions=8, resume=False,
        rows_per_salt=ROWS_PER_SALT,
    )
    return root


def _runs_per_term(spark, idx):
    """Number of distinct sorted doc-id runs per term = salt fan-out
    (each (term, salt) slice packs its own run of blocks)."""
    rows = idx.postings.collect()
    runs = {}
    last_end = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["first_doc_id"])):
        t = r["term"]
        if t not in runs:
            runs[t] = 1
        elif r["first_doc_id"] < last_end[t]:
            runs[t] += 1  # overlapping id range -> a separate salted run
        last_end[t] = r["last_doc_id"]
    return runs


def test_hot_terms_fan_out(spark, salted):
    idx = BM25Index(spark, salted)
    stats = {r["term"]: r["df"] for r in idx.term_stats.collect()}
    hot = [t for t, df in stats.items() if df > 4 * ROWS_PER_SALT]
    assert hot, "corpus should contain Zipf-head terms"
    runs = _runs_per_term(spark, idx)
    # every hot term split into multiple sorted runs (salted reducers)
    for t in hot:
        assert runs.get(t, 1) >= 2, (t, stats[t])
    # tail terms (df below one salt) stay in a single run
    tail = [t for t, df in stats.items() if df <= ROWS_PER_SALT]
    assert tail
    single = sum(1 for t in tail if runs.get(t, 1) == 1)
    assert single >= 0.9 * len(tail)


def test_salted_postings_decode_complete(spark, salted):
    """Union of a hot term's salted runs == its full posting set."""
    idx = BM25Index(spark, salted)
    stats = {r["term"]: r["df"] for r in idx.term_stats.collect()}
    hot = max(stats, key=stats.get)
    seen = []
    for r in idx.postings.filter(F.col("term") == hot).collect():
        ids = np.cumsum(varint_decode(bytes(r["doc_ids"]), r["count"]))
        seen.extend(int(i) for i in ids)
    assert len(seen) == len(set(seen)) == stats[hot]


def test_query_correct_over_salted_runs(spark, salted):
    """BM25 over a salted hot term aggregates across runs correctly:
    every matching doc appears once with the full contribution."""
    idx = BM25Index(spark, salted, seed_min_df=0)
    stats = {r["term"]: r["df"] for r in idx.term_stats.collect()}
    hot = max(stats, key=stats.get)
    # the driver-local path at the default gate, then the Spark plan
    # (gate 0), where blockmax is the θ-pruned scan
    for gate in (LOCAL_MAX_DF, 0):
        idx.local_max_df = gate
        got = idx.search(hot, k=N_PAGES, mode="exhaustive", join_docs=False)
        assert got.count() == stats[hot], gate
        assert got.select("doc_id").distinct().count() == stats[hot], gate
        bm = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.search(hot, k=20, mode="blockmax", join_docs=False)
            .orderBy(F.desc("score"), F.asc("doc_id")).collect()
        ]
        ex = [
            (r["doc_id"], round(r["score"], 9))
            for r in got.orderBy(F.desc("score"), F.asc("doc_id")).limit(20).collect()
        ]
        assert bm == ex, gate
