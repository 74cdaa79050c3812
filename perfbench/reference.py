"""Reference computations the benchmark checks the engine against.

The reference analyses each page with the program's own analyzers
(`tokenize_py(extract_content(html).text)`; the analyzers are the
specification of what a term is) and then does everything else apart
from the index: document frequencies, corpus statistics and BM25 with
Lucene's defaults, k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
ranked by score desc then doc_id asc.

Every check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter
from typing import Dict, Iterable, List, Sequence, Tuple

from search_engine_spark.text.extract import extract_content
from search_engine_spark.text.porter import porter_stem
from search_engine_spark.text.tokenizer import tokenize_py

K1, B = 1.2, 0.75
TOL = 1e-9

# (url, warc_ts in microseconds) names one version of one page
Key = Tuple[str, int]


_STEMS: Dict[str, str] = {}


def terms_of(text: str) -> List[str]:
    """tokenize_py(text), with the Porter step memoized per word."""
    out = []
    for w in tokenize_py(text, stem=False):
        s = _STEMS.get(w)
        if s is None:
            s = _STEMS[w] = porter_stem(w)
        out.append(s)
    return out


def analyze(html: bytes) -> Tuple[Counter, int, int]:
    """-> (term counts, doclen, UTF-8 bytes of the extracted text)"""
    text = extract_content(html.decode("utf-8")).text
    toks = terms_of(text)
    return Counter(toks), len(toks), len(text.encode("utf-8"))


def ts_key(ts: dt.datetime) -> int:
    """warc_ts as whole microseconds since the epoch, naive = UTC."""
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return round(ts.timestamp() * 1_000_000)


class Corpus:
    """A set of page versions with their analysed terms.

    `counted` versions make up N, df and avgdl; `live` versions are the
    ones queries may return.  A fresh or compacted index counts exactly
    its live versions; a merged index (Lucene semantics) still counts
    superseded and deleted versions until compaction.
    """

    def __init__(self, analysed: Dict[Key, Tuple[Counter, int, int]],
                 counted: Iterable[Key], live: Iterable[Key]):
        self.analysed = analysed
        self.counted = list(counted)
        self.live = set(live)
        self.n = len(self.counted)
        self.total = sum(analysed[k][1] for k in self.counted)
        self.avgdl = self.total / self.n if self.n else 0.0
        self.df: Counter = Counter()
        self.postings: Dict[str, List[Tuple[Key, int]]] = {}
        for k in self.counted:
            for t, tf in analysed[k][0].items():
                self.df[t] += 1
                self.postings.setdefault(t, []).append((k, tf))

    def text_bytes(self) -> int:
        return sum(self.analysed[k][2] for k in self.live)

    def idf(self, t: str) -> float:
        df = self.df[t]
        return math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))

    def scores(self, query: str, mode: str) -> Dict[Key, float]:
        """Scores of every live version matching the query."""
        terms = sorted({t for t in terms_of(query) if self.df[t] > 0})
        acc: Dict[Key, float] = {}
        hits: Counter = Counter()
        for t in terms:
            idf = self.idf(t)
            for k, tf in self.postings[t]:
                if k not in self.live:
                    continue
                dl = self.analysed[k][1]
                acc[k] = acc.get(k, 0.0) + idf * tf * (K1 + 1.0) / (
                    tf + K1 * (1.0 - B + B * dl / self.avgdl)
                )
                hits[k] += 1
        if mode == "and":
            acc = {k: s for k, s in acc.items() if hits[k] == len(terms)}
        return acc


# a version the index lost has no doc id; it ranks under this id, which
# no returned row can match
MISSING = -1


def ranked(scores: Dict[Key, float], doc_id: Dict[Key, int], k: int) -> List[Tuple[int, float]]:
    return sorted(((doc_id.get(key, MISSING), s) for key, s in scores.items()),
                  key=lambda r: (-r[1], r[0]))[:k]


def compare_topk(label: str, expected: Sequence[Tuple[int, float]],
                 got: Sequence[Tuple[int, float]],
                 score_of: Dict[int, float]) -> List[str]:
    """Problems in `got` against the expected ranking.

    score_of maps every doc id that may appear (live and matching) to
    its expected score.  A position may hold a different doc than
    expected only when both expected scores tie within TOL: summation
    order legitimately moves the last bits of tied scores.
    """
    errs = []
    if len(got) != len(expected):
        errs.append(f"{label}: {len(got)} rows, expected {len(expected)}")
    seen = set()
    for i, (d, s) in enumerate(got):
        if d in seen:
            errs.append(f"{label}: doc {d} returned twice")
        seen.add(d)
        ref = score_of.get(d)
        if ref is None:
            errs.append(f"{label}: doc {d} at rank {i + 1} is not a live match")
            continue
        if abs(s - ref) > TOL:
            errs.append(f"{label}: doc {d} score {s!r} != reference {ref!r}")
        if i < len(expected):
            ed, es = expected[i]
            if d != ed and abs(ref - es) > TOL:
                errs.append(f"{label}: rank {i + 1} holds doc {d}, expected {ed}")
    return errs[:5]


def check_tables(label: str, corpus: Corpus, docs: Dict[int, Tuple[Key, int]],
                 live_ids: Iterable[int], term_stats: Dict[str, int],
                 block_counts: Dict[str, int], corpus_stats: dict) -> List[str]:
    """Index tables against the reference.

    docs: doc_id -> (version key, doclen) for every version the docs
    table holds; live_ids: ids not tombstoned; term_stats: term -> df;
    block_counts: term -> Σ posting-block counts.
    """
    errs = []
    live_ids = set(live_ids)
    keys = [docs[i][0] for i in docs]
    if len(set(keys)) != len(keys):
        errs.append(f"{label}: a page version holds two doc ids")
    if set(keys) != set(corpus.counted):
        errs.append(f"{label}: docs table holds {len(keys)} versions, reference {corpus.n}")
    live_keys = {docs[i][0] for i in live_ids if i in docs}
    if live_keys != corpus.live:
        errs.append(f"{label}: {len(live_keys)} live docs, reference {len(corpus.live)}")
    bad_len = [i for i, (k, dl) in docs.items() if k in corpus.analysed and dl != corpus.analysed[k][1]]
    if bad_len:
        errs.append(f"{label}: {len(bad_len)} docs with doclen != reference token count")
    if set(term_stats) != set(corpus.df):
        errs.append(f"{label}: {len(term_stats)} terms, reference {len(corpus.df)}")
    bad_df = [t for t, df in term_stats.items() if corpus.df.get(t) != df]
    if bad_df:
        errs.append(f"{label}: df differs on {len(bad_df)} terms, e.g. {bad_df[:3]}")
    bad_blocks = [t for t, df in corpus.df.items() if block_counts.get(t) != df]
    if bad_blocks:
        errs.append(f"{label}: block counts differ from df on {len(bad_blocks)} terms")
    if corpus_stats["n_docs"] != corpus.n or corpus_stats["total_tokens"] != corpus.total:
        errs.append(f"{label}: corpus stats {corpus_stats} vs N={corpus.n} total={corpus.total}")
    if abs(corpus_stats["avgdl"] - corpus.avgdl) > TOL * max(1.0, corpus.avgdl):
        errs.append(f"{label}: avgdl {corpus_stats['avgdl']} vs {corpus.avgdl}")
    return errs


def score_map(scores: Dict[Key, float], doc_id: Dict[Key, int]) -> Dict[int, float]:
    return {doc_id[k]: s for k, s in scores.items() if k in doc_id}
