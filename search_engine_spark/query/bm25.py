"""BM25 top-k query engine over the posting-block index.

Replaces the reference's ES multi_match query path (backend/search_api/
main.py:162-189, scored by Lucene BM25 with default k1=1.2 b=0.75) with
an explicit Spark plan:

  query string
    -> canonical tokenizer (driver-side, same function as the build)
    -> broadcast term stats {term: (df, idf, global max score)}
    -> posting scan pruned to term_bucket partitions + term pushdown
    -> [blockmax mode] θ-seeded block pruning (native filter)
    -> Arrow block decoder -> (doc_id, contrib)  [numpy, join-free:
       blocks carry doclens, so scoring needs only broadcast scalars]
    -> groupBy(doc_id).sum  -> TakeOrderedAndProject top-k
    -> broadcast join of the k winners back to docs for url/title

Block-max pruning correctness (exact, single phase): prune block b of
term t when  block_max(b) + Σ_{t'≠t} gmax(t') < θ  where θ is a lower
bound on the true k-th score.  Any doc d appearing in a pruned block has
total score ≤ block_max(b) + Σ_{t'≠t} gmax(t') < θ, so d cannot be in
the top-k; conversely every true top-k doc has all of its blocks
surviving, hence its computed score is exact.  θ is seeded from the
rarest query term: the k-th best single-term contribution is a valid
lower bound on the k-th best total.

Determinism: ties broken (score desc, doc_id asc) — SURVEY.md §2.G1.

Two paths serve `search()`:

  * driver-local — a plain query (mode blockmax / exhaustive / and; no
    explain, include, exclude or after cursor; k ≤ LOCAL_MAX_K) whose
    Σdf is at most `BM25Index.local_max_df` never touches Spark.  pyarrow
    reads the query terms' term_bucket partitions filtered on term, the
    same `_decode_and_score` closure decodes and scores, numpy sums per
    doc in a fixed order (term, then doc), applies the match-count and
    tombstone masks and cuts top-k, and the k winners' url/title come
    from an isin() read of the doc_id-sorted docs table.  The rows go
    back as an Arrow-backed local relation: 0 Spark jobs per query.
    The pass is exhaustive, so it is exact with no θ-seed.
  * Spark — the plan above, for everything else and for large queries;
    it stays the oracle the local path is tested against (tests set
    local_max_df = 0 to force it).

Snapshot semantics are those of opening the index: the Spark frames pin
their file listings at open (InMemoryFileIndex), and the local path's
pyarrow datasets and tombstone ids are listed and read at open too, so
a merge or delete committed afterwards is seen by neither path until
the index is reopened.
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Optional, Tuple

import math
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from search_engine_spark import schemas
from search_engine_spark.index.builder import IndexPaths, _pa_dataset
from search_engine_spark.index.codec import (
    delta_decode,
    delta_decode_blocks,
    segmented_delta_decode,
    varint_decode,
    varint_decode_blocks,
)
from search_engine_spark.index.scoring import (
    idf_py,
    score_col,
    score_np,
    tfidf_idf_py,
)
from search_engine_spark.query.painless import painless_to_sql
from search_engine_spark.query.parse import parse_query
from search_engine_spark.query.spans import eval_spans, parse_span_query
from search_engine_spark.text.tokenizer import tokenize_py


def _bucket_order(order_by, metric_cols=()):
    """ES terms-agg `order` → Spark sort columns.  None = the default
    (doc_count desc, value asc).  ("value"|"doc_count"|<metric>, dir)
    sorts by that column with the others as deterministic tie-breaks."""
    if order_by is None:
        return [F.desc("doc_count"), F.asc("value")]
    col, direction = order_by
    allowed = {"value", "doc_count", *metric_cols}
    if col not in allowed or direction not in ("asc", "desc"):
        raise ValueError(
            f"order_by must be (one of {sorted(allowed)}, asc|desc): "
            f"{order_by!r}"
        )
    lead = F.asc(col) if direction == "asc" else F.desc(col)
    ties = [c for c in ("doc_count", "value") if c != col]
    return [lead] + [
        F.desc(c) if c == "doc_count" else F.asc(c) for c in ties
    ]

_CONTRIB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("contrib", DoubleType(), False),
    ]
)

_TERM_CONTRIB_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("contrib", DoubleType(), False),
    ]
)

# search() result shapes: scored ids, + url/title, or + explain map
_SCORED_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("score", DoubleType())]
)
_HIT_SCHEMA = StructType(
    _SCORED_SCHEMA.fields
    + [StructField("url", StringType()), StructField("title", StringType())]
)
_EXPLAIN_SCHEMA = StructType(
    _SCORED_SCHEMA.fields
    + [StructField("term_scores", MapType(StringType(), DoubleType()))]
)

# ES index.max_result_window: deeper top-k lists take the Spark plan
LOCAL_MAX_K = 10_000
# Default Σdf gate of the driver-local path (BM25Index.local_max_df).
# The local path decodes on one driver core, the Spark plan on all of
# them after 5-8 job schedulings.  Measured with top-10 queries over
# the commonest terms of a 200k-page synth index at local[4] on a
# 4-vCPU host (warm medians; driver peak RSS in brackets):
#   Σdf 0.5M: local 0.33 s, Spark 1.7 s
#   Σdf 1.0M: local 0.38-0.42 s, Spark 2.2-2.4 s
#   Σdf 2.0M: local 0.69-0.74 s (390 MB), Spark 2.6 s
#   Σdf 4.0M: local 1.6 s (580 MB), Spark 3.0 s
# The gap narrows with Σdf and more executor cores narrow it further, so
# the gate stops at 2M, the largest Σdf at which the local path was
# still several times faster.
LOCAL_MAX_DF = 2_000_000


def _local_relation(
    spark: SparkSession, schema: StructType, columns: Optional[dict] = None
) -> DataFrame:
    """Driver-side columns (None = no rows) as an Arrow-backed local
    relation.  createDataFrame(pyarrow.Table) becomes a LocalRelation
    the driver answers itself: collecting it runs no Spark job, where
    createDataFrame(list) — or an empty pandas frame, which falls back
    to it — parallelizes a Python RDD and runs one (~0.3 s)."""
    pa_schema = to_arrow_schema(schema)
    table = (
        pa_schema.empty_table()
        if columns is None
        else pa.table(columns, schema=pa_schema)
    )
    return spark.createDataFrame(table, schema)


def _arrow_schema(struct: StructType, names: Tuple[str, ...]) -> pa.Schema:
    """Arrow schema of some columns of a declared table schema, nullable
    as Spark writes parquet columns."""
    return to_arrow_schema(
        StructType([StructField(n, struct[n].dataType) for n in names])
    )


class _ArrowTables:
    """The index tables the driver-local path reads, as pyarrow datasets
    whose file listings are taken once, at open, plus the tombstoned ids
    read at the same point."""

    POSTING_COLS = ("term", "first_doc_id", "count", "doc_ids", "tfs", "doclens")

    def __init__(self, paths: IndexPaths, tombstoned: bool):
        from search_engine_spark.index.merge import tombstones_path

        bucket = _arrow_schema(schemas.POSTINGS, ("term_bucket",))
        self.postings = _pa_dataset(
            paths.postings,
            schema=_arrow_schema(
                schemas.POSTINGS, self.POSTING_COLS + ("term_bucket",)
            ),
            partitioning=pads.partitioning(bucket, flavor="hive"),
        )
        self.term_stats = _pa_dataset(
            paths.term_stats,
            schema=_arrow_schema(
                schemas.TERM_STATS, tuple(schemas.TERM_STATS.names)
            ),
        )
        self.docs = _pa_dataset(
            paths.docs,
            schema=_arrow_schema(schemas.DOCS, ("doc_id", "url", "title")),
        )
        self.tomb_ids = np.empty(0, dtype=np.int64)
        if tombstoned:
            tomb = _pa_dataset(
                tombstones_path(paths),
                schema=_arrow_schema(schemas.TOMBSTONES, ("doc_id",)),
            )
            self.tomb_ids = np.unique(
                tomb.to_table(columns=["doc_id"]).column("doc_id").to_numpy()
            )


def _lit_map(d: Dict[str, float]):
    """string->double literal map column (term-keyed constants in
    native filters/expressions)."""
    return F.create_map(
        *[x for k, v in d.items() for x in (F.lit(k), F.lit(float(v)))]
    )


def _decode_and_score(
    idf_by_term: Dict[str, float],
    avgdl,
    formula: str = "bm25",
    emit_term: bool = False,
    cand: Optional[np.ndarray] = None,
):
    """mapInPandas body: posting blocks -> (doc_id, contrib) rows.

    formula "bm25": Lucene-default BM25 (index/scoring.py).
    formula "tfidf": the reference's TF-IDF (tfidf.py:167-572) — log TF
    (1 + log10(tf)) times the caller-supplied idf (smooth IDF); doclen
    is unused.
    avgdl: a float, or a per-term dict (multi-field search — each
    field-namespaced term normalizes by its FIELD's avgdl).
    emit_term=True additionally outputs the term column (batch
    multi-query mode joins contributions to per-query term sets).
    cand: optional SORTED doc_id array — an exact superset of all
    possible result docs (conjunctive AND-mode: docs holding the
    rarest term).  Non-candidate rows are dropped before scoring so
    the shuffle is bounded by the rarest term's df."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["term"].isin(list(idf_by_term))]
            if pdf.empty:
                continue
            # the whole batch decodes in one vectorized pass per column
            n = pdf["count"].to_numpy(dtype=np.int64)
            terms = pdf["term"].to_numpy(dtype=object)
            ids = delta_decode_blocks(pdf["doc_ids"].tolist(), n).astype(np.int64)
            tfs = varint_decode_blocks(pdf["tfs"].tolist(), n)
            dls = (
                None
                if formula == "tfidf"
                else varint_decode_blocks(pdf["doclens"].tolist(), n)
            )
            row_block = np.repeat(np.arange(len(n)), n)
            if cand is not None:
                m = np.isin(ids, cand)
                if not m.any():
                    continue
                ids, tfs, row_block = ids[m], tfs[m], row_block[m]
                if dls is not None:
                    dls = dls[m]
            idf = np.array([idf_by_term[t] for t in terms])[row_block]
            if formula == "tfidf":
                contrib = (1.0 + np.log10(tfs.astype(np.float64))) * idf
            else:
                avg = (
                    np.array([avgdl[t] for t in terms])[row_block]
                    if isinstance(avgdl, dict)
                    else avgdl
                )
                contrib = score_np(tfs, dls, idf, avg)
            cols = {"doc_id": ids, "contrib": contrib}
            if emit_term:
                cols = {"term": terms[row_block], **cols}
            yield pd.DataFrame(cols)

    return run


_PHRASE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("dl", LongType(), False),
        StructField("off", LongType(), False),
        StructField("starts", ArrayType(LongType(), False), False),
    ]
)


def _decode_phrase_starts(
    offsets_by_term: Dict[str, List[int]],
    cand: Optional[np.ndarray] = None,
    shift: bool = True,
):
    """mapInPandas body: positional blocks -> candidate phrase-start rows.

    For a phrase t_0..t_{n-1}, doc d matches at start position p iff
    p + i ∈ positions(t_i, d) for every pair (t_i, i).  Each (term,
    offset) pair emits one row per doc carrying positions(t, d) - i
    (negative values dropped — they cannot be starts; a doc whose
    shifted list empties is dropped too, which the downstream
    count == n_pairs filter turns into a correct non-match).  The
    per-doc split/shift is pure numpy — no Python loop over positions.

    shift=False emits RAW position lists (off kept as the slot label
    only, nothing subtracted or dropped) — the intervals query needs
    every position, not just viable phrase starts.

    cand: optional SORTED doc_id array (docs containing the phrase's
    rarest term — an exact superset of all matches).  Blocks whose
    doc_ids miss it entirely skip position decoding; surviving blocks
    emit only candidate docs, so the shuffle is bounded by the rarest
    term's df instead of the Zipf-head term's.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids: List[np.ndarray] = []
            out_dls: List[np.ndarray] = []
            out_offs: List[np.ndarray] = []
            out_starts: List[np.ndarray] = []
            for term, n, ids_b, pc_b, pos_b, dls_b in zip(
                pdf["term"], pdf["count"], pdf["doc_ids"],
                pdf["pos_counts"], pdf["positions"], pdf["doclens"],
            ):
                offs = offsets_by_term.get(term)
                if offs is None:
                    continue
                n = int(n)
                ids = delta_decode(bytes(ids_b), n).astype(np.int64)
                if cand is not None:
                    cand_mask = np.isin(ids, cand, assume_unique=True)
                    if not cand_mask.any():
                        continue
                else:
                    cand_mask = None
                counts = varint_decode(bytes(pc_b), n).astype(np.int64)
                flat = segmented_delta_decode(bytes(pos_b), counts).astype(
                    np.int64
                )
                dls = varint_decode(bytes(dls_b), n).astype(np.int64)
                seg_starts = np.cumsum(counts) - counts
                for off in offs:
                    if shift:
                        shifted = flat - off
                        keep = shifted >= 0
                        kept_counts = np.add.reduceat(
                            keep.astype(np.int64), seg_starts
                        )
                    else:
                        shifted, keep = flat, slice(None)
                        kept_counts = counts
                    doc_ok = kept_counts > 0
                    if cand_mask is not None:
                        doc_ok &= cand_mask
                    sel = np.flatnonzero(doc_ok)
                    if not len(sel):
                        continue
                    segs = np.split(
                        shifted[keep], np.cumsum(kept_counts)[:-1]
                    )
                    out_ids.append(ids[sel])
                    out_dls.append(dls[sel])
                    out_offs.append(np.full(len(sel), off, dtype=np.int64))
                    out_starts.extend(segs[j] for j in sel)
            if out_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(out_ids),
                        "dl": np.concatenate(out_dls),
                        "off": np.concatenate(out_offs),
                        "starts": pd.Series(out_starts, dtype=object),
                    }
                )

    return run


def _sloppy_ptf_udf(slop: int, n_pairs: int):
    """pandas UDF: per-doc ordered-proximity match count.

    Input rows are collect_list(struct(off, starts)) for docs that
    passed the count == n_pairs conjunctive cut; starts[off] is the
    SORTED shifted position list s = p - off of pair off.  A match from
    s_0 exists iff a non-decreasing chain s_0 <= s_1 <= ... <= s_{n-1}
    (one element per pair, in pair order) has s_{n-1} - s_0 <= slop —
    equivalently raw positions p_0 < p_1 < ... < p_{n-1} with window
    overhead (p_{n-1} - p_0) - (n-1) <= slop.  Greedy smallest-next
    (one searchsorted per level, vectorized over all s_0 at once)
    minimizes s_{n-1}, so its span test is exact; ptf = number of
    distinct matching s_0.  slop=0 degenerates to the all-equal chain,
    i.e. the exact-phrase intersection (kept native — this UDF only
    runs for slop > 0)."""

    def ptf_of(plist) -> int:
        arrs: List[Optional[np.ndarray]] = [None] * n_pairs
        for p in plist:
            arrs[int(p["off"])] = np.asarray(p["starts"], dtype=np.int64)
        s0 = arrs[0]
        scur = s0
        for j in range(1, n_pairs):
            a = arrs[j]
            idx = np.searchsorted(a, scur, side="left")
            valid = idx < len(a)
            s0 = s0[valid]
            if not len(s0):
                return 0
            scur = a[idx[valid]]
        return int(np.count_nonzero(scur - s0 <= slop))

    @F.pandas_udf(LongType())
    def ptf(pairs: pd.Series) -> pd.Series:
        return pd.Series([ptf_of(p) for p in pairs], dtype=np.int64)

    return ptf


def _intervals_freq_udf(max_gaps: int, ordered: bool, n_terms: int):
    """pandas UDF: per-doc count of MINIMAL matching intervals — the
    ES/Lucene `intervals` match source (ordered / unordered, max_gaps).

    Input rows are collect_list(struct(off, starts)) for docs that
    passed the all-terms conjunctive cut; `off` is the term's query
    ordinal and starts[off] is its SORTED RAW position list (the
    shared phrase decoder in shift=False mode).

    ordered: greedy smallest-next strictly-increasing chains from
    every p_0 (vectorized searchsorted per level) give each start's
    tightest end; an interval is minimal iff no later start reaches
    the same end (ends are non-decreasing in p_0, so dropping
    equal-end predecessors is exact).  unordered: the classic minimal-
    window sweep over the merged (position, term) stream.  An interval
    matches when (width - n_terms) <= max_gaps; max_gaps < 0 means
    unlimited (the ES default -1)."""

    def freq_of(plist) -> int:
        pos: List[Optional[np.ndarray]] = [None] * n_terms
        for p in plist:
            pos[int(p["off"])] = np.asarray(p["starts"], dtype=np.int64)
        if ordered:
            p0 = pos[0]
            cur = p0
            for j in range(1, n_terms):
                a = pos[j]
                idx = np.searchsorted(a, cur, side="right")
                valid = idx < len(a)
                p0 = p0[valid]
                if not len(p0):
                    return 0
                cur = a[idx[valid]]
            if len(p0) > 1:
                keep = np.append(cur[:-1] != cur[1:], True)
                p0, cur = p0[keep], cur[keep]
            if max_gaps < 0:
                return int(len(p0))
            return int(
                np.count_nonzero((cur - p0 + 1) - n_terms <= max_gaps)
            )
        items = sorted(
            (int(v), i) for i, lst in enumerate(pos) for v in lst
        )
        cnt = [0] * n_terms
        have = left = out = 0
        for pr, tr in items:
            cnt[tr] += 1
            if cnt[tr] == 1:
                have += 1
            if have < n_terms:
                continue
            while cnt[items[left][1]] > 1:
                cnt[items[left][1]] -= 1
                left += 1
            width = pr - items[left][0] + 1
            if max_gaps < 0 or width - n_terms <= max_gaps:
                out += 1
            cnt[items[left][1]] -= 1
            have -= 1
            left += 1
        return out

    @F.pandas_udf(LongType())
    def freq(pairs: pd.Series) -> pd.Series:
        return pd.Series([freq_of(p) for p in pairs], dtype=np.int64)

    return freq


def _spans_freq_udf(tree, n_terms: int):
    """pandas UDF: per-doc span-match count for a parsed span tree
    (query/spans.py pinned semantics).  Input rows are
    collect_list(struct(off, starts)) where `off` is the leaf term's
    ordinal and starts[off] its SORTED RAW position list (the shared
    phrase decoder in shift=False mode); ordinals a doc lacks stay
    empty — OR branches and excludes are allowed to be absent.  The
    span composition (union / ordered-DP near / minimal-window near /
    not / first / containing / within) runs per doc over the tiny
    position lists; tf = number of matching spans."""

    def freq_of(plist) -> int:
        pos: List[np.ndarray] = [
            np.empty(0, dtype=np.int64) for _ in range(n_terms)
        ]
        for p in plist:
            pos[int(p["off"])] = np.asarray(p["starts"], dtype=np.int64)
        return len(eval_spans(tree, pos))

    @F.pandas_udf(LongType())
    def freq(pairs: pd.Series) -> pd.Series:
        return pd.Series([freq_of(p) for p in pairs], dtype=np.int64)

    return freq


_TF_ROWS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("tf", LongType(), False),
        StructField("dl", LongType(), False),
    ]
)


def _decode_tf_rows():
    """mapInPandas body: posting blocks -> raw (doc_id, tf, dl) rows.

    Prefix/synonym-group scoring sums tf across the expanded terms
    BEFORE BM25 saturation (Lucene SynonymQuery), so blocks must
    surface raw tf rather than per-term contributions."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_out: List[np.ndarray] = []
            tf_out: List[np.ndarray] = []
            dl_out: List[np.ndarray] = []
            for n, ids_b, tfs_b, dls_b in zip(
                pdf["count"], pdf["doc_ids"], pdf["tfs"], pdf["doclens"]
            ):
                n = int(n)
                gaps = varint_decode(bytes(ids_b), n)
                ids_out.append(np.cumsum(gaps, dtype=np.uint64).astype(np.int64))
                tf_out.append(varint_decode(bytes(tfs_b), n).astype(np.int64))
                dl_out.append(varint_decode(bytes(dls_b), n).astype(np.int64))
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_out),
                        "tf": np.concatenate(tf_out),
                        "dl": np.concatenate(dl_out),
                    }
                )

    return run


_TERM_TF_ROWS_SCHEMA = "term string, doc_id long, tf long"


def _decode_term_tf_rows():
    """mapInPandas body: posting blocks -> raw (term, doc_id, tf) rows.

    combined_fields sums FIELD-WEIGHTED tf across a term's field
    variants before BM25 saturation (Lucene CombinedFieldQuery), so
    blocks must surface raw per-term tf; doclens stay encoded — the
    combined norm comes from the docs table instead."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms_out: List[np.ndarray] = []
            ids_out: List[np.ndarray] = []
            tf_out: List[np.ndarray] = []
            for t, n, ids_b, tfs_b in zip(
                pdf["term"], pdf["count"], pdf["doc_ids"], pdf["tfs"]
            ):
                n = int(n)
                gaps = varint_decode(bytes(ids_b), n)
                ids_out.append(
                    np.cumsum(gaps, dtype=np.uint64).astype(np.int64)
                )
                tf_out.append(varint_decode(bytes(tfs_b), n).astype(np.int64))
                terms_out.append(np.repeat(t, n))
            if ids_out:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(terms_out),
                        "doc_id": np.concatenate(ids_out),
                        "tf": np.concatenate(tf_out),
                    }
                )

    return run


def _decode_term_vectors(cand: np.ndarray, with_positions: bool):
    """mapInPandas body: posting blocks -> (doc_id, term, tf
    [, positions]) rows restricted to the requested doc ids — the
    doc-major term-vectors decode (ES _termvectors).  Ids decode
    first; blocks with no candidate hit skip their payloads entirely,
    so only the requested docs' rows ever materialize."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_out: List[np.ndarray] = []
            term_out: List[np.ndarray] = []
            tf_out: List[np.ndarray] = []
            pos_out: List[np.ndarray] = []
            for i in range(len(pdf)):
                n = int(pdf["count"].iloc[i])
                ids = delta_decode(
                    bytes(pdf["doc_ids"].iloc[i]), n
                ).astype(np.int64)
                mask = np.isin(ids, cand, assume_unique=True)
                if not mask.any():
                    continue
                sel = np.flatnonzero(mask)
                if with_positions:
                    counts = varint_decode(
                        bytes(pdf["pos_counts"].iloc[i]), n
                    ).astype(np.int64)
                    flat = segmented_delta_decode(
                        bytes(pdf["positions"].iloc[i]), counts
                    ).astype(np.int64)
                    segs = np.split(flat, np.cumsum(counts)[:-1])
                    pos_out.extend(segs[j] for j in sel)
                    tf_out.append(counts[sel])  # tf == |positions|
                else:
                    tf_out.append(
                        varint_decode(
                            bytes(pdf["tfs"].iloc[i]), n
                        ).astype(np.int64)[sel]
                    )
                ids_out.append(ids[sel])
                term_out.append(
                    np.full(len(sel), pdf["term"].iloc[i], dtype=object)
                )
            if ids_out:
                data = {
                    "doc_id": np.concatenate(ids_out),
                    "term": np.concatenate(term_out),
                    "tf": np.concatenate(tf_out),
                }
                if with_positions:
                    data["positions"] = pd.Series(
                        [p.tolist() for p in pos_out], dtype=object
                    )
                yield pd.DataFrame(data)

    return run


def _decode_doc_ids():
    """mapInPandas body: score-posting blocks -> bare doc_id rows (the
    phrase candidate pre-pass — ids only, tfs/doclens never decoded)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                delta_decode(bytes(ids_b), int(n)).astype(np.int64)
                for n, ids_b in zip(pdf["count"], pdf["doc_ids"])
            ]
            if out:
                yield pd.DataFrame({"doc_id": np.concatenate(out)})

    return run


def _decode_term_doc_ids(cand: Optional[np.ndarray]):
    """mapInPandas body: score-posting blocks -> (term, doc_id) rows,
    optionally masked to a SORTED candidate doc_id array (the
    significant_terms foreground) — non-candidate postings are dropped
    inside Arrow, before any shuffle; tfs/doclens never decode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            t_out: List[np.ndarray] = []
            id_out: List[np.ndarray] = []
            for term, n, ids_b in zip(pdf["term"], pdf["count"], pdf["doc_ids"]):
                ids = delta_decode(bytes(ids_b), int(n)).astype(np.int64)
                if cand is not None:
                    ids = ids[np.isin(ids, cand, assume_unique=True)]
                    if not len(ids):
                        continue
                t_out.append(np.full(len(ids), term, dtype=object))
                id_out.append(ids)
            if id_out:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(t_out),
                        "doc_id": np.concatenate(id_out),
                    }
                )

    return run


def _decode_term_fg_counts(cand: np.ndarray):
    """mapInPandas body: score-posting blocks -> (term, fg) PARTIAL
    COUNTS of candidate docs per term.  (term, doc_id) is unique across
    the postings table (merge assigns re-crawled urls fresh doc ids),
    so counting masked ids per block inside Arrow and summing partials
    is exactly the per-term foreground doc count — the shuffle carries
    one row per (term, partition) instead of one per matched posting."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms: List[str] = []
            counts: List[int] = []
            for term, n, ids_b in zip(pdf["term"], pdf["count"], pdf["doc_ids"]):
                ids = delta_decode(bytes(ids_b), int(n)).astype(np.int64)
                c = int(np.isin(ids, cand, assume_unique=True).sum())
                if c:
                    terms.append(term)
                    counts.append(c)
            if terms:
                yield pd.DataFrame(
                    {"term": terms, "fg": np.asarray(counts, dtype=np.int64)}
                )

    return run


class BM25Index:
    """Query-side handle on an index built by index.builder.build_index."""

    def __init__(
        self, spark: SparkSession, index_dir: str, seed_min_df: int = 50_000
    ):
        from search_engine_spark.index.merge import is_merged, read_tombstones

        self.spark = spark
        self.paths = IndexPaths(index_dir)
        corpus = spark.read.parquet(self.paths.corpus_stats).collect()[0]
        self.n_docs = int(corpus["n_docs"])
        self.avgdl = float(corpus["avgdl"])
        self.total_tokens = int(corpus["total_tokens"])
        # declared schemas (SURVEY §1.2: never infer) — also keeps a
        # 0-doc index loadable (inference fails on empty parquet dirs)
        self.postings = spark.read.schema(schemas.POSTINGS).parquet(
            self.paths.postings
        )
        self.term_stats = spark.read.schema(schemas.TERM_STATS).parquet(
            self.paths.term_stats
        )
        self.docs = spark.read.schema(schemas.DOCS).parquet(self.paths.docs)
        # Incrementally-merged index (index/merge.py): tombstoned docs
        # must never surface, and stored block_max_score/max_score are
        # stale under the merged corpus stats — all pruning bounds are
        # then recomputed from (max_tf, min_dl) at query time.
        self.tombstones = read_tombstones(spark, self.paths)
        self.merged = self.tombstones is not None or is_merged(spark, self.paths)
        # Driver-local path and term-stat lookup (module docstring): the
        # same files through pyarrow.fs, which the builder writes the
        # manifest with, listed now as the frames above were.
        self._arrow = _ArrowTables(self.paths, self.tombstones is not None)
        # Σdf gate of the local path; tests set 0 to force Spark.
        self.local_max_df = LOCAL_MAX_DF
        # θ-seeding pays one extra (tiny) Spark job to prune the main
        # scan; below this df the rare term's whole posting list is a
        # handful of blocks and the scan it would prune is already
        # cheaper than the seed job.  At web scale every query term
        # clears this easily, so pruning is always on where it matters.
        # Tests pass 0 to force pruning on tiny corpora.
        self.seed_min_df = seed_min_df
        # Above this corpus size the join-back of k winners switches
        # from a lazy broadcast join (streams the docs table) to a
        # collect-ids + isin() lookup that prunes parquet row groups on
        # the doc_id-sorted docs layout.  Tests set 0 to force it.
        self.lookup_min_docs = 5_000_000
        # Driver-side memo of per-term stats: query streams are Zipfian,
        # so repeated terms skip the lookup job.  Bounded by query-term
        # vocabulary actually seen, not the corpus vocabulary.
        self._stats_memo: Dict[str, Optional[Tuple[int, Optional[float], int, int, int]]] = {}
        self._field_avgdl_cache: Optional[Dict[str, float]] = None
        self._pos_cache: Optional[DataFrame] = None
        self._shingle_cache: Optional[Tuple[DataFrame, DataFrame]] = None
        # Phrase candidate gate: when a multi-term phrase's rarest term
        # has df ≤ phrase_cand_max_df AND the commonest term is at least
        # phrase_cand_ratio× more frequent AND the pre-pass would prune
        # at least phrase_cand_min_pruned posting entries, a cheap
        # pre-pass collects the rarest term's doc ids (from the SCORE
        # postings — smaller payload, same doc sets) and the positional
        # decode intersects against them, bounding decode+shuffle by
        # the rarest df rather than the Zipf-head term's.  The absolute
        # floor exists because the pre-pass costs one extra Spark job
        # (~0.1 s scheduling, measured: scripts/bench_phrase_gate.py is
        # 1.2× SLOWER gated at 48k pages where decode is trivial);
        # 2M pruned entries ≈ the decode+emit+shuffle volume whose
        # saving clears that fixed cost with margin.  Above max_df the
        # collected id set stops being tiny driver-side state.
        self.phrase_cand_max_df = 1_000_000
        self.phrase_cand_ratio = 8.0
        self.phrase_cand_min_pruned = 2_000_000
        # Boolean NOT (search_boolean): the exclusion set is decoded
        # from the negated terms' postings, so its size is their df sum.
        # Below not_broadcast_max_df the anti-joins hint broadcast
        # (~8 bytes/id driver+executor copy); above not_seed_max_df the
        # θ-seed job — which must itself anti-join the exclusion set to
        # keep θ a valid lower bound — would shuffle more than the scan
        # it prunes, so pruning is skipped (exhaustive scan, exact).
        self.not_broadcast_max_df = 5_000_000
        self.not_seed_max_df = 50_000_000
        # Filter context (search_filtered): a filter matching at most
        # filter_collect_max docs is collected driver-side (8 B/id —
        # 16 MB at the default) and pushed into the Arrow decode as a
        # candidate mask, bounding decode+shuffle by the FILTER's
        # selectivity instead of the query terms' df; broader filters
        # prune little anyway, so they fall back to an exhaustive scan
        # + doc_id semi-join (exact, AQE picks the join strategy).
        self.filter_collect_max = 2_000_000
        # Variable-width histogram (facet_variable_width_histogram):
        # at most vwh_exact_max matches take the exact equal-population
        # ntile window (single-task, sized by the MATCH count); broader
        # foregrounds switch to percentile_approx edges + a native
        # bucket assignment — fully distributed, no global window.
        self.vwh_exact_max = 2_000_000
        # plan of the last variable-width-histogram computation (the
        # facet returns a bucket-sized local relation, so the
        # computing plan is exposed here for tests/diagnostics); None
        # until a call computes one, and reset per call so an
        # empty-match call never leaves a stale previous plan behind
        self._last_vwh_plan = None

    # -- term stat lookup (stats rows only for query terms) --
    def _query_stats(self, terms: List[str]) -> Dict[str, Tuple[int, float, int, int, int]]:
        """(df, max_score, term_bucket, max_tf, min_dl) per indexed
        term.  A memo miss reads term_stats on the driver through
        pyarrow — the table is range-sorted by term, so row-group
        min/max stats prune to the query terms; no Spark job."""
        missing = [t for t in terms if t not in self._stats_memo]
        if missing:
            rows = self._arrow.term_stats.to_table(
                filter=pc.field("term").isin(missing)
            ).to_pylist()
            found = {
                r["term"]: (
                    int(r["df"]),
                    None if r["max_score"] is None else float(r["max_score"]),
                    int(r["term_bucket"]),
                    int(r["max_tf"]),
                    int(r["min_dl"]),
                )
                for r in rows
            }
            for t in missing:
                self._stats_memo[t] = found.get(t)
        return {
            t: self._stats_memo[t]
            for t in terms
            if self._stats_memo.get(t) is not None
        }

    def _max_df(self) -> int:
        """Corpus-wide maximum document frequency (the 'max' IDF
        variant's normalizer, tfidf.py:347-360).  One native MAX over
        the dictionary-sized term_stats table — a partial-agg scan
        that never touches postings — memoized for the index's life
        (the dictionary is immutable between merges, and merges build
        a new BM25Index)."""
        if getattr(self, "_max_df_memo", None) is None:
            row = self.term_stats.agg(F.max("df").alias("m")).first()
            self._max_df_memo = int(row["m"]) if row["m"] is not None else 0
        return self._max_df_memo

    def _empty(self) -> DataFrame:
        return _local_relation(self.spark, _HIT_SCHEMA)

    def _empty_scored(
        self, join_docs: bool, explain: bool = False
    ) -> DataFrame:
        if explain:
            return _local_relation(self.spark, _EXPLAIN_SCHEMA)
        if join_docs:
            return self._empty()
        return _local_relation(self.spark, _SCORED_SCHEMA)

    def _drop_tombstones(self, df: DataFrame) -> DataFrame:
        """Deleted-docs mask (Lucene-style): tombstoned ids never
        surface from any query mode."""
        if self.tombstones is None:
            return df
        return df.join(
            F.broadcast(self.tombstones.select("doc_id")), "doc_id", "left_anti"
        )

    def search(
        self,
        query,  # raw query string, or pre-tokenized term list
        k: int = 10,
        mode: str = "blockmax",
        join_docs: bool = True,
        exclude: Optional[DataFrame] = None,
        exclude_df_sum: int = 0,
        explain: bool = False,
        include: Optional[DataFrame] = None,
        include_ids: Optional[np.ndarray] = None,
        after: Optional[Tuple[float, int]] = None,
        min_should_match: int = 1,
        tfidf_idf: str = "smooth",
    ) -> DataFrame:
        """Top-k BM25 search.

        explain=True returns (doc_id, score, term_scores) where
        term_scores is a map of EVERY query term to its score
        contribution, 0.0 for terms the doc lacks — the reference's
        TFIDFScore.term_scores (tfidf.py:484-507, D6).  The docs
        join-back is skipped (TFIDFScore carries no url/title).
        Exact under blockmax pruning: a pruned block implies every doc
        whose term-t contribution it holds totals below θ ≤ the k-th
        score, so surviving top-k docs keep all their blocks.

        mode: "blockmax" (OR semantics, θ-pruned — the default),
              "exhaustive" (OR semantics, no block pruning),
              "and" (conjunctive, C4 AND-semantics per SURVEY.md §2.C4 —
              a doc qualifies only if it contains EVERY query term;
              posting-list intersection realized as
              groupBy(doc_id).count == n_terms, exact and unpruned),
              "tfidf" (reference TF-IDF semantics, tfidf.py:167-572:
              log TF × the selected IDF variant, positive scores only —
              the oracle-parity ranking mode; block-max bounds are
              BM25-specific so no pruning).

        tfidf_idf: IDF variant for mode="tfidf" — "smooth" (default,
        the reference ranker's own default), "standard",
        "probabilistic" (Robertson-Sparck Jones; negative for terms in
        more than half the corpus, so common-term-only docs fall to
        the B5 positive-score filter exactly as in the reference), or
        "max" (normalizes by the corpus-wide maximum df, one memoized
        term_stats aggregate).  tfidf.py:301-360 / get_idf_vector
        method= switch (tfidf.py:362-381).  Ignored by BM25 modes.

        exclude: doc_id DataFrame that must not surface (ES bool
        must_not — used by search_boolean); exclude_df_sum is its
        upper-bound size (Σ df of the negated terms) for the
        broadcast / θ-seed cost gates.

        include / include_ids: ES filter context (used by
        search_filtered) — results are restricted to these doc ids,
        scores unchanged (full-corpus stats; the filter contributes 0,
        exactly like an ES bool `filter` clause).  include_ids (sorted
        unique int64, collected by the caller under filter_collect_max)
        is pushed into the Arrow decode as a candidate mask AND into
        the θ-seed, so both the scan shuffle and the pruning bound
        honor the filter; a broad filter passes only `include` and the
        restriction becomes a post-aggregation semi-join with θ-seeding
        off (an unfiltered θ could exceed the filtered k-th score and
        over-prune).

        min_should_match: ES minimum_should_match for OR modes — a doc
        qualifies only if it matches at least this many distinct query
        terms (1 = plain OR; len(terms) ≡ AND).  Counted over INDEXED
        terms, like ES counts analyzable clauses.  θ-pruning is off
        when > 1: θ is seeded from single-term contributions of docs
        that may not reach the match threshold, so it could exceed the
        true k-th qualifying score and over-prune — the pass is
        exhaustive-exact instead.  Ignored by "and"/"tfidf" modes
        ("and" is already the strongest threshold; the reference's
        TF-IDF ranker has no clause-count semantics, tfidf.py:484-507).

        after: deep-pagination cursor (score, doc_id) of the previous
        page's LAST row (ES search_after): returns the next k rows
        strictly after it in the (score desc, doc_id asc) total order —
        page N costs the same one pass as page 1, never O(offset) rows
        through the top-k heap like from/size.  θ-seeding is off (a θ
        seeded from global-best contributions exceeds every post-cursor
        score and would prune the whole page), so the pass is
        exhaustive-exact; see search_after().

        Plain queries whose Σdf is at most local_max_df are answered on
        the driver with no Spark job (module docstring); the result is
        the same top-k, as a local relation.
        """
        if k <= 0 or (include_ids is not None and not len(include_ids)):
            return self._empty_scored(join_docs, explain)
        # query is a raw string, or a pre-tokenized/stemmed term list
        # (search_boolean parses once; Porter is not idempotent, so
        # already-stemmed terms must not re-enter the tokenizer)
        terms = sorted(
            set(query) if isinstance(query, list) else set(tokenize_py(query))
        )
        stats = self._query_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return self._empty_scored(join_docs, explain)
        if (
            mode in ("blockmax", "exhaustive", "and")
            and not explain
            and include is None
            and include_ids is None
            and exclude is None
            and after is None
            and k <= LOCAL_MAX_K
            and sum(stats[t][0] for t in terms) <= self.local_max_df
        ):
            return self._local_search(terms, stats, k, mode, join_docs, min_should_match)

        if mode == "tfidf":
            max_df = self._max_df() if tfidf_idf == "max" else None
            idf_by_term = {
                t: tfidf_idf_py(tfidf_idf, self.n_docs, stats[t][0], max_df)
                for t in terms
            }
        else:
            idf_by_term = {t: idf_py(self.n_docs, stats[t][0]) for t in terms}
        buckets = sorted({stats[t][2] for t in terms})

        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )

        if (
            mode == "blockmax"
            and len(terms) >= 1
            and exclude_df_sum <= self.not_seed_max_df
            and (include is None or include_ids is not None)
            and after is None
            and min_should_match <= 1
        ):
            if exclude is not None:
                # the θ-seed collect and the final query both anti-join
                # the exclusion — materialize its posting decode once
                exclude = exclude.localCheckpoint()
            theta = self._seed_theta(
                terms, stats, idf_by_term, k,
                exclude=exclude,
                exclude_bcast=exclude_df_sum <= self.not_broadcast_max_df,
                cand=include_ids,
            )
            if theta > 0.0:
                gmax = {t: self._gmax(t, stats, idf_by_term) for t in terms}
                s_tot = sum(gmax.values())
                gmax_map = _lit_map(gmax)
                if self.merged:
                    # Stored block_max_score is exact only under the
                    # stats of the build that wrote the block; after a
                    # merge shifts N/avgdl it is stale.  BM25 is
                    # monotone increasing in tf and decreasing in dl,
                    # so score(max_tf, min_dl) under CURRENT stats is a
                    # valid per-block upper bound — computed JVM-side,
                    # still a native filter on block metadata.
                    idf_map = _lit_map(idf_by_term)
                    bound = score_col(
                        F.col("max_tf").cast("double"),
                        F.col("min_dl").cast("double"),
                        idf_map[F.col("term")],
                        self.avgdl,
                    )
                else:
                    bound = F.col("block_max_score")
                # survive iff bound + (s_tot - gmax(term)) >= theta
                blocks = blocks.filter(
                    bound >= F.lit(theta) - F.lit(s_tot) + gmax_map[F.col("term")]
                )

        cand_ids = None
        if mode == "and":
            # conjunctive queries are bounded by the rarest term's df:
            # when df skew clears the cost gates, collect its doc ids
            # and decode only candidate rows — 'the AND zebra' then
            # Arrow-decodes O(df(zebra)) postings, not O(df(the))
            cand_ids = self._conjunctive_candidates(terms, stats)
            if cand_ids is not None and not len(cand_ids):
                return self._empty_scored(join_docs, explain)
        if include_ids is not None:
            # filter context as a decode-side candidate mask (both
            # arrays are sorted unique — np.isin/assume_unique safe)
            cand_ids = (
                include_ids
                if cand_ids is None
                else np.intersect1d(cand_ids, include_ids, assume_unique=True)
            )
            if not len(cand_ids):
                return self._empty_scored(join_docs, explain)
        contribs = self._decode_contribs(
            blocks,
            idf_by_term,
            formula="tfidf" if mode == "tfidf" else "bm25",
            cand=cand_ids,
            emit_term=explain,
        )
        # each (doc, term) decodes to exactly one row (tf is aggregated
        # per (doc, term) at build time, salting splits a term's
        # postings by doc hash, and a doc sits in one block per term) —
        # so count-per-doc == matched terms and the explain map needs
        # no per-(doc, term) pre-aggregation
        aggs = [F.sum("contrib").alias("score")]
        if explain:
            aggs.append(
                F.map_from_entries(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("term"), F.col("contrib")))
                    )
                ).alias("_ts")
            )
        if mode == "and":
            scored = (
                contribs.groupBy("doc_id")
                .agg(*aggs, F.count(F.lit(1)).alias("_nt"))
                .filter(F.col("_nt") == len(terms))
                .drop("_nt")
            )
        elif min_should_match > 1 and mode in ("blockmax", "exhaustive"):
            if min_should_match > len(terms):
                return self._empty_scored(join_docs, explain)
            scored = (
                contribs.groupBy("doc_id")
                .agg(*aggs, F.count(F.lit(1)).alias("_nt"))
                .filter(F.col("_nt") >= min_should_match)
                .drop("_nt")
            )
        else:
            scored = contribs.groupBy("doc_id").agg(*aggs)
            if mode == "tfidf":
                # B5: positive-score filter (tfidf.py:531-535)
                scored = scored.filter(F.col("score") > 0)
        # anti-join after the per-doc aggregation — k× fewer rows
        # than filtering raw contributions
        scored = self._drop_tombstones(scored)
        if include is not None and include_ids is None:
            # broad filter: restriction as a semi-join (AQE strategy)
            scored = scored.join(include, "doc_id", "left_semi")
        if exclude is not None:
            rhs = (
                F.broadcast(exclude)
                if exclude_df_sum <= self.not_broadcast_max_df
                else exclude  # AQE picks the strategy for big NOT sets
            )
            scored = scored.join(rhs, "doc_id", "left_anti")
        if after is not None:
            a_s, a_d = float(after[0]), int(after[1])
            scored = scored.filter(
                (F.col("score") < a_s)
                | ((F.col("score") == a_s) & (F.col("doc_id") > a_d))
            )
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if explain:
            # zero-fill unmatched query terms (tfidf.py:498-501 scores
            # every query term, absent ones contribute 0.0)
            entries = F.array(
                *[
                    F.struct(
                        F.lit(t).alias("key"),
                        F.coalesce(
                            F.element_at("_ts", F.lit(t)), F.lit(0.0)
                        ).alias("value"),
                    )
                    for t in terms
                ]
            )
            return topk.select(
                "doc_id", "score", F.map_from_entries(entries).alias("term_scores")
            )
        if not join_docs:
            return topk
        return self._join_docs(topk)

    def _local_search(
        self,
        terms: List[str],
        stats: Dict[str, Tuple[int, Optional[float], int, int, int]],
        k: int,
        mode: str,
        join_docs: bool,
        min_should_match: int,
    ) -> DataFrame:
        """search() on the driver (module docstring): exhaustive BM25
        over the query terms' postings, same decode and scoring as the
        Spark plan, top-k by (score desc, doc_id asc)."""
        a = self._arrow
        idf_by_term = {t: idf_py(self.n_docs, stats[t][0]) for t in terms}
        blocks = a.postings.to_table(
            columns=list(_ArrowTables.POSTING_COLS),
            filter=pc.field("term_bucket").isin(sorted({stats[t][2] for t in terms}))
            & pc.field("term").isin(terms),
        ).sort_by([("term", "ascending"), ("first_doc_id", "ascending")])
        # one input batch -> at most one decoded frame
        decoded = next(
            _decode_and_score(idf_by_term, self.avgdl)(iter([blocks.to_pandas()])),
            None,
        )
        if decoded is None:
            return self._empty_scored(join_docs)
        ids, contrib = decoded["doc_id"].to_numpy(), decoded["contrib"].to_numpy()
        # per-doc sum in a fixed order: blocks are sorted by term, and a
        # stable sort by doc keeps that order within each doc
        order = np.argsort(ids, kind="stable")
        ids, contrib = ids[order], contrib[order]
        starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
        doc_ids = ids[starts]
        scores = np.add.reduceat(contrib, starts)
        # each (doc, term) decodes to one row, so rows per doc = terms
        # matched (see search())
        matched = np.diff(np.r_[starts, len(ids)])
        need = len(terms) if mode == "and" else max(min_should_match, 1)
        keep = (matched >= need) & ~np.isin(doc_ids, a.tomb_ids)
        doc_ids, scores = doc_ids[keep], scores[keep]
        if len(scores) > k:
            kth = np.partition(scores, len(scores) - k)[len(scores) - k]
            tail = scores >= kth  # every doc that can rank, ties kept
            doc_ids, scores = doc_ids[tail], scores[tail]
        top = np.lexsort((doc_ids, -scores))[:k]
        cols = {"doc_id": doc_ids[top], "score": scores[top]}
        if not join_docs:
            return _local_relation(self.spark, _SCORED_SCHEMA, cols)
        hits = a.docs.to_table(filter=pc.field("doc_id").isin(cols["doc_id"]))
        pos = pc.index_in(
            pa.array(cols["doc_id"]), value_set=hits.column("doc_id").combine_chunks()
        )
        found = pos.is_valid()
        hits = hits.take(pos.filter(found))
        found = found.to_numpy(zero_copy_only=False)
        cols = {
            "doc_id": cols["doc_id"][found],
            "score": cols["score"][found],
            "url": hits.column("url"),
            "title": hits.column("title"),
        }
        return _local_relation(self.spark, _HIT_SCHEMA, cols)

    def _join_docs(
        self, topk: DataFrame, extra_cols: Tuple[str, ...] = ()
    ) -> DataFrame:
        """Join the k winners back to (url, title[, extra_cols]).

        Above lookup_min_docs the k ids are collected (tiny) and pushed
        as an isin() predicate into the docs scan: the build lays docs
        out range-partitioned + sorted by doc_id, so parquet row-group
        min/max stats skip all but O(k) row groups — without this, a
        10-row join-back would STREAM the entire docs table through a
        broadcast join (harmless at 12k docs, a full scan at 10^12).
        Below the gate the lazy single-job broadcast join wins.
        """
        winners, docs = topk, self.docs
        if self.n_docs >= self.lookup_min_docs:
            rows = topk.collect()
            if not rows:
                empty = self._empty()
                for c in extra_cols:
                    empty = empty.withColumn(
                        c, F.lit(None).cast(dict(self.docs.dtypes)[c])
                    )
                return empty
            ids = [int(r["doc_id"]) for r in rows]
            winners = _local_relation(
                self.spark,
                _SCORED_SCHEMA,
                {"doc_id": ids, "score": [float(r["score"]) for r in rows]},
            )
            docs = docs.filter(F.col("doc_id").isin(ids))
        cols = ["doc_id", "url", "title", *extra_cols]
        return (
            F.broadcast(winners)
            .join(docs.select(*cols), "doc_id")
            .select("doc_id", "score", *cols[1:])
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def stats(self) -> Dict[str, object]:
        """Engine-level /stats (backend/search_api/main.py:606-643
        parity): the reference reports indexed_pages (ES doc count) and
        index_size_mb (ES store bytes) — here the live doc count (net
        of tombstones), the index's on-disk footprint, vocabulary and
        posting-block counts, and merge state.  The endpoint's query-log
        aggregates (queries_24h, avg latency, cache-hit rate) are D9 —
        query/serving.py over the query-log table."""
        from search_engine_spark.index.merge import _fs_exists, _hadoop

        n_tomb = 0 if self.tombstones is None else self.tombstones.count()
        fs, Path = _hadoop(self.spark, self.paths.root)
        size_bytes = 0
        for p in (
            self.paths.docs,
            self.paths.postings,
            self.paths.term_stats,
            self.paths.pos_postings,
            self.paths.field_stats,
        ):
            if _fs_exists(self.spark, p):
                size_bytes += int(fs.getContentSummary(Path(p)).getLength())
        return {
            # corpus n_docs counts every segment's docs; tombstoned old
            # versions are live-subtracted (index/merge.py:live_docs)
            "indexed_docs": self.n_docs - n_tomb,
            "tombstoned_docs": n_tomb,
            "avgdl": self.avgdl,
            "vocab_terms": self.term_stats.count(),
            "posting_blocks": self.postings.count(),
            "index_size_mb": round(size_bytes / (1024 * 1024), 3),
            "merged": self.merged,
        }

    def _decode_contribs(
        self,
        blocks: DataFrame,
        idf_by_term: Dict[str, float],
        formula: str = "bm25",
        cand: Optional[np.ndarray] = None,
        emit_term: bool = False,
    ) -> DataFrame:
        """Arrow decode of posting blocks to (doc_id, contrib).  Only
        the decode inputs cross the Arrow boundary (column prune ahead
        of MapInPandas — block metadata stays JVM-side).  emit_term
        carries the term column through for explain-mode maps."""
        return blocks.select(
            "term", "count", "doc_ids", "tfs", "doclens"
        ).mapInPandas(
            _decode_and_score(
                idf_by_term, self.avgdl, formula=formula, cand=cand,
                emit_term=emit_term,
            ),
            schema=_TERM_CONTRIB_SCHEMA if emit_term else _CONTRIB_SCHEMA,
        )

    def _excluded_docs(
        self, neg_terms: List[str]
    ) -> Tuple[Optional[DataFrame], int]:
        """must_not doc set: decode the negated terms' postings to bare
        doc ids (score postings — ids only, tfs/doclens stay packed,
        same decoder as the phrase candidate pre-pass).  Returns
        (doc_id DataFrame or None, Σ df — the exact row count, used by
        the broadcast / θ-seed cost gates).  Not de-duplicated: left
        anti-join semantics are duplicate-insensitive and a distinct
        would add a shuffle just to shrink a set the gates already
        bound."""
        stats = self._query_stats(neg_terms)
        terms = sorted(t for t in neg_terms if t in stats)
        if not terms:
            return None, 0
        df_sum = sum(stats[t][0] for t in terms)
        buckets = sorted({stats[t][2] for t in terms})
        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )
        excl = blocks.select("count", "doc_ids").mapInPandas(
            _decode_doc_ids(), schema="doc_id long"
        )
        return excl, df_sum

    def count_matches(self, query, mode: str = "or", predicate=None) -> int:
        """Exact match count — the ES `hits.total` the reference's
        /search response reports (main.py:218).  The top-k engine
        prunes, so `search()` can't report this; here only doc ids
        decode (tfs/doclens stay packed — the same ids-only decoder as
        the must_not path), ONE distinct-count aggregate, tombstones
        excluded.

        mode "or": docs containing ANY indexed query term.
        mode "and": docs containing EVERY indexed query term (a (doc,
        term) pair decodes to exactly one row, so match-count per doc
        == matched terms).
        predicate: optional docs-table filter (SQL string or Column) —
        the hits.total of a filter-context search (search_filtered).
        """
        matched = self._matched_ids(query, mode, predicate)
        return 0 if matched is None else int(matched.count())

    def _matched_ids(self, query, mode: str = "or", predicate=None):
        """Matched doc ids (tombstone-free, optionally filter-context) —
        the ids-only pre-pass shared by count_matches and the whole
        aggregations family (facet_counts/stats/histogram/range,
        significant_terms): only doc_ids decode, tfs/doclens stay
        packed.  Returns None when no query term is indexed.

        `query=None` is match_all — the ES aggs-over-the-whole-corpus
        foreground: every live doc matches, and the postings are never
        touched (the docs table IS the id set).

        `query={"phrase": text[, "slop": n]}` is a match_phrase
        foreground (ES aggs under a phrase query): matched ids come
        from the positional conjunctive cut (_phrase_scored minus the
        scores).

        `query=<DataFrame of doc_id>` is a PRE-COMPUTED foreground
        (sampler/diversified_sampler hand their sampled id set to the
        whole facet family this way); the producer is responsible for
        tombstones."""
        if isinstance(query, DataFrame):
            matched = query.select("doc_id")
            if predicate is not None:
                allowed = self.docs.filter(
                    F.expr(predicate)
                    if isinstance(predicate, str)
                    else predicate
                ).select("doc_id")
                matched = matched.join(allowed, "doc_id", "left_semi")
            return matched
        if query is None or (isinstance(query, dict) and "phrase" in query):
            if query is None:
                matched = self._drop_tombstones(self.docs.select("doc_id"))
            else:
                scored = self._phrase_scored(
                    query["phrase"], slop=int(query.get("slop", 0))
                )
                if scored is None:
                    return None
                matched = scored.select("doc_id")  # tombstones dropped
            if predicate is not None:
                allowed = self.docs.filter(
                    F.expr(predicate)
                    if isinstance(predicate, str)
                    else predicate
                ).select("doc_id")
                matched = matched.join(allowed, "doc_id", "left_semi")
            return matched
        terms = sorted(
            set(query) if isinstance(query, list) else set(tokenize_py(query))
        )
        stats = self._query_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return None
        buckets = sorted({stats[t][2] for t in terms})
        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )
        ids = blocks.select("count", "doc_ids").mapInPandas(
            _decode_doc_ids(), schema="doc_id long"
        )
        if mode == "and":
            matched = (
                ids.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("_nt"))
                .filter(F.col("_nt") == len(terms))
                .select("doc_id")
            )
        else:
            matched = ids.distinct()
        matched = self._drop_tombstones(matched)
        if predicate is not None:
            allowed = self.docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            ).select("doc_id")
            matched = matched.join(allowed, "doc_id", "left_semi")
        return matched

    def sampler_ids(
        self,
        query,
        shard_size: int = 100,
        mode: str = "or",
        predicate=None,
        field: Optional[str] = None,
        max_docs_per_value: Optional[int] = None,
    ) -> Optional[DataFrame]:
        """Sampler foreground — ES `sampler` / `diversified_sampler`
        aggs: restrict sub-aggregations to the best-scoring
        `shard_size` matches so expensive analysis (significant_terms
        especially) reads a high-relevance slice instead of the long
        tail.  ES cuts per shard; a batch engine has no shards, so the
        cut is the GLOBAL (score desc, doc_id asc) total order —
        deterministic and reproducible where ES's union-of-shard-tops
        depends on routing.  The plan is the exhaustive scoring pass
        (a sample by score cannot be WAND-pruned blind: the k-th score
        isn't known until the cut) + TakeOrderedAndProject at
        shard_size, ids only.

        diversified_sampler: `max_docs_per_value` keeps at most that
        many docs per `field` value (best first — ES's de-bias rule
        against one dominant source), applied BEFORE the shard_size
        cut via one window over the score order.  match_all
        foregrounds sample at constant score, doc_id asc — ES under
        match_all is similarly arbitrary-but-stable.

        Returns None when no query term is indexed; the id set feeds
        _matched_ids(query=<DataFrame>) so every facet runs unchanged
        over the sample."""
        if shard_size < 1:
            raise ValueError("shard_size must be >= 1")
        if query is None:
            scored = self._drop_tombstones(
                self.docs.select("doc_id")
            ).withColumn("score", F.lit(1.0))
        elif isinstance(query, dict) and "phrase" in query:
            scored = self._phrase_scored(
                query["phrase"], slop=int(query.get("slop", 0))
            )
        else:
            scored = self._or_scored(query, mode)
        if scored is None:
            return None
        if predicate is not None:
            allowed = self.docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            ).select("doc_id")
            scored = scored.join(allowed, "doc_id", "left_semi")
        if max_docs_per_value is not None:
            if not field:
                raise ValueError("diversified sampling needs a field")
            if max_docs_per_value < 1:
                raise ValueError("max_docs_per_value must be >= 1")
            vals = self.docs.select("doc_id", F.expr(field).alias("_v"))
            w = Window.partitionBy("_v").orderBy(
                F.desc(F.round("score", 9)), F.asc("doc_id")
            )
            scored = (
                scored.join(vals, "doc_id", "left")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= int(max_docs_per_value))
            )
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(shard_size))
            .select("doc_id")
        )

    def search_filtered(
        self,
        query,
        predicate,
        k: int = 10,
        mode: str = "blockmax",
        join_docs: bool = True,
        explain: bool = False,
    ) -> DataFrame:
        """Filter-context search — the ES bool query's `filter` clause
        (query + filter, filter contributes 0 to the score): top-k BM25
        restricted to docs satisfying `predicate` (a SQL string or
        Column over the docs table — domain, warc_ts, url, doclen...),
        scored with FULL-corpus stats exactly like ES, where a filter
        narrows the result set but never reweights idf/avgdl.

        Two physical strategies by filter selectivity (one column-
        pruned docs scan decides):
          * ≤ filter_collect_max matches: ids collect driver-side and
            ride into the Arrow decode as a candidate mask — decode +
            shuffle are bounded by the FILTER's match count, not the
            query terms' df, and θ-seeding stays on (seeds masked the
            same way, so the bound is valid for the filtered set);
          * broader: exhaustive scoring + post-aggregation semi-join
            (θ-seeding off — an unfiltered θ could over-prune).  A
            broad filter prunes little, so WAND's value is small there
            anyway.
        Both paths are exact; blockmax == exhaustive under either.
        """
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        filtered = self.docs.filter(pred).select("doc_id")
        n_match = filtered.count()
        if n_match == 0:
            return self._empty_scored(join_docs, explain)
        if n_match <= self.filter_collect_max:
            ids = np.unique(
                filtered.toPandas()["doc_id"].to_numpy(np.int64)
            )
            return self.search(
                query, k=k, mode=mode, join_docs=join_docs,
                explain=explain, include_ids=ids,
            )
        return self.search(
            query, k=k, mode=mode, join_docs=join_docs,
            explain=explain, include=filtered,
        )

    def search_after(
        self,
        query,
        after: Tuple[float, int],
        k: int = 10,
        mode: str = "blockmax",
        join_docs: bool = True,
    ) -> DataFrame:
        """Deep pagination — the ES `search_after` cursor: the next k
        results strictly after `(score, doc_id)` of the previous page's
        last row in the (score desc, doc_id asc) total order.  Unlike
        from/size (serving.paginate, G3), page N never pushes O(offset)
        rows through the top-k heap: every page is one scan + the same
        TakeOrderedAndProject as page 1 — at web scale offset-1000
        pagination via from/size materializes 1000+k candidates per
        partition, a cursor keeps it at k.

        The cursor's score must be passed back EXACTLY as returned
        (full double precision): the tie branch compares score equality
        to split ties by doc_id, the same contract as ES, which is why
        ES requires the sort values verbatim in search_after.  Cursor
        queries run without θ-pruning (a θ seeded from global-best
        contributions exceeds every post-cursor score), so they are
        exhaustive-exact in any mode."""
        return self.search(
            query, k=k, mode=mode, join_docs=join_docs, after=after
        )

    def scroll(
        self,
        query,
        page_size: int = 100,
        join_docs: bool = True,
        max_pages: Optional[int] = None,
    ) -> Iterator[DataFrame]:
        """Scroll — the ES `_search?scroll` deep-export API: iterate
        EVERY hit of a query in (score desc, doc_id asc) order, one
        page at a time, until exhausted.  Where ES freezes a
        point-in-time snapshot per scroll_id, a batch engine reads an
        immutable index, so consistency is free; the cursor is the
        search_after tuple of each page's last row (the pattern ES
        itself now recommends over scroll ids).

        Generator of DataFrames of <= page_size rows; stops on the
        first short page.  Each page is one scan + one
        TakeOrderedAndProject — page N never re-ranks the N-1 pages
        before it, so a full export is O(total hits) across pages, not
        O(hits²) like from/size paging would be.  The per-page cursor
        collect is 1 row (driver-cheap).  `max_pages` bounds runaway
        exports."""
        if page_size < 1:
            raise ValueError("page_size must be >= 1")
        after = None
        pages = 0
        while max_pages is None or pages < max_pages:
            page = (
                self.search(query, k=page_size, join_docs=join_docs)
                if after is None
                else self.search_after(
                    query, after, k=page_size, join_docs=join_docs
                )
            )
            # one tiny action decides continuation and the next cursor
            tail = page.select("doc_id", "score").orderBy(
                F.desc("score"), F.asc("doc_id")
            ).collect()
            if not tail:
                return
            yield page
            pages += 1
            if len(tail) < page_size:
                return
            last = tail[-1]
            after = (last["score"], last["doc_id"])

    def facet_counts(
        self,
        query,
        field,
        size: int = 10,
        mode: str = "or",
        predicate=None,
        order_by: Optional[Tuple[str, str]] = None,
        min_doc_count: int = 1,
        missing: Optional[str] = None,
    ) -> DataFrame:
        """Terms aggregation over ALL matching docs — the ES `terms`
        agg shape (top `size` buckets of `field`, ordered doc_count
        desc then value asc).  `field` is a column name or SQL
        expression over the docs table; `predicate` optionally adds
        filter context.  `order_by` is the ES terms `order` option:
        ("doc_count"|"value", "asc"|"desc") — ES's `_count`/`_key`;
        the other column is the tie-break in its default direction.
        `min_doc_count` drops buckets below the threshold (ES default
        1); `missing` buckets docs whose field is null under the given
        placeholder instead of the null bucket (the ES terms `missing`
        option; without it, like ES, null-field docs produce no
        bucket).  Like count_matches, only doc ids decode (tfs/doclens
        stay packed); the matched-ids ⋈ docs join carries just
        (doc_id, value) into a tiny groupBy — partial aggregation keeps
        the shuffle at O(distinct values × partitions)."""
        empty = self.spark.createDataFrame([], "value string, doc_count long")
        matched = self._matched_ids(query, mode)
        if matched is None:
            return empty
        docs = self.docs
        if predicate is not None:
            docs = docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        val = F.expr(field).cast("string")
        if missing is not None:
            val = F.coalesce(val, F.lit(str(missing)))
        vals = docs.select("doc_id", val.alias("value")).filter(
            F.col("value").isNotNull()
        )
        out = (
            matched.join(vals, "doc_id")
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("doc_count"))
        )
        if int(min_doc_count) > 1:
            out = out.filter(F.col("doc_count") >= int(min_doc_count))
        return out.orderBy(*_bucket_order(order_by)).limit(size)

    def facet_terms_metrics(
        self,
        query,
        field,
        metrics: Dict[str, Tuple[str, str]],  # name -> (op, field expr)
        size: int = 10,
        mode: str = "or",
        predicate=None,
        order_by: Optional[Tuple[str, str]] = None,
    ) -> DataFrame:
        """Terms bucket + metric sub-aggregations — the ES shape
        `{terms: {field}, aggs: {name: {avg: {field: f}}, ...}}` (e.g.
        avg doclen per domain): top `size` buckets of `field` ordered
        doc_count desc then value asc (the facet_counts bucket order),
        with one extra column per requested metric.  `metrics` maps the
        output column name to (op, numeric docs-table expression); op ∈
        avg/sum/min/max — nulls ignored per metric, like ES.

        Scale shape: identical to facet_counts — ids-only decode, the
        matched-ids ⋈ docs join carries (doc_id, value, metric cols),
        and ONE groupBy computes doc_count AND every metric with
        partial aggregation (no per-bucket second pass; ES likewise
        folds metric sub-aggs into the same bucket collection pass),
        then the TakeOrderedAndProject bucket cut.

        `order_by` is ES's terms `order` incl. ordering buckets BY a
        metric sub-agg (("avg_dl", "desc") — the ES {"order":
        {"avg_dl": "desc"}} shape); same pass, only the sort keys of
        the bucket cut change."""
        _OPS = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}
        bad = [op for op, _ in metrics.values() if op not in _OPS]
        if bad or not metrics:
            raise ValueError(
                f"metric ops must be one of {sorted(_OPS)} and non-empty,"
                f" got {bad or metrics}"
            )
        reserved = {"value", "doc_count"} & set(metrics)
        if reserved:
            raise ValueError(f"metric names collide with buckets: {reserved}")
        schema = "value string, doc_count long, " + ", ".join(
            f"`{n}` double" for n in metrics
        )
        matched = self._matched_ids(query, mode)
        if matched is None:
            return self.spark.createDataFrame([], schema)
        docs = self.docs
        if predicate is not None:
            docs = docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        vals = docs.select(
            "doc_id",
            F.expr(field).cast("string").alias("value"),
            *[
                F.expr(f).cast("double").alias(f"_m_{n}")
                for n, (_, f) in metrics.items()
            ],
        )
        return (
            matched.join(vals, "doc_id")
            .groupBy("value")
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                *[
                    _OPS[op](f"_m_{n}").alias(n)
                    for n, (op, _) in metrics.items()
                ],
            )
            .orderBy(*_bucket_order(order_by, metric_cols=set(metrics)))
            .limit(size)
        )

    def facet_terms_buckets(
        self,
        query,
        field,
        inner: Tuple,
        size: int = 10,
        inner_size: int = 10,
        mode: str = "or",
        predicate=None,
        metrics: Optional[Dict[str, Tuple[str, str]]] = None,
    ) -> DataFrame:
        """Nested bucket aggregation — the ES bucket-in-bucket shape
        `{terms: {field}, aggs: {name: {terms|histogram|date_histogram:
        {...}[, aggs: {metrics...}]}}}` (e.g. per-domain × per-day doc
        counts, the standard ES drill-down/time-series facet).  Returns
        the nested response flattened to rows: one row per (outer
        bucket, inner bucket) with the outer bucket's doc_count
        repeated.

        `field` is the outer terms field (docs-table column/expression);
        `inner` selects the inner bucketing: `("terms", field)` /
        `("histogram", field, interval)` / `("date_histogram", field,
        calendar_interval)` — each with the same key semantics as the
        corresponding top-level facet.  `metrics` adds avg/sum/min/max
        metric leaves at the INNER level (the facet_terms_metrics
        contract), folded into the same pass.

        ES semantics preserved: outer buckets are the top `size` by
        doc_count desc then value asc computed over ALL matching docs
        (not post-sampled); a doc with a null inner key still counts in
        its outer bucket's doc_count but produces no inner bucket (a
        sub-agg just sees fewer docs in ES); inner terms buckets are
        cut to `inner_size` per outer bucket (count desc, key asc),
        (date_)histogram inner buckets are key-asc and uncut.

        Scale shape: the doc-sized work is ONE groupBy on the composite
        (value, key) — partial aggregation keeps the shuffle at
        O(bucket cells × partitions); outer doc_counts re-aggregate the
        CELLS (null-key cells included, so the sum is exact), never the
        docs, and the surviving-outer-bucket cut joins back broadcast.
        The per-outer-bucket inner cut is a window over bucket-sized
        data.  No grouping-sets Expand (which would double the doc-side
        input), no per-bucket second pass."""
        _OPS = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}
        metrics = metrics or {}
        bad = [op for op, _ in metrics.values() if op not in _OPS]
        if bad:
            raise ValueError(f"metric ops must be one of {sorted(_OPS)}: {bad}")
        if {"value", "doc_count", "key", "key_count"} & set(metrics):
            raise ValueError("metric names collide with bucket columns")
        kind = inner[0]
        if kind == "terms":
            key = F.expr(inner[1]).cast("string").alias("key")
            key_ddl = "key string"
        elif kind == "histogram":
            interval = float(inner[2])
            if interval <= 0:
                raise ValueError("interval must be > 0")
            key = (
                F.floor(F.expr(inner[1]).cast("double") / F.lit(interval))
                * F.lit(interval)
            ).alias("key")
            key_ddl = "key double"
        elif kind == "date_histogram":
            allowed = {"minute", "hour", "day", "week", "month", "quarter",
                       "year"}
            if inner[2] not in allowed:
                raise ValueError(
                    f"calendar_interval must be one of {sorted(allowed)}"
                )
            key = F.date_trunc(inner[2], F.expr(inner[1])).alias("key")
            key_ddl = "key timestamp"
        else:
            raise ValueError(
                f"inner kind must be terms/histogram/date_histogram: {kind!r}"
            )
        schema = (
            f"value string, doc_count long, {key_ddl}, key_count long"
            + "".join(f", `{n}` double" for n in metrics)
        )
        matched = self._matched_ids(query, mode)
        if matched is None:
            return self.spark.createDataFrame([], schema)
        docs = self.docs
        if predicate is not None:
            docs = docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        vals = docs.select(
            "doc_id",
            F.expr(field).cast("string").alias("value"),
            key,
            *[
                F.expr(f).cast("double").alias(f"_m_{n}")
                for n, (_, f) in metrics.items()
            ],
        )
        cells = (
            matched.join(vals, "doc_id")
            .groupBy("value", "key")
            .agg(
                F.count(F.lit(1)).alias("key_count"),
                *[
                    _OPS[op](f"_m_{n}").alias(n)
                    for n, (op, _) in metrics.items()
                ],
            )
        )
        outer = (
            cells.groupBy("value")
            .agg(F.sum("key_count").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("value"))
            .limit(size)
        )
        out = cells.filter(F.col("key").isNotNull()).join(
            F.broadcast(outer), "value"
        )
        if kind == "terms":
            w = Window.partitionBy("value").orderBy(
                F.desc("key_count"), F.asc("key")
            )
            out = (
                out.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= inner_size)
                .drop("_rn")
            )
            inner_order = [F.desc("key_count"), F.asc("key")]
        else:
            inner_order = [F.asc("key")]
        return out.select(
            "value", "doc_count", "key", "key_count", *metrics
        ).orderBy(F.desc("doc_count"), F.asc("value"), *inner_order)

    def facet_multi_terms(
        self,
        query,
        fields: List[str],
        size: int = 10,
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Multi-terms aggregation — the ES `multi_terms` agg: buckets
        keyed by a COMPOUND key (one component per field), top `size`
        by doc_count desc then key components asc.  Returned flattened:
        one column per component (`value_0..value_{n-1}`) plus
        doc_count.  Same ids-only pre-pass and single-groupBy shape as
        facet_counts — the compound key adds columns to the shuffle
        row, not passes."""
        if not fields:
            raise ValueError("fields must be non-empty")
        cols = [f"value_{i}" for i in range(len(fields))]
        schema = ", ".join(f"{c} string" for c in cols) + ", doc_count long"
        matched = self._matched_ids(query, mode)
        if matched is None:
            return self.spark.createDataFrame([], schema)
        docs = self.docs
        if predicate is not None:
            docs = docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        vals = docs.select(
            "doc_id",
            *[
                F.expr(f).cast("string").alias(c)
                for f, c in zip(fields, cols)
            ],
        )
        return (
            matched.join(vals, "doc_id")
            .groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), *[F.asc(c) for c in cols])
            .limit(size)
        )

    def facet_rare_terms(
        self,
        query,
        field,
        max_doc_count: int = 1,
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Rare-terms aggregation — the ES `rare_terms` agg: the long
        tail the `terms` agg's top-N cut structurally misses — buckets
        of `field` with doc_count ≤ max_doc_count, ordered doc_count
        ASC then value asc.  ES approximates membership with a
        CuckooFilter to bound memory; here the groupBy is exact (the
        distributed aggregation has no per-shard memory wall — partial
        aggregation bounds the shuffle the same way it does for
        facet_counts), which ES documents as the ideal the filter
        approximates."""
        if max_doc_count < 1:
            raise ValueError("max_doc_count must be >= 1")
        empty = self.spark.createDataFrame([], "value string, doc_count long")
        matched = self._matched_ids(query, mode)
        if matched is None:
            return empty
        docs = self.docs
        if predicate is not None:
            docs = docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        vals = docs.select(
            "doc_id", F.expr(field).cast("string").alias("value")
        )
        return (
            matched.join(vals, "doc_id")
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .filter(F.col("doc_count") <= int(max_doc_count))
            .orderBy(F.asc("doc_count"), F.asc("value"))
        )

    def facet_filters(
        self,
        query,
        buckets: Dict[str, object],
        mode: str = "or",
        predicate=None,
        other_bucket: bool = False,
        other_bucket_key: str = "_other_",
    ) -> DataFrame:
        """Filters aggregation — the ES `filters` agg: one named bucket
        per predicate, each counting the matching docs that also
        satisfy it (buckets may overlap; a doc can count in several).
        `buckets` maps bucket name -> docs-table predicate (SQL string
        or Column).  Rows come back in request order with doc_count 0
        for empty buckets (ES keyed-filters semantics).
        `other_bucket=True` appends ES's `other_bucket`: docs matching
        NONE of the named predicates (named `other_bucket_key`, ES
        default `_other_`) — one more sum(when(NOT any)) column in the
        same pass, no extra scan.

        Physical plan: ONE conditional-aggregation pass — the
        matched-ids ⋈ docs join feeds a single agg of
        `sum(when(pred, 1))` per bucket (partial aggregation, one row
        per partition), then the 1-row result unpivots via an inline
        array-of-structs explode.  No per-bucket scan, no shuffle
        beyond the single-row aggregate."""
        if not buckets:
            raise ValueError("buckets must be non-empty")
        if other_bucket and other_bucket_key in buckets:
            raise ValueError("other_bucket_key collides with a named bucket")
        names = list(buckets)
        conds = [
            F.expr(p) if isinstance(p, str) else p for p in buckets.values()
        ]
        if other_bucket:
            names.append(other_bucket_key)
            # null predicates (e.g. range over a null field) don't
            # match their bucket, so the doc belongs to other_bucket —
            # coalesce to false before negating (SQL three-valued NOT
            # would otherwise drop it from both)
            none_matched = F.lit(True)
            for c in conds:
                none_matched = none_matched & ~F.coalesce(c, F.lit(False))
            conds = conds + [none_matched]
        matched = self._matched_ids(query, mode)
        if matched is None:
            return self.spark.createDataFrame(
                [(n, 0) for n in names], "key string, doc_count long"
            )
        docs = self.docs
        if predicate is not None:
            docs = docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        row = matched.join(docs, "doc_id").agg(
            *[
                F.coalesce(
                    F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
                ).cast("long").alias(f"_b{i}")
                for i, c in enumerate(conds)
            ]
        )
        pairs = F.array(
            *[
                F.struct(
                    F.lit(n).alias("key"),
                    F.col(f"_b{i}").alias("doc_count"),
                )
                for i, n in enumerate(names)
            ]
        )
        return row.select(F.explode(pairs).alias("kv")).select(
            "kv.key", "kv.doc_count"
        )

    def facet_adjacency_matrix(
        self,
        query,
        buckets: Dict[str, object],
        separator: str = "&",
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Adjacency-matrix aggregation — the ES `adjacency_matrix`
        agg: doc counts for every named predicate AND every pairwise
        intersection (key "a&b", lexicographic component order, ES's
        separator convention).  Like ES, only non-empty intersection
        buckets return; the N singleton buckets always return (zero-
        filled), keys ordered singletons-then-pairs, each
        alphabetically.

        Same single conditional-aggregation pass as facet_filters —
        N + N·(N−1)/2 sum(when(...)) columns over ONE matched-ids ⋈
        docs join, unpivoted from the 1-row result.  ES warns the
        bucket count grows quadratically; here that is column count in
        one aggregate row, not extra passes."""
        if not buckets:
            raise ValueError("buckets must be non-empty")
        names = sorted(buckets)
        conds = {
            n: (F.expr(p) if isinstance(p, str) else p)
            for n, p in buckets.items()
        }
        keyed = [(n, conds[n]) for n in names]
        for i, a in enumerate(names):
            for b in names[i + 1:]:
                keyed.append((f"{a}{separator}{b}", conds[a] & conds[b]))
        matched = self._matched_ids(query, mode)
        if matched is None:
            return self.spark.createDataFrame(
                [(n, 0) for n in names], "key string, doc_count long"
            )
        docs = self.docs
        if predicate is not None:
            docs = docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        row = matched.join(docs, "doc_id").agg(
            *[
                F.coalesce(
                    F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
                ).cast("long").alias(f"_b{i}")
                for i, (_, c) in enumerate(keyed)
            ]
        )
        pairs = F.array(
            *[
                F.struct(
                    F.lit(n).alias("key"),
                    F.col(f"_b{i}").alias("doc_count"),
                    F.lit(i >= len(names)).alias("_pair"),
                )
                for i, (n, _) in enumerate(keyed)
            ]
        )
        return (
            row.select(F.explode(pairs).alias("kv"))
            .select("kv.key", "kv.doc_count", "kv._pair")
            .filter(~F.col("_pair") | (F.col("doc_count") > 0))
            .drop("_pair")
        )

    def facet_missing(
        self, query, field, mode: str = "or", predicate=None
    ) -> DataFrame:
        """Missing aggregation — the ES `missing` agg: how many
        matching docs lack a value for `field` (null).  Single-row
        (doc_count), one conditional-aggregation pass."""
        return self.facet_filters(
            query,
            {"missing": F.expr(field).isNull()},
            mode=mode,
            predicate=predicate,
        ).select("doc_count")

    def facet_filter(
        self,
        query,
        bucket_predicate,
        metrics: Optional[Dict[str, Tuple[str, str]]] = None,
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Single-filter aggregation — the ES `filter` agg (narrow the
        foreground, then aggregate): a single-row doc_count of the
        matching docs that satisfy `bucket_predicate`, plus optional
        avg/sum/min/max metric leaves (the facet_terms_metrics
        contract) computed over the SAME narrowed docs in the SAME
        single aggregate pass.  Metric values are null when the bucket
        is empty, like ES."""
        _OPS = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}
        metrics = metrics or {}
        bad = [op for op, _ in metrics.values() if op not in _OPS]
        if bad:
            raise ValueError(f"metric ops must be one of {sorted(_OPS)}: {bad}")
        if "doc_count" in metrics:
            raise ValueError("metric names collide with doc_count")
        schema = "doc_count long" + "".join(
            f", `{n}` double" for n in metrics
        )
        cond = (
            F.expr(bucket_predicate)
            if isinstance(bucket_predicate, str)
            else bucket_predicate
        )
        matched = self._matched_ids(query, mode)
        if matched is None:
            return self.spark.createDataFrame([(0,) + (None,) * len(metrics)],
                                              schema)
        docs = self.docs
        if predicate is not None:
            docs = docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        return (
            matched.join(docs, "doc_id")
            .filter(cond)
            .agg(
                F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("doc_count"),
                *[
                    _OPS[op](F.expr(f).cast("double")).alias(n)
                    for n, (op, f) in metrics.items()
                ],
            )
        )

    def facet_stats(
        self, query, field, mode: str = "or", predicate=None
    ) -> DataFrame:
        """Stats aggregation — the ES `stats` agg shape (count/min/max/
        avg/sum of a numeric field over ALL docs matching the query,
        optionally filter-context).  `field` is a column name or SQL
        expression over the docs table.  Same ids-only pre-pass as
        facet_counts; the matched-ids ⋈ docs join carries ONE numeric
        column into a single-row aggregate (Spark's partial aggregation
        keeps the final shuffle at one row per partition).  Like ES,
        docs where the field is null are ignored by min/max/avg/sum but
        the join itself only sees matching docs, so `count` is the
        non-null value count (ES stats.count semantics)."""
        empty = self.spark.createDataFrame(
            [], "count long, min double, max double, avg double, sum double"
        )
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return empty
        vals = self.docs.select(
            "doc_id", F.expr(field).cast("double").alias("_v")
        )
        return matched.join(vals, "doc_id").agg(
            F.count("_v").alias("count"),
            F.min("_v").alias("min"),
            F.max("_v").alias("max"),
            F.avg("_v").alias("avg"),
            F.sum("_v").alias("sum"),
        )

    def facet_matrix_stats(
        self,
        query,
        fields: List[str],
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Matrix-stats aggregation — the ES `matrix_stats` agg:
        pairwise covariance and correlation (plus per-side means and
        the diagonal's variance) over numeric docs-table fields for
        the matched docs.  Like ES, a doc missing ANY of the fields is
        excluded from the whole matrix, covariance is the unbiased
        (n-1) estimate, and the diagonal reports variance with
        correlation 1.  Returns one row per ordered-unique pair
        (field_a <= field_b in request order): (field_a, field_b,
        doc_count, mean_a, mean_b, covariance, correlation).

        Physical plan: the matched-ids ⋈ docs join carries only the
        requested columns; ALL pairs compute in ONE single-row partial
        aggregate (covar_samp/corr are native), unpivoted to pair rows
        by an inline explode over an aggregate-sized array — the same
        one-pass shape as facet_filters."""
        if not fields:
            raise ValueError("matrix_stats needs at least one field")
        empty = self.spark.createDataFrame(
            [],
            "field_a string, field_b string, doc_count long, "
            "mean_a double, mean_b double, covariance double, "
            "correlation double",
        )
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return empty
        cols = {f: f"_f{i}" for i, f in enumerate(fields)}
        vals = self.docs.select(
            "doc_id",
            *[F.expr(f).cast("double").alias(a) for f, a in cols.items()],
        )
        rows = matched.join(vals, "doc_id")
        nn = None
        for a in cols.values():
            c = F.col(a).isNotNull()
            nn = c if nn is None else nn & c
        rows = rows.filter(nn)
        aggs = [F.count(F.lit(1)).alias("_n")]
        for f, a in cols.items():
            aggs.append(F.avg(a).alias(f"_m_{a}"))
        pairs = []
        for i, fa in enumerate(fields):
            for fb in fields[i:]:
                ca, cb = cols[fa], cols[fb]
                aggs.append(F.covar_samp(ca, cb).alias(f"_cov_{ca}_{cb}"))
                pairs.append((fa, fb, ca, cb))
                if fa == fb:
                    continue
                aggs.append(F.corr(ca, cb).alias(f"_cor_{ca}_{cb}"))
        one = rows.agg(*aggs)
        structs = []
        for fa, fb, ca, cb in pairs:
            corr = (
                F.lit(1.0) if ca == cb else F.col(f"_cor_{ca}_{cb}")
            )
            structs.append(
                F.struct(
                    F.lit(fa).alias("field_a"),
                    F.lit(fb).alias("field_b"),
                    F.col("_n").cast("long").alias("doc_count"),
                    F.col(f"_m_{ca}").alias("mean_a"),
                    F.col(f"_m_{cb}").alias("mean_b"),
                    F.col(f"_cov_{ca}_{cb}").alias("covariance"),
                    corr.alias("correlation"),
                )
            )
        return one.select(
            F.inline(F.array(*structs))
        )

    def facet_top_metrics(
        self,
        query,
        metrics: List[str],
        sort: Tuple[str, str],
        size: int = 1,
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Top-metrics aggregation — the ES `top_metrics` agg: the
        values of `metrics` fields from the `size` docs ranking first
        by `sort` = (field, "asc"|"desc") among the matches ("what was
        the temperature when pressure peaked").  doc_id asc is the
        pinned tie-break.  One column-pruned docs join over the
        matched ids, then TakeOrderedAndProject — the lighter sibling
        of top_hits when only field values (not scored hits) are
        wanted."""
        field, direction = sort
        if direction not in ("asc", "desc"):
            raise ValueError(f"sort direction must be asc|desc: {direction!r}")
        if not metrics:
            raise ValueError("metrics must be non-empty")
        # metrics may equal the sort field — the join must not leave a
        # dangling comma in the DDL (it crashed the empty branch)
        parts = [f"`{field}` double"] + [
            f"`{m}` double" for m in metrics if m != field
        ]
        schema = ", ".join(parts) + ", doc_id long"
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return self.spark.createDataFrame([], schema)
        cols = [field] + [m for m in metrics if m != field]
        vals = self.docs.select(
            "doc_id",
            *[F.expr(c).cast("double").alias(c) for c in cols],
        ).filter(F.col(field).isNotNull())
        order = (
            F.asc(field) if direction == "asc" else F.desc(field)
        )
        return (
            matched.join(vals, "doc_id")
            .orderBy(order, F.asc("doc_id"))
            .limit(size)
            .select(*cols, "doc_id")
        )

    def facet_extended_stats(
        self, query, field, sigma: float = 2.0, mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Extended-stats aggregation — the ES `extended_stats` agg:
        facet_stats plus sum_of_squares, variance (population, as ES
        computes it), std_deviation, and the ±sigma std-deviation
        bounds.  Same single-row partial aggregate; the derived columns
        are arithmetic on it."""
        empty = self.spark.createDataFrame(
            [],
            "count long, min double, max double, avg double, sum double,"
            " sum_of_squares double, variance double,"
            " std_deviation double, upper double, lower double",
        )
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return empty
        vals = self.docs.select(
            "doc_id", F.expr(field).cast("double").alias("_v")
        )
        base = matched.join(vals, "doc_id").agg(
            F.count("_v").alias("count"),
            F.min("_v").alias("min"),
            F.max("_v").alias("max"),
            F.avg("_v").alias("avg"),
            F.sum("_v").alias("sum"),
            F.sum(F.col("_v") * F.col("_v")).alias("sum_of_squares"),
            F.var_pop("_v").alias("variance"),
            F.stddev_pop("_v").alias("std_deviation"),
        )
        s = float(sigma)
        return base.withColumn(
            "upper", F.col("avg") + F.lit(s) * F.col("std_deviation")
        ).withColumn(
            "lower", F.col("avg") - F.lit(s) * F.col("std_deviation")
        )

    def facet_weighted_avg(
        self, query, value_field, weight_field, mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Weighted-average aggregation — the ES `weighted_avg` agg:
        Σ(value·weight)/Σ(weight) over the matching docs, in the same
        single-row pass.  Rows where either side is null are skipped,
        like ES without a `missing` default."""
        empty = self.spark.createDataFrame([], "value double")
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return empty
        vals = self.docs.select(
            "doc_id",
            F.expr(value_field).cast("double").alias("_v"),
            F.expr(weight_field).cast("double").alias("_w"),
        ).filter(F.col("_v").isNotNull() & F.col("_w").isNotNull())
        return matched.join(vals, "doc_id").agg(
            (F.sum(F.col("_v") * F.col("_w")) / F.sum("_w")).alias("value")
        )

    def facet_string_stats(
        self,
        query,
        field,
        show_distribution: bool = False,
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """String-stats aggregation — the ES `string_stats` agg: count
        of non-null values, min/max/avg length, and the Shannon entropy
        (log base 2) of the CHARACTER distribution pooled across all
        matching values; `show_distribution=True` adds the per-character
        probability map.  `field` is a docs-table column or SQL
        expression cast to string.

        Physical plan: the matched-ids ⋈ docs join carries one string
        column.  Lengths reduce in a single-row partial aggregate; the
        character distribution is an explode → groupBy(char) whose
        result is alphabet-sized (aggregate-sized), so the entropy fold
        (higher-order `aggregate` over the collected counts, after a
        broadcast of the scalar total) and the final crossJoin of the
        two one-row frames are free.  Two doc-sized passes over the
        same joined rows — the same work ES does walking doc values
        twice for lengths and the char histogram."""
        schema = (
            "count long, min_length long, max_length long,"
            " avg_length double, entropy double"
        )
        if show_distribution:
            schema += ", distribution map<string,double>"
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return self.spark.createDataFrame([], schema)
        rows = (
            matched.join(
                self.docs.select(
                    "doc_id", F.expr(field).cast("string").alias("_s")
                ),
                "doc_id",
            )
            .filter(F.col("_s").isNotNull())
            .select("_s")
        )
        lens = rows.agg(
            F.count("_s").alias("count"),
            F.min(F.length("_s")).alias("min_length"),
            F.max(F.length("_s")).alias("max_length"),
            F.avg(F.length("_s")).alias("avg_length"),
        )
        dist = (
            rows.select(F.explode(F.split("_s", "")).alias("_ch"))
            .filter(F.length("_ch") == 1)
            .groupBy("_ch")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        tot = dist.agg(F.sum("_c").alias("_T"))
        p = F.col("_c") / F.col("_T")
        ent_cols = [
            F.coalesce(F.sum(-p * F.log2(p)), F.lit(0.0)).alias("entropy")
        ]
        if show_distribution:
            ent_cols.append(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("_ch"), p))
                ).alias("distribution")
            )
        ent = dist.crossJoin(F.broadcast(tot)).agg(*ent_cols)
        return lens.crossJoin(ent)

    def facet_t_test(
        self,
        query,
        a: Dict,
        b: Dict,
        type: str = "heteroscedastic",
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """T-test aggregation — the ES `t_test` agg: the two-tailed
        p-value that two populations drawn from the matching docs have
        the same mean.  `a`/`b` are {"field": <col or SQL expr>,
        "filter": <optional SQL predicate>} exactly like the ES spec;
        `type` is "paired" (same docs, two fields, no filters),
        "homoscedastic" (pooled variance), or "heteroscedastic"
        (Welch, the ES default).  Returns one row (p_value,
        t_statistic, dof, n_a, n_b, mean_a, mean_b) — ES reports only
        p_value; the diagnostics make rank/oracle pinning possible.

        Physical plan: ONE single-row conditional partial aggregate
        computes both populations' count/mean/sample-variance (paired:
        the per-doc differences') — the doc-sized work.  The (t, dof)
        → p-value conversion is O(1) scalar math done driver-side over
        that one row (`query/stattests.py`), the same place ES's
        coordinating node computes it."""
        if type not in ("paired", "homoscedastic", "heteroscedastic"):
            raise ValueError(f"unknown t_test type: {type!r}")
        schema = (
            "p_value double, t_statistic double, dof double,"
            " n_a long, n_b long, mean_a double, mean_b double"
        )
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return self.spark.createDataFrame([], schema)
        va = F.expr(a["field"]).cast("double")
        vb = F.expr(b["field"]).cast("double")
        if type == "paired":
            if a.get("filter") or b.get("filter"):
                raise ValueError("paired t_test takes no filters (ES rule)")
            rows = matched.join(
                self.docs.select("doc_id", (va - vb).alias("_d")), "doc_id"
            ).filter(F.col("_d").isNotNull())
            one = rows.agg(
                F.count("_d").alias("n"),
                F.avg("_d").alias("m"),
                F.var_samp("_d").alias("v"),
            ).collect()[0]
            n, m, v = one["n"], one["m"], one["v"]
            if n < 2 or v is None or v == 0.0:
                t = float("nan") if (v is None or n < 2) else float("inf")
                dof = float(max(n - 1, 0))
            else:
                t = m / math.sqrt(v / n)
                dof = float(n - 1)
            n_a = n_b = n
            mean_a = mean_b = m
        else:
            fa = F.expr(a["filter"]) if a.get("filter") else F.lit(True)
            fb = F.expr(b["filter"]) if b.get("filter") else F.lit(True)
            rows = matched.join(
                self.docs.select(
                    "doc_id",
                    F.when(fa, va).alias("_a"),
                    F.when(fb, vb).alias("_b"),
                ),
                "doc_id",
            )
            one = rows.agg(
                F.count("_a").alias("na"),
                F.avg("_a").alias("ma"),
                F.var_samp("_a").alias("va"),
                F.count("_b").alias("nb"),
                F.avg("_b").alias("mb"),
                F.var_samp("_b").alias("vb"),
            ).collect()[0]
            na, ma, sa = one["na"], one["ma"], one["va"]
            nb, mb, sb = one["nb"], one["mb"], one["vb"]
            if na < 2 or nb < 2 or sa is None or sb is None:
                t, dof = float("nan"), 0.0
            elif type == "homoscedastic":
                sp2 = ((na - 1) * sa + (nb - 1) * sb) / (na + nb - 2)
                denom = math.sqrt(sp2 * (1.0 / na + 1.0 / nb))
                t = float("inf") if denom == 0.0 else (ma - mb) / denom
                dof = float(na + nb - 2)
            else:  # Welch
                ea, eb = sa / na, sb / nb
                denom = math.sqrt(ea + eb)
                t = float("inf") if denom == 0.0 else (ma - mb) / denom
                dof = (
                    0.0
                    if ea + eb == 0.0
                    else (ea + eb) ** 2
                    / (ea * ea / (na - 1) + eb * eb / (nb - 1))
                )
            n_a, n_b, mean_a, mean_b = na, nb, ma, mb
        from .stattests import student_t_two_tailed_p

        p = student_t_two_tailed_p(t, dof)
        return self.spark.createDataFrame(
            [(p, t, dof, n_a, n_b, mean_a, mean_b)], schema
        )

    def facet_variable_width_histogram(
        self,
        query,
        field,
        buckets: int,
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Variable-width-histogram aggregation — the ES
        `variable_width_histogram` agg: `buckets` dynamically-sized
        buckets over a numeric field, each reporting (key=mean, min,
        max, doc_count), min-ascending.  ES clusters per shard and is
        explicitly approximate/non-deterministic across shard layouts;
        this engine pins the DETERMINISTIC equal-population spec —
        ntile(buckets) over (value asc, doc_id asc) — which any SQL
        oracle reproduces exactly and which degrades to the same
        "adjacent values share a bucket" shape.

        Physical plan, selectivity-gated on a MEASURED match count (the
        filter_collect_max pattern — the strategy switch must not rest
        on the caller's foreknowledge):
          * ≤ vwh_exact_max matches: one matched-ids ⋈ docs join, a
            global-order ntile window, then groupBy(bucket).  The
            single-task window is sized by the MATCH count, not the
            corpus — the same per-shard memory bound ES's clustering
            pays.  Exact equal-population spec.
          * broader (the corpus-sized foreground at the 10^12-doc
            design point): percentile_approx bucket edges (one
            partial-aggregable job, bucket-sized driver data) + a
            native array-filter bucket assignment — fully distributed,
            NO global window anywhere in the plan.  Approximate
            populations, matching ES's own approximate contract for
            this agg; tied edge values may merge buckets."""
        if buckets < 1:
            raise ValueError("buckets must be >= 1")
        self._last_vwh_plan = None  # never leave a stale plan behind
        schema = "key double, min double, max double, doc_count long"
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return self.spark.createDataFrame([], schema)
        vals = self.docs.select(
            "doc_id", F.expr(field).cast("double").alias("_v")
        ).filter(F.col("_v").isNotNull())
        # persist: the match+join runs ONCE — the gating count, the
        # (approx path's) percentile edges, and the final bucket agg
        # all re-read the cached frame instead of re-running the
        # postings scan per action.  persist (not localCheckpoint) is
        # lineage-backed, so executor loss recomputes instead of
        # failing the query; the cache is released in a try/finally
        # because the RESULT is bucket-sized (≤ `buckets` rows) and is
        # materialized eagerly before return — no lazily-consumed
        # frame outlives the cache (the update_by_query convention).
        from pyspark import StorageLevel

        joined = matched.join(vals, "doc_id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            n_match = joined.count()
            if n_match == 0:
                return self.spark.createDataFrame([], schema)
            if n_match <= self.vwh_exact_max:
                w = Window.orderBy(F.asc("_v"), F.asc("doc_id"))
                bucketed = joined.withColumn(
                    "_nt", F.ntile(buckets).over(w)
                )
            else:
                qs = [i / buckets for i in range(1, buckets)]
                if not qs:  # buckets == 1: everything in one bucket
                    bucketed = joined.withColumn("_nt", F.lit(1))
                else:
                    edges = joined.agg(
                        F.percentile_approx("_v", qs, 10000).alias("e")
                    ).collect()[0]["e"]
                    edge_arr = F.array(*[F.lit(float(e)) for e in edges])
                    bucketed = joined.withColumn(
                        "_nt",
                        F.size(
                            F.filter(edge_arr, lambda e: e < F.col("_v"))
                        )
                        + 1,
                    )
            agg_df = (
                bucketed.groupBy("_nt")
                .agg(
                    F.avg("_v").alias("key"),
                    F.min("_v").alias("min"),
                    F.max("_v").alias("max"),
                    F.count(F.lit(1)).alias("doc_count"),
                )
                .orderBy("min")
                .drop("_nt")
            )
            # the returned frame is a bucket-sized local relation, so
            # expose the computing plan for tests/diagnostics (the
            # "no global window on the scale path" pin).  Captured
            # AFTER collect(): under AQE the pre-execution plan is the
            # initial (pre-adaptive) one — only post-execution does
            # executedPlan() reflect what actually ran (ADVICE r4).
            # _jdf is a classic-session private accessor; a Spark
            # Connect session has none (AttributeError), so degrade the
            # diagnostic to None instead of failing the query.  A py4j
            # error reading the plan degrades it the same way; anything
            # else is a real failure and propagates.
            rows = agg_df.collect()
            try:
                self._last_vwh_plan = (
                    agg_df._jdf.queryExecution().executedPlan().toString()
                )
            except (AttributeError, Py4JError):
                self._last_vwh_plan = None
            return self.spark.createDataFrame(rows, schema)
        finally:
            joined.unpersist()

    # ES search.max_buckets default — the zero-fill spine guard
    MAX_BUCKETS = 65536

    def facet_histogram(
        self,
        query,
        field,
        interval: float,
        mode: str = "or",
        predicate=None,
        metrics: Optional[Dict[str, Tuple[str, str]]] = None,
        offset: float = 0.0,
        min_doc_count: int = 1,
        extended_bounds: Optional[Tuple[float, float]] = None,
        hard_bounds: Optional[Tuple[float, float]] = None,
    ) -> DataFrame:
        """Histogram aggregation — the ES `histogram` agg: fixed-width
        buckets keyed `floor((value - offset) / interval) * interval +
        offset` (ES's bucket key formula — correct for negative values
        too), ordered key asc.  Null field values are ignored, as in
        ES.  Options, all ES-parity:

        offset          — shifts bucket boundaries (normalized into
                          [0, interval) like ES).
        min_doc_count   — 0 materializes empty buckets between the min
                          and max observed keys (ES gap fill); >1 drops
                          sparse buckets.  The fill spine is built from
                          the AGGREGATED bucket extent (bucket-sized
                          driver work, never doc-sized) and is guarded
                          by ES's search.max_buckets=65536 — an
                          unbounded spine over a sparse field raises,
                          as ES's too_many_buckets_exception does.
        extended_bounds — (min, max) widens the zero-fill extent even
                          where no docs fall (only meaningful with
                          min_doc_count=0, like ES).
        hard_bounds     — (min, max) clips buckets outside the range
                          (docs outside are ignored).

        `metrics` optionally adds avg/sum/min/max metric sub-agg
        columns (the facet_terms_metrics contract — name -> (op, field
        expr)), folded into the SAME bucket groupBy; zero-filled
        buckets carry null metrics (ES returns value: null there)."""
        if interval <= 0:
            raise ValueError("interval must be > 0")
        interval = float(interval)
        offset = float(offset) % interval
        key = (
            F.floor(
                (F.expr(field).cast("double") - F.lit(offset))
                / F.lit(interval)
            )
            * F.lit(interval)
            + F.lit(offset)
        ).alias("key")
        out = self._bucket_agg(
            query, key, "key double", mode, predicate, metrics
        )
        if hard_bounds is not None:
            lo, hi = hard_bounds
            out = out.filter(
                (F.col("key") >= F.lit(float(lo)))
                & (F.col("key") <= F.lit(float(hi)))
            )
        if min_doc_count > 1:
            out = out.filter(F.col("doc_count") >= int(min_doc_count))
        elif min_doc_count == 0:
            out = self._zero_fill(
                out, interval, offset, extended_bounds, hard_bounds,
                list(metrics or {}),
            )
        return out

    def _zero_fill(
        self,
        buckets: DataFrame,
        interval: float,
        offset: float,
        extended_bounds,
        hard_bounds,
        metric_names: List[str],
        is_time: bool = False,
    ) -> DataFrame:
        """min_doc_count=0 gap fill: a `spark.range` spine over the
        observed (plus extended_bounds) key extent, left-joined to the
        aggregated buckets.  The extent collect reads the aggregate-
        sized result, not documents."""

        def _bkey(v: float) -> float:
            return math.floor((v - offset) / interval) * interval + offset

        # numeric key view (epoch seconds for time buckets — computed
        # JVM-side so the session timezone can't skew a driver parse)
        knum = (
            F.unix_timestamp("key").cast("double") if is_time
            else F.col("key").cast("double")
        )
        buckets = buckets.withColumn("_k", knum)
        ext = buckets.agg(
            F.min("_k").alias("lo"), F.max("_k").alias("hi")
        ).collect()[0]
        lo_k, hi_k = ext["lo"], ext["hi"]
        if extended_bounds is not None:
            blo, bhi = (float(b) for b in extended_bounds)
            lo_k = _bkey(blo) if lo_k is None else min(lo_k, _bkey(blo))
            hi_k = _bkey(bhi) if hi_k is None else max(hi_k, _bkey(bhi))
        if lo_k is None:
            return buckets
        if hard_bounds is not None:
            hlo, hhi = (float(b) for b in hard_bounds)
            lo_k, hi_k = max(lo_k, _bkey(hlo)), min(hi_k, _bkey(hhi))
        n = int(round((hi_k - lo_k) / interval)) + 1
        if n > self.MAX_BUCKETS:
            raise ValueError(
                f"zero-fill would create {n} buckets "
                f"(> max_buckets {self.MAX_BUCKETS})"
            )
        # join on the integer bucket ordinal, not the float key —
        # lo + i·interval need not bit-match floor()-derived keys
        spine_key = F.lit(float(lo_k)) + F.col("id") * F.lit(interval)
        if is_time:
            spine_key = F.timestamp_seconds(spine_key)
        spine = self.spark.range(n).select(
            F.col("id").alias("_ord"), spine_key.alias("key")
        )
        with_ord = buckets.withColumn(
            "_ord",
            F.round((F.col("_k") - F.lit(float(lo_k))) / F.lit(interval))
            .cast("long"),
        ).drop("key", "_k")
        return (
            spine.join(with_ord, "_ord", "left")
            .select(
                "key",
                F.coalesce(F.col("doc_count"), F.lit(0)).alias("doc_count"),
                *metric_names,
            )
            .orderBy("key")
        )

    # fixed_interval unit suffixes, in seconds (ES: ms/s/m/h/d; ms is
    # below timestamp_seconds granularity here, so s is the floor)
    _FIXED_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400}

    def facet_date_histogram(
        self,
        query,
        field: str = "warc_ts",
        calendar_interval: Optional[str] = "day",
        mode: str = "or",
        predicate=None,
        metrics: Optional[Dict[str, Tuple[str, str]]] = None,
        fixed_interval: Optional[str] = None,
        offset: Optional[str] = None,
        min_doc_count: int = 1,
        extended_bounds: Optional[Tuple[object, object]] = None,
    ) -> DataFrame:
        """Date-histogram aggregation — the ES `date_histogram` agg.

        calendar_interval buckets key by the interval start (native
        `date_trunc`, JVM-side — minute/hour/day/week/month/quarter/
        year; week starts Monday, as in ES's default), ordered key asc.
        fixed_interval (mutually exclusive, like ES) buckets by
        elapsed-time width — "30s" / "90m" / "12h" / "7d" — keyed
        `floor(epoch / width) · width` from the 1970 epoch, ES's fixed
        anchor; `offset` ("+1h" / "-30m" / "3h") shifts the anchor.

        min_doc_count=0 zero-fills empty buckets across the observed
        extent (fixed_interval only — calendar buckets have no uniform
        width; ES coordinators fill calendar gaps at reduce time, a
        serving-layer step here), `extended_bounds` (epoch seconds or
        ISO strings) widens that extent, both under the same
        max_buckets guard as facet_histogram.  Null timestamps are
        ignored, as in ES.  `metrics` adds avg/sum/min/max sub-agg
        columns folded into the same bucket groupBy (the canonical ES
        time-series shape: date_histogram + avg metric)."""
        if fixed_interval is not None:
            secs = self._parse_duration(fixed_interval)
            off = self._parse_duration(offset) if offset else 0
            off %= secs
            epoch = F.unix_timestamp(F.expr(field)).cast("double")
            key = F.timestamp_seconds(
                F.floor((epoch - F.lit(off)) / F.lit(secs))
                * F.lit(secs) + F.lit(off)
            ).alias("key")
            out = self._bucket_agg(
                query, key, "key timestamp", mode, predicate, metrics
            )
            if min_doc_count > 1:
                out = out.filter(F.col("doc_count") >= int(min_doc_count))
            elif min_doc_count == 0:
                bounds = None
                if extended_bounds is not None:
                    bounds = tuple(
                        self._epoch_seconds(b) for b in extended_bounds
                    )
                out = self._zero_fill(
                    out, float(secs), float(off), bounds, None,
                    list(metrics or {}), is_time=True,
                )
            return out
        allowed = {"minute", "hour", "day", "week", "month", "quarter",
                   "year"}
        if calendar_interval not in allowed:
            raise ValueError(
                f"calendar_interval must be one of {sorted(allowed)}"
            )
        if min_doc_count == 0:
            raise ValueError(
                "min_doc_count=0 gap fill needs fixed_interval "
                "(calendar buckets are not uniform-width)"
            )
        key = F.date_trunc(calendar_interval, F.expr(field)).alias("key")
        out = self._bucket_agg(
            query, key, "key timestamp", mode, predicate, metrics
        )
        if min_doc_count > 1:
            out = out.filter(F.col("doc_count") >= int(min_doc_count))
        return out

    def facet_cumulative_cardinality(
        self,
        query,
        value_field: str,
        date_field: str = "warc_ts",
        calendar_interval: Optional[str] = "day",
        fixed_interval: Optional[str] = None,
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Cumulative-cardinality pipeline — the ES
        `cumulative_cardinality` agg (a date_histogram with a
        cardinality sub-agg and the pipeline on top): per bucket, how
        many DISTINCT `value_field` values have been seen up to and
        including it — the canonical "total unique users to date"
        time series.

        ES sums HyperLogLog sketches bucket-by-bucket (approximate);
        the batch plan is EXACT and cheaper than per-bucket distinct
        unions: each value contributes only its FIRST bucket
        (groupBy(value).min(key) — partial aggregation collapses
        repeat values map-side), first-appearance counts aggregate per
        bucket, and one window cumulative-sum over the aggregate-sized
        bucket list finishes.  No bucket ever re-counts the values of
        its predecessors, so the doc-sized work is two partial-agg
        groupBys regardless of the time span.

        Returns (key, doc_count, new_values, cumulative_cardinality)
        key-asc; doc_count matches facet_date_histogram's bucket
        counts."""
        if fixed_interval is not None:
            secs = self._parse_duration(fixed_interval)
            epoch = F.unix_timestamp(F.expr(date_field)).cast("double")
            key = F.timestamp_seconds(
                F.floor(epoch / F.lit(secs)) * F.lit(secs)
            ).alias("key")
        else:
            allowed = {"minute", "hour", "day", "week", "month",
                       "quarter", "year"}
            if calendar_interval not in allowed:
                raise ValueError(
                    f"calendar_interval must be one of {sorted(allowed)}"
                )
            key = F.date_trunc(
                calendar_interval, F.expr(date_field)
            ).alias("key")
        schema = ("key timestamp, doc_count long, new_values long, "
                  "cumulative_cardinality long")
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return self.spark.createDataFrame([], schema)
        j = (
            matched.join(
                self.docs.select(
                    "doc_id", key, F.expr(value_field).alias("_v")
                ),
                "doc_id",
            )
            .filter(F.col("key").isNotNull() & F.col("_v").isNotNull())
        )
        buckets = j.groupBy("key").agg(F.count(F.lit(1)).alias("doc_count"))
        firsts = (
            j.groupBy("_v").agg(F.min("key").alias("key"))
            .groupBy("key").agg(F.count(F.lit(1)).alias("new_values"))
        )
        w = Window.orderBy(F.asc("key")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        return (
            buckets.join(firsts, "key", "left")
            .select(
                "key",
                "doc_count",
                F.coalesce("new_values", F.lit(0)).alias("new_values"),
            )
            .withColumn(
                "cumulative_cardinality", F.sum("new_values").over(w)
            )
            .orderBy("key")
        )

    @classmethod
    def _parse_duration(cls, s: str) -> int:
        """'90m' / '+1h' / '-30s' / '7d' -> signed seconds."""
        m = re.fullmatch(r"([+-]?)(\d+)([smhd])", s.strip())
        if not m:
            raise ValueError(f"bad duration {s!r} (want e.g. '30s', '+1h')")
        sign = -1 if m.group(1) == "-" else 1
        return sign * int(m.group(2)) * cls._FIXED_UNITS[m.group(3)]

    @staticmethod
    def _epoch_seconds(b) -> float:
        if isinstance(b, (int, float)):
            return float(b)
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(str(b))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()

    def _bucket_agg(
        self,
        query,
        key,
        key_ddl: str,
        mode: str,
        predicate,
        metrics: Optional[Dict[str, Tuple[str, str]]],
    ) -> DataFrame:
        """Shared (date_)histogram body: matched-ids ⋈ (doc_id, key
        [, metric cols]) → ONE groupBy(key) with doc_count and every
        requested avg/sum/min/max metric, key-asc.  Null keys ignored
        (ES drops docs missing the bucketing field)."""
        _OPS = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}
        metrics = metrics or {}
        bad = [op for op, _ in metrics.values() if op not in _OPS]
        if bad:
            raise ValueError(f"metric ops must be one of {sorted(_OPS)}: {bad}")
        if {"key", "doc_count"} & set(metrics):
            raise ValueError("metric names collide with bucket columns")
        schema = f"{key_ddl}, doc_count long" + "".join(
            f", `{n}` double" for n in metrics
        )
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return self.spark.createDataFrame([], schema)
        vals = self.docs.select(
            "doc_id",
            key,
            *[
                F.expr(f).cast("double").alias(f"_m_{n}")
                for n, (_, f) in metrics.items()
            ],
        ).filter(F.col("key").isNotNull())
        return (
            matched.join(vals, "doc_id")
            .groupBy("key")
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                *[
                    _OPS[op](f"_m_{n}").alias(n)
                    for n, (op, _) in metrics.items()
                ],
            )
            .orderBy("key")
        )

    @staticmethod
    def bucket_pipeline(
        buckets: DataFrame,
        metric: str = "doc_count",
        derivative: Optional[str] = None,
        cumulative_sum: Optional[str] = None,
        moving_avg: Optional[Tuple[str, int]] = None,
        serial_diff: Optional[Tuple[str, int]] = None,
        bucket_script: Optional[Tuple[str, str]] = None,
        bucket_selector: Optional[str] = None,
        bucket_sort: Optional[Tuple[
            List[Tuple[str, str]], int, Optional[int]
        ]] = None,
        normalize: Optional[Tuple[str, str]] = None,
        moving_percentiles: Optional[Tuple[str, int, float]] = None,
    ) -> DataFrame:
        """Pipeline aggregations — the ES parent-pipeline family
        (`derivative`, `cumulative_sum`, `moving_fn`/`moving_avg`,
        `serial_diff`, `bucket_script`, `bucket_selector`,
        `bucket_sort`) computed OVER the buckets of a (date_)histogram
        facet rather than over documents.  `buckets` is the
        key-ascending output of facet_histogram / facet_date_histogram
        (or facet_terms_buckets filtered to one outer bucket); `metric`
        names the column the lag-based pipelines read (doc_count or any
        metric leaf).  Each requested output adds a column:

          derivative      — bucket-over-bucket difference (null for the
                            first bucket, like ES)
          cumulative_sum  — running total
          moving_avg      — (name, window): mean of the last `window`
                            buckets including the current (ES moving_fn
                            with MovingFunctions.unweightedAvg shape)
          serial_diff     — (name, lag): value minus the value `lag`
                            buckets back (null for the first `lag`
                            buckets, ES serial_diff)
          bucket_script   — (name, sql_expr): per-bucket arithmetic
                            over ALREADY-PRESENT bucket columns (ES
                            bucket_script; the DSL layer substitutes
                            `params.x` script variables to column names
                            before it gets here).  Runs after the
                            lag-based pipelines so it may reference
                            their outputs.
          bucket_selector — sql_expr: keep only buckets where the
                            boolean expression holds (ES drops the
                            rest); applied after bucket_script.
          bucket_sort     — ([(col, "asc"|"desc"), ...], from, size):
                            re-order the bucket list and truncate (ES
                            bucket_sort; empty sort list = pure
                            from/size truncation in key order).
          normalize       — (name, method): rescale the metric over the
                            WHOLE bucket list (ES normalize agg).
                            Methods: rescale_0_1, rescale_0_100,
                            percent_of_sum, mean ((x-avg)/(max-min)),
                            z-score (population stddev), softmax.
                            Degenerate denominators (single value /
                            all-equal buckets) yield null, not NaN.
          moving_percentiles — (name, window, percent): the given
                            percentile (exact linear interpolation, the
                            ES T-Digest analogue) of the metric over
                            the trailing `window` buckets including the
                            current (ES moving_percentiles; this engine
                            reads the raw metric instead of a
                            percentiles sketch — documented divergence).

        Physical note: buckets are already aggregate-sized (thousands,
        not documents), so the single unpartitioned window — which
        Spark routes to one task — is the right plan, not a smell; the
        doc-sized work happened in the facet that produced them."""
        if not any([derivative, cumulative_sum, moving_avg, serial_diff,
                    bucket_script, bucket_selector, bucket_sort,
                    normalize, moving_percentiles]):
            raise ValueError("request at least one pipeline output")
        w = Window.orderBy(F.asc("key"))
        out = buckets
        if derivative:
            out = out.withColumn(
                derivative,
                F.col(metric) - F.lag(metric, 1).over(w),
            )
        if cumulative_sum:
            out = out.withColumn(
                cumulative_sum,
                F.sum(metric).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
        if moving_avg:
            name, window = moving_avg
            if int(window) < 1:
                raise ValueError("moving_avg window must be >= 1")
            out = out.withColumn(
                name,
                F.avg(metric).over(
                    w.rowsBetween(-(int(window) - 1), 0)
                ),
            )
        if serial_diff:
            name, lag = serial_diff
            if int(lag) < 1:
                raise ValueError("serial_diff lag must be >= 1")
            out = out.withColumn(
                name, F.col(metric) - F.lag(metric, int(lag)).over(w)
            )
        if moving_percentiles:
            name, window, percent = moving_percentiles
            if int(window) < 1:
                raise ValueError("moving_percentiles window must be >= 1")
            if not 0.0 <= float(percent) <= 100.0:
                raise ValueError("percent must be in [0, 100]")
            out = out.withColumn(
                name,
                F.expr(
                    f"percentile({metric}, {float(percent) / 100.0}d)"
                ).over(w.rowsBetween(-(int(window) - 1), 0)),
            )
        if normalize:
            name, method = normalize
            m = F.col(metric).cast("double")
            full = w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            mn, mx = F.min(m).over(full), F.max(m).over(full)
            span = F.when(mx != mn, mx - mn)  # null when degenerate
            if method == "rescale_0_1":
                col = (m - mn) / span
            elif method == "rescale_0_100":
                col = (m - mn) / span * 100.0
            elif method == "percent_of_sum":
                total = F.sum(m).over(full)
                col = m / F.when(total != 0.0, total)
            elif method == "mean":
                col = (m - F.avg(m).over(full)) / span
            elif method == "z-score":
                sd = F.stddev_pop(m).over(full)
                col = (m - F.avg(m).over(full)) / F.when(sd != 0.0, sd)
            elif method == "softmax":
                col = F.exp(m) / F.sum(F.exp(m)).over(full)
            else:
                raise ValueError(f"unknown normalize method {method!r}")
            out = out.withColumn(name, col)
        if bucket_script:
            # double output like ES painless arithmetic (Spark would
            # otherwise type `x * 100.0` as decimal via the literal)
            name, expr = bucket_script
            out = out.withColumn(name, F.expr(expr).cast("double"))
        if bucket_selector:
            out = out.filter(F.expr(bucket_selector))
        if bucket_sort is not None:
            keys, frm, size = bucket_sort
            order = [
                F.asc(c) if d == "asc" else F.desc(c) for c, d in keys
            ] or [F.asc("key")]
            w2 = Window.orderBy(*order)
            out = out.withColumn("_bs_rn", F.row_number().over(w2))
            hi = (
                F.col("_bs_rn") <= int(frm) + int(size)
                if size is not None
                else F.lit(True)
            )
            out = (
                out.filter((F.col("_bs_rn") > int(frm)) & hi)
                .orderBy(F.asc("_bs_rn"))
                .drop("_bs_rn")
            )
            return out
        return out.orderBy(F.asc("key"))

    @staticmethod
    def sibling_bucket_stats(
        buckets: DataFrame,
        metric: str = "doc_count",
        kind: str = "stats_bucket",
    ) -> DataFrame:
        """Sibling pipeline aggregations — ES `avg_bucket` /
        `sum_bucket` / `min_bucket` / `max_bucket` / `stats_bucket`:
        ONE value (or stats row) aggregated over the bucket LIST a
        sibling (date_)histogram/terms agg produced, e.g. "average
        daily doc_count".  Null metric values are skipped (ES gap
        policy `skip` — Spark aggregates ignore nulls natively).

        Returns a single-row DataFrame: `value` for the four
        single-value kinds, (count, min, max, avg, sum) for
        stats_bucket.  The input is aggregate-sized, so this is a
        driver-cheap single-row aggregate — the doc-sized work
        happened in the facet that produced the buckets."""
        m = F.col(metric)
        if kind == "stats_bucket":
            return buckets.agg(
                F.count(m).alias("count"),
                F.min(m).alias("min"),
                F.max(m).alias("max"),
                F.avg(m).alias("avg"),
                F.sum(m).alias("sum"),
            )
        fn = {
            "avg_bucket": F.avg,
            "sum_bucket": F.sum,
            "min_bucket": F.min,
            "max_bucket": F.max,
        }.get(kind)
        if fn is None:
            raise ValueError(f"unknown sibling pipeline agg {kind!r}")
        return buckets.agg(fn(m).alias("value"))

    @classmethod
    def rate(
        cls,
        buckets: DataFrame,
        fixed_interval: str,
        unit: str = "day",
        metric: str = "doc_count",
    ) -> DataFrame:
        """Rate aggregation — the ES `rate` agg under a date_histogram:
        rescale each bucket's metric from the bucket width to a target
        `unit` ("minute"/"hour"/"day"/"week"), e.g. events-per-day
        inside 6-hour buckets.  Supported for fixed_interval buckets,
        whose width is constant (calendar buckets vary in length and ES
        resolves each bucket's true duration at reduce time — refused
        here rather than approximated); the rescale is then one literal
        multiply on the aggregate-sized bucket rows, no doc work.
        Adds a `rate` column."""
        unit_secs = {
            "second": 1, "minute": 60, "hour": 3600,
            "day": 86400, "week": 604800,
        }.get(unit)
        if unit_secs is None:
            raise ValueError(f"unsupported rate unit {unit!r}")
        bucket_secs = cls._parse_duration(fixed_interval)
        if bucket_secs <= 0:
            raise ValueError("fixed_interval must be positive")
        return buckets.withColumn(
            "rate",
            F.col(metric).cast("double")
            * F.lit(float(unit_secs) / float(bucket_secs)),
        )

    def facet_range(
        self,
        query,
        field,
        ranges: List[Tuple[Optional[float], Optional[float]]],
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Range aggregation — the ES `range` agg: half-open
        [from, to) buckets (`from` inclusive, `to` exclusive, either
        side open with None); buckets may overlap — a doc counts in
        EVERY containing range, exactly like ES.  Every requested
        bucket comes back (doc_count 0 when empty), in request order,
        keyed with the ES "from-to"/"*-to"/"from-*" convention.

        Physical plan: the tiny ranges list broadcast-theta-joins the
        matched values (BroadcastNestedLoopJoin over ≤ a handful of
        range rows — each value row is tested against every range, no
        shuffle of the values), then one per-bucket count and a zero-
        fill left join back onto the request list."""
        empty = self.spark.createDataFrame(
            [], "key string, range_from double, range_to double, doc_count long"
        )
        if not ranges:
            return empty

        def _fmt(x):
            return "*" if x is None else f"{float(x):g}"

        rows = [
            (i, None if lo is None else float(lo),
             None if hi is None else float(hi), f"{_fmt(lo)}-{_fmt(hi)}")
            for i, (lo, hi) in enumerate(ranges)
        ]
        rng = self.spark.createDataFrame(
            rows, "idx int, range_from double, range_to double, key string"
        )
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            counts = None
        else:
            vals = matched.join(
                self.docs.select(
                    "doc_id", F.expr(field).cast("double").alias("_v")
                ),
                "doc_id",
            ).filter(F.col("_v").isNotNull())
            cond = (
                F.col("range_from").isNull() | (F.col("_v") >= F.col("range_from"))
            ) & (F.col("range_to").isNull() | (F.col("_v") < F.col("range_to")))
            counts = (
                vals.join(F.broadcast(rng), cond)
                .groupBy("idx")
                .agg(F.count(F.lit(1)).alias("_n"))
            )
        # zero-fill join: counts has ≤ len(ranges) rows — broadcast it
        # so the request list never range-shuffles
        out = (
            rng if counts is None
            else rng.join(F.broadcast(counts), "idx", "left")
        )
        if counts is None:
            out = out.withColumn("_n", F.lit(None).cast("long"))
        return (
            out.orderBy("idx")
            .select(
                "key",
                "range_from",
                "range_to",
                F.coalesce(F.col("_n"), F.lit(0)).alias("doc_count"),
            )
        )

    def facet_date_range(
        self,
        query,
        field: str,
        ranges: List[Tuple[Optional[str], Optional[str]]],
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Date-range aggregation — the ES `date_range` agg: the range
        agg's half-open [from, to) buckets over a timestamp field, with
        bounds given as timestamp strings (ISO `yyyy-MM-dd[ HH:mm:ss]`,
        the subset Spark's native cast parses; ES date-math like
        `now-1M/d` is not supported — `now` would break determinism in
        the data path).  Buckets may overlap, every requested bucket
        returns (doc_count 0 when empty) in request order, keys use the
        input strings verbatim in the ES "from-to" convention, and docs
        with a null timestamp are ignored.

        Physical plan: identical to facet_range — the tiny range list
        broadcast-theta-joins the matched timestamps (no shuffle of the
        values), one per-bucket count, zero-fill join back."""
        empty = self.spark.createDataFrame(
            [],
            "key string, range_from timestamp, range_to timestamp, "
            "doc_count long",
        )
        if not ranges:
            return empty

        rows = [
            (i, lo, hi, f"{lo or '*'}-{hi or '*'}")
            for i, (lo, hi) in enumerate(ranges)
        ]
        rng = self.spark.createDataFrame(
            rows, "idx int, range_from string, range_to string, key string"
        ).select(
            "idx",
            # try_cast: an unparseable bound becomes null so the
            # validation below raises ValueError (ANSI cast would throw
            # a JVM DateTimeException mid-collect instead)
            F.col("range_from").try_cast("timestamp").alias("range_from"),
            F.col("range_to").try_cast("timestamp").alias("range_to"),
            "key",
        )
        # unparseable bounds must refuse loudly, not silently become an
        # open side (null casts); the range list is tiny — collect it
        parsed = {r["idx"]: (r["range_from"], r["range_to"])
                  for r in rng.collect()}
        for i, (lo, hi) in enumerate(ranges):
            plo, phi = parsed[i]
            if (lo is not None and plo is None) or (
                hi is not None and phi is None
            ):
                raise ValueError(
                    f"unparseable date bound in range {i}: ({lo!r}, {hi!r})"
                )
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            counts = None
        else:
            vals = matched.join(
                self.docs.select(
                    "doc_id", F.expr(field).cast("timestamp").alias("_v")
                ),
                "doc_id",
            ).filter(F.col("_v").isNotNull())
            cond = (
                F.col("range_from").isNull()
                | (F.col("_v") >= F.col("range_from"))
            ) & (
                F.col("range_to").isNull()
                | (F.col("_v") < F.col("range_to"))
            )
            counts = (
                vals.join(F.broadcast(rng), cond)
                .groupBy("idx")
                .agg(F.count(F.lit(1)).alias("_n"))
            )
        out = (
            rng if counts is None
            else rng.join(F.broadcast(counts), "idx", "left")
        )
        if counts is None:
            out = out.withColumn("_n", F.lit(None).cast("long"))
        return (
            out.orderBy("idx")
            .select(
                "key",
                "range_from",
                "range_to",
                F.coalesce(F.col("_n"), F.lit(0)).alias("doc_count"),
            )
        )

    # the calendar ladder auto_date_histogram climbs, with the nominal
    # seconds-per-bucket used to estimate the bucket count of the span
    _AUTO_INTERVALS = [
        ("minute", 60),
        ("hour", 3600),
        ("day", 86400),
        ("week", 7 * 86400),
        ("month", 30 * 86400),
        ("quarter", 91 * 86400),
        ("year", 365 * 86400),
    ]

    def facet_auto_date_histogram(
        self,
        query,
        field: str = "warc_ts",
        buckets: int = 10,
        mode: str = "or",
        predicate=None,
    ) -> Tuple[DataFrame, str]:
        """Auto-interval date histogram — the ES `auto_date_histogram`
        agg: pick the smallest calendar interval from the ladder
        (minute → hour → day → week → month → quarter → year) whose
        nominal bucket count over the matched data's [min, max] span is
        ≤ `buckets`, then bucket with it.  Returns (buckets DataFrame,
        chosen interval) — ES likewise reports the interval it settled
        on in the response.  ES's fractional ladder steps (5m, 30m, 3h,
        …) are not used: pure calendar intervals keep key semantics
        identical to facet_date_histogram.

        Physical plan: one scalar min/max aggregate over the matched
        timestamps (ES's shards do the same adaptively while
        collecting), then the ordinary date_trunc bucket pass — two
        jobs total, both over the ids-only matched set."""
        if buckets < 1:
            raise ValueError("buckets must be >= 1")
        matched = self._matched_ids(query, mode, predicate)
        interval = "year"
        if matched is not None:
            ext = (
                matched.join(
                    self.docs.select(
                        "doc_id",
                        F.expr(field).cast("timestamp").alias("_v"),
                    ),
                    "doc_id",
                )
                .agg(
                    F.min("_v").alias("lo"),
                    F.max("_v").alias("hi"),
                )
                .collect()[0]
            )
            if ext["lo"] is not None:
                span = (ext["hi"] - ext["lo"]).total_seconds()
                for name, secs in self._AUTO_INTERVALS:
                    if span / secs + 1 <= buckets:
                        interval = name
                        break
        return (
            self.facet_date_histogram(
                query, field, interval, mode=mode, predicate=predicate
            ),
            interval,
        )

    def facet_percentiles(
        self,
        query,
        field,
        percents: Optional[List[float]] = None,
        mode: str = "or",
        predicate=None,
        approx: bool = False,
        accuracy: int = 10000,
    ) -> DataFrame:
        """Percentiles aggregation — the ES `percentiles` agg (default
        percents 1,5,25,50,75,95,99) over a numeric field of the
        matching docs.  ES is always approximate here (T-Digest);
        `approx=True` is the scale path via percentile_approx
        (Greenwald-Khanna sketch — constant memory per partition, one
        sketch merge, the only sane plan at 10^12 docs; `accuracy`
        trades memory for error like T-Digest compression).  Default is
        exact (`percentile`, interpolated like ES/T-Digest's continuous
        estimate), which small-scale oracles can pin.  Returns one row
        per percent: (percent, value)."""
        percents = percents or [1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0]
        empty = self.spark.createDataFrame([], "percent double, value double")
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return empty
        vals = matched.join(
            self.docs.select("doc_id", F.expr(field).cast("double").alias("_v")),
            "doc_id",
        ).filter(F.col("_v").isNotNull())
        fracs = F.array(*[F.lit(p / 100.0) for p in percents])
        agg = (
            F.percentile_approx("_v", fracs, accuracy) if approx
            else F.percentile("_v", fracs)
        )
        row = vals.agg(agg.alias("q")).collect()[0]["q"]
        if row is None:
            return empty
        return self.spark.createDataFrame(
            [(float(p), float(v)) for p, v in zip(percents, row)],
            "percent double, value double",
        )

    def facet_percentile_ranks(
        self,
        query,
        field,
        values: List[float],
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Percentile-ranks aggregation — the ES `percentile_ranks`
        agg, the inverse of `percentiles`: for each requested value,
        the percentage of matching docs whose `field` is <= it.  ES
        estimates this from the same T-Digest as `percentiles`; the
        exact CDF — 100 · count(x <= v) / count(x) — is one
        conditional-aggregation pass over the matched-ids ⋈ docs join
        (the facet_filters plan: partial aggregation to a single row,
        unpivoted by an inline explode), which an oracle can pin and
        which stays one shuffle-to-one-row at any corpus size.  Null
        field values are ignored like every metric agg.  Returns one
        row per requested value in request order: (value, percent)."""
        if not values:
            raise ValueError("values must be non-empty")
        empty = self.spark.createDataFrame([], "value double, percent double")
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return empty
        vals = matched.join(
            self.docs.select(
                "doc_id", F.expr(field).cast("double").alias("_v")
            ),
            "doc_id",
        ).filter(F.col("_v").isNotNull())
        row = vals.agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.when(F.col("_v") <= F.lit(float(v)), 1).otherwise(0))
                .alias(f"_le{i}")
                for i, v in enumerate(values)
            ],
        )
        pairs = F.array(
            *[
                F.struct(
                    F.lit(float(v)).alias("value"),
                    (
                        F.col(f"_le{i}") * F.lit(100.0)
                        / F.col("_n").cast("double")
                    ).alias("percent"),
                )
                for i, v in enumerate(values)
            ]
        )
        return (
            row.filter(F.col("_n") > 0)
            .select(F.explode(pairs).alias("kv"))
            .select("kv.value", "kv.percent")
        )

    def facet_boxplot(
        self, query, field, mode: str = "or", predicate=None,
        approx: bool = False, accuracy: int = 10000,
    ) -> DataFrame:
        """Boxplot aggregation — the ES `boxplot` agg: min, q1, q2
        (median), q3, max of a numeric field over the matching docs,
        one row.  Quartiles share facet_percentiles' estimator
        (exact interpolated by default for oracle pinning; approx=True
        = the GK-sketch scale path, matching ES's always-approximate
        T-Digest); min/max ride in the same single-row aggregate."""
        empty = self.spark.createDataFrame(
            [], "min double, q1 double, q2 double, q3 double, max double"
        )
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return empty
        vals = matched.join(
            self.docs.select(
                "doc_id", F.expr(field).cast("double").alias("_v")
            ),
            "doc_id",
        ).filter(F.col("_v").isNotNull())
        fracs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        qcol = (
            F.percentile_approx("_v", fracs, accuracy)
            if approx
            else F.percentile("_v", fracs)
        )
        return vals.agg(
            F.min("_v").alias("min"), qcol.alias("_q"), F.max("_v").alias("max")
        ).select(
            "min",
            F.col("_q")[0].alias("q1"),
            F.col("_q")[1].alias("q2"),
            F.col("_q")[2].alias("q3"),
            "max",
        )

    def facet_mad(
        self, query, field, mode: str = "or", predicate=None,
        approx: bool = False, accuracy: int = 10000,
    ) -> DataFrame:
        """Median-absolute-deviation aggregation — the ES
        `median_absolute_deviation` agg: median(|x − median(x)|) over
        the matching docs.  Inherently two passes (the second needs
        the first's median) — two single-row aggregates over the same
        cached-lineage join, exactly the cost ES's sketch approximates
        away; exact by default, approx=True uses the GK sketch in both
        passes.  Returns one row (value)."""
        empty = self.spark.createDataFrame([], "value double")
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return empty
        vals = matched.join(
            self.docs.select(
                "doc_id", F.expr(field).cast("double").alias("_v")
            ),
            "doc_id",
        ).filter(F.col("_v").isNotNull())

        def med(col):
            return (
                F.percentile_approx(col, F.lit(0.5), accuracy)
                if approx
                else F.percentile(col, F.lit(0.5))
            )

        row = vals.agg(med(F.col("_v")).alias("m")).collect()[0]
        if row["m"] is None:
            return empty
        m = float(row["m"])
        return vals.select(
            F.abs(F.col("_v") - F.lit(m)).alias("_d")
        ).agg(med(F.col("_d")).alias("value"))

    def facet_top_hits(
        self,
        query,
        field,
        size: int = 10,
        hits_per_bucket: int = 3,
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Top-hits-per-bucket — the ES `terms` aggregation with a
        `top_hits` sub-aggregation ("group results by site, show the
        best N of each"): the top `size` buckets of `field` by match
        count (doc_count desc, value asc — facet_counts order), each
        carrying its `hits_per_bucket` best docs by BM25 (score desc,
        doc_id asc).

        Physical plan: one exhaustive scoring pass over the query
        terms' postings (like ES, every hit must be scored — a top-k
        prune can't know a bucket's best doc), ONE hash join to attach
        the bucket value, a row_number window partitioned by bucket for
        the per-bucket cut, and a broadcast semi-join of the size-
        bounded winning-bucket list.  Shuffles are bounded by the
        match count; the window never sees more than the matched docs.
        Returns (value, doc_count, rank, doc_id, score)."""
        empty = self.spark.createDataFrame(
            [],
            "value string, doc_count long, rank int, doc_id long, "
            "score double",
        )
        if query is None:
            # match_all foreground (ES aggs with no scoring query):
            # every live doc is a hit with ES's constant score 1.0 —
            # per-bucket "top" hits degrade to the deterministic
            # tie-break (doc_id asc) and the postings are never touched
            scored = self._drop_tombstones(
                self.docs.select("doc_id")
            ).withColumn("score", F.lit(1.0))
            return self._top_hits_cut(
                scored, field, size, hits_per_bucket, predicate
            )
        if isinstance(query, dict) and "phrase" in query:
            # match_phrase foreground: hits scored by the phrase score
            scored = self._phrase_scored(
                query["phrase"], slop=int(query.get("slop", 0))
            )
            if scored is None:
                return empty
            return self._top_hits_cut(
                scored, field, size, hits_per_bucket, predicate
            )
        terms = sorted(
            set(query) if isinstance(query, list) else set(tokenize_py(query))
        )
        stats = self._query_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return empty
        idf_by_term = {t: idf_py(self.n_docs, stats[t][0]) for t in terms}
        buckets_ = sorted({stats[t][2] for t in terms})
        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets_) & F.col("term").isin(terms)
        )
        scored = (
            blocks.select("term", "count", "doc_ids", "tfs", "doclens")
            .mapInPandas(
                _decode_and_score(idf_by_term, self.avgdl),
                schema="doc_id long, contrib double",
            )
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"))
        )
        if mode == "and":
            scored = scored.join(
                self._matched_ids(terms, "and"), "doc_id", "left_semi"
            )
        scored = self._drop_tombstones(scored)
        return self._top_hits_cut(scored, field, size, hits_per_bucket,
                                  predicate)

    def _top_hits_cut(
        self, scored, field, size, hits_per_bucket, predicate
    ) -> DataFrame:
        """Shared facet_top_hits tail: attach bucket values to the
        (doc_id, score) hits, cut the top-size buckets by doc_count,
        and rank hits_per_bucket winners per bucket."""
        docs = self.docs
        if predicate is not None:
            docs = docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        vals = docs.select(
            "doc_id", F.expr(field).cast("string").alias("value")
        ).filter(F.col("value").isNotNull())
        hits = scored.join(vals, "doc_id")
        top_buckets = (
            hits.groupBy("value")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("value"))
            .limit(size)
        )
        w = Window.partitionBy("value").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            hits.join(F.broadcast(top_buckets), "value")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= hits_per_bucket)
            .select("value", "doc_count", "rank", "doc_id", "score")
            .orderBy(
                F.desc("doc_count"), F.asc("value"), F.asc("rank")
            )
        )

    def _or_scored(self, query, mode: str = "or") -> Optional[DataFrame]:
        """(doc_id, score) of EVERY doc matching the query terms —
        exhaustive OR (or AND) BM25 with no top-k cut.  The shared
        scoring pass for operators whose final order cannot be
        WAND-pruned because scores are combined across subqueries or
        reweighted afterwards (collapse, dis_max, boosting,
        function_score): a doc outside the single-query top-k can
        still win the COMBINED order, so every match must score.
        Tombstones dropped.  None means no query term is indexed.

        Plan shape: bucket-pruned posting scan over the query terms,
        Arrow decode, ONE groupBy(doc_id) shuffle bounded by Σ df of
        the query terms — identical to mode="exhaustive" search minus
        the TakeOrderedAndProject."""
        terms = sorted(
            set(query) if isinstance(query, list) else set(tokenize_py(query))
        )
        stats = self._query_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return None
        idf_by_term = {t: idf_py(self.n_docs, stats[t][0]) for t in terms}
        buckets = sorted({stats[t][2] for t in terms})
        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )
        contribs = self._decode_contribs(blocks, idf_by_term)
        if mode == "and":
            scored = (
                contribs.groupBy("doc_id")
                .agg(F.sum("contrib").alias("score"),
                     F.count(F.lit(1)).alias("_nt"))
                .filter(F.col("_nt") == len(terms))
                .drop("_nt")
            )
        else:
            scored = contribs.groupBy("doc_id").agg(
                F.sum("contrib").alias("score")
            )
        return self._drop_tombstones(scored)

    def _clause_scored(self, spec) -> Optional[DataFrame]:
        """Full (doc_id, score) of one compound-query clause.  Specs:
        a plain string = match with OR semantics; ("match", q, op)
        with op "or"/"and"; ("phrase", q, slop) = match_phrase.  The
        lingua franca dis_max/boosting/function_score subqueries are
        lowered to (query/dsl.py hands ES nodes down as these)."""
        if isinstance(spec, str):
            return self._or_scored(spec)
        kind = spec[0]
        if kind == "match":
            return self._or_scored(spec[1], spec[2] if len(spec) > 2 else "or")
        if kind == "phrase":
            return self._phrase_scored(
                spec[1], slop=int(spec[2]) if len(spec) > 2 else 0
            )
        raise ValueError(f"unknown clause spec {spec!r}")

    def search_dis_max(
        self,
        queries: List,
        tie_breaker: float = 0.0,
        k: int = 10,
        join_docs: bool = True,
    ) -> DataFrame:
        """Disjunction-max — the ES `dis_max` compound query: each doc
        scores max over the subqueries it matches plus tie_breaker ×
        the sum of the others (Lucene DisjunctionMaxQuery; tie=0 is
        pure best-clause, tie=1 degrades to a plain sum).  Subqueries
        take the _clause_scored spec forms (strings = match OR;
        ("match", q, "and"); ("phrase", q, slop)) — the cross-CLAUSE
        analogue of search_fields' cross-FIELD dis_max.

        Exhaustive by construction: the max-combine breaks the
        per-term score monotonicity block-max bounds rely on, so each
        clause scores all its matches (one decode + one groupBy each,
        bounded by its Σ df), a single unionByName + groupBy(doc_id)
        combines them, then TakeOrderedAndProject."""
        if k <= 0:
            return self._empty_scored(join_docs)
        frames = [self._clause_scored(s) for s in queries]
        frames = [f for f in frames if f is not None]
        if not frames:
            return self._empty_scored(join_docs)
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        tie = float(tie_breaker)
        combined = F.col("_mx") + F.lit(tie) * (F.col("_sm") - F.col("_mx"))
        topk = (
            u.groupBy("doc_id")
            .agg(F.max("score").alias("_mx"), F.sum("score").alias("_sm"))
            .select("doc_id", combined.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        return self._join_docs(topk) if join_docs else topk

    def search_boosting(
        self,
        positive,
        negative,
        negative_boost: float = 0.5,
        k: int = 10,
        join_docs: bool = True,
    ) -> DataFrame:
        """Boosting query — ES `boosting`: docs matching the positive
        clause score normally, but any that ALSO match the negative
        clause are demoted by × negative_boost (still returned, unlike
        must_not's hard exclusion).  Clause specs as in
        _clause_scored.

        Exhaustive positive scoring (demotion reorders: a doc below
        the positive-only top-k rises into the final top-k when those
        above it are demoted — θ-pruning would be unsound); the
        negative side only needs MEMBERSHIP, so it decodes ids only
        (same ids-only pass as must_not) and joins as a flag."""
        if k <= 0:
            return self._empty_scored(join_docs)
        pos = self._clause_scored(positive)
        if pos is None:
            return self._empty_scored(join_docs)
        if isinstance(negative, tuple) and negative[0] == "phrase":
            neg_scored = self._phrase_scored(
                negative[1], slop=int(negative[2]) if len(negative) > 2 else 0
            )
            neg = None if neg_scored is None else neg_scored.select("doc_id")
        else:
            nq = negative[1] if isinstance(negative, tuple) else negative
            nmode = (
                negative[2]
                if isinstance(negative, tuple) and len(negative) > 2
                else "or"
            )
            neg = self._matched_ids(nq, nmode)
        if neg is not None:
            flag = neg.distinct().withColumn("_neg", F.lit(True))
            pos = pos.join(flag, "doc_id", "left").select(
                "doc_id",
                F.when(
                    F.col("_neg"), F.col("score") * F.lit(float(negative_boost))
                ).otherwise(F.col("score")).alias("score"),
            )
        topk = pos.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return self._join_docs(topk) if join_docs else topk

    _FVF_MODIFIERS = {
        "none": lambda c: c,
        "log1p": lambda c: F.log10(c + 1.0),
        "log2p": lambda c: F.log10(c + 2.0),
        "ln1p": lambda c: F.log(c + 1.0),
        "ln2p": lambda c: F.log(c + 2.0),
        "sqrt": lambda c: F.sqrt(c),
        "square": lambda c: c * c,
        "reciprocal": lambda c: F.lit(1.0) / c,
    }

    # random_score hash resolution (matches ops/sampling's md5 bucket
    # grid, so the value is replicable in Python and DuckDB oracles)
    _RANDOM_BUCKETS = 1_000_000

    def _fvf_col(self, spec: Dict) -> Column:
        """ES field_value_factor -> native column expression."""
        modifier = spec.get("modifier", "none")
        if modifier not in self._FVF_MODIFIERS:
            raise ValueError(f"unknown fvf modifier {modifier!r}")
        val = F.expr(spec["field"]).cast("double")
        missing = spec.get("missing")
        if missing is not None:
            val = F.coalesce(val, F.lit(float(missing)))
        return self._FVF_MODIFIERS[modifier](
            val * F.lit(float(spec.get("factor", 1.0)))
        )

    def _random_score_col(self, spec: Dict) -> Column:
        """ES random_score, pinned deterministic: uniform [0, 1) from
        md5("seed|field") — same 60-bit md5 grid as ops/sampling, so
        Spark / DuckDB / Python agree bit-for-bit."""
        from search_engine_spark.ops.common import md5int_col

        seed = str(spec.get("seed", 0))
        field = spec.get("field", "doc_id")
        h = md5int_col(
            F.concat(
                F.lit(f"{seed}|"), F.expr(field).cast("string")
            )
        )
        return (
            (h % self._RANDOM_BUCKETS).cast("double")
            / F.lit(float(self._RANDOM_BUCKETS))
        )

    def _decay_col(self, kind: str, spec: Dict) -> Column:
        """ES decay functions (gauss/exp/linear) -> native column
        expression.  spec is {field: {origin, scale, offset?, decay?}}.
        Timestamp fields take an ISO origin and "10d"-style duration
        scale/offset (seconds resolution); numeric fields take plain
        numbers.  dist = max(0, |v - origin| - offset); docs missing
        the field get 1.0, per ES."""
        (field, p), = spec.items()
        decay = float(p.get("decay", 0.5))
        if not 0.0 < decay < 1.0:
            raise ValueError("decay must be in (0, 1)")
        origin, scale = p["origin"], p["scale"]
        offset = p.get("offset", 0)
        if isinstance(scale, str):  # duration form -> seconds domain
            scale_n = float(self._parse_duration(scale))
            offset_n = (
                float(self._parse_duration(offset))
                if isinstance(offset, str) else float(offset)
            )
            origin_n = self._epoch_seconds(origin)
            v = F.unix_timestamp(F.expr(field)).cast("double")
        else:
            scale_n, offset_n = float(scale), float(offset)
            origin_n = float(origin)
            v = F.expr(field).cast("double")
        if scale_n <= 0:
            raise ValueError("scale must be > 0")
        dist = F.greatest(
            F.lit(0.0), F.abs(v - F.lit(origin_n)) - F.lit(offset_n)
        )
        if kind == "gauss":
            sigma2 = -(scale_n ** 2) / (2.0 * math.log(decay))
            val = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
        elif kind == "exp":
            val = F.exp(F.lit(math.log(decay) / scale_n) * dist)
        else:  # linear
            s = scale_n / (1.0 - decay)
            val = F.greatest(F.lit(0.0), (F.lit(s) - dist) / F.lit(s))
        return F.coalesce(val, F.lit(1.0))

    _DECAY_KINDS = ("gauss", "exp", "linear")

    def _function_value(self, fn: Dict) -> Column:
        """One ES function-array entry -> its value column (weight
        applied, filter-gated to null when unmatched)."""
        kinds = [
            k for k in fn
            if k in ("field_value_factor", "random_score")
            or k in self._DECAY_KINDS
        ]
        if len(kinds) > 1:
            raise ValueError(f"one function kind per entry, got {kinds}")
        if not kinds:
            val = F.lit(1.0)
        elif kinds[0] == "field_value_factor":
            val = self._fvf_col(fn["field_value_factor"])
        elif kinds[0] == "random_score":
            val = self._random_score_col(fn["random_score"])
        else:
            val = self._decay_col(kinds[0], fn[kinds[0]])
        val = val * F.lit(float(fn.get("weight", 1.0)))
        pred = fn.get("filter")
        if pred is not None:
            pred = F.expr(pred) if isinstance(pred, str) else pred
            return F.when(pred, val)  # null when unmatched
        return val

    def search_function_score(
        self,
        query,
        field_value_factor: Optional[Dict] = None,
        functions: Optional[List[Dict]] = None,
        boost_mode: str = "multiply",
        score_mode: str = "multiply",
        max_boost: Optional[float] = None,
        k: int = 10,
        join_docs: bool = True,
    ) -> DataFrame:
        """Function-score query — ES `function_score`: rescale the
        inner query's BM25 by document-level signals.  The reference's
        own PageRank re-rank (main.py:243-267, hybrid 0.7·bm25 +
        0.3·rank·100) is exactly this query family; here the signals
        are docs-table columns.

        field_value_factor: {"field": f, "factor": x, "modifier": m,
          "missing": v} — value = modifier(factor · field), per ES
          (modifiers: none/log1p/log2p/ln1p/ln2p/sqrt/square/
          reciprocal); missing fills null fields BEFORE factor.
        functions: list of ES function entries, each optionally gated
          by a docs-table `filter` (SQL string or Column; no filter =
          matches all) and scaled by `weight`:
            {"weight": w}                          — constant
            {"field_value_factor": {...}}          — as above
            {"random_score": {"seed": s,
                              "field": expr}}      — deterministic
              uniform [0, 1): md5 of "seed|field" (doc_id default),
              the reproducible variant of ES's seed+field form (ES
              without seed+field hashes _seq_no — non-reproducible
              across shards; a batch engine pins the hash)
            {"gauss"|"exp"|"linear":
              {field: {"origin": o, "scale": s,
                       "offset": off, "decay": d}}} — ES decay
              functions over numeric or timestamp fields (timestamp:
              ISO origin, "10d"-style durations); docs missing the
              field get 1.0, per ES
          combined across matched functions per score_mode
          (multiply/sum/max/min/avg).  Docs matching NO function keep
          their query score untouched, as in ES.
        boost_mode: how the function value meets the query score —
          multiply/sum/replace/max/min/avg.  max_boost caps the
          function value first.

        Exhaustive inner scoring (reweighting reorders — see
        search_boosting); the signal join is one hash join against
        the column-pruned docs table — every function is a native
        column expression (hash/exp/log arithmetic, no UDF)."""
        if k <= 0:
            return self._empty_scored(join_docs)
        inner = self._clause_scored(query)
        if inner is None:
            return self._empty_scored(join_docs)

        fcols: List[Column] = []
        if field_value_factor:
            fcols.append(self._fvf_col(field_value_factor))
        for fn in functions or []:
            fcols.append(self._function_value(fn))
        if not fcols:
            topk = inner.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            return self._join_docs(topk) if join_docs else topk

        sig_cols = [c.alias(f"_f{i}") for i, c in enumerate(fcols)]
        sig = self.docs.select("doc_id", *sig_cols)
        arr = F.filter(
            F.array(*[F.col(f"_f{i}") for i in range(len(fcols))]),
            lambda x: x.isNotNull(),
        )
        if score_mode == "multiply":
            fv = F.aggregate(arr, F.lit(1.0), lambda a, x: a * x)
        elif score_mode == "sum":
            fv = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
        elif score_mode == "max":
            fv = F.array_max(arr)
        elif score_mode == "min":
            fv = F.array_min(arr)
        elif score_mode == "avg":
            fv = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / F.size(arr)
        else:
            raise ValueError(f"unknown score_mode {score_mode!r}")
        fv = F.when(F.size(arr) > 0, fv)  # no function matched -> null
        if max_boost is not None:
            fv = F.least(fv, F.lit(float(max_boost)))

        s, v = F.col("score"), F.col("_fv")
        if boost_mode == "multiply":
            combined = s * v
        elif boost_mode == "sum":
            combined = s + v
        elif boost_mode == "replace":
            combined = v
        elif boost_mode == "max":
            combined = F.greatest(s, v)
        elif boost_mode == "min":
            combined = F.least(s, v)
        elif boost_mode == "avg":
            combined = (s + v) / F.lit(2.0)
        else:
            raise ValueError(f"unknown boost_mode {boost_mode!r}")
        topk = (
            inner.join(sig.select("doc_id", fv.alias("_fv")), "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("_fv").isNotNull(), combined)
                .otherwise(F.col("score"))
                .alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        return self._join_docs(topk) if join_docs else topk

    def search_script_score(
        self,
        query,
        source: str,
        params: Optional[Dict[str, float]] = None,
        min_score: Optional[float] = None,
        k: int = 10,
        join_docs: bool = True,
    ) -> DataFrame:
        """Script-score query — ES `script_score`: replace the inner
        query's BM25 with a script over `_score`, doc fields, and
        params.  The Painless ARITHMETIC subset is translated to ONE
        native SQL expression (query/painless.py — JVM-side, codegen;
        a script never becomes a Python UDF), so the plan is the inner
        scoring pass + an optional column-pruned docs join for the
        referenced fields + TakeOrderedAndProject.

        Exhaustive inner scoring (an arbitrary script breaks the
        score-monotonicity WAND bounds need).  `min_score` drops docs
        scoring below it, per ES.  ES rejects negative script scores;
        same here (fail-fast at collect would be driver-side, so the
        guard is a documented contract, not a scan)."""
        if k <= 0:
            return self._empty_scored(join_docs)
        inner = self._clause_scored(query)
        if inner is None:
            return self._empty_scored(join_docs)
        sql, fields = painless_to_sql(source, params)
        scored = inner.withColumnRenamed("score", "_score")
        if fields:
            missing = set(fields) - set(self.docs.columns)
            if missing:
                raise ValueError(
                    f"script references unknown doc fields {sorted(missing)}"
                )
            scored = scored.join(
                self.docs.select("doc_id", *fields), "doc_id", "left"
            )
        scored = scored.select(
            "doc_id", F.expr(sql).cast("double").alias("score")
        )
        if min_score is not None:
            scored = scored.filter(F.col("score") >= F.lit(float(min_score)))
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return self._join_docs(topk) if join_docs else topk

    def search_rank_feature(
        self,
        field: str,
        saturation: Optional[Dict] = None,
        log: Optional[Dict] = None,
        sigmoid: Optional[Dict] = None,
        boost: float = 1.0,
        k: int = 10,
        join_docs: bool = True,
    ) -> DataFrame:
        """Rank-feature query — ES `rank_feature`: score every live
        doc purely from a positive numeric per-doc signal (pagerank,
        url_length, ...), usually composed inside a bool `should`.
        Docs missing the field, or with value <= 0, do not match —
        ES's rank_feature field type stores positives only.

        Exactly one scoring shape (default: saturation):
          saturation {pivot}            — S / (S + pivot); no pivot
            given -> the EXACT geometric mean of the field over the
            matching docs (ES approximates the same statistic from
            index metadata; a batch engine computes it in one scalar
            agg — exp(avg(ln S)) — and stays deterministic)
          log {scaling_factor}          — ln(scaling_factor + S)
          sigmoid {pivot, exponent}     — S^e / (S^e + pivot^e)

        Pure docs-table scan (postings never touched), tombstones
        dropped before the k-cut, one TakeOrderedAndProject."""
        if k <= 0:
            return self._empty_scored(join_docs)
        chosen = [n for n, s in
                  (("saturation", saturation), ("log", log),
                   ("sigmoid", sigmoid)) if s is not None]
        if len(chosen) > 1:
            raise ValueError(f"one scoring shape only, got {chosen}")
        feat = F.expr(field).cast("double")
        base = self._drop_tombstones(
            self.docs.select("doc_id", feat.alias("_s"))
        ).filter(F.col("_s") > 0)
        if log is not None:
            sf = float(log["scaling_factor"])
            val = F.log(F.lit(sf) + F.col("_s"))
        elif sigmoid is not None:
            pivot = float(sigmoid["pivot"])
            expo = float(sigmoid["exponent"])
            se = F.pow(F.col("_s"), F.lit(expo))
            val = se / (se + F.lit(pivot ** expo))
        else:
            pivot = (saturation or {}).get("pivot")
            if pivot is None:
                row = base.agg(
                    F.exp(F.avg(F.log(F.col("_s")))).alias("g")
                ).collect()[0]
                if row["g"] is None:
                    return self._empty_scored(join_docs)
                pivot = float(row["g"])
            val = F.col("_s") / (F.col("_s") + F.lit(float(pivot)))
        topk = (
            base.select(
                "doc_id", (F.lit(float(boost)) * val).alias("score")
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        return self._join_docs(topk) if join_docs else topk

    # Pinned-hit score anchor: far above any organic BM25 score, and
    # small enough that PINNED_BASE - i stays EXACT in float64 (2^52 —
    # unit steps are representable; ES's float32 MAX_VALUE/2 anchor
    # would absorb the -i and collapse the request order)
    PINNED_BASE = 2.0 ** 52

    def search_pinned(
        self,
        ids: List[int],
        organic,
        k: int = 10,
        join_docs: bool = True,
    ) -> DataFrame:
        """Pinned query — ES `pinned`: the given doc ids rank first, in
        REQUEST order, above every organic match; organic results
        (minus the pinned ids) follow with their real scores.  ES
        implements this by scoring pin i at a float anchor minus its
        position — mirrored here (PINNED_BASE - i), so the ordinary
        (score desc, doc_id asc) total order serves the whole list and
        search_after cursors keep working across the pinned boundary.

        `organic` takes the _clause_scored spec forms (string = match
        OR; ("match", q, op); ("phrase", q, slop)).  Pinned ids that
        are deleted or unknown are skipped (ES: unmatched pins are
        ignored).  Physical shape: the pin list is a tiny broadcast
        isin against the docs table; the organic clause scores as
        usual and drops the pinned ids with one isin filter (never an
        extra shuffle)."""
        if k <= 0:
            return self._empty_scored(join_docs)
        ids = [int(i) for i in ids]
        if len(set(ids)) != len(ids):
            raise ValueError("pinned ids must be unique")
        frames = []
        if ids:
            rank = F.array_position(
                F.array(*[F.lit(i) for i in ids]), F.col("doc_id")
            )
            pinned = self._drop_tombstones(
                self.docs.select("doc_id").filter(F.col("doc_id").isin(ids))
            ).select(
                "doc_id",
                (F.lit(self.PINNED_BASE)
                 - (rank - 1).cast("double")).alias("score"),
            )
            frames.append(pinned)
        org = self._clause_scored(organic)
        if org is not None:
            if ids:
                org = org.filter(~F.col("doc_id").isin(ids))
            frames.append(org)
        if not frames:
            return self._empty_scored(join_docs)
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        topk = u.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return self._join_docs(topk) if join_docs else topk

    def search_distance_feature(
        self,
        field: str,
        origin,
        pivot,
        boost: float = 1.0,
        k: int = 10,
        join_docs: bool = True,
    ) -> DataFrame:
        """Distance-feature query — ES `distance_feature`: score every
        live doc by its closeness to `origin` in date or numeric
        space: score = boost * pivot / (pivot + |field - origin|)
        (the ES date/numeric shape; geo is out of scope — the corpus
        has no geo fields).  Docs missing the field do not match.

        For a timestamp field, `origin` is an ISO-8601 string (or
        timestamp) and `pivot` a duration string ("7d", "12h", ...);
        distances are computed in milliseconds like ES.  For a numeric
        field both are numbers.  Pure docs-table scan (postings never
        touched), tombstones dropped before the one
        TakeOrderedAndProject — the usual bool-should composition
        happens through the DSL's function_score/should machinery."""
        if k <= 0:
            return self._empty_scored(join_docs)
        dtypes = dict(self.docs.dtypes)
        if field not in dtypes:
            raise ValueError(f"unknown docs column {field!r}")
        if isinstance(pivot, str) and not dtypes[field].startswith(
            "timestamp"
        ):
            raise ValueError("duration pivot on a non-timestamp field")
        if dtypes[field].startswith("timestamp"):
            pivot_ms = (
                float(self._parse_duration(pivot)) * 1000.0
                if isinstance(pivot, str)
                else float(pivot)
            )
            origin_ms = F.unix_millis(
                F.lit(origin).cast("timestamp")
                if isinstance(origin, str)
                else F.lit(origin)
            )
            dist = F.abs(
                F.unix_millis(F.col(field)).cast("double")
                - origin_ms.cast("double")
            )
            pv = F.lit(pivot_ms)
        else:
            dist = F.abs(
                F.col(field).cast("double") - F.lit(float(origin))
            )
            pv = F.lit(float(pivot))
        score = F.lit(float(boost)) * pv / (pv + dist)
        topk = (
            self._drop_tombstones(
                self.docs.filter(F.col(field).isNotNull())
            )
            .select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        return self._join_docs(topk) if join_docs else topk

    def search_rescore(
        self,
        query,
        rescore_query,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_query_weight: float = 1.0,
        k: int = 10,
        join_docs: bool = True,
    ) -> DataFrame:
        """Query rescoring — the ES `rescore` request section: take the
        top window_size hits of the cheap first-pass query, re-score
        each with an expensive second query (typically a match_phrase
        for proximity), and re-sort the window by query_weight ×
        original + rescore_query_weight × rescore score (ES
        score_mode=total, the default; docs the rescore query misses
        keep query_weight × original).  k must be ≤ window_size — ES
        returns only the rescored window.

        Physical plan: the first pass is the normal θ-pruned blockmax
        top-window (exact); its ≤ window_size ids collect driver-side
        (the search_after/collect-gate pattern) and push into the
        phrase pass's Arrow decode as a candidate mask, so the second
        pass decodes O(window ∩ rarest-term-df) postings, never the
        full phrase posting range.  rescore_query takes the
        _clause_scored spec forms (("phrase", q, slop) is the ES
        shape; strings = match OR)."""
        if k <= 0:
            return self._empty_scored(join_docs)
        if k > window_size:
            raise ValueError(
                f"k ({k}) must be <= window_size ({window_size}) — ES "
                "rescoring returns only the rescored window"
            )
        rows = self.search(query, k=window_size, join_docs=False).collect()
        if not rows:
            return self._empty_scored(join_docs)
        ids = np.unique(np.array([int(r["doc_id"]) for r in rows], np.int64))
        if isinstance(rescore_query, tuple) and rescore_query[0] == "phrase":
            resc = self._phrase_scored(
                rescore_query[1],
                slop=int(rescore_query[2]) if len(rescore_query) > 2 else 0,
                cand=ids,
            )
        else:
            resc = self._clause_scored(rescore_query)
        qw, rw = float(query_weight), float(rescore_query_weight)
        # the window is already driver-side (≤ window_size rows) and the
        # rescore pass returns ≤ window_size masked rows — combine here
        # rather than outer-joining a broadcast against the preserved
        # side (which Spark cannot build-side a broadcast for)
        rs: Dict[int, float] = {}
        if resc is not None:
            for r in resc.filter(
                F.col("doc_id").isin([int(i) for i in ids])
            ).collect():
                rs[int(r["doc_id"])] = float(r["score"])
        combined = sorted(
            (
                (int(r["doc_id"]),
                 qw * float(r["score"]) + rw * rs.get(int(r["doc_id"]), 0.0))
                for r in rows
            ),
            key=lambda t: (-t[1], t[0]),
        )[:k]
        topk = self.spark.createDataFrame(
            combined, "doc_id long, score double"
        )
        return self._join_docs(topk) if join_docs else topk

    def search_collapse(
        self,
        query,
        field,
        k: int = 10,
        join_docs: bool = True,
        predicate=None,
        inner_hits_size: int = 0,
    ) -> DataFrame:
        """Field collapsing — the ES top-level `collapse` parameter:
        the top-k results keeping only the BEST-scoring doc per value
        of `field` ("one result per site").  Ordering is the usual
        total order (score desc, doc_id asc) over the representatives.

        Physical plan: exhaustive scoring over the query terms'
        postings (the per-value argmax cannot be WAND-pruned — a
        collapsed winner may rank below θ globally yet be its group's
        best), one hash join to attach the value, a row_number window
        per value for the argmax, then the global
        TakeOrderedAndProject.  Docs with a null collapse field are
        dropped, as in ES.  Returns (doc_id, score, value).

        inner_hits_size > 0 — the ES collapse `inner_hits` section:
        each representative also carries its group's top
        inner_hits_size matches (including itself) as
        `inner_hits: array<struct<doc_id, score>>` in group rank order
        (score desc, doc_id asc).  The SAME window pass that ranks the
        argmax feeds the inner lists (rn <= size -> sorted
        collect_list) — no second scoring job."""
        empty = self.spark.createDataFrame(
            [], "doc_id long, score double, value string"
        )
        scored = self._or_scored(query) if k > 0 else None
        if scored is None:
            return self._join_docs(empty) if join_docs else empty
        docs = self.docs
        if predicate is not None:
            docs = docs.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        vals = docs.select(
            "doc_id", F.expr(field).cast("string").alias("value")
        ).filter(F.col("value").isNotNull())
        w = Window.partitionBy("value").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        ranked = scored.join(vals, "doc_id").withColumn(
            "_rn", F.row_number().over(w)
        )
        if inner_hits_size > 0:
            inner = (
                ranked.filter(F.col("_rn") <= int(inner_hits_size))
                .groupBy("value")
                .agg(
                    F.array_sort(
                        F.collect_list(
                            F.struct("_rn", "doc_id", "score")
                        )
                    ).alias("_ih")
                )
                .select(
                    "value",
                    F.transform(
                        "_ih",
                        lambda x: F.struct(
                            x["doc_id"].alias("doc_id"),
                            x["score"].alias("score"),
                        ),
                    ).alias("inner_hits"),
                )
            )
            topk = (
                ranked.filter(F.col("_rn") == 1)
                .select("doc_id", "score", "value")
                .join(inner, "value")
                .select("doc_id", "score", "value", "inner_hits")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        else:
            topk = (
                ranked.filter(F.col("_rn") == 1)
                .select("doc_id", "score", "value")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        if not join_docs:
            return topk
        extra = [c for c in ("value", "inner_hits") if c in topk.columns]
        return self._join_docs(topk.select("doc_id", "score")).join(
            F.broadcast(topk.select("doc_id", *extra)), "doc_id"
        )

    def search_sorted(
        self,
        query,
        sort,
        k: int = 10,
        mode: str = "or",
        predicate=None,
        track_scores: bool = False,
        join_docs: bool = True,
    ) -> DataFrame:
        """Field-sorted search — the ES request-body `sort` section:
        the hits of `query`, ordered by metadata sort keys instead of
        relevance (main use in the reference's domain: newest-first
        `warc_ts desc` result feeds).

        sort: list of (field, "asc"|"desc") pairs over the docs-table
        metadata columns (url, domain, warc_ts, doclen, doc_id) plus
        the pseudo-field "_score" (BM25, like ES).  doc_id asc is the
        pinned final tie-break (ES's internal-doc-order equivalent,
        made deterministic).

        ES scoring semantics kept: sorting by fields alone skips
        scoring entirely (score column is null) unless
        track_scores=True; a "_score" key anywhere forces it.

        Physical plan by whether scores are needed:
          * fields-only — the ids-only `_matched_ids` pre-pass (only
            the doc_ids byte columns decode; tfs/doclens stay packed),
            semi-joined to the filter, then ONE column-pruned docs
            join and a TakeOrderedAndProject over the sort keys.  No
            scoring work at all, exactly like Lucene skipping the
            scorer under field sorts.
          * scored — the exhaustive `_or_scored` pass: a field-sorted
            winner can sit anywhere in the relevance order, so no
            θ/WAND cut is sound; every match must score (same
            documented rule as collapse/dis_max).
        """
        if k <= 0:
            return self._empty_scored(join_docs)
        sort = [tuple(s) for s in sort]
        fields = [f for f, _ in sort]
        bad = set(fields) - set(self.docs.columns) - {"_score"}
        if bad:
            raise ValueError(f"unknown sort fields {sorted(bad)!r} "
                             "(docs-table columns or _score)")
        need_scores = track_scores or "_score" in fields
        if need_scores and query is None:
            # match_all: ES scores every live doc a constant 1.0
            base = self._drop_tombstones(
                self.docs.select("doc_id")
            ).withColumn("score", F.lit(1.0))
            if predicate is not None:
                allowed = self.docs.filter(
                    F.expr(predicate) if isinstance(predicate, str)
                    else predicate
                ).select("doc_id")
                base = base.join(allowed, "doc_id", "left_semi")
        elif need_scores:
            base = self._or_scored(query, mode=mode)
            if base is not None and predicate is not None:
                allowed = self.docs.filter(
                    F.expr(predicate) if isinstance(predicate, str)
                    else predicate
                ).select("doc_id")
                base = base.join(allowed, "doc_id", "left_semi")
        else:
            base = self._matched_ids(query, mode=mode, predicate=predicate)
            if base is not None:
                base = base.select(
                    "doc_id", F.lit(None).cast("double").alias("score")
                )
        if base is None:
            return self._empty_scored(join_docs)
        sort_cols = [c for c in fields if c != "_score"]
        if sort_cols:
            base = base.join(
                self.docs.select("doc_id", *sort_cols), "doc_id"
            )
        order = [
            (F.desc if d == "desc" else F.asc)(
                "score" if f == "_score" else f
            )
            for f, d in sort
        ] + [F.asc("doc_id")]
        topk = base.orderBy(*order).limit(k)
        if not join_docs:
            return topk
        keep = topk.select("doc_id", "score", *sort_cols)
        joined = self._join_docs(keep.select("doc_id", "score"))
        if sort_cols:
            extra = [c for c in sort_cols if c not in joined.columns]
            if extra:
                joined = joined.join(
                    F.broadcast(keep.select("doc_id", *extra)), "doc_id"
                )
        return joined.orderBy(*order)

    def significant_terms(
        self,
        query,
        size: int = 10,
        min_doc_count: int = 3,
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Significant-terms aggregation — the ES `significant_terms`
        agg over the indexed text: terms overrepresented in the docs
        matching the query (foreground) vs the whole index
        (background), scored with ES's JLH heuristic
        `score = (fgPct − bgPct) · (fgPct / bgPct)` where
        fgPct = fg_count/fg_size and bgPct = df/N.  Positive-score
        buckets only (fgPct must exceed bgPct), fg doc count ≥
        min_doc_count (ES default 3), top `size` by score desc then
        term asc.  Like ES, the query's own terms are not excluded
        (they are simply maximally significant), and background stats
        are Lucene-stale under deletes until compact_index.

        Physical plan: the matched-ids pre-pass bounds the foreground;
        when it fits filter_collect_max the ids ride into the Arrow
        ids-only decode as a candidate mask, so the all-terms pass
        emits ONLY foreground (term, doc_id) rows — the shuffle is
        O(fg_size · distinct terms per doc), not O(index).  The scan
        itself is the full-postings background read this aggregation
        inherently costs (ES pays the same through per-doc term
        vectors or field data over the hits).  Broader foregrounds
        fall back to unmasked decode + semi-join.  Background df comes
        free from term_stats — no second pass over the index."""
        empty = self.spark.createDataFrame(
            [], "term string, fg_count long, bg_count long, score double"
        )
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return empty
        fg_size = matched.count()
        if fg_size == 0:
            return empty
        # content-field terms only: a fielded index carries t!/d!
        # namespaced title/description postings that would double-count
        # the same word as separate buckets (every dictionary expander
        # applies the same exclusion)
        blocks = self.postings.select("term", "count", "doc_ids").filter(
            ~F.col("term").contains("!")
        )
        if fg_size <= self.filter_collect_max:
            # fast path: count masked candidates per block INSIDE Arrow
            # — partial aggregation before the shuffle, one row per
            # (term, partition) instead of one per matched posting
            cand = np.unique(matched.toPandas()["doc_id"].to_numpy(np.int64))
            fg = (
                blocks.mapInPandas(
                    _decode_term_fg_counts(cand), schema="term string, fg long"
                )
                .groupBy("term")
                .agg(F.sum("fg").alias("fg_count"))
            )
        else:
            pairs = blocks.mapInPandas(
                _decode_term_doc_ids(None), schema="term string, doc_id long"
            ).join(matched, "doc_id", "left_semi")
            fg = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("fg_count"))
        fg_pct = F.col("fg_count") / F.lit(float(fg_size))
        bg_pct = F.col("bg_count") / F.lit(float(self.n_docs))
        return (
            fg.join(
                self.term_stats.select("term", F.col("df").alias("bg_count")),
                "term",
            )
            .filter(F.col("fg_count") >= int(min_doc_count))
            .withColumn("score", (fg_pct - bg_pct) * (fg_pct / bg_pct))
            .filter(F.col("score") > 0)
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(size)
        )

    def facet_cardinality(
        self,
        query,
        field,
        mode: str = "or",
        predicate=None,
        approx: bool = False,
        rsd: float = 0.05,
    ) -> int:
        """Cardinality aggregation — the ES `cardinality` agg: the
        number of distinct values of `field` among the matching docs.
        ES is ALWAYS approximate here (HyperLogLog++, precision_threshold
        ≈ rsd); `approx=True` is the same algorithm via Spark's
        approx_count_distinct — constant memory per partition, one
        sketch-merge shuffle row per partition, the only sane plan at
        10^12 docs.  The default is exact (count distinct — a real
        shuffle of the distinct values), which small-scale tests and
        oracles can pin; flip to approx when the value domain is large.
        Nulls are ignored, as in ES."""
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return 0
        vals = matched.join(
            self.docs.select("doc_id", F.expr(field).alias("_v")), "doc_id"
        ).filter(F.col("_v").isNotNull())
        agg = (
            F.approx_count_distinct("_v", rsd) if approx
            else F.countDistinct("_v")
        )
        return int(vals.agg(agg.alias("n")).collect()[0]["n"])

    def facet_composite(
        self,
        query,
        fields: List[str],
        size: int = 10,
        after: Optional[Tuple] = None,
        mode: str = "or",
        predicate=None,
    ) -> DataFrame:
        """Composite aggregation — the ES `composite` agg: pages
        through ALL buckets of a multi-field key in key order, `size`
        buckets per page, resuming strictly after the `after` key tuple
        (the previous page's last bucket).  This is the scale path for
        full bucket enumeration: a `terms` agg materializes + sorts
        every bucket per request to cut the global top-N, while
        composite's key-ordered cursor makes page N cost the same
        one groupBy + TakeOrderedAndProject as page 1 — the exact
        bucket analogue of search_after vs from/size.  Key order is
        each field asc, nulls excluded (ES composite skips documents
        missing a source unless missing_bucket is set).

        Each element of `fields` is a plain column name (a terms
        source, back-compat) or an ES source spec:
          {"terms": {"field": f}}                          string key
          {"histogram": {"field": f, "interval": i}}       double key
                                                           floor(v/i)*i
          {"date_histogram": {"field": f,
                              "calendar_interval": unit}}  date_trunc
        Histogram keys stay NUMERIC (natural order + typed after
        cursor — string-cast would sort "10" before "9"); date keys
        are date_trunc timestamps rendered as ISO strings, whose
        lexicographic order IS chronological order."""
        if not fields:
            raise ValueError("fields must be non-empty")

        def _source(i: int, s):
            """(key column expr, after-literal caster, schema type)"""
            if isinstance(s, str):
                s = {"terms": {"field": s}}
            if not isinstance(s, dict) or len(s) != 1:
                raise ValueError(f"bad composite source {s!r}")
            kind, b = next(iter(s.items()))
            f = b["field"]
            if kind == "terms":
                return (F.expr(f).cast("string"),
                        lambda v: F.lit(str(v)), "string")
            if kind == "histogram":
                iv = float(b["interval"])
                if iv <= 0:
                    raise ValueError("histogram interval must be > 0")
                col = (
                    F.floor(F.expr(f).cast("double") / F.lit(iv))
                    * F.lit(iv)
                )
                return col, (lambda v: F.lit(float(v))), "double"
            if kind == "date_histogram":
                unit = b.get("calendar_interval") or b.get(
                    "fixed_interval"
                )
                if unit not in ("year", "quarter", "month", "week",
                                "day", "hour", "minute"):
                    raise NotImplementedError(
                        f"composite date_histogram interval {unit!r}"
                    )
                col = F.date_format(
                    F.date_trunc(unit, F.expr(f)),
                    "yyyy-MM-dd HH:mm:ss",
                )
                return col, (lambda v: F.lit(str(v))), "string"
            raise NotImplementedError(f"composite source {kind!r}")

        srcs = [_source(i, s) for i, s in enumerate(fields)]
        empty = self.spark.createDataFrame(
            [],
            ", ".join(f"k{i} {t}" for i, (_, _, t) in enumerate(srcs))
            + ", doc_count long",
        )
        matched = self._matched_ids(query, mode, predicate)
        if matched is None:
            return empty
        keys = [col.alias(f"k{i}") for i, (col, _, _) in enumerate(srcs)]
        vals = matched.join(self.docs.select("doc_id", *keys), "doc_id")
        for i in range(len(fields)):
            vals = vals.filter(F.col(f"k{i}").isNotNull())
        buckets = vals.groupBy(*[f"k{i}" for i in range(len(fields))]).agg(
            F.count(F.lit(1)).alias("doc_count")
        )
        if after is not None:
            if len(after) != len(fields):
                raise ValueError("after must have one value per field")
            # lexicographic strictly-greater: OR over prefix-equal cuts
            cond = F.lit(False)
            for i in range(len(fields)):
                c = F.col(f"k{i}") > srcs[i][1](after[i])
                for j in range(i):
                    c = c & (F.col(f"k{j}") == srcs[j][1](after[j]))
                cond = cond | c
            buckets = buckets.filter(cond)
        return buckets.orderBy(
            *[F.asc(f"k{i}") for i in range(len(fields))]
        ).limit(size)

    def more_like_this(
        self,
        like_text: str,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        mode: str = "blockmax",
        join_docs: bool = True,
        exclude_doc_id=None,  # int or list of ints
        like_tf: Optional[Dict[str, int]] = None,
    ) -> DataFrame:
        """More-like-this — the ES `more_like_this` query over `like`
        text (defaults mirror ES: max_query_terms=25, min_term_freq=2,
        min_doc_freq=5).  Interesting terms are selected from the input
        text by tf × idf (our BM25 idf, so selection and scoring share
        one formula; ties break term-asc), then the selection runs as a
        plain OR search — pruning, merge-awareness, and tie-breaks all
        inherited.  The selection itself is driver-side O(|like_text|)
        plus one term-stats lookup: the input is a query, not data.

        exclude_doc_id drops the source doc(s) when `like` came from
        indexed documents (ES MLT's `like: {_id}` behavior of never
        returning the liked doc itself) — an int or a list of ints.

        like_tf adds pre-counted term frequencies to the input (the
        `like: [{"_id": n}]` form: a liked DOC's tf map recovered from
        term_vectors — the index stores no raw content, but MLT's
        selection needs only counts, not order)."""
        from collections import Counter

        tf = Counter(tokenize_py(like_text))
        if like_tf:
            for t, c in like_tf.items():
                tf[t] += int(c)
        cands = sorted(t for t, c in tf.items() if c >= min_term_freq)
        stats = self._query_stats(cands)
        scored_terms = [
            (tf[t] * idf_py(self.n_docs, stats[t][0]), t)
            for t in cands
            if t in stats and stats[t][0] >= min_doc_freq
        ]
        scored_terms.sort(key=lambda x: (-x[0], x[1]))
        selected = [t for _, t in scored_terms[:max_query_terms]]
        if not selected:
            return self._empty_scored(join_docs)
        exclude = None
        n_excl = 0
        if exclude_doc_id is not None:
            ids = (
                [int(exclude_doc_id)]
                if isinstance(exclude_doc_id, int)
                else sorted(int(i) for i in exclude_doc_id)
            )
            if ids:
                exclude = self.spark.createDataFrame(
                    [(i,) for i in ids], "doc_id long"
                )
                n_excl = len(ids)
        return self.search(
            selected, k=k, mode=mode, join_docs=join_docs,
            exclude=exclude, exclude_df_sum=n_excl,
        )

    def _resolve_doc_ids(self, docs) -> set:
        """urls / raw doc_ids (mixed) -> LIVE doc_id set: urls resolve
        through the docs table, tombstoned ids are dropped either way.
        Point-lookup scale: one url-pushdown docs scan + (merged index
        only) one tiny tombstone probe."""
        if isinstance(docs, (str, int)):
            docs = [docs]
        urls = sorted({d for d in docs if isinstance(d, str)})
        ids = {int(d) for d in docs if not isinstance(d, str)}
        if urls:
            resolved = self._drop_tombstones(
                self.docs.filter(F.col("url").isin(urls)).select("doc_id")
            ).collect()
            ids.update(int(r["doc_id"]) for r in resolved)
        if ids and self.tombstones is not None:
            dead = self.tombstones.filter(
                F.col("doc_id").isin(sorted(ids))
            ).collect()
            ids -= {int(r["doc_id"]) for r in dead}
        return ids

    def get_docs(self, docs) -> DataFrame:
        """Document retrieval — the ES `GET /_doc/{id}` / `_mget` API:
        the docs-table rows (metadata the reference keeps in Postgres
        `pages` + the ES `_source`) for urls and/or doc_ids, LIVE docs
        only (a deleted or re-crawled-away doc 404s by absence, like
        ES after a delete).  Point-lookup scale: doc_id isin() pushdown
        prunes parquet row groups on the doc_id-sorted docs layout."""
        from search_engine_spark import schemas

        ids = self._resolve_doc_ids(docs)
        if not ids:
            return self.spark.createDataFrame([], schemas.DOCS)
        return self.docs.filter(
            F.col("doc_id").isin(sorted(ids))
        ).orderBy("doc_id")

    def explain_doc(self, query, doc) -> dict:
        """Single-document score explanation — the ES
        `GET /{index}/_explain/{id}` API: why (and exactly how) one
        document scores against a query.  Returns a dict shaped like
        ES's response: `found` (doc exists and is live), `matched`
        (≥1 query term present), total `score`, and per-term `details`
        rows (tf, df, idf, tf_norm saturation factor, contribution),
        term-ascending.  Deleted docs report found=False, never stale
        vectors.

        Scale shape: ES answers _explain from one shard's reader; here
        it is one point-lookup job — the term-vectors decode restricted
        to the QUERY's terms (term_bucket + term pushdown) and this one
        doc (block-range pushdown on first/last_doc_id) — plus a
        doc_id-pushdown docs-row read; all scoring math is driver-side
        scalar arithmetic on broadcast stats, the same k1/b/idf as the
        engine (a drift here would lie about ranking, so the test pins
        explain_doc's total against search(explain=True))."""
        from search_engine_spark.index.scoring import score_py

        terms = sorted(
            set(query) if isinstance(query, list) else set(tokenize_py(query))
        )
        ids = self._resolve_doc_ids(doc)
        if len(ids) > 1:
            raise ValueError("explain_doc explains exactly one document")
        base = {"found": False, "matched": False, "score": 0.0, "details": []}
        if not ids:
            return base
        doc_id = next(iter(ids))
        row = self.docs.filter(F.col("doc_id") == doc_id).select(
            "doclen"
        ).collect()
        if not row:
            return base
        dl = int(row[0]["doclen"])
        stats = self._query_stats(terms)
        q = [t for t in terms if t in stats]
        details: List[dict] = []
        total = 0.0
        if q:
            buckets = sorted({stats[t][2] for t in q})
            cand = np.array([doc_id], dtype=np.int64)
            rows = (
                self.postings.filter(
                    F.col("term_bucket").isin(buckets)
                    & F.col("term").isin(q)
                    & (F.col("first_doc_id") <= doc_id)
                    & (F.col("last_doc_id") >= doc_id)
                )
                .select("term", "count", "doc_ids", "tfs")
                .mapInPandas(
                    _decode_term_vectors(cand, False),
                    schema="doc_id long, term string, tf long",
                )
                .collect()
            )
            tf_by_term = {r["term"]: int(r["tf"]) for r in rows}
            for t in q:
                tf = tf_by_term.get(t, 0)
                if tf == 0:
                    continue
                idf = idf_py(self.n_docs, stats[t][0])
                c = score_py(tf, dl, idf, self.avgdl)
                details.append(
                    {
                        "term": t,
                        "tf": tf,
                        "df": stats[t][0],
                        "idf": idf,
                        "tf_norm": c / idf,
                        "contribution": c,
                    }
                )
                total += c
        return {
            "found": True,
            "doc_id": doc_id,
            "matched": bool(details),
            "score": total,
            "doclen": dl,
            "avgdl": self.avgdl,
            "details": details,
        }

    def term_vectors(
        self,
        docs,  # url str / doc_id int, or a list of either (mixed OK)
        with_positions: bool = False,
        term_statistics: bool = False,
        max_docs: int = 1024,
    ) -> DataFrame:
        """Per-document term vectors — the ES `_termvectors` /
        `_mtermvectors` API (the reference's ES index serves it over
        the documents indexer.py:236-247 writes).  Returns one row per
        (doc_id, term): `tf`, plus `positions array<long>` when
        with_positions=True (0-based offsets in the filtered token
        stream, same convention as phrase search), plus the term's
        corpus `df` when term_statistics=True (ES term_statistics).

        This is a DOC-major point lookup over a TERM-major index, the
        inverse access path of every search — exactly like ES, which
        re-derives term vectors per requested doc rather than scanning
        the index.  Scale shape: the posting scan is pruned by an
        OR-of-ranges predicate on the (first_doc_id, last_doc_id)
        block bounds — blocks are doc_id-sorted runs, so parquet
        row-group min/max stats skip everything outside the requested
        ids' neighborhoods — and the Arrow decoder decodes ids first,
        skipping tf/position payloads of blocks with no candidate hit.
        Requested-doc count is capped (max_docs, ES-style small-batch
        API): corpus-WIDE term vectors are a rebuild-shaped job (the
        builder's tokens stage), not a point API.

        Tombstone-aware: a merged index resolves urls to their LIVE
        doc_id and never reports a deleted doc's vector."""
        ids = self._resolve_doc_ids(docs)
        if len(ids) > max_docs:
            raise ValueError(
                f"term_vectors is a point-lookup API: {len(ids)} docs "
                f"requested > max_docs={max_docs}; corpus-wide vectors "
                "come from the build's tokens stage, not the index"
            )
        schema = "doc_id long, term string, tf long"
        if with_positions:
            schema += ", positions array<long>"
        source = self._pos_postings() if with_positions else self.postings
        if not ids:
            out = self.spark.createDataFrame([], schema)
        else:
            cand = np.array(sorted(ids), dtype=np.int64)
            hit = None
            for i in cand:
                rng = (F.col("first_doc_id") <= int(i)) & (
                    F.col("last_doc_id") >= int(i)
                )
                hit = rng if hit is None else (hit | rng)
            cols = ["term", "count", "doc_ids"]
            cols += (
                ["pos_counts", "positions"] if with_positions else ["tfs"]
            )
            out = (
                source.filter(hit)
                .select(*cols)
                .mapInPandas(
                    _decode_term_vectors(cand, with_positions), schema=schema
                )
            )
        if term_statistics:
            # broadcast the tiny decoded vector INTO the dictionary
            # scan — never the (web-scale) term_stats side
            out_cols = ["doc_id", "term", "tf"] + (
                ["positions"] if with_positions else []
            )
            out = self.term_stats.select("term", "df").join(
                F.broadcast(out), "term"
            ).select(*out_cols, "df")
        return out.orderBy("doc_id", "term")

    def search_boolean(
        self,
        query: str,
        k: int = 10,
        mode: str = "blockmax",
        join_docs: bool = True,
        force_and: bool = False,
    ) -> DataFrame:
        """Boolean search — EXECUTES the AND/OR/NOT structure the
        reference only parses (QueryProcessor.parse_query,
        tfidf.py:589-626: the operator flags are returned and ignored
        downstream).  ES bool-query semantics:

          * positive terms are `should` clauses (OR) by default; an
            ` AND ` anywhere makes them `must` (conjunctive C4
            AND-mode, SURVEY.md §2.C4)
          * terms after ` NOT ` are `must_not`: a pure filter realized
            as an anti-join of decoded doc ids — never scored, exactly
            like ES (filter context contributes 0)
          * scores are the plain BM25 sum over positive terms, so a
            boolean result ranks identically to `search` on the same
            positive terms restricted to the surviving docs
          * quoted phrases are `must` match_phrase clauses: every
            phrase must occur (positional postings, search_phrase
            semantics), scored as a pseudo-term and ADDED to the term
            scores — bare terms then act as should (or must under AND)
            on top of the phrase-qualified docs; a phrase AFTER NOT is
            a must_not clause: its matching docs are excluded unscored
          * conjunctive semantics key on an ` AND ` within the POSITIVE
            segment (ParsedQuery.positive_and) — an AND between negated
            operands must not force must-mode on the positive terms

        Pure negation ("NOT spam", 'NOT "spam run"') returns empty: the
        reference has no match_all, and at 10^12 docs "everything
        except X" is not a rankable result set.

        force_and=True makes the positive segment conjunctive without
        textual AND injection — the ES query_string
        `default_operator=and` / simple_query_string `+` lowering seam
        (query/dsl.py); it sets ParsedQuery.positive_and so BOTH the
        terms-only and the phrase paths key must-mode identically.
        """
        p = parse_query(query)
        if force_and:
            p.positive_and = True
        if p.phrases or p.not_phrases:
            return self._boolean_with_phrases(p, k, mode, join_docs)
        if not p.terms:
            return self._empty_scored(join_docs)
        exclude, df_sum = self._excluded_docs(sorted(set(p.not_terms)))
        return self.search(
            p.terms,
            k=k,
            mode="and" if p.positive_and else mode,
            join_docs=join_docs,
            exclude=exclude,
            exclude_df_sum=df_sum,
        )

    def _boolean_exclusion(self, p) -> Tuple[Optional[DataFrame], int]:
        """Combined must_not doc set: negated terms' postings plus the
        match-doc sets of negated phrases.  The size bound adds each
        negated phrase's rarest-term df (its match count can't exceed
        it) so the broadcast/θ-seed gates stay honest."""
        exclude, df_sum = self._excluded_docs(sorted(set(p.not_terms)))
        for nq in sorted(set(p.not_phrases)):
            s = self._phrase_scored(nq)
            if s is None:  # unindexed/empty phrase matches nothing
                continue
            ids = s.select("doc_id")
            exclude = ids if exclude is None else exclude.unionByName(ids)
            stats = self._query_stats(sorted(set(tokenize_py(nq))))
            if stats:
                df_sum += min(v[0] for v in stats.values())
        return exclude, df_sum

    def _boolean_with_phrases(
        self, p, k: int, mode: str, join_docs: bool
    ) -> DataFrame:
        """bool query with match_phrase clauses (must and/or must_not).
        No block-max pruning on the must-phrase path: qualification
        comes from the phrase intersection, which is already bounded by
        the rarest phrase term's df — the effective prune.  Unindexed
        bare terms are dropped (same as search/topk_and); an unindexed
        MUST-phrase term empties the result (conjunctive), an unindexed
        must_not phrase excludes nothing."""
        if k <= 0:
            return self._empty_scored(join_docs)
        if not p.terms and not p.phrases:
            return self._empty_scored(join_docs)
        exclude, df_sum = self._boolean_exclusion(p)

        if not p.phrases:
            # terms-only positives with phrase/term exclusion
            return self.search(
                p.terms,
                k=k,
                mode="and" if p.positive_and else mode,
                join_docs=join_docs,
                exclude=exclude,
                exclude_df_sum=df_sum,
            )

        ph: Optional[DataFrame] = None
        for q in p.phrases:
            s = self._phrase_scored(q)
            if s is None:
                return self._empty_scored(join_docs)
            if ph is None:
                ph = s
            else:
                ph = (
                    ph.join(s.select("doc_id", F.col("score").alias("_ps")),
                            "doc_id")
                    .select(
                        "doc_id",
                        (F.col("score") + F.col("_ps")).alias("score"),
                    )
                )
        terms = sorted(set(p.terms))
        stats = self._query_stats(terms)
        terms = [t for t in terms if t in stats]
        if getattr(p, "terms_required", False) and p.terms and not terms:
            # a REQUIRED match clause whose terms are all unindexed can
            # match nothing (ES bool.must semantics)
            return self._empty_scored(join_docs)
        if terms:
            # Result docs ⊆ matches of every must phrase ⊆ docs(rarest
            # term of phrase 1) — when that bound is tiny next to the
            # bare terms' Σ df (Zipf-head should-terms beside a rare
            # phrase), collect it and gate the term decode on it.  Same
            # cost model as the conjunctive candidate gate: the id set
            # must stay small driver-side state AND the spared decode+
            # shuffle volume must clear the extra job's fixed cost.
            term_cand = None
            ptoks = sorted(set(tokenize_py(p.phrases[0])))
            pstats = self._query_stats(ptoks)
            if ptoks and all(t in pstats for t in ptoks):
                rare = min(ptoks, key=lambda t: (pstats[t][0], t))
                lo = pstats[rare][0]
                spared = sum(stats[t][0] for t in terms) - len(terms) * lo
                if (
                    lo <= self.phrase_cand_max_df
                    and spared >= self.phrase_cand_min_pruned
                ):
                    term_cand = self._term_doc_ids(rare, pstats)
                    if not len(term_cand):
                        return self._empty_scored(join_docs)
            idf_by_term = {t: idf_py(self.n_docs, stats[t][0]) for t in terms}
            buckets = sorted({stats[t][2] for t in terms})
            blocks = self.postings.filter(
                F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
            )
            tsc = (
                self._decode_contribs(blocks, idf_by_term, cand=term_cand)
                .groupBy("doc_id")
                .agg(
                    F.sum("contrib").alias("_ts"),
                    F.count(F.lit(1)).alias("_nt"),
                )
            )
            if p.positive_and:
                # must terms: phrase docs must also hold every term
                ph = (
                    ph.join(tsc.filter(F.col("_nt") == len(terms)), "doc_id")
                    .select(
                        "doc_id",
                        (F.col("score") + F.col("_ts")).alias("score"),
                    )
                )
            elif getattr(p, "terms_required", False):
                # ES bool.must OR-match: >=1 of the clause's terms must
                # hold in addition to the phrases (inner join — tsc rows
                # exist only for docs holding >=1 term)
                ph = (
                    ph.join(tsc, "doc_id")
                    .select(
                        "doc_id",
                        (F.col("score") + F.col("_ts")).alias("score"),
                    )
                )
            else:
                # should terms: optional, add score where present
                ph = (
                    ph.join(tsc, "doc_id", "left")
                    .select(
                        "doc_id",
                        (
                            F.col("score")
                            + F.coalesce(F.col("_ts"), F.lit(0.0))
                        ).alias("score"),
                    )
                )
        if exclude is not None:
            rhs = (
                F.broadcast(exclude)
                if df_sum <= self.not_broadcast_max_df
                else exclude
            )
            ph = ph.join(rhs, "doc_id", "left_anti")
        topk = ph.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if not join_docs:
            return topk
        return self._join_docs(topk)

    def _seed_theta(
        self,
        terms: List[str],
        stats,
        idf_by_term: Dict[str, float],
        k: int,
        avgdl=None,
        multiplier: Optional[Dict[str, float]] = None,
        exclude: Optional[DataFrame] = None,
        exclude_bcast: bool = False,
        cand: Optional[np.ndarray] = None,
    ) -> float:
        """θ = k-th best single-term contribution (×multiplier) of the
        rarest sufficiently-large term — a valid lower bound on the
        k-th best total score: every total ≥ any one of its per-term
        contributions (single-field sum; best_fields via the boosted
        field containing the term).

        Only the highest-block_max blocks are decoded: the k-th best
        contribution within ANY ≥k-posting subset is ≤ the true k-th
        best (adding postings only pushes rank-k up), so it remains a
        valid lower bound while decoding O(k) postings instead of the
        term's full df — the difference between O(k) and O(10^9) Arrow
        work for a Zipf-head term at full scale.

        avgdl: scalar (default self.avgdl) or per-term dict (fielded);
        multiplier: per-term factor applied to θ (field boosts).
        Cost gate: terms at df ≤ max(k, seed_min_df) are skipped — the
        scan they would prune is already cheaper than the seed job."""
        cands = [t for t in terms if stats[t][0] > max(k, self.seed_min_df)]
        if not cands:
            return 0.0
        rare = min(cands, key=lambda t: stats[t][0])
        avgdl = self.avgdl if avgdl is None else avgdl
        rare_avgdl = avgdl[rare] if isinstance(avgdl, dict) else avgdl
        n_blocks = max(2, -(-k // 128) + 1)  # ≥ k postings from full blocks
        rare_blocks = (
            self.postings.filter(
                (F.col("term_bucket") == stats[rare][2]) & (F.col("term") == rare)
            )
            .orderBy(F.desc("block_max_score"))
            .limit(n_blocks)
        )
        # cand (filter context): seeds outside the include set can't be
        # results, so they must not raise θ — mask them in the decode
        seeds = rare_blocks.select(
            "term", "count", "doc_ids", "tfs", "doclens"
        ).mapInPandas(
            _decode_and_score({rare: idf_by_term[rare]}, rare_avgdl, cand=cand),
            schema=_CONTRIB_SCHEMA,
        )
        # a tombstoned doc can't be in the final top-k, so its
        # contribution must not raise θ (over-pruning)
        seeds = self._drop_tombstones(seeds)
        if exclude is not None:
            # same argument for must_not-excluded docs: a seed the
            # exclusion removes from the result set must not raise θ
            seeds = seeds.join(
                F.broadcast(exclude) if exclude_bcast else exclude,
                "doc_id",
                "left_anti",
            )
        rows = seeds.orderBy(F.desc("contrib")).limit(k).collect()
        if not rows or len(rows) < k:
            return 0.0
        mult = multiplier.get(rare, 1.0) if multiplier else 1.0
        return float(mult) * float(rows[-1]["contrib"])

    def _field_avgdl(self) -> Dict[str, float]:
        if self._field_avgdl_cache is not None:
            return self._field_avgdl_cache
        from search_engine_spark.index.merge import _fs_exists

        if not _fs_exists(self.spark, self.paths.field_stats):
            raise ValueError(
                "index was not built with index_fields=True — "
                "multi-field search needs per-field stats"
            )
        self._field_avgdl_cache = {
            r["field"]: float(r["avgdl"])
            for r in self.spark.read.parquet(self.paths.field_stats).collect()
        }
        return self._field_avgdl_cache

    def search_fields(
        self,
        query: str,
        k: int = 10,
        boosts: Optional[Dict[str, float]] = None,
        tie_breaker: float = 0.0,
        join_docs: bool = True,
        mode: str = "blockmax",
    ) -> DataFrame:
        """Multi-field best_fields BM25 — the reference's flagship query
        shape (backend/search_api/main.py:162-189: ES `multi_match`
        best_fields over ["title^3", "description^2", "content"]).

        Per field f: score_f(doc) = Σ_terms BM25(tf, dl_f, idf_f,
        avgdl_f) over that field's namespaced postings (its own df and
        avgdl).  Combined ES-style:
            max_f(boost_f·score_f) + tie_breaker·Σ_others(boost·score)
        (tie_breaker=0 is pure best_fields, ES's default).  One decode
        pass over the union of namespaced terms; per-field aggregation
        and the combine are native column ops.

        mode "blockmax" (default, tie_breaker=0 only) prunes blocks
        with the per-field WAND condition: a block b of term t in field
        f survives iff  boost_f·(bound(b) + Σ_{t'∈f, t'≠t} gmax(t'))
        ≥ θ.  Safety: for any doc d in a pruned block, either d's true
        best field is f — then its total ≤ that bound < θ, so d is not
        in the top-k — or d's best field is some f' whose blocks
        holding d all survived, in which case d's computed score is
        still exact (missing f-contributions can only lower the non-
        best fields).  θ is seeded from the best boosted single-term
        contribution list, a lower bound on the k-th best_fields total.
        Bounds ALWAYS come from (max_tf, min_dl) under the field's own
        avgdl — the stored block_max_score/max_score were computed
        under the content avgdl and are not valid for field postings.
        mode "exhaustive" disables pruning (required when tie_breaker>0:
        the prune argument covers only the pure-max combine).
        """
        boosts = boosts or {"content": 1.0, "title": 3.0, "description": 2.0}
        from search_engine_spark.index.builder import FIELD_PREFIX

        avgdl_by_field = self._field_avgdl()
        base_terms = sorted(set(tokenize_py(query)))
        want: Dict[str, str] = {}  # namespaced term -> field
        for f in boosts:
            for t in base_terms:
                want[FIELD_PREFIX[f] + t] = f
        stats = self._query_stats(sorted(want))
        live = sorted(t for t in want if t in stats)
        if not live or k <= 0:
            return self._empty_scored(join_docs)
        idf_by_term = {t: idf_py(self.n_docs, stats[t][0]) for t in live}
        avgdl_by_term = {t: avgdl_by_field[want[t]] for t in live}
        buckets = sorted({stats[t][2] for t in live})

        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(live)
        )

        if mode == "blockmax" and tie_breaker == 0.0:
            gmax = {
                t: float(
                    score_np(
                        np.array([stats[t][3]], dtype=np.int64),
                        np.array([stats[t][4]], dtype=np.int64),
                        idf_by_term[t],
                        avgdl_by_term[t],
                    )[0]
                )
                for t in live
            }
            theta = self._seed_theta(
                live, stats, idf_by_term, k,
                avgdl=avgdl_by_term,
                multiplier={t: float(boosts[want[t]]) for t in live},
            )
            if theta > 0.0:
                # per-term surviving threshold: boost_f*(bound + rest_f) >= θ
                # rest_f = other live terms' gmax within the SAME field
                rest = {
                    t: sum(
                        gmax[u]
                        for u in live
                        if u != t and want[u] == want[t]
                    )
                    for t in live
                }
                idf_map = _lit_map(idf_by_term)
                avg_map = _lit_map(avgdl_by_term)
                thr_map = _lit_map(
                    {t: theta / float(boosts[want[t]]) - rest[t] for t in live}
                )
                bound = score_col(
                    F.col("max_tf").cast("double"),
                    F.col("min_dl").cast("double"),
                    idf_map[F.col("term")],
                    avg_map[F.col("term")],
                )
                blocks = blocks.filter(bound >= thr_map[F.col("term")])

        contribs = blocks.select(
            "term", "count", "doc_ids", "tfs", "doclens"
        ).mapInPandas(
            _decode_and_score(idf_by_term, avgdl_by_term, emit_term=True),
            schema=_TERM_CONTRIB_SCHEMA,
        )
        from search_engine_spark.index.builder import _field_of

        field_col = _field_of(F.col("term"))
        boost_map = _lit_map(boosts)
        per_field = (
            contribs.withColumn("field", field_col)
            .groupBy("doc_id", "field")
            .agg(F.sum("contrib").alias("fscore"))
            .withColumn("bscore", F.col("fscore") * boost_map[F.col("field")])
        )
        scored = (
            per_field.groupBy("doc_id")
            .agg(F.max("bscore").alias("best"), F.sum("bscore").alias("total"))
            .select(
                "doc_id",
                (
                    F.col("best")
                    + F.lit(float(tie_breaker)) * (F.col("total") - F.col("best"))
                ).alias("score"),
            )
        )
        scored = self._drop_tombstones(scored)
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if not join_docs:
            return topk
        return self._join_docs(topk)

    def search_cross_fields(
        self,
        query: str,
        k: int = 10,
        boosts: Optional[Dict[str, float]] = None,
        tie_breaker: float = 0.0,
        join_docs: bool = True,
    ) -> DataFrame:
        """Multi-field cross_fields BM25 — ES `multi_match` type
        cross_fields (the third multi_match type next to best_fields /
        most_fields, both covered by search_fields' tie_breaker):
        TERM-centric instead of field-centric.  Each query term is
        scored per field with that field's own tf/dl/avgdl but a
        BLENDED document frequency — df = max over the fields' df, the
        Lucene BlendedTermQuery adjustment — so a term that is common
        in one field can't masquerade as rare in another ("first name
        in the last_name field" ranking pathology).  Per term the
        fields combine as dis_max + tie_breaker·rest (ES blends with
        dismaxBlendedQuery, tie_breaker default 0), and the per-term
        scores SUM over the query (bool should).

        Always exhaustive over the query terms' namespaced postings:
        the per-field WAND bound of search_fields doesn't transfer (a
        doc's per-term max can move between fields block by block).
        The scan is still bounded by the query terms' df — the same
        decode volume as search_fields' exhaustive mode.
        """
        boosts = boosts or {"content": 1.0, "title": 3.0, "description": 2.0}
        from search_engine_spark.index.builder import FIELD_PREFIX, _field_of

        avgdl_by_field = self._field_avgdl()
        base_terms = sorted(set(tokenize_py(query)))
        want: Dict[str, Tuple[str, str]] = {}  # namespaced -> (field, base)
        for f in boosts:
            for t in base_terms:
                want[FIELD_PREFIX[f] + t] = (f, t)
        stats = self._query_stats(sorted(want))
        live = sorted(t for t in want if t in stats)
        if not live or k <= 0:
            return self._empty_scored(join_docs)
        # blended df: max across the group's fields (0 df fields absent)
        df_blended: Dict[str, int] = {}
        for t in live:
            base = want[t][1]
            df_blended[base] = max(df_blended.get(base, 0), stats[t][0])
        idf_by_term = {
            t: idf_py(self.n_docs, df_blended[want[t][1]]) for t in live
        }
        avgdl_by_term = {t: avgdl_by_field[want[t][0]] for t in live}
        buckets = sorted({stats[t][2] for t in live})
        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(live)
        )
        contribs = blocks.select(
            "term", "count", "doc_ids", "tfs", "doclens"
        ).mapInPandas(
            _decode_and_score(idf_by_term, avgdl_by_term, emit_term=True),
            schema=_TERM_CONTRIB_SCHEMA,
        )
        base_map = F.create_map(
            *[x for t in live for x in (F.lit(t), F.lit(want[t][1]))]
        )
        boost_map = _lit_map(boosts)
        per_term = (
            contribs.withColumn(
                "bscore", F.col("contrib") * boost_map[_field_of(F.col("term"))]
            )
            .withColumn("base", base_map[F.col("term")])
            .groupBy("doc_id", "base")
            .agg(F.max("bscore").alias("best"), F.sum("bscore").alias("total"))
        )
        scored = (
            per_term.select(
                "doc_id",
                (
                    F.col("best")
                    + F.lit(float(tie_breaker)) * (F.col("total") - F.col("best"))
                ).alias("tscore"),
            )
            .groupBy("doc_id")
            .agg(F.sum("tscore").alias("score"))
        )
        scored = self._drop_tombstones(scored)
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if not join_docs:
            return topk
        return self._join_docs(topk)

    def search_combined_fields(
        self,
        query: str,
        k: int = 10,
        weights: Optional[Dict[str, float]] = None,
        join_docs: bool = True,
    ) -> DataFrame:
        """Multi-field combined_fields BM25 — the ES `combined_fields`
        query (Lucene CombinedFieldQuery / BM25F "simple" variant):
        the fields score as if merged into ONE synthetic field —

          tf_c(d, t)  = Σ_f  w_f · tf_f(d, t)
          dl_c(d)     = Σ_f  w_f · dl_f(d)
          avgdl_c     = Σ_f  w_f · avgdl_f   (mean is linear)
          df(t)       = max over fields (the BlendedTermQuery stat)
          score(d)    = Σ_t idf(t) · sat(tf_c, dl_c, avgdl_c)

        versus cross_fields, which keeps per-field saturation and
        dis_maxes them: combined_fields saturates ONCE on the pooled
        tf, so two mentions split across title and body count like two
        mentions in one field.  ES requires weights >= 1; we accept
        any positive weight.

        Physical plan: the query terms' field-namespaced postings
        decode to raw (term, doc_id, tf) rows (one mapInPandas over
        the pruned buckets — doclens stay encoded, the combined norm
        does NOT come from postings), one groupBy(doc_id, base) pools
        the weighted tf, and the candidate set joins the docs table
        where dl_c is computed natively from the stored title /
        description strings (tokenized only for surviving join rows —
        column-pruned scan, work ∝ candidates, not corpus).
        Exhaustive over the query terms' df like cross_fields: a
        pooled-tf upper bound would need every field's block max
        simultaneously, which the per-field blocks can't provide."""
        weights = weights or {
            "content": 1.0, "title": 1.0, "description": 1.0
        }
        from search_engine_spark.index.builder import FIELD_PREFIX
        from search_engine_spark.index.scoring import B, K1
        from search_engine_spark.text.tokenizer import tokens_col

        bad = sorted(set(weights) - set(FIELD_PREFIX))
        if bad:
            raise ValueError(f"unknown combined_fields fields: {bad}")
        if any(w <= 0 for w in weights.values()):
            raise ValueError("combined_fields weights must be positive")
        avgdl_by_field = self._field_avgdl()
        base_terms = sorted(set(tokenize_py(query)))
        want: Dict[str, Tuple[str, str]] = {}
        for f in weights:
            for t in base_terms:
                want[FIELD_PREFIX[f] + t] = (f, t)
        stats = self._query_stats(sorted(want))
        live = sorted(t for t in want if t in stats)
        if not live or k <= 0:
            return self._empty_scored(join_docs)
        df_blended: Dict[str, int] = {}
        for t in live:
            base = want[t][1]
            df_blended[base] = max(df_blended.get(base, 0), stats[t][0])
        idf_by_base = {
            b: idf_py(self.n_docs, df) for b, df in df_blended.items()
        }
        avgdl_c = sum(
            w * avgdl_by_field[f] for f, w in weights.items()
        )
        buckets = sorted({stats[t][2] for t in live})
        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(live)
        )
        rows = blocks.select("term", "count", "doc_ids", "tfs").mapInPandas(
            _decode_term_tf_rows(), schema=_TERM_TF_ROWS_SCHEMA
        )
        weight_map = F.create_map(
            *[
                x
                for t in live
                for x in (F.lit(t), F.lit(float(weights[want[t][0]])))
            ]
        )
        base_map = F.create_map(
            *[x for t in live for x in (F.lit(t), F.lit(want[t][1]))]
        )
        pooled = (
            rows.withColumn("wtf", F.col("tf") * weight_map[F.col("term")])
            .withColumn("base", base_map[F.col("term")])
            .groupBy("doc_id", "base")
            .agg(F.sum("wtf").alias("tfc"))
        )
        dl_terms = []
        for f, w in weights.items():
            if f == "content":
                dl_terms.append(F.lit(float(w)) * F.col("doclen"))
            else:
                dl_terms.append(
                    F.lit(float(w))
                    * F.size(tokens_col(F.coalesce(F.col(f), F.lit(""))))
                )
        dlc_expr = dl_terms[0]
        for t in dl_terms[1:]:
            dlc_expr = dlc_expr + t
        docs_dl = self.docs.select("doc_id", dlc_expr.alias("dlc"))
        idf_map = F.create_map(
            *[
                x
                for b, v in idf_by_base.items()
                for x in (F.lit(b), F.lit(float(v)))
            ]
        )
        sat = (
            F.col("tfc")
            * F.lit(K1 + 1.0)
            / (
                F.col("tfc")
                + F.lit(K1)
                * (
                    F.lit(1.0 - B)
                    + F.lit(B) * F.col("dlc") / F.lit(float(avgdl_c))
                )
            )
        )
        scored = (
            pooled.join(docs_dl, "doc_id")
            .withColumn("tscore", idf_map[F.col("base")] * sat)
            .groupBy("doc_id")
            .agg(F.sum("tscore").alias("score"))
        )
        scored = self._drop_tombstones(scored)
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if not join_docs:
            return topk
        return self._join_docs(topk)

    def search_terms_set(
        self,
        terms: List[str],
        k: int = 10,
        minimum_should_match: Optional[int] = None,
        minimum_should_match_field: Optional[str] = None,
        join_docs: bool = True,
    ) -> DataFrame:
        """The ES `terms_set` query: match docs containing at least M
        of the given terms, where M is either a constant
        (`minimum_should_match`, the ES minimum_should_match_script
        constant case) or read PER DOC from a numeric docs-table
        column (`minimum_should_match_field` — ES's canonical use:
        each doc states how many of its own tags must match).  Scoring
        is the bool-should sum of the matched terms' BM25, like ES.

        Terms are index-level and NOT analyzed (ES terms_set is a
        term-level query); pass tokenize_py output if you have raw
        text.  Exactly one threshold source must be given.

        Physical plan: one bucket-pruned scan + Arrow decode of the
        terms' postings, ONE groupBy(doc_id) producing (score,
        matched-count); the per-doc threshold joins from the docs
        table (column-pruned) only in the field case.  θ-pruning is
        off by construction — a doc's rank depends on which terms
        matched, and the threshold can discard high-scoring seeds."""
        if (minimum_should_match is None) == (
            minimum_should_match_field is None
        ):
            raise ValueError(
                "exactly one of minimum_should_match / "
                "minimum_should_match_field"
            )
        uniq = sorted(set(terms))
        stats = self._query_stats(uniq)
        live = [t for t in uniq if t in stats]
        if not live or k <= 0:
            return self._empty_scored(join_docs)
        idf_by_term = {t: idf_py(self.n_docs, stats[t][0]) for t in live}
        buckets = sorted({stats[t][2] for t in live})
        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(live)
        )
        contribs = self._decode_contribs(blocks, idf_by_term, emit_term=True)
        per_doc = contribs.groupBy("doc_id").agg(
            F.sum("contrib").alias("score"),
            F.count_distinct("term").alias("_m"),
        )
        if minimum_should_match is not None:
            hits = per_doc.filter(
                F.col("_m") >= int(minimum_should_match)
            )
        else:
            req = self.docs.select(
                "doc_id",
                F.expr(minimum_should_match_field).cast("long").alias("_req"),
            )
            hits = per_doc.join(req, "doc_id").filter(
                F.col("_m") >= F.col("_req")
            )
        hits = self._drop_tombstones(hits.select("doc_id", "score"))
        topk = hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if not join_docs:
            return topk
        return self._join_docs(topk)

    def expand_prefix(
        self, prefix: str, max_expansions: int = 50
    ) -> List[Tuple[str, int, int]]:
        """Expand a prefix against the term dictionary: at most
        max_expansions matching terms in term order (Lucene's
        deterministic rewrite cap).  Returns [(term, df, bucket)].

        The prefix is normalized exactly like a token (lowercase,
        non-[a-z0-9] stripped) but NOT stemmed — ES prefix queries are
        not analyzed; they match the index's (stemmed) term dictionary
        directly.  Field-namespaced terms (t!/d! prefixes) are excluded
        — prefix search addresses the content field.  Scale: term_stats
        is range-partitioned + sorted by term, and StartsWith pushes to
        the parquet scan as a string-range predicate, so the expansion
        reads O(matching range) rather than the whole dictionary."""
        import re

        p = re.sub(r"[^a-z0-9]", "", prefix.lower())
        if not p:
            return []
        rows = (
            self.term_stats.filter(
                F.col("term").startswith(p) & ~F.col("term").contains("!")
            )
            .select("term", "df", "term_bucket")
            .orderBy("term")
            .limit(max_expansions)
            .collect()
        )
        return [(r["term"], int(r["df"]), int(r["term_bucket"])) for r in rows]

    def search_prefix(
        self,
        prefix: str,
        k: int = 10,
        max_expansions: int = 50,
        join_docs: bool = True,
    ) -> DataFrame:
        """Prefix-query top-k (Lucene/ES `prefix` query analogue) —
        the multi-term rewrite the reference's ES index would perform
        for wildcard/autocomplete-style lookups.

        Scoring is the synonym-group form: the expansions act as one
        pseudo-term — tf = Σ tf over matched expansions per doc
        (summed BEFORE saturation, Lucene SynonymQuery), idf = idf of
        the most common expansion (BlendedTermQuery max-df blending);
        score = BM25(tf_sum, dl, idf, avgdl).  Deterministic: the
        expansion cap keeps the first max_expansions terms in term
        order, ties broken (score desc, doc_id asc).

        Plan shape: one tiny pruned term_stats scan (expansion), then
        the usual bucket-pruned posting scan over the expanded terms —
        Arrow decode to raw (doc_id, tf, dl), one groupBy(doc_id)
        shuffle bounded by the union of expansion dfs, native scoring,
        TakeOrderedAndProject top-k."""
        if k <= 0:
            return self._empty_scored(join_docs)
        return self._synonym_group_topk(
            self.expand_prefix(prefix, max_expansions), k, join_docs
        )

    def expand_wildcard(
        self, pattern: str, max_expansions: int = 50
    ) -> List[Tuple[str, int, int]]:
        """Expand a wildcard pattern (`*` = any run, `?` = one char —
        Lucene/ES `wildcard` query) against the term dictionary: at
        most max_expansions matching terms in term order.  Like
        prefixes, patterns are normalized but NOT stemmed, and match
        the (stemmed) dictionary directly.

        Scale: the literal run before the first wildcard pushes down
        as a StartsWith range predicate on the term-sorted term_stats
        layout; a LEADING wildcard forfeits that and scans the whole
        dictionary — same caveat ES documents for leading wildcards."""
        import re

        p = re.sub(r"[^a-z0-9*?]", "", pattern.lower())
        if not p.strip("*?"):
            return []  # pure-wildcard patterns match everything: refuse
        lit_prefix = re.match(r"^[a-z0-9]*", p).group(0)
        rx = "^" + re.escape(p).replace(r"\*", "[a-z0-9]*").replace(
            r"\?", "[a-z0-9]"
        ) + "$"
        cond = F.col("term").rlike(rx) & ~F.col("term").contains("!")
        if lit_prefix:
            cond = F.col("term").startswith(lit_prefix) & cond
        rows = (
            self.term_stats.filter(cond)
            .select("term", "df", "term_bucket")
            .orderBy("term")
            .limit(max_expansions)
            .collect()
        )
        return [(r["term"], int(r["df"]), int(r["term_bucket"])) for r in rows]

    def search_wildcard(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        join_docs: bool = True,
    ) -> DataFrame:
        """Wildcard-query top-k (Lucene/ES `wildcard` query analogue):
        multi-term rewrite over the dictionary, scored exactly like
        search_prefix (synonym-group: tf summed pre-saturation, max-df
        blended idf)."""
        if k <= 0:
            return self._empty_scored(join_docs)
        return self._synonym_group_topk(
            self.expand_wildcard(pattern, max_expansions), k, join_docs
        )

    def expand_regexp(
        self, pattern: str, max_expansions: int = 50
    ) -> List[Tuple[str, int, int]]:
        """Expand a regular expression (Lucene/ES `regexp` query) to
        the dictionary terms it FULLY matches (Lucene regexps are
        implicitly anchored at both ends): at most max_expansions terms
        in term order.  The supported syntax is the Java-regex subset
        common to Lucene's default flags — literals, ., ?, +, *,
        {m,n}, [...], (...) groups, | alternation; Lucene's optional
        operators (~ complement, @ any-string, <> intervals, &
        intersection) are NOT supported and raise.

        Scale: like wildcards, the literal run before the first
        metacharacter pushes down as a StartsWith range predicate on
        the term-sorted term_stats layout; a pattern with no literal
        prefix scans the whole dictionary (the caveat ES documents)."""
        import re

        for op in "~@&<>":
            if op in pattern:
                raise NotImplementedError(
                    f"Lucene optional regexp operator {op!r} is not "
                    "supported (default-flags subset only)"
                )
        re.compile(pattern)  # fail fast on malformed patterns
        lit_prefix = re.match(r"^[a-z0-9]*", pattern).group(0)
        cond = (
            F.col("term").rlike(f"^(?:{pattern})$")
            & ~F.col("term").contains("!")
        )
        if lit_prefix:
            cond = F.col("term").startswith(lit_prefix) & cond
        rows = (
            self.term_stats.filter(cond)
            .select("term", "df", "term_bucket")
            .orderBy("term")
            .limit(max_expansions)
            .collect()
        )
        return [(r["term"], int(r["df"]), int(r["term_bucket"])) for r in rows]

    def search_regexp(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        join_docs: bool = True,
    ) -> DataFrame:
        """Regexp-query top-k (Lucene/ES `regexp` query analogue):
        multi-term rewrite over the dictionary, scored exactly like
        search_prefix/search_wildcard (synonym-group: tf summed
        pre-saturation, max-df blended idf)."""
        if k <= 0:
            return self._empty_scored(join_docs)
        return self._synonym_group_topk(
            self.expand_regexp(pattern, max_expansions), k, join_docs
        )

    def expand_fuzzy(
        self,
        word: str,
        max_edits: int = 2,
        prefix_length: int = 0,
        max_expansions: int = 50,
    ) -> List[Tuple[str, int, int]]:
        """Expand a word to dictionary terms within `max_edits` edit
        distance (Lucene/ES `fuzzy` query analogue).  Distance is
        classic Levenshtein — Spark's native `levenshtein()` — not
        Lucene's Damerau variant (a transposition costs 2 here, not 1);
        native keeps the whole expansion JVM-side and matches the
        DuckDB oracle bit-for-bit.  Like prefixes, the word is
        normalized but NOT stemmed and matches the (stemmed)
        dictionary directly.

        Selection order is Lucene's: closest first (edit distance asc),
        then term order — so a tight max_expansions keeps exact/1-edit
        matches over 2-edit ones.

        Scale: `prefix_length` > 0 (ES's knob for exactly this) pushes
        a StartsWith range predicate onto the term-sorted term_stats
        layout; the residual candidates are further cut by a native
        length-band filter (|len(t) - len(w)| ≤ max_edits) BEFORE the
        O(len²) levenshtein evaluates, so the distance function runs
        on a sliver of the dictionary."""
        import re

        w = re.sub(r"[^a-z0-9]", "", word.lower())
        if not w:
            return []
        max_edits = max(0, min(int(max_edits), 2))  # Lucene's cap
        dist = F.levenshtein(F.col("term"), F.lit(w))
        cond = (
            ~F.col("term").contains("!")
            & (F.abs(F.length("term") - F.lit(len(w))) <= max_edits)
            & (dist <= max_edits)
        )
        if prefix_length > 0:
            if len(w) <= prefix_length:
                cond = F.col("term") == w
            else:
                cond = F.col("term").startswith(w[:prefix_length]) & cond
        rows = (
            self.term_stats.filter(cond)
            .select("term", "df", "term_bucket", dist.alias("_d"))
            .orderBy("_d", "term")
            .limit(max_expansions)
            .collect()
        )
        return [(r["term"], int(r["df"]), int(r["term_bucket"])) for r in rows]

    def suggest_terms(
        self,
        text: str,
        size: int = 5,
        max_edits: int = 2,
        prefix_length: int = 1,
        min_word_length: int = 4,
        suggest_mode: str = "missing",
    ) -> DataFrame:
        """Term suggester — the ES `suggest`/`term` API ("did you
        mean"): per analyzed token, the top `size` dictionary terms
        within `max_edits` Levenshtein distance, scored by normalized
        string similarity `1 − dist / max(len(token), len(term))` and
        ordered ES-style: similarity desc, doc frequency desc, term
        asc.  ES defaults mirrored: max_edits 2, prefix_length 1,
        min_word_length 4, suggest_mode "missing" (only suggest for
        tokens absent from the index; "popular" keeps only suggestions
        more frequent than the input token; "always" suggests for
        every token).  The input term itself is never suggested, like
        Lucene's DirectSpellChecker.  Distance is classic Levenshtein
        via the native JVM function (same note as expand_fuzzy: a
        transposition costs 2, not Lucene's Damerau 1).

        Physical plan: ONE pass — the (tiny) token list broadcast
        theta-joins the term dictionary; a native length-band filter
        (|len(term) − len(token)| ≤ max_edits) and the prefix guard
        cut the dictionary BEFORE the O(len²) levenshtein runs, and a
        per-token row_number window keeps `size` rows.  The dictionary
        scan is column-pruned to (term, df) — at web scale that's a
        fraction of the stats table, and no per-token job is issued.
        Returns (token, suggestion, score, df)."""
        if suggest_mode not in ("missing", "popular", "always"):
            raise ValueError(f"unknown suggest_mode: {suggest_mode}")
        empty = self.spark.createDataFrame(
            [], "token string, suggestion string, score double, df long"
        )
        toks = sorted(
            {t for t in set(tokenize_py(text)) if len(t) >= min_word_length}
        )
        if not toks:
            return empty
        stats = self._query_stats(toks)
        if suggest_mode == "missing":
            toks = [t for t in toks if t not in stats]
        if not toks:
            return empty
        tok_df = self.spark.createDataFrame(
            [(t, len(t), int(stats[t][0]) if t in stats else 0) for t in toks],
            "token string, tlen int, tdf long",
        )
        max_edits = max(0, min(int(max_edits), 2))  # Lucene's cap
        dist = F.levenshtein(F.col("term"), F.col("token"))
        cond = (
            ~F.col("term").contains("!")  # skip field-namespaced terms
            & (F.col("term") != F.col("token"))
            & (F.abs(F.length("term") - F.col("tlen")) <= max_edits)
        )
        if prefix_length > 0:
            cond = cond & (
                F.substring(F.col("term"), 1, prefix_length)
                == F.substring(F.col("token"), 1, prefix_length)
            )
        cand = (
            self.term_stats.select("term", "df")
            .join(F.broadcast(tok_df), cond)
            .withColumn("_d", dist)
            .filter(F.col("_d") <= max_edits)
        )
        if suggest_mode == "popular":
            cand = cand.filter(F.col("df") > F.col("tdf"))
        score = 1.0 - F.col("_d") / F.greatest(F.length("term"), F.col("tlen"))
        w = Window.partitionBy("token").orderBy(
            F.desc("score"), F.desc("df"), F.asc("term")
        )
        return (
            cand.withColumn("score", score)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= size)
            .select(
                "token",
                F.col("term").alias("suggestion"),
                "score",
                "df",
            )
            .orderBy("token", F.desc("score"), F.desc("df"), "suggestion")
        )

    def _shingle_tables(self) -> Tuple[DataFrame, DataFrame]:
        """(shingle_stats, unigram_stats) DataFrames — the bigram LM
        behind suggest_phrase; built by build_index(index_shingles=True)
        or builder.build_shingle_stats."""
        if self._shingle_cache is None:
            from search_engine_spark import schemas as _schemas

            try:
                sh = self.spark.read.schema(_schemas.SHINGLE_STATS).parquet(
                    self.paths.shingle_stats
                )
                ug = self.spark.read.schema(_schemas.UNIGRAM_STATS).parquet(
                    self.paths.unigram_stats
                )
            except Exception as e:
                raise ValueError(
                    "index has no shingle LM stats — build with "
                    "index_shingles=True (or run builder."
                    "build_shingle_stats over the index dir)"
                ) from e
            self._shingle_cache = (sh, ug)
        return self._shingle_cache

    def suggest_phrase(
        self,
        text: str,
        size: int = 5,
        max_errors: int = 1,
        max_edits: int = 2,
        prefix_length: int = 1,
        min_word_length: int = 4,
        num_candidates: int = 5,
        confidence: float = 1.0,
        real_word_error_likelihood: float = 0.95,
        discount: float = 0.4,
        collate: bool = False,
    ) -> DataFrame:
        """Phrase suggester — the ES `suggest`/`phrase` API (whole-query
        "did you mean"): candidate corrections for the analyzed query,
        scored by a bigram language model over the index's shingle
        stats (build_index(index_shingles=True)) combined with a
        noisy-channel error model, exactly the ES phrase suggester's
        shape (direct candidate generator + Stupid-Backoff n-gram LM
        over a shingle field).

        Pinned scoring model (deterministic, mirrored 1:1 by the
        in-repo PhraseSuggestOracle):
          LM (Stupid Backoff, log space):  P(w₁) = max(cnt(w₁),0.5)/T;
            P(wᵢ|wᵢ₋₁) = cnt(wᵢ₋₁wᵢ)/cnt(wᵢ₋₁) when the bigram exists,
            else discount · max(cnt(wᵢ),0.5)/T       (discount 0.4)
          channel: unchanged position → real_word_error_likelihood;
            changed position → (1−rwel) · similarity(orig, cand)
            where similarity is suggest_terms' normalized Levenshtein
          phrase score = exp((log LM + log channel) / n_tokens)
            (per-token geometric mean, so scores are length-invariant)
          a suggestion is returned iff score > confidence · score(input
          phrase); the unchanged input is never returned (ES confidence
          semantics).

        Candidates come from ONE suggest_terms dictionary job
        (mode="always", top num_candidates per token by similarity/df);
        phrases change at most `max_errors` positions (ES default 1).
        LM lookups are two point-lookup scans — `isin` over the range-
        partitioned, sorted shingle/unigram tables prunes to a handful
        of row groups even at web scale (same layout trick as
        term_stats).  The final combination runs driver-side over the
        ≤ a-few-hundred candidate phrases, exactly where ES's
        coordinating node does it — all data-sized work stays in the
        three pruned Spark scans.  Returns (suggestion, score), score
        desc, suggestion asc.

        `collate=True` is ES's collate+prune: each returned suggestion
        is checked against the index (here: at least one live doc
        containing ALL its terms — the ES collate template's canonical
        match-AND shape) and non-matching ones are dropped.  Like ES,
        this issues one existence query per surviving-cut suggestion
        (≤ size), so it multiplies query cost — off by default."""
        import itertools
        import math

        sh, ug = self._shingle_tables()
        out_schema = "suggestion string, score double"
        tokens = tokenize_py(text)
        if not tokens:
            return self.spark.createDataFrame([], out_schema)
        if not (0.0 < real_word_error_likelihood < 1.0):
            raise ValueError("real_word_error_likelihood must be in (0,1)")
        max_errors = max(1, int(max_errors))
        n = len(tokens)

        # 1. per-token candidates — one dictionary job
        cand_rows = self.suggest_terms(
            text,
            size=num_candidates,
            max_edits=max_edits,
            prefix_length=prefix_length,
            min_word_length=min_word_length,
            suggest_mode="always",
        ).collect()
        cands: Dict[str, List[Tuple[str, float]]] = {}
        for r in cand_rows:
            cands.setdefault(r["token"], []).append(
                (r["suggestion"], float(r["score"]))
            )
        positions = [i for i, t in enumerate(tokens) if cands.get(t)]
        base = tuple(tokens)
        log_rwel = math.log(real_word_error_likelihood)
        log_err1 = math.log1p(-real_word_error_likelihood)

        # 2. enumerate phrases with ≤ max_errors changed positions,
        # keeping each distinct phrase's best channel score (itertools
        # order is deterministic; capped at 2000 phrases)
        phrases: Dict[Tuple[str, ...], float] = {}
        full = False
        for k_err in range(1, max_errors + 1):
            if full:
                break
            for combo in itertools.combinations(positions, k_err):
                if full:
                    break
                pools = [cands[tokens[i]] for i in combo]
                for repl in itertools.product(*pools):
                    words = list(tokens)
                    err = (n - k_err) * log_rwel
                    for i, (c, sim) in zip(combo, repl):
                        words[i] = c
                        err += log_err1 + math.log(sim)
                    tup = tuple(words)
                    if tup == base:
                        continue
                    if tup not in phrases or err > phrases[tup]:
                        phrases[tup] = err
                    if len(phrases) >= 2000:
                        full = True
                        break
        if not phrases:
            return self.spark.createDataFrame([], out_schema)

        # 3. LM point lookups (row-group-pruned isin scans)
        all_phr = list(phrases) + [base]
        words_needed = sorted({w for p in all_phr for w in p})
        pair_keys = sorted(
            {f"{p[i]} {p[i + 1]}" for p in all_phr for i in range(len(p) - 1)}
        )
        ucnt = {
            r["term"]: int(r["cnt"])
            for r in ug.filter(F.col("term").isin(words_needed)).collect()
        }
        bcnt = (
            {
                r["bigram"]: int(r["cnt"])
                for r in sh.filter(F.col("bigram").isin(pair_keys)).collect()
            }
            if pair_keys
            else {}
        )

        # 4. driver-side scoring over the tiny candidate set
        T = max(1, self.total_tokens)
        log_disc = math.log(discount)

        def log_uni(w: str) -> float:
            return math.log(max(ucnt.get(w, 0), 0.5) / T)

        def log_lm(p: Tuple[str, ...]) -> float:
            lp = log_uni(p[0])
            for i in range(len(p) - 1):
                c2 = bcnt.get(f"{p[i]} {p[i + 1]}", 0)
                c1 = ucnt.get(p[i], 0)
                if c2 > 0 and c1 > 0:
                    lp += math.log(c2 / c1)
                else:
                    lp += log_disc + log_uni(p[i + 1])
            return lp

        base_score = math.exp((log_lm(base) + n * log_rwel) / n)
        rows = []
        for tup, err in phrases.items():
            score = math.exp((log_lm(tup) + err) / n)
            if score > confidence * base_score:
                rows.append((" ".join(tup), float(score)))
        rows.sort(key=lambda r: (-r[1], r[0]))
        rows = rows[:size]
        if collate:
            # strict AND, like the ES collate match template: a phrase
            # carrying ANY unindexed term can't match (count_matches'
            # AND deliberately drops unindexed terms — too lenient here)
            def _ok(s: str) -> bool:
                words = s.split(" ")
                stats = self._query_stats(sorted(set(words)))
                if any(w not in stats for w in words):
                    return False
                return self.count_matches(words, mode="and") > 0

            rows = [r for r in rows if _ok(r[0])]
        return self.spark.createDataFrame(rows or [], out_schema)

    def suggest_completion(self, prefix: str, size: int = 10) -> DataFrame:
        """Completion suggester — the ES `suggest`/`completion` API's
        dictionary subset (search-as-you-type over the analyzed
        vocabulary rather than a dedicated FST field, which would need
        index-time completion inputs the reference never defines):
        terms starting with the analyzed prefix, weighted by document
        frequency (popularity), ordered df desc then term asc.

        One column-pruned StartsWith scan of the range-partitioned,
        term-sorted stats table — the same pushdown as the prefix-query
        rewrite — then TakeOrderedAndProject for the size cut.  Returns
        (suggestion, weight)."""
        empty = self.spark.createDataFrame(
            [], "suggestion string, weight long"
        )
        toks = tokenize_py(prefix)
        if not toks:
            return empty
        p = toks[-1]  # complete the last analyzed token, ES-style
        return (
            self.term_stats.select("term", "df")
            .filter(
                F.col("term").startswith(p) & ~F.col("term").contains("!")
            )
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(size)
            .select(
                F.col("term").alias("suggestion"),
                F.col("df").alias("weight"),
            )
        )

    def search_fuzzy(
        self,
        word: str,
        k: int = 10,
        max_edits: int = 2,
        prefix_length: int = 0,
        max_expansions: int = 50,
        join_docs: bool = True,
    ) -> DataFrame:
        """Fuzzy-query top-k (Lucene/ES `fuzzy` query analogue):
        edit-distance dictionary rewrite, scored exactly like
        search_prefix / search_wildcard (synonym-group: tf summed
        pre-saturation, max-df blended idf)."""
        if k <= 0:
            return self._empty_scored(join_docs)
        return self._synonym_group_topk(
            self.expand_fuzzy(word, max_edits, prefix_length, max_expansions),
            k,
            join_docs,
        )

    def _synonym_group_scored(
        self, exps: List[Tuple[str, int, int]]
    ) -> Optional[DataFrame]:
        """Full (doc_id, score) of a dictionary expansion scored as ONE
        pseudo-term (Lucene SynonymQuery / BlendedTermQuery): tf = Σ tf
        over matched expansions per doc summed BEFORE saturation, idf
        from the most common expansion's df; BM25(tf_sum, dl, idf,
        avgdl).  Tombstones dropped; None when the expansion is empty."""
        if not exps:
            return None
        df_max = max(df for _, df, _ in exps)
        idf = idf_py(self.n_docs, df_max)
        terms = [t for t, _, _ in exps]
        buckets = sorted({b for _, _, b in exps})
        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )
        rows = blocks.select("count", "doc_ids", "tfs", "doclens").mapInPandas(
            _decode_tf_rows(), schema=_TF_ROWS_SCHEMA
        )
        scored = (
            rows.groupBy("doc_id")
            .agg(F.sum("tf").alias("_tf"), F.first("dl").alias("_dl"))
            .select(
                "doc_id",
                score_col(
                    F.col("_tf").cast("double"),
                    F.col("_dl").cast("double"),
                    F.lit(float(idf)),
                    self.avgdl,
                ).alias("score"),
            )
        )
        return self._drop_tombstones(scored)

    def _synonym_group_topk(
        self, exps: List[Tuple[str, int, int]], k: int, join_docs: bool
    ) -> DataFrame:
        """Top-k of _synonym_group_scored with the engine tie-break."""
        scored = self._synonym_group_scored(exps)
        if scored is None:
            return self._empty_scored(join_docs)
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if not join_docs:
            return topk
        return self._join_docs(topk)

    def search_match_fuzzy(
        self,
        query: str,
        fuzziness="AUTO",
        prefix_length: int = 0,
        max_expansions: int = 50,
        k: int = 10,
        join_docs: bool = True,
    ) -> DataFrame:
        """Match query with `fuzziness` — ES `match` + fuzziness: each
        analyzed token becomes a FuzzyQuery (a fuzzy synonym group over
        the term dictionary, expand_fuzzy's closest-first capped
        expansion); a doc's score is the SUM over its matching groups
        (bool should of Lucene SynonymQueries — tf summed
        pre-saturation, max-df blended idf per group).  Duplicate
        tokens contribute ONE group (pinned; Lucene would re-add the
        clause).  fuzziness "AUTO" = 0/1/2 edits at the ES length
        breakpoints 3 and 6, measured on the analyzed token.

        Physical plan: ALL tokens' dictionary expansions run as ONE
        batched job (per-token length-band + levenshtein filters
        unioned over the term-sorted stats, a per-token window cutting
        max_expansions closest-first — N tokens cost one job, not N);
        then one bucket-pruned decode + groupBy per group (the same
        posting mass ES's per-clause traversal pays), a unionByName +
        ONE groupBy(doc_id) sum across groups — no θ-pruning (synonym
        groups break per-term monotonicity), like the other
        combined-order queries."""
        if k <= 0:
            return self._empty_scored(join_docs)
        import re

        specs = []
        for t in dict.fromkeys(tokenize_py(query)):
            edits = (
                (0 if len(t) < 3 else 1 if len(t) < 6 else 2)
                if fuzziness == "AUTO"
                else int(fuzziness)
            )
            w = re.sub(r"[^a-z0-9]", "", t.lower())
            if w:
                specs.append((w, max(0, min(int(edits), 2))))
        if not specs:
            return self._empty_scored(join_docs)
        exp_frames = []
        for w, edits in specs:
            dist = F.levenshtein(F.col("term"), F.lit(w))
            cond = (
                ~F.col("term").contains("!")
                & (F.abs(F.length("term") - F.lit(len(w))) <= edits)
                & (dist <= edits)
            )
            if prefix_length > 0:
                if len(w) <= prefix_length:
                    cond = F.col("term") == w
                else:
                    cond = F.col("term").startswith(
                        w[:prefix_length]
                    ) & cond
            exp_frames.append(
                self.term_stats.filter(cond).select(
                    F.lit(w).alias("_w"), "term", "df", "term_bucket",
                    dist.alias("_d"),
                )
            )
        u = exp_frames[0]
        for f in exp_frames[1:]:
            u = u.unionByName(f)
        wnd = Window.partitionBy("_w").orderBy(F.asc("_d"), F.asc("term"))
        exp_rows = (
            u.withColumn("_rn", F.row_number().over(wnd))
            .filter(F.col("_rn") <= int(max_expansions))
            .collect()
        )
        by_tok: Dict[str, List[Tuple[int, str, int, int]]] = {}
        for r in exp_rows:
            by_tok.setdefault(r["_w"], []).append(
                (int(r["_d"]), r["term"], int(r["df"]),
                 int(r["term_bucket"]))
            )
        frames = []
        for w, _edits in specs:
            exps = [
                (t, df, b)
                for _d, t, df, b in sorted(by_tok.get(w, []))
            ]
            f = self._synonym_group_scored(exps)
            if f is not None:
                frames.append(f)
        if not frames:
            return self._empty_scored(join_docs)
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        topk = (
            u.groupBy("doc_id")
            .agg(F.sum("score").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        return self._join_docs(topk) if join_docs else topk

    def field_caps(self) -> Dict[str, Dict[str, object]]:
        """Field capabilities — the ES `_field_caps` API: what each
        queryable field is (type) and how it can be used (searchable
        through the inverted index vs aggregatable/sortable/filterable
        as a metadata column).  Docs-table columns are metadata fields
        (aggregatable + filter-context searchable, like ES keyword/
        numeric/date doc_values); `content` is the analyzed full-text
        stream behind the posting lists (searchable, NOT aggregatable —
        ES `text` has no doc_values), plus title/description as
        analyzed fields when the index was built with field postings
        (detected by one StartsWith-pruned dictionary probe — the
        namespaced terms live in term_stats)."""
        spark_to_es = {
            "bigint": "long", "double": "double", "string": "keyword",
            "timestamp": "date", "timestamp_ntz": "date",
            "boolean": "boolean",
        }
        out: Dict[str, Dict[str, object]] = {}
        for name, dtype in self.docs.dtypes:
            out[name] = {
                "type": spark_to_es.get(dtype, dtype),
                "searchable": True,   # filter context (metadata scan)
                "aggregatable": True,
            }
        analyzed = ["content"]
        has_fields = (
            self.term_stats.filter(F.col("term").startswith("t!"))
            .limit(1)
            .count()
            > 0
        )
        if has_fields:
            analyzed += ["title", "description"]
        for name in analyzed:
            out[name] = {
                "type": "text",
                "searchable": True,   # full-text via posting lists
                "aggregatable": False,
            }
        return out

    def terms_enum(
        self,
        string: str = "",
        size: int = 10,
        search_after: Optional[str] = None,
    ) -> List[str]:
        """Dictionary enumeration — the ES `_terms_enum` API (index-
        backed autocomplete): the first `size` dictionary terms with
        the given prefix, in term order; `search_after` resumes the
        walk strictly after a term (cursor pagination, page N costs one
        pruned scan like page 1).  The prefix is normalized like a
        token but NOT stemmed (it matches the stemmed dictionary
        directly, the expand_prefix convention); field-namespaced
        (t!/d!) terms are excluded.  Like ES, results reflect the
        INDEX dictionary: terms contributed only by deleted docs keep
        appearing until compaction folds them out (Lucene-stale).

        Scale: term_stats is range-partitioned + sorted by term, so
        StartsWith and the search_after lower bound push down as
        string-range predicates — the scan reads O(matching range),
        then TakeOrderedAndProject cuts `size`."""
        import re

        if size <= 0:
            return []
        p = re.sub(r"[^a-z0-9]", "", (string or "").lower())
        cond = ~F.col("term").contains("!")
        if p:
            cond &= F.col("term").startswith(p)
        if search_after is not None:
            cond &= F.col("term") > str(search_after)
        rows = (
            self.term_stats.filter(cond)
            .select("term")
            .orderBy(F.asc("term"))
            .limit(int(size))
            .collect()
        )
        return [r["term"] for r in rows]

    def search_bool_prefix(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 50,
        join_docs: bool = True,
    ) -> DataFrame:
        """Search-as-you-type, unordered — the ES `match_bool_prefix`
        query: every token but the last matches as a plain OR term
        clause; the last (incomplete) token matches as a prefix.
        Unlike match_phrase_prefix, tokens may appear ANYWHERE in the
        doc, in any order (ES lowers it to bool{should: [term...,
        prefix]}).

        Scoring: Σ of the full terms' plain BM25 contributions plus
        the prefix expansion's synonym-group score (tf summed
        pre-saturation, max-df blended idf — the search_prefix
        convention).  The last token uses the RAW normalized prefix
        (not stemmed), matching the dictionary directly, exactly like
        search_phrase_prefix's last slot.

        Physical plan: the full-term side is one exhaustive OR pass
        (decode + groupBy bounded by Σ df); the prefix side is the
        synonym-group pass; a full outer join sums the two — no
        θ-pruning (the combined order spans two score sources)."""
        if k <= 0:
            return self._empty_scored(join_docs)
        import re

        words = query.strip().split()
        if not words:
            return self._empty_scored(join_docs)
        last = re.sub(r"[^a-z0-9]", "", words[-1].lower())
        full = tokenize_py(" ".join(words[:-1]))
        term_scores = self._or_scored(full) if full else None
        group_scores = (
            self._synonym_group_scored(self.expand_prefix(last, max_expansions))
            if last
            else None
        )
        if term_scores is None and group_scores is None:
            return self._empty_scored(join_docs)
        if term_scores is None:
            scored = group_scores
        elif group_scores is None:
            scored = term_scores
        else:
            scored = (
                term_scores.withColumnRenamed("score", "_ts")
                .join(
                    group_scores.withColumnRenamed("score", "_gs"),
                    "doc_id",
                    "full_outer",
                )
                .select(
                    "doc_id",
                    (
                        F.coalesce(F.col("_ts"), F.lit(0.0))
                        + F.coalesce(F.col("_gs"), F.lit(0.0))
                    ).alias("score"),
                )
            )
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return self._join_docs(topk) if join_docs else topk

    def _pos_postings(self) -> DataFrame:
        if self._pos_cache is None:
            from search_engine_spark import schemas
            from search_engine_spark.index.merge import _fs_exists

            if not _fs_exists(self.spark, self.paths.pos_postings):
                raise ValueError(
                    "index was not built with index_positions=True — "
                    "phrase search and positional term vectors need "
                    "positional postings"
                )
            self._pos_cache = self.spark.read.schema(
                schemas.POS_POSTINGS
            ).parquet(self.paths.pos_postings)
        return self._pos_cache

    def _conjunctive_candidates(
        self,
        terms: List[str],
        stats: Dict[str, Tuple[int, float, int, int, int]],
    ) -> Optional[np.ndarray]:
        """Collect the rarest term's doc ids when df skew makes the
        pre-pass pay (see phrase_cand_* in __init__); returns a sorted
        unique int64 array, or None when the gate is off.  Any
        conjunctive operator uses it — exact phrases (all terms must
        co-occur with positions) and AND-mode search (all terms must
        co-occur) share the same bound: results ⊆ docs(rarest term).

        Reads the SCORE postings (no positions payload) pruned to one
        term's bucket — a single tiny job whose output is bounded by
        phrase_cand_max_df ids.  An empty array is a proof of zero
        matches (conjunctive semantics), short-circuited by the caller.
        """
        if len(terms) < 2:
            return None
        dfs = {t: stats[t][0] for t in terms}
        rare = min(terms, key=lambda t: (dfs[t], t))
        lo, hi = dfs[rare], max(dfs.values())
        pruned = sum(d - lo for d in dfs.values())
        if (
            lo > self.phrase_cand_max_df
            or hi < self.phrase_cand_ratio * lo
            or pruned < self.phrase_cand_min_pruned
        ):
            return None
        return self._term_doc_ids(rare, stats)

    def _term_doc_ids(self, term: str, stats) -> np.ndarray:
        """One term's doc ids, collected driver-side as a sorted unique
        int64 array (SCORE postings — ids only, tfs/doclens never
        decoded).  Callers gate on df before calling (the array lives
        on the driver and ships to every decode task)."""
        pdf = (
            self.postings.filter(
                (F.col("term_bucket") == stats[term][2])
                & (F.col("term") == term)
            )
            .select("count", "doc_ids")
            .mapInPandas(_decode_doc_ids(), schema="doc_id long")
            .toPandas()
        )
        if pdf.empty:
            return np.empty(0, dtype=np.int64)
        return np.unique(pdf["doc_id"].to_numpy(np.int64))

    def search_phrase(
        self, query: str, k: int = 10, join_docs: bool = True,
        slop: int = 0,
    ) -> DataFrame:
        """Exact-phrase top-k over the positional postings (Lucene
        PhraseQuery / ES match_phrase analogue).  The reference PARSES
        quoted phrases (tfidf.py:589-626, F17) but never executes them
        — this makes the parsed phrase operator real.

        slop > 0 — ordered proximity (ES match_phrase slop shape,
        order-preserving variant): tokens must appear in query order
        at strictly increasing positions p_0 < ... < p_{n-1} with
        window overhead (p_{n-1} - p_0) - (n-1) <= slop; ptf = number
        of distinct matching p_0.  The chain check runs in an Arrow
        pandas UDF only over docs that already passed the conjunctive
        all-terms cut (bounded by the rarest term's df), one vectorized
        searchsorted per phrase level per doc.  slop=0 keeps the fully
        native array_intersect path.

        Semantics: the phrase's tokens (canonical tokenizer — stopwords
        removed, stemmed) must occupy consecutive positions in the
        doc's filtered token stream, i.e. adjacency-after-stopword-
        removal, matching how positions were assigned at build time
        (schemas.POS_POSTINGS).  A phrase containing any unindexed term
        matches nothing (conjunctive).  Scoring follows Lucene's
        PhraseQuery shape: the phrase acts as a pseudo-term with
        tf = occurrence count and idf = Σ idf over the phrase's
        DISTINCT terms; score = BM25(ptf, dl, idf_sum, avgdl).

        Plan shape (scale notes): the positional scan prunes to the
        query terms' term_bucket partitions + term predicate pushdown
        exactly like the score-posting scan; the Arrow decoder emits
        one row per (term-offset pair, matching doc) carrying that
        doc's SHIFTED position list, so the only shuffle is the
        groupBy(doc_id) whose width is bounded by the RAREST term's df
        after the count == n_pairs conjunctive cut; the n-way position
        intersection (ptf) runs as native array_intersect inside
        whole-stage codegen, not Python.
        """
        if slop < 0:
            raise ValueError(f"slop must be >= 0, got {slop}")
        if k <= 0:
            return self._empty_scored(join_docs)
        scored = self._phrase_scored(query, slop=slop)
        if scored is None:
            return self._empty_scored(join_docs)
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if not join_docs:
            return topk
        return self._join_docs(topk)

    def _phrase_scored(
        self, query: str, slop: int = 0,
        cand: Optional[np.ndarray] = None,
    ) -> Optional[DataFrame]:
        """(doc_id, score) for EVERY doc matching the phrase, tombstones
        dropped — search_phrase minus the top-k cut, reused by boolean
        composition where phrases are must clauses.  None means provably
        empty (no tokens / unindexed term / empty candidate pre-pass).
        cand: optional sorted-unique int64 candidate mask pushed into
        the Arrow decode (rescore windows restrict the phrase pass to
        the window's docs this way)."""
        toks = tokenize_py(query)
        if not toks:
            return None
        offs: Dict[str, List[int]] = {}
        for i, t in enumerate(toks):
            offs.setdefault(t, []).append(i)
        terms = sorted(offs)
        stats = self._query_stats(terms)
        if any(t not in stats for t in terms):
            return None
        idf_sum = sum(idf_py(self.n_docs, stats[t][0]) for t in terms)
        buckets = sorted({stats[t][2] for t in terms})
        n_pairs = len(toks)

        cand_ids = self._conjunctive_candidates(terms, stats)
        if cand is not None:
            cand_ids = (
                cand
                if cand_ids is None
                else np.intersect1d(cand_ids, cand, assume_unique=True)
            )
        if cand_ids is not None and not len(cand_ids):
            return None

        blocks = self._pos_postings().filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )
        cand = blocks.select(
            "term", "count", "doc_ids", "pos_counts", "positions", "doclens"
        ).mapInPandas(_decode_phrase_starts(offs, cand_ids), schema=_PHRASE_SCHEMA)
        # Conjunctive cut: each (term, offset) pair contributes exactly
        # one row per doc (a (term, doc) lives in exactly one block run
        # — tf is pre-aggregated and the salt splits by doc hash), so a
        # doc survives iff all n_pairs shifted lists are non-empty.
        agg_col = (
            F.collect_list("starts").alias("_arrs")
            if slop == 0
            else F.collect_list(F.struct("off", "starts")).alias("_pairs")
        )
        grouped = (
            cand.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("_np"),
                F.first("dl").alias("dl"),
                agg_col,
            )
            .filter(F.col("_np") == n_pairs)
        )
        if slop > 0:
            ptf_col = _sloppy_ptf_udf(slop, n_pairs)(F.col("_pairs"))
        elif n_pairs > 1:
            inter = F.aggregate(
                F.slice("_arrs", 2, n_pairs - 1),
                F.element_at("_arrs", 1),
                lambda acc, x: F.array_intersect(acc, x),
            )
            ptf_col = F.size(inter)
        else:
            ptf_col = F.size(F.element_at("_arrs", 1))
        scored = (
            grouped.withColumn("_ptf", ptf_col)
            .filter(F.col("_ptf") > 0)
            .select(
                "doc_id",
                score_col(
                    F.col("_ptf").cast("double"),
                    F.col("dl").cast("double"),
                    F.lit(float(idf_sum)),
                    self.avgdl,
                ).alias("score"),
            )
        )
        return self._drop_tombstones(scored)

    def search_intervals(
        self,
        query: str,
        max_gaps: int = -1,
        ordered: bool = False,
        k: int = 10,
        join_docs: bool = True,
    ) -> DataFrame:
        """Intervals query — the ES `intervals` `match` source
        (Lucene IntervalQuery): docs where the query's terms occur
        within a minimal interval, optionally in order, with at most
        `max_gaps` extra positions inside (`-1` = unlimited, ES's
        default).  ordered + max_gaps generalizes match_phrase slop
        (slop s == ordered max_gaps=s over the same tokens); unordered
        is the proximity-any-order shape match_phrase cannot express.

        Matching is EXACT Lucene minimal-interval semantics (strictly
        increasing chains / minimal windows, positions from the
        filtered token stream).  Scoring follows this engine's phrase
        convention — the interval acts as a pseudo-term with
        tf = minimal-interval count and idf = Σ idf over the distinct
        terms (Lucene instead weights each interval by 1/width; a
        documented divergence, pinned by the in-repo oracle).

        Plan shape = the phrase plan: bucket-pruned positional scan,
        Arrow decode masked by the rarest-term conjunctive cut, ONE
        groupBy(doc_id) bounded by the rarest term's df, the interval
        sweep in an Arrow UDF over docs that already hold every term.
        Queries with a repeated term are refused (NotImplementedError)
        rather than silently collapsed."""
        if k <= 0:
            return self._empty_scored(join_docs)
        scored = self._intervals_scored(query, max_gaps, ordered)
        if scored is None:
            return self._empty_scored(join_docs)
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return self._join_docs(topk) if join_docs else topk

    def _intervals_scored(
        self, query: str, max_gaps: int, ordered: bool
    ) -> Optional[DataFrame]:
        """(doc_id, score) for EVERY doc with a matching interval —
        search_intervals minus the top-k cut (reused by the DSL's
        any_of union).  None = provably empty."""
        toks = tokenize_py(query)
        if not toks:
            return None
        if len(set(toks)) != len(toks):
            raise NotImplementedError(
                "intervals subset: repeated terms in one match source"
            )
        offs = {t: [i] for i, t in enumerate(toks)}
        terms = sorted(offs)
        stats = self._query_stats(terms)
        if any(t not in stats for t in terms):
            return None
        idf_sum = sum(idf_py(self.n_docs, stats[t][0]) for t in terms)
        buckets = sorted({stats[t][2] for t in terms})
        n_terms = len(toks)

        cand_ids = self._conjunctive_candidates(terms, stats)
        if cand_ids is not None and not len(cand_ids):
            return None
        blocks = self._pos_postings().filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )
        cand = blocks.select(
            "term", "count", "doc_ids", "pos_counts", "positions", "doclens"
        ).mapInPandas(
            _decode_phrase_starts(offs, cand_ids, shift=False),
            schema=_PHRASE_SCHEMA,
        )
        grouped = (
            cand.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("_np"),
                F.first("dl").alias("dl"),
                F.collect_list(F.struct("off", "starts")).alias("_pairs"),
            )
            .filter(F.col("_np") == n_terms)
        )
        freq = _intervals_freq_udf(int(max_gaps), bool(ordered), n_terms)
        scored = (
            grouped.withColumn("_ptf", freq(F.col("_pairs")))
            .filter(F.col("_ptf") > 0)
            .select(
                "doc_id",
                score_col(
                    F.col("_ptf").cast("double"),
                    F.col("dl").cast("double"),
                    F.lit(float(idf_sum)),
                    self.avgdl,
                ).alias("score"),
            )
        )
        return self._drop_tombstones(scored)

    def rewrite_span_multi(self, node):
        """Rewrite every `span_multi` subtree into a `span_or` of RAW
        dictionary terms — Lucene's SpanMultiTermQueryWrapper rewrite.
        The wrapped multi-term query (prefix / wildcard / fuzzy /
        regexp) expands against the term dictionary with the same
        capped, deterministic expanders the top-level queries use
        (expand_prefix / expand_wildcard / expand_fuzzy /
        expand_regexp); expansions become `span_raw_term` leaves so the
        already-stemmed dictionary terms are NOT re-analyzed.  A
        pattern with no expansions rewrites to a never-matching leaf.
        Structural nodes recurse; everything else passes through."""
        if not isinstance(node, dict) or len(node) != 1:
            return node
        kind, body = next(iter(node.items()))
        if kind == "span_multi":
            match = body.get("match") if isinstance(body, dict) else None
            if not isinstance(match, dict) or len(match) != 1:
                raise NotImplementedError(
                    "span query subset: span_multi needs a single-key "
                    "match query"
                )
            mkind, mbody = next(iter(match.items()))
            if not isinstance(mbody, dict) or len(mbody) != 1:
                raise NotImplementedError(
                    f"span query subset: span_multi {mkind} must name "
                    "exactly one field"
                )
            field, spec = next(iter(mbody.items()))
            if field not in ("content", "text"):
                raise NotImplementedError(
                    f"span query subset: span_multi on field {field!r}"
                )
            opts = spec if isinstance(spec, dict) else {}
            value = opts.get("value", spec if not isinstance(spec, dict)
                             else None)
            if value is None:
                raise NotImplementedError(
                    "span query subset: span_multi match without a value"
                )
            max_exp = int(opts.get("max_expansions", 50))
            if mkind == "prefix":
                exps = self.expand_prefix(str(value), max_exp)
            elif mkind == "wildcard":
                exps = self.expand_wildcard(str(value), max_exp)
            elif mkind == "regexp":
                exps = self.expand_regexp(str(value), max_exp)
            elif mkind == "fuzzy":
                fz = opts.get("fuzziness", "AUTO")
                if fz == "AUTO":
                    # ES fuzzy default: edit budget by term length
                    # (0 under 3 chars, 1 under 6, else 2)
                    n = len(str(value))
                    fz = 0 if n < 3 else 1 if n < 6 else 2
                exps = self.expand_fuzzy(
                    str(value),
                    max_edits=int(fz),
                    prefix_length=int(opts.get("prefix_length", 0)),
                    max_expansions=max_exp,
                )
            else:
                raise NotImplementedError(
                    f"span query subset: span_multi match kind {mkind!r}"
                )
            clauses = [
                {"span_raw_term": {"content": t}} for t, _df, _b in exps
            ]
            if not clauses:
                return {"span_raw_term": {"content": ""}}  # never matches
            if len(clauses) == 1:
                return clauses[0]
            return {"span_or": {"clauses": clauses}}
        if kind in ("span_near", "span_or"):
            out = dict(body)
            out["clauses"] = [
                self.rewrite_span_multi(c)
                for c in (body.get("clauses") or [])
            ]
            return {kind: out}
        if kind == "span_not":
            out = dict(body)
            for part in ("include", "exclude"):
                if part in out:
                    out[part] = self.rewrite_span_multi(out[part])
            return {kind: out}
        if kind == "span_first":
            out = dict(body)
            if "match" in out:
                out["match"] = self.rewrite_span_multi(out["match"])
            return {kind: out}
        if kind in ("span_containing", "span_within"):
            out = dict(body)
            for part in ("big", "little"):
                if part in out:
                    out[part] = self.rewrite_span_multi(out[part])
            return {kind: out}
        return node

    def search_spans(
        self, span_query: dict, k: int = 10, join_docs: bool = True
    ) -> DataFrame:
        """Span query family — ES/Lucene span_term / span_near /
        span_or / span_not / span_first / span_containing / span_within
        over the positional postings.  `span_query` is the ES body
        subtree, e.g.::

            {"span_near": {"clauses": [
                 {"span_term": {"content": "merge"}},
                 {"span_or": {"clauses": [
                     {"span_term": {"content": "sorted"}},
                     {"span_term": {"content": "hashed"}}]}},
             ], "slop": 3, "in_order": True}}

        Semantics are pinned in query/spans.py (end-exclusive spans on
        the filtered token stream; ordered near is EXACT via backward
        DP where Lucene's NearSpansOrdered is greedy-approximate;
        unordered near = term-only minimal windows).  Scoring follows
        the engine's phrase convention: pseudo-term tf = matching-span
        count, idf = Σ idf over the distinct POSITIVE leaf terms
        (exclude subtrees contribute nothing).

        Plan shape = the phrase/intervals plan: ONE positional scan
        pruned to the leaf terms' buckets + term pushdown, Arrow decode
        masked by the REQUIRED-terms conjunctive gate (ordinals a match
        must contain — OR branches don't widen the cut), ONE
        groupBy(doc_id) bounded by the union of the leaf dfs (required
        cut applied natively before the Python evaluator runs), span
        composition per doc in an Arrow UDF over position lists.
        Unsupported shapes raise NotImplementedError naming the gap.
        """
        if k <= 0:
            return self._empty_scored(join_docs)
        scored = self._spans_scored(span_query)
        if scored is None:
            return self._empty_scored(join_docs)
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return self._join_docs(topk) if join_docs else topk

    def _spans_scored(self, span_query: dict) -> Optional[DataFrame]:
        """(doc_id, score) for EVERY doc the span query matches —
        search_spans minus the top-k cut.  None = provably empty
        (a required branch analyzes to nothing / unindexed required
        term / empty conjunctive pre-pass / no positive indexed term).
        """
        span_query = self.rewrite_span_multi(span_query)
        parse = parse_span_query(span_query)
        if parse.required is None:
            return None
        terms = parse.terms
        stats = self._query_stats(sorted(set(terms)))
        req_terms = sorted({terms[o] for o in parse.required})
        if any(t not in stats for t in req_terms):
            return None
        pos_terms = sorted(t for t in parse.positive_terms if t in stats)
        if not pos_terms:
            return None
        idf_sum = sum(idf_py(self.n_docs, stats[t][0]) for t in pos_terms)
        offs = {t: [i] for i, t in enumerate(terms) if t in stats}
        if not offs:
            return None
        buckets = sorted({stats[t][2] for t in offs})

        cand_ids = (
            self._conjunctive_candidates(req_terms, stats)
            if len(req_terms) >= 2
            else None
        )
        if cand_ids is not None and not len(cand_ids):
            return None
        blocks = self._pos_postings().filter(
            F.col("term_bucket").isin(buckets)
            & F.col("term").isin(sorted(offs))
        )
        cand = blocks.select(
            "term", "count", "doc_ids", "pos_counts", "positions", "doclens"
        ).mapInPandas(
            _decode_phrase_starts(offs, cand_ids, shift=False),
            schema=_PHRASE_SCHEMA,
        )
        grouped = cand.groupBy("doc_id").agg(
            F.first("dl").alias("dl"),
            F.collect_list(F.struct("off", "starts")).alias("_pairs"),
            F.collect_set("off").alias("_offs"),
        )
        req_offs = sorted(parse.required)
        if req_offs:
            need = F.array(*[F.lit(int(o)) for o in req_offs])
            grouped = grouped.filter(
                F.size(F.array_intersect(F.col("_offs"), need))
                == len(req_offs)
            )
        freq = _spans_freq_udf(parse.tree, len(terms))
        scored = (
            grouped.withColumn("_ptf", freq(F.col("_pairs")))
            .filter(F.col("_ptf") > 0)
            .select(
                "doc_id",
                score_col(
                    F.col("_ptf").cast("double"),
                    F.col("dl").cast("double"),
                    F.lit(float(idf_sum)),
                    self.avgdl,
                ).alias("score"),
            )
        )
        return self._drop_tombstones(scored)

    def search_phrase_prefix(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 50,
        join_docs: bool = True,
    ) -> DataFrame:
        """Search-as-you-type — the ES `match_phrase_prefix` query: the
        phrase's last token is an incomplete prefix; a doc matches at
        start p iff the full prefix tokens occupy p..p+n−2 and ANY
        dictionary expansion of the last token (≤ max_expansions, term
        order — expand_prefix) sits at p+n−1.  Lucene shape:
        MultiPhraseQuery with a synonym last slot.

        Scoring follows the engine's phrase + synonym conventions:
        pseudo-term tf = number of distinct matching start positions
        (union over expansions), idf = Σ idf over the DISTINCT prefix
        terms + the expansion group's max-df blended idf (the
        search_prefix synonym convention), score = BM25(ptf, dl,
        idf_sum, avgdl).

        Physical plan: ONE positional scan pruned to the prefix terms'
        + expansions' buckets; the Arrow decoder emits one shifted
        position list per (term, offset, doc); the conjunctive cut
        requires all prefix offsets plus ≥1 expansion row, so the
        groupBy is bounded by the rarest PREFIX term's df (the
        _conjunctive_candidates gate applies to the prefix exactly as
        in search_phrase); the position intersection and the expansion
        union run as native array ops inside codegen."""
        if k <= 0:
            return self._empty_scored(join_docs)
        toks = tokenize_py(query)
        # the last token is a prefix pattern: normalize like expand_prefix
        import re

        raw_last = query.strip().split()[-1] if query.strip() else ""
        last = re.sub(r"[^a-z0-9]", "", raw_last.lower())
        # tokenize_py may stem/drop the incomplete last token — the
        # prefix slot must use the RAW normalized prefix, so recompute
        # the prefix tokens from everything before the last word
        ptoks = tokenize_py(" ".join(query.strip().split()[:-1]))
        if not last:
            return self._empty_scored(join_docs)
        expansions = self.expand_prefix(last, max_expansions)
        if not expansions:
            return self._empty_scored(join_docs)
        offs: Dict[str, List[int]] = {}
        for i, t in enumerate(ptoks):
            offs.setdefault(t, []).append(i)
        pterms = sorted(offs)
        stats = self._query_stats(pterms)
        if any(t not in stats for t in pterms):
            return self._empty_scored(join_docs)
        n_prefix = len(ptoks)
        last_off = n_prefix
        exp_terms = []
        for term, df, bucket in expansions:
            offs.setdefault(term, []).append(last_off)
            exp_terms.append(term)
        idf_sum = sum(idf_py(self.n_docs, stats[t][0]) for t in pterms)
        idf_sum += idf_py(self.n_docs, max(df for _, df, _ in expansions))
        buckets = sorted(
            {stats[t][2] for t in pterms} | {b for *_, b in expansions}
        )
        all_terms = sorted(set(pterms) | set(exp_terms))

        cand_ids = (
            self._conjunctive_candidates(pterms, stats) if pterms else None
        )
        if cand_ids is not None and not len(cand_ids):
            return self._empty_scored(join_docs)

        blocks = self._pos_postings().filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(all_terms)
        )
        cand = blocks.select(
            "term", "count", "doc_ids", "pos_counts", "positions", "doclens"
        ).mapInPandas(
            _decode_phrase_starts(offs, cand_ids), schema=_PHRASE_SCHEMA
        )
        is_pfx = F.col("off") < last_off
        grouped = (
            cand.groupBy("doc_id")
            .agg(
                F.first("dl").alias("dl"),
                F.sum(F.when(is_pfx, 1).otherwise(0)).alias("_npfx"),
                F.collect_list(F.when(is_pfx, F.col("starts"))).alias("_pfx"),
                F.flatten(
                    F.collect_list(F.when(~is_pfx, F.col("starts")))
                ).alias("_exp"),
            )
            .filter((F.col("_npfx") == n_prefix) & (F.size("_exp") > 0))
        )
        exp_u = F.array_distinct(F.col("_exp"))
        if n_prefix == 0:
            ptf_col = F.size(exp_u)
        elif n_prefix == 1:
            ptf_col = F.size(
                F.array_intersect(F.element_at("_pfx", 1), exp_u)
            )
        else:
            inter = F.aggregate(
                F.slice("_pfx", 2, n_prefix - 1),
                F.element_at("_pfx", 1),
                lambda acc, x: F.array_intersect(acc, x),
            )
            ptf_col = F.size(F.array_intersect(inter, exp_u))
        scored = (
            grouped.withColumn("_ptf", ptf_col)
            .filter(F.col("_ptf") > 0)
            .select(
                "doc_id",
                score_col(
                    F.col("_ptf").cast("double"),
                    F.col("dl").cast("double"),
                    F.lit(float(idf_sum)),
                    self.avgdl,
                ).alias("score"),
            )
        )
        scored = self._drop_tombstones(scored)
        topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if not join_docs:
            return topk
        return self._join_docs(topk)

    def search_many(
        self,
        queries: Dict[str, str],
        k: int = 10,
        mode: str = "or",
        join_docs: bool = False,
    ) -> DataFrame:
        """Batch top-k for MANY queries in one distributed plan.

        Driving `search()` in a loop schedules one Spark job per query
        — fine interactively, hopeless for offline evaluation or bulk
        retrieval over 10^4+ queries.  Here the whole batch becomes a
        single plan:

          * every needed term's posting blocks are scanned and decoded
            EXACTLY ONCE (terms shared between queries are free)
          * a tiny broadcast (query_id, term) table fans contributions
            out to the queries that want them
          * one groupBy(query_id, doc_id) + one per-query window cut
            produce all top-k lists in the same shuffle round

        mode "or" | "and" — same semantics as search().  Returns
        (query_id, rank, doc_id, score [+ url, title]), rank 1..k with
        the engine's deterministic tie-break (score desc, doc_id asc).
        """
        out_schema = "query_id string, rank int, doc_id long, score double"
        if join_docs:
            out_schema += ", url string, title string"
        qterms: Dict[str, List[str]] = {
            qid: sorted(set(tokenize_py(q))) for qid, q in queries.items()
        }
        all_terms = sorted({t for ts in qterms.values() for t in ts})
        stats = self._query_stats(all_terms)
        pairs = [
            (qid, t) for qid, ts in qterms.items() for t in ts if t in stats
        ]
        if not pairs or k <= 0:
            return self.spark.createDataFrame([], out_schema)
        live_terms = sorted({t for _, t in pairs})
        idf_by_term = {t: idf_py(self.n_docs, stats[t][0]) for t in live_terms}
        buckets = sorted({stats[t][2] for t in live_terms})

        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(live_terms)
        )
        contribs = blocks.select(
            "term", "count", "doc_ids", "tfs", "doclens"
        ).mapInPandas(
            _decode_and_score(idf_by_term, self.avgdl, emit_term=True),
            schema=_TERM_CONTRIB_SCHEMA,
        )
        qmap = self.spark.createDataFrame(pairs, "query_id string, term string")
        per_doc = (
            contribs.join(F.broadcast(qmap), "term")
            .groupBy("query_id", "doc_id")
            .agg(
                F.sum("contrib").alias("score"),
                F.count(F.lit(1)).alias("_nt"),
            )
        )
        if mode == "and":
            nt = self.spark.createDataFrame(
                [
                    (qid, len([t for t in ts if t in stats]))
                    for qid, ts in qterms.items()
                ],
                "query_id string, n_terms int",
            )
            per_doc = per_doc.join(F.broadcast(nt), "query_id").filter(
                F.col("_nt") == F.col("n_terms")
            )
        per_doc = per_doc.drop("_nt", "n_terms")
        per_doc = self._drop_tombstones(per_doc)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        topk = (
            per_doc.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )
        if not join_docs:
            return topk
        return (
            F.broadcast(topk)
            .join(self.docs.select("doc_id", "url", "title"), "doc_id")
            .select("query_id", "rank", "doc_id", "score", "url", "title")
            .orderBy("query_id", "rank")
        )

    def _gmax(
        self,
        t: str,
        stats: Dict[str, Tuple[int, Optional[float], int, int, int]],
        idf_by_term: Dict[str, float],
    ) -> float:
        """Per-term global score upper bound for WAND.

        Fresh index: the exact build-time max (term_stats.max_score).
        Merged index: that value is stale (N/avgdl moved) — recompute
        the monotone bound score(max_tf, min_dl) under current stats.
        """
        df, ms, _, max_tf, min_dl = stats[t]
        if ms is not None and not self.merged:
            return ms
        return float(
            score_np(
                np.array([max_tf], dtype=np.int64),
                np.array([min_dl], dtype=np.int64),
                idf_by_term[t],
                self.avgdl,
            )[0]
        )
