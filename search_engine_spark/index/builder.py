"""Inverted-index build pipeline (north rule core).

Replaces the reference's crawler->RabbitMQ->indexer->Elasticsearch chain
(backend/indexer_service/indexer.py:453-465, message_queue.py) with one
resumable batch DataFrame pipeline over a pages table:

  pages(url, warc_ts, html, text, lang)
    -> ONE fused Arrow pass: extraction (byte-identical to stored
       text) + tokenize (lower/punct/stopword/len>=2) + Porter stem
       (per-worker memo).  Measured: the native higher-order stopword
       filter is interpreted (no codegen for HOF lambdas) and memory-
       bound at high core counts — the fused Arrow pass is ~3x cheaper
       per doc and removes the vocabulary distinct+join shuffles.
    -> dense doc ids (hash-partitioned by url, deterministic)
    -> tf aggregation  groupBy(doc_id, term)          [map-side combine]
    -> per-term df / corpus stats / global max-score  [broadcastable]
    -> posting blocks: deterministic df-scaled salting — a term with df
       postings spreads over ceil(df/ROWS_PER_SALT) salt buckets keyed
       by xxhash64(doc_id); hash-repartition on (term, salt), then
       sortWithinPartitions + an Arrow block packer emits 128-posting
       delta+varint blocks with exact per-block max BM25 scores
    -> parquet partitioned by term_bucket = pmod(xxhash64(term), B)
       so query-time scans prune to the buckets of the query terms.

Resumability (north rule): every stage materializes to a stage table
and appends a manifest row (build_id, stage, partition_key, status,
rows, bytes, wall_ms).  Posting writes proceed in bucket GROUPS, each
its own commit + manifest row; a restarted build skips completed stages
and completed bucket groups — kill-and-rerun converges to the same
index (tests/test_index_build.py::test_resume).

Scale notes (100 TB / 10^12 docs):
- no driver-side collect of data (only tiny scalars + manifest)
- the only Python in the row path is Arrow-vectorized: the fused
  extract+tokenize+stem pass and block packing
- doc ids: monotonically_increasing_id over a range-partitioned sort by
  url — dense within partitions (gaps only at the P partition
  boundaries, ~5 varint bytes each), no global single-reducer window
- df/stats aggregations rely on partial aggregation; hot terms emit one
  partial row per map partition, so no reducer hot spot
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark import schemas
from search_engine_spark.index.codec import (
    delta_encode,
    segmented_delta_encode,
    segmented_delta_encode_with_nbytes,
    varint_encode,
    varint_encode_with_nbytes,
)
from search_engine_spark.index.scoring import idf_col, saturation_col, score_col
from search_engine_spark.text.extract import (
    extract_tokenize_batches,
    tokenize_batches,
)

DEFAULT_BLOCK_SIZE = 128
DEFAULT_NUM_BUCKETS = 64

# Multi-field term namespace (ES multi_match parity): title/description
# postings share the index under prefixed terms; '!' cannot appear in a
# token (the tokenizer strips non-alphanumerics), so no collisions.
FIELD_PREFIX = {"content": "", "title": "t!", "description": "d!"}


def _field_of(term):
    return (
        F.when(term.startswith("t!"), F.lit("title"))
        .when(term.startswith("d!"), F.lit("description"))
        .otherwise(F.lit("content"))
    )
# df-scaled skew salting: a term fans out over ceil(df / ROWS_PER_SALT)
# reducer keys (SURVEY §4.2.1 watch-list item).
ROWS_PER_SALT = 64 * 1024


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def tokens_stage(self) -> str:
        return os.path.join(self.root, "tokens_stage")

    @property
    def tf_stage(self) -> str:
        return os.path.join(self.root, "tf_stage")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def pos_postings(self) -> str:
        return os.path.join(self.root, "pos_postings")

    @property
    def term_stats(self) -> str:
        return os.path.join(self.root, "term_stats")

    @property
    def corpus_stats(self) -> str:
        return os.path.join(self.root, "corpus_stats")

    @property
    def field_stats(self) -> str:
        return os.path.join(self.root, "field_stats")

    @property
    def shingle_stats(self) -> str:
        return os.path.join(self.root, "shingle_stats")

    @property
    def unigram_stats(self) -> str:
        return os.path.join(self.root, "unigram_stats")

    @property
    def build_config(self) -> str:
        return os.path.join(self.root, "build_config")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest")

    @property
    def metrics(self) -> str:
        return os.path.join(self.root, "metrics")


_MANIFEST_PA = None


def _manifest_pa_schema():
    global _MANIFEST_PA
    if _MANIFEST_PA is None:
        import pyarrow as pa

        _MANIFEST_PA = pa.schema(
            [
                ("build_id", pa.string()),
                ("stage", pa.string()),
                ("partition_key", pa.int32()),
                ("status", pa.string()),
                ("rows", pa.int64()),
                ("bytes", pa.int64()),
                ("wall_ms", pa.int64()),
                ("input_fingerprint", pa.string()),
            ]
        )
    return _MANIFEST_PA


def write_rows_parquet(path: str, pa_schema, columns: dict) -> None:
    """Driver-side parquet append of a handful of metadata rows.

    Manifest rows and corpus scalars are commit markers, not data — a
    Spark job per append costs ~0.5 s of pure scheduling (measured; it
    was ~30% of the build's serial fraction at local[4]); a direct
    pyarrow write of one file into the directory is ~5 ms and yields
    the identical Spark-readable layout.  pyarrow.fs resolves the
    filesystem from the path, so hdfs:///s3:// index roots keep working
    on a real cluster."""
    import pyarrow as pa
    from pyarrow import fs as pafs
    from pyarrow import parquet as pq

    try:
        filesystem, base = pafs.FileSystem.from_uri(path)
    except Exception:
        filesystem, base = pafs.LocalFileSystem(), path
    filesystem.create_dir(base, recursive=True)
    table = pa.table(columns, schema=pa_schema)
    out = f"{base}/part-{uuid.uuid4().hex}.parquet"
    with filesystem.open_output_stream(out) as sink:
        pq.write_table(table, sink)


def _pa_dataset(path: str, schema=None, partitioning=None):
    """pyarrow dataset resolved through pyarrow.fs — the same local /
    hdfs:// / s3:// portability as the write path.  The file listing is
    taken here, once: the dataset is a snapshot of the directory."""
    import pyarrow.dataset as pads
    from pyarrow import fs as pafs

    try:
        filesystem, base = pafs.FileSystem.from_uri(path)
    except Exception:
        filesystem, base = pafs.LocalFileSystem(), path
    return pads.dataset(
        base, format="parquet", filesystem=filesystem, schema=schema,
        partitioning=partitioning,
    )


def read_parquet_table(path: str, columns=None):
    """Driver-side read of a small metadata table (manifest, config)."""
    return _pa_dataset(path).to_table(columns=columns)


def parquet_rowcount(path: str) -> int:
    """Row count from parquet footers (driver-side, no Spark job)."""
    return sum(
        frag.metadata.num_rows for frag in _pa_dataset(path).get_fragments()
    )


def write_term_stats(df, path: str) -> None:
    """Write term_stats range-partitioned + sorted by term.

    The query engine's per-query stats lookup is
    `term_stats.filter(term.isin(q_terms)).collect()`: at web scale the
    vocabulary is billions of rows (unique junk tokens), so the lookup
    must prune, not scan.  Range layout gives each file/row-group a
    narrow, monotone [min,max] term span, which parquet's pushed In
    filter skips on — same pattern as the docs table's doc_id layout.
    (Hash output from the upstream groupBy spreads every term range
    over every file, defeating min/max stats entirely.)
    """
    (
        df.repartitionByRange("term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(path)
    )


_CORPUS_PA = None


def write_corpus_stats(path: str, n_docs: int, avgdl: float, total_tokens: int) -> None:
    """Overwrite the 1-row corpus-stats table (driver-side write)."""
    global _CORPUS_PA
    import pyarrow as pa
    from pyarrow import fs as pafs

    if _CORPUS_PA is None:
        _CORPUS_PA = pa.schema(
            [
                ("n_docs", pa.int64()),
                ("avgdl", pa.float64()),
                ("total_tokens", pa.int64()),
            ]
        )
    try:
        filesystem, base = pafs.FileSystem.from_uri(path)
    except Exception:
        filesystem, base = pafs.LocalFileSystem(), path
    try:
        filesystem.delete_dir(base)
    except Exception:
        pass
    write_rows_parquet(
        path,
        _CORPUS_PA,
        {"n_docs": [n_docs], "avgdl": [avgdl], "total_tokens": [total_tokens]},
    )


_CONFIG_PA = None


def _config_pa_schema():
    global _CONFIG_PA
    if _CONFIG_PA is None:
        import pyarrow as pa

        _CONFIG_PA = pa.schema(
            [
                ("num_buckets", pa.int32()),
                ("block_size", pa.int32()),
                ("index_fields", pa.bool_()),
                ("index_positions", pa.bool_()),
                ("index_shingles", pa.bool_()),
                ("bucket_groups", pa.int32()),
            ]
        )
    return _CONFIG_PA


def write_build_config(
    path: str,
    num_buckets: int,
    block_size: int,
    index_fields: bool,
    index_positions: bool = False,
    index_shingles: bool = False,
    bucket_groups: int = 1,
) -> None:
    """Persist the layout-defining build parameters next to the index.
    Incremental merges MUST reuse them — a delta built with a different
    num_buckets lands in term_bucket partitions the query never scans.
    bucket_groups is recorded because the blocks stage's manifest keys
    are group ordinals: resuming with a different group count would
    silently skip (or re-append) whole posting partitions."""
    write_rows_parquet(
        path,
        _config_pa_schema(),
        {
            "num_buckets": [num_buckets],
            "block_size": [block_size],
            "index_fields": [index_fields],
            "index_positions": [index_positions],
            "index_shingles": [index_shingles],
            "bucket_groups": [bucket_groups],
        },
    )


def read_build_config(path: str) -> Optional[dict]:
    try:
        tbl = read_parquet_table(path)
        if tbl.num_rows == 0:
            return None
        row = tbl.to_pylist()[0]
        return {
            "num_buckets": int(row["num_buckets"]),
            "block_size": int(row["block_size"]),
            "index_fields": bool(row["index_fields"]),
            # absent in configs written before positional support
            "index_positions": bool(row.get("index_positions", False)),
            # absent in configs written before shingle-LM support
            "index_shingles": bool(row.get("index_shingles", False)),
            # absent in configs written before group-resume validation
            "bucket_groups": int(row.get("bucket_groups") or 1),
        }
    except Exception:
        return None


class _Manifest:
    """Per-partition lineage + resume bookkeeping (MANIFEST schema).

    Reads and writes go through pyarrow on the driver: each record is
    one tiny file appended into the manifest dir (atomic per stage /
    bucket group), Spark-readable for lineage queries but never paying
    a Spark job's fixed scheduling cost on the build's critical path.
    """

    def __init__(self, spark: SparkSession, paths: IndexPaths, build_id: str):
        self.spark = spark
        self.paths = paths
        self.build_id = build_id

    def done_keys(self, stage: str) -> set:
        try:
            pdf = read_parquet_table(
                self.paths.manifest,
                columns=["stage", "status", "partition_key"],
            ).to_pandas()
            hit = pdf[(pdf["stage"] == stage) & (pdf["status"] == "done")]
            return set(hit["partition_key"].tolist())
        except Exception:
            return set()

    def mark(
        self,
        stage: str,
        partition_key: int = 0,
        rows: int = -1,
        wall_ms: int = 0,
        nbytes: int = 0,
        fingerprint: Optional[str] = None,
        status: str = "done",
    ) -> None:
        write_rows_parquet(
            self.paths.manifest,
            _manifest_pa_schema(),
            {
                "build_id": [self.build_id],
                "stage": [stage],
                "partition_key": [partition_key],
                "status": [status],
                "rows": [rows],
                "bytes": [nbytes],
                "wall_ms": [wall_ms],
                "input_fingerprint": [fingerprint],
            },
        )

    def mark_done(
        self,
        stage: str,
        partition_key: int,
        rows: int,
        wall_ms: int,
        nbytes: int = 0,
        fingerprint: Optional[str] = None,
    ) -> None:
        self.mark(
            stage, partition_key, rows, wall_ms,
            nbytes=nbytes, fingerprint=fingerprint, status="done",
        )


# Arrow batch size for the posting-pack mapInPandas stages.  The packer
# is fully vectorized, so per-batch fixed costs (carry split, frame
# assembly) dominate at Spark's 10k default; 64k rows (~4 MB of tf
# rows) amortizes them ~2x without cache blowout (measured: 10k=9.6s,
# 64k=5.0s, 256k=4.7s, one giant batch=18s on a 12M-row Zipf stream).
# Scoped to the pack writes only — extraction batches carry ~5 KB HTML
# payloads per row and must stay at the default.
PACK_ARROW_BATCH = 65536


def _with_pack_batch(spark: SparkSession, fn):
    """Run fn() with the pack-stage Arrow batch size, restoring the
    session's previous setting afterwards (the conf is read at job
    execution, so it only needs to be set around the action)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(PACK_ARROW_BATCH))
    try:
        return fn()
    finally:
        spark.conf.set(key, prev)


def _pack_blocks(block_size: int):
    """mapInPandas generator factory: sorted (term, doc_id, tf, dl,
    score, term_bucket) rows -> packed posting blocks.

    Input partitions are range-partitioned on (term, doc_id) and sorted
    within; a term's run may span Arrow batches, so incomplete trailing
    runs carry over between batches and flush at end-of-partition.
    """

    cols = ["term", "term_bucket", "doc_id", "tf", "dl", "score"]

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            # Fully vectorized packing: block tiling by repeat/arange,
            # per-block reductions by ufunc.reduceat, and ONE varint
            # pass per payload column over the whole batch with blocks
            # sliced out by byte offset.  Byte-identical to packing
            # each block separately (varints are per-value; each
            # block's first doc_id stays absolute) but without the
            # per-block Python loop — measured ~6x on the build's
            # dominant stage.
            terms = pdf["term"].to_numpy()
            # contiguous run boundaries per term
            change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(terms)]))
            ids_all = pdf["doc_id"].to_numpy(np.int64).astype(np.uint64)
            tf_all = pdf["tf"].to_numpy(np.int64).astype(np.uint64)
            dl_all = pdf["dl"].to_numpy(np.int64).astype(np.uint64)
            sc_all = pdf["score"].to_numpy(np.float64)
            bkt_all = pdf["term_bucket"].to_numpy(np.int32)

            # block tiling: run r of length L contributes ceil(L/B)
            # blocks starting at starts[r] + k*B
            run_len = ends - starts
            nblk = -(-run_len // block_size)  # ceil
            total = int(nblk.sum())
            blk_run = np.repeat(np.arange(len(starts)), nblk)
            first_blk = np.zeros(len(starts), dtype=np.int64)
            np.cumsum(nblk[:-1], out=first_blk[1:])
            within = np.arange(total) - first_blk[blk_run]
            b_start = starts[blk_run] + within * block_size
            b_end = np.minimum(b_start + block_size, ends[blk_run])

            # per-block reductions (blocks tile the batch contiguously,
            # so reduceat segment i spans b_start[i]..b_start[i+1])
            blk_max_score = np.maximum.reduceat(sc_all, b_start)
            blk_max_tf = np.maximum.reduceat(tf_all, b_start)
            blk_min_dl = np.minimum.reduceat(dl_all, b_start)

            # doc-id payload: gap-encode globally with each BLOCK head
            # absolute (same bytes as delta_encode per block), one
            # varint pass, slice per block by byte offset
            gaps = np.empty_like(ids_all)
            gaps[0] = ids_all[0]
            np.subtract(ids_all[1:], ids_all[:-1], out=gaps[1:])
            gaps[b_start] = ids_all[b_start]

            def sliced(vals: np.ndarray) -> list:
                buf, nbytes = varint_encode_with_nbytes(vals)
                per_blk = np.add.reduceat(nbytes, b_start)
                offs = np.zeros(total + 1, dtype=np.int64)
                np.cumsum(per_blk, out=offs[1:])
                return [buf[offs[i]:offs[i + 1]] for i in range(total)]

            res = pd.DataFrame(
                {
                    "term": np.repeat(terms[starts], nblk),
                    "term_bucket": bkt_all[b_start],
                    "first_doc_id": ids_all[b_start].astype(np.int64),
                    "last_doc_id": ids_all[b_end - 1].astype(np.int64),
                    "count": (b_end - b_start).astype(np.int32),
                    "doc_ids": sliced(gaps),
                    "tfs": sliced(tf_all),
                    "doclens": sliced(dl_all),
                    "block_max_score": blk_max_score,
                    "max_tf": blk_max_tf.astype(np.int32),
                    "min_dl": blk_min_dl.astype(np.int64),
                }
            )
            return res.astype(
                {
                    "term_bucket": "int32",
                    "first_doc_id": "int64",
                    "last_doc_id": "int64",
                    "count": "int32",
                    "block_max_score": "float64",
                    "max_tf": "int32",
                    "min_dl": "int64",
                }
            )

        for pdf in batches:
            pdf = pdf[cols]
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last_term = pdf["term"].iloc[-1]
            head = pdf[pdf["term"] != last_term]
            carry = pdf[pdf["term"] == last_term].reset_index(drop=True)
            if len(head):
                yield emit(head)
        if carry is not None and len(carry):
            yield emit(carry)

    return pack


def _pack_pos_blocks(block_size: int):
    """mapInPandas generator factory for POSITIONAL blocks: sorted
    (term, term_bucket, doc_id, dl, positions:list<long>) rows ->
    POS_POSTINGS blocks (Lucene .prx analogue, schemas.POS_POSTINGS).

    Same carry protocol as _pack_blocks: a term's run may span Arrow
    batches, incomplete trailing runs carry over and flush at
    end-of-partition.
    """

    cols = ["term", "term_bucket", "doc_id", "dl", "positions"]

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            # Vectorized like _pack_blocks: block tiling + reduceat +
            # one encode pass per payload, sliced per block by byte
            # offset.  Block boundaries always fall on doc (segment)
            # heads, which the segmented codec keeps absolute, so the
            # slices are byte-identical to per-block encoding.
            terms = pdf["term"].to_numpy()
            change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(terms)]))
            ids_all = pdf["doc_id"].to_numpy(np.int64).astype(np.uint64)
            dl_all = pdf["dl"].to_numpy(np.int64).astype(np.uint64)
            bkt_all = pdf["term_bucket"].to_numpy(np.int32)
            pos_all = pdf["positions"].to_numpy()

            run_len = ends - starts
            nblk = -(-run_len // block_size)  # ceil
            total = int(nblk.sum())
            blk_run = np.repeat(np.arange(len(starts)), nblk)
            first_blk = np.zeros(len(starts), dtype=np.int64)
            np.cumsum(nblk[:-1], out=first_blk[1:])
            within = np.arange(total) - first_blk[blk_run]
            b_start = starts[blk_run] + within * block_size
            b_end = np.minimum(b_start + block_size, ends[blk_run])

            def sliced(buf: bytes, nbytes: np.ndarray, seg_start) -> list:
                # byte prefix-sum indexed by segment start: robust to
                # duplicate/terminal starts (zero-length segments),
                # which reduceat mishandles
                pref = np.zeros(len(nbytes) + 1, dtype=np.int64)
                np.cumsum(nbytes, out=pref[1:])
                offs = pref[np.append(seg_start, len(nbytes))]
                return [buf[offs[i]:offs[i + 1]] for i in range(total)]

            # doc-id payload: gaps with block heads absolute
            gaps = np.empty_like(ids_all)
            gaps[0] = ids_all[0]
            np.subtract(ids_all[1:], ids_all[:-1], out=gaps[1:])
            gaps[b_start] = ids_all[b_start]
            doc_ids = sliced(*varint_encode_with_nbytes(gaps), b_start)
            doclens = sliced(*varint_encode_with_nbytes(dl_all), b_start)

            # per-row position counts + flattened positions
            counts = np.fromiter(
                (len(p) for p in pos_all), dtype=np.int64, count=len(pos_all)
            )
            flat = (
                np.concatenate([np.asarray(p, dtype=np.uint64) for p in pos_all])
                if len(pos_all)
                else np.empty(0, dtype=np.uint64)
            )
            pos_counts = sliced(
                *varint_encode_with_nbytes(counts.astype(np.uint64)), b_start
            )
            # positions payload is indexed by POSITION offset, not row:
            # each block starts at its first row's offset into `flat`.
            # Guard the degenerate all-empty batch (flat size 0): every
            # block's payload is b"", which the empty-buf slice yields.
            row_off = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=row_off[1:])
            if flat.size:
                pbuf, pnb = segmented_delta_encode_with_nbytes(flat, counts)
                positions = sliced(pbuf, pnb, row_off[b_start])
            else:
                positions = [b""] * total

            return pd.DataFrame(
                {
                    "term": np.repeat(terms[starts], nblk),
                    "term_bucket": bkt_all[b_start],
                    "first_doc_id": ids_all[b_start].astype(np.int64),
                    "last_doc_id": ids_all[b_end - 1].astype(np.int64),
                    "count": (b_end - b_start).astype(np.int32),
                    "doc_ids": doc_ids,
                    "pos_counts": pos_counts,
                    "positions": positions,
                    "doclens": doclens,
                }
            ).astype(
                {
                    "term_bucket": "int32",
                    "first_doc_id": "int64",
                    "last_doc_id": "int64",
                    "count": "int32",
                }
            )

        for pdf in batches:
            pdf = pdf[cols]
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last_term = pdf["term"].iloc[-1]
            head = pdf[pdf["term"] != last_term]
            carry = pdf[pdf["term"] == last_term].reset_index(drop=True)
            if len(head):
                yield emit(head)
        if carry is not None and len(carry):
            yield emit(carry)

    return pack


def build_index(
    spark: SparkSession,
    pages: Optional[DataFrame],
    out_dir: str,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    block_size: int = DEFAULT_BLOCK_SIZE,
    bucket_groups: int = 1,
    num_partitions: Optional[int] = None,
    resume: bool = True,
    build_id: Optional[str] = None,
    run_extraction: bool = True,
    verify_extraction: bool = False,
    collect_metrics: bool = False,
    id_offset: int = 0,
    index_fields: bool = False,
    index_positions: bool = False,
    index_shingles: bool = False,
    rows_per_salt: int = ROWS_PER_SALT,
) -> IndexPaths:
    """Build the full inverted index under out_dir. Returns paths.

    With collect_metrics=True (requires spark.ui.enabled) a per-stage
    shuffle/throughput metrics table is appended under paths.metrics
    (north rule: metrics logged per shuffle stage).

    id_offset shifts every assigned doc_id (incremental delta builds:
    index/merge.py starts a batch's ids above the base index's max so
    base+delta ids never collide).  pages may be None when the docs/tf
    stages are already materialized under out_dir and marked done in
    the manifest (resume=True) — compaction uses this to re-run only
    the stats+blocks stages over a rewritten tf table.
    """
    paths = IndexPaths(out_dir)
    build_id = build_id or uuid.uuid4().hex[:12]
    existing_cfg = read_build_config(paths.build_config)
    if existing_cfg is not None and resume:
        # a resumed build MUST match the persisted layout: done-keys in
        # the manifest are meaningless under different bucketing/group
        # counts (skipped or duplicated posting partitions), and a
        # changed num_buckets would hash terms into partitions the
        # query-time pruning never scans
        requested = {
            "num_buckets": num_buckets,
            "block_size": block_size,
            "index_fields": index_fields,
            "index_positions": index_positions,
            "index_shingles": index_shingles,
            "bucket_groups": bucket_groups,
        }
        mismatch = {
            k: (existing_cfg.get(k), v)
            for k, v in requested.items()
            if existing_cfg.get(k) != v
        }
        if mismatch:
            raise ValueError(
                "build_index(resume=True) layout mismatch vs the "
                f"persisted build_config at {paths.build_config}: "
                f"{mismatch} (existing, requested). Pass the original "
                "settings, or rebuild fresh with resume=False."
            )
    elif existing_cfg is not None and not resume:
        # fresh rebuild into an existing index dir: the posting stages
        # are mode('append') and queries aggregate per doc across block
        # runs, so stale artifacts MUST go — postings, the manifest
        # (its done-keys describe the old build), and any merge-layer
        # state (deltas/tombstones reference the old doc_id space)
        # Hadoop-FS delete, NOT shutil.rmtree: the index root may be
        # hdfs:///s3a:// (the same FS helpers merge.py uses for
        # renames), where rmtree is a silent no-op and the stale
        # postings would survive under the appends below.  strict:
        # failing to clear must abort the rebuild, not corrupt it.
        from search_engine_spark.index.merge import _fs_delete

        for stale in (
            paths.postings, paths.pos_postings, paths.manifest,
            os.path.join(out_dir, "deltas"),
            os.path.join(out_dir, "tombstones"),
            os.path.join(out_dir, "premerge"),
            paths.build_config,
        ):
            _fs_delete(spark, stale, strict=True)
        existing_cfg = None
    man = _Manifest(spark, paths, build_id)
    P = num_partitions or spark.sparkContext.defaultParallelism * 2
    if existing_cfg is None:
        write_build_config(
            paths.build_config, num_buckets, block_size, index_fields,
            index_positions, index_shingles, bucket_groups,
        )

    metrics_coll = None
    if collect_metrics:
        from search_engine_spark.metrics import StageMetricsCollector

        metrics_coll = StageMetricsCollector(spark, build_id)
        if metrics_coll._base is None:
            # fail loudly, not with a silently-empty metrics table
            raise ValueError(
                "collect_metrics=True needs the Spark status REST API: "
                "set spark.ui.enabled=true on the session"
            )
        metrics_coll.begin()

    # ---- stage: docs + token stage table ----------------------------------
    # Extraction + tokenization + stemming run FUSED in one Arrow pass
    # (text.extract.extract_tokenize_batches): the native HOF stopword
    # filter was measured interpreted + memory-bound (~7 ms/doc, per-task
    # time RISING with local parallelism); the fused pass is ~2 ms/doc
    # and removes the vocabulary-stemming join entirely — tokens land
    # here already stemmed, so tf aggregates directly on final terms.
    if not (resume and man.done_keys("docs")):
        t0 = time.time()
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType, TimestampType,
        )

        common_fields = [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("lang", StringType()),
        ]
        tok_fields = [
            StructField("tokens", schemas.TOKENS),
            StructField("doclen", LongType()),
        ]
        if run_extraction:
            ext_schema = StructType(
                common_fields
                + ([StructField("text", StringType())] if verify_extraction else [])
                + [
                    StructField("title", StringType()),
                    StructField("description", StringType()),
                ]
                + (
                    [StructField("extracted_text", StringType())]
                    if verify_extraction
                    else []
                )
                + tok_fields
            )
            in_cols = ["url", "warc_ts", "lang"]
            if verify_extraction:
                in_cols.append("text")
            base = pages.select(*in_cols, "html").mapInPandas(
                extract_tokenize_batches(keep_text=verify_extraction),
                schema=ext_schema,
            )
            if verify_extraction:
                # North-rule per-row invariant: the distributed Arrow
                # UDF's extraction must be byte-identical to the stored
                # text column per url.  Recorded in the manifest as
                # lineage; a non-zero count fails the build loudly.
                n_bad = base.filter(
                    F.col("text").isNotNull()
                    & (F.col("text") != F.col("extracted_text"))
                ).count()
                man.mark_done(
                    "extract_verify", 0, n_bad, 0,
                    fingerprint="mismatch_rows",
                )
                if n_bad:
                    raise ValueError(
                        f"extraction byte-identity violated for {n_bad} rows"
                    )
                base = base.drop("text")
            tokenized = base.select(
                "url", "warc_ts", "lang", "title", "description",
                "tokens", "doclen",
            )
        else:
            tok_schema = StructType(common_fields + tok_fields)
            tokenized = (
                pages.select("url", "warc_ts", "lang", "text")
                .mapInPandas(tokenize_batches, schema=tok_schema)
                .select(
                    "url",
                    "warc_ts",
                    "lang",
                    F.lit(None).cast("string").alias("title"),
                    F.lit(None).cast("string").alias("description"),
                    "tokens",
                    "doclen",
                )
            )

        # Deterministic dense-ish ids: HASH-partition by url (murmur3 —
        # reproducible across runs, unlike repartitionByRange whose
        # boundary sampling is seeded by the ephemeral RDD id), sort
        # within, then monotonically_increasing_id (per-partition dense;
        # gaps only at the P partition boundaries — no single-reducer
        # global window).  Kill-and-rerun and independent rebuilds of the
        # same input produce identical ids.
        with_ids = (
            tokenized.repartition(P, "url")
            .sortWithinPartitions("url")
            .withColumn(
                "doc_id", F.monotonically_increasing_id() + F.lit(id_offset)
            )
        )
        # ONE pass over the input: extraction + tokenization materialize
        # once into the stage table (all columns); the docs table is then
        # derived from the parquet, not from the live lineage — deriving
        # both outputs from `with_ids` directly would re-run the whole
        # extract/tokenize pipeline a second time.
        with_ids.select(
            "doc_id",
            "doclen",
            "tokens",
            "url",
            "title",
            "description",
            "warc_ts",
        ).write.mode("overwrite").parquet(paths.tokens_stage)
        # docs laid out range-partitioned + sorted by doc_id: the query
        # engine's join-back fetches k winners by id, and parquet
        # row-group min/max stats on a sorted doc_id column let an
        # isin(ids) lookup skip everything else — without this layout a
        # 10-row join-back would stream the whole docs table.
        # Corpus stats ride the docs write as an Observation: the
        # aggregates accumulate inside the write job itself, so the
        # stats stage below needs no second scan over the docs table
        # (a fixed serial job that capped measured N->4N scaling).
        from pyspark.sql import Observation

        obs = Observation("corpus_stats")
        (
            spark.read.parquet(paths.tokens_stage)
            .select(
                "doc_id",
                "url",
                F.sha2(F.col("url"), 256).alias("url_hash"),
                "title",
                "description",
                F.parse_url(F.col("url"), F.lit("HOST")).alias("domain"),
                "warc_ts",
                "doclen",
            )
            # doc_id is monotonically_increasing_id over the url-hash
            # partitioning: partition p's ids live in [p<<33, (p+1)<<33),
            # so the stage-table files are ALREADY disjoint doc_id
            # ranges — sorting within read partitions yields narrow,
            # monotone per-file [min,max] spans for the query engine's
            # isin(ids) row-group skipping without re-shuffling the
            # whole table through a range sampler (one full extra
            # shuffle + sampling job, measured ~15% of the docs stage).
            .sortWithinPartitions("doc_id")
            .observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.avg("doclen").alias("avgdl"),
                F.sum("doclen").alias("total_tokens"),
            )
            .write.mode("overwrite")
            .parquet(paths.docs)
        )
        got = obs.get
        n_docs_written = int(got["n_docs"])
        observed_corpus = (
            n_docs_written,
            float(got["avgdl"]) if got["avgdl"] is not None else 0.0,
            int(got["total_tokens"]) if got["total_tokens"] is not None else 0,
        )
        man.mark_done("docs", 0, n_docs_written, int((time.time() - t0) * 1000))
    else:
        observed_corpus = None

    # ---- stage: tf ---------------------------------------------------------
    if not (resume and man.done_keys("tf")):
        t0 = time.time()
        toks = spark.read.parquet(paths.tokens_stage)
        # Tokens are stored stemmed, so tf aggregates directly on final
        # terms.  Partial (map-side) aggregation compresses the exploded
        # token stream to (doc, term) pairs before the shuffle — at
        # 10^12-doc scale that is the difference between shuffling
        # ~10^15 token rows and ~10^13 tf rows.
        streams = [
            toks.select("doc_id", "doclen", F.explode("tokens").alias("term"))
        ]
        if index_fields:
            # Multi-field indexing (ES multi_match best_fields parity,
            # main.py:167 "title^3 description^2 content"): title and
            # description postings live in the SAME index under
            # namespaced terms ("t!"/"d!" — '!' can't occur in tokens,
            # the tokenizer strips non-alnum), each row carrying its
            # FIELD's doclen.  Every downstream stage (df, salting,
            # blocks, buckets, merge) works unchanged on the namespaced
            # vocabulary; per-field avgdl lands in field_stats below.
            from search_engine_spark.text.tokenizer import tokens_col

            for prefix, col_name in (("t!", "title"), ("d!", "description")):
                ftoks = toks.select(
                    "doc_id", tokens_col(F.col(col_name)).alias("ftokens")
                ).withColumn("doclen", F.size("ftokens").cast("long"))
                streams.append(
                    ftoks.filter(F.col("doclen") > 0).select(
                        "doc_id",
                        "doclen",
                        F.explode(
                            F.transform(
                                "ftokens",
                                lambda t: F.concat(F.lit(prefix), t),
                            )
                        ).alias("term"),
                    )
                )
        exploded = streams[0]
        for s in streams[1:]:
            exploded = exploded.unionByName(s)
        tf = exploded.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).cast("int").alias("tf"),
            F.first("doclen").alias("dl"),
        )
        tf.write.mode("overwrite").parquet(paths.tf_stage)
        man.mark_done("tf", 0, -1, int((time.time() - t0) * 1000))

    if not (resume and man.done_keys("stats")):
        t0 = time.time()
        if observed_corpus is not None:
            # corpus aggregates observed during the docs write — no
            # second scan
            n_docs, avgdl, total_tokens = observed_corpus
        else:
            # resumed build whose docs stage ran in a previous process:
            # one agg scan over the docs table
            row = spark.read.parquet(paths.docs).agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.avg("doclen").alias("avgdl"),
                F.sum("doclen").alias("total_tokens"),
            ).collect()[0]
            n_docs = int(row["n_docs"])
            # empty corpus: avg/sum aggregate to NULL; a 0-doc index is
            # valid (queries return empty) rather than a build crash
            avgdl = float(row["avgdl"]) if row["avgdl"] is not None else 0.0
            total_tokens = (
                int(row["total_tokens"]) if row["total_tokens"] is not None else 0
            )
        write_corpus_stats(paths.corpus_stats, n_docs, avgdl, total_tokens)

        tf = spark.read.parquet(paths.tf_stage)
        if index_fields:
            # Per-field avgdl for multi-field scoring: Σtf over a
            # field's namespaced terms IS that field's total token
            # count; averaged over the whole corpus (docs missing the
            # field count with length 0, matching the ranking oracle).
            (
                tf.withColumn("field", _field_of(F.col("term")))
                .groupBy("field")
                .agg(F.sum("tf").cast("long").alias("total_tokens"))
                .withColumn("n_docs", F.lit(n_docs).cast("long"))
                .withColumn(
                    "avgdl", F.col("total_tokens") / F.greatest(F.lit(1), F.col("n_docs"))
                )
                .select("field", "n_docs", "avgdl", "total_tokens")
                .write.mode("overwrite")
                .parquet(paths.field_stats)
            )
        # ONE aggregation pass: idf is constant within a term, so
        # max(score) = idf(df) * max(saturation) — df and max_score come
        # out of the same groupBy (no df-join + rescore second shuffle).
        stats_df = (
            tf.groupBy("term")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.max(
                    saturation_col(
                        F.col("tf").cast("double"),
                        F.col("dl").cast("double"),
                        avgdl,
                    )
                ).alias("max_sat"),
                F.max("tf").cast("int").alias("max_tf"),
                F.min("dl").alias("min_dl"),
            )
            .withColumn(
                "max_score",
                idf_col(n_docs, F.col("df").cast("double")) * F.col("max_sat"),
            )
            .withColumn(
                "term_bucket",
                F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int"),
            )
            .select("term", "df", "max_score", "term_bucket", "max_tf", "min_dl")
        )
        write_term_stats(stats_df, paths.term_stats)
        man.mark_done("stats", 0, n_docs, int((time.time() - t0) * 1000))

    # ---- stage: posting blocks (bucket groups = resume unit) ---------------
    done_groups = man.done_keys("blocks") if resume else set()
    # 1-row metadata table: pyarrow on the driver, not a Spark job
    corpus = read_parquet_table(paths.corpus_stats).to_pylist()[0]
    n_docs, avgdl = int(corpus["n_docs"]), float(corpus["avgdl"])

    tf = spark.read.parquet(paths.tf_stage)
    stats = spark.read.parquet(paths.term_stats).select("term", "df", "term_bucket")
    scored = (
        tf.join(stats, "term")
        .withColumn(
            "score",
            score_col(
                F.col("tf").cast("double"),
                F.col("dl").cast("double"),
                idf_col(n_docs, F.col("df").cast("double")),
                avgdl,
            ),
        )
        .select("term", "term_bucket", "doc_id", "tf", "dl", "score", "df")
    )

    for g in range(bucket_groups):
        if g in done_groups:
            continue
        t0 = time.time()
        part = scored
        if bucket_groups > 1:
            part = scored.filter(F.pmod(F.col("term_bucket"), F.lit(bucket_groups)) == g)
        # Hot-term skew salting (SURVEY §4.2.1), df-scaled and fully
        # deterministic: a term with df postings fans out over
        # ceil(df / ROWS_PER_SALT) salt buckets keyed by xxhash64(doc_id),
        # so Zipf-head terms ("the"-scale, df ~ N) spread across many
        # reducers while tail terms stay in one.  Hash partitioning is
        # sampling-free — independent builds and resumed builds emit
        # byte-identical blocks.  Each (term, salt) slice packs its own
        # sorted doc-id runs; the query engine aggregates per doc_id, so
        # multiple block runs per term are sound.
        #
        # The shuffle key is (term_bucket, salt), NOT (term, salt):
        # the write below is partitionBy(term_bucket), and aligning the
        # shuffle with the output layout means each write task emits
        # files into ~1 bucket directory instead of opening a writer per
        # bucket (B writers/task, B×P tiny files — measured 5× slower at
        # local[32]).  Terms still arrive grouped via the within-
        # partition sort, and hot terms still fan out across partitions
        # through the df-scaled salt.
        blocks = (
            part.withColumn(
                "salt",
                F.pmod(
                    F.xxhash64("doc_id"),
                    F.greatest(
                        F.lit(1),
                        F.ceil(F.col("df") / F.lit(rows_per_salt)),
                    ).cast("long"),
                ).cast("int"),
            )
            .repartition(P, "term_bucket", "salt")
            .sortWithinPartitions("term", "doc_id")
            .drop("salt")
            .mapInPandas(
                _pack_blocks(block_size), schema=schemas.POSTINGS
            )
        )
        _with_pack_batch(
            spark,
            lambda: blocks.write.mode("append")
            .partitionBy("term_bucket")
            .parquet(paths.postings),
        )
        man.mark_done("blocks", g, -1, int((time.time() - t0) * 1000))

    # ---- stage: positional blocks (optional; bucket groups = resume unit) --
    # Phrase-query support (Lucene .prx analogue): per (term, doc) the
    # sorted 0-based positions in the filtered token stream, re-packed
    # into delta+varint blocks under the SAME (term_bucket, salt)
    # shuffle/layout discipline as the score postings.  Content field
    # only — phrase semantics on title/description are out of scope.
    # Scale: the groupBy key is (doc_id, term) — no Zipf skew (doc_id
    # spreads hot terms) — and collect_list sizes are bounded by doclen
    # (≤50k-char extraction cap); the block shuffle reuses the df-scaled
    # salting, so "the"-scale terms fan out exactly like score blocks.
    if index_positions:
        done_pos = man.done_keys("pos_blocks") if resume else set()
        toks = spark.read.parquet(paths.tokens_stage)
        pos_src = (
            toks.select(
                "doc_id",
                F.col("doclen").alias("dl"),
                F.posexplode("tokens").alias("pos", "term"),
            )
            .groupBy("doc_id", "term")
            .agg(
                F.array_sort(
                    F.collect_list(F.col("pos").cast("long"))
                ).alias("positions"),
                F.first("dl").alias("dl"),
            )
            .join(stats, "term")
            .select("term", "term_bucket", "doc_id", "dl", "positions", "df")
        )
        for g in range(bucket_groups):
            if g in done_pos:
                continue
            t0 = time.time()
            part = pos_src
            if bucket_groups > 1:
                part = pos_src.filter(
                    F.pmod(F.col("term_bucket"), F.lit(bucket_groups)) == g
                )
            pblocks = (
                part.withColumn(
                    "salt",
                    F.pmod(
                        F.xxhash64("doc_id"),
                        F.greatest(
                            F.lit(1),
                            F.ceil(F.col("df") / F.lit(rows_per_salt)),
                        ).cast("long"),
                    ).cast("int"),
                )
                .repartition(P, "term_bucket", "salt")
                .sortWithinPartitions("term", "doc_id")
                .drop("salt", "df")
                .mapInPandas(
                    _pack_pos_blocks(block_size), schema=schemas.POS_POSTINGS
                )
            )
            _with_pack_batch(
                spark,
                lambda: pblocks.write.mode("append")
                .partitionBy("term_bucket")
                .parquet(paths.pos_postings),
            )
            man.mark_done("pos_blocks", g, -1, int((time.time() - t0) * 1000))

    # ---- stage: shingle LM stats (optional; phrase suggester) --------------
    if index_shingles and not (resume and man.done_keys("shingles")):
        t0 = time.time()
        build_shingle_stats(spark, paths, num_partitions=P)
        man.mark_done("shingles", 0, -1, int((time.time() - t0) * 1000))

    if metrics_coll is not None:
        (
            metrics_coll.collect()
            .repartition(1)
            .write.mode("append")
            .parquet(paths.metrics)
        )

    return paths


def build_shingle_stats(
    spark: SparkSession,
    out_dir,
    num_partitions: Optional[int] = None,
) -> None:
    """Bigram (shingle) language-model stats for the ES-style phrase
    suggester ("did you mean", whole-query): from the canonical stemmed
    token stream of tokens_stage, write

      shingle_stats: (bigram "w1 w2", w1, w2, cnt) — total occurrence
        counts of adjacent token pairs, range-partitioned + sorted by
        the concatenated bigram key so query-time candidate lookups
        (`bigram.isin([...])`) prune to a handful of parquet row groups;
      unigram_stats: (term, cnt) — total occurrences per term (Σtf over
        content-field postings), same layout keyed by term.

    This is the Spark analogue of ES's shingle sub-field feeding the
    phrase suggester's n-gram model.  Skew note: Zipf-hot bigrams
    ("of the"-scale) need no salting — count is a sum-combinable
    aggregate, so partial (map-side) aggregation collapses each
    partition's hot keys to one row before the shuffle, unlike the
    collect_list-shaped posting build.  Idempotent (mode=overwrite);
    standalone-callable after compact_index, whose doc rewrite leaves
    these stats stale (Lucene-stale semantics, like term_stats under
    merge deletes).  Takes an IndexPaths or the index root dir.

    Merged indexes: the LM covers the base PLUS every delta segment,
    minus tombstoned docs — the documented refresh path after
    merge_pages must learn the merged batches' vocabulary, not just
    the initial build's."""
    from search_engine_spark.index.merge import (
        delta_roots,
        read_tombstones,
    )

    paths = IndexPaths(out_dir) if isinstance(out_dir, str) else out_dir
    P = num_partitions or spark.sparkContext.defaultParallelism * 2
    deltas = delta_roots(spark, paths)
    tomb = read_tombstones(spark, paths)

    def _staged(stage_of) -> DataFrame:
        parts = [stage_of(paths)] + [stage_of(IndexPaths(d)) for d in deltas]
        df = spark.read.parquet(*parts)
        if tomb is not None:
            df = df.join(
                F.broadcast(tomb.select("doc_id")), "doc_id", "left_anti"
            )
        return df

    toks = _staged(lambda p: p.tokens_stage).select("tokens")
    (
        toks.filter(F.size("tokens") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(tokens, 1, size(tokens) - 1),"
                    " (x, i) -> struct(x AS w1, tokens[i + 1] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("bigram", F.concat_ws(" ", "w1", "w2"))
        .select("bigram", "w1", "w2", "cnt")
        .repartitionByRange(P, "bigram")
        .sortWithinPartitions("bigram")
        .write.mode("overwrite")
        .parquet(paths.shingle_stats)
    )
    (
        _staged(lambda p: p.tf_stage)
        .filter(~F.col("term").contains("!"))
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("cnt"))
        .repartitionByRange(P, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(paths.unigram_stats)
    )
