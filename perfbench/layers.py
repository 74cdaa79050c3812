"""Per-layer metrics of a traced run, named after the program's modules.

Layer metrics come from three sources: spans the benchmark records
around each public call (walls, and Spark jobs counted under the job
group each top-level span sets), the per-stage wall times build_index
writes to its manifest, and single-thread micro-measurements of the
pure-Python layers (text analysis, posting codec) over this run's own
inputs and index.
"""

from __future__ import annotations

import statistics
import time
from typing import Dict, List, Tuple

KINDS = ("or_seeded", "or", "and", "new_term")
STAGES = ("docs", "tf", "stats", "blocks")
TEXT_SAMPLE = 200  # pages timed by the text-layer measurements

Metrics = Dict[str, Tuple[float, str]]


def _median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def text_layer(run) -> Metrics:
    from search_engine_spark.text.extract import extract_content
    from search_engine_spark.text.tokenizer import tokenize_py

    html = [p.html.decode("utf-8") for p in run.inputs.base[:TEXT_SAMPLE]]
    t0 = time.perf_counter()
    texts = [extract_content(h).text for h in html]
    t1 = time.perf_counter()
    for t in texts:
        tokenize_py(t)
    t2 = time.perf_counter()
    return {
        "text.extract.us_per_page": (1e6 * (t1 - t0) / len(html), "us"),
        "text.tokenizer.us_per_page": (1e6 * (t2 - t1) / len(html), "us"),
    }


def codec_layer(run, tables: dict) -> Metrics:
    """Decode every doc-id blob of the index, then encode the ids back;
    a round trip that does not reproduce the blob is a check failure."""
    from search_engine_spark.index.codec import delta_decode, delta_encode

    blobs = tables["blobs"]
    nbytes = sum(len(b) for b, _ in blobs)
    t0 = time.perf_counter()
    ids = [delta_decode(b, n) for b, n in blobs]
    t1 = time.perf_counter()
    again = [delta_encode(x) for x in ids]
    t2 = time.perf_counter()
    if again != [b for b, _ in blobs]:
        run.check_errors.append("index.codec: delta_encode(delta_decode(blob)) != blob")
    return {
        "index.codec.decode_mb_per_s": (nbytes / 1e6 / (t1 - t0), "MB/s"),
        "index.codec.encode_mb_per_s": (nbytes / 1e6 / (t2 - t1), "MB/s"),
    }


def builder_layer(builds: List[dict], tables: dict) -> Metrics:
    out: Metrics = {
        f"index.builder.{s}_s": (_median([b["stages"].get(s, 0.0) for b in builds]), "s") for s in STAGES
    }
    out["index.builder.spark_jobs"] = (_median([b["jobs"] for b in builds]), "count")
    for name in ("postings", "docs", "term_stats"):
        out[f"index.builder.{name}_bytes"] = (tables[f"{name}_bytes"], "B")
    out["index.builder.posting_blocks"] = (tables["n_blocks"], "count")
    return out


def merge_layer(run) -> Metrics:
    out: Metrics = {}
    for name, recs in (("merge_pages", run.merges), ("delete_pages", run.deletes),
                       ("compact_index", run.compacts)):
        out[f"index.merge.{name}_s"] = (_median([r["s"] for r in recs]), "s")
    out["index.merge.spark_jobs_per_merge"] = (_median([r["jobs"] for r in run.merges]), "count")
    out["index.merge.spark_jobs_per_delete"] = (_median([r["jobs"] for r in run.deletes]), "count")
    out["index.merge.spark_jobs_per_compact"] = (_median([r["jobs"] for r in run.compacts]), "count")
    for s in STAGES:
        out[f"index.merge.delta_{s}_s"] = (_median([m.get("stages", {}).get(s, 0.0) for m in run.merges]), "s")
    for s in ("stats", "blocks"):
        out[f"index.merge.compact_{s}_s"] = (_median([c["stages"].get(s, 0.0) for c in run.compacts]), "s")
    out["index.merge.compact_docs_per_s"] = (
        run.reference["compacted"].n * len(run.compacts) / sum(c["s"] for c in run.compacts), "1/s")
    out["index.merge.postings_files"] = (run.tables["merged"]["postings_files"], "count")
    return out


def query_layer(run) -> Metrics:
    out: Metrics = {"query.bm25.open_ms": (1000 * _median([o["s"] for o in run.opens]), "ms")}
    out["query.bm25.query_p50_ms"] = (1000 * _median([q["s"] for q in run.queries]), "ms")
    for kind in KINDS:
        qs = [q for q in run.queries if q["kind"] == kind]
        out[f"query.bm25.search_call_ms.{kind}"] = (1000 * _median([q["call"]["s"] for q in qs]), "ms")
        out[f"query.bm25.collect_ms.{kind}"] = (1000 * _median([q["collect"]["s"] for q in qs]), "ms")
        jobs = sorted(q["call"]["jobs"] + q["collect"]["jobs"] for q in qs)
        out[f"query.bm25.spark_jobs_per_query.{kind}"] = (
            statistics.median_low(jobs) if jobs else 0, "count")
    out["query.bm25.search_many_s"] = (_median([b["s"] for b in run.batches]), "s")
    out["query.bm25.search_many_spark_jobs"] = (_median([b["jobs"] for b in run.batches]), "count")
    return out


def per_layer(run) -> Metrics:
    if run.workload == "build":
        builds, tables = run.builds, run.tables["fresh"]
    else:
        builds, tables = [run.setup_build], run.tables["base"]
    out: Metrics = {}
    out.update(text_layer(run))
    out.update(builder_layer(builds, tables))
    out.update(codec_layer(run, tables))
    out.update(merge_layer(run))
    out.update(query_layer(run))
    return out

