"""The two workloads: set-up, timed rounds, and the reads the checks use.

`build` builds a fresh index over a bulk corpus of long pages, then
serves it: closed-loop top-10 queries on a freshly opened `BM25Index`
and one `search_many` batch over the same queries.  Per-page work in
extraction, tokenizing and block packing dominates the build.

`update` builds its base index in set-up, then makes rounds of
`merge_pages` (re-crawled and new pages) + `delete_pages`, each followed
by queries and a batch on a reopened index (reads beside writes).  Small
delta builds are dominated by fixed per-job cost, and merged-index
queries take the tombstone and recomputed-bound path.

Both workloads therefore exercise every end-to-end metric; they differ
in which steps dominate.  A round is repeated while the run's --seconds
last (the `update` rounds use fresh batches, up to Profile.merge_rounds).
`compact_index` runs only in traced runs (see Run.probe).
"""

from __future__ import annotations

import os
import resource
import statistics
import time
from typing import Dict, List, Optional, Tuple

import pyarrow.dataset as ds

import reference as ref
from inputs import Inputs, Page, Profile, QuerySpec, make_inputs, write_pages
from trace import Tracer

PROFILES: Dict[str, Profile] = {
    "build": Profile(pages=800, slice_pages=100, words_mean=420.0, merge_rounds=1,
                     recrawl_per_round=150, new_per_round=50, delete_per_round=30,
                     query_rounds=2, adversarial_every=40),
    "update": Profile(pages=400, slice_pages=100, words_mean=140.0, merge_rounds=3,
                      recrawl_per_round=30, new_per_round=20, delete_per_round=15,
                      query_rounds=2, adversarial_every=40),
}
K = 10

Rows = List[Tuple[int, float]]


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024.0


def dir_bytes(path: str) -> int:
    """On-disk bytes under a directory (Hadoop's local .crc side files
    excluded: they are an artifact of the local filesystem)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith("."))
    return total


def _dataset(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive")


def stage_walls(root: str) -> Dict[str, float]:
    """Seconds per build stage, from the manifest build_index writes."""
    try:
        rows = _dataset(os.path.join(root, "manifest")).to_table(columns=["stage", "wall_ms"]).to_pylist()
    except (OSError, ValueError):  # no manifest: the build failed early
        return {}
    out: Dict[str, float] = {}
    for r in rows:
        out[r["stage"]] = out.get(r["stage"], 0.0) + r["wall_ms"] / 1000.0
    return out


def read_tables(root: str) -> dict:
    """What an index holds, read with pyarrow; compared with the
    reference after the timed section."""
    try:
        docs_t = _dataset(os.path.join(root, "docs")).to_table(
            columns=["doc_id", "url", "warc_ts", "doclen"]).to_pylist()
        docs = {r["doc_id"]: ((r["url"], ref.ts_key(r["warc_ts"])), r["doclen"]) for r in docs_t}
        tomb = set()
        if os.path.isdir(os.path.join(root, "tombstones")):
            tomb = set(_dataset(os.path.join(root, "tombstones")).to_table(
                columns=["doc_id"]).column("doc_id").to_pylist())
        ts = _dataset(os.path.join(root, "term_stats")).to_table(columns=["term", "df"])
        post = _dataset(os.path.join(root, "postings")).to_table(columns=["term", "count", "doc_ids"])
        agg = post.group_by("term").aggregate([("count", "sum")])
        return {
            "docs": docs,
            "dup_ids": len(docs) != len(docs_t),
            "live": set(docs) - tomb,
            "term_stats": dict(zip(ts.column("term").to_pylist(), ts.column("df").to_pylist())),
            "blocks": dict(zip(agg.column("term").to_pylist(), agg.column("count_sum").to_pylist())),
            "n_blocks": post.num_rows,
            "blobs": list(zip(post.column("doc_ids").to_pylist(), post.column("count").to_pylist())),
            "corpus_stats": _dataset(os.path.join(root, "corpus_stats")).to_table().to_pylist()[0],
            "bytes": dir_bytes(root),
            **{f"{n}_bytes": dir_bytes(os.path.join(root, n)) for n in ("docs", "postings", "term_stats")},
            "postings_files": sum(1 for _, _, fs in os.walk(os.path.join(root, "postings"))
                                  for f in fs if f.endswith(".parquet")),
        }
    except Exception as e:
        return {"error": f"{type(e).__name__}: {e}"}


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.profile = PROFILES[workload]
        self.work = work
        self.attempted = self.failed = 0
        self.errors: List[str] = []        # operations that raised
        self.check_errors: List[str] = []  # results that differ from the reference
        # one record per timed call: its span record plus what it did
        self.queries: List[dict] = []
        self.results: List[Tuple[str, QuerySpec, Rows]] = []
        self.batches: List[dict] = []
        self.batch_results: List[Tuple[str, List[QuerySpec], Dict[str, Rows]]] = []
        self.builds: List[dict] = []
        self.merges: List[dict] = []
        self.deletes: List[dict] = []
        self.compacts: List[dict] = []
        self.opens: List[dict] = []
        self.tables: Dict[str, dict] = {}   # index state -> read_tables()
        self.setup_s: Optional[float] = None
        self.rounds = 0
        self.merge_rounds_done = 0

    # -- inputs -------------------------------------------------------------
    def prepare(self, pool) -> None:
        """Generate and write the inputs and analyse every page version
        for the reference (untimed, before the program starts)."""
        self.inputs: Inputs = make_inputs(self.profile, self.seed)
        self.pages_dir = os.path.join(self.work, "pages")
        os.makedirs(self.pages_dir)
        write_pages(self.inputs.base, os.path.join(self.pages_dir, "base.parquet"))
        write_pages(self.inputs.warmup, os.path.join(self.pages_dir, "warmup.parquet"))
        for r, (batch, _) in enumerate(self.inputs.rounds):
            write_pages(batch, os.path.join(self.pages_dir, f"batch{r}.parquet"))
        pages = self.inputs.base + [p for b, _ in self.inputs.rounds for p in b]
        analysed = pool.map(ref.analyze, [p.html for p in pages], chunksize=64)
        self.analysed = {self._key(p): a for p, a in zip(pages, analysed)}
        self.seed_min_df = self._seed_threshold()

    @staticmethod
    def _key(p: Page) -> ref.Key:
        return (p.url, ref.ts_key(p.warc_ts))

    def _seed_threshold(self) -> int:
        """A df threshold between the hot-head terms and every other
        query term, so θ-seeding runs exactly on `or_seeded` queries.
        The engine's default, 50,000, presumes a web-scale corpus and is
        above the size of this one."""
        keys = [self._key(p) for p in self.inputs.base]
        base = ref.Corpus(self.analysed, keys, keys)
        hot_terms = {t for w in self.inputs.hot_words for t in ref.terms_of(w)}
        hot, other = [], []
        for q in [q for qs in self.inputs.queries.values() for q in qs]:
            for t in ref.terms_of(q.text):
                (hot if t in hot_terms else other).append(base.df[t])
        lo, hi = max(other), min(hot)
        if hi <= lo:
            raise RuntimeError(f"hot-head df {hi} does not clear the other query terms' df {lo}")
        return (lo + hi) // 2

    # -- calls into the program -------------------------------------------------
    def attach(self, spark, jvm_pid: int) -> None:
        self.spark, self.jvm_pid = spark, jvm_pid
        self.tr = Tracer(spark, self.trace)

    def _op(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # counted and reported; the run goes on
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            return None

    def _pages(self, name: str):
        return self.spark.read.parquet(os.path.join(self.pages_dir, name + ".parquet"))

    def build(self, pages_name: str, root: str) -> dict:
        from search_engine_spark.index.builder import build_index

        pages = self._pages(pages_name)
        with self.tr.span("build_index", pages=pages_name) as rec:
            self._op(lambda: build_index(self.spark, pages, root, resume=False))
        rec["stages"] = stage_walls(root)
        return rec

    def open_index(self, root: str):
        from search_engine_spark.query.bm25 import BM25Index

        with self.tr.span("BM25Index.open") as rec:
            idx = self._op(lambda: BM25Index(self.spark, root, seed_min_df=self.seed_min_df))
        self.opens.append(rec)
        return idx

    def serve(self, idx, state: str) -> None:
        """Closed loop, one client: each query is the eager search() call
        (term-stat lookup, θ-seed) then .collect() (posting scan and
        decode, per-doc aggregate, top-k, docs join-back); its latency
        is the sum.  Then one search_many batch over the same queries."""
        specs = self.inputs.queries[state]
        if idx is None:
            return
        for q in specs:
            with self.tr.span("search_call", state=state, kind=q.kind) as call:
                df = self._op(lambda: idx.search(q.text, k=K, mode=q.mode))
            with self.tr.span("collect", state=state, kind=q.kind) as coll:
                rows = self._op(lambda: df.collect()) if df is not None else None
            self.queries.append({"state": state, "kind": q.kind, "s": call["s"] + coll["s"],
                                 "call": call, "collect": coll})
            if rows is not None:
                self.results.append((state, q, [(int(r["doc_id"]), float(r["score"])) for r in rows]))
        batch = {str(i): q.text for i, q in enumerate(specs)}
        with self.tr.span("search_many", state=state, n=len(batch)) as rec:
            rows = self._op(lambda: idx.search_many(batch, k=K, mode="or").collect())
        self.batches.append(rec)
        if rows is not None:
            out: Dict[str, Rows] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                out.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
            self.batch_results.append((state, specs, out))

    def merge(self, root: str, r: int) -> None:
        from search_engine_spark.index.merge import delete_pages, merge_pages

        batch, deletes = self.inputs.rounds[r]
        pages = self._pages(f"batch{r}")
        with self.tr.span("merge_pages", pages=len(batch)) as rec:
            res = self._op(lambda: merge_pages(self.spark, root, pages))
        if res is not None:
            rec["stages"] = stage_walls(res.delta_root)
        self.merges.append(rec)
        with self.tr.span("delete_pages", urls=len(deletes)) as rec:
            self._op(lambda: delete_pages(self.spark, root, urls=deletes))
        self.deletes.append(rec)
        self.merge_rounds_done = r + 1

    def compact(self, root: str) -> str:
        from search_engine_spark.index.merge import compact_index

        croot = root + "_compact"
        with self.tr.span("compact_index") as rec:
            self._op(lambda: compact_index(self.spark, root, croot))
        rec["stages"] = stage_walls(croot)
        self.compacts.append(rec)
        self.tables["compacted"] = read_tables(croot)
        return croot

    # -- phases -------------------------------------------------------------------
    def setup(self) -> None:
        """The program's set-up: the first build in a fresh JVM (a slice
        of warm-up pages on `build`, the base index on `update`), which
        also spawns and warms the Python workers, then opening it."""
        t0 = time.perf_counter()
        if self.workload == "build":
            root = os.path.join(self.work, "warm")
            self.setup_build = self.build("warmup", root)
        else:
            root = self.root = os.path.join(self.work, "idx")
            self.setup_build = self.build("base", root)
            self.tables["base"] = read_tables(root)
        self.open_index(root)
        self.opens.clear()
        self.setup_s = time.perf_counter() - t0

    def timed(self) -> None:
        t0 = time.perf_counter()
        if self.workload == "build":
            while self.rounds == 0 or time.perf_counter() - t0 < self.seconds:
                root = os.path.join(self.work, f"idx{self.rounds}")
                self.builds.append(self.build("base", root))
                self.tables["fresh"] = read_tables(root)
                self.serve(self.open_index(root), "fresh")
                self.root = root
                self.rounds += 1
        else:
            while self.rounds < self.profile.merge_rounds and (
                    self.rounds == 0 or time.perf_counter() - t0 < self.seconds):
                self.merge(self.root, self.rounds)
                self.serve(self.open_index(self.root), f"merged{self.rounds}")
                self.rounds += 1
            self.tables["merged"] = read_tables(self.root)

    def probe(self) -> None:
        """Traced runs only, after the timed section: the layer calls the
        workload's rounds leave out, so every traced run reports every
        layer metric — a merge/delete round on `build`, and compaction
        of the (merged) index on both workloads."""
        if not self.merges:
            self.merge(self.root, 0)
            self.tables["merged"] = read_tables(self.root)
        self.compact(self.root)

    # -- checks (after the timed section) --------------------------------------
    def reference_states(self) -> Dict[str, ref.Corpus]:
        """Reference corpus for each index state this run produced."""
        base_keys = [self._key(p) for p in self.inputs.base]
        states = {"base": ref.Corpus(self.analysed, base_keys, base_keys)}
        states["fresh"] = states["base"]
        counted = list(base_keys)
        live = {p.url: self._key(p) for p in self.inputs.base}
        for r in range(self.merge_rounds_done):
            batch, deletes = self.inputs.rounds[r]
            for p in batch:
                counted.append(self._key(p))
                live[p.url] = self._key(p)
            for u in deletes:
                live.pop(u, None)
            # Lucene semantics until compaction: superseded and deleted
            # versions still count in N, df and avgdl, but never surface
            states[f"merged{r}"] = ref.Corpus(self.analysed, list(counted), live.values())
        states["merged"] = states[f"merged{self.merge_rounds_done - 1}"] if self.merge_rounds_done else None
        last = states["merged"] or states["base"]
        states["compacted"] = ref.Corpus(self.analysed, last.live, last.live)
        return states

    def check(self) -> None:
        states = self.reference_states()
        self.reference = states
        errs = self.check_errors
        doc_ids: Dict[ref.Key, int] = {}
        for state, t in self.tables.items():
            if "error" in t:
                errs.append(f"{state}: index tables unreadable: {t['error']}")
                continue
            if t["dup_ids"]:
                errs.append(f"{state}: docs table repeats a doc id")
            errs += ref.check_tables(state, states[state], t["docs"], t["live"], t["term_stats"],
                                     t["blocks"], t["corpus_stats"])
            # doc ids survive merge and compaction, so one map serves all
            doc_ids.update({key: i for i, (key, _) in t["docs"].items()})
        for state, q, rows in self.results:
            scores = states[state].scores(q.text, q.mode)
            errs += ref.compare_topk(f"{state} {q.kind} {q.text!r}", ref.ranked(scores, doc_ids, K),
                                     rows, ref.score_map(scores, doc_ids))
        searched = {(s, q.text, q.mode): rows for s, q, rows in self.results}
        for state, specs, out in self.batch_results:
            for i, q in enumerate(specs):
                scores = states[state].scores(q.text, "or")
                # an OR query's batch rows must equal its search() rows
                expected = searched.get((state, q.text, "blockmax")) or ref.ranked(scores, doc_ids, K)
                errs += ref.compare_topk(f"{state} search_many {q.text!r}", expected,
                                         out.get(str(i), []), ref.score_map(scores, doc_ids))

    # -- end-to-end metrics --------------------------------------------------------
    def end_to_end(self) -> Dict[str, Tuple[float, str]]:
        if self.workload == "build":
            write = (self.profile.pages * len(self.builds), sum(b["s"] for b in self.builds))
            sized, text = self.tables["fresh"], self.reference["fresh"]
        else:
            write = (sum(len(self.inputs.rounds[r][0]) for r in range(self.merge_rounds_done)),
                     sum(m["s"] for m in self.merges))
            sized, text = self.tables["merged"], self.reference["merged"]
        return {
            "setup_s": (self.setup_s, "s"),
            "write_docs_per_s": (write[0] / write[1], "1/s"),
            "index_bytes_per_text_byte": (sized["bytes"] / text.text_bytes(), "B/B"),
            "query_p50_ms": (1000 * statistics.median(q["s"] for q in self.queries), "ms"),
            "batch_queries_per_s": (sum(b["n"] for b in self.batches) / sum(b["s"] for b in self.batches), "1/s"),
            "peak_rss_mb": (peak_rss_mb(self.jvm_pid), "MB"),
        }
