"""Seeded inputs for the benchmark: pages, re-crawls, deletes, queries.

Everything here is a pure function of the workload profile and the seed,
built with numpy's PCG64 streams and nothing from `search_engine_spark`,
so a change to the program never changes what the benchmark feeds it.

Pages are Common-Crawl-style HTML: the article body sits between
<script>/<style>/<header>/<nav>/<aside>/<footer> chrome that extraction
must drop.  Body words follow a Zipf law over a synthetic vocabulary (a
hot head that lands in most pages, a long tail), plus English stopwords
the tokenizer removes and planted rare words that give `new_term`
queries a posting list of one to a few pages.  A fixed share of pages
is adversarial: empty body, entity-heavy text, digit-only text, bodies
over 50k characters and pages without a <title>.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary is fixed (its own seed) so term identities are comparable
# across seeds; the workload seed drives everything sampled from it.
_VOCAB_SEED = 20250101
_SYLLABLES = [
    c + v
    for c in "bcdfghjklmnprstvz"
    for v in ("a", "e", "i", "o", "u", "ai", "ou")
]
_ENGLISH = (
    "the of and to in is was for with that this are have from they were "
    "will would there their what about which when your can said each she "
    "how other many some these them then"
).split()
_CHROME = "menu login subscribe cookie privacy share follow newsletter".split()
_ENTITY_RUN = "caf&eacute; &amp; cr&egrave;me &lt;br&gt; &#8217;tis &nbsp; na&iuml;ve &quot;ok&quot;"
_EPOCH = dt.datetime(2024, 1, 1)
_DOMAINS = ["example.com", "news.example.org", "blog.sample.net", "wiki.demo.io",
            "shop.site.com", "docs.portal.org", "forum.hub.net", "archive.open.org"]

# adversarial kinds and their share of pages (index-driven, so exact)
ADVERSARIAL = ("empty", "entities", "digits", "long", "notitle")


@dataclass(frozen=True)
class Profile:
    """Size and shape of one workload's inputs."""

    pages: int             # base corpus size
    slice_pages: int       # warm-up corpus size (set-up)
    words_mean: float      # lognormal mean of body words per page
    merge_rounds: int      # most merge_pages + delete_pages rounds a run makes
    recrawl_per_round: int  # re-crawled existing urls per merge batch
    new_per_round: int     # brand-new urls per merge batch
    delete_per_round: int  # urls deleted per round
    query_rounds: int      # rounds of one query per kind, per index state
    adversarial_every: int  # one adversarial page per this many pages


@dataclass
class Page:
    url: str
    warc_ts: dt.datetime
    html: bytes


@dataclass
class QuerySpec:
    kind: str   # or_seeded | or | and | new_term
    text: str

    @property
    def mode(self) -> str:
        return "and" if self.kind == "and" else "blockmax"


@dataclass
class Inputs:
    base: List[Page]
    warmup: List[Page]
    rounds: List[Tuple[List[Page], List[str]]]  # (merge batch, delete urls)
    # query stream per index state: "fresh", "merged<r>" after merge round r
    queries: Dict[str, List[QuerySpec]] = field(default_factory=dict)
    hot_words: List[str] = field(default_factory=list)


def _vocabulary(n: int) -> List[str]:
    rng = np.random.Generator(np.random.PCG64(_VOCAB_SEED))
    words, seen = [], set(_ENGLISH) | set(_CHROME)
    while len(words) < n:
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), rng.integers(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _vocabulary(6000)
HOT = 20          # Zipf ranks [0, HOT) are the hot head
MID = (300, 1500)  # ranks queries draw ordinary terms from
_ZIPF_CDF = np.cumsum(1.0 / np.arange(1, len(VOCAB) + 1) ** 1.05)
_ZIPF_CDF /= _ZIPF_CDF[-1]
RARE = [f"{w}x{i}q" for i, w in enumerate(_vocabulary(9000)[6000:])]


def _kind(p: Profile, idx: int):
    """Adversarial kind of page `idx`, or None for an ordinary page."""
    if idx % p.adversarial_every == p.adversarial_every - 1:
        return ADVERSARIAL[(idx // p.adversarial_every) % len(ADVERSARIAL)]
    return None


class _Gen:
    def __init__(self, profile: Profile, seed: int):
        self.p = profile
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.rare_next = 0
        self.planted: Dict[str, List[str]] = {}  # url -> rare words in its body

    def _rare(self, url: str) -> str:
        w = RARE[self.rare_next % len(RARE)]
        self.rare_next += 1
        self.planted.setdefault(url, []).append(w)
        return w

    def _body_words(self, n: int) -> List[str]:
        rng = self.rng
        ranks = np.minimum(np.searchsorted(_ZIPF_CDF, rng.random(n)), len(VOCAB) - 1)
        english = np.where(rng.random(n) < 0.25, rng.integers(0, len(_ENGLISH), n), -1)
        caps = np.flatnonzero(rng.random(n) < 0.05)
        punct = rng.integers(0, 4, len(caps))
        words = [_ENGLISH[e] if e >= 0 else VOCAB[r] for r, e in zip(ranks.tolist(), english.tolist())]
        for i, p in zip(caps.tolist(), punct.tolist()):
            words[i] = words[i].capitalize() + ",.! "[p].strip()
        return words

    def page(self, idx: int, url: str, ts: dt.datetime) -> Page:
        rng, p = self.rng, self.p
        kind = _kind(p, idx)
        n = max(5, int(rng.lognormal(np.log(p.words_mean), 0.5)))
        words = self._body_words(n)
        title = " ".join(words[:5])
        desc = " ".join(words[5:15])
        if kind == "empty":
            body = ""
        elif kind == "entities":
            body = "<p>" + " ".join(words[:40]) + " " + _ENTITY_RUN + "</p>"
        elif kind == "digits":
            body = "<p>" + " ".join(str(int(x)) for x in rng.integers(0, 100000, 60)) + "</p>"
        elif kind == "long":
            # > 50k characters of body: extraction truncates it
            reps = 52_000 // max(1, len(" ".join(words))) + 1
            body = "<p>" + " ".join(words * reps) + "</p>"
        else:
            # plant one or two rare words in ordinary pages only, so a
            # planted word always survives extraction and truncation
            for _ in range(int(rng.integers(1, 3))):
                words.insert(int(rng.integers(0, len(words) + 1)), self._rare(url))
            paras, k = [], 0
            while k < len(words):
                step = int(rng.integers(15, 60))
                paras.append("<p>" + " ".join(words[k:k + step]) + "</p>")
                k += step
            body = "\n".join(paras)
        chrome = " ".join(_CHROME[i] for i in rng.integers(0, len(_CHROME), 6))
        title_tag = "" if kind == "notitle" else f"<title>{title}</title>"
        html = (
            "<!DOCTYPE html><html><head>" + title_tag
            + f'<meta name="description" content="{desc}">'
            + "<style>body{font:14px sans-serif}.nav{color:#333}</style>"
            + f"<script>var cfg={{id:{idx},track:'{chrome}'}};</script>"
            + f"</head><body><header>{chrome}</header>"
            + f"<nav><a href='/'>home</a> {chrome}</nav><main><h1>{title}</h1>"
            + body + f"</main><aside>{chrome}</aside><footer>{chrome}</footer>"
            + "</body></html>"
        )
        return Page(url, ts, html.encode("utf-8"))

    def corpus(self, n: int, prefix: str, start: int = 0) -> List[Page]:
        out = []
        for i in range(start, start + n):
            url = f"https://{_DOMAINS[i % len(_DOMAINS)]}/{prefix}/{i}"
            ts = _EPOCH + dt.timedelta(seconds=int(self.rng.integers(0, 180 * 86400)))
            out.append(self.page(i, url, ts))
        return out


def _queries(g: _Gen, n_rounds: int, rare_pool: List[str], rare_at: int):
    """One index state's query stream: n_rounds rounds of one query of
    each kind.

    or_seeded carries a hot-head term (df above the θ-seeding threshold
    the benchmark opens the index with); or and and use mid-rank terms
    (and adds the hot term); new_term adds a planted rare word no other
    query uses.  All but the rare words come from one small pool of one
    hot and three mid-rank terms, and the first round uses the whole
    pool, so from the second round on only new_term misses the engine's
    per-index term-stat memo.
    """
    rng = g.rng
    hot = VOCAB[int(rng.integers(0, HOT))]
    m = [VOCAB[r] for r in rng.choice(np.arange(MID[0], MID[1]), 3, replace=False)]
    out: List[QuerySpec] = []
    for j in range(n_rounds):
        a, b, c = m[j % 3], m[(j + 1) % 3], m[(j + 2) % 3]
        out.append(QuerySpec("or_seeded", f"{hot} {a}"))
        out.append(QuerySpec("or", f"{b} {c}"))
        out.append(QuerySpec("and", f"{hot} {b}"))
        out.append(QuerySpec("new_term", f"{rare_pool[rare_at]} {c}"))
        rare_at += 1
    return out, rare_at


def make_inputs(profile: Profile, seed: int) -> Inputs:
    g = _Gen(profile, seed)
    base = g.corpus(profile.pages, "page")
    warmup = g.corpus(profile.slice_pages, "warm")
    rounds = []
    # url -> page index; a re-crawl keeps the index, hence the page's
    # adversarial kind.  Over-50k pages are never re-crawled or deleted:
    # each carries ~10% of a small corpus's text, and touching one would
    # swing the live-text size from seed to seed.
    live = {p.url: i for i, p in enumerate(base)}
    next_new = profile.pages
    for r in range(profile.merge_rounds):
        pool = [u for u, i in live.items() if _kind(profile, i) != "long"]
        pick = g.rng.choice(len(pool), size=profile.recrawl_per_round + profile.delete_per_round, replace=False)
        recrawl = [pool[i] for i in pick[: profile.recrawl_per_round]]
        deletes = [pool[i] for i in pick[profile.recrawl_per_round:]]
        batch = []
        for j, url in enumerate(recrawl):
            # same url, new body, a later fetch time than any base page
            ts = _EPOCH + dt.timedelta(days=200 + 30 * r, seconds=j)
            batch.append(g.page(live[url], url, ts))
        batch += g.corpus(profile.new_per_round, "page", start=next_new)
        for u in deletes:
            del live[u]
        for i, p in enumerate(batch[profile.recrawl_per_round:]):
            live[p.url] = next_new + i
        next_new += profile.new_per_round
        rounds.append((batch, deletes))
    # rare words planted in base pages that no batch re-crawls or
    # deletes keep a live posting in every index state
    touched = {u for batch, dels in rounds for u in [p.url for p in batch] + dels}
    kept = [w for p in base if p.url not in touched for w in g.planted.get(p.url, ())]
    rare_pool = [kept[i] for i in g.rng.permutation(len(kept))]
    inputs = Inputs(base, warmup, rounds)
    at = 0
    for state in ["fresh"] + [f"merged{r}" for r in range(len(rounds))]:
        inputs.queries[state], at = _queries(g, profile.query_rounds, rare_pool, at)
    inputs.hot_words = VOCAB[:HOT]
    return inputs


PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


def write_pages(pages: List[Page], path: str) -> None:
    """One parquet file in the program's PAGES layout (text left null:
    the engine extracts from html)."""
    utc = dt.timezone.utc
    table = pa.table(
        {
            "url": [p.url for p in pages],
            "warc_ts": [p.warc_ts.replace(tzinfo=utc) for p in pages],
            "html": [p.html for p in pages],
            "text": pa.nulls(len(pages), pa.string()),
            "lang": ["en"] * len(pages),
        },
        schema=PAGES_SCHEMA,
    )
    pq.write_table(table, path)
