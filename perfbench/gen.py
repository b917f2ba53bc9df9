"""Seeded input generator and ground truth for the three workloads.

Everything here is pure Python + NumPy and depends only on the seed and
the size arguments, so the same seed always yields byte-identical inputs.
Names and links have the same length whatever the seed, so byte ratios
compare across seeds. The engine never sees any of the truth values: they
are only compared with what it returns.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "fl", "gr", "pl",
           "pr", "sh", "st", "th", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pseudo-words of 2-3 syllables."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        on = rng.integers(0, len(_ONSETS), k)
        vo = rng.integers(0, len(_VOWELS), k)
        w = "".join(_ONSETS[a] + _VOWELS[b] for a, b in zip(on, vo))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _sentence(rng: np.random.Generator, vocab: list[str], lo: int, hi: int) -> str:
    idx = rng.integers(0, len(vocab), int(rng.integers(lo, hi + 1)))
    return " ".join(vocab[i] for i in idx)


# --------------------------------------------------------------------- ingest

# Detail-page content selectors the extractor understands, in the forms
# the crawled sites use (``#dic_area`` etc.).
_DETAIL_WRAPPERS = [
    '<div id="dic_area">{}</div>',
    '<div id="articleBodyContents">{}</div>',
    '<div class="se-main-container post">{}</div>',
    '<section id="articleBody">{}</section>',
]


@dataclass
class CrawlBatch:
    pages: list[tuple[str, str]]            # (page_id, SERP html)
    details: list[tuple[str, str]]          # (link, detail html)
    candidates: int                         # article candidates on the pages
    new_links: int                          # Article nodes this batch creates
    new_publishers: int                     # Publisher nodes it creates
    committed: int                          # rows that survive extraction + dedup
    input_bytes: int                        # bytes of generated HTML


@dataclass
class CrawlGen:
    """The reference's crawl loop (SERP page → candidates → detail page)
    as batches of generated HTML. About ``recrawl`` of each batch's
    articles are links an earlier batch already committed (the MERGE
    update branch); the rest are new (the create branch). Planted noise
    the extractor must skip: google.com self-links, titles under five
    characters and syndicated exact-duplicate bodies (``exact_dedup``
    keeps the lowest link)."""

    seed: int
    articles_per_batch: int = 500
    publishers: int = 200
    recrawl: float = 0.2
    per_page: int = 10
    rng: np.random.Generator = field(init=False)
    vocab: list[str] = field(init=False)
    pub_names: list[str] = field(init=False)
    link_pub: dict[str, str] = field(init=False, default_factory=dict)
    pool: list[str] = field(init=False, default_factory=list)
    seen_pubs: set[str] = field(init=False, default_factory=set)
    next_id: int = field(init=False, default=0)
    batches: int = field(init=False, default=0)

    def __post_init__(self):
        self.rng = np.random.default_rng([self.seed, 1])
        self.vocab = vocabulary(self.rng, 3000)
        self.pub_names = [
            f"{self.vocab[2 * i].title()} {self.vocab[2 * i + 1].title()} News"
            for i in range(self.publishers)
        ]
        # publisher popularity is skewed, as on a real news SERP
        w = 1.0 / np.arange(1, self.publishers + 1) ** 0.8
        self._pub_p = w / w.sum()

    def _fresh_link(self, pub: str) -> str:
        self.next_id += 1
        # the id leads the path, so links order by crawl order: a
        # syndicated copy (minted later) always sorts after its original
        host = pub.split()[0].lower()
        return f"https://news.example.com/{self.next_id:08d}/{host}"

    def _title(self) -> str:
        return _sentence(self.rng, self.vocab, 3, 9).capitalize()

    def _detail(self, body: str) -> str:
        wrap = _DETAIL_WRAPPERS[int(self.rng.integers(0, len(_DETAIL_WRAPPERS)))]
        return (
            "<html><head><title>t</title></head><body><nav>menu home</nav>"
            + wrap.format(f"<p>{body}</p>")
            + "<footer>copyright</footer></body></html>"
        )

    def next_batch(self) -> CrawlBatch:
        rng = self.rng
        n = self.articles_per_batch
        n_old = min(int(round(n * self.recrawl)), len(self.pool))
        old = (
            [self.pool[i] for i in rng.choice(len(self.pool), n_old, replace=False)]
            if n_old
            else []
        )
        records = []  # (link, title, publisher, body)
        for link in old:
            records.append((link, self._title(), self.link_pub[link],
                            _sentence(rng, self.vocab, 40, 120)))
        new_committed: list[tuple[str, str]] = []
        n_new = n - n_old
        n_dup = max(1, n_new // 50)
        pubs = rng.choice(self.publishers, n_new, p=self._pub_p)
        for j in range(n_new):
            pub = self.pub_names[pubs[j]]
            link = self._fresh_link(pub)
            body = _sentence(rng, self.vocab, 40, 120)
            records.append((link, self._title(), pub, body))
            if j < n_dup:
                # a syndicated copy under a later (larger) link: exact_dedup
                # keeps the original, so the copy is never committed
                other = self.pub_names[int(rng.integers(0, self.publishers))]
                records.append((self._fresh_link(other), self._title(), other, body))
            new_committed.append((link, pub))
        order = rng.permutation(len(records))
        records = [records[i] for i in order]

        pages, details, cands = [], [], 0
        for p0 in range(0, len(records), self.per_page):
            blocks = []
            for link, title, pub, body in records[p0:p0 + self.per_page]:
                blocks.append(
                    f'<div data-ved="{link[-8:]}"><a href="{link}">'
                    f'<div role="heading">{title}</div></a><span>{pub}</span></div>'
                )
                details.append((link, self._detail(body)))
            # planted skips: a google.com self-link and a too-short title
            blocks.insert(
                int(rng.integers(0, len(blocks) + 1)),
                f'<div data-ved="g{p0}"><a href="https://www.google.com/search?q={p0}">'
                f'<div role="heading">{self._title()}</div></a><span>Google</span></div>',
            )
            blocks.insert(
                int(rng.integers(0, len(blocks) + 1)),
                f'<div data-ved="s{p0}"><a href="https://ads.example.com/{p0}">'
                f'<div role="heading">Ad</div></a><span>Ads</span></div>',
            )
            cands += len(blocks)
            pages.append((
                f"b{self.batches}-p{p0 // self.per_page}",
                '<html><body><div id="rso">' + "".join(blocks) + "</div></body></html>",
            ))
        new_pubs = {pub for _, pub in new_committed} - self.seen_pubs
        for link, pub in new_committed:
            self.link_pub[link] = pub
            self.pool.append(link)
        self.seen_pubs |= new_pubs
        self.batches += 1
        return CrawlBatch(
            pages=pages,
            details=details,
            candidates=cands,
            new_links=len(new_committed),
            new_publishers=len(new_pubs),
            committed=n_old + len(new_committed),
            input_bytes=sum(len(h) for _, h in pages) + sum(len(h) for _, h in details),
        )


# ---------------------------------------------------------------------- query


@dataclass
class QueryStore:
    articles: list[tuple[str, str, str, str]]   # (link, title, content, publisher)
    interests: list[tuple[str, str]]            # (user, tech)


def query_store(seed: int, articles: int = 20000, publishers: int = 200,
                users: int = 3000, techs: int = 100) -> QueryStore:
    """Contents of the read-mix store: Articles written by skewed
    Publishers, and a User-INTERESTED_IN→Tech graph (1-4 interests per
    user, skewed toward popular techs)."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(rng, 3000)
    pubs = [f"{vocab[2 * i].title()} {vocab[2 * i + 1].title()} News" for i in range(publishers)]
    w = 1.0 / np.arange(1, publishers + 1) ** 0.8
    pub_of = rng.choice(publishers, articles, p=w / w.sum())
    arts = [
        (
            f"https://news.example.com/q/{i:08d}/{pubs[p].split()[0].lower()}",
            _sentence(rng, vocab, 3, 9).capitalize(),
            _sentence(rng, vocab, 10, 30),
            pubs[p],
        )
        for i, p in enumerate(pub_of)
    ]
    user_names = [f"user{i:06d}" for i in range(users)]
    tech_names = [vocab[1000 + i].title() + "DB" for i in range(techs)]
    tw = 1.0 / np.arange(1, techs + 1)
    tw /= tw.sum()
    edges = []
    for u in user_names:
        k = int(rng.integers(1, 5))
        for t in rng.choice(techs, k, replace=False, p=tw):
            edges.append((u, tech_names[t]))
    return QueryStore(arts, edges)


def zipf_keys(seed: int, n_keys: int, n: int, a: float = 1.2) -> np.ndarray:
    """``n`` Zipf-skewed indexes into ``range(n_keys)`` (hot keys are a
    seeded permutation, not the first rows)."""
    rng = np.random.default_rng([seed, 3])
    perm = rng.permutation(n_keys)
    r = rng.zipf(a, n * 2)
    r = r[r <= n_keys][:n]
    # ~14% of draws exceed 20k keys, so 2n draws leave n with room to spare;
    # a short draw is topped up with the hottest key
    r = np.concatenate([r, np.ones(n - len(r), dtype=r.dtype)])
    return perm[r - 1]


# ------------------------------------------------------------------ analytics


@dataclass
class FollowGraph:
    users: list[str]
    src: np.ndarray      # indexes into users
    dst: np.ndarray
    components: int


def follow_graph(seed: int, nodes: int = 20000, edges: int = 100000,
                 components: int = 25) -> FollowGraph:
    """Power-law User-FOLLOWS graph made of ``components`` planted
    connected components: one giant component holding half the nodes,
    the rest split evenly. Each component is a preferential-attachment
    spanning tree (so it is connected) plus extra in-component edges
    whose endpoints are drawn by degree, so no edge crosses components
    and the component count is exact."""
    rng = np.random.default_rng([seed, 4])
    giant = nodes // 2
    rest = np.full(components - 1, (nodes - giant) // (components - 1))
    rest[: (nodes - giant) - rest.sum()] += 1
    sizes = np.concatenate([[giant], rest])
    src_l, dst_l, base = [], [], 0
    for size in sizes:
        # spanning tree: node i attaches to an endpoint of an earlier
        # tree edge (≈ degree-proportional), or to a uniform earlier node
        s = np.empty(size - 1, dtype=np.int64)
        d = np.empty(size - 1, dtype=np.int64)
        coin = rng.random(size - 1)
        for i in range(1, size):
            if i > 1 and coin[i - 1] < 0.7:
                j = int(rng.integers(0, 2 * (i - 1)))
                t = s[j // 2] if j % 2 == 0 else d[j // 2]
            else:
                t = int(rng.integers(0, i))
            s[i - 1], d[i - 1] = i, t
        extra = int(round((edges - (nodes - components)) * size / nodes))
        ends = np.concatenate([s, d])
        es = ends[rng.integers(0, len(ends), extra)]
        ed = ends[rng.integers(0, len(ends), extra)]
        keep = es != ed
        src_l += [s + base, es[keep] + base]
        dst_l += [d + base, ed[keep] + base]
        base += size
    src = np.concatenate(src_l)
    dst = np.concatenate(dst_l)
    # direction is random (who follows whom); duplicates are dropped
    flip = rng.random(len(src)) < 0.5
    src, dst = np.where(flip, dst, src), np.where(flip, src, dst)
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    users = [f"u{i:06d}" for i in range(nodes)]
    return FollowGraph(users, pairs[:, 0], pairs[:, 1], components)


def _shingles(words: list[str], n: int = 3) -> set[str]:
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


@dataclass
class NearDupCorpus:
    docs: list[tuple[int, str]]           # (doc_id, text)
    planted: set[tuple[int, int]]         # (id_a < id_b) with Jaccard ≥ threshold


def near_dup_corpus(seed: int, docs: int = 4000, dup_share: float = 0.1,
                    threshold: float = 0.7, words: int = 80) -> NearDupCorpus:
    """Random documents plus planted near-duplicates (one word in 50
    substituted, at least one). The truth set holds the planted pairs whose exact
    word-3-shingle Jaccard is at least ``threshold``."""
    rng = np.random.default_rng([seed, 5])
    vocab = vocabulary(rng, 5000)
    n_dup = int(docs * dup_share)
    n_base = docs - n_dup
    texts = [[vocab[i] for i in rng.integers(0, len(vocab), words)] for _ in range(n_base)]
    origin = rng.choice(n_base, n_dup, replace=False)
    planted = set()
    for o in origin:
        w = list(texts[o])
        for pos in rng.choice(words, max(1, words // 50), replace=False):
            w[pos] = vocab[int(rng.integers(0, len(vocab)))]
        a, b = _shingles(texts[o]), _shingles(w)
        new_id = len(texts)
        texts.append(w)
        if len(a & b) / len(a | b) >= threshold:
            planted.add((int(o), new_id))
    order = rng.permutation(len(texts))  # ids carry no hint of pairing
    rename = {old: new for new, old in enumerate(order)}
    docs_out = [(new, " ".join(texts[old])) for new, old in enumerate(order)]
    planted = {tuple(sorted((rename[a], rename[b]))) for a, b in planted}
    return NearDupCorpus(docs_out, planted)


@dataclass
class VectorSet:
    corpus: np.ndarray     # (n, dim) float32
    queries: np.ndarray    # (q, dim) float32
    topk: np.ndarray       # (q, k) exact neighbours by (cosine desc, id asc)


def vectors(seed: int, n: int = 5000, dim: int = 64, queries: int = 200,
            k: int = 10) -> VectorSet:
    """Clustered embeddings and exact NumPy top-k cosine neighbours."""
    rng = np.random.default_rng([seed, 6])
    centers = rng.standard_normal((32, dim))
    corpus = (centers[rng.integers(0, 32, n)] + 0.5 * rng.standard_normal((n, dim))).astype(np.float32)
    q = (centers[rng.integers(0, 32, queries)] + 0.5 * rng.standard_normal((queries, dim))).astype(np.float32)
    c64, q64 = corpus.astype(np.float64), q.astype(np.float64)
    sims = (q64 @ c64.T) / np.outer(np.linalg.norm(q64, axis=1), np.linalg.norm(c64, axis=1))
    # lexsort: last key is primary → cosine desc, then id asc
    ids = np.arange(n)
    top = np.stack([np.lexsort((ids, -row))[:k] for row in sims])
    return VectorSet(corpus, q, top)
