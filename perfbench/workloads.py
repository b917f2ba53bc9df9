"""The three closed-loop workloads (one client, one op at a time).

Each workload builds its inputs from the seed (``gen``), sets up in
``setup`` (store pre-build and warm-up ops, counted in ``setup_s``), and
then the harness calls ``op`` in whole passes of ``cycle`` ops. An op
returns its materialised outputs; ``check`` compares them with the
generator's truth outside the timed region and returns the problems
found. ``final_check`` compares the store's contents with the truth once,
after the measured loop.

* ``ingest`` — the crawl loop made batch-native: generated SERP + detail
  HTML → extract_articles → ingest_filter → extract_content →
  exact_dedup → MERGE Article, Publisher, WRITTEN_BY into a store that
  grows over the run. Work lands on ``writer`` and
  ``sources.html_extract``; no Cypher, no graph algorithm.
* ``query`` — a read mix through ``run_cypher`` (the reference's
  verification read and typed expand, a Zipf-skewed ``$link`` lookup, a
  top-publishers aggregate) with every 10th op the reference's crawl
  MERGE statement, once on the create and once on the update branch per
  pass, each followed by reads that must see it. Work lands on
  ``cypher_text``, ``cypher`` and store reads; writes beside the reads
  expose stale reads and the cost of invalidation.
* ``analytics`` — the north-star batch jobs over inputs written at
  set-up: PageRank (10 supersteps) and connected components over a
  GraphStore User-FOLLOWS graph, MinHash-LSH near-duplicates and exact
  cosine top-k. Bypasses the writer's merge path and Cypher.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass
from itertools import zip_longest

import numpy as np

import gen
from spans import store_walk

CRAWL_UPSERT = """
        MERGE (a:Article {link: $link})
        SET a.title = $title,
            a.content = $content,
            a.published_at = datetime()
        WITH a
        MERGE (p:Publisher {name: $publisher})
        MERGE (a)-[:WRITTEN_BY]->(p)
        RETURN a
        """  # src/crwling.py:47-56 of the reference crawler

TITLES = "MATCH (a:Article) RETURN a.title AS title LIMIT 5"  # main.py:17
INTERESTS = "MATCH (u:User)-[r:INTERESTED_IN]->(t:Tech) RETURN u, r, t LIMIT 25"  # cypher.txt:4-8
LOOKUP = (
    "MATCH (a:Article {link: $link})-[:WRITTEN_BY]->(p:Publisher) "
    "RETURN a.title AS title, p.name AS publisher"
)
TOP_PUBLISHERS = (
    "MATCH (a:Article)-[:WRITTEN_BY]->(p:Publisher) "
    "RETURN p.name AS publisher, count(a) AS articles "
    "ORDER BY articles DESC, publisher LIMIT 10"
)

# Sizes are cut to the per-run time budget (session start + set-up + the
# measured loop, under ~50 s on 4 cores). Fixed, so parent and change run
# the same inputs.
SIZES = {
    "ingest": {"articles_per_batch": 500, "publishers": 200, "recrawl": 0.2},
    "query": {"articles": 20000, "publishers": 200, "users": 3000, "techs": 100},
    "analytics": {
        "nodes": 5000, "edges": 25000, "components": 25,
        "docs": 1000, "vectors": 2000, "dim": 64, "queries": 50, "k": 10,
        "pagerank_iters": 10,
    },
}


@dataclass
class OpOut:
    kind: str
    out: object
    truth: object
    rows: int = 0          # rows committed (ingest) / returned (query)


class Workload:
    name = ""
    cycle = 1   # ops in one pass of the op mix

    def __init__(self, h):
        self.h = h             # harness: spark, api, tracer, seed, work dir
        self.input_bytes = 0   # bytes of generated user data fed in

    def setup(self) -> None: ...

    def op(self, i: int) -> OpOut: ...

    def check(self, o: OpOut) -> list[str]: ...

    def final_check(self) -> list[str]:
        return []

    def corrupt(self, o: OpOut) -> None:
        """Damage one output the way a real defect would (self-test of
        the checks: the op must then count as failed)."""

    def after_op(self, o: OpOut) -> None:
        """Traced runs only: bench-side bookkeeping after each measured op."""

    def store_root(self) -> str:
        return os.path.join(self.h.work, "store")

    def extra_metrics(self, ops: list) -> dict[str, tuple[float, str]]:
        return {}


def _final_counts(store, want: dict[str, int]) -> list[str]:
    """Node counts per label and edge counts per type against the truth."""
    got = {r["label"]: r["count"] for r in store.nodes().groupBy("label").count().collect()}
    got.update(
        {r["rel_type"]: r["count"] for r in store.edges().groupBy("rel_type").count().collect()}
    )
    return [f"final {k}: got {got.get(k)}, want {v}" for k, v in want.items() if got.get(k) != v]


# --------------------------------------------------------------------- ingest


class Ingest(Workload):
    name = "ingest"
    # a pass is two batches, so every run measures (and stores) as much
    cycle = 2

    def setup(self):
        h = self.h
        self.gen = gen.CrawlGen(h.seed, **SIZES["ingest"])
        self.store = h.api.GraphStore(h.spark, self.store_root())
        self.bytes_written: list[float] = []   # new-inode bytes per input byte, per op
        self.kept: list[tuple[int, int]] = []  # (rows extracted, candidates), per op
        # warm-up: the first batch runs ~3x slower than a steady one (a
        # second warm-up batch, ~1.3x, would cost each run ~5 s of set-up)
        o = self.op(-1)
        self.h.record_warmup(o, self.check(o))
        self._seen_inodes = store_walk(self.store_root())  # inodes before the measured ops

    def op(self, i):
        h, F, api = self.h, self.h.F, self.h.api
        b = self.gen.next_batch()
        self.input_bytes += b.input_bytes
        pages = h.spark.createDataFrame(h.pd.DataFrame(b.pages, columns=["page_id", "html"]))
        details = h.spark.createDataFrame(
            h.pd.DataFrame(b.details, columns=["link", "detail_html"])
        )
        with h.tracer.span("html_extract"):
            arts = api.ingest_filter(
                api.extract_articles(pages).filter(F.col("_error").isNull())
            )
            content = api.extract_content(arts.join(details, "link"))
            batch = (
                api.exact_dedup(content, "content", "link")
                .select("link", "title", "content", "publisher",
                        F.current_timestamp().alias("published_at"))
                .localCheckpoint()
            )
            rows = batch.count()
        s_art = self.store.merge_nodes(
            batch, "Article", "link", ["title", "content", "published_at"]
        )
        s_pub = self.store.merge_nodes(
            batch.select(F.col("publisher").alias("name")).distinct(), "Publisher", "name"
        )
        s_rel = self.store.merge_edges(
            batch.select("link", "publisher"),
            "WRITTEN_BY", "Article", "link", "Publisher", "publisher",
        )
        out = {
            "rows": rows,
            "articles_created": s_art.nodes_created,
            "publishers_created": s_pub.nodes_created,
            "edges_created": s_rel.relationships_created,
        }
        return OpOut("batch", out, b, rows)

    def after_op(self, o: OpOut) -> None:
        """Traced runs: bytes of files the op's merges created (inodes
        not seen before) per byte of the batch's input, and the share of
        page candidates the extractor kept."""
        now = store_walk(self.store_root())
        new = sum(sz for ino, sz in now.items() if ino not in self._seen_inodes)
        self._seen_inodes = now
        self.bytes_written.append(new / o.truth.input_bytes)
        self.kept.append((o.rows, o.truth.candidates))

    def check(self, o):
        b, out = o.truth, o.out
        want = {
            "rows": b.committed,
            "articles_created": b.new_links,
            "publishers_created": b.new_publishers,
            "edges_created": b.new_links,
        }
        return [f"{k}: got {out[k]}, want {v}" for k, v in want.items() if out[k] != v]

    def corrupt(self, o):
        o.out["articles_created"] += 1

    def final_check(self):
        g = self.gen
        return _final_counts(self.store, {
            "Article": len(g.pool), "Publisher": len(g.seen_pubs), "WRITTEN_BY": len(g.pool),
        })

    def extra_metrics(self, ops):
        secs = sum(o.seconds for o in ops)
        return {"rows_per_s": (sum(o.rows for o in ops) / secs, "rows/s")}


# ---------------------------------------------------------------------- query

# One client's pass: 20 statements, every 10th one the crawl MERGE. The
# first write creates an Article under a current top-10 Publisher, the
# second updates the title of the Article the Zipf lookup just before it
# read; the reads after each write (a lookup of the written link, the
# top-10 aggregate, the titles read) must see it, so a read path that
# serves a result from before the write fails its check.
_QUERY_MIX = (
    "titles", "lookup", "interests", "lookup", "top",
    "create", "lookup_written", "top", "lookup", "titles",
    "lookup", "interests", "lookup", "titles", "lookup",
    "update", "lookup_written", "titles", "lookup", "interests",
)
# warm-up: each statement once (the create pays the write's code
# generation for both branches; an update too would cost ~4 s more set-up)
_QUERY_WARMUP = (0, 1, 2, 4, 5)


class Query(Workload):
    name = "query"
    cycle = len(_QUERY_MIX)

    def setup(self):
        h, F, api = self.h, self.h.F, self.h.api
        qs = gen.query_store(h.seed, **SIZES["query"])
        self.qs = qs
        self.store = api.GraphStore(h.spark, self.store_root())
        arts = h.spark.createDataFrame(
            h.pd.DataFrame(qs.articles, columns=["link", "title", "content", "publisher"])
        ).withColumn("published_at", F.current_timestamp())
        self.store.merge_nodes(arts, "Article", "link", ["title", "content", "published_at"])
        self.store.merge_nodes(
            arts.select(F.col("publisher").alias("name")).distinct(), "Publisher", "name"
        )
        self.store.merge_edges(
            arts.select("link", "publisher"), "WRITTEN_BY", "Article", "link", "Publisher", "publisher"
        )
        ui = h.spark.createDataFrame(h.pd.DataFrame(qs.interests, columns=["name", "tech"]))
        self.store.merge_nodes(ui.select("name").distinct(), "User", "name")
        self.store.merge_nodes(ui.select(F.col("tech").alias("name")).distinct(), "Tech", "name")
        self.store.merge_edges(ui, "INTERESTED_IN", "User", "name", "Tech", "tech")
        self.input_bytes = sum(len(x) for a in qs.articles for x in a) + sum(
            len(u) + len(t) for u, t in qs.interests
        )
        # truth, kept current as writes land
        self.title = {link: title for link, title, _, _ in qs.articles}
        self.titles = Counter(self.title.values())
        self.pub = {link: p for link, _, _, p in qs.articles}
        self.pub_count = Counter(self.pub.values())
        self.edges = set(qs.interests)
        self.links = [a[0] for a in qs.articles]
        self.keys = gen.zipf_keys(h.seed, len(self.links), 10000)
        self.wrng = np.random.default_rng([h.seed, 7])
        self.vocab = gen.vocabulary(self.wrng, 500)
        self._n_lookup = self._new = 0
        self._read = self._written = None  # links of the last lookup and write
        for i in _QUERY_WARMUP:  # each kind's first run is slow
            o = self.op(i)
            self.h.record_warmup(o, self.check(o))

    def _top10(self):
        return sorted(self.pub_count.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    def op(self, i):
        h = self.h
        step = _QUERY_MIX[i % len(_QUERY_MIX)]
        kind = "write" if step in ("create", "update") else step.split("_")[0]
        params, truth = None, None
        if kind == "titles":
            stmt = TITLES
        elif kind == "interests":
            stmt = INTERESTS
        elif kind == "top":
            stmt, truth = TOP_PUBLISHERS, self._top10()
        elif kind == "lookup":
            if step == "lookup":
                link = self.links[int(self.keys[self._n_lookup % len(self.keys)])]
                self._n_lookup += 1
                self._read = link
            else:
                link = self._written
            stmt, params, truth = LOOKUP, {"link": link}, (self.title[link], self.pub[link])
        else:
            stmt = CRAWL_UPSERT
            if step == "create":
                self._new += 1
                top = self._top10()
                pub = top[int(self.wrng.integers(0, len(top)))][0]
                link = f"https://news.example.com/w/{self._new:08d}/x"
            else:
                link = self._read
                pub = self.pub[link]
            title = " ".join(self.wrng.choice(self.vocab, 5)).capitalize()
            params = {"link": link, "title": title, "content": title.lower(), "publisher": pub}
            truth = (link, title, pub, link not in self.pub)
            self._written = link
        plan = "cypher_text.write" if kind == "write" else "cypher_text.plan"
        res = h.tracer.wrap(h.api.run_cypher, plan)(h.spark, stmt, params, store=self.store)
        with h.tracer.span("cypher.write_exec" if kind == "write" else "cypher.exec"):
            rows = res.df.collect()
        return OpOut(kind, (rows, res.summary), truth, len(rows))

    def check(self, o):
        rows, summary = o.out
        k = o.kind
        if k == "titles":
            bad = [r["title"] for r in rows if self.titles.get(r["title"], 0) <= 0]
            return ([f"titles: {len(rows)} rows"] if len(rows) != 5 else []) + [
                f"titles: unknown or stale title {t!r}" for t in bad
            ]
        if k == "interests":
            bad = [
                (r["u"]["key"], r["t"]["key"]) for r in rows
                if (r["u"]["key"], r["t"]["key"]) not in self.edges or r["r"] != "INTERESTED_IN"
            ]
            return ([f"interests: {len(rows)} rows"] if len(rows) != 25 else []) + [
                f"interests: no such edge {b}" for b in bad
            ]
        if k == "lookup":
            got = [(r["title"], r["publisher"]) for r in rows]
            return [] if got == [o.truth] else [f"lookup: got {got}, want [{o.truth!r}]"]
        if k == "top":
            got = [(r["publisher"], r["articles"]) for r in rows]
            return [
                f"top: row {j} got {g}, want {w}"
                for j, (g, w) in enumerate(zip_longest(got, o.truth)) if g != w
            ][:1]
        link, title, pub, created = o.truth
        problems = []
        if summary.nodes_created != int(created) or summary.relationships_created != int(created):
            problems.append(f"write: counters {summary}, created={created}")
        if [(r["key"], r["title"]) for r in rows] != [(link, title)]:
            problems.append(f"write: returned {rows!r}")
        # the store now holds the write, whatever the check said
        if created:
            self.pub[link] = pub
            self.pub_count[pub] += 1
        else:
            self.titles[self.title[link]] -= 1
        self.title[link] = title
        self.titles[title] += 1
        return problems

    def corrupt(self, o):
        rows, summary = o.out
        o.out = ([{**r.asDict(), "title": r["title"] + "~"} for r in rows], summary) \
            if o.kind == "titles" else ([], summary)

    def final_check(self):
        return _final_counts(self.store, {
            "Article": len(self.pub), "Publisher": len(self.pub_count),
            "User": len({u for u, _ in self.edges}), "Tech": len({t for _, t in self.edges}),
            "WRITTEN_BY": len(self.pub), "INTERESTED_IN": len(self.edges),
        })

    def extra_metrics(self, ops):
        reads = [o.seconds for o in ops if o.kind != "write"]
        writes = [o.seconds for o in ops if o.kind == "write"]
        out = {}
        if reads:
            out["read_p50_s"] = (float(np.median(reads)), "s")
        if writes:
            out["write_p50_s"] = (float(np.median(writes)), "s")
        return out


# ------------------------------------------------------------------ analytics


class Analytics(Workload):
    name = "analytics"

    def setup(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        h, F, api = self.h, self.h.F, self.h.api
        z = SIZES["analytics"]
        fg = gen.follow_graph(h.seed, z["nodes"], z["edges"], z["components"])
        nd = gen.near_dup_corpus(h.seed, z["docs"])
        vs = gen.vectors(h.seed, z["vectors"], z["dim"], z["queries"], z["k"])
        self.fg, self.nd, self.vs = fg, nd, vs
        self.truth_pr = _pagerank_numpy(len(fg.users), fg.src, fg.dst, z["pagerank_iters"])
        sizes = np.bincount(_components_numpy(len(fg.users), fg.src, fg.dst))
        self.truth_cc = sorted(int(s) for s in sizes if s)
        self.store = api.GraphStore(h.spark, self.store_root())
        users = np.array(fg.users)
        self.store.merge_nodes(
            h.spark.createDataFrame(h.pd.DataFrame({"name": fg.users})), "User", "name"
        )
        self.store.merge_edges(
            h.spark.createDataFrame(h.pd.DataFrame({"a": users[fg.src], "b": users[fg.dst]})),
            "FOLLOWS", "User", "a", "User", "b",
        )
        self.input_bytes = sum(len(u) for u in fg.users) + sum(
            len(users[a]) + len(users[b]) for a, b in zip(fg.src, fg.dst)
        )
        self.docs_path = os.path.join(h.work, "docs.parquet")
        self.corpus_path = os.path.join(h.work, "corpus.parquet")
        self.queries_path = os.path.join(h.work, "queries.parquet")
        pq.write_table(pa.table({"doc_id": [d for d, _ in nd.docs], "text": [t for _, t in nd.docs]}),
                       self.docs_path)
        pq.write_table(pa.table({"vec_id": np.arange(len(vs.corpus)), "embedding": list(vs.corpus)}),
                       self.corpus_path)
        pq.write_table(pa.table({"query_id": np.arange(len(vs.queries)), "embedding": list(vs.queries)}),
                       self.queries_path)
        # No warm-up cycle: a cycle is a batch session's job list, which a
        # fresh session runs cold, and one cold cycle (~24 s on 4 cores)
        # already fills the run's time budget.
        self.recall: dict[str, list[float]] = {"minhash": [], "topk": []}
        self.job_s: dict[str, list[float]] = {"pagerank": [], "components": [], "near_dup": [], "topk": []}

    def _graph(self):
        F = self.h.F
        return (self.store.nodes().filter(F.col("label") == "User"),
                self.store.edges().filter(F.col("rel_type") == "FOLLOWS"))

    @contextmanager
    def _job(self, span: str, metric: str):
        t = time.perf_counter()
        with self.h.tracer.span(span):
            yield
        self.job_s[metric].append(time.perf_counter() - t)

    def op(self, i):
        h, F, api = self.h, self.h.F, self.h.api
        z = SIZES["analytics"]
        out = {}
        with self._job("pagerank", "pagerank"):
            nodes, edges = self._graph()
            pr = api.pagerank(nodes, edges, max_iter=z["pagerank_iters"])
            top = pr.join(nodes, "node_id").orderBy(F.col("rank").desc(), "key").limit(20)
            out["pr_top"] = [(r["key"], r["rank"]) for r in top.collect()]
            out["pr_sum"] = pr.agg(F.sum("rank").alias("s"), F.count("*").alias("n")).collect()[0]
        with self._job("components", "components"):
            nodes, edges = self._graph()
            cc = api.connected_components(nodes, edges)
            out["cc"] = sorted(r["count"] for r in cc.groupBy("comp").count().collect())
        with self._job("minhash", "near_dup"):
            docs = h.spark.read.parquet(self.docs_path)
            pairs = api.minhash_lsh_pairs(docs, "text", "doc_id").select("id_a", "id_b")
            out["pairs"] = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        with self._job("cosine_topk", "topk"):
            tk = api.cosine_topk(h.spark.read.parquet(self.corpus_path),
                                 h.spark.read.parquet(self.queries_path), k=z["k"])
            got = np.full(self.vs.topk.shape, -1)
            for r in tk.select("query_id", "vec_id", "rank").collect():
                got[r["query_id"], r["rank"] - 1] = r["vec_id"]
            out["topk"] = got
        return OpOut("cycle", out, None)

    def check(self, o):
        out, problems = o.out, []
        s = out["pr_sum"]
        if s["n"] != len(self.fg.users) or abs(s["s"] - 1.0) > 1e-6:
            problems.append(f"pagerank: {s['n']} ranks summing to {s['s']!r}")
        users = self.fg.users
        want = sorted(((users[j], self.truth_pr[j]) for j in range(len(users))),
                      key=lambda kv: (-kv[1], kv[0]))[:20]
        if [k for k, _ in out["pr_top"]] != [k for k, _ in want] or max(
            abs(a - b) for (_, a), (_, b) in zip(out["pr_top"], want)
        ) > 1e-9:
            problems.append("pagerank: top-20 differs from the NumPy power iteration")
        if out["cc"] != self.truth_cc:
            problems.append(f"components: {len(out['cc'])} found, {self.fg.components} planted")
        planted = self.nd.planted
        found = out["pairs"]
        rec = len(found & planted) / len(planted)
        self.recall["minhash"].append(rec)
        if rec < 0.95 or found - planted:
            problems.append(f"minhash: recall {rec:.3f}, {len(found - planted)} pairs not planted")
        tk = out["topk"]
        agree = float(np.mean([len(set(a) & set(b)) / len(b) for a, b in zip(tk, self.vs.topk)]))
        self.recall["topk"].append(agree)
        if agree < 0.99:
            problems.append(f"cosine_topk: recall@k {agree:.4f} against NumPy")
        return problems

    def corrupt(self, o):
        o.out["cc"] = o.out["cc"][1:]

    def final_check(self):
        return _final_counts(self.store, {"User": len(self.fg.users), "FOLLOWS": len(self.fg.src)})

    def extra_metrics(self, ops):
        return {f"{k}_s": (float(np.median(v)), "s") for k, v in self.job_s.items() if v}


def _pagerank_numpy(n: int, src: np.ndarray, dst: np.ndarray, iters: int) -> np.ndarray:
    """PageRank with dangling mass spread uniformly, damping 0.85."""
    d = 0.85
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    dangling = out_deg == 0
    for _ in range(iters):
        contrib = np.bincount(dst, weights=r[src] / out_deg[src], minlength=n)
        r = (1 - d) / n + d * (contrib + r[dangling].sum() / n)
    return r


def _components_numpy(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    parent = np.arange(n)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(x) for x in range(n)])


WORKLOADS = {w.name: w for w in (Ingest, Query, Analytics)}
