"""Server layer probe of the `query` workload's traced run: four
closed-loop HTTP clients against an in-process `server.BlackLabServer` on
the session's local[<nproc>] Spark, each sending REQUESTS_PER_CLIENT
requests.

Two corpora are served: `main` (the query workload's index) and `live`, a
writable corpus created through the API. The clients are threads of the
benchmark process. They draw from a seeded pool of about 300 distinct
requests with Zipf popularity, larger than the server's 128-entry
`SearchCache`:

- /main/docs?patt=..&sort=bm25   ranked, checked against the oracle
- /<corpus>/hits?patt=..         hits with KWIC context
- /main/docs/<pid>/snippet       token context of one position
- /<corpus>/termfreq             term frequencies (some with a filter)

Client 0 also POSTs the next 100-page JSONL batch to `live` as every 5th of
its requests (1 request in 20 overall); each add writes a delta segment,
runs the tiered compaction and clears that corpus's cache.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

import numpy as np

import corpus
from harness import median

CLIENTS = 4
REQUESTS_PER_CLIENT = 10
POOL = {"docs_bm25": 110, "hits_kwic": 80, "snippet": 70, "termfreq": 40}
LIVE_SHARE = 0.25  # of the hits/termfreq entries, those sent to `live`
ZIPF_S = 1.0
ADD_EVERY = 5  # of client 0's requests: 1 in 20 overall
ADD_DOCS = 100
K = 10
TIMEOUT_S = 120.0


def _patterns(rng, answers, n: int) -> list[tuple[str, ...]]:
    """Seeded search patterns: single terms, corpus bigrams and the planted
    phrases; no stop-words, so the oracle scan stays small."""
    o, out = answers.o, set(corpus.PLANTED)
    while len(out) < n:
        if rng.random() < 0.6:
            w = str(corpus.VOCAB[rng.integers(2, 3000)])
            if answers.df(w):
                out.add((w,))
        else:
            d = int(rng.integers(0, o.n_docs))
            toks = o.tokens_fold[d]
            p = int(rng.integers(0, len(toks) - 2))
            pair = tuple(toks[p:p + 2])
            if not set(pair) & set(corpus.STOPWORDS):
                out.add(pair)
    return sorted(out)


def patt(words: tuple) -> str:
    return " ".join(f'"{w}"' for w in words)


def make_pool(seed: int, answers) -> list[dict]:
    """~300 distinct requests, most popular first."""
    rng = np.random.default_rng([seed, 0x5E])
    o = answers.o
    pool = []
    for words in _patterns(rng, answers, POOL["docs_bm25"]):
        pool.append({"route": "docs_bm25", "corpus": "main", "words": words,
                     "path": "docs", "params": {"patt": patt(words), "sort": "bm25", "number": K}})
    for i, words in enumerate(_patterns(rng, answers, POOL["hits_kwic"])):
        c = "live" if i < POOL["hits_kwic"] * LIVE_SHARE else "main"
        pool.append({"route": "hits_kwic", "corpus": c, "path": "hits",
                     "params": {"patt": patt(words), "wordsaroundhit": 5, "number": 20}})
    for _ in range(POOL["snippet"]):
        d = int(rng.integers(0, o.n_docs))
        s = int(rng.integers(0, len(o.tokens[d]) - 1))
        pool.append({"route": "snippet", "corpus": "main", "path": f"docs/{d}/snippet",
                     "params": {"hitstart": s, "hitend": s + 1, "wordsaroundhit": 5}})
    for i in range(POOL["termfreq"]):
        c = "live" if i < POOL["termfreq"] * LIVE_SHARE else "main"
        params = {"number": 5 + i}
        if i % 4 == 3:
            params["filter"] = f"lang = '{corpus.LANGS[i % len(corpus.LANGS)]}'"
        pool.append({"route": "termfreq", "corpus": c, "path": "termfreq", "params": params})
    # popularity rank interleaves the routes in proportion, so every seed
    # gets the same route mix at every rank
    by_route: dict[str, list[dict]] = {}
    for r in pool:
        by_route.setdefault(r["route"], []).append(r)
    ranked = []
    for route, reqs in by_route.items():
        order = rng.permutation(len(reqs))
        ranked += [((i + 0.5) / len(reqs), route, reqs[j]) for i, j in enumerate(order)]
    ranked.sort(key=lambda x: (x[0], x[1]))
    return [r for _p, _route, r in ranked]


def expected(seed: int, answers) -> dict:
    """Oracle side: the pool and the ranked answer of every pooled
    docs_bm25 request."""
    pool = make_pool(seed, answers)
    return {
        "pool": pool,
        "answers": {
            r["words"]: answers.topk_phrase(list(r["words"]), K)
            for r in pool if r["route"] == "docs_bm25"
        },
    }


def add_batch(seed: int, i: int) -> bytes:
    """The i-th 100-page JSONL add (an independent stream of the seed)."""
    toks = corpus.doc_tokens(seed, (i + 1) * ADD_DOCS, stream=1)[i * ADD_DOCS:]
    return "\n".join(
        json.dumps({"url": f"https://live.example/add{i}/{j}", "text": corpus.page_text(t)})
        for j, t in enumerate(toks)
    ).encode()


def _tracing_cache():
    from blacklab_spark.server import SearchCache

    class TracingCache(SearchCache):
        """Records (key, start, compute wall) of every computed search."""

        def __init__(self):
            super().__init__()
            self.computed: list[tuple] = []

        def get_or_compute(self, key, compute):
            def timed():
                t0 = time.perf_counter()
                try:
                    return compute()
                finally:
                    self.computed.append((key, t0, time.perf_counter() - t0))

            return super().get_or_compute(key, timed)

    return TracingCache()


class Client:
    def __init__(self, port: int):
        self.base = f"http://127.0.0.1:{port}/blacklab-server"

    def call(self, path: str, params: dict | None = None, body: bytes | None = None):
        url = f"{self.base}/{path}"
        if params:
            url += "?" + urllib.parse.urlencode(params)
        req = urllib.request.Request(url, data=body, method="POST" if body is not None else "GET")
        try:
            with urllib.request.urlopen(req, timeout=TIMEOUT_S) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, None
        except OSError:  # refused, reset or timed out
            return 0, None


def run(spark, index: str, work: str, seed: int, trace, exp: dict) -> dict:
    """Serve `index` as `main` plus a writable `live` corpus, and run the
    probe's clients to completion. Returns the server layer metrics, the
    request counts and the failures (non-2xx, timeouts, wrong rankings)."""
    from blacklab_spark.query import Index
    from blacklab_spark.server import BlackLabServer

    from oracle_check import SERVER_SCORE_ATOL, same_ranking

    live_root = os.path.join(work, "live")
    os.makedirs(live_root)
    cache = _tracing_cache()
    srv = BlackLabServer({"main": Index(spark, index)}, cache=cache,
                         writable_root=live_root, spark=spark).start()
    try:
        client = Client(srv.port)
        for path, params, body in (("", {"name": "live"}, b""),
                                   ("live/docs", None, add_batch(seed, 0))):
            status, _ = client.call(path, params, body)
            if status not in (200, 201):
                raise RuntimeError(f"serve probe: POST /{path} returned {status}")
        pool = exp["pool"]
        w = 1.0 / np.power(np.arange(1, len(pool) + 1, dtype=np.float64), ZIPF_S)
        cdf = np.cumsum(w / w.sum())
        records: list[dict] = []
        lock = threading.Lock()
        jobs0 = trace.total_jobs()

        def loop(cid: int) -> None:
            rng = np.random.default_rng([seed, 0xC1, cid])
            adds = 1
            for n in range(1, REQUESTS_PER_CLIENT + 1):
                if cid == 0 and n % ADD_EVERY == 0:
                    req = {"route": "add", "corpus": "live", "path": "live/docs"}
                    body, params, adds = add_batch(seed, adds), None, adds + 1
                else:
                    req = pool[int(np.searchsorted(cdf, rng.random()))]
                    req = dict(req, path=f"{req['corpus']}/{req['path']}")
                    body, params = None, req["params"]
                t0 = time.perf_counter()
                status, payload = client.call(req["path"], params, body)
                t1 = time.perf_counter()
                ok = 200 <= status < 300
                if ok and req["route"] == "docs_bm25":
                    got = [(i + 1, int(d["docPid"]), float(d["score"]))
                           for i, d in enumerate(payload["docs"])]
                    ok = same_ranking(got, exp["answers"][req["words"]], atol=SERVER_SCORE_ATOL)
                with lock:
                    records.append({"route": req["route"], "req": req, "t0": t0, "t1": t1,
                                    "ok": ok})

        threads = [threading.Thread(target=loop, args=(i,)) for i in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        jobs = trace.total_jobs() - jobs0
        cache_info = client.call("cache-info")[1]
    finally:
        srv.stop()

    routes = {r: [x["t1"] - x["t0"] for x in records if x["route"] == r]
              for r in ("docs_bm25", "hits_kwic", "snippet", "termfreq", "add")}
    return {
        "values": _server_layers(cache, records, cache_info, routes, jobs, live_root),
        "attempted": len(records),
        "failed": sum(not r["ok"] for r in records),
        "info": {"serve_probe_route_counts": {r: len(v) for r, v in routes.items()}},
    }


def _cache_key(req: dict) -> tuple:
    op = req["path"].split("/")[1]
    params = {k: str(v) for k, v in req["params"].items()}
    return (req["corpus"], op, tuple(sorted(params.items())))


def _server_layers(cache, records, cache_info, routes, jobs, live_root) -> dict:
    computed = {}
    for key, t0, dt in cache.computed:
        computed.setdefault(key, []).append((t0, dt))
    miss_lat, miss_compute = 0.0, 0.0
    for r in records:
        if r["route"] not in ("docs_bm25", "hits_kwic", "termfreq"):
            continue
        for t0, dt in computed.get(_cache_key(r["req"]), ()):
            if r["t0"] <= t0 <= r["t1"]:
                miss_lat += r["t1"] - r["t0"]
                miss_compute += dt
                break
    hits, misses = cache_info["hits"], cache_info["misses"]
    with open(os.path.join(live_root, "live", "segments.json")) as f:
        n_segments = len(json.load(f)["segments"])
    out = {
        "server.cache_hit_ratio": hits / max(1, hits + misses),
        "server.compute_s_p50": median([dt for _k, _t, dt in cache.computed])
        if cache.computed else 0.0,
        "server.wait_share": 1.0 - miss_compute / miss_lat if miss_lat else 0.0,
        "server.segments_at_end": float(n_segments),
        "server.spark_jobs_per_request": jobs / max(1, len(records)),
    }
    out.update({f"server.route.{r}_p50_s": median(v) if v else 0.0 for r, v in routes.items()})
    return out
