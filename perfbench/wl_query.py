"""`query`: one closed-loop client issuing a seeded stream of ranked queries.

Setup builds the index (same generator and size as `build`), then an untimed
warm-up stream runs for WARM_S seconds. The timed stream cycles through six classes, drawing each
query from a small seeded pool of that class (the first three classes come
twice as often as the last three):

- term_head: `Index.topk` on a stop-word (df close to N)
- term_tail: `Index.topk` on a rare term
- or3:       three-term `Index.topk` (the WAND path)
- and2:      `Index.topk_and` on two terms
- phrase:    `Index.topk_phrase`
- bcql:      `bcql.find_ranked` on a three-token sequence

Each answer is collected, and every answer is checked against the oracle
after the timed region. The traced run then measures the server layer with
`serve_probe`.
"""

from __future__ import annotations

import time

import numpy as np

import common
import corpus
from harness import median, quantile
from metrics import QUERY_CLASSES, QUERY_FIELDS

K = 10
POOL_PER_CLASS = 4
# untimed warm-up stream before the timed one: per-query walls fall by
# 15-20% over the first ~20 s of queries after the session's first (JVM
# warm-up) and are flat after that
WARM_S = 15.0


def make_pool(seed: int, answers) -> dict[str, list[tuple]]:
    """Seeded query pool; every drawn term occurs in the corpus."""
    rng = np.random.default_rng([seed, 0x9E])
    o = answers.o
    heads = common.decode_terms_for(seed)[:3]
    mids = common.decode_terms_for(seed)[3:]

    def terms(lo, hi, n):
        out = []
        while len(out) < n:
            w = str(corpus.VOCAB[rng.integers(lo, hi)])
            if answers.df(w) and w not in out:
                out.append(w)
        return out

    def ngram(n):
        while True:
            d = int(rng.integers(0, o.n_docs))
            toks = o.tokens_fold[d]
            p = int(rng.integers(0, len(toks) - n))
            words = toks[p:p + n]
            if not set(words) & set(corpus.STOPWORDS):
                return tuple(words)

    pool = {
        "term_head": [(w,) for w in heads] + [(str(rng.choice(corpus.STOPWORDS)),)],
        "term_tail": [(w,) for w in terms(3000, corpus.VOCAB_SIZE, POOL_PER_CLASS)],
        "or3": [tuple(mids)] + [tuple(terms(20, 400, 3)) for _ in range(POOL_PER_CLASS - 1)],
        "and2": [],
        "phrase": [corpus.PLANTED[0], corpus.PLANTED[1], ngram(2), ngram(2)],
        "bcql": [corpus.PLANTED[1], corpus.PLANTED[2], ngram(3), ngram(3)],
    }
    while len(pool["and2"]) < POOL_PER_CLASS:
        pair = tuple(terms(5, 150, 2))
        if answers.topk_and(list(pair), 1):
            pool["and2"].append(pair)
    return pool


# one round of the stream: the single-pass term classes twice as often as
# the multi-job ones, so the median falls inside one cost cluster instead of
# in the gap between the two
ROUND = ("term_head", "and2", "term_tail", "or3", "phrase", "term_head",
         "term_tail", "bcql", "or3")


def stream(seed: int, pool: dict, salt: int = 0x57) -> list[tuple[str, tuple]]:
    """The seeded query stream: ROUND repeated, a random pool entry each.
    `salt` picks an independent stream (the warm-up's)."""
    rng = np.random.default_rng([seed, salt])
    return [
        (c, pool[c][int(rng.integers(0, len(pool[c])))])
        for _ in range(200)
        for c in ROUND
    ]


def expected_answer(answers, cls: str, words: tuple):
    if cls in ("term_head", "term_tail", "or3"):
        return answers.topk(list(words), K)
    if cls == "and2":
        return answers.topk_and(list(words), K)
    return answers.topk_phrase(list(words), K)


def expected(seed: int, traced: bool) -> dict:
    """Oracle side (runs in a child process): the pool, every pooled
    query's answer, the index's text bytes and, for a traced run, the
    server probe's pool and answers."""
    import serve_probe
    from oracle_check import Answers, load_oracle

    o = load_oracle(corpus.generate_pages(seed, common.N_PAGES))
    answers = Answers(o)
    pool = make_pool(seed, answers)
    return {
        "pool": pool,
        "answers": {
            (c, q): expected_answer(answers, c, q) for c, qs in pool.items() for q in qs
        },
        "text_bytes": sum(len(t.encode()) for t in o.texts),
        "sample_texts": o.texts[:2000],
        "serve": serve_probe.expected(seed, answers) if traced else None,
    }


def bcql_text(words: tuple) -> str:
    return " ".join(f'"{w}"' for w in words)


def plan(ix, cls: str, words: tuple):
    """The lazy ranked DataFrame of one query (the call under `plan_s`)."""
    from blacklab_spark import bcql

    if cls in ("term_head", "term_tail", "or3"):
        return ix.topk(list(words), K)
    if cls == "and2":
        return ix.topk_and(list(words), K)
    if cls == "phrase":
        return ix.topk_phrase(list(words), K)
    return bcql.find_ranked(ix, bcql_text(words), K)


def rows_of(df_rows) -> list[tuple[int, int, float]]:
    return sorted((int(r["rank"]), int(r["doc_id"]), float(r["score"])) for r in df_rows)


def setup(spark, work: str, seed: int, exp: dict) -> dict:
    """Table and index (2 reps), then the warm-up stream (at least one
    round, then until WARM_S have passed), which is not part of the setup
    wall."""
    from blacklab_spark.query import Index

    walls, table, index = common.timed_setup(spark, work, seed, 2, with_index=True)
    t0 = time.perf_counter()
    ix = Index(spark, index)
    extra_s = time.perf_counter() - t0
    t_warm = time.perf_counter()
    for i, (cls, words) in enumerate(stream(seed, exp["pool"], salt=0x3A)):
        if i >= len(ROUND) and time.perf_counter() - t_warm >= WARM_S:
            break
        plan(ix, cls, words).collect()
    return {"rep_walls": walls, "extra_s": extra_s, "warm_s": time.perf_counter() - t0 - extra_s,
            "table": table, "index": index, "ix": ix}


def run(spark, work: str, seed: int, seconds: float, trace, exp: dict, state: dict) -> dict:
    from blacklab_spark import bcql

    ix = state["ix"]
    walls, got, per_class = [], [], {c: [] for c in QUERY_CLASSES}
    parse_walls = []
    t_start = time.perf_counter()
    for cls, words in stream(seed, exp["pool"]):
        if time.perf_counter() - t_start >= seconds and walls:
            break
        rec = {}
        if trace.enabled:
            with trace.group("resolve"):
                t0 = time.perf_counter()
                ix.resolve(list(words))
                rec["resolve_s"] = time.perf_counter() - t0
            if cls == "bcql":
                t0 = time.perf_counter()
                bcql.parse(bcql_text(words))
                parse_walls.append(time.perf_counter() - t0)
        with trace.group("plan") as g_plan:
            t0 = time.perf_counter()
            df = plan(ix, cls, words)
            t1 = time.perf_counter()
        with trace.group("exec") as g_exec:
            rows = df.collect()
            t2 = time.perf_counter()
        walls.append(t2 - t0)
        got.append((cls, words, rows_of(rows)))
        if trace.enabled:
            m = trace.metrics(g_plan, g_exec)
            rec.update({
                "wall_s": t2 - t0,
                "plan_s": t1 - t0,
                "exec_s": t2 - t1,
                "spark_jobs": m["jobs"],
                "spark_tasks": m["tasks"],
                "scan_bytes": m["input_bytes"],
                "shuffle_bytes": m["shuffle_write_bytes"],
                "executor_run_s": m["executor_run_s"],
            })
            per_class[cls].append(rec)
    elapsed = time.perf_counter() - t_start

    from oracle_check import same_ranking

    failed = sum(not same_ranking(g, exp["answers"][(c, w)]) for c, w, g in got)
    values = {
        "op_p50_s": median(walls),
        "op_p90_s": quantile(walls, 0.9),
        "items_per_s": len(walls) / elapsed,
        "index_bytes_per_text_byte": common.segment_bytes(state["index"])["total"]
        / exp["text_bytes"],
    }
    if trace.enabled:
        for cls, recs in per_class.items():
            for f in QUERY_FIELDS:
                values[f"query.{cls}.{f}"] = median([r[f] for r in recs]) if recs else 0.0
        values["bcql.parse_s"] = median(parse_walls) if parse_walls else 0.0
        values["trace.op_p50_s"] = median(walls)
        values.update(common.storage_layers(state["index"]))
        values.update(common.layer_probes(
            spark, state["table"], state["index"], exp["sample_texts"],
            common.decode_terms_for(seed),
        ))
    class_walls = {c: [] for c in QUERY_CLASSES}
    for (c, _w, _g), w in zip(got, walls):
        class_walls[c].append(w)
    out = {
        "values": values,
        "attempted": len(walls),
        "failed": failed,
        "info": {
            "queries": len(walls),
            "class_p50_s": {c: median(v) for c, v in class_walls.items() if v},
        },
    }
    if trace.enabled:
        import serve_probe

        probe = serve_probe.run(spark, state["index"], work, seed, trace, exp["serve"])
        out["values"].update(probe["values"])
        out["attempted"] += probe["attempted"]
        out["failed"] += probe["failed"]
        out["info"].update(probe["info"])
    return out
