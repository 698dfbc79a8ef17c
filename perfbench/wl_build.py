"""`build`: fresh snapshot-pinned index builds of the seeded pages table.

Setup writes the pages through the Iceberg layer (`IcebergTable.create` +
`append`) and runs one untimed warm-up build of the same table (a build of a
few hundred pages left the first timed build up to 40% slower). The timed
region repeats `iceberg.index_iceberg(..., resume=False)` at fixed
`n_shards`, at least MIN_BUILDS times and until `--seconds` have passed;
every build's dictionary is checked against the oracle outside its wall.
"""

from __future__ import annotations

import os
import shutil
import time

import common
import corpus
from harness import cpu_count, median, quantile

# the first timed build is still up to 20% slower than the next ones; the
# median of three or more leaves it out
MIN_BUILDS = 3


def expected(seed: int, traced: bool) -> dict:
    """Oracle side (runs in a child process): what every build must hold."""
    from oracle_check import load_oracle

    o = load_oracle(corpus.generate_pages(seed, common.N_PAGES))
    term_df: dict[str, int] = {}
    for toks in o.tokens:
        for w in set(toks):
            term_df[w] = term_df.get(w, 0) + 1
    return {
        "n_docs": o.n_docs,
        "sum_dl": sum(len(t) for t in o.tokens),
        "term_df": term_df,
        "text_bytes": sum(len(t.encode()) for t in o.texts),
        "sample_texts": o.texts[:2000],
    }


def setup(spark, work: str, seed: int, exp: dict) -> dict:
    walls, table, _ = common.timed_setup(spark, work, seed, 3, with_index=False)
    t0 = time.perf_counter()
    warm = os.path.join(work, "warm-index")
    common.build(spark, table, warm)
    shutil.rmtree(warm)
    return {"rep_walls": walls, "extra_s": time.perf_counter() - t0, "table": table}


def run(spark, work: str, seed: int, seconds: float, trace, exp: dict, state: dict) -> dict:
    table = state["table"]
    walls, ok, layers, index = [], [], [], None
    t_end = time.perf_counter() + seconds
    i = 0
    while len(walls) < MIN_BUILDS or time.perf_counter() < t_end:
        out = os.path.join(work, f"build-{i}")
        with trace.group("build") as gid:
            t0 = time.perf_counter()
            meta = common.build(spark, table, out)
            wall = time.perf_counter() - t0
        walls.append(wall)
        ok.append(common.check_dictionary(out, exp))
        if trace.enabled:
            layers.append(common.build_layers(trace, gid, wall, meta, cpu_count()))
        if index is not None:
            shutil.rmtree(index, ignore_errors=True)
        index, i = out, i + 1

    seg = common.segment_bytes(index)
    values = {
        "op_p50_s": median(walls),
        "op_p90_s": quantile(walls, 0.9),
        "items_per_s": common.N_PAGES / median(walls),
        "index_bytes_per_text_byte": seg["total"] / exp["text_bytes"],
    }
    if trace.enabled:
        values.update(common.median_layers(layers))
        values.update(common.storage_layers(index))
        values.update(common.layer_probes(
            spark, table, index, exp["sample_texts"], common.decode_terms_for(seed)
        ))
        values["trace.op_p50_s"] = median(walls)
    return {
        "values": values,
        "attempted": len(walls),
        "failed": ok.count(False),
        "info": {"build_walls_s": walls},
    }
