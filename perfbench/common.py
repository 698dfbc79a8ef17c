"""Steps the workloads share: the seeded pages table, the snapshot-pinned
index build, on-disk byte counts and the in-process layer probes
(iceberg planning, tokenizer, posting codec)."""

from __future__ import annotations

import json
import os
import time

import numpy as np

import corpus
from harness import N_SHARDS, median

N_PAGES = 10_000


def make_table(spark, location: str, seed: int, n: int = N_PAGES) -> str:
    """Generate the seeded pages and write them as one Iceberg append."""
    from blacklab_spark.iceberg import IcebergTable

    pdf = corpus.generate_pages(seed, n)
    tbl = IcebergTable.create(location, corpus.PAGES_DDL)
    tbl.append(spark, spark.createDataFrame(pdf, corpus.PAGES_DDL))
    return tbl.location


def build(spark, table: str, out_dir: str) -> dict:
    """One fresh snapshot-pinned build of the table's current snapshot."""
    from blacklab_spark.iceberg import index_iceberg

    return index_iceberg(spark, table, out_dir, resume=False, n_shards=N_SHARDS)


def timed_setup(spark, work: str, seed: int, reps: int, with_index: bool) -> tuple[list[float], str, str | None]:
    """`reps` full data setups (pages table, plus the index when the
    workload queries one). Returns the rep walls and the last rep's table
    and index directories."""
    walls, table, index = [], None, None
    for r in range(reps):
        t0 = time.perf_counter()
        table = make_table(spark, os.path.join(work, f"table-{r}"), seed)
        if with_index:
            index = os.path.join(work, f"index-{r}")
            build(spark, table, index)
        walls.append(time.perf_counter() - t0)
    return walls, table, index


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith(".")
        )
    return total


def segment_bytes(index: str) -> dict[str, int]:
    """On-disk bytes of the index's segments (hidden checksum files
    excluded): the total and the postings/docs/terms tables."""
    with open(os.path.join(index, "segments.json")) as f:
        segs = json.load(f)["segments"]
    out = {"total": 0, "postings": 0, "docs": 0, "terms": 0}
    for s in segs:
        base = os.path.join(index, "segments", s)
        out["total"] += _dir_bytes(base)
        for t in ("postings", "docs", "terms"):
            out[t] += _dir_bytes(os.path.join(base, t))
    return out


def check_dictionary(index: str, expect: dict) -> bool:
    """The built index holds every page, every token and, for every term,
    the document frequency the oracle counts."""
    import pyarrow.dataset as ds

    with open(os.path.join(index, "segments", "seg0", "meta.json")) as f:
        meta = json.load(f)
    if meta["n_docs"] != expect["n_docs"] or meta["sum_dl"] != expect["sum_dl"]:
        return False
    t = ds.dataset(os.path.join(index, "segments", "seg0", "terms"), format="parquet")
    tab = t.to_table(columns=["annot", "term", "df"]).to_pandas()
    tab = tab[tab["annot"] == "word"]
    return dict(zip(tab["term"], tab["df"].astype(int))) == expect["term_df"]


# ------------------------------------------------------------ layer probes --
def iceberg_probe(spark, table: str, reps: int = 5) -> dict:
    """Planning wall of `IcebergTable.read` (manifest walk + lazy
    DataFrame) and the planned data-file count."""
    from blacklab_spark.iceberg import IcebergTable

    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        tbl = IcebergTable(table)
        tbl.read(spark)
        walls.append(time.perf_counter() - t0)
    return {
        "iceberg.read_plan_s": median(walls),
        "iceberg.data_files": len(IcebergTable(table).data_files()),
    }


def tokenize_probe(texts: list[str], reps: int = 3) -> dict:
    """`tokenize_series` over a fixed in-process sample of page texts."""
    import pandas as pd

    from blacklab_spark.tokenize import tokenize_series

    s = pd.Series(texts)
    walls, n_tok = [], 0
    for _ in range(reps):
        t0 = time.perf_counter()
        toks = tokenize_series(s)
        walls.append(time.perf_counter() - t0)
        n_tok = int(toks.map(len).sum())
    return {"tokenize.tokens_per_s": n_tok / median(walls)}


def codec_probe(index: str, decode_terms: list[str], reps: int = 3) -> dict:
    """`encode_ints(.., "pfor")` over the built postings' doc-id arrays, and
    `decode_ints` over the posting blobs of `decode_terms` read with
    pyarrow. MB are MB of int64 values."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from blacklab_spark.codec import decode_ints, encode_ints

    seg = os.path.join(index, "segments", "seg0")
    terms = ds.dataset(os.path.join(seg, "terms"), format="parquet").to_table(
        columns=["annot", "term_fold", "term_id"]
    ).to_pandas()
    tids = terms[(terms["annot"] == "word") & terms["term_fold"].isin(decode_terms)]["term_id"]
    post = ds.dataset(os.path.join(seg, "postings"), format="parquet")
    all_ids = [decode_ints(b) for b in post.to_table(columns=["doc_ids"])["doc_ids"].to_pylist()]
    q = post.to_table(
        columns=["doc_ids", "tfs"],
        filter=pc.field("term_id").isin([int(t) for t in tids]),
    )
    blobs = q["doc_ids"].to_pylist() + q["tfs"].to_pylist()

    enc_mb = sum(a.size for a in all_ids) * 8 / 1e6
    dec_mb = sum(decode_ints(b).size for b in blobs) * 8 / 1e6
    enc, dec = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        for a in all_ids:
            encode_ints(a, "pfor")
        enc.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for b in blobs:
            decode_ints(b)
        dec.append(time.perf_counter() - t0)
    return {
        "codec.encode_mb_per_s": enc_mb / median(enc),
        "codec.decode_mb_per_s": dec_mb / median(dec) if blobs else 0.0,
    }


def build_layers(trace, gid: str, wall: float, meta: dict, cores: int) -> dict:
    """Per-layer numbers of one traced build."""
    m = trace.metrics(gid)
    out = {"build.wall_s": wall}
    out.update({f"build.stage.{k}_s": float(v) for k, v in meta["stage_s"].items()})
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "input_bytes", "shuffle_write_bytes", "output_bytes"):
        out[f"build.spark.{k}"] = float(m[k])
    out["build.slot_util"] = m["executor_run_s"] / (wall * cores)
    return out


def median_layers(samples: list[dict]) -> dict:
    keys = {k for s in samples for k in s}
    return {k: median([s.get(k, 0.0) for s in samples]) for k in keys}


def storage_layers(index: str) -> dict:
    b = segment_bytes(index)
    return {f"build.bytes.{t}": float(b[t]) for t in ("postings", "docs", "terms")}


def layer_probes(spark, table: str, index: str, texts: list[str], decode_terms: list[str]) -> dict:
    out = {}
    out.update(iceberg_probe(spark, table))
    out.update(tokenize_probe(texts))
    out.update(codec_probe(index, decode_terms))
    return out


def decode_terms_for(seed: int) -> list[str]:
    """Fixed per seed: the head terms and mid-frequency terms the query
    workload's term_head and or3 classes draw from."""
    rng = np.random.default_rng([seed, 0xDEC0])
    heads = sorted(rng.choice(corpus.STOPWORDS, 3, replace=False).tolist())
    mids = sorted(corpus.VOCAB[rng.integers(20, 400, 3)].tolist())
    return heads + mids
