"""Every metric the benchmark emits, with its unit. BENCHMARK.json lists the
same names; `test_perfbench.py` keeps the two in step.

End-to-end metrics are emitted by every workload (untraced runs); an
"operation" is one fresh index build (`build`), one ranked query up to its
collected rows (`query`) or one HTTP request (`serve`).

Per-layer metrics are emitted by every workload's traced run. A layer that a
workload does not exercise reads 0 there (no query runs on `build`, no
server on `query`, ...).
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "items_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
}

QUERY_CLASSES = ("term_head", "term_tail", "or3", "and2", "phrase", "bcql")
BUILD_STAGES = ("doc_ids", "docs", "stats", "blocks", "terms", "postings", "manifest")
SERVER_ROUTES = ("docs_bm25", "hits_kwic", "snippet", "termfreq", "add")
QUERY_FIELDS = {
    "wall_s": "s",
    "resolve_s": "s",
    "plan_s": "s",
    "exec_s": "s",
    "spark_jobs": "count",
    "spark_tasks": "count",
    "scan_bytes": "bytes",
    "shuffle_bytes": "bytes",
    "executor_run_s": "s",
}


def _per_layer() -> dict[str, str]:
    m = {
        "host.probe_pre_s": "s",
        "host.probe_post_s": "s",
        "trace.op_p50_s": "s",
        "iceberg.read_plan_s": "s",
        "iceberg.data_files": "count",
        "build.wall_s": "s",
    }
    m.update({f"build.stage.{s}_s": "s" for s in BUILD_STAGES})
    m.update({
        "build.spark.jobs": "count",
        "build.spark.stages": "count",
        "build.spark.tasks": "count",
        "build.spark.executor_run_s": "s",
        "build.spark.executor_cpu_s": "s",
        "build.spark.gc_s": "s",
        "build.spark.input_bytes": "bytes",
        "build.spark.shuffle_write_bytes": "bytes",
        "build.spark.output_bytes": "bytes",
        "build.slot_util": "ratio",
        "build.bytes.postings": "bytes",
        "build.bytes.docs": "bytes",
        "build.bytes.terms": "bytes",
        "tokenize.tokens_per_s": "1/s",
        "codec.encode_mb_per_s": "MB/s",
        "codec.decode_mb_per_s": "MB/s",
        "bcql.parse_s": "s",
    })
    for c in QUERY_CLASSES:
        m.update({f"query.{c}.{f}": u for f, u in QUERY_FIELDS.items()})
    m.update({
        "server.cache_hit_ratio": "ratio",
        "server.compute_s_p50": "s",
        "server.wait_share": "ratio",
    })
    m.update({f"server.route.{r}_p50_s": "s" for r in SERVER_ROUTES})
    m.update({
        "server.segments_at_end": "count",
        "server.spark_jobs_per_request": "count",
    })
    return m


PER_LAYER = _per_layer()


def result(correct: bool, attempted: int, failed: int, values: dict, traced: bool) -> dict:
    """The result line: exactly the metrics of the run's kind, each with its
    unit; a per-layer metric the workload did not produce reads 0."""
    unknown = sorted(set(values) - set(END_TO_END) - set(PER_LAYER))
    if unknown:
        raise KeyError(f"undeclared metrics {unknown}")
    units = PER_LAYER if traced else END_TO_END
    missing = [k for k in END_TO_END if k not in values] if not traced else []
    if missing:
        raise KeyError(f"workload did not produce {missing}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()
        },
    }
