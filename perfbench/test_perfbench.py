"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_a_function_of_the_seed():
    a = corpus.generate_pages(7, 300)
    b = corpus.generate_pages(7, 300)
    pd.testing.assert_frame_equal(a, b)
    assert list(a.columns) == ["url", "warc_ts", "html", "text", "lang"]


def test_generator_differs_across_seeds_and_streams():
    a = corpus.generate_pages(7, 300)
    assert not a["text"].equals(corpus.generate_pages(8, 300)["text"])
    assert not a["text"].equals(corpus.generate_pages(7, 300, stream=1)["text"])


def test_generator_shape():
    toks = corpus.doc_tokens(3, 2000)
    lens = [len(t) for t in toks]
    assert corpus.MIN_LEN <= min(lens) and max(lens) <= corpus.MAX_LEN
    # stop-words are head terms with df close to N
    df_the = sum("the" in t for t in toks)
    assert df_the > 0.9 * len(toks)
    joined = [" ".join(t) for t in toks]
    assert sum("terms of service" in j for j in joined) >= 1
    pages = corpus.generate_pages(3, 2000)
    assert set(pages["lang"]) == set(corpus.LANGS)
    assert pages["url"].is_unique
    assert 0 < pages["text"].isna().sum() < 100


def test_benchmark_json_matches_emitted_names():
    bj = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bj["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bj["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in bj["workloads"]] == ["build", "query"]
    for m in bj["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bj["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bj["end_to_end"])


def test_names_and_units_fit_the_format():
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert len(names) == len(set(names))
    assert len(metrics.PER_LAYER) <= 128
    for n in names:
        assert NAME_RE.match(n), n
    for u in list(metrics.END_TO_END.values()) + list(metrics.PER_LAYER.values()):
        assert UNIT_RE.match(u), u


def test_result_emits_exactly_the_declared_metrics():
    values = {k: 1.0 for k in metrics.END_TO_END}
    plain = metrics.result(True, 3, 0, values, traced=False)
    assert set(plain) == {"correct", "attempted", "failed", "metrics"}
    assert set(plain["metrics"]) == set(metrics.END_TO_END)
    traced = metrics.result(True, 3, 0, values, traced=True)
    assert set(traced["metrics"]) == set(metrics.PER_LAYER)
    with pytest.raises(KeyError):
        metrics.result(True, 1, 0, dict(values, bogus=1.0), traced=False)
    with pytest.raises(KeyError):
        metrics.result(True, 1, 0, {"setup_s": 1.0}, traced=False)


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "*.pyc"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_orphaned_descendants_end_before_the_run(tmp_path):
    """A grandchild orphaned by its parent's exit (as Spark's Python worker
    daemon is by the JVM's) is re-parented to the run, ended and reaped."""
    pid_file = tmp_path / "pid"
    code = (
        "import subprocess, sys\n"
        f"sys.path.insert(0, {HERE!r})\n"
        "import harness\n"
        "harness.become_subreaper()\n"
        f"subprocess.run(['sh', '-c', 'sleep 60 & echo $! > {pid_file}'], check=True)\n"
        "harness.reap_descendants(grace_s=0.5)\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=60)
    assert not os.path.exists(f"/proc/{int(pid_file.read_text())}")
