"""Self-tests of the benchmark: deterministic inputs, metric names that
match BENCHMARK.json, a tiny smoke run, and the refusal to run without
the program.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke runs start one Spark JVM each, one after the other.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_pages_deterministic_per_seed(tmp_path, monkeypatch):
    a = inputs.generate_page_table(600, seed=3)
    assert a["url"].is_unique
    assert not a["html"].equals(inputs.generate_page_table(600, seed=4)["html"])
    # the cached table written by two child processes is the same table
    monkeypatch.setattr(inputs, "CACHE_DIR", str(tmp_path))
    b = pd.read_parquet(inputs.pages_path(600, seed=3, workers=2))
    pd.testing.assert_frame_equal(a, b)


def test_corpus_deterministic_per_seed():
    a = inputs.generate_corpus(3000, seed=3)
    pd.testing.assert_frame_equal(a, inputs.generate_corpus(3000, seed=3))
    assert not a["text"].equals(inputs.generate_corpus(3000, seed=4)["text"])
    assert sorted(a["doc_id"]) == list(range(3000))
    # planted copies keep their original's distinct token set
    tokens = dict(zip(a["doc_id"], a["text"].map(lambda t: frozenset(t.split(" ")))))
    members = a[a["original"] >= 0]
    assert all(tokens[d] == tokens[o] for d, o in zip(members["doc_id"], members["original"]))
    copies = (members["doc_id"] != members["original"]).sum()
    assert 0.05 < copies / len(a) < 0.15


def test_fingerprints_pack_round_trip():
    prints = [checks.fingerprint([i, "x"]) for i in range(50)]
    assert checks._unpack(checks._pack(prints)) == prints


def _run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# layers each traced workload calls on every pass: a tracer patch that no
# longer matches the program reads 0 here.  functions.analysis.components
# is left out: it is the difference of two wall times, which on a 300-doc
# smoke corpus can fall below 0
CALLED_LAYERS = {
    "crawl_mix": (
        "extractor.extract_document.ms_per_doc",
        "extractor.decode_html.ms_per_doc",
        "operators.dom.parse_xml.ms_per_doc",
        "operators.dom.parse_xml.calls_per_doc",
        "operators.tagfilter.tag_filtering_dom.ms_per_doc",
        "functions.fused.fused_parse.ms_per_doc",
        "functions.tokenize.keyword_list.ms_per_doc",
        "plans.pipeline.udf_stage_task_ms_per_doc",
    ),
    "neardup_dedup": (
        "functions.analysis.simhash.ms_per_doc",
        "functions.analysis.simhash_neardup_pairs.ms_per_doc",
        "functions.analysis.pairs_per_doc",
        "functions.analysis.jobs",
        "functions.analysis.stages",
        "functions.analysis.shuffle_bytes_per_doc",
    ),
}


@pytest.mark.parametrize(
    "workload,trace,key",
    [
        ("crawl_mix", "0", "end_to_end"),
        ("crawl_mix", "1", "per_layer"),
        ("neardup_dedup", "1", "per_layer"),
    ],
)
def test_smoke_run_prints_declared_metrics(workload, trace, key):
    proc = _run(
        ["--workload", workload, "--seed", "5", "--seconds", "0.1",
         "--trace", trace, "--docs", "300"]
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 300
    declared = {m["name"]: m["unit"] for m in _benchmark()[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    if trace == "1":
        values = {k: v["value"] for k, v in result["metrics"].items()}
        assert all(values[k] > 0 for k in CALLED_LAYERS[workload]), values


def test_benchmark_json_workloads_exist():
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in _benchmark()["workloads"]} <= set(WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "crawl_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
