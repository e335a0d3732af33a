"""The traced run sees every call site and attributes every job.

Each test runs one short traced run of a workload as a subprocess, from
the checkout root, and reads its detail line. A run takes about a minute
on 4 cores; the suite is not part of the repo's default test tier:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]

# wrapped function -> the workload whose queries call it
USED_BY = {
    "sources.tables.load_table": "curation_small",
    "plans.caching.truncate_lineage": "curation_small",  # dawid_skene_correction
    "plans.caching.persisted_result": "curation_small",  # dawid_skene_correction
    "operators.dedup._truncate_lineage": "curation_small",  # ngram_jaccard_pairs
    "sink": "weather_stream",
}


def _traced_run(workload: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail, result = proc.stdout.strip().splitlines()
    return json.loads(detail)["perfbench_detail"], json.loads(result)


@pytest.fixture(scope="module", params=["curation_small", "weather_stream"])
def traced(request):
    return request.param, *_traced_run(request.param)


def test_run_is_correct(traced):
    _, _, result = traced
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0


def test_no_binding_escapes_the_wrappers(traced):
    _, detail, _ = traced
    assert detail["tracing"]["unwrapped_bindings"] == []


def test_each_wrapper_fires_on_its_workload(traced):
    workload, detail, _ = traced
    calls = detail["tracing"]["wrapper_calls"]
    for label, used_by in USED_BY.items():
        if used_by == workload:
            assert calls.get(label, 0) > 0, (label, calls)


def test_layer_jobs_sum_to_all_jobs_of_a_pass(traced):
    """On the stream, the pass is the live loop and its jobs are those
    of the query's run id."""
    _, detail, _ = traced
    passes = detail["tracing"]["jobs_per_traced_pass"]
    assert passes
    for p in passes:
        assert p["all"] > 0
        assert p["unattributed"] == [] and p["outside_pass"] == [], p
        assert p["attributed"] == p["all"]
