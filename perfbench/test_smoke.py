"""Smoke test of the benchmark's own code, at the workloads' own small sizes.

Run from the repository root (a few minutes; it starts Spark twice):

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once, traced, at its own sizes: a 4,000-page corpus
on er_batch, a 2,400-page corpus and a cycle of two folds on er_fold.
The test checks that every end-to-end metric and every
per-layer metric named in ``BENCHMARK.json`` is reported, that no
end-to-end metric reads 0, and that every layer shows rows out on the
workload where it does most of its work.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

# layers expected to show rows out, by the workload where they do most work
BUSY_LAYERS = {
    "er_batch": [
        "blocking.with_extract_sketch_keys",
        "blocking.latest_crawl_wins",
        "blocking.exact_match_edges",
        "blocking.candidate_pairs",
        "blocking.route_unmatched",
        "scoring.score_pairs",
        "scoring.fuzzy_match_edges",
        "scoring.union_edges",
        "clustering.connected_components",
        "clustering.cluster_assignments",
        "consolidate.consolidate_clusters",
        "consolidate.match_statistics",
    ],
    "er_fold": [
        "extract.with_extracted_normalized",
        "blocking.with_blocking_keys",
        "tables.TableIO.commit",
    ],
}


def _run(cwd: str, workload: str, *extra: str) -> subprocess.CompletedProcess:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "1",
           "--seconds", "1", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("workload", ["er_batch", "er_fold"])
def test_traced_run_reports_every_metric(workload):
    assert workload in {w["name"] for w in BENCH["workloads"]}
    p = _run(ROOT, workload, "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    *_, report_line, result_line = p.stdout.strip().splitlines()
    report = json.loads(report_line)["report"]
    result = json.loads(result_line)

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert report["check"]["n_evaluated"] > 0

    e2e = {m["name"] for m in BENCH["end_to_end"]}
    assert set(report["e2e"]) == e2e
    assert all(v > 0 for v in report["e2e"].values()), report["e2e"]

    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in BENCH["per_layer"]}
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert all(metrics[k]["unit"] == units[k] for k in metrics)
    for layer in BUSY_LAYERS[workload]:
        assert metrics[f"{layer}.rows_out"]["value"] > 0, layer
        assert metrics[f"{layer}.wall_s"]["value"] > 0, layer
    assert metrics["trace.untraced_op_s"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, the run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns(".work", "__pycache__"),
        )
    p = _run(str(tmp_path), "er_batch")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
    assert not (tmp_path / "perfbench" / ".work").exists()
