"""Self-tests of the benchmark at tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark-backed tests start their own JVM (about a minute in total).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import procs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert bench["paths"] == ["perfbench"]


def test_manifest_matches_fixture_defect_counts():
    from oblate_spark import fixtures

    exp = fixtures.expected_defect_counts(1000)
    got = workloads.expected_codes(range(0, 1000))
    assert got["image.decode_failed"] == exp["bad_bytes"]
    assert got["literal.invalid_value"] == got["image.fmt_mismatch"] == exp["bad_fmt"]
    assert got["unique.duplicate"] == 2 * exp["dup_image_id"] + exp["hot_phash"] + exp["dup_phash"]
    assert "unique.exists" not in got
    # a window shifted by whole blocks has the same per-code counts
    assert workloads.expected_codes(range(7000, 8000)) == got


def test_appended_batch_collides_with_history():
    # the hot-phash bucket spans blocks: every hot row of a later batch
    # already exists in the committed table
    got = workloads.expected_codes(range(1950, 2000), history=range(950, 1950))
    assert got["unique.exists"] == 50
    assert got["unique.duplicate"] == 50


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "images", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.fixture
def finished_run():
    """Run a benchmark in-process; always stop it and check that no
    process it started survives (orphans are re-parented to this process,
    so they would still be seen)."""
    procs.become_subreaper()
    runs = []

    def start(*args) -> run.Run:
        r = run.Run(*args)
        runs.append(r)
        r.execute()
        return r

    yield start
    for r in runs:
        r.stop()
        shutil.rmtree(r.work, ignore_errors=True)
    assert procs.descendants() == []


def test_corrupted_expected_hash_counts_as_failed(finished_run, tmp_path, monkeypatch):
    with open(workloads.EXPECTED_PATH) as f:
        doc = json.load(f)
    doc["queries"]["validate_lineitem"]["md5"] = "0" * 32
    bad = tmp_path / "expected.json"
    bad.write_text(json.dumps(doc))
    monkeypatch.setattr(workloads, "EXPECTED_PATH", str(bad))
    monkeypatch.setattr(workloads, "REGISTRY_QUERIES", ("validate_lineitem", "referential_lineitem_orders"))
    r = finished_run("registry", 3, 1.0, False)
    # every pass, warm-up or timed, runs both queries: validate_lineitem
    # fails each time, the other query never does
    assert r.attempted >= 2 * (run.WARM_PASSES + run.MIN_PASSES)
    assert r.failed == r.attempted // 2


def test_traced_run_reports_every_layer(finished_run, monkeypatch):
    monkeypatch.setattr(workloads.Images, "n_images", 1000)
    r = finished_run("images", 5, 1.0, True)
    assert r.failed == 0
    r.stop()
    assert procs.descendants() == []
    r.event_metrics()
    assert set(r.layer) == set(run.PER_LAYER)
    assert all(isinstance(v, (int, float)) for v in r.layer.values())
    assert r.layer["spark.jobs"] > 0 and r.layer["python.exec_s"] > 0
    assert r.layer["images.pass_kernel_s"] > 0 and r.layer["jvm.heap_peak_mb"] > 0
    # the warm-up passes, the minimum of timed passes, and the layer
    # probe's three checked validations
    assert r.layer["bench.timed_ops"] == len(r.pass_times) >= run.MIN_PASSES
    assert r.attempted >= run.WARM_PASSES + run.MIN_PASSES + 3
