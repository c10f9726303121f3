"""Tests of the benchmark itself: a tiny run of every workload passes the
correctness gate, a corrupted output fails it, inputs are a function of
the seed, and the comparison step refuses results from different boots.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]
os.environ["PYTHONPATH"] = os.pathsep.join([REPO, HERE])

import compare  # noqa: E402
import inputs  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = 0.02  # 160 short pages, 40 long pages, 60 crawl pages
SEED = 7


@pytest.fixture(scope="module")
def spark():
    from web_content_extraction_benchmark_spark.session import get_spark

    session = get_spark("perfbench-test", master="local[2]",
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield session
    session.stop()


@pytest.fixture(scope="module", params=run.WORKLOADS)
def tiny_run(request, spark, tmp_path_factory):
    """One iteration of the workload over a tiny seeded input, with the
    reference built from the same input."""
    workload = request.param
    tmp = tmp_path_factory.mktemp(workload)
    meta = inputs.prepare(workload, SEED, TINY, cache_root=str(tmp / "cache"))
    ref = reference.reference(workload, meta)
    wl = workloads.build(workload, spark, meta, 2, str(tmp / "out"))
    out = wl.iteration()
    if workload == "corpus-dedup":
        out["written_ids"] = wl.written_ids()
    return workload, out, ref


def test_tiny_run_passes_gate(tiny_run):
    workload, out, ref = tiny_run
    assert reference.check(workload, out, ref) == []


def test_hostile_rows_are_counted(tiny_run):
    workload, out, ref = tiny_run
    # every input carries a 20 000-deep page; main_content raises on it
    share = run.error_share(workload, out, ref)
    assert share > 0
    assert share == pytest.approx(
        reference.error_rows(workload, ref) / ref["expected_rows"])


def _corrupt(workload: str, out: dict) -> dict:
    bad = json.loads(json.dumps(out))
    if workload == "extract-short":
        bad["models"]["main_content"]["hash"] += 1
    elif workload == "eval-long":
        bad["aggregate"][0][2] += 1e-6
    else:
        bad["exact_ids"] = bad["exact_ids"][1:]
    return bad


def test_corrupted_output_fails_gate(tiny_run):
    workload, out, ref = tiny_run
    assert reference.check(workload, _corrupt(workload, out), ref)


def test_dropped_pair_below_threshold_fails_gate(tiny_run):
    workload, out, ref = tiny_run
    if workload != "corpus-dedup":
        pytest.skip("near-duplicate pairs exist only in corpus-dedup")
    a, b = out["exact_ids"][:2]
    bad = dict(out, pairs=out["pairs"] + [[a, b, 1.0]])
    assert reference.check(workload, bad, ref)


def test_eval_long_score_join_is_shuffled(spark, tmp_path):
    """eval-long runs the answers-truth join through an exchange, as at
    the paper's corpus size, not as a broadcast."""
    meta = inputs.prepare("eval-long", SEED, TINY, cache_root=str(tmp_path))
    wl = workloads.build("eval-long", spark, meta, 2, str(tmp_path / "out"))
    plan = wl._scores()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_inputs_are_a_function_of_the_seed(workload, tmp_path):
    first = inputs.prepare(workload, 3, TINY, cache_root=str(tmp_path / "a"))
    again = inputs.prepare(workload, 3, TINY, cache_root=str(tmp_path / "b"))
    other = inputs.prepare(workload, 4, TINY, cache_root=str(tmp_path / "c"))
    assert first["digest"] == again["digest"]
    assert first["digest"] != other["digest"]
    assert first["hostile"]["deep"] >= 1


def test_metric_lists_match_benchmark_json():
    import layers

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "docs_per_s", "error_share"}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_compare_refuses_results_from_different_boots():
    def result(boot):
        return {"record": {"workload": "eval-long", "boot_id": boot},
                "metrics": {"docs_per_s": {"value": 1.0, "unit": "1/s"}}}

    assert compare.compare([result("a")], [result("a")])
    with pytest.raises(ValueError, match="boot_id"):
        compare.compare([result("a")], [result("b")])


def test_run_fails_without_the_package(tmp_path):
    """Copied alone (with BENCHMARK.json), the benchmark exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", "out", "results",
                                                  "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract-short",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
