"""Self-test of the benchmark at sf0.001 sizes (``--scale tiny``).

Each case runs ``run.py`` in its own process, as a benchmark run does; a
Spark run takes about a minute, so this file takes a few minutes.

    python3 -m pytest perfbench/tests -q
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
CHECKOUT = HERE.parent
BENCH = json.loads((CHECKOUT / "BENCHMARK.json").read_text())


def run(*args, cwd=CHECKOUT, script=HERE / "run.py"):
    out = subprocess.run(
        [sys.executable, str(script), "--seconds", "1", "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600, check=False,
    )
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    info = json.loads(lines[-2])["info"] if result else None
    return out.returncode, result, info


def units(kind):
    return {m["name"]: m["unit"] for m in BENCH[kind]}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_end_to_end_metrics_are_emitted(workload):
    code, res, info = run("--workload", workload, "--seed", "7", "--trace", "0")
    assert code == 0, info
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units("end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
    assert info["library"].startswith(str(CHECKOUT))


def test_per_layer_metrics_attribute_every_job():
    code, res, _ = run("--workload", "llm_corpus", "--seed", "7", "--trace", "1")
    assert code == 0 and res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units("per_layer")
    # the index build submits jobs from its own 2-worker pool; they
    # must still land on its span
    assert m["similarity.write_ivfpq_index.jobs"] > 0
    assert m["dedup.minhash_lsh_pairs.jobs"] > 0
    assert m["text_analysis.document_profile.exec_run_s"] > 0
    assert m["spark.unattributed_jobs"] == 0
    assert m["io.to_table.append.jobs"] == 0  # kt_grow calls, not run here


def test_wrong_result_fails_and_a_raising_call_is_counted():
    code, res, info = run(
        "--workload", "kt_grow", "--seed", "7", "--trace", "1", "--inject", "wrong-count,raise"
    )
    assert code == 1
    assert res["correct"] is False
    assert res["failed"] == 1 and res["attempted"] > 1
    # the run went on after both: every per-layer metric is still there
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units("per_layer")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["io.to_table.append.jobs"] > 0
    assert m["io.read_table.bloom.jobs"] > 0
    assert m["fs.read_text.calls"] > 0 and m["io.n_segments"] > 0
    assert any("model says" in e for e in info["errors"])
    assert any("fault injected" in e for e in info["errors"])


def test_refuses_a_checkout_without_the_library(tmp_path):
    shutil.copy(CHECKOUT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _ = run(
        "--workload", "kt_grow", "--seed", "1", "--trace", "0",
        cwd=tmp_path, script=tmp_path / HERE.name / "run.py",
    )
    assert code != 0 and res is None
