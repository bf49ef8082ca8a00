"""The benchmark's own tests: ``python3 -m pytest perfbench -q`` from the root.

Tiny runs of every workload (each in its own process, as the benchmark
is run), the result contract against BENCHMARK.json, the correctness
gate on a deliberately damaged output, and the refusal to run without
the program.
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
sys.path[:0] = [os.path.join(ROOT, "src"), HERE]

import gate  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


def _assert_metrics(p: subprocess.CompletedProcess, result: dict, specs: list) -> None:
    assert set(result["metrics"]) == {s["name"] for s in specs}
    for s in specs:
        got = result["metrics"][s["name"]]
        assert got["unit"] == s["unit"], s["name"]
        assert isinstance(got["value"], (int, float)), s["name"]
        # and the human-readable line names it with its unit
        assert any(
            line.split()[:1] == [s["name"]] and line.split()[-1] == s["unit"]
            for line in p.stdout.splitlines()
        ), s["name"]


def test_spec_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        k: v[0] for k, v in run.LAYERS.items()
    }


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_tiny_run_prints_every_end_to_end_metric(workload):
    p = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", "0", "--size", "tiny")
    result = _result(p)
    _assert_metrics(p, result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_tiny_traced_run_prints_every_layer_metric():
    p = _bench("--workload", "job_mixed", "--seed", "3", "--seconds", "1",
               "--trace", "1", "--size", "tiny")
    result = _result(p)
    _assert_metrics(p, result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # few heavy docs in the family mix: repartition_packed takes its LPT branch
    assert m["pipeline.packed_branch"] == 1
    assert m["lineage.commits"] >= 1 and m["postprocess.calls"] >= 1
    assert "kernel stages, Spark-free" in p.stdout


def _doc_outputs(n: int = 40) -> tuple[list[str], dict]:
    from extraction.corpus import gen_doc

    rows = [gen_doc(i, 3, 50) for i in range(n)]
    return [d for d, _ in rows], {d: gate.expected_spans(s) for d, s in rows}


def test_gate_passes_the_oracle_output():
    ids, expected = _doc_outputs()
    assert gate.failed_docs(ids, ids, dict(expected), expected) == set()


def test_gate_trips_on_one_removed_span():
    ids, expected = _doc_outputs()
    victim = next(d for d, spans in expected.items() if len(spans) > 1)
    damaged = dict(expected)
    damaged[victim] = expected[victim][:-1]
    assert gate.failed_docs(ids, ids, damaged, expected) == {victim}


def test_gate_trips_on_missing_duplicate_and_foreign_docs():
    ids, expected = _doc_outputs()
    out = ids[1:] + [ids[2], "doc-not-an-input"]
    assert gate.failed_docs(ids, out, expected, expected) == {
        ids[0], ids[2], "doc-not-an-input"
    }


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "extract_text", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_reaps_orphaned_grandchildren():
    # a grandchild whose parent exits (as the JVM's Python workers do when
    # the JVM ends) must not outlive the run
    code = (
        "import os, subprocess, run\n"
        "run.adopt_orphans()\n"
        "pid = int(subprocess.run(['sh', '-c', 'sleep 300 >/dev/null 2>&1 & echo $!'],\n"
        "                         capture_output=True, text=True).stdout)\n"
        "run.reap_children(grace_s=1)\n"
        "print(pid, os.path.exists(f'/proc/{pid}'))\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=HERE,
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    assert p.stdout.split()[1] == "False"
