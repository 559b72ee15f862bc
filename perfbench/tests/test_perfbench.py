"""The benchmark's own tests: seeded inputs are reproducible and seed-
dependent, the runner refuses to run without the program, and every
workload completes a correct smoke run at sf0.001.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, jx_templates  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _digests(d: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(d):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = hashlib.md5(fh.read()).hexdigest()
    return out


def _generate(d: str, seed: int) -> tuple[dict, str, int]:
    """Every seeded input: a corpus sample, the query stream and the
    extract checkpoint key."""
    src = inputs.data_dir(0.1)
    inputs.write_corpus_sample(src, d, seed * 1000, 2500)
    stream = jx_templates.request_stream(inputs.rng_for(seed, "jx_mix"), inputs.Stats.of(src), 2)
    queries = json.dumps([(r.query, r.sql) for r in stream], sort_keys=True, default=str)
    key = int(inputs.rng_for(seed, "extract_incremental").integers(0, 100))
    return _digests(d), queries, key


def test_same_seed_same_inputs(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 7)
    assert a == b


def test_different_seeds_different_inputs(tmp_path):
    a_files, a_queries, a_key = _generate(str(tmp_path / "a"), 7)
    b_files, b_queries, b_key = _generate(str(tmp_path / "b"), 8)
    assert a_files.keys() == b_files.keys() == {"documents.parquet"}
    assert a_files != b_files
    assert a_queries != b_queries
    assert a_key != b_key


def test_stream_blocks_hold_every_template_once_plus_repeats():
    stats = inputs.Stats.of(inputs.data_dir(0.001))
    stream = jx_templates.request_stream(np.random.default_rng(3), stats, 3)
    block = jx_templates.block_size()
    assert len(stream) == 3 * block
    for b in range(3):
        names = [r.template for r in stream[b * block:(b + 1) * block]]
        assert set(names) == {t.__name__ for t in jx_templates.TEMPLATES}
        fresh = {id(r) for r in stream[b * block:(b + 1) * block]}
        assert len(fresh) == len(jx_templates.TEMPLATES)  # the rest are repeats


def _run(cwd: str, *args: str, timeout: int = 900) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(str(tmp_path), "--workload", "jx_mix", "--seed", "1", "--seconds", "1", "--trace", "0", timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_every_workload(workload):
    trace = "1" if workload == "jx_mix" else "0"
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", trace, "--sf", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, p.stderr[-3000:]
    if trace == "1":
        assert set(result["metrics"]) == {name for name, _ in PER_LAYER}
        assert {m["name"] for m in _declared()["per_layer"]} == set(result["metrics"])
    else:
        assert set(result["metrics"]) == {m["name"] for m in _declared()["end_to_end"]}
    assert all(isinstance(v["value"], float) and v["unit"] for v in result["metrics"].values())
