"""Tests of the benchmark itself: seeded inputs, metric names, smoke runs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _sha1(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()


def _corpus(tmp_path, seed: int, tag: str) -> tuple[str, dict]:
    path = str(tmp_path / f"{tag}.txt")
    stats = gen.write_corpus(path, seed, 1 << 20)
    return _sha1(path), stats | gen.expected_wordcount(path)


def test_corpus_repeats_for_a_seed_and_differs_across_seeds(tmp_path):
    a, ea = _corpus(tmp_path, 7, "a")
    b, eb = _corpus(tmp_path, 7, "b")
    c, ec = _corpus(tmp_path, 8, "c")
    assert a == b and ea == eb
    assert a != c and ea["sha1"] != ec["sha1"]
    assert ea["bytes"] >= 1 << 20 and ea["lines"] > 1000


def test_tables_repeat_for_a_seed_and_differ_across_seeds(tmp_path):
    digests = []
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / tag
        d.mkdir()
        gen.write_tables(str(d), seed, 100, 1000, 50)
        digests.append([_sha1(str(d / f"{t}.parquet"))
                        for t in ("documents", "events", "embeddings")])
    assert digests[0] == digests[1]
    assert all(x != y for x, y in zip(digests[0], digests[2]))


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wordcount", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=170)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


@pytest.mark.parametrize("workload,trace", [
    ("wordcount", 0), ("wordcount", 1), ("iterative", 0), ("media", 1)])
def test_tiny_smoke_run_has_no_failed_operations(monkeypatch, capsys, workload, trace):
    monkeypatch.setattr(run, "CORPUS_BYTES", 1 << 20)
    # sessions run in this process, so the tiny sizes patched here apply to them
    monkeypatch.setattr(run, "_spawn_session", lambda args, seconds, setup_only=False: run.session(
        argparse.Namespace(**{**vars(args), "seconds": seconds, "setup_only": setup_only})))
    monkeypatch.setitem(run.WORKLOADS, "iterative",
                        lambda: run.Catalog(run.ITERATIVE_ROWS, 200, 2000, 200))
    monkeypatch.setitem(run.WORKLOADS, "media", lambda: run.Catalog(run.MEDIA_ROWS, 100, 10, 10))
    assert run.main(["--workload", workload, "--seed", "3", "--seconds", "0",
                     "--trace", str(trace)]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3
    names = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(names)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
