"""Self-test of the benchmark: ``python3 -m pytest perfbench -q``.

The smoke runs drive the real library at tiny sizes (``--smoke``), so
they take about a minute each."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402


def _bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_generator_is_seeded():
    a, b = gen.Generator(7, 500), gen.Generator(7, 500)
    da, db = a.docs(50), b.docs(50)
    assert da.texts == db.texts and np.array_equal(da.vectors, db.vectors)
    assert gen.query_pool(a, 3) == gen.query_pool(b, 3)
    assert gen.request_sequence(a, 3, 40) == gen.request_sequence(b, 3, 40)
    assert gen.Generator(8, 500).docs(50).texts != da.texts


def test_bm25_reference_follows_deletes():
    ref = oracle.BM25Ref()
    ref.add([1, 2, 3], ["w1 w2", "w1 w1 w3", "w4"])
    rows, _ = ref.topk("w1")
    assert [i for i, _ in rows] == [2, 1]
    ref.remove([2])
    rows, _ = ref.topk("w1")
    assert [i for i, _ in rows] == [1] and len(ref) == 2


def test_refuses_without_the_program(tmp_path):
    shutil.copytree(
        HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = _run(tmp_path, "--workload", "serve-hybrid", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0 and p.stdout.strip() == ""


@pytest.mark.parametrize(
    "workload,trace", [("serve-hybrid", "0"), ("ingest-live", "0"), ("ingest-live", "1")]
)
def test_smoke_run_reports_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-2000:]
    section = "per_layer" if trace == "1" else "end_to_end"
    want = {m["name"]: m["unit"] for m in _bench()[section]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
