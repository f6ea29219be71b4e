"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q            # fast tests
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/test_perfbench.py -q

The smoke test runs both workloads at tiny scale through run.py, traced and
untraced, so every output check and every metric is exercised.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_parse_metric():
    from spans import parse_metric

    assert parse_metric("2.2 s") == 2.2
    assert parse_metric("692 ms") == pytest.approx(0.692)
    assert parse_metric("3.1 MiB") == pytest.approx(3.1 * 2**20)
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (0.1 s, 0.5 s, 0.9 s (stage 2.0: task 7))") == 1.5
    assert parse_metric("1,234") == 1234


def test_corpus_structure(tmp_path):
    """The generated corpus keeps the structure measured on the sf tables
    (README.md): 10–99 words before a " dup" suffix, 5 % near duplicates,
    20 round-robin sources; the seed fixes it."""
    import pyarrow.parquet as pq

    from inputs import write_corpus

    for d in ("a", "b"):
        write_corpus(str(tmp_path / d), 400, seed=3)
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pandas()
    words = docs.text.str.replace(" dup", "").str.split().str.len()
    assert words.between(10, 99).all()
    assert docs.text.str.endswith(" dup").sum() == 20
    assert (docs.n_chars == docs.text.str.len()).all()
    assert set(docs.source) == {f"src{i}" for i in range(20)}
    assert docs.equals(pq.read_table(tmp_path / "b" / "documents.parquet").to_pandas())


def test_benchmark_json_matches_code():
    from engine import WORKLOADS

    spec = _bench_json()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "spatial", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and not proc.stdout.strip()


def _run(trace: int) -> list[dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    return [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"), reason="set PERFBENCH_SMOKE=1 (starts two JVMs per run)")
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_metric_and_check(trace):
    spec = _bench_json()
    names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    results = _run(trace)
    assert len(results) == len(spec["workloads"])
    for res in results:
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        assert set(res["metrics"]) == names
