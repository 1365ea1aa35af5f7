"""Smoke test of the benchmark harness at tiny size (10k documents).

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Run from the root of the checkout. Each benchmark case starts a JVM and
runs at least five CLI jobs, so the file takes a few minutes. It checks
that the benchmark's generator gives the engine generator's rows, that
every metric BENCHMARK.json names prints with its unit on every workload
in both modes, that a job whose outputs disagree with the expected ones
counts as failed, and that the benchmark refuses to run without the
engine next to it.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path.cwd()
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--seed", "1", "--seconds", "1", "--docs", "10000"]


def _run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"), *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=300)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def _result(*args):
    rc, lines, err = _run(*args)
    assert rc == 0, err[-3000:]
    return json.loads(lines[-1])


def _rows(rows):
    """Order-free form of generated rows (duplicate doc_ids exist)."""
    def key(r):
        spans = r["spans"]
        spans = None if spans is None else [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        return (r["doc_id"], spans is None, spans or [], r["part_key"])
    return sorted(key(r) for r in rows)


@pytest.mark.parametrize("seed,violation_pct", [(1, 5), (7, 50)])
def test_docgen_matches_the_engine_generator(spark, seed, violation_pct):
    import docgen
    from json_to_avro_schema_spark.sources.synthetic import generate_documents_iv

    engine = generate_documents_iv(spark, 2000, seed=seed, violation_pct=violation_pct)
    ours = docgen.generate(2000, seed=seed, violation_pct=violation_pct)
    assert _rows(r.asDict(recursive=True) for r in engine.collect()) == _rows(ours.to_pylist())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import os

    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("spark-local"))
    from json_to_avro_schema_spark.session import get_spark

    session = get_spark(app="perfbench-smoke", cpus=2)
    yield session
    session.stop()


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_its_unit(workload, trace):
    res = _result("--workload", workload, "--trace", str(trace), *TINY)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace:
        assert res["metrics"]["trace.span_coverage_pct"]["value"] >= 95.0
    else:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_mismatched_output_counts_as_failed_job(tmp_path):
    """With one partition's expected violation count off by one, every
    job's sinks disagree with the expectations."""
    shutil.copytree(ROOT / "json_to_avro_schema_spark", tmp_path / "json_to_avro_schema_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, _, err = _run("--workload", "flagship_cli", *TINY, cwd=tmp_path)  # fills the cache
    assert rc == 0, err[-3000:]
    (expected,) = (tmp_path / ".perfbench" / "cache").glob("flagship_cli-*/expected.json")
    exp = json.loads(expected.read_text())
    part = next(iter(exp["parts"].values()))
    part["viol_rows"] += 1
    expected.write_text(json.dumps(exp))
    rc, lines, err = _run("--workload", "flagship_cli", *TINY, cwd=tmp_path)
    assert rc == 0, err[-3000:]
    res = json.loads(lines[-1])
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 3
    assert res["metrics"]["ok_frac"]["value"] == 0.0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines, _ = _run("--workload", "flagship_cli", *TINY, cwd=tmp_path)
    assert rc != 0
    assert not any(line.startswith("{") for line in lines)
