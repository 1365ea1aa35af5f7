"""Benchmark of the job users run: ``json_to_avro_schema_spark.__main__.main``
(what ``scripts/submit_job.py`` submits), in-process, on ``local[nproc]``.

    python3 perfbench/run.py --workload flagship_cli --seed 1 --seconds 18 --trace 0

Run it from the root of a checkout. It is a closed loop: one client, one
CLI job at a time, each job's outputs checked against DuckDB before the
next starts. A run:

* makes the seeded input and its expected outputs, unless
  ``.perfbench/cache`` has them (time reported apart as ``gen_s``);
* ``--trace 0``: starts one fresh process (see worker.py) that runs one
  cold job, one untimed warm-up job, then warm jobs for ``--seconds`` (at
  least three); prints the end-to-end metrics;
* ``--trace 1``: its process alternates untraced and traced warm jobs,
  then runs single-layer probe jobs; prints the per-layer metrics.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``; the line before it carries the environment, the raw samples
and the span table. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import shlex
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import workloads

HERE = Path(__file__).resolve().parent
WORKER_TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s",
    "cold_job_s": "s",
    "warm_job_s": "s",
    "warm_rows_per_s": "rows/s",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "output_mb": "MB",
    "peak_exec_mem_mb": "MB",
    "ok_frac": "ratio",
}

_CHECKS = [f"runner.check_s.{c}" for c in workloads.CHECKS]
_SINKS = [f"sink.{o}_{k}" for o in ("violations", "verdicts", "table_verdicts", "state")
          for k in ("s", "mb", "files")]
PER_LAYER = {
    "session.start_s": "s",
    "compiler.compile_s": "s", "compiler.row_checks": "count",
    "sources.scan_s": "s", "sources.scan_tasks": "count", "sources.input_rows": "count",
    "runner.checks_s": "s", **{c: "s" for c in _CHECKS},
    "runner.violations_s": "s", "runner.violation_rows": "count",
    "runner.task_skew": "ratio", "runner.verdicts_s": "s", "runner.verdicts_shuffle_mb": "MB",
    "table_checks.s": "s", "table_checks.cpu_s": "s", "table_checks.shuffle_mb": "MB",
    "table_checks.spark_jobs": "count", "table_checks.collect_s": "s",
    "checkpoint.s": "s", "checkpoint.commit_s": "s",
    "checkpoint.partitions_resumed": "count", "checkpoint.partitions_processed": "count",
    "checkpoint.rows_scanned": "count",
    **{s: {"s": "s", "mb": "MB", "files": "count"}[s.rsplit("_", 1)[1]] for s in _SINKS},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.gc_s": "s", "spark.spill_mb": "MB",
    "trace.overhead_pct": "%", "trace.span_coverage_pct": "%",
}


class WorkerFailed(RuntimeError):
    pass


def _spawn(mode: str, cfg: dict, run_dir: Path, tag: str) -> dict:
    """Run one worker process to completion and return its result."""
    cfg = dict(cfg, mode=mode, result=str(run_dir / f"{tag}.json"))
    cfg_path = run_dir / f"{tag}.cfg.json"
    log_path = run_dir / f"{tag}.log"
    tmp = run_dir / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": cfg["root"],
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(tmp),
        # temp files inside the checkout; no JVM perf-data file in /tmp
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        ]),
    })
    with open(log_path, "wb") as log:
        cfg["spawn_epoch"] = time.time()
        cfg_path.write_text(json.dumps(cfg))
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(cfg_path)],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            _reap(proc)
    result = Path(cfg["result"])
    if rc != 0 or not result.exists():
        tail = log_path.read_text(errors="replace")[-4000:]
        raise WorkerFailed(f"{tag} worker ended with {rc}:\n{tail}")
    return json.loads(result.read_text())


def _reap(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _generate(wl, seed: int, docs: int, cache: Path, root: Path) -> float:
    """Make the workload's input and expected outputs unless cached;
    returns the seconds spent (0 on a cache hit)."""
    if (cache / "expected.json").exists():
        return 0.0
    t0 = time.perf_counter()
    shutil.rmtree(cache, ignore_errors=True)  # a half-written earlier attempt
    cache.mkdir(parents=True)
    workloads.generate(wl, seed, docs, cache)
    exp = workloads.expectations(wl, cache, root)
    (cache / "expected.json").write_text(json.dumps(exp))
    return time.perf_counter() - t0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(run: dict, exp: dict, wl) -> dict:
    jobs = run["jobs"]
    warm = [j for j in jobs if j["kind"] == "warm"]
    warm_s = _median([j["wall_s"] for j in warm])
    m = {
        "setup_s": run["setup_s"],
        "cold_job_s": _median([j["wall_s"] for j in jobs if j["kind"] == "cold"]),
        "warm_job_s": warm_s,
        "warm_rows_per_s": workloads.validated_rows(wl, exp) / warm_s,
        **{k: _median([j[k] for j in warm])
           for k in ("cpu_s", "shuffle_mb", "output_mb", "peak_exec_mem_mb")},
        "ok_frac": sum(j["ok"] for j in jobs) / len(jobs),
    }
    return {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer(run: dict) -> dict:
    traced = [j for j in run["jobs"] if j["kind"] == "traced"]
    untraced = [j for j in run["jobs"] if j["kind"] == "warm"]
    m = {k: _median([j["layers"][k] for j in traced]) for k in traced[0]["layers"]}
    m.update(run["probes"])
    m["session.start_s"] = run["setup_s"]
    base = _median([j["wall_s"] for j in untraced])
    m["trace.overhead_pct"] = 100.0 * (_median([j["wall_s"] for j in traced]) / base - 1.0)
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="how long one run times warm jobs")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None, help="table size (default: the workload's)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "json_to_avro_schema_spark" / "__main__.py").is_file() \
            or not (root / workloads.SPEC).is_file():
        print("perfbench: run from the root of a checkout of the engine "
              "(json_to_avro_schema_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))  # the engine's compiler names the snapshot's spec
    wl = workloads.WORKLOADS[args.workload]
    docs = args.docs or wl.docs
    base = root / ".perfbench"
    cache = base / "cache" / f"{wl.name}-seed{args.seed}-docs{docs}"
    base.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=base))
    cfg = {
        "root": str(root), "workload": wl.name, "seed": args.seed, "docs": docs,
        "cache": str(cache), "run_dir": str(run_dir), "cpus": os.cpu_count(),
    }
    gen_s = _generate(wl, args.seed, docs, cache, root)
    exp = json.loads((cache / "expected.json").read_text())
    try:
        mode = "trace" if args.trace else "measure"
        run = _spawn(mode, dict(cfg, window_s=args.seconds), run_dir, mode)
        metrics = per_layer(run) if args.trace else end_to_end(run, exp, wl)
    except WorkerFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    jobs = run["jobs"]
    failed = sum(not j["ok"] for j in jobs)
    info = {
        "workload": wl.name, "seed": args.seed, "docs": docs, "trace": args.trace,
        "cpus": os.cpu_count(), **run["versions"],
        "gen_s": gen_s,
        "setup_s": run["setup_s"],
        "jobs": [{k: (round(v, 4) if isinstance(v, float) else v) for k, v in j.items()
                  if k not in ("layers", "spans")} for j in jobs],
    }
    traced = [j for j in jobs if "spans" in j]
    if traced:
        info["spans"] = traced[-1]["spans"]
    print(json.dumps({"perfbench": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
