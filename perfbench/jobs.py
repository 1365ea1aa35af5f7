"""What a benchmark process does once its session is up: the CLI jobs of
the ``measure`` and ``trace`` modes. worker.py imports this module only
after it has timed set-up, so ``setup_s`` holds none of the benchmark's
own imports (DuckDB, NumPy, pyarrow).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

import workloads
from sparkstats import MB, StatusStore, job_counters, ran
from spans import Tracer


# After the cold job the JVM keeps getting faster for several jobs (JIT,
# heap sizing). The first job after the cold one is the least settled, so
# it runs as an untimed warm-up; the median of the warm jobs after it is
# reported.
MIN_WARM = 3
PROBE_REPS = 2


class Runner:
    """Runs and checks CLI jobs in this process."""

    def __init__(self, spark, cfg: dict):
        from json_to_avro_schema_spark.__main__ import main as cli_main

        self.spark = spark
        self.cfg = cfg
        self.cli_main = cli_main
        self.wl = workloads.WORKLOADS[cfg["workload"]]
        self.cache = Path(cfg["cache"])
        self.root = Path(cfg["root"])
        self.dirs = workloads.JobDirs(Path(cfg["run_dir"]) / "job")
        self.exp = json.loads((self.cache / "expected.json").read_text())
        self.argv = workloads.cli_argv(self.wl, self.root, self.cache, self.dirs, cfg["cpus"])
        self.store = StatusStore(spark)

    def job(self, kind: str, tracer: Tracer = None) -> dict:
        """One CLI job, its outputs checked and its counters read."""
        workloads.prepare_job(self.wl, self.cache, self.dirs)
        tops = {"out": self.dirs.out, "ckpt": self.dirs.ckpt}
        before = {k: workloads.data_files(d) for k, d in tops.items()}
        mark = self.store.mark()
        buf = io.StringIO()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(buf):
                if tracer is None:
                    rc = self.cli_main(self.argv)
                else:
                    rc = tracer.run_job(lambda: self.cli_main(self.argv))
        except Exception:
            traceback.print_exc()
            rc = "raised"
        wall = time.perf_counter() - t0
        stages = self.store.stages_since(mark)
        new = {k: workloads.written(before[k], workloads.data_files(d)) for k, d in tops.items()}
        problem = workloads.check_outputs(self.wl, self.exp, rc, buf.getvalue(), self.dirs)
        if problem:
            print(f"[perfbench] {kind} job failed its output check: {problem}", file=sys.stderr)
        rec = {
            "kind": kind,
            "wall_s": wall,
            "ok": problem is None,
            "problem": problem,
            "output_mb": sum(sum(f.values()) for f in new.values()) / MB,
            **job_counters(stages),
        }
        if tracer is not None:
            tracer.assign(stages)
            rec["layers"] = _layer_metrics(self, tracer, stages, self.store.jobs_since(mark), new)
            rec["spans"] = tracer.table()
        return rec

    def probes(self) -> dict:
        """Single-layer probe jobs over the whole input, each into Spark's
        ``noop`` sink: decode only, the row checks together and alone, the
        violation rows, and the verdicts derived from written violations."""
        from pyspark.sql import functions as F

        from json_to_avro_schema_spark.compiler.plan import compile_document
        from json_to_avro_schema_spark.runner import run_validation, verdicts_from_violations
        from json_to_avro_schema_spark.sources.iceberg import read_table

        spark = self.spark
        df = read_table(spark, str(workloads.table_path(self.cache)))
        plan = compile_document(json.loads((self.root / workloads.SPEC).read_text()))
        plan = plan.bind_schema(df.schema)
        res = run_validation(spark, df, plan)
        written = spark.read.schema(res.violations.schema).parquet(str(self.dirs.out / "violations"))

        def check(c):
            return F.coalesce(c.predicate(), F.lit(False))

        frames = {
            "sources.scan_s": df,
            "runner.checks_s": df.select(*[check(c) for c in plan.row_checks]),
            **{f"runner.check_s.{c.name}": df.select(check(c)) for c in plan.row_checks},
            "runner.violations_s": res.violations,
            "runner.verdicts_s": verdicts_from_violations(df, written, plan),
        }
        times = {k: [] for k in frames}
        for _ in range(PROBE_REPS):
            for name, frame in frames.items():
                t0 = time.perf_counter()
                frame.write.format("noop").mode("overwrite").save()
                times[name].append(time.perf_counter() - t0)
        return {k: statistics.median(v) for k, v in times.items()}


def _sink_outputs(new: dict) -> dict:
    """sink name -> (MB, files) of the data files a job wrote."""
    out = {}
    for files in new.values():
        for rel, size in files.items():
            name = rel.split(os.sep)[0]
            mb, n = out.get(name, (0.0, 0))
            out[name] = (mb + size / MB, n + 1)
    return out


def _layer_metrics(r: Runner, tr: Tracer, stages, jobs, new) -> dict:
    """Per-layer metrics of one traced job (probe jobs add the rest)."""
    m = {}
    plan = tr.returns.get("compiler")
    m["compiler.compile_s"] = tr.wall("compiler")
    m["compiler.row_checks"] = len(plan.row_checks) if plan is not None else 0

    viol = tr.stages_under("sink.violations")
    scans = [s for s in viol if s.input_records > 0]
    m["sources.scan_tasks"] = sum(s.num_tasks for s in scans)
    m["sources.input_rows"] = sum(s.input_records for s in scans)
    m["runner.violation_rows"] = sum(s.output_records for s in viol)
    heavy = max(viol, key=lambda s: s.run_ms, default=None)
    tasks = r.store.task_run_ms(heavy) if heavy is not None else []
    m["runner.task_skew"] = max(tasks) / max(statistics.median(tasks), 1) if tasks else 0.0
    m["runner.verdicts_shuffle_mb"] = sum(
        s.shuffle_write_bytes for s in tr.stages_under("sink.verdicts")) / MB

    tc = tr.stages_under("table_checks")
    m["table_checks.s"] = tr.wall("table_checks")
    m["table_checks.cpu_s"] = sum(s.cpu_ns for s in tc) / 1e9
    m["table_checks.shuffle_mb"] = sum(s.shuffle_write_bytes for s in tc) / MB
    m["table_checks.spark_jobs"] = sum(tr.contains("table_checks", j.submitted_ms) for j in jobs)
    m["table_checks.collect_s"] = tr.wall("table_checks.collect")

    ck = tr.returns.get("checkpoint")
    m["checkpoint.s"] = tr.wall("checkpoint")
    m["checkpoint.commit_s"] = tr.wall("checkpoint.commit")
    m["checkpoint.partitions_resumed"] = ck.n_partitions_resumed if ck is not None else 0
    m["checkpoint.partitions_processed"] = ck.n_partitions_processed if ck is not None else 0
    m["checkpoint.rows_scanned"] = sum(s.input_records for s in tr.stages_under("checkpoint"))

    sinks = _sink_outputs(new)
    for out in ("violations", "verdicts", "table_verdicts", "state"):
        mb, files = sinks.get(out, (0.0, 0))
        m[f"sink.{out}_s"] = tr.wall(f"sink.{out}")
        m[f"sink.{out}_mb"] = mb
        m[f"sink.{out}_files"] = files

    st = ran(stages)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(st)
    m["spark.tasks"] = sum(s.num_tasks for s in st)
    m["spark.gc_s"] = sum(s.gc_ms for s in st) / 1e3
    m["spark.spill_mb"] = sum(s.disk_spill_bytes for s in st) / MB
    m["trace.span_coverage_pct"] = 100.0 * tr.coverage(stages)
    return m


# ------------------------------------------------------------------- modes


def measure(spark, cfg: dict) -> dict:
    r = Runner(spark, cfg)
    jobs = [r.job("cold"), r.job("warmup")]
    t0 = time.perf_counter()
    while len(jobs) < 2 + MIN_WARM or time.perf_counter() - t0 < cfg["window_s"]:
        jobs.append(r.job("warm"))
    return {"jobs": jobs}


def trace(spark, cfg: dict) -> dict:
    """Untraced and traced warm jobs in ABBA blocks after one warm-up job,
    so the JVM's speed-up over successive jobs favours neither side."""
    r = Runner(spark, cfg)
    jobs = [r.job("cold"), r.job("warmup")]
    t0 = time.perf_counter()
    while True:
        for traced in (False, True, True, False):
            jobs.append(r.job("traced", Tracer()) if traced else r.job("warm"))
        if time.perf_counter() - t0 >= cfg["window_s"]:
            break
    return {"jobs": jobs, "probes": r.probes()}


MODES = {"measure": measure, "trace": trace}
