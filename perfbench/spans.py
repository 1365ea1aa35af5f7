"""Spans around the calls each engine layer makes, recorded from the
benchmark's side: no engine code changes.

While a :class:`Tracer` is installed it replaces, for the length of one CLI
job, the names ``json_to_avro_schema_spark.__main__`` imports (and the
module attributes its function-local imports read) with wrappers that
record a span per call, plus pyspark's ``DataFrameWriter.parquet`` and
``DataFrame.collect``. Afterwards every Spark stage the job ran is assigned
to the innermost span that was open when the stage was submitted.

Spans are recorded from Python's main thread only; table checks submit
some Spark jobs from a thread pool, and those stages land in the
``table_checks`` span by time.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from sparkstats import MB, Stage, ran


@dataclass
class Span:
    name: str
    start: float                    # epoch seconds (stage times are epoch ms)
    parent: Optional[int]           # index into Tracer.spans
    depth: int
    end: float = 0.0
    stages: List[Stage] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


ROOT = "job"


def _open_at(sp: Span, ms: int) -> bool:
    # Spark stamps whole milliseconds
    return int(sp.start * 1000) <= ms <= int(sp.end * 1000) + 1


class Tracer:
    def __init__(self):
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self._patches: List[tuple] = []
        self.returns: Dict[str, object] = {}

    # ------------------------------------------------------------ patching

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        import json_to_avro_schema_spark.__main__ as cli
        import json_to_avro_schema_spark.checkpoint as checkpoint
        import json_to_avro_schema_spark.runner as runner
        import json_to_avro_schema_spark.table_checks as table_checks

        targets = [
            (cli, "compile_document", "compiler"),
            (cli, "get_spark", "session"),
            (cli, "read_table", "sources"),
            (cli, "run_validation", "runner.validation"),
            (checkpoint, "run_validation", "runner.validation"),
            (runner, "verdicts_from_violations", "runner.verdicts"),
            (runner, "partition_verdicts", "runner.verdicts"),
            (table_checks, "run_table_checks", "table_checks"),
            (cli, "run_with_checkpoint", "checkpoint"),
            (checkpoint.CheckpointStore, "mark_completed", "checkpoint.commit"),
            (DataFrameWriter, "parquet", self._sink_name),
            (DataFrame, "collect", self._collect_name),
        ]
        for owner, attr, name in targets:
            orig = owner.__dict__[attr]
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    @staticmethod
    def _sink_name(args, kwargs) -> str:
        path = kwargs.get("path", args[1] if len(args) > 1 else "")
        return "sink." + os.path.basename(str(path).rstrip("/"))

    def _collect_name(self, args, kwargs) -> Optional[str]:
        # only the CLI's own collects; one inside a layer belongs to it
        if len(self._stack) != 1:
            return None
        if args[0] is self.returns.get("table_checks"):
            return "table_checks.collect"
        return "summary.collect"

    def _wrap(self, fn: Callable, name) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.current_thread() is not threading.main_thread() or not tracer._stack:
                return fn(*args, **kwargs)
            span_name = name(args, kwargs) if callable(name) else name
            if span_name is None:
                return fn(*args, **kwargs)
            idx = tracer._open(span_name)
            try:
                out = fn(*args, **kwargs)
                tracer.returns[span_name] = out
                return out
            finally:
                tracer._close(idx)

        return traced

    # --------------------------------------------------------------- spans

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        depth = self.spans[parent].depth + 1 if parent is not None else 0
        self.spans.append(Span(name, time.time(), parent, depth))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()

    def run_job(self, fn: Callable[[], object]):
        """Run one CLI job under a root span with the wrappers installed."""
        self.spans.clear()
        self.returns.clear()
        self.install()
        idx = self._open(ROOT)
        try:
            return fn()
        finally:
            self._close(idx)
            self.uninstall()

    def assign(self, stages: List[Stage]) -> None:
        """Give each stage to the innermost span open at its submission."""
        for s in ran(stages):
            if s.submitted_ms is None:
                continue
            best = None
            for sp in self.spans:
                if _open_at(sp, s.submitted_ms) and (best is None or sp.depth > best.depth):
                    best = sp
            if best is not None:
                best.stages.append(s)

    # ----------------------------------------------------------- read-outs

    def wall(self, name: str) -> float:
        """Wall seconds of the spans with this name."""
        return sum(sp.wall_s for sp in self.spans if sp.name == name)

    def stages_under(self, name: str) -> List[Stage]:
        """Stages of the spans with this name and of every span below them."""
        idx = {i for i, sp in enumerate(self.spans) if sp.name == name}
        while True:
            more = {i for i, sp in enumerate(self.spans) if sp.parent in idx} - idx
            if not more:
                return [st for i in sorted(idx) for st in self.spans[i].stages]
            idx |= more

    def contains(self, name: str, ms: Optional[int]) -> bool:
        """Whether a span with this name was open at epoch-millisecond ``ms``."""
        return ms is not None and any(
            sp.name == name and _open_at(sp, ms) for sp in self.spans)

    def coverage(self, stages: List[Stage]) -> float:
        """Share of the job's executor run time assigned below the root."""
        total = sum(s.run_ms for s in ran(stages))
        below = sum(st.run_ms for sp in self.spans if sp.name != ROOT for st in sp.stages)
        return below / total if total else 1.0

    def table(self) -> List[dict]:
        """Per span name: wall, self wall, executor run and CPU seconds."""
        rows: Dict[str, dict] = {}
        for i, sp in enumerate(self.spans):
            child = sum(c.wall_s for c in self.spans if c.parent == i)
            r = rows.setdefault(sp.name, {"span": sp.name, "calls": 0, "wall_s": 0.0,
                                           "self_s": 0.0, "exec_run_s": 0.0,
                                           "exec_cpu_s": 0.0, "stages": 0,
                                           "shuffle_mb": 0.0})
            r["calls"] += 1
            r["wall_s"] += sp.wall_s
            r["self_s"] += sp.wall_s - child
            r["exec_run_s"] += sum(s.run_ms for s in sp.stages) / 1e3
            r["exec_cpu_s"] += sum(s.cpu_ns for s in sp.stages) / 1e9
            r["stages"] += len(sp.stages)
            r["shuffle_mb"] += sum(s.shuffle_write_bytes for s in sp.stages) / MB
        return [{k: round(v, 4) if isinstance(v, float) else v for k, v in r.items()}
                for r in rows.values()]
