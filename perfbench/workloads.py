"""The benchmark's workloads: how each one's input is made, how one CLI job
is invoked on it, and how its outputs are checked.

Inputs are the rows of the engine's seeded generator
(``sources.synthetic.generate_documents_iv``, reproduced without Spark in
``docgen.py``). The expected outputs come from DuckDB over the generated
parquet, with the spec's four row checks written out again in SQL, so the
check does not trust the engine it checks.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Dict, List, Optional, Tuple

import duckdb

import docgen

SPEC = "json_to_avro_schema_spark/plans/documents_iv.json"
RUN_ID = "bench"
CHECKS = ("doc_id__required", "spans__required", "doc_id__conforms", "spans__conforms")


@dataclass(frozen=True)
class Workload:
    name: str
    violation_pct: int
    docs: int               # default table size; --docs overrides it
    checkpoint: bool        # run with --checkpoint/--run-id over a half-done snapshot


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in (
        # why each workload exists: perfbench/README.md and BENCHMARK.json
        Workload("flagship_cli", 5, 200_000, False),
        Workload("checkpoint_resume", 50, 100_000, True),
    )
}


@dataclass(frozen=True)
class JobDirs:
    root: Path

    @property
    def out(self) -> Path:
        return self.root / "out"

    @property
    def ckpt(self) -> Path:
        return self.root / "ckpt"


def table_path(cache: Path) -> Path:
    return cache / "table"


def snapshot_dirs(cache: Path) -> JobDirs:
    return JobDirs(cache / "snapshot")


def cli_argv(wl: Workload, root: Path, cache: Path, dirs: JobDirs, cpus: int) -> List[str]:
    argv = [str(root / SPEC), "--table", str(table_path(cache)),
            "--out", str(dirs.out), "--cpus", str(cpus)]
    if wl.checkpoint:
        argv += ["--checkpoint", str(dirs.ckpt), "--run-id", RUN_ID]
    return argv


# ---------------------------------------------------------------- generation


def completed_keys(part_keys: List[str]) -> List[str]:
    """The half of the partitions the snapshot has already completed."""
    return sorted(part_keys)[::2]


def generate(wl: Workload, seed: int, docs: int, cache: Path) -> None:
    """Write the workload's input table under ``cache``."""
    table = docgen.generate(docs, seed=seed, violation_pct=wl.violation_pct)
    docgen.write(table, table_path(cache), partitioned=wl.checkpoint)


def prepare_job(wl: Workload, cache: Path, dirs: JobDirs) -> None:
    """Untimed, before every job: empty output dirs, or the snapshot."""
    shutil.rmtree(dirs.root, ignore_errors=True)
    if wl.checkpoint:
        snap = snapshot_dirs(cache)
        shutil.copytree(snap.out, dirs.out)
        shutil.copytree(snap.ckpt, dirs.ckpt)
    else:
        dirs.root.mkdir(parents=True)


# ------------------------------------------------------------------- oracle


def _duck():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def _scan(path: Path, partitioned: bool) -> str:
    if partitioned:
        return (f"read_parquet('{path}/*/*.parquet', hive_partitioning = true, "
                f"hive_types_autocast = false)")
    return f"read_parquet('{path}/*.parquet')"


# The spec's row checks, restated over DuckDB lists. JSON "absent" is SQL
# NULL; each arm of the span oneOf is spelled out from documents_iv.json.
_ARM_TEXT = (
    "coalesce(s.kind = 'text' AND s.text IS NOT NULL AND length(s.text) >= 1 "
    "AND s.media_ref IS NULL AND s.offset IS NOT NULL AND s.offset >= 0, false)"
)
_ARM_MEDIA = (
    "coalesce(s.kind = 'media' AND s.text IS NULL AND s.media_ref IS NOT NULL "
    "AND regexp_matches(s.media_ref, '^m-[0-9]{8}$') "
    "AND s.offset IS NOT NULL AND s.offset >= 0, false)"
)
_SPANS_OK = (
    "len(spans) >= 1"
    f" AND list_bool_and(list_transform(spans, s -> ({_ARM_TEXT})::int + ({_ARM_MEDIA})::int = 1))"
    " AND coalesce(list_bool_and(list_transform(range(1, len(spans)),"
    " i -> coalesce(spans[i + 1].offset > spans[i].offset, false))), true)"
)
_FAILS = {
    "doc_id__required": "doc_id IS NULL",
    "spans__required": "spans IS NULL",
    "doc_id__conforms": "doc_id IS NOT NULL AND NOT regexp_matches(doc_id, '^[0-9a-f]{2}-[0-9]{12}$')",
    "spans__conforms": f"spans IS NOT NULL AND NOT coalesce({_SPANS_OK}, false)",
}


def expectations(wl: Workload, cache: Path, root: Path) -> dict:
    """Every number the job's outputs are checked against, from DuckDB.
    For the checkpointed workload it also writes the snapshot each job
    resumes from: the sinks and state rows of the completed half."""
    con = _duck()
    src = _scan(table_path(cache), wl.checkpoint)
    flags = ", ".join(f"({cond}) AS f{i}" for i, cond in enumerate(_FAILS.values()))
    con.execute(f"CREATE TEMP TABLE f AS SELECT doc_id, spans, part_key, {flags} FROM {src}")
    per_part = con.execute(
        "SELECT part_key, count(*), " + ", ".join(f"sum(f{i}::int)" for i in range(4))
        + ", sum((f0 OR f1 OR f2 OR f3)::int) FROM f GROUP BY part_key ORDER BY part_key"
    ).fetchall()
    n_rows, n_distinct = con.execute("SELECT count(*), count(DISTINCT doc_id) FROM f").fetchone()
    dup_rows = con.execute(
        "SELECT coalesce(sum(c), 0) FROM (SELECT count(*) AS c FROM f GROUP BY doc_id HAVING c > 1)"
    ).fetchone()[0]
    parts = {
        pk: {"n_rows": int(n), "fails": [int(x) for x in fails], "viol_rows": int(v)}
        for pk, n, *fails, v in per_part
    }
    done = completed_keys(sorted(parts)) if wl.checkpoint else []
    if done:
        _write_snapshot(con, snapshot_dirs(cache), done, root)
    con.close()
    return {
        "n_rows": int(n_rows),
        "dup_rows": int(dup_rows),
        "unique": n_distinct == n_rows,
        "parts": parts,
        "completed": done,
    }


def _write_snapshot(con, snap: JobDirs, done: List[str], root: Path) -> None:
    """What a checkpointed run that stopped after the ``done`` partitions
    left behind: their violation and verdict partitions and state rows."""
    from json_to_avro_schema_spark.compiler.plan import compile_document

    plan = compile_document(json.loads((root / SPEC).read_text()))
    keys = ", ".join(f"'{k}'" for k in done)
    failed = ", ".join(f"CASE WHEN f{i} THEN '{c}' END" for i, c in enumerate(CHECKS))
    for d in (snap.out, snap.ckpt / "state"):
        d.mkdir(parents=True)
    con.execute(
        f"COPY (SELECT doc_id, spans, part_key, list_filter([{failed}], x -> x IS NOT NULL) "
        f"AS failed_checks FROM f WHERE (f0 OR f1 OR f2 OR f3) AND part_key IN ({keys})) "
        f"TO '{snap.out / 'violations'}' (FORMAT PARQUET, PARTITION_BY (part_key))"
    )
    checks = " UNION ALL ".join(
        f"SELECT part_key, '{c}' AS check_name, count(*) AS n_rows, sum(f{i}::int)::bigint AS n_fail "
        f"FROM f WHERE part_key IN ({keys}) GROUP BY part_key"
        for i, c in enumerate(CHECKS)
    )
    con.execute(f"CREATE TEMP TABLE v AS {checks}")
    con.execute(
        "COPY (SELECT part_key, check_name, n_rows, n_fail, n_fail = 0 AS pass FROM v) "
        f"TO '{snap.out / 'verdicts'}' (FORMAT PARQUET, PARTITION_BY (part_key))"
    )
    con.execute(
        f"COPY (SELECT '{RUN_ID}' AS run_id, part_key, '{plan.spec_name}' AS spec_name, "
        f"'{plan.spec_hash}' AS spec_hash, max(n_rows) AS n_rows, sum(n_fail)::bigint AS n_fail, "
        "now()::timestamptz AS completed_at, NULL::varchar AS state_json "
        f"FROM v GROUP BY part_key ORDER BY part_key) "
        f"TO '{snap.ckpt / 'state' / 'part-00000-snapshot.parquet'}' (FORMAT PARQUET)"
    )


def validated_rows(wl: Workload, exp: dict) -> int:
    """Rows one job validates: all of them, or those in resumed-into partitions."""
    done = set(exp["completed"])
    return sum(p["n_rows"] for k, p in exp["parts"].items() if k not in done)


# ------------------------------------------------------------ output check


def data_files(top: Path) -> Dict[str, Tuple[int, int]]:
    """relpath -> (size, mtime_ns) of the parquet files under ``top``."""
    out = {}
    for dirpath, _, files in os.walk(top):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, top)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: Dict[str, Tuple[int, int]], after: Dict[str, Tuple[int, int]]) -> Dict[str, int]:
    """relpath -> size of the files a job added or rewrote."""
    return {p: v[0] for p, v in after.items() if before.get(p) != v}


def check_outputs(wl: Workload, exp: dict, rc, stdout: str, dirs: JobDirs) -> Optional[str]:
    """None when the job's exit code, summary and sinks match ``exp``;
    otherwise the first mismatch found."""
    if rc != 0:
        return f"exit code {rc}"
    try:
        summary = json.loads(stdout.strip().splitlines()[-1])
    except (ValueError, IndexError):
        return "no summary JSON on stdout"
    parts = exp["parts"]
    want_tables = {"unique_doc_id": exp["unique"], "stats_doc_id": True}
    if summary.get("table_checks") != want_tables:
        return f"table_checks {summary.get('table_checks')} != {want_tables}"
    if wl.checkpoint:
        n_done = len(exp["completed"])
        want = {"partitions_total": len(parts), "partitions_resumed": n_done,
                "partitions_processed": len(parts) - n_done}
        got = {k: summary.get(k) for k in want}
        if got != want:
            return f"summary {got} != {want}"
    else:
        n_fail = sum(sum(p["fails"]) for p in parts.values())
        got = (summary.get("n_fail"), summary.get("n_checks"))
        if got != (n_fail, len(CHECKS)):
            return f"summary (n_fail, n_checks) {got} != {(n_fail, len(CHECKS))}"
    try:
        return _check_sinks(wl, exp, dirs)
    except duckdb.Error as e:  # a missing or unreadable sink file
        return f"sink unreadable: {type(e).__name__}: {e}"


def _check_sinks(wl: Workload, exp: dict, dirs: JobDirs) -> Optional[str]:
    parts = exp["parts"]
    con = _duck()
    try:
        viol = con.execute(
            f"SELECT count(*) FROM {_scan(dirs.out / 'violations', wl.checkpoint)}"
        ).fetchone()[0]
        want_viol = sum(p["viol_rows"] for p in parts.values())
        if viol != want_viol:
            return f"violation rows {viol} != {want_viol}"
        got = {
            (pk, c): (n, f)
            for pk, c, n, f in con.execute(
                "SELECT part_key, check_name, n_rows, n_fail FROM "
                f"{_scan(dirs.out / 'verdicts', wl.checkpoint)}"
            ).fetchall()
        }
        want = {
            (pk, c): (p["n_rows"], p["fails"][i])
            for pk, p in parts.items() for i, c in enumerate(CHECKS)
        }
        if got != want:
            return f"verdicts differ on {len(set(got.items()) ^ set(want.items()))} rows"
        tv = sorted(con.execute(
            "SELECT check_name, n_rows, n_bad, pass FROM "
            f"{_scan(dirs.out / 'table_verdicts', False)}"
        ).fetchall())
        want_tv = sorted([
            ("stats_doc_id", exp["n_rows"], 0, True),
            ("unique_doc_id", exp["n_rows"], exp["dup_rows"], exp["unique"]),
        ])
        if tv != want_tv:
            return f"table verdicts {tv} != {want_tv}"
        if wl.checkpoint:
            state = sorted(con.execute(
                f"SELECT part_key, n_rows, n_fail FROM read_parquet('{dirs.ckpt}/state/*.parquet') "
                f"WHERE run_id = '{RUN_ID}'"
            ).fetchall())
            want_state = sorted((pk, p["n_rows"], sum(p["fails"])) for pk, p in parts.items())
            if state != want_state:
                return f"state rows differ ({len(state)} vs {len(want_state)})"
    finally:
        con.close()
    return None
