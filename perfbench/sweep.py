"""Run the benchmark over many seeds, and compare sets of runs.

    python3 perfbench/sweep.py run --workload flagship_cli --seeds 1-10 --out a.jsonl
    python3 perfbench/sweep.py compare a.jsonl [b.jsonl]

``run`` calls run.py once per seed, in a fresh process each time, with
``run_seconds`` from BENCHMARK.json unless ``--seconds`` is given, and
appends ``{"workload", "seed", "trace", "result", "info"}`` per run to
``--out`` (``info`` is run.py's line before the result: the raw samples).

``compare`` prints, per workload and end-to-end metric, the median and
quartiles (``statistics.quantiles(n=4)``) of each set and the spread
``(q3 - q1) / median``. With one set it says whether each spread is within
the metric's bound and below a third of it. With two sets it also says
whether the second median is within the bound of the first, in either
direction: the two sets agree when every metric keeps both spreads within
its bound and its medians within the bound of each other.
Run both from the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _seeds(spec: str):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(args) -> int:
    bench = json.loads(Path("BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bad = 0
    with open(args.out, "a") as out:
        for seed in _seeds(args.seeds):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
                bad += 1
                continue
            result = json.loads(lines[-1])
            bad += not result["correct"]
            info = json.loads(lines[-2])["perfbench"] if len(lines) > 1 else None
            out.write(json.dumps({"workload": args.workload, "seed": seed, "trace": args.trace,
                                  "result": result, "info": info}) + "\n")
            out.flush()
            print(f"seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    return 1 if bad else 0


def _load(path: str) -> dict:
    """workload -> metric -> values, over the untraced runs of a set."""
    sets: dict = {}
    for line in Path(path).read_text().splitlines():
        rec = json.loads(line)
        if rec.get("trace"):
            continue
        for name, m in rec["result"]["metrics"].items():
            sets.setdefault(rec["workload"], {}).setdefault(name, []).append(m["value"])
    return sets


def _stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def compare(args) -> int:
    bench = json.loads(Path("BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    a = _load(args.a)
    b = _load(args.b) if args.b else None
    ok = True
    for wl in sorted(a):
        print(f"\n{wl}")
        hdr = f"  {'metric':18} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}"
        print(hdr + ("" if b is None else f" {'median B':>12} {'spread B':>8} {'delta':>7}  verdict"))
        for name, vals in a[wl].items():
            m = metrics[name]
            if len(vals) < 2:
                print(f"  {name:18} {len(vals):3d}  too few runs for quartiles")
                ok = False
                continue
            med, q1, q3, spread = _stats(vals)
            line = f"  {name:18} {len(vals):3d} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} {m['bound']:6.2f}"
            if b is None:
                if spread <= m["bound"] / 3:
                    verdict = "steady"
                elif spread <= m["bound"]:
                    verdict = "within bound"
                else:
                    verdict = "TOO NOISY"
                    ok = False
                print(f"{line}  {verdict}")
                continue
            vb = b.get(wl, {}).get(name)
            if not vb or len(vb) < 2:
                print(f"{line}  too few runs in B")
                ok = False
                continue
            med_b, _, _, spread_b = _stats(vb)
            delta = (med_b - med) / med if med else 0.0
            agree = abs(delta) <= m["bound"] and spread <= m["bound"] and spread_b <= m["bound"]
            ok &= agree
            print(f"{line} {med_b:12.5g} {spread_b:8.3f} {delta:+7.3f}  "
                  f"{'agree' if agree else 'DIFFER'}")
    print("\nsets agree within bounds" if b is not None and ok else
          "\nall spreads within bounds" if ok else "\nNOT within bounds")
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    r.add_argument("--seconds", type=float, default=None)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b", nargs="?")
    args = p.parse_args(argv)
    return run(args) if args.cmd == "run" else compare(args)


if __name__ == "__main__":
    sys.exit(main())
