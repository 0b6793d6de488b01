#!/usr/bin/env python3
"""Run perfbench workloads over several seeds, summarise, and compare.

    # ten untraced runs per workload, seeds 1..10, kept in a.json
    python3 perfbench/repeat.py run --seeds 1-10 --out a.json
    # the same with tracing on, for the per-layer metrics
    python3 perfbench/repeat.py run --seeds 1-10 --trace --out a_traced.json
    # every metric with unit, median, quartiles and op counts
    python3 perfbench/repeat.py show a.json [--traced a_traced.json]
    # do two sets agree within BENCHMARK.json's bounds?
    python3 perfbench/repeat.py compare a.json b.json

``show`` pools each operation kind's samples over the set's runs before
taking percentiles, so a tail percentile is reported at the highest level
the pooled sample supports (at least ten samples beyond it). With
``--traced`` it also reports the tracing overhead: the traced set's
median ``op_p50_s`` over the untraced one's.

``run`` always measures for BENCHMARK.json's ``run_seconds``.

``compare`` applies the acceptance rule to every end-to-end metric of every
workload in BENCHMARK.json: the interquartile spread of each set must stay
within the metric's bound, and the second set's median must not be worse
than the first's by more than the bound. ``setup_s``'s spread is printed
but not gated, as in the benchmark contract, which gates set-up time only
by the shift of its median. Both sets must have measured for the same
seconds, and every run of both must have finished, been correct and
failed no operation. Exit code 1 when any check fails.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import quartiles, relative_spread, tail  # noqa: E402

REPORT_PREFIX = "perfbench-report "


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_set(workloads: list[str], seeds: list[int], seconds: int, trace: bool) -> list[dict]:
    reports = []
    for workload in workloads:
        for seed in seeds:
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", str(int(trace))]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            elapsed = time.monotonic() - t0
            lines = [ln for ln in proc.stdout.splitlines() if ln.startswith(REPORT_PREFIX)]
            if proc.returncode != 0 or not lines:
                print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                reports.append({"workload": workload, "seed": seed, "error": proc.returncode})
                continue
            report = json.loads(lines[-1][len(REPORT_PREFIX):])
            report["elapsed_s"] = elapsed
            reports.append(report)
            e2e = ", ".join(f"{k}={m['value']:.4g}" for k, m in report["end_to_end"].items())
            print(f"{workload} seed {seed}: correct={report['correct']} "
                  f"failed={report['failed']}/{report['attempted']} {e2e} "
                  f"elapsed={elapsed:.1f}s", flush=True)
    return reports


def _by_workload(reports: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in reports:
        out.setdefault(r["workload"], []).append(r)
    return out


def _line(name: str, unit: str, values: list, extra: str = "") -> str:
    missing = sum(v is None for v in values)
    values = [v for v in values if v is not None]
    if missing:
        extra += f" ({missing} runs without a value)"
    if not values:
        return f"  {name:34s} {'none':>12s} {unit:6s}{extra}"
    q1, med, q3 = quartiles(values)
    spread = relative_spread(values)
    return (f"  {name:34s} {med:12.6g} {unit:6s} q1={q1:.6g} q3={q3:.6g} "
            f"spread={spread:.3f} n={len(values)}{extra}")


def show(reports: list[dict], traced: list[dict] | None = None) -> None:
    traced_by = _by_workload(traced or [])
    for workload, runs in _by_workload(reports).items():
        good = [r for r in runs if "error" not in r]
        print(f"{workload}: runs={len(runs)} crashed={len(runs) - len(good)} "
              f"correct={sum(r['correct'] for r in good)}/{len(good)} "
              f"attempted={sum(r['attempted'] for r in good)} "
              f"failed={sum(r['failed'] for r in good)}")
        for r in good:
            for name, c in r["checks"].items():
                if not c["ok"]:
                    print(f"  seed {r['seed']} check FAIL {name}: {c['detail']}")
        if not good:
            continue
        print(" end-to-end (median of per-run values):")
        for name, m in good[0]["end_to_end"].items():
            print(_line(name, m["unit"], [r["end_to_end"][name]["value"] for r in good]))
        print(" all metrics of the workload:")
        for name, m in sorted(good[0]["named"].items()):
            if "percentile" in m:  # a tail: pool the raw samples of every run
                kind = name.split("_")[0]
                pooled = [x for r in good for x in r["samples"][kind]]
                level, value = tail(pooled)
                shown = ("unsupported" if value is None else f"{value:.6g}")
                level = "no level" if level is None else f"p{level}"
                print(f"  {name:34s} {shown:>12s} {m['unit']:6s} "
                      f"{level} of {len(pooled)} pooled samples")
                continue
            values = [r["named"][name]["value"] for r in good]
            print(_line(name, m["unit"], values))
        tr = [r for r in traced_by.get(workload, []) if "error" not in r]
        if tr:
            print(" per-layer (median over traced runs):")
            for name, m in tr[0]["per_layer"].items():
                print(_line(name, m["unit"], [r["per_layer"][name]["value"] for r in tr]))
            base = [r["end_to_end"]["op_p50_s"]["value"] for r in good]
            with_tr = [r["end_to_end"]["op_p50_s"]["value"] for r in tr]
            base = statistics.median(v for v in base if v is not None)
            with_tr = statistics.median(v for v in with_tr if v is not None)
            print(f"  tracing overhead: op_p50_s traced {with_tr:.4g} s vs untraced "
                  f"{base:.4g} s = x{with_tr / base:.3f}")


def _run_problems(runs: list[dict], label: str) -> list[str]:
    """Crashed, incorrect and failing runs of one set."""
    out = []
    for r in runs:
        if "error" in r:
            out.append(f"{label} seed {r['seed']}: crashed (exit {r['error']})")
        elif not r["correct"] or r["failed"]:
            out.append(f"{label} seed {r['seed']}: correct={r['correct']} "
                       f"failed={r['failed']}/{r['attempted']}")
    return out


def compare(first: list[dict], second: list[dict]) -> bool:
    spec = _spec()
    ok = True
    seconds = {r["seconds"] for r in first + second if "error" not in r}
    if len(seconds) > 1:
        print(f"the sets measured for different seconds: {sorted(seconds)}")
        ok = False
    a_by, b_by = _by_workload(first), _by_workload(second)
    for wl in spec["workloads"]:
        name = wl["name"]
        a_all, b_all = a_by.get(name, []), b_by.get(name, [])
        problems = _run_problems(a_all, "first") + _run_problems(b_all, "second")
        for p in problems:
            print(f"{name}: {p}")
        a = [r for r in a_all if "error" not in r]
        b = [r for r in b_all if "error" not in r]
        if problems or not a or not b:
            if not a or not b:
                print(f"{name}: missing runs")
            ok = False
            continue
        steal = [statistics.median(r["named"]["host_steal_share"]["value"] for r in runs)
                 for runs in (a, b)]
        print(f"{name}: host CPU steal share, median per set: "
              f"{steal[0]:.3f} / {steal[1]:.3f}")
        for m in spec["end_to_end"]:
            va = [r["end_to_end"][m["name"]]["value"] for r in a]
            vb = [r["end_to_end"][m["name"]]["value"] for r in b]
            ma, mb = statistics.median(va), statistics.median(vb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            sa, sb = relative_spread(va), relative_spread(vb)
            spread_ok = m["name"] == "setup_s" or (sa <= m["bound"] and sb <= m["bound"])
            verdict = spread_ok and worse <= m["bound"]
            ok &= verdict
            print(f"{name:14s} {m['name']:12s} {ma:10.5g} -> {mb:10.5g} {m['unit']:4s} "
                  f"worse={worse:+.3f} spreads={sa:.3f}/{sb:.3f} bound={m['bound']} "
                  f"{'ok' if verdict else 'FAIL'}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workloads", default=None,
                   help="comma-separated; default: BENCHMARK.json's workloads")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", action="store_true")
    r.add_argument("--out", required=True)
    s = sub.add_parser("show")
    s.add_argument("results")
    s.add_argument("--traced")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    if args.cmd == "run":
        spec = _spec()
        workloads = (args.workloads.split(",") if args.workloads
                     else [w["name"] for w in spec["workloads"]])
        reports = run_set(workloads, _seeds(args.seeds), spec["run_seconds"], args.trace)
        with open(args.out, "w") as f:
            json.dump(reports, f)
        show(reports)
        return 0
    if args.cmd == "show":
        with open(args.results) as f:
            reports = json.load(f)
        traced = None
        if args.traced:
            with open(args.traced) as f:
                traced = json.load(f)
        show(reports, traced)
        return 0
    with open(args.first) as f:
        first = json.load(f)
    with open(args.second) as f:
        second = json.load(f)
    return 0 if compare(first, second) else 1


if __name__ == "__main__":
    sys.exit(main())
