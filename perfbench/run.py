#!/usr/bin/env python3
"""Run one perfbench workload once and print its metrics.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run boots a Spark
session on ``local[<cpus available>]``, sets the workload up several
times (``setup_s`` is the median), measures for ``--seconds`` seconds,
checks the outputs, and prints:

- a table of every metric of the workload, with units and sample counts;
- a line ``perfbench-report <json>`` with the full report (every metric,
  the raw samples, the checks), which ``repeat.py`` reads;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``
  with the end-to-end metrics (``--trace 0``) or the per-layer metrics
  (``--trace 1``).

Everything the run writes (inputs, tables, Spark scratch, temporary
files, spans) stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETUP_REPS = 3
# The package's session defaults to an 8g driver heap. The benchmark pins
# 2g, -Xms included: the JVM then never resizes its heap mid-run, and a
# run fits beside other jobs on a 4-core, 15 GB host (a pinned 8g heap
# lets G1 grow its young generation to several GB before collecting).
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}


def _per_layer_units() -> dict[str, str]:
    from perfbench.trace import OP_KINDS, PHASES, SPARK_COUNTERS, LAYERS
    from perfbench.workloads import FAMILIES

    units = {}
    for kind in OP_KINDS:
        for c in SPARK_COUNTERS:
            units[f"{kind}.spark.{c}"] = ("bytes" if c.endswith("_bytes") else
                                          "s" if c.endswith("_s") else "count")
    for p in PHASES:
        units[f"select.spark.{p}_ms"] = "ms"
    for name in ("cdc.unwrap_s", "ch_select.compile_s", "ch_ddl.apply_mv_s",
                 "ch_ddl.insert_s", "ch_ddl.optimize_s", "ch_ddl.query_s"):
        units[name] = "s"
    for name in ("versions", "live_files", "files_on_disk", "orphan_files"):
        units[f"manifest.{name}"] = "count"
    units["manifest.bytes_written"] = "bytes"
    units["manifest.files_scanned"] = "count"
    units.update({"ch_http.request_s": "s", "ch_http.server_self_s": "s",
                  "ch_http.request_bytes": "bytes", "ch_http.response_bytes": "bytes",
                  "session.foreign_conf_selects": "count"})
    for f in FAMILIES:
        units[f"queries.family_s.{f}"] = "s"
    units["client.cpu_s"] = "s"
    for layer in LAYERS:
        units[f"self_s.{layer}"] = "s"
    units["trace.overhead_s"] = "s"
    return units


def _sandbox(work: Path) -> None:
    """Keep every file the run writes, its own and Spark's, under ``work``."""
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "java-tmp"):
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # a fixed heap (-Xms = the -Xmx that SPARK_GRAFT_DRIVER_MEM sets), so
    # GC's heap sizing does not differ from run to run
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work / 'java-tmp'} "
        f"-Xms{DRIVER_MEM} -XX:-UsePerfData' pyspark-shell")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.chdir(work)


def _peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    from pyspark import SparkContext

    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return py_mb + int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _instrument(tracer):
    """Route every ``ch_select`` call through a span; returns the undo list."""
    import postgre_to_clickhouse_spark.ch_ddl as ch_ddl
    import postgre_to_clickhouse_spark.ch_select as ch_select

    saved = [(m, m.ch_select) for m in (ch_select, ch_ddl)]
    for m, fn in saved:
        m.ch_select = tracer.wrapped(fn, "ch_select", "compile")
    return saved


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    from postgre_to_clickhouse_spark.session import get_spark
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    boot_s = time.perf_counter() - t0
    try:
        setups = []
        for rep in range(SETUP_REPS):
            w = WORKLOADS[workload](spark, seed)
            t0 = time.perf_counter()
            w.setup(work / f"setup{rep}")
            setups.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                w.teardown()
                shutil.rmtree(work / f"setup{rep}")
        if trace:
            w.tracer = Tracer(w.spark)
            saved = _instrument(w.tracer)
        cpu0 = time.process_time()
        steal0, total0 = _cpu_ticks()
        try:
            w.measure(seconds)
        finally:
            if trace:
                for m, fn in saved:
                    m.ch_select = fn
        cpu_s = w.client_cpu_s or time.process_time() - cpu0
        steal1, total1 = _cpu_ticks()
        if trace:
            w.tracer.harvest()
            w.tracer.self_times()
            w.tracer.write(str(work / "spans.jsonl"))
        named = w.verify()
        w.teardown()
        named["setup_s"] = {"value": statistics.median(setups), "unit": "s",
                            "n": len(setups), "samples": setups}
        named["peak_rss_mb"] = {"value": _peak_rss_mb(), "unit": "MB"}
        # not a correction: it tells a run slowed by other guests apart
        named["host_steal_share"] = {"value": (steal1 - steal0) / max(1, total1 - total0),
                                     "unit": "ratio"}
    finally:
        _shutdown(spark)
    end_to_end = {
        "setup_s": named["setup_s"]["value"],
        # None when every operation of the kind failed; the failures are
        # counted in ``failed``
        "op_p50_s": statistics.median(w.primary) if w.primary else None,
        "ops_per_s": w.n_ops / w.wall_s,
    }
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "correct": w.failed == 0 and all(c["ok"] for c in w.checks.values()),
        "attempted": w.attempted, "failed": w.failed, "checks": w.checks,
        "boot_s": boot_s, "wall_s": w.wall_s, "client_cpu_s": cpu_s,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()},
        "named": named,
        "samples": w.samples,
        "op_log": w.op_log,
    }
    if trace:
        units = _per_layer_units()
        layer = dict.fromkeys(units, 0.0)
        layer.update(w.tracer.layer_metrics())
        layer.update(w.layer)
        layer["session.foreign_conf_selects"] = float(w.foreign)
        layer["client.cpu_s"] = cpu_s
        report["per_layer"] = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    return report


def _print_table(report: dict) -> None:
    print(f"perfbench {report['workload']} seed={report['seed']} "
          f"trace={report['trace']}: attempted={report['attempted']} "
          f"failed={report['failed']} correct={report['correct']}")
    for name, c in report["checks"].items():
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {name}: {c['detail']}")
    for name, m in sorted(report["named"].items()):
        extra = f" n={m['n']}" if "n" in m else ""
        if m.get("percentile") is not None:
            extra += f" (p{m['percentile']})"
        shown = ("none" if not m.get("n", 1) else "unsupported (fewer than 20 samples)"
                 if m["value"] is None else f"{m['value']:.6g}")
        print(f"  {name:28s} {shown} {m['unit']}{extra}")
    for name, m in report["end_to_end"].items():
        shown = "none (no successful operation)" if m["value"] is None else f"{m['value']:.6g}"
        print(f"  [e2e] {name:22s} {shown} {m['unit']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("cdc_ingest", "query_battery", "terminal_mixed"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "postgre_to_clickhouse_spark" / "__init__.py").is_file():
        print(f"perfbench: no postgre_to_clickhouse_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sys.path.insert(0, str(ROOT))
    _sandbox(work)
    report = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    for sub in ("tmp", "spark-local", "java-tmp", "setup2"):
        shutil.rmtree(work / sub, ignore_errors=True)
    with open(work / "report.json", "w") as f:
        json.dump(report, f, indent=1)
    _print_table(report)
    print("perfbench-report " + json.dumps(report))
    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"],
                      "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                                  for k, m in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
