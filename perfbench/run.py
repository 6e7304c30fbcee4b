"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload core_fused --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it is the full report of
the run: every metric with its unit and sample count, the checks, and
host context.  Inputs, scratch and reports go under ``.bench_build/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("core_fused", "spark_extract", "link_rank")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, trace: bool,
        work: str, mb: float | None = None) -> dict:
    """Run ``workload``; return the contract result plus ``report``."""
    from perfbench import core, sparkloads
    from perfbench.common import nproc

    fn = {
        "core_fused": core.run,
        "spark_extract": sparkloads.run_extract,
        "link_rank": sparkloads.run_link_rank,
    }[workload]
    kw = {} if mb is None else {"mb": mb}
    o = fn(ROOT, work, seed, seconds, trace, **kw)

    mb_per_s = o.mb_per_s
    if trace:
        # a layer the workload does not run reads 0
        values = {**o.layers, "trace.mb_per_s": mb_per_s}
        specs = _spec()["per_layer"]
    else:
        values = {"mb_per_s": mb_per_s, "setup_s": statistics.median(o.setups)}
        specs = _spec()["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in specs}
    failed = min(o.failed, o.attempted)
    report = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "nproc": nproc(),
        "passes": len(o.walls),
        "pass_walls_s": o.walls,
        "pass_steal": o.steals,
        "pass_mb": o.pass_bytes / 1e6,
        "setup_runs_s": o.setups,
        "mb_per_s": {"value": mb_per_s, "unit": "MB/s", "n": len(o.walls)},
        "setup_s": {"value": statistics.median(o.setups), "unit": "s",
                    "n": len(o.setups)},
        "failed_frac": {"value": failed / max(1, o.attempted), "unit": "ratio",
                        "n": o.attempted},
        "checks": o.checks,
        **o.report,
    }
    overhead = _tracing_overhead(work, workload, seed, trace, mb_per_s)
    if overhead is not None:
        report["tracing_overhead"] = overhead
    return {
        "correct": failed == 0 and all(o.checks.values()),
        "attempted": max(1, o.attempted),
        "failed": failed,
        "metrics": metrics,
        "report": report,
    }


def _tracing_overhead(work: str, workload: str, seed: int, trace: bool,
                      mb_per_s: float) -> float | None:
    """1 - traced mb_per_s / untraced mb_per_s, from this run and the last
    run of the other mode with the same workload and seed, if any."""
    d = os.path.join(work, "results")
    os.makedirs(d, exist_ok=True)
    mine = os.path.join(d, f"{workload}-seed{seed}-trace{int(trace)}")
    other = os.path.join(d, f"{workload}-seed{seed}-trace{int(not trace)}")
    with open(mine, "w") as f:
        f.write(repr(mb_per_s))
    if not os.path.exists(other):
        return None
    with open(other) as f:
        theirs = float(f.read())
    traced, plain = (mb_per_s, theirs) if trace else (theirs, mb_per_s)
    return 1 - traced / plain


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "html_parser_spark", "__init__.py")):
        print("engine package html_parser_spark not found under " + ROOT,
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.common import adopt_orphans, stop_children

    work = os.path.join(ROOT, ".bench_build", "perfbench")
    # temporary files of this process, its workers and the JVM stay in
    # the checkout
    tmp = os.path.join(work, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no process of the run outlives it: not the JVM, not a Python worker
    # the JVM left behind
    adopt_orphans()
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace),
                  work)
    finally:
        stop_children()
        shutil.rmtree(tmp, ignore_errors=True)
    report = res.pop("report")
    print(json.dumps(report))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
