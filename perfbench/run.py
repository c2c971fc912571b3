#!/usr/bin/env python3
"""Benchmark of the CDC engine: one command runs a workload, prints every
metric by name with its unit, and checks the engine's outputs.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # each in a fresh process
    python3 perfbench/run.py --workload lookup_mixed --seed 1 --trace 1

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics, or with ``--trace 1`` the per-layer ones (the span file is
written under ``.perfbench_out/``). Exit code 0 means every operation was
checked correct; 1 means a wrong answer or a failed operation; 2 means the
engine could not be found next to the benchmark.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import report  # noqa: E402
from perfbench.trace import LAYER_UNITS  # noqa: E402
from perfbench.workloads import END_TO_END_UNITS, WORKLOADS, cores, execute  # noqa: E402

ENGINE_PACKAGE = "cosmwasm_etl_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def run_seconds_default() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return int(json.load(f)["run_seconds"])


def git_commit() -> str:
    """The checked-out commit, read from .git without running git; "none"
    when the tree is not a git checkout."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "none"


def source_digest() -> str:
    """sha256 over the engine's Python sources, so results from trees that
    are not git checkouts can still be told apart."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, ENGINE_PACKAGE)
    for dirpath, dirs, names in os.walk(pkg):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def host_context() -> dict:
    import pyspark

    return {
        "nproc": cores(),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
    }


def print_result(name: str, res: dict, trace: bool, ctx: dict) -> None:
    units = LAYER_UNITS if trace else END_TO_END_UNITS
    print(f"perfbench {name} seed={res['meta']['seed']} seconds={res['meta']['seconds']} "
          f"trace={int(trace)} nproc={ctx['nproc']} pyspark={ctx['pyspark']} "
          f"commit={ctx['git_commit'][:12]} source={ctx['source_sha256']}")
    if trace:
        print(report.render(res["spans"], res["meta"]))
        print(f"  span file: {res['trace_file']}")
    else:
        parts = " + ".join(f"{k} {v:.2f}" for k, v in res["setup_parts"].items())
        for k, unit in units.items():
            note = f"   ({parts})" if k == "setup_s" else ""
            print(f"  {k:<16} {res['metrics'][k]:>12.4f} {unit}{note}")
        for k, t in res["tails"].items():
            tail = (f"p{t['p']} {t['value']:.1f} ms" if t["value"] is not None
                    else "no percentile above p50 has 10 samples beyond it")
            print(f"  {k} tail: {tail} (n={t['n']})")
        print(f"  timed interval {res['meta']['wall_s']:.1f} s, of the host's CPU time "
              f"{res['meta']['steal']:.1%} was stolen by the hypervisor")
    print(f"  error_rate {res['error_rate']:.4f} ({res['failed']} of {res['attempted']} "
          f"batches, lookups and audits failed){'' if res['correct'] else ': ' + '; '.join(res['failures'])}")
    print(json.dumps({"context": {**ctx, "workload": name, "samples": res["samples"],
                                  "setup_parts": res["setup_parts"], "tails": res["tails"],
                                  "error_rate": res["error_rate"], "window_s": res["meta"]["wall_s"],
                                  "window_cpu_s": res["meta"]["cpu_s"], "host_steal": res["meta"]["steal"],
                                  "checks_s": res["checks_s"], "run_s": res["run_s"],
                                  "peak_pss_parts_mb": res["peak_pss_parts_mb"],
                                  "config": res["meta"]["config"]}}))


def final_line(res: dict, units: dict) -> dict:
    return {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()},
    }


def run_many(names: list[str], args) -> int:
    """Each workload in its own process (fresh JVM); prints their outputs
    and one combined result whose metric names carry the workload."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.rstrip("\n").split("\n")
        print("\n".join(lines[:-1]))
        try:
            last = json.loads(lines[-1])
        except (json.JSONDecodeError, IndexError):
            print(f"perfbench: {name} exited {proc.returncode} without a result", file=sys.stderr)
            return proc.returncode or 1
        combined["correct"] &= last["correct"] and proc.returncode == 0
        combined["attempted"] += last["attempted"]
        combined["failed"] += last["failed"]
        for k, v in last["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    help=f"one of {', '.join(WORKLOADS)}, a comma-separated list, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="measured interval (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    names = list(WORKLOADS) if args.workload == "all" else args.workload.split(",")
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        ap.error(f"unknown workload(s) {unknown}; choose from {list(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, ENGINE_PACKAGE)):
        print(f"perfbench: no {ENGINE_PACKAGE}/ next to the benchmark in {ROOT}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = run_seconds_default()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if len(names) > 1:
        return run_many(names, args)

    # the engine's environment knobs would change what is measured
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    ctx = host_context()
    name = names[0]
    res = execute(name, args.seed, args.seconds, bool(args.trace), ROOT, OUT_DIR)
    print_result(name, res, bool(args.trace), ctx)
    print(json.dumps(final_line(res, LAYER_UNITS if args.trace else END_TO_END_UNITS)))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
