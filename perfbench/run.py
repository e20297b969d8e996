"""Benchmark of the hsip dedup engine through its public entry points.

One run measures one workload in its own process and prints, as the
last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end figures; with ``--trace 1`` the run times
calls into each module's public functions instead and the metrics are
per-layer figures. README.md in this directory describes the workloads,
the metrics and which layer figure should move which end-to-end figure.

    python3 perfbench/run.py --workload latency-57k --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all     # each workload, untraced then traced

Run it from the root of a source checkout. It reads and writes only
under ``.perfbench_work/`` there, and caches generated corpora in it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv: list[str], workloads: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*workloads, "all"])
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0,
                   help="batch: repeat calls until this much is measured")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--n-base", type=int, default=None,
                   help="override the workload's corpus size")
    return p.parse_args(argv)


def _run_all(args, names: list[str], W) -> int:
    """Each workload in its own process, untraced then traced, so JVM
    and cache state never carry over; prints each run's last lines and
    the traced run's overhead against the untraced one."""
    rc = 0
    for name in names:
        last = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            if args.n_base is not None:
                cmd += ["--n-base", str(args.n_base)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            print(f"== {name} --trace {trace}: exit {out.returncode}")
            print("\n".join(lines[-2:]) if lines else out.stderr[-3000:], flush=True)
            rc = rc or out.returncode
            if lines and out.returncode == 0:
                last[trace] = json.loads(lines[-1])
        if len(last) == 2:
            # the same entry-point call on the same corpus, traced and not
            traced_key = W.TRACED_CALL[W.WORKLOADS[name].kind]
            untraced = last[0]["metrics"]["call_p50_s"]["value"]
            traced = last[1]["metrics"][traced_key]["value"]
            print(f"== {name}: {traced_key} {traced:.2f} s traced vs call_p50_s "
                  f"{untraced:.2f} s untraced: overhead {traced / untraced - 1:+.1%}")
    return rc


def main(argv: list[str]) -> int:
    if not os.path.isdir(os.path.join(ROOT, "hsip")):
        print(f"perfbench: no hsip package under {ROOT}; run it from the root "
              "of a source checkout", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # not this directory: its modules would shadow stdlib ones
    from perfbench import workloads as W

    args = _parse(argv, list(W.WORKLOADS))
    if args.workload == "all":
        return _run_all(args, list(W.DEFAULT_WORKLOADS), W)

    from perfbench import host

    t_setup = time.perf_counter()
    run_dir = os.path.join(W.WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    W.prepare_env(run_dir)
    facts_start = host.facts()
    wl = W.sized(W.WORKLOADS[args.workload], args.n_base)
    try:
        if args.trace:
            from perfbench import tracerun

            result = tracerun.run(args, args.workload, wl, run_dir, t_setup)
        else:
            result = W.run_untraced(args, args.workload, wl, run_dir, t_setup)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result["host"] = {"start": facts_start, "end": host.facts(),
                      "driver_mem": os.environ["HSIP_DRIVER_MEM"]}
    keys = ("correct", "attempted", "failed", "metrics")
    print(json.dumps({k: v for k, v in result.items() if k not in keys}))
    print(json.dumps({k: result[k] for k in keys}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
