"""Seeded, output-checked benchmark of the extraction engine.

    python3 perfbench/run.py --workload {extract,crawl} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``; every
timed call's output is checked; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``,
with ``--trace 1`` its per-layer ones, and the spans go to
``.perfbench_out/``. Everything the run writes stays under
``.perfbench_work/`` and ``.perfbench_out/`` in the repository root, and
the work directory is removed at exit. ``perfbench/BASELINE.md`` describes
the workloads, the layer map and the first baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Run:
    """One invocation: arguments, scratch dirs, tracer, ledger, session."""

    def __init__(self, args, work: str):
        from harness import Ledger, Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.crawl_docs = args.crawl_docs
        self.work = work
        self.tmpdir = os.path.join(work, "pytmp")
        self.tracer = Tracer(self.trace)
        self.ledger = Ledger()
        self.spark = None

    def session(self, cores: int):
        from harness import start_session

        self.spark = start_session(cores, self.work)
        return self.spark

    def close(self) -> None:
        from harness import stop_session

        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None

    def n_leg(self, path: str, expected: tuple) -> dict:
        """Run the N leg of the extract scaling pair in a fresh interpreter
        and JVM, wait for it, and add its checked passes to the ledger."""
        cmd = [sys.executable, os.path.abspath(__file__), "--n-leg", path,
               "--seconds", str(self.seconds / 4), "--expected",
               json.dumps(list(expected)), "--work", os.path.join(self.work, "n_leg")]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=150)
        if proc.returncode != 0:
            raise RuntimeError(f"n-leg failed ({proc.returncode}): {proc.stderr[-2000:]}")
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        self.ledger.attempted += out["attempted"]
        self.ledger.failed += out["failed"]
        if out["failed"]:
            self.ledger.reasons.append("extract: n-leg pass digest differs")
        return out


def _isolate(work: str) -> None:
    """Point every scratch location of this process and its children at
    ``work`` and make the package importable from Spark's Python workers."""
    tmp = os.path.join(work, "pytmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    paths = [ROOT, os.path.join(ROOT, "tests"), HERE]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([old] if old else []))
    for p in reversed(paths):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("extract", "crawl"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--crawl-docs", type=int, default=None,
                    help="crawl corpus size (default 2000; 300000 with "
                         "--seed 42 also checks the 24,385-doc visited count)")
    # internal: the N leg of the extract scaling pair, in a fresh JVM
    ap.add_argument("--n-leg", help=argparse.SUPPRESS)
    ap.add_argument("--expected", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    set_env = sorted(k for k in os.environ if k.startswith("WCS_"))
    if set_env:
        print(f"refusing to run: engine settings in the environment: {set_env}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "wikicrawler_spark")):
        print(f"no wikicrawler_spark package under {ROOT}", file=sys.stderr)
        return 2

    if args.n_leg:
        _isolate(args.work)
        from workloads import n_leg

        print(json.dumps(n_leg(args.work, args.n_leg, args.seconds,
                               json.loads(args.expected))))
        return 0
    if not args.workload:
        ap.error("--workload is required")

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    from harness import RssSampler, capacity_ratio, cpu_times, steal_pct
    from workloads import CRAWL_DOCS, NPROC, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    if args.crawl_docs is None:
        args.crawl_docs = CRAWL_DOCS
    run = Run(args, work)
    cpu0 = cpu_times()
    t0 = time.monotonic()
    try:
        with RssSampler(enabled=run.trace) as rss:
            try:
                e2e, layers = WORKLOADS[args.workload](run)
            finally:
                run.close()
        if run.trace:
            layers["host.peak_rss_mb"] = rss.peak / (1 << 20)
            layers["trace.op_s"] = e2e["op_s"]
            layers["host.steal_pct"] = steal_pct(cpu0, cpu_times())
            layers["host.capacity_ratio"] = capacity_ratio(NPROC)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for reason in run.ledger.reasons:
        print(f"check failed: {reason}", file=sys.stderr)
    if run.trace:
        # every workload reports every per-layer metric; a layer the
        # workload does not reach reads 0
        unknown = layers.keys() - {m["name"] for m in spec["per_layer"]}
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                  "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "wall_s": time.monotonic() - t0, "end_to_end": e2e,
                       "per_layer": layers, "spans": run.tracer.spans}, f, indent=1)
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    ledger = run.ledger
    print(json.dumps({"correct": ledger.failed == 0, "attempted": ledger.attempted,
                      "failed": ledger.failed, "metrics": metrics}))
    return 0


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    # every process the run starts, Spark's JVM and the Python workers it
    # forks included, has ended and been reaped before this one exits
    from harness import become_subreaper, reap_descendants

    become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    try:
        code = main()
    finally:
        reap_descendants()
    sys.exit(code)
