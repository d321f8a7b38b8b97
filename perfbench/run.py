#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload topk_interactive --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics). The line
before it records the host and the run's settings. Everything the run
writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (the traced run's spans) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def git_commit(root: str) -> str | None:
    """HEAD of the checkout, or None when it is not a git repository."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    try:
        sys.path.insert(0, ROOT)
        from perfbench import workloads

        os.environ["SPARK_DRIVER_MEM"] = workloads.HEAP
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        try:
            import pyspark

            import iresearch_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
            return 2
        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2

        bench = workloads.Bench(ROOT, work, args.seed, args.seconds, bool(args.trace))
        try:
            res = workloads.WORKLOADS[args.workload](bench)
        finally:
            bench.stop()

        host = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "ram_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "git_commit": git_commit(ROOT),
            **res["host"],
        }
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.dump(
                os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json"),
                {"host": host},
            )
        result = {
            "correct": True,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {
                name: {"value": value, "unit": unit}
                for name, (value, unit) in res["metrics"].items()
            },
        }
        sys.stdout.write(json.dumps({"host": host}) + "\n")
        sys.stdout.write(json.dumps(result) + "\n")
        sys.stdout.flush()
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
