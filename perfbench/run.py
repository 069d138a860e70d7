"""Layered KG-construction benchmark for medcat_spark.

    python3 perfbench/run.py --workload annotate_dense --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, checks Spark's outputs against an in-process reference, and prints
one JSON line last:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A fuller report (host stamp, sample counts, spans) is written under
``.perfbench_run/reports/``.  Exits 1 when any output disagrees with
the reference, 2 when the engine package is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # Annotation output depends on str hash order (ties among link
        # candidates), and PySpark starts its workers with hash seed 0:
        # the in-process reference must run under the same seed.
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)

    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    reports = os.path.join(base, "reports")
    # Python workers import the engine from the checkout; every temp
    # file (py4j handshake, JVM tmpdir, spills) stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    try:
        import medcat_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from perfbench import host, metrics
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.makedirs(reports, exist_ok=True)
    stamp = host.HostStamp()
    wl = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace),
                                  work)
    try:
        values = wl.run()
        stamp_d = stamp.as_dict()
        if args.trace:
            values = {**metrics.zeros(), **values, **stamp_d}
            units = metrics.PER_LAYER
        else:
            units = metrics.END_TO_END
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            wl.tracer.dump(os.path.join(reports, tag + ".spans.jsonl"))
        with open(os.path.join(reports, tag + ".json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "params": wl.p, "host": stamp_d, "values": values,
                       "notes": wl.notes, "attempted": wl.attempted,
                       "failed": wl.failed,
                       "failed_ratio": wl.failed / wl.attempted},
                      f, indent=1, default=str)
    finally:
        left = host.stop_descendants()
        if left:
            print(f"perfbench: stopped leftover processes {left}",
                  file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    correct = wl.failed == 0
    print(json.dumps(wl.notes, default=str)[:2000], file=sys.stderr)
    print(f"failed_ratio {wl.failed / wl.attempted:.4g} "
          f"({wl.failed}/{wl.attempted})", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": wl.attempted, "failed": wl.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
