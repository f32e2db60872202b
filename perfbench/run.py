"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout: it imports the engine from there.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones).  The line before it is the environment
record.  The full report goes to ``.perfbench_out/`` in the checkout; a
traced run also prints its per-layer table to standard error and, when an
untraced report for the same workload and seed is there, the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _engine_in_checkout() -> bool:
    try:
        import vector_search_engine_spark as pkg
    except ImportError:
        return False
    return os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) == ROOT


def _overhead(out_dir: str, stem: str, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end values, as a share of untraced."""
    path = os.path.join(out_dir, f"{stem}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    return {
        k: {"untraced": base[k], "traced": v, "share": (v - base[k]) / base[k] if base[k] else None}
        for k, v in traced.items()
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not _engine_in_checkout():
        print(f"vector_search_engine_spark not found under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    try:
        report = workloads.execute(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    stem = f"{args.workload}-seed{args.seed}"
    if args.trace:
        values, units = report["per_layer"], workloads.PER_LAYER
        report["overhead"] = _overhead(out_dir, stem, report["end_to_end"])
        print(trace.format_table(report["layers"]), file=sys.stderr)
        if report["overhead"]:
            for k, o in report["overhead"].items():
                print(f"tracing overhead {k}: {o['untraced']:.4g} -> {o['traced']:.4g}", file=sys.stderr)
    else:
        values, units = report["end_to_end"], workloads.END_TO_END
    with open(os.path.join(out_dir, f"{stem}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)

    failed = report["failed"]
    print(json.dumps({"env": report["env"], "search_ms": report["search_ms"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": report["attempted"],
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
