"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_replay --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Prints the run metadata as one JSON
line, then, as the last line, the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Everything it writes goes under
``perfbench/.work/``; the run's own directory there is removed at exit, and
only the traced run's span table stays.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["ingest_replay", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "tiny"], default="default", help="tiny: smoke-test inputs")
    args = ap.parse_args(argv)

    knobs = sorted(k for k in os.environ if k.startswith("LSS_"))
    if knobs:
        return _fail(f"refusing to run with engine knobs set ({', '.join(knobs)}); "
                     "the benchmark measures the CLI defaults")
    if not os.path.isfile(os.path.join(ROOT, "log_server_spark", "__init__.py")):
        return _fail(f"engine sources not found under {ROOT}")

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine from the checkout; temp files (the
    # native hash kernel, Spark scratch) stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path[:0] = [HERE, ROOT]

    import metrics
    import spans
    import workloads

    ctx = workloads.Ctx(
        work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        sizes=workloads.SIZES[args.size], master=f"local[{len(os.sched_getaffinity(0))}]",
    )
    try:
        try:
            e2e, layers = workloads.WORKLOADS[args.workload](ctx)
        finally:
            workloads.stop_session(ctx)
        failed = len(ctx.problems)
        attempted = max(ctx.attempted, 1)
        if args.trace:
            layers["jobs"] = spans.read_event_log(os.path.join(work, "eventlog"))
            with open(os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(spans.span_table(layers["spans"], layers["jobs"]), f, indent=1)
            out = metrics.per_layer(args.workload, layers, e2e, failed / attempted, ctx.meta.get("native_murmur3", False))
            units = metrics.PER_LAYER
        else:
            out, units = e2e, metrics.END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in ctx.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    ctx.meta.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                     "failed_ops_ratio": failed / attempted})
    print(json.dumps({"metadata": ctx.meta}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": out[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
