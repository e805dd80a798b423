"""Host-true, layer-by-layer benchmark of the validation engine.

    python3 perfbench/run.py --workload full_pass --seed 1 --seconds 10 --trace 0

Run from the repository root. Each workload generates its inputs from
``--seed`` (cached under ``.bench_work/``, never timed), starts Spark
sized from this host, times the program through its public functions
only, checks every output it times, and prints the result as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans, Spark status-store counters and the /proc
JVM/Python-worker CPU split, and reports the per-layer metrics (see
perfbench/README.md for what each one should move). The lines before
the last one carry the host fingerprint and the workload's metrics
under their descriptive names.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smoke-test sizes, not comparable")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "anomalydetection_spark")):
        print("perfbench: run from the repository root (no anomalydetection_spark/"
              f" under {root})", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_work")
    spec = workloads.WORKLOADS[args.workload]
    try:
        host.require(work, **workloads.NEEDS[args.size])
    except host.HostTooSmall as e:
        print(f"perfbench: {args.workload}: {e}", file=sys.stderr)
        return 3
    settings = host.spark_settings(work)
    os.environ.update(settings["env"])

    inputs = spec.prepare(os.path.join(work, "cache"), args.seed, args.size)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    run = workloads.Run(
        settings=settings, inputs=inputs, seconds=args.seconds, tracer=tracer,
        scratch=os.path.join(work, "runs", run_id), root=root,
    )
    try:
        spec.body(run)
        fp = host.fingerprint(root, run.spark)
    finally:
        run.close()

    print("host " + json.dumps(fp, sort_keys=True))
    for name, (value, unit) in sorted(run.report.items()):
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    if run.attempted == 0:
        print("perfbench: no operation completed", file=sys.stderr)
        return 4
    if args.trace:
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        path = os.path.join(work, "traces", run_id + ".json")
        tracer.write(path, {"host": fp, "workload": args.workload,
                            "seed": args.seed, "metrics": run.layer})
        print(f"trace written to {os.path.relpath(path, root)}")
        metrics = {k: run.layer.get(k, (0.0, u)) for k, u in workloads.PER_LAYER.items()}
    else:
        metrics = {k: run.e2e[k] for k in workloads.END_TO_END}
        if any(v != v for v, _ in metrics.values()):  # NaN: a timed operation failed
            print("perfbench: a timed operation failed; no result", file=sys.stderr)
            return 5
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
