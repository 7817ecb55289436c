"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload encode-pages --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. `--trace 0` prints the end-to-end
metrics of BENCHMARK.json; `--trace 1` prints its per-layer metrics and
writes the run's spans to `.perfbench/traces/`. The last line of
standard output is

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}, ...}}

Logs and a human-readable summary go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "parquetry_spark", "engine.py")):
        print(f"perfbench: no engine under {ROOT}/parquetry_spark", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    values, attempted, failed = Run(
        ROOT, args.workload, args.seed, args.seconds, bool(args.trace)
    ).execute()
    if set(values) != set(units):
        raise RuntimeError(
            f"measured metrics differ from BENCHMARK.json: missing "
            f"{sorted(set(units) - set(values))}, unknown {sorted(set(values) - set(units))}"
        )

    print(
        f"perfbench {args.workload} seed={args.seed}: {attempted} ops, {failed} failed "
        f"(ops_failed_frac={failed / attempted:.4f})",
        file=sys.stderr,
    )
    for name, value in values.items():
        print(f"  {name} = {value:.6g} {units[name]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
