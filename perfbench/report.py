#!/usr/bin/env python3
"""Print the per-layer table of a traced run.

    python3 perfbench/report.py perfbench/traces/er_web-42.json

A traced run (``run.py --trace 1``) saves its record there and prints the
same table before its result line.
"""

from __future__ import annotations

import json
import sys

RULE = (
    "attribution: a lazy step owns the time from its call to the next wrapped "
    "call, and the Spark jobs started in it; MetricsTable steps own their call only"
)


def format_table(record: dict) -> str:
    lines = [
        f"# per-layer: {record['workload']} seed={record['seed']} "
        f"fingerprint={record['fingerprint']} traced calls={len(record['samples'])}",
        f"# {RULE}",
        f"{'metric':<40} {'value':>14}  unit",
    ]
    for name, m in record["metrics"].items():
        v = m["value"]
        shown = "-" if v is None else f"{v:14.4f}" if isinstance(v, float) else f"{v:14d}"
        lines.append(f"{name:<40} {shown:>14}  {m['unit']}")
    for i, t in enumerate(record["tiling"]):
        cells = ", ".join(
            f"{stage} {steps:.3f}/{target:.3f}s" for stage, (steps, target) in t.items()
        )
        lines.append(f"# tiling call {i + 1} (steps / stage wall + lineage): {cells}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0], encoding="utf-8") as fh:
        print(format_table(json.load(fh)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
