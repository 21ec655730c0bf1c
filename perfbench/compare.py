#!/usr/bin/env python3
"""Compare two saved benchmark outputs, like for like.

    python3 perfbench/compare.py BASE.out NEW.out

Each file is the stdout of one `run.py` invocation (the detail line and
the result line). The comparison is refused (exit 3) unless both ran the
same workload on the same inputs: equal seeds, equal layout and input
fingerprints. When one run is traced and the other is not, it prints the
tracing overhead on each end-to-end metric instead.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> tuple[dict, dict]:
    with open(path) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    return detail, result


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (d0, r0), (d1, r1) = load(argv[0]), load(argv[1])
    for key in ("workload", "seed"):
        if d0[key] != d1[key]:
            print(f"refusing: {key} differs ({d0[key]} vs {d1[key]})", file=sys.stderr)
            return 3
    if d0["fingerprint"] != d1["fingerprint"]:
        print(
            f"refusing: input fingerprints differ ({d0['fingerprint']} vs "
            f"{d1['fingerprint']})",
            file=sys.stderr,
        )
        return 3
    if d0["trace"] != d1["trace"]:
        untraced, traced = (r0, d1) if d1["trace"] else (r1, d0)
        print(f"tracing overhead, {d0['workload']} seed {d0['seed']}:")
        for name, m in untraced["metrics"].items():
            t = traced["end_to_end_traced"][name]
            print(f"  {name:24s} {m['value']:14.4f} -> {t:14.4f} {m['unit']:6s} "
                  f"({(t / m['value'] - 1) * 100 if m['value'] else 0.0:+.1f}%)")
        return 0
    print(f"{d0['workload']} seed {d0['seed']} trace {d0['trace']}:")
    for name, m in r0["metrics"].items():
        new = r1["metrics"][name]["value"]
        ratio = new / m["value"] if m["value"] else float("nan")
        print(f"  {name:40s} {m['value']:14.4f} -> {new:14.4f} {m['unit']:6s} x{ratio:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
