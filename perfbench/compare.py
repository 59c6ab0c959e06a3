"""Compare two benchmark result files, refusing if their environments differ.

    python3 perfbench/compare.py BASE.json NEW.json

Result files are written by ``run.py`` to ``.perfbench_work/results/``.
Each records the effective environment (core count, master, versions, the
shuffle-partition setting read back after the first table load, input
sizes); numbers measured under different environments are not comparable,
so this exits with status 1 and lists the differences instead.
"""

from __future__ import annotations

import json
import sys


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.load(open(p)) for p in argv)
    env_a, env_b = base["environment"], new["environment"]
    diff = sorted(k for k in env_a.keys() | env_b.keys() if env_a.get(k) != env_b.get(k))
    if diff:
        for k in diff:
            print(f"environment differs: {k}: {env_a.get(k)!r} vs {env_b.get(k)!r}",
                  file=sys.stderr)
        return 1
    if (base["workload"], base["trace"]) != (new["workload"], new["trace"]):
        print("results are of different workloads or trace modes", file=sys.stderr)
        return 1
    for section in ("end_to_end", "per_layer"):
        a, b = base.get(section, {}), new.get(section, {})
        for k in a.keys() & b.keys():
            change = f"{(b[k] - a[k]) / a[k]:+.1%}" if a[k] else "n/a"
            print(f"{k:<32} {a[k]:>14.6g} {b[k]:>14.6g} {change:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
