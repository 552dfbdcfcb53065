"""The benchmark's own test: two traced runs with the same seed must give
identical counts, per op kind, for the counters a count-based claim may
rest on.

    python3 perfbench/determinism.py [--seed 7] [workload ...]

Each run is one timed round (``--seconds 0``), so both runs execute the
same ops. Compared, per op kind: ``storage.<m>.calls``,
``log.commit_files_read``, ``log.checkpoint_reads``, ``spark.jobs`` and
``catalog.alter_ops``. Exits 1 and names every difference if any count
differs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from collect import ROOT, run_once

COMPARED = ("log.commit_files_read", "log.checkpoint_reads", "spark.jobs",
            "catalog.alter_ops")


def counts(workload: str, seed: int) -> dict[str, dict[str, float]]:
    run_once(workload, seed, 0, 1)
    path = os.path.join(ROOT, ".perfbench", f"trace-{workload}-seed{seed}.json")
    with open(path) as fh:
        by_kind = json.load(fh)["counts_by_op_kind"]
    return {kind: {name: value for name, value in c.items()
                   if name in COMPARED or (name.startswith("storage.")
                                           and name.endswith(".calls"))}
            for kind, c in by_kind.items()}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("workloads", nargs="*",
                   default=["commit_mix", "read_mix", "analytics"])
    args = p.parse_args()
    differences = []
    for workload in args.workloads:
        first, second = counts(workload, args.seed), counts(workload, args.seed)
        for kind in sorted(set(first) | set(second)):
            a, b = first.get(kind, {}), second.get(kind, {})
            for name in sorted(set(a) | set(b)):
                if a.get(name, 0) != b.get(name, 0):
                    differences.append(f"{workload} {kind} {name}: "
                                       f"{a.get(name, 0)} != {b.get(name, 0)}")
        print(f"{workload}: {sum(len(c) for c in first.values())} counts "
              f"over {len(first)} op kinds compared")
    for d in differences:
        print(f"DIFFERS {d}")
    print("deterministic" if not differences else
          f"{len(differences)} counts differ")
    return 1 if differences else 0


if __name__ == "__main__":
    sys.exit(main())
