"""How much of a pass is per-document work: pass time at several input sizes.

    python3 kgbench/scaling.py --workload kg_build --seed 1 --sizes 500,10000,20000

Run from the repository root. One session runs a cold pass on an
input of the largest size, then ``--rounds`` rounds over the sizes, smallest
first, each pass on an input of its own and checked; the first round is a
warm-up and is not reported.
Interleaving the sizes spreads the host's drift over all of them. For each
size it prints the median pass time and core-seconds, and the share of
them that the smallest size does not pay: that share is the per-document
work (an underestimate, since the smallest input does some per-document
work too).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sizes", required=True, help="comma-separated input docs")
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from kgbench.run import Harness

    sizes = sorted(int(n) for n in args.sizes.split(","))
    h = Harness(args.workload, args.seed, 0, False, 1.0)
    runs: dict[int, list] = {n: [] for n in sizes}
    try:
        cold = h.new_input("cold", sizes[-1])
        cold.generate()
        h.start()
        h.one_pass(cold)
        for r in range(args.rounds):
            for n in sizes:
                wl = h.new_input(f"r{r}n{n}", n)
                wl.generate()
                res = h.one_pass(wl)
                if res is None:
                    return 1
                if r > 0:
                    runs[n].append(res[:2])
    finally:
        h.stop()
        shutil.rmtree(h.work, ignore_errors=True)
    if args.rounds < 2:
        return 0
    base_s = statistics.median(t for t, _ in runs[sizes[0]])
    base_cpu = statistics.median(c for _, c in runs[sizes[0]])
    for n in sizes:
        pass_s = statistics.median(t for t, _ in runs[n])
        cpu_s = statistics.median(c for _, c in runs[n])
        print(json.dumps({"workload": args.workload, "docs": n,
                          "pass_s": round(pass_s, 2), "cpu_s": round(cpu_s, 2),
                          "per_doc_share_s": round(1 - base_s / pass_s, 3),
                          "per_doc_share_cpu": round(1 - base_cpu / cpu_s, 3)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
