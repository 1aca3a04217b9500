"""Build the round-12 sf1 core-count scaling table (VERDICT ask #4).

Reads the two committed subset epochs
(BENCH_SF1_SCALING_r12_cpus32.json / _cpus8.json — the 40 heaviest sf1
queries, Spark leg only, same tree) and classifies each query:

- ratio = warm_8c / warm_32c. A compute-bound query should approach
  the core ratio (4x) as its parallel fraction -> 1; a ratio ~1 means
  the wall is serial/driver-bound even at sf1.
- exec-only ratio is the secondary lens (plan execution without the
  per-rep build).

Writes SF1_SCALING_r12.json and prints the markdown table for
SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    a32 = json.load(open(os.path.join(REPO, "BENCH_SF1_SCALING_r12_cpus32.json")))
    a8 = json.load(open(os.path.join(REPO, "BENCH_SF1_SCALING_r12_cpus8.json")))
    q32, q8 = a32["queries"], a8["queries"]
    e32 = a32.get("queries_exec_only", {})
    e8 = a8.get("queries_exec_only", {})
    rows = []
    for n in sorted(q32, key=lambda n: -q32[n]):
        if n not in q8:
            continue
        r = q8[n] / q32[n] if q32[n] else None
        re = (e8.get(n) / e32.get(n)) if e32.get(n) and e8.get(n) is not None else None
        # classification: parallel when the 8-core wall is >=2x the
        # 32-core wall (half the ideal 4x — the bar a mixed build+exec
        # wall can realistically clear); serial-ish when <1.3x.
        cls = (
            "parallelises" if r is not None and r >= 2.0
            else ("partial" if r is not None and r >= 1.3 else "serial/driver-bound")
        )
        rows.append(
            {
                "query": n,
                "wall_32c": q32[n],
                "wall_8c": q8[n],
                "ratio": round(r, 2) if r is not None else None,
                "exec_ratio": round(re, 2) if re is not None else None,
                "class": cls,
            }
        )
    out = {
        "protocol": (
            "same tree, same 40-query subset (heaviest sf1 walls), "
            "SPARK_GRAFT_CPUS=32 vs 8, duck leg off; warm = min-of-3 "
            "full build+execute; ratio = wall_8c / wall_32c "
            "(ideal 4.0 for a fully parallel query)"
        ),
        "total_32c": a32["value"],
        "total_8c": a8["value"],
        "total_ratio": round(a8["value"] / a32["value"], 2),
        "exec_total_32c": a32.get("exec_only_total"),
        "exec_total_8c": a8.get("exec_only_total"),
        "sched_floor_32c": a32.get("sched_floor_start_sec"),
        "sched_floor_8c": a8.get("sched_floor_start_sec"),
        "rows": rows,
    }
    with open(os.path.join(REPO, "SF1_SCALING_r12.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print("| query | 32c s | 8c s | 8c/32c | exec 8c/32c | class |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['query']} | {r['wall_32c']} | {r['wall_8c']} | "
            f"{r['ratio']} | {r['exec_ratio']} | {r['class']} |"
        )
    n_par = sum(1 for r in rows if r["class"] == "parallelises")
    n_part = sum(1 for r in rows if r["class"] == "partial")
    n_ser = sum(1 for r in rows if r["class"] == "serial/driver-bound")
    print(
        f"\ntotal {out['total_8c']} / {out['total_32c']} = "
        f"{out['total_ratio']}x | parallelises {n_par} · partial {n_part} "
        f"· serial {n_ser}"
    )


if __name__ == "__main__":
    main()
