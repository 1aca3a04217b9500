"""Round-10 verdict ask #3: make the sf1 strict weak set epoch-stable.

The strict set (wall AND exec-only > 2x the DuckDB anchor) churned with
the epoch — q212 read 2.3x inside the full sf1 bench but 0.42x in a
clean session with no code change, and four 21-291 ms floor-adjacent
entries swapped in/out between runs. Protocol fix: before a candidate
is COUNTED into the weak set, it is re-probed in a FRESH PROCESS (one
clean Spark session per query — the protocol of the round-10 q134/q212
stage probe, folded in here; that probe is retired and its numbers are
in Q134_Q212_SF1_PROBE.json and SCALING.md), via bench.py's subset
mode so the statistic is
identical (min of SPARK_GRAFT_RUNS full build+execute walls, interleaved
oracle, same toRdd execution). The probe artifact is committed as
SF1_WEAK_PROBE.json and merged into BENCH_SF1_DETAIL.json as the
`weak_set_probed` section; the honest weak set is the candidates whose
CLEAN-SESSION ratios are still > 2x on both lenses.

Usage: python tools/sf1_weak_probe.py [sf1_detail] [sf1_dir]
  defaults: BENCH_SF1_DETAIL.json, /tmp/synth_sf1
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def strict_weak_set(detail: dict) -> list[str]:
    """wall AND exec-only > 2x the per-query DuckDB anchor — the
    round-9/10 verdicts' strict materiality lens at sf1."""
    duck = detail.get("duckdb", {})
    out = []
    for n, w in detail["queries"].items():
        d = duck.get(n)
        if not d:
            continue
        if w > 2 * d and detail["queries_exec_only"].get(n, 0) > 2 * d:
            out.append(n)
    return sorted(out)


def probe_one(name: str, sf1_dir: str, pinned: str) -> dict | None:
    """One clean-session bench.py subset run for `name`; returns the
    per-query numbers from its detail file."""
    out_path = f"/tmp/sf1_probe_{name}.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf1_dir,
        SPARK_GRAFT_QUERIES=name,
        SPARK_GRAFT_DETAIL_OUT=out_path,
        SPARK_GRAFT_PINNED=pinned,
    )
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    if r.returncode != 0:
        print(f"# probe {name} FAILED rc={r.returncode}", file=sys.stderr)
        print(r.stderr[-2000:], file=sys.stderr)
        return None
    try:
        d = json.load(open(out_path))
    except (OSError, ValueError) as e:
        print(f"# probe {name}: no detail ({e})", file=sys.stderr)
        return None
    duck = (d.get("duckdb") or {}).get(name)
    wall = d["queries"].get(name)
    eo = d["queries_exec_only"].get(name)
    rec = {
        "probe_wall": wall,
        "probe_exec_only": eo,
        "probe_duckdb": duck,
        "probe_sched_floor": [
            d.get("sched_floor_start_sec"), d.get("sched_floor_end_sec"),
        ],
    }
    if duck:
        rec["probe_ratio_wall"] = round(wall / duck, 3)
        rec["probe_ratio_exec"] = round(eo / duck, 3)
    return rec


def main():
    detail_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "BENCH_SF1_DETAIL.json"
    )
    sf1_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/synth_sf1"
    detail = json.load(open(detail_path))
    cands = strict_weak_set(detail)
    print(f"# strict weak candidates from bench epoch: {len(cands)}")
    duck = detail.get("duckdb", {})
    probed: dict[str, dict] = {}
    for n in cands:
        rec = probe_one(n, sf1_dir, detail_path) or {"probe_failed": True}
        rec["bench_wall"] = detail["queries"][n]
        rec["bench_exec_only"] = detail["queries_exec_only"].get(n)
        rec["bench_duckdb"] = duck.get(n)
        rec["still_weak"] = bool(
            rec.get("probe_ratio_wall", 99) > 2
            and rec.get("probe_ratio_exec", 99) > 2
        )
        probed[n] = rec
        print(
            f"# {n}: bench {rec['bench_wall']}s vs duck {rec['bench_duckdb']}s"
            f" -> probe wall x{rec.get('probe_ratio_wall')} exec "
            f"x{rec.get('probe_ratio_exec')} still_weak={rec['still_weak']}"
        )
    section = {
        "protocol": (
            "each strict candidate (wall AND exec-only > 2x anchor in the "
            "full-bench epoch) re-probed in a FRESH process via bench.py "
            "subset mode (same min-of-RUNS statistic, interleaved oracle); "
            "counted weak only if the clean-session ratios stay > 2x on "
            "both lenses"
        ),
        "candidates": cands,
        "probes": probed,
        "weak_after_probe": sorted(
            n for n, r in probed.items() if r["still_weak"]
        ),
    }
    with open(os.path.join(REPO, "SF1_WEAK_PROBE.json"), "w") as fh:
        json.dump(section, fh, indent=1)
    detail["weak_set_probed"] = section
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    print(f"# weak after probe: {section['weak_after_probe']}")


if __name__ == "__main__":
    main()
