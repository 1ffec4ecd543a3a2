"""Work list from traced runs: the queries with the most Spark jobs,
ranked by driver gap (pass wall not covered by any running job).

    python3 perfbench/report.py [--top 20] .perfbench/out/trace-*.json

Each input is the per-query table a ``run.py --trace 1`` run writes.
"""

from __future__ import annotations

import argparse
import json


def work_list(rows: list[dict], top: int) -> list[dict]:
    by_jobs = sorted(rows, key=lambda r: (-r["jobs"], r["query"]))[:top]
    return sorted(by_jobs, key=lambda r: (-r["driver_gap_s"], r["query"]))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("tables", nargs="+")
    args = ap.parse_args(argv)
    rows = []
    for path in args.tables:
        with open(path) as fh:
            rows.extend(json.load(fh))
    print("| Query | Jobs | Driver gap s | Wall s | Build s | Action s | Jobs by layer |")
    print("|---|---|---|---|---|---|---|")
    for r in work_list(rows, args.top):
        layers = ", ".join(f"{k} {v}" for k, v in sorted(r["jobs_by_layer"].items()))
        build = "-" if r["build_s"] is None else f"{r['build_s']:.2f}"
        action = "-" if r["action_s"] is None else f"{r['action_s']:.2f}"
        print(f"| `{r['query']}` | {r['jobs']} | {r['driver_gap_s']:.2f} | "
              f"{r['wall_s']:.2f} | {build} | {action} | {layers} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
