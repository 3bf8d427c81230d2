"""Summarize the run artifacts in ``.perfbench_out/``, one row per workload:

- ``report.md``: medians of the end-to-end metrics over the untraced runs,
  and their spread (distance between the quartiles over the median);
- ``layers.tsv``: medians of the per-layer metrics over the traced runs, and
  the tracing overhead of each end-to-end metric (traced median over
  untraced median, minus one).

    python3 perfbench/report.py
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

OUT = os.path.join(os.getcwd(), ".perfbench_out")


def load() -> dict[tuple[str, int], list[dict]]:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(OUT, "*-trace[01].json"))):
        with open(path) as fh:
            a = json.load(fh)
        runs.setdefault((a["workload"], a["trace"]), []).append(a)
    return runs


def e2e_medians(arts: list[dict]) -> dict[str, float]:
    return {n: statistics.median(a["end_to_end"][n] for a in arts)
            for n in arts[0]["end_to_end"]}


def spread(values: list[float]) -> float:
    if len(values) < 2 or not statistics.median(values):
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main() -> int:
    runs = load()
    if not runs:
        print(f"no artifacts in {OUT}", file=sys.stderr)
        return 1
    workloads = sorted({w for w, _ in runs})
    untraced = {w: e2e_medians(runs[(w, 0)]) for w in workloads if (w, 0) in runs}
    lines = ["# perfbench: end-to-end medians of untraced runs", ""]
    if untraced:
        names = list(next(iter(untraced.values())))
        lines += ["| workload | runs | " + " | ".join(names) + " |",
                  "|---|---|" + "---|" * len(names)]
        lines += [f"| {w} | {len(runs[(w, 0)])} | " + " | ".join(
            f"{m[n]:.4g}" for n in names) + " |" for w, m in untraced.items()]
        lines += ["", "Spread (interquartile range over median):", "",
                  "| workload | runs | " + " | ".join(names) + " |",
                  "|---|---|" + "---|" * len(names)]
        lines += [f"| {w} | {len(runs[(w, 0)])} | " + " | ".join(
            f"{spread([a['end_to_end'][n] for a in runs[(w, 0)]]):.3f}" for n in names) + " |"
            for w in untraced]
    with open(os.path.join(OUT, "report.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    rows = []
    for w in workloads:
        arts = runs.get((w, 1))
        if not arts:
            continue
        row = {n: statistics.median(a["metrics"][n]["value"] for a in arts)
               for n in arts[0]["metrics"]}
        if w in untraced:
            traced = e2e_medians(arts)
            row.update({f"overhead.{n}": traced[n] / v - 1 if v else 0.0
                        for n, v in untraced[w].items()})
        rows.append((w, len(arts), row))
    if rows:
        cols = list(rows[0][2])
        with open(os.path.join(OUT, "layers.tsv"), "w") as fh:
            fh.write("\t".join(["workload", "traced_runs", *cols]) + "\n")
            for w, n, row in rows:
                fh.write("\t".join([w, str(n), *(f"{row.get(c, 0.0):.6g}" for c in cols)]) + "\n")
    print(os.path.join(OUT, "report.md"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
