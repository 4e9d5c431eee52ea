"""Compare two sets of benchmark records metric by metric.

    python3 ubbench/compare.py BASE NEW

BASE and NEW are each a record file, a directory of records or a glob
(records are written to ``.ubbench_work/records/`` by ``run.py``). For
every metric the two sides share, prints each side's median and
quartiles, the run count, and the ratio NEW/BASE of the medians. Refuses
records taken with different cpu counts or workloads. Comparing untraced
records with traced ones gives the tracing overhead (the ``pass_s`` row).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys


def load(spec: str) -> list[dict]:
    paths = sorted(glob.glob(os.path.join(spec, "*.json"))) if os.path.isdir(spec) else sorted(glob.glob(spec))
    if not paths:
        raise SystemExit(f"no records match {spec!r}")
    records = []
    for p in paths:
        with open(p) as f:
            records.append(json.load(f))
    return records


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _one(records: list[dict], key, what: str):
    found = {key(r) for r in records}
    if len(found) != 1:
        raise SystemExit(f"refusing: records mix {what}: {sorted(found)}")
    return found.pop()


def compare(base: list[dict], new: list[dict]) -> list[str]:
    cpus = {_one(side, lambda r: r["host"]["cpus"], "cpu counts") for side in (base, new)}
    workloads = {_one(side, lambda r: r["workload"], "workloads") for side in (base, new)}
    if len(cpus) > 1:
        raise SystemExit(f"refusing: cpu counts differ between sides: {sorted(cpus)}")
    if len(workloads) > 1:
        raise SystemExit(f"refusing: workloads differ between sides: {sorted(workloads)}")
    lines = [
        f"workload {workloads.pop()}, cpus {cpus.pop()}; "
        f"base {len(base)} runs (trace {sorted({r['trace'] for r in base})}), "
        f"new {len(new)} runs (trace {sorted({r['trace'] for r in new})})",
        f"{'metric':34} {'base q1':>12} {'base med':>12} {'base q3':>12} "
        f"{'new q1':>12} {'new med':>12} {'new q3':>12} {'new/base':>9}",
    ]
    names = [n for n in base[0]["all_metrics"] if all(
        isinstance(r["all_metrics"].get(n), (int, float)) for r in base + new
    )]
    for name in names:
        a = quartiles([r["all_metrics"][name] for r in base])
        b = quartiles([r["all_metrics"][name] for r in new])
        ratio = f"{b[1] / a[1]:9.4f}" if a[1] else f"{'-':>9}"
        lines.append(
            f"{name:34} " + " ".join(f"{v:12.6g}" for v in (*a, *b)) + f" {ratio}"
        )
    for side, records in (("base", base), ("new", new)):
        steal = [r["host"]["steal_share"] for r in records]
        probe = [t for r in records for t in r["host"]["cpu_probe_s"]]
        lines.append(
            f"{side} host: steal share {min(steal):.4f}..{max(steal):.4f}, "
            f"cpu probe {min(probe):.3f}..{max(probe):.3f} s"
        )
    return lines


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)
    print("\n".join(compare(load(args.base), load(args.new))))


if __name__ == "__main__":
    sys.exit(main())
