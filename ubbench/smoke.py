"""Smoke test of the benchmark itself, on tiny inputs.

    python3 ubbench/smoke.py

For every workload in BENCHMARK.json: an untraced and a traced run must
pass their output checks and report exactly the end-to-end and per-layer
metrics BENCHMARK.json lists, with its units; a run whose expected output
was deliberately corrupted must report a failed operation. Also checks
that the metric tables in ``run.py`` match BENCHMARK.json. Exits non-zero
on the first mismatch.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from ubbench import run  # noqa: E402

#: input scale for the smoke runs (the benchmark itself runs at 1.0)
SMOKE_SCALE = 0.05


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: FAILED: {what}")


def _check_spec(bench: dict) -> None:
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in bench[key]}
        _check(listed == table, f"{key} in BENCHMARK.json differs from run.py")
    from ubbench.workloads import WORKLOADS

    _check(
        {w["name"] for w in bench["workloads"]} == set(WORKLOADS),
        "workloads in BENCHMARK.json differ from workloads.py",
    )


def _check_result(result: dict, bench: dict, key: str, what: str) -> None:
    want = {m["name"]: m["unit"] for m in bench[key]}
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    _check(got == want, f"{what}: metrics {sorted(got)} != {key} {sorted(want)}")
    _check(
        all(isinstance(m["value"], (int, float)) for m in result["metrics"].values()),
        f"{what}: a metric value is not a number",
    )
    _check(result["attempted"] >= 1, f"{what}: nothing attempted")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    _check_spec(bench)
    try:
        for w in bench["workloads"]:
            name = w["name"]
            for trace, key in ((False, "end_to_end"), (True, "per_layer")):
                what = f"{name} trace={int(trace)}"
                result = run.run_workload(name, 7, 1, trace, scale=SMOKE_SCALE)["result"]
                _check_result(result, bench, key, what)
                _check(result["correct"] and result["failed"] == 0, f"{what}: outputs wrong")
                print(f"smoke: {what} ok ({result['attempted']} ops)", flush=True)
            result = run.run_workload(name, 7, 1, False, scale=SMOKE_SCALE, corrupt=True)
            result = result["result"]
            _check(
                result["failed"] >= 1 and not result["correct"],
                f"{name}: a corrupted expected output was not reported",
            )
            print(f"smoke: {name} corrupted expectation caught "
                  f"({result['failed']} of {result['attempted']} ops failed)", flush=True)
    finally:
        run._stop_jvm()
    print("smoke: ok")


if __name__ == "__main__":
    main()
