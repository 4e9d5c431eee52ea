"""Benchmark runner: one workload, one seed, one process.

    python3 ubbench/run.py --workload rank_stats --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (in a child interpreter), starts
a Spark session with the engine's own settings on ``local[nproc]``, runs
one warm-up pass and then a fixed number of measured passes, checks every
output, and prints the run's record and, as the last line of standard
output, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run makes four times the measured passes, alternating untraced and
traced (ABBA order), and the metrics are the per-layer ones.

The number of measured passes is fixed by ``--seconds`` (one per
``SECONDS_PER_PASS``), so every run does the same
work: a slow host takes longer instead of stopping earlier on the JIT
warm-up curve. ``pass_s`` is the sum over the pass's calls of each call's
median over the measured passes, so one slow call in one pass does not
move it.

Everything the run writes stays under ``.ubbench_work/`` in the working
directory (inputs, Spark local dirs, temp files, records, traces).
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from ubbench.trace import EXACT_COUNTS, SparkCounters, Tracer  # noqa: E402

WORK_DIR = os.path.join(ROOT, ".ubbench_work")

#: one measured pass per this many ``--seconds``: a steady pass takes
#: 9-16 s on a 4-cpu host. The host's speed drifts far more between runs
#: than between the passes of one run, so more passes would narrow the
#: spread between runs little and would cost run time the run budget
#: does not have.
SECONDS_PER_PASS = 10

#: name -> (unit, better); the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "driver_rss_mb": ("MB", "lower"),
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.jvm_peak_rss_mb": ("MB", "lower"),
    "plans.construct_s": ("s", "lower"),
    "plans.construct_jobs": ("count", "lower"),
    "operators.execute_s": ("s", "lower"),
    "operators.jobs": ("count", "lower"),
    "operators.stages": ("count", "lower"),
    "operators.tasks": ("count", "lower"),
    "operators.shuffles": ("count", "lower"),
    "operators.reused_exchanges": ("count", "higher"),
    "operators.shuffle_records": ("count", "lower"),
    "operators.shuffle_bytes": ("B", "lower"),
    "operators.spill_bytes": ("B", "lower"),
    "operators.peak_memory_bytes": ("B", "lower"),
    "operators.broadcast_bytes": ("B", "lower"),
    "operators.python_nodes": ("count", "lower"),
    "io.scan_rows": ("count", "lower"),
    "io.scan_bytes": ("B", "lower"),
    "io.write_bytes": ("B", "lower"),
    "io.stored_bytes_per_user_byte": ("B/B", "lower"),
    "ingest.convert_s": ("s", "lower"),
    "ingest.events_per_s": ("1/s", "higher"),
    "serving.open_s": ("s", "lower"),
    "serving.lookup_s": ("s", "lower"),
    "serving.lookup_tail_s": ("s", "lower"),
    "serving.lookup_rows_scanned": ("count", "lower"),
    "serving.sample_s": ("s", "lower"),
    "serving.batch_wait_s": ("s", "lower"),
    "serving.first_batch_s": ("s", "lower"),
    "serving.epoch_s": ("s", "lower"),
    "serving.epoch_events_per_s": ("1/s", "higher"),
    "serving.epoch_jobs": ("count", "lower"),
    "serving.collate_s": ("s", "lower"),
    "trace.overhead_share": ("share", "lower"),
}

#: per-pass totals, reported as the median over traced passes
_PASS_TOTALS = (
    "plans.construct_s",
    "plans.construct_jobs",
    *(m for m in PER_LAYER if m.startswith(("operators.", "io.scan", "io.write"))),
    "serving.open_s",
)


def _proc_status_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time the hypervisor stole between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _cpu_probe_s() -> float:
    """Seconds of a fixed single-threaded Python loop. A host-speed fact:
    unlike the steal share it also moves when other tenants slow the shared
    cores and caches, which on a shared host changes every timing here."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def _source_digest() -> str:
    """Digest of the engine sources, so records identify the code measured
    even in a checkout without git metadata."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "ubparquet_spark"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or None


def _percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _steady_pass_s(passes: list) -> float:
    """One steady pass: each call's median over the passes, summed."""
    ops = [op for op in passes[0].op_s if all(op in p.op_s for p in passes)]
    return sum(statistics.median(p.op_s[op] for p in passes) for op in ops)


def _environment(work: str) -> None:
    """Spark on local[nproc], with every scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Spark's Python workers import the raw-event reader from this checkout
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def _generate(workload: str, data_dir: str, seed: int, scale: float) -> None:
    """Generate the inputs in a child interpreter and wait for it to end.
    A plain subprocess, not ``multiprocessing``: a spawned child would also
    start a resource-tracker process that outlives this one."""
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r}); from ubbench import datagen; "
        f"datagen.generate({workload!r}, {data_dir!r}, {seed!r}, {scale!r})"
    )
    child = subprocess.run([sys.executable, "-c", code])
    if child.returncode != 0:
        raise RuntimeError(f"input generation failed with exit code {child.returncode}")


def _settle(spark) -> None:
    """Start every measured pass from the same state: collect garbage in
    the driver and the JVM here, so that the cleanup of the previous
    pass's checkpoints, shuffles and broadcasts is not left to land inside
    a timed call of this one."""
    gc.collect()
    spark._jvm.System.gc()


def _schedule(passes: int, trace: bool) -> list[bool]:
    """Which measured passes are traced: none, or, in a traced run that
    makes four times as many passes, half of them in ABBA order (untraced,
    traced, traced, untraced, ...)."""
    if not trace:
        return [False] * passes
    return [i % 4 in (1, 2) for i in range(4 * passes)]


def run_workload(
    workload: str,
    seed: int,
    seconds: int,
    trace: bool,
    *,
    scale: float = 1.0,
    corrupt: bool = False,
) -> dict:
    """Run one benchmark run and return its record (see module docstring).

    ``scale`` shrinks the inputs (the smoke test uses it); ``corrupt``
    damages one expected output so the checks must report a failure."""
    from ubbench.workloads import WORKLOADS, Pass

    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; one of {sorted(WORKLOADS)}")
    # the engine must be importable before any work is done
    import __spark_entry__  # noqa: F401
    from ubparquet_spark.session import get_session

    # Relative and free of run ids: ingest's round-robin spread of raw files
    # over tasks orders them by a hash of their path, so the same path at
    # one seed gives the same Parquet files in every run and checkout.
    data_dir = os.path.relpath(os.path.join(WORK_DIR, "data", f"{workload}-s{seed}"))
    shutil.rmtree(data_dir, ignore_errors=True)
    _environment(WORK_DIR)
    cpu0 = _cpu_times()
    started = datetime.now(timezone.utc).isoformat(timespec="seconds")
    try:
        _generate(workload, data_dir, seed, scale)
        wl = WORKLOADS[workload](data_dir, seed)
        tracer = Tracer(enabled=False)
        probe_before = _cpu_probe_s()

        t0 = time.perf_counter()
        spark = get_session("ubbench")
        session_s = time.perf_counter() - t0
        counters = SparkCounters(spark) if trace else None
        warm = Pass(0, tracer, None)
        wl.run_pass(spark, warm)
        setup_s = time.perf_counter() - t0
        warm.wall_s = setup_s - session_s

        passes = []
        n_measured = max(1, round(seconds / SECONDS_PER_PASS))
        for i, traced in enumerate(_schedule(n_measured, trace), start=1):
            _settle(spark)
            tracer.enabled = traced
            p = Pass(i, tracer, counters if traced else None)
            t1 = time.perf_counter()
            with tracer.span("pass", f"p{i}"):
                wl.run_pass(spark, p)
            p.wall_s = time.perf_counter() - t1
            passes.append(p)
        tracer.enabled = False
        driver_rss_mb = _proc_status_kb("self", "VmHWM") / 1024
        jvm_rss_mb = _proc_status_kb(spark._jvm.ProcessHandle.current().pid(), "VmHWM") / 1024
        failed = wl.check(corrupt)
        facts = wl.layer_facts()
        host = {
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "nproc": len(os.sched_getaffinity(0)),
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "commit": _commit(),
            "source_digest": _source_digest(),
            "cpu_probe_s": [probe_before, _cpu_probe_s()],
        }
        spark.stop()
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
    host["steal_share"] = _steal_share(cpu0, _cpu_times())

    plain = [p for p in passes if not p.traced]
    traced = [p for p in passes if p.traced]
    # in a traced record, pass_s and pass_wall_s describe the traced passes,
    # so comparing untraced records with traced ones shows what tracing costs
    timed = traced or plain
    measured = {
        "setup_s": setup_s,
        "pass_s": _steady_pass_s(timed),
        "pass_wall_s": statistics.median(p.wall_s for p in timed),
        "driver_rss_mb": driver_rss_mb,
    }
    if traced:
        measured.update(
            _layer_metrics(
                wl, passes, facts, session_s=session_s, jvm_rss_mb=jvm_rss_mb
            )
        )
    names = PER_LAYER if trace else END_TO_END
    return {
        "result": {
            "correct": failed == 0,
            "attempted": wl.attempted,
            "failed": failed,
            "metrics": {
                n: {"value": measured[n], "unit": names[n][0]} for n in names
            },
        },
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "scale": scale,
        "started": started,
        "host": host,
        "passes": [
            {
                "traced": p.traced,
                "busy_s": p.busy_s,
                "wall_s": p.wall_s,
                "op_s": p.op_s,
                "totals": dict(p.totals),
            }
            for p in [warm, *passes]
        ],
        "all_metrics": measured,
        "exact": [n for n in EXACT_COUNTS if trace],
        "spans": tracer.spans,
    }


def _layer_metrics(
    wl, passes: list, facts: dict, *, session_s: float, jvm_rss_mb: float
) -> dict:
    """Per-layer metrics of a traced run. Spark counts come from the traced
    passes; call timings pool every measured pass, because a call's timed
    interval excludes the counter reads."""
    med = statistics.median
    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]
    out = {n: 0.0 for n in PER_LAYER}
    out["session.start_s"] = session_s
    out["session.jvm_peak_rss_mb"] = jvm_rss_mb
    for name in _PASS_TOTALS:
        out[name] = med(p.totals[name] for p in traced)

    def pooled(metric: str) -> list[float]:
        return [s for p in passes for s in p.samples[metric]]

    lookups = pooled("serving.lookup_s")
    if lookups:
        out["serving.lookup_s"] = med(lookups)
        out["serving.lookup_tail_s"] = _percentile(lookups, wl.LOOKUP_TAIL_PERCENTILE)
        out["serving.lookup_rows_scanned"] = sum(
            p.totals["serving.lookup_rows_scanned"] for p in traced
        ) / sum(len(p.samples["serving.lookup_s"]) for p in traced)
    samples = pooled("serving.sample_s")
    if samples:
        out["serving.sample_s"] = med(samples)
    epochs = pooled("serving.epoch_s")
    if epochs:
        out["serving.batch_wait_s"] = med(pooled("serving.batch_wait_s"))
        out["serving.collate_s"] = med(pooled("serving.collate_s"))
        out["serving.epoch_jobs"] = med(
            p.totals["serving.epoch_jobs"] / len(p.samples["serving.epoch_s"])
            for p in traced
        )
        out["serving.first_batch_s"] = med(pooled("serving.first_batch_s"))
        out["serving.epoch_s"] = med(epochs)
        out["serving.epoch_events_per_s"] = wl.n_events / out["serving.epoch_s"]
    convert = pooled("ingest.convert_s")
    if convert:
        out["ingest.convert_s"] = med(convert)
        out["ingest.events_per_s"] = wl.n_events / out["ingest.convert_s"]
    if facts:
        out["io.stored_bytes_per_user_byte"] = facts["stored_bytes"] / facts["user_bytes"]
    out["trace.overhead_share"] = (
        med(p.wall_s for p in traced) / med(p.wall_s for p in plain) - 1.0
    )
    return out


def _save(record: dict) -> str:
    base = f"{record['workload']}-s{record['seed']}-t{record['trace']}-{time.time_ns()}"
    rec_dir = os.path.join(WORK_DIR, "records")
    os.makedirs(rec_dir, exist_ok=True)
    spans = record.pop("spans")
    if spans:
        trace_path = os.path.join(WORK_DIR, "traces", base + ".jsonl")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            for s in sorted(spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
        record["trace_file"] = os.path.relpath(trace_path, ROOT)
    path = os.path.join(rec_dir, base + ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    return path


def _stat(pid: int) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name (state first),
    or None if there is no such process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _descendants(pid: int) -> list[tuple[int, str]]:
    """Every live descendant of ``pid`` as (pid, start time), so that a
    process id reused later is not taken for it."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat(int(entry))) is not None:
            children.setdefault(int(st[1]), []).append((int(entry), st[19]))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += [k for k, _ in kids]
    return out


def _alive(proc: tuple[int, str]) -> bool:
    """Whether the process still runs (a zombie has ended and does not)."""
    st = _stat(proc[0])
    return st is not None and st[19] == proc[1] and st[0] != "Z"


def _wait_gone(procs: list[tuple[int, str]], timeout: float) -> None:
    """Wait until none of ``procs`` runs; kill those left at ``timeout``."""
    deadline = time.monotonic() + timeout
    while alive := [p for p in procs if _alive(p)]:
        if time.monotonic() > deadline:
            for pid, _ in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _stop_jvm() -> None:
    """End the Spark JVM this process started and its Python workers, and
    wait for all of them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers are the JVM's children, not ours: once it has gone they
    # see their input close and exit on their own
    _wait_gone(workers, timeout=30)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        record = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _stop_jvm()
    record["record_file"] = os.path.relpath(_save(record), ROOT)
    result = record.pop("result")
    print(json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
