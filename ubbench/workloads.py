"""The benchmark's workloads: a fixed op mix per pass, checked afterwards.

A workload runs passes of its op mix against one Spark session from one
client thread (a closed loop: each call starts when the previous one
returned). Each call into the engine is timed on its own; the
benchmark's own bookkeeping between calls (digests, equality checks) is
outside every timed interval. Outputs are checked against independent
expectations after the last pass, outside the timed region.
"""

from __future__ import annotations

import glob
import os
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext

import numpy as np

from ubbench import datagen
from ubbench.trace import SparkCounters, Tracer

RANK_QUERIES = (
    "q_exact_quantiles",
    "q_order_price_ranks",
    "q_price_deciles",
    "q_ks_test",
    "q_spearman_qty_price",
    "q_gini_revenue",
)

# Spark counts of a call and the layer metric each one feeds.
_COUNT_METRICS = {
    "jobs": "operators.jobs",
    "stages": "operators.stages",
    "tasks": "operators.tasks",
    "shuffles": "operators.shuffles",
    "reused_exchanges": "operators.reused_exchanges",
    "shuffle_records": "operators.shuffle_records",
    "shuffle_bytes": "operators.shuffle_bytes",
    "spill_bytes": "operators.spill_bytes",
    "peak_memory_bytes": "operators.peak_memory_bytes",
    "broadcast_bytes": "operators.broadcast_bytes",
    "python_nodes": "operators.python_nodes",
    "scan_rows": "io.scan_rows",
    "scan_bytes": "io.scan_bytes",
    "write_bytes": "io.write_bytes",
}


class Pass:
    """One pass of a workload's op mix: call timings, samples and counts.

    ``op_s`` holds each call's time, from which the run's ``pass_s`` is
    taken; ``busy_s`` sums the timed calls; ``wall_s`` is the whole pass
    including bookkeeping and, when traced, the tracing itself."""

    def __init__(self, no: int, tracer: Tracer, counters: SparkCounters | None):
        self.no = no
        self.traced = counters is not None
        self.tracer = tracer
        self.counters = counters
        self.busy_s = 0.0
        self.wall_s = 0.0
        self.totals: Counter = Counter()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.op_s: dict[str, float] = {}

    @contextmanager
    def call(self, metric: str, op: str, *, construct: bool = False):
        """Time one call into a layer and, in a traced pass, count the
        Spark work it started. Yields the call's Counter of Spark counts
        (empty when untraced). ``construct`` routes the job count to
        ``plans.construct_jobs`` and drops the other counts."""
        counts: Counter = Counter()
        window = self.counters.window(counts) if self.traced else nullcontext()
        with window, self.tracer.span(metric.rsplit("_", 1)[0], f"p{self.no}/{op}"):
            t0 = time.perf_counter()
            yield counts
            dt = time.perf_counter() - t0
        self.busy_s += dt
        self.totals[metric] += dt
        self.samples[metric].append(dt)
        self.op_s[op] = self.op_s.get(op, 0.0) + dt
        if construct:
            self.totals["plans.construct_jobs"] += counts["jobs"]
        else:
            for k, v in counts.items():
                self.totals[_COUNT_METRICS[k]] += v


def _note_error(op: str) -> None:
    print(f"ubbench: {op} raised:\n{traceback.format_exc()}", file=sys.stderr)


class _Collected:
    """Collected rows in the shape ``tests/oracle.assert_matches_oracle``
    reads: ``toPandas()`` built through Arrow, as Spark's own Arrow
    ``toPandas`` builds it, without running the query again."""

    def __init__(self, rows: list, schema) -> None:
        self.rows, self.schema = rows, schema

    def toPandas(self):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        table = pa.Table.from_pylist(
            [r.asDict() for r in self.rows], schema=to_arrow_schema(self.schema)
        )
        return table.to_pandas()


class RankStats:
    """The ranks/quantiles callers on generated TPC-H-style tables."""

    name = "rank_stats"

    def __init__(self, data_dir: str, seed: int) -> None:
        import __spark_entry__ as entry

        self.tables = os.path.join(data_dir, "tables")
        queries, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {q: queries[q] for q in RANK_QUERIES}
        self.oracles = {q: oracles[q] for q in RANK_QUERIES}
        # per query: distinct results as [rows, schema, times seen]
        self.results: dict[str, list[list]] = {q: [] for q in RANK_QUERIES}
        self.attempted = 0
        self.errors = 0

    def run_pass(self, spark, p: Pass) -> None:
        for q, fn in self.queries.items():
            self.attempted += 1
            try:
                with p.call("plans.construct_s", q, construct=True):
                    df = fn(spark, self.tables)
                with p.call("operators.execute_s", q):
                    rows = df.collect()
            except Exception:  # a failed op is counted, the run goes on
                _note_error(q)
                self.errors += 1
                continue
            self._keep(q, rows, df.schema)

    def _keep(self, q: str, rows: list, schema) -> None:
        for seen in self.results[q]:
            if seen[0] == rows:
                seen[2] += 1
                return
        self.results[q].append([rows, schema, 1])

    def check(self, corrupt: bool) -> int:
        """Failed ops: every distinct result against its DuckDB oracle."""
        from tests.oracle import assert_matches_oracle

        failed = self.errors
        for i, q in enumerate(RANK_QUERIES):
            sql = self.oracles[q]
            if corrupt and i == 0:
                sql = f"SELECT * FROM ({sql}) OFFSET 1"
            for rows, schema, times in self.results[q]:
                try:
                    assert_matches_oracle(_Collected(rows, schema), sql, self.tables)
                except Exception as e:  # a wrong output or a failing oracle
                    print(f"ubbench: {q} output wrong: {e!r}", file=sys.stderr)
                    failed += times
        return failed

    def layer_facts(self) -> dict:
        return {}


class EventServing:
    """The paper's lifecycle: ingest raw events, open, look up, sample,
    and serve full epochs through ``collate_batch``."""

    name = "event_serving"
    #: per pass, a quarter of them (rounded down) for absent keys
    LOOKUPS = 10
    #: the 40 lookups of a traced run's four passes leave ten beyond p75;
    #: p90 would leave fewer than ten
    LOOKUP_TAIL_PERCENTILE = 75
    SAMPLES = 3
    SAMPLE_N = 8
    #: a traced run's four passes give twelve first-batch waits
    EPOCHS = 3
    BATCH = 16

    def __init__(self, data_dir: str, seed: int) -> None:
        self.data_dir = data_dir
        self.seed = seed
        self.raw = sorted(glob.glob(os.path.join(data_dir, "raw", "*.npz")))
        keys = []
        for path in self.raw:
            with np.load(path) as z:
                keys.extend(tuple(int(v) for v in k) for k in z["keys"])
        self.n_events = len(keys)
        rng = np.random.default_rng([seed, 3])
        n_absent = self.LOOKUPS // 4
        present = [keys[i] for i in rng.choice(len(keys), self.LOOKUPS - n_absent, replace=False)]
        absent = [(r, s, e + 1) for r, s, e in (keys[i] for i in rng.choice(len(keys), n_absent))]
        self.lookup_keys = present + absent
        rng.shuffle(self.lookup_keys)
        self.attempted = 0
        self.errors = 0
        self.lengths: list[int] = []
        self.lookups: list[tuple] = []  # (key asked, key returned | None, digest)
        self.samples: list[tuple[int, list[tuple]]] = []  # (j, [(key, digest)])
        self.epochs: list[dict] = []
        self.stored_bytes: list[int] = []

    def _op(self, name: str):
        self.attempted += 1
        return name

    def run_pass(self, spark, p: Pass) -> None:
        from ubparquet_spark import ingest, serving

        out = os.path.join(self.data_dir, f"converted_{p.no}")
        try:
            with p.call("ingest.convert_s", self._op("ingest")):
                ingest.convert_and_write(
                    spark, self.raw, datagen.read_raw_events, datagen.EVENT_SCHEMA_DDL, out
                )
            self.stored_bytes.append(
                sum(os.path.getsize(f) for f in glob.glob(os.path.join(out, "*.parquet")))
            )
            with p.call("serving.open_s", self._op("open")):
                ds = serving.EventDataset(spark, out)
                n = len(ds)
            self.lengths.append(n)
        except Exception:
            _note_error("ingest/open")
            self.errors += 1
            return
        for i, key in enumerate(self.lookup_keys):
            try:
                with p.call("serving.lookup_s", self._op(f"lookup{i}")) as counts:
                    ev = ds.get_entry(*key)
            except Exception:
                _note_error(f"lookup{i}")
                self.errors += 1
                continue
            p.totals["serving.lookup_rows_scanned"] += counts["scan_rows"]
            got = None if ev is None else (ev["run"], ev["subrun"], ev["event"])
            self.lookups.append((key, got, None if ev is None else datagen.event_digest(ev)))
        for j in range(self.SAMPLES):
            try:
                with p.call("serving.sample_s", self._op(f"sample{j}")):
                    evs = ds.sample(self.SAMPLE_N, self.seed + j)
            except Exception:
                _note_error(f"sample{j}")
                self.errors += 1
                continue
            self.samples.append(
                (j, [((e["run"], e["subrun"], e["event"]), datagen.event_digest(e)) for e in evs])
            )
        for e in range(self.EPOCHS):
            try:
                self._epoch(ds, p, e)
            except Exception:
                _note_error(f"epoch{e}")
                self.errors += 1

    def _epoch(self, ds, p: Pass, epoch: int) -> None:
        from ubparquet_spark import serving

        op = self._op(f"epoch{epoch}")
        seen, sizes, collate_ok = [], [], True
        wait = collate = 0.0
        first = None
        counts: Counter = Counter()
        window = p.counters.window(counts) if p.traced else nullcontext()
        with window, p.tracer.span("serving.epoch", f"p{p.no}/{op}"):
            batches = ds.epoch_batches(self.BATCH, epoch=epoch, seed=self.seed)
            while True:
                with p.tracer.span("serving.batch_wait", f"p{p.no}/{op}"):
                    t0 = time.perf_counter()
                    batch = next(batches, None)
                    dt = time.perf_counter() - t0
                wait += dt
                if first is None:
                    first = dt
                if batch is None:
                    break
                with p.tracer.span("serving.collate", f"p{p.no}/{op}"):
                    t0 = time.perf_counter()
                    out = serving.collate_batch(batch, ds.tensor_cols)
                    collate += time.perf_counter() - t0
                collate_ok &= _collate_matches(out, batch, ds.tensor_cols)
                sizes.append(len(batch))
                seen.extend(
                    ((b["run"], b["subrun"], b["event"]), datagen.event_digest(b)) for b in batch
                )
        epoch_s = wait + collate
        p.busy_s += epoch_s
        p.op_s[op] = epoch_s
        for k, v in counts.items():
            p.totals[_COUNT_METRICS[k]] += v
        p.totals["serving.epoch_jobs"] += counts["jobs"]
        p.samples["serving.batch_wait_s"].append(wait)
        p.samples["serving.collate_s"].append(collate)
        p.samples["serving.first_batch_s"].append(first)
        p.samples["serving.epoch_s"].append(epoch_s)
        self.epochs.append({"seen": seen, "sizes": sizes, "collate_ok": collate_ok})

    def check(self, corrupt: bool) -> int:
        """Failed ops: every serving result bit for bit against the
        generated events."""
        expected = datagen.expected_events(self.raw)
        if corrupt:
            victim = min(expected)
            expected[victim] = "0" * len(expected[victim])
        failed = self.errors
        failed += sum(n != self.n_events for n in self.lengths)
        for asked, got, digest in self.lookups:
            if asked in expected:
                ok = got == asked and digest == expected[asked]
            else:
                ok = got is None
            failed += not ok
        # sample j is seeded: every pass must draw the same events for it
        first_draw: dict[int, list] = {}
        for j, sample in self.samples:
            keys = sorted(k for k, _ in sample)
            ok = len(sample) == self.SAMPLE_N and len(set(keys)) == len(keys)
            ok &= first_draw.setdefault(j, keys) == keys
            failed += not (ok and all(expected.get(k) == d for k, d in sample))
        for ep in self.epochs:
            sizes = ep["sizes"]
            ok = ep["collate_ok"] and all(s == self.BATCH for s in sizes[:-1])
            ok &= sorted(ep["seen"]) == sorted(expected.items())
            failed += not ok
        return failed

    def layer_facts(self) -> dict:
        """Write/space facts: stored bytes against the bytes handed in."""
        if not self.stored_bytes:
            return {}
        return {
            "user_bytes": datagen.user_bytes(self.raw),
            "stored_bytes": self.stored_bytes[-1],
        }


def _collate_matches(out: dict, batch: list, cols: list[str]) -> bool:
    for c in cols:
        want = np.concatenate([ev[c] for ev in batch], axis=0)
        if out[c].dtype != want.dtype or not np.array_equal(out[c], want):
            return False
    lengths = [ev[cols[0]].shape[0] for ev in batch]
    return np.array_equal(out["batch_offsets"], np.cumsum([0] + lengths[:-1]))


WORKLOADS = {w.name: w for w in (RankStats, EventServing)}
