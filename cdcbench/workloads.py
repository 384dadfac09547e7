"""The benchmark's workloads: closed loops with one client.

Each epoch is handed to the engine only after the previous call returned,
as the apply loop itself works.  After every epoch a fixed burst of serving
reads runs and is collected, as a serving caller would.

``bulk_cow``  catch-up / backfill: large Debezium-JSON epochs decoded with
              ``parse_cdc`` and merged copy-on-write.  Its reads are the
              control for read-path changes (no delta chains on COW).
``serve_mor`` freshness and serving: small epochs on recently active
              conversations through the production entry point
              ``apply_changes`` into a merge-on-read table, with a lineage
              log; the table is optimized every few epochs inside the timed
              window.  Traced runs also keep SCD2 and aggregate tables and
              refresh them after the window.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from dataingestion_spark.config import DatasetConfig
from dataingestion_spark.lake import sync
from dataingestion_spark.lake.table import LakeTable
from dataingestion_spark.sources import cdc_formats
from dataingestion_spark.streaming import pipeline

import gate
import host
import inputs
from inputs import Events, Stream
from spans import TARGETS, Tracer

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
CHANGE_SCHEMA = T.StructType(
    [T.StructField("op", T.StringType())]
    + list(TABLE_SCHEMA.fields)
    + [T.StructField("lsn", T.LongType()), T.StructField("source_file", T.StringType())]
)
KEY_FIELDS = [("conv_id", "string"), ("turn_idx", "int")]
PAYLOAD_FIELDS = [("role", "string"), ("text", "string"), ("tool", "string"), ("ts", "timestamp")]

NUM_BUCKETS = 16
# Untimed warm-up epochs; all but the first also run their read burst (the
# first burst is the cold one).  A fixed count keeps the timed epochs and the
# table they start from the same in every run of a seed.
WARMUP_EPOCHS = 3
# At the run_seconds of BENCHMARK.json these minimums set the run length, so
# every run of a workload times the same epochs.
MIN_TIMED_EPOCHS = {"bulk_cow": 5, "serve_mor": 4}
READ_KEYS, READ_CONVS = 8, 4
# serve_mor maintenance: each cycle of OPTIMIZE_EVERY timed epochs ends with
# one optimize, and a run times whole cycles, so every run amortizes the same
# share of maintenance.
OPTIMIZE_EVERY = 2

# Sizes for a 4-core host; see README.md for how they were chosen.
SIZES = {
    "bulk_cow": dict(n_convs=500, turns=64, epoch_events=20_000, active=None),
    "serve_mor": dict(n_convs=500, turns=64, epoch_events=15_000, active=6),
}

END_TO_END = {
    "apply_eps": "events/s",
    "epoch_s.p50": "s",
    "read_keys_ms.p50": "ms",
    "read_prefix_ms.p50": "ms",
    "changes_ms.p50": "ms",
    "cpu_s_per_kevent": "s",
    "bytes_per_live_row": "B",
    "success_rate": "fraction",
    "setup_s": "s",
}

_PLANS = ("cow-union", "cow-broadcast", "cow-join", "mor-delta")
_READS = ("read_keys", "read_prefix", "changes")
_SYNCS = ("sync_scd2", "sync_aggregate")
PER_LAYER = (
    ["decode.ms_per_kevent", "merge.input_passes"]
    + [
        f"merge.{m}"
        for m in (
            "shuffle_bytes_per_event", "exec_run_ms", "exec_cpu_ms", "gc_ms",
            "task_skew", "bytes_written_per_event", "files_added",
            "buckets_touched", "jobs", "stages", "tasks", "driver_ms",
        )
    ]
    + [f"merge.plan.{p}" for p in _PLANS]
    + [
        f"{r}.{m}"
        for r in _READS
        for m in ("jobs", "driver_ms", "rows_scanned_per_row", "bytes_scanned", "p90_ms")
    ]
    + ["table.deltas_per_bucket.max", "scd2.read_prefix_ms"]
    + ["optimize.ms", "optimize.jobs", "optimize.bytes_rewritten"]
    + [
        f"{s}.{m}"
        for s in _SYNCS
        for m in ("ms", "jobs", "shuffle_bytes_per_changed_row", "rows_scanned_per_changed_row")
    ]
    + ["stream.overhead_ms", "stream.wal_commit_ms", "lineage.record_ms"]
    + [f"{name}.self_ms" for _, _, name in TARGETS]
    + ["epoch.p90_s", "trace.overhead_ms"]
    + ["host.steal_s", "host.calib_ms", "host.loadavg"]
)


def per_layer_unit(name: str) -> str:
    """The unit of a PER_LAYER metric, from its name."""
    if name.startswith("merge.plan.") or name.endswith(
        ("jobs", "stages", "tasks", "files_added", "buckets_touched", ".max")
    ):
        return "count"
    if name.endswith("_per_event"):
        return "B/event"
    if name.endswith("shuffle_bytes_per_changed_row"):
        return "B/row"
    if name.endswith(("_per_row", "_per_changed_row", "input_passes", "task_skew")):
        return "ratio"
    if name.endswith("ms_per_kevent"):
        return "ms/kevent"
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes_scanned", "bytes_rewritten")):
        return "B"
    return "1"


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _p90(xs):
    if not xs:
        return 0.0
    return float(np.quantile(np.asarray(xs, dtype=float), 0.9))


class Run:
    """State of one benchmark run: the closed loop, its samples and counts."""

    def __init__(self, spark, name, seed, seconds, trace, work, sizes=None):
        self.spark = spark
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.sizes = dict(sizes or SIZES[name])
        self.stream = Stream(seed, **self.sizes)
        self.tracer = Tracer(spark)
        self.cpu = host.CpuMeter(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: list[dict] = []  # per timed epoch: plan, files, ...
        self.attempted = 0
        self.failed = 0
        self.timed = False
        self.timed_s = 0.0
        self.apply_window_s = 0.0
        self.timed_events = 0
        self.cpu_s = 0.0
        self.applied: list[Events] = []
        self.last_reads = None
        self.setup_parts: dict[str, float] = {}
        self.gen_s = 0.0  # input generation, excluded from setup and timing
        self.extra = None  # derived-table paths, when the workload has them
        self.calib_ms: list[float] = []  # before and after the timed window
        for d in ("in", "tables", "src", "tmp"):
            os.makedirs(os.path.join(work, d), exist_ok=True)

    # -- one timed operation ------------------------------------------------
    def op(self, fn):
        """Run ``fn`` once; a failure is counted, not retried."""
        c0, t0 = self.cpu.read(), time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        dt = time.perf_counter() - t0
        if self.timed:
            self.cpu_s += self.cpu.read() - c0
            self.attempted += 1
            self.failed += not ok
            self.timed_s += dt
        return ok, out, dt

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    # -- setup --------------------------------------------------------------
    def bootstrap(self) -> LakeTable:
        """Create the table and load it with the bootstrap events."""
        t = time.perf_counter()
        boot = self.stream.bootstrap()
        path = self.path("in", "bootstrap.parquet")
        inputs.write_parquet(boot, path)
        self.gen_s += time.perf_counter() - t
        t = time.perf_counter()
        tbl = LakeTable.create(
            self.spark, self.path("tables", "src"), TABLE_SCHEMA,
            pk_fields=inputs.PK, order_fields=["lsn", "ts"], num_buckets=NUM_BUCKETS,
        )
        tbl.merge(self.spark.read.parquet(path), pipeline_id="bootstrap", epoch_id=0)
        self.applied.append(boot)
        self.setup_parts["bootstrap_s"] = time.perf_counter() - t
        return tbl

    # -- the serving read burst ------------------------------------------------
    def pick_reads(self, ev: Events, k: int):
        rng = np.random.default_rng([self.seed, 2, k])
        idx = rng.choice(len(ev), READ_KEYS - 2, replace=False)
        keys = [(f"conv_{c:06d}", int(t)) for c, t in zip(ev.conv[idx], ev.turn[idx])]
        # two keys that may be absent: exercises the bloom skip
        keys += [
            (f"conv_{int(c):06d}", int(t))
            for c, t in zip(
                rng.integers(0, self.sizes["n_convs"], 2),
                rng.integers(self.sizes["turns"], 2 * self.sizes["turns"], 2),
            )
        ]
        convs = sorted({f"conv_{c:06d}" for c in ev.conv[rng.choice(len(ev), READ_CONVS * 4)]})
        return keys, convs[:READ_CONVS]

    def burst(self, tbl: LakeTable, ev: Events, k: int, v0: int, v1: int) -> None:
        keys, convs = self.pick_reads(ev, k)
        tr = self.tracer
        if self.timed:
            self.samples["deltas_max"].append(tbl.describe()["max_delta_chain"])

        def read_keys():
            with tr.span("q.read_keys") as rec:
                rows = tbl.read_keys(keys).collect()
                rec["rows"] = len(rows)
            return rows

        def read_prefix():
            with tr.span("q.read_prefix") as rec:
                rows = tbl.read_prefix(convs).collect()
                rec["rows"] = len(rows)
            return rows

        def changes():
            with tr.span("q.changes"):
                tbl.read_changes(v0, v1).write.format("noop").mode("overwrite").save()

        ok_k, rows_k, dt_k = self.op(read_keys)
        ok_p, rows_p, dt_p = self.op(read_prefix)
        ok_c, _, dt_c = self.op(changes)
        done = [
            (ok_k, "read_keys_s", dt_k),
            (ok_p, "read_prefix_s", dt_p),
            (ok_c, "changes_s", dt_c),
        ]
        if self.timed:
            for ok, name, dt in done:
                if ok:
                    self.samples[name].append(dt)
        if tr.enabled:
            # untimed: rows the changes read returned, for its scan ratio
            n = tbl.read_changes(v0, v1).count()
            for rec in reversed(tr.spans):
                if rec["name"] == "q.changes":
                    rec["rows"] = n
                    break
        if ok_k and ok_p:
            self.last_reads = (keys, rows_k, convs, rows_p)

    def layout_delta(self, tbl: LakeTable, v0: int, v1: int) -> dict:
        a, b = tbl.snapshot(v0), tbl.snapshot(v1)
        before = {f for fl in list(a.files.values()) + list(a.deltas.values()) for f in fl}
        added, touched = 0, set()
        for kind in ("files", "deltas"):
            old, new = getattr(a, kind), getattr(b, kind)
            for bucket in set(old) | set(new):
                if old.get(bucket, []) != new.get(bucket, []):
                    touched.add(bucket)
                added += sum(1 for f in new.get(bucket, []) if f not in before)
        return {"files_added": added, "buckets_touched": len(touched)}

    # -- the loop -------------------------------------------------------------
    def loop(self, epoch_fn, epochs: int | None = None, cycle: int = 1) -> None:
        """Warm up, then run timed epochs for ``seconds`` of timed
        operations, rounded up to whole cycles of ``cycle`` epochs (or for
        exactly ``epochs``).  ``self.slot`` is the epoch's index within its
        phase.

        ``epoch_fn(k)`` applies epoch ``k`` and returns its time and the
        epoch's read burst.  Warm-up runs the bursts of all but its first
        epoch, so the read paths are compiled before timing starts.

        A traced run traces half of the timed epochs and runs the others
        untraced; the difference of their step times (epoch plus read burst)
        is the tracing overhead."""
        warm, warm_reads = [], []
        for k in range(WARMUP_EPOCHS):
            self.slot = k
            epoch_s, burst = epoch_fn(k)
            t = time.perf_counter()
            if k:
                burst()
            warm.append(epoch_s)
            warm_reads.append(time.perf_counter() - t)
        k = WARMUP_EPOCHS
        self.setup_parts["warmup_epochs"] = warm
        self.setup_parts["warmup_bursts"] = warm_reads
        self.calib_ms = [host.calibrate(self.spark)]
        self.setup_end = (time.time(), self.gen_s)
        self.steal0 = host.steal_s()
        self.timed = True
        n = 0
        while (
            n < epochs
            if epochs is not None
            else (
                self.timed_s < self.seconds or n < MIN_TIMED_EPOCHS[self.name] or n % cycle
            )
        ):
            self.slot = n
            # alternate within and across cycles, so that traced and untraced
            # epochs sit at every position of a maintenance cycle equally
            traced = bool(self.trace) and (n // cycle + n % cycle) % 2 == 0
            self.tracer.enabled = traced
            self.tracer.request_id = k
            epoch_s, burst = epoch_fn(k)
            b0 = self.timed_s
            burst()
            if self.trace:
                step = "traced_step_s" if traced else "untraced_step_s"
                self.samples[step].append(epoch_s + self.timed_s - b0)
            self.tracer.enabled = False
            if self.trace:
                self.tracer.harvest()
            k += 1
            n += 1
        self.timed = False
        self.steal_s = host.steal_s() - self.steal0
        self.calib_ms.append(host.calibrate(self.spark))


def _nothing() -> None:
    pass


# ---------------------------------------------------------------------------
# bulk_cow
# ---------------------------------------------------------------------------
def bulk_cow(run: Run, epochs: int | None = None) -> dict:
    spark = run.spark
    t, g0 = time.perf_counter(), run.gen_s
    tbl = run.bootstrap()
    run.setup_parts["table_s"] = time.perf_counter() - t - (run.gen_s - g0)

    def decode(path):
        raw = spark.read.parquet(path)
        return cdc_formats.parse_cdc(
            raw, "debezium", payload_fields=PAYLOAD_FIELDS, key_fields=KEY_FIELDS
        ).drop("ts_ms")

    def epoch(k: int) -> float:
        t = time.perf_counter()
        ev = run.stream.epoch(k)
        path = run.path("in", f"e{k:05d}.parquet")
        in_bytes = inputs.write_debezium(ev, path)
        run.gen_s += time.perf_counter() - t
        if run.tracer.enabled:
            # untimed: the decode alone, forced through the noop sink
            with run.tracer.span("decode") as rec:
                decode(path).write.format("noop").mode("overwrite").save()
                rec["events"] = len(ev)
        v0 = tbl.current_version()
        with run.tracer.span("epoch", events=len(ev), epoch_bytes=in_bytes):
            ok, snap, dt = run.op(
                lambda: tbl.merge(decode(path), pipeline_id="bulk", epoch_id=k)
            )
        if not ok:
            return dt, _nothing
        run.applied.append(ev)
        v1 = snap.version
        if run.timed:
            run.samples["epoch_s"].append(dt)
            run.apply_window_s += dt
            run.timed_events += len(ev)
            run.counts.append(
                {"plan": snap.summary.get("merge_plan"), **run.layout_delta(tbl, v0, v1)}
            )
        return dt, lambda: run.burst(tbl, ev, k, v0, v1)

    run.loop(epoch, epochs)
    return finish(run, tbl)


# ---------------------------------------------------------------------------
# serve_mor
# ---------------------------------------------------------------------------
def serve_mor(run: Run, epochs: int | None = None) -> dict:
    spark = run.spark
    t, g0 = time.perf_counter(), run.gen_s
    tbl = run.bootstrap()
    hist, agg = run.path("tables", "scd2"), run.path("tables", "agg")
    tbl.update_bloom_index()
    # The derived tables only exist in traced runs: lake.sync runs after the
    # timed window and feeds per-layer metrics only, and at ~5 s per sync
    # on a 4-vCPU VM it would cost every untraced run a fifth of its budget.
    derived = bool(run.trace)
    if derived:
        # seeded at the source's bucket count
        sync.sync_scd2(tbl, hist, num_buckets=NUM_BUCKETS)
        sync.sync_aggregate(
            tbl, agg, group_cols=["conv_id"], sums=["turn_idx"], num_buckets=NUM_BUCKETS
        )
    run.setup_parts["table_s"] = time.perf_counter() - t - (run.gen_s - g0)
    cfg = DatasetConfig(
        name="serve", table_path=str(tbl.root), num_buckets=NUM_BUCKETS, write_mode="mor"
    )
    src, ckpt, lin = run.path("src"), run.path("ckpt"), run.path("lineage")
    run.extra = {"hist": hist, "agg": agg} if derived else None

    def trigger():
        q = pipeline.apply_changes(
            spark, cfg, src, ckpt, schema=CHANGE_SCHEMA, lineage_path=lin,
            max_files_per_trigger=1, available_now=True,
        )
        q.awaitTermination()
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(prog) != 1:
            raise RuntimeError(f"expected one trigger with input, got {len(prog)}")
        return prog[0]

    def refresh():
        sync.sync_scd2(tbl, hist)
        sync.sync_aggregate(tbl, agg, group_cols=["conv_id"], sums=["turn_idx"])

    def epoch(k: int) -> float:
        t = time.perf_counter()
        ev = run.stream.epoch(k)
        in_bytes = inputs.write_parquet(ev, os.path.join(src, f"f{k:05d}.parquet"))
        run.gen_s += time.perf_counter() - t
        v0 = tbl.current_version()
        with run.tracer.span("trigger", events=len(ev), epoch_bytes=in_bytes):
            ok, prog, _ = run.op(trigger)
        if not ok:
            return 0.0, _nothing
        run.applied.append(ev)
        d = prog["durationMs"]
        trig_s = d["triggerExecution"] / 1e3
        v1 = tbl.current_version()
        window = trig_s
        if run.timed:
            run.samples["stream_overhead_ms"].append(d["triggerExecution"] - d.get("addBatch", 0))
            run.samples["wal_commit_ms"].append(d.get("walCommit", 0))
            snap = tbl.snapshot(v1)
            run.counts.append(
                {"plan": snap.summary.get("merge_plan"), **run.layout_delta(tbl, v0, v1)}
            )
        if _optimize_due(run):
            # A traced run traces every timed optimize: it falls on the
            # untraced epochs, and is not part of the step times that the
            # tracing overhead compares.
            traced, run.tracer.enabled = run.tracer.enabled, bool(run.trace and run.timed)
            with run.tracer.span("maint.optimize"):
                ok, _, dt = run.op(lambda: tbl.optimize(max_delta_files_per_bucket=4))
            run.tracer.enabled = traced
            window += dt
        if run.timed:
            run.samples["epoch_s"].append(trig_s)
            run.apply_window_s += window
            run.timed_events += len(ev)
        return trig_s, lambda: run.burst(tbl, ev, k, v0, v1)

    run.loop(epoch, epochs, cycle=OPTIMIZE_EVERY)
    if not derived:
        return finish(run, tbl)
    # Derived-table refresh over every change since setup, then a history
    # read; timed and traced on their own, outside the window.
    run.tracer.enabled = True
    run.tracer.request_id = "refresh"
    with run.tracer.span("maint.sync"):
        ok, _, dt = run.op(refresh)
    if ok:
        conv = f"conv_{int(run.applied[-1].conv[0]):06d}"
        with run.tracer.span("q.scd2_prefix"):
            ok, _, dt = run.op(lambda: LakeTable(spark, hist).read_prefix([conv]).collect())
        if ok:
            run.samples["scd2_prefix_s"].append(dt)
    run.tracer.harvest()
    run.tracer.enabled = False
    return finish(run, tbl)


def _optimize_due(run: Run) -> bool:
    """The last epoch of each timed cycle optimizes, and so does the last
    warm-up epoch: every timed cycle starts from compacted buckets."""
    if run.timed:
        return run.slot % OPTIMIZE_EVERY == OPTIMIZE_EVERY - 1
    return run.slot == WARMUP_EPOCHS - 1


WORKLOADS = {"bulk_cow": bulk_cow, "serve_mor": serve_mor}


# ---------------------------------------------------------------------------
# correctness gate and metrics
# ---------------------------------------------------------------------------
def check(run: Run, tbl: LakeTable) -> tuple[list[str], pd.DataFrame]:
    """Every check of the gate; returns the mismatches and the state."""
    state = tbl.read().select(*gate.COLS).toPandas()
    errors = []
    want = gate.expected_state(Events.concat(run.applied))
    errors.append(gate.diff(state, want, "final state vs oracle"))
    if run.last_reads is None:
        errors.append("no read burst completed")
    else:
        keys, rows_k, convs, rows_p = run.last_reads
        errors.append(gate.diff(_rows(rows_k), gate.filter_keys(state, keys), "read_keys sample"))
        errors.append(
            gate.diff(_rows(rows_p), gate.filter_convs(state, convs), "read_prefix sample")
        )
    if run.extra:
        hist = LakeTable(run.spark, run.extra["hist"]).read().toPandas()
        cur = hist[hist["is_current"].astype(bool)]
        errors.append(gate.diff(cur, state, "scd2 current rows vs source"))
        view = LakeTable(run.spark, run.extra["agg"]).read().toPandas()
        cols = ["conv_id", "n_rows", "sum_turn_idx"]
        errors.append(
            gate.diff(view, gate.aggregate_view(state), "aggregate view vs groupBy", cols)
        )
    return [e for e in errors if e], state


def _rows(rows) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in rows], columns=gate.COLS)


def finish(run: Run, tbl: LakeTable) -> dict:
    errors, state = check(run, tbl)
    size = tbl.describe(with_sizes=True)["total_bytes"]
    s = run.samples
    e2e = {
        "apply_eps": run.timed_events / run.apply_window_s if run.apply_window_s else 0.0,
        "epoch_s.p50": _median(s["epoch_s"]),
        "read_keys_ms.p50": _median(s["read_keys_s"]) * 1e3,
        "read_prefix_ms.p50": _median(s["read_prefix_s"]) * 1e3,
        "changes_ms.p50": _median(s["changes_s"]) * 1e3,
        "cpu_s_per_kevent": run.cpu_s / (run.timed_events / 1e3) if run.timed_events else 0.0,
        "bytes_per_live_row": size / len(state) if len(state) else 0.0,
        "success_rate": 1.0 - run.failed / max(run.attempted, 1),
    }
    return {
        "errors": errors,
        "e2e": e2e,
        "live_rows": len(state),
        "epochs": len(s["epoch_s"]),
        "plans": [c["plan"] for c in run.counts],
    }


def layer_metrics(run: Run) -> dict:
    """Every PER_LAYER metric of a traced run; layers the workload does not
    exercise report 0."""
    tr, s = run.tracer, run.samples
    spans = tr.spans
    by_id = {x["id"]: x for x in spans}

    def named(name, parents=None):
        out = [x for x in spans if x["name"] == name and x.get("end")]
        if parents is not None:
            out = [
                x for x in out
                if x["parent"] is not None and by_id[x["parent"]]["name"] in parents
            ]
        return out

    def incl(x, key):
        return tr.inclusive(x, key)

    def dur_ms(x):
        return (x["end"] - x["start"]) * 1e3

    m: dict[str, float] = {}
    dec = named("decode")
    m["decode.ms_per_kevent"] = _median([dur_ms(x) / (x["events"] / 1e3) for x in dec])
    merges = named("merge", parents={"epoch", "trigger"})
    epochs = {x["request"]: by_id[x["parent"]] for x in merges}

    def per_merge(fn):
        return _median([fn(x, epochs[x["request"]]) for x in merges])

    m["merge.input_passes"] = per_merge(lambda x, e: x["input_bytes"] / e["epoch_bytes"])
    m["merge.shuffle_bytes_per_event"] = per_merge(
        lambda x, e: x["shuffle_write_bytes"] / e["events"]
    )
    m["merge.exec_run_ms"] = per_merge(lambda x, e: x["exec_run_ms"])
    m["merge.exec_cpu_ms"] = per_merge(lambda x, e: x["exec_cpu_ns"] / 1e6)
    m["merge.gc_ms"] = per_merge(lambda x, e: x["gc_ms"])
    m["merge.task_skew"] = per_merge(lambda x, e: x["task_skew"])
    m["merge.bytes_written_per_event"] = per_merge(lambda x, e: x["output_bytes"] / e["events"])
    m["merge.files_added"] = _median([c["files_added"] for c in run.counts])
    m["merge.buckets_touched"] = _median([c["buckets_touched"] for c in run.counts])
    for k in ("jobs", "stages", "tasks"):
        m[f"merge.{k}"] = per_merge(lambda x, e, k=k: x[k])
    m["merge.driver_ms"] = per_merge(lambda x, e: dur_ms(x) - x["job_s"] * 1e3)
    plans = Counter(c["plan"] for c in run.counts)
    for p in _PLANS:
        m[f"merge.plan.{p}"] = plans.get(p, 0)
    for r in _READS:
        qs = named(f"q.{r}")
        m[f"{r}.jobs"] = _median([incl(x, "jobs") for x in qs])
        m[f"{r}.driver_ms"] = _median([dur_ms(x) - incl(x, "job_s") * 1e3 for x in qs])
        m[f"{r}.rows_scanned_per_row"] = _median(
            [incl(x, "input_rows") / x["rows"] for x in qs if x.get("rows")]
        )
        m[f"{r}.bytes_scanned"] = _median([incl(x, "input_bytes") for x in qs])
        m[f"{r}.p90_ms"] = _p90(s[f"{r}_s"]) * 1e3
    m["table.deltas_per_bucket.max"] = max(s["deltas_max"], default=0)
    m["scd2.read_prefix_ms"] = _median(s["scd2_prefix_s"]) * 1e3
    opt = named("optimize")
    m["optimize.ms"] = _median([dur_ms(x) for x in opt])
    m["optimize.jobs"] = _median([incl(x, "jobs") for x in opt])
    m["optimize.bytes_rewritten"] = _median([incl(x, "output_bytes") for x in opt])
    for name in _SYNCS:
        xs = [x for x in named(name, parents={"maint.sync"}) if x.get("result") is not None]
        changed = [max(x["result"].summary.get("applied_events") or 0, 1) for x in xs]
        m[f"{name}.ms"] = _median([dur_ms(x) for x in xs])
        m[f"{name}.jobs"] = _median([incl(x, "jobs") for x in xs])
        m[f"{name}.shuffle_bytes_per_changed_row"] = _median(
            [incl(x, "shuffle_write_bytes") / c for x, c in zip(xs, changed)]
        )
        m[f"{name}.rows_scanned_per_changed_row"] = _median(
            [incl(x, "input_rows") / c for x, c in zip(xs, changed)]
        )
    m["stream.overhead_ms"] = _median(s["stream_overhead_ms"])
    m["stream.wal_commit_ms"] = _median(s["wal_commit_ms"])
    m["lineage.record_ms"] = _median([dur_ms(x) for x in named("lineage.record")])
    for _, _, name in TARGETS:
        m[f"{name}.self_ms"] = _median([tr.self_s(x) * 1e3 for x in named(name)])
    m["epoch.p90_s"] = _p90(s["epoch_s"])
    m["trace.overhead_ms"] = (
        _median(s["traced_step_s"]) - _median(s["untraced_step_s"])
    ) * 1e3
    return m
