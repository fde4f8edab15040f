#!/usr/bin/env python3
"""End-to-end and per-layer benchmark for the flink_1_12_0_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process is one workload run: it
generates the inputs from ``--seed`` (``datagen.py``), brings the engine
up once (session start, ``load_tables``, a first tpch_q6), makes the
workload's untimed warm passes over its rows and then a fixed number of
timed passes (at least two), sized from the workload's nominal pass time
to fill about ``--seconds``.  ``setup_s`` is the time from the benchmark's first line
to the first timed pass, less input generation and the oracle fill.
Every row result of every pass is checked against the row's registry
DuckDB oracle outside the timed region.  The benchmark reaches the
engine only through its public functions.  Metric names and units come
from ``BENCHMARK.json``; the workloads' rows, the rows left out and the
layer -> end-to-end metric map live in ``layers.json``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the spans
(pass -> row -> core harness call -> micro-batch, row -> collect) are
written to ``perfbench/out/trace-<workload>-<seed>.json``.  Earlier
stdout lines are a human-readable report: host record, per-row times,
fail ratio.  Run ``perfbench/selftest.py`` to check the benchmark itself.
"""

from __future__ import annotations

import argparse
import datetime as dt
import gc
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "latestOffset", "getBatch")
CORE_HARNESSES = ("run_to_memory", "run_to_stage", "run_foreach_batch")
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")
JOIN_NODES = ("Join", "CartesianProduct", "NestedLoop")


def log(*parts) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}]", *parts, flush=True)


class Tracer:
    """In-memory spans: name, start, end, parent, trace id (one per row)."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.trace_id = ""

    def open(self, name: str, layer: str) -> dict:
        span = {"id": len(self.spans), "name": name, "layer": layer,
                "trace": self.trace_id, "start": time.time(), "end": None,
                "parent": self.stack[-1]["id"] if self.stack else None}
        if self.on:
            self.spans.append(span)
        self.stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self.stack.remove(span)

    def add(self, name: str, layer: str, start: float, end: float, parent) -> None:
        if self.on:
            self.spans.append({"id": len(self.spans), "name": name,
                               "layer": layer, "trace": self.trace_id,
                               "start": start, "end": end, "parent": parent})

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's children."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    covered += (cur_e - cur_s) if cur_e is not None else 0.0
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            covered += (cur_e - cur_s) if cur_e is not None else 0.0
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class Probe:
    """Wraps the engine's public streaming entry points to observe them:
    ``DataStreamWriter.start`` (to keep each StreamingQuery) and the
    ``streaming.core`` harnesses (for core.run_s and their spans)."""

    def __init__(self, tracer: Tracer) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from flink_1_12_0_spark.streaming import core

        self.tracer = tracer
        self.queries: list[tuple] = []  # (query, parent span id)
        self.core_s = 0.0
        self.depth = 0
        start = DataStreamWriter.start
        probe = self

        def traced_start(writer, *a, **k):
            q = start(writer, *a, **k)
            parent = tracer.stack[-1]["id"] if tracer.stack else None
            probe.queries.append((q, parent))
            return q

        DataStreamWriter.start = traced_start
        for name in CORE_HARNESSES:
            setattr(core, name, self._wrap(name, getattr(core, name)))

    def _wrap(self, name, fn):
        def wrapped(*a, **k):
            span = self.tracer.open(f"core.{name}", "core")
            self.depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                self.depth -= 1
                if self.depth == 0:
                    self.core_s += time.perf_counter() - t0
                self.tracer.close(span)
        wrapped.__wrapped__ = fn
        return wrapped

    def take(self) -> tuple[list, float]:
        qs, core_s = self.queries, self.core_s
        self.queries, self.core_s = [], 0.0
        return qs, core_s


def plan_metrics(jplan, acc: dict) -> None:
    """Sum every SQL metric of an executed physical plan by (node, metric)."""
    stack = [jplan]
    while stack:
        p = stack.pop()
        node = p.nodeName()
        for key, val in _METRIC_RE.findall(p.metrics().toString()):
            acc[(node, key)] = acc.get((node, key), 0) + int(val)
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        else:
            ch = p.children()
            stack.extend(ch.apply(i) for i in range(ch.size()))


def scanned_files(jlogical) -> set[str]:
    """Base names of the files a logical plan reads (its file relations)."""
    names = set()
    leaves = jlogical.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            rel = leaf.relation()
            if rel.getClass().getSimpleName() == "HadoopFsRelation":
                roots = rel.location().rootPaths()
                names.update(os.path.basename(roots.apply(j).toString().rstrip("/"))
                             for j in range(roots.size()))
    return names


def vm_kb(pid, field: str = "VmHWM") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(f"{field}:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tail(samples: list[float], pass_max: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it, with its
    label.  Below 100 samples that percentile is under p90, so the tail is
    then each timed pass's slowest unit, median over the passes."""
    xs = sorted(samples)
    n = len(xs)
    if n < 100:
        return statistics.median(pass_max), f"median per-pass max of n={n}"
    return xs[n - 11], f"p{100 * (n - 10) / n:.0f} of n={n}"


class Bench:
    def __init__(self, args, spec: dict, keyed: dict, catalogue: dict) -> None:
        self.args = args
        self.end_to_end = {m["name"]: m["unit"] for m in catalogue["end_to_end"]}
        self.per_layer = {m["name"]: m["unit"] for m in catalogue["per_layer"]}
        self.spec = spec
        self.keyed = keyed
        self.rows: list[str] = list(spec["rows"])
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.failures: list[str] = []
        self.attempted = 0
        self.drop_row = args.drop_row
        self.spark = None

    # -- inputs ---------------------------------------------------------
    def make_inputs(self, run_dir: str, scale: dict) -> None:
        import datagen

        self.data = os.path.join(run_dir, "data")
        counts = datagen.write(self.data, self.args.seed, scale["sf"],
                               scale["documents"], scale["embeddings"])
        self.table_rows = counts
        self.stream_dir = os.path.join(run_dir, "events_stream")
        self.event_files = datagen.split_events(
            os.path.join(self.data, "events.parquet"), self.stream_dir,
            scale["event_files"], self.args.seed)
        # cached oracle results depend on the generator and the comparator
        sources = b""
        for path in (os.path.join(HERE, "datagen.py"), os.path.join(HERE, "oracle.py"),
                     os.path.join(ROOT, "tests", "utils.py")):
            with open(path, "rb") as f:
                sources += f.read()
        self.digest = hashlib.sha256(json.dumps(
            [self.args.seed, scale, hashlib.sha256(sources).hexdigest()]).encode()
        ).hexdigest()[:16]
        log(f"inputs: seed={self.args.seed} scale={scale} rows={counts} "
            f"event_files={self.event_files}")

    # -- engine bring-up -----------------------------------------------
    def bring_up(self) -> dict[str, float]:
        from flink_1_12_0_spark.session import get_spark
        from flink_1_12_0_spark.tables import load_tables

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        load_tables(self.spark, self.data)
        t2 = time.perf_counter()
        self.registry.QUERIES["tpch_q6"](self.spark, self.data).collect()
        return {"session": t1 - t0, "load": t2 - t1}

    # -- one row --------------------------------------------------------
    def build(self, row: str):
        if row in self.keyed:
            return self.keyed_row()
        return self.registry.QUERIES[row](self.spark, self.data)

    def keyed_row(self):
        """Multi-batch keyed-state stream over the event-time-ordered
        files, one file admitted per trigger."""
        from pyspark.sql import functions as F

        from flink_1_12_0_spark.streaming import core, stateful

        sdf = (self.spark.readStream.schema(self.events_schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(self.stream_dir)
               .withColumn("ts", F.col("ts").cast("timestamp")))
        # stream_continuous_fire's operator and parameters
        sdf = core.with_watermark(sdf, "ts", "10 minutes").where(
            F.col("event_type") == "purchase")
        out = stateful.tumble_event_windows(
            sdf.select("user_id", "ts", "event_id", "value"), ["user_id"],
            ts="ts", tiebreak="event_id", value_col="value",
            size_s=14400, fire_interval_s=7200)
        return core.run_to_memory(out, output_mode="update").select(
            "user_id", "w_start", "fire_ts", "is_final", "n",
            F.round("sum_value", 4).alias("sum_value"))

    def run_row(self, row: str, rec: dict, detail: bool) -> None:
        """Build + drain + collect one row, then check it and record its
        times (and with ``detail`` its per-layer figures)."""
        sc = self.spark.sparkContext
        self.tracer.trace_id = f"{row}#{self.attempted}"
        group = f"perfbench-{self.attempted}"
        sc.setJobGroup(group, row)
        self.attempted += 1
        span = self.tracer.open(row, "row")
        t0 = time.perf_counter()
        err, pdf, df = None, None, None
        try:
            df = self.build(row)
            t1 = time.perf_counter()
            cspan = self.tracer.open(f"collect {row}", "collect")
            try:
                pdf = df.toPandas()
            finally:
                self.tracer.close(cspan)
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failing row is a result
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            t1 = t2 = time.perf_counter()
        self.tracer.close(span)
        wall = t2 - t0
        queries, core_s = self.probe.take()
        rec.setdefault("row_s", {}).setdefault(row, []).append(wall)
        # -- everything below is outside the timed region ---------------
        batch_samples, stream_in = [], 0
        progress = []
        for q, parent in queries:
            for p in q.recentProgress:
                progress.append(p)
                d = p["durationMs"]
                if p["numInputRows"] > 0 and "triggerExecution" in d:
                    batch_samples.append(d["triggerExecution"] / 1000.0)
                    stream_in += p["numInputRows"]
                start = _iso_epoch(p["timestamp"])
                self.tracer.add(f"batch {p['batchId']} {q.name or ''}", "batch",
                                start, start + d.get("triggerExecution", 0) / 1000.0,
                                parent)
        # a row's units of work are its micro-batches when it ran a
        # stream, else the row itself
        units = batch_samples or [wall]
        rec.setdefault("units", {}).setdefault(row, []).extend(units)
        self.pass_units.extend(units)
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for p in progress for op in p["stateOperators"])
        if err is None and self.drop_row == row and len(pdf):
            pdf = pdf.iloc[1:]
        if err is None:
            err = self.check(row, pdf)
        if err is None and dropped:
            err = f"{dropped} rows dropped behind the watermark"
        if err is not None:
            self.failures.append(f"{row}: {err}")
            log(f"FAIL {row}: {err}")
        if row not in self.input_rows and df is not None:
            # input records: stream source rows plus the full row count of
            # each generated table the final plan scans
            tables = scanned_files(df._jdf.queryExecution().analyzed())
            self.input_rows[row] = stream_in + sum(
                n for t, n in self.table_rows.items() if f"{t}.parquet" in tables)
        rec["input_rows"] = rec.get("input_rows", 0) + self.input_rows.get(row, 0)
        if detail:
            self.layer_detail(rec, df, pdf, queries, progress, group,
                              t1 - t0, t2 - t1, core_s)

    def layer_detail(self, rec, df, pdf, queries, progress, group,
                     build_s, collect_s, core_s) -> None:
        m = rec.setdefault("layers", {})

        def add(k, v):
            m[k] = m.get(k, 0) + v

        add("queries.build_s", max(0.0, build_s - core_s))
        add("core.run_s", core_s)
        add("drain.collect_s", collect_s)
        add("drain.rows", 0 if pdf is None else len(pdf))
        add("stream.batches", len(progress))
        add("stream.input_rows", sum(p["numInputRows"] for p in progress))
        for ph in PHASES:
            add(f"stream.{ph}_ms", sum(p["durationMs"].get(ph, 0) for p in progress))
        last_ops: dict = {}
        for p in progress:
            for i, op in enumerate(p["stateOperators"]):
                add("state.rows_updated", op.get("numRowsUpdated", 0))
                add("state.dropped_by_watermark", op.get("numRowsDroppedByWatermark", 0))
                add("state.update_ms", op.get("allUpdatesTimeMs", 0))
                add("state.commit_ms", op.get("commitTimeMs", 0))
                last_ops[(p["id"], i)] = op
        for op in last_ops.values():
            add("state.rows_total", op.get("numRowsTotal", 0))
            add("state.memory_bytes", op.get("memoryUsedBytes", 0))
            add("state.stores", op.get("numStateStoreInstances", 0))
            add("state.shuffle_partitions", op.get("numShufflePartitions", 0))
        final: dict = {}
        if df is not None:
            plan_metrics(df._jdf.queryExecution().executedPlan(), final)
        acc = dict(final)
        for q, _ in queries:
            le = q._jsq.streamingQuery().lastExecution()
            if le is not None:
                plan_metrics(le.executedPlan(), acc)

        def total(key, pred=lambda node: True, metrics=acc):
            return sum(v for (node, k), v in metrics.items() if k == key and pred(node))

        add("python.boot_ms", total("pythonBootTime"))
        add("python.init_ms", total("pythonInitTime"))
        add("python.exec_ms", total("pythonTotalTime"))
        # candidate pairs: join output of the row's final batch plan; only
        # rows with such joins count toward the useful ratio
        pairs = total("numOutputRows", lambda n: any(j in n for j in JOIN_NODES), final)
        if pairs and pdf is not None:
            add("operators.candidate_pairs", pairs)
            add("operators.result_rows", len(pdf))
        add("exchange.bytes", total("dataSize", lambda n: n == "Exchange"))
        add("exchange.records", total("shuffleRecordsWritten", lambda n: n == "Exchange"))
        st = self.spark.sparkContext.statusTracker()
        jobs = set(st.getJobIdsForGroup(group))
        for q, _ in queries:
            jobs.update(st.getJobIdsForGroup(str(q.runId)))
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        add("spark.jobs", len(jobs))
        add("spark.stages", len(stages))
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                add("spark.tasks", info.numTasks)
                add("spark.tasks_failed", info.numFailedTasks)

    def check(self, row: str, pdf) -> str | None:
        import oracle

        name = self.keyed.get(row, {}).get("oracle", row)
        sql = self.registry.ORACLES.get(name)
        if sql is None:
            return f"no oracle registered for {name}"
        try:
            return oracle.mismatch(oracle.rows_of(pdf), self.oracle.expected(name, sql))
        except Exception as e:  # noqa: BLE001
            return f"oracle check raised {type(e).__name__}: {e}"

    # -- passes ---------------------------------------------------------
    def one_pass(self, rec: dict, traced: bool) -> float:
        self.tracer.on = traced
        rows = list(self.rows)
        self.rng.shuffle(rows)
        span = self.tracer.open(f"pass {self.args.workload}", "pass")
        self.pass_units = []
        t0 = time.perf_counter()
        for row in rows:
            self.run_row(row, rec, traced)
        wall = time.perf_counter() - t0
        rec.setdefault("pass_max", []).append(max(self.pass_units))
        self.tracer.close(span)
        self.tracer.on = False
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        rec["storage_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return wall

    def run(self, run_dir: str, scale: dict) -> dict:
        args = self.args
        t = time.perf_counter()
        self.make_inputs(run_dir, scale)
        excluded = time.perf_counter() - t  # the benchmark's own work
        from flink_1_12_0_spark import registry
        from flink_1_12_0_spark.session import RUNTIME_CONFS, STATIC_CONFS

        import oracle

        registry.load_all()
        self.registry = registry
        up = self.bring_up()
        self.events_schema = self.spark.read.parquet(self.stream_dir).schema
        self.probe = Probe(self.tracer)
        t = time.perf_counter()
        self.oracle = oracle.Oracle(self.data, os.path.join(OUT, "oracle-cache"),
                                    self.digest)
        for row in self.rows:  # fill the oracle cache before any timing
            name = self.keyed.get(row, {}).get("oracle", row)
            if name in registry.ORACLES:
                self.oracle.expected(name, registry.ORACLES[name])
        excluded += time.perf_counter() - t
        self.input_rows: dict[str, int] = {}
        loadavg = os.getloadavg()

        # Untimed passes take each row's cold first execution and start the
        # Python workers.  The JIT keeps compiling for the whole run, so no
        # affordable warm-up reaches a steady state; pass counts are fixed
        # per workload, not read off the clock, so every run does the same
        # work.
        t = time.perf_counter()
        for _ in range(self.spec["warm_passes"]):
            self.one_pass({}, traced=False)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - excluded
        log(f"setup: {setup_s:.4f} s (session {up['session']:.4f}, "
            f"load_tables {up['load']:.4f}, warm passes {warmup_s:.4f}; "
            f"input generation and oracle fill {excluded:.4f} not counted)")
        jvm_pid = self.spark.sparkContext._gateway.proc.pid

        n_pass = max(2, round(args.seconds / self.spec["nominal_pass_s"]))
        plain, traced = {}, {}
        plain_walls, traced_walls = [], []
        for i in range(n_pass if not args.trace else 2 * max(1, n_pass // 2)):
            if args.trace and i % 2:
                traced_walls.append(self.one_pass(traced, traced=True))
            else:
                plain_walls.append(self.one_pass(plain, traced=False))
        peak_mb = (vm_kb(jvm_pid) + vm_kb("self")) / 1024.0
        held_mb = self.memory_held_mb()
        canaries = []
        for _ in range(3):
            t = time.perf_counter()
            self.registry.QUERIES["tpch_q6"](self.spark, self.data).collect()
            canaries.append(time.perf_counter() - t)
        canary = statistics.median(canaries)
        conf = {k: self.spark.conf.get(k, None)
                for k in list(STATIC_CONFS) + list(RUNTIME_CONFS)}
        conf["spark.master"] = self.spark.sparkContext.master
        log("host: " + json.dumps({
            "nproc": os.cpu_count(), "loadavg": [loadavg, os.getloadavg()],
            "canary.q6_s": round(canary, 4), "confs": conf}))

        walls = traced_walls if args.trace else plain_walls
        rec = traced if args.trace else plain
        samples = [x for xs in rec["units"].values() for x in xs]
        tail_v, tail_label = tail(samples, rec["pass_max"])
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(walls),
            # per row, the median unit time; then the mean over rows, so
            # rows of different cost do not make the median jump between them
            "batch_s.p50": statistics.fmean(
                statistics.median(xs) for xs in rec["units"].values()),
            "mem_held_mb": held_mb,
        }
        events_per_s = rec["input_rows"] / len(walls) / statistics.median(walls)
        for row, ts in sorted(rec["row_s"].items()):
            log(f"row_s.{row}: median {statistics.median(ts):.4f} s over {len(ts)}")
        log("pass walls: " + " ".join(f"{w:.3f}" for w in walls))
        log(f"batch_s: n={len(samples)} "
            f"p50={e2e['batch_s.p50']:.4f} tail={tail_v:.4f} ({tail_label})")
        fail_ratio = len(self.failures) / max(1, self.attempted)
        log(f"fail_ratio: {fail_ratio:.4f} ({len(self.failures)} of {self.attempted})")
        log(f"peak_rss_mb: {peak_mb:.1f} MB")
        log(f"events_per_s: {events_per_s:.4f} 1/s")
        for k, unit in self.end_to_end.items():
            log(f"{k}: {e2e[k]:.4f} {unit}")

        if args.trace:
            npass = len(traced_walls)
            lay = {k: v / npass for k, v in rec.get("layers", {}).items()}
            result_rows = lay.pop("operators.result_rows", 0)
            pairs = lay.get("operators.candidate_pairs", 0)
            lay["operators.useful_ratio"] = result_rows / pairs if pairs else 0.0
            selfs = self.tracer.self_times()
            lay.update({
                "session.start_s": up["session"],
                "tables.load_s": up["load"],
                "warmup_s": warmup_s,
                "canary.q6_s": canary,
                "batch_s.tail": tail_v,
                "events_per_s": events_per_s,
                "storage.mb_held": rec["storage_mb"],
                **{f"self.{k}_s": selfs.get(k, 0.0) / npass
                   for k in ("pass", "row", "core", "batch", "collect")},
                "trace.overhead_s": statistics.median(traced_walls)
                - statistics.median(plain_walls),
                "trace.spans": len(self.tracer.spans),
                "fail_ratio": fail_ratio,
                "peak_rss_mb": peak_mb,
            })
            metrics = {k: {"value": float(lay.get(k, 0.0)), "unit": u}
                       for k, u in self.per_layer.items()}
            path = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "row_s": rec["row_s"], "metrics": lay,
                           "spans": self.tracer.spans}, f)
            log(f"trace: {len(self.tracer.spans)} spans -> {os.path.relpath(path, ROOT)}")
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u}
                       for k, u in self.end_to_end.items()}
        self.oracle.close()
        return {"correct": not self.failures, "attempted": self.attempted,
                "failed": len(self.failures), "metrics": metrics}

    def memory_held_mb(self) -> float:
        """Memory the engine still holds after the timed passes: JVM heap
        and non-heap in use after a full GC, plus the Python process's
        resident set.  Unlike peak RSS it does not move with the JVM's
        heap-sizing decisions, so retention (pinned drains, caches) shows."""
        jvm = self.spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # Python's GC releases py4j handles that pin JVM objects, and a JVM
        # GC only enqueues dead broadcasts and shuffles for Spark's
        # ContextCleaner, which frees them for the next GC: repeat, at
        # least three times, until the heap stops shrinking.
        heap = float("inf")
        for i in range(8):
            gc.collect()
            jvm.System.gc()
            prev, heap = heap, min(heap, mx.getHeapMemoryUsage().getUsed() / 2**20)
            if i >= 2 and heap > prev - 1.0:
                break
            time.sleep(0.25)
        nonheap = mx.getNonHeapMemoryUsage().getUsed() / 2**20
        py = vm_kb("self", "VmRSS") / 1024.0
        log(f"memory held: jvm heap {heap:.1f} MB, jvm non-heap {nonheap:.1f} MB, "
            f"python rss {py:.1f} MB")
        return heap + nonheap + py

    def shutdown(self) -> None:
        """Stop Spark, then wait for its JVM and the JVM's Python workers."""
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is None:
            return
        workers = descendants(proc.pid)
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = {p for p in workers if alive(p)}
            time.sleep(0.1)
        for p in workers:
            os.kill(p, 9)


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(pid: int) -> set[int]:
    """Every process below ``pid``, from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.add(k)
            todo.append(k)
    return out


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="bench", choices=("bench", "tiny"))
    ap.add_argument("--drop-row", default=None,
                    help="self-test only: drop one result row of this row name")
    args = ap.parse_args()
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        catalogue = json.load(f)
    if args.workload not in layers["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "flink_1_12_0_spark")):
        print("flink_1_12_0_spark not found next to perfbench/: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    # Scratch space, Spark local dirs and JVM temp files stay inside the
    # checkout; Python workers get the repository on their import path
    # whatever directory the benchmark was launched from.
    scratch = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT)
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    os.chdir(scratch)
    import warnings

    warnings.filterwarnings("ignore")
    bench = Bench(args, layers["workloads"][args.workload], layers["keyed_rows"],
                  catalogue)
    # a terminated run still stops Spark's JVM and its Python workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = bench.run(scratch, layers["scale"][args.scale])
    finally:
        bench.shutdown()
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
