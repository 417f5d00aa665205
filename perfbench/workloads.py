"""The three benchmark workloads.

Each is a closed loop with one client in one Spark session: the next
operation starts only after the previous one returned and was checked.
Operations come in fixed-composition blocks (registry passes on
analytics-mix) and a run measures whole blocks only, so every seed
measures the same mix.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import check
import gen

# sizes (see README.md for why they are smaller than a full-scale run)
TICK_SERVE = dict(n_ticks=600_000, n_symbols=16, span_s=90 * 86_400)
INGEST = dict(n_ticks=200_000, n_symbols=8, span_s=30 * 86_400)
ANALYTICS = dict(n_events=30_000, n_docs=1_000, n_vecs=1_000)
SETUP_REPEATS = 3  # initial write_ticks loads per tick workload run; setup_s takes the median
WARMUP_BLOCKS = 1  # untimed tick-serve blocks: JIT and caches settle first
STAGE_FILES = 4  # input splits of the initial load
# Nominal seconds of one ingest-mix block and one warm analytics pass on 4
# cores (measured: 9-11 s and 5-7 s).  These workloads run
# ceil(--seconds / nominal) whole blocks or passes: a count fixed by
# --seconds, so a fast or slow host never changes the mix a run measures.
INGEST_BLOCK_S = 12.0
ANALYTICS_PASS_S = 7.0

# A fixed registry slice, run in whole passes in this order: the whole
# reference surface over events, event-table operators from several
# families and LLM-data operators over documents.  The first pass is cold
# (each query's first use pays its code generation and worker start-up) and
# is part of set-up; with it timed, the median sat between the cold and the
# warm cluster and moved 24% from seed to seed.  The order is fixed, not
# seeded, for the same reason.  q25 has no oracle and is checked for
# completing only.  Queries that pay one-time model or state
# builds (q226 dedup state ~9 s, q253 verdict model ~15 s at this size) do
# not fit a pass into the run budget and are left out.
ANALYTICS_QUERIES = (
    "q01_scan_full q03_project q04_range_scan q05_point_lookup q06_last_n "
    "q07_topk_value q08_count q09_count_by_symbol "
    "q16_asof q22_ohlc q25_approx_distinct q37_sessionize "
    "q52_text_stats q57_simhash q100_dup_rate_by_source"
).split()


def _layer_units() -> dict[str, str]:
    u = {"session.open_s": "s", "session.warm_s": "s", "sources.initial_load_s": "s"}
    for k in ("point", "range", "last"):
        u.update({f"cli.{k}.pre_exec_ms": "ms", f"cli.{k}.exec_ms": "ms", f"cli.{k}.post_ms": "ms",
                  f"cli.{k}.jobs": "count", f"cli.{k}.tasks": "count",
                  f"scan.{k}.files_read": "count", f"scan.{k}.rows_per_result": "ratio"})
    for k in ("insert", "import", "maintain"):
        u.update({f"cli.{k}.pre_exec_ms": "ms", f"cli.{k}.exec_ms": "ms", f"cli.{k}.jobs": "count"})
    u.update({
        "sources.files_per_symbol": "count", "sources.bytes_per_tick": "B",
        "maintain.bytes_rewritten": "B",
        "streaming.drain_ms": "ms", "streaming.drain_jobs": "count",
        "streaming.rows_per_drain": "rows",
        "registry.build_s": "s", "registry.build_s.reference_surface": "s",
        "registry.build_s.operators": "s", "registry.build_s.operators.llm": "s",
        "registry.build_jobs": "count",
        "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
        "exec.run_s": "s", "exec.jobs": "count", "exec.tasks": "count",
        "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B", "jvm.gc_s": "s",
        "host.spin_s": "s",
        "trace.overhead_ms": "ms", "trace.collect_ms": "ms", "trace.window_err_ms": "ms",
        "trace.jobs_outside_group": "count",
    })
    return u


# every per-layer metric, with its unit; a traced run reports all of them on
# every workload (0 where that layer does no work on the workload)
LAYER_UNITS = _layer_units()
E2E_UNITS = {"setup_s": "s", "read_gmean_ms": "ms", "ops_per_s": "1/s"}
# operations that only read: every tick-serve op, ingest-mix's range and
# last, and every registry query
READ_KINDS = ("point", "range", "last", "query")


def family(module: str) -> str:
    if ".operators.llm" in module:
        return "operators.llm"
    if module.endswith("reference_surface"):
        return "reference_surface"
    return "operators"


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0-100); 0.0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, int(np.ceil(q / 100.0 * len(s))) - 1))])


def dir_stats(path: str) -> tuple[int, int, int]:
    """(parquet files, bytes, symbol partitions) under a tick table."""
    files = list(Path(path).glob("**/*.parquet"))
    return len(files), sum(f.stat().st_size for f in files), len(list(Path(path).glob("symbol=*")))


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, seconds: float, trace: bool, work: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.seconds, self.trace, self.work = seconds, trace, work
        self.lat: dict[str, list[float]] = {}  # kind -> op latencies (s)
        self.timeline: list[tuple[str, float]] = []  # (kind, latency s) of timed ops in order
        self.busy = 0.0
        self.attempted = 0
        self.failures: list[str] = []  # every failed op, with its cause
        self.wrong = 0  # of those, ops that returned a wrong answer
        self.last_ok = True
        self.warm_s = 0.0
        self.load_s: list[float] = []
        self.rows_returned: dict[int, int] = {}
        self.trace_wall: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}
        self.kind_seen: dict[str, int] = {}  # timed ops of each kind so far
        self.collect_s: list[float] = []
        self.layer: dict[str, float] = {}

    # -- one operation ---------------------------------------------------------

    def op(self, i: int, kind: str, fn, verify, timed: bool = True, marks=None):
        """Run fn() as op i, verify its result, record latency and trace.
        Every op counts as attempted; an exception or a wrong answer counts
        as failed with its cause, and the op's latency is still kept."""
        seen = self.kind_seen.get(kind, 0)
        traced = self.trace and timed and seen % 2 == 0
        if timed:
            self.kind_seen[kind] = seen + 1
        ctx = self.tracer.begin(i, kind, traced)
        t0 = time.time()
        p0 = time.perf_counter()
        err = None
        out = None
        try:
            out = fn()
        except Exception as e:  # counted, never dropped
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
        dt = time.perf_counter() - p0
        t1 = time.time()
        c0 = time.perf_counter()
        self.tracer.end(ctx, t0, t1, marks() if marks else None)
        if ctx is not None:
            self.collect_s.append(time.perf_counter() - c0)
        if err is None:
            try:
                err = verify(out)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
            if err is not None:
                self.wrong += 1
        self.attempted += 1
        self.last_ok = err is None
        if err is not None:
            self.failures.append(f"op {i} {kind}: {err}")
        if timed:
            self.lat.setdefault(kind, []).append(dt)
            self.timeline.append((kind, dt))
            self.busy += dt
            if self.trace:
                self.trace_wall[traced].setdefault(kind, []).append(dt)
        return out

    # -- set-up ----------------------------------------------------------------

    def stage_ticks(self, table: gen.TickTable) -> str:
        """Input generation (not timed): the tick table as parquet files."""
        stage = f"{self.work}/stage"
        os.makedirs(stage, exist_ok=True)
        t = table.arrow()
        step = -(-t.num_rows // STAGE_FILES)
        for k in range(STAGE_FILES):
            pq.write_table(t.slice(k * step, step), f"{stage}/part-{k}.parquet")
        return stage

    def load_ticks(self, stage: str, data_dir: str) -> None:
        """Initial load through sources.writer, repeated SETUP_REPEATS times
        into fresh tables; the last one is served."""
        from low_latency_time_series_database_tsdb_for_market_data_spark import cli
        from low_latency_time_series_database_tsdb_for_market_data_spark.sources.writer import (
            write_ticks,
        )

        for _ in range(SETUP_REPEATS):
            path = f"{data_dir}/ticks"
            shutil.rmtree(data_dir, ignore_errors=True)
            t0 = time.perf_counter()
            with self.tracer.span("sources.initial_load"):
                df = self.spark.read.schema(cli.TICK_SCHEMA).parquet(stage)
                write_ticks(df, path, mode="overwrite")
            self.load_s.append(time.perf_counter() - t0)

    def setup(self) -> None:
        raise NotImplementedError

    def run(self) -> None:
        raise NotImplementedError

    # -- results ---------------------------------------------------------------

    def all_lat(self) -> list[float]:
        return [x for xs in self.lat.values() for x in xs]

    def end_to_end(self, setup_once_s: float) -> dict:
        """The gated metrics, defined the same way on every workload.  Reads
        are summarized by their geometric mean: each mix holds read kinds
        (or queries) of different typical latency, and its median jumps
        between those clusters from run to run."""
        lat = self.all_lat()
        reads = [x for k in READ_KINDS for x in self.lat.get(k, [])]
        gmean = math.exp(sum(math.log(x) for x in reads) / len(reads)) if reads else 0.0
        return {
            "setup_s": (setup_once_s + median(self.load_s) + self.warm_s, "s"),
            "read_gmean_ms": (gmean * 1000.0, "ms"),
            "ops_per_s": (len(lat) / self.busy if self.busy else 0.0, "1/s"),
        }

    def report(self) -> dict:
        """The workload's own named metrics: (value, unit, sample count)."""
        return {}

    def _lat_metrics(self, kinds, out: dict) -> None:
        for k in kinds:
            xs = self.lat.get(k, [])
            out[f"{k}_p50_ms"] = (median(xs) * 1000.0, "ms", len(xs))
            out[f"{k}_p90_ms"] = (pct(xs, 90) * 1000.0, "ms", len(xs))

    # per-layer --------------------------------------------------------------

    def per_layer(self) -> dict:
        ops = self.tracer.ops
        by = {}
        for r in ops:
            by.setdefault(r["kind"], []).append(r)
        m: dict[str, float] = {}
        for k in ("point", "range", "last"):
            rs = by.get(k, [])
            for f in ("pre_exec_ms", "exec_ms", "post_ms", "jobs", "tasks"):
                m[f"cli.{k}.{f}"] = median([r[f] for r in rs])
            m[f"scan.{k}.files_read"] = median([r["files_read"] for r in rs])
            m[f"scan.{k}.rows_per_result"] = median(
                [r["scan_rows"] / max(1, self.rows_returned.get(r["op"], 0)) for r in rs]
            )
        for k in ("insert", "import", "maintain"):
            rs = by.get(k, [])
            for f in ("pre_exec_ms", "exec_ms", "jobs"):
                m[f"cli.{k}.{f}"] = median([r[f] for r in rs])
        drains = by.get("drain", [])
        m["streaming.drain_ms"] = median([x * 1000.0 for x in self.lat.get("drain", [])])
        m["streaming.drain_jobs"] = median([r["jobs"] for r in drains])
        n = len(ops) or 1
        for f in ("analysis_s", "optimization_s", "planning_s"):
            m[f"catalyst.{f}"] = sum(r[f] for r in ops) / n
        m["exec.run_s"] = sum(r["run_s"] for r in ops) / n
        for f in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
            m[f"exec.{f}"] = sum(r[f] for r in ops) / n
        m["jvm.gc_s"] = sum(r["gc_s"] for r in ops) / n
        m["trace.window_err_ms"] = max([r["window_err_ms"] for r in ops] or [0.0])
        m["trace.collect_ms"] = median(self.collect_s) * 1000.0
        m["trace.jobs_outside_group"] = float(sum(r["outside_group"] for r in ops))
        m["trace.overhead_ms"] = self.overhead_ms()
        for key in (
            "sources.files_per_symbol", "sources.bytes_per_tick", "maintain.bytes_rewritten",
            "streaming.rows_per_drain", "registry.build_s", "registry.build_s.reference_surface",
            "registry.build_s.operators", "registry.build_s.operators.llm",
            "registry.build_jobs",
        ):
            m[key] = float(self.layer.get(key, 0.0))
        return m

    def overhead_ms(self) -> float:
        """Traced minus untraced op latency, from ops of the same kinds
        interleaved in this run (every other op of each kind is traced):
        the count-weighted mean over kinds of the difference of medians."""
        tw, uw = self.trace_wall[True], self.trace_wall[False]
        num = den = 0.0
        for k in set(tw) & set(uw):
            w = min(len(tw[k]), len(uw[k]))
            num += w * (median(tw[k]) - median(uw[k])) * 1000.0
            den += w
        return num / den if den else 0.0


# ----------------------------------------------------------------------------


class TickServe(Workload):
    """Read side of the reference surface through cli.run."""

    name = "tick-serve"

    def setup(self) -> None:
        self.table = gen.tick_table(self.seed, **TICK_SERVE)
        t = self.table
        self.model = check.TickModel(t.symbols, t.sym, t.ts, t.price, t.volume, t.seq)
        self.data_dir = f"{self.work}/tsdb"
        self.stage = self.stage_ticks(t)
        self.ops = gen.tick_serve_ops(self.seed, t, n_blocks=400)

    def load(self) -> None:
        self.load_ticks(self.stage, self.data_dir)
        files, size, syms = dir_stats(f"{self.data_dir}/ticks")
        self.layer["sources.files_per_symbol"] = files / max(1, syms)
        self.layer["sources.bytes_per_tick"] = size / max(1, self.model.count())

    def _one(self, i: int, kind: str, argv: list[str], timed: bool) -> None:
        from low_latency_time_series_database_tsdb_for_market_data_spark import cli

        def verify(lines):
            self.rows_returned[i] = len(lines) - 1
            if kind == "last":
                return check.check_last(self.model, lines, argv[1], int(argv[2]))
            return check.check_query(self.model, lines, argv[1], int(argv[2]), int(argv[3]))

        self.op(i, kind, lambda: cli.run(argv, self.spark, self.data_dir), verify, timed)

    def warmup(self) -> None:
        """WARMUP_BLOCKS untimed blocks from their own request stream (part
        of set-up): the first reads run 2-4x slower while the JVM compiles
        the read path, which would otherwise land in the timed tail."""
        t0 = time.perf_counter()
        warm = gen.tick_serve_ops(self.seed, self.table, WARMUP_BLOCKS, stream="tick-serve-warmup")
        for j, (kind, argv) in enumerate(warm):
            self._one(-1 - j, kind, argv, timed=False)
        self.warm_s = time.perf_counter() - t0

    def run(self) -> None:
        per_block = sum(gen.TICK_SERVE_BLOCK.values())
        for i, (kind, argv) in enumerate(self.ops):
            if i % per_block == 0 and self.busy >= self.seconds:
                break
            self._one(i, kind, argv, timed=True)

    def report(self) -> dict:
        out: dict = {}
        self._lat_metrics(("point", "range", "last"), out)
        lat = self.all_lat()
        out["ops_per_s"] = (len(lat) / self.busy if self.busy else 0.0, "ops/s", len(lat))
        return out


class IngestMix(Workload):
    """Inserts, CSV imports and streaming drains beside reads that must
    see every acknowledged write."""

    name = "ingest-mix"

    def setup(self) -> None:
        self.table = gen.tick_table(self.seed, **INGEST)
        t = self.table
        self.model = check.TickModel(t.symbols, t.sym, t.ts, t.price, t.volume, t.seq)
        self.data_dir = f"{self.work}/tsdb"
        self.stage = self.stage_ticks(t)
        self.ops = gen.ingest_ops(self.seed, t, n_blocks=40)
        self.landing = f"{self.work}/landing"
        self.drained = f"{self.work}/drained"
        self.ckpt = f"{self.work}/drain_ckpt"
        os.makedirs(self.landing, exist_ok=True)
        os.makedirs(f"{self.work}/csv", exist_ok=True)
        self.drained_rows = 0
        self.acked_rows = 0
        self.drain_rows: list[int] = []
        self.rewritten: list[int] = []

    def load(self) -> None:
        self.load_ticks(self.stage, self.data_dir)

    def _one(self, i: int, o: gen.IngestOp, timed: bool) -> None:
        from low_latency_time_series_database_tsdb_for_market_data_spark import cli
        from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.ingest import (
            ingest_available_now,
        )

        m = self.model
        run = lambda argv: lambda: cli.run(argv, self.spark, self.data_dir)  # noqa: E731
        if o.kind == "insert":
            ts = m.newest_ts(o.symbol) + 1
            argv = ["insert", o.symbol, str(ts), f"{o.price:.2f}", str(o.volume)]
            self.op(i, "insert", run(argv), lambda out: check.check_exact(
                out, [f"Inserted tick for {o.symbol}"]), timed)
            if self.last_ok:
                m.append(o.symbol, [(ts, o.price, o.volume)])
                self._acked(1, timed)
        elif o.kind == "import":
            rng = gen.rng_for(self.seed, f"csv-{i}")
            text, kept = gen.csv_ticks(rng, o.csv_rows, m.newest_ts(o.symbol) + 1)
            path = f"{self.work}/csv/op{i}.csv"
            Path(path).write_text(text)
            self.op(i, "import", run(["import", o.symbol, path]), lambda out: check.check_exact(
                out, [f"Imported {len(kept)} ticks for {o.symbol} from {path}"]), timed)
            if self.last_ok:
                m.append(o.symbol, kept)
                self._acked(len(kept), timed)
        elif o.kind == "drain":
            rng = gen.rng_for(self.seed, f"drain-{i}")
            batch = gen.events_file(
                rng, o.drain_rows, self.drained_rows, gen.EVENTS_T0_US, 86_400 * 1_000_000
            )
            pq.write_table(batch, f"{self.landing}/batch-{i + 1000000}.parquet")
            landed = self.drained_rows + o.drain_rows

            def verify(_):
                import pyarrow.dataset as ds

                n = ds.dataset(self.drained, format="parquet", partitioning="hive").count_rows()
                return None if n == landed else f"drained table {n} rows != {landed}"

            with self.tracer.span("streaming.ingest_available_now", op=i):
                self.op(i, "drain", lambda: ingest_available_now(
                    self.spark, self.landing, self.drained, self.ckpt), verify, timed)
            self.drained_rows = landed  # a failed drain is retried by the next one
            if self.last_ok:
                self.drain_rows.append(o.drain_rows)
                self._acked(o.drain_rows, timed)
        elif o.kind in ("point", "range"):
            b = m.newest_ts(o.symbol)
            a = b - o.width
            if o.kind == "point":
                b = a
            self.op(i, o.kind, run(["query", o.symbol, str(a), str(b)]),
                    lambda out: self._rows(i, out) or check.check_query(m, out, o.symbol, a, b), timed)
        elif o.kind == "last":
            self.op(i, "last", run(["last", o.symbol, str(o.n)]),
                    lambda out: self._rows(i, out) or check.check_last(m, out, o.symbol, o.n), timed)
        else:  # maintain
            if timed:
                self.rewritten.append(dir_stats(f"{self.data_dir}/ticks")[1])
            total = m.count()

            def verify(out):
                if len(out) == 1 and out[0].startswith(f"Compacted {total} ticks: "):
                    return None
                return f"{out!r} does not report {total} ticks"

            self.op(i, "maintain", run(["maintain"]), verify, timed)

    def _rows(self, i: int, lines) -> None:
        self.rows_returned[i] = len(lines) - 1

    def _acked(self, n: int, timed: bool) -> None:
        if timed:
            self.acked_rows += n

    def warmup(self) -> None:
        """One untimed op of every kind, maintain last (part of set-up).
        Each kind's first call in a process pays JIT and start-up costs (the
        first drain also starts the stream): up to 2.6x its later latency,
        and how much more varies with the host from run to run.  The
        maintain compacts the initial layout, so every timed block starts
        from the layout a maintain leaves."""
        t0 = time.perf_counter()
        seen = set()
        for j, o in enumerate(self.ops):  # a block ends with its maintain
            if o.kind not in seen:
                seen.add(o.kind)
                self._one(-1 - j, o, timed=False)
            if o.kind == "maintain":
                break
        self.warm_s = time.perf_counter() - t0

    def run(self) -> None:
        blocks = math.ceil(self.seconds / INGEST_BLOCK_S)
        for i, o in enumerate(self.ops):
            self._one(i, o, timed=True)
            if o.kind == "maintain":
                blocks -= 1
                if blocks <= 0:
                    break
        files, size, syms = dir_stats(f"{self.data_dir}/ticks")
        self.layer["sources.files_per_symbol"] = files / max(1, syms)
        self.layer["sources.bytes_per_tick"] = size / max(1, self.model.count())
        self.layer["maintain.bytes_rewritten"] = median(self.rewritten)
        self.layer["streaming.rows_per_drain"] = median(self.drain_rows)

    def report(self) -> dict:
        out: dict = {}
        self._lat_metrics(("point", "range", "last", "insert"), out)
        lat = self.all_lat()
        out["ops_per_s"] = (len(lat) / self.busy if self.busy else 0.0, "ops/s", len(lat))
        wr = sum(sum(self.lat.get(k, [])) for k in ("insert", "import", "drain"))
        out["ingest_rows_per_s"] = (self.acked_rows / wr if wr else 0.0, "rows/s",
                                    sum(len(self.lat.get(k, [])) for k in ("insert", "import", "drain")))
        return out


class AnalyticsMix(Workload):
    """A fixed registry slice in whole passes after an untimed cold one.
    Each query is built and its result collected (Arrow ``toPandas``);
    results are compared with the DuckDB oracle after the passes."""

    name = "analytics-mix"

    def setup(self) -> None:
        self.sf_dir = f"{self.work}/sf"
        os.makedirs(self.sf_dir, exist_ok=True)
        for name, t in gen.analytics_tables(self.seed, **ANALYTICS).items():
            pq.write_table(t, f"{self.sf_dir}/{name}.parquet")
        self.results: list[tuple[str, object]] = []
        self.build = {"reference_surface": 0.0, "operators": 0.0, "operators.llm": 0.0}
        self.build_jobs: list[int] = []

    def load(self) -> None:
        """Table open: one warm_start on the generated tables (relation
        listing, schema, a point-shaped scan).  It is not repeated: a second
        open of the same tables is a warm one, and most of this workload's
        set-up is the cold pass, which cannot be repeated either."""
        from low_latency_time_series_database_tsdb_for_market_data_spark.session import warm_start

        t0 = time.perf_counter()
        with self.tracer.span("sources.initial_load"):
            warm_start(self.spark, self.sf_dir)
        self.load_s.append(time.perf_counter() - t0)

    def warmup(self) -> None:
        """Registry import and one untimed, cold pass (part of set-up)."""
        from low_latency_time_series_database_tsdb_for_market_data_spark.registry import load_all

        t0 = time.perf_counter()
        self.reg = load_all()
        self._pass(-len(ANALYTICS_QUERIES), timed=False)
        self.warm_s = time.perf_counter() - t0

    def _pass(self, i: int, timed: bool = True) -> None:
        for name in ANALYTICS_QUERIES:
            q = self.reg[name]
            box: dict = {}

            def fn(q=q, box=box):
                b0 = time.perf_counter()
                df = q.fn(self.spark, self.sf_dir)
                box["build_s"] = time.perf_counter() - b0
                box["build_end"] = time.time()
                box["df"] = df
                return df.toPandas()

            got = self.op(i, "query", fn, lambda got: None, timed,
                          marks=lambda box=box: {"build": box.get("build_end", 0.0)})
            if got is not None:
                self.results.append((name, got))
            if timed and "build_s" in box:
                self.build[family(q.fn.__module__)] += box["build_s"]
            rec = self.tracer.ops[-1] if self.tracer.ops else None
            if timed and rec is not None and rec["op"] == i and "df" in box:
                self.build_jobs.append(rec.get("jobs_before_build", 0))
                self.tracer.add_phases(rec, box["df"]._jdf)
            i += 1

    def run(self) -> None:
        self.pass_s: list[float] = []
        for k in range(math.ceil(self.seconds / ANALYTICS_PASS_S)):
            p0 = time.perf_counter()
            self._pass(k * len(ANALYTICS_QUERIES))
            self.pass_s.append(time.perf_counter() - p0)
        passes = len(self.pass_s)
        for fam, s in self.build.items():
            self.layer[f"registry.build_s.{fam}"] = s / passes
        self.layer["registry.build_s"] = sum(self.build.values()) / passes
        self.layer["registry.build_jobs"] = float(np.mean(self.build_jobs)) if self.build_jobs else 0.0

    def verify(self) -> None:
        """Oracle comparison outside the timed window, for every result of
        every pass.  A query that raised is already counted."""
        import duckdb

        con = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        self.unchecked = sorted({n for n in ANALYTICS_QUERIES if self.reg[n].oracle is None})
        want: dict = {}
        for name, got in self.results:
            oracle = self.reg[name].oracle
            if oracle is None:
                continue
            try:
                if name not in want:
                    want[name] = con.execute(oracle).df()
                err = check.frames_match(got, want[name])
            except Exception as e:
                err = f"check raised {type(e).__name__}: {str(e)[:160]}"
            if err is not None:
                self.wrong += 1
                self.failures.append(f"{name}: wrong result: {err}")

    def report(self) -> dict:
        """Also, per query, its build + execute seconds in the first pass."""
        lat = self.lat.get("query", [])
        self.query_s = dict(zip(ANALYTICS_QUERIES, lat))
        return {
            "mix_s": (median(self.pass_s), "s", len(self.pass_s)),
            "query_p50_s": (median(lat), "s", len(lat)),
            "query_p95_s": (pct(lat, 95), "s", len(lat)),
        }


BY_NAME = {c.name: c for c in (TickServe, IngestMix, AnalyticsMix)}
