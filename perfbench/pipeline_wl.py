"""The ``pipeline_incremental`` workload: a daily/weekly build graph over
hourly raw partitions, driven through ``builder_spark.pipeline``.

Graph (21 days, 66 ConcreteJobs; 21 rather than the 30 days ``events``
covers keeps a run within the benchmark's time budget on 4 cores):

    raw/a/%Y-%m-%d/%H ─(24 hourly)─> day_a/%Y-%m-%d ─┐
                                                      ├─> day_join/%Y-%m-%d ─(7 daily)─> week/%Y-%m-%d
    raw/b/%Y-%m-%d/%H ─(24 hourly)─> day_b/%Y-%m-%d ─┘

Stream ``a`` carries click/purchase/view events and ``b`` error/signup
events. Every job is a tiny Spark job that writes parquet, so the
per-action floor, the staleness scan and the scheduler dominate.
Values are summed as integer cents so every aggregate is exact and the
final targets can be compared row for row with a pandas recomputation.
"""

from __future__ import annotations

import glob
import os
import threading
import time
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import EVENTS_START, events_table
from harness import SF, Bench, Op, Pass, median
from spans import union_length

STREAMS = {"a": ("click", "purchase", "view"), "b": ("error", "signup")}
BUILD_DAYS = 21
BUILD_START = EVENTS_START
BUILD_END = BUILD_START + timedelta(days=BUILD_DAYS)
UBUCKETS = 8
HOUR_FMT = "%Y-%m-%d/%H"
DAY_FMT = "%Y-%m-%d"


def raw_path(root: str, stream: str, hour: datetime) -> str:
    return os.path.join(root, "raw", stream, hour.strftime(HOUR_FMT))


def _write_hour(root: str, stream: str, hour: datetime, t: pa.Table) -> None:
    d = raw_path(root, stream, hour)
    os.makedirs(d, exist_ok=True)
    pq.write_table(t, os.path.join(d, "part-0.parquet"))


def write_raw(root: str, seed: int, sf: float) -> int:
    """Every hourly raw partition of both streams (empty hours included,
    since a daily job needs all 24 of its inputs). Returns rows written."""
    t = events_table(np.random.default_rng(seed), int(1_000_000 * sf), int(15_000 * sf))
    hours = t.column("ts").to_numpy().astype("datetime64[h]")
    etype = np.array(t.column("event_type").to_pylist())
    base = np.datetime64(BUILD_START, "h")
    for s, types in STREAMS.items():
        in_stream = np.isin(etype, types)
        for h in range(BUILD_DAYS * 24):
            mask = in_stream & (hours == base + h)
            _write_hour(root, s, BUILD_START + timedelta(hours=h), t.filter(pa.array(mask)))
    return t.num_rows


def ingest(root: str, rng: np.random.Generator, sf: float) -> list[tuple[str, datetime]]:
    """New data arrives: in each week, one seeded (stream, hour)
    partition is rewritten with freshly drawn events, so every pass
    rebuilds the same number of jobs (one day_s, day_join and week job
    per week).
    Returns the rewritten partitions."""
    out = []
    for wk in range(BUILD_DAYS // 7):
        s = "ab"[int(rng.integers(0, 2))]
        hour = BUILD_START + timedelta(days=7 * wk, hours=int(rng.integers(0, 7 * 24)))
        n = int(rng.integers(1, max(2, int(60_000 * sf))))
        ev = events_table(rng, n, int(15_000 * sf))
        off = ev.column("ts").to_numpy() - np.datetime64(BUILD_START, "us")
        ts = np.datetime64(hour, "us") + (off % np.timedelta64(3600, "s"))
        etype = np.array(STREAMS[s])[rng.integers(0, len(STREAMS[s]), n)]
        ev = ev.set_column(1, "ts", pa.array(ts, pa.timestamp("us")))
        ev = ev.set_column(3, "event_type", pa.array(etype))
        _write_hour(root, s, hour, ev)
        out.append((s, hour))
    return out


def _week_start(day: datetime) -> datetime:
    return BUILD_START + timedelta(days=7 * ((day - BUILD_START).days // 7))


def required_jobs(changed: list[tuple[str, datetime]]) -> set[str]:
    """ConcreteJob ids an ingest set makes stale (the rebuild oracle)."""
    req: set[str] = set()
    for s, hour in changed:
        day = datetime(hour.year, hour.month, hour.day)
        req |= {f"day_{s}@{day.isoformat()}", f"day_join@{day.isoformat()}",
                f"week@{_week_start(day).isoformat()}"}
    return req


def build_manager(root: str, manager_cls, wrap):
    """The rule graph. ``wrap`` decorates each job function (timing)."""
    from pyspark.sql import functions as F

    from builder_spark.pipeline import Job

    def day_stream(s: str):
        pat = os.path.join(root, "raw", s, HOUR_FMT)

        def run(ctx):
            ev = ctx.spark.read.parquet(*ctx.dep_paths[pat])
            return ev.groupBy((F.col("user_id") % UBUCKETS).alias("ubucket")).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            )

        return Job(name=f"day_{s}", run=wrap(run), targets=os.path.join(root, f"day_{s}", DAY_FMT),
                   depends=[pat], file_step="1 day")

    da, db = (os.path.join(root, f"day_{s}", DAY_FMT) for s in "ab")

    def day_join(ctx):
        a = ctx.spark.read.parquet(*ctx.dep_paths[da]).select(
            "ubucket", F.col("n").alias("a_n"), F.col("cents").alias("a_cents"))
        b = ctx.spark.read.parquet(*ctx.dep_paths[db]).select(
            "ubucket", F.col("n").alias("b_n"), F.col("cents").alias("b_cents"))
        return a.join(b, "ubucket", "full").na.fill(0)

    dj = os.path.join(root, "day_join", DAY_FMT)

    def week(ctx):
        d = ctx.spark.read.parquet(*ctx.dep_paths[dj])
        return d.groupBy("ubucket").agg(
            *[F.sum(c).alias(c) for c in ("a_n", "a_cents", "b_n", "b_cents")],
            F.count(F.lit(1)).alias("days"),
        )

    mgr = manager_cls()
    mgr.add(day_stream("a"))
    mgr.add(day_stream("b"))
    mgr.add(Job(name="day_join", run=wrap(day_join), targets=dj, depends=[da, db],
                file_step="1 day"))
    mgr.add(Job(name="week", run=wrap(week), targets=os.path.join(root, "week", DAY_FMT),
                depends=[dj], file_step="7 days"))
    return mgr


def _read_dir(path: str):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas() if files else None


def expected_weeks(root: str) -> dict[str, list[tuple]]:
    """From-scratch batch computation of every ``week`` target with
    pandas over the raw partitions as they are on disk now."""
    import pandas as pd

    per_day = []
    for d in range(BUILD_DAYS):
        day = BUILD_START + timedelta(days=d)
        parts = {}
        for s in STREAMS:
            t = pq.read_table(os.path.join(root, "raw", s, day.strftime(DAY_FMT)))
            df = t.select(["user_id", "value"]).to_pandas()
            df["ubucket"] = df["user_id"] % UBUCKETS
            df["cents"] = np.round(df["value"] * 100).astype("int64")
            parts[s] = df.groupby("ubucket").agg(n=("cents", "size"), cents=("cents", "sum"))
        j = parts["a"].add_prefix("a_").join(parts["b"].add_prefix("b_"), how="outer")
        j = j.fillna(0).astype("int64")
        j["week"] = _week_start(day).strftime(DAY_FMT)
        per_day.append(j.reset_index())
    allp = pd.concat(per_day)
    out: dict[str, list[tuple]] = {}
    for wk, g in allp.groupby("week"):
        agg = g.groupby("ubucket").agg(
            a_n=("a_n", "sum"), a_cents=("a_cents", "sum"), b_n=("b_n", "sum"),
            b_cents=("b_cents", "sum"), days=("a_n", "size"))
        out[wk] = sorted(tuple(int(v) for v in r) for r in agg.reset_index().itertuples(index=False))
    return out


def check_weeks(root: str) -> list[str]:
    """Problems found comparing each built ``week`` target with the
    from-scratch computation (empty list = all equal)."""
    cols = ["ubucket", "a_n", "a_cents", "b_n", "b_cents", "days"]
    problems = []
    for wk, rows in expected_weeks(root).items():
        got = _read_dir(os.path.join(root, "week", wk))
        if got is None:
            problems.append(f"week {wk}: target missing")
            continue
        got_rows = sorted(tuple(int(v) for v in r) for r in got[cols].itertuples(index=False))
        if got_rows != rows:
            problems.append(f"week {wk}: {len(got_rows)} rows differ from batch ({len(rows)})")
    return problems


class PipelineBench(Bench):
    """Cold full build, then per warm pass: ingest (untimed) and the
    incremental rebuild through ``ExecutionManager.start_execution`` with
    ``SparkExecutor`` and ``max_workers`` = cpus."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.root = os.path.join(self.work, "pipeline")
        self.rng = np.random.default_rng(self.seed + 1)
        self.required: set[str] | None = None
        self.job_fn_s = 0.0
        self.expand_s: list[float] = []
        self._lock = threading.Lock()

    def make_inputs(self) -> None:
        write_raw(self.root, self.seed, SF)

    def setup(self, t0: float) -> None:
        super().setup(t0)
        from builder_spark.pipeline import BuildManager, SparkExecutor

        bench = self

        class TimedBuildManager(BuildManager):
            def expand(self, start, end):
                with bench.tracer.span("pipeline.expand"):
                    t = time.perf_counter()
                    g = super().expand(start, end)
                    bench.expand_s.append(time.perf_counter() - t)
                    return g

        def wrap(fn):
            def run(ctx):
                with bench.tracer.span("pipeline.job_fn"):
                    t = time.perf_counter()
                    df = fn(ctx)
                    bench._job_fn_add(time.perf_counter() - t)
                    return df
            return run

        self.mgr = build_manager(self.root, TimedBuildManager, wrap)
        self.executor = _OpExecutor(self, SparkExecutor(self.spark))

    def _job_fn_add(self, s: float) -> None:
        with self._lock:
            self.job_fn_s += s

    def before_pass(self, p: Pass) -> None:
        if p.phase == "cold":
            self.required = None
        else:
            changed = ingest(self.root, self.rng, SF)
            self.required = required_jobs(changed)

    def _build(self, p: Pass) -> None:
        from builder_spark.pipeline import ExecutionManager

        self.job_fn_s = 0.0
        em = ExecutionManager(self.mgr, self.executor)
        with self.tracer.span("pipeline.start_execution") as self.sched_span:
            results = em.start_execution(BUILD_START, BUILD_END, max_workers=self.cpus)
        ran = {k for k, v in results.items() if v == "ran"}
        required = set(results) if self.required is None else self.required
        p.extra.update({
            "ran": len(ran), "skipped": sum(v == "skipped" for v in results.values()),
            "failed": sum(v not in ("ran", "skipped") for v in results.values()),
            "required": len(required), "job_fn_s": self.job_fn_s,
            "mismatched": len(ran ^ required),
        })
        if ran != required:
            self.problems.setdefault(
                f"pass{p.idx}", f"ran {len(ran)} jobs, ingest required {len(required)}: "
                f"missing {sorted(required - ran)[:3]} extra {sorted(ran - required)[:3]}")

    cold_body = settle_body = warm_body = _build

    def run(self) -> None:
        super().run()
        if self.trace:  # a pass with nothing changed: only the staleness scan
            self.cur, self.required = Pass(len(self.passes), "noop", False), set()
            self.tracer.enabled = False
            t0 = time.perf_counter()
            self._build(self.cur)
            self.layer["pipeline.noop_pass_s"] = time.perf_counter() - t0
            self.tracer.enabled = True

    def check(self) -> None:
        for i, problem in enumerate(check_weeks(self.root)):
            self.problems[f"week{i}"] = problem
        # jobs that raised, jobs run or skipped against the ingest set,
        # and final targets that differ from the batch recomputation
        self.failed_ops = sum(1 for p in self.passes for o in p.ops if not o.ok)
        self.failed_ops += sum(p.extra["mismatched"] for p in self.passes)
        self.failed_ops += sum(1 for k in self.problems if k.startswith("week"))

    def op_frames(self):
        from builder_spark.pipeline.core import BuildContext

        graph = self.mgr.expand(BUILD_START, BUILD_END)
        seen = set()
        for cj in graph.topological():
            if cj.job.name in seen:
                continue
            seen.add(cj.job.name)
            ctx = BuildContext(self.spark, cj.start, cj.end, {
                pat: [t.unique_id for t in tgts] for pat, tgts in cj.dep_targets.items()
            }, cj.target.unique_id)
            yield cj.job.run(ctx)

    def pass_detail(self, p: Pass) -> dict:
        return {}

    def pipeline_layer(self) -> dict[str, float]:
        traced = self.warm(True)
        warm = self.warm()
        sched, execute, conc = [], [], []
        for p in traced:
            spans = [(o.start, o.end) for o in p.ops]
            sched.append(p.wall - union_length(spans))
            execute.append(sum(o.dur for o in p.ops) - p.extra["job_fn_s"])
            conc.append(sum(o.dur for o in p.ops) / p.wall)
        ran = sum(p.extra["ran"] for p in warm)
        return {
            "pipeline.expand_s": median(self.expand_s),
            "pipeline.noop_pass_s": self.layer.get("pipeline.noop_pass_s", 0.0),
            "pipeline.sched_self_s": median(sched),
            "pipeline.job_fn_s": median(p.extra["job_fn_s"] for p in traced),
            "pipeline.write_s": median(execute),
            "pipeline.jobs_ran": median(p.extra["ran"] for p in warm),
            "pipeline.jobs_skipped": median(p.extra["skipped"] for p in warm),
            "pipeline.jobs_failed": sum(p.extra["failed"] for p in self.passes),
            "pipeline.rebuild_ratio": ran / sum(p.extra["required"] for p in warm),
            "pipeline.concurrency": median(conc),
        }


class _OpExecutor:
    """Wraps the executor handed to ``ExecutionManager``: one operation
    (span, job group, latency sample) per ConcreteJob that runs."""

    def __init__(self, bench: PipelineBench, inner) -> None:
        self.bench = bench
        self.inner = inner

    def execute(self, cj) -> None:
        b = self.bench
        p = b.cur
        tid = b.trace_id(cj.unique_id)
        with b.tracer.span("pipeline.execute", tid, parent=b.sched_span):
            b.set_group(tid)
            t0 = time.perf_counter()
            ok = False
            try:
                self.inner.execute(cj)
                ok = True
            finally:
                with b._lock:
                    p.ops.append(Op(cj.unique_id, t0, time.perf_counter(), ok, tid))
