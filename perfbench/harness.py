"""Shared benchmark harness and the ``llm_curation`` query workload.

A run is: set-up (session, registry, first actions), one cold pass, one
settle pass that lets the JIT settle and fetches the outputs to check,
warm passes for ``--seconds``, then the output checks. Only the cold and
warm passes are reported. Every pass is a list of operations (``Op``); a
query operation builds the DataFrame with the registered
``fn(spark, sf_dir)`` and fully materializes it with a ``noop`` write,
which keeps every output column (``count()`` would let Catalyst prune
the aggregates).
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

from spans import Tracer

#: Scale factor of the generated tables. At sf0.1 a 9-query pass takes
#: 9-10 s warm and ~27 s cold on 4 cores, too long for the run budget.
SF = 0.01
MAX_CPUS = 4

#: The query workload: Arrow Python-worker kernels, HOF/explode-heavy
#: dedup and similarity paths, checkpoints; few joins.
QUERIES = [
    "q_dedup_exact", "q_dedup_fuzzy", "q_minhash_banded", "q_tfidf_top_terms",
    "q_semdedup_prune", "q_span_dup_rate", "q_cosine_topk", "q_text_stats",
    "q_pipeline_dedup_split",
]
#: Tables the queries read; their first loads are timed in the cold pass.
TABLES = ["documents", "embeddings"]

#: span name -> the layer (module) whose self time it counts toward
LAYER_OF = {
    "bench.pass": "bench",
    "op": "bench",
    "session.get_spark": "session",
    "session.noop_action": "session",
    "registry.load_all": "registry",
    "registry.first_touch": "registry",
    "catalog.load_table": "catalog",
    "queries.plan": "queries",
    "spark.exec": "spark",
    "pipeline.start_execution": "pipeline.sched",
    "pipeline.expand": "pipeline.expand",
    "pipeline.execute": "pipeline.execute",
    "pipeline.job_fn": "pipeline.job_fn",
}
#: layers that have spans in each phase of a run
PHASE_LAYERS = {
    "setup": ["registry", "session"],
    "cold": ["bench", "catalog", "pipeline.execute", "pipeline.expand", "pipeline.job_fn",
             "pipeline.sched", "queries", "registry", "spark"],
    "warm": ["bench", "pipeline.execute", "pipeline.expand", "pipeline.job_fn",
             "pipeline.sched", "queries", "spark"],
}
SPARK_KEYS = ["jobs", "tasks", "tasks_failed", "task_busy_ms", "gc_ms", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes"]
PIPELINE_KEYS = ["pipeline.expand_s", "pipeline.noop_pass_s", "pipeline.sched_self_s",
                 "pipeline.job_fn_s", "pipeline.write_s", "pipeline.jobs_ran",
                 "pipeline.jobs_skipped", "pipeline.jobs_failed", "pipeline.rebuild_ratio",
                 "pipeline.concurrency"]


def materialize(df) -> None:
    """The timed action: a ``noop`` write computes every output column
    (``count()`` would let Catalyst prune unused aggregates)."""
    df.write.format("noop").mode("overwrite").save()


def tail(durs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it."""
    durs = sorted(durs)
    return durs[max(0, len(durs) - 11)]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


@dataclass
class Op:
    name: str
    start: float
    end: float
    ok: bool
    group: str
    plan_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Pass:
    idx: int
    phase: str  # cold | settle | warm
    traced: bool
    wall: float = 0.0
    ops: list[Op] = field(default_factory=list)
    spark: dict[str, int] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


class Bench:
    """One benchmark run of a query workload (subclassed for the pipeline)."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.data = os.path.join(work, "data")
        self.cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
        self.tracer = Tracer(trace)
        self.passes: list[Pass] = []
        self.layer: dict[str, float] = {}
        self.problems: dict[str, str] = {}
        self.failed_ops = 0
        self.spark = None
        self.status = None
        self.cur: Pass | None = None
        self.setup_s = 0.0
        self.outputs: dict[str, tuple[list, list]] = {}

    # -- inputs and set-up --------------------------------------------------

    def make_inputs(self) -> None:
        from datagen import write_tables

        write_tables(self.data, SF, self.seed)

    def setup(self, t0: float) -> None:
        """Everything before the first timed operation; ``t0`` is when
        the inputs were ready."""
        from builder_spark.registry import load_all
        from builder_spark.session import get_spark

        with self.tracer.span("session.get_spark", "setup"):
            t = time.perf_counter()
            self.spark = get_spark("perfbench")
            self.layer["session.get_spark_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("registry.load_all", "setup"):
            t = time.perf_counter()
            self.registry = load_all()
            self.layer["registry.load_all_s"] = time.perf_counter() - t
        # the first action pays the one-time job-submission path (warm-up);
        # the median of the rest is the fixed cost every action pays
        samples = []
        for _ in range(5):
            with self.tracer.span("session.noop_action", "setup"):
                t = time.perf_counter()
                self.spark.range(1000).count()
                samples.append(time.perf_counter() - t)
        self.layer["session.noop_action_s"] = median(samples[1:])
        if self.trace:
            from sparkstats import StatusReader

            self.status = StatusReader(self.spark)
        self.setup_s = time.perf_counter() - t0

    # -- passes -------------------------------------------------------------

    def trace_id(self, op: str) -> str:
        return f"{self.workload}/{self.cur.idx}/{op}"

    def run_pass(self, phase: str, traced: bool, body) -> Pass:
        p = Pass(len(self.passes), phase, traced)
        self.passes.append(p)
        self.cur = p
        self.before_pass(p)
        self.tracer.enabled = traced
        with self.tracer.span("bench.pass", self.trace_id("pass")):
            t0 = time.perf_counter()
            body(p)
            p.wall = time.perf_counter() - t0
        self.tracer.enabled = self.trace
        if traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.status.drain()
            for op in p.ops:
                for k, v in self.status.group(op.group).items():
                    p.spark[k] = p.spark.get(k, 0) + v
        return p

    def before_pass(self, p: Pass) -> None:
        """Untimed work before a pass (the pipeline's data arrival)."""

    def set_group(self, group: str) -> None:
        if self.cur.traced:
            self.spark.sparkContext.setJobGroup(group, group)

    def run(self) -> None:
        self.run_pass("cold", self.trace, self.cold_body)
        self.run_pass("settle", False, self.settle_body)
        end = time.perf_counter() + self.seconds
        n = 0
        # at least two warm passes (four when half of them are traced)
        while n < (4 if self.trace else 2) or time.perf_counter() < end:
            self.run_pass("warm", self.trace and n % 2 == 1, self.warm_body)
            n += 1
        self.tracer.enabled = False
        self.check()

    # -- query workloads ----------------------------------------------------

    def _order(self, pass_idx: int) -> list[str]:
        order = list(QUERIES)
        random.Random(self.seed * 1000 + pass_idx).shuffle(order)
        return order

    def cold_body(self, p: Pass) -> None:
        from builder_spark.catalog import load_table

        loads, touches = [], []
        for t in TABLES:
            with self.tracer.span("catalog.load_table", self.trace_id(t)):
                t0 = time.perf_counter()
                load_table(self.spark, self.data, t)
                loads.append(time.perf_counter() - t0)
        for name in self._order(p.idx):
            with self.tracer.span("registry.first_touch", self.trace_id(name)):
                t0 = time.perf_counter()
                self.registry[name].fn  # noqa: B018 - first access imports the query module
                touches.append(time.perf_counter() - t0)
            self._query_op(p, name)
        self.layer["catalog.load_table_s"] = sum(loads)
        self.layer["registry.first_touch_s"] = sum(touches)

    def warm_body(self, p: Pass) -> None:
        for name in self._order(p.idx):
            self._query_op(p, name)

    def settle_body(self, p: Pass) -> None:
        """Untimed pass that also fetches every output for the checks."""
        from builder_spark.canon import fetch_spark

        for name in self._order(p.idx):
            self._query_op(p, name, lambda df, name=name: self.outputs.__setitem__(name, fetch_spark(df)))

    def _query_op(self, p: Pass, name: str, fetch=None) -> None:
        tid = self.trace_id(name)
        with self.tracer.span("op", tid):
            self.set_group(tid)
            t0 = time.perf_counter()
            ok = True
            try:
                with self.tracer.span("queries.plan", tid):
                    df = self.registry[name].fn(self.spark, self.data)
                t1 = time.perf_counter()
                with self.tracer.span("spark.exec", tid):
                    (fetch or materialize)(df)
            except Exception as e:  # an op that raises counts as failed
                ok, t1 = False, time.perf_counter()
                self.problems.setdefault(name, f"raised {type(e).__name__}: {str(e)[:200]}")
            p.ops.append(Op(name, t0, time.perf_counter(), ok, tid, t1 - t0))

    def check(self) -> None:
        from checks import check_query, duckdb_views

        con = duckdb_views(self.data)
        try:
            for name, (cols, rows) in self.outputs.items():
                try:
                    problem = check_query(con, name, self.registry[name].oracle, cols, rows)
                except Exception as e:  # a check that raises is a failed check
                    problem = f"check raised {type(e).__name__}: {str(e)[:200]}"
                if problem:
                    self.problems.setdefault(name, problem)
        finally:
            con.close()
        bad = set(self.problems)
        self.failed_ops = sum(1 for p in self.passes for o in p.ops if not o.ok or o.name in bad)

    def plan_shapes(self) -> dict[str, int]:
        """Static plan node counts summed over the workload's operations."""
        from builder_spark.plans.inspect import formatted_plan
        from sparkstats import PLAN_NODES, plan_counts

        tot = dict.fromkeys(PLAN_NODES, 0)
        for df in self.op_frames():
            for k, v in plan_counts(formatted_plan(df)).items():
                tot[k] += v
        return tot

    def op_frames(self):
        for name in QUERIES:
            yield self.registry[name].fn(self.spark, self.data)

    # -- results ------------------------------------------------------------

    def warm(self, traced: bool | None = None) -> list[Pass]:
        return [p for p in self.passes
                if p.phase == "warm" and (traced is None or p.traced == traced)]

    def end_to_end(self) -> dict[str, float]:
        warm = self.warm(False)
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": self.passes[0].wall,
            "warm_pass_s": median(p.wall for p in warm),
            "op_p50_s": median(o.dur for p in warm for o in p.ops),
        }

    def per_layer(self) -> dict[str, float]:
        m = dict.fromkeys(["session.get_spark_s", "session.noop_action_s", "registry.load_all_s",
                           "registry.first_touch_s", "catalog.load_table_s", "queries.plan_s",
                           "queries.exec_s"] + [f"queries.{q}_s" for q in QUERIES], 0.0)
        m.update(self.layer)
        traced = self.warm(True)
        if self.workload == "llm_curation":
            m["queries.plan_s"] = median(sum(o.plan_s for o in p.ops) for p in traced)
            m["queries.exec_s"] = median(sum(o.dur - o.plan_s for o in p.ops) for p in traced)
            for q in QUERIES:
                m[f"queries.{q}_s"] = median(o.dur for p in self.warm() for o in p.ops if o.name == q)
        sp = {k: median(p.spark.get(k, 0) for p in traced) for k in SPARK_KEYS}
        wall = median(p.wall for p in traced)
        untraced = median(p.wall for p in self.warm(False))
        m.update({
            "spark.jobs": sp["jobs"],
            "spark.tasks": sp["tasks"],
            "spark.tasks_failed": sp["tasks_failed"],
            "spark.task_busy_s": sp["task_busy_ms"] / 1e3,
            "spark.busy_share": sp["task_busy_ms"] / 1e3 / (wall * self.cpus),
            "spark.gc_s": sp["gc_ms"] / 1e3,
            "spark.input_bytes": sp["input_bytes"],
            "spark.shuffle_read_bytes": sp["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": sp["shuffle_write_bytes"],
        })
        m.update({f"plan.{k}": v for k, v in self.plan_shapes().items()})
        m.update(dict.fromkeys(PIPELINE_KEYS, 0.0))
        m.update(self.pipeline_layer())
        m["fail_ratio"] = self.failed_ops / self.attempted()
        # these two do not repeat within a tenth across runs
        # (too few tail samples; JVM heap growth), so they are per-layer
        m["op_tail_s"] = tail([o.dur for p in self.warm() for o in p.ops])
        m["peak_rss_mb"] = peak_rss_mb(self.spark)
        m.update(self.self_times())
        m["trace.overhead_s"] = wall - untraced
        m["trace.overhead_share"] = (wall - untraced) / untraced
        m["trace.spans"] = len(self.tracer.spans)
        return m

    def pipeline_layer(self) -> dict[str, float]:
        return {}

    def attempted(self) -> int:
        return sum(len(p.ops) for p in self.passes)

    def self_times(self) -> dict[str, float]:
        """Self time per layer: in set-up, in the cold pass, and the
        median over the traced warm passes."""
        by_pass: dict[str, list] = {}
        for sp in self.tracer.spans:
            parts = sp.trace.split("/")
            by_pass.setdefault(parts[1] if len(parts) > 2 else "setup", []).append(sp)

        def layer_sums(spans) -> dict[str, float]:
            out: dict[str, float] = {}
            for name, s in self.tracer.self_times(spans).items():
                if name in LAYER_OF:
                    out[LAYER_OF[name]] = out.get(LAYER_OF[name], 0.0) + s
            return out

        phases = {
            "setup": [layer_sums(by_pass.get("setup", []))],
            "cold": [layer_sums(by_pass.get("0", []))],
            "warm": [layer_sums(by_pass.get(str(p.idx), [])) for p in self.warm(True)],
        }
        return {f"self.{ph}.{layer}_s": median(r.get(layer, 0.0) for r in phases[ph])
                for ph, layers in PHASE_LAYERS.items() for layer in layers}

    def pass_detail(self, p: Pass) -> dict:
        return {"op_s": {o.name: round(o.dur, 4) for o in p.ops}}

    def details(self) -> dict:
        return {
            "workload": self.workload, "seed": self.seed, "sf": SF, "cpus": self.cpus,
            "seconds": self.seconds, "trace": int(self.trace),
            "passes": [{"idx": p.idx, "phase": p.phase, "traced": p.traced,
                        "wall_s": round(p.wall, 4), "ops": len(p.ops), **p.extra,
                        **self.pass_detail(p)} for p in self.passes],
            "op_samples": sum(len(p.ops) for p in self.warm(False)),
            "problems": self.problems,
        }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM (VmHWM) plus this process."""
    import resource

    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0
