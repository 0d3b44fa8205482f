"""The closed-loop client shared by every workload.

One client thread sends one op at a time and waits for its result before
sending the next. An op is split into its *build* (the public function call
that returns a DataFrame, including any eager jobs it runs) and its *run*
(the action on that DataFrame: a collect, a count or a ``noop`` write).
Outputs are checked after the op's timer stops; a wrong result counts as a
failed op.
"""

from __future__ import annotations

import itertools
import os
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

from pb import machine
from pb import spans as sp
from pb.stats import median

MASTER = "local[4]"

LAYERS = (
    "session", "queryset", "operators.match", "operators.ann", "operators.indexing",
    "sources.writers", "operators.index_store.refresh", "operators.index_store.serve", "entry",
)


@dataclass
class OpRecord:
    type: str
    op_id: int
    traced: bool
    build_s: float = 0.0
    run_s: float = 0.0
    wall_s: float = 0.0
    cpu_s: float = 0.0  # CPU time of the engine's process tree during the op
    ok: bool = True
    error: str | None = None
    info: dict = field(default_factory=dict)


class OpContext:
    """Handed to an op body: ``build``/``run`` time one layer call each."""

    def __init__(self, bench: "Bench", rec: OpRecord):
        self.bench, self.rec = bench, rec

    def build(self, layer: str, fn):
        with self.bench.tracer.span(layer, phase="build"):
            t = time.perf_counter()
            try:
                return fn()
            finally:
                self.rec.build_s += time.perf_counter() - t

    def run(self, layer: str, fn):
        with self.bench.tracer.span(layer, phase="run"):
            t = time.perf_counter()
            try:
                return fn()
            finally:
                self.rec.run_s += time.perf_counter() - t


class Bench:
    def __init__(self, root: str, work: str, workload: str, seed: int, seconds: float, trace: bool,
                 driver_memory: str):
        self.root, self.work, self.driver_memory = root, work, driver_memory
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.tracer = sp.Tracer(enabled=trace)
        self.ops: list[OpRecord] = []
        self.setup_reps: list[float] = []
        self.session_s = 0.0
        self.spark = None
        self._jvm_pid = None
        self._op_ids = itertools.count(1)
        self._type_counts: dict[str, int] = {}
        self.loop_wall_s = 0.0
        self.loop_start = 0.0
        self._warming = False
        self._warm_ops: list[OpRecord] = []

    # -- session -------------------------------------------------------------

    def start_spark(self):
        for sub in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        # keep every file the run writes inside the checkout
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.work, "tmp")
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        os.environ["PYTHONPATH"] = os.pathsep.join([self.root, here])
        conf = {
            "spark.ui.enabled": "true" if self.trace else "false",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-XX:-UsePerfData -Djava.net.preferIPv4Stack=true "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                f"-Dderby.system.home={self.work}"
            ),
        }
        from docarray_spark import get_spark

        with self.tracer.span("session", phase="build"):
            t = time.perf_counter()
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", master=MASTER,
                                   driver_memory=self.driver_memory, extra_conf=conf)
            self.session_s = time.perf_counter() - t
        self.tracer.sc = self.spark.sparkContext
        from pyspark import SparkContext

        self._jvm_pid = SparkContext._gateway.proc.pid

    def engine_pid(self) -> int | None:
        """Pid of the Spark JVM, once started; its process tree (the JVM
        and its Python workers) is the engine whose memory ``peak_rss_mb``
        reports."""
        return self._jvm_pid

    def stop_spark(self):
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = self._jvm_pid = None

    # -- setup ---------------------------------------------------------------

    def setup(self, fn, reps: int = 1):
        """Run ``fn`` ``reps`` times and keep the last state; setup time is
        the session start plus the median repetition."""
        state = None
        for i in range(reps):
            with self.tracer.span("setup", op_id=0, rep=i):
                t = time.perf_counter()
                state = fn(state)
                self.setup_reps.append(time.perf_counter() - t)
        return state

    # -- ops -----------------------------------------------------------------

    def warmup_job(self):
        """One small untimed job before setup, with a Python-worker stage and
        a shuffle: it absorbs the session's first-job costs (JVM class
        loading, Python worker start), so ``setup_s`` measures the
        workload's setup rather than the session's first job."""
        from pyspark.sql import functions as F

        df = self.spark.range(0, 4096, numPartitions=4)
        with self.tracer.span("warmup", op_id=0):
            (df.mapInArrow(lambda batches: batches, df.schema)
             .groupBy((F.col("id") % 4).alias("k")).count().collect())

    def warmup(self, thunks):
        """Run ``thunks`` (ops) before timing starts: the first call of each
        code path pays one-off costs (JIT, Python worker imports) that a
        long-lived serving session pays once. Warm-up ops are checked but
        not recorded; a failed one ends the run."""
        self._warming = True
        try:
            with self.tracer.span("warmup", op_id=0):
                for thunk in thunks:
                    thunk()
        finally:
            self._warming = False
        failed = [r for r in self._warm_ops if not r.ok]
        if failed:
            raise RuntimeError(f"warm-up op failed: {failed[0].type}: {failed[0].error}")

    def op(self, op_type: str, body, check=None, **info) -> OpRecord:
        """Time ``body(ctx)``; then ``check(result)`` (untimed) must return
        True for the op to count as correct."""
        k = self._type_counts.get(op_type, 0)
        if not self._warming:
            self._type_counts[op_type] = k + 1
        # in a traced run, alternate traced and untraced samples of each op
        # type, so trace_overhead compares like with like
        traced = self.trace and k % 2 == 1 and not self._warming
        rec = OpRecord(op_type, next(self._op_ids), traced, info=dict(info))
        saved = self.tracer.enabled
        self.tracer.enabled = traced
        if self.trace and not traced:
            self.tracer.sc.setJobGroup("pb-untraced", "untraced op", False)
        result = None
        cpu = machine.tree_cpu_s(self._jvm_pid)
        t = time.perf_counter()
        try:
            with self.tracer.span(op_type, op_id=rec.op_id):
                result = body(OpContext(self, rec))
        except Exception as exc:  # one failed op must not end the run
            rec.ok, rec.error = False, f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        finally:
            rec.wall_s = time.perf_counter() - t
            rec.cpu_s = machine.tree_cpu_s(self._jvm_pid) - cpu
            self.tracer.enabled = saved
        if rec.ok and check is not None:
            with self.tracer.span("verify", op_id=rec.op_id):
                try:
                    verdict = check(result)
                except Exception as exc:
                    verdict = f"{type(exc).__name__}: {exc}"
                    traceback.print_exc(file=sys.stderr)
            if verdict is not True:
                rec.ok, rec.error = False, f"wrong result: {verdict}"
                print(f"[perfbench] {op_type} op {rec.op_id}: {rec.error}", file=sys.stderr)
        if self.trace:
            self.tracer.sc.setLocalProperty("spark.jobGroup.id", None)
        (self._warm_ops if self._warming else self.ops).append(rec)
        return rec

    def loop(self, next_pass):
        """Closed loop until the deadline: ``next_pass(i)`` yields the op
        thunks of pass ``i``; the op in flight at the deadline completes.
        The first pass (two when traced, so every op type has a traced and
        an untraced sample) always completes."""
        self.loop_start = time.time()
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        min_passes = 2 if self.trace else 1
        i = 0
        while i < min_passes or time.perf_counter() < deadline:
            for thunk in next_pass(i):
                if i >= min_passes and time.perf_counter() >= deadline:
                    break
                thunk()
            i += 1
        self.loop_wall_s = time.perf_counter() - t0

    # -- summaries -----------------------------------------------------------

    def by_type(self, traced: bool | None = None) -> dict[str, list[OpRecord]]:
        out: dict[str, list[OpRecord]] = {}
        for r in self.ops:
            if traced is None or r.traced == traced:
                out.setdefault(r.type, []).append(r)
        return out

    def pass_cost(self, per_pass: dict[str, int], attr: str = "wall_s",
                  traced: bool | None = None) -> float | None:
        """Σ over op types of (ops of that type per pass) × (median of
        ``attr`` over that type's samples): the cost of one pass of the
        workload's op list, robust to a stray slow sample."""
        groups = self.by_type(traced)
        total = 0.0
        for t, n in per_pass.items():
            vals = [getattr(r, attr) for r in groups.get(t, []) if r.ok]
            if not vals:
                return None
            total += n * median(vals)
        return total
