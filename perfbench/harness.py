"""Closed-loop operation runner shared by the workloads: times each
operation, checks its answer outside the timed region, counts failures,
tags Spark jobs with a job group per operation class, and runs the warm-up
rounds.  With a :class:`~spans.Tracer` it also records spans and Catalyst
phase times."""

from __future__ import annotations

import contextlib
import gc
import subprocess
import sys
import time
import traceback
from collections import defaultdict

import measure

WARMUP_MAX_ROUNDS = 4


class Run:
    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.phase = "measure"
        self.samples: dict = defaultdict(list)   # kind -> [(class, s)]
        self.attempted = 0
        self.failed = 0
        self.failures: dict = defaultdict(int)   # class -> measured failures
        self.busy = 0.0      # seconds inside timed operations, all phases
        self.cls = None
        self.last = 0.0      # seconds of the latest operation
        self.catalyst: dict = defaultdict(list)  # phase -> [ms]
        self.op_count = 0

    # -------------------------------------------------------------- ops
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def group(self, cls: str) -> str:
        return f"{self.phase}:{cls}"

    def op(self, cls: str, kind: str, action, check) -> bool:
        """Run ``action()`` under the job group of ``cls`` and time it; then
        ``check(result)`` outside the timed region.  An exception or a
        wrong answer counts the operation as failed."""
        self.op_count += 1
        self.attempted += 1
        self.cls = cls
        self.sc.setJobGroup(self.group(cls), cls)
        if self.tracer:
            self.tracer.op_id = self.op_count
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{cls}"):
                result = action()
            elapsed = time.perf_counter() - t0
            ok = bool(check(result))
            if not ok:
                print(f"# WRONG ANSWER {cls}: {str(result)[:300]}",
                      file=sys.stderr)
        except Exception:
            elapsed = time.perf_counter() - t0
            ok = False
            print(f"# FAILED {cls}:\n{traceback.format_exc()}",
                  file=sys.stderr)
        if not ok:
            self.failed += 1
            if self.phase == "measure":
                self.failures[cls] += 1
        self.busy += elapsed
        self.last = elapsed
        if self.phase == "measure":
            self.samples[kind].append((cls, elapsed))
        return ok

    def collect(self, df) -> list:
        """Fetch a query's rows (the execution half of a read) and, when
        traced, keep Catalyst's analysis/optimization/planning times."""
        with self.span("spark.exec"):
            rows = df.collect()
        if self.tracer and self.phase == "measure":
            phases = df._jdf.queryExecution().tracker().phases()
            for name in ("analysis", "optimization", "planning"):
                opt = phases.get(name)
                if opt.isDefined():
                    self.catalyst[name].append(opt.get().durationMs())
        return rows

    # ----------------------------------------------------- job accounting
    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every job event,
        so the status tracker's counts are final."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> tuple:
        """(jobs, stages, tasks) Spark ran under ``group``."""
        tr = self.sc.statusTracker()
        jobs = tr.getJobIdsForGroup(group)
        stages = [s for j in jobs for s in (tr.getJobInfo(j).stageIds or [])]
        tasks = 0
        for s in stages:
            info = tr.getStageInfo(s)
            tasks += info.numCompletedTasks if info else 0
        return len(jobs), len(stages), tasks

    def warm_up(self, round_fn) -> int:
        """Run warm-up rounds (untimed) until every class launches the same
        number of Spark jobs as in the round before; ``round_fn(i)`` runs
        one operation of each class and returns the classes.  Returns the
        rounds used."""
        prev = None
        used = 0
        for i in range(WARMUP_MAX_ROUNDS):
            self.phase = f"warm{i}"
            classes = round_fn(i)
            used += 1
            self.drain()
            counts = {c: self.jobs(self.group(c))[0] for c in classes}
            if counts == prev:
                break
            prev = counts
        self.phase = "measure"
        # move every object made so far (imported modules, Spark handles,
        # set-up state: ~80k objects, a 50 ms full collection) out of the
        # collector's reach, so its pauses scale with what the measured
        # operations allocate rather than landing on random operations
        gc.collect()
        gc.freeze()
        return used

    # ----------------------------------------------------------- results
    def latency_metrics(self, prefix: str, kind: str) -> dict:
        samples = self.samples[kind]
        secs = [s for _c, s in samples]
        value, pct, beyond = measure.tail(secs)
        p50 = measure.median(secs)
        by_class = defaultdict(list)
        for c, s in samples:
            by_class[c].append(s)
        print(f"# {prefix}: n={len(secs)} p50={p50:.4f}s at "
              f"{measure.rank_in_class(samples, p50)}, "
              f"tail=p{pct:.1f} ({beyond} beyond)={value:.4f}s at "
              f"{measure.rank_in_class(samples, value)}; class medians "
              + ", ".join(f"{c}={measure.median(v):.3f}x{len(v)}"
                          for c, v in sorted(by_class.items())))
        return {f"{prefix}_p50_s": p50, f"{prefix}_tail_s": value}

    def class_job_metrics(self, classes: list) -> dict:
        """spark.{jobs,stages,tasks} per operation of each class, and the
        totals over the measured run."""
        self.drain()
        out = {}
        tot = [0, 0, 0]
        for cls in classes:
            n = sum(1 for k in self.samples.values() for c, _ in k if c == cls)
            j, s, t = (a + b for a, b in zip(self.jobs(f"measure:{cls}"),
                                             self.jobs(f"measure:{cls}:sql")))
            tot = [tot[0] + j, tot[1] + s, tot[2] + t]
            for name, v in (("jobs", j), ("stages", s), ("tasks", t)):
                out[f"spark.{name}.{cls}"] = v / max(n, 1)
        out["spark.jobs"], out["spark.stages"], out["spark.tasks"] = tot
        return out


@contextlib.contextmanager
def spark_session(cpus: int):
    """The engine's session on ``local[cpus]``; on exit stop Spark and wait
    for the JVM it launched to end."""
    from linkedin_iceberg_spark.session import get_spark
    spark = get_spark("perfbench", cpus)
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        yield spark, (proc.pid if proc else None)
    finally:
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
