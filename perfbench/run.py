"""Benchmark entry point.

    python3 perfbench/run.py --workload {scan_sql,commit_churn} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  Each run generates its input tables from
``--seed``, works in a fresh directory under ``.perfbench_work/`` (removed
at exit), drives one closed-loop client on a pinned ``local[k]`` Spark, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CPUS = 4
WORKLOADS = ("scan_sql", "commit_churn")
DRIVER_MEMORY = "2g"


def _environment(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and the engine write inside
    ``work``, and pin the master and shuffle width before Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
        # the short-lived launcher JVM would otherwise write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote("spark.sql.warehouse.dir="
                                  + os.path.join(work, "spark-warehouse")),
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                        f" -Dderby.system.home={tmp}"),
            "pyspark-shell"]),
    })
    time.tzset()
    import tempfile
    tempfile.tempdir = None


def _measure(args, work: str, cpus: int) -> dict:
    import linkedin_iceberg_spark  # noqa: F401  (fail fast without the engine)

    import datagen
    import harness
    import layers
    import measure
    from commit_churn import CommitChurn
    from scan_sql import ScanSql
    from spans import Tracer, instrument

    workload_cls = dict(zip(WORKLOADS, (ScanSql, CommitChurn)))[args.workload]
    t0 = time.perf_counter()
    data_dir = workload_cls.SF and datagen.write(
        args.seed, workload_cls.SF, os.path.join(work, "data"))
    with harness.spark_session(cpus) as (spark, jvm_pid):
        print(f"# +{time.perf_counter() - t0:.1f}s workload={args.workload} seed={args.seed} "
              f"master={spark.sparkContext.master} "
              f"shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')} "
              f"sf={workload_cls.SF}", flush=True)
        tracer = Tracer() if args.trace else None
        run = harness.Run(spark, tracer)
        w = workload_cls(run, data_dir, work, args.seed, args.seconds)
        restore = instrument(tracer, layers.targets()) if tracer else None
        setup_times = w.setup()
        warm = w.warm_up()
        print(f"# +{time.perf_counter() - t0:.1f}s setup builds (s): "
              f"{[round(t, 3) for t in setup_times]}; warm-up rounds: {warm}",
              flush=True)
        if not tracer:
            n, busy = w.loop()
            metrics = {"setup_s": measure.median(setup_times),
                       "ops_per_s": n / busy}
            metrics.update(run.latency_metrics("read", "read"))
            metrics.update(run.latency_metrics("commit", "commit"))
            metrics["space_amp"] = measure.tables_storage(
                w.locations())["space_amp"]
            metrics["driver_peak_rss_mb"] = measure.vmhwm_mb()
            units = layers.END_TO_END
            print(f"# +{time.perf_counter() - t0:.1f}s measured {n} ops "
                  f"({busy:.1f}s inside them)", flush=True)
        else:
            restore()
            metrics = traced_loop(run, w, tracer)
            # the same loop again untraced, for the tracing overhead; it
            # runs second, so any warm-up left over flatters it, not the
            # traced loop
            run.phase = "baseline"
            run.tracer = None
            try:
                n0, busy0 = w.loop()
            finally:
                run.tracer = tracer
            metrics["trace.untraced_ops_per_s"] = n0 / busy0
            metrics["trace.overhead_ops_per_s"] = (
                metrics["trace.ops_per_s"] - metrics["trace.untraced_ops_per_s"])
            if w.PROBE:
                import probe
                restore = instrument(tracer, layers.targets())
                metrics.update(probe.run_probe(run, data_dir))
                restore()
            metrics["driver.jvm_peak_rss_mb"] = measure.vmhwm_mb(jvm_pid)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            units = layers.PER_LAYER
    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"metrics outside the catalogue: {sorted(unknown)}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }


def traced_loop(run, w, tracer) -> dict:
    """The measured loop, instrumented, with event listeners; returns
    the per-layer metrics."""
    import layers
    import measure
    from spans import instrument

    from linkedin_iceberg_spark import events
    from linkedin_iceberg_spark.catalog.catalog import Catalog

    counts = {"scan_events": 0, "commits": 0, "files_added": 0}

    def on_scan(_ev):
        counts["scan_events"] += 1

    def on_commit(ev):
        counts["commits"] += 1
        counts["files_added"] += int(ev.summary.get("added-data-files", 0))

    sql_calls = []

    def sql_group(orig):
        # jobs launched inside Catalog.sql get their own job group
        def sql(self, query):
            run.sc.setJobGroup(run.group(run.cls) + ":sql", run.cls)
            sql_calls.append(run.cls)
            try:
                return orig(self, query)
            finally:
                run.sc.setJobGroup(run.group(run.cls), run.cls)
        return sql

    first_op = run.op_count + 1
    orig_sql = Catalog.sql
    Catalog.sql = sql_group(orig_sql)
    restore = instrument(tracer, layers.targets())
    events.register(events.ScanEvent, on_scan)
    events.register(events.CreateSnapshotEvent, on_commit)
    try:
        n, busy = w.loop()
    finally:
        events.unregister(events.ScanEvent, on_scan)
        events.unregister(events.CreateSnapshotEvent, on_commit)
        restore()
        Catalog.sql = orig_sql
    out = layers.span_metrics(tracer, first_op, n)
    out["trace.ops_per_s"] = n / busy
    out.update(run.class_job_metrics(layers.CLASSES))
    sql_jobs = sum(run.jobs(f"measure:{c}:sql")[0] for c in set(sql_calls))
    out["catalog.sql_jobs"] = sql_jobs / max(1, len(sql_calls))
    out["catalog.scan.scan_events"] = counts["scan_events"]
    out["catalog.table.commits"] = counts["commits"]
    out["catalog.table.files_added"] = counts["files_added"]
    out["catalog.table.commit_failures"] = sum(
        run.failures[c] for c in ("append", "delete", "upsert"))
    for name in ("analysis", "optimization", "planning"):
        vals = run.catalyst[name]
        out[f"spark.{name}_ms"] = measure.median(vals) if vals else 0.0
    out.update({k: v for k, v in measure.tables_storage(w.locations()).items()
                if k.startswith("storage.")})
    out.update(w.layer())
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, ROOT)
    try:
        _environment(work, cpus)
        result = _measure(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
