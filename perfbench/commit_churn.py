"""``commit_churn``: one writer committing a seeded cycle of appends,
key-range deletes and upserts to a day-partitioned table, each followed by
a driver-local read-after-write that must match the generator's model of
the table.  Maintenance (rewrite_data_files, rewrite_manifests, expire_snapshots) runs
every :data:`opseq.MAINTAIN_EVERY` commits so metadata plateaus instead of
drifting.  Every commit invalidates the table's metadata memos.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.compute as pc

import harness
import measure
import opseq

# the first build also pays the JVM's warm-up; five builds keep the median
# among the warm ones, where a build takes about 1 s on a 4-core machine
SETUP_REPEATS = 5
# measured-loop size: round(seconds * this) cycles of opseq.CHURN_CYCLE; a
# cycle takes about 5 s on a 4-core machine
CYCLES_PER_SECOND = 0.2
RETAIN_SNAPSHOTS = 2


class CommitChurn:
    SF = None      # generates its own rows; reads no input tables
    PROBE = False
    classes = ["append", "delete", "upsert", "read", "maintain"]

    def __init__(self, run: harness.Run, data_dir: str, work: str, seed: int,
                 seconds: int):
        self.run, self.work = run, work
        self.seed, self.seconds = seed, seconds
        self.model = None
        self.table = self.cat = None
        self.metadata: list = []      # table_files() after each traced op
        self.rewritten = [0, 0]       # files, bytes

    def _df(self, rows: list):
        return self.run.spark.createDataFrame(
            rows, "k long, ts timestamp, cat string, v long")

    def _build(self, warehouse: str):
        from linkedin_iceberg_spark import Catalog, PartitionSpec, Schema

        self.model = opseq.ChurnModel(self.seed)
        df = self._df(self.model.initial())
        cat = Catalog(self.run.spark, warehouse)
        t = cat.create_table("db.churn", df, spec=PartitionSpec.builder_for(
            Schema.from_spark(df.schema)).day("ts").build())
        t.append(df)
        return cat, t

    def setup(self) -> list:
        """SETUP_REPEATS builds of the table with its initial load, each in
        a fresh warehouse; the last one serves the measured loop."""
        times = []
        for i in range(SETUP_REPEATS):
            wh = os.path.join(self.work, f"wh{i}")
            t0 = time.perf_counter()
            self.cat, self.table = self._build(wh)
            times.append(time.perf_counter() - t0)
            if i < SETUP_REPEATS - 1:
                shutil.rmtree(wh)
        return times

    def do(self, cls: str, p) -> bool:
        from linkedin_iceberg_spark.expressions import and_, gt_eq, lt

        run, t = self.run, self.table
        if cls == "read":
            def action():
                # the engine's driver-local read: same planning and delete
                # application as a Spark scan, without a Spark job
                rows = t.new_scan().select(["v"]).to_arrow()
                return rows.num_rows, pc.sum(rows["v"]).as_py() or 0
            ok = run.op(cls, "read", action, lambda r: r == p)
        elif cls == "maintain":
            traced = run.tracer is not None
            before = measure.table_files(t.location)["live"] if traced else {}

            def action():
                t.rewrite_data_files()
                t.rewrite_manifests()
                t.expire_snapshots(retain_last=RETAIN_SNAPSHOTS)
            ok = run.op(cls, "maintain", action, lambda r: True)
            if traced:
                after = measure.table_files(t.location)["live"]
                gone = [v[0] for f, v in before.items()
                        if f not in after and v[1] == 0]
                self.rewritten[0] += len(gone)
                self.rewritten[1] += sum(gone)
        else:
            # a commit's effect is checked by the read-after-write after it
            df = None if cls == "delete" else self._df(p)
            action = {"append": lambda: t.append(df),
                      "upsert": lambda: t.upsert(df, ["k"]),
                      "delete": lambda: t.delete_where(
                          and_(gt_eq("k", p[0]), lt("k", p[1])))}[cls]
            ok = run.op(cls, "commit", action, lambda r: True)
        if run.tracer and run.phase == "measure":
            self.metadata.append(measure.table_files(t.location))
        return ok

    def warm_up(self) -> int:
        def one_round(_i):
            m = self.model
            for cls in ("append", "delete", "upsert"):
                self.do(cls, getattr(m, cls)())
                self.do("read", m.read())
            self.do("maintain", None)
            return self.classes
        return self.run.warm_up(one_round)

    def loop(self) -> tuple:
        """Run the measured operations; returns (count, seconds spent inside
        them).  A second call continues the same seeded churn on the same
        table."""
        self.metadata.clear()
        self.rewritten = [0, 0]
        ops = opseq.churn_ops(self.model,
                              max(1, round(self.seconds * CYCLES_PER_SECOND)))
        busy = self.run.busy
        for cls, p in ops:
            self.do(cls, p)
        return len(ops), self.run.busy - busy

    def locations(self) -> list:
        return [self.table.location]

    def layer(self) -> dict:
        md = self.metadata or [measure.table_files(self.table.location)]
        return {
            "catalog.metadata.json_bytes":
                measure.median([m["json_bytes"] for m in md]),
            "catalog.manifests.count":
                measure.median([m["manifests"] for m in md]),
            "catalog.manifests.bytes":
                measure.median([m["manifest_bytes"] for m in md]),
            "catalog.maintenance.files_rewritten": self.rewritten[0],
            "catalog.maintenance.bytes_rewritten": self.rewritten[1],
        }
