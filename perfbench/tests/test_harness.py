"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
sys.path.insert(0, PERFBENCH)

import datagen  # noqa: E402
import layers  # noqa: E402
import measure  # noqa: E402
import opseq  # noqa: E402
from spans import Tracer  # noqa: E402

DOMAIN = {"orders": 1000, "customers": 100,
          "months": opseq.month_starts(datagen.ORDER_EPOCH.date(),
                                       datagen.ORDER_EPOCH.date().replace(
                                           year=2001))}


# ------------------------------------------------------------ tail rule

def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 31)]          # 1..30
    value, pct, beyond = measure.tail(list(reversed(values)))
    assert (value, beyond) == (20.0, 10)
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(1 for v in values if v > value) == 10


def test_tail_with_exactly_eleven_samples_is_the_minimum():
    value, pct, beyond = measure.tail([5.0] + [9.0] * 10)
    assert (value, beyond) == (5.0, 10)
    assert pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_refuses_too_few_samples(n):
    with pytest.raises(ValueError):
        measure.tail([1.0] * n)


def test_rank_in_class_flags_class_boundaries():
    samples = [("fast", 0.1)] * 5 + [("slow", 1.0), ("slow", 2.0),
                                     ("slow", 3.0)]
    assert measure.rank_in_class(samples, 2.0) == ("slow", pytest.approx(1 / 3))
    assert measure.rank_in_class(samples, 0.1) == ("fast", 0.0)


# --------------------------------------------------- seeded op sequences

def test_scan_sql_ops_repeat_for_a_seed_and_differ_across_seeds():
    a = opseq.scan_sql_ops(7, 3, DOMAIN)
    assert a == opseq.scan_sql_ops(7, 3, DOMAIN)
    assert a != opseq.scan_sql_ops(8, 3, DOMAIN)
    per_block = sum(opseq.SCAN_BLOCK.values())
    assert len(a) == 3 * per_block
    for i in range(3):   # every block holds the fixed class counts
        block = [c for c, _p in a[i * per_block:(i + 1) * per_block]]
        assert {c: block.count(c) for c in block} == opseq.SCAN_BLOCK


def test_churn_ops_repeat_for_a_seed_and_differ_across_seeds():
    def ops(seed):
        m = opseq.ChurnModel(seed)
        m.initial()
        return opseq.churn_ops(m, 4)
    a = ops(3)
    assert a == ops(3)
    assert a != ops(4)
    # the rows differ across seeds, the order of the classes does not
    assert [c for c, _p in a] == [c for c, _p in ops(4)]
    commits = [c for c, _p in a if c in ("append", "delete", "upsert")]
    assert len(commits) == 4 * len(opseq.CHURN_CYCLE)
    assert sum(1 for c, _p in a if c == "read") == len(commits)
    assert sum(1 for c, _p in a if c == "maintain") == \
        len(commits) // opseq.MAINTAIN_EVERY


def test_churn_model_answers_follow_its_own_rows():
    m = opseq.ChurnModel(1)
    m.initial()
    m.append()
    before = set(m.rows)
    lo, hi = m.delete()
    assert not any(lo <= k < hi for k in m.rows)
    assert len(before - set(m.rows)) == opseq.DELETE_KEYS
    rows = m.upsert()
    assert all(m.rows[k][2] == v for k, _ts, _c, v in rows)
    n, s = m.read()
    assert n == len(m.rows) and s == sum(r[2] for r in m.rows.values())


def test_generated_tables_repeat_for_a_seed_and_differ_across_seeds():
    a = datagen.generate(5, 0.0002)
    b = datagen.generate(5, 0.0002)
    c = datagen.generate(6, 0.0002)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])


# ------------------------------------------------- storage accounting

def _write(path: str, size: int) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(b"x" * size)
    return path


def _fixture_table(root: str) -> str:
    """A two-snapshot table in the engine's on-disk layout.  Snapshot 1
    added a (100 B) and b (200 B); snapshot 2 (current) deleted b and
    added c (300 B).  d (400 B) is an orphan, ._a.crc a hidden file."""
    loc = os.path.join(root, "t")
    mdir = os.path.join(loc, "metadata")
    a, b, c = (_write(os.path.join(loc, "data", f"{n}.parquet"), s)
               for n, s in (("a", 100), ("b", 200), ("c", 300)))
    _write(os.path.join(loc, "data", "d.parquet"), 400)
    _write(os.path.join(loc, "data", "._a.crc"), 8)

    def manifest(name, rows):
        pq.write_table(pa.table({
            "status": [r[0] for r in rows], "content": [0] * len(rows),
            "file_path": [r[1] for r in rows],
            "file_size_in_bytes": [r[2] for r in rows]}),
            os.path.join(mdir, name))

    def manifest_list(name, manifests):
        pq.write_table(pa.table({"manifest_path": manifests}),
                       os.path.join(mdir, name))

    os.makedirs(mdir, exist_ok=True)
    manifest("m1.parquet", [(1, a, 100), (1, b, 200)])
    manifest("m2.parquet", [(0, a, 100), (2, b, 200), (1, c, 300)])
    manifest_list("snap-1.parquet", ["m1.parquet"])
    manifest_list("snap-2.parquet", ["m2.parquet"])
    md = {"current-snapshot-id": 2, "snapshots": [
        {"snapshot-id": 1, "manifest-list": "snap-1.parquet"},
        {"snapshot-id": 2, "manifest-list": "snap-2.parquet"}]}
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump({"snapshots": []}, fh)
    with open(os.path.join(mdir, "v2.metadata.json"), "w") as fh:
        json.dump(md, fh)
    return loc


def test_space_amp_and_orphans_on_a_fixture_table(tmp_path):
    loc = _fixture_table(str(tmp_path))
    files = measure.table_files(loc)
    assert set(files["live"]) == {os.path.join(loc, "data", "a.parquet"),
                                  os.path.join(loc, "data", "c.parquet")}
    assert measure.live_data_bytes(files) == 400
    assert files["manifests"] == 1
    assert files["json_bytes"] == os.path.getsize(
        os.path.join(loc, "metadata", "v2.metadata.json"))
    # b is gone from the current snapshot but snapshot 1 still references it
    assert os.path.join(loc, "data", "b.parquet") in files["referenced"]

    s = measure.storage(loc, files["referenced"], 400)
    assert s["data_bytes"] == 100 + 200 + 300 + 400 + 8
    meta = sum(os.path.getsize(os.path.join(loc, "metadata", f))
               for f in os.listdir(os.path.join(loc, "metadata")))
    assert s["metadata_bytes"] == meta
    assert s["orphan_files"] == 1                      # d only
    assert s["space_amp"] == pytest.approx((1008 + meta) / 400)
    summed = measure.tables_storage([loc, loc])
    assert summed["space_amp"] == pytest.approx(s["space_amp"])
    assert summed["storage.orphan_files"] == 2


# ------------------------------------------------------------- tracing

def test_self_time_subtracts_direct_children():
    tr = Tracer()
    tr.spans = [["op.x", 0.0, 10.0, None, 1],
                ["catalog.sql", 1.0, 5.0, 0, 1],
                ["catalog.scan.plan_files", 2.0, 3.0, 1, 1],
                ["spark.exec", 6.0, 9.0, 0, 1],
                ["op.y", 20.0, 21.0, None, 0]]
    st = tr.self_times(first_op=1)
    assert st == {"op.x": 3.0, "catalog.sql": 3.0,
                  "catalog.scan.plan_files": 1.0, "spark.exec": 3.0}


def test_span_nesting_and_dump(tmp_path):
    tr = Tracer()
    tr.op_id = 4
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s[3] for s in tr.spans] == [None, 0]
    path = os.path.join(str(tmp_path), "spans.jsonl")
    tr.dump(path)
    rows = [json.loads(line) for line in open(path)]
    assert [(r["name"], r["parent"], r["op"]) for r in rows] == \
        [("outer", None, 4), ("inner", 0, 4)]


# ---------------------------------------------------- BENCHMARK.json

def test_benchmark_json_lists_the_harness_catalogue():
    with open(os.path.join(os.path.dirname(PERFBENCH),
                           "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        layers.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        layers.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_catalogue_classes_are_the_workloads_classes():
    from commit_churn import CommitChurn
    from scan_sql import ScanSql
    assert layers.CLASSES == ScanSql.classes + CommitChurn.classes
