"""Operator probe for the traced run: ``pipeline_training_release``,
``dedup_minhash_lsh_full`` and ``similarity_topk`` run once each through the
query registry over the run's generated tables and are checked against the
registry's DuckDB oracles with the comparison of ``tools/check_queries.py``
(oracle-less entries: a non-empty result).  It times the ``queries`` layer
(registry function -> DataFrame) and the ``operators`` layer.
``similarity_pq_search`` is left out: it alone takes 20-40 s at any scale,
which would push a traced run past three minutes."""

from __future__ import annotations

import os
import sys

import harness
import layers
import measure

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _checker(con, oracle_sql):
    import pandas as pd

    import check_queries as cq

    def check(actual) -> bool:
        if oracle_sql is None:   # oracle-less entries: rows-only
            return len(actual) > 0
        expected = con.execute(oracle_sql).fetchdf()
        if cq.dtype_skew(actual, expected):
            return False
        a, e = cq.normalize(actual), cq.normalize(expected)
        if list(a.columns) != list(e.columns) or len(a) != len(e):
            return False
        pd.testing.assert_frame_equal(a, e, check_dtype=False,
                                      check_exact=True)
        return True
    return check


def run_probe(run: harness.Run, data_dir: str) -> dict:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_queries as cq
    from linkedin_iceberg_spark import queries as Q

    con = cq.oracle_con(data_dir)
    oracles = Q.oracle_sql()
    registry = Q.queries()
    out = {}
    run.phase = "probe"
    for name in layers.PROBE_OPERATORS:
        fn = registry[name]

        def action(fn=fn):
            with run.span("queries.plan"):
                df = fn(run.spark, data_dir)
            with run.span("spark.exec"):
                return df.toPandas()
        run.op(name, "probe", action, _checker(con, oracles.get(name)))
        out[f"operators.{name}_ms"] = 1000.0 * run.last
    out["queries.plan_ms"] = 1000.0 * measure.median(
        run.tracer.durations("queries.plan"))
    run.phase = "measure"
    return out
