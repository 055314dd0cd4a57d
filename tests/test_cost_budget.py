"""Spark job budgets of the keyed write paths.

Jobs are deterministic for a fixed plan and input size, where wall time on
a shared host is not, so a regression that adds a job to a write path
(an extra collect, a broadcast, an eager checkpoint) shows here from one
run. A budget may be lowered freely; raising one is a change to a check.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from spark_on_hbase_spark.index import SecondaryIndex
from spark_on_hbase_spark.matview import MaterializedAgg
from spark_on_hbase_spark.table import KeyedTable


def _jobs(spark, op) -> int:
    """Spark jobs ``op()`` runs, read from the status tracker by job group
    once the listener bus has caught up with the jobs' events."""
    sc = spark.sparkContext
    group = f"cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        op()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_indexed_writes_and_minmax_refresh_job_budget(spark, tmp_path):
    """Jobs of one indexed ``update`` of 20 rows, one indexed ``delete`` of
    10 keys and one MIN/MAX ``refresh`` on a 200-row table: 9, 9 and 15.
    Before every mutation kind went through one layer body they were 10,
    10 and 16 — the index layer's broadcast anti-join and the refresh's
    eager checkpoint of its view layer each cost a job. About 17 s of
    tier-1."""
    schema = "k bigint, g bigint, v bigint, ts int"
    t = KeyedTable(spark, str(tmp_path / "base"), key_col="k", ts_col="ts")
    t.create(spark.createDataFrame(
        [(k, k % 7, k * 3, 0) for k in range(200)], schema
    ))
    idx = SecondaryIndex(t, "g", path=str(tmp_path / "idx")).build()
    mv = MaterializedAgg(
        spark, str(tmp_path / "mv"), t, "g", {"sv": "v"},
        mins={"lo": "v"}, maxs={"hi": "v"},
    ).build()
    batch = spark.createDataFrame(
        [(k, (k + 1) % 7, k, 1) for k in range(0, 400, 20)], schema
    )
    gone = spark.range(100, 110).select(F.col("id").alias("k"))
    jobs = {
        "update": _jobs(spark, lambda: idx.update(batch)),
        "delete": _jobs(spark, lambda: idx.delete(gone)),
        "refresh": _jobs(spark, mv.refresh),
    }
    assert jobs["update"] <= 9 and jobs["delete"] <= 9 and jobs["refresh"] <= 15, jobs
    assert idx.scrutiny().count() == 0
    want = (
        t.df().groupBy("g")
        .agg(F.sum("v"), F.min("v"), F.max("v"), F.count("*"))
        .collect()
    )
    assert {tuple(r) for r in mv.df().collect()} == {tuple(r) for r in want}
