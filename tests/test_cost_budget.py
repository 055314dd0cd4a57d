"""Spark job and task budgets of the keyed paths and the graph pipeline.

Jobs and tasks are deterministic for a fixed plan and input size, where
wall time on a shared host is not, so a regression that adds a job to a
write path (an extra collect, a broadcast, an eager checkpoint) or widens
a shuffle shows here from one run. A budget may be lowered freely;
raising one is a change to a check.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from spark_on_hbase_spark.index import SecondaryIndex
from spark_on_hbase_spark.matview import MaterializedAgg
from spark_on_hbase_spark.operators import graph as G
from spark_on_hbase_spark.table import KeyedTable


def _cost(spark, op) -> tuple[int, int]:
    """(jobs, tasks) ``op()`` runs, read from the status tracker by job
    group once the listener bus has caught up with the jobs' events. Tasks
    are the completed tasks of every stage of every job, as the
    benchmark's tracer counts them."""
    sc = spark.sparkContext
    group = f"cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        op()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            tasks += si.numCompletedTasks if si is not None else 0
    return len(jobs), tasks


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
        "update": _cost(spark, lambda: idx.update(batch))[0],
        "delete": _cost(spark, lambda: idx.delete(gone))[0],
        "refresh": _cost(spark, mv.refresh)[0],
    }
    assert jobs["update"] <= 9 and jobs["delete"] <= 9 and jobs["refresh"] <= 15, jobs
    assert idx.scrutiny().count() == 0
    want = (
        t.df().groupBy("g")
        .agg(F.sum("v"), F.min("v"), F.max("v"), F.count("*"))
        .collect()
    )
    assert {tuple(r) for r in mv.df().collect()} == {tuple(r) for r in want}


def test_semi_read_job_budget_under_and_over_the_cap(spark, tmp_path, monkeypatch):
    """Jobs and tasks of building a ``semi_read`` under and over
    ``POINT_READ_CAP``, of two key relations: one in four input partitions
    with duplicate keys, whose distinct shuffles, and one persisted and
    already hash-partitioned by the key, whose distinct does not.

    ========================  =========  =========
    key relation, cap         parent     now
    ========================  =========  =========
    shuffling, under (64)     2 / 5      2 / 5
    shuffling, over (64)      5 / 11     4 / 7
    partitioned, under (400)  1 / 4      1 / 4
    partitioned, over (64)    3 / 6      3 / 6
    ========================  =========  =========

    For a shuffling key set one bounded collect runs the key lineage and
    its distinct shuffle; over the cap that collect materializes the key
    relation's checkpoint, which the envelope aggregate then reads, where
    the parent ran the lineage and the shuffle again under a second
    checkpoint. A partitioned key set is checkpointed only once it is
    known to be over the cap: checkpointing it first cost 3 / 7 under the
    cap and 4 / 9 over it. The under-cap rows are index upkeep's,
    refresh's and lookup's path, so they must not rise. About 8 s of
    tier-1."""
    monkeypatch.setattr(KeyedTable, "POINT_READ_CAP", 64)
    schema = "k bigint, v bigint, ts int"
    t = KeyedTable(spark, str(tmp_path / "t"), key_col="k", ts_col="ts")
    t.create(spark.createDataFrame([(k, k * 3, 0) for k in range(400)], schema))
    t.update(spark.createDataFrame([(k, k * 5, 1) for k in range(0, 400, 7)], schema))

    def keys(step):
        # ids wrap around the key span, so every key appears twice
        return spark.range(0, 800, step, 4).select((F.col("id") % 400).alias("k"))

    got = {}
    for name, step in (("under", 20), ("over", 2)):
        out = {}
        got[name] = _cost(spark, lambda: out.setdefault("df", t.semi_read(keys(step))))
        assert out["df"].count() == 400 // step
    parted = spark.range(0, 400, 1, 4).select(F.col("id").alias("k")).repartition(4, "k").persist()
    try:
        parted.count()
        for name, cap in (("parted_under", 400), ("parted_over", 64)):
            monkeypatch.setattr(KeyedTable, "POINT_READ_CAP", cap)
            out = {}
            got[name] = _cost(spark, lambda: out.setdefault("df", t.semi_read(parted)))
            assert out["df"].count() == 400
    finally:
        parted.unpersist()
    budget = {"under": (2, 5), "over": (4, 7), "parted_under": (1, 4), "parted_over": (3, 6)}
    assert all(g <= b for k in budget for g, b in zip(got[k], budget[k])), got


def test_graph_pipeline_task_budget(spark):
    """Tasks of building the network (``from_pairs_partitioned`` of 2000
    pairs in four input partitions, persisted and counted), of
    ``bsp_converge`` over it (3 supersteps) and of 3 ``pagerank``
    iterations, under ``local[N]``: at most 5 + 2N, 3 + 10N and 5 + 13N.
    Each shuffle of this small graph is N = ``defaultParallelism``
    partitions wide (``plans.shuffle_width``). When the network and every
    superstep shuffled at ``spark.sql.shuffle.partitions`` (32 on a
    machine of up to 32 cores) they took 69, 323 and 549 tasks on
    ``local[4]``, against 13, 43 and 57 now. About 10 s of tier-1."""
    n = spark.sparkContext.defaultParallelism
    pairs = spark.range(0, 2000, 1, 4).select(
        (F.col("id") % 400).alias("src"),
        (F.col("id") % 400 - F.col("id") % 8 + F.col("id") % 3).alias("dst"),
        (F.col("id") % 256 / 255.0).alias("prob"),
        F.lit("P1").alias("vendor"),
        F.col("id").alias("ts"),
    ).persist()
    pairs.count()
    out = {}
    try:
        build = _cost(spark, lambda: out.setdefault(
            "net", G.from_pairs_partitioned(pairs).persist()
        ).count())
        net = out["net"]
        state = net.select(F.col("src").alias("key")).distinct().withColumn("label", F.col("key"))
        bsp = _cost(spark, lambda: out.setdefault("cc", G.bsp_converge(net, state)))
        cc, steps = out["cc"]
        assert steps == 3 and cc.select("label").distinct().count() == 50
        pr = _cost(spark, lambda: out.setdefault(
            "pr", G.pagerank(net.select("src", "dst"), max_iters=3).collect()
        ))
        assert len(out["pr"]) == 400
        assert abs(sum(r["rank"] for r in out["pr"]) - 1.0) < 1e-9
        tasks = {"network": build[1], "bsp_converge": bsp[1], "pagerank": pr[1]}
        assert net.rdd.getNumPartitions() == n, tasks
        assert tasks["network"] <= 5 + 2 * n, tasks
        assert tasks["bsp_converge"] <= 3 + 10 * n, tasks
        assert tasks["pagerank"] <= 5 + 13 * n, tasks
    finally:
        pairs.unpersist()
        if "net" in out:
            out["net"].unpersist()
