"""MaterializedAgg: incremental view maintenance == full recompute, under
every mutation kind, the crash/idempotence contract, the degraded big-delta
path, and the compaction-fallback guard."""

import os

import pytest
from pyspark.sql import functions as F

from spark_on_hbase_spark.matview import MaterializedAgg
from spark_on_hbase_spark.table import KeyedTable


def _base(spark, tmp_path, n=500):
    t = KeyedTable(
        spark, os.path.join(tmp_path, "base"), key_col="k", ts_col="ts",
        num_partitions=4,
    )
    t.create(
        spark.range(0, n).select(
            F.col("id").alias("k"),
            (F.col("id") % 23).alias("grp"),
            (F.col("id") * 3 + 1).alias("val"),
            F.lit(100).cast("int").alias("ts"),
        )
    )
    return t


def _mv(spark, tmp_path, base, **kw):
    return MaterializedAgg(
        spark, os.path.join(tmp_path, "mv"), base, "grp", {"sum_val": "val"},
        **kw,
    )


def _recompute(base):
    return {
        tuple(r)
        for r in base.df()
        .groupBy("grp")
        .agg(F.sum("val").cast("bigint").alias("sum_val"), F.count("*").alias("n_rows"))
        .collect()
    }


def _view(mv):
    return {tuple(r) for r in mv.df().collect()}


def _mutate_every_kind(spark, base):
    base.update(
        spark.range(0, 60).select(
            F.col("id").alias("k"),
            ((F.col("id") + 7) % 23).alias("grp"),  # group migration
            (F.col("id") * 5).alias("val"),
            F.lit(200).cast("int").alias("ts"),
        )
    )
    base.put(
        spark.range(60, 100).select(
            F.col("id").alias("k"), (F.col("id") * 11).alias("val"),
            F.lit(300).cast("int").alias("ts"),
        )
    )
    base.increment(
        spark.range(100, 160).select(
            F.col("id").alias("k"), F.lit(13).cast("bigint").alias("delta")
        ),
        counter_col="val",
    )
    base.delete(spark.range(200, 240).select(F.col("id").alias("k")))
    base.delete(
        spark.range(240, 260).select(F.col("id").alias("k")), columns=["val"]
    )
    base.update(
        spark.range(5000, 5030).select(
            F.col("id").alias("k"), (F.col("id") % 23).alias("grp"),
            F.lit(9).cast("bigint").alias("val"),
            F.lit(400).cast("int").alias("ts"),
        )
    )


def test_incremental_matches_recompute_across_every_mutation_kind(spark, tmp_path):
    base = _base(spark, str(tmp_path))
    mv = _mv(spark, str(tmp_path), base).build()
    assert _view(mv) == _recompute(base)
    _mutate_every_kind(spark, base)
    touched = mv.refresh()
    assert touched > 0
    assert _view(mv) == _recompute(base)


def test_refresh_is_idempotent_and_meta_crash_heals_from_the_stamp(spark, tmp_path):
    base = _base(spark, str(tmp_path))
    mv = _mv(spark, str(tmp_path), base).build()
    base.increment(
        spark.range(0, 50).select(
            F.col("id").alias("k"), F.lit(5).cast("bigint").alias("delta")
        ),
        counter_col="val",
    )
    assert mv.refresh() > 0
    assert mv.refresh() == 0  # already current
    expected = _recompute(base)
    # crash window: the delta layer committed but the meta write was lost —
    # the stamp riding the layer name is the durable truth, so a re-refresh
    # must NOT double-apply
    mv._write_meta(1)
    assert mv.applied_upto() == base.snapshot_seq()
    assert mv.refresh() == 0
    assert _view(mv) == expected


def test_big_delta_degrades_to_the_semi_join_path_and_stays_exact(
    spark, tmp_path, monkeypatch
):
    base = _base(spark, str(tmp_path))
    monkeypatch.setattr(KeyedTable, "POINT_READ_CAP", 10)
    mv = _mv(spark, str(tmp_path), base).build()
    _mutate_every_kind(spark, base)  # far more than 10 changed keys
    assert mv.refresh() > 0
    assert _view(mv) == _recompute(base)


def test_compaction_across_the_horizon_forces_a_rebuild(spark, tmp_path):
    base = _base(spark, str(tmp_path))
    mv = _mv(spark, str(tmp_path), base).build()
    base.delete(spark.range(0, 40).select(F.col("id").alias("k")))
    base.compact()  # deleted keys physically gone: a delta would be wrong
    assert mv.refresh() == -1  # rebuild fallback, never a silent bad delta
    assert _view(mv) == _recompute(base)
    assert mv.refresh() == 0


def test_groups_folded_to_zero_rows_disappear_from_the_view(spark, tmp_path):
    base = _base(spark, str(tmp_path), n=46)  # grps 0..22, 2 members each
    mv = _mv(spark, str(tmp_path), base).build()
    # delete every member of grp 0 (keys 0 and 23)
    base.delete(spark.createDataFrame([(0,), (23,)], "k long"))
    mv.refresh()
    grps = {r[0] for r in mv.df().select("grp").collect()}
    assert 0 not in grps
    assert _view(mv) == _recompute(base)


def test_contracts_refuse_floats_ttl_and_key_groups(spark, tmp_path):
    base = _base(spark, str(tmp_path), n=10)
    with pytest.raises(ValueError, match="integer-typed"):
        _float_check(spark, str(tmp_path))
    with pytest.raises(ValueError, match="group_col"):
        MaterializedAgg(
            spark, os.path.join(str(tmp_path), "mv_k"), base, "k", {"s": "val"}
        )
    ttl_base = KeyedTable(
        spark, os.path.join(str(tmp_path), "ttl"), key_col="k", ts_col="ts",
        ttl=60,
    )
    with pytest.raises(ValueError, match="TTL"):
        MaterializedAgg(
            spark, os.path.join(str(tmp_path), "mv_t"), ttl_base, "grp",
            {"s": "val"},
        )


def _float_check(spark, tmp_path):
    t = KeyedTable(
        spark, os.path.join(tmp_path, "fbase"), key_col="k", ts_col="ts",
        num_partitions=2,
    )
    t.create(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("grp"),
            (F.col("id") * 1.5).alias("fval"),
            F.lit(1).cast("int").alias("ts"),
        )
    )
    MaterializedAgg(
        spark, os.path.join(tmp_path, "fmv"), t, "grp", {"s": "fval"}
    ).build()


def test_checkpoint_aware_compaction_keeps_refresh_incremental(spark, tmp_path):
    """compact(keep_since=view checkpoint) folds history up to the view's
    applied horizon and leaves its pending deltas intact — refresh stays
    INCREMENTAL (no rebuild fallback) and exact. The retention discipline
    a production rollup runs: compact to the slowest consumer's offset."""
    base = _base(spark, str(tmp_path))
    mv = _mv(spark, str(tmp_path), base).build()
    base.increment(
        spark.range(0, 50).select(
            F.col("id").alias("k"), F.lit(5).cast("bigint").alias("delta")
        ),
        counter_col="val",
    )
    assert mv.refresh() > 0
    checkpoint = mv.applied_upto()
    _mutate_every_kind(spark, base)  # pending deltas past the checkpoint
    base.compact(keep_since=checkpoint)
    touched = mv.refresh()
    assert touched > 0, "refresh must stay incremental, not rebuild (-1)"
    assert _view(mv) == _recompute(base)


def test_refresh_interleaved_with_a_seeded_random_mutation_storm(spark, tmp_path):
    """Sequencing pin: 10 seeded-random mutation batches of every kind with
    refresh() interleaved at random points (sometimes after 1 batch,
    sometimes after 3) — the view must equal a recompute at every refresh
    point. Catches order-dependent delta bugs (e.g. old-state read taken at
    the wrong snapshot) that single-batch tests can't see."""
    import random

    rng = random.Random(1729)
    base = _base(spark, str(tmp_path), n=300)
    mv = _mv(spark, str(tmp_path), base).build()
    ts = 1000
    for step in range(10):
        kind = rng.choice(["update", "put", "increment", "delete", "celldel", "insert"])
        lo = rng.randrange(0, 250)
        hi = lo + rng.randrange(10, 60)
        ids = spark.range(lo, hi)
        ts += 1
        if kind == "update":
            base.update(ids.select(
                F.col("id").alias("k"),
                ((F.col("id") + rng.randrange(1, 23)) % 23).alias("grp"),
                (F.col("id") * rng.randrange(2, 9)).alias("val"),
                F.lit(ts).cast("int").alias("ts")))
        elif kind == "put":
            base.put(ids.select(
                F.col("id").alias("k"),
                (F.col("id") + rng.randrange(1, 500)).alias("val"),
                F.lit(ts).cast("int").alias("ts")))
        elif kind == "increment":
            base.increment(ids.select(
                F.col("id").alias("k"),
                F.lit(rng.randrange(-5, 20) or 3).cast("bigint").alias("delta")),
                counter_col="val")
        elif kind == "delete":
            base.delete(ids.select(F.col("id").alias("k")))
        elif kind == "celldel":
            base.delete(ids.select(F.col("id").alias("k")), columns=["val"])
        else:
            base.update(ids.select(
                (F.col("id") + 10_000 + step * 1000).alias("k"),
                (F.col("id") % 23).alias("grp"),
                F.lit(rng.randrange(1, 99)).cast("bigint").alias("val"),
                F.lit(ts).cast("int").alias("ts")))
        if rng.random() < 0.5 or step == 9:
            mv.refresh()
            assert _view(mv) == _recompute(base), f"diverged at step {step}"


# -- MIN/MAX maintenance (affected-group recompute) ---------------------------


def _recompute_ext(base):
    return {
        tuple(r)
        for r in base.df()
        .groupBy("grp")
        .agg(
            F.sum("val").cast("bigint").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.count("*").alias("n_rows"),
        )
        .collect()
    }


def test_minmax_matches_recompute_including_deleted_extremes(spark, tmp_path):
    """The non-self-maintainable aggregates: delete a group's max row,
    cell-delete values, migrate keys — the recomputed-affected-groups path
    must equal a full recompute after every refresh."""
    base = _base(spark, str(tmp_path))
    mv = MaterializedAgg(
        spark, os.path.join(str(tmp_path), "mv"), base, "grp",
        {"sum_val": "val"}, mins={"min_val": "val"}, maxs={"max_val": "val"},
    ).build()
    assert {tuple(r) for r in mv.df().collect()} == _recompute_ext(base)
    # grp g holds keys g, g+23, ... — key 499 is the max val row of grp
    # 499%23: delete exactly that row, so the stored max MUST shrink
    base.delete(spark.createDataFrame([(499,), (498,)], "k long"))
    _mutate_every_kind(spark, base)
    assert mv.refresh() > 0
    assert {tuple(r) for r in mv.df().collect()} == _recompute_ext(base)
    # second wave: cell-delete val for a whole small group to force the
    # NULL-extreme path (sparse put can't store NULL; celldel must)
    base.delete(
        spark.range(0, 500).where((F.col("id") % 23) == 5).select(
            F.col("id").alias("k")
        ),
        columns=["val"],
    )
    # by this point the base has crossed compact_threshold and auto-
    # compacted, so refresh correctly takes the rebuild fallback (-1);
    # the assertion is that WORK happened (never a silent 0) and the view
    # equals a recompute either way
    assert mv.refresh() != 0
    assert {tuple(r) for r in mv.df().collect()} == _recompute_ext(base)


def test_minmax_with_a_group_index_uses_lookup_in_and_stays_exact(spark, tmp_path):
    """The scale path: affected groups' rows come from ONE multi-range
    index read (lookup_in) instead of a base scan. Mutations route
    THROUGH the index (the indexed-writer contract), and the result must
    equal a recompute — and equal the index-less MV."""
    from spark_on_hbase_spark.index import SecondaryIndex

    base = _base(spark, str(tmp_path))
    idx = SecondaryIndex(
        base, "grp", os.path.join(str(tmp_path), "idx")
    ).build()
    mv = MaterializedAgg(
        spark, os.path.join(str(tmp_path), "mv"), base, "grp",
        {"sum_val": "val"}, maxs={"max_val": "val"}, group_index=idx,
    ).build()
    idx.update(
        spark.range(0, 80).select(
            F.col("id").alias("k"), ((F.col("id") + 9) % 23).alias("grp"),
            (F.col("id") * 13).alias("val"), F.lit(300).cast("int").alias("ts"),
        )
    )
    idx.delete(spark.range(400, 440).select(F.col("id").alias("k")))
    idx.increment(
        spark.range(100, 150).select(
            F.col("id").alias("k"), F.lit(7).cast("bigint").alias("delta")
        ),
        counter_col="val",
    )
    assert mv.refresh() > 0
    got = {tuple(r) for r in mv.df().collect()}
    expect = {
        tuple(r)
        for r in base.df()
        .groupBy("grp")
        .agg(
            F.sum("val").cast("bigint").alias("sum_val"),
            F.max("val").alias("max_val"),
            F.count("*").alias("n_rows"),
        )
        .collect()
    }
    assert got == expect


def test_minmax_crash_between_sum_and_extremes_self_heals(spark, tmp_path):
    """Sub-transaction recovery: simulate a crash after the sum delta
    committed but before the extremes put — the next refresh must redo
    ONLY the extremes (sums not double-applied) and converge."""
    base = _base(spark, str(tmp_path))
    mv = MaterializedAgg(
        spark, os.path.join(str(tmp_path), "mv"), base, "grp",
        {"sum_val": "val"}, maxs={"max_val": "val"},
    ).build()
    base.update(
        spark.range(0, 30).select(
            F.col("id").alias("k"), (F.col("id") % 23).alias("grp"),
            (F.col("id") * 1000).alias("val"),
            F.lit(500).cast("int").alias("ts"),
        )
    )
    # replicate ONLY the sum half of what refresh would do, with its stamp
    cur = base.snapshot_seq()
    old, new, _ = mv._changed_states(mv._sum_applied(), cur)
    delta = (
        mv._contrib(new, 1)
        .unionByName(mv._contrib(old, -1))
        .groupBy("grp")
        .agg(
            F.sum("__dx_sum_val").alias("__d_sum_val"),
            F.sum("__dx_n").alias("__d_n"),
        )
    )
    mv.mv.increment_many(
        delta, {"sum_val": "__d_sum_val", "n_rows": "__d_n"},
        stamp=f"mv_upto_{cur:06d}",
    )
    # crash here: extremes stamp missing, meta stale. refresh() must redo
    # only the extremes — if it re-applied the sums the totals double
    mv.refresh()
    got = {tuple(r) for r in mv.df().collect()}
    expect = {
        tuple(r)
        for r in base.df()
        .groupBy("grp")
        .agg(
            F.sum("val").cast("bigint").alias("sum_val"),
            F.max("val").alias("max_val"),
            F.count("*").alias("n_rows"),
        )
        .collect()
    }
    assert got == expect
