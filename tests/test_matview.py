"""MaterializedAgg: incremental view maintenance == full recompute, under
every mutation kind, the one-commit refresh and its crash points, the
degraded big-delta path, and the compaction-fallback guard."""

import os

import pytest
from pyspark.sql import functions as F

from spark_on_hbase_spark.matview import MaterializedAgg
from spark_on_hbase_spark.table import KeyedTable


def _base(spark, tmp_path, n=500):
    t = KeyedTable(
        spark, os.path.join(tmp_path, "base"), key_col="k", ts_col="ts",
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


def _minmax_mv(spark, tmp_path, base):
    return MaterializedAgg(
        spark, os.path.join(tmp_path, "mv"), base, "grp",
        {"sum_val": "val"}, mins={"min_val": "val"}, maxs={"max_val": "val"},
    ).build()


class _Crash(RuntimeError):
    pass


def _crash_next_commit(monkeypatch, when: str) -> None:
    """The next ``KeyedTable._commit`` dies just before its log swap
    (``when="before"``) or just after it (``"after"``)."""
    real = KeyedTable._commit

    def commit(self, *a, **kw):
        monkeypatch.setattr(KeyedTable, "_commit", real)
        if when == "after":
            real(self, *a, **kw)
        raise _Crash(when)

    monkeypatch.setattr(KeyedTable, "_commit", commit)


def test_minmax_crash_between_sum_and_extremes_self_heals(
    spark, tmp_path, monkeypatch
):
    """A refresh commits its sums and its extremes together: one view
    layer and its stamp in one swap of the view table's log, so the only
    crash point between them is that swap. Crashed just before it, the
    view and its horizon are unchanged, and the next refresh applies the
    whole window once — sums not double-applied, extremes recomputed."""
    base = _base(spark, str(tmp_path))
    mv = _minmax_mv(spark, str(tmp_path), base)
    _mutate_every_kind(spark, base)
    view, upto = _view(mv), mv.applied_upto()
    _crash_next_commit(monkeypatch, "before")
    with pytest.raises(_Crash):
        mv.refresh()
    assert _view(mv) == view and mv.applied_upto() == upto
    assert mv.refresh() > 0
    assert _view(mv) == _recompute_ext(base)


def test_refresh_is_idempotent_and_meta_crash_heals_from_the_stamp(
    spark, tmp_path, monkeypatch
):
    """The horizon is the highest stamp in the view table's log, written
    by the same swap as the refresh's layer. A current view refreshes to
    0; crashed just after the swap, the stamp is durable, so the next
    refresh returns 0 and writes nothing instead of re-applying."""
    base = _base(spark, str(tmp_path))
    mv = _minmax_mv(spark, str(tmp_path), base)
    base.increment(
        spark.range(0, 50).select(
            F.col("id").alias("k"), F.lit(5).cast("bigint").alias("delta")
        ),
        counter_col="val",
    )
    assert mv.refresh() > 0
    assert mv.refresh() == 0  # already current
    base.delete(spark.createDataFrame([(499,)], "k long"))  # a group's max row
    _crash_next_commit(monkeypatch, "after")
    with pytest.raises(_Crash):
        mv.refresh()
    layers = mv.mv._layers()
    assert mv.applied_upto() == base.snapshot_seq()
    assert mv.refresh() == 0
    assert mv.mv._layers() == layers
    assert _view(mv) == _recompute_ext(base)


def test_refresh_commits_one_view_layer(spark, tmp_path, monkeypatch):
    """The cost pin of a refresh: whatever the view aggregates, it makes
    one base ``semi_read``, one view-table commit and adds one view layer.
    The window cell-deletes one group's every extreme (a CELLDEL row) and
    moves another group's max (a SPARSE row) next to its sum delta (a
    DELTA row). About 15 s of tier-1."""
    t = KeyedTable(spark, str(tmp_path / "base"), key_col="k", ts_col="ts")
    schema = "k bigint, g bigint, v bigint, w bigint, ts int"
    t.create(spark.createDataFrame(
        [(k, k % 3, k, 10 * k, 0) for k in range(1, 7)], schema
    ))
    mm = MaterializedAgg(
        spark, str(tmp_path / "mm"), t, "g", {"sv": "v"},
        mins={"lo": "w"}, maxs={"hi": "w"},
    ).build()
    sums = MaterializedAgg(spark, str(tmp_path / "sums"), t, "g", {"sv": "v"}).build()
    t.delete(spark.createDataFrame([(3,), (6,)], "k bigint"), columns=["w"])
    t.update(spark.createDataFrame([(4, 1, 7, 5, 1)], schema))
    reads, commits = [], []
    real_read, real_commit = KeyedTable.semi_read, KeyedTable._commit

    def semi_read(self, *a, **kw):
        reads.append(self.path)
        return real_read(self, *a, **kw)

    def commit(self, *a, **kw):
        commits.append(self.path)
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(KeyedTable, "semi_read", semi_read)
    monkeypatch.setattr(KeyedTable, "_commit", commit)
    for mv, touched in ((mm, 1), (sums, 1)):
        reads.clear(), commits.clear()
        before = len(mv.mv._layers())
        assert mv.refresh() == touched  # only g=1's sum and count moved
        assert reads == [t.path] and commits == [mv.mv.path]
        assert len(mv.mv._layers()) == before + 1
    assert {tuple(r) for r in mm.df().collect()} == {
        (0, 9, None, None, 2), (1, 8, 5, 10, 2), (2, 7, 20, 50, 2)
    }
    assert {tuple(r) for r in sums.df().collect()} == {(0, 9, 2), (1, 8, 2), (2, 7, 2)}


def test_view_root_of_the_old_layout_raises_until_rebuilt(spark, tmp_path):
    """A view root holding ``_mv_meta.json`` was written before the view
    table's log carried the horizon: refresh raises instead of guessing
    a horizon, and ``build()`` replaces it."""
    base = _base(spark, str(tmp_path), n=50)
    mv = _mv(spark, str(tmp_path), base).build()
    (tmp_path / "mv" / "_mv_meta.json").write_text('{"applied_upto": 0}')
    with pytest.raises(RuntimeError, match="_mv_meta.json"):
        mv.refresh()
    mv.build()
    assert mv.refresh() == 0
    assert _view(mv) == _recompute(base)


def test_refresh_builds_a_view_whose_build_crashed(spark, tmp_path, monkeypatch):
    """``build()`` commits the rebuilt view in place of every view layer,
    and its stamp in place of the view's stamps, in one swap: crash that
    commit inside the rebuild a compaction forces on ``refresh()``, and
    the old view and its horizon stay readable. The next refresh rebuilds
    (returns -1) and leaves the build's stamp alone in the view log.
    About 10 s of tier-1."""
    base = _base(spark, str(tmp_path), n=50)
    mv = _mv(spark, str(tmp_path), base).build()
    view, upto = _view(mv), mv.applied_upto()
    base.delete(spark.range(0, 5).select(F.col("id").alias("k")))
    base.compact()
    real = KeyedTable._commit

    def commit(self, layers, *a, **kw):
        if self.path == mv.mv.path and layers:
            monkeypatch.setattr(KeyedTable, "_commit", real)
            raise _Crash("before")
        return real(self, layers, *a, **kw)

    monkeypatch.setattr(KeyedTable, "_commit", commit)
    with pytest.raises(_Crash):
        mv.refresh()
    assert _view(mv) == view and mv.applied_upto() == upto
    assert mv.refresh() == -1
    assert _view(mv) == _recompute(base)
    assert mv.mv.applied_stamps() == {f"mv_upto_{base.snapshot_seq():06d}"}
    assert mv.refresh() == 0


def test_sum_over_only_null_values_reads_null(spark, tmp_path):
    """A maintained SUM whose group's summed values all became NULL reads
    NULL, as the recomputed GROUP BY does — the view keeps a non-NULL
    count per SUM. About 10 s of tier-1."""
    t = KeyedTable(spark, str(tmp_path / "base"), key_col="k", ts_col="ts")
    schema = "k bigint, g bigint, v bigint, ts int"
    t.create(spark.createDataFrame([(1, 0, 10, 0), (2, 0, 20, 0), (3, 1, 5, 0)], schema))
    mv = MaterializedAgg(spark, str(tmp_path / "mv"), t, "g", {"sv": "v"}).build()
    t.delete(spark.createDataFrame([(1,), (2,)], "k bigint"), columns=["v"])
    assert mv.refresh() == 1
    want = {(0, None, 2), (1, 5, 1)}
    assert _view(mv) == want
    assert _view(mv.build()) == want
    t.update(spark.createDataFrame([(2, 0, 0, 1)], schema))
    mv.refresh()
    assert _view(mv) == {(0, 0, 2), (1, 5, 1)}


def test_view_stored_without_non_null_counts_rebuilds_on_refresh(spark, tmp_path):
    """A view root stored before the view kept a non-NULL count per SUM
    cannot tell a NULL sum from 0: refresh rebuilds it (returns -1), and
    it is maintained incrementally after. About 10 s of tier-1."""
    base = _base(spark, str(tmp_path), n=50)
    mv = _mv(spark, str(tmp_path), base).build()
    mv.mv._write_layer(mv.mv.df().drop("__nn_sum_val"), "base", keep=[])
    base.delete(spark.range(0, 5).select(F.col("id").alias("k")))
    assert mv.refresh() == -1
    assert "__nn_sum_val" in mv.mv._schema()
    assert _view(mv) == _recompute(base)
    base.delete(spark.range(5, 10).select(F.col("id").alias("k")))
    assert mv.refresh() > 0
    assert _view(mv) == _recompute(base)

