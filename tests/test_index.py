"""SecondaryIndex: Phoenix-style global index over a KeyedTable column —
maintenance under value-moving updates and deletes, NULL skipping, the
index-first read path, and the honest staleness contract for writes that
bypass the index."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_on_hbase_spark.index import SecondaryIndex
from spark_on_hbase_spark.table import KeyedTable


def _fixture(spark, tmp_path):
    rows = spark.createDataFrame(
        [
            Row(key=1, name="a", color="red", ts=100),
            Row(key=2, name="b", color="red", ts=100),
            Row(key=3, name="c", color="blue", ts=100),
            Row(key=4, name="d", color=None, ts=100),
        ]
    )
    tbl = KeyedTable(spark, str(tmp_path / "base"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(tbl, "color", str(tmp_path / "idx"), num_partitions=2).build()
    return tbl, idx


def test_index_lookup_tracks_value_moves_and_deletes(spark, tmp_path):
    tbl, idx = _fixture(spark, tmp_path)

    # move key 1 red -> blue THROUGH the index
    idx.update(
        spark.createDataFrame([Row(key=1, name="a2", color="blue", ts=200)])
    )
    red = {r["key"] for r in idx.lookup("red").collect()}
    blue = sorted(r["key"] for r in idx.lookup("blue").collect())
    assert red == {2}          # old entry tombstoned, not just shadowed
    assert blue == [1, 3]      # exactly once under the new value
    moved = idx.lookup("blue").where(F.col("key") == 1).collect()[0]
    assert (moved["name"], moved["color"]) == ("a2", "blue")  # base row current

    # delete key 2 THROUGH the index: gone from its value's lookup
    idx.delete(spark.createDataFrame([Row(key=2)]))
    assert idx.lookup("red").count() == 0

    # the equality probe reaches the index table's parquet scans as pushed
    # ikey bounds applied per layer BEFORE the fold (the value-prefixed
    # sorted layout then prunes files by footer stats)
    plan = (
        idx.lookup("blue", covered=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "GreaterThanOrEqual(ikey,blue)" in plan


def test_index_skips_null_values_until_set(spark, tmp_path):
    tbl, idx = _fixture(spark, tmp_path)
    # key 4 has NULL color: no entry anywhere (SQL-index convention)
    assert idx.tbl.df().where(F.col("base_key") == 4).count() == 0
    # setting a value through the index makes it visible
    idx.update(spark.createDataFrame([Row(key=4, name="d", color="red", ts=200)]))
    assert 4 in {r["key"] for r in idx.lookup("red").collect()}


def test_covered_lookup_never_touches_the_base(spark, tmp_path):
    """A covered index (include=[name]) answers lookup(covered=True) from
    the index files alone — same rows as the base-join path, zero base I/O
    (the Phoenix covered-column contract)."""
    rows = spark.createDataFrame(
        [
            Row(key=1, name="a", color="red", ts=100),
            Row(key=2, name="b", color="red", ts=100),
            Row(key=3, name="c", color="blue", ts=100),
        ]
    )
    tbl = KeyedTable(spark, str(tmp_path / "basetbl"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, "color", str(tmp_path / "idxtbl"), num_partitions=2, include=["name"]
    ).build()
    idx.update(spark.createDataFrame([Row(key=2, name="b2", color="blue", ts=200)]))

    cov = idx.lookup("blue", covered=True)
    got = sorted((r["key"], r["name"], r["color"]) for r in cov.collect())
    assert got == [(2, "b2", "blue"), (3, "c", "blue")]  # maintenance updates covered cols too

    files = cov.inputFiles()
    assert files and all("idxtbl" in f for f in files)  # zero base I/O
    assert not any("basetbl" in f for f in files)

    # uncovered path returns the same keys from the base
    assert {r["key"] for r in idx.lookup("blue").collect()} == {2, 3}


def test_ord_encode_is_order_preserving_over_full_bigint_domain(spark):
    """The index key material must sort by VALUE ("10" < "9" breaks raw
    string casts): offset-binary zero-pad over edge cases, both signs, and a
    seeded random spread — lexicographic order of enc(v) == numeric order."""
    import random

    from spark_on_hbase_spark.index import _ord_encode

    rng = random.Random(7)
    vals = sorted(
        {
            -(2**63), -(2**63) + 1, -(10**18), -1, 0, 1, 9, 10, 11, 10**18,
            2**63 - 2, 2**63 - 1,
            *[rng.randint(-(2**63), 2**63 - 1) for _ in range(200)],
        }
    )
    df = spark.createDataFrame([(v,) for v in vals], "v bigint").select(
        "v", _ord_encode(F.col("v"), "bigint").alias("e")
    )
    rows = df.collect()
    by_enc = [r["v"] for r in sorted(rows, key=lambda r: r["e"])]
    assert by_enc == vals
    assert len({len(r["e"]) for r in rows}) == 1  # fixed width: 20 chars


def test_index_range_lookup_spans_signs_and_prunes(spark, tmp_path):
    """lookup_range over a bigint column with NEGATIVE values: inclusive
    bounds, numeric (not lexicographic) semantics, and the BETWEEN on the
    encoded ivalue reaches the index scan as PushedFilters."""
    rows = spark.createDataFrame(
        [Row(key=i, name=f"n{i}", score=s, ts=100)
         for i, s in enumerate([-1000, -10, -9, 0, 9, 10, 11, 1000])]
    )
    tbl = KeyedTable(spark, str(tmp_path / "rb"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(tbl, "score", str(tmp_path / "ri"), num_partitions=2).build()

    got = sorted(r["score"] for r in idx.lookup_range(-10, 10).collect())
    assert got == [-10, -9, 0, 9, 10]  # raw strings would admit -1000/1000

    # maintenance keeps range semantics: move one row out, one in
    idx.update(spark.createDataFrame([Row(key=0, name="n0", score=5, ts=200)]))
    idx.delete(spark.createDataFrame([Row(key=4)]))  # score 9 gone
    got = sorted(r["score"] for r in idx.lookup_range(-10, 10).collect())
    assert got == [-10, -9, 0, 5, 10]

    # the probe is an IKEY range applied per layer BEFORE the fold, so it
    # reaches parquet as pushed bounds on the sort column (ivalue preds
    # cannot prune: tombstones carry NULL ivalue and would resurrect)
    plan = (
        idx.lookup_range(-10, 10, covered=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "GreaterThanOrEqual(ikey" in plan and "LessThanOrEqual(ikey" in plan


def test_point_read_matches_merged_view_and_pushes_in_filter(spark, tmp_path):
    """KeyedTable.point_read (the index-maintenance read path): same rows as
    the full merged view filtered to the keys — across updates, tombstones
    and sparse layers — and the IN predicate reaches every layer's parquet
    scan as PushedFilters, where sorted-layout footer stats prune files."""
    rows = spark.createDataFrame(
        [Row(key=i, name=f"n{i}", color="red", ts=100) for i in range(1, 9)]
    )
    tbl = KeyedTable(spark, str(tmp_path / "pr"), key_col="key", ts_col="ts", num_partitions=4)
    tbl.create(rows)
    tbl.update(spark.createDataFrame([Row(key=2, name="b2", color="blue", ts=200)]))
    tbl.delete(spark.createDataFrame([Row(key=3)]))

    probe = [1, 2, 3, 7]
    got = sorted((r["key"], r["name"]) for r in tbl.point_read(probe).collect())
    want = sorted(
        (r["key"], r["name"])
        for r in tbl.df().where(F.col("key").isin(probe)).collect()
    )
    assert got == want == [(1, "n1"), (2, "b2"), (7, "n7")]

    plan = tbl.point_read(probe)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(key" in plan


def test_index_maintenance_reads_are_point_reads(spark, tmp_path):
    """A bounded maintenance batch must NOT scan the base: the stale-entry
    read's plan carries the pushed IN list (footer-pruned O(batch) files),
    not a table-sized semi-join scan."""
    tbl, idx = _fixture(spark, tmp_path)
    batch = spark.createDataFrame([Row(key=1, name="a2", color="blue", ts=200)])
    plan = (
        idx._stale_entry_keys(batch)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # pushed literal probe (Catalyst folds a 1-element IN to EqualTo),
    # not a join against the full df()
    assert "In(key" in plan or "EqualTo(key,1)" in plan


def test_put_through_index_maintains_entries(spark, tmp_path):
    """Cell-level put routed through the index: a partial write that moves
    the indexed column re-points the entry (absent columns keep stored
    values), a put of an un-indexed column skips index maintenance
    entirely (fast path — index table writes no layer), a null cell in
    the batch keeps the stored value (the SPARSE fold's contract), a put
    can create a brand-new indexed row, and a stamped put replay is a
    strict no-op."""
    tbl, idx = _fixture(spark, tmp_path)

    # move key 1 red->blue via a partial row: name NOT in the batch
    idx.put(spark.createDataFrame([Row(key=1, color="blue", ts=200)]))
    assert {r["key"] for r in idx.lookup("red").collect()} == {2}
    moved = idx.lookup("blue").where(F.col("key") == 1).collect()[0]
    assert (moved["name"], moved["color"]) == ("a", "blue")  # name kept

    # un-indexed column only: no index maintenance
    seq = idx.tbl.snapshot_seq()
    idx.put(spark.createDataFrame([Row(key=2, name="b2", ts=300)]))
    assert idx.tbl.snapshot_seq() == seq
    assert {r["key"] for r in idx.lookup("red").collect()} == {2}

    # null indexed cell keeps the stored value (fold semantics)
    idx.put(
        spark.createDataFrame(
            [(2, "b3", None, 400)], "key bigint, name string, color string, ts bigint"
        )
    )
    assert {r["key"] for r in idx.lookup("red").collect()} == {2}

    # brand-new key via put gains an entry
    idx.put(spark.createDataFrame([Row(key=9, name="z", color="red", ts=500)]))
    assert {r["key"] for r in idx.lookup("red").collect()} == {2, 9}

    # stamped replay: strict no-op on both tables
    idx.put(spark.createDataFrame([Row(key=3, color="red", ts=600)]), stamp="p1")
    assert {r["key"] for r in idx.lookup("red").collect()} == {2, 3, 9}
    seqs = (tbl.snapshot_seq(), idx.tbl.snapshot_seq())
    idx.put(spark.createDataFrame([Row(key=3, color="red", ts=600)]), stamp="p1")
    assert (tbl.snapshot_seq(), idx.tbl.snapshot_seq()) == seqs


def test_oversized_batches_degrade_to_semi_join(spark, tmp_path, monkeypatch):
    """The multiget cap (KeyedTable.POINT_READ_CAP) forced to 1: every
    semi_read in the stack — uncovered lookups, both maintenance reads —
    degrades to the broadcast semi-join and must return results identical
    to the point-read path."""
    tbl, idx = _fixture(spark, tmp_path)
    monkeypatch.setattr(KeyedTable, "POINT_READ_CAP", 1)

    # uncovered lookup matching >1 key: fallback read path
    assert {r["key"] for r in idx.lookup("red").collect()} == {1, 2}

    # maintenance with a >1-key batch: both reads via the semi-join
    idx.update(
        spark.createDataFrame(
            [Row(key=1, name="a2", color="blue", ts=200),
             Row(key=2, name="b2", color="blue", ts=50)]  # ts 50 LOSES
        )
    )
    assert {r["key"] for r in idx.lookup("red").collect()} == {2}  # loser stays
    assert {r["key"] for r in idx.lookup("blue").collect()} == {1, 3}
    row = tbl.df().where(F.col("key") == 2).collect()[0]
    assert (row["name"], row["ts"]) == ("b", 100)  # base rejected the loser too

    # row delete with a >1-key batch
    idx.delete(spark.createDataFrame([Row(key=1), Row(key=3)]))
    assert idx.lookup("blue").count() == 0


def test_cell_delete_through_index(spark, tmp_path):
    """HBase DeleteColumn through the index: nulling the INDEXED column
    removes the key's entries (NULL convention — invisible to lookups,
    base row survives), nulling only a COVERED column re-points entries at
    the post-delete rows (covered reads see the null), and nulling an
    unrelated column never touches the index. Stamped replays are
    no-ops."""
    rows = spark.createDataFrame(
        [
            Row(key=1, name="a", color="red", note="x", ts=100),
            Row(key=2, name="b", color="red", note="y", ts=100),
            Row(key=3, name="c", color="blue", note="z", ts=100),
        ]
    )
    tbl = KeyedTable(spark, str(tmp_path / "cd"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, "color", str(tmp_path / "cdi"), num_partitions=2, include=["name"]
    ).build()

    # null the INDEXED column of key 1: entry gone, base row survives
    idx.delete(spark.createDataFrame([Row(key=1)]), columns=["color"])
    assert {r["key"] for r in idx.lookup("red").collect()} == {2}
    live = tbl.point_read([1]).collect()[0]
    assert live["name"] == "a" and live["color"] is None

    # null only the COVERED column of key 2: entry re-pointed, covered
    # read sees the null, lookup still finds the key
    idx.delete(spark.createDataFrame([Row(key=2)]), columns=["name"])
    cov = idx.lookup("red", covered=True).collect()
    assert [(r["key"], r["name"]) for r in cov] == [(2, None)]

    # unrelated column: no index maintenance at all
    seq = idx.tbl.snapshot_seq()
    idx.delete(spark.createDataFrame([Row(key=3)]), columns=["note"])
    assert idx.tbl.snapshot_seq() == seq
    assert {r["key"] for r in idx.lookup("blue").collect()} == {3}

    # stamped replay of a cell delete: strict no-op on both tables
    idx.delete(spark.createDataFrame([Row(key=3)]), columns=["name"], stamp="cd1")
    seqs = (tbl.snapshot_seq(), idx.tbl.snapshot_seq())
    idx.delete(spark.createDataFrame([Row(key=3)]), columns=["name"], stamp="cd1")
    assert (tbl.snapshot_seq(), idx.tbl.snapshot_seq()) == seqs


def test_increment_through_index_moves_buckets(spark, tmp_path):
    """Counter increments through the index: the entry follows the folded
    post-increment value (read lazily after the additive layer lands), an
    increment of an un-indexed counter skips maintenance, and a stamped
    replay is a strict no-op — the non-idempotent mutation the stamps
    exist for."""
    rows = spark.createDataFrame(
        [Row(key=1, score=10, other=0, ts=100), Row(key=2, score=20, other=0, ts=100)]
    )
    tbl = KeyedTable(spark, str(tmp_path / "ib"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(tbl, "score", str(tmp_path / "ii"), num_partitions=2).build()

    idx.increment(
        spark.createDataFrame([Row(key=1, delta=5, ts=200)]), counter_col="score"
    )
    assert {r["key"] for r in idx.lookup(15).collect()} == {1}
    assert idx.lookup(10).count() == 0  # old entry tombstoned
    assert {r["key"] for r in idx.lookup_range(14, 21).collect()} == {1, 2}

    # un-indexed counter: no index maintenance
    seq = idx.tbl.snapshot_seq()
    idx.increment(
        spark.createDataFrame([Row(key=2, delta=7, ts=300)]), counter_col="other"
    )
    assert idx.tbl.snapshot_seq() == seq

    # stamped replay of the non-idempotent add: strict no-op, value intact
    idx.increment(
        spark.createDataFrame([Row(key=2, delta=3, ts=400)]),
        counter_col="score", stamp="i1",
    )
    assert {r["key"] for r in idx.lookup(23).collect()} == {2}
    seqs = (tbl.snapshot_seq(), idx.tbl.snapshot_seq())
    idx.increment(
        spark.createDataFrame([Row(key=2, delta=3, ts=400)]),
        counter_col="score", stamp="i1",
    )
    assert (tbl.snapshot_seq(), idx.tbl.snapshot_seq()) == seqs
    assert {r["key"] for r in idx.lookup(23).collect()} == {2}  # not 26


def test_composite_index_leading_edge_probes(spark, tmp_path):
    """Composite (multi-column) index over (color: string, score: bigint):
    full-tuple equality, leading-prefix equality (Phoenix's leading-edge
    rule), and prefix-fixed range on the next column — all after a
    value-moving update and a delete THROUGH the index — plus the
    skip-a-leading-column and no-column-left-for-range guard rails."""
    import pytest

    rows = spark.createDataFrame(
        [
            Row(key=1, name="a", color="red", score=5, ts=100),
            Row(key=2, name="b", color="red", score=10, ts=100),
            Row(key=3, name="c", color="red", score=-3, ts=100),
            Row(key=4, name="d", color="blue", score=5, ts=100),
            Row(key=5, name="e", color="blue", score=7, ts=100),
            Row(key=6, name="f", color=None, score=1, ts=100),  # skipped
        ]
    )
    tbl = KeyedTable(spark, str(tmp_path / "cb"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["color", "score"], str(tmp_path / "ci"), num_partitions=2
    ).build()

    # full tuple + leading prefix
    assert {r["key"] for r in idx.lookup("red", 5).collect()} == {1}
    assert {r["key"] for r in idx.lookup("red").collect()} == {1, 2, 3}
    # prefix-fixed range over the bigint component (negatives included)
    assert {r["key"] for r in idx.lookup_range(-3, 5, prefix=("red",)).collect()} == {1, 3}

    # mutate THROUGH the index: key 2 moves red->blue, key 3 deleted
    idx.update(spark.createDataFrame([Row(key=2, name="b2", color="blue", score=10, ts=200)]))
    idx.delete(spark.createDataFrame([Row(key=3)]))
    assert {r["key"] for r in idx.lookup("red").collect()} == {1}
    assert {r["key"] for r in idx.lookup("blue").collect()} == {2, 4, 5}
    assert {r["key"] for r in idx.lookup_range(7, 10, prefix=("blue",)).collect()} == {2, 5}

    # NULL component rows have no entry until set
    assert idx.tbl.df().where(F.col("base_key") == 6).count() == 0

    # guard rails
    with pytest.raises(ValueError):
        idx.lookup("red", 5, "extra")
    with pytest.raises(ValueError):
        idx.lookup_range(1, 2, prefix=("red", 5))

    # the prefix probe still prunes: pushed ikey bounds reach the scans
    plan = (
        idx.lookup("blue", covered=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "GreaterThanOrEqual(ikey,blue)" in plan


def test_stamped_maintenance_converges_under_crash_and_replay(spark, tmp_path):
    """The Phoenix repair story as code: a stamped idx.update is a
    retry-idempotent transaction. Crash it between every pair of its three
    sub-writes (simulated by running the guarded steps directly), retry the
    whole op with the same stamp, and the pair must converge — each
    sub-write commits exactly once (stamps pin this), reads stay correct,
    and a full replay after success is a strict no-op (no new layers)."""
    tbl, idx = _fixture(spark, tmp_path)
    b1 = spark.createDataFrame([Row(key=1, name="a2", color="blue", ts=200)])

    # crash after sub-write 1 (stale entries tombstoned, base untouched)
    idx._guarded(idx.tbl.delete, idx._stale(b1), "b1", "_xd")
    idx.update(b1, stamp="b1")  # retry
    assert {r["key"] for r in idx.lookup("red").collect()} == {2}
    assert 1 in {r["key"] for r in idx.lookup("blue").collect()}
    assert "b1_xd" in idx.tbl.applied_stamps()  # committed once, not twice
    assert sum(1 for p in idx.tbl._layers() if "b1_xd" in p.name) == 1

    # crash after sub-write 2 (base mutated, index insert missing: the
    # documented stale window — old entry gone, new entry absent)
    b2 = spark.createDataFrame([Row(key=2, name="b2", color="green", ts=300)])
    idx._guarded(idx.tbl.delete, idx._stale(b2), "b2", "_xd")
    idx._guarded(tbl.update, lambda: b2, "b2", "")
    assert idx.lookup("green").count() == 0  # mid-crash staleness, honest
    idx.update(b2, stamp="b2")  # retry runs ONLY the index insert
    assert {r["key"] for r in idx.lookup("green").collect()} == {2}
    assert sum(1 for p in tbl._layers() if p.name.endswith("-b2")) == 1

    # full replay after success: strict no-op on both tables
    seqs = (tbl.snapshot_seq(), idx.tbl.snapshot_seq())
    idx.update(b1, stamp="b1")
    idx.update(b2, stamp="b2")
    assert (tbl.snapshot_seq(), idx.tbl.snapshot_seq()) == seqs

    # stamped delete: same contract
    idx.delete(spark.createDataFrame([Row(key=3)]), stamp="b3")
    assert idx.lookup("blue").count() == 1  # key 1 only; 3 deleted
    seqs = (tbl.snapshot_seq(), idx.tbl.snapshot_seq())
    idx.delete(spark.createDataFrame([Row(key=3)]), stamp="b3")
    assert (tbl.snapshot_seq(), idx.tbl.snapshot_seq()) == seqs

    # a stale-ts update loses LWW: its key's entry is tombstoned and
    # re-inserted at the stored ts, and stays live
    idx.update(spark.createDataFrame([Row(key=2, name="x", color="red", ts=250)]))
    assert {r["key"] for r in idx.lookup("green").collect()} == {2}
    assert idx.lookup("red").count() == 0
    assert idx.scrutiny().count() == 0

    # put and increment run the same transaction: crash a put that moves
    # the indexed column and an increment of a covered counter after _xd
    # and after the base write, then retry each with the same stamp
    ctbl = KeyedTable(
        spark, str(tmp_path / "cbase"), key_col="key", ts_col="ts", num_partitions=2
    )
    ctbl.create(
        spark.createDataFrame(
            [(1, "red", 10, 100), (2, "red", 20, 100), (3, "blue", 30, 100)],
            "key bigint, color string, cnt bigint, ts bigint",
        )
    )
    cidx = SecondaryIndex(
        ctbl, "color", str(tmp_path / "cidx"), num_partitions=2, include=["cnt"]
    ).build()
    p = spark.createDataFrame(
        [(1, "gold", 200), (3, "gold", 200)], "key bigint, color string, ts bigint"
    )
    inc = spark.createDataFrame([(2, 5), (3, 7)], "key bigint, delta bigint")
    ops = [
        ("put", p, ctbl.put, {}),
        ("inc", inc, ctbl.increment, {"counter_col": "cnt"}),
    ]
    for name, batch, write, kw in ops:
        for crash_after_base in (False, True):
            stamp = f"{name}{int(crash_after_base)}"
            cidx._guarded(cidx.tbl.delete, cidx._stale(batch), stamp, "_xd")
            if crash_after_base:
                cidx._guarded(write, lambda: batch, stamp, "", **kw)
            getattr(cidx, "put" if name == "put" else "increment")(
                batch, stamp=stamp, **kw
            )
            assert cidx.scrutiny().count() == 0, (name, crash_after_base)
    # each batch applied exactly once per stamp: two puts, two increments
    got = {
        (r["key"], r["color"], r["cnt"])
        for r in cidx.lookup("gold", covered=True).collect()
    }
    assert got == {(1, "gold", 10), (3, "gold", 44)}
    assert {(r["key"], r["cnt"]) for r in cidx.lookup("red", covered=True).collect()} == {
        (2, 30)
    }
    seqs = (ctbl.snapshot_seq(), cidx.tbl.snapshot_seq())
    cidx.put(p, stamp="put0")
    cidx.put(p, stamp="put1")
    cidx.increment(inc, "cnt", stamp="inc0")
    cidx.increment(inc, "cnt", stamp="inc1")
    assert (ctbl.snapshot_seq(), cidx.tbl.snapshot_seq()) == seqs


def test_duplicate_key_batches_index_the_row_the_base_kept(spark, tmp_path):
    """A batch that carries one key twice, at one ts, with different
    indexed values: the base fold keeps one of the two rows, and the index
    must hold that row's entry alone — no orphaned entry for the value the
    base dropped, through update and through put."""
    tbl, idx = _fixture(spark, tmp_path)

    def check(key, values):
        kept = tbl.df().where(F.col("key") == key).collect()[0]["color"]
        (dropped,) = set(values) - {kept}
        assert idx.scrutiny().count() == 0
        assert idx.lookup(dropped).count() == 0
        assert {r["key"] for r in idx.lookup(kept).collect()} == {key}

    idx.update(
        spark.createDataFrame(
            [Row(key=1, name="a2", color="green", ts=200),
             Row(key=1, name="a3", color="pink", ts=200)]
        )
    )
    check(1, ("green", "pink"))
    idx.put(
        spark.createDataFrame(
            [(3, "gold", 400), (3, "teal", 400)],
            "key bigint, color string, ts bigint",
        )
    )
    check(3, ("gold", "teal"))


import pytest


@pytest.mark.parametrize("seed", [42, 7])
def test_randomized_mutation_storm_matches_dict_model(spark, tmp_path, seed):
    """Model-based check of the whole LSM + index stack: a seeded random
    sequence of value-moving upserts, partial puts, counter increments,
    row deletes, indexed-column cell deletes, and compactions (of the
    base, the index table, or both — including mid-sequence, so the fold
    and the post-compact single-layer path both serve reads) must leave
    the table, the index entries, and every read path (full scan, multiget
    point_read, equality and range lookups) equal to a plain dict model.
    Ties are avoided by strictly increasing ts — LWW is pinned elsewhere."""
    import random

    rng = random.Random(seed)
    keyspace = list(range(200))
    model: dict[int, tuple[str, int]] = {}  # key -> (name, score)

    first = [(k, f"n{k}", rng.randint(-50, 50)) for k in rng.sample(keyspace, 120)]
    rows = spark.createDataFrame(
        [Row(key=k, name=n, score=s, ts=0) for k, n, s in first]
    )
    model.update({k: (n, s) for k, n, s in first})
    tbl = KeyedTable(
        spark, str(tmp_path / "mb"), key_col="key", ts_col="ts",
        num_partitions=4, compact_threshold=50,  # manual compacts only
    )
    tbl.create(rows)
    idx = SecondaryIndex(tbl, "score", str(tmp_path / "mi"), num_partitions=4).build()

    for ts in range(1, 19):
        op = rng.choice(
            ["update", "update", "update", "put", "put", "delete",
             "incr", "celldel", "compact"]
        )
        if op == "incr" and any(v[1] is not None for v in model.values()):
            # counter add through the index: entries follow the folded value
            cands = [k for k, v in model.items() if v[1] is not None]
            batch = [(k, rng.randint(-9, 9)) for k in rng.sample(cands, min(len(cands), rng.randint(1, 12)))]
            idx.increment(
                spark.createDataFrame(
                    [Row(key=k, delta=d, ts=ts) for k, d in batch]
                ),
                counter_col="score",
            )
            for k, d in batch:
                model[k] = (model[k][0], model[k][1] + d)
        elif op == "celldel" and model:
            # null the indexed column: rows leave the index, stay in the base
            victims = rng.sample(sorted(model), rng.randint(1, 6))
            idx.delete(
                spark.createDataFrame([Row(key=k) for k in victims], "key int"),
                columns=["score"],
            )
            for k in victims:
                model[k] = (model[k][0], None)
        elif op == "put":
            # partial writes through the index: value-only puts (existing
            # keys move buckets, brand-new keys appear), name-only puts
            # (index untouched), both with coalesce-overlay semantics
            if rng.random() < 0.5:
                batch = [(k, rng.randint(-50, 50)) for k in rng.sample(keyspace, rng.randint(1, 20))]
                idx.put(
                    spark.createDataFrame(
                        [Row(key=k, score=s, ts=ts) for k, s in batch]
                    )
                )
                for k, s in batch:
                    name = model[k][0] if k in model else None
                    model[k] = (name, s)
            else:
                batch = [(k, f"p{k}v{ts}") for k in rng.sample(sorted(model), rng.randint(1, 10))]
                idx.put(
                    spark.createDataFrame(
                        [Row(key=k, name=n, ts=ts) for k, n in batch]
                    )
                )
                for k, n in batch:
                    model[k] = (n, model[k][1])
        elif op == "update":
            batch = [
                (k, f"n{k}v{ts}", rng.randint(-50, 50))
                for k in rng.sample(keyspace, rng.randint(1, 30))
            ]
            idx.update(
                spark.createDataFrame(
                    [Row(key=k, name=n, score=s, ts=ts) for k, n, s in batch]
                )
            )
            model.update({k: (n, s) for k, n, s in batch})
        elif op == "delete":
            victims = rng.sample(keyspace, rng.randint(1, 15))
            idx.delete(spark.createDataFrame([Row(key=k) for k in victims], "key int"))
            for k in victims:
                model.pop(k, None)
        else:
            which = rng.choice(["base", "idx", "both"])
            if which in ("base", "both"):
                tbl.compact()
            if which in ("idx", "both"):
                idx.tbl.compact()

    # full scan == model
    got = {r["key"]: (r["name"], r["score"]) for r in tbl.df().collect()}
    assert got == model

    # index entries == exactly the model's live rows with a non-null
    # indexed value (celldel'd rows leave the index, stay in the base)
    ent = {(r["base_key"], r["score"]) for r in idx.tbl.df().collect()}
    assert ent == {(k, s) for k, (_, s) in model.items() if s is not None}

    # multiget point_read over a mixed live/dead probe set
    probe = rng.sample(keyspace, 40)
    got = {r["key"]: (r["name"], r["score"]) for r in tbl.point_read(probe).collect()}
    assert got == {k: model[k] for k in probe if k in model}

    # equality + range lookups == model filters
    for v in (-50, 0, rng.randint(-50, 50)):
        got_keys = sorted(r["key"] for r in idx.lookup(v).collect())
        assert got_keys == sorted(k for k, (_, s) in model.items() if s == v)
    for lo, hi in ((-10, 10), (-50, -25), (49, 50)):
        got_keys = sorted(r["key"] for r in idx.lookup_range(lo, hi).collect())
        assert got_keys == sorted(
            k for k, (_, s) in model.items() if s is not None and lo <= s <= hi
        )


def test_stale_ts_mutations_through_index_honor_lww(spark, tmp_path):
    """The base's LWW fold silently rejects a batch row OLDER than the
    stored row; index maintenance must reject it too, or lookups diverge
    from the table (the entry moves while the row does not). Covers
    update() and put(); a fresh-ts mutation afterwards still applies."""
    tbl, idx = _fixture(spark, tmp_path)

    # stale update: ts 50 < stored 100 — base keeps red, index must too
    idx.update(spark.createDataFrame([Row(key=1, name="aX", color="blue", ts=50)]))
    assert {r["key"] for r in idx.lookup("red").collect()} == {1, 2}
    assert {r["key"] for r in idx.lookup("blue").collect()} == {3}
    row = tbl.point_read([1]).collect()[0]
    assert (row["name"], row["color"], row["ts"]) == ("a", "red", 100)

    # stale put: same gate on the partial-write path
    idx.put(spark.createDataFrame([Row(key=2, color="blue", ts=10)]))
    assert {r["key"] for r in idx.lookup("red").collect()} == {1, 2}

    # equal-ts batch WINS (ties to the batch, the fold's rule)
    idx.update(spark.createDataFrame([Row(key=1, name="a2", color="blue", ts=100)]))
    assert {r["key"] for r in idx.lookup("red").collect()} == {2}
    assert {r["key"] for r in idx.lookup("blue").collect()} == {1, 3}


def test_repair_survives_auto_compaction_mid_repair(spark, tmp_path):
    """repair()'s missing-entry plan must not be pinned to index layer
    files: with the index sitting at compact_threshold, the orphan delete
    triggers auto-compaction which REMOVES those directories before the
    insert job runs — the divergence is checkpointed first, so the repair
    still lands (this exact sequence crashed with FileNotFound before)."""
    rows = spark.createDataFrame(
        [Row(key=i, name=f"n{i}", color="red", ts=100) for i in range(1, 7)]
    )
    tbl = KeyedTable(spark, str(tmp_path / "cb"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(tbl, "color", str(tmp_path / "ci"), num_partitions=2)
    idx.tbl.compact_threshold = 3
    idx.build()
    # pile index layers up to the threshold via maintained updates
    idx.update(spark.createDataFrame([Row(key=1, name="n1", color="blue", ts=200)]))
    # stale it behind the back: next repair's delete will tip compaction
    tbl.update(spark.createDataFrame([Row(key=2, name="n2", color="blue", ts=300)]))
    counts = idx.repair()
    assert counts == {"missing": 1, "orphaned": 1, "stale_covered": 0}
    assert {r["key"] for r in idx.lookup("blue").collect()} == {1, 2}
    assert idx.scrutiny().count() == 0


def test_string_index_edge_values_tab_sep_and_astral(spark, tmp_path):
    """String-typed index probes are EXACT for hostile content: values
    containing chars below the separator (tab), the separator itself, and
    astral-plane chars — the encoded ikey bounds are only a pruning
    superset, the typed post-filter decides membership."""
    rows = spark.createDataFrame(
        [
            Row(key=1, v="ab", ts=100),
            Row(key=2, v="ab\tz", ts=100),       # tab: sorts below \x1f
            Row(key=3, v="a\x1fb", ts=100),      # contains the separator
            Row(key=4, v="ac", ts=100),
            Row(key=5, v="a\U0001F600x", ts=100),  # astral plane
            Row(key=6, v="aa", ts=100),
        ]
    )
    tbl = KeyedTable(spark, str(tmp_path / "sb"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(tbl, "v", str(tmp_path / "si"), num_partitions=2).build()

    # equality never admits the separator-bearing sibling ('a' vs 'a\x1fb')
    idx2 = SecondaryIndex(tbl, "v", str(tmp_path / "si"), num_partitions=2)
    assert {r["key"] for r in idx2.lookup("ab").collect()} == {1}
    assert {r["key"] for r in idx2.lookup("a\x1fb").collect()} == {3}
    # range [ab, ac]: must include 'ab\tz' (tab < sep would have dropped it
    # under SEP-framed lower bounds) and exclude 'aa'/'a\x1fb'
    got = {r["key"] for r in idx2.lookup_range("ab", "ac").collect()}
    assert got == {1, 2, 4}
    # astral value is reachable
    assert {r["key"] for r in idx2.lookup("a\U0001F600x").collect()} == {5}


def test_float_and_wide_decimal_probes_are_exact(spark, tmp_path):
    """Non-order-preserving encodings (float/double, decimal wider than 18
    digits) must still answer exactly: equality can't rely on printed-cast
    bounds (0.1f != 0.1d after promotion; literal scale differs from
    stored), so those probes scan unpruned with the typed predicate —
    and a composite range over (string prefix, float) still prunes on the
    order-preserving prefix."""
    from decimal import Decimal as D

    rows = spark.createDataFrame(
        [(1, "red", 0.1, D("1.50"), 100), (2, "red", 0.25, D("2.00"), 100),
         (3, "blue", 0.1, D("1.50"), 100)],
        "key bigint, grp string, score float, bal decimal(20,2), ts int",
    )
    tbl = KeyedTable(spark, str(tmp_path / "fb"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)

    fidx = SecondaryIndex(tbl, ["grp", "score"], str(tmp_path / "fi"), num_partitions=2).build()
    # float equality through the typed predicate (0.1 stored as float32)
    assert {r["key"] for r in fidx.lookup("red", 0.1).collect()} == {1}
    # composite float range with an order-preserving prefix: correct, and
    # the prefix still prunes (ikey bounds present in the plan)
    got = {r["key"] for r in fidx.lookup_range(0.05, 0.2, prefix=("red",)).collect()}
    assert got == {1}
    plan = (
        fidx.lookup_range(0.05, 0.2, prefix=("red",), covered=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the metadata printer truncates the literal; the pushed ikey bound
    # being present at all proves the prefix pruned (the float fallback
    # without a prefix pushes nothing)
    assert "GreaterThanOrEqual(ik" in plan

    didx = SecondaryIndex(tbl, "bal", str(tmp_path / "wi"), num_partitions=2).build()
    assert {r["key"] for r in didx.lookup(D("1.5")).collect()} == {1, 3}


def test_string_range_with_low_char_hi_bound_is_exact(spark, tmp_path):
    """A range hi bound CONTAINING a char below 0x20 (tab): a true-match
    value that is a proper prefix of hi would sort above any encoded
    hi++suffix bound — the probe must fall back to the exact predicate and
    still return it."""
    rows = spark.createDataFrame(
        [Row(key=1, v="ab", ts=100), Row(key=2, v="ab\tz", ts=100),
         Row(key=3, v="ac", ts=100), Row(key=4, v="aa", ts=100)]
    )
    tbl = KeyedTable(spark, str(tmp_path / "lb"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(tbl, "v", str(tmp_path / "li"), num_partitions=2).build()
    got = {r["key"] for r in idx.lookup_range("ab", "ab\tz").collect()}
    assert got == {1, 2}  # 'ab' is a proper prefix of hi and must survive


def test_timestamp_index_range_is_chronological(spark, tmp_path):
    """timestamp-typed indexed columns encode as ISO-8601 casts, which are
    order-preserving including sub-second fractions of different printed
    widths ('…00' < '…00.1' as prefix-extension)."""
    import datetime as dt

    ts = [
        dt.datetime(2023, 12, 31, 23, 59, 59),
        dt.datetime(2024, 1, 1, 0, 0, 0),
        dt.datetime(2024, 1, 1, 0, 0, 0, 100000),
        dt.datetime(2024, 6, 15, 12, 0, 0),
        dt.datetime(2025, 1, 1, 0, 0, 0),
    ]
    rows = spark.createDataFrame(
        [(i, t, 100) for i, t in enumerate(ts)], "key bigint, seen timestamp, ts int"
    )
    tbl = KeyedTable(spark, str(tmp_path / "tb"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(tbl, "seen", str(tmp_path / "ti"), num_partitions=2).build()
    got = sorted(
        r["key"] for r in idx.lookup_range(ts[1], ts[3]).collect()
    )
    assert got == [1, 2, 3]  # fractional row inside, year boundaries out
    assert {r["key"] for r in idx.lookup(ts[2]).collect()} == {2}


def test_decimal_index_range_is_numeric(spark, tmp_path):
    """decimal(p<=18,s) indexed columns scale to exact integers before the
    offset-binary encoding, so range scans are numeric — the identity-cast
    trap would sort '-1.00' above '-9.00' and break both signs."""
    from decimal import Decimal as D

    rows = spark.createDataFrame(
        [(i, D(v), 100) for i, v in enumerate(["-9.00", "-1.50", "0.25", "9.00", "10.00"])],
        "key bigint, bal decimal(10,2), ts int",
    )
    tbl = KeyedTable(spark, str(tmp_path / "db"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(tbl, "bal", str(tmp_path / "di"), num_partitions=2).build()
    got = sorted(str(r["bal"]) for r in idx.lookup_range(D("-9.00"), D("0.25")).collect())
    assert got == ["-1.50", "-9.00", "0.25"]
    got = sorted(str(r["bal"]) for r in idx.lookup_range(D("9.00"), D("10.00")).collect())
    assert got == ["10.00", "9.00"]


def test_scrutiny_detects_and_repair_reconciles_a_staled_index(spark, tmp_path):
    """Phoenix's IndexScrutinyTool as code: writes that bypass the index
    leave divergence the audit must name exactly — the moved row's old
    entry is 'orphaned', its new entry is 'missing', a deleted row's
    entry is 'orphaned' — and repair() reconciles with O(divergence)
    writes, after which lookups are correct and a second audit is empty."""
    tbl, idx = _fixture(spark, tmp_path)

    # behind the index's back: move key 1 red->blue, delete key 3
    tbl.update(spark.createDataFrame([Row(key=1, name="a2", color="blue", ts=200)]))
    tbl.delete(spark.createDataFrame([Row(key=3)]))

    audit = {(r["ikey"], r["status"]) for r in idx.scrutiny().collect()}
    assert audit == {
        ("red\x1f1", "orphaned"),   # stale entry under the old value
        ("blue\x1f1", "missing"),   # moved row unindexed
        ("blue\x1f3", "orphaned"),  # deleted row's entry survives
    }
    counts = idx.repair()
    assert counts == {"missing": 1, "orphaned": 2, "stale_covered": 0}
    assert {r["key"] for r in idx.lookup("red").collect()} == {2}
    assert {r["key"] for r in idx.lookup("blue").collect()} == {1}
    assert idx.scrutiny().count() == 0


def test_direct_base_write_stales_the_index_as_documented(spark, tmp_path):
    """Mutating the base WITHOUT the index (HBase-behind-Phoenix's-back)
    leaves the index stale: the old-value lookup still returns the moved
    key's (current) base row. Pins the documented consistency contract —
    if maintenance ever became storage-enforced this should start failing."""
    tbl, idx = _fixture(spark, tmp_path)
    tbl.update(spark.createDataFrame([Row(key=1, name="a2", color="blue", ts=200)]))
    stale = {r["key"] for r in idx.lookup("red").collect()}
    assert 1 in stale  # stale entry survives
    # and the fresh-value lookup misses the move entirely
    assert 1 not in {r["key"] for r in idx.lookup("blue").collect()}


def test_deep_scrutiny_catches_covered_only_staleness_and_repair_fixes_it(spark, tmp_path):
    """The covered-column bypass scenario the audit exists for: a direct
    base write that changes ONLY a covered column leaves every ikey
    intact, yet lookup(covered=True) serves the stale value. Deep
    scrutiny (the default) must name the entry 'stale_covered'; repair()
    must re-point it; shallow scrutiny(deep=False) documents its own
    blindness."""
    rows = spark.createDataFrame(
        [
            Row(key=1, name="a", color="red", ts=100),
            Row(key=2, name="b", color="red", ts=100),
        ]
    )
    tbl = KeyedTable(spark, str(tmp_path / "base"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, "color", str(tmp_path / "idx"), num_partitions=2, include=["name"]
    ).build()

    # behind the back: rename key 1 (covered col only; indexed col intact)
    tbl.update(spark.createDataFrame([Row(key=1, name="a2", color="red", ts=200)]))
    assert {(r["key"], r["name"]) for r in idx.lookup("red", covered=True).collect()} == {
        (1, "a"), (2, "b")
    }, "precondition: the covered read serves the stale name"

    audit = {(r["ikey"], r["status"]) for r in idx.scrutiny().collect()}
    assert audit == {("red\x1f1", "stale_covered")}
    assert idx.scrutiny(deep=False).count() == 0  # key-only audit is blind

    counts = idx.repair()
    assert counts == {"missing": 0, "orphaned": 0, "stale_covered": 1}
    assert {(r["key"], r["name"]) for r in idx.lookup("red", covered=True).collect()} == {
        (1, "a2"), (2, "b")
    }
    assert idx.scrutiny().count() == 0
    # idempotent: a second repair finds nothing and writes nothing
    assert idx.repair() == {"missing": 0, "orphaned": 0, "stale_covered": 0}


# -- functional (expression) indexes ---------------------------------------


def _fx_fixture(spark, tmp_path):
    rows = spark.createDataFrame(
        [
            Row(key=1, name="Alpha", color="red", ts=100),
            Row(key=2, name="BETA", color="red", ts=100),
            Row(key=3, name="beta", color="blue", ts=100),
            Row(key=4, name=None, color="blue", ts=100),
        ]
    )
    tbl = KeyedTable(spark, str(tmp_path / "base"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, path=str(tmp_path / "idx"), num_partitions=2,
        expr=F.lower(F.col("name")), include=["color"],
    ).build()
    return tbl, idx


def test_functional_index_lookup_and_maintenance(spark, tmp_path):
    """A lower(name) expression index: probes take the EXPRESSION's value,
    rows with a NULL derivation are invisible, and a maintained update
    recomputes the derivation — callers never touch a derived column."""
    tbl, idx = _fx_fixture(spark, tmp_path)
    assert sorted(r["key"] for r in idx.lookup("beta").collect()) == [2, 3]
    assert [r["key"] for r in idx.lookup("alpha").collect()] == [1]
    # covered read returns the derived value + covered col, zero base I/O
    cov = {(r["key"], r["fx"], r["color"]) for r in idx.lookup("beta", covered=True).collect()}
    assert cov == {(2, "beta", "red"), (3, "beta", "blue")}

    # maintained update: rename key 2 THROUGH the index
    idx.update(spark.createDataFrame([Row(key=2, name="Gamma", color="red", ts=200)]))
    assert [r["key"] for r in idx.lookup("beta").collect()] == [3]
    assert [r["key"] for r in idx.lookup("gamma").collect()] == [2]
    assert idx.scrutiny().count() == 0


def test_functional_index_put_fast_path_is_exact(spark, tmp_path):
    """The put gate resolves the expression's INPUT columns by analysis:
    a partial put touching `name` (lower(name)'s input) maintains the
    index; one touching only an unrelated column skips maintenance (no
    index layers written) yet stays consistent."""
    tbl, idx = _fx_fixture(spark, tmp_path)
    assert idx._expr_inputs() == {"name"}
    layers_before = len(idx.tbl._layers())
    # color is COVERED, so this partial put MUST maintain (re-point the
    # entries at the new covered value) — and leave the index deep-clean
    idx.put(spark.createDataFrame([Row(key=1, color="green", ts=300)]))
    assert len(idx.tbl._layers()) > layers_before, "covered-column put must write"
    assert idx.scrutiny(deep=True).count() == 0
    assert [r["color"] for r in idx.lookup("alpha", covered=True).collect()] == ["green"]
    # the truly-unrelated case: a column neither indexed, covered, nor read
    tbl2 = KeyedTable(spark, str(tmp_path / "b2"), key_col="key", ts_col="ts", num_partitions=2)
    tbl2.create(
        spark.createDataFrame(
            [Row(key=1, name="Alpha", other="x", ts=100)]
        )
    )
    idx2 = SecondaryIndex(
        tbl2, path=str(tmp_path / "i2"), num_partitions=2, expr=F.lower(F.col("name"))
    ).build()
    n_layers = len(idx2.tbl._layers())
    idx2.put(spark.createDataFrame([Row(key=1, other="y", ts=200)]))
    assert len(idx2.tbl._layers()) == n_layers, "untouched index must not write"
    # advisor finding (r7): the fast path bumps the base row's resolved ts
    # without writing the index — deep scrutiny must still read consistent
    # (the fingerprint excludes the unobservable entry ts), not brand every
    # ordinary unrelated-column put 'stale_covered'
    assert idx2.scrutiny(deep=True).count() == 0, (
        "fast-path put falsely flagged stale_covered"
    )
    # input-column put recomputes the derivation
    idx2.put(spark.createDataFrame([Row(key=1, name="Delta", ts=300)]))
    assert [r["key"] for r in idx2.lookup("delta").collect()] == [1]
    assert idx2.lookup("alpha").count() == 0
    assert idx2.scrutiny().count() == 0


def test_functional_index_cell_delete_of_input_reinserts(spark, tmp_path):
    """Nulling an expression INPUT column re-points entries at the
    post-delete derivation (which may be non-null for expressions like
    coalesce); here lower(NULL) is NULL so the entry disappears."""
    tbl, idx = _fx_fixture(spark, tmp_path)
    idx.delete(spark.createDataFrame([Row(key=2)]), columns=["name"])
    assert [r["key"] for r in idx.lookup("beta").collect()] == [3]
    assert idx.scrutiny().count() == 0
    # a coalesce expression survives its primary input being nulled
    tbl3 = KeyedTable(spark, str(tmp_path / "b3"), key_col="key", ts_col="ts", num_partitions=2)
    tbl3.create(
        spark.createDataFrame([Row(key=1, nick="Al", name="Alpha", ts=100)])
    )
    idx3 = SecondaryIndex(
        tbl3, path=str(tmp_path / "i3"), num_partitions=2,
        expr=F.lower(F.coalesce(F.col("nick"), F.col("name"))),
    ).build()
    assert idx3._expr_inputs() == {"nick", "name"}
    assert [r["key"] for r in idx3.lookup("al").collect()] == [1]
    idx3.delete(spark.createDataFrame([Row(key=1)]), columns=["nick"])
    assert [r["key"] for r in idx3.lookup("alpha").collect()] == [1]
    assert idx3.lookup("al").count() == 0
    assert idx3.scrutiny().count() == 0


def test_functional_index_composite_with_plain_column(spark, tmp_path):
    """Plain columns lead, expression components follow (leading-edge
    order): lookup(color) prefixes, lookup(color, lower(name)) pins both."""
    rows = spark.createDataFrame(
        [
            Row(key=1, name="Alpha", color="red", ts=100),
            Row(key=2, name="ALPHA", color="red", ts=100),
            Row(key=3, name="Alpha", color="blue", ts=100),
        ]
    )
    tbl = KeyedTable(spark, str(tmp_path / "b4"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, "color", str(tmp_path / "i4"), num_partitions=2,
        expr={"lname": F.lower(F.col("name"))},
    ).build()
    assert idx.cols == ["color", "lname"]
    assert sorted(r["key"] for r in idx.lookup("red").collect()) == [1, 2]
    assert sorted(r["key"] for r in idx.lookup("red", "alpha").collect()) == [1, 2]
    assert [r["key"] for r in idx.lookup("blue", "alpha").collect()] == [3]
    assert idx.scrutiny().count() == 0


def test_functional_index_rejects_shadowing_and_reserved_names(spark, tmp_path):
    tbl = KeyedTable(spark, str(tmp_path / "b5"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(spark.createDataFrame([Row(key=1, name="a", ts=100)]))
    with pytest.raises(ValueError, match="reserved"):
        SecondaryIndex(
            tbl, path=str(tmp_path / "i5"), expr={"ikey": F.lower(F.col("name"))}
        )
    idx = SecondaryIndex(
        tbl, path=str(tmp_path / "i6"), expr={"name": F.lower(F.col("name"))}
    )
    with pytest.raises(ValueError, match="shadow"):
        idx.build()


# -- skip scan --------------------------------------------------------------


def test_skip_scan_probes_non_leading_column(spark, tmp_path):
    """Phoenix's skip scan: on an index over (color, score), probe
    score=v WITHOUT color — the leading values are enumerated from the
    index itself and each prefix becomes an ikey range, OR-ed into one
    index read. Correct vs the base filter; the covered plan never
    references the base table's files."""
    rows = spark.createDataFrame(
        [
            Row(key=i, name=f"n{i}", color=c, score=i % 5, ts=100)
            for i, c in enumerate(
                ["red", "blue", "green", "red", "blue", "green", "red", "blue"]
            )
        ]
    )
    tbl = KeyedTable(spark, str(tmp_path / "base"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(tbl, ["color", "score"], str(tmp_path / "idx"), num_partitions=2).build()

    want = sorted(r["key"] for r in tbl.df().where(F.col("score") == 3).collect())
    got = sorted(r["key"] for r in idx.lookup_skip(score=3).collect())
    assert got == want and got  # non-empty

    # covered skip scan: index files only — the base path never appears
    cov = idx.lookup_skip(score=3, covered=True)
    assert sorted(r["key"] for r in cov.collect()) == want
    plan = cov._jdf.queryExecution().executedPlan().toString()
    assert str(tmp_path / "base") not in plan, "skip scan must not read the base"
    assert "ikey" in plan  # the OR-of-ranges probe is on the sort key

    # maintenance keeps skip-scan answers fresh
    idx.update(spark.createDataFrame([Row(key=0, name="n0", color="red", score=3, ts=200)]))
    assert sorted(r["key"] for r in idx.lookup_skip(score=3).collect()) == sorted(
        set(want) | {0}
    )


def test_skip_scan_degradations_stay_correct(spark, tmp_path):
    """Budget and encodability degradations fall back to one exact-typed
    full index scan (still never the base); a fully-fixed leading prefix
    delegates to the plain leading-edge lookup."""
    rows = spark.createDataFrame(
        [Row(key=i, name=f"n{i}", color=f"c{i % 7}", score=i % 3, ts=100) for i in range(42)]
    )
    tbl = KeyedTable(spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2)
    tbl.create(rows)
    idx = SecondaryIndex(tbl, ["color", "score"], str(tmp_path / "i"), num_partitions=2).build()
    want = sorted(r["key"] for r in tbl.df().where(F.col("score") == 1).collect())

    # prefix budget exceeded -> full index scan fallback, same answer
    idx.MAX_SKIP_PREFIXES = 3  # 7 distinct colors > 3
    assert sorted(r["key"] for r in idx.lookup_skip(score=1).collect()) == want
    idx.MAX_SKIP_PREFIXES = SecondaryIndex.MAX_SKIP_PREFIXES
    assert sorted(r["key"] for r in idx.lookup_skip(score=1).collect()) == want

    # fixing the WHOLE leading prefix delegates to lookup()
    both = sorted(
        r["key"] for r in idx.lookup_skip(color="c1", score=1).collect()
    )
    assert both == sorted(r["key"] for r in idx.lookup("c1", 1).collect())

    # probing a value no row has
    assert idx.lookup_skip(score=99).count() == 0

    # unknown column rejected
    with pytest.raises(ValueError, match="not indexed"):
        idx.lookup_skip(nope=1)

    # float leading column (non-order-preserving) -> exact-scan fallback
    tbl2 = KeyedTable(spark, str(tmp_path / "b2"), key_col="key", ts_col="ts", num_partitions=2)
    tbl2.create(
        spark.createDataFrame(
            [Row(key=i, w=float(i % 2) + 0.5, score=i % 3, ts=100) for i in range(12)]
        )
    )
    idx2 = SecondaryIndex(tbl2, ["w", "score"], str(tmp_path / "i2"), num_partitions=2).build()
    want2 = sorted(r["key"] for r in tbl2.df().where(F.col("score") == 2).collect())
    assert sorted(r["key"] for r in idx2.lookup_skip(score=2).collect()) == want2


# -- skip-scan guideposts ----------------------------------------------------


def _forbid_live_enumeration(monkeypatch):
    def boom(self, *a, **k):
        raise AssertionError("live enumeration ran — guideposts should answer")

    monkeypatch.setattr(SecondaryIndex, "_enumerate_leading", boom)


def test_skip_scan_guideposts_answer_without_scanning_the_index(
    spark, tmp_path, monkeypatch
):
    """The guidepost sidecar makes skip-scan enumeration a metadata read:
    with live enumeration disabled outright, the probe still answers —
    and stays correct after every maintenance path introduces NEW leading
    values (the union-first invariant), including a value with a control
    char below the ikey separator."""
    rows = spark.createDataFrame(
        [
            Row(key=i, name=f"n{i}", color=c, score=i % 4, ts=100)
            for i, c in enumerate(
                ["red", "blue", "red", "b\tad", "green", "red", "blue", "green"]
            )
        ]
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["color", "score"], str(tmp_path / "i"), num_partitions=2
    ).build()
    _forbid_live_enumeration(monkeypatch)

    def check(score):
        want = sorted(
            r["key"] for r in tbl.df().where(F.col("score") == score).collect()
        )
        got = sorted(r["key"] for r in idx.lookup_skip(score=score).collect())
        assert got == want

    check(1)
    check(3)
    # whole-row update introduces a brand-new leading value
    idx.update(
        spark.createDataFrame(
            [Row(key=10, name="x", color="violet", score=1, ts=100)]
        )
    )
    check(1)
    # cell-level put introduces another (sparse row: name stays absent)
    idx.put(spark.createDataFrame([Row(key=11, color="amber", score=1, ts=100)]))
    check(1)
    # repair after a behind-the-back base write unions its leading value
    tbl.update(
        spark.createDataFrame(
            [Row(key=12, name="y", color="ochre", score=1, ts=100)]
        )
    )
    idx.repair()
    check(1)
    # row delete shrinks answers but never the (superset-safe) sidecar
    idx.delete(spark.createDataFrame([Row(key=10)]))
    check(1)


def test_guidepost_union_lands_before_the_entries(spark, tmp_path, monkeypatch):
    """Crash between the sidecar union and the entries insert leaves only
    a harmless extra value (an empty probe range) — never an entry the
    skip scan cannot enumerate. Pinned at the exact boundary: the index
    table's insert raises AFTER the union ran; the sidecar already knows
    the value, and the stamped retry converges."""
    import pytest as _pytest

    rows = spark.createDataFrame(
        [Row(key=i, name=f"n{i}", color="red", score=i % 2, ts=100) for i in range(4)]
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["color", "score"], str(tmp_path / "i"), num_partitions=2
    ).build()

    real = KeyedTable.update
    state = {"crashed": False}

    def flaky(self, *a, **k):
        if self is idx.tbl and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("crash in _xi")
        return real(self, *a, **k)

    monkeypatch.setattr(KeyedTable, "update", flaky)
    batch = spark.createDataFrame(
        [Row(key=20, name="z", color="teal", score=1, ts=100)]
    )
    with _pytest.raises(RuntimeError, match="crash"):
        idx.update(batch, stamp="gp1")
    gp = idx._load_guideposts()
    assert "teal" in gp["cols"]["color"]["values"], (
        "sidecar must be unioned BEFORE the entries insert"
    )
    idx.update(batch, stamp="gp1")  # retry re-runs only the crashed job
    _forbid_live_enumeration(monkeypatch)
    want = sorted(r["key"] for r in tbl.df().where(F.col("score") == 1).collect())
    assert sorted(r["key"] for r in idx.lookup_skip(score=1).collect()) == want
    assert 20 in want


def test_guidepost_overflow_falls_back_to_live_enumeration(spark, tmp_path):
    """A leading column past GUIDEPOST_CAP distinct values is marked
    overflowed (tracking stops — the sidecar stays tiny) and skip scans
    on it fall back to live enumeration, answers unchanged."""
    rows = spark.createDataFrame(
        [
            Row(key=i, name=f"n{i}", color=f"c{i}", score=i % 3, ts=100)
            for i in range(9)
        ]
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["color", "score"], str(tmp_path / "i"), num_partitions=2
    )
    idx.GUIDEPOST_CAP = 4  # 9 distinct colors > 4
    idx.build()
    gp = idx._load_guideposts()
    assert gp["cols"]["color"]["overflow"] and not gp["cols"]["color"]["values"]
    want = sorted(r["key"] for r in tbl.df().where(F.col("score") == 1).collect())
    assert sorted(r["key"] for r in idx.lookup_skip(score=1).collect()) == want
    # maintenance on an overflowed column stays a no-op (and correct)
    idx.update(
        spark.createDataFrame(
            [Row(key=30, name="w", color="c999", score=1, ts=100)]
        )
    )
    assert idx._load_guideposts()["cols"]["color"]["overflow"]
    want = sorted(r["key"] for r in tbl.df().where(F.col("score") == 1).collect())
    assert sorted(r["key"] for r in idx.lookup_skip(score=1).collect()) == want


def test_build_resets_a_stale_guidepost_sidecar(spark, tmp_path, monkeypatch):
    """Rebuilding derives the sidecar fresh from the built index — a
    corrupt or stale dictionary (e.g. missing a live value, which would
    silently drop rows) cannot survive a build."""
    import json as _json

    rows = spark.createDataFrame(
        [
            Row(key=i, name=f"n{i}", color=c, score=i % 2, ts=100)
            for i, c in enumerate(["red", "blue", "green", "red"])
        ]
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["color", "score"], str(tmp_path / "i"), num_partitions=2
    ).build()
    with open(idx._guidepost_path(), "w") as f:
        _json.dump({"cols": {"color": {"values": ["bogus"], "overflow": False}}}, f)
    idx.drop()
    idx.build()
    _forbid_live_enumeration(monkeypatch)
    want = sorted(r["key"] for r in tbl.df().where(F.col("score") == 0).collect())
    assert sorted(r["key"] for r in idx.lookup_skip(score=0).collect()) == want
    assert set(idx._load_guideposts()["cols"]["color"]["values"]) == {
        "red", "blue", "green"
    }


def test_guidepost_skip_scan_survives_mutation_storm(spark, tmp_path, monkeypatch):
    """The union-first guidepost invariant under the full mutation matrix:
    a seeded random sequence of updates, partial puts, row deletes, cell
    deletes and compactions against a COMPOSITE (band, score) index, then
    lookup_skip(score=v) — with live enumeration disabled, so only the
    sidecar can answer — must equal the dict model's filter for every
    probed value. Any insert path that forgets to union its leading
    values first shows up here as silently missing rows."""
    import random

    rng = random.Random(11)
    keyspace = list(range(150))
    model: dict[int, tuple[int, int]] = {}  # key -> (band, score)

    first = [(k, rng.randint(0, 6), rng.randint(-20, 20)) for k in rng.sample(keyspace, 90)]
    rows = spark.createDataFrame(
        [Row(key=k, band=b, score=s, ts=0) for k, b, s in first]
    )
    model.update({k: (b, s) for k, b, s in first})
    tbl = KeyedTable(
        spark, str(tmp_path / "gb"), key_col="key", ts_col="ts",
        num_partitions=4, compact_threshold=50,
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["band", "score"], str(tmp_path / "gi"), num_partitions=4
    ).build()

    for ts in range(1, 13):
        op = rng.choice(["update", "update", "put", "delete", "celldel", "compact"])
        if op == "update":
            # new bands appear over time (band range widens with ts)
            batch = [
                (k, rng.randint(0, 6 + ts), rng.randint(-20, 20))
                for k in rng.sample(keyspace, rng.randint(1, 20))
            ]
            idx.update(
                spark.createDataFrame(
                    [Row(key=k, band=b, score=s, ts=ts) for k, b, s in batch]
                )
            )
            model.update({k: (b, s) for k, b, s in batch})
        elif op == "put" and model:
            batch = [
                (k, rng.randint(-20, 20))
                for k in rng.sample(sorted(model), rng.randint(1, 10))
            ]
            idx.put(
                spark.createDataFrame(
                    [Row(key=k, score=s, ts=ts) for k, s in batch]
                )
            )
            for k, s in batch:
                model[k] = (model[k][0], s)
        elif op == "delete":
            victims = rng.sample(keyspace, rng.randint(1, 10))
            idx.delete(spark.createDataFrame([Row(key=k) for k in victims], "key int"))
            for k in victims:
                model.pop(k, None)
        elif op == "celldel" and model:
            victims = rng.sample(sorted(model), rng.randint(1, 5))
            idx.delete(
                spark.createDataFrame([Row(key=k) for k in victims], "key int"),
                columns=["score"],
            )
            for k in victims:
                model[k] = (model[k][0], None)
        else:
            tbl.compact()
            idx.tbl.compact()

    def boom(self, *a, **k):
        raise AssertionError("live enumeration ran — sidecar must answer")

    monkeypatch.setattr(SecondaryIndex, "_enumerate_leading", boom)
    for v in (-20, -3, 0, 7, 20, rng.randint(-20, 20)):
        got = sorted(r["key"] for r in idx.lookup_skip(score=v).collect())
        want = sorted(
            k for k, (_, s) in model.items() if s is not None and s == v
        )
        assert got == want, f"score={v}"


def test_guidepost_skip_scan_over_functional_component(spark, tmp_path, monkeypatch):
    """Skip scan fixing a FUNCTIONAL second component — probe by the
    derived value, enumerate the plain leading column from the sidecar
    (live enumeration disabled). Maintenance through update() recomputes
    the derivation AND unions the new leading value first."""
    rows = spark.createDataFrame(
        [
            Row(key=i, name=n, grp=i % 3, ts=100)
            for i, n in enumerate(["apple", "pear", "plum", "fig", "apricot", "peach"])
        ]
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl,
        ["grp"],
        str(tmp_path / "i"),
        num_partitions=2,
        expr={"initial": F.substring(F.col("name"), 1, 1)},
    ).build()
    monkeypatch.setattr(
        SecondaryIndex,
        "_enumerate_leading",
        lambda self, *a, **k: (_ for _ in ()).throw(AssertionError("live enum ran")),
    )

    def check(initial):
        want = sorted(
            r["key"]
            for r in tbl.df().where(F.substring("name", 1, 1) == initial).collect()
        )
        got = sorted(r["key"] for r in idx.lookup_skip(initial=initial).collect())
        assert got == want

    check("p")  # pear, plum, peach across grps 1, 2, 5%3=2
    check("a")
    # a new leading grp value arrives through maintenance; its row must be
    # skip-scannable immediately (union-first)
    idx.update(
        spark.createDataFrame([Row(key=10, name="prune", grp=9, ts=200)])
    )
    check("p")


def test_maintenance_heals_a_missing_guidepost_sidecar(spark, tmp_path, monkeypatch):
    """An index with live entries but NO sidecar (pre-guidepost dir, or a
    build() that crashed between create and refresh): the first
    maintenance write must derive the dictionary from the FULL index
    before unioning its batch — a batch-only bootstrap would silently
    drop every pre-existing row from skip scans (review-pass repro)."""
    import os

    rows = spark.createDataFrame(
        [
            Row(key=i, name=f"n{i}", color=c, score=1, ts=100)
            for i, c in enumerate(["red", "blue", "green"])
        ]
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["color", "score"], str(tmp_path / "i"), num_partitions=2
    ).build()
    os.remove(idx._guidepost_path())  # simulate the crash window

    idx.update(
        spark.createDataFrame([Row(key=10, name="x", color="violet", score=1, ts=200)])
    )
    _forbid_live_enumeration(monkeypatch)
    got = sorted(r["key"] for r in idx.lookup_skip(score=1).collect())
    assert got == [0, 1, 2, 10], "pre-existing rows must survive the heal"


def test_skip_scan_out_of_range_fixed_value_never_lies(spark, tmp_path):
    """A probe value outside the fixed column's dtype domain: under ANSI
    (this session's default) the exact predicate's cast RAISES — in both
    paths, never a silent empty result; _fits_dtype additionally keeps
    the guidepost path from answering with raw-encoded ranges, which
    under a non-ANSI session would silently miss the wrapped value's
    rows while the live path's cast-then-filter found them."""
    import pytest as _pytest

    rows = spark.createDataFrame(
        [Row(key=i, grp=i % 3, band=4464, ts=100) for i in range(6)],
        "key int, grp smallint, band smallint, ts bigint",
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["grp", "band"], str(tmp_path / "i"), num_partitions=2
    ).build()
    # the declined guidepost path and the live path agree: loud overflow
    assert idx._guidepost_tuples(["grp", "band"], {"band": 70000}) is None
    with _pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        idx.lookup_skip(band=70000).collect()
    # in-range probes answer from the sidecar
    assert sorted(r["key"] for r in idx.lookup_skip(band=4464).collect()) == [
        0, 1, 2, 3, 4, 5,
    ]


def test_guideposts_opt_out_disables_maintenance_and_reads(spark, tmp_path):
    """guideposts=False: no sidecar is created or consulted; skip scans
    use live enumeration and stay correct."""
    rows = spark.createDataFrame(
        [Row(key=i, grp=i % 3, band=i, ts=100) for i in range(6)]
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["grp", "band"], str(tmp_path / "i"), num_partitions=2,
        guideposts=False,
    ).build()
    import os

    assert not os.path.exists(idx._guidepost_path())
    idx.update(spark.createDataFrame([Row(key=10, grp=7, band=3, ts=200)]))
    assert not os.path.exists(idx._guidepost_path())
    assert sorted(r["key"] for r in idx.lookup_skip(band=3).collect()) == [3, 10]


def test_repair_wins_even_when_base_ts_moved_backwards(spark, tmp_path):
    """Behind the back: delete -> compact (tombstone folded away) ->
    reinsert at a LOWER ts. The base is live at ts 50 while the stored
    entry carries ts 100 — a plain repair upsert loses the index LWW fold
    and a bare tombstone would beat the lower-ts reinsert too; repair
    must tombstone + compact the stale slice so the expected entry lands
    (review-pass finding: repair used to report success while the stale
    covered value kept being served, re-flagged forever)."""
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(
        spark.createDataFrame([Row(key=1, name="a", color="red", ts=100)])
    )
    idx = SecondaryIndex(
        tbl, "color", str(tmp_path / "i"), include=["name"], num_partitions=2
    ).build()
    tbl.delete(spark.createDataFrame([Row(key=1)], "key bigint"))
    tbl.compact()
    tbl.update(spark.createDataFrame([Row(key=1, name="b", color="red", ts=50)]))
    assert [r["status"] for r in idx.scrutiny(deep=True).collect()] == [
        "stale_covered"
    ]
    out = idx.repair()
    assert out["stale_covered"] == 1
    assert [r["name"] for r in idx.lookup("red", covered=True).collect()] == ["b"]
    assert idx.scrutiny(deep=True).count() == 0


def test_key_only_functional_index_maintains_on_put(spark, tmp_path):
    """A functional index whose expression reads ONLY the key (a
    key-bucket index): a cell put creating a brand-new row must maintain
    it — the old input-resolution skipped the key column, so such puts
    took the no-maintenance fast path and created rows with no entry
    (review-pass finding)."""
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(
        spark.createDataFrame([Row(key=i, other="x", ts=100) for i in range(4)])
    )
    idx = SecondaryIndex(
        tbl, path=str(tmp_path / "i"), num_partitions=2,
        expr={"kmod": F.col("key") % 10},
    ).build()
    assert "key" in idx._maintained_inputs()
    idx.put(spark.createDataFrame([Row(key=19, other="y", ts=200)]))
    assert [r["key"] for r in idx.lookup(9).collect()] == [19]
    assert idx.scrutiny(deep=True).count() == 0
    # a row created via increment on a NON-key counter still indexes its key
    tbl2 = KeyedTable(
        spark, str(tmp_path / "b2"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl2.create(spark.createDataFrame([Row(key=1, cnt=0, ts=100)]))
    idx2 = SecondaryIndex(
        tbl2, path=str(tmp_path / "i2"), num_partitions=2,
        expr={"kmod": F.col("key") % 10},
    ).build()
    idx2.increment(
        spark.createDataFrame([Row(key=7, delta=3, ts=200)]), counter_col="cnt"
    )
    assert [r["key"] for r in idx2.lookup(7).collect()] == [7]
    assert idx2.scrutiny(deep=True).count() == 0


def test_deep_scrutiny_distinguishes_null_from_sentinel_value(spark, tmp_path):
    """Fingerprint null-handling: a covered value changing from NULL to a
    string the old separator-joined hash used as its null sentinel
    ('\\x00') was invisible to deep scrutiny (fp collision, review-pass
    finding); per-field fixed-width hashing flags it."""
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(
        spark.createDataFrame(
            [Row(key=1, name=None, color="red", ts=100)],
            "key bigint, name string, color string, ts bigint",
        )
    )
    idx = SecondaryIndex(
        tbl, "color", str(tmp_path / "i"), include=["name"], num_partitions=2
    ).build()
    tbl.put(spark.createDataFrame([Row(key=1, name="\x00", ts=200)]))
    assert [r["status"] for r in idx.scrutiny(deep=True).collect()] == [
        "stale_covered"
    ]
    idx.repair()
    assert [r["name"] for r in idx.lookup("red", covered=True).collect()] == ["\x00"]
    assert idx.scrutiny(deep=True).count() == 0


def test_constant_on_null_functional_index_maintains_row_creation(spark, tmp_path):
    """An expression NON-NULL over all-null inputs (coalesce to a
    default): a put creating a row that carries NONE of the inputs still
    mints an entry (fx='?'), so it must maintain — the key-reading-only
    gate missed this class (second review-pass repro)."""
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(
        spark.createDataFrame([Row(key=1, name="Alpha", other="x", ts=100)])
    )
    idx = SecondaryIndex(
        tbl, path=str(tmp_path / "i"), num_partitions=2,
        expr={"fx": F.coalesce(F.lower(F.col("name")), F.lit("?"))},
    ).build()
    idx.put(spark.createDataFrame([Row(key=9, other="y", ts=200)]))
    assert [r["key"] for r in idx.lookup("?").collect()] == [9]
    assert idx.scrutiny(deep=True).count() == 0
    # null-on-null expressions keep their fast path: no index write for a
    # row the expression maps to NULL (no entry by the NULL convention)
    tbl2 = KeyedTable(
        spark, str(tmp_path / "b2"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl2.create(spark.createDataFrame([Row(key=1, name="Alpha", other="x", ts=100)]))
    idx2 = SecondaryIndex(
        tbl2, path=str(tmp_path / "i2"), num_partitions=2,
        expr=F.lower(F.col("name")),
    ).build()
    n_layers = len(idx2.tbl._layers())
    idx2.put(spark.createDataFrame([Row(key=9, other="y", ts=200)]))
    assert len(idx2.tbl._layers()) == n_layers
    assert idx2.scrutiny(deep=True).count() == 0


def test_crashed_repair_rerun_converges(spark, tmp_path, monkeypatch):
    """repair() is not atomic: a crash between the stale-slice fold and
    the upsert leaves affected rows invisible to index reads. The pinned
    contract: a RE-RUN converges (the crashed state re-classifies as
    'missing' and takes the upsert-only path)."""
    import pytest as _pytest

    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(spark.createDataFrame([Row(key=1, name="a", color="red", ts=100)]))
    idx = SecondaryIndex(
        tbl, "color", str(tmp_path / "i"), include=["name"], num_partitions=2
    ).build()
    tbl.delete(spark.createDataFrame([Row(key=1)], "key bigint"))
    tbl.compact()
    tbl.update(spark.createDataFrame([Row(key=1, name="b", color="red", ts=50)]))

    real = KeyedTable.update

    def crash_on_upsert(self, *a, **kw):
        if self is idx.tbl:
            raise RuntimeError("crash before the repair upsert")
        return real(self, *a, **kw)

    monkeypatch.setattr(KeyedTable, "update", crash_on_upsert)
    with _pytest.raises(RuntimeError, match="crash"):
        idx.repair()
    monkeypatch.setattr(KeyedTable, "update", real)
    # the crashed window: row invisible to index reads (documented)
    assert idx.lookup("red").count() == 0
    out = idx.repair()
    assert out["missing"] == 1 and out["stale_covered"] == 0
    assert [r["name"] for r in idx.lookup("red", covered=True).collect()] == ["b"]
    assert idx.scrutiny(deep=True).count() == 0


def test_guidepost_tuples_probe_observed_tuples_not_cross_product(
    spark, tmp_path, monkeypatch
):
    """Advisor finding (r7): per-column guidepost sets answer a skip scan
    with their CROSS PRODUCT — k sparse leading columns of ~n values each
    cost n^k mostly-empty probe ranges where the live tuple set has only n
    members. The sidecar now records observed leading TUPLES and the skip
    scan prefers them: a (grp, band, score) index whose (grp, band) pairs
    are diagonal (grp i only ever pairs with band i) must probe exactly the
    |observed| prefixes, not |grp| x |band|."""
    n = 8
    rows = spark.createDataFrame(
        [
            Row(key=i, grp=f"g{i % n}", band=i % n, score=i % 3, ts=100)
            for i in range(4 * n)
        ]
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["grp", "band", "score"], str(tmp_path / "i"), num_partitions=2
    ).build()
    _forbid_live_enumeration(monkeypatch)

    tuples = idx._guidepost_tuples(["grp", "band", "score"], {"score": 1})
    assert tuples is not None
    # diagonal pairs only: n observed (grp, band) tuples, never n*n
    assert len(tuples) == n
    assert all(g == f"g{b}" for g, b, _ in tuples)
    want = sorted(r["key"] for r in tbl.df().where(F.col("score") == 1).collect())
    assert sorted(r["key"] for r in idx.lookup_skip(score=1).collect()) == want

    # maintenance introduces a brand-new tuple — union-first keeps the
    # record a superset and the probe exact
    idx.update(
        spark.createDataFrame([Row(key=100, grp="g0", band=7, score=1, ts=100)])
    )
    tuples = idx._guidepost_tuples(["grp", "band", "score"], {"score": 1})
    assert ["g0", 7, 1] in tuples and len(tuples) == n + 1
    want = sorted(
        r["key"] for r in tbl.df().where(F.col("score") == 1).collect()
    )
    assert sorted(r["key"] for r in idx.lookup_skip(score=1).collect()) == want

    # partially-fixed probe filters the record by the fixed equality
    tuples = idx._guidepost_tuples(["grp", "band", "score"], {"grp": "g0", "score": 1})
    assert sorted(t[1] for t in tuples) == [0, 7]


def test_pre_tuple_sidecar_heals_from_the_full_index(spark, tmp_path, monkeypatch):
    """A sidecar written before tuple tracking existed (no 'tuples' key)
    has no complete tuple history — a batch-only record would be a
    non-superset and silently drop pre-existing rows from skip scans.
    The first maintenance write heals it by deriving the record from the
    FULL pre-insert index (one column-pruned scan, once — the missing-
    sidecar discipline), then unions the batch's tuples."""
    rows = spark.createDataFrame(
        [Row(key=i, grp=f"g{i % 3}", band=i % 3, score=i % 2, ts=100) for i in range(9)]
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=2
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, ["grp", "band", "score"], str(tmp_path / "i"), num_partitions=2
    ).build()
    gp = idx._load_guideposts()
    del gp["tuples"]  # simulate the r7-era sidecar
    idx._save_guideposts(gp)
    idx.update(
        spark.createDataFrame([Row(key=50, grp="g9", band=9, score=0, ts=100)])
    )
    trec = idx._load_guideposts()["tuples"]
    assert not trec["overflow"]
    got = {tuple(t) for t in trec["values"]}
    assert ("g9", 9) in got, "the batch's new tuple must union in"
    assert ("g0", 0) in got, "pre-existing tuples must survive the heal"
    _forbid_live_enumeration(monkeypatch)
    want = sorted(r["key"] for r in tbl.df().where(F.col("score") == 0).collect())
    assert sorted(r["key"] for r in idx.lookup_skip(score=0).collect()) == want


def test_oversized_uncovered_lookup_bounds_the_base_scan(spark, tmp_path, monkeypatch):
    """VERDICT r7 item 3: when an uncovered lookup matches more keys than
    KeyedTable.POINT_READ_CAP, the degraded broadcast semi-join must not scan the
    base unbounded — the matched keys' [min, max] range is pushed into the
    base scan (PushedFilters shows the BETWEEN bounds, so parquet footers
    prune files outside the span; Spark injects no runtime bloom below a
    broadcast build, verified live). Correctness pinned against a direct
    base filter."""
    from spark_on_hbase_spark import plans

    tbl = KeyedTable(
        spark, str(tmp_path / "b"), key_col="key", ts_col="ts", num_partitions=4
    )
    tbl.create(
        spark.range(2000).select(
            F.col("id").alias("key"),
            (F.col("id") % 4).alias("color"),
            F.concat(F.lit("n"), F.col("id")).alias("name"),
            F.lit(100).cast("int").alias("ts"),
        )
    )
    idx = SecondaryIndex(
        tbl, "color", str(tmp_path / "i"), num_partitions=4
    ).build()
    monkeypatch.setattr(KeyedTable, "POINT_READ_CAP", 10)
    out = idx.lookup(2)
    plan = plans.formatted_plan(out)
    # the range bound reached a parquet scan's pushed filters
    pushed = "\n".join(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "GreaterThanOrEqual(key," in pushed and "LessThanOrEqual(key," in pushed, (
        f"degraded path lost the base-scan key-range bound:\n{pushed}"
    )
    assert "BroadcastHashJoin" in plan, plan
    want = sorted(
        r["key"] for r in tbl.df().where(F.col("color") == 2).collect()
    )
    assert sorted(r["key"] for r in out.collect()) == want


def test_lookup_in_matches_filter_and_survives_hundreds_of_values(spark, tmp_path):
    """The multi-value probe: exact vs a plain filter, covered vs uncovered,
    dupes and misses tolerated — and a 700-value probe must plan (a naive
    left-deep OR chain overflowed the JVM stack at ~600 values; the
    balanced tree is the fix, pinned here at the same order of magnitude
    the skip-scan budget allows)."""
    import os

    from pyspark.sql import functions as F

    from spark_on_hbase_spark.index import SecondaryIndex
    from spark_on_hbase_spark.table import KeyedTable

    t = KeyedTable(
        spark, os.path.join(str(tmp_path), "t"), key_col="k", ts_col="ts",
        num_partitions=4,
    )
    t.create(
        spark.range(0, 2000).select(
            F.col("id").alias("k"), (F.col("id") % 997).alias("grp"),
            (F.col("id") * 3).alias("v"), F.lit(0).cast("int").alias("ts"),
        )
    )
    idx = SecondaryIndex(t, "grp", os.path.join(str(tmp_path), "idx")).build()
    vals = [3, 11, 3, 99999]  # dupe + miss
    got = sorted(
        tuple(r) for r in idx.lookup_in(vals).select("k", "grp", "v").collect()
    )
    exp = sorted(
        tuple(r)
        for r in t.df().where(F.col("grp").isin(3, 11)).select("k", "grp", "v").collect()
    )
    assert got == exp
    assert idx.lookup_in([]).count() == 0
    big = list(range(700))  # would stack-overflow as a left-deep OR chain
    n = idx.lookup_in(big).count()
    assert n == t.df().where(F.col("grp") < 700).count()


def test_lookup_in_never_resurrects_migrated_or_deleted_entries(spark, tmp_path):
    """Review finding (r9): entry tombstones carry only the ikey — a
    per-layer filter on the value column alone drops them and the fold
    resurrects deleted entries. Migrate a key between groups and delete
    another outright: the OLD group's lookup_in must return neither, in
    both uncovered and covered form."""
    import os

    from pyspark.sql import functions as F

    from spark_on_hbase_spark.index import SecondaryIndex
    from spark_on_hbase_spark.table import KeyedTable

    t = KeyedTable(
        spark, os.path.join(str(tmp_path), "t"), key_col="k", ts_col="ts",
        num_partitions=2,
    )
    t.create(
        spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("grp"),
            (F.col("id") * 3).alias("v"), F.lit(0).cast("int").alias("ts"),
        )
    )
    idx = SecondaryIndex(
        t, "grp", os.path.join(str(tmp_path), "idx"), include=["v"]
    ).build()
    # key 1 migrates grp 1 -> 3 (old entry tombstoned); key 5 deleted
    idx.update(
        spark.createDataFrame([(1, 3, 999, 1)], "k long, grp long, v long, ts int")
    )
    idx.delete(spark.createDataFrame([(5,)], "k long"))
    got = {r["k"] for r in idx.lookup_in([1]).collect()}
    assert 1 not in got, "migrated key resurrected in its OLD group"
    assert 5 not in got, "deleted key resurrected"
    assert got == {r["k"] for r in t.df().where(F.col("grp") == 1).collect()
                   if True} or got == {r[0] for r in t.df().where(F.col("grp") == 1).select("k").collect()}
    cov = {(r["k"], r["grp"]) for r in idx.lookup_in([1], covered=True).collect()}
    assert all(g == 1 for _, g in cov) and (1 not in {k for k, _ in cov})
    # and the NEW group serves the migrated key with its new covered value
    new = {(r["k"], r["v"]) for r in idx.lookup_in([3], covered=True).collect()}
    assert (1, 999) in new


# ---------------------------------------------------------------------------
# multi-valued (exploded array) component — the near-dup band index's base
# ---------------------------------------------------------------------------


def _multi_fixture(spark, tmp_path):
    rows = spark.createDataFrame(
        [
            Row(key=1, tags="a b", ts=100),
            Row(key=2, tags="b c", ts=100),
            Row(key=3, tags="", ts=100),     # empty array -> no entries
            Row(key=4, tags=None, ts=100),   # NULL array -> no entries
        ]
    )
    tbl = KeyedTable(
        spark, str(tmp_path / "mbase"), key_col="key", ts_col="ts",
        num_partitions=2,
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, path=str(tmp_path / "midx"),
        expr={"tag": F.filter(F.split(F.col("tags"), " "), lambda w: w != "")},
        multi="tag", guideposts=False, num_partitions=2,
    ).build()
    return tbl, idx


def test_multi_index_mints_one_entry_per_element(spark, tmp_path):
    tbl, idx = _multi_fixture(spark, tmp_path)
    ent = [
        (r["base_key"], r["tag"]) for r in idx.tbl.df().collect()
    ]
    assert sorted(ent) == [(1, "a"), (1, "b"), (2, "b"), (2, "c")]
    # element lookup returns every base row whose array CONTAINS it
    assert sorted(r["key"] for r in idx.lookup("b").collect()) == [1, 2]
    assert idx.lookup("z").count() == 0
    assert idx.scrutiny().count() == 0


def test_multi_index_maintenance_replaces_all_elements(spark, tmp_path):
    tbl, idx = _multi_fixture(spark, tmp_path)
    # update key 1: {a,b} -> {c,d} THROUGH the index
    idx.update(spark.createDataFrame([Row(key=1, tags="c d", ts=200)]))
    assert idx.lookup("a").count() == 0           # old element tombstoned
    assert sorted(r["key"] for r in idx.lookup("c").collect()) == [1, 2]
    assert [r["key"] for r in idx.lookup("d").collect()] == [1]
    # delete key 2: both its element entries must go
    idx.delete(spark.createDataFrame([Row(key=2)]))
    assert idx.lookup("b").count() == 0
    assert [r["key"] for r in idx.lookup("c").collect()] == [1]
    assert idx.scrutiny().count() == 0


def test_multi_index_rejects_non_array_and_non_last(spark, tmp_path):
    tbl = KeyedTable(
        spark, str(tmp_path / "vbase"), key_col="key", ts_col="ts",
        num_partitions=2,
    )
    tbl.create(spark.createDataFrame([Row(key=1, name="x", ts=100)]))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be an expr component"):
        SecondaryIndex(
            tbl, "name", path=str(tmp_path / "v1"), multi="name",
        )
    # scalar expression under multi= fails at dtype resolution
    bad = SecondaryIndex(
        tbl, path=str(tmp_path / "v2"),
        expr={"u": F.upper(F.col("name"))}, multi="u", guideposts=False,
    )
    with _pytest.raises(ValueError, match="array expression"):
        bad.build()
