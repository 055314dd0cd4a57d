"""KeyedTable mutation semantics (SURVEY.md §2.1 S5-S12): upsert
last-writer-wins by ts, cell-level put, pre-aggregated increment, row/column
deletes, copy — the HBase behaviors re-expressed as deterministic merge
writes (table.py)."""

import itertools
from pathlib import Path

import pytest
from hypothesis import HealthCheck, Phase, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    rule,
    run_state_machine_as_test,
)
from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_on_hbase_spark.table import HistoryFoldedError, KeyedTable


@pytest.fixture
def table(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "t"), key_col="key", ts_col="ts", num_partitions=4)
    df = spark.createDataFrame(
        [Row(key=f"k{i:03d}", ts=100, height=i, tag=f"v{i}") for i in range(20)]
    )
    return t.create(df)


def rows(t):
    return {r["key"]: r.asDict() for r in t.df().collect()}


def test_update_upsert_last_writer_wins(spark, table):
    batch = spark.createDataFrame(
        [
            Row(key="k001", ts=200, height=999, tag="new"),   # newer ts -> wins
            Row(key="k002", ts=50, height=-1, tag="stale"),   # older ts -> loses
            Row(key="k999", ts=100, height=42, tag="insert"),  # new key
        ]
    )
    n = table.update(batch)
    assert n == 3
    r = rows(table)
    assert len(r) == 21
    assert r["k001"]["height"] == 999 and r["k001"]["ts"] == 200
    assert r["k002"]["height"] == 2  # stale write rejected
    assert r["k999"]["tag"] == "insert"


def test_update_tie_prefers_incoming(spark, table):
    batch = spark.createDataFrame([Row(key="k003", ts=100, height=-7, tag="tie")])
    table.update(batch)
    assert rows(table)["k003"]["height"] == -7  # same ts: batch wins (HBase puts)


def test_put_preserves_missing_columns(spark, table):
    batch = spark.createDataFrame([Row(key="k004", ts=300, height=1234)])
    table.put(batch)
    r = rows(table)["k004"]
    assert r["height"] == 1234
    assert r["tag"] == "v4"  # column absent from batch keeps stored value


def test_increment_preaggregates_and_skips_zero(spark, table):
    batch = spark.createDataFrame(
        [
            Row(key="k005", delta=3),
            Row(key="k005", delta=4),   # same key pre-aggregates to +7
            Row(key="k006", delta=0),   # zero delta skipped (HBaseTable.scala:166)
            Row(key="k007", delta=-2),
        ]
    )
    n = table.increment(batch, counter_col="height")
    assert n == 2  # k005 and k007 (k006's zero delta skipped)
    r = rows(table)
    assert r["k005"]["height"] == 5 + 7
    assert r["k006"]["height"] == 6
    assert r["k007"]["height"] == 7 - 2


def test_delete_rows_and_columns(spark, table):
    doomed = spark.createDataFrame([Row(key="k008"), Row(key="k009")])
    table.delete(doomed)
    r = rows(table)
    assert "k008" not in r and "k009" not in r and len(r) == 18

    col_del = spark.createDataFrame([Row(key="k010")])
    table.delete(col_del, columns=["tag"])
    r = rows(table)
    assert r["k010"]["tag"] is None      # cell tombstone
    assert r["k010"]["height"] == 10     # other cells survive
    assert r["k011"]["tag"] == "v11"     # other rows untouched


def test_increment_writes_only_a_delta_layer(spark, table):
    """O(batch) invariant: an increment appends ONE additive delta layer —
    the base is untouched (no read-modify-write of the table), matching the
    reference's server-side-add intent (HBaseTable.scala:157-179)."""
    base_before = table._layers()
    assert len(base_before) == 1
    table.increment(
        spark.createDataFrame([Row(key="k005", delta=7)]), counter_col="height"
    )
    layers = table._layers()
    assert layers[0] == base_before[0]  # base layer untouched
    assert len(layers) == 2 and layers[1].name.startswith("delta-")
    raw = spark.read.parquet(str(layers[1]))
    rows_ = raw.collect()
    # the delta layer holds ONLY the batch keys, as additive kind-2 rows
    # with the summed delta in the counter column and nulls elsewhere
    assert [r["key"] for r in rows_] == ["k005"]
    assert rows_[0]["height"] == 7 and rows_[0]["tag"] is None
    assert rows_[0]["__kind"] == 2


def test_put_writes_sparse_delta_without_table_read(spark, table):
    """O(batch) invariant: put appends a column-sparse delta (absent columns
    = typed nulls meaning "keep stored"); the stored value is resolved at
    merge-on-read, not backfilled by scanning the table at write time."""
    base_before = table._layers()
    table.put(spark.createDataFrame([Row(key="k004", ts=300, height=1234)]))
    layers = table._layers()
    assert layers[0] == base_before[0]
    raw = spark.read.parquet(str(layers[-1])).collect()
    assert raw[0]["tag"] is None  # NOT backfilled from the base => no read
    assert raw[0]["__kind"] == 1
    assert rows(table)["k004"]["tag"] == "v4"  # ...but merge-on-read resolves


def test_delete_writes_keys_only(spark, table):
    """O(batch) invariant: deletes write key-only tombstone / cell-delete
    rows; the table is not scanned at write time."""
    table.delete(spark.createDataFrame([Row(key="k008")]))
    raw = spark.read.parquet(str(table._layers()[-1])).collect()
    assert len(raw) == 1 and raw[0]["__tombstone"] and raw[0]["tag"] is None
    table.delete(spark.createDataFrame([Row(key="k010")]), columns=["tag"])
    raw = spark.read.parquet(str(table._layers()[-1])).collect()
    assert raw[0]["__kind"] == 3 and raw[0]["__delcols"] == ["tag"]


def test_increment_then_update_then_increment(spark, table):
    """Interleaved kinds resolve in arrival order: +5, absolute write, +3
    => absolute + 3 (an absolute write supersedes earlier increments, like
    HBase read-modify-write increments)."""
    table.increment(spark.createDataFrame([Row(key="k001", delta=5)]), counter_col="height")
    table.update(spark.createDataFrame([Row(key="k001", ts=200, height=50, tag="abs")]))
    table.increment(spark.createDataFrame([Row(key="k001", delta=3)]), counter_col="height")
    assert rows(table)["k001"]["height"] == 53


def test_put_then_delete_then_put_resurrects(spark, table):
    """Tombstone then later put: the put recreates the row with its cells
    (HBase: newer put cells survive a row tombstone)."""
    table.delete(spark.createDataFrame([Row(key="k003")]))
    assert "k003" not in rows(table)
    table.put(spark.createDataFrame([Row(key="k003", ts=400, height=33)]))
    r = rows(table)["k003"]
    assert r["height"] == 33 and r["tag"] is None  # old cells stay masked


def test_mixed_kind_merge_is_single_shuffle(spark, table):
    """Every multi-layer read resolves through the one window fold: union
    of layers -> one hash shuffle by key -> sort -> Window/CASE
    resolution. Pinned for a mixed-kind stack (sparse put + increment) and
    an update-only stack alike: ONE shuffle, Window operators, and no
    interpreted aggregate-HOF lambda, collect_list or max_by merge."""
    from spark_on_hbase_spark import plans

    def assert_window_fold(df):
        assert plans.count_shuffles(df) == 1
        plan = plans.formatted_plan(df)
        assert "Window" in plan
        for banned in ("aggregate(", "collect_list", "max_by"):
            assert banned not in plan, banned

    table.update(spark.createDataFrame([Row(key="k001", ts=300, height=1, tag="u")]))
    assert_window_fold(table.df())
    table.put(spark.createDataFrame([Row(key="k004", ts=300, height=1)]))
    table.increment(spark.createDataFrame([Row(key="k005", delta=2)]), counter_col="height")
    assert_window_fold(table.df())


def test_null_ts_update_applies_over_stored_ts(spark, tmp_path):
    """An update whose ts is null is a write at "now": it applies over a
    stored ts=100 row, and the resolved ts stays 100. The answer is the
    same for an update-only stack, for the same stack plus an unrelated
    put layer, and after a prefix compaction folds the update in."""
    schema = "key string, ts bigint, height bigint, tag string"
    for with_put in (False, True):
        t = KeyedTable(spark, str(tmp_path / f"t{int(with_put)}"),
                       num_partitions=2, compact_threshold=99)
        t.create(spark.createDataFrame(
            [("k1", 100, 1, "old"), ("k2", 100, 2, "old")], schema))
        t.update(spark.createDataFrame([("k1", None, 9, "new")], schema))
        snap = t.snapshot_seq()
        if with_put:
            t.put(spark.createDataFrame(
                [("k2", 200, 5)], "key string, ts bigint, height bigint"))
        want = {"key": "k1", "ts": 100, "height": 9, "tag": "new"}
        assert rows(t)["k1"] == want
        t.compact(keep_since=snap)
        assert rows(t)["k1"] == want
        assert len(t._layers()) == (2 if with_put else 1)


def test_copy_roundtrip(spark, table, tmp_path):
    dest = KeyedTable(spark, str(tmp_path / "t2"), num_partitions=2)
    table.copy(dest)
    assert sorted(rows(dest)) == sorted(rows(table))


def test_updates_append_deltas_not_rewrite(spark, table):
    """LSM invariant: each mutation appends one sorted delta layer; the base
    is untouched until compaction (O(batch) writes — HBase memstore/HFile)."""
    layers_before = table._layers()
    assert len(layers_before) == 1 and layers_before[0].name.startswith("base-")
    table.update(spark.createDataFrame([Row(key="k001", ts=300, height=1, tag="d1")]))
    table.update(spark.createDataFrame([Row(key="k002", ts=300, height=2, tag="d2")]))
    layers = table._layers()
    assert len(layers) == 3
    assert layers[0] == layers_before[0]  # base unchanged
    assert all(p.name.startswith("delta-") for p in layers[1:])
    r = rows(table)
    assert r["k001"]["tag"] == "d1" and r["k002"]["tag"] == "d2"


def test_compaction_folds_layers_and_purges_tombstones(spark, table):
    table.update(spark.createDataFrame([Row(key="x1", ts=300, height=0, tag="t")]))
    table.delete(spark.createDataFrame([Row(key="x1")]))
    assert len(table._layers()) == 3
    before = rows(table)
    table.compact()
    assert len(table._layers()) == 1
    assert rows(table) == before  # logical view unchanged by compaction
    assert "x1" not in before  # tombstone purged physically and logically


def test_auto_compaction_bounds_delta_stack(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "auto"), num_partitions=2, compact_threshold=3)
    t.create(spark.createDataFrame([Row(key="a", ts=0, v=0)]))
    for i in range(1, 6):
        t.update(spark.createDataFrame([Row(key="a", ts=i, v=i)]))
    assert len(t._layers()) <= 4  # stack bounded by threshold + fresh deltas
    assert rows(t)["a"]["v"] == 5


def test_write_is_sorted_within_partitions(spark, table):
    # the bulk-write layout guarantee (HFile pipeline twin): files sorted by key
    df = table.df().select("key", F.spark_partition_id().alias("pid"))
    pdf = df.toPandas()
    for _, grp in pdf.groupby("pid"):
        keys = list(grp["key"])
        assert keys == sorted(keys)


# -- stateful model test ---------------------------------------------------
#
# A hypothesis state machine drives a KeyedTable and a pure-Python model
# side by side. The model applies the fold rules documented on
# table._merge_layers_fold one layer at a time, in arrival order; it shares
# no code with the engine, so it pins the window fold's semantics.

_M_KEYS = list(range(5))  # few keys, so versions of one key stack up
_M_PROBE = _M_KEYS + [5, 6]  # reads also probe absent keys
_M_CELLS = ("cnt", "bal", "tag")
_M_TYPES = {"key": "bigint", "ts": "bigint", "cnt": "bigint", "bal": "double",
            "tag": "string"}
_M_COLS = tuple(_M_TYPES)


def _m_schema(cols) -> str:
    return ", ".join(f"{c} {_M_TYPES[c]}" for c in cols)


# one mutation batch: 1-3 (key, ts, cnt, bal, tag) rows with DISTINCT keys
# (in-layer order is arbitrary by contract, so a batch never holds two
# versions of a key)
_M_BATCH = st.lists(
    st.tuples(
        st.sampled_from(_M_KEYS),
        st.sampled_from([None, 5, 10, 20, 30]),
        st.one_of(st.none(), st.integers(-5, 50)),
        st.one_of(st.none(), st.sampled_from([0.1, 0.2, 0.7, 1.5, -2.25, 1e16])),
        st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
    ),
    min_size=1, max_size=3, unique_by=lambda r: r[0],
)


class _FoldModel:
    """Per key: resolved ts, tombstone flag and cells, or no entry for a
    key no ROW/SPARSE/DELTA version has reached."""

    def __init__(self):
        self.state: dict[int, dict] = {}

    @staticmethod
    def _gate(cur, ts) -> bool:
        return ts is None or cur is None or cur["ts"] is None or ts >= cur["ts"]

    def row(self, key, ts, cells, tomb=False):
        cur = self.state.get(key)
        if self._gate(cur, ts):
            self.state[key] = {
                "ts": ts if ts is not None else (cur or {}).get("ts"),
                "tomb": tomb, **cells,
            }

    def sparse(self, key, ts, cells):
        cur = self.state.get(key)
        if self._gate(cur, ts):
            new = dict(cur or {"ts": None, **dict.fromkeys(_M_CELLS)})
            new.update({c: v for c, v in cells.items() if v is not None})
            new["ts"] = ts if ts is not None else new["ts"]
            new["tomb"] = False
            self.state[key] = new

    def delta(self, key, col, d, zero):
        new = dict(self.state.get(key) or {"ts": None, **dict.fromkeys(_M_CELLS)})
        new[col] = (zero if new[col] is None else new[col]) + d
        new["tomb"] = False
        self.state[key] = new

    def celldel(self, key, cols):
        if key in self.state:
            self.state[key].update(dict.fromkeys(cols))

    def visible(self) -> dict:
        return {k: dict(v) for k, v in self.state.items() if not v["tomb"]}


def _m_canon(rows) -> list:
    """Order-free comparison form; doubles compare at repr() precision."""
    return sorted(tuple(repr(v) for v in r) for r in rows)


def _m_expect(visible: dict, keys=None) -> list:
    return _m_canon(
        (k, *(v[c] for c in _M_COLS[1:]))
        for k, v in visible.items()
        if keys is None or k in keys
    )


def test_mutation_sequence_matches_model(spark, tmp_path):
    """Model-based check of the LSM fold: hypothesis drives random
    sequences of update / put / increment (stacked double increments
    included) / delete / cell delete / compaction (all, dirty, keep_since)
    against a KeyedTable at 1-4 partitions with Bloom on or off. After
    every mutation df() must equal the model, and random reads — df,
    point_read, range_read, semi_read, at the latest layer or as_of_layer
    a snapshot taken since the last compaction — must equal the model's
    state at that point. Derandomized with no example database, so every
    run replays the same bounded set of sequences; shrinking is off to
    keep a failure's cost bounded (the failing steps are still printed)."""
    dirs = itertools.count()
    key_sets = st.lists(st.sampled_from(_M_PROBE), max_size=3, unique=True)
    cell_sets = st.sets(st.sampled_from(_M_CELLS), min_size=1)

    def keys_df(keys):
        return spark.createDataFrame([(k,) for k in keys], "key bigint")

    class KeyedTableMachine(RuleBasedStateMachine):
        @initialize(
            nparts=st.integers(1, 4), bloom=st.booleans(), base=_M_BATCH
        )
        def create(self, nparts, bloom, base):
            self.t = KeyedTable(
                spark, str(tmp_path / f"m{next(dirs)}"), key_col="key",
                ts_col="ts", num_partitions=nparts, compact_threshold=99,
                bloom=bloom,
            )
            self.t.create(spark.createDataFrame(base, _m_schema(_M_COLS)))
            self.model = _FoldModel()
            for k, ts, *cells in base:
                self.model.row(k, ts, dict(zip(_M_CELLS, cells)))
            # delta layers since the last compaction: (seq, keys written)
            self.deltas: list[tuple[int, set]] = []
            # readable snapshots: (seq, visible model state at that seq)
            self.snaps: list[tuple[int, dict]] = []
            self._snap()

        def _snap(self, keys=()):
            self.checked = False
            seq = self.t.snapshot_seq()
            if keys:
                self.deltas.append((seq, set(keys)))
            self.snaps.append((seq, self.model.visible()))

        # -- mutations ------------------------------------------------------

        @rule(batch=_M_BATCH)
        def update(self, batch):
            self.t.update(spark.createDataFrame(batch, _m_schema(_M_COLS)))
            for k, ts, *cells in batch:
                self.model.row(k, ts, dict(zip(_M_CELLS, cells)))
            self._snap(r[0] for r in batch)

        @rule(batch=_M_BATCH, cols=cell_sets)
        def put(self, batch, cols):
            cols = [c for c in _M_CELLS if c in cols]
            idx = [2 + _M_CELLS.index(c) for c in cols]
            rows_ = [(r[0], r[1], *(r[i] for i in idx)) for r in batch]
            self.t.put(spark.createDataFrame(rows_, _m_schema(["key", "ts", *cols])))
            for k, ts, *vals in rows_:
                self.model.sparse(k, ts, dict(zip(cols, vals)))
            self._snap(r[0] for r in batch)

        @rule(batch=_M_BATCH, counter=st.sampled_from(["cnt", "bal"]),
              data=st.data())
        def increment(self, batch, counter, data):
            # the batch's ts rides along and must be ignored: an increment
            # carries no version timestamp
            choices = [7, 1, -3, 0] if counter == "cnt" else [0.1, 0.2, 0.7, -1.5, 0.0]
            rows_ = [(r[0], r[1], data.draw(st.sampled_from(choices))) for r in batch]
            self.t.increment(
                spark.createDataFrame(
                    rows_, f"key bigint, ts bigint, delta {_M_TYPES[counter]}"
                ),
                counter_col=counter,
            )
            zero = 0 if counter == "cnt" else 0.0
            written = [(k, d) for k, _, d in rows_ if d != 0]  # zero deltas skip
            for k, d in written:
                self.model.delta(k, counter, d, zero)
            self._snap(k for k, _ in written)

        @rule(key=st.sampled_from(_M_KEYS),
              d1=st.sampled_from([0.1, 0.2, 0.7]), d2=st.sampled_from([0.1, 0.3, 1e-3]))
        def double_increment(self, key, d1, d2):
            # two stacked DELTA layers on one double cell: the fold must
            # add them in layer order (float addition does not associate)
            for d in (d1, d2):
                self.t.increment(
                    spark.createDataFrame([(key, d)], "key bigint, delta double"),
                    counter_col="bal",
                )
                self.model.delta(key, "bal", d, 0.0)
                self._snap([key])

        @rule(keys=key_sets.filter(bool), cols=st.one_of(st.none(), cell_sets))
        def delete(self, keys, cols):
            # cols None: whole-row tombstones; else a cell delete
            cols = sorted(cols) if cols else None
            self.t.delete(keys_df(keys), columns=cols)
            for k in keys:
                if cols:
                    self.model.celldel(k, cols)
                else:
                    self.model.row(k, None, dict.fromkeys(_M_CELLS), tomb=True)
            self._snap(keys)

        @rule(scope=st.sampled_from(["all", "dirty", "keep_since"]), data=st.data())
        def compact(self, scope, data):
            if scope == "keep_since":
                seq = data.draw(st.sampled_from([s for s, _ in self.snaps]))
                self.t.compact(keep_since=seq)
                # tombstones survive a prefix compaction; history below
                # the checkpoint folds away, so older snapshots go
                old = [s for s, _ in self.snaps if s < seq]
                if old:
                    with pytest.raises(HistoryFoldedError):
                        self.t.df(as_of_layer=old[-1])
                self.deltas = [(s, ks) for s, ks in self.deltas if s > seq]
                self.snaps = [(s, v) for s, v in self.snaps if s >= seq]
                self.checked = False
                return
            self.t.compact(scope=scope)
            tombs = {k for k, v in self.model.state.items() if v["tomb"]}
            if scope == "dirty":
                # dirty scope purges the tombstones its rewritten ranges
                # hold: every key a delta touched, plus whatever else
                # shares a dirty base file. Tombstones in clean files stay.
                left = {
                    r["key"]
                    for p in self.t._layers()
                    for r in spark.read.parquet(str(p))
                    .where("__tombstone").select("key").collect()
                }
                touched = set().union(*(ks for _, ks in self.deltas))
                assert left <= tombs and not (left & touched)
                tombs -= left
            for k in tombs:
                del self.model.state[k]
            self.deltas, self.snaps = [], []
            self._snap()

        # -- reads ----------------------------------------------------------

        @invariant()
        def df_matches_model(self):
            # full read after every mutation and compaction
            if self.checked:
                return
            df = self.t.df()
            assert tuple(df.columns) == _M_COLS
            assert _m_canon(df.collect()) == _m_expect(self.model.visible())
            self.checked = True

        @rule(how=st.sampled_from(["df", "point", "range", "semi"]),
              keys=key_sets, data=st.data())
        def read(self, how, keys, data):
            # the latest state, or a snapshot since the last compaction
            seq, visible = data.draw(st.sampled_from(self.snaps[::-1]))
            if seq == self.snaps[-1][0]:
                seq = data.draw(st.sampled_from([None, seq]))
            if how == "df":
                df, keys = self.t.df(as_of_layer=seq), None
            elif how == "point":
                df = self.t.point_read(keys, as_of_layer=seq)
            elif how == "range":
                lo, hi = min(keys, default=0), max(keys, default=-1)
                df = self.t.range_read(lo, hi, as_of_layer=seq)
                keys = range(lo, hi + 1)
            else:
                df = self.t.semi_read(keys_df(keys), as_of_layer=seq)
            got = _m_canon(df.collect())
            assert got == _m_expect(visible, None if keys is None else set(keys))

    run_state_machine_as_test(
        KeyedTableMachine,
        settings=settings(
            max_examples=8,
            stateful_step_count=10,
            derandomize=True,
            database=None,
            deadline=None,
            phases=(Phase.explicit, Phase.generate),
            suppress_health_check=[HealthCheck.too_slow],
        ),
    )


def test_ttl_filters_reads_and_compaction_purges(spark, tmp_path):
    """Column-family TTL parity (reference demo tables set TTL 90/360/30d,
    HBaseTableSimple.scala:23-30): expired rows are invisible to reads and
    physically removed by compaction. now_fn injected for determinism."""
    t = KeyedTable(
        spark, str(tmp_path / "ttl"), num_partitions=2, ttl=100, now_fn=lambda: 1000
    )
    t.create(
        spark.createDataFrame(
            [
                Row(key="fresh", ts=950, v=1),
                Row(key="edge", ts=900, v=2),    # exactly now - ttl: kept
                Row(key="stale", ts=899, v=3),   # expired
            ]
        )
    )
    assert {r["key"] for r in t.df().collect()} == {"fresh", "edge"}
    t.compact()
    raw = spark.read.parquet(str(t._layers()[0]))
    assert {r["key"] for r in raw.collect()} == {"fresh", "edge"}  # purged


def test_increment_rejects_non_numeric_counter(spark, table):
    """A non-numeric counter would write a DELTA layer the read fold silently
    drops (the additive branch exists only for numeric dtypes) — increment
    must fail loudly at write time instead (ADVICE r2)."""
    batch = spark.createDataFrame([Row(key="k001", delta=1)])
    with pytest.raises(ValueError, match="numeric"):
        table.increment(batch, counter_col="tag")  # tag is string


def test_column_delete_rejects_key_and_ts(spark, table):
    """The fold's ts branch has no CELLDEL case (the version timestamp is
    merge bookkeeping, not a deletable cell), so a cell delete naming ts
    would be silently ignored — reject it like the key column (ADVICE r2)."""
    keys = spark.createDataFrame([Row(key="k001")])
    with pytest.raises(ValueError, match="cannot column-delete"):
        table.delete(keys, columns=["ts"])
    with pytest.raises(ValueError, match="cannot column-delete"):
        table.delete(keys, columns=["key"])


def test_layer_order_is_numeric_not_lexical(spark, tmp_path, monkeypatch):
    """Layer seqs never reset, so past the 6-digit pad a lexical sort would
    order delta-1000000 before delta-999999 and fold mutations out of order
    (ADVICE r2). Force a seq past the pad and check the fold still applies
    the later layer last."""
    t = KeyedTable(spark, str(tmp_path / "big"), num_partitions=2, compact_threshold=99)
    t.create(spark.createDataFrame([Row(key="a", ts=10, v=1)]))
    # jump the sequence over the pad boundary; both updates share ts=20 so
    # the (ts, layer-seq) tie-break alone decides the winner — under a
    # lexical layer sort delta-1000000 would count as OLDER than
    # delta-999999 and the stale value would win
    monkeypatch.setattr(t, "_next_seq", lambda: 999999)
    t.update(spark.createDataFrame([Row(key="a", ts=20, v=50)]))
    monkeypatch.undo()
    assert t._next_seq() == 1000000
    t.update(spark.createDataFrame([Row(key="a", ts=20, v=99)]))
    names = [p.name for p in t._layers()]
    assert names[-1] == "delta-1000000" and names[-2] == "delta-999999"
    assert {r["key"]: r["v"] for r in t.df().collect()} == {"a": 99}


def test_time_travel_reads_layer_prefix(spark, tmp_path):
    """LSM time travel: any historical state is a layer-prefix read; a
    snapshot taken before later mutations replays exactly."""
    t = KeyedTable(spark, str(tmp_path / "tt"), num_partitions=2, compact_threshold=99)
    t.create(spark.createDataFrame([Row(key="a", ts=10, v=1), Row(key="b", ts=10, v=2)]))
    s0 = t.snapshot_seq()
    t.update(spark.createDataFrame([Row(key="a", ts=20, v=100)]))
    s1 = t.snapshot_seq()
    t.delete(spark.createDataFrame([Row(key="b")]))
    t.increment(spark.createDataFrame([Row(key="a", delta=5)]), counter_col="v")

    now = {r["key"]: r["v"] for r in t.df().collect()}
    assert now == {"a": 105}
    at0 = {r["key"]: r["v"] for r in t.df(as_of_layer=s0).collect()}
    assert at0 == {"a": 1, "b": 2}
    at1 = {r["key"]: r["v"] for r in t.df(as_of_layer=s1).collect()}
    assert at1 == {"a": 100, "b": 2}


def test_keyed_table_range_scan_prunes_layer_files(spark, tmp_path):
    """The HBase-core primitive, proven on real parquet footers: the sorted
    range-partitioned layout gives every layer file a narrow key min/max,
    so a key-range scan (HBase Scan(start, stop)) statistically overlaps
    only ~range-fraction of the files — and Spark's scan honors it: the
    narrow-range query reads fewer rows than a full scan would from just
    one pruned-in file. An unsorted layout can never prune this way."""
    import glob

    import pyarrow.parquet as pq

    n, parts = 20000, 8
    base = spark.range(n).select(
        F.col("id").alias("key"),
        (F.col("id") % 97).alias("v"),
        F.lit(0).alias("ts"),
    )
    tbl = KeyedTable(spark, str(tmp_path / "rt"), key_col="key", ts_col="ts",
                     num_partitions=parts)
    tbl.create(base)

    files = glob.glob(f"{tbl.path}/base-*/**/*.parquet", recursive=True)
    assert len(files) >= parts

    def overlaps(lo, hi):
        hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            st = None
            for ci in range(md.num_columns):
                c = md.row_group(0).column(ci)
                if c.path_in_schema == "key":
                    st = c.statistics
            assert st is not None and st.min is not None  # sorted write => stats
            if not (st.max < lo or st.min > hi):
                hit += 1
        return hit

    # a ~5% key range must overlap at most a couple of the 8+ range files;
    # the full range overlaps all of them
    assert overlaps(1000, 2000) <= 2
    assert overlaps(0, n) == len(files)
    # and the engine-side scan returns exactly the range, correctly merged
    got = tbl.df().where((F.col("key") >= 1000) & (F.col("key") < 2000))
    assert got.count() == 1000


def test_update_rejects_partial_rows_before_writing(spark, tmp_path):
    """update() is whole-row: a batch missing a column would append a
    layer the merge can never read again (every later scan dies on the
    unresolvable column) — it must fail fast with nothing written, and the
    table must stay fully readable. Partial rows are put()'s job."""
    t = KeyedTable(spark, str(tmp_path / "wr"), key_col="key", ts_col="ts",
                   num_partitions=2)
    t.create(spark.createDataFrame([(1, "a", 0), (2, "b", 0)],
                                   "key long, name string, ts int"))
    with pytest.raises(ValueError, match="whole-row"):
        t.update(spark.createDataFrame([(1, 5)], "key long, ts int"))
    with pytest.raises(ValueError, match="whole-row"):
        t.update(spark.createDataFrame([(1, "x", 5, 9)],
                                       "key long, name string, ts int, bogus int"))
    # nothing was written; the table still reads and put() covers partials
    assert t.df().count() == 2
    t.put(spark.createDataFrame([(1, 5)], "key long, ts int"))
    assert t.df().where(F.col("key") == 1).collect()[0]["name"] == "a"


def test_ddl_guards(spark, tmp_path):
    """ADD of an existing column refuses (withColumn would silently
    overwrite stored values with the default); DROP of a missing column is
    a no-op per the reference's IfExists contract; DROP of the key or ts
    column refuses (structural)."""
    t = KeyedTable(spark, str(tmp_path / "ddlg"), key_col="key", ts_col="ts",
                   num_partitions=2)
    t.create(spark.createDataFrame([(1, "a", 0)], "key long, name string, ts int"))
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("name", default="X")
    assert t.df().collect()[0]["name"] == "a"  # data untouched
    t.drop_column("mystery")  # no-op, table still reads
    assert t.df().count() == 1
    with pytest.raises(ValueError, match="key column"):
        t.drop_column("key")
    with pytest.raises(ValueError, match="timestamp column"):
        t.drop_column("ts")


def test_create_refuses_existing_table(spark, tmp_path):
    """HBase's TableExistsException: a second create would silently union
    two base generations; it must raise with the original data intact."""
    t = KeyedTable(spark, str(tmp_path / "ce"), key_col="key", ts_col="ts",
                   num_partitions=2)
    t.create(spark.createDataFrame([(1, "a", 0)], "key long, name string, ts int"))
    with pytest.raises(FileExistsError):
        t.create(spark.createDataFrame([(9, "z", 1)], "key long, name string, ts int"))
    assert [r["key"] for r in t.df().collect()] == [1]
    t.drop()
    t.create(spark.createDataFrame([(9, "z", 1)], "key long, name string, ts int"))
    assert [r["key"] for r in t.df().collect()] == [9]


def test_dirty_compaction_rewrites_only_delta_covered_ranges(spark, tmp_path):
    """compact(scope='dirty') must fold the delta stack into ONLY the base
    part-files whose footer key range overlaps the deltas: untouched base
    files survive BYTE-IDENTICAL at their original paths (at 100 TB a
    localized mutation batch must not trigger the one table-sized job),
    the read after equals the full-compaction result, tombstones in the
    dirty range are physically purged, and consumed idempotence stamps
    survive into the manifest."""
    import hashlib

    t = KeyedTable(
        spark, str(tmp_path / "dirty_tbl"), key_col="k", ts_col="ts",
        num_partitions=4, compact_threshold=50,
    )
    base = spark.createDataFrame([Row(k=i, ts=0, v=i * 10) for i in range(1000)])
    t.create(base)
    base_dir = t._layers()[0]
    before = {
        f: hashlib.md5(f.read_bytes()).hexdigest()
        for f in sorted(base_dir.glob("*.parquet"))
    }
    assert len(before) == 4

    # localized mutations: updates + a tombstone, all in keys 10..19
    t.update(
        spark.createDataFrame([Row(k=i, ts=1, v=i * 10 + 1) for i in range(10, 18)]),
        stamp="gq1_b0",
    )
    t.delete(spark.createDataFrame([Row(k=19)]))
    expected = {(r["k"], r["ts"], r["v"]) for r in t.df().collect()}

    t.compact(scope="dirty")
    layers = t._layers()
    assert all(not p.name.startswith("delta-") for p in layers), "deltas consumed"
    # untouched base part-files survive byte-identical at the same paths
    survivors = {f for f in before if f.exists()}
    assert survivors, "some base files must be outside the dirty range"
    assert len(survivors) < len(before), "the overlapping file must be rewritten"
    for f in survivors:
        assert hashlib.md5(f.read_bytes()).hexdigest() == before[f]
    # values match the pre-compaction (== full-compaction) state; the
    # tombstoned key is physically gone from every surviving layer
    assert {(r["k"], r["ts"], r["v"]) for r in t.df().collect()} == expected
    raw_keys = set()
    for p in layers:
        raw_keys |= {r["k"] for r in spark.read.parquet(str(p)).collect()}
    assert 19 not in raw_keys
    # the consumed delta's stamp moved into the manifest
    assert "gq1_b0" in t.applied_stamps()
    # and a second dirty compact with no deltas is a no-op
    names = [p.name for p in t._layers()]
    t.compact(scope="dirty")
    assert [p.name for p in t._layers()] == names


def test_dirty_compaction_spares_clean_files_for_string_keys(spark, tmp_path):
    """String keys get real file-sparing dirty compaction (not the old
    full-fold fallback): this engine's parquet writer stores string chunk
    stats exact-or-absent, so footer ranges are trusted and untouched
    files survive byte-identical."""
    import hashlib

    t = KeyedTable(
        spark, str(tmp_path / "strkey_tbl"), key_col="k", ts_col="ts",
        num_partitions=4, compact_threshold=50,
    )
    t.create(spark.createDataFrame([Row(k=f"k{i:03d}", ts=0, v=i) for i in range(1000)]))
    base_dir = t._layers()[0]
    before = {
        f: hashlib.md5(f.read_bytes()).hexdigest()
        for f in sorted(base_dir.glob("*.parquet"))
    }
    t.update(spark.createDataFrame([Row(k=f"k{i:03d}", ts=1, v=-i) for i in range(10, 18)]))
    t.delete(spark.createDataFrame([Row(k="k019")]))
    expected = {(r["k"], r["v"]) for r in t.df().collect()}

    t.compact(scope="dirty")
    assert all(not p.name.startswith("delta-") for p in t._layers())
    survivors = {f for f in before if f.exists()}
    assert survivors and len(survivors) < len(before)
    for f in survivors:
        assert hashlib.md5(f.read_bytes()).hexdigest() == before[f]
    assert {(r["k"], r["v"]) for r in t.df().collect()} == expected


def test_dirty_compaction_long_string_keys_widen_max_but_stay_correct(spark, tmp_path):
    """Keys at/above the _STR_STAT_GUARD length (possible foreign-writer
    truncation territory) widen the affected file's footer max to +inf —
    conservatively dirtier, never incorrect. Exercises every _TOP
    comparison path (interval sort/merge, overlap bisect)."""
    t = KeyedTable(
        spark, str(tmp_path / "longkey_tbl"), key_col="k", ts_col="ts",
        num_partitions=2, compact_threshold=50,
    )
    pad = "x" * 80  # > _STR_STAT_GUARD chars
    t.create(
        spark.createDataFrame(
            [Row(k=f"k{i:03d}{pad}", ts=0, v=i) for i in range(20)]
        )
    )
    t.update(spark.createDataFrame([Row(k=f"k005{pad}", ts=1, v=-5)]))
    t.delete(spark.createDataFrame([Row(k=f"k007{pad}")]))
    t.compact(scope="dirty")
    got = {r["k"]: r["v"] for r in t.df().collect()}
    assert got[f"k005{pad}"] == -5
    assert f"k007{pad}" not in got and len(got) == 19
    assert all(not p.name.startswith("delta-") for p in t._layers())


def test_dirty_compaction_interval_list_spares_middle_files(spark, tmp_path):
    """Two localized batches at OPPOSITE ends of the key space must not
    dirty the base files between them: dirty-file selection is per
    delta-part-file interval, not one [min,max] envelope over the whole
    delta stack — cost tracks total delta footprint, not span."""
    import hashlib

    t = KeyedTable(
        spark, str(tmp_path / "iv_tbl"), key_col="k", ts_col="ts",
        num_partitions=8, compact_threshold=50,
    )
    t.create(spark.createDataFrame([Row(k=i, ts=0, v=i) for i in range(8000)]))
    base_dir = t._layers()[0]
    before = {
        f: hashlib.md5(f.read_bytes()).hexdigest()
        for f in sorted(base_dir.glob("*.parquet"))
    }
    assert len(before) == 8
    # one batch at the bottom of the key space, one at the top
    t.update(spark.createDataFrame([Row(k=i, ts=1, v=-i) for i in range(10, 20)]))
    t.update(
        spark.createDataFrame([Row(k=i, ts=1, v=-i) for i in range(7980, 7990)])
    )
    expected = {(r["k"], r["v"]) for r in t.df().collect()}

    t.compact(scope="dirty")
    survivors = {f for f in before if f.exists()}
    # an envelope [10, 7989] would rewrite every file; intervals spare the
    # middle six of eight
    assert len(survivors) >= 6, f"only {len(survivors)} of 8 files survived"
    for f in survivors:
        assert hashlib.md5(f.read_bytes()).hexdigest() == before[f]
    assert {(r["k"], r["v"]) for r in t.df().collect()} == expected


def test_dirty_compact_cell_delete_of_absent_keys_invents_no_rows(spark, tmp_path):
    """A lone CELLDEL delta whose keys overlap NO base part-file must still
    run the kind fold under scope='dirty': the marker rows are instructions,
    not data — passing them through verbatim would surface all-null rows
    for keys that never existed."""
    t = KeyedTable(
        spark, str(tmp_path / "cd_tbl"), key_col="k", ts_col="ts",
        num_partitions=2, compact_threshold=50,
    )
    t.create(spark.createDataFrame([Row(k=i, ts=0, v=i) for i in range(10)]))
    # cell-delete keys far outside the base key range -> zero dirty files
    t.delete(spark.createDataFrame([Row(k=500), Row(k=501)]), columns=["v"])
    t.compact(scope="dirty")
    got = {r["k"] for r in t.df().collect()}
    assert got == set(range(10)), "absent-key cell-deletes must not invent rows"
    assert all(not p.name.startswith("delta-") for p in t._layers())


def test_dirty_compact_lone_delta_dedups_in_batch_duplicates(spark, tmp_path):
    """A lone ROW delta overlapping no base file must still get within-layer
    LWW dedup under scope='dirty' — a passthrough would write both versions
    of a duplicated key into the folded base."""
    t = KeyedTable(
        spark, str(tmp_path / "dup_tbl"), key_col="k", ts_col="ts",
        num_partitions=2, compact_threshold=50,
    )
    t.create(spark.createDataFrame([Row(k=i, ts=0, v=i) for i in range(10)]))
    t.update(
        spark.createDataFrame([Row(k=500, ts=1, v=-1), Row(k=500, ts=2, v=-2)])
    )
    t.compact(scope="dirty")
    got = [r for r in t.df().where(F.col("k") == 500).collect()]
    assert len(got) == 1 and got[0]["v"] == -2 and got[0]["ts"] == 2


def test_dirty_compact_crash_before_delta_cleanup_resurrects_nothing(spark, tmp_path, monkeypatch):
    """Cleanup order is crash-safety-critical: superseded dirty base files
    go BEFORE the delta layers that tombstone them. Simulate a crash after
    the unlinks but before the delta rmtree — the deleted key must stay
    deleted (old order left the base row visible with its tombstone gone),
    and a re-run finishes the job."""
    import spark_on_hbase_spark.table as tbl

    t = KeyedTable(
        spark, str(tmp_path / "crash_tbl"), key_col="k", ts_col="ts",
        num_partitions=4, compact_threshold=50,
    )
    t.create(spark.createDataFrame([Row(k=i, ts=0, v=i) for i in range(1000)]))
    t.delete(spark.createDataFrame([Row(k=5)]))
    expected = {r["k"] for r in t.df().collect()}
    assert 5 not in expected

    real_rmtree = tbl.shutil.rmtree

    def crashing_rmtree(path, *a, **kw):
        if Path(path).name.startswith("delta-"):
            raise RuntimeError("simulated crash before delta cleanup")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(tbl.shutil, "rmtree", crashing_rmtree)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.compact(scope="dirty")
    monkeypatch.undo()

    # mid-crash state reads correctly: tombstone delta still present, the
    # superseded base file already gone -> no resurrection
    assert {r["k"] for r in t.df().collect()} == expected
    # and the interrupted compaction is re-runnable to a clean state
    t.compact(scope="dirty")
    assert {r["k"] for r in t.df().collect()} == expected
    assert all(not p.name.startswith("delta-") for p in t._layers())


def test_time_travel_past_dirty_compaction_raises(spark, tmp_path):
    """Dirty compaction unlinks part-files from old base layers, so a
    layer-prefix read predating it would be a silent PARTIAL snapshot —
    it must fail loudly instead (full compaction already does, by leaving
    no layers at the old seqs)."""
    t = KeyedTable(
        spark, str(tmp_path / "tt_tbl"), key_col="k", ts_col="ts",
        num_partitions=4, compact_threshold=50,
    )
    t.create(spark.createDataFrame([Row(k=i, ts=0, v=i) for i in range(1000)]))
    s0 = t.snapshot_seq()
    t.update(spark.createDataFrame([Row(k=i, ts=1, v=-i) for i in range(10)]))
    t.compact(scope="dirty")
    with pytest.raises(ValueError, match="dirty"):
        t.df(as_of_layer=s0)
    # current reads are unaffected, including as-of the new snapshot
    assert t.df().count() == 1000
    assert t.df(as_of_layer=t.snapshot_seq()).count() == 1000


def test_dirty_compact_retry_after_crash_mid_write_is_idempotent(
    spark, tmp_path, monkeypatch
):
    """Crash between the folded-base write and the dirty-file unlinks:
    the old base generation, the delta stack, AND the freshly-folded base
    all coexist. A retry must fold them per-layer in seq order — the old
    one-frame merge picked a nondeterministic winner between the ts-equal
    generations and re-applied the increment delta on top (counter 15
    becoming 20, review-pass finding)."""
    import pytest as _pytest

    from pyspark.sql import Row

    tbl = KeyedTable(
        spark, str(tmp_path / "t"), key_col="key", ts_col="ts",
        num_partitions=2, compact_threshold=50,
    )
    tbl.create(
        spark.createDataFrame([Row(key=k, cnt=10, ts=100) for k in range(8)])
    )
    tbl.increment(
        spark.createDataFrame([Row(key=1, delta=5, ts=200)]), counter_col="cnt"
    )

    real = KeyedTable._write_layer

    def crash_after_base_write(self, df, kind, **kw):
        n = real(self, df, kind, **kw)
        if kind == "base":
            raise RuntimeError("crash after folded-base write")
        return n

    monkeypatch.setattr(KeyedTable, "_write_layer", crash_after_base_write)
    with _pytest.raises(RuntimeError, match="crash"):
        tbl.compact(scope="dirty")
    monkeypatch.setattr(KeyedTable, "_write_layer", real)

    # the crashed state still reads correctly...
    assert {r["key"]: r["cnt"] for r in tbl.df().collect()}[1] == 15
    # ...and the RETRY converges to the same answer, exactly once
    tbl.compact(scope="dirty")
    got = {r["key"]: r["cnt"] for r in tbl.df().collect()}
    assert got[1] == 15 and all(got[k] == 10 for k in got if k != 1)


def test_dirty_compact_folds_stamped_layers_in_seq_order(spark, tmp_path, monkeypatch):
    """Layer frames must order by SEQ even when layer dirs carry stamp
    suffixes (delta-NNNNNN-<stamp>, the streaming sink's shape): a
    name-suffix sort keyed stamped layers by their stamp string, folding
    them out of order — a ts-tie then resolved to the WRONG writer, and a
    stamped-batch crash retry double-applied increments (second
    review-pass repro)."""
    from pyspark.sql import Row

    tbl = KeyedTable(
        spark, str(tmp_path / "t"), key_col="key", ts_col="ts",
        num_partitions=2, compact_threshold=50,
    )
    tbl.create(spark.createDataFrame([Row(key=k, v="A", ts=100) for k in range(4)]))
    # stamped layer first (suffix 'zz' sorts above any digit string)
    tbl.update(
        spark.createDataFrame([Row(key=1, v="B", ts=200)]), stamp="zz"
    )
    tbl.update(spark.createDataFrame([Row(key=1, v="C", ts=200)]))  # ts tie
    assert {r["key"]: r["v"] for r in tbl.df().collect()}[1] == "C"
    tbl.compact(scope="dirty")
    assert {r["key"]: r["v"] for r in tbl.df().collect()}[1] == "C", (
        "dirty compaction changed the resolved value: stamped layer folded "
        "out of seq order"
    )

    # stamped-increment crash retry stays idempotent too
    tbl2 = KeyedTable(
        spark, str(tmp_path / "t2"), key_col="key", ts_col="ts",
        num_partitions=2, compact_threshold=50,
    )
    tbl2.create(spark.createDataFrame([Row(key=k, cnt=10, ts=100) for k in range(4)]))
    tbl2.increment(
        spark.createDataFrame([Row(key=1, delta=5, ts=200)]),
        counter_col="cnt", stamp="g7",
    )
    real = KeyedTable._write_layer

    def crash_after_base_write(self, df, kind, **kw):
        n = real(self, df, kind, **kw)
        if kind == "base":
            raise RuntimeError("crash after folded-base write")
        return n

    monkeypatch.setattr(KeyedTable, "_write_layer", crash_after_base_write)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="crash"):
        tbl2.compact(scope="dirty")
    monkeypatch.setattr(KeyedTable, "_write_layer", real)
    tbl2.compact(scope="dirty")
    assert {r["key"]: r["cnt"] for r in tbl2.df().collect()}[1] == 15


# -- ROW Bloom sidecars (BloomType.ROW, HBaseAdminUtils.scala:89-100) -------


def _bloom_pair(spark, tmp_path, n=5000, nparts=4):
    """(bloomed, plain) handles over ONE on-disk table with a base + four
    full-keyspace delta layers + a tombstone batch — the layer shape where
    min/max footer stats prune nothing and only the Bloom can skip files."""
    root = str(tmp_path / "bt")
    tbl = KeyedTable(
        spark, root, key_col="k", ts_col="ts", num_partitions=nparts, bloom=True
    )
    rows = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"),
        F.lit(0).cast("int").alias("ts"),
    )
    tbl.create(rows)
    for i in range(1, 4):
        tbl.update(
            rows.where(F.col("k") % 97 == i).select(
                "k", (F.col("v") + 100 * i).alias("v"),
                F.lit(i).cast("int").alias("ts"),
            )
        )
    tbl.delete(rows.where(F.col("k") % 101 == 5).select("k"))
    plain = KeyedTable(
        spark, root, key_col="k", ts_col="ts", num_partitions=nparts, bloom=False
    )
    return tbl, plain


def test_bloom_point_read_matches_plain_across_mutation_matrix(spark, tmp_path):
    tbl, plain = _bloom_pair(spark, tmp_path)
    keys = [97 * 1 + 1, 97 * 2 + 2, 101 * 5 + 5, 500, 4999, 9_999_999]
    got = {r["k"]: r["v"] for r in tbl.point_read(keys).collect()}
    want = {r["k"]: r["v"] for r in plain.point_read(keys).collect()}
    assert got == want and 9_999_999 not in got
    # the tombstoned key must stay invisible through the bloomed path too
    assert 101 * 5 + 5 not in got


def test_bloom_prunes_files_and_absent_keys_read_nothing(spark, tmp_path):
    tbl, _ = _bloom_pair(spark, tmp_path)
    layers = tbl._visible_layers(None)
    total = sum(len(list(p.glob("*.parquet"))) for p in layers)
    cands = tbl._bloom_candidates(layers, [500, 1500])
    assert all(v is not None for v in cands.values()), "every sidecar valid"
    n_cand = sum(len(v) for v in cands.values())
    assert 0 < n_cand < total / 2, (total, n_cand)
    # negative lookup: a key provably nowhere touches NO data file at all —
    # HBase's headline bloom win
    none = tbl._bloom_candidates(layers, [77_000_001])
    assert sum(len(v) for v in none.values()) == 0
    assert tbl.point_read([77_000_001]).count() == 0


def test_bloom_never_false_negative(spark, tmp_path):
    """Every present key must be a candidate in the layer holding it —
    probed across the whole keyspace (fpp only ever ADDS candidates)."""
    tbl, plain = _bloom_pair(spark, tmp_path, n=2000)
    keys = list(range(0, 2000, 37))
    got = sorted(r["k"] for r in tbl.point_read(keys).collect())
    want = sorted(r["k"] for r in plain.point_read(keys).collect())
    assert got == want


def test_bloom_stale_sidecar_degrades_to_full_read(spark, tmp_path):
    """A layer whose file set changed under the sidecar (foreign file
    added) must be read in FULL — validity is the recorded (name, size)
    superset check, and correctness never rides on sidecar freshness."""
    import shutil as _sh

    tbl, plain = _bloom_pair(spark, tmp_path, n=1000)
    layers = tbl._visible_layers(None)
    base = layers[0]
    # clone a part-file into the layer: fingerprint no longer covers it
    part = next(base.glob("*.parquet"))
    _sh.copy(part, base / "part-foreign.parquet")
    assert tbl._bloom_meta(base) is None
    cands = tbl._bloom_candidates(layers, [500])
    assert cands[base] is None, "stale layer must fall back to full read"
    got = {r["k"]: r["v"] for r in tbl.point_read([500]).collect()}
    want = {r["k"]: r["v"] for r in plain.point_read([500]).collect()}
    assert got == want


def test_bloom_survives_dirty_compaction_without_patching(spark, tmp_path):
    """Dirty compaction unlinks part-files from old base layers; the
    subset-tolerant fingerprint keeps the SURVIVORS' sidecar valid (rows
    for dead files match no live path), and the freshly folded layer gets
    its own sidecar through _write_layer."""
    root = str(tmp_path / "dc")
    tbl = KeyedTable(
        spark, root, key_col="k", ts_col="ts", num_partitions=4, bloom=True
    )
    rows = spark.range(4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("v"), F.lit(0).cast("int").alias("ts"),
    )
    tbl.create(rows)
    # localized batch: dirties only the low-key base files
    tbl.update(
        rows.where(F.col("k") < 200).select(
            "k", (F.col("v") + 1000).alias("v"), F.lit(1).cast("int").alias("ts")
        )
    )
    tbl.compact(scope="dirty")
    layers = tbl._visible_layers(None)
    metas = {p: tbl._bloom_meta(p) for p in layers}
    assert all(m is not None for m in metas.values()), (
        "survivor + folded layers must all carry valid sidecars"
    )
    got = {r["k"]: r["v"] for r in tbl.point_read([50, 3000]).collect()}
    assert got[50] == (50 % 5) + 1000 and got[3000] == 3000 % 5


def test_bloom_lone_delta_frame_still_folds(spark, tmp_path):
    """Bloom pruning can reduce a probe to ONE delta frame; the in-batch
    duplicate-key LWW dedup and kind fold must still run (the single-frame
    passthrough is only legal for a folded base)."""
    root = str(tmp_path / "ld")
    tbl = KeyedTable(
        spark, root, key_col="k", ts_col="ts", num_partitions=2, bloom=True
    )
    tbl.create(
        spark.createDataFrame([Row(k=i, v=0, ts=0) for i in range(50)])
    )
    # key 1000 exists ONLY in this delta, twice (in-batch duplicate)
    tbl.update(
        spark.createDataFrame([Row(k=1000, v=1, ts=10), Row(k=1000, v=2, ts=20)])
    )
    out = tbl.point_read([1000]).collect()
    assert len(out) == 1 and out[0]["v"] == 2


def test_build_blooms_backfills_and_unblooms_read_identically(spark, tmp_path):
    root = str(tmp_path / "bf")
    plain = KeyedTable(spark, root, key_col="k", ts_col="ts", num_partitions=4)
    rows = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
        F.lit(0).cast("int").alias("ts"),
    )
    plain.create(rows)
    plain.update(rows.where(F.col("k") % 10 == 3).select(
        "k", (F.col("v") + 7).alias("v"), F.lit(1).cast("int").alias("ts")
    ))
    bloomed = KeyedTable(
        spark, root, key_col="k", ts_col="ts", num_partitions=4, bloom=True
    )
    layers = bloomed._visible_layers(None)
    assert all(bloomed._bloom_meta(p) is None for p in layers)
    bloomed.build_blooms()
    assert all(bloomed._bloom_meta(p) is not None for p in layers)
    keys = [3, 13, 500, 12345]
    got = {r["k"]: r["v"] for r in bloomed.point_read(keys).collect()}
    want = {r["k"]: r["v"] for r in plain.point_read(keys).collect()}
    assert got == want


def test_bloom_skips_unsupported_key_dtype(spark, tmp_path):
    """Float keys have no canonical cross-engine string cast: bloom build
    must refuse (no sidecar) and reads fall back to the plain path."""
    root = str(tmp_path / "fd")
    tbl = KeyedTable(
        spark, root, key_col="k", ts_col="ts", num_partitions=2, bloom=True
    )
    tbl.create(
        spark.createDataFrame([Row(k=float(i), v=i, ts=0) for i in range(10)])
    )
    assert not tbl._bloom_root().exists() or not any(
        tbl._bloom_root().iterdir()
    )
    assert tbl.point_read([3.0]).count() == 1


def test_bloom_build_failure_never_fails_the_write(spark, tmp_path, monkeypatch):
    """The layer commits at its rename; a sidecar-build error after that
    must not surface as a failed write — the caller would retry and
    double-apply a non-idempotent batch. The write soft-fails the bloom
    (no sidecar -> full read) and the data is intact."""
    root = str(tmp_path / "sf")
    tbl = KeyedTable(
        spark, root, key_col="k", ts_col="ts", num_partitions=2, bloom=True
    )
    tbl.create(spark.createDataFrame([Row(k=i, v=i, ts=0) for i in range(20)]))

    def boom(self, layer, rows=None):
        raise RuntimeError("sidecar build exploded")

    monkeypatch.setattr(KeyedTable, "_write_bloom", boom)
    tbl.increment(
        spark.createDataFrame([Row(k=3, delta=7, ts=10)]), counter_col="v"
    )  # must NOT raise
    monkeypatch.undo()
    layers = tbl._visible_layers(None)
    assert tbl._bloom_meta(layers[-1]) is None, "failed sidecar must be absent"
    got = {r["k"]: r["v"] for r in tbl.point_read([3, 5]).collect()}
    assert got == {3: 10, 5: 5}


def test_bloom_point_read_respects_as_of_layer(spark, tmp_path):
    """Time-travel multigets consult only the visible layer prefix's
    sidecars: a key updated in later deltas must come back at its base
    version, and keys whose only rows live in pruned-away layers behave
    exactly like the plain path."""
    tbl, plain = _bloom_pair(spark, tmp_path, n=1000)
    k_updated = 97 * 2 + 2   # moved by the ts-2 update batch
    k_deleted = 101 * 5 + 5  # tombstoned at the end
    got = {
        r["k"]: r["v"]
        for r in tbl.point_read([k_updated, k_deleted], as_of_layer=0).collect()
    }
    want = {
        r["k"]: r["v"]
        for r in plain.point_read([k_updated, k_deleted], as_of_layer=0).collect()
    }
    assert got == want
    assert got[k_updated] == k_updated % 7, "as-of read must predate the move"
    assert k_deleted in got, "tombstone is younger than the snapshot"


def test_changes_feed_types_every_mutation_kind(spark, table):
    """KeyedTable.changes — the table-native mutation feed (the reference
    ships the same stream through its Kafka proxy; the LSM layers already
    are the changelog). One batch per kind after a snapshot: the feed
    reports exactly those rows, typed, in layer-seq order, with put/
    increment rows carrying the batch's cells (not the folded state) and
    delete rows key-only."""
    snap = table.snapshot_seq()
    table.update(spark.createDataFrame([Row(key="k001", ts=200, height=9, tag="up")]))
    table.put(spark.createDataFrame([Row(key="k002", ts=300, height=77)]))
    table.increment(spark.createDataFrame([Row(key="k003", delta=5)]), counter_col="height")
    table.delete(spark.createDataFrame([Row(key="k004")]))
    table.delete(spark.createDataFrame([Row(key="k005")]), columns=["tag"])
    feed = table.changes(since_layer=snap).collect()
    by_op = {r["op"]: r for r in feed}
    assert len(feed) == 5 and set(by_op) == {
        "upsert", "put", "increment", "delete", "cell_delete",
    }
    assert [r["op"] for r in sorted(feed, key=lambda r: r["__seq"])] == [
        "upsert", "put", "increment", "delete", "cell_delete",
    ]
    assert by_op["upsert"]["height"] == 9 and by_op["upsert"]["tag"] == "up"
    assert by_op["put"]["height"] == 77 and by_op["put"]["tag"] is None
    assert by_op["increment"]["height"] == 5, "feed carries the DELTA"
    assert by_op["delete"]["key"] == "k004" and by_op["delete"]["height"] is None
    assert by_op["cell_delete"]["deleted_cells"] == "tag"
    assert all(
        r["deleted_cells"] is None for r in feed if r["op"] != "cell_delete"
    )
    # empty feed: nothing after the newest layer
    assert table.changes(since_layer=table.snapshot_seq()).count() == 0


# -- checkpoint-aware prefix compaction (compact(keep_since=...)) ------------


def _mutation_stack(spark, path, n=200):
    """A table with every mutation kind spread across two epochs, split by
    a snapshot in the middle — the prefix-compaction test bed."""
    t = KeyedTable(spark, path, key_col="k", ts_col="ts", num_partitions=4,
                   compact_threshold=100)
    t.create(
        spark.range(0, n).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("a"),
            (F.col("id") % 5).alias("b"), F.lit(10).cast("int").alias("ts"),
        )
    )
    # epoch 1 (to be folded): update + increment + delete + cell delete
    t.update(spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("a"),
        (F.col("id") % 3).alias("b"), F.lit(20).cast("int").alias("ts")))
    t.increment(spark.range(40, 80).select(
        F.col("id").alias("k"), F.lit(5).cast("bigint").alias("delta")),
        counter_col="a")
    t.delete(spark.range(80, 100).select(F.col("id").alias("k")))
    t.delete(spark.range(100, 110).select(F.col("id").alias("k")), columns=["b"])
    snap = t.snapshot_seq()
    # epoch 2 (to be retained): every kind again, overlapping epoch-1 keys
    t.update(spark.range(20, 60).select(
        F.col("id").alias("k"), (F.col("id") * 11).alias("a"),
        (F.col("id") % 7).alias("b"), F.lit(30).cast("int").alias("ts")))
    t.increment(spark.range(50, 120).select(
        F.col("id").alias("k"), F.lit(9).cast("bigint").alias("delta")),
        counter_col="a")
    t.put(spark.range(0, 15).select(
        F.col("id").alias("k"), (F.col("id") + 1000).alias("a"),
        F.lit(40).cast("int").alias("ts")))
    t.delete(spark.range(130, 140).select(F.col("id").alias("k")))
    t.delete(spark.range(105, 115).select(F.col("id").alias("k")), columns=["b"])
    return t, snap


def test_prefix_compaction_is_read_equivalent_for_every_mutation_kind(spark, tmp_path):
    t, snap = _mutation_stack(spark, str(tmp_path / "t"))
    before = {tuple(r) for r in t.df().collect()}
    before_at_snap = {tuple(r) for r in t.df(as_of_layer=snap).collect()}
    feed_before = {
        tuple(r) for r in t.changes(since_layer=snap).collect()
    }
    t.compact(keep_since=snap)
    # exactly one base (the folded prefix) + the retained epoch-2 deltas
    names = [p.name for p in t._layers()]
    assert sum(1 for n in names if n.startswith("base-")) == 1
    assert names[0].startswith(f"base-{snap:06d}")
    assert {tuple(r) for r in t.df().collect()} == before
    # the consumer checkpoint survives: snapshot read AND feed unchanged
    assert {tuple(r) for r in t.df(as_of_layer=snap).collect()} == before_at_snap
    assert {
        tuple(r) for r in t.changes(since_layer=snap).collect()
    } == feed_before


def test_prefix_compaction_folds_history_below_the_checkpoint(spark, tmp_path):
    t, snap = _mutation_stack(spark, str(tmp_path / "t"))
    t.compact(keep_since=snap)
    with pytest.raises(ValueError, match="predates"):
        t.df(as_of_layer=1)
    with pytest.raises(ValueError, match="compact"):
        t.changes(since_layer=1)
    # idempotent: a second prefix compaction at the same checkpoint no-ops
    names = [p.name for p in t._layers()]
    t.compact(keep_since=snap)
    assert [p.name for p in t._layers()] == names


def test_full_compaction_breaks_a_stale_feed_loudly_not_silently(spark, tmp_path):
    t, snap = _mutation_stack(spark, str(tmp_path / "t"))
    t.compact()  # full: folds past every checkpoint
    with pytest.raises(ValueError, match="consume the feed"):
        t.changes(since_layer=snap)


def test_prefix_compaction_preserves_consumed_stamps(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "t"), key_col="k", ts_col="ts",
                   num_partitions=2)
    t.create(spark.range(0, 10).select(
        F.col("id").alias("k"), F.col("id").alias("v"),
        F.lit(0).cast("int").alias("ts")))
    t.update(spark.range(0, 5).select(
        F.col("id").alias("k"), (F.col("id") + 100).alias("v"),
        F.lit(1).cast("int").alias("ts")), stamp="epoch1_batch")
    snap = t.snapshot_seq()
    t.update(spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") + 200).alias("v"),
        F.lit(2).cast("int").alias("ts")), stamp="epoch2_batch")
    t.compact(keep_since=snap)
    stamps = t.applied_stamps()
    assert "epoch1_batch" in stamps  # folded: preserved via the manifest
    assert "epoch2_batch" in stamps  # retained: still riding its layer


def test_prefix_compaction_crash_residue_never_double_applies(spark, tmp_path):
    """Review finding (r9): the folded base reuses the folded prefix's max
    seq, so a crash before the consumed layers' removal leaves base-{m}
    next to its already-folded delta-{m} twin. The twin (and everything
    below the base) must be invisible to reads — a re-applied increment
    would double-count — and the next prefix compaction sweeps it."""
    import shutil as _sh

    t = KeyedTable(spark, str(tmp_path / "t"), key_col="k", ts_col="ts",
                   num_partitions=2)
    t.create(spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit(0).cast("int").alias("ts")))
    t.increment(spark.range(0, 20).select(
        F.col("id").alias("k"), F.lit(50).cast("bigint").alias("delta")),
        counter_col="v")
    snap = t.snapshot_seq()
    expected = {tuple(r) for r in t.df().collect()}
    # stash the to-be-folded layers, compact, then restore them — exactly
    # the on-disk state of a crash after the base rename, before cleanup
    stash = tmp_path / "stash"
    stash.mkdir()
    for p in t._layers():
        _sh.copytree(p, stash / p.name)
    t.compact(keep_since=snap)
    for p in stash.iterdir():
        if not (tmp_path / "t" / p.name).exists():
            _sh.copytree(p, tmp_path / "t" / p.name)
    names_on_disk = sorted(
        p.name for p in (tmp_path / "t").iterdir() if p.name.startswith(("base-", "delta-"))
    )
    assert any(n.startswith("delta-") for n in names_on_disk), "residue staged"
    # reads: residue invisible, no double-applied increment
    assert {tuple(r) for r in t.df().collect()} == expected
    # the next prefix compaction sweeps the residue directories
    t.compact(keep_since=t.snapshot_seq())
    survivors = sorted(
        p.name for p in (tmp_path / "t").iterdir() if p.name.startswith(("base-", "delta-"))
    )
    assert len(survivors) == 1 and survivors[0].startswith(f"base-{snap:06d}")
    assert {tuple(r) for r in t.df().collect()} == expected


def test_semi_read_matches_fold_then_semi_join(spark, tmp_path, monkeypatch):
    """semi_read pushes the key semi-join BELOW the version fold (r11
    optimization) — pin that its result is identical to the reference
    formulation df().join(keys, key, 'semi') across every mutation kind,
    under time travel, and in the lone-base-layer passthrough case, on
    both sides of the multiget cap: at the default cap the keys go to
    point_read (a pushed In filter), at cap 0 to the semi-join."""
    from pyspark.sql import functions as F

    from spark_on_hbase_spark import plans
    from spark_on_hbase_spark.table import KeyedTable

    base = spark.range(500).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
        (F.col("id") * 10).alias("v"),
        F.lit(100).cast("int").alias("ts"),
    )
    keys = base.where("k % 3 = 0").select("k")
    for cap in (KeyedTable.POINT_READ_CAP, 0):
        monkeypatch.setattr(KeyedTable, "POINT_READ_CAP", cap)
        t = KeyedTable(spark, str(tmp_path / f"t{cap}"), key_col="k",
                       ts_col="ts", num_partitions=4)
        t.create(base)
        plan = plans.formatted_plan(t.semi_read(keys))
        assert ("In(k," in plan) == (cap > 0), plan
        assert ("BroadcastHashJoin" in plan) == (cap == 0), plan
        # lone base layer: passthrough path
        assert {tuple(r) for r in t.semi_read(keys).collect()} == {
            tuple(r)
            for r in t.df().join(keys, "k", "semi").collect()
        }
        t.update(base.where("k % 7 = 0").select(
            "k", F.lit("u").alias("name"), (F.col("v") + 5).alias("v"),
            F.lit(200).cast("int").alias("ts")))
        snap = t.snapshot_seq()
        t.put(base.where("k % 5 = 0").select(
            "k", F.lit("p").alias("name"), F.lit(300).cast("int").alias("ts")))
        t.increment(base.where("k % 2 = 0").select(
            "k", F.lit(7).cast("bigint").alias("delta")), counter_col="v")
        t.delete(base.where("k % 11 = 0").select("k"))
        t.delete(base.where("k % 13 = 0").select("k"), columns=["name"])
        got = {tuple(r) for r in t.semi_read(keys).collect()}
        want = {tuple(r) for r in t.df().join(keys, "k", "semi").collect()}
        assert got == want and got  # non-vacuous
        # time travel: prefix reads agree too
        got_snap = {
            tuple(r) for r in t.semi_read(keys, as_of_layer=snap).collect()
        }
        want_snap = {
            tuple(r)
            for r in t.df(as_of_layer=snap).join(keys, "k", "semi").collect()
        }
        assert got_snap == want_snap and got_snap != got


def test_semi_read_pushes_key_envelope_to_layer_scans(spark, tmp_path, monkeypatch):
    """Over the multiget cap (forced here: the 101 keys fit the default),
    semi_read derives the key batch's [min, max] envelope and ANDs it
    into every layer scan below the semi-join (r12): the range must reach
    the parquet scans as PushedFilters so footer stats can prune files,
    and the result must stay identical to the unpruned formulation."""
    from spark_on_hbase_spark import plans

    monkeypatch.setattr(KeyedTable, "POINT_READ_CAP", 100)

    t = KeyedTable(spark, str(tmp_path / "t"), key_col="k", ts_col="ts",
                   num_partitions=4)
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
        F.lit(100).cast("int").alias("ts"),
    )
    t.create(base)
    t.increment(
        base.where("k % 4 = 0").select("k", F.lit(5).cast("bigint").alias("delta")),
        counter_col="v",
    )
    keys = base.where("k >= 100 AND k <= 200").select("k")
    sr = t.semi_read(keys)
    plan = plans.formatted_plan(sr)
    assert "GreaterThanOrEqual(k,100)" in plan
    assert "LessThanOrEqual(k,200)" in plan
    got = {tuple(r) for r in sr.collect()}
    want = {tuple(r) for r in t.df().join(keys, "k", "semi").collect()}
    assert got == want and got
    # empty key set: schema-correct empty result, no job over the table
    empty = t.semi_read(keys.where(F.lit(False)))
    assert empty.columns == sr.columns and empty.count() == 0
