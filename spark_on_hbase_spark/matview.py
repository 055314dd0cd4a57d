"""Incrementally-maintained materialized aggregates over a KeyedTable.

The reference keeps derived summary tables next to its primary tables and
regenerates them with full batch jobs (the demo pipelines rebuild their
aggregate outputs from a complete scan each run — e.g. the graph demos'
derived count tables, examples/graph/HGraphTable.scala:144-228 recomputes
reach from the full adjacency; HBase deployments classically maintain such
rollups with coprocessor hooks on the write path). ``MaterializedAgg`` is
the Spark-native upgrade: the LSM layout already records every mutation as
an immutable, seq-ordered layer (``KeyedTable.changes``), and time travel
(``df(as_of_layer=...)``) can reproduce any key's folded state at any past
snapshot — together those give classic *incremental view maintenance*
(Gupta & Mumick, "Maintenance of Materialized Views: Problems, Techniques,
and Applications", IEEE DE Bulletin 1995) with O(Δ) work per refresh:

    delta(group) = agg(new state of changed keys)
                 − agg(old state of changed keys)

applied to the stored aggregate as increments (one per touched group,
every sum and the count in the same row) of the refresh's ONE view layer.
SUM and COUNT are self-maintainable under insert/update/delete (the delta
is computable from the changed rows alone). Each SUM also keeps the
count of its non-NULL inputs in the view state: an increment cannot store
NULL, so a group whose summed values all became NULL would read 0 where
a recomputed GROUP BY reads NULL; ``df()`` returns NULL where that count
is 0.

MIN/MAX are NOT self-maintainable (a deleted minimum forces re-reading its
group — the classic result), so they get the textbook alternative:
recompute ONLY the groups a refresh touched. The recompute source is
pluggable: with a ``group_index`` (a ``SecondaryIndex`` on the group
column) the affected groups' current rows come from ONE multi-range index
read (``lookup_in`` — O(|groups| + result) files); without one, a single
base scan semi-joined to the affected groups (the honest degradation,
documented cost O(table) per refresh). The recomputed extremes ride the
same layer as the sum deltas (``KeyedTable._mutate``): a put of each
group's recomputed extremes and a cell delete of the ones that came out
NULL (a put's NULL means "keep stored", so a NULL result needs a cell
delete, which folds after the put of its layer), and sums and extremes
commit together.

Scale posture, piece by piece:
- change detection reads ONLY the post-snapshot layers (metadata-pruned —
  the feed is O(changed rows), the table is never scanned);
- old and new states come from ONE ``KeyedTable.semi_read`` of the
  changed keys at both window edges (an ``as_of_layer`` pair: one key
  collect, one scan per layer, one fold shuffle, each row tagged with its
  snapshot): a literal multiget (footer + Bloom pruning: O(changed keys)
  files) while the key set fits the table's ``POINT_READ_CAP`` (8192), a
  broadcast semi-join below the version fold beyond it. The refresh
  stacks the per-layer IN literal under the version fold AND two signed
  aggregations: at ~94k literals the combined expression tree OOMed a
  20g driver inside Catalyst's ConstantFolding (measured at sf0.1),
  while the semi-join plan runs the same delta in seconds;
- the group-delta aggregation shuffles Δ rows, never the base;
- the apply is one appended layer: O(touched groups) rows written;
- MIN/MAX recompute is O(affected groups' rows) with a group index.
A full refresh is therefore proportional to what changed, not to the table
— at 100 TB the rollup tracks a mutation firehose without ever rescanning.

Exactness: SUM columns must be integer-typed (exact addition in any
order); MIN/MAX accept any numeric column (no accumulation — the extreme
of a set is deterministic on every engine).

Consistency + crash story:
- a build or refresh is ONE commit of the view table: its one layer and
  its stamp ``mv_upto_{seq}`` (the base snapshot it reached) land in the
  same swap of the view table's log (``KeyedTable._commit``). The view's
  applied horizon is the highest such stamp, so there is no second
  commit point: a crash before the swap leaves the view as it was and
  the next refresh redoes the whole window; a crash after it leaves a
  current view, and the next refresh finds nothing to do. ``build()``
  commits its base in place of every view layer, and its stamp in place
  of the view's stamps, in one swap, so a crash inside a build leaves the
  old view and horizon readable;
- a base compaction that folded unprocessed history away (a base layer
  inside the refresh window, or the time-travel horizon passing it) makes
  the read raise ``HistoryFoldedError``, answered with a full rebuild —
  never a silent partial delta;
  ``KeyedTable.compact(keep_since=view.applied_upto())`` is the retention
  discipline that avoids the rebuild entirely;
- a view root holding ``_mv_meta.json`` is the layout before the view
  log carried the horizon: reading its horizon raises, ``build()``
  replaces it; a view stored without the non-NULL count per SUM is
  rebuilt by the next refresh;
- TTL tables are rejected: rows expire by wall clock without writing a
  layer, so no changefeed can see the retraction.
"""

from __future__ import annotations

import contextlib
import functools
import operator
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_on_hbase_spark.table import HistoryFoldedError, KeyedTable, _is_numeric_dtype

#: a view root of the layout before the view log carried the horizon
_OLD_META = "_mv_meta.json"
_STAMP_PREFIX = "mv_upto_"

#: integer dtypes whose sums are exact and order-independent
_EXACT = {"tinyint", "smallint", "int", "bigint", "long", "integer", "short", "byte"}


class MaterializedAgg:
    """A grouped SUM/COUNT/MIN/MAX rollup of a ``KeyedTable``, stored as its
    own ``KeyedTable`` keyed by the group column: sums and the row count
    refresh incrementally from the base table's change feed; mins/maxs by
    recomputing only the touched groups (index-assisted when a
    ``group_index`` is provided).

    ``sums`` maps output column name -> base column (integer-typed);
    ``mins``/``maxs`` map output name -> base column (any numeric). The row
    count per group is always maintained as ``count_col``. Groups whose
    live row count is zero are invisible to ``df()`` (their stored row is a
    folded-to-zero counter husk, swept by ``compact()``); NULL group values
    are not aggregated (a keyed table cannot key NULL — same rule HBase has
    for row keys).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        base: KeyedTable,
        group_col: str,
        sums: dict[str, str],
        count_col: str = "n_rows",
        mins: dict[str, str] | None = None,
        maxs: dict[str, str] | None = None,
        group_index=None,
    ):
        if base.ttl is not None:
            raise ValueError(
                "materialized aggregates over TTL tables are unsupported: "
                "TTL retracts rows by wall clock without a change-feed "
                "record, so incremental maintenance would silently diverge"
            )
        if group_col == base.key_col:
            # every group is one key: the "rollup" would be the table
            raise ValueError("group_col must not be the base key column")
        self.spark = spark
        self.path = str(path)
        self.base = base
        self.group_col = group_col
        self.sums = dict(sums)
        self.mins = dict(mins or {})
        self.maxs = dict(maxs or {})
        self.count_col = count_col
        self.group_index = group_index
        if group_index is not None and group_index.cols[0] != group_col:
            raise ValueError(
                f"group_index must lead on {group_col!r} "
                f"(got {group_index.cols})"
            )
        overlap = (set(self.sums) & set(self.mins)) | (
            set(self.sums) & set(self.maxs)
        ) | (set(self.mins) & set(self.maxs))
        if overlap:
            raise ValueError(f"duplicate output column names: {sorted(overlap)}")
        self.mv = KeyedTable(
            spark,
            os.path.join(self.path, "state"),
            key_col=group_col,
            ts_col="__mv_ts",
        )

    # -- bookkeeping ---------------------------------------------------------

    def applied_upto(self) -> int:
        """The base snapshot_seq this view reflects — the checkpoint to hand
        ``compact(keep_since=...)``: the highest ``mv_upto_{seq}`` stamp in
        the view table's log, committed in the same swap as the layer that
        reached it."""
        if os.path.exists(os.path.join(self.path, _OLD_META)):
            raise RuntimeError(
                f"{self.path} holds {_OLD_META}: a view in the layout before "
                f"the view table's log carried its horizon, which has no "
                f"reader — rebuild it with build()"
            )
        stamps = self.mv.applied_stamps()
        if not stamps:
            raise FileNotFoundError(f"no materialized view at {self.path}")
        return max(int(s.removeprefix(_STAMP_PREFIX)) for s in stamps)

    def exists(self) -> bool:
        return self.mv.exists()

    # -- aggregation ---------------------------------------------------------

    def _check_exact(self) -> None:
        dtypes = self.base._schema()
        for out, src in self.sums.items():
            if src not in dtypes:
                raise ValueError(f"no such base column: {src}")
            if dtypes[src] not in _EXACT:
                raise ValueError(
                    f"sum column {src} is {dtypes[src]}: maintained sums "
                    f"must be integer-typed — float addition is partition-"
                    f"order-dependent, so an incrementally folded sum would "
                    f"drift from a recompute"
                )
        for out, src in {**self.mins, **self.maxs}.items():
            if src not in dtypes:
                raise ValueError(f"no such base column: {src}")
            if not _is_numeric_dtype(dtypes[src]):
                raise ValueError(
                    f"min/max column {src} is {dtypes[src]}: extremes are "
                    f"maintained for numeric columns"
                )

    @staticmethod
    def _nn(out: str) -> str:
        """The view column counting the non-NULL inputs of sum ``out``."""
        return f"__nn_{out}"

    def _contrib(self, state: DataFrame, sign: int) -> DataFrame:
        """Per-group (signed) aggregate of a key-state relation."""
        g = state.where(F.col(self.group_col).isNotNull())
        aggs = []
        for out, src in self.sums.items():
            aggs.append(F.sum(F.col(src).cast("bigint") * sign).alias(f"__dx_{out}"))
            aggs.append((F.count(F.col(src)) * sign).alias(f"__dx_{self._nn(out)}"))
        aggs.append(F.sum(F.lit(sign).cast("bigint")).alias("__dx_n"))
        return g.groupBy(self.group_col).agg(*aggs)

    def _ext_aggs(self) -> list:
        return [
            *[F.min(F.col(src)).alias(out) for out, src in self.mins.items()],
            *[F.max(F.col(src)).alias(out) for out, src in self.maxs.items()],
        ]

    def _full_agg(self) -> DataFrame:
        g = self.base.df().where(F.col(self.group_col).isNotNull())
        aggs = [
            F.sum(F.col(src).cast("bigint")).alias(out)
            for out, src in self.sums.items()
        ]
        aggs.append(F.count("*").alias(self.count_col))
        aggs += [
            F.count(F.col(src)).alias(self._nn(out)) for out, src in self.sums.items()
        ]
        aggs.extend(self._ext_aggs())
        return g.groupBy(self.group_col).agg(*aggs).withColumn(
            "__mv_ts", F.lit(0).cast("int")
        )

    def _delta_rows(self, old: DataFrame, new: DataFrame) -> DataFrame:
        """Increments of agg(new) − agg(old): each touched group's sum,
        non-NULL count and count deltas, groups whose deltas are all zero
        dropped."""
        counted = [*self.sums, *map(self._nn, self.sums)]
        delta = (
            self._contrib(new, 1)
            .unionByName(self._contrib(old, -1))
            .groupBy(self.group_col)
            .agg(
                *[F.sum(f"__dx_{c}").alias(c) for c in counted],
                F.sum("__dx_n").alias(self.count_col),
            )
        )
        nonzero = functools.reduce(
            operator.or_,
            [F.coalesce(F.col(c), F.lit(0)) != 0 for c in [*counted, self.count_col]],
        )
        return delta.where(nonzero)

    def _extreme_rows(self, old: DataFrame, new: DataFrame, cur: int):
        """(put, cell_delete) of the touched groups' MIN/MAX recomputed
        from their current rows: a put of the extremes (``__mv_ts =
        cur``) and a cell delete of the ones that came out NULL."""
        g = F.col(self.group_col)
        groups = (
            old.select(g).unionByName(new.select(g)).where(g.isNotNull()).distinct()
        )
        # lazily checkpointed: the put and the cell delete both derive
        # from it, and the group rows behind it are read once
        ext = (
            self._group_rows(groups)
            .where(g.isNotNull())
            .groupBy(self.group_col)
            .agg(*self._ext_aggs())
            .localCheckpoint(eager=False)
        )
        cols = [*self.mins, *self.maxs]
        return (
            ext.withColumn("__mv_ts", F.lit(cur)),
            ext.select(g, *[F.col(c).isNull().alias(c) for c in cols]),
        )

    # -- lifecycle -----------------------------------------------------------

    def build(self) -> "MaterializedAgg":
        """Full (re)build: one aggregate scan of the base, committed as the
        view table's base layer in place of every view layer, with the
        stamp of the base snapshot it read in place of the view's stamps
        (one swap: a crash before it leaves the old view readable); then
        the view is maintained incrementally. Also the fallback when
        incremental maintenance is provably impossible (compaction folded
        the needed history away), and the way to replace a view of the
        old layout."""
        self._check_exact()
        upto = self.base.snapshot_seq()
        self.mv._write_layer(
            self._full_agg(), "base", keep=[],
            stamps=[f"{_STAMP_PREFIX}{upto:06d}"],
        )
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(self.path, _OLD_META))
        return self

    def _changed_states(self, lo: int, hi: int):
        """(old, new): the folded states, at the window edges, of the keys
        the base window (lo, hi] changed — from ONE two-cut ``semi_read``
        (which picks the multiget or the semi-join). None when the window
        changed no key."""
        feed = self.base.changes(since_layer=lo, until_layer=hi)
        # ONE pass over the feed: the changed-key relation is materialized
        # (localCheckpoint) because two consumers read it — the emptiness
        # probe and the semi_read's key collect. Before r11 each of them
        # re-executed the feed scan + distinct from files (guide §2.4:
        # remove repeated passes).
        changed = feed.select(self.base.key_col).distinct().localCheckpoint()
        if changed.isEmpty():
            return None
        # both states are read by the sum delta and — for MIN/MAX views —
        # a second time by the touched-group derivation. Marking the O(Δ)
        # states lazily checkpointed folds all of that into ONE execution
        # of the two-snapshot fold; before r11 the minmax refresh ran the
        # full fold up to 4x (measured 13.8s at sf0.1, see
        # OPTIMIZATION_r11.md).
        states = self.base.semi_read(changed, as_of_layer=(lo, hi)).localCheckpoint(
            eager=False
        )
        cut = F.col("__cut")
        return states.where(cut == lo).drop("__cut"), states.where(cut == hi).drop("__cut")

    def refresh(self) -> int:
        """Apply every base mutation after the last refresh to the stored
        aggregate, as ONE view layer committed with the stamp of the base
        snapshot it reaches. Returns the number of group rows touched by
        the sum delta (0 when the view is already current or the window
        changed no key — nothing is written then — and -1 when it ran a
        full rebuild instead: a compaction folded the window's history
        away, the view has no stamp (none was built), or it stores no
        non-NULL count per SUM). O(Δ) — see the module docstring."""
        self._check_exact()
        try:
            lo, schema = self.applied_upto(), self.mv._schema()
        except FileNotFoundError:
            schema = None
        if schema is None or any(self._nn(out) not in schema for out in self.sums):
            self.build()
            return -1
        cur = self.base.snapshot_seq()
        if cur <= lo:
            return 0
        try:
            states = self._changed_states(lo, cur)
            if states is None:
                return 0
            rows = {"increment": self._delta_rows(*states)}
            if self.mins or self.maxs:
                rows["put"], rows["cell_delete"] = self._extreme_rows(*states, cur)
            return self.mv._mutate(rows, f"{_STAMP_PREFIX}{cur:06d}")["increment"]
        except HistoryFoldedError:
            # a compaction folded the history the window needs (a base
            # layer inside it, or the time-travel horizon past it):
            # incremental is impossible, rebuild. ONLY this type — a bare
            # ValueError is a real bug or a bad argument and must surface,
            # not silently cost an O(table) rebuild on every refresh
            self.build()
            return -1

    def _group_rows(self, groups: DataFrame) -> DataFrame:
        """Current base rows of the given groups — the MIN/MAX recompute
        source. With a group index: one multi-range index read
        (``lookup_in``, O(|groups| + result) files). Without: one base
        scan semi-joined to the groups (the documented degradation; at
        100 TB you keep a group index exactly so this path never runs)."""
        if self.group_index is not None:
            # bounded collect: never materialize an unbounded group list
            # on the driver just to discover it is over the literal cap
            cap = KeyedTable.POINT_READ_CAP
            vals = [r[0] for r in groups.limit(cap + 1).collect()]
            if len(vals) <= cap:
                return self.group_index.lookup_in(vals)
        return self.base.df().join(groups, self.group_col, "semi")

    def df(self) -> DataFrame:
        """The maintained aggregate: one row per group with a live row —
        groups folded to zero rows (every member deleted) are invisible,
        and a sum over no non-NULL value is NULL, exactly like a
        recomputed GROUP BY."""
        out = self.mv.df()
        return out.where(F.col(self.count_col) > 0).select(
            self.group_col,
            *[F.when(F.col(self._nn(c)) > 0, F.col(c)).alias(c) for c in self.sums],
            *self.mins, *self.maxs, self.count_col,
        )
