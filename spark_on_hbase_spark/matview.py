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

applied to the stored aggregate as ONE atomic multi-counter DELTA layer
(``KeyedTable.increment_many``). SUM and COUNT are self-maintainable under
insert/update/delete (the delta is computable from the changed rows alone).

MIN/MAX are NOT self-maintainable (a deleted minimum forces re-reading its
group — the classic result), so they get the textbook alternative:
recompute ONLY the groups a refresh touched. The recompute source is
pluggable: with a ``group_index`` (a ``SecondaryIndex`` on the group
column) the affected groups' current rows come from ONE multi-range index
read (``lookup_in`` — O(|groups| + result) files); without one, a single
base scan semi-joined to the affected groups (the honest degradation,
documented cost O(table) per refresh). Extreme results land as one stamped
SPARSE put, so sums and extremes are two independently-idempotent
sub-transactions — the same sub-stamp discipline the secondary index uses
for its maintenance jobs, with the same property: a crash between them
re-runs exactly the missing half on the next refresh.

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
- refresh work is idempotent: the sum-delta layer commits with the stamp
  ``mv_upto_{seq}`` and the extremes put with ``mv_upto_{seq}_x`` (data
  and applied-marker commit in one swap of the view table's log,
  ``KeyedTable._write_layer``); each half's applied horizon is recovered
  as max(meta sidecar, its stamps), so a crash anywhere re-runs exactly
  the missing work and never double-applies;
- a base compaction that folded unprocessed history away (new ``base-``
  layer after the horizon, or the time-travel guard raising) is detected
  and answered with a full rebuild — never a silent partial delta;
  ``KeyedTable.compact(keep_since=view.applied_upto())`` is the retention
  discipline that avoids the rebuild entirely;
- TTL tables are rejected: rows expire by wall clock without writing a
  layer, so no changefeed can see the retraction.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_on_hbase_spark.table import (
    HistoryFoldedError,
    KeyedTable,
    _is_numeric_dtype,
)

import os

_META = "_mv_meta.json"
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

    def _meta_path(self) -> Path:
        return Path(self.path) / _META

    def _meta_applied(self) -> int | None:
        p = self._meta_path()
        if not p.exists():
            return None
        return int(json.loads(p.read_text())["applied_upto"])

    def _write_meta(self, applied_upto: int) -> None:
        p = self._meta_path()
        tmp = p.with_suffix(".tmp")
        tmp.write_text(json.dumps({"applied_upto": int(applied_upto)}))
        tmp.replace(p)

    def _stamped_upto(self, suffix: str) -> int:
        """Highest refresh seq whose ``mv_upto_{seq}{suffix}`` stamp rides a
        committed layer — the durable truth a lost meta write can't lose."""
        best = 0
        for s in self.mv.applied_stamps():
            if not s.startswith(_STAMP_PREFIX):
                continue
            rest = s[len(_STAMP_PREFIX):]
            if suffix:
                if not rest.endswith(suffix):
                    continue
                rest = rest[: -len(suffix)]
            elif not rest.isdigit():
                continue
            if rest.isdigit():
                best = max(best, int(rest))
        return best

    def _sum_applied(self) -> int:
        meta = self._meta_applied()
        if meta is None:
            raise FileNotFoundError(f"no materialized view at {self.path}")
        return max(meta, self._stamped_upto(""))

    def _ext_applied(self) -> int:
        meta = self._meta_applied()
        if meta is None:
            raise FileNotFoundError(f"no materialized view at {self.path}")
        return max(meta, self._stamped_upto("_x"))

    def applied_upto(self) -> int:
        """The base snapshot_seq this view FULLY reflects (both the sum and
        the extremes sub-transactions) — the checkpoint to hand
        ``compact(keep_since=...)``."""
        if self.mins or self.maxs:
            return min(self._sum_applied(), self._ext_applied())
        return self._sum_applied()

    def exists(self) -> bool:
        return self._meta_path().exists() and self.mv.exists()

    # -- aggregation ---------------------------------------------------------

    def _check_exact(self) -> None:
        dtypes = dict(self.base.df().dtypes)
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

    def _contrib(self, state: DataFrame, sign: int) -> DataFrame:
        """Per-group (signed) aggregate of a key-state relation."""
        g = state.where(F.col(self.group_col).isNotNull())
        aggs = [
            F.sum(F.col(src).cast("bigint") * sign).alias(f"__dx_{out}")
            for out, src in self.sums.items()
        ]
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
        aggs.extend(self._ext_aggs())
        return g.groupBy(self.group_col).agg(*aggs).withColumn(
            "__mv_ts", F.lit(0).cast("int")
        )

    # -- lifecycle -----------------------------------------------------------

    def build(self) -> "MaterializedAgg":
        """Full (re)build: one aggregate scan of the base, then the view is
        maintained incrementally. Also the fallback when incremental
        maintenance is provably impossible (compaction folded the needed
        history away)."""
        self._check_exact()
        upto = self.base.snapshot_seq()
        if self.mv.exists():
            self.mv.drop()
        self._meta_path().unlink(missing_ok=True)
        self.mv.create(self._full_agg())
        self._write_meta(upto)
        return self

    def _changed_states(self, lo: int, hi: int):
        """(old, new, changed-keys) for the base window (lo, hi] — the
        shared read both sub-transactions derive from. old/new are folded
        key states at the window edges, restricted to the changed keys,
        from ONE two-cut ``semi_read`` (which picks the multiget or the
        semi-join)."""
        feed = self.base.changes(since_layer=lo, until_layer=hi)
        # ONE pass over the feed: the changed-key relation is materialized
        # (localCheckpoint) because every consumer downstream re-reads it —
        # the emptiness probe, the semi_read and (for MIN/MAX views) the
        # touched-group derivation. Before r11 each of those re-executed
        # the feed scan + distinct from files (guide §2.4: remove repeated
        # passes).
        changed = feed.select(self.base.key_col).distinct().localCheckpoint()
        if changed.isEmpty():
            return None, None, changed
        # both states are read at least once by the sum delta and — for
        # MIN/MAX views — a second time by the touched-group derivation.
        # Marking the O(Δ) states lazily checkpointed folds all of that
        # into ONE execution of the two-snapshot fold; before r11 the
        # minmax refresh ran the full fold up to 4x (measured 13.8s at
        # sf0.1, see OPTIMIZATION_r11.md).
        states = self.base.semi_read(changed, as_of_layer=(lo, hi)).localCheckpoint(
            eager=False
        )
        cut = F.col("__cut")
        old = states.where(cut == lo).drop("__cut")
        new = states.where(cut == hi).drop("__cut")
        return old, new, changed

    def refresh(self) -> int:
        """Apply every base mutation after the last refresh to the stored
        aggregate. Returns the number of group rows touched by the sum
        delta (0 when the view is already current, -1 when a compaction
        forced a full rebuild). O(Δ) — see the module docstring."""
        self._check_exact()
        snap_sum = self._sum_applied()
        has_ext = bool(self.mins or self.maxs)
        snap_ext = self._ext_applied() if has_ext else snap_sum
        cur = self.base.snapshot_seq()
        lo = min(snap_sum, snap_ext)
        if cur <= lo:
            self._write_meta(cur)
            return 0
        if any(
            L.kind == "base" and L.seq > lo for L in self.base._visible_layers(None)
        ):
            # a compaction folded unprocessed history: the feed no longer
            # carries the individual mutations (and deleted keys are
            # physically gone from the new base), so a delta would be wrong
            self.build()
            return -1
        try:
            touched = 0
            states: dict[int, tuple] = {}

            def window(from_seq: int):
                if from_seq not in states:
                    states[from_seq] = self._changed_states(from_seq, cur)
                return states[from_seq]

            # ---- sums + count: one stamped multi-counter delta layer ----
            stamp = f"{_STAMP_PREFIX}{cur:06d}"
            if cur > snap_sum:
                old, new, _ = window(snap_sum)
                if old is not None:
                    delta = (
                        self._contrib(new, 1)
                        .unionByName(self._contrib(old, -1))
                        .groupBy(self.group_col)
                        .agg(
                            *[
                                F.sum(f"__dx_{out}").alias(f"__d_{out}")
                                for out in self.sums
                            ],
                            F.sum("__dx_n").alias("__d_n"),
                        )
                    )
                    counters = {out: f"__d_{out}" for out in self.sums}
                    counters[self.count_col] = "__d_n"
                    touched = self.mv.increment_many(delta, counters, stamp=stamp)
            # ---- extremes: recompute the touched groups, stamped put ----
            stamp_x = f"{_STAMP_PREFIX}{cur:06d}_x"
            if has_ext and cur > snap_ext:
                old, new, _ = window(snap_ext)
                if old is not None:
                    groups = (
                        old.select(self.group_col)
                        .unionByName(new.select(self.group_col))
                        .where(F.col(self.group_col).isNotNull())
                        .distinct()
                    )
                    rows = self._group_rows(groups)
                    ext = (
                        rows.where(F.col(self.group_col).isNotNull())
                        .groupBy(self.group_col)
                        .agg(*self._ext_aggs())
                        .localCheckpoint()  # small; reused below per column
                    )
                    # a SPARSE put cannot store NULL (null = keep stored):
                    # groups whose recomputed extreme is NULL (every value
                    # cell-deleted) need an explicit cell-delete. Those
                    # land BEFORE the put; the put's stamp is the
                    # transaction's commit record (``_ext_applied``), and
                    # a replayed cell-delete whose stamp committed writes
                    # nothing (KeyedTable applies a stamp at most once).
                    for j, out in enumerate([*self.mins, *self.maxs]):
                        nulls = ext.where(F.col(out).isNull()).select(
                            self.group_col
                        )
                        if not nulls.isEmpty():
                            self.mv.delete(
                                nulls, columns=[out], stamp=f"{stamp_x}c{j}"
                            )
                    self.mv.put(
                        ext.withColumn("__mv_ts", F.lit(cur).cast("int")),
                        stamp=stamp_x,
                    )
        except HistoryFoldedError:
            # a compaction folded the snapshot a read needed (time-travel
            # horizon / feed-window guard): incremental is impossible,
            # rebuild. ONLY this type — a bare ValueError is a real bug or
            # a bad argument and must surface, not silently cost an
            # O(table) rebuild on every refresh
            self.build()
            return -1
        self._write_meta(cur)
        return touched

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
        exactly like a recomputed GROUP BY."""
        out = self.mv.df()
        return out.where(F.col(self.count_col) > 0).select(
            self.group_col, *self.sums, *self.mins, *self.maxs,
            self.count_col,
        )
