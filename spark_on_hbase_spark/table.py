"""KeyedTable — the engine's mutable keyed-dataset facade.

The reference's ``HBaseTable[K]`` (HBaseTable.scala:26-41) wraps a mutable
HBase table: read via ``rdd()/select``, write via
``update/put/increment/delete/bulkUpdate/bulkLoad/bulkDelete``. HBase gets its
mutation semantics from the LSM tree: writes append Put/Delete cells to the
memstore, flushes produce sorted HFiles, reads merge all files resolving by
cell timestamp, and compaction folds the layers back together.

This table re-expresses that **same LSM design on columnar storage**:

- layout: ``<path>/base-NNNNNN`` plus ordered ``<path>/delta-NNNNNN`` dirs,
  every layer range-partitioned and sorted by key (the HFile invariant;
  ``repartitionByRange + sortWithinPartitions`` is the DataFrame twin of the
  reference's HFile bulk pipeline, HBaseTable.scala:242,296-352);
- ``update``/``put``/``increment``/``delete``/``bulk_*``: every mutation
  appends ONE sorted delta layer — O(batch) write, the table is never
  rewritten (the reference's bulkUpdate intent; HBase's memstore append);
- layer row kinds (``__kind``) carry the mutation semantics to the read
  path, exactly as HBase cell types (Put / Delete / DeleteColumn /
  server-side-add) ride in HFiles:
  ROW 0    whole-row upsert (update/create/compact), last-writer-wins by ts;
  SPARSE 1 cell-level put — non-null cells overwrite, nulls mean "keep
           stored" (HBaseTable.put, HBaseTable.scala:124-155);
  DELTA 2  additive increment — non-null numeric cells ADD to the stored
           value (HBaseTable.increment, HBaseTable.scala:157-179: HBase's
           server-side atomic add, here folded at read/compaction);
  CELLDEL 3 per-cell tombstone — ``__delcols`` lists the cells nulled
           (HBase DeleteColumn);
  plus ``__tombstone`` on ROW rows for whole-row deletes (HBase Delete);
- reads: a lone base layer scans directly; every multi-layer stack,
  whatever its row kinds, resolves through ONE version fold
  (``_merge_layers_fold``): each key's versions apply in layer order by the
  per-kind rules documented there, evaluated as one shuffle + sort + window
  pass of codegen'd column expressions — the per-key version count is
  bounded by the layer count (<= compact_threshold), so the fold is O(1)
  per key at any table size;
- ``compact()``: fold all layers into a fresh base (HBase major compaction);
  triggered automatically when the delta stack exceeds ``compact_threshold``
  so read fan-in stays bounded.

At 100 TB: every mutation costs the size of the batch, not the table; reads
prune both base and deltas by key range (sorted files => zone maps);
compaction is the only table-sized job, and it is one repartitionByRange +
sort — the same single-shuffle shape as the reference's HFile load.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TOMBSTONE = "__tombstone"
_KIND = "__kind"
_DELCOLS = "__delcols"

# row kinds (see module docstring); layers without a __kind column are ROW
_ROW, _SPARSE, _DELTA, _CELLDEL = 0, 1, 2, 3
_PFXFOLD = "pfxfold"  # stamp marking a prefix-compaction base (see _layers)

_NUMERIC_TYPES = frozenset({"tinyint", "smallint", "int", "bigint", "float", "double"})


class _TopType:
    """Sorts above every key value — the +inf upper bound dirty compaction
    substitutes for a possibly-truncated string footer max (reflected
    comparisons make it work on either side of <, <=, >, >=, min, max)."""

    __slots__ = ()

    def __lt__(self, other):
        return False

    def __le__(self, other):
        return other is _TOP

    def __gt__(self, other):
        return other is not _TOP

    def __ge__(self, other):
        return True

    def __repr__(self):
        return "+inf"


_TOP = _TopType()

# idempotence-stamp charset: rides layer dir names (see _write_layer)
_STAMP_RE = re.compile(r"[A-Za-z0-9_]+")


def _in_list_pred(col_name: str, keys: list):
    """``col IN (<literals>)`` built as ONE parsed SQL expression for
    integral key lists — ``Column.isin(ks)`` costs a py4j round-trip per
    literal (seconds for thousand-key multigets, and point_read applies
    the predicate once per layer), while a single ``F.expr`` parse is
    milliseconds and yields the identical pushed In filter. Non-integral
    keys (strings etc.) fall back to ``isin``, which also covers the
    empty list (IN () is not valid SQL)."""
    import numbers

    if keys and all(
        isinstance(k, numbers.Integral) and not isinstance(k, bool) for k in keys
    ):
        return F.expr(f"`{col_name}` IN ({','.join(str(int(k)) for k in keys)})")
    return F.col(col_name).isin(keys)


class HistoryFoldedError(ValueError):
    """History a reader needs was folded away by a compaction: raised by
    the time-travel horizon guard and by ``changes()`` when a base layer
    sits inside the feed window. A ValueError subclass so callers with the
    broad contract keep working; incremental consumers (matview) catch
    THIS type to trigger their rebuild fallback — a bare ValueError (a
    real bug, a bad argument) must surface, not silently cost a rebuild
    per refresh."""


def _is_numeric_dtype(simple: str) -> bool:
    """Exact match against the additive types (plus parameterized decimal) —
    a startswith('int') gate would false-match 'interval' dtypes, where the
    delta fold's lit(0).cast can fail at analysis."""
    return simple in _NUMERIC_TYPES or simple.startswith("decimal(")


#: (SparkContext, layer path) -> full-layer DataFrame. Layer directories are
#: IMMUTABLE once renamed into place (mutations append new seq-named dirs),
#: so the DataFrame — whose file index and schema are resolved at
#: ``read.parquet`` time, ~50ms of py4j + footer listing per open — can be
#: reused for the layer's lifetime. Every read path opens every visible
#: layer, so a bench run re-opened the same directories thousands of times
#: (r11 profile). The ONLY operations that mutate or remove layer contents
#: in place (compaction unlinking dirty part-files, _replace_all_layers /
#: drop removing dirs) call ``_invalidate_layer_cache`` on the table root
#: first. Keyed by the live SparkContext object so a stop/start never
#: serves plans from a dead JVM.
_LAYER_DF_CACHE: dict = {}

# fixture builders mutate INDEPENDENT tables from a thread pool (guide
# §2.6); the lock keeps the cache's iterate-and-delete safe against a
# concurrent insert (the reads/writes themselves are GIL-atomic, but
# invalidation iterates)
_LAYER_DF_CACHE_LOCK = threading.Lock()


def _cached_layer_df(spark: SparkSession, path: str) -> DataFrame:
    key = (spark.sparkContext, path)
    with _LAYER_DF_CACHE_LOCK:
        df = _LAYER_DF_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(path)
        with _LAYER_DF_CACHE_LOCK:
            # prune entries pinned to OTHER (stopped) SparkContexts so a
            # session-restarting process never accumulates dead-JVM plan
            # handles without bound (ADVICE r11)
            for k in [k for k in _LAYER_DF_CACHE if k[0] is not key[0]]:
                del _LAYER_DF_CACHE[k]
            df = _LAYER_DF_CACHE.setdefault(key, df)
    return df


def _invalidate_layer_cache(root: str) -> None:
    """Drop every cached layer DataFrame under ``root`` — called by the
    operations that delete or rewrite layer contents in place. Matches on
    the directory boundary so a table at /data/t never invalidates a
    sibling at /data/t2 (ADVICE r11; over-invalidation only costs a
    re-open, but the coupling was silent)."""
    pref = str(root)
    with _LAYER_DF_CACHE_LOCK:
        for k in [
            k
            for k in _LAYER_DF_CACHE
            if k[1] == pref or k[1].startswith(pref + os.sep)
        ]:
            del _LAYER_DF_CACHE[k]


class KeyedTable:
    """A keyed, range-partitioned, sorted, log-structured Parquet table with
    HBase-like mutation semantics. Analog of HBaseTable (HBaseTable.scala:26-41)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str = "key",
        ts_col: str = "ts",
        num_partitions: int = 32,
        compact_threshold: int = 8,
        ttl: int | None = None,
        now_fn=None,
        bloom: bool = False,
    ):
        """``ttl``: rows whose ``ts_col`` is older than ``now - ttl`` are
        invisible to reads and physically purged by compaction — the
        reference's HBase column-family TTL (demo tables set TTL 90/360/30
        days, examples/simple/HBaseTableSimple.scala:23-30,
        examples/graph/HGraphTable.scala:23-25). ``ts_col`` must be in the
        same unit as ``now_fn()`` (default: epoch seconds via time.time) for
        TTL to be meaningful; ``now_fn`` is injectable so tests and replay
        jobs are deterministic.

        ``bloom``: maintain per-layer ROW Bloom sidecars and let
        ``point_read`` skip part-files that provably lack every probed
        key — the reference's ``BloomType.ROW`` column-family attribute
        (misc/HBaseAdminUtils.scala:89-100; the demo tables all declare
        ROW or ROWCOL blooms), realized for the LSM-on-Parquet layout.
        See the Bloom section below for the design; reads NEVER depend on
        sidecar freshness (a stale or missing sidecar only means less
        pruning). ROWCOL has no separate realization: qualifier-level
        pruning is what Parquet's columnar layout + column pruning already
        give every read."""
        self.spark = spark
        self.path = str(path)
        self.key_col = key_col
        self.ts_col = ts_col
        self.num_partitions = num_partitions
        self.compact_threshold = compact_threshold
        self.ttl = ttl
        self.bloom = bloom
        if now_fn is None:
            import time as _time

            now_fn = _time.time
        self.now_fn = now_fn

    # -- layer bookkeeping -------------------------------------------------

    def _layers(self) -> list[Path]:
        root = Path(self.path)
        if not root.exists():
            return []
        # numeric sort on the seq: layer seqs never reset across compactions,
        # so a lexical sort would order 'delta-1000000' before 'delta-999999'
        # once the {:06d} pad overflows and fold mutations out of order
        # (base always holds the lowest surviving seq, so the seq alone is a
        # sufficient key)
        layers = sorted(
            (
                p for p in root.iterdir()
                if p.name.startswith(("base-", "delta-")) and not p.name.endswith(".tmp")
            ),
            key=lambda p: int(p.name.split("-")[1]),
        )
        # crash-residue precedence: a prefix compaction writes its folded
        # base AT the folded prefix's max seq (stamped ``pfxfold`` so it is
        # distinguishable from a DIRTY-compaction base, which legitimately
        # coexists with the original base layer's surviving clean files),
        # so a crash between that rename and the removal of the consumed
        # layers leaves base-{m}-pfxfold next to the layers it folded
        # (seq <= m, including a delta-{m} twin). The stamped base is the
        # committed truth — it IS the fold of everything at or below its
        # seq — so those layers are provably consumed and must never
        # re-apply (a re-applied delta would double-count its increments).
        # Reads filter them out here; _compact_prefix sweeps the dirs.
        pfx_max = max(
            (
                int(p.name.split("-")[1])
                for p in layers
                if p.name.startswith("base-") and self._stamp_of(p) == _PFXFOLD
            ),
            default=None,
        )
        if pfx_max is None:
            return layers
        return [
            p
            for p in layers
            if int(p.name.split("-")[1]) > pfx_max
            or (p.name.startswith("base-") and int(p.name.split("-")[1]) == pfx_max)
        ]

    def _next_seq(self) -> int:
        layers = self._layers()
        return 1 + max((int(p.name.split("-")[1]) for p in layers), default=-1)

    def _write_layer(
        self, df: DataFrame, kind: str, row_kind: int | None = None,
        stamp: str | None = None, seq: int | None = None,
    ) -> int:
        """Write one sorted layer atomically (write to .tmp, rename).
        Returns rows written, observed inside the write job (A16 accumulator
        parity) — the observe node sits ABOVE the range exchange, so the
        sampling pass repartitionByRange runs to pick bounds does not
        double-count.

        ``row_kind`` stamps a __kind column (sparse put / additive delta /
        cell delete / ROW tombstones); plain upsert layers omit it and the
        fold reads a missing __kind as ROW.

        ``stamp``: an idempotence token recorded IN the layer directory name
        (``<kind>-<seq>-<stamp>``), so data and applied-marker commit in the
        same atomic rename — there is no crash window between them. Used by
        the streaming replay guards (streaming/ingest.py); query via
        ``applied_stamps()``. Compaction preserves consumed stamps in the
        ``_applied_stamps`` manifest (see ``_replace_all_layers``)."""
        if stamp is not None and not _STAMP_RE.fullmatch(stamp):
            raise ValueError(
                f"layer stamp must match [A-Za-z0-9_]+ (got {stamp!r}): the "
                f"stamp rides the directory name, so separators would break "
                f"seq parsing and suffix handling"
            )
        # ``seq``: explicit layer sequence — ONLY for prefix compaction,
        # whose folded base must order before the retained deltas (the
        # folded prefix's max seq is free: that layer is being replaced)
        n_seq = self._next_seq() if seq is None else seq
        name = f"{kind}-{n_seq:06d}" + (f"-{stamp}" if stamp else "")
        target = Path(self.path) / name
        tmp = target.with_suffix(".tmp")
        if _TOMBSTONE not in df.columns:
            df = df.withColumn(_TOMBSTONE, F.lit(False))
        if row_kind is not None and _KIND not in df.columns:
            df = df.withColumn(_KIND, F.lit(row_kind).cast("int"))
        if row_kind == _CELLDEL and _DELCOLS not in df.columns:
            raise ValueError("CELLDEL layers need a __delcols column")
        out = df.repartitionByRange(
            self.num_partitions, F.col(self.key_col)
        ).sortWithinPartitions(self.key_col)
        out, obs = _observed_count(out)
        out.write.mode("overwrite").parquet(str(tmp))
        tmp.rename(target)
        # a layer path can be REUSED within a session: kernels rmtree a
        # session-scoped table root directly (not via drop()) and recreate
        # it, so base-000000 comes back with new part-files — evict any
        # cached DataFrame pinned to the old files at this path
        _invalidate_layer_cache(str(target))
        n = int(obs.get["n"])
        if self.bloom:
            # SOFT-fail: the layer committed at the rename above, so a
            # sidecar-build error must not surface as a failed write — the
            # caller would retry and double-apply a non-idempotent batch
            # (increments). A missing sidecar only costs pruning.
            try:
                self._write_bloom(target, n)
            except Exception:  # noqa: BLE001 — bloom is an optimization
                self._drop_bloom(target)
        return n

    def _stamp_of(self, layer: Path) -> str | None:
        parts = layer.name.split("-", 2)
        return parts[2] if len(parts) == 3 else None

    def applied_stamps(self) -> set[str]:
        """All idempotence stamps this table has durably applied: stamps
        riding live layer names plus stamps preserved in the
        ``_applied_stamps`` manifest when compaction folded their layers
        away. The streaming replay guards treat membership here as 'this
        batch already committed'."""
        stamps = {s for p in self._layers() if (s := self._stamp_of(p))}
        manifest = Path(self.path) / "_applied_stamps"
        if manifest.exists():
            stamps.update(p.name for p in manifest.iterdir())
        return stamps

    def _replace_all_layers(self, df: DataFrame) -> None:
        """Materialize ``df`` as the sole base layer and drop every old
        layer (major compaction / eager rewrite). Idempotence stamps riding
        the dropped layer names are preserved in the ``_applied_stamps``
        manifest FIRST — the folded base carries their data, so forgetting
        the stamps would let a post-compaction replay double-apply."""
        df = df.localCheckpoint()  # sever lineage from the files being removed
        old = self._layers()
        self._persist_stamps(old)
        self._write_layer(df, "base")
        # invalidate BEFORE the destructive removals: a crash between an
        # rmtree and a trailing invalidation would leave cached DataFrames
        # whose file listings point at dead files (caught by the dirty-
        # compaction crash test); dropping the cache early only costs a
        # re-open
        _invalidate_layer_cache(self.path)
        for p in old:
            shutil.rmtree(p, ignore_errors=True)
            self._drop_bloom(p)

    def _persist_stamps(self, layers: list[Path]) -> None:
        stamps = [s for p in layers if (s := self._stamp_of(p))]
        if not stamps:
            return
        manifest = Path(self.path) / "_applied_stamps"
        manifest.mkdir(parents=True, exist_ok=True)
        for s in stamps:
            (manifest / s).touch()

    # -- DDL (S16, HBaseAdminUtils.scala:86-214) ---------------------------

    def exists(self) -> bool:
        return bool(self._layers())

    def create(self, df: DataFrame) -> "KeyedTable":
        """Create the table from an initial DataFrame (pre-split into
        ``num_partitions`` sorted ranges, like the reference's pre-split
        regions, HBaseAdminUtils.scala:118). Creating over an EXISTING
        table raises (HBase's TableExistsException): a silent second base
        layer would union two generations of data — use ``update`` to
        merge or ``drop`` first to replace."""
        if self.exists():
            raise FileExistsError(f"table already exists at {self.path}")
        Path(self.path).mkdir(parents=True, exist_ok=True)
        self._write_layer(df, "base")
        return self

    def drop(self) -> None:
        # invalidate first: crash-mid-rmtree must not leave cached plans
        # over partially-deleted layer dirs
        _invalidate_layer_cache(self.path)
        shutil.rmtree(self.path, ignore_errors=True)

    def copy(self, dest: "KeyedTable") -> None:
        """S12 — scan source, re-partition to destination layout, write
        (HBaseAdminUtils.copy, misc/HBaseAdminUtils.scala:146-176)."""
        Path(dest.path).mkdir(parents=True, exist_ok=True)
        dest._replace_all_layers(self.df())

    def add_column(self, name: str, default=None, dtype: str = "string") -> None:
        """S16 — ALTER TABLE ADD column with a default (HBaseAdminUtils.
        updateSchema, misc/HBaseAdminUtils.scala:105-143). Compacts so every
        layer shares the new schema. ADD means ADD: a name that already
        exists raises — withColumn would silently OVERWRITE every stored
        value with the default."""
        current = self.df()
        if name in current.columns:
            raise ValueError(
                f"add_column: column {name!r} already exists (adding it would "
                f"overwrite stored values with the default)"
            )
        self._replace_all_layers(current.withColumn(name, F.lit(default).cast(dtype)))

    def drop_column(self, name: str) -> None:
        """S16 — ALTER TABLE DROP column (HBaseAdminUtils.dropColumnIfExists,
        misc/HBaseAdminUtils.scala:178-214): dropping a column that does not
        exist is a no-op, per the reference's IfExists contract — but the
        key and timestamp columns are structural and refuse to go."""
        if name in (self.key_col, self.ts_col):
            raise ValueError(
                f"drop_column: {name!r} is the table's "
                f"{'key' if name == self.key_col else 'timestamp'} column"
            )
        self._replace_all_layers(self.df().drop(name))

    # -- scan / select (S2/S3) ---------------------------------------------

    def snapshot_seq(self) -> int:
        """Current highest layer sequence — capture it before further
        mutations to time-travel back later with ``df(as_of_layer=...)``."""
        layers = self._layers()
        if not layers:
            raise FileNotFoundError(f"no table at {self.path}")
        return max(int(p.name.split("-")[1]) for p in layers)

    def df(self, as_of_layer: int | None = None) -> DataFrame:
        """Full typed scan — HBaseTable.rdd() (HBaseTable.scala:55-65): merge
        base ∪ deltas with last-writer-wins-by-(ts, layer) resolution and
        tombstone filtering — HBase's read path over HFiles. Catalyst column
        pruning / predicate pushdown apply per layer underneath the merge.

        ``as_of_layer``: read only layers with seq <= the given value — the
        LSM's free time travel (every mutation is an immutable layer, so any
        historical state is a layer-prefix read; pair with ``snapshot_seq``).
        Compaction folds history away, so travel reaches back to the last
        compact — bound the horizon with ``compact_threshold``.

        With ``ttl`` set, rows whose resolved ``ts_col`` is older than
        ``now_fn() - ttl`` are filtered (and physically dropped at the next
        compaction, which rewrites only what this scan returns)."""
        return self._layer_frames(None, as_of_layer)

    def _resolve(self, frames: list[DataFrame], force_fold: bool = False) -> DataFrame:
        """Merge ordered layer frames into the visible-row relation: LWW /
        kind fold, tombstone removal, TTL filter. Shared by ``df()`` and
        the range-scoped compaction (which folds only the dirty slice).

        The single-frame passthrough is legal ONLY when the frame is a
        folded base layer (unique keys, ROW kind) — the df() path, where a
        lone layer is always the base. A lone DELTA layer must still fold:
        its __kind markers are instructions, not rows (a CELLDEL frame
        passed through verbatim would surface its all-null marker rows as
        live data), and a ROW delta may carry in-batch duplicate keys that
        need the within-layer LWW dedup. Callers that can hand over a bare
        delta (``_compact_dirty``) pass ``force_fold=True``; the _KIND
        check below catches kind-stamped frames on every path."""
        if len(frames) == 1 and not force_fold and _KIND not in frames[0].columns:
            merged = frames[0]
            if _TOMBSTONE in merged.columns:
                # a prefix-compaction base keeps its tombstone rows
                merged = merged.where(~F.col(_TOMBSTONE)).drop(_TOMBSTONE)
        else:
            merged = _merge_layers_fold(frames, self.key_col, self.ts_col)
        if self.ttl is not None:
            cutoff = self.now_fn() - self.ttl
            merged = merged.where(
                F.col(self.ts_col).isNull() | (F.col(self.ts_col) >= F.lit(cutoff))
            )
        return merged

    def select(self, *columns: str) -> DataFrame:
        """F1 semantics — see operators/scan.py:select_required."""
        from spark_on_hbase_spark.operators.scan import select_required

        return select_required(self.df(), *columns)

    def _visible_layers(self, as_of_layer: int | None) -> list[Path]:
        """Layers a read at ``as_of_layer`` may touch (all of them for
        None), with the dirty-compaction horizon guard."""
        layers = self._layers()
        if as_of_layer is not None:
            # dirty compaction unlinks individual part-files from old base
            # layers, so any layer-prefix read predating it would be a
            # PARTIAL snapshot (the surviving files of a mutilated layer) —
            # fail loudly, like full compaction does when history folds away
            horizon = Path(self.path) / "_history_horizon"
            if horizon.exists() and as_of_layer < int(horizon.read_text()):
                raise HistoryFoldedError(
                    f"as_of_layer={as_of_layer} predates the last dirty "
                    f"compaction (horizon {horizon.read_text()}): the "
                    f"compaction rewrote part of that snapshot's base "
                    f"layer, so the historical state is no longer readable"
                )
            layers = [p for p in layers if int(p.name.split("-")[1]) <= as_of_layer]
        if not layers:
            raise FileNotFoundError(f"no table at {self.path}")
        return layers

    def _layer_frames(self, pred, as_of_layer: int | None) -> DataFrame:
        """Layer frames with a KEY-DETERMINED predicate applied per layer
        BEFORE the merge, resolved into the visible-row relation. Shared by
        point_read / range_read (df() is the pred=None case): the caller
        guarantees the predicate has the same truth value for every version
        of a key (key IN-lists, key ranges), so per-layer filtering keeps
        each surviving key's full history — including tombstones, which
        carry the key."""
        layers = self._visible_layers(as_of_layer)
        frames = [_cached_layer_df(self.spark, str(p)) for p in layers]
        if pred is not None:
            frames = [f.where(pred) for f in frames]
        return self._resolve(frames)

    def point_read(self, keys: list, as_of_layer: int | None = None) -> DataFrame:
        """Multi-get: the merged view restricted to the given key LITERALS
        (HBase's Get/multiget — HBaseTable.scala's point-read path, the op
        the whole sorted-key layout exists to serve). The IN predicate is
        applied per layer BEFORE the merge, so it reaches every layer's
        parquet scan as a PushedFilters In(...) and the sorted layout's
        footer min/max stats prune to the few files covering the probed
        keys — at 100 TB this reads O(keys) files, never the table.

        Per-key correctness is preserved because every merge rule (LWW,
        version fold, tombstones) partitions by key: keeping ALL layers'
        rows for the probed keys keeps each probed key's full history.
        Callers whose key set is a relation (unbounded, or not known to the
        driver) should call ``semi_read``, which picks this path when the
        set fits ``POINT_READ_CAP``.

        With ``bloom=True`` (BloomType.ROW — see the Bloom section) the
        probe first consults each layer's sidecar: min/max footer stats
        prune nothing once several delta layers each span the keyspace,
        but the Bloom proves most of their files key-free, so the multiget
        reads only the files that MAY hold a probed key — HBase's reason
        for per-HFile blooms, and the negative-lookup fast path (a get of
        an absent key touches no data file at all). Layers whose sidecar
        is missing or stale read in full; the result is identical either
        way (pinned by tests/test_table.py)."""
        pred = _in_list_pred(self.key_col, keys)
        if self.bloom and keys:
            layers = self._visible_layers(as_of_layer)
            cands = self._bloom_candidates(layers, keys)
            if any(v is not None for v in cands.values()):
                frames = []
                for p in layers:
                    c = cands[p]
                    if c is None:
                        frames.append(_cached_layer_df(self.spark, str(p)).where(pred))
                    elif c:
                        frames.append(self.spark.read.parquet(*c).where(pred))
                if not frames:
                    # every layer provably key-free: schema-correct empty
                    return self._layer_frames(pred, as_of_layer).where(
                        F.lit(False)
                    )
                # force_fold: bloom pruning can leave a LONE DELTA frame,
                # whose kind markers / in-batch duplicates must still fold
                # (the single-frame passthrough is only legal for a base)
                return self._resolve(frames, force_fold=True)
        return self._layer_frames(pred, as_of_layer)

    # Largest key set ``semi_read`` hands to ``point_read`` as a literal IN
    # list. The literal plan's Catalyst cost grows with the list at ANY
    # table size: at 15k keys the IN-list read measured 5.8-7.6 s against
    # 2.2-3.4 s for the semi-join on the same batch (OPTIMIZATION_r11.md),
    # and at ~94k literals the stacked expression tree OOMed a 20g driver.
    # 8192 keeps point-like probes on the pruned multiget and hands bulk
    # key sets to the semi-join.
    POINT_READ_CAP = 8192

    def semi_read(self, keys: DataFrame, as_of_layer: int | None = None) -> DataFrame:
        """Merged view restricted to the keys PRESENT IN ``keys`` — the
        one keyed read for a key set given as a relation, identical to
        ``df(...).join(keys, key, 'semi')``. It collects at most
        ``POINT_READ_CAP + 1`` distinct keys in one bounded job and picks
        the read from the count:

        - at or under the cap: ``point_read`` of the collected keys — a
          literal IN list that reaches every layer's parquet scan, where
          footer stats and Bloom sidecars prune to the files holding them;
        - over the cap: a broadcast semi-join applied per layer BEFORE the
          merge. A key-membership predicate has the same truth value for
          every version of a key (``_layer_frames``'s contract —
          tombstones carry the key), so each surviving key keeps its full
          history and the version fold processes O(|keys| * versions)
          rows instead of the whole table. The key set's ENVELOPE
          [min, max] is ANDed into every layer scan before the semi-join
          (r12): a key-range predicate reaches the parquet scan as
          PushedFilters, so a localized batch reads only the file run
          covering it; a spread-out batch prunes nothing and costs one
          extra small aggregation.

        Either way the key set is resolved when ``semi_read`` is called."""
        distinct = keys.select(self.key_col).distinct()
        head = [r[0] for r in distinct.limit(self.POINT_READ_CAP + 1).collect()]
        if len(head) <= self.POINT_READ_CAP:
            return self.point_read(head, as_of_layer)
        kd = distinct.localCheckpoint(eager=False)
        lo, hi = kd.agg(F.min(self.key_col), F.max(self.key_col)).first()
        layers = self._visible_layers(as_of_layer)
        k = F.col(self.key_col)
        pred = (k >= F.lit(lo)) & (k <= F.lit(hi))
        kb = F.broadcast(kd)
        frames = [
            _cached_layer_df(self.spark, str(p))
            .where(pred)
            .join(kb, self.key_col, "left_semi")
            for p in layers
        ]
        # a lone visible layer is always the base (folded, unique keys) —
        # the semi-join preserves that, so the passthrough stays legal
        return self._resolve(frames)

    def range_read(self, lower, upper, as_of_layer: int | None = None) -> DataFrame:
        """Key-range scan: the merged view restricted to keys in
        ``[lower, upper]`` (inclusive; pass Columns or literals) — HBase's
        Scan(startRow, stopRow) over the sorted layout. Like ``point_read``,
        the bounds are applied per layer BEFORE the merge, so they reach
        every layer's parquet scan and the sorted files' footer min/max
        stats prune to the contiguous file run covering the range — per-key
        correctness is preserved because a KEY predicate keeps each
        surviving key's full history (tombstones included: tombstone rows
        carry the key)."""
        k = F.col(self.key_col)
        return self._layer_frames((k >= lower) & (k <= upper), as_of_layer)

    def changes(
        self, since_layer: int = 0, until_layer: int | None = None
    ) -> DataFrame:
        """Change-data feed: every mutation ROW recorded in layers with
        ``since_layer < seq <= until_layer``, typed by operation — the
        table-native form of the reference's mutation shipping
        (misc/KafkaProxy.scala:12-33 pipes an HBase mutation topic into a
        socket DStream; HBase itself ships the same stream as WAL
        replication). No broker exists in this environment, but the LSM
        layout already IS the changelog: every mutation landed as one
        immutable, seq-ordered layer, so the feed is a pure metadata-pruned
        read — O(changed layers), the table itself is never scanned.

        Output: the table's columns plus ``__seq`` (the layer that carried
        the change — replay in ``__seq`` order reproduces the table's fold
        exactly), ``op`` ('upsert' | 'put' | 'increment' | 'delete' |
        'cell_delete' — the five mutation kinds, HBase's Put / partial Put /
        server-side-add / Delete / DeleteColumn), and ``deleted_cells``
        (comma-joined cell names for cell_delete, else NULL). Semantics per
        op mirror the write path: 'put' rows carry NULL for cells the batch
        did not touch ("keep stored"), 'increment' rows carry the DELTA in
        the counter column (not the folded result — consumers fold, exactly
        like the read path), 'delete' rows are key-only. Pair with
        ``snapshot_seq()``: ``changes(since_layer=snap)`` is everything
        applied after the snapshot, exactly once, never reordered within a
        key (layer seq is the order). Compaction folds history away, so a
        feed must be consumed before its layers compact — same horizon
        contract as time travel (``_visible_layers`` raises past a dirty
        compaction; a fully-compacted range simply has no delta layers
        left to report)."""
        layers = [
            p
            for p in self._visible_layers(until_layer)
            if int(p.name.split("-")[1]) > since_layer
        ]
        for p in layers:
            if p.name.startswith("base-"):
                # a base layer inside the feed window means a compaction
                # folded the individual mutations (and physically removed
                # deleted keys) — a feed from here would silently misreport
                # history as one giant upsert. Fail loudly; the fix is
                # compact(keep_since=<consumer checkpoint>), which folds
                # only up to the slowest consumer's offset.
                raise HistoryFoldedError(
                    f"changes(since_layer={since_layer}) predates a "
                    f"compaction ({p.name} folded the mutation history "
                    f"away): consume the feed before compacting, or use "
                    f"compact(keep_since=...) to retain the consumer's "
                    f"suffix"
                )
        frames = []
        for p in layers:
            seq = int(p.name.split("-")[1])
            f = _cached_layer_df(self.spark, str(p))
            if _KIND in f.columns:
                op = (
                    F.when(F.col(_KIND) == _SPARSE, F.lit("put"))
                    .when(F.col(_KIND) == _DELTA, F.lit("increment"))
                    .when(F.col(_KIND) == _CELLDEL, F.lit("cell_delete"))
                    .when(F.col(_TOMBSTONE), F.lit("delete"))
                    .otherwise(F.lit("upsert"))
                )
            else:
                op = F.when(F.col(_TOMBSTONE), F.lit("delete")).otherwise(
                    F.lit("upsert")
                )
            f = f.withColumn("op", op).withColumn(
                "__seq", F.lit(seq).cast("bigint")
            )
            f = f.withColumn(
                "deleted_cells",
                F.array_join(F.col(_DELCOLS), ",")
                if _DELCOLS in f.columns
                else F.lit(None).cast("string"),
            )
            for meta in (_KIND, _DELCOLS, _TOMBSTONE):
                if meta in f.columns:
                    f = f.drop(meta)
            frames.append(f)
        if not frames:
            # empty feed with the full feed schema (table cols + feed cols)
            base = self.df().where(F.lit(False))
            return base.select(
                "*",
                F.lit(None).cast("string").alias("op"),
                F.lit(None).cast("bigint").alias("__seq"),
                F.lit(None).cast("string").alias("deleted_cells"),
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    # -- ROW Bloom sidecars (BloomType.ROW) ---------------------------------
    #
    # HBase keeps a Bloom filter per HFile because every Get must consult
    # every store file: min/max key ranges prune nothing once several delta
    # layers each span the keyspace, but a 10-bits/key Bloom proves most of
    # them key-free. The reference declares exactly this on its column
    # families (BloomType.ROW/ROWCOL, misc/HBaseAdminUtils.scala:89-100,
    # examples/*:23-30); here it becomes a per-layer Parquet SIDECAR
    # relation (file, word, bits) under <table>/_bloom/<layer>:
    #
    # - BLOCKED Bloom (Putze/Sanders/Singler 2007, public): each key sets
    #   K=4 bits inside ONE 64-bit word chosen by md5(key) over a layer-wide
    #   word space (nwords ~ rows*10/64), so both the build and the probe
    #   touch a single word per key, and a probe is a plain equi-JOIN on
    #   `word` — no driver-side bitmaps, no UDFs, every expression
    #   whole-stage-codegen'd.
    # - The sidecar is written SORTED BY word, so a point read's probe
    #   pushes an In(word) filter whose footer stats prune the sidecar scan
    #   to O(probe) row groups: consulting the Bloom costs O(keys), never
    #   O(table), which is what lets it stand in front of a 100 TB layout.
    # - Correctness NEVER depends on the sidecar: a probe only ever SHRINKS
    #   the file set a point read scans, and a layer whose sidecar is
    #   missing or stale is simply read in full. Validity is a fingerprint
    #   check — every part-file currently in the layer must appear in the
    #   sidecar's recorded (name, size) map. The rule is subset-tolerant on
    #   purpose: dirty compaction UNLINKS part-files from old base layers
    #   without touching the survivors, and the survivors' Bloom rows stay
    #   exactly right (rows for dead files match no existing path), so the
    #   O(delta) compaction contract holds with zero sidecar patching. Any
    #   path that ADDS files writes a fresh layer through _write_layer,
    #   which rebuilds the sidecar when blooms are on.

    _BLOOM_BITS_PER_KEY = 10
    _BLOOM_K = 4
    # sidecar format: 2 = part-file BASENAMES in `file` (rename-relocatable).
    # _bloom_meta requires an exact match, so a sidecar written by an older
    # format (absolute URIs, whose existence check would silently drop every
    # candidate = FALSE NEGATIVES) degrades to a full read instead.
    _BLOOM_FMT = 2
    _BLOOM_DTYPES = frozenset(
        {"tinyint", "smallint", "int", "bigint", "string"}
    )

    def _bloom_root(self) -> Path:
        return Path(self.path) / "_bloom"

    def _drop_bloom(self, layer: Path) -> None:
        """Remove a dropped layer's sidecar (pure hygiene — a sidecar whose
        layer is gone can never be consulted)."""
        shutil.rmtree(self._bloom_root() / layer.name, ignore_errors=True)
        (self._bloom_root() / f"{layer.name}.json").unlink(missing_ok=True)

    def _bloom_cols(self, key_expr: str, nwords: int) -> list:
        """(word, mask) Column expressions for one key — shared verbatim by
        the sidecar build and the probe, so the two sides can never drift.
        md5 gives 30 hex digits of entropy split into a word selector and
        four 6-bit in-word bit selectors; everything stays in non-negative
        int64 (15 hex digits < 2^60)."""
        h = f"md5(CAST({key_expr} AS STRING))"
        h2 = f"CAST(conv(substring({h}, 17, 15), 16, 10) AS BIGINT)"
        mask = " | ".join(
            f"shiftleft(1L, CAST(({h2} div {64 ** i}) % 64 AS INT))"
            for i in range(self._BLOOM_K)
        )
        return [
            F.expr(
                f"CAST(pmod(CAST(conv(substring({h}, 1, 15), 16, 10) AS BIGINT),"
                f" {nwords}) AS BIGINT)"
            ).alias("__bword"),
            F.expr(mask).alias("__bmask"),
        ]

    def _write_bloom(self, layer: Path, rows: int | None = None) -> None:
        """Build the layer's Bloom sidecar: one distributed pass over the
        layer's key column grouped by (part-file, word) with a bit_or
        combine — O(layer) at write time, the same moment the layer itself
        was just paid for. Skipped for key dtypes whose string cast is not
        canonical across engines and probes (float/decimal/binary)."""
        import json

        import pyarrow.parquet as pq

        if self._schema().get(self.key_col) not in self._BLOOM_DTYPES:
            return
        files = sorted(p for p in layer.glob("*.parquet"))
        if rows is None:
            rows = sum(pq.read_metadata(str(f)).num_rows for f in files)
        nwords = max(64, (rows * self._BLOOM_BITS_PER_KEY + 63) // 64)
        # store the part-file's BASENAME, never its absolute path: the
        # sidecar must survive a rename of the whole table directory
        # (cross-session fixtures publish via staging-dir rename — an
        # absolute path would point at the dead staging root and silently
        # prune every probe to zero files)
        src = self.spark.read.parquet(str(layer)).select(
            F.substring_index(F.col("_metadata.file_path"), "/", -1).alias(
                "__bfile"
            ),
            *self._bloom_cols(f"`{self.key_col}`", nwords),
        )
        side = (
            src.groupBy("__bfile", "__bword")
            .agg(F.bit_or("__bmask").alias("bits"))
            .select(
                F.col("__bword").alias("word"),
                F.col("__bfile").alias("file"),
                "bits",
            )
            .repartitionByRange(max(1, self.num_partitions // 4), "word")
            .sortWithinPartitions("word")
        )
        root = self._bloom_root()
        root.mkdir(parents=True, exist_ok=True)
        target = root / layer.name
        tmp = target.with_suffix(".tmp")
        side.write.mode("overwrite").parquet(str(tmp))
        # a backfill may rewrite an existing sidecar in place; drop any
        # cached plan handle for it before the swap (r12 — sidecar frames
        # now ride the layer-DF cache)
        _invalidate_layer_cache(str(target))
        shutil.rmtree(target, ignore_errors=True)
        tmp.rename(target)
        meta = {
            "fmt": self._BLOOM_FMT,
            "nwords": nwords,
            "k": self._BLOOM_K,
            "files": {f.name: f.stat().st_size for f in files},
        }
        mtmp = root / f"{layer.name}.json.tmp"
        with open(mtmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(mtmp, root / f"{layer.name}.json")

    def build_blooms(self) -> None:
        """Backfill sidecars for every layer that lacks a valid one —
        opt-in migration path for tables created before blooms were
        switched on (row counts come from parquet footers, metadata-only)."""
        for layer in self._layers():
            if self._bloom_meta(layer) is None:
                self._write_bloom(layer)

    def _bloom_meta(self, layer: Path) -> dict | None:
        """The layer's sidecar meta iff it is VALID: sidecar + meta exist
        and every part-file currently in the layer appears in the recorded
        (name, size) map. Subset-tolerant — see the section comment."""
        import json

        root = self._bloom_root()
        meta_p = root / f"{layer.name}.json"
        if not meta_p.exists() or not (root / layer.name).exists():
            return None
        try:
            meta = json.loads(meta_p.read_text())
        except (OSError, ValueError):
            return None
        recorded = meta.get("files", {})
        if (
            meta.get("fmt") != self._BLOOM_FMT
            or meta.get("k") != self._BLOOM_K
            or not isinstance(meta.get("nwords"), int)
        ):
            return None
        for f in layer.glob("*.parquet"):
            if recorded.get(f.name) != f.stat().st_size:
                return None
        return meta

    def _bloom_candidates(self, layers: list[Path], keys: list):
        """Per-layer candidate part-file paths from the Bloom sidecars, or
        None for a layer without a valid sidecar (read it in full). ONE
        probe job for every layer (r12; guide §1.2/§2.6): word indices are
        nwords-relative, so the probe keys become (word, mask) rows through
        the SAME expressions the build used once per distinct nwords, each
        group's broadcast-join hits are unioned, and a single collect
        returns every candidate — a multi-layer mixed-size table used to
        pay one 0.5s driver round trip PER distinct sidecar size (4 of
        bloom_point_read's ~5s). Sidecar frames come from the layer-DF
        cache (plan handles; the sidecars live under the table root, so
        the destructive-op invalidation already covers them). A file is a
        candidate iff some probed key's whole mask is present in its word
        — `bits & mask = mask`; absent (file, word) rows mean bits=0,
        i.e. provably key-free."""
        metas = {p: self._bloom_meta(p) for p in layers}
        out: dict[Path, list[str] | None] = {
            p: None for p, m in metas.items() if m is None
        }
        by_nwords: dict[int, list[Path]] = {}
        for p, m in metas.items():
            if m is not None:
                by_nwords.setdefault(m["nwords"], []).append(p)
                out[p] = []  # provisional: no candidate files
        if not by_nwords:
            return out
        kdtype = self._schema()[self.key_col]
        base_probe = self.spark.createDataFrame(
            [(k,) for k in keys], f"`{self.key_col}` {kdtype}"
        )
        all_hits = None
        for nwords, group in by_nwords.items():
            probe = base_probe.select(
                *self._bloom_cols(f"`{self.key_col}`", nwords)
            )
            # sidecars store part-file BASENAMES (rename-relocatable), so
            # each sidecar frame is tagged with its layer name here
            side = None
            for p in group:
                f = _cached_layer_df(
                    self.spark, str(self._bloom_root() / p.name)
                ).withColumn("__blayer", F.lit(p.name))
                side = f if side is None else side.unionByName(f)
            hit = (
                side.join(
                    F.broadcast(
                        probe.select(
                            F.col("__bword").alias("word"),
                            F.col("__bmask").alias("mask"),
                        )
                    ),
                    "word",
                )
                .where(F.expr("(bits & mask) = mask"))
                .select("__blayer", "file")
            )
            all_hits = hit if all_hits is None else all_hits.unionByName(hit)
        # layer names are distinct across nwords groups, so one global
        # distinct equals the old per-group distinct
        root = Path(self.path)
        for r in all_hits.distinct().collect():
            # The existence check is load-bearing, not hygiene: the
            # subset-tolerant fingerprint deliberately keeps a sidecar
            # valid after dirty compaction UNLINKS part-files, so its
            # rows can still bloom-positive a dead file — reading that
            # path would throw, and the dead file's keys (if any were
            # probed) are served by the folded layer that replaced it.
            layer_dir = root / r["__blayer"]
            local = str(layer_dir / r["file"])
            if (
                layer_dir in out
                and out[layer_dir] is not None
                and os.path.exists(local)
            ):
                out[layer_dir].append(local)
        return out

    # -- mutations ---------------------------------------------------------

    def update(self, batch: DataFrame, stamp: str | None = None) -> int:
        """Upsert whole rows by key, last-writer-wins by ``ts`` (S5,
        HBaseTable.update, HBaseTable.scala:100-122): ONE appended delta
        layer — O(batch), the table is not rewritten. Returns rows applied
        (the reference's put accumulator, HBaseTable.scala:127) — observed
        inside the write job (see _write_layer), not a second pass.

        Whole-row means WHOLE row: the batch must carry exactly the
        table's columns. A missing column would write a layer the merge
        can no longer read (every subsequent scan fails) — fail fast
        BEFORE writing instead; partial-row mutations are ``put``'s job."""
        expected = set(self._schema())
        got = set(batch.columns) - {_TOMBSTONE}
        if got != expected:
            missing, extra = sorted(expected - got), sorted(got - expected)
            raise ValueError(
                f"update() is whole-row: batch columns must match the table "
                f"(missing {missing}, unexpected {extra}); use put() for "
                f"partial rows"
            )
        n = self._write_layer(batch, "delta", stamp=stamp)
        self._maybe_compact()
        return n

    # S9 bulkUpdate shares semantics with update; both are one sorted layer
    # write — the HFile path made literal.
    bulk_update = update

    def _schema(self) -> dict[str, str]:
        """Column -> dtype of the logical table. Plan-only (parquet footers),
        no job runs — mutations use it to shape O(batch) delta layers.

        Read from the LOWEST layer's footer, not ``self.df().dtypes``:
        analyzing the full merged-fold plan (per-column window and CASE
        expressions) costs Catalyst 50-200ms, and every mutation calls
        this — the footer read is equivalent because every live layer
        carries the full data-column set (update validates it, put/delete/
        increment shape to it, add/drop_column compact first) and the merge
        preserves the lowest layer's column ORDER (``unionByName``; the
        fold takes payload order from frames[0]), which callers rely on to
        shape layers consistently."""
        layers = self._layers()
        if not layers:
            raise FileNotFoundError(f"no table at {self.path}")
        first = _cached_layer_df(self.spark, str(layers[0]))
        data = {
            c: t
            for c, t in first.dtypes
            if c not in (_TOMBSTONE, _KIND, _DELCOLS)
        }
        # match df()'s column order exactly (merge emits the key first,
        # then the remaining columns in frames[0] order): callers iterate
        # this dict to SHAPE layers, so order is part of the contract
        return {
            self.key_col: data[self.key_col],
            **{c: t for c, t in data.items() if c != self.key_col},
        }

    def put(self, batch: DataFrame, stamp: str | None = None) -> int:
        """Cell-level put (S6, HBaseTable.put, HBaseTable.scala:124-155):
        batch columns overwrite, columns absent from the batch keep stored
        values. O(batch): absent columns ride as typed nulls in one SPARSE
        delta layer and resolve per-column at merge/compaction — the table
        is neither read nor rewritten, matching HBase's per-cell memstore
        append."""
        schema = self._schema()
        unknown = [c for c in batch.columns if c not in schema]
        if unknown:
            raise ValueError(f"columns not in table schema: {unknown}")
        sparse = batch.select(
            *[
                (F.col(c).cast(t) if c in batch.columns else F.lit(None).cast(t)).alias(c)
                for c, t in schema.items()
            ]
        )
        n = self._write_layer(sparse, "delta", row_kind=_SPARSE, stamp=stamp)
        self._maybe_compact()
        return n

    bulk_load = put

    def increment(
        self, batch: DataFrame, counter_col: str, delta_col: str = "delta",
        stamp: str | None = None,
    ) -> int:
        """Atomic-add semantics (S7, HBaseTable.increment,
        HBaseTable.scala:157-179): pre-aggregate deltas per key (map-side
        combine), skip zero deltas (:166). O(batch): the summed deltas append
        as ONE additive DELTA layer and fold into the stored counter at
        merge/compaction — the server-side-add intent without rewriting the
        table (a counter batch at 100 TB costs the batch, not a full-table
        shuffle). The single-counter case of ``increment_many`` — one body,
        one validation set (review finding: the two implementations had
        already drifted on the key/ts-column guard)."""
        return self.increment_many(batch, {counter_col: delta_col}, stamp=stamp)

    def increment_many(
        self, batch: DataFrame, counters: dict[str, str],
        stamp: str | None = None,
    ) -> int:
        """Atomic multi-cell add: ``counters`` maps counter column ->
        delta column in ``batch``; all cells of a key commit in ONE additive
        DELTA layer (single rename), so a consumer can never observe one
        counter updated and a sibling not — HBase's Increment carrying
        several qualifiers of a row in one atomic mutation
        (HBaseTable.increment folds a whole Increment per row,
        HBaseTable.scala:157-179). The read-time fold already adds each
        non-null numeric DELTA cell independently (``_merge_layers_fold``),
        so multi-cell layers need no new merge rule. Same O(batch) contract
        as ``increment``: pre-aggregated per key, zero-delta keys skipped,
        the table is never read. This is the write primitive incremental
        materialized-view refresh rides (matview.py): sum and count deltas
        of a group must land atomically or a crash leaves a torn aggregate."""
        schema = self._schema()
        for col in counters:
            if col not in schema:
                raise ValueError(f"no such column: {col}")
            if not _is_numeric_dtype(schema[col]):
                raise ValueError(
                    f"increment requires a numeric counter column; "
                    f"{col} is {schema[col]}"
                )
            if col in (self.key_col, self.ts_col):
                raise ValueError(f"cannot increment {col}: key/ts column")
        deltas = batch.groupBy(self.key_col).agg(
            *[
                F.sum(F.col(dcol)).alias(f"__d_{col}")
                for col, dcol in counters.items()
            ]
        )
        nonzero = None
        for col in counters:
            c = F.coalesce(F.col(f"__d_{col}"), F.lit(0)) != 0
            nonzero = c if nonzero is None else (nonzero | c)
        deltas = deltas.where(nonzero)
        layer = deltas.select(
            *[
                (
                    F.col(self.key_col)
                    if c == self.key_col
                    else F.col(f"__d_{c}").cast(t)
                    if c in counters
                    else F.lit(None).cast(t)
                ).alias(c)
                for c, t in schema.items()
            ]
        )
        n = self._write_layer(layer, "delta", row_kind=_DELTA, stamp=stamp)
        self._maybe_compact()
        return n

    def delete(
        self, keys: DataFrame, columns: list[str] | None = None,
        stamp: str | None = None,
    ) -> int:
        """Row-level delete -> key-only tombstone rows (HBase Delete);
        column-level delete -> CELLDEL rows naming the dropped cells (HBase
        DeleteColumn) (S8/S11, HBaseTable.delete, HBaseTable.scala:181-212:
        null qualifier set => whole row, named qualifiers => those cells).
        O(batch): only the keys are written — the table is not read;
        resolution happens at merge/compaction like every other mutation."""
        schema = self._schema()
        keys = keys.select(self.key_col).distinct()
        skeleton = keys.select(
            *[
                (F.col(c) if c == self.key_col else F.lit(None).cast(t)).alias(c)
                for c, t in schema.items()
            ]
        )
        if not columns:
            n = self._write_layer(
                skeleton.withColumn(_TOMBSTONE, F.lit(True)), "delta", row_kind=_ROW,
                stamp=stamp,
            )
        else:
            # ts_col is rejected alongside key_col: the fold's ts-column
            # branch carries no CELLDEL case (the version timestamp is merge
            # bookkeeping, not a deletable cell), so accepting it would
            # silently ignore the delete
            bad = [c for c in columns if c not in schema or c in (self.key_col, self.ts_col)]
            if bad:
                raise ValueError(f"cannot column-delete: {bad}")
            marked = skeleton.withColumn(
                _DELCOLS, F.array(*[F.lit(c) for c in columns]).cast("array<string>")
            )
            n = self._write_layer(marked, "delta", row_kind=_CELLDEL, stamp=stamp)
        self._maybe_compact()
        return n

    bulk_delete = delete

    # -- compaction --------------------------------------------------------

    def _maybe_compact(self) -> None:
        if len(self._layers()) > self.compact_threshold:
            self.compact()

    def compact(self, scope: str = "all", keep_since: int | None = None) -> None:
        """Major compaction: fold base ∪ deltas into one sorted base layer
        (HBase major compaction; the reference's HFile bulk pipeline shape,
        HBaseTable.scala:296-352). Tombstoned keys are physically removed.

        ``scope="dirty"``: rewrite ONLY the key ranges the delta stack
        touches — the 100 TB posture for localized mutation batches, where
        a full compaction is the one table-sized job in the system but the
        deltas cover a sliver of the key space. Base part-files whose
        footer key range (parquet min/max stats; integral and string keys)
        overlaps NO delta part-file's range survive BYTE-IDENTICAL at
        their original paths; overlapping files fold with the deltas into
        one new base layer (HBase's minor/partial compaction,
        file-granular). Overlap is tested against the delta stack's merged
        INTERVAL LIST, one interval per delta part-file — two localized
        batches at opposite ends of the key space leave the middle files
        untouched. Every delta key's base file overlaps some delta
        interval by construction, so resolution is complete. Falls back
        to a full compaction when footer stats can't prove ranges (absent
        stats, binary keys; a possibly-truncated string max widens to
        +inf instead — see _file_key_ranges). NOTE: dirty compaction
        invalidates time travel to snapshots that predate it —
        ``df(as_of_layer=...)`` past the recorded horizon raises instead
        of serving a partial base layer. Post-conditions
        match full compaction for the dirty ranges (tombstones purged,
        TTL-expired rows dropped); clean ranges keep expired rows on disk
        until a compaction rewrites them (reads filter them either way).

        ``keep_since``: CHECKPOINT-AWARE prefix compaction — fold only the
        layers with ``seq <= keep_since`` into one base and leave every
        later delta intact, so a downstream consumer checkpointed at
        ``keep_since`` (a ``changes()`` tailer, a ``MaterializedAgg``
        refresh horizon) survives the compaction with its incremental path
        intact: ``changes(since_layer=keep_since)`` and
        ``df(as_of_layer>=keep_since)`` still work afterwards. This is the
        retention idea Kafka log compaction / Delta VACUUM / Iceberg
        snapshot expiration apply to their logs, grafted onto the LSM:
        compact up to the slowest consumer's offset, never past it.
        History BELOW keep_since folds away (time travel there raises, as
        for dirty compaction). Mutually exclusive with scope='dirty'."""
        if keep_since is not None:
            if scope != "all":
                raise ValueError("keep_since requires scope='all'")
            self._compact_prefix(keep_since)
            return
        if scope == "dirty" and self._compact_dirty():
            return
        if scope not in ("all", "dirty"):
            raise ValueError(f"compact scope must be 'all' or 'dirty', got {scope!r}")
        self._replace_all_layers(self.df())

    def _compact_prefix(self, keep_since: int) -> None:
        """Fold layers with ``seq <= keep_since`` into one base named with
        the prefix's max seq (free: that layer is being replaced), so the
        folded base orders before every retained delta and all later reads
        — folds, feeds, time travel at or after keep_since — are
        byte-equivalent to the uncompacted stack. Sound for every mutation
        kind because the folded set is a PREFIX: a tombstone or cell
        delete can only mask rows in its own prefix, and the retained
        deltas re-apply over the folded base exactly as they did over the
        original layers (the base rows carry their resolved ts, so LWW
        gates fire identically; additive deltas add onto the folded
        counter). The fold persists resolved STATE, not the visible view:
        tombstoned keys survive as tombstone rows with their resolved ts
        (HBase's rule — deletes survive minor compaction, purge at major)
        so a retained increment resurrects a deleted key with exactly the
        pre-compaction ghost-ts semantics, and TTL-expired rows stay on
        disk (reads filter them; full compact() purges). Consumed stamps
        persist to the manifest first, exactly like full compaction."""
        # sweep crash residue from an earlier interrupted prefix compaction:
        # directories _layers() already excludes (consumed layers below the
        # committed base, same-seq delta twins) are dead weight — remove
        # them BEFORE folding so the new base's name cannot collide
        live = {p.name for p in self._layers()}
        for p in Path(self.path).iterdir():
            if (
                p.name.startswith(("base-", "delta-"))
                and not p.name.endswith(".tmp")
                and p.name not in live
            ):
                shutil.rmtree(p, ignore_errors=True)
                self._drop_bloom(p)
        layers = self._layers()
        fold = [p for p in layers if int(p.name.split("-")[1]) <= keep_since]
        if not fold or (len(fold) == 1 and fold[0].name.startswith("base-")):
            return  # prefix already a single base (or nothing to fold)
        # enforce any earlier dirty-compaction horizon before folding: a
        # prefix snapshot that is no longer readable must raise, not fold
        self._visible_layers(keep_since)
        m = max(int(p.name.split("-")[1]) for p in fold)
        frames = [_cached_layer_df(self.spark, str(p)) for p in fold]
        folded = _merge_layers_fold(
            frames, self.key_col, self.ts_col, keep_state=True
        ).localCheckpoint()
        self._persist_stamps(fold)
        self._write_layer(folded, "base", seq=m, stamp=_PFXFOLD)
        # the folded base is committed: from here _layers() already serves
        # correct reads (residue precedence), so horizon-then-cleanup can
        # crash at any point and only leave sweepable directories behind
        horizon = Path(self.path) / "_history_horizon"
        prev = int(horizon.read_text()) if horizon.exists() else 0
        horizon.write_text(str(max(prev, m)))
        # invalidate BEFORE the removals (crash safety — see
        # _replace_all_layers)
        _invalidate_layer_cache(self.path)
        for p in fold:
            shutil.rmtree(p, ignore_errors=True)
            self._drop_bloom(p)

    # a string key whose footer max is this long (UTF-8 chars) is treated
    # as possibly-truncated and widened to +inf — defense in depth: the
    # parquet-mr writer this engine uses stores chunk stats EXACT or not
    # at all (verified: 104-char and 5000-char keys -> full value vs
    # has_min_max=False), but a foreign writer configured with
    # parquet.statistics.truncate.length could hand us a shortened max,
    # and a max that under-reports would silently strand delta keys in a
    # "clean" base file whose deltas are about to be deleted
    # Why 64 is sound HERE and only here: every layer under a KeyedTable
    # path is written by _write_layer (this engine's Spark writer, whose
    # parquet stats truncation threshold is 64) — layers are not an
    # interchange format. A FOREIGN file dropped into the layer dir could
    # carry a max truncated at a shorter length and defeat the guard
    # (spared base file -> resurrected deletes); that is out of contract,
    # same as hand-editing a layer, and create()/copy() never import
    # foreign parquet verbatim.
    _STR_STAT_GUARD = 64

    def _file_key_ranges(self, layer: Path):
        """Per part-file (path, key_min, key_max) from parquet footers —
        metadata only, no job. None when any keyed file lacks min/max
        stats (caller falls back to full compaction). For string keys a
        suspiciously long max widens to _TOP (+inf — see _STR_STAT_GUARD);
        a truncated MIN needs no guard: a prefix sorts <= the true min,
        so it is already a conservative lower bound."""
        import pyarrow.parquet as pq

        out = []
        for f in sorted(layer.glob("*.parquet")):
            md = pq.read_metadata(str(f))
            lo = hi = None
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    if col.path_in_schema != self.key_col:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        return None
                    try:
                        smin, smax = st.min, st.max
                    except Exception:
                        return None  # undecodable (e.g. mid-UTF8 truncation)
                    if isinstance(smax, str) and len(smax) >= self._STR_STAT_GUARD:
                        smax = _TOP
                    lo = smin if lo is None else min(lo, smin)
                    hi = smax if hi is None else max(hi, smax)
            out.append((f, lo, hi))  # (f, None, None) for zero-row files
        return out

    def _compact_dirty(self) -> bool:
        """Range-scoped compaction body; True = handled (False = caller
        should run the full fold). Dirty-file selection is per-INTERVAL,
        not one [min,max] envelope over the whole delta stack: each delta
        part-file contributes its own footer key range, overlapping
        intervals merge driver-side, and a base file is dirty only if it
        overlaps SOME interval — two localized batches at opposite ends of
        the key space no longer dirty every base file between them (cost
        tracks total delta footprint, not span). String keys participate:
        this engine's parquet writer stores chunk stats exact-or-absent,
        and _file_key_ranges widens a suspiciously long string max to +inf
        (foreign-writer truncation defense)."""
        import bisect

        layers = self._layers()
        deltas = [p for p in layers if p.name.startswith("delta-")]
        if not deltas:
            return True  # base only: nothing to fold
        if self._schema()[self.key_col] not in (
            "tinyint", "smallint", "int", "bigint", "string"
        ):
            return False  # binary/other: no trusted footer-range story
        base_ranges = []
        for b in (p for p in layers if p.name.startswith("base-")):
            r = self._file_key_ranges(b)
            if r is None:
                return False
            base_ranges.append((b, r))
        intervals = []
        for d in deltas:
            r = self._file_key_ranges(d)
            if r is None:
                return False
            intervals += [(lo, hi) for _, lo, hi in r if lo is not None]
        # merge overlapping delta intervals into a sorted disjoint list
        intervals.sort(key=lambda iv: (iv[0], 0) if iv[1] is _TOP else (iv[0], 1, iv[1]))
        merged_iv: list[tuple] = []
        for lo, hi in intervals:
            if merged_iv and lo <= merged_iv[-1][1]:
                if hi > merged_iv[-1][1]:
                    merged_iv[-1] = (merged_iv[-1][0], hi)
            else:
                merged_iv.append((lo, hi))
        starts = [iv[0] for iv in merged_iv]

        def is_dirty(lo, hi) -> bool:
            # disjoint sorted intervals: the only candidate overlapping
            # [lo, hi] is the one with the largest start <= hi
            i = bisect.bisect_right(starts, hi) if hi is not _TOP else len(starts)
            return i > 0 and merged_iv[i - 1][1] >= lo

        dirty_by_layer: list[tuple[Path, list[Path]]] = []
        dirty_files: list[Path] = []
        for b, r in base_ranges:
            files = [f for f, lo, hi in r if lo is not None and is_dirty(lo, hi)]
            if files:
                dirty_by_layer.append((b, files))
                dirty_files += files
        # fold the dirty slice exactly like df(): every contributing layer
        # is ITS OWN frame, interleaved with the deltas in true layer-seq
        # order. Merging all dirty base files into one oldest frame was
        # wrong across GENERATIONS (review-pass finding): a crash between
        # the folded-base write and the dirty-file unlinks leaves the old
        # base file AND the already-folded base both present, and a retry
        # that reads them as one frame picks a nondeterministic ROW winner
        # between the ts-equal generations, then re-applies the still-
        # present deltas on top (double-applied increments). Per-layer
        # frames in seq order keep the retry idempotent: old base -> delta
        # -> folded base resolves to the folded value. force_fold: a lone
        # delta frame (no dirty base file) must still run the kind fold —
        # its markers are instructions, not rows
        # `layers` (from _layers()) is already NUMERICALLY seq-sorted —
        # reuse that order rather than re-deriving it from dir names: a
        # name-suffix sort would key STAMPED layers (delta-NNNNNN-<stamp>)
        # by their stamp string, folding them out of order (silent LWW
        # flips, double-applied increments on stamped-batch retries)
        dirty_for = dict(dirty_by_layer)
        frames = []
        for p in layers:
            if p in dirty_for:
                frames.append(
                    self.spark.read.parquet(*[str(f) for f in dirty_for[p]])
                )
            elif p in deltas:
                frames.append(_cached_layer_df(self.spark, str(p)))
        merged = self._resolve(frames, force_fold=True)
        merged = merged.localCheckpoint()  # sever lineage from removed files
        self._persist_stamps(deltas)
        # always write the folded layer, even when the fold emptied the
        # dirty slice (all-tombstone case): an empty base layer is readable
        # (zero-row part-files carry the schema) and keeps the horizon seq
        # recorded below pointing at a real layer, so snapshot_seq() and
        # df(as_of_layer=snapshot_seq()) stay consistent
        horizon = self._next_seq()
        self._write_layer(merged, "base")
        # history before this point is now partially folded away: record the
        # horizon BEFORE removing anything, so a crash mid-cleanup can never
        # serve a silent partial snapshot to df(as_of_layer=<old seq>)
        (Path(self.path) / "_history_horizon").write_text(str(horizon))
        # cleanup order is crash-safety-critical: the superseded dirty base
        # part-files must go BEFORE the delta layers that tombstone them —
        # the reverse order, interrupted between the two, would leave an old
        # base row visible with its tombstone gone (deleted-row resurrection).
        # Crash after the unlinks: old clean base + deltas + folded base
        # reads correctly (the folded base, highest seq, wins the fold).
        # dirty compaction unlinks part-files INSIDE surviving base layer
        # dirs — any cached layer DataFrame for this table would reference
        # dead files. Invalidate BEFORE the first unlink: a crash anywhere
        # in the cleanup below must leave a cache-consistent session (the
        # mid-crash on-disk state itself reads correctly — see the ordering
        # comment above — but a stale cached file listing would not).
        _invalidate_layer_cache(self.path)
        for f in dirty_files:
            f.unlink(missing_ok=True)
        # a base dir whose every part-file was consumed is no longer a
        # readable parquet directory — drop the husk
        for b, _r in base_ranges:
            if not any(b.glob("*.parquet")):
                shutil.rmtree(b, ignore_errors=True)
                self._drop_bloom(b)
        for p in deltas:
            shutil.rmtree(p, ignore_errors=True)
            self._drop_bloom(p)
        return True


def _observed_count(df: DataFrame):
    """Attach a row-count observation to ``df`` — the engine's twin of the
    reference's write-path accumulators (A16, HBaseTable.scala:127,137,168):
    the count is collected DURING the write job by the observe operator, so
    mutations report rows applied without a second pass over the batch (or,
    for deletes, over the table). Returns (observed_df, Observation); read
    ``obs.get["n"]`` after the write action."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _fold_q(c: str) -> str:  # identifier quoting
    return "`" + c.replace("`", "``") + "`"


def _fold_s(c: str) -> str:
    """String-literal quoting for column names embedded in generated SQL.
    Backslashes are escaped FIRST: Spark SQL string literals process
    backslash escapes, while identifier references (backtick-quoted) do
    not, so an unescaped backslash would desynchronize the two spellings
    of the same column name (ADVICE r11)."""
    return "'" + c.replace("\\", "\\\\").replace("'", "''") + "'"


def _merge_layers_fold(
    frames: list[DataFrame], key_col: str, ts_col: str, keep_state: bool = False
) -> DataFrame:
    """Merge ordered layer frames into the visible-row relation — the
    table's ONE version-resolution rule (HBase resolving a Get/Scan across
    store files by cell timestamp), shared by every multi-layer read, every
    compaction and ``_upsert_latest``.

    ``frames[i]`` is layer i (seq order); a frame without ``__kind`` holds
    ROW rows. Per key, versions apply in layer order to a state that starts
    absent, with ``stored ts`` the state's resolved ts:

      ROW     applies iff its ts is null (write-time "now"), the stored ts
              is null, or ts >= the stored ts — last-writer-wins with
              arrival-order tie-break. It replaces every cell, takes its
              ``__tombstone`` flag, and leaves the stored ts at
              ``coalesce(ts, stored ts)`` (a delete's null-ts tombstone
              keeps the stored ts as its masking horizon);
      SPARSE  same ts gate and ts rule; non-null cells overwrite, nulls
              keep stored; clears the tombstone;
      DELTA   non-null numeric cells ADD onto the stored value (absent
              base counts as 0); always applies; clears the tombstone;
      CELLDEL nulls exactly the cells named in ``__delcols``.

    A key exists once a ROW, SPARSE or DELTA version applies; it is visible
    iff it exists and its final tombstone is false. ``keep_state`` returns
    every existing key with its resolved ``__tombstone`` instead (what a
    prefix compaction persists, so retained layers re-apply over the
    folded base exactly as over the original stack).

    Evaluated as ONE shuffle + sort + window/CASE resolution — no
    interpreted higher-order functions, so the per-version resolution runs
    through codegen'd projections (the r11 verdict measured an
    ``aggregate``-lambda fold at ~30µs/row-version, the dominant executor
    cost of every LSM-backed query). The sequential rule reduces to window
    aggregates in three steps:

    1. **ts gate.** A ROW/SPARSE version applies iff ``x.ts IS NULL OR
       prior_max IS NULL OR x.ts >= prior_max`` where ``prior_max`` is the
       running max of ts over ALL prior ROW/SPARSE versions. (Invariant:
       the fold's accumulated resolved ts always equals that running max —
       a version that fails the gate has ts < max and cannot change it,
       and the first ROW/SPARSE always applies because no earlier version
       sets the accumulated ts.)
    2. **Final scalar state.** resolved ts = max ts over ROW/SPARSE
       versions (nulls ignored); ``__exists`` = any non-CELLDEL version;
       ``__tombstone`` = the LAST version among {applying ROW, applying
       SPARSE, any DELTA} is an applying ROW, carrying its tombstone.
    3. **Per column.** The last *setter* (applying ROW — any value;
       applying SPARSE with a non-null cell; CELLDEL naming the cell →
       NULL) fixes the base value; DELTA contributions after it add onto
       ``coalesce(base, 0)``. The window sum feeds the setter's
       ``coalesce(base, 0)`` in as the FIRST term and the deltas in seq
       order after it, so even float addition associates exactly as the
       sequential rule does (bit-identical doubles).

    In-layer duplicate keys share a seq; their relative order is arbitrary
    (row_number's tie-break), so a batch must not rely on it."""
    data_cols = [c for c in frames[0].columns if c not in (_TOMBSTONE, _KIND, _DELCOLS)]
    payload = [c for c in data_cols if c != key_col]
    dtypes = dict(frames[0].dtypes)
    q, s = _fold_q, _fold_s
    key_q, ts_q = q(key_col), q(ts_col)

    tagged = None
    for seq, f in enumerate(frames):
        sel = [
            key_q,
            f"CAST({seq} AS INT) AS __fseq",
            (
                f"CAST({q(_KIND)} AS INT)"
                if _KIND in f.columns
                else f"CAST({_ROW} AS INT)"
            )
            + " AS __fk",
            (q(_DELCOLS) if _DELCOLS in f.columns else "CAST(NULL AS ARRAY<STRING>)")
            + " AS __fdc",
            (q(_TOMBSTONE) if _TOMBSTONE in f.columns else "false") + " AS __ftb",
        ] + [q(c) for c in payload]
        t = f.selectExpr(*sel)
        tagged = t if tagged is None else tagged.unionByName(t)

    wo = f"PARTITION BY {key_q} ORDER BY __fseq"
    wpart = f"{wo} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"

    # pass 1: position + the running ts max that decides the LWW gate
    w1 = tagged.selectExpr(
        "*",
        f"row_number() OVER ({wo}) AS __frn",
        f"max(CASE WHEN __fk <= {_SPARSE} THEN {ts_q} END) OVER "
        f"({wo} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __fpm",
    ).selectExpr(
        "*",
        f"((__fk <= {_SPARSE}) AND ({ts_q} IS NULL OR __fpm IS NULL "
        f"OR {ts_q} >= __fpm)) AS __fap",
    )

    # pass 2: whole-partition state — exists / final ts / tombstone, plus
    # each column's last setter (position + value; the value rides a
    # single-field struct so ignore-nulls `last` can carry a NULL set
    # value, and so unorderable payload types never enter an ordering)
    w2_exprs = [
        "*",
        f"max(CASE WHEN __fk != {_CELLDEL} THEN true END) OVER ({wpart}) AS __fex",
        f"max(CASE WHEN __fk <= {_SPARSE} THEN {ts_q} END) OVER ({wpart}) AS __fts",
        f"last(CASE WHEN (__fap OR __fk = {_DELTA}) THEN "
        f"named_struct('v', (__fk = {_ROW}) AND __ftb) END, true) "
        f"OVER ({wpart}) AS __ftm",
    ]
    for i, c in enumerate(payload):
        if c == ts_col:
            continue
        cq = q(c)
        setter = (
            f"((__fap AND (__fk = {_ROW} OR ({cq} IS NOT NULL AND __fk = {_SPARSE}))) "
            f"OR (__fk = {_CELLDEL} AND array_contains(__fdc, {s(c)})))"
        )
        w2_exprs.append(
            f"max(CASE WHEN {setter} THEN __frn END) OVER ({wpart}) AS __fp{i}"
        )
        w2_exprs.append(
            f"last(CASE WHEN {setter} THEN named_struct('v', "
            f"CASE WHEN __fk = {_CELLDEL} THEN CAST(NULL AS {dtypes[c]}) "
            f"ELSE {cq} END) END, true) OVER ({wpart}) AS __fv{i}"
        )
    w2 = w1.selectExpr(*w2_exprs)

    # pass 3: additive-delta resolution per numeric column — a sequential
    # window sum whose first term is the setter's coalesce(base, 0), so
    # the addition order (and float rounding) matches the sequential rule
    w3_exprs = ["*"]
    numeric = [
        (i, c)
        for i, c in enumerate(payload)
        if c != ts_col and _is_numeric_dtype(dtypes[c])
    ]
    for i, c in numeric:
        cq, t = q(c), dtypes[c]
        delta_here = (
            f"(__fk = {_DELTA} AND {cq} IS NOT NULL "
            f"AND (__fp{i} IS NULL OR __frn > __fp{i}))"
        )
        contrib = (
            f"CASE WHEN __fp{i} IS NOT NULL AND __frn = __fp{i} "
            f"THEN coalesce(__fv{i}.v, CAST(0 AS {t})) "
            f"WHEN {delta_here} THEN {cq} END"
        )
        w3_exprs.append(f"sum({contrib}) OVER ({wpart}) AS __fs{i}")
        w3_exprs.append(
            f"sum(CASE WHEN {delta_here} THEN 1 END) OVER ({wpart}) AS __fn{i}"
        )
    w3 = w2.selectExpr(*w3_exprs) if numeric else w2

    final_cols = [key_q]
    for i, c in enumerate(payload):
        t = dtypes[c]
        if c == ts_col:
            final_cols.append(f"__fts AS {q(c)}")
        elif _is_numeric_dtype(t):
            final_cols.append(
                f"CASE WHEN __fn{i} > 0 THEN CAST(__fs{i} AS {t}) "
                f"ELSE __fv{i}.v END AS {q(c)}"
            )
        else:
            final_cols.append(f"__fv{i}.v AS {q(c)}")

    one = w3.where(F.expr("__frn = 1"))
    if keep_state:
        # resolved per-key STATE, tombstones included (prefix compaction):
        # a NULL resolved tombstone (an explicit NULL in a ROW batch)
        # stays NULL, as in the sequential rule
        return one.where(F.expr("coalesce(__fex, false)")).selectExpr(
            *final_cols,
            f"CASE WHEN __ftm IS NULL THEN false ELSE __ftm.v END AS {q(_TOMBSTONE)}",
        )
    # alive view: a NULL resolved tombstone drops the row (three-valued
    # NOT NULL), as the sequential rule's visibility test does
    return one.where(
        F.expr("coalesce(__fex, false) AND (__ftm IS NULL OR (NOT __ftm.v))")
    ).selectExpr(*final_cols)


def _upsert_latest(current: DataFrame, batch: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Keyed merge of two relations, greatest-``ts`` wins, incoming batch
    wins ties — the two-layer case of ``_merge_layers_fold``, exposed for
    read-only merge pipelines (inventory_misc.mutation_upsert_merge)."""
    return _merge_layers_fold(
        [current, batch.select(*current.columns)], key_col, ts_col
    )
