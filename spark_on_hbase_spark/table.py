"""KeyedTable — the engine's mutable keyed-dataset facade.

The reference's ``HBaseTable[K]`` (HBaseTable.scala:26-41) wraps a mutable
HBase table: read via ``rdd()/select``, write via
``update/put/increment/delete/bulkUpdate/bulkLoad/bulkDelete``. HBase gets its
mutation semantics from the LSM tree: writes append Put/Delete cells to the
memstore, flushes produce sorted HFiles, reads merge all files resolving by
cell timestamp, and compaction folds the layers back together.

This table re-expresses that **same LSM design on columnar storage**:

- layout: one log file, ``<path>/_log.json``, IS the table — the Delta
  Lake / Iceberg design (a table is the file list in its latest log entry,
  never a directory listing; HBase's StoreFileTracker moved its own
  store-file list the same way). It lists every live layer (seq, kind
  base/delta, directory name, part-file basenames, Bloom sidecar meta),
  the applied idempotence stamps, the time-travel horizon and an opaque
  record the table's owner keeps there (a ``SecondaryIndex``'s skip-scan
  guideposts), by names relative to ``<path>`` so a root renamed whole
  still reads. Every change writes new files, swaps in a new log with ONE
  ``os.replace`` (``_commit``), then sweeps what the log no longer lists
  (``_sweep``): nothing a write or compaction produced is visible before
  the swap, and everything it replaced is invisible after it, so a crash
  at any point leaves either the old table or the new one plus unlisted
  files the next commit deletes. Layer directories are ``base-NNNNNN-<token>`` and
  ``delta-NNNNNN-<token>`` (the token keeps a retried write from ever
  reusing a crashed one's directory); every layer is range-partitioned
  and sorted by key (the HFile invariant;
  ``repartitionByRange + sortWithinPartitions`` is the DataFrame twin of the
  reference's HFile bulk pipeline, HBaseTable.scala:242,296-352). The
  repartition carries no count: AQE coalesces adjacent sampled ranges to
  its target size, so a small delta is one file and a large base several
  (HBase flushes one HFile per region holding data, HBaseTable.scala:
  236-344), each with a narrow key range disjoint from its neighbours';
- ``update``/``put``/``increment``/``delete``/``bulk_*``: every mutation
  appends ONE sorted delta layer — O(batch) write, the table is never
  rewritten (the reference's bulkUpdate intent; HBase's memstore append).
  They are validation plus one call of ``_mutate``, the one mutation body,
  which also writes the layers of a ``SecondaryIndex`` and a
  ``MaterializedAgg``: any mix of the five mutation kinds, shaped to the
  table's columns and committed as one layer under one stamp;
- layer row kinds (``__kind``) carry the mutation semantics to the read
  path, exactly as HBase cell types (Put / Delete / DeleteColumn /
  server-side-add) ride in one HFile. Only this module names them:
  ROW 0    whole-row upsert (update/create/compact), last-writer-wins by ts;
  SPARSE 1 cell-level put — non-null cells overwrite, nulls mean "keep
           stored" (HBaseTable.put, HBaseTable.scala:124-155);
  DELTA 2  additive increment — non-null numeric cells ADD to the stored
           value (HBaseTable.increment, HBaseTable.scala:157-179: HBase's
           server-side atomic add, here folded at read/compaction);
  CELLDEL 3 per-cell tombstone — ``__delcols`` lists the cells nulled
           (HBase DeleteColumn);
  plus ``__tombstone`` on ROW rows for whole-row deletes (HBase Delete).
  One key's rows inside one layer fold in a fixed kind order: delete,
  upsert, put, increment, cell delete (``_OPS``);
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

import contextlib
import functools
import json
import operator
import os
import shutil
import threading
import uuid
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TOMBSTONE = "__tombstone"
_KIND = "__kind"
_DELCOLS = "__delcols"

# row kinds (see module docstring); layers without a __kind column are ROW
_ROW, _SPARSE, _DELTA, _CELLDEL = 0, 1, 2, 3

# the mutation kinds (``changes()``'s op names) with the row kind each
# writes, in the order one key's rows of one layer fold (see
# _merge_layers_fold): a tombstone first, so an upsert in the same layer
# re-inserts; a put before the increment that adds onto it; cell deletes
# last
_OPS = {
    "delete": _ROW, "upsert": _ROW, "put": _SPARSE, "increment": _DELTA,
    "cell_delete": _CELLDEL,
}

_LOG = "_log.json"  # the table log (see module docstring)


class _Layer(NamedTuple):
    """One live layer as the table log lists it. ``seq`` orders the fold;
    ``name`` is the layer's directory under the table root and ``files``
    its part-file basenames — the layer IS those files, whatever else the
    directory holds; ``bloom`` is the sidecar meta (nwords, k, fmt), or
    None when the layer has no sidecar."""

    seq: int
    kind: str  # "base" | "delta"
    name: str
    files: tuple
    bloom: dict | None = None


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


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal that parses back to exactly
    ``s``: backslashes are escaped first (the parser unescapes ``\\``
    sequences), then quotes, and ``$`` is written as the unicode escape
    ``\\u0024`` so variable substitution — which rewrites ``${...}`` in
    the expression text before the parser runs — never sees one."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024") + "'"


def _in_list_pred(spark: SparkSession, col_name: str, keys: list):
    """``col IN (<literals>)`` built as ONE parsed SQL expression for
    integral and string key lists — ``Column.isin(ks)`` costs a py4j
    round-trip per literal (115 ms at 300 string keys, 3.8 s at 8192, and
    point_read applies the predicate once per layer), while a single
    ``F.expr`` parse is about a millisecond and yields the identical
    pushed In filter. Other key types fall back to ``isin``, which also
    covers the empty list (IN () is not valid SQL) and sessions with
    ``spark.sql.parser.escapedStringLiterals`` on, whose parser would not
    unescape ``_sql_str``'s escapes."""
    import numbers

    if not keys:
        return F.col(col_name).isin(keys)
    if all(isinstance(k, numbers.Integral) and not isinstance(k, bool) for k in keys):
        lits = [str(int(k)) for k in keys]
    elif all(isinstance(k, str) for k in keys) and (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false") != "true"
    ):
        lits = [_sql_str(k) for k in keys]
    else:
        return F.col(col_name).isin(keys)
    return F.expr(f"{_fold_q(col_name)} IN ({','.join(lits)})")


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


#: (SparkContext, part-file paths) -> DataFrame over exactly those files: a
#: layer (or a Bloom sidecar directory). Files are IMMUTABLE once the log
#: lists them, so the DataFrame — whose file index and schema are resolved
#: at ``read.parquet`` time, ~50ms of py4j + footer reads per open — is
#: valid for as long as its key is; a dirty compaction that drops files
#: from a layer's list changes that layer's key instead of mutating an
#: entry. Every read path opens every visible layer, so a bench run
#: re-opened the same layers thousands of times (r11 profile).
#: ``_write_layer`` seeds each new layer's entry; ``_commit`` evicts the
#: entries its new log no longer lists, and ``drop`` the whole table's.
#: Keyed by the live SparkContext object so a stop/start never serves
#: plans from a dead JVM.
_LAYER_DF_CACHE: dict = {}

# fixture builders mutate INDEPENDENT tables from a thread pool (guide
# §2.6); the lock keeps the cache's iterate-and-delete safe against a
# concurrent insert (the reads/writes themselves are GIL-atomic, but
# eviction iterates)
_LAYER_DF_CACHE_LOCK = threading.Lock()


def _cached_layer_df(spark: SparkSession, paths: tuple, schema=None) -> DataFrame:
    """The DataFrame over ``paths``, opened once per SparkContext.
    ``schema`` (the writer's schema, every field nullable — what inference
    would return) opens it without Spark's parquet schema-inference job."""
    key = (spark.sparkContext, paths)
    with _LAYER_DF_CACHE_LOCK:
        df = _LAYER_DF_CACHE.get(key)
    if df is None:
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(*paths)
        with _LAYER_DF_CACHE_LOCK:
            # prune entries pinned to OTHER (stopped) SparkContexts so a
            # session-restarting process never accumulates dead-JVM plan
            # handles without bound (ADVICE r11)
            for k in [k for k in _LAYER_DF_CACHE if k[0] is not key[0]]:
                del _LAYER_DF_CACHE[k]
            df = _LAYER_DF_CACHE.setdefault(key, df)
    return df


def _evict_layer_cache(root: str, live: set) -> None:
    """Drop the cached DataFrames under table ``root`` whose file list is
    not in ``live``. Matches on the directory boundary so a table at
    /data/t never evicts a sibling at /data/t2."""
    pref = str(root) + os.sep
    with _LAYER_DF_CACHE_LOCK:
        for k in [
            k
            for k in _LAYER_DF_CACHE
            if k[1][0].startswith(pref) and k[1] not in live
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
        a sidecar (a missing one only means less pruning). ROWCOL has no
        separate realization: qualifier-level pruning is what Parquet's
        columnar layout + column pruning already give every read."""
        self.spark = spark
        self.path = str(path)
        self.key_col = key_col
        self.ts_col = ts_col
        self.compact_threshold = compact_threshold
        self.ttl = ttl
        self.bloom = bloom
        if now_fn is None:
            import time as _time

            now_fn = _time.time
        self.now_fn = now_fn
        self._compaction_held = False  # see _holding_compaction

    # -- the table log -----------------------------------------------------

    def _log(self) -> dict:
        """The committed table state, ``{"horizon", "stamps", "layers",
        "extra"}`` with the layers as ``_Layer`` in seq order — the empty
        table when no log is here. A root holding layer directories but no log was
        written before the table log existed: it has no reader, and
        reading it as an absent table would let ``create()`` bury it."""
        root = Path(self.path)
        try:
            log = json.loads((root / _LOG).read_text())
        except FileNotFoundError:
            if root.is_dir() and any(
                p.name.startswith(("base-", "delta-")) for p in root.iterdir()
            ):
                raise RuntimeError(
                    f"{self.path} holds layer directories but no {_LOG}: a "
                    f"table in the layout before the table log, which has "
                    f"no reader — rebuild it from its source"
                ) from None
            return {"horizon": 0, "stamps": [], "layers": [], "extra": None}
        log["layers"] = [
            _Layer(**{**d, "files": tuple(d["files"])}) for d in log["layers"]
        ]
        log.setdefault("extra", None)
        return log

    def _layers(self) -> list[_Layer]:
        return self._log()["layers"]

    def _paths(self, layer: _Layer) -> tuple:
        """Absolute paths of the layer's listed part-files."""
        return tuple(os.path.join(self.path, layer.name, f) for f in layer.files)

    def _layer_df(self, layer: _Layer) -> DataFrame:
        return _cached_layer_df(self.spark, self._paths(layer))

    def _commit(
        self, layers: list[_Layer], stamp: str | None = None, horizon: int = 0,
        extra: dict | None = None, stamps: list[str] | None = None,
    ) -> None:
        """THE commit point of every table change: swap in a log listing
        ``layers``, with ``stamp`` added to the applied stamps (or, given
        ``stamps``, the applied stamps replaced by them), the
        time-travel horizon raised to ``horizon`` and the owner's record
        replaced by ``extra`` (None keeps the committed one, so every
        commit that does not name a record — compaction included —
        carries it over), by one atomic ``os.replace``. Before it the
        change is invisible, after it complete; the files it stops
        listing are ``_sweep``'s."""
        root = Path(self.path)
        log = self._log()
        layers = sorted(layers, key=lambda L: L.seq)
        if stamps is None:
            stamps = log["stamps"]
        tmp = root / f"{_LOG}.tmp"
        tmp.write_text(json.dumps({
            "horizon": max(log["horizon"], horizon),
            "stamps": sorted({*stamps, *([stamp] if stamp else [])}),
            "layers": [L._asdict() for L in layers],
            "extra": log["extra"] if extra is None else extra,
        }))
        os.replace(tmp, root / _LOG)
        _evict_layer_cache(
            self.path,
            {self._paths(L) for L in layers}
            | {(str(self._bloom_root() / L.name),) for L in layers},
        )

    def _sweep(self) -> None:
        """Delete what the log does not list: layer directories a commit
        replaced or a crashed write left behind, part-files a dirty
        compaction dropped from a live layer, sidecars of dead layers."""
        live = {L.name: set(L.files) for L in self._layers()}
        for p in Path(self.path).iterdir():
            if not p.name.startswith(("base-", "delta-")):
                continue
            if p.name not in live:
                shutil.rmtree(p, ignore_errors=True)
                continue
            for f in p.glob("*.parquet"):
                if f.name not in live[p.name]:
                    f.unlink(missing_ok=True)
        if self._bloom_root().is_dir():
            for p in self._bloom_root().iterdir():
                if p.name not in live:
                    shutil.rmtree(p, ignore_errors=True)

    def _write_layer(
        self, df: DataFrame, kind: str, stamp: str | None = None,
        seq: int | None = None, keep: list[_Layer] | None = None,
        extra: dict | None = None, stamps: list[str] | None = None,
    ) -> dict[str, int]:
        """Write one sorted layer, in as many range part-files as AQE
        coalesces its size to (see the module docstring), and commit it
        next to ``keep`` — every live layer by default (a mutation
        appends); a compaction passes the layers its output does not
        replace. Returns rows written per mutation kind (``_OPS``' names;
        a layer without ``__kind`` holds upserts and deletes), observed
        inside the write job (A16 accumulator parity) — the observe node
        sits ABOVE the range exchange, so the sampling pass
        repartitionByRange runs to pick bounds does not double-count.
        ``df`` carries its row kinds as ``_mutate`` shapes them; a frame
        without them is ROW rows.

        The input runs ONCE: it is lazily checkpointed, so the
        range-sampling job materializes it and the write job reads the
        checkpoint — a batch built from Python rows would otherwise pay
        two Python-worker passes. A compaction's input needs no lineage
        cut of its own: nothing it reads is deleted before the commit.

        ``stamp``: an idempotence token committed in the SAME log swap as
        the layer, so data and applied-marker can never disagree. A stamp
        already in ``applied_stamps()`` marks a retry of a committed
        write: nothing runs on ``df`` and every count is 0 — the region
        server dropping a retried Increment by its nonce. Every stamped
        mutation gets its exactly-once guarantee here, so callers never
        pre-check. ``stamps`` replaces the applied stamps instead, with
        no retry check — for a base that replaces a table's whole history
        (a ``MaterializedAgg`` rebuild, whose horizon is its stamp).

        ``seq``: explicit layer sequence — ONLY for prefix compaction,
        whose folded base takes the folded prefix's max seq so it orders
        before the retained deltas. A base layer folds (or replaces)
        every layer below its seq, so its commit raises the time-travel
        horizon (see ``_visible_layers``) to that seq. ``extra``: the
        owner's record, committed in the same swap (see ``_commit``)."""
        log = self._log()
        if stamp is not None and stamp in log["stamps"]:
            return dict.fromkeys(_OPS, 0)
        root = Path(self.path)
        if not (root / _LOG).exists():
            # the first write commits an empty log before any layer
            # directory exists: a crash inside it leaves an empty table,
            # never a log-less root that reads as the old layout
            root.mkdir(parents=True, exist_ok=True)
            self._commit([])
        live = log["layers"]
        if seq is None:
            seq = 1 + max((L.seq for L in live), default=-1)
        name = f"{kind}-{seq:06d}-{uuid.uuid4().hex[:8]}"
        df = df.localCheckpoint(eager=False)
        if _TOMBSTONE not in df.columns:
            df = df.withColumn(_TOMBSTONE, F.lit(False))
        out = df.repartitionByRange(F.col(self.key_col)).sortWithinPartitions(
            self.key_col
        )
        out, obs = _observed_counts(out)
        out.write.parquet(str(root / name))
        layer = _Layer(
            seq, kind, name,
            tuple(sorted(f.name for f in (root / name).glob("*.parquet"))),
        )
        # open the new layer with the schema just written, so its first
        # read skips the schema-inference job
        _cached_layer_df(self.spark, self._paths(layer), _nullable(df.schema))
        counts = {op: int(n) for op, n in obs.get.items()}
        if self.bloom:
            # SOFT-fail: a sidecar only prunes, so a build error commits
            # the layer without one instead of failing the write
            with contextlib.suppress(Exception):
                layer = layer._replace(
                    bloom=self._write_bloom(layer, sum(counts.values()))
                )
        self._commit(
            (live if keep is None else keep) + [layer], stamp,
            seq if kind == "base" else 0, extra, stamps,
        )
        self._sweep()
        return counts

    def applied_stamps(self) -> set[str]:
        """Every idempotence stamp this table has committed — the log
        keeps a stamp after compaction folds its layer away.
        ``_write_layer`` treats membership here as 'this stamped delta
        already committed' and writes nothing."""
        return set(self._log()["stamps"])

    # -- DDL (S16, HBaseAdminUtils.scala:86-214) ---------------------------

    def exists(self) -> bool:
        return bool(self._layers())

    def create(self, df: DataFrame) -> "KeyedTable":
        """Create the table from an initial DataFrame, written as sorted,
        disjoint key ranges sized to the data (the reference pre-splits
        regions instead, HBaseAdminUtils.scala:118). Creating over an EXISTING
        table raises (HBase's TableExistsException): a silent second base
        layer would union two generations of data — use ``update`` to
        merge or ``drop`` first to replace."""
        if self.exists():
            raise FileExistsError(f"table already exists at {self.path}")
        self._write_layer(df, "base")
        return self

    def drop(self) -> None:
        _evict_layer_cache(self.path, set())
        shutil.rmtree(self.path, ignore_errors=True)

    def copy(self, dest: "KeyedTable") -> None:
        """S12 — scan source, write it as the destination's sole base in
        sorted key ranges sized to the data (HBaseAdminUtils.copy,
        misc/HBaseAdminUtils.scala:146-176)."""
        dest._write_layer(self.df(), "base", keep=[])

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
        self._write_layer(
            current.withColumn(name, F.lit(default).cast(dtype)), "base", keep=[]
        )

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
        self._write_layer(self.df().drop(name), "base", keep=[])

    # -- scan / select (S2/S3) ---------------------------------------------

    def snapshot_seq(self) -> int:
        """Current highest layer sequence — capture it before further
        mutations to time-travel back later with ``df(as_of_layer=...)``."""
        layers = self._layers()
        if not layers:
            raise FileNotFoundError(f"no table at {self.path}")
        return layers[-1].seq

    def df(self, as_of_layer: int | tuple[int, int] | None = None) -> DataFrame:
        """Full typed scan — HBaseTable.rdd() (HBaseTable.scala:55-65): merge
        base ∪ deltas with last-writer-wins-by-(ts, layer) resolution and
        tombstone filtering — HBase's read path over HFiles. Catalyst column
        pruning / predicate pushdown apply per layer underneath the merge.

        ``as_of_layer``: read only layers with seq <= the given value — the
        LSM's free time travel (every mutation is an immutable layer, so any
        historical state is a layer-prefix read; pair with ``snapshot_seq``).
        Compaction folds history away, so travel reaches back to the last
        compact and raises ``HistoryFoldedError`` before it — bound the
        horizon with ``compact_threshold``. A pair
        ``(a, b)`` with ``a < b`` reads both snapshots at once: every
        visible row appears once per cut, tagged with that cut's seq in a
        trailing ``__cut`` column (see ``semi_read``).

        With ``ttl`` set, rows whose resolved ``ts_col`` is older than
        ``now_fn() - ttl`` are filtered (and physically dropped at the next
        compaction, which rewrites only what this scan returns)."""
        return self._layer_frames(None, as_of_layer)

    def _resolve(
        self, frames: list[DataFrame], layers: list[_Layer], cuts=None
    ) -> DataFrame:
        """Merge ordered layer frames (``frames[i]`` read from
        ``layers[i]``) into the visible-row relation: LWW / kind fold,
        tombstone removal, TTL filter. Shared by every read and the
        range-scoped compaction (which folds only the dirty slice).

        A lone frame passes through unfolded ONLY when it is one ``base``
        layer without ``__kind`` — a folded base holds unique keys of ROW
        kind. A lone DELTA layer must still fold: its __kind markers are
        instructions, not rows (a CELLDEL frame passed through verbatim
        would surface its all-null marker rows as live data), and a ROW
        delta may carry in-batch duplicate keys that need the within-layer
        LWW dedup. ``cuts`` (from ``_cuts``) makes it a two-snapshot fold,
        which always folds."""
        if (
            len(layers) == 1 and layers[0].kind == "base" and cuts is None
            and _KIND not in frames[0].columns
        ):
            merged = frames[0]
            if _TOMBSTONE in merged.columns:
                # a prefix-compaction base keeps its tombstone rows
                merged = merged.where(~F.col(_TOMBSTONE)).drop(_TOMBSTONE)
        else:
            merged = _merge_layers_fold(frames, self.key_col, self.ts_col, cuts=cuts)
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

    def _visible_layers(self, as_of_layer) -> list[_Layer]:
        """Layers a read at ``as_of_layer`` may touch (all of them for
        None), with the horizon guard. A pair ``(a, b)`` reads the layers
        visible at ``b`` once ``a`` passes the same guards."""
        if isinstance(as_of_layer, tuple):
            a, b = as_of_layer
            if not a < b:
                raise ValueError(f"as_of_layer pair needs a < b, got {as_of_layer}")
            self._visible_layers(a)
            as_of_layer = b
        log = self._log()
        layers = log["layers"]
        if as_of_layer is not None:
            # every compaction commits its base's seq as the horizon: the
            # layers below it are folded away (full, prefix) or survive
            # only as the clean part-files of a mutilated base (dirty), so
            # a read predating it would be missing or PARTIAL — fail loudly
            if as_of_layer < log["horizon"]:
                raise HistoryFoldedError(
                    f"as_of_layer={as_of_layer} predates the last "
                    f"compaction (horizon {log['horizon']}): a full or "
                    f"prefix compaction folded that snapshot's layers "
                    f"away, a dirty one rewrote part of its base layer, "
                    f"so the historical state is no longer readable"
                )
            layers = [L for L in layers if L.seq <= as_of_layer]
        if not layers:
            raise FileNotFoundError(f"no table at {self.path}")
        return layers

    @staticmethod
    def _cuts(layers: list[_Layer], as_of_layer):
        """The fold's per-layer cut tags for a two-snapshot read ``(a, b)``:
        a layer with seq <= a feeds both cuts, a later one only ``b``.
        None for a one-snapshot read."""
        if not isinstance(as_of_layer, tuple):
            return None
        a, b = as_of_layer
        return [(a, b) if L.seq <= a else (b,) for L in layers]

    def _layer_frames(self, pred, as_of_layer) -> DataFrame:
        """Layer frames with a KEY-DETERMINED predicate applied per layer
        BEFORE the merge, resolved into the visible-row relation. Shared by
        point_read / range_read (df() is the pred=None case): the caller
        guarantees the predicate has the same truth value for every version
        of a key (key IN-lists, key ranges), so per-layer filtering keeps
        each surviving key's full history — including tombstones, which
        carry the key."""
        layers = self._visible_layers(as_of_layer)
        frames = [self._layer_df(L) for L in layers]
        if pred is not None:
            frames = [f.where(pred) for f in frames]
        return self._resolve(frames, layers, self._cuts(layers, as_of_layer))

    def point_read(self, keys: list, as_of_layer=None) -> DataFrame:
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
        an absent key touches no data file at all). Layers without a
        sidecar read in full; the result is identical either way (pinned
        by tests/test_table.py)."""
        pred = _in_list_pred(self.spark, self.key_col, keys)
        if self.bloom and keys:
            layers = self._visible_layers(as_of_layer)
            cands = self._bloom_candidates(layers, keys)
            if any(v is not None for v in cands.values()):
                kept = [L for L in layers if cands[L.name] is None or cands[L.name]]
                frames = [
                    (
                        self._layer_df(L)
                        if cands[L.name] is None
                        else self.spark.read.parquet(*cands[L.name])
                    ).where(pred)
                    for L in kept
                ]
                if not frames:
                    # every layer provably key-free: schema-correct empty
                    return self._layer_frames(pred, as_of_layer).where(
                        F.lit(False)
                    )
                return self._resolve(frames, kept, self._cuts(kept, as_of_layer))
        return self._layer_frames(pred, as_of_layer)

    # Largest key set ``semi_read`` hands to ``point_read`` as a literal IN
    # list. The literal plan's Catalyst cost grows with the list at ANY
    # table size: at 15k keys the IN-list read measured 5.8-7.6 s against
    # 2.2-3.4 s for the semi-join on the same batch (OPTIMIZATION_r11.md),
    # and at ~94k literals the stacked expression tree OOMed a 20g driver.
    # 8192 keeps point-like probes on the pruned multiget and hands bulk
    # key sets to the semi-join.
    POINT_READ_CAP = 8192

    def semi_read(self, keys: DataFrame, as_of_layer=None) -> DataFrame:
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

        Either way the key set is resolved when ``semi_read`` is called.

        ``as_of_layer=(a, b)`` (``a < b``) returns every key's state at
        BOTH snapshots from one key collect, one scan per layer and one
        shuffle, each row tagged with its snapshot's seq in a trailing
        ``__cut`` column: layer rows with seq <= a feed both cuts, rows in
        (a, b] feed only b, and the fold resolves each (key, cut) on its
        own — the old and new states of a changed key set that
        incremental maintenance diffs."""
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
            self._layer_df(L).where(pred).join(kb, self.key_col, "left_semi")
            for L in layers
        ]
        return self._resolve(frames, layers, self._cuts(layers, as_of_layer))

    def range_read(self, lower, upper, as_of_layer=None) -> DataFrame:
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
        the change — replay in ``__seq`` order, and one layer's rows of a
        key in the fold's kind order delete, upsert, put, increment,
        cell_delete, reproduces the table's fold exactly), ``op`` ('upsert'
        | 'put' | 'increment' | 'delete' | 'cell_delete' — the five
        mutation kinds, HBase's Put / partial Put / server-side-add /
        Delete / DeleteColumn), and ``deleted_cells``
        (comma-joined cell names for cell_delete, else NULL). Semantics per
        op mirror the write path: 'put' rows carry NULL for cells the batch
        did not touch ("keep stored"), 'increment' rows carry the DELTA in
        the counter column (not the folded result — consumers fold, exactly
        like the read path), 'delete' rows are key-only. Pair with
        ``snapshot_seq()``: ``changes(since_layer=snap)`` is everything
        applied after the snapshot, exactly once, never reordered within a
        key (layer seq, then kind, is the order). Compaction folds history away, so a
        feed must be consumed before its layers compact — same horizon
        contract as time travel (``_visible_layers`` raises for an
        ``until_layer`` below the last compaction, and a base layer
        inside the window raises below)."""
        layers = [
            L for L in self._visible_layers(until_layer) if L.seq > since_layer
        ]
        for L in layers:
            if L.kind == "base":
                # a base layer inside the feed window means a compaction
                # folded the individual mutations (and physically removed
                # deleted keys) — a feed from here would silently misreport
                # history as one giant upsert. Fail loudly; the fix is
                # compact(keep_since=<consumer checkpoint>), which folds
                # only up to the slowest consumer's offset.
                raise HistoryFoldedError(
                    f"changes(since_layer={since_layer}) predates a "
                    f"compaction ({L.name} folded the mutation history "
                    f"away): consume the feed before compacting, or use "
                    f"compact(keep_since=...) to retain the consumer's "
                    f"suffix"
                )
        frames = []
        for L in layers:
            f = self._layer_df(L)
            f = f.withColumn("op", _op_col(f.columns)).withColumn(
                "__seq", F.lit(L.seq).cast("bigint")
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
    #   the file set a point read scans, and a layer the log lists without
    #   sidecar meta is simply read in full. The sidecar is written before
    #   its layer commits and its meta rides the same log entry, so a
    #   listed sidecar always describes its layer. A dirty compaction that
    #   drops part-files from an old base layer leaves that layer's sidecar
    #   as it is: its rows for the dropped files name files the log no
    #   longer lists, and the probe keeps only listed files, so the O(delta)
    #   compaction contract holds with zero sidecar patching.

    _BLOOM_BITS_PER_KEY = 10
    _BLOOM_K = 4
    # sidecar format: 2 = part-file BASENAMES in `file` (rename-relocatable).
    # A sidecar is probed only when its logged fmt and k match these.
    _BLOOM_FMT = 2
    _BLOOM_DTYPES = frozenset(
        {"tinyint", "smallint", "int", "bigint", "string"}
    )

    def _bloom_root(self) -> Path:
        return Path(self.path) / "_bloom"

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

    def _write_bloom(self, layer: _Layer, rows: int | None = None) -> dict | None:
        """Build the layer's Bloom sidecar and return its log meta: one
        distributed pass over the layer's key column grouped by
        (part-file, word) with a bit_or combine — O(layer) at write time,
        the same moment the layer itself was just paid for; its files are
        word ranges sized, like the layer's, by AQE. None (no sidecar) for
        key dtypes whose string cast is not canonical across engines and
        probes (float/decimal/binary)."""
        import pyarrow.parquet as pq

        src = self._layer_df(layer)
        if dict(src.dtypes)[self.key_col] not in self._BLOOM_DTYPES:
            return None
        if rows is None:
            rows = sum(pq.read_metadata(f).num_rows for f in self._paths(layer))
        nwords = max(64, (rows * self._BLOOM_BITS_PER_KEY + 63) // 64)
        # store the part-file's BASENAME, never its absolute path: the
        # sidecar must survive a rename of the whole table directory
        # (cross-session fixtures publish via staging-dir rename)
        side = (
            src.select(
                F.substring_index(F.col("_metadata.file_path"), "/", -1).alias(
                    "__bfile"
                ),
                *self._bloom_cols(f"`{self.key_col}`", nwords),
            )
            .groupBy("__bfile", "__bword")
            .agg(F.bit_or("__bmask").alias("bits"))
            .select(
                F.col("__bword").alias("word"),
                F.col("__bfile").alias("file"),
                "bits",
            )
            .repartitionByRange("word")
            .sortWithinPartitions("word")
        )
        # overwrite: only a crashed earlier build of this sidecar can be
        # there, and the log never listed it
        side.write.mode("overwrite").parquet(str(self._bloom_root() / layer.name))
        return {"nwords": nwords, "k": self._BLOOM_K, "fmt": self._BLOOM_FMT}

    def build_blooms(self) -> None:
        """Backfill sidecars for every layer that lacks one — opt-in
        migration path for tables created before blooms were switched on
        (row counts come from parquet footers, metadata-only) — committed
        in one log swap."""
        layers = self._layers()
        built = [
            L if L.bloom else L._replace(bloom=self._write_bloom(L))
            for L in layers
        ]
        if built != layers:
            self._commit(built)
            self._sweep()

    def _bloom_candidates(self, layers: list[_Layer], keys: list):
        """Per-layer (by name) candidate part-file paths from the Bloom
        sidecars, or None for a layer without one (read it in full). ONE
        probe job for every layer (r12; guide §1.2/§2.6): word indices are
        nwords-relative, so the probe keys become (word, mask) rows through
        the SAME expressions the build used once per distinct nwords, each
        group's broadcast-join hits are unioned, and a single collect
        returns every candidate — a multi-layer mixed-size table used to
        pay one 0.5s driver round trip PER distinct sidecar size (4 of
        bloom_point_read's ~5s). Sidecar frames come from the layer-DF
        cache (plan handles). A file is a candidate iff some probed key's
        whole mask is present in its word — `bits & mask = mask`; absent
        (file, word) rows mean bits=0, i.e. provably key-free."""
        out: dict[str, list[str] | None] = {}
        by_nwords: dict[int, list[_Layer]] = {}
        for L in layers:
            b = L.bloom
            if b and b["fmt"] == self._BLOOM_FMT and b["k"] == self._BLOOM_K:
                by_nwords.setdefault(b["nwords"], []).append(L)
                out[L.name] = []  # provisional: no candidate files
            else:
                out[L.name] = None
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
            for L in group:
                f = _cached_layer_df(
                    self.spark, (str(self._bloom_root() / L.name),)
                ).withColumn("__blayer", F.lit(L.name))
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
        listed = {L.name: set(L.files) for L in layers}
        for r in all_hits.distinct().collect():
            # only files the log lists: a dirty compaction may have dropped
            # a bloom-positive file from its layer (its keys are served by
            # the folded layer that replaced it)
            if r["file"] in listed[r["__blayer"]]:
                out[r["__blayer"]].append(
                    os.path.join(self.path, r["__blayer"], r["file"])
                )
        return out

    # -- mutations ---------------------------------------------------------

    def _mutate(
        self, rows: dict[str, DataFrame], stamp: str | None = None,
        extra: dict | None = None,
    ) -> dict[str, int]:
        """THE mutation body: ``rows`` maps mutation kinds (``_OPS``' names)
        to relations keyed by the table's key column, shaped here to the
        table's columns (typed NULL where a relation has none) and written
        as ONE delta layer in ONE commit under ``stamp``, with ``extra``
        (the owner's record, see ``_commit``) in the same swap; then the
        inline compaction check. Per kind:

        - ``upsert``: whole rows (ROW), ``put``: cells to overwrite
          (SPARSE), ``increment``: additive cells (DELTA) — each keeps the
          table columns it carries;
        - ``delete``: row tombstones — only the key is kept;
        - ``cell_delete``: boolean columns named after table cells, TRUE
          deleting that cell of the key (CELLDEL); a row deleting no cell
          is dropped.

        One key's rows of the layer fold in ``_OPS`` order (delete first,
        so an upsert of the same layer re-inserts the key). Returns the
        rows written per kind, observed by the write job; a retry of an
        applied stamp writes nothing and returns zeros."""
        schema = self._schema()
        # a layer of ROW rows alone carries no __kind (the fold reads its
        # absence as ROW), and one without cell deletes no __delcols
        kinded = bool(set(rows) - {"upsert", "delete"})
        parts = []
        for op, df in rows.items():
            kept = {self.key_col} if op in ("delete", "cell_delete") else set(df.columns)
            cols = [
                (F.col(c) if c in kept else F.lit(None)).cast(t).alias(c)
                for c, t in schema.items()
            ]
            cols.append(F.lit(op == "delete").alias(_TOMBSTONE))
            if kinded:
                cols.append(F.lit(_OPS[op]).alias(_KIND))
            if "cell_delete" in rows:
                named = [
                    c for c in df.columns
                    if op == "cell_delete" and c in schema and c != self.key_col
                ]
                cols.append(
                    F.array_compact(
                        F.array(*[F.when(F.col(c), F.lit(c)) for c in named])
                    ).alias(_DELCOLS)
                    if named
                    else F.lit(None).cast("array<string>").alias(_DELCOLS)
                )
            part = df.select(*cols)
            if op == "cell_delete":
                part = part.where(F.size(_DELCOLS) > 0)
            parts.append(part)
        layer = functools.reduce(DataFrame.unionByName, parts)
        counts = self._write_layer(layer, "delta", stamp=stamp, extra=extra)
        self._maybe_compact()
        return counts

    def update(self, batch: DataFrame, stamp: str | None = None) -> int:
        """Upsert whole rows by key, last-writer-wins by ``ts`` (S5,
        HBaseTable.update, HBaseTable.scala:100-122): ONE appended delta
        layer — O(batch), the table is not rewritten. Returns rows applied
        (the reference's put accumulator, HBaseTable.scala:127) — observed
        inside the write job (see _write_layer), not a second pass.

        Whole-row means WHOLE row: the batch must carry exactly the
        table's columns. A missing column would silently NULL a cell —
        fail fast BEFORE writing instead; partial-row mutations are
        ``put``'s job.

        ``stamp`` names the layer and makes the call apply at most once:
        a retry with an applied stamp writes nothing and returns 0 (see
        ``_write_layer``; the same holds for put, increment and delete)."""
        expected = set(self._schema())
        got = set(batch.columns)
        if got != expected:
            missing, extra = sorted(expected - got), sorted(got - expected)
            raise ValueError(
                f"update() is whole-row: batch columns must match the table "
                f"(missing {missing}, unexpected {extra}); use put() for "
                f"partial rows"
            )
        return self._mutate({"upsert": batch}, stamp)["upsert"]

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
        carries the full data-column set (``_mutate`` shapes every
        mutation to it, add/drop_column compact first) and the merge
        preserves the lowest layer's column ORDER (``unionByName``; the
        fold takes payload order from frames[0]), which callers rely on to
        shape layers consistently."""
        layers = self._layers()
        if not layers:
            raise FileNotFoundError(f"no table at {self.path}")
        first = self._layer_df(layers[0])
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
        append. A retry with an applied ``stamp`` returns 0 (see
        ``update``)."""
        unknown = [c for c in batch.columns if c not in self._schema()]
        if unknown:
            raise ValueError(f"columns not in table schema: {unknown}")
        return self._mutate({"put": batch}, stamp)["put"]

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
        already drifted on the key/ts-column guard). A retry with an applied
        ``stamp`` adds nothing and returns 0 — the nonce check HBase runs
        on a retried Increment (see ``update``)."""
        return self.increment_many(batch, {counter_col: delta_col}, stamp=stamp)

    def increment_many(
        self, batch: DataFrame, counters: dict[str, str],
        stamp: str | None = None,
    ) -> int:
        """Atomic multi-cell add: ``counters`` maps counter column ->
        delta column in ``batch``; all cells of a key commit in ONE additive
        DELTA layer (one commit), so a consumer can never observe one
        counter updated and a sibling not — HBase's Increment carrying
        several qualifiers of a row in one atomic mutation
        (HBaseTable.increment folds a whole Increment per row,
        HBaseTable.scala:157-179). The read-time fold already adds each
        non-null numeric DELTA cell independently (``_merge_layers_fold``),
        so multi-cell layers need no new merge rule. Same O(batch) contract
        as ``increment``: pre-aggregated per key, zero-delta keys skipped,
        the table is never read."""
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
            *[F.sum(F.col(dcol)).alias(col) for col, dcol in counters.items()]
        )
        nonzero = functools.reduce(
            operator.or_,
            [F.coalesce(F.col(col), F.lit(0)) != 0 for col in counters],
        )
        return self._mutate({"increment": deltas.where(nonzero)}, stamp)["increment"]

    def delete(
        self, keys: DataFrame, columns: list[str] | None = None,
        stamp: str | None = None,
    ) -> int:
        """Row-level delete -> key-only tombstone rows (HBase Delete);
        column-level delete -> CELLDEL rows naming the dropped cells (HBase
        DeleteColumn) (S8/S11, HBaseTable.delete, HBaseTable.scala:181-212:
        null qualifier set => whole row, named qualifiers => those cells).
        O(batch): only the keys are written — the table is not read;
        resolution happens at merge/compaction like every other mutation.
        A retry with an applied ``stamp`` returns 0 (see ``update``)."""
        keys = keys.select(self.key_col).distinct()
        if not columns:
            return self._mutate({"delete": keys}, stamp)["delete"]
        # ts_col is rejected alongside key_col: the fold's ts-column
        # branch carries no CELLDEL case (the version timestamp is merge
        # bookkeeping, not a deletable cell), so accepting it would
        # silently ignore the delete
        schema = self._schema()
        bad = [c for c in columns if c not in schema or c in (self.key_col, self.ts_col)]
        if bad:
            raise ValueError(f"cannot column-delete: {bad}")
        cells = keys.select(
            self.key_col, *[F.lit(True).alias(c) for c in dict.fromkeys(columns)]
        )
        return self._mutate({"cell_delete": cells}, stamp)["cell_delete"]

    bulk_delete = delete

    # -- compaction --------------------------------------------------------

    def _maybe_compact(self) -> None:
        if not self._compaction_held and len(self._layers()) > self.compact_threshold:
            self.compact()

    @contextlib.contextmanager
    def _holding_compaction(self):
        """Defer the mutations' inline compaction to the end of the block —
        for a caller that reads, after its own write, a snapshot from
        before it (index upkeep reads the touched keys at the pre-write
        seq), which that compaction would fold away. The threshold check
        runs once when the block completes; a block that raises leaves it
        to the next mutation."""
        self._compaction_held = True
        try:
            yield
        finally:
            self._compaction_held = False
        self._maybe_compact()

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
        +inf instead — see _file_key_ranges). Post-conditions
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
        History BELOW keep_since folds away. Mutually exclusive with
        scope='dirty'.

        Every scope commits as ONE log swap (``_commit``) that lists the
        folded layer in place of what it folded, so a crash before the
        swap leaves the table as it was and one after it the compacted
        table; the replaced files go in the sweep that follows. The same
        swap raises the time-travel horizon to the folded layer's seq:
        ``df(as_of_layer=...)`` of an earlier snapshot raises
        ``HistoryFoldedError`` instead of serving a missing or partial
        base."""
        if keep_since is not None:
            if scope != "all":
                raise ValueError("keep_since requires scope='all'")
            self._compact_prefix(keep_since)
            return
        if scope == "dirty" and self._compact_dirty():
            return
        if scope not in ("all", "dirty"):
            raise ValueError(f"compact scope must be 'all' or 'dirty', got {scope!r}")
        self._write_layer(self.df(), "base", keep=[])

    def _compact_prefix(self, keep_since: int) -> None:
        """Fold layers with ``seq <= keep_since`` into one base that takes
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
        disk (reads filter them; full compact() purges). The commit raises
        the time-travel horizon to the folded seq."""
        layers = self._layers()
        fold = [L for L in layers if L.seq <= keep_since]
        if not fold or (len(fold) == 1 and fold[0].kind == "base"):
            return  # prefix already a single base (or nothing to fold)
        # enforce any earlier compaction's horizon before folding: a
        # prefix snapshot that is no longer readable must raise, not fold
        self._visible_layers(keep_since)
        m = fold[-1].seq
        folded = _merge_layers_fold(
            [self._layer_df(L) for L in fold], self.key_col, self.ts_col,
            keep_state=True,
        )
        self._write_layer(folded, "base", seq=m, keep=layers[len(fold):])

    # a string key whose footer max is this long (UTF-8 chars) is treated
    # as possibly-truncated and widened to +inf — defense in depth: the
    # parquet-mr writer this engine uses stores chunk stats EXACT or not
    # at all (verified: 104-char and 5000-char keys -> full value vs
    # has_min_max=False), but a foreign writer configured with
    # parquet.statistics.truncate.length could hand us a shortened max,
    # and a max that under-reports would silently strand delta keys in a
    # "clean" base file whose deltas are about to be deleted
    # Why 64 is sound HERE and only here: every file the table log lists
    # was written by _write_layer (this engine's Spark writer, whose
    # parquet stats truncation threshold is 64) — layers are not an
    # interchange format, a foreign file dropped into a layer dir is never
    # read, and create()/copy() never import foreign parquet verbatim.
    _STR_STAT_GUARD = 64

    def _file_key_ranges(self, layer: _Layer):
        """Per part-file (basename, key_min, key_max) from parquet footers —
        metadata only, no job. None when any keyed file lacks min/max
        stats (caller falls back to full compaction). For string keys a
        suspiciously long max widens to _TOP (+inf — see _STR_STAT_GUARD);
        a truncated MIN needs no guard: a prefix sorts <= the true min,
        so it is already a conservative lower bound."""
        import pyarrow.parquet as pq

        out = []
        for f, path in zip(layer.files, self._paths(layer)):
            md = pq.read_metadata(path)
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
        deltas = [L for L in layers if L.kind == "delta"]
        if not deltas:
            return True  # base only: nothing to fold
        if self._schema()[self.key_col] not in (
            "tinyint", "smallint", "int", "bigint", "string"
        ):
            return False  # binary/other: no trusted footer-range story
        base_ranges = []
        for b in (L for L in layers if L.kind == "base"):
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

        dirty = {
            b.name: {f for f, lo, hi in r if lo is not None and is_dirty(lo, hi)}
            for b, r in base_ranges
        }
        # fold the dirty slice exactly like df(): every contributing layer
        # is ITS OWN frame, in layer-seq order — a dirty base layer as a
        # frame over just its dirty files
        folded = [L for L in layers if L.kind == "delta" or dirty[L.name]]
        frames = [
            self._layer_df(L) if L.kind == "delta" else self.spark.read.parquet(*[
                p for f, p in zip(L.files, self._paths(L)) if f in dirty[L.name]
            ])
            for L in folded
        ]
        merged = self._resolve(frames, folded)
        # ONE commit swaps the deltas and the dirty files for the folded
        # layer: the base layers keep only their clean files (a base left
        # with none drops out), and history before the new layer becomes
        # unreadable (horizon). The folded layer is written even when the
        # fold emptied the dirty slice (all-tombstone case): an empty base
        # layer is readable (zero-row part-files carry the schema) and
        # keeps the horizon pointing at a real layer, so snapshot_seq() and
        # df(as_of_layer=snapshot_seq()) stay consistent
        clean = [
            L._replace(files=tuple(f for f in L.files if f not in dirty[L.name]))
            for L in layers
            if L.kind == "base"
        ]
        self._write_layer(merged, "base", keep=[L for L in clean if L.files])
        return True


def _nullable(dt):
    """``dt`` with every field, array element and map value nullable — the
    schema Spark infers when it reads a parquet file back."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _op_col(columns) -> "F.Column":
    """Each layer row's mutation kind, by ``_OPS``' names — the ``op`` of
    ``changes()`` and the key of ``_write_layer``'s counts. A layer
    without ``__kind`` holds ROW rows."""
    tomb = F.col(_TOMBSTONE) if _TOMBSTONE in columns else F.lit(False)
    op = F.when(tomb, F.lit("delete"))
    if _KIND in columns:
        k = F.col(_KIND)
        op = (
            F.when(k == _SPARSE, F.lit("put"))
            .when(k == _DELTA, F.lit("increment"))
            .when(k == _CELLDEL, F.lit("cell_delete"))
            .when(tomb, F.lit("delete"))
        )
    return op.otherwise(F.lit("upsert"))


def _observed_counts(df: DataFrame):
    """Attach a per-kind row-count observation to ``df`` — the engine's
    twin of the reference's write-path accumulators (A16,
    HBaseTable.scala:127,137,168): the counts are collected DURING the
    write job by the observe operator, so mutations report rows applied
    without a second pass over the batch (or, for deletes, over the
    table). Returns (observed_df, Observation); ``obs.get`` maps each of
    ``_OPS`` to its count after the write action."""
    from pyspark.sql import Observation

    obs = Observation()
    op = _op_col(df.columns)
    return df.observe(
        obs, *[F.count(F.when(op == name, 1)).alias(name) for name in _OPS]
    ), obs


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
    frames: list[DataFrame], key_col: str, ts_col: str, keep_state: bool = False,
    cuts: list[tuple] | None = None,
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

    ``cuts`` folds several snapshots in the same pass: ``cuts[i]`` lists
    the cut tags (snapshot seqs) frame i feeds, each row of the frame is
    repeated once per tag into a ``__cut`` column, the window partitions
    by (key, ``__cut``), and the result carries ``__cut`` last — one scan
    per frame and one shuffle for every snapshot.

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

    One key's rows inside one layer apply in ``_OPS`` order: ROW
    tombstones, ROW upserts, SPARSE, DELTA, CELLDEL — one more sort key of
    the same window, no extra shuffle. So a layer that tombstones a key
    and upserts it again (an index layer re-inserting an unchanged entry)
    leaves it live, and a put and an increment of one cell apply put
    first. Rows of one kind share their position; their relative order
    is row_number's tie-break, arbitrary, so a batch must not rely on
    it."""
    data_cols = [c for c in frames[0].columns if c not in (_TOMBSTONE, _KIND, _DELCOLS)]
    payload = [c for c in data_cols if c != key_col]
    dtypes = dict(frames[0].dtypes)
    q, s = _fold_q, _fold_s
    key_q, ts_q = q(key_col), q(ts_col)

    tagged = None
    for seq, f in enumerate(frames):
        kind = f"CAST({q(_KIND)} AS INT)" if _KIND in f.columns else f"CAST({_ROW} AS INT)"
        tomb = q(_TOMBSTONE) if _TOMBSTONE in f.columns else "false"
        sel = [
            key_q,
            f"CAST({seq} AS INT) AS __fseq",
            f"{kind} AS __fk",
            (q(_DELCOLS) if _DELCOLS in f.columns else "CAST(NULL AS ARRAY<STRING>)")
            + " AS __fdc",
            f"{tomb} AS __ftb",
            # the position inside one layer, in _OPS order — a column the
            # window passes share, not an ORDER BY expression each pass
            # would re-derive under a fresh name (Spark then re-sorts for
            # every pass it cannot match to its child's order)
            f"CASE WHEN {kind} = {_ROW} THEN (CASE WHEN {tomb} THEN 0 ELSE 1 END) "
            f"ELSE {kind} + 1 END AS __fko",
        ] + [q(c) for c in payload]
        if cuts is not None:
            tags = [f"CAST({int(c)} AS BIGINT)" for c in cuts[seq]]
            sel.append(
                (tags[0] if len(tags) == 1 else f"explode(array({', '.join(tags)}))")
                + " AS __cut"
            )
        t = f.selectExpr(*sel)
        tagged = t if tagged is None else tagged.unionByName(t)

    part = key_q if cuts is None else f"{key_q}, __cut"
    wo = f"PARTITION BY {part} ORDER BY __fseq, __fko"
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
    if cuts is not None:
        final_cols.append("__cut")

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
