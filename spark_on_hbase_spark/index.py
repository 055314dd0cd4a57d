"""Global secondary index over a KeyedTable column.

The HBase ecosystem's standard answer to "query by a non-key column
without scanning the table" (Apache Phoenix global secondary indexes;
the reference's HBase data model implies the need — its keyspace codecs
only ever accelerate PRIMARY-key access, keys.py territory): maintain a
second KeyedTable whose key is ``<value><sep><base_key>``, so every base
row's index entry sorts by indexed value first. Because KeyedTable layers
are range-partitioned and sorted by key with parquet min/max footer
stats, a value-equality probe on the index prunes to the few files whose
key range covers that value prefix — the "index range scan" made of the
storage engine's existing machinery, no new file format.

Consistency model (Phoenix's, honestly): index maintenance is write-side
— every base mutation routed through the index runs one transaction
(``_maintain``), base first: the base mutation lands, ONE read of the
touched keys at the snapshots just before and just after it
(``KeyedTable.semi_read`` with an ``as_of_layer`` pair) yields their old
and new rows, and ONE index layer (``KeyedTable._mutate``) tombstones the
old rows' entries and upserts the new rows' — one layer's tombstones fold
before its upserts, so an entry both rows imply stays live — and the
index holds exactly what the base fold kept. Two writes and one read per
mutation; the base table is never rewritten, and a batch within the
multiget cap pushes into every base layer scan as an IN filter, so the
sorted layout's footer stats prune to the few files covering the touched
keys — maintenance I/O tracks the batch, not the table.

Every index change — ``build``, maintenance, its retry and ``repair`` —
is ONE commit of the index table's log (``_write_entries``), which also
carries the skip-scan guideposts (see that section). Entries carry a
NULL ts: each index layer is derived from the base fold's result after
the base write committed, so the index resolves by layer order alone —
the later layer wins, whatever ts the base rows carry (a base row
re-inserted below a deleted row's ts after a compaction stays indexed).

The transaction is NOT atomic: a crash between its two writes leaves the
touched keys' old entries in place — STALE, pointing at rows that no
longer carry the value — and their new entries MISSING, until the writer
retries. Uncovered lookups therefore VERIFY: every lookup path re-applies
its typed predicate to the base rows it returns (Apache Phoenix's
read-time verification of global indexes), so a stale entry never
surfaces a row that does not match; covered lookups answer from the index
alone and can serve the stale values until the retry. The repair is
re-running the idempotent batch (Phoenix's is a WAL replay): pass
``stamp=`` and the base write and the index layer carry the layer stamps
``<stamp>`` and ``<stamp>_xi``, which KeyedTable applies at most once. A
retry whose base write already committed rebuilds the touched keys'
entries from the current base and the index itself (``_recover``), so it
converges whatever happened in between, and a full replay is a strict
no-op.
Mutating the base DIRECTLY bypasses maintenance and stales the index,
exactly as writing HBase rows behind Phoenix's back does.

NULL indexed values are skipped (SQL-index convention): a row whose
indexed column is NULL simply has no entry and is invisible to lookups.

Functional (expression) indexes (Phoenix's CREATE INDEX ON t(LOWER(name)))
are first-class: pass ``expr=F.lower("name")`` (or a dict of name ->
Column for several components) and the expression is computed inside
``_entries`` and every maintenance read — callers never hand-maintain a
derived base column. The expression's INPUT columns are resolved by
analysis (``_expr_inputs``), so the put/delete/increment fast paths stay
exact for derived components too.
"""

from __future__ import annotations

import itertools
import re
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_on_hbase_spark.table import _TOMBSTONE, KeyedTable, _in_list_pred

# unit separator: sorts below every printable char, so entries for a value
# group contiguously and never interleave with a longer value's entries
_SEP = "\x1f"

_INTEGRAL = frozenset({"tinyint", "smallint", "int", "bigint"})
_FLOATING = frozenset({"float", "double"})
_DECIMAL_RE = re.compile(r"decimal\((\d+),(\d+)\)")

# 2^63: offset-binary bias for the order-preserving integral encoding
_I64_BIAS = Decimal(9223372036854775808)

# dtypes whose Python values round-trip EXACTLY through json.dump/load —
# the eligibility bar for the skip-scan guidepost dictionary (a lossy
# round-trip would re-encode to a different ikey prefix and silently miss
# rows; dates/decimals/floats stay on the live-enumeration path)
_GUIDEPOST_DTYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "string", "boolean"}
)

_INT_RANGES = {
    "tinyint": (-(1 << 7), (1 << 7) - 1),
    "smallint": (-(1 << 15), (1 << 15) - 1),
    "int": (-(1 << 31), (1 << 31) - 1),
    "bigint": (-(1 << 63), (1 << 63) - 1),
}


def _fits_dtype(v, dtype: str) -> bool:
    """Does the Python probe value land in the column's domain unchanged
    by the cast the exact predicate applies? (Out-of-range ints WRAP
    under Spark's non-ANSI cast — such probes must take the live path,
    whose filter sees the same wrapped value the predicate does.)"""
    if dtype in _INT_RANGES:
        lo, hi = _INT_RANGES[dtype]
        return (
            isinstance(v, int) and not isinstance(v, bool) and lo <= v <= hi
        )
    if dtype == "boolean":
        return isinstance(v, bool)
    return isinstance(v, str)


def _order_preserving(dtype: str) -> bool:
    """Whether _ord_encode is order-preserving for this dtype — when it is
    NOT (float/double, decimal wider than 18 digits), range probes cannot
    use encoded ikey bounds for pruning and fall back to a full index scan
    with the exact typed predicate (correct, unpruned)."""
    if dtype in _FLOATING:
        return False
    m = _DECIMAL_RE.fullmatch(dtype)
    if m and int(m.group(1)) > 18:
        return False
    return True


def _ord_encode(col, dtype: str):
    """Order-preserving STRING encoding of an indexed value — the composite
    index key must sort by VALUE, not by the value's decimal digits
    ("10" < "9" lexicographically). The same idea as keys.py's big-endian
    byte codecs, expressed as string key material:

    - integral: offset-binary zero-pad — lpad(v + 2^63, 20, '0') computed
      in decimal(20,0) (branch-free: a sign-split `when` would overflow
      bigint on whichever branch the vectorized evaluator also computes).
      The biased value spans 0 .. 2^64-1 (at most 20 digits), so the fixed
      20-char digit string's lexicographic order == numeric order over the
      FULL bigint domain, negatives included — index RANGE scans prune
      files by parquet footer stats.
    - date/timestamp: ISO-8601 cast, naturally order-preserving.
    - decimal(p<=18, s): scaled to an exact integer, then offset-binary —
      range scans prune like integrals.
    - string: identity.
    - float/double and decimal(p>18): plain cast — NOT order-preserving;
      equality lookups still work (exact typed re-filter), and range scans
      fall back to an unpruned index scan (see _order_preserving)."""
    m = _DECIMAL_RE.fullmatch(dtype)
    if dtype in _INTEGRAL or (m and int(m.group(1)) <= 18):
        v = col
        if m:
            # decimal(p<=18, s): scale to an exact integer first — the
            # identity cast would sort '-1.00' above '-9.00' and '10.'
            # below '9.'; p<=18 guarantees the scaled value fits bigint
            v = (col.cast(f"decimal(19,{m.group(2)})") * F.lit(10 ** int(m.group(2))))
        biased = v.cast("bigint").cast("decimal(20,0)") + F.lit(_I64_BIAS)
        return F.lpad(biased.cast("decimal(20,0)").cast("string"), 20, "0")
    return col.cast("string")


class SecondaryIndex:
    """Index ``base[cols]`` -> base keys, stored as its own KeyedTable at
    ``path`` with schema (ikey, ivalue, base_key, ts). ``ts`` is always
    NULL: index layers resolve by layer order (see the module docstring).

    ``col`` may be a single column name or a LIST — a composite index
    (Phoenix multi-column indexes): ikey is the SEP-joined sequence of the
    columns' order-preserving encodings followed by the base key, so
    probes follow the LEADING-EDGE rule — ``lookup(v1)`` matches every
    entry whose first column is v1 regardless of the rest, ``lookup(v1,
    v2)`` fixes the first two, and ``lookup_range(lo, hi, prefix=(v1,))``
    fixes a leading prefix and ranges over the NEXT column. A probe that
    skips a leading column cannot use the index (same as any B-tree)."""

    def __init__(
        self,
        base: KeyedTable,
        col: str | list[str] | None = None,
        path: str | None = None,
        include: list[str] | None = None,
        expr: "F.Column | dict[str, F.Column] | None" = None,
        multi: str | None = None,
    ):
        """``include``: base columns COPIED into every index entry (Phoenix
        covered columns) — a ``lookup(value, covered=True)`` over them never
        touches the base at all, trading index width for a read path that is
        purely the value probe's footer-pruned files.

        ``expr``: a FUNCTIONAL (expression) index component (Phoenix
        functional indexes, CREATE INDEX ON t (LOWER(name))): a Column
        expression over base columns — or a dict name -> Column for
        several — computed inside ``_entries`` and every maintenance read,
        so callers never hand-maintain a derived base column. A bare
        Column is stored under the name ``fx``. Plain ``col`` components
        lead, ``expr`` components follow (composite leading-edge order).
        Probes pass the EXPRESSION's value: ``lookup(v)`` matches rows
        where expr(row) == v, with the same encoded-prune + exact-typed
        re-filter as plain columns. Which base columns an expression reads
        is resolved by analysis (see _expr_inputs), so the put/delete/
        increment fast paths stay exact: a put touching an input column
        maintains the index, one touching nothing the index reads skips
        maintenance entirely.

        ``multi``: name of ONE ``expr`` component whose expression yields
        an ARRAY — the entry relation EXPLODES it, minting one index entry
        per element (a GIN-style inverted/multi-valued index; HBase analog:
        one indexed KeyValue per derived term, the pattern the reference's
        secondary-index demos hand-roll per row,
        demo/src/main/scala/DemoSimpleApp.scala:41-58). A NULL or empty
        array mints no entries (the per-component NULL convention, element-
        wise). Because every path — bulk build, the put/update/delete
        read-before-write, scrutiny, repair — derives entries through
        ``_entries``, maintenance of all of a row's elements is automatic:
        tombstone the old row's element entries, insert the new row's.
        Lookups probe by ELEMENT value (``lookup(element)`` returns base
        rows whose array CONTAINS it); the stored component column carries
        the exploded element, so the typed re-filter and covered reads work
        unchanged. ``multi`` must be the LAST component (its explosion
        multiplies entries; a trailing position keeps leading-edge probes
        on scalar components meaningful)."""
        self.base = base
        if path is None:
            raise ValueError("path is required")
        self.cols = [] if col is None else ([col] if isinstance(col, str) else list(col))
        self.exprs: dict[str, "F.Column"] = (
            {} if expr is None else (expr if isinstance(expr, dict) else {"fx": expr})
        )
        bad = [n for n in self.exprs if n in set(self.cols)]
        if bad:
            raise ValueError(f"expr names collide with indexed columns: {bad}")
        self.cols += list(self.exprs)
        if not self.cols:
            raise ValueError("at least one indexed column or expr required")
        self.multi = multi
        if multi is not None:
            if multi not in self.exprs:
                raise ValueError(
                    f"multi component {multi!r} must be an expr component"
                )
            if self.cols[-1] != multi:
                raise ValueError(
                    f"multi component {multi!r} must be the LAST component"
                )
        self.include = list(include or [])
        self._inputs: set[str] | None = None  # lazy: base may not exist yet
        reserved = {"ikey", "ivalue", "base_key"}
        bad = [
            c
            for c in self.include
            if c in reserved or c in (base.key_col, base.ts_col) or c in self.cols
        ]
        if bad:
            raise ValueError(f"cannot cover columns {bad} (reserved or implicit)")
        bad = [n for n in self.exprs if n in reserved or n in (base.key_col, base.ts_col)]
        if bad:
            raise ValueError(f"expr names {bad} are reserved")
        self.tbl = KeyedTable(
            base.spark,
            path,
            key_col="ikey",
            ts_col=base.ts_col,
            compact_threshold=base.compact_threshold,
        )
        # order-preserving encodings are fixed by the indexed columns'
        # types; resolved lazily so the object can predate the base table
        self._dtypes: dict[str, str] | None = None

    def _enc(self, col, pos: int = 0) -> "F.Column":
        if self._dtypes is None:
            schema = self.base._schema()
            self._dtypes = {
                c: schema.get(c, "string") for c in self.cols if c not in self.exprs
            }
            if self.exprs:
                clash = [n for n in self.exprs if n in schema]
                if clash:
                    raise ValueError(
                        f"expr names shadow base columns: {clash} — pick "
                        f"names the base table does not use"
                    )
                derived = self.base.df().select(
                    *[e.alias(n) for n, e in self.exprs.items()]
                )
                dts = dict(derived.dtypes)
                if self.multi is not None:
                    # entries store the EXPLODED element, so the component's
                    # index dtype is the array's element type
                    adt = dts[self.multi]
                    if not (adt.startswith("array<") and adt.endswith(">")):
                        raise ValueError(
                            f"multi component {self.multi!r} must be an "
                            f"array expression, got {adt}"
                        )
                    dts[self.multi] = adt[len("array<"):-1]
                self._dtypes.update(dts)
        return _ord_encode(col, self._dtypes[self.cols[pos]])

    def _expr_inputs(self) -> set[str]:
        """Base columns the functional expressions actually READ — resolved
        by analysis, not parsing: for each base column, selecting the
        expressions over the base WITHOUT that column fails analysis iff
        some expression references it. The analysis loop is plan-only;
        one tiny one-row job (the all-null probe below) runs in addition,
        and the whole result is memoized — the maintenance fast-path
        gates use this so a put touching an expression's input maintains
        the index and one touching nothing the index reads skips it."""
        if self._inputs is None:
            inputs: set[str] = set()
            if self.exprs:
                # the KEY column is probed too: an expression reading only
                # the key (e.g. a key-bucket index) must register it, or
                # put/increment batches — which always carry the key —
                # would take the no-maintenance fast path and create rows
                # with no index entry (review-pass finding)
                probe = self.base.df()
                sel = [e.alias(n) for n, e in self.exprs.items()]
                for c in probe.columns:
                    try:
                        probe.drop(c).select(*sel)
                    except Exception:
                        inputs.add(c)
                # coalesce/constant-style expressions are NON-NULL even
                # when every input is: a row-creating batch that carries
                # none of the inputs still mints an entry (fx='?'), so
                # the KEY — present in every batch — must gate
                # maintenance for such indexes (second review pass: the
                # first key-column fix covered only key-READING exprs).
                # Probed ONCE on an all-null row (the one real job on
                # this otherwise plan-only path; memoized with the
                # inputs); null-on-null exprs (lower, substring,
                # arithmetic) keep their fast path. An expression that
                # RAISES on null input (a strict UDF) resolves
                # conservatively: the key gates, maintenance always runs
                # — correctness over the fast path.
                struct = self.base.df().schema
                try:
                    null_row = self.base.spark.createDataFrame(
                        [tuple(None for _ in struct.fields)], struct
                    )
                    probed = null_row.select(*sel).first()
                    nonnull_on_null = any(v is not None for v in probed)
                except Exception:
                    nonnull_on_null = True
                if nonnull_on_null:
                    inputs.add(self.base.key_col)
            self._inputs = inputs
        return self._inputs

    def _maintained_inputs(self) -> set[str]:
        """Every base column whose change can invalidate an index entry:
        plainly indexed columns, covered columns, and the functional
        expressions' input columns."""
        plain = [c for c in self.cols if c not in self.exprs]
        return set(plain) | set(self.include) | self._expr_inputs()

    def _augment(self, rows: DataFrame) -> DataFrame:
        """Materialize the functional expression columns onto base rows —
        the one place expressions are computed, shared by build, every
        maintenance read, the scrutiny audit and the verified lookups."""
        for n, e in self.exprs.items():
            rows = rows.withColumn(n, e)
        return rows

    def _entries(self, rows: DataFrame) -> DataFrame:
        """Index rows for the given base rows — rows with ANY indexed
        column NULL are skipped (SQL-index convention, per component).
        Functional components are computed here, so every caller (bulk
        build, maintenance reads, scrutiny) sees identical derivations."""
        live = self._augment(rows)
        if self.multi is not None:
            # force dtype resolution first: it validates the multi
            # component IS an array (a clear ValueError beats the
            # AnalysisException explode would raise below)
            self._enc(F.col(self.cols[0]), 0)
            # one entry per array element; explode drops NULL and empty
            # arrays (no entries — the NULL convention, element-wise)
            live = live.withColumn(self.multi, F.explode(self.multi))
        for c in self.cols:
            live = live.where(F.col(c).isNotNull())
        parts = []
        for i, c in enumerate(self.cols):
            parts.append(self._enc(F.col(c), i))
            parts.append(F.lit(_SEP))
        return live.select(
            F.concat(*parts, F.col(self.base.key_col).cast("string")).alias("ikey"),
            F.concat_ws(_SEP, *[self._enc(F.col(c), i) for i, c in enumerate(self.cols)]).alias("ivalue"),
            F.col(self.base.key_col).alias("base_key"),
            F.lit(None).cast(dict(live.dtypes)[self.base.ts_col]).alias(self.base.ts_col),
            # the indexed columns again, ORIGINAL names and types: ivalue is
            # a string (composite-key material); covered reads must return
            # the base's typed values without a lossy string round-trip
            *[F.col(c) for c in self.cols],
            *[F.col(c) for c in self.include],
        )

    # -- consistency tooling -------------------------------------------------

    def _entry_fingerprint(self) -> "F.Column":
        """md5 over every READ-OBSERVABLE entry field — ikey, the typed
        indexed values, and every covered column. Each field is
        hashed to a FIXED-WIDTH 32-hex token first and the tokens
        concatenated without a separator: a separator-joined hash is
        boundary-ambiguous — ('a\\x1fb','c') and ('a','b\\x1fc') join
        identically (and collide in ikey too) yet store DIFFERENT typed
        values that the exact lookup predicate distinguishes, so a
        joined hash left scrutiny blind to that divergence (review-pass
        finding); likewise a value equal to a null-sentinel literal
        collided with NULL. NULL fields become a 32-char token outside
        the hex alphabet, unambiguous by construction. ivalue and
        base_key are functions of ikey and the ts is always NULL, so
        they add nothing. Two entries with equal fingerprints are
        interchangeable to every read path, including
        ``lookup(covered=True)``."""
        cols = ["ikey", *self.cols, *self.include]
        return F.md5(
            F.concat(
                *[
                    F.coalesce(
                        F.md5(F.col(c).cast("string")), F.lit("n" * 32)
                    )
                    for c in cols
                ]
            )
        )

    def _diff(self, deep: bool = True) -> DataFrame:
        """The one expected-against-stored full-outer diff behind
        ``scrutiny`` and ``repair``: a row per diverging ikey, with the
        entry the CURRENT base implies (NULL columns when none),
        ``__efp`` (its fingerprint, NULL when no entry is expected) and
        ``__afp`` (the stored entry's, NULL when none is stored). Without
        ``deep`` the fingerprints are constants, so only key existence
        diverges."""
        fp = self._entry_fingerprint() if deep else F.lit("1")
        expected = self._entries(self.base.df()).withColumn("__efp", fp)
        actual = self.tbl.df().select("ikey", fp.alias("__afp"))
        efp, afp = F.col("__efp"), F.col("__afp")
        return expected.join(actual, "ikey", "full_outer").where(
            afp.isNull() | efp.isNull() | (efp != afp)
        )

    def scrutiny(self, deep: bool = True) -> DataFrame:
        """Index consistency audit (Phoenix's IndexScrutinyTool): the
        status projection of ``_diff``, the stored entries against the
        entries the CURRENT base implies. Returns (ikey, status) with
        status 'missing' (a live base row has no entry — a lookup would
        silently drop it), 'orphaned' (an entry points at a row that no
        longer exists or no longer carries that value — a lookup would
        resurrect or duplicate), or — with ``deep`` (the default) —
        'stale_covered' (the ikey matches but the entry's typed indexed
        or covered values diverge from the base row:
        ``lookup(covered=True)`` would serve the stale value even though
        the key set looks consistent). ``deep=False`` restricts the audit
        to key existence — no tuple is hashed at all, same two scans.
        Empty result == consistent. Two table-sized scans, zero writes —
        the audit you run after suspecting writes bypassed the index."""
        status = (
            F.when(F.col("__afp").isNull(), F.lit("missing"))
            .when(F.col("__efp").isNull(), F.lit("orphaned"))
            .otherwise(F.lit("stale_covered"))
        )
        return self._diff(deep).select("ikey", status.alias("status"))

    def repair(self) -> dict:
        """Reconcile the index to the CURRENT base (Phoenix's scrutiny
        repair) in ONE index commit (``_write_entries``): upserts of the
        missing and stale_covered entries plus tombstones of the orphaned
        ones — ``scrutiny``'s two audit scans but O(divergence) writes, so
        fixing a few behind-the-back rows never rewrites the index.
        Entries carry no ts (see the module docstring), so an upsert
        lands whatever ts the base row has — also after a behind-the-back
        delete, compaction and lower-ts reinsert. A consistent index
        writes nothing.

        The commit is the only crash point: before the swap the index is
        unchanged and a re-run repairs it, after it the index is repaired
        (pinned by test_crashed_repair_rerun_converges). Returns
        {'missing': n, 'orphaned': n, 'stale_covered': n}."""
        # one audit join feeds the counts, the upserts, the tombstones and
        # the guidepost union: divergence is O(small) by assumption, so
        # materializing it once is cheap
        diff = self._diff().localCheckpoint()
        efp, afp = F.col("__efp"), F.col("__afp")
        counts = diff.agg(
            F.count(F.when(afp.isNull(), 1)).alias("missing"),
            F.count(F.when(efp.isNull(), 1)).alias("orphaned"),
            F.count(F.when(efp.isNotNull() & afp.isNotNull(), 1)).alias("stale_covered"),
        ).first().asDict()
        if any(counts.values()):
            self._write_entries(
                diff.where(efp.isNotNull()).drop("__efp", "__afp"),
                diff.where(efp.isNull()).select("ikey"),
                None,
            )
        return counts

    # -- lifecycle ---------------------------------------------------------

    def build(self) -> "SecondaryIndex":
        """One shuffle over the base's merged view — the bulk index build
        (Phoenix's CREATE INDEX ASYNC + IndexTool MR job, as one write) —
        committed in ONE swap of the index log together with the
        skip-scan guidepost record derived from the same entries. Raises
        on an existing index, as ``KeyedTable.create`` does: ``drop``
        first to rebuild."""
        if self.tbl.exists():
            raise FileExistsError(f"index already exists at {self.tbl.path}")
        entries, record = self._entries(self.base.df()), None
        if self._guidepost_cols():
            # the record's aggregations and the write read the entries once
            entries = entries.localCheckpoint(eager=False)
            record = self._leading(entries, small=False)
        self.tbl._write_layer(entries, "base", extra=record)
        return self

    def drop(self) -> None:
        self.tbl.drop()

    # -- index-maintaining mutations ----------------------------------------

    def update(self, batch: DataFrame, stamp: str | None = None) -> int:
        """Whole-row upsert through the index — ``base.update`` inside the
        maintenance transaction (see ``_maintain``). The new entries come
        from the rows the base fold KEPT, so a batch row that loses
        last-writer-wins, or one of two batch rows for the same key,
        leaves no entry behind; a loser's unchanged entry is re-inserted
        as it was.

        ``stamp`` makes the transaction retry-idempotent: the base write
        carries ``<stamp>`` and the index layer ``<stamp>_xi``, each
        committed in the same log swap as its layer, and a
        KeyedTable write whose stamp already committed writes nothing — a
        retry after a crash between the two writes only finishes the
        index layer.

        Returns rows applied by THIS call's base write; a stamped retry
        whose base write already committed in a previous attempt returns
        0 (the rows were counted when they actually landed)."""
        return self._maintain(self.base.update, batch, stamp)

    def delete(
        self,
        keys: DataFrame,
        columns: list[str] | None = None,
        stamp: str | None = None,
    ) -> int:
        """Row delete through the index (the rows, then one index layer
        tombstoning their entries), or — with ``columns`` — a CELL delete
        (HBase DeleteColumn through the index): nulling an INDEXED column
        removes the keys' entries (the NULL convention — the rows become
        invisible to lookups), nulling only COVERED columns or functional
        inputs re-points the entries at the post-delete rows (an
        expression can stay non-null over a nulled input, e.g. coalesce),
        and nulling columns the index never reads is exactly
        ``base.delete``. All of it falls out of ``_maintain``'s diff of
        the old and new rows' entries. ``stamp``: same retry-idempotence
        contract as ``update``."""
        return self._maintain(
            self.base.delete, keys, stamp,
            touches=not columns or bool(set(columns) & self._maintained_inputs()),
            columns=columns,
        )

    def increment(
        self,
        batch: DataFrame,
        counter_col: str,
        delta_col: str = "delta",
        stamp: str | None = None,
    ) -> int:
        """Counter increment through the index (HBase's server-side add):
        when ``counter_col`` is neither indexed nor covered this is exactly
        ``base.increment``; otherwise the maintenance transaction runs.
        No LWW gate: increments are unconditional adds.

        The key-column check mirrors put's gate: when a functional
        component reads the KEY, an increment that CREATES a row (HBase
        increments upsert) must index it even though the counter column
        itself is nothing the index reads — skipping maintenance left the
        new row invisible to lookups (review-pass finding)."""
        return self._maintain(
            self.base.increment, batch, stamp,
            touches=bool({counter_col, self.base.key_col} & self._maintained_inputs()),
            counter_col=counter_col, delta_col=delta_col,
        )

    def put(self, batch: DataFrame, stamp: str | None = None) -> int:
        """Cell-level put through the index: batch columns overwrite (nulls
        keep stored values — the SPARSE fold's contract), absent columns
        keep stored values. When the batch touches NO column the index
        reads this is exactly ``base.put`` — the fast path partial writes
        deserve; otherwise the maintenance transaction runs, and the new
        entries come from the post-put rows as the base fold resolved
        them (ts gate included)."""
        return self._maintain(
            self.base.put, batch, stamp,
            touches=bool(set(batch.columns) & self._maintained_inputs()),
        )

    def _maintain(
        self, write, batch: DataFrame, stamp: str | None,
        touches: bool = True, **kw,
    ) -> int:
        """The one maintenance transaction every indexed mutation runs,
        base first:

        1. note ``a = base.snapshot_seq()``;
        2. run the base ``write(batch, **kw)`` under the caller's stamp,
           its inline compaction held until step 4 has landed (it would
           fold snapshot ``a`` away);
        3. read the touched keys ONCE, at ``(a, latest)`` — one
           ``semi_read`` with an ``as_of_layer`` pair;
        4. commit ONE index layer (stamp ``<stamp>_xi``,
           ``_write_entries``): tombstones of the cut-``a`` rows' entries
           and upserts of the latest cut's.

        Row deletes and nulled plain components simply have no new
        entries. ``touches=False`` (the batch changes nothing the index
        reads) runs the base write alone.

        A stamped call whose base stamp is already applied is the retry of
        a crash between steps 2 and 4: snapshot ``a`` is unknown and may be
        folded away, so ``_recover`` finishes the index layer from the
        index itself — unless that layer committed too, and nothing is
        left to do."""
        if not touches:
            return write(batch, stamp=stamp, **kw)
        # the base write and the maintenance read's key collect each read
        # the batch: an O(batch) lazy checkpoint runs its lineage (for a
        # driver-local batch, a Python worker pass) once
        batch = batch.localCheckpoint(eager=False)
        xi = None if stamp is None else f"{stamp}_xi"
        if stamp is not None and stamp in self.base.applied_stamps():
            if xi not in self.tbl.applied_stamps():
                self._recover(batch, xi)
            return 0
        with self.base._holding_compaction():
            a = self.base.snapshot_seq()
            n = write(batch, stamp=stamp, **kw)
            # lazy checkpoint: the new and the old entries each read both
            # cuts' states
            states = self.base.semi_read(
                batch, as_of_layer=(a, self.base.snapshot_seq())
            ).localCheckpoint(eager=False)
            cut = F.col("__cut")
            self._write_entries(
                self._entries(states.where(cut > a).drop("__cut")),
                self._entries(states.where(cut == a).drop("__cut")),
                xi,
            )
        return n

    def _recover(self, batch: DataFrame, stamp: str) -> None:
        """Finish a stamped transaction whose base write committed and whose
        index layer did not. The pre-write rows are gone or unknown (a
        compaction, or another indexed write to the same keys, may have
        run since the crash), so the old side is every STORED entry of a
        touched base key, tombstoned in the layer that upserts the current
        rows' entries. That probe is by base key, which the value-ordered
        index cannot prune — O(index), on the retry path only."""
        current = self.base.semi_read(batch).localCheckpoint(eager=False)
        keys = batch.select(F.col(self.base.key_col).alias("base_key")).distinct()
        stored = self.tbl.df().join(F.broadcast(keys), "base_key", "left_semi")
        self._write_entries(
            self._entries(current), stored.localCheckpoint(eager=False), stamp
        )

    def _write_entries(self, new: DataFrame, old: DataFrame, stamp) -> None:
        """ONE index commit (``KeyedTable._mutate``): a layer tombstoning
        every ``old`` ikey and upserting the ``new`` entries — an ikey in
        both reads live, since one layer's tombstones fold before its
        upserts — and in the same log swap the guidepost record unioned
        with ``new``'s leading values. Callers hand in entries derived
        from a checkpointed read, so the record's aggregation and the
        layer write re-run only the cheap entry derivation."""
        self.tbl._mutate(
            {"delete": old, "upsert": new}, stamp, extra=self._noted(new)
        )

    # -- reads ---------------------------------------------------------------

    def lookup(self, *values, covered: bool = False) -> DataFrame:
        """Base rows whose indexed column currently equals ``value``, found
        WITHOUT filtering the base: probe the index (the equality predicate
        reaches the index table's parquet scan, where the value-prefixed
        sorted layout prunes by footer stats), then read the matched keys
        from the base with ``semi_read`` and keep the rows that still hold
        the value (see ``_finish``). At 100 TB the
        index probe reads a value's few files and the base side is a keyed
        multiget or semi-join — never a full-table predicate scan.

        ``covered=True`` answers from the index ALONE — (key, value,
        included columns), zero base I/O — valid only when the index was
        built with ``include`` covering every column the caller needs.

        On a composite index, pass 1..len(cols) values: a LEADING PREFIX
        probe (Phoenix's leading-edge rule) -- unfixed trailing columns
        match everything.

        POINT-IN-TIME semantics (like ``KeyedTable.df``, which pins the
        layer list when called): the uncovered path resolves the matched
        key set at CALL time — a lookup constructed before a mutation
        answers with pre-mutation state. Re-call after mutating."""
        if not 1 <= len(values) <= len(self.cols):
            raise ValueError(
                f"lookup takes 1..{len(self.cols)} leading values, got {len(values)}"
            )
        exact = self._typed_pred(values)
        if not all(_order_preserving(self._dtype_of(i)) for i in range(len(values))):
            # float / wide-decimal encodings are printed casts: the
            # literal's string form can differ from the stored one, so
            # encoded equality bounds could miss the true match — scan
            # unpruned, the typed predicate is the truth
            return self._read(None, None, covered, exact)
        prefix = self._prefix_enc(values)
        return self._read(prefix, prefix, covered, exact)

    @staticmethod
    def _or_tree(preds: list):
        """OR a predicate list as a BALANCED tree (depth log2 n). A naive
        left-deep ``reduce(|)`` chain at the skip-scan budget (1000 ranges)
        overflows the JVM stack inside Catalyst's expression conversion —
        found live when lookup_in probed 600 groups."""
        while len(preds) > 1:
            preds = [
                preds[i] | preds[i + 1] if i + 1 < len(preds) else preds[i]
                for i in range(0, len(preds), 2)
            ]
        return preds[0] if preds else None

    def lookup_in(self, values: list, covered: bool = False) -> DataFrame:
        """Multi-value probe on the LEADING indexed column — the index-side
        IN, as ONE typed ``IN`` predicate on the stored value column
        itself (not the encoded ikey): Spark converts a large IN to an
        O(1)-per-row InSet hash AND pushes it to the parquet scan, where
        the value-prefixed sorted layout makes the value column's own
        footer min/max stats prune files (under
        ``spark.sql.parquet.pushdown.inFilterThreshold`` each value
        pushes exactly; above it Spark pushes the [min, max] envelope —
        coarser pruning, same answers). An encoded per-value range OR —
        the skip scan's tool, tried first here — costs O(|values|) per
        ROW and measured 1.7x slower than the scan it was meant to beat
        at 600 values; equality on a leading column never needs the
        encoding anyway, so exactness holds for every dtype (the typed
        literals are cast to the column's own type — float-vs-double
        promotion can't mis-match). This is the batch shape downstream
        maintainers need — e.g. a MaterializedAgg recomputing MIN/MAX for
        the groups a refresh touched probes all affected groups in one
        read instead of |groups| lookups or a base scan.

        Tombstone rule (the invariant _read's docstring pins for ikey
        probes): entry tombstones carry ONLY the ikey — their value
        columns are NULL — so a per-layer filter on the value column alone
        would drop them and RESURRECT deleted entries in the fold (found
        in review: a migrated key's old-group entry came back and a
        MIN/MAX refresh aggregated it into the wrong group). The scan
        predicate therefore keeps every tombstone row (``pred OR
        __tombstone`` — sound because an entry's value lives in its ikey,
        so no surviving ikey's version list is split by the filter; keys
        kept only via their tombstones fold to deleted and drop out), and
        the typed IN re-applies POST-fold as the exactness truth."""
        import numbers

        vals = list(dict.fromkeys(values))  # dedupe, keep caller order
        if not vals:  # empty IN-list: schema-correct empty result
            nothing = F.lit(False)
            return self._finish(self.tbl.df().where(nothing), covered, nothing)
        if all(
            isinstance(v, numbers.Integral) and not isinstance(v, bool)
            for v in vals
        ):
            # the shared one-parse IN builder (py4j round-trip per isin
            # literal is seconds at thousand-value batches); optimizes to
            # InSet + pushed parquet filter
            def pred():
                return _in_list_pred(self.base.spark, self.cols[0], vals)
        else:
            # typed-equality balanced OR: exact for strings/floats (each
            # literal cast to the column dtype), depth log2 n
            def pred():
                return self._or_tree(
                    [
                        F.col(self.cols[0]) == F.lit(v).cast(self._dtype_of(0))
                        for v in vals
                    ]
                )

        scan_pred = pred() | F.col(_TOMBSTONE)
        probe = self.tbl._layer_frames(scan_pred, None).where(pred())
        return self._finish(probe, covered, pred())

    def lookup_range(self, lo, hi, prefix: tuple = (), covered: bool = False) -> DataFrame:
        """Base rows whose indexed column is in ``[lo, hi]`` (inclusive) —
        the index RANGE SCAN, the second half of what Phoenix indexes are
        for. Because the key material is ORDER-PRESERVING encoded (see
        _ord_encode) and the index layers sort by the value-prefixed ikey,
        the interval becomes an ikey range that prunes the index's parquet
        scans to the contiguous file run covering it — O(result) I/O at
        any table size. Pass ``covered=True`` under the same contract as
        ``lookup``. Not order-correct for float/double indexed columns
        (index a scaled integral instead).

        On a composite index, ``prefix`` fixes the leading columns and the
        range applies to the NEXT column (B-tree semantics: a range on a
        non-leading column without its prefix cannot use the index)."""
        if len(prefix) >= len(self.cols):
            raise ValueError("prefix must leave at least one column for the range")
        pos = len(prefix)
        exact = self._typed_pred(prefix) if prefix else None
        rng = (F.col(self.cols[pos]) >= F.lit(lo)) & (F.col(self.cols[pos]) <= F.lit(hi))
        exact = rng if exact is None else (exact & rng)
        unpruned_range = not _order_preserving(self._dtype_of(pos))
        if (
            not unpruned_range
            and isinstance(hi, str)
            and any(ord(ch) < 0x20 for ch in hi)
        ):
            # string hi bounds containing chars below 0x20 (tab, newline,
            # the separator): a true-match value that is a proper PREFIX of
            # hi has ikey = value ++ 0x1f ++ key, which sorts ABOVE any
            # hi ++ suffix bound at hi's low char — no finite encoded upper
            # bound is a superset, so fall back to the exact predicate
            unpruned_range = True
        if unpruned_range:
            if prefix and all(
                _order_preserving(self._dtype_of(i)) for i in range(len(prefix))
            ):
                # the order-preserving LEADING prefix still prunes (its
                # equality framing is content-safe); only the range column
                # is left entirely to the typed predicate
                pfx = self._prefix_enc(prefix)
                return self._read(pfx, pfx, covered, exact)
            return self._read(None, None, covered, exact)
        lo_enc, hi_enc = self._enc(F.lit(lo), pos), self._enc(F.lit(hi), pos)
        if prefix:
            pfx = self._prefix_enc(prefix)
            lo_enc = F.concat(pfx, F.lit(_SEP), lo_enc)
            hi_enc = F.concat(pfx, F.lit(_SEP), hi_enc)
        return self._read(lo_enc, hi_enc, covered, exact)

    # skip-scan prefix budget: more distinct leading tuples than this and
    # the union-of-ranges plan stops paying for itself — degrade to one
    # full index scan with the exact typed predicate (still index-only)
    MAX_SKIP_PREFIXES = 1000

    # guidepost record cap PER SET (a column's values, or the tuples): a
    # set with more distinct members than this stops being tracked
    # (overflow) — skip scans needing it fall back to live enumeration,
    # which has its own budget
    GUIDEPOST_CAP = 4096

    # -- skip-scan guideposts ------------------------------------------------
    #
    # Phoenix keeps table statistics ("guideposts", SYSTEM.STATS) so its
    # SkipScanFilter can enumerate leading-column values without scanning.
    # Ours is a small JSON record in the index table's own log (its
    # ``extra``): the distinct values of every ENUMERABLE leading column
    # (everything before the last component — the only positions a skip
    # scan ever enumerates) and the distinct observed leading TUPLES, each
    # None once past GUIDEPOST_CAP. ``build`` derives it from the entries
    # it writes; every later index commit either unions into it the
    # leading values of the entries it writes (``_write_entries``) or keeps
    # it as it is (compaction), always in the same log swap as those
    # entries. So at every commit point the record is a superset of the
    # leading values present in live entries: deletes never shrink it (a
    # stale value probes an empty range, pruned for free by footer stats),
    # and the exact typed predicate re-filters every probe. An index whose
    # log holds no record (built before the record existed) enumerates
    # live; maintenance never starts a record from a batch alone, which
    # would drop every older row from skip scans. At 100 TB this turns the
    # skip scan's enumeration from one column-pruned index scan per probe
    # into a metadata read — O(|record| x fixed + result) total.

    def _guidepost_cols(self) -> list[str]:
        """Leading columns eligible for guidepost tracking: all components
        before the LAST one, restricted to exactly-JSON-round-tripping
        dtypes (see _GUIDEPOST_DTYPES). Empty for a one-component index,
        which never skip-scans."""
        if len(self.cols) < 2:
            return []
        return [
            c
            for i, c in enumerate(self.cols[:-1])
            if self._dtype_of(i) in _GUIDEPOST_DTYPES
        ]

    def _tuple_cols(self) -> list[str]:
        """Leading columns of the TUPLE record: the per-column value sets
        answer a skip scan with their CROSS PRODUCT, which over-probes
        when the live tuple set is sparse (two ~30-value leading columns
        give ~900 mostly-empty probe ranges — or a budget overflow — where
        live enumeration would find the few real tuples), so the record
        also holds the observed leading tuples and the skip scan prefers
        them. Tracked only when EVERY leading position round-trips JSON
        exactly — a partial tuple cannot be probed."""
        gcols = self._guidepost_cols()
        return gcols if gcols == list(self.cols[:-1]) else []

    def _leading(self, e: DataFrame, small: bool) -> dict:
        """The guidepost record of entry rows ``e``: ``{"cols": {col:
        values}, "tuples": value-lists}`` ("tuples" only when
        ``_tuple_cols`` tracks any), None for a set past GUIDEPOST_CAP.
        ``small`` (maintenance batches, O(batch) by contract) collects
        everything in ONE aggregation and caps driver-side; the
        table-sized path (``build``) runs a countDistinct pre-pass so
        collect_set never materializes a high-cardinality column's full
        distinct set, and caps its tuples with limit(CAP + 1)."""
        gcols, tcols = self._guidepost_cols(), self._tuple_cols()
        cap = self.GUIDEPOST_CAP

        def capped(vals):
            vals = [list(v) if isinstance(v, tuple) else v for v in vals]
            return None if len(vals) > cap else vals

        if small:
            row = e.agg(
                *[F.collect_set(c).alias(c) for c in gcols],
                *([F.collect_set(F.struct(*tcols)).alias("__t")] if tcols else []),
            ).first()
            rec = {"cols": {c: capped(row[c]) for c in gcols}}
            if tcols:
                rec["tuples"] = capped(row["__t"])
            return rec
        counts = e.agg(*[F.countDistinct(c).alias(c) for c in gcols]).first()
        keep = [c for c in gcols if counts[c] <= cap]
        row = e.agg(*[F.collect_set(c).alias(c) for c in keep]).first() if keep else {}
        rec = {"cols": {c: list(row[c]) if c in keep else None for c in gcols}}
        if tcols:
            rec["tuples"] = capped(
                e.select(*tcols).distinct().limit(cap + 1).collect()
            )
        return rec

    def _noted(self, e: DataFrame) -> dict | None:
        """The guidepost record to commit with entries ``e``: the
        committed record unioned with ``e``'s leading values (a set past
        GUIDEPOST_CAP, or already past it, becomes None), or None — keep
        what the log holds — for an index without a record."""
        rec = self.tbl._log()["extra"]
        if rec is None:
            return None
        add = self._leading(e, small=True)

        def union(old, new):
            if old is None or new is None:
                return None
            out = {(tuple(v) if isinstance(v, list) else v): v for v in old + new}
            return None if len(out) > self.GUIDEPOST_CAP else list(out.values())

        out = {"cols": {c: union(rec["cols"].get(c), v) for c, v in add["cols"].items()}}
        if "tuples" in add:
            out["tuples"] = union(rec.get("tuples"), add["tuples"])
        return out

    def _guidepost_tuples(self, prefix_cols: list[str], fixed: dict):
        """Skip-scan prefix tuples from the guidepost record alone — zero
        index I/O. Returns a list of value-lists ordered like
        ``prefix_cols``, or ``None`` when the record cannot answer
        (absent, an overflowed column, or past the probe budget — the
        caller then live-enumerates, whose fixed-column constraints may
        still fit the budget)."""
        rec = self.tbl._log()["extra"]
        if rec is None:
            return None
        for c in prefix_cols:
            if c in fixed and not _fits_dtype(
                fixed[c], self._dtype_of(self.cols.index(c))
            ):
                # the exact predicate CASTS the probe value (wrapping
                # out-of-range ints, non-ANSI), but the guidepost path
                # would encode it raw and probe ranges the wrapped
                # value's entries never occupy — let the live path
                # (which filters by the cast value) answer instead
                return None
        if rec.get("tuples") is not None:
            # the observed tuples cover cols[:-1], and the last prefix
            # column is always fixed: project onto prefix_cols, filter by
            # the fixed equalities, dedupe — exactly the live
            # enumeration's answer, from metadata alone
            pos_in = {c: i for i, c in enumerate(self._tuple_cols())}
            out = {
                tuple(t[pos_in[c]] if c in pos_in else fixed[c] for c in prefix_cols)
                for t in rec["tuples"]
                if all(t[pos_in[c]] == v for c, v in fixed.items() if c in pos_in)
            }
            if len(out) > self.MAX_SKIP_PREFIXES:
                return None
            return [list(t) for t in sorted(out)]
        per_col, total = [], 1
        for c in prefix_cols:
            if c in fixed:
                per_col.append([fixed[c]])
                continue
            vals = rec["cols"].get(c)
            if vals is None:
                return None
            per_col.append(sorted(vals))
            total *= len(vals)
            if total > self.MAX_SKIP_PREFIXES:
                return None
        # a tracked column with zero recorded values has no live entry, so
        # the product is empty — and so is the result
        return [list(t) for t in itertools.product(*per_col)]

    def lookup_skip(self, covered: bool = False, **fixed) -> DataFrame:
        """Phoenix's OTHER signature read, the SKIP SCAN: probe a
        non-leading composite column WITHOUT fixing the columns before it
        — ``idx.lookup_skip(col2=v)`` on an index over (col1, col2). A
        B-tree (and this index's sorted-ikey layout) cannot range-prune
        such a probe directly; the skip scan recovers pruning by
        ENUMERATING the distinct leading-column tuples (one scan of the
        index itself — never the base), then probing each enumerated
        prefix as an ikey range, all ranges OR-ed into ONE index read so
        parquet footer stats prune to the files covering any matched
        prefix. ``fixed`` maps column names (plain or functional) to
        equality values; any subset may be fixed — unfixed columns BEFORE
        the last fixed one are enumerated, trailing unfixed columns match
        everything (leading-edge semantics on each enumerated prefix).

        The enumeration itself is normally FREE: the guidepost record in
        the index log (Phoenix's SYSTEM.STATS guideposts — see the
        guidepost section above) holds the observed leading tuples and
        every leading column's distinct values, committed with every
        entries write, so the prefix set is a metadata read, not an index
        scan. Live enumeration (one column-pruned index scan) remains the
        fallback for an index without a record, overflowed sets and
        non-JSON-exact dtypes.

        Degradations, all index-only (the base is still never predicate-
        scanned): more than MAX_SKIP_PREFIXES distinct leading tuples, or
        a non-order-preserving encoding among the prefix columns, fall
        back to one full index scan with the exact typed predicate.

        At 100 TB this is the low-leading-cardinality weapon: an index on
        (region, user_id) probed by user_id reads |regions| prefix ranges
        — O(|regions| + result) files — instead of scanning the table or
        the whole index."""
        unknown = [c for c in fixed if c not in self.cols]
        if unknown:
            raise ValueError(f"not indexed columns: {unknown} (index is {self.cols})")
        if not fixed:
            raise ValueError("lookup_skip needs at least one column=value")
        pos = {c: self.cols.index(c) for c in fixed}
        last = max(pos.values())
        exact = None
        for c, v in fixed.items():
            p = F.col(c) == F.lit(v).cast(self._dtype_of(pos[c]))
            exact = p if exact is None else (exact & p)
        enum_cols = [c for c in self.cols[:last] if c not in fixed]
        if not enum_cols:
            # the fixed set IS a leading prefix — a plain leading-edge probe
            return self.lookup(
                *[fixed[c] for c in self.cols[: last + 1]], covered=covered
            )
        if not all(_order_preserving(self._dtype_of(i)) for i in range(last + 1)):
            return self._finish(self.tbl.df().where(exact), covered, exact)
        prefix_cols = self.cols[: last + 1]
        # prefix tuples from the GUIDEPOST record when it can answer —
        # zero index I/O — else live-enumerate from the index itself
        tuples = self._guidepost_tuples(prefix_cols, fixed)
        if tuples is None:
            tuples = self._enumerate_leading(prefix_cols, fixed, pos)
        if tuples is None:  # live enumeration over budget too
            return self._finish(self.tbl.df().where(exact), covered, exact)
        if not tuples:
            return self._finish(self.tbl.df().where(exact & F.lit(False)), covered, exact)
        k = F.col("ikey")
        ranges = []
        for vals in tuples:
            pfx = self._prefix_enc(vals)
            ranges.append((k >= pfx) & (k <= F.concat(pfx, F.lit("\x20"))))
        # balanced OR (depth log2 n): a left-deep chain at the 1000-prefix
        # budget overflows the JVM stack in expression conversion
        probe = self.tbl._layer_frames(self._or_tree(ranges), None).where(exact)
        return self._finish(probe, covered, exact)

    def _enumerate_leading(self, prefix_cols: list[str], fixed: dict, pos: dict):
        """Live skip-scan enumeration: distinct leading tuples FROM THE
        INDEX (one column-pruned scan — never the base), constrained by
        whatever fixed columns fall inside the prefix. Returns value-lists
        ordered like ``prefix_cols``, or ``None`` past the budget."""
        src = self.tbl.df().select(*prefix_cols)
        for c, v in fixed.items():
            src = src.where(F.col(c) == F.lit(v).cast(self._dtype_of(pos[c])))
        rows = src.distinct().limit(self.MAX_SKIP_PREFIXES + 1).collect()
        if len(rows) > self.MAX_SKIP_PREFIXES:
            return None
        return [[r[c] for c in prefix_cols] for r in rows]

    def _dtype_of(self, pos: int) -> str:
        if self._dtypes is None:
            self._enc(F.lit(None), 0)  # force dtype resolution
        return self._dtypes[self.cols[pos]]

    def _typed_pred(self, values) -> "F.Column":
        """Exact predicate on the ORIGINAL typed columns stored in every
        entry — the truth the encoded ikey bounds only approximate. Applied
        post-fold on the probe, it makes lookups exact for every dtype and
        every string content (control chars below the separator, the
        separator itself, astral-plane chars: all cases where framed string
        bounds over- or under-shoot)."""
        pred = None
        for i, v in enumerate(values):
            # cast the literal to the COLUMN's dtype: comparing a float
            # column against a python-float (double) literal promotes the
            # column and 0.1f != 0.1d — equality would silently miss
            c = F.col(self.cols[i]) == F.lit(v).cast(self._dtype_of(i))
            pred = c if pred is None else (pred & c)
        return pred

    def _prefix_enc(self, values) -> "F.Column":
        """SEP-joined encodings of the given leading values (no trailing
        separator -- _read appends it when framing the bounds)."""
        parts = []
        for i, v in enumerate(values):
            if parts:
                parts.append(F.lit(_SEP))
            parts.append(self._enc(F.lit(v), i))
        return F.concat(*parts) if len(parts) > 1 else parts[0]

    def _read(self, lo_enc, hi_enc, covered: bool, exact) -> DataFrame:
        """Probe the index: a conservative IKEY range prunes layers/files
        (range_read — the predicate MUST be on ikey, not ivalue: tombstone
        rows carry only the key, so a per-layer ivalue filter would drop
        the tombstones and resurrect deleted entries), then the exact TYPED
        predicate on the stored original columns decides membership
        post-fold. The bounds never exclude a true match: lower = lo_enc
        with NO separator suffix, so variable-width string values extending
        the lo prefix (including ones containing chars below the separator,
        e.g. tabs) stay inside; upper = hi_enc + chr(0x20), which every
        entry of a value <= hi stays under because its ikey continues with
        the 0x1f separator — even when trailing components carry
        astral-plane chars that would sort above a U+FFFF sentinel in UTF-8
        byte order. Anything the bounds falsely admit, ``exact`` removes.
        ``lo_enc=None`` skips pruning entirely — the fallback for encodings
        that are not order-preserving (float ranges)."""
        if lo_enc is None:
            probe = self.tbl.df()
        else:
            probe = self.tbl.range_read(lo_enc, F.concat(hi_enc, F.lit("\x20")))
        return self._finish(probe.where(exact), covered, exact)

    def _finish(self, probe: DataFrame, covered: bool, exact) -> DataFrame:
        """Turn a resolved index-entry probe into the caller's result:
        covered -> answer from the entries alone; uncovered -> multiget
        the base for the matched keys and keep the rows that still match
        ``exact``, the probe's typed predicate. That re-check is Apache
        Phoenix's read-time verification: a crash between a maintenance
        transaction's base write and its index layer leaves entries
        pointing at rows that no longer carry the value (see the module
        docstring), and the verified read never returns such a row."""
        if covered:
            return probe.select(
                F.col("base_key").alias(self.base.key_col),
                *[F.col(c) for c in self.cols],
                *[F.col(c) for c in self.include],
            )
        # index scan -> MULTIGET the base (HBase's actual uncovered-index
        # read): semi_read turns a matched key set within its cap into
        # O(result) footer-pruned file reads, and a larger one into the
        # broadcast semi-join below the version fold, bounded by the
        # matched keys' [min, max] envelope — so clustered matches
        # (time-prefixed keys, tenant ranges) still read O(span) files.
        # The base never shuffles either way. (Spark 4.1 will NOT inject a
        # runtime bloom below the broadcast semi-join — verified live:
        # InjectRuntimeFilter declines broadcast-side builds — so a
        # uniformly-spread match keeps a table-sized scan, which is the
        # honest cost of selecting that many uncovered rows.)
        rows = self.base.semi_read(
            probe.select(F.col("base_key").alias(self.base.key_col))
        )
        if self.multi is not None:
            # the predicate is on the exploded element: a row matches iff
            # one of its entries does
            hits = self._entries(rows).where(exact)
            return rows.join(
                hits.select(F.col("base_key").alias(self.base.key_col)),
                self.base.key_col, "left_semi",
            )
        live = self._augment(rows)
        for c in self.cols:  # the entries' NULL convention
            live = live.where(F.col(c).isNotNull())
        return live.where(exact).select(*rows.columns)
