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
(``_maintain``): tombstone the entries of the touched keys' CURRENT rows,
apply the base mutation, then insert the entries of the touched keys'
POST-write rows, so the index holds exactly what the base fold kept. The
base table is never rewritten, and both reads are ``KeyedTable.semi_read``
of the touched keys: a batch within the multiget cap pushes into every
base layer scan as an IN filter, so the sorted layout's footer stats
prune to the few files covering the touched keys — maintenance I/O
tracks the batch, not the table. The transaction is NOT atomic: a crash
between its writes leaves a stale index until the writer retries (global
Phoenix indexes carry the same caveat; their repair is a WAL replay,
ours is re-running the idempotent batch: pass ``stamp=`` and each write
is guarded by its own derived layer stamp, so a retry re-runs only the
writes that never committed and a full replay is a strict no-op).
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
import json
import os
import re
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_on_hbase_spark.table import KeyedTable

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
    ``path`` with schema (ikey, ivalue, base_key, ts). ``ts`` mirrors the
    base row's timestamp so last-writer-wins resolves index entries the
    same way it resolves the rows they point at.

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
        num_partitions: int = 8,
        include: list[str] | None = None,
        expr: "F.Column | dict[str, F.Column] | None" = None,
        guideposts: bool = True,
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
        self.col = self.cols[0]  # back-compat alias for single-column use
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
        self.guideposts = guideposts
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
            num_partitions=num_partitions,
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
        maintenance read, and the scrutiny audit."""
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
            F.col(self.base.ts_col),
            # the indexed columns again, ORIGINAL names and types: ivalue is
            # a string (composite-key material); covered reads must return
            # the base's typed values without a lossy string round-trip
            *[F.col(c) for c in self.cols],
            *[F.col(c) for c in self.include],
        )

    def _stale_entry_keys(self, touched: DataFrame) -> DataFrame:
        """Index keys of the touched base keys' CURRENT rows. Evaluated (by
        the caller's delete job) BEFORE the base mutation lands, so the
        read sees the pre-mutation state it must tombstone."""
        return self._entries(self.base.semi_read(touched)).select("ikey")

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
        base_key are functions of ikey, so they add nothing — and the
        entry's stored ts is deliberately EXCLUDED (advisor finding):
        no read path serves it (covered reads return indexed + covered
        columns only), and the put/increment fast paths legitimately
        skip maintenance for batches touching no maintained column
        while still bumping the base row's resolved ts, so a ts-bearing
        fingerprint branded every such ordinary write 'stale_covered'
        and sent repair() into a needless tombstone + dirty compaction
        of a consistent index. Two entries with equal fingerprints are
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

    def scrutiny(self, deep: bool = True) -> DataFrame:
        """Index consistency audit (Phoenix's IndexScrutinyTool): one
        full-outer diff of the stored entries against the entries the
        CURRENT base implies. Returns (ikey, status) with status 'missing'
        (a live base row has no entry — a lookup would silently drop it),
        'orphaned' (an entry points at a row that no longer exists or no
        longer carries that value — a lookup would resurrect or
        duplicate), or — with ``deep`` (the default) — 'stale_covered'
        (the ikey matches but the entry's typed indexed or covered values
        diverge from the base row: ``lookup(covered=True)`` would serve
        the stale value even though the key set looks consistent; ts
        divergence alone is NOT staleness — no read serves the entry's
        ts, and fast-path writes bump the base ts without touching the
        index by design). ``deep=False``
        restricts the audit to key existence — no tuple is hashed at all
        (a review pass caught the old code computing the full fingerprint
        and merely ignoring it), same two scans. Empty result ==
        consistent. Two table-sized scans, zero writes — the audit you
        run after suspecting writes bypassed the index."""
        fp = self._entry_fingerprint() if deep else F.lit("1")
        expected = self._entries(self.base.df()).select("ikey", fp.alias("__efp"))
        actual = self.tbl.df().select("ikey", fp.alias("__afp"))
        j = expected.join(actual, "ikey", "full_outer")
        status = (
            F.when(F.col("__afp").isNull(), F.lit("missing"))
            .when(F.col("__efp").isNull(), F.lit("orphaned"))
        )
        if deep:
            status = status.when(
                F.col("__efp") != F.col("__afp"), F.lit("stale_covered")
            )
        return (
            j.select("ikey", status.alias("status"))
            .where(F.col("status").isNotNull())
        )

    def repair(self) -> dict:
        """Reconcile the index to the CURRENT base (Phoenix's scrutiny
        repair): tombstone orphaned entries, upsert missing AND
        stale_covered ones — two audit scans but O(divergence) writes for
        the orphan/missing classes, so fixing a few behind-the-back rows
        never rewrites the index. Stale entries additionally tombstone +
        COMPACT the index first: a behind-the-back delete + compact +
        lower-ts reinsert leaves the base live at a ts BELOW the stored
        entry's (found by a review pass — the old docstring claimed
        expected ts 'always ties-or-beats', which delete+compact breaks),
        and the index fold would reject the lower-ts upsert while a bare
        tombstone (null ts = now) would beat the reinsert too; folding
        the tombstone away first lets the expected entry land as a fresh
        row whatever its ts. The fold is compact(scope='dirty') — only
        index files overlapping the stale tombstones rewrite — and runs
        only when staleness was actually found, so repair stays
        O(divergence) (plus the two audit scans) whenever the index's
        parquet footers can prove key ranges; ikeys too long for footer
        stats inherit dirty compaction's full-fold fallback, making a
        stale-covered repair O(index) on such tables (orphan/missing
        repairs never compact and stay O(divergence) regardless).

        NOT atomic (Phoenix's scrutiny repair is an offline MR job for
        the same reason): a crash between the stale-slice fold and the
        upsert leaves the affected rows invisible to index reads — worse
        than the stale values they had — until repair RE-RUNS, which
        converges: the crashed state re-classifies as plain 'missing'
        and takes the upsert-only path (pinned by
        test_crashed_repair_rerun_converges). Returns
        {'missing': n, 'orphaned': n, 'stale_covered': n}."""
        fp = self._entry_fingerprint()
        expected = self._entries(self.base.df()).withColumn("__efp", fp)
        actual = self.tbl.df().select("ikey", fp.alias("__afp"))
        diff = expected.join(actual, "ikey", "full_outer").where(
            F.col("__afp").isNull()
            | F.col("__efp").isNull()
            | (F.col("__efp") != F.col("__afp"))
        )
        # localCheckpoint BEFORE writing: the diff plan is pinned to the
        # index table's current layer directories, and the delete below
        # can trigger auto-compaction, which removes those directories —
        # the un-checkpointed plan would then fail (or worse, silently
        # re-read folded state). Divergence is O(small) by assumption, so
        # materializing it is cheap — and it also means ONE audit join
        # feeds all three fix-up classes.
        diff = diff.localCheckpoint()
        orphaned = diff.where(F.col("__efp").isNull()).select("ikey")
        upserts = diff.where(F.col("__efp").isNotNull()).drop("__efp", "__afp")
        stale = diff.where(
            F.col("__efp").isNotNull()
            & F.col("__afp").isNotNull()
            & (F.col("__efp") != F.col("__afp"))
        )
        n_stale = stale.count()
        n_orphaned = self.tbl.delete(orphaned)
        if n_stale:
            self.tbl.delete(stale.select("ikey"))
            self.tbl.compact(scope="dirty")
        n_upserted = self.tbl.update(self._noted_entries(lambda: upserts)())
        return {
            "missing": n_upserted - n_stale,
            "orphaned": n_orphaned,
            "stale_covered": n_stale,
        }

    # -- lifecycle ---------------------------------------------------------

    def build(self) -> "SecondaryIndex":
        """One shuffle over the base's merged view — the bulk index build
        (Phoenix's CREATE INDEX ASYNC + IndexTool MR job, as one write).
        The skip-scan guidepost sidecar is reset first (a crash mid-build
        leaves no stale dictionary lying around) and derived fresh from
        the built index after — one column-pruned scan, build-time only."""
        try:
            os.remove(self._guidepost_path())
        except OSError:
            pass
        # materialize the entry relation once (lazily): create()'s layer
        # write executes its input twice (range-sampling + write), and a
        # functional/multi-valued index's entry derivation (e.g. the
        # near-dup index's per-document MinHash banding) is the expensive
        # half of a bulk build. localCheckpoint spills to disk past
        # memory, so the pattern holds at any build size (guide §2.4).
        self.tbl.create(self._entries(self.base.df()).localCheckpoint(eager=False))
        self._refresh_guideposts()
        return self

    def drop(self) -> None:
        self.tbl.drop()

    # -- index-maintaining mutations ----------------------------------------

    def update(self, batch: DataFrame, stamp: str | None = None) -> int:
        """Whole-row upsert through the index — ``base.update`` inside the
        maintenance transaction (see ``_maintain``). The new entries come
        from the rows the base fold KEPT, so a batch row that loses
        last-writer-wins, or one of two batch rows for the same key,
        leaves no entry behind; a loser's unchanged entry is tombstoned and
        re-inserted at its stored ts, which the index fold lets through
        (an equal-ts ROW applies), so the entry stays live.

        ``stamp`` makes the transaction retry-idempotent: each of its
        writes is guarded by its own derived stamp (``<stamp>_xd`` /
        ``<stamp>`` / ``<stamp>_xi``), recorded atomically in that layer's
        directory name, so a retry after a crash between any two writes
        re-runs ONLY the writes that never committed.

        Returns rows applied by THIS call's base write; on a stamped retry
        whose base write already committed in a previous attempt, the
        skipped write reports 0 (the rows were counted when they actually
        landed)."""
        return self._maintain(self.base.update, batch, stamp)

    def delete(
        self,
        keys: DataFrame,
        columns: list[str] | None = None,
        stamp: str | None = None,
    ) -> int:
        """Row delete through the index (entries first, then the rows), or
        — with ``columns`` — a CELL delete (HBase DeleteColumn through the
        index): nulling an INDEXED column removes the keys' entries (the
        NULL convention — the rows become invisible to lookups), nulling
        only COVERED columns or functional inputs re-points the entries at
        the post-delete rows (an expression can stay non-null over a
        nulled input, e.g. coalesce), and nulling columns the index never
        reads is exactly ``base.delete``. ``stamp``: same
        retry-idempotence contract as ``update``."""
        if not columns:
            return self._maintain(self.base.delete, keys, stamp, reinsert=False)
        plain = {c for c in self.cols if c not in self.exprs}
        return self._maintain(
            self.base.delete, keys, stamp,
            touches=bool(set(columns) & self._maintained_inputs()),
            # a null plain component drops the whole entry
            reinsert=not set(columns) & plain,
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
        touches: bool = True, reinsert: bool = True, **kw,
    ) -> int:
        """The one maintenance transaction every indexed mutation runs:

        1. ``_xd`` tombstones the entries of the touched keys' CURRENT rows;
        2. the base ``write(batch, **kw)`` runs under the caller's stamp;
        3. ``_xi`` inserts the entries of the touched keys' POST-write rows.

        Both reads are ``semi_read`` of the batch's keys. The ``_xd`` read
        only ever executes before the base write has landed (afterwards
        its stamp is present and the step is skipped), so it can never
        tombstone the NEW entries; the ``_xi`` read is lazy, run after the
        base write, so a stamped retry reads the same post-write state.
        ``touches=False`` (the batch changes nothing the index reads) runs
        the base write alone; ``reinsert=False`` (row deletes, nulled
        plain components — the post-write rows carry no entry) skips
        step 3."""
        if touches:
            self._guarded(self.tbl.delete, self._stale(batch), stamp, "_xd")
        n = self._guarded(write, lambda: batch, stamp, "", **kw)
        if touches and reinsert:
            self._guarded(
                self.tbl.update,
                self._noted_entries(
                    lambda: self._entries(self.base.semi_read(batch))
                ),
                stamp,
                "_xi",
            )
        return n

    def _stale(self, touched: DataFrame):
        return self._once(lambda: self._stale_entry_keys(touched))

    def _guarded(self, write, make_batch, stamp: str | None, suffix: str, **kw) -> int:
        """Run one maintenance sub-write, skipping it (and reporting 0
        rows) when its derived stamp already rides a layer (or the
        compaction-preserved manifest) of the target table — `make_batch`
        is lazy so a skipped step never evaluates its read either. Extra
        kwargs forward to the write (e.g. ``columns=`` for cell deletes)."""
        if stamp is None:
            return write(make_batch(), **kw)
        derived = f"{stamp}{suffix}" if suffix else stamp
        table = write.__self__
        if derived in table.applied_stamps():
            return 0
        return write(make_batch(), stamp=derived, **kw)

    @staticmethod
    def _once(make_batch):
        """Wrap a lazy maintenance read so its result materializes ONCE:
        every layer write executes its input twice (repartitionByRange
        samples the batch to pick range bounds, then the write job runs it
        again — table.py:_write_layer), so an _xd/_xi batch whose lineage
        is a point-read fold re-ran that fold per write. The batches
        are O(batch) rows by contract, so a lazy localCheckpoint (first
        action materializes, the write re-reads blocks) halves the
        maintenance read cost without changing when the read executes
        (retry-idempotence depends on that timing — see ``_maintain``).
        Guide §2.4: remove repeated passes."""
        return lambda: make_batch().localCheckpoint(eager=False)

    # -- reads ---------------------------------------------------------------

    def lookup(self, *values, covered: bool = False) -> DataFrame:
        """Base rows whose indexed column currently equals ``value``, found
        WITHOUT filtering the base: probe the index (the equality predicate
        reaches the index table's parquet scan, where the value-prefixed
        sorted layout prunes by footer stats), then read the matched keys
        from the base with ``semi_read`` (see ``_finish``). At 100 TB the
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

        from spark_on_hbase_spark.table import _TOMBSTONE, _in_list_pred

        vals = list(dict.fromkeys(values))  # dedupe, keep caller order
        if not vals:  # empty IN-list: schema-correct empty result
            return self._finish(self.tbl.df().where(F.lit(False)), covered)
        if all(
            isinstance(v, numbers.Integral) and not isinstance(v, bool)
            for v in vals
        ):
            # the shared one-parse IN builder (py4j round-trip per isin
            # literal is seconds at thousand-value batches); optimizes to
            # InSet + pushed parquet filter
            def pred():
                return _in_list_pred(self.cols[0], vals)
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
        return self._finish(probe, covered)

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

    # guidepost dictionary cap PER COLUMN: a leading column with more
    # distinct values than this stops being tracked (overflow) — skip
    # scans on it fall back to live enumeration, which has its own budget
    GUIDEPOST_CAP = 4096

    # -- skip-scan guideposts ------------------------------------------------
    #
    # Phoenix keeps table statistics ("guideposts", SYSTEM.STATS) so its
    # SkipScanFilter can enumerate leading-column values without scanning.
    # Ours is a tiny JSON sidecar next to the index table's layers: the
    # distinct values of every ENUMERABLE leading column (everything
    # before the last component — the only positions a skip scan ever
    # enumerates), maintained union-only. The invariant that makes it
    # safe: the sidecar is ALWAYS a superset of the leading values present
    # in live entries, because (a) every entries-insert path unions the
    # batch's values BEFORE the entries layer lands — a crash between the
    # two leaves only harmless extra prefixes (empty probe ranges), never
    # an entry the skip scan cannot find — and (b) deletes never shrink it
    # (stale values probe empty ranges, pruned for free by footer stats).
    # Supersets cost nothing correctness-wise: the exact typed predicate
    # re-filters every probe. At 100 TB this turns the skip scan's
    # enumeration from one column-pruned index scan per probe into a
    # metadata read — O(|dict| x fixed + result) total.

    def _guidepost_path(self) -> str:
        return os.path.join(self.tbl.path, "_guideposts.json")

    def _guidepost_cols(self) -> list[str]:
        """Leading columns eligible for guidepost tracking: all components
        before the LAST one, restricted to exactly-JSON-round-tripping
        dtypes (see _GUIDEPOST_DTYPES). Empty when the index was opened
        with ``guideposts=False`` (the opt-out for write-heavy workloads
        that never skip-scan: it removes the per-batch materialize+union
        from every maintenance write AND disables sidecar reads — all
        handles of one index must agree on the setting, or a non-
        maintaining writer would stale the sidecar other handles trust)."""
        if not self.guideposts or len(self.cols) < 2:
            return []
        return [
            c
            for i, c in enumerate(self.cols[:-1])
            if self._dtype_of(i) in _GUIDEPOST_DTYPES
        ]

    def _load_guideposts(self) -> dict | None:
        try:
            with open(self._guidepost_path()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _save_guideposts(self, gp: dict) -> None:
        tmp = self._guidepost_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(gp, f)
        os.replace(tmp, self._guidepost_path())

    def _tuple_cols(self) -> list[str]:
        """Leading columns eligible for TUPLE tracking: the sidecar's
        per-column value sets answer a skip scan with their CROSS PRODUCT,
        which over-probes when the live tuple set is sparse (advisor
        finding: two ~30-value leading columns ⇒ ~900 mostly-empty probe
        ranges where live enumeration would find the few real tuples — or
        worse, a budget overflow that pushes a tiny-tuple index onto the
        slower live/full-scan paths). So the sidecar ALSO records the
        distinct observed leading-column TUPLES, maintained by the same
        union-first discipline, and the skip scan prefers them. Tuples are
        tracked only when EVERY enumerable leading position round-trips
        JSON exactly — a partial tuple cannot be probed."""
        gcols = self._guidepost_cols()
        if gcols and gcols == list(self.cols[:-1]):
            return gcols
        return []

    def _collect_leading_tuples(
        self, df: DataFrame, tcols: list[str], small: bool = False
    ):
        """Distinct leading tuples of ``df`` (entry rows) as value-lists,
        or ``None`` on cardinality overflow. The table-sized path caps via
        limit(CAP+1); maintenance batches (O(batch) by contract) collect
        one set-aggregate of the struct."""
        if small:
            row = df.agg(
                F.collect_set(F.struct(*[F.col(c) for c in tcols])).alias("t")
            ).first()
            if len(row["t"]) > self.GUIDEPOST_CAP:
                return None
            return [[r[c] for c in tcols] for r in row["t"]]
        rows = (
            df.select(*tcols).distinct().limit(self.GUIDEPOST_CAP + 1).collect()
        )
        if len(rows) > self.GUIDEPOST_CAP:
            return None
        return [[r[c] for c in tcols] for r in rows]

    _NO_TUPLES = object()  # sentinel: caller tracks no tuple record

    def _union_guideposts(
        self, new_vals: dict[str, list | None], new_tuples=_NO_TUPLES
    ) -> None:
        """Union freshly-observed leading-column values into the sidecar
        (``None`` for a column = cardinality overflow: mark it untracked),
        plus — when tuple tracking is on — the observed leading TUPLES
        (``None`` = overflow; the _NO_TUPLES default leaves the tuple
        record untouched). Called BEFORE the entries that carry these
        values land — see the section comment for why that order is the
        safe one.

        REFUSES to create a sidecar that does not exist: a batch-only
        dictionary would be treated as authoritative and silently drop
        every pre-existing row from skip scans (the caller heals a
        missing sidecar by deriving it from the FULL index first — see
        _noted_entries). Single-writer contract: the sidecar is a
        read-modify-write file, like the rest of the engine's layer-
        sequence allocation — concurrent writers to one index are
        unsupported engine-wide."""
        gp = self._load_guideposts()
        if gp is None:
            return
        changed = False
        for c, vals in new_vals.items():
            ent = gp["cols"].setdefault(c, {"values": [], "overflow": False})
            if ent["overflow"]:
                continue
            if vals is None:
                gp["cols"][c] = {"values": [], "overflow": True}
                changed = True
                continue
            seen = set(ent["values"])
            add = [v for v in vals if v not in seen]
            if not add:
                continue
            if len(seen) + len(add) > self.GUIDEPOST_CAP:
                gp["cols"][c] = {"values": [], "overflow": True}
            else:
                ent["values"].extend(add)
            changed = True
        if new_tuples is not self._NO_TUPLES:
            tcols = self._tuple_cols()
            trec = gp.get("tuples")
            if trec is None or trec.get("cols") != tcols:
                # pre-tuple sidecar (or a component change): no complete
                # tuple history exists and a batch-only record would be a
                # NON-superset (silently dropping pre-existing rows from
                # skip scans) — heal by deriving the record from the FULL
                # pre-insert index, one column-pruned scan, once (the same
                # discipline _noted_entries applies to a missing sidecar);
                # the batch's own tuples union in below
                tvals = self._collect_leading_tuples(self.tbl.df(), tcols)
                trec = (
                    {"cols": tcols, "values": [], "overflow": True}
                    if tvals is None
                    else {"cols": tcols, "values": tvals, "overflow": False}
                )
                gp["tuples"] = trec
                changed = True
            if not trec["overflow"]:
                if new_tuples is None:
                    gp["tuples"] = {"cols": tcols, "values": [], "overflow": True}
                    changed = True
                else:
                    seen_t = {tuple(t) for t in trec["values"]}
                    add_t = [t for t in new_tuples if tuple(t) not in seen_t]
                    if add_t:
                        if len(seen_t) + len(add_t) > self.GUIDEPOST_CAP:
                            gp["tuples"] = {
                                "cols": tcols, "values": [], "overflow": True,
                            }
                        else:
                            trec["values"].extend(add_t)
                        changed = True
        if changed:
            self._save_guideposts(gp)

    def _collect_leading(
        self, df: DataFrame, gcols: list[str], small: bool = False
    ) -> dict:
        """Distinct values per guidepost column of ``df`` (entry rows),
        ``None`` = overflow. ``small`` (maintenance batches, O(batch) by
        contract) collects everything in ONE aggregation and caps driver-
        side; the table-sized path (_refresh_guideposts) runs a
        countDistinct pre-pass first so collect_set never materializes a
        high-cardinality column's full distinct set."""
        if small:
            row = df.agg(
                *[F.collect_set(F.col(c)).alias(c) for c in gcols]
            ).first()
            return {
                c: (None if len(row[c]) > self.GUIDEPOST_CAP else list(row[c]))
                for c in gcols
            }
        counts = df.agg(
            *[F.countDistinct(F.col(c)).alias(c) for c in gcols]
        ).first()
        keep = [c for c in gcols if counts[c] <= self.GUIDEPOST_CAP]
        out: dict[str, list | None] = {c: None for c in gcols if c not in keep}
        if keep:
            row = df.agg(*[F.collect_set(F.col(c)).alias(c) for c in keep]).first()
            out.update({c: list(row[c]) for c in keep})
        return out

    def _noted_entries(self, make_entries):
        """Wrap an entries-producing thunk so the guidepost sidecar is
        unioned before the insert job runs. The entries are materialized
        once (localCheckpoint) so the union's aggregation and the layer
        write share a single evaluation of the maintenance read."""

        def wrapped():
            e = make_entries()
            gcols = self._guidepost_cols()
            if not gcols:
                # no sidecar to union — still materialize once, lazily:
                # the insert layer write would otherwise run the entries
                # lineage (a point-read fold + expression derivation)
                # twice (range-sampling + write; see _once)
                return e.localCheckpoint(eager=False)
            if self._load_guideposts() is None:
                # missing sidecar (pre-guidepost index dir, or a build()
                # that crashed between create and refresh): heal by
                # deriving from the FULL pre-insert index — one column-
                # pruned scan, once — so the union below extends a
                # complete dictionary, never a batch-only one
                self._refresh_guideposts()
            e = e.localCheckpoint(eager=True)
            tcols = self._tuple_cols()
            self._union_guideposts(
                self._collect_leading(e, gcols, small=True),
                self._collect_leading_tuples(e, tcols, small=True)
                if tcols
                else self._NO_TUPLES,
            )
            return e

        return wrapped

    def _refresh_guideposts(self) -> None:
        """Recompute the sidecar FROM the index table (one column-pruned
        scan) — build-time only; maintenance uses the O(batch) union."""
        gcols = self._guidepost_cols()
        if not gcols:
            return
        vals = self._collect_leading(self.tbl.df(), gcols)
        gp = {"cols": {}}
        for c in gcols:
            gp["cols"][c] = (
                {"values": [], "overflow": True}
                if vals[c] is None
                else {"values": vals[c], "overflow": False}
            )
        tcols = self._tuple_cols()
        if tcols:
            tvals = self._collect_leading_tuples(self.tbl.df(), tcols)
            gp["tuples"] = (
                {"cols": tcols, "values": [], "overflow": True}
                if tvals is None
                else {"cols": tcols, "values": tvals, "overflow": False}
            )
        self._save_guideposts(gp)

    def _guidepost_tuples(self, prefix_cols: list[str], fixed: dict):
        """Skip-scan prefix tuples from the sidecar alone — zero index
        I/O. Returns a list of value-lists ordered like ``prefix_cols``,
        or ``None`` when the sidecar cannot answer (missing, an
        overflowed/untracked column, or a cross product past the probe
        budget — the caller then live-enumerates, whose fixed-column
        constraints may still fit the budget)."""
        if not self.guideposts:
            return None
        gp = self._load_guideposts()
        if gp is None:
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
        # Preferred source: the observed-TUPLE record (advisor finding —
        # the per-column cross product over-probes sparse tuple sets:
        # two ~30-value leading columns give ~900 mostly-empty ranges, or
        # a budget overflow, where the live tuple set may be tiny). The
        # record covers cols[:-1]; project it onto prefix_cols, filter by
        # the fixed equalities, dedupe — exactly the live enumeration's
        # answer, from metadata alone.
        trec = gp.get("tuples")
        if trec and not trec.get("overflow") and trec.get("cols"):
            tcols = trec["cols"]
            if all(c in tcols or c in fixed for c in prefix_cols):
                seen, out = set(), []
                pos_in = {c: i for i, c in enumerate(tcols)}
                for t in trec["values"]:
                    if any(
                        c in pos_in and t[pos_in[c]] != fixed[c] for c in fixed
                    ):
                        continue
                    proj = tuple(
                        t[pos_in[c]] if c in pos_in else fixed[c]
                        for c in prefix_cols
                    )
                    if proj not in seen:
                        seen.add(proj)
                        out.append(list(proj))
                if len(out) > self.MAX_SKIP_PREFIXES:
                    return None
                out.sort(key=lambda vs: tuple((v is None, v) for v in vs))
                return out
        per_col, total = [], 1
        for c in prefix_cols:
            if c in fixed:
                per_col.append([fixed[c]])
                continue
            ent = gp.get("cols", {}).get(c)
            if ent is None or ent.get("overflow"):
                return None
            vals = sorted(ent["values"])
            per_col.append(vals)
            total *= len(vals)
            if total > self.MAX_SKIP_PREFIXES:
                return None
        if any(not v for v in per_col):
            # a tracked column with zero recorded values: no live entry
            # can carry it (every insert unions first) — empty result
            return []
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

        The enumeration itself is normally FREE: the guidepost sidecar
        (Phoenix's SYSTEM.STATS guideposts — see the guidepost section
        below) records every leading column's distinct values as index
        metadata, maintained union-first by every entries insert, so the
        prefix set is a metadata read, not an index scan. Live
        enumeration (one column-pruned index scan) remains the fallback
        for missing/overflowed sidecars and non-JSON-exact dtypes.

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
            return self._finish(self.tbl.df().where(exact), covered)
        prefix_cols = self.cols[: last + 1]
        # prefix tuples from the GUIDEPOST sidecar when it can answer —
        # zero index I/O — else live-enumerate from the index itself
        tuples = self._guidepost_tuples(prefix_cols, fixed)
        if tuples is None:
            tuples = self._enumerate_leading(prefix_cols, fixed, pos)
        if tuples is None:  # live enumeration over budget too
            return self._finish(self.tbl.df().where(exact), covered)
        if not tuples:
            return self._finish(self.tbl.df().where(exact & F.lit(False)), covered)
        k = F.col("ikey")
        ranges = []
        for vals in tuples:
            pfx = self._prefix_enc(vals)
            ranges.append((k >= pfx) & (k <= F.concat(pfx, F.lit("\x20"))))
        # balanced OR (depth log2 n): a left-deep chain at the 1000-prefix
        # budget overflows the JVM stack in expression conversion
        probe = self.tbl._layer_frames(self._or_tree(ranges), None).where(exact)
        return self._finish(probe, covered)

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

    def _read(self, lo_enc, hi_enc, covered: bool, exact=None) -> DataFrame:
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
        if exact is not None:
            probe = probe.where(exact)
        return self._finish(probe, covered)

    def _finish(self, probe: DataFrame, covered: bool) -> DataFrame:
        """Turn a resolved index-entry probe into the caller's result:
        covered -> answer from the entries alone; uncovered -> multiget
        the base for the matched keys."""
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
        return self.base.semi_read(
            probe.select(F.col("base_key").alias(self.base.key_col))
        )
