"""``keyed_mixed``: the KeyedTable read and write paths, with a secondary
index and a materialized aggregate, checked against an independent Python model of the table.

Row ``n`` of the generated table has the salted key of the uuid
``md5(str(n))`` (the hex form of ``KeySpaceRegistry.key`` in a
``uuid_numeric_keyspace``), ``ts = 0``, group ``g = n % G``, value
``v = (n * A + seed) % P`` and counter ``c``. Because ``v`` is an affine map
modulo a prime, the model inverts it to answer index lookups without a
reverse map of the whole table.
"""

from __future__ import annotations

import bisect
import hashlib
import time
import zlib

import numpy as np

from measure import bytes_written, layer_count, snapshot

P = 1_000_003
A = 2_654_435_761 % P
A_INV = pow(A, -1, P)
G = 256
SYMBOL = "u"
COLS = "key string, ts bigint, g int, v bigint, c bigint"
READS = ("point_read", "range_read", "semi_read")


def uuid_of(n: int) -> str:
    return hashlib.md5(str(n).encode()).hexdigest()


class KeyCodec:
    """Model-side salted key (hashlib only) and the program's client-side
    encoder (``KeySpaceRegistry.key``), which the benchmark times."""

    def __init__(self):
        from spark_on_hbase_spark.keys import KeySpaceRegistry, uuid_numeric_keyspace

        self.reg = KeySpaceRegistry(uuid_numeric_keyspace(SYMBOL))
        self.code_hex = f"{self.reg.by_symbol[SYMBOL].code:04x}"

    def model_key(self, n: int) -> str:
        u = uuid_of(n)
        return u[:8] + self.code_hex + u

    def encode(self, n: int) -> str:
        return self.reg.key(SYMBOL, uuid_of(n)).hex()

    def key_col(self, id_col):
        from pyspark.sql import functions as F

        h = F.md5(id_col.cast("string"))
        return F.concat(F.substring(h, 1, 8), F.lit(self.code_hex), h)


def base_frame(spark, codec: KeyCodec, lo: int, hi: int, seed: int):
    from pyspark.sql import functions as F

    n = F.col("id")
    return spark.range(lo, hi).select(
        codec.key_col(n).alias("key"),
        F.lit(0).cast("bigint").alias("ts"),
        (n % G).cast("int").alias("g"),
        ((n * A + seed) % P).alias("v"),
        F.lit(0).cast("bigint").alias("c"),
    )


class TableModel:
    """Dict model of the keyed table: generated base rows plus an override
    per mutated id (``None`` for deleted), with per-group sums and counts and
    a value -> ids map for the overridden rows."""

    def __init__(self, n_rows: int, seed: int):
        self.n_rows = n_rows
        self.seed = seed
        self.over: dict[int, tuple | None] = {}
        ids = np.arange(n_rows, dtype=np.int64)
        v0 = (ids * A + seed) % P
        self.cnt = np.bincount(ids % G, minlength=G).astype(np.int64)
        self.sv = np.zeros(G, dtype=np.int64)
        np.add.at(self.sv, ids % G, v0)
        self.by_v: dict[int, set[int]] = {}

    def row(self, n: int):
        """(ts, g, v, c) of id ``n``, or None when absent."""
        if n in self.over:
            return self.over[n]
        if n < self.n_rows:
            return (0, n % G, (n * A + self.seed) % P, 0)
        return None

    def set(self, n: int, new) -> None:
        old = self.row(n)
        if old is not None:
            self.cnt[old[1]] -= 1
            self.sv[old[1]] -= old[2]
            if n in self.over:
                self.by_v[old[2]].discard(n)
        if new is not None:
            self.cnt[new[1]] += 1
            self.sv[new[1]] += new[2]
            self.by_v.setdefault(new[2], set()).add(n)
        self.over[n] = new

    def ids_with_v(self, x: int) -> set[int]:
        n = ((x - self.seed) * A_INV) % P
        out = {n} if n < self.n_rows and n not in self.over else set()
        return out | self.by_v.get(x, set())

    def live_count(self) -> int:
        return int(self.cnt.sum())

    def table_hash(self, codec: KeyCodec, max_id: int) -> tuple[int, int]:
        """(row count, sum of crc32 over 'key|ts|g|v|c') of the live table."""
        total, rows = 0, 0
        for n in range(max_id):
            r = self.row(n)
            if r is not None:
                rows += 1
                s = f"{codec.model_key(n)}|{r[0]}|{r[1]}|{r[2]}|{r[3]}"
                total += zlib.crc32(s.encode())
        return rows, total


def spark_table_hash(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)),
        F.coalesce(
            F.sum(F.crc32(F.concat_ws("|", "key", "ts", "g", "v", "c").cast("binary"))),
            F.lit(0),
        ),
    ).first()
    return int(r[0]), int(r[1])


def check_rows(ctx, model: TableModel, ids_by_key: dict[str, int], rows, what: str) -> None:
    got = {r["key"]: (r["ts"], r["g"], r["v"], r["c"]) for r in rows}
    want = {}
    for k, n in ids_by_key.items():
        r = model.row(n)
        if r is not None:
            want[k] = r
    ctx.check(got == want and len(rows) == len(got), what)


class KeyedMixed:
    """Reads and mutation batches from one client against one salted-key
    table that has a SecondaryIndex on ``v``, a MaterializedAgg (sum of
    ``v`` and row count per ``g``) and the default compaction threshold.

    One unit is a fixed cycle: the ``CYCLE`` mutation batches through the
    index; a read-your-writes ``point_read`` of keys from every batch; one
    index ``lookup``; a Zipf-skewed multiget, a ``range_read`` and a
    ``semi_read``; and ``MaterializedAgg.refresh()``. Every op has a fixed
    size; the seed picks only the keys and values, never the op sequence or
    how much work an op does, so runs on different seeds are comparable."""

    # put and increment batches would add as much time again per run; a run
    # has to stay within the time BENCHMARK.json allows (see README.md)
    CYCLE = ("update", "delete")
    GET_KEYS = 32
    # semi_read probes ids ``j * stride + off`` modulo 1.1 * n_rows; strides
    # prime to that span keep its 10k probes distinct on every seed
    SEMI_STRIDES = (7, 13, 17, 19, 23, 29, 31, 37, 41, 43)

    def __init__(self, ctx, n_rows: int, batch_rows: int):
        self.ctx = ctx
        self.n_rows = n_rows
        self.batch_rows = batch_rows
        self.rng = np.random.default_rng(ctx.seed)
        self.ts = 1000
        self.next_new = n_rows
        self.deleted: list[int] = []

    def setup(self) -> None:
        from spark_on_hbase_spark.index import SecondaryIndex
        from spark_on_hbase_spark.matview import MaterializedAgg
        from spark_on_hbase_spark.table import KeyedTable

        ctx, spark, n = self.ctx, self.ctx.spark, self.n_rows
        self.codec = KeyCodec()
        self.model = TableModel(n, ctx.seed)
        self.tbl = KeyedTable(spark, ctx.path("table"))
        self.tbl.create(base_frame(spark, self.codec, 0, n, ctx.seed))
        self.idx = SecondaryIndex(self.tbl, "v", path=ctx.path("index")).build()
        self.mv = MaterializedAgg(
            spark, ctx.path("matview"), self.tbl, "g", sums={"sv": "v"}
        ).build()
        self.roots = {"table": self.tbl.path, "index": self.idx.tbl.path, "matview": self.mv.path}
        # (key, id) of every id ever written, in key order, for range bounds
        self.sorted_keys = sorted((self.codec.model_key(i), i) for i in range(n))
        self._wrap()

    def _wrap(self) -> None:
        tr = self.ctx.tracer

        def before(attrs):
            attrs["layers_before"] = layer_count(self.tbl.path)

        def after(attrs, n):
            attrs["rows"] = n
            attrs["layers_after"] = layer_count(self.tbl.path)

        for m in self.CYCLE:
            tr.wrap(self.tbl, m, f"table.{m}", before=before, after=after)
        for m in READS:
            tr.wrap(self.tbl, m, f"table.{m}.plan")

    def warmup(self) -> None:
        self._read("get", record=False)

    def unit(self, k: int) -> None:
        written = []
        for m in self.CYCLE:
            written += self._step(m)[:3]
        self._read_your_writes(written)
        self._lookup()
        for kind in ("get", "range", "semi"):
            self._read(kind)
        self._refresh()

    # -- reads ---------------------------------------------------------------

    def _zipf_ids(self, size: int) -> list[int]:
        """Zipf-skewed ids; about 20% absent (deleted or never written)."""
        out = set()
        while len(out) < size:
            u = self.rng.random()
            if u < 0.1 and self.deleted:
                out.add(self.deleted[int(self.rng.integers(len(self.deleted)))])
            elif u < 0.2:
                out.add(int(10 * self.n_rows + self.rng.integers(self.n_rows)))
            else:
                r = int(self.rng.zipf(1.3)) - 1
                if r < self.n_rows:
                    out.add((r * 7_368_787) % self.n_rows)
        return sorted(out)

    def _read(self, kind: str, record: bool = True) -> None:
        from pyspark.sql import functions as F

        ctx, tr, tbl, codec = self.ctx, self.ctx.tracer, self.tbl, self.codec
        layers = layer_count(tbl.path)
        if kind == "get":
            ids = self._zipf_ids(self.GET_KEYS)
            with ctx.op("get", record) as rec:
                with tr.span("keys.encode", n=len(ids)):
                    keys = [codec.encode(i) for i in ids]
                df = tbl.point_read(keys)
                with tr.span("table.point_read.exec"):
                    rows = df.collect()
            want = {codec.model_key(i): i for i in ids}
            ctx.check(keys == list(want), "keys.encode matches the model key")
        elif kind == "range":
            i = int(self.rng.integers(len(self.sorted_keys) - 1000))
            span = self.sorted_keys[i : i + 1000]
            with ctx.op("range", record) as rec:
                with tr.span("keys.encode", n=2):
                    lo, hi = codec.encode(span[0][1]), codec.encode(span[-1][1])
                df = tbl.range_read(F.lit(lo), F.lit(hi))
                with tr.span("table.range_read.exec"):
                    rows = df.collect()
            want = dict(span)
        else:
            stride = self.SEMI_STRIDES[int(self.rng.integers(len(self.SEMI_STRIDES)))]
            off = int(self.rng.integers(self.n_rows))
            span_ids = self.n_rows + self.n_rows // 10
            kd = ctx.spark.range(10_000).select(
                codec.key_col((F.col("id") * stride + off) % span_ids).alias("key")
            )
            ids = [(j * stride + off) % span_ids for j in range(10_000)]
            with ctx.op("semi", record) as rec:
                df = tbl.semi_read(kd)
                with tr.span("table.semi_read.exec"):
                    rows = df.collect()
            want = {codec.model_key(n): n for n in ids}
        rec.rows = len(rows)
        rec.extra["layers"] = layers
        if tr.enabled and record:
            rec.extra["files"] = len(df.inputFiles())
        check_rows(ctx, self.model, want, rows, f"{kind} matches the model")

    def _read_your_writes(self, written: list[int]) -> None:
        """Multiget a few keys of every batch of the cycle and one untouched
        live key."""
        ctx, codec = self.ctx, self.codec
        probe = sorted(set(written + self._live_ids(1)))
        layers = layer_count(self.tbl.path)
        with ctx.op("get") as rec:
            keys = [codec.model_key(i) for i in probe]
            df = self.tbl.point_read(keys)
            with ctx.tracer.span("table.point_read.exec"):
                rows = df.collect()
        rec.rows = len(rows)
        rec.extra["layers"] = layers
        if ctx.tracer.enabled:
            rec.extra["files"] = len(df.inputFiles())
        check_rows(ctx, self.model, dict(zip(keys, probe)), rows, "read-your-writes")

    def _lookup(self) -> None:
        """Look up the value the cycle's delete removed from one row: the
        index must return exactly the other live rows holding it."""
        ctx, model, x = self.ctx, self.model, self.deleted_v
        with ctx.op("lookup") as rec:
            with ctx.tracer.span("index.lookup.plan"):
                df = self.idx.lookup(x)
            with ctx.tracer.span("index.lookup.exec"):
                rows = df.collect()
        rec.rows = len(rows)
        want = {self.codec.model_key(i): i for i in model.ids_with_v(x)}
        check_rows(ctx, model, want, rows, "index lookup")

    # -- writes --------------------------------------------------------------

    def _live_ids(self, size: int) -> list[int]:
        out = set()
        hi = self.next_new
        while len(out) < size:
            n = int(self.rng.integers(hi))
            if self.model.row(n) is not None:
                out.add(n)
        return sorted(out)

    def _step(self, kind: str) -> list[int]:
        """Apply one update or delete batch through the index; returns its
        ids."""
        ctx, spark, model, codec = self.ctx, self.ctx.spark, self.model, self.codec
        self.ts += 1
        ts = self.ts
        size = self.batch_rows
        if kind == "update":
            n_new = size // 10
            fresh = list(range(self.next_new, self.next_new + n_new))
            ids = self._live_ids(size - n_new) + fresh
            self.next_new += n_new
            for i in fresh:
                bisect.insort(self.sorted_keys, (codec.model_key(i), i))
            new = {
                i: (ts, int(self.rng.integers(G)), int(self.rng.integers(P)), int(self.rng.integers(100)))
                for i in ids
            }
            batch = spark.createDataFrame(
                [(codec.model_key(i), *r) for i, r in new.items()], COLS
            )
            call = lambda: self.idx.update(batch)  # noqa: E731
        else:
            ids = self._live_ids(size)
            new = {i: None for i in ids}
            self.deleted_v = model.row(ids[0])[2]
            self.deleted += ids
            batch = spark.createDataFrame([(codec.model_key(i),) for i in ids], "key string")
            call = lambda: self.idx.delete(batch)  # noqa: E731
        before = {r: snapshot(p) for r, p in self.roots.items()}
        with ctx.op(kind) as rec:
            with ctx.tracer.span(f"index.{kind}"):
                n = call()
        rec.rows = len(ids)
        rec.extra["bytes_by_root"] = {
            r: bytes_written(before[r], snapshot(p)) for r, p in self.roots.items()
        }
        rec.extra["bytes_written"] = sum(rec.extra["bytes_by_root"].values())
        ctx.check(n == len(ids), f"{kind} returns the batch's row count")
        for i, r in new.items():
            model.set(i, r)
        return ids

    def _refresh(self) -> None:
        ctx = self.ctx
        with ctx.op("refresh") as rec:
            with ctx.tracer.span("matview.refresh") as attrs:
                n = self.mv.refresh()
                attrs["rows"] = n
        rec.rows = n
        got = {r["g"]: (r["sv"], r["n_rows"]) for r in self.mv.df().collect()}
        m = self.model
        want = {g: (int(m.sv[g]), int(m.cnt[g])) for g in range(G) if m.cnt[g] > 0}
        ctx.check(got == want, "matview sums and counts match the model")

    def finish(self) -> dict:
        ctx = self.ctx
        disk_by_root = {r: sum(snapshot(p).values()) for r, p in self.roots.items()}
        t0 = time.perf_counter()
        self.tbl.compact()
        compact_ms = (time.perf_counter() - t0) * 1000.0
        got = spark_table_hash(self.tbl.df())
        ctx.check(got == self.model.table_hash(self.codec, self.next_new), "full-table hash")
        return {
            "disk_bytes": sum(disk_by_root.values()),
            "disk_by_root": disk_by_root,
            "live_rows": self.model.live_count(),
            "compact_ms": compact_ms,
        }
