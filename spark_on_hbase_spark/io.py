"""Misc IO surface (SURVEY.md §2.1 S13/S14).

- S13 Kryo sequence-file save/load (misc/RDDUtils.scala:51-75): obsolete with
  columnar storage — ``snapshot``/``load_snapshot`` provide the same
  checkpoint-a-keyed-layer capability as sorted Parquet (faster, splittable,
  schema'd — everything the Kryo blobs were not).
- S14 HTTP export (misc/HttpRDD.scala:91-131): serve a DataFrame as one CSV
  HTTP response for R's ``read.table(url)``. Same driver-streaming shape:
  ``toLocalIterator`` pulls one partition at a time, so the driver never
  holds the full result — but it IS a driver bottleneck by design; anything
  large should ``df.write.csv`` to shared storage instead (and ``export_csv``
  does exactly that). The HTTP server is a dev/demo convenience, ported for
  parity.
"""

from __future__ import annotations

import csv
import io as _io
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def snapshot(df: DataFrame, path: str, key_col: str | None = None) -> None:
    """S13 — persist a keyed layer for later reuse (RDDUtils.saveAsKryo).
    Sorted Parquet when a key is given (zone-map-prunable, in key ranges
    sized to the data like a table layer), plain otherwise."""
    if key_col:
        df = df.repartitionByRange(F.col(key_col)).sortWithinPartitions(key_col)
    df.write.mode("overwrite").parquet(path)


def load_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """S13 — reload a snapshot (RDDUtils.loadKryo)."""
    return spark.read.parquet(path)


def export_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """The scale-correct export: distributed CSV write to shared storage."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def iter_csv(df: DataFrame, header: bool = True, sep: str = "\t"):
    """Stream a DataFrame as CSV lines on the driver, one partition at a
    time (toLocalIterator — the HttpRDD pull shape, HttpRDD.scala:112-121)."""
    if header:
        buf = _io.StringIO()
        csv.writer(buf, delimiter=sep).writerow(df.columns)
        yield buf.getvalue()
    for row in df.toLocalIterator():
        buf = _io.StringIO()
        csv.writer(buf, delimiter=sep).writerow(["" if v is None else v for v in row])
        yield buf.getvalue()


class HttpDataFrame:
    """S14 — serve a DataFrame as a single CSV HTTP response
    (HttpRDD(rdd, port), misc/HttpRDD.scala:91-131; used from R via
    ``read.table(url)``). Dev convenience; see module docstring."""

    def __init__(self, df: DataFrame, port: int = 0):
        self.df = df
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                self.send_response(200)
                self.send_header("Content-Type", "text/tab-separated-values")
                self.end_headers()
                for line in iter_csv(outer.df):
                    self.wfile.write(line.encode())

            def log_message(self, *a):  # quiet
                pass

        self.server = HTTPServer(("127.0.0.1", port), Handler)
        self.port = self.server.server_address[1]
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()


def write_bucketed(
    df: DataFrame,
    name: str,
    on: str | list[str],
    buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a DataFrame as a bucketed+sorted catalog table — the engine's
    single-stage-join layout. The reference's signature claim is joins in one
    stage regardless of partitioners (README.md:14-16), achieved there by
    partitioner-aware multiget against pre-split regions
    (RegionPartitioner.scala:12-68). Spark-first, the same guarantee comes
    from storage: two tables bucketed on the same key with the same bucket
    count sort-merge-join with ZERO exchanges — the shuffle happened once,
    at write time, and every subsequent join/aggregation on the key reuses
    it (pinned in tests/test_plans.py). At 100 TB this is the difference
    between re-shuffling the fact table per query and never shuffling it."""
    cols = [on] if isinstance(on, str) else list(on)
    (
        df.write.bucketBy(buckets, *cols)
        .sortBy(*(sort_cols or cols))
        .mode(mode)
        .saveAsTable(name)
    )


def bucketed_table(spark: SparkSession, name: str) -> DataFrame:
    """Read back a bucketed table with its bucket metadata (drives exchange
    elision in joins/aggregations on the bucket key)."""
    return spark.table(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    by: str | list[str],
    coalesce_per_value: bool = True,
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned Parquet layout — the engine's partition-pruning
    storage. The reference skips foreign keyspaces server-side with a
    FuzzyRowFilter on the keyspace bytes (keyspace/HBaseRDDKS.scala:29-38);
    stored ``PARTITIONED BY (ks)`` the same predicate prunes whole
    directories before any IO (PartitionFilters, zero data read), and an
    equi-join on the partition column gets dynamic partition pruning: the
    filtered dimension is evaluated first and only matching fact partitions
    are scanned (both pinned in tests/test_plans.py).

    ``coalesce_per_value`` repartitions on the partition columns first, so
    each value is written by one task (one file per value) instead of every
    task writing a sliver of every value — (tasks x values) small files is
    the classic partitioned-layout failure mode at 100 TB. Keep partition
    columns low-cardinality and balanced (keyspace, date, event type); a
    huge single value makes its one writer the straggler — split such a
    column with a salt sub-partition, and put high-cardinality keys in
    bucketing (write_bucketed) instead."""
    cols = [by] if isinstance(by, str) else list(by)
    if coalesce_per_value:
        df = df.repartition(*[F.col(c) for c in cols])
    df.write.mode(mode).partitionBy(*cols).parquet(path)


def partitioned_table(spark: SparkSession, path: str) -> DataFrame:
    """Read back a partitioned layout; partition columns come from directory
    names and never cost IO to filter on."""
    return spark.read.parquet(path)


def zorder_expr(x, y, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative integer columns —
    the multi-dimensional clustering key behind Delta/Iceberg Z-ORDER:
    sorting by z co-locates rows that are close in BOTH dimensions, so
    parquet row-group min/max stats prune two-dimensional range queries
    where a single-column sort only ever prunes its own column. Pure
    bit-shift expressions (whole-stage codegen); exact integer math, so a
    SQL twin reproduces it bit-for-bit. Columns must fit ``bits`` bits
    (mask upstream: ``col.bitwiseAND((1 << bits) - 1)``)."""
    from pyspark.sql import functions as F

    xc = x if not isinstance(x, str) else F.col(x)
    yc = y if not isinstance(y, str) else F.col(y)
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)).cast("bigint"), 2 * i)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(yc, i).bitwiseAND(F.lit(1)).cast("bigint"), 2 * i + 1
            )
        )
    return z


def zorder_sql(x_sql: str, y_sql: str, bits: int = 16) -> str:
    """DuckDB twin of ``zorder_expr`` for SQL oracles. Every term is fully
    parenthesized: DuckDB parses ``<<`` and ``|`` at EQUAL precedence left
    to right, so an unparenthesized ``a << 0 | b << 1`` chain re-shifts the
    accumulated value instead of the bit."""
    terms = []
    for i in range(bits):
        # the bit must widen to BIGINT before shifting: DuckDB shifts INT32
        # literals in INT32 and 1 << 31 overflows
        terms.append(f"(CAST(((({x_sql}) >> {i}) & 1) AS BIGINT) << {2 * i})")
        terms.append(f"(CAST(((({y_sql}) >> {i}) & 1) AS BIGINT) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def write_zordered(
    df: DataFrame, path: str, x, y, num_files: int = 16, bits: int = 16
) -> None:
    """Write ``df`` clustered on the z-order curve of (x, y): range
    partition + sort by the interleaved key, one sorted parquet file per
    range. Same single-shuffle shape as every other layout writer here;
    the payoff is at read time — row-group stats on BOTH x and y become
    selective, so two-dimensional (or y-only!) range scans skip most files,
    which a plain x-sorted layout cannot do (pinned with real parquet
    footer stats in tests/test_io.py)."""
    from pyspark.sql import functions as F

    z = zorder_expr(x, y, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
