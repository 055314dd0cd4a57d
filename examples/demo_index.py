"""Secondary-index demo: the Phoenix-global-index pattern on the engine's
own LSM storage — build a keyed table, index a column, mutate THROUGH the
index (update / partial put / delete), answer by-value queries index-first
(equality, signed range, covered), then stale the index behind its back
and reconcile with scrutiny + repair.

    python examples/demo_index.py [workdir]
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import Row
from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from spark_on_hbase_spark import KeyedTable, get_spark
from spark_on_hbase_spark.index import SecondaryIndex


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="demo_index_")
    spark = get_spark("demo-index")
    spark.sparkContext.setLogLevel("ERROR")

    users = spark.createDataFrame(
        [
            Row(key=1, name="ada", balance=-120, ts=100),
            Row(key=2, name="bob", balance=35, ts=100),
            Row(key=3, name="cyd", balance=35, ts=100),
            Row(key=4, name="dee", balance=900, ts=100),
        ]
    )
    tbl = KeyedTable(spark, f"{work}/users", key_col="key", ts_col="ts")
    tbl.create(users)
    idx = SecondaryIndex(tbl, "balance", f"{work}/idx_balance", include=["name"]).build()

    print("balance == 35      ->", sorted(r["name"] for r in idx.lookup(35).collect()))
    print("balance in [-200,40] (signed range) ->",
          sorted(r["name"] for r in idx.lookup_range(-200, 40).collect()))
    print("covered read (zero base I/O) ->",
          sorted((r["key"], r["name"]) for r in idx.lookup(35, covered=True).collect()))

    # mutations THROUGH the index: tombstone-old / base-write / insert-new,
    # three O(batch) layer appends; stamp= makes the triple retry-idempotent
    idx.update(spark.createDataFrame([Row(key=2, name="bob", balance=-5, ts=200)]), stamp="batch1")
    idx.put(spark.createDataFrame([Row(key=4, balance=40, ts=300)]))  # partial row
    idx.increment(spark.createDataFrame([Row(key=1, delta=100, ts=350)]), counter_col="balance")
    idx.delete(spark.createDataFrame([Row(key=3)]))
    print("after mutations, [-200,40] ->",
          sorted(r["name"] for r in idx.lookup_range(-200, 40).collect()))

    # composite index + SKIP SCAN: probe the second column without fixing
    # the first — leading tuples come from the guidepost record (a stats
    # dictionary in the index table's log, committed with every entries
    # write), so enumeration is a metadata read, not an index scan
    cidx = SecondaryIndex(tbl, ["name", "balance"], f"{work}/idx_nb").build()
    print("skip scan balance == 40 (no name fixed) ->",
          sorted(r["key"] for r in cidx.lookup_skip(balance=40).collect()))

    # stale it behind the index's back, then audit + repair
    tbl.update(spark.createDataFrame([Row(key=1, name="ada", balance=500, ts=400)]))
    print("scrutiny:", sorted((r["ikey"], r["status"]) for r in idx.scrutiny().collect()))
    print("repair:", idx.repair())
    print("post-repair, balance == 500 ->",
          sorted(r["name"] for r in idx.lookup(500).collect()))
    assert idx.scrutiny().count() == 0

    # ROW Bloom filters (the reference's BloomType.ROW): every layer gets a
    # blocked-Bloom sidecar, so a multiget skips files the bloom proves
    # key-free — and a get of an ABSENT key touches no data file at all
    btbl = KeyedTable(
        spark, f"{work}/users_bloom", key_col="key", ts_col="ts",
        bloom=True,
    )
    btbl.create(users)
    btbl.update(spark.createDataFrame([Row(key=2, name="bob", balance=1, ts=500)]))
    print("bloomed multiget [2, 999] ->",
          sorted((r["key"], r["balance"]) for r in btbl.point_read([2, 999]).collect()))
    print("absent key 999 files read:",
          len(btbl.point_read([999]).inputFiles()))
    print("index consistent. demo ok")


if __name__ == "__main__":
    main()
