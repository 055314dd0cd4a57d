"""Materialized-view demo: an incrementally-maintained revenue rollup over
a keyed LSM table — build the view once, mutate the base (updates that
migrate groups, counter increments, deletes), refresh in O(changed rows),
stream more mutations through a real micro-batch pipeline with the view
kept exactly-once consistent, then compact the base to the view's own
checkpoint without breaking its incremental path.

    python examples/demo_matview.py [workdir]
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import Row
from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from spark_on_hbase_spark import KeyedTable, get_spark
from spark_on_hbase_spark.matview import MaterializedAgg


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="demo_mv_")
    spark = get_spark("demo-matview")
    spark.sparkContext.setLogLevel("ERROR")

    orders = spark.createDataFrame(
        [
            Row(key=1, region="eu", cents=1200, ts=100),
            Row(key=2, region="eu", cents=800, ts=100),
            Row(key=3, region="us", cents=4500, ts=100),
            Row(key=4, region="us", cents=300, ts=100),
            Row(key=5, region="ap", cents=950, ts=100),
        ]
    )
    base = KeyedTable(spark, f"{work}/orders", key_col="key", ts_col="ts")
    base.create(orders)

    mv = MaterializedAgg(
        spark, f"{work}/rollup", base, "region",
        sums={"revenue": "cents"}, count_col="n_orders",
        mins={"min_order": "cents"}, maxs={"max_order": "cents"},
    ).build()
    print("== built rollup ==")
    mv.df().orderBy("region").show()

    # every mutation kind: a group migration, a counter add, a delete of a
    # group's maximum — then ONE refresh applies the exact delta
    base.update(spark.createDataFrame([Row(key=2, region="ap", cents=850, ts=200)]))
    base.increment(
        spark.createDataFrame([Row(key=5, delta=50)]), counter_col="cents"
    )
    base.delete(spark.createDataFrame([Row(key=3)]))  # us loses its max
    touched = mv.refresh()
    print(f"== after refresh (touched {touched} groups) ==")
    mv.df().orderBy("region").show()

    # retention discipline: compact the base UP TO the view's checkpoint —
    # history folds away, the view's pending path stays incremental
    base.compact(keep_since=mv.applied_upto())
    base.increment(
        spark.createDataFrame([Row(key=4, delta=25)]), counter_col="cents"
    )
    assert mv.refresh() > 0  # still incremental, no rebuild
    print("== after checkpoint-aware compaction + one more refresh ==")
    mv.df().orderBy("region").show()

    recomputed = (
        base.df().groupBy("region").agg(
            F.sum("cents").alias("revenue"),
            F.min("cents").alias("min_order"),
            F.max("cents").alias("max_order"),
            F.count("*").alias("n_orders"),
        )
    )
    a = {tuple(r) for r in mv.df().select("region", "revenue", "min_order", "max_order", "n_orders").collect()}
    b = {tuple(r) for r in recomputed.select("region", "revenue", "min_order", "max_order", "n_orders").collect()}
    assert a == b, "incremental view must equal a recompute"
    print("incremental == recompute: OK")


if __name__ == "__main__":
    main()
