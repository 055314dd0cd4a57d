"""Runnable twin of the reference's DemoSimpleApp
(/root/reference/src/main/scala/org/apache/spark/hbase/examples/simple/DemoSimpleApp.scala):
generate 1,000 entities with Gaussian features and random tag sets, create a
keyed table, and run the demo's query repertoire — update, mandatory-column
select, tag filter, cell count, sample + derived column + join back.

    python examples/demo_simple.py [workdir]
"""

from __future__ import annotations

import random
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from spark_on_hbase_spark import KeyedTable, get_spark
from spark_on_hbase_spark.operators.joins import lookup_join
from spark_on_hbase_spark.operators.scan import map_contains, sample_deterministic, select_required

TAGS = ["lego", "music", "cars", "cinema", "sport"]


def main() -> None:
    workdir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="demo-simple-")
    spark = get_spark("demo-simple")
    spark.sparkContext.setLogLevel("ERROR")

    rng = random.Random(42)
    rows = []
    for i in range(1000):
        tags = {t: 1 for t in rng.sample(TAGS, rng.randint(0, 3))}
        feats = {"width": rng.gauss(1000.0, 50.0), "height": rng.gauss(1000.0, 50.0)}
        if rng.random() < 0.1:
            del feats["height"]
        rows.append((f"{i:08x}", 1, tags, feats))
    df = spark.createDataFrame(
        rows, "key string, ts int, T map<string,int>, F map<string,double>"
    )

    table = KeyedTable(spark, f"{workdir}/demo-simple")
    table.create(df)
    print(f"table created at {table.path}: {table.df().count()} rows")

    # mandatory-column select: rows missing F:height are dropped
    feats = select_required(table.df(), "key", "F:width", "F:height")
    print("with both features:", feats.count())

    # tag filter (map-contains)
    lego = map_contains(table.df(), "T", "lego")
    print("tagged lego:", lego.count())

    # cell count per row (first 5)
    table.df().select("key", (F.size("T") + F.size("F")).alias("n_cells")).show(5)

    # sample -> derived column -> join back on key
    sampled = sample_deterministic(feats, "key", 0.01).withColumn(
        "area", F.col("F_width") * F.col("F_height")
    )
    joined = lookup_join(table.df(), sampled.select("key", "area"), on="key")
    print("sampled+joined:", joined.count())
    joined.select("key", "area").show(5)

    # mutation: bump one entity, newer ts wins
    table.update(
        spark.createDataFrame(
            [("00000000", 2, {"updated": 1}, {"width": 1.0, "height": 1.0})],
            "key string, ts int, T map<string,int>, F map<string,double>",
        )
    )
    table.df().where(F.col("key") == "00000000").show()


if __name__ == "__main__":
    main()
