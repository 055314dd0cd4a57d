"""Runnable twin of the reference's DemoGraphApp
(/root/reference/src/main/scala/org/apache/spark/hbase/examples/graph/DemoGraphApp.scala):
ingest adjacency text into a symmetric deduplicated network, run the graph
repertoire — degree histogram, counts, expand, BSP connected components —
and persist the network as a keyed layer.

    python examples/demo_graph.py [workdir]
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from spark_on_hbase_spark import KeyedTable, get_spark
from spark_on_hbase_spark.operators import graph as G

ADJACENCY = [
    "a b c",      # component {a,b,c,d}
    "c d",
    "x y",        # component {x,y}
    "p q r",      # component {p,q,r}
]


def main() -> None:
    workdir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="demo-graph-")
    spark = get_spark("demo-graph")
    spark.sparkContext.setLogLevel("ERROR")

    lines = spark.createDataFrame([(l,) for l in ADJACENCY], "value string")
    net = G.from_text_adjacency(lines).localCheckpoint()
    print("edges:")
    net.orderBy("src", "dst").show()

    print("degree histogram:")
    G.degree_histogram(net).show()

    print("network counts (vertices, estimated groups):")
    G.network_counts(net).show()

    pool = spark.createDataFrame([("a",), ("x",)], "key string")
    print("one-hop expand from {a, x}:")
    G.expand(net, pool).orderBy("key").show()

    state = net.select(F.col("src").alias("key")).distinct().withColumn("label", F.col("key"))
    components, iters = G.bsp_converge(net, state, max_iters=10)
    print(f"connected components (converged in {iters} supersteps):")
    components.groupBy("label").agg(F.sort_array(F.collect_list("key")).alias("members")).show(
        truncate=False
    )

    table = KeyedTable(spark, f"{workdir}/demo-graph", key_col="src", ts_col="ts")
    table.create(net)
    print(f"network persisted to {table.path}: {table.df().count()} edges")


if __name__ == "__main__":
    main()
