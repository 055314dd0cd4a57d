"""SparkSession factory with the engine's scale-oriented defaults.

The reference tuned its launcher shell for the same concerns
(/root/reference/scripts/demo-simple-shell: kryo, shuffle partitions, spill);
here the equivalents are AQE, adaptive shuffle sizing and Arrow transfer.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def size_driver_heap_for_launch(default_mem: str = "24g") -> None:
    """Ensure PYSPARK_SUBMIT_ARGS carries a --driver-memory for the JVM this
    process is about to launch. Entry points that own the launch (bench.py,
    tests/conftest.py, scripts/*) call this BEFORE the first session — a
    builder conf cannot resize a JVM that is already up. Appends to an
    existing PYSPARK_SUBMIT_ARGS (e.g. a user-supplied --packages for the
    Kafka connector) instead of silently dropping the sizing; respects a
    --driver-memory the user already chose."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_mem)
    existing = os.environ.get("PYSPARK_SUBMIT_ARGS")
    if existing is None:
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"
    elif "--driver-memory" not in existing:
        os.environ["PYSPARK_SUBMIT_ARGS"] = existing.replace(
            "pyspark-shell", f"--driver-memory {mem} pyspark-shell"
        ) if "pyspark-shell" in existing else f"{existing} --driver-memory {mem}"


def get_spark(app_name: str = "spark_on_hbase_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    master is whatever the environment provides. The configs below are the
    ones that matter at 100 TB:

    - AQE on: runtime join-strategy selection + skew-join splitting replaces
      the reference's hand-picked MultiGet-vs-RangeScan join choice
      (HBaseRDDFunctions.scala:77-84).
    - ``autoBroadcastJoinThreshold`` generous: dimension tables broadcast, so
      fact-side joins are single-shuffle-free — the reference's "join in a
      single stage" design intent (README.md:14).
    - Arrow on: any remaining Pandas-UDF path is batch-vectorized.

    ``spark.sql.shuffle.partitions`` (``max(cpus, 32)``) is the width
    every shuffle is planned at. ``plans.shuffle_width`` sizes two kinds
    of plan to their data instead, capped at it: the persisted network
    (``graph.from_pairs_partitioned``) and the non-adaptive superstep
    loops (``plans.loop_planner``), which over an already hash-partitioned
    relation, such as that network, take its width. The 32 floor still
    sets the map-side width of the shuffles AQE runs (it coalesces their
    reducers at run time), the sampled bounds of range-partitioned layer
    writes (likewise coalesced), the width of every other persisted
    relation a shuffle partitions (AQE may not change a cached plan's
    partitioning), and the width ``shuffle_width`` gives an input with
    unknown size statistics.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # MIN/MAX/COUNT over a plain scan answer from parquet footer stats
        # (metadata-only; Catalyst only pushes when legal). At 100 TB a
        # COUNT(*) over a partition touches no row data at all.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # NOTE: driver/executor memory is deliberately NOT set here — builder
        # confs cannot resize a JVM that is already up, so setting it in the
        # session factory silently misleads on a real cluster (memory comes
        # from spark-submit / cluster conf there). Local entry points that own
        # the JVM launch (bench.py, tests/conftest.py) size the heap via
        # PYSPARK_SUBMIT_ARGS before the first session is built.
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # bucketed tables (io.write_bucketed) go through saveAsTable; keep
        # the warehouse out of the repo working directory
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "spark_on_hbase_warehouse"),
            ),
        )
        # testdata's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read as long and convert on load
        # (inventory.load converts ns -> microsecond timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    evlog = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if evlog:
        # offline profiling hook (scripts/profile_queries.py): per-job/stage
        # timings without the UI. Off unless the env var names a directory.
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", f"file://{evlog}"
        )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
