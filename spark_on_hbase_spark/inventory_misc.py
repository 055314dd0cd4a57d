"""Mutation-merge semantics and event-time windows as graded queries.

The KeyedTable mutation paths (SURVEY.md §2.1 S5-S8) are filesystem writes —
tested in tests/test_table.py — but their *merge semantics* (last-writer-wins
by ts with batch-wins ties; pre-aggregated increments skipping zero deltas)
are pure relational transforms, so they are also graded here as read-only
queries with DuckDB oracles, derived deterministically from the testdata.

The window queries cover the Structured Streaming aggregation surface
(streaming/ingest.py) in batch mode, where the oracle can check them:
``F.window`` / ``F.session_window`` produce identical results on a batch
DataFrame, and the streaming tests (tests/test_streaming.py) pin the
incremental execution of the same logic.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_on_hbase_spark.inventory import (
    dsum,
    input_tag,
    load,
    publish_fixture,
    query,
    sf_tag,
    warmer,
)
from spark_on_hbase_spark.operators import agg as A
from spark_on_hbase_spark.table import KeyedTable, _upsert_latest


@query(
    "merge_join_big_big",
    """
    SELECT o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 100000.0
    GROUP BY o.o_orderpriority
    """,
    doc="J2 — sort-merge join of two big keyed tables (HBaseJoinRangeScan "
    "walks sorted iterators in lockstep, HBaseRDDFunctions.scala:200-268; "
    "Spark's SMJ is the same algorithm). The merge hint pins the strategy "
    "for the big-big case; with both tables stored bucketed/sorted by key "
    "the exchange is elided entirely (storage-partitioned join). Plan "
    "asserted in tests/test_plans.py.",
    tags=("join",),
)
def merge_join_big_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark.operators.joins import merge_join

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000.0).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = merge_join(li, orders, on="l_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


_BUCKETED_CACHE: dict = {}


def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders+lineitem as bucketed catalog tables ONCE per
    (session, sf_dir) — the write-time shuffle that every subsequent join
    on the key reuses (io.write_bucketed). Names carry the sf suffix so
    correctness (sf0.01) and bench (sf0.1) runs don't collide."""
    from spark_on_hbase_spark import io as IO

    suffix = sf_tag(sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BUCKETED_CACHE:
        o_name, l_name = f"bkt_orders_{suffix}", f"bkt_lineitem_{suffix}"
        # the warehouse dir outlives the (per-run) catalog: clear both the
        # catalog entry and any orphaned location from a previous session,
        # otherwise saveAsTable refuses the "new" table name
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for name in (o_name, l_name):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
        IO.write_bucketed(orders, o_name, "o_orderkey", buckets=16)
        IO.write_bucketed(li, l_name, "l_orderkey", buckets=16)
        _BUCKETED_CACHE[key] = (o_name, l_name)
    return _BUCKETED_CACHE[key]


warmer("bucketed_tables")(_bucketed_pair)


@query(
    "bucketed_smj_revenue",
    """
    SELECT o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 100000.0
    GROUP BY o.o_orderpriority
    """,
    doc="J2/P1 at its 100 TB shape — the single-stage-join claim "
    "(reference README.md:14-16, partitioner-aware multiget against "
    "pre-split regions, RegionPartitioner.scala:12-68) proven WITH DATA, "
    "not just a toy plan test: orders and lineitem are stored bucketed+"
    "sorted on the join key (one write-time shuffle, reused forever), then "
    "sort-merge-joined with ZERO exchanges below the join — asserted on the "
    "live plan every run, at sf0.1 in the bench and sf0.01 in the "
    "correctness gate. Only the final small groupBy(o_orderpriority) "
    "exchanges. Same result as merge_join_big_big, so the oracle also "
    "cross-checks the bucketed read path against the plain-parquet path.",
    tags=("join", "bucketed", "storage"),
)
def bucketed_smj_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark import io as IO
    from spark_on_hbase_spark import plans

    o_name, l_name = _bucketed_pair(spark, sf_dir)
    orders = IO.bucketed_table(spark, o_name).where(F.col("o_totalprice") > 100000.0)
    li = IO.bucketed_table(spark, l_name)
    joined = li.hint("merge").join(orders, li["l_orderkey"] == orders["o_orderkey"])
    out = joined.groupBy("o_orderpriority").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )
    # the guarantee IS the query: storage bucketing must elide every
    # exchange below the SMJ, leaving only the final tiny aggregation
    # shuffle — fail loudly if the plan regresses
    plan = plans.formatted_plan(out)
    assert "SortMergeJoin" in plan, "bucketed join must sort-merge"
    n_shuffles = plans.count_shuffles(out)
    assert n_shuffles <= 1, f"bucketed SMJ must not re-shuffle, saw {n_shuffles}"
    return out


_SQL_API_TEXT = """
    SELECT r.r_name, n.n_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
"""


@query(
    "sql_api_revenue_by_nation",
    _SQL_API_TEXT,
    doc="The SQL entry point: the engine's tables registered as temp views "
    "and queried with spark.sql — identical text runs on the DuckDB oracle. "
    "The reference has no SQL layer at all (SURVEY.md §3: 'no SQL layer, no "
    "parser, no plan IR'); on DataFrames it comes free, including Catalyst "
    "join reordering and AQE over the 3-table join.",
    tags=("sql", "join", "agg"),
)
def sql_api_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("orders", "customer", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_API_TEXT)


@query(
    "keyspace_scan",
    """
    WITH keyed AS (
        SELECT substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8)
                   || ':C:' || c_custkey AS key,
               'C' AS ks, c_name AS name FROM customer
        UNION ALL
        SELECT substring(md5(CAST(s_suppkey AS VARCHAR)), 1, 8)
                   || ':S:' || s_suppkey AS key,
               'S' AS ks, s_name AS name FROM supplier
    )
    SELECT key, name FROM keyed WHERE ks = 'S'
    """,
    doc="S4/F8 — keyspace-restricted scan of a mixed-keyspace table: "
    "customers and suppliers share one salted key space "
    "(<salt8hex>:<ks>:<id>, keys.salted_key_expr — the engine's twin of "
    "[4B salt][2B keyspace][id], keyspace/Key.scala:6-23) and the scan "
    "keeps one keyspace — the reference's server-side FuzzyRowFilter on "
    "bytes 5-6 (keyspace/HBaseRDDKS.scala:29-38). Stored partitioned by "
    "keyspace, this predicate becomes partition pruning.",
    tags=("scan", "keyspace"),
)
def keyspace_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark.keys import salted_key_expr

    cust = load(spark, sf_dir, "customer").select(
        salted_key_expr("C", "c_custkey").alias("key"),
        F.lit("C").alias("ks"),
        F.col("c_name").alias("name"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        salted_key_expr("S", "s_suppkey").alias("key"),
        F.lit("S").alias("ks"),
        F.col("s_name").alias("name"),
    )
    mixed = cust.unionByName(supp)
    return mixed.where(F.col("ks") == "S").select("key", "name")


@query(
    "pool_count",
    """
    WITH pairs AS (
        SELECT 's:' || l_suppkey AS src, 'p:' || l_partkey AS dst FROM lineitem
    ),
    sym AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ),
    pool AS (
        SELECT src AS key, GREATEST(src, MAX(dst)) AS origin FROM sym GROUP BY src
    )
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(CASE WHEN key = origin THEN 1 ELSE 0 END) AS BIGINT)
               AS n_self_max
    FROM pool
    """,
    doc="A8 — pool counts: (#keys, #keys that are their own group maximum) "
    "(AGraph.count, AGraph.scala:223-228). The pool here assigns every "
    "vertex the max of itself and its neighbors — one superstep of max "
    "propagation — then counts self-maximal vertices: one aggregation over "
    "a derived layer.",
    tags=("graph", "agg"),
)
def pool_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    )
    sym = pairs.unionByName(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # max-of-self-and-neighbors folds into ONE hash aggregation: no distinct
    # passes, no union — the shuffle carries partial maxes, not edges.
    pool = (
        sym.groupBy("src")
        .agg(F.greatest(F.col("src"), F.max("dst")).alias("origin"))
        .withColumnRenamed("src", "key")
    )
    return pool.agg(
        F.count("*").alias("n_keys"),
        F.sum(F.when(F.col("key") == F.col("origin"), 1).otherwise(0)).alias("n_self_max"),
    )


@query(
    "mutation_upsert_merge",
    """
    WITH current AS (
        SELECT c_custkey AS key, c_name AS name, 100 AS ts FROM customer
    ),
    batch AS (
        SELECT c_custkey AS key, 'upd:' || c_custkey AS name,
               100 + (c_custkey % 3) * 50 - 50 AS ts
        FROM customer WHERE c_custkey % 5 = 0
    ),
    unioned AS (
        SELECT key, name, ts, 0 AS src FROM current
        UNION ALL
        SELECT key, name, ts, 1 AS src FROM batch
    ),
    ranked AS (
        SELECT key, name, ts,
               row_number() OVER (PARTITION BY key ORDER BY ts DESC, src DESC) AS rn
        FROM unioned
    )
    SELECT key, ts, name FROM ranked WHERE rn = 1
    """,
    doc="S5/S9 — upsert merge, last-writer-wins by ts with incoming-batch "
    "tie-break (HBase cell-timestamp conflict resolution, "
    "HBaseTable.update, HBaseTable.scala:100-122). Implemented as the "
    "table's version fold over two layers (table.py:_upsert_latest -> "
    "_merge_layers_fold): union + one hash shuffle + window resolution, no "
    "join — the same plan every KeyedTable read uses. The batch here "
    "carries ts in {50,100,150}: stale writes lose, ties go to the batch, "
    "newer writes win — all three paths graded.",
    tags=("mutation",),
)
def mutation_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    current = cust.select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name"), F.lit(100).alias("ts")
    )
    batch = cust.where(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("key"),
        F.concat(F.lit("upd:"), F.col("c_custkey")).alias("name"),
        (F.lit(100) + (F.col("c_custkey") % 3) * 50 - 50).cast("int").alias("ts"),
    )
    return _upsert_latest(current, batch, "key", "ts")


@query(
    "mutation_increment_merge",
    """
    WITH deltas AS (
        SELECT o_custkey AS key,
               CAST(SUM(o_orderkey % 5 - 2) AS BIGINT) AS delta
        FROM orders GROUP BY o_custkey HAVING SUM(o_orderkey % 5 - 2) <> 0
    )
    SELECT c.c_custkey AS key,
           CAST(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) + COALESCE(d.delta, 0)
                AS DECIMAL(20,2)) AS DOUBLE) AS counter
    FROM customer c LEFT JOIN deltas d ON c.c_custkey = d.key
    """,
    doc="S7 — counter increment: deltas pre-aggregate per key (map-side "
    "combine — the scalable form of HBase server-side atomic adds), zero "
    "net deltas are skipped (HBaseTable.increment, HBaseTable.scala:157-179 "
    "skips zero deltas), then one add-merge join into the stored counter. "
    "The internal sum stays DECIMAL for exactness; the emitted counter is "
    "DOUBLE (the repo's convention for every decimal-valued graded query — "
    "the driver's hasher canonicalizes DECIMAL differently from Spark).",
    tags=("mutation",),
)
def mutation_increment_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    deltas = (
        orders.groupBy(F.col("o_custkey").alias("key"))
        .agg(F.sum(F.col("o_orderkey") % 5 - 2).alias("delta"))
        .where(F.col("delta") != 0)
    )
    cust = load(spark, sf_dir, "customer")
    return cust.join(deltas, cust["c_custkey"] == deltas["key"], "left").select(
        F.col("c_custkey").alias("key"),
        (F.col("c_acctbal").cast("decimal(18,2)") + F.coalesce(F.col("delta"), F.lit(0)))
        .cast("decimal(20,2)")
        .cast("double")
        .alias("counter"),
    )


@query(
    "lsm_compaction_fold",
    """
    WITH base AS (
        SELECT c_custkey AS key,
               c_name AS name,
               c_acctbal AS bal,
               CASE WHEN c_custkey % 2 = 0 THEN 50 ELSE 100 END AS ts
        FROM customer
    ),
    folded AS (
        SELECT key,
               CASE WHEN key % 13 = 0 THEN NULL
                    WHEN key % 5 = 0 THEN 'put:' || key
                    WHEN key % 7 = 0 THEN 'upd:' || key
                    ELSE name END AS name,
               (CASE WHEN key % 7 = 0 THEN bal + CAST(1000.0 AS DOUBLE)
                     ELSE bal END)
                 + (CASE WHEN key % 3 = 0 AND key % 10 <> 5
                         THEN CAST(key % 10 - 5 AS DOUBLE)
                         ELSE CAST(0.0 AS DOUBLE) END) AS bal,
               CAST(CASE WHEN key % 5 = 0 THEN 300
                         WHEN key % 7 = 0 THEN 200
                         ELSE ts END AS INTEGER) AS ts
        FROM base
        WHERE key % 11 <> 0
    )
    SELECT key, name, bal, ts FROM folded WHERE ts >= 75
    """,
    doc="S5+S6+S7+S8+TTL+compaction in one graded plan: builds a KeyedTable "
    "from customer (ts 50 for even keys, 100 for odd), then stacks the full "
    "LSM mutation alphabet — ROW upsert (keys %7: name 'upd:k', bal+1000, "
    "ts 200), SPARSE cell put (keys %5: name 'put:k', ts 300, bal kept), "
    "DELTA increment (keys %3: bal += k%10-5, zero deltas skipped), row "
    "tombstones (keys %11), CELLDEL of name (keys %13) — major-compacts, "
    "and reads the folded state under TTL 850 at now=925 (cutoff 75: even "
    "keys never re-written are purged). This puts the hardest custom "
    "semantics — the ordered version fold (table.py:_merge_layers_fold, "
    "one shuffle + window pass over every layer kind) and "
    "TTL-at-compaction (reference column-family TTL, "
    "examples/simple/HBaseTableSimple.scala:23-30) — under the DuckDB hard "
    "signal, not just pytest. The oracle mirrors the fold as CASE algebra: "
    "put beats upd (later layer, ts 300>=200), celldel beats both, "
    "tombstones and TTL drop rows. O(batch) writes; the only table-sized "
    "job is the compaction itself (one repartitionByRange + sort).",
    tags=("mutation", "table"),
)
def lsm_compaction_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.when(F.col("c_custkey") % 2 == 0, 50).otherwise(100).cast("int").alias("ts"),
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"lsm_fold_{spark.sparkContext.applicationId}_"
        f"{sf_tag(sf_dir)}",
    )
    shutil.rmtree(path, ignore_errors=True)
    tbl = KeyedTable(
        spark, path, key_col="key", ts_col="ts",
        compact_threshold=16,
        ttl=850, now_fn=lambda: 925,
    )
    tbl.create(base)
    keys = base.select("key")
    # ROW upsert: whole-row last-writer-wins at ts 200
    tbl.update(
        base.where(F.col("key") % 7 == 0).select(
            "key",
            F.concat(F.lit("upd:"), F.col("key")).alias("name"),
            (F.col("bal") + F.lit(1000.0)).alias("bal"),
            F.lit(200).cast("int").alias("ts"),
        )
    )
    # SPARSE cell put: name overwritten at ts 300, bal absent => kept
    tbl.put(
        keys.where(F.col("key") % 5 == 0).select(
            "key",
            F.concat(F.lit("put:"), F.col("key")).alias("name"),
            F.lit(300).cast("int").alias("ts"),
        )
    )
    # DELTA increment: additive, zero deltas skipped by increment() itself
    tbl.increment(
        keys.where(F.col("key") % 3 == 0).select(
            "key", (F.col("key") % 10 - 5).cast("double").alias("delta")
        ),
        counter_col="bal",
    )
    # whole-row tombstones
    tbl.delete(keys.where(F.col("key") % 11 == 0))
    # per-cell tombstone on name
    tbl.delete(keys.where(F.col("key") % 13 == 0), columns=["name"])
    tbl.compact()
    return tbl.df()


@query(
    "lsm_time_travel",
    """
    WITH base AS (
        SELECT c_custkey AS key, c_name AS name, 100 AS ts
        FROM customer
    )
    SELECT key,
           CASE WHEN key % 4 = 0 THEN 'v2:' || key ELSE name END AS name,
           CAST(CASE WHEN key % 4 = 0 THEN 200 ELSE 100 END AS INTEGER) AS ts
    FROM base
    """,
    doc="LSM time travel graded (superset; pytest-pinned in "
    "tests/test_table.py::test_time_travel_reads_layer_prefix): every "
    "mutation is an immutable layer, so any historical state is a "
    "layer-prefix read. Build base, snapshot after an upsert (keys %4 -> "
    "'v2', ts 200), then DELETE a third of the table and upsert again — and "
    "read back AS OF the snapshot: the oracle sees only the first "
    "mutation; the later delete and 'v3' rewrite must be invisible. The "
    "snapshot is a layer-seq integer (snapshot_seq), no copied data — the "
    "LSM's free time travel; horizon bounded by compact_threshold.",
    tags=("mutation", "table", "time-travel"),
)
def lsm_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.lit(100).cast("int").alias("ts"),
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"lsm_tt_{spark.sparkContext.applicationId}_"
        f"{sf_tag(sf_dir)}",
    )
    shutil.rmtree(path, ignore_errors=True)
    tbl = KeyedTable(
        spark, path, key_col="key", ts_col="ts",
        compact_threshold=16,
    )
    tbl.create(base)
    keys = base.select("key")
    tbl.update(
        keys.where(F.col("key") % 4 == 0).select(
            "key",
            F.concat(F.lit("v2:"), F.col("key")).alias("name"),
            F.lit(200).cast("int").alias("ts"),
        )
    )
    snapshot = tbl.snapshot_seq()
    # post-snapshot history the as-of read must NOT see
    tbl.delete(keys.where(F.col("key") % 3 == 0))
    tbl.update(
        keys.where(F.col("key") % 4 == 0).select(
            "key",
            F.concat(F.lit("v3:"), F.col("key")).alias("name"),
            F.lit(300).cast("int").alias("ts"),
        )
    )
    return tbl.df(as_of_layer=snapshot)


@query(
    "funnel_conversion",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        WHERE e.event_type = 'view' GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s4 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    summary AS (
        SELECT 1 AS stage, 'signup' AS step, (SELECT COUNT(*) FROM s1) AS n_users
        UNION ALL SELECT 2, 'view', (SELECT COUNT(*) FROM s2)
        UNION ALL SELECT 3, 'click', (SELECT COUNT(*) FROM s3)
        UNION ALL SELECT 4, 'purchase', (SELECT COUNT(*) FROM s4)
    )
    SELECT stage, step, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users AS DOUBLE)
             / CAST(COALESCE(LAG(n_users) OVER (ORDER BY stage), n_users) AS DOUBLE)
               AS conversion
    FROM summary ORDER BY stage
    """,
    doc="Ordered multi-step funnel (signup -> view -> click -> purchase): "
    "stage k is reached at the first event of its type strictly after "
    "stage k-1's time. Per stage one predicate-pushed scan + join + MIN "
    "aggregation, every shuffle keyed on the user so consecutive stages "
    "reuse one partitioning; no per-user event array is ever collected "
    "(the sort-events-per-user approach dies on celebrity users at 100 "
    "TB). Conversion window runs over 4 rows — bounded.",
    tags=("events", "agg"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return A.funnel(ev, ["signup", "view", "click", "purchase"])


@query(
    "event_volume_anomaly",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    moments AS (
        SELECT event_type, COUNT(*) AS m,
               CAST(SUM(n_events) AS BIGINT) AS s,
               SUM(CAST(n_events AS HUGEINT) * n_events) AS ss
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n_events,
           CASE WHEN mo.m > 1 AND
                     (CAST(mo.ss AS DOUBLE)
                        - CAST(mo.s AS DOUBLE) * CAST(mo.s AS DOUBLE)
                          / CAST(mo.m AS DOUBLE))
                       / CAST(mo.m - 1 AS DOUBLE) > 0
                THEN (CAST(d.n_events AS DOUBLE)
                        - CAST(mo.s AS DOUBLE) / CAST(mo.m AS DOUBLE))
                     / sqrt((CAST(mo.ss AS DOUBLE)
                               - CAST(mo.s AS DOUBLE) * CAST(mo.s AS DOUBLE)
                                 / CAST(mo.m AS DOUBLE))
                            / CAST(mo.m - 1 AS DOUBLE))
                ELSE 0.0 END AS z
    FROM daily d JOIN moments mo USING (event_type)
    ORDER BY d.event_type, d.day
    """,
    doc="Volume anomaly detection: per-(type, day) event count z-scored "
    "against the type's daily distribution — WITHOUT the engines' stddev "
    "(its sum-of-squares accumulates in partition order, differing across "
    "engines and runs). Moments are exact integers (squared counts in "
    "DECIMAL/HUGEINT: a daily count squared overflows BIGINT at 100 TB), "
    "variance/z derive from a fixed IEEE expression tree, and sqrt is "
    "correctly-rounded per IEEE-754 (unlike ln) — bit-identical z on both "
    "engines. Two hash aggs; the one-row-per-type moment relation "
    "broadcasts back.",
    tags=("events", "agg"),
)
def event_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.daily_volume_anomaly(load(spark, sf_dir, "events"))


@query(
    "cohort_retention",
    """
    WITH ev AS (
        SELECT user_id AS u, CAST(ts AS DATE) AS day FROM events
    ),
    first AS (SELECT u, MIN(day) AS cohort_day FROM ev GROUP BY u),
    sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM first GROUP BY cohort_day),
    active AS (
        SELECT DISTINCT e.u, f.cohort_day,
               CAST(FLOOR(date_diff('day', f.cohort_day, e.day) / 7.0) AS INTEGER)
                   AS period
        FROM ev e JOIN first f ON e.u = f.u
    )
    SELECT a.cohort_day, a.period,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(COUNT(*) AS DOUBLE) / s.cohort_size AS retention
    FROM active a JOIN sizes s ON a.cohort_day = s.cohort_day
    GROUP BY a.cohort_day, a.period, s.cohort_size
    ORDER BY a.cohort_day, a.period
    """,
    doc="Cohort retention: users cohort by first-event DAY; period-k "
    "retention = active users in week k after the cohort day / cohort "
    "size. Period indices are day-truncation + integer division, NOT "
    "engine week buckets (Spark aligns weeks to the 1970 epoch, DuckDB's "
    "time_bucket to 2000-01-03 — they silently disagree). Two user-keyed "
    "aggregations sharing one partitioning; cohort sizes broadcast.",
    tags=("events", "agg"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.cohort_retention(load(spark, sf_dir, "events"))


@query(
    "tumbling_window_agg",
    """
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Event-time tumbling window aggregation (1-day buckets) — the batch "
    "twin of streaming/ingest.py:windowed_agg; in streaming the same "
    "expression runs incrementally with a watermark bounding state.",
    tags=("window", "streaming"),
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "sliding_window_agg",
    """
    WITH slides AS (
        SELECT event_type, value,
               time_bucket(INTERVAL '12 hours', ts)
                   - i * INTERVAL '12 hours' AS window_start
        FROM events, (SELECT unnest([0, 1]) AS i)
    )
    SELECT window_start, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM slides GROUP BY 1, 2
    """,
    doc="Sliding window (1 day window, 12 h slide): every event lands in "
    "w/s = 2 windows. The oracle derives the same windows by bucket-shift "
    "union — checking Spark's window() expansion exactly.",
    tags=("window", "streaming"),
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day", "12 hours").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "session_window_agg",
    """
    WITH flags AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="Session windows (30-minute gap) per user — the canonical stateful "
    "streaming aggregation (streaming/ingest.py:sessionized_counts), graded "
    "in batch mode against a lag/cumulative-sum oracle. Spark merges an "
    "event into the open session iff ts < last_ts + gap (half-open), which "
    "the oracle mirrors with the >= boundary.",
    tags=("window", "streaming", "stateful"),
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "streaming_increment_fold",
    """
    SELECT user_id,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS hits
    FROM events GROUP BY user_id
    """,
    doc="A REAL micro-batch stream into a KeyedTable under the hard oracle "
    "signal (the other streaming-tagged queries grade batch twins; this "
    "one's execution path IS writeStream.foreachBatch): the events table "
    "is split into 3 batch files, a file stream (maxFilesPerTrigger=1, "
    "availableNow) drives 3 micro-batches through "
    "increment_stream_into_table — the exactly-once counter sink whose "
    "(guard, batch) stamp commits in the same table-log swap as its delta "
    "layer — and "
    "the folded table is read back. Deltas are exact integers "
    "(floor(value*100), the embeddings quantization trick), so the "
    "batch-computed oracle SUM matches bit-for-bit regardless of how the "
    "stream chunked the data: addition is the one fold that commutes with "
    "ANY micro-batch partitioning. At 100 TB/day the same topology holds — "
    "checkpointed offsets + stamped layers give exactly-once counters, "
    "and each micro-batch costs O(batch): one pre-aggregated delta layer.",
    tags=("streaming", "mutation", "table"),
)
def streaming_increment_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from spark_on_hbase_spark import streaming as ST
    from spark_on_hbase_spark.table import KeyedTable

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(
        tempfile.gettempdir(),
        f"stream_inc_{spark.sparkContext.applicationId}_{tag}",
    )
    src_dir, ckpt = os.path.join(root, "batches"), os.path.join(root, "ckpt")
    tbl = KeyedTable(
        spark, os.path.join(root, "table"), key_col="k", ts_col="ts",
    )
    # fixture is built and streamed once per (session, sf_dir): re-running
    # the query replays the availableNow stream against the same checkpoint
    # (no new files -> no-op) and re-reads the folded table — deterministic
    if not tbl.exists():
        events = load(spark, sf_dir, "events")
        deltas = events.select(
            F.col("user_id").alias("k"),
            F.floor(F.col("value") * 100).cast("bigint").alias("delta"),
            "event_id",
        )
        os.makedirs(src_dir, exist_ok=True)
        for b in range(3):
            tmp = os.path.join(root, f"tmp{b}")
            deltas.where(F.col("event_id") % 3 == b).drop("event_id").coalesce(
                1
            ).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            shutil.move(os.path.join(tmp, part), os.path.join(src_dir, f"b{b}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)
        tbl.create(
            events.select(F.col("user_id").alias("k"))
            .distinct()
            .withColumn("ts", F.lit(0).cast("bigint"))
            .withColumn("hits", F.lit(0).cast("bigint"))
        )
        stream = (
            spark.readStream.format("parquet")
            .schema("k bigint, delta bigint")
            .option("maxFilesPerTrigger", 1)
            .load(src_dir)
        )
        q = ST.increment_stream_into_table(
            stream, tbl, ckpt, counter_col="hits", available_now=True
        )
        q.awaitTermination(300)
    return tbl.df().select(F.col("k").alias("user_id"), "hits")


@query(
    "rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Superset of SURVEY.md §2.4 ('not present: grouping sets/cube/"
    "rollup'): hierarchical subtotals in ONE pass — per (flag, status), per "
    "flag, and grand total. Catalyst plans rollup as a single Expand + "
    "aggregation (partial+final), not one scan per level.",
    tags=("agg",),
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", scale=4),
        F.count("*").alias("n_items"),
    )


@query(
    "distinct_counts",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Superset of SURVEY.md §2.4 ('not present: distinct-count'): exact "
    "multi-column distinct aggregation. Catalyst's Expand-based rewrite "
    "computes both distincts in one shuffled pipeline; at 100 TB swap in "
    "approx_count_distinct (HLL) where a 1-2% error buys a fixed-size "
    "sketch instead of a distinct shuffle.",
    tags=("agg",),
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_items"),
    )


@query(
    "window_running_totals",
    """
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER w AS order_seq,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS running_total
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Superset of SURVEY.md §2.4 ('window functions: none' — the "
    "reference computed its one cumulative threshold on a driver-side "
    "collected array, AGraph.scala:103-107): per-customer order sequence "
    "and running spend, fully distributed. Total order (date, orderkey) "
    "makes the frame deterministic for the oracle.",
    tags=("agg", "window"),
)
def window_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    od = load(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    return od.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@query(
    "quantile_summary",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5) AS median,
           quantile_cont(l_quantity, 0.75) AS q75
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Superset of SURVEY.md §2.4 ('not present: median/percentile'): "
    "exact interpolated quantiles per group (Spark `percentile` == ANSI "
    "percentile_cont == DuckDB quantile_cont; quarter-quantiles over the "
    "integer-valued quantity column are bit-exact across engines). At "
    "100 TB swap in approx_percentile (t-digest/KLL-style sketch) — exact "
    "percentile keeps per-group value buffers.",
    tags=("agg",),
)
def quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.5)).alias("median"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
    )


@query(
    "top_k_customers",
    """
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    ORDER BY total_spend DESC, o_custkey LIMIT 100
    """,
    doc="Superset of SURVEY.md §2.5 ('no LIMIT/top-k operator exists' — the "
    "reference's demos collect() and print): global top-k as "
    "TakeOrderedAndProject — each partition keeps a k-row heap, the driver "
    "merges k*partitions rows, never the full sort. Unique tiebreak "
    "(custkey) makes the cut deterministic for the oracle.",
    tags=("sort", "limit"),
)
def top_k_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    return (
        od.groupBy("o_custkey")
        .agg(dsum("o_totalprice", "total_spend"), F.count("*").alias("n_orders"))
        .orderBy(F.col("total_spend").desc(), F.col("o_custkey"))
        .limit(100)
    )


@query(
    "set_ops_part_flags",
    """
    WITH flags AS (
        SELECT l_partkey,
               bool_or(l_returnflag = 'R') AS has_r,
               bool_or(l_returnflag = 'A') AS has_a
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
        GROUP BY l_partkey
    )
    SELECT
        CAST(SUM(CASE WHEN has_r AND has_a THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        CAST(SUM(CASE WHEN has_r AND NOT has_a THEN 1 ELSE 0 END) AS BIGINT) AS n_r_only,
        COUNT(*) AS n_either
    FROM flags
    """,
    doc="Superset of SURVEY.md §2.6 (no named set operators in the "
    "reference — set semantics were buried inside flatMaps and driver-side "
    "Sets): logically |R INTERSECT A| / |R EXCEPT A| / |R UNION A| over "
    "distinct part keys. Physically ONE membership-flag aggregation + a "
    "global reduce (2 shuffles, single scan) — three separate "
    "intersect/except/union plans would scan lineitem twice each and pay 9 "
    "shuffles for the same three scalars (the round-1 plan audit's "
    "scale-killer). Spark's named set operators (intersect/except_/union) "
    "remain available and are pinned equivalent in "
    "tests/test_plans.py::test_set_ops_classification_matches_named_ops.",
    tags=("set",),
)
def set_ops_part_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    flags = (
        li.where(F.col("l_returnflag").isin("R", "A"))
        .groupBy("l_partkey")
        .agg(
            F.bool_or(F.col("l_returnflag") == "R").alias("has_r"),
            F.bool_or(F.col("l_returnflag") == "A").alias("has_a"),
        )
    )
    return flags.agg(
        F.sum(F.when(F.col("has_r") & F.col("has_a"), 1).otherwise(0)).alias("n_both"),
        F.sum(F.when(F.col("has_r") & ~F.col("has_a"), 1).otherwise(0)).alias("n_r_only"),
        F.count("*").alias("n_either"),
    )


@query(
    "salted_join_revenue",
    """
    SELECT n.n_name AS nation, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="P2 at query time — the skew-proof salted equi-join (operators/"
    "joins.salted_join): celebrity keys on the fact side split across salt "
    "buckets, the dimension side replicates once per bucket, and the result "
    "is row-identical to the plain join (pinned both here against the "
    "unsalted oracle and in tests/test_joins.py::"
    "test_salted_join_matches_plain_join under 70% single-key skew). The "
    "storage layer already salts row keys (keys.salt_expr — the reference's "
    "uniform prefix, keyspace/KeySpace.scala:36-44); this is the same idea "
    "for a single skewed JOIN key when AQE skew-splitting isn't available.",
    tags=("join", "skew"),
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark.operators import joins as J

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    salted = J.salted_join(orders, cust, on="o_custkey", salt_buckets=8)
    return (
        salted.join(F.broadcast(nation), salted["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "revenue"))
    )


@query(
    "cross_join_grid",
    """
    SELECT a.r_name AS region_a, b.r_name AS region_b,
           n.nation_count
    FROM region a CROSS JOIN region b
    CROSS JOIN (SELECT COUNT(*) AS nation_count FROM nation) n
    WHERE a.r_regionkey <> b.r_regionkey
    """,
    doc="Superset of SURVEY.md §2.3 ('not present: ... cross joins'): an "
    "explicit cartesian pairing of two tiny dimensions plus a 1-row "
    "aggregate — planned as broadcast nested-loop, the one place BNLJ is "
    "the RIGHT plan (both sides bounded). Guarded use only: the engine's "
    "range/as-of operators exist precisely so big-table temporal logic "
    "never degenerates to this.",
    tags=("join", "set"),
)
def cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    a = region.select(F.col("r_regionkey").alias("ka"), F.col("r_name").alias("region_a"))
    b = region.select(F.col("r_regionkey").alias("kb"), F.col("r_name").alias("region_b"))
    n = load(spark, sf_dir, "nation").agg(F.count("*").alias("nation_count"))
    return (
        a.crossJoin(b)
        .where(F.col("ka") != F.col("kb"))
        .crossJoin(n)
        .select("region_a", "region_b", "nation_count")
    )


@query(
    "approx_distinct_gate",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Scale path of distinct_counts: HyperLogLog++ sketch counts "
    "(agg.approx_distinct) verified against the exact counts inside the "
    "query itself — a group row is emitted (with its EXACT counts) only if "
    "both sketch estimates land within 15%% relative error. The oracle is "
    "plain exact COUNT(DISTINCT), so the hash matches iff the sketch met "
    "its accuracy contract on every group: an approximate operator graded "
    "by an exact oracle. Run-stable because HLL register merge is "
    "commutative/associative max and value hashing is deterministic.",
    tags=("agg", "sketch"),
)
def approx_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    approx = A.approx_distinct(li, ["l_returnflag"], ["l_partkey", "l_suppkey"])
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )
    rel = lambda a, e: F.abs(a - e) / e  # noqa: E731
    return (
        exact.join(approx, "l_returnflag")
        .where(
            (rel(F.col("approx_l_partkey"), F.col("n_parts")) <= 0.15)
            & (rel(F.col("approx_l_suppkey"), F.col("n_supps")) <= 0.15)
        )
        .select("l_returnflag", "n_parts", "n_supps")
    )


@query(
    "approx_quantile_gate",
    """
    SELECT l_linestatus,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5) AS median,
           quantile_cont(l_quantity, 0.75) AS q75
    FROM lineitem GROUP BY l_linestatus
    """,
    doc="Scale path of quantile_summary: Greenwald-Khanna approximate "
    "quantiles (agg.approx_quantiles, rank error <= 1/accuracy under any "
    "merge order) verified in-query against the exact interpolated "
    "percentiles — a group row is emitted (with its EXACT quantiles) only "
    "if every approximation is within 2 quantity units. The oracle is plain "
    "exact quantile_cont, so the hash matches iff the sketch met its "
    "accuracy bound on every group and probability.",
    tags=("agg", "sketch"),
)
def approx_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    probs = [0.25, 0.5, 0.75]
    approx = A.approx_quantiles(li, ["l_linestatus"], "l_quantity", probs)
    exact = li.groupBy("l_linestatus").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.5)).alias("median"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
    )
    gate = (
        (F.abs(F.col("approx_q0") - F.col("q25")) <= 2.0)
        & (F.abs(F.col("approx_q1") - F.col("median")) <= 2.0)
        & (F.abs(F.col("approx_q2") - F.col("q75")) <= 2.0)
    )
    return (
        exact.join(approx, "l_linestatus")
        .where(gate)
        .select("l_linestatus", "q25", "median", "q75")
    )


@query(
    "hll_rollup_union",
    """
    SELECT event_type,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_slices,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    doc="Re-aggregable distinct rollup (agg.hll_rollup) — the hypertable "
    "pattern the reference's cell-versioned tables gesture at but cannot "
    "compute: per-(event_type, day) HyperLogLog SKETCHES materialized once "
    "(kilobytes per slice at any event volume), then the whole-period "
    "distinct-user count answered by UNIONING the daily sketches — no "
    "event rescan, and exact distinct counts cannot do this at all "
    "(distinct is not re-aggregable across slices). HLL union is lossless "
    "(register-wise max: the union of daily sketches IS the sketch of the "
    "union), so the rolled estimate equals the direct estimate — pinned in "
    "pytest. Graded with the sketch-gate pattern: a group row is emitted "
    "(with EXACT values) only if the unioned estimate lands within 15% of "
    "the exact count, so the exact-SQL oracle hash-matches iff the "
    "accuracy contract held on every group.",
    tags=("agg", "sketch", "rollup"),
)
def hll_rollup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark.operators import agg as A

    ev = load(spark, sf_dir, "events")
    _slices, rolled = A.hll_rollup(
        ev, ["event_type"], F.to_date("ts"), "user_id"
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct(F.to_date("ts")).alias("n_slices_exact"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return (
        exact.join(rolled, "event_type")
        .where(
            (F.col("n_slices") == F.col("n_slices_exact"))
            & (F.abs(F.col("approx_distinct") - F.col("n_users")) / F.col("n_users") <= 0.15)
        )
        .select(
            "event_type",
            F.col("n_slices_exact").alias("n_slices"),
            "n_users",
        )
    )


@query(
    "event_transition_matrix",
    """
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type FROM ordered
        WHERE prev_type IS NOT NULL
    ),
    totals AS (
        SELECT prev_type, COUNT(*) AS n_from FROM pairs GROUP BY prev_type
    )
    SELECT p.prev_type, p.next_type, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE) / CAST(MIN(t.n_from) AS DOUBLE) AS p_next
    FROM pairs p JOIN totals t ON p.prev_type = t.prev_type
    GROUP BY p.prev_type, p.next_type
    """,
    doc="Markov transition matrix over per-user event sequences: for every "
    "(previous event type -> next event type) adjacency, the count and the "
    "conditional transition probability — the session-flow analysis behind "
    "'what do users do after X'. The lag window partitions by USER (each "
    "user's history is bounded and AQE-splittable — never a global ordered "
    "window); transitions then feed two hash aggregations, with the "
    "per-source totals (rows = #event types) broadcast back. p_next is one "
    "IEEE division of exact counts; deterministic (ts, event_id) ordering "
    "breaks same-timestamp ties identically on both engines.",
    tags=("events", "window", "agg"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
    )
    totals = pairs.groupBy("prev_type").agg(F.count("*").alias("__n_from"))
    return (
        pairs.groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            (F.col("n").cast("double") / F.col("__n_from").cast("double")).alias(
                "p_next"
            ),
        )
    )


from spark_on_hbase_spark.io import zorder_expr as _zexpr, zorder_sql as _zsql  # noqa: E402

_Z_X_SQL = "CAST(user_id & 65535 AS INTEGER)"
# FLOOR, not a bare cast: DuckDB CAST(double AS INTEGER) rounds
# half-even while Spark truncates toward zero — they disagree on x.5
_Z_Y_SQL = "CAST(CAST(FLOOR(value) AS INTEGER) & 65535 AS INTEGER)"


@query(
    "zorder_cluster_stats",
    f"""
    WITH z AS (
        SELECT {_zsql(_Z_X_SQL, _Z_Y_SQL, 16)} AS zval FROM events
    )
    SELECT zval >> 10 AS cell, COUNT(*) AS n,
           MIN(zval) AS z_min, MAX(zval) AS z_max
    FROM z GROUP BY cell
    """,
    doc="Z-order (Morton) clustering key over (user_id, value) — the "
    "multi-dimensional storage-clustering primitive behind Delta/Iceberg "
    "Z-ORDER (io.zorder_expr / io.write_zordered): interleaving the two "
    "dimensions' bits makes row-group min/max stats selective on BOTH "
    "columns, so 2-D (or either-single-dimension) range scans prune files "
    "a single-column sort never could — proven with real parquet footer "
    "stats in tests/test_io.py::test_zorder_layout_prunes_both_dimensions. "
    "This query pins the curve itself: per coarse z-cell occupancy "
    "statistics, exact integer bit arithmetic on both engines.",
    tags=("io", "layout"),
)
def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    z = _zexpr(
        F.col("user_id").bitwiseAND(65535).cast("int"),
        F.floor("value").cast("int").bitwiseAND(65535).cast("int"),
        16,
    )
    return (
        ev.select(z.alias("zval"))
        .groupBy(F.shiftright("zval", 10).alias("cell"))
        .agg(
            F.count("*").alias("n"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
        )
    )


@query(
    "csv_export_roundtrip",
    """
    WITH lines AS (
        SELECT n_nationkey AS k,
               CAST(n_nationkey AS VARCHAR) || chr(9) || n_name || chr(9)
                 || r_name || chr(13) || chr(10) AS line
        FROM nation JOIN region ON n_regionkey = r_regionkey
    ),
    txt AS (
        SELECT 'n_nationkey' || chr(9) || 'n_name' || chr(9) || 'r_name'
                 || chr(13) || chr(10)
                 || string_agg(line, '' ORDER BY k) AS t,
               COUNT(*) AS n
        FROM lines
    )
    SELECT CAST(n + 1 AS BIGINT) AS n_lines, md5(t) AS content_md5 FROM txt
    """,
    doc="S14 — HTTP export graded end-to-end: the nation x region lookup "
    "(ordered, broadcast join) is served by io.HttpDataFrame "
    "(misc/HttpRDD.scala:91-131 — the reference's R-integration surface, "
    "read.table(url) over one CSV response), fetched back over a real "
    "localhost HTTP GET, and the EXACT response bytes are hashed. The "
    "oracle reconstructs the same TSV byte stream (header + ordered "
    "'\\t'-joined rows + CRLF terminators) in SQL and md5s it — so header "
    "emission, column order, row order (toLocalIterator preserves the "
    "sort), separator, and line-termination are all under the hard "
    "signal, not just pytest. The served relation is driver-pulled one "
    "partition at a time by design (HttpRDD's pull shape); the graded "
    "relation is kept dimension-sized — at scale exports go through "
    "io.export_csv (distributed write), the documented scale path.",
    tags=("io", "export"),
)
def csv_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import urllib.request

    from spark_on_hbase_spark.io import HttpDataFrame

    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    served = (
        nat.join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")
    )
    http = HttpDataFrame(served)
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{http.port}/", timeout=60
        ) as resp:
            body = resp.read()
    finally:
        http.stop()
    n_lines = body.count(b"\r\n")
    digest = hashlib.md5(body).hexdigest()
    return spark.createDataFrame(
        [(n_lines, digest)], "n_lines long, content_md5 string"
    )


@query(
    "ddl_evolution_fold",
    """
    SELECT c_custkey AS key,
           c_acctbal AS bal,
           CASE WHEN c_acctbal > 7000.0 THEN 'premium' ELSE 'standard' END AS tier,
           CAST(CASE WHEN c_acctbal > 7000.0 THEN 200 ELSE 100 END AS INTEGER) AS ts
    FROM customer
    """,
    doc="S16 — DDL schema evolution graded through the LSM fold: create a "
    "customer-keyed table (key, name, bal, ts=100), ALTER TABLE ADD "
    "tier='standard' (add_column — compacting rewrite so every layer "
    "shares the schema, HBaseAdminUtils.updateSchema, "
    "misc/HBaseAdminUtils.scala:105-143), whole-row-upsert the "
    "high-balance rows to tier='premium' at ts=200 (S5 on the EVOLVED "
    "schema — proves post-DDL mutations and the pre-DDL base fold "
    "together), then ALTER TABLE DROP name "
    "(HBaseAdminUtils.dropColumnIfExists, :178-214) and read the folded "
    "state. The oracle is the final-state CASE algebra. DDL costs one "
    "table-sized compaction each (O(table) rewrite, the honest price of "
    "schema change on immutable layers); the mutation between them stays "
    "O(batch).",
    tags=("mutation", "table", "ddl"),
)
def ddl_evolution_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.lit(100).cast("int").alias("ts"),
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"ddl_fold_{spark.sparkContext.applicationId}_"
        f"{sf_tag(sf_dir)}",
    )
    shutil.rmtree(path, ignore_errors=True)
    tbl = KeyedTable(
        spark, path, key_col="key", ts_col="ts",
        compact_threshold=16,
    )
    tbl.create(base)
    tbl.add_column("tier", default="standard", dtype="string")
    tbl.update(
        base.where(F.col("bal") > 7000.0).select(
            "key",
            F.concat(F.lit("vip:"), F.col("key")).alias("name"),
            "bal",
            F.lit(200).cast("int").alias("ts"),
            F.lit("premium").alias("tier"),
        )
    )
    tbl.drop_column("name")
    return tbl.df().select("key", "bal", "tier", "ts")


@query(
    "grouped_topk_customers",
    """
    SELECT n_name, c_custkey, bal, rnk FROM (
        SELECT n.n_name, c.c_custkey, c.c_acctbal AS bal,
               row_number() OVER (PARTITION BY n.n_name
                                  ORDER BY c.c_acctbal DESC, c.c_custkey) AS rnk
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ) WHERE rnk <= 3
    """,
    doc="Per-GROUP top-k (top-3 customers by balance per nation) — the "
    "grouped twin of top_k_customers' global TakeOrderedAndProject. "
    "Spark plans the rank<=k filter as WindowGroupLimit: every partition "
    "keeps only k rows per group BEFORE the window shuffle, so at 100 TB "
    "the exchange carries k*|groups| rows per partition, not the fact "
    "table — the optimization is plan-pinned in "
    "tests/test_plans.py::test_grouped_topk_plans_window_group_limit. "
    "Deterministic (c_custkey) tiebreak; raw double balance, no "
    "arithmetic, so the hash is exact.",
    tags=("sort", "limit", "window"),
)
def grouped_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("bal").desc(), F.col("c_custkey")
    )
    return (
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .select("n_name", "c_custkey", F.col("c_acctbal").alias("bal"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Shared secondary-index fixture (VERDICT r6 item 8): the index read
# queries used to rebuild table+index+mutation-matrix PER RUN (~5-9s each,
# ~37s of the round-6 bench total), so their timings measured fixture
# construction, not the read path. The fixture is now built ONCE per
# (session, sf_dir) — memoized on the on-disk root, pre-paid by a bench
# WARMER so it lands under "builds" — and the queries are pure reads over
# the post-mutation state. The mutation matrices still run (once, through
# the index, so maintenance is still what the answers depend on); repair
# and streaming keep private fixtures because they stale/mutate state per
# run. keyed_point_read's (index-free) table rides along.
# ---------------------------------------------------------------------------

_SEC_IDX_FIXTURE_DONE: set[str] = set()


_SEC_IDX_FIXTURE_VERSION = 5  # bump when tables/mutations/layout change


def _sec_index_handles(spark: SparkSession, root: str) -> dict:
    """Construct (side-effect-free) handles for the fixture's tables and
    indexes under ``root`` — callable against either the staging dir (to
    build) or the published root (to read)."""
    from spark_on_hbase_spark.index import SecondaryIndex

    tbl_nation = KeyedTable(
        spark, os.path.join(root, "nation_base"), key_col="key", ts_col="ts",
    )
    idx_nation = SecondaryIndex(
        tbl_nation, "nation", os.path.join(root, "nation_idx"), include=["name"]
    )
    tbl_bal = KeyedTable(
        spark, os.path.join(root, "bal_base"), key_col="key", ts_col="ts",
    )
    idx_bal = SecondaryIndex(tbl_bal, "bal", os.path.join(root, "bal_idx"))
    tbl_point = KeyedTable(
        spark, os.path.join(root, "point"), key_col="key", ts_col="ts",
    )
    tbl_fx = KeyedTable(
        spark, os.path.join(root, "fx_base"), key_col="key", ts_col="ts",
    )
    idx_fx = SecondaryIndex(
        tbl_fx, path=os.path.join(root, "fx_idx"),
        expr={"last": F.substring(F.col("name"), -1, 1)},
    )
    # composite (nation, band) index for the skip scan — built AFTER the
    # nation mutation matrix (read-only over the post-mutation state)
    idx_comp = SecondaryIndex(
        tbl_nation, ["nation", "band"], os.path.join(root, "comp_idx")
    )
    return {
        "idx_nation": idx_nation,
        "idx_bal": idx_bal,
        "tbl_point": tbl_point,
        "idx_fx": idx_fx,
        "idx_comp": idx_comp,
    }


def _sec_index_fixture(spark: SparkSession, sf_dir: str) -> dict:
    """Post-mutation fixture shared by five index-read queries. VERDICT r7
    item 8: the 27s mutation replay was 39% of all bench build time, so the
    fixture now persists ACROSS sessions — deterministic content (a pure
    function of sf_dir's customer table and this code, stamped with
    _SEC_IDX_FIXTURE_VERSION), built into a pid-unique staging dir and
    published with one atomic rename after a _COMPLETE marker is inside, so
    a concurrent session either wins the rename or reads the winner's
    complete root; a crash mid-build leaves only an unreferenced staging
    dir. Storage is plain parquet layers, so re-opening by path is free."""
    # the root tag carries the INPUT's identity too (inventory.input_tag:
    # customer.parquet mtime+size): the fixture outlives sessions and
    # rounds, and a driver that regenerates the testdata in place would
    # otherwise keep serving a fixture built from the old rows
    root = os.path.join(
        tempfile.gettempdir(),
        f"sec_idx_fix_v{_SEC_IDX_FIXTURE_VERSION}_{sf_tag(sf_dir)}_"
        f"{input_tag(sf_dir, 'customer')}",
    )

    def make(staging: str) -> None:
        h = _sec_index_handles(spark, staging)
        cust = load(spark, sf_dir, "customer")
        # nation-indexed table (covered): rename+move %10==3 -> 77, delete %10==6
        rows = cust.select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").cast("bigint").alias("nation"),
            (F.col("c_custkey") % 13).cast("bigint").alias("band"),
            F.lit(100).cast("int").alias("ts"),
        )

        def _build_nation() -> None:
            h["idx_nation"].base.create(rows)
            h["idx_nation"].build()
            h["idx_nation"].update(
                rows.where(F.col("key") % 10 == 3).select(
                    "key",
                    F.concat(
                        F.lit("renamed #"), F.col("key").cast("string")
                    ).alias("name"),
                    F.lit(77).cast("bigint").alias("nation"),
                    "band",
                    F.lit(200).cast("int").alias("ts"),
                )
            )
            h["idx_nation"].delete(rows.where(F.col("key") % 10 == 6).select("key"))
            h["idx_comp"].build()

        # functional-index table: append '#Z' to names %8==3 THROUGH the
        # expression index (last-char derivation recomputed by maintenance),
        # row-delete %8==5
        frows = cust.select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.lit(100).cast("int").alias("ts"),
        )

        def _build_fx() -> None:
            h["idx_fx"].base.create(frows)
            h["idx_fx"].build()
            h["idx_fx"].update(
                frows.where(F.col("key") % 8 == 3).select(
                    "key",
                    F.concat(F.col("name"), F.lit("#Z")).alias("name"),
                    F.lit(200).cast("int").alias("ts"),
                )
            )
            h["idx_fx"].delete(frows.where(F.col("key") % 8 == 5).select("key"))

        # bal-indexed table: +2,000,000 cents for %9==4, delete %9==7
        brows = cust.select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("bal"),
            F.lit(100).cast("int").alias("ts"),
        )

        def _build_bal() -> None:
            h["idx_bal"].base.create(brows)
            h["idx_bal"].build()
            h["idx_bal"].update(
                brows.where(F.col("key") % 9 == 4).select(
                    "key", "name",
                    (F.col("bal") + F.lit(2000000)).alias("bal"),
                    F.lit(200).cast("int").alias("ts"),
                )
            )
            h["idx_bal"].delete(brows.where(F.col("key") % 9 == 7).select("key"))

        # index-free multiget table: rename %7==2 at ts 200, tombstone %7==5
        prows = cust.select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.lit(100).cast("int").alias("ts"),
        )

        def _build_point() -> None:
            h["tbl_point"].create(prows)
            h["tbl_point"].update(
                prows.where(F.col("key") % 7 == 2).select(
                    "key",
                    F.concat(
                        F.lit("moved #"), F.col("key").cast("string")
                    ).alias("name"),
                    F.lit(200).cast("int").alias("ts"),
                )
            )
            h["tbl_point"].delete(prows.where(F.col("key") % 7 == 5).select("key"))

        # The four tables live under disjoint paths and share no state beyond
        # the already-memoized source relation, so their mutation chains run
        # from a thread pool: each chain is a sequence of SMALL Spark jobs
        # that individually leave most of local[32] idle, and concurrent
        # submission back-fills the gaps (guide §2.6 — overlap independent
        # jobs). Sequencing WITHIN a chain (create -> build -> update ->
        # delete -> dependent composite build) is preserved by each thread.
        # Exceptions propagate: result() re-raises, the marker never lands.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = [
                pool.submit(fn)
                for fn in (_build_nation, _build_fx, _build_bal, _build_point)
            ]
            for fut in futs:
                fut.result()

    if root not in _SEC_IDX_FIXTURE_DONE:
        publish_fixture(root, make, _SEC_IDX_FIXTURE_VERSION)
        _SEC_IDX_FIXTURE_DONE.add(root)
    return _sec_index_handles(spark, root)


warmer("sec_index_fixture")(_sec_index_fixture)


@query(
    "secondary_index_lookup",
    """
    WITH cur AS (
        SELECT c_custkey AS key,
               CASE WHEN c_custkey % 10 = 3
                    THEN 'renamed #' || CAST(c_custkey AS VARCHAR)
                    ELSE c_name END AS name,
               CASE WHEN c_custkey % 10 = 3 THEN 77 ELSE c_nationkey END AS nation
        FROM customer
        WHERE c_custkey % 10 <> 6
    )
    SELECT key, name, nation FROM cur WHERE nation IN (5, 77)
    """,
    doc="Global secondary index on a KeyedTable column under mutation "
    "(index.SecondaryIndex — the Phoenix-global-index pattern on the "
    "engine's own storage): build customers keyed by custkey, index "
    "nationkey (index table keyed '<value>\\x1f<key>', so the sorted "
    "range-partitioned layers put a value's entries in few footer-pruned "
    "files), then mutate THROUGH the index — move keys %%10=3 to nation 77 "
    "(tombstone old entries, base upsert, insert new entries: three "
    "O(batch) layer writes), row-delete keys %%10=6 — and answer "
    "lookup(5) UNION ALL lookup(77) purely index-first: probe the index, "
    "broadcast matched keys, left-semi join the base. The deliberate "
    "no-dedup union makes every maintenance bug graded: a stale entry "
    "left under the old nation duplicates a moved row, a missed insert "
    "loses one, a missed delete resurrects one — any of them breaks the "
    "rows+hash match vs the oracle's plain effective-state filter.",
    tags=("table", "join", "mutation"),
)
def secondary_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _sec_index_fixture(spark, sf_dir)["idx_nation"]
    out = idx.lookup(5).unionByName(idx.lookup(77))
    return out.select("key", "name", "nation")


# deterministic multiget probe set, shared verbatim by the Spark query and
# its oracle SQL (driver-known literals are the point of point_read)
_POINT_READ_KEYS = list(range(2, 1500, 13))


@query(
    "keyed_point_read",
    f"""
    WITH cur AS (
        SELECT c_custkey AS key,
               CASE WHEN c_custkey % 7 = 2
                    THEN 'moved #' || CAST(c_custkey AS VARCHAR)
                    ELSE c_name END AS name,
               CASE WHEN c_custkey % 7 = 2 THEN 200 ELSE 100 END AS ts
        FROM customer
        WHERE c_custkey % 7 <> 5
    )
    SELECT key, name, ts FROM cur
    WHERE key IN ({", ".join(str(k) for k in _POINT_READ_KEYS)})
    """,
    doc="HBase multi-Get through the LSM fold (KeyedTable.point_read — "
    "HBaseTable.scala's point-read path, the op the sorted-key layout "
    "exists to serve): create customers keyed by custkey, upsert keys "
    "%%7=2 at ts 200 (renamed), tombstone keys %%7=5, then multiget a "
    "fixed 116-key literal probe set. The IN predicate is applied per "
    "layer BEFORE the merge, so it reaches every layer's parquet scan as "
    "PushedFilters and footer min/max stats prune to the files covering "
    "the probed keys — O(keys) I/O at any table size (plan-pinned in "
    "tests/test_index.py). Grades the full fold under the point read: "
    "updated rows come back at their new version, tombstoned rows do not "
    "come back at all, untouched rows are verbatim.",
    tags=("table", "mutation"),
)
def keyed_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl = _sec_index_fixture(spark, sf_dir)["tbl_point"]
    return tbl.point_read(_POINT_READ_KEYS).select("key", "name", "ts")


_BLOOM_PROBE_KEYS = list(range(3, 1500, 17)) + [10_000_001, 10_000_002, 10_000_003]


@query(
    "bloom_point_read",
    f"""
    WITH cur AS (
        SELECT c_custkey AS key,
               CAST(FLOOR(c_acctbal * 100) AS BIGINT)
                 + CASE WHEN c_custkey % 11 = 4 THEN 1000000
                        WHEN c_custkey % 13 = 6 THEN 2000000
                        ELSE 0 END AS bal,
               CASE WHEN c_custkey % 11 = 4 THEN 300
                    WHEN c_custkey % 13 = 6 THEN 200
                    ELSE 100 END AS ts
        FROM customer
        WHERE c_custkey % 17 <> 9
    )
    SELECT key, bal, ts FROM cur
    WHERE key IN ({", ".join(str(k) for k in _BLOOM_PROBE_KEYS)})
    """,
    doc="HBase multi-Get with ROW BLOOM FILTERS (KeyedTable bloom=True — "
    "the reference's BloomType.ROW column-family attribute, "
    "misc/HBaseAdminUtils.scala:89-100, declared by every demo table): "
    "create customers keyed by custkey, apply two full-keyspace update "
    "batches (%%13=6 at ts 200, then %%11=4 at ts 300 — note 858's class "
    "is decided by the LATER batch) and a tombstone batch (%%17=9), then "
    "multiget a fixed probe set that includes three ABSENT keys. Every "
    "delta layer spans the whole keyspace, so footer min/max stats prune "
    "nothing across layers — the regime HBase keeps per-HFile blooms "
    "for. Each layer's blocked-Bloom sidecar (Putze et al. 2007; one "
    "md5-chosen 64-bit word, K=4 bits, 10 bits/key, probed by a "
    "word-equi-join whose In(word) filter footer-prunes the sidecar scan "
    "to O(keys)) proves most files key-free: present keys read ~one file "
    "per layer that holds them, absent keys read no data file at all. "
    "The fold result must be bit-identical to the plain path (updated "
    "rows at their newest version, tombstoned rows absent) — pruning "
    "pinned in tests/test_table.py; a false negative loses a row and "
    "breaks the rows+hash match.",
    tags=("table", "mutation"),
)
def bloom_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl = _bloom_pr_fixture(spark, sf_dir)
    return tbl.point_read(_BLOOM_PROBE_KEYS).select("key", "bal", "ts")


@query(
    "table_changefeed",
    """
    WITH c AS (
        SELECT c_custkey AS key, c_name AS name,
               CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer
    )
    SELECT 'upsert' AS op, CAST(1 AS BIGINT) AS seq, key,
           'u_' || name AS name, bal + 1 AS bal,
           CAST(200 AS INTEGER) AS ts, CAST(NULL AS VARCHAR) AS deleted_cells
    FROM c WHERE key % 5 = 1
    UNION ALL
    SELECT 'put', 2, key, NULL, bal + 7, 300, NULL FROM c WHERE key % 7 = 2
    UNION ALL
    SELECT 'increment', 3, key, NULL, 50, NULL, NULL FROM c WHERE key % 9 = 4
    UNION ALL
    SELECT 'delete', 4, key, NULL, NULL, NULL, NULL FROM c WHERE key % 11 = 3
    UNION ALL
    SELECT 'cell_delete', 5, key, NULL, NULL, NULL, 'name'
    FROM c WHERE key % 13 = 6
    """,
    doc="CHANGE-DATA FEED over the LSM layers (KeyedTable.changes — the "
    "table-native form of the reference's mutation shipping, "
    "misc/KafkaProxy.scala:12-33, which pipes an HBase mutation topic "
    "into a DStream; HBase itself ships the identical stream as WAL "
    "replication): create customers, snapshot, apply one batch of EVERY "
    "mutation kind (whole-row upsert, partial put, counter increment, "
    "row delete, cell delete), then read changes(since_layer=snapshot). "
    "The feed must report exactly the five batches, typed, stamped with "
    "the layer seq that carried each, with write-path semantics intact — "
    "put/increment rows carry the BATCH's cells (untouched cells NULL, "
    "the increment's DELTA not the folded counter), delete rows are "
    "key-only, cell deletes name their cells. A feed that read the "
    "folded table instead of the layers, mis-typed a kind, or leaked "
    "resolution state breaks the rows+hash match. Cost is O(changed "
    "layers) — a metadata-pruned read of exactly the post-snapshot "
    "layers, never a table scan: the shippable changelog a 100 TB "
    "downstream (replica, cache, index builder) tails incrementally.",
    tags=("table", "mutation"),
)
def table_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = os.path.join(
        tempfile.gettempdir(),
        f"changefeed_{spark.sparkContext.applicationId}_{sf_tag(sf_dir)}",
    )
    tbl = KeyedTable(
        spark, root, key_col="key", ts_col="ts"
    )
    if not tbl.exists():
        cust = load(spark, sf_dir, "customer")
        rows = cust.select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
            F.lit(100).cast("int").alias("ts"),
        )
        tbl.create(rows)
        tbl.update(
            rows.where(F.col("key") % 5 == 1).select(
                "key",
                F.concat(F.lit("u_"), F.col("name")).alias("name"),
                (F.col("bal") + 1).alias("bal"),
                F.lit(200).cast("int").alias("ts"),
            )
        )
        tbl.put(
            rows.where(F.col("key") % 7 == 2).select(
                "key", (F.col("bal") + 7).alias("bal"),
                F.lit(300).cast("int").alias("ts"),
            )
        )
        tbl.increment(
            rows.where(F.col("key") % 9 == 4).select(
                "key", F.lit(50).cast("bigint").alias("delta")
            ),
            counter_col="bal",
        )
        tbl.delete(rows.where(F.col("key") % 11 == 3).select("key"))
        tbl.delete(
            rows.where(F.col("key") % 13 == 6).select("key"), columns=["name"]
        )
    feed = tbl.changes(since_layer=0)
    return feed.select(
        "op", F.col("__seq").alias("seq"), "key", "name", "bal", "ts",
        "deleted_cells",
    )


@query(
    "matview_incremental_revenue",
    """
    WITH o AS (
        SELECT o_orderkey AS k, o_custkey AS cust,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS val
        FROM orders
    ),
    final_state AS (
        SELECT CASE WHEN k % 5 = 1 THEN (cust + 1) % 97
                    ELSE cust % 97 END AS grp,
               (CASE WHEN k % 7 = 2 THEN val + 7
                     WHEN k % 5 = 1 THEN val + 1
                     ELSE val END
                + CASE WHEN k % 9 = 4 THEN 50 ELSE 0 END) AS val
        FROM o WHERE k % 11 <> 3
        UNION ALL
        SELECT cust % 97 AS grp, CAST(12345 AS BIGINT) AS val
        FROM o WHERE k % 13 = 6
    )
    SELECT grp, CAST(SUM(val) AS BIGINT) AS revenue, COUNT(*) AS n_orders
    FROM final_state GROUP BY grp
    """,
    doc="INCREMENTAL MATERIALIZED VIEW maintenance (matview.MaterializedAgg "
    "— the Spark-native upgrade of the reference's full-rebuild derived "
    "tables, e.g. the reach rollup examples/graph/HGraphTable.scala:144-228 "
    "recomputed from a complete scan each run; HBase deployments maintain "
    "such rollups with coprocessor write hooks): build a revenue-by-group "
    "rollup over an orders KeyedTable, then apply one batch of EVERY "
    "mutation kind (whole-row upsert WITH group migration, partial put, "
    "counter increment, row delete, fresh inserts) and refresh() — the "
    "delta is agg(new state of changed keys) minus agg(old state via time "
    "travel), applied as the DELTA rows of the view's ONE stamped layer per "
    "refresh (one commit of the view table's log). The oracle is the full "
    "GROUP BY over the reconstructed final base state, so the hash match "
    "proves incremental == recompute across five mutation semantics "
    "including groups gaining/losing members and keys that migrate "
    "between groups. Refresh cost is O(Δ): changes() is metadata-pruned "
    "to post-snapshot layers, changed-key states come from footer-pruned "
    "point reads, the delta agg shuffles Δ rows — at 100 TB the rollup "
    "tracks a mutation firehose without ever rescanning the base.",
    tags=("table", "mutation", "matview"),
)
def matview_incremental_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    mv = _matview_fixture(spark, sf_dir)
    mv.refresh()
    return mv.df()


def _matview_fixture(spark: SparkSession, sf_dir: str):
    """matview_incremental_revenue's base table + built view + pending
    mutation batches — registered as a warmer so the bench row times the
    REFRESH path (the maintenance cost a production rollup pays per batch),
    not the one-time fixture build. Session-scoped (applicationId in the
    root): the refresh consumes the pending layers on first call and is a
    stamped no-op after."""
    from spark_on_hbase_spark.matview import MaterializedAgg

    root = os.path.join(
        tempfile.gettempdir(),
        f"matview_{spark.sparkContext.applicationId}_{sf_tag(sf_dir)}",
    )
    base = KeyedTable(
        spark, os.path.join(root, "base"), key_col="k", ts_col="ts",
    )
    mv = MaterializedAgg(
        spark, os.path.join(root, "mv"), base, "grp",
        {"revenue": "val"}, count_col="n_orders",
    )
    if not base.exists():
        o = load(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_custkey").alias("cust"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("val"),
        )
        base.create(
            o.select(
                "k", (F.col("cust") % 97).alias("grp"), "val",
                F.lit(100).cast("int").alias("ts"),
            )
        )
        mv.build()
        # every mutation kind lands AFTER the build: the view must catch up
        base.update(
            o.where(F.col("k") % 5 == 1).select(
                "k", ((F.col("cust") + 1) % 97).alias("grp"),
                (F.col("val") + 1).alias("val"),
                F.lit(200).cast("int").alias("ts"),
            )
        )
        base.put(
            o.where(F.col("k") % 7 == 2).select(
                "k", (F.col("val") + 7).alias("val"),
                F.lit(300).cast("int").alias("ts"),
            )
        )
        base.increment(
            o.where(F.col("k") % 9 == 4).select(
                "k", F.lit(50).cast("bigint").alias("delta")
            ),
            counter_col="val",
        )
        base.delete(o.where(F.col("k") % 11 == 3).select("k"))
        base.update(
            o.where(F.col("k") % 13 == 6).select(
                (F.col("k") + 10_000_000).alias("k"),
                (F.col("cust") % 97).alias("grp"),
                F.lit(12345).cast("bigint").alias("val"),
                F.lit(400).cast("int").alias("ts"),
            )
        )
    return mv


warmer("matview_fixture")(_matview_fixture)


@query(
    "matview_minmax_maintenance",
    """
    WITH o AS (
        SELECT o_orderkey AS k, o_custkey AS cust,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS val
        FROM orders
    ),
    final_state AS (
        SELECT CASE WHEN k % 5 = 1 THEN (cust + 1) % 97
                    ELSE cust % 97 END AS grp,
               CASE WHEN k % 13 = 6 THEN NULL
                    ELSE val + (CASE WHEN k % 5 = 1 THEN 1 ELSE 0 END)
                             + (CASE WHEN k % 9 = 4 THEN 50 ELSE 0 END)
               END AS val
        FROM o WHERE k % 11 <> 3
        UNION ALL
        SELECT cust % 97 AS grp, CAST(999 AS BIGINT) AS val
        FROM o WHERE k % 7 = 2
    )
    SELECT grp, CAST(SUM(val) AS BIGINT) AS revenue,
           MIN(val) AS min_rev, MAX(val) AS max_rev,
           COUNT(*) AS n_orders
    FROM final_state GROUP BY grp
    """,
    doc="MIN/MAX materialized-view maintenance — the NON-self-maintainable "
    "aggregates (a deleted maximum cannot be fixed from the delta alone; "
    "Gupta & Mumick's classic result): the view recomputes ONLY the "
    "groups the refresh touched, as SPARSE rows in the same stamped layer "
    "as the sum deltas (NULL extremes as CELLDEL rows, since a sparse "
    "put's NULL means keep-stored), so sums and extremes commit in one "
    "swap of the view table's log. Graded with every "
    "mutation kind including group migration, value cell-deletes (the "
    "aggregate must SKIP nulls on both engines) and deletes that remove "
    "group extremes. The oracle is the full GROUP BY with MIN/MAX over "
    "the reconstructed final state, so the hash proves touched-group "
    "recompute == full recompute. Recompute source is pluggable: a "
    "group SecondaryIndex serves the affected groups' rows as ONE "
    "multi-range lookup_in read (O(groups + result) files — the 100 TB "
    "path, pytest-pinned); this query runs the documented index-less "
    "degradation (one base scan semi-joined to the touched groups).",
    tags=("table", "mutation", "matview"),
)
def matview_minmax_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    mv = _matview_minmax_fixture(spark, sf_dir)
    mv.refresh()
    return mv.df()


def _matview_minmax_fixture(spark: SparkSession, sf_dir: str):
    """matview_minmax_maintenance's base + built view + pending batches —
    warmer-registered like _matview_fixture so the bench row times the
    refresh path."""
    from spark_on_hbase_spark.matview import MaterializedAgg

    root = os.path.join(
        tempfile.gettempdir(),
        f"matview_mm_{spark.sparkContext.applicationId}_{sf_tag(sf_dir)}",
    )
    base = KeyedTable(
        spark, os.path.join(root, "base"), key_col="k", ts_col="ts",
    )
    mv = MaterializedAgg(
        spark, os.path.join(root, "mv"), base, "grp",
        {"revenue": "val"}, count_col="n_orders",
        mins={"min_rev": "val"}, maxs={"max_rev": "val"},
    )
    if not base.exists():
        o = load(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_custkey").alias("cust"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("val"),
        )
        base.create(
            o.select(
                "k", (F.col("cust") % 97).alias("grp"), "val",
                F.lit(100).cast("int").alias("ts"),
            )
        )
        mv.build()
        base.update(
            o.where(F.col("k") % 5 == 1).select(
                "k", ((F.col("cust") + 1) % 97).alias("grp"),
                (F.col("val") + 1).alias("val"),
                F.lit(200).cast("int").alias("ts"),
            )
        )
        base.increment(
            o.where(F.col("k") % 9 == 4).select(
                "k", F.lit(50).cast("bigint").alias("delta")
            ),
            counter_col="val",
        )
        base.update(
            o.where(F.col("k") % 7 == 2).select(
                (F.col("k") + 10_000_000).alias("k"),
                (F.col("cust") % 97).alias("grp"),
                F.lit(999).cast("bigint").alias("val"),
                F.lit(300).cast("int").alias("ts"),
            )
        )
        base.delete(o.where(F.col("k") % 11 == 3).select("k"))
        base.delete(
            o.where(F.col("k") % 13 == 6).select("k"), columns=["val"]
        )
    return mv


warmer("matview_mm_fixture")(_matview_minmax_fixture)


@query(
    "lsm_retention_compact",
    """
    WITH c AS (
        SELECT c_custkey AS key, c_name AS name,
               CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer
    ),
    -- the feed a checkpointed consumer still sees after the compaction:
    -- exactly the two post-snapshot batches, typed, delta-not-fold
    feed AS (
        SELECT 'increment' AS op, CAST(1 AS BIGINT) AS seq, key,
               CAST(NULL AS VARCHAR) AS name, CAST(50 AS BIGINT) AS bal,
               CAST(NULL AS INTEGER) AS ts, CAST(NULL AS VARCHAR) AS deleted_cells
        FROM c WHERE key % 3 = 0
        UNION ALL
        SELECT 'cell_delete', 2, key, NULL, NULL, NULL, 'name'
        FROM c WHERE key % 11 = 3
    ),
    -- the folded visible state: epoch-1 update/delete resolved through the
    -- prefix fold, epoch-2 increment/cell-delete over the folded base —
    -- including deleted keys RESURRECTED by the retained increment with the
    -- ghost-ts rule (tombstones keep their resolved ts through the fold)
    state AS (
        SELECT 'state' AS op, CAST(NULL AS BIGINT) AS seq, key,
               CASE WHEN key % 11 = 3 THEN NULL
                    WHEN key % 7 = 2 THEN NULL
                    WHEN key % 5 = 1 THEN 'u_' || name
                    ELSE name END AS name,
               CASE WHEN key % 7 = 2 THEN CAST(50 AS BIGINT)
                    ELSE (CASE WHEN key % 5 = 1 THEN bal + 1 ELSE bal END)
                         + (CASE WHEN key % 3 = 0 THEN 50 ELSE 0 END) END AS bal,
               CASE WHEN key % 5 = 1 THEN 200 ELSE 100 END AS ts,
               CAST(NULL AS VARCHAR) AS deleted_cells
        FROM c WHERE key % 7 <> 2 OR key % 3 = 0
    )
    SELECT * FROM feed UNION ALL SELECT * FROM state
    """,
    doc="CHECKPOINT-AWARE PREFIX COMPACTION (compact(keep_since=seq) — the "
    "Kafka-log-compaction / Delta-VACUUM retention idea grafted onto the "
    "LSM: fold history up to the slowest consumer's offset, never past "
    "it): create customers, apply an epoch of updates + row deletes, "
    "snapshot, apply an epoch of increments + cell deletes, then "
    "compact(keep_since=snapshot). The graded relation is the checkpointed "
    "consumer's world after the fold: its change feed "
    "(changes(since_layer=snapshot) — must still report exactly the two "
    "retained batches, typed, deltas-not-folds) UNION the folded visible "
    "state (tagged op='state'). The state rows pin the subtle semantics: "
    "the prefix fold persists TOMBSTONES with their resolved ts (HBase's "
    "deletes-survive-minor-compaction rule), so keys deleted in epoch 1 "
    "and incremented in epoch 2 resurrect with bal=delta and the ghost ts "
    "— byte-equivalent to the uncompacted stack. A fold that dropped "
    "tombstoned keys, purged their ts, or broke the feed horizon breaks "
    "the hash. Cost: the prefix fold is one compaction job over the "
    "folded layers; the feed stays O(retained layers).",
    tags=("table", "mutation", "compaction"),
)
def lsm_retention_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = os.path.join(
        tempfile.gettempdir(),
        f"retention_{spark.sparkContext.applicationId}_{sf_tag(sf_dir)}",
    )
    tbl = KeyedTable(
        spark, root, key_col="key", ts_col="ts"
    )
    snap_file = os.path.join(root, "_probe_snap")
    if not tbl.exists():
        cust = load(spark, sf_dir, "customer")
        rows = cust.select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
            F.lit(100).cast("int").alias("ts"),
        )
        tbl.create(rows)
        tbl.update(
            rows.where(F.col("key") % 5 == 1).select(
                "key",
                F.concat(F.lit("u_"), F.col("name")).alias("name"),
                (F.col("bal") + 1).alias("bal"),
                F.lit(200).cast("int").alias("ts"),
            )
        )
        tbl.delete(rows.where(F.col("key") % 7 == 2).select("key"))
        snap = tbl.snapshot_seq()
        tbl.increment(
            rows.where(F.col("key") % 3 == 0).select(
                "key", F.lit(50).cast("bigint").alias("delta")
            ),
            counter_col="bal",
        )
        tbl.delete(
            rows.where(F.col("key") % 11 == 3).select("key"), columns=["name"]
        )
        tbl.compact(keep_since=snap)
        with open(snap_file, "w") as fh:
            fh.write(str(snap))
    snap = int(open(snap_file).read())
    feed = tbl.changes(since_layer=snap).select(
        "op", (F.col("__seq") - snap).alias("seq"), "key", "name", "bal",
        "ts", "deleted_cells",
    )
    state = tbl.df().select(
        F.lit("state").alias("op"), F.lit(None).cast("bigint").alias("seq"),
        "key", "name", "bal", "ts",
        F.lit(None).cast("string").alias("deleted_cells"),
    )
    return feed.unionByName(state)


def _stream_mv_handles(spark: SparkSession, root: str):
    from spark_on_hbase_spark.matview import MaterializedAgg

    base = KeyedTable(
        spark, os.path.join(root, "base"), key_col="k", ts_col="ts",
    )
    mv = MaterializedAgg(
        spark, os.path.join(root, "mv"), base, "grp",
        {"revenue": "val"}, count_col="n_orders",
    )
    return base, mv


_STREAM_MV_VERSION = 5  # bump when rows/mutations/layout change
_STREAM_MV_DONE: set[str] = set()



@query(
    "streaming_matview_refresh",
    """
    WITH o AS (
        SELECT o_orderkey AS k, o_custkey AS cust,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS val
        FROM orders
    ),
    final_state AS (
        SELECT CASE WHEN k % 4 = 1 AND k % 8 = 1 THEN (cust + 1) % 97
                    ELSE cust % 97 END AS grp,
               CASE WHEN k % 4 = 1 THEN val + 13
                    WHEN k % 4 = 3 THEN val + 29
                    ELSE val END AS val
        FROM o
        UNION ALL
        SELECT cust % 97 AS grp, CAST(777 AS BIGINT) AS val
        FROM o WHERE k % 4 = 2
    )
    SELECT grp, CAST(SUM(val) AS BIGINT) AS revenue, COUNT(*) AS n_orders
    FROM final_state GROUP BY grp
    """,
    doc="STREAMING materialized-view maintenance under the hard oracle "
    "signal (real writeStream.foreachBatch execution, like "
    "streaming_increment_fold): build a revenue rollup over an orders "
    "KeyedTable, then drive 3 micro-batches of mutations (value updates, "
    "group migrations, fresh inserts — split as 3 files, "
    "maxFilesPerTrigger=1, availableNow) through "
    "merge_stream_into_matviewed_table, which lands one stamped base "
    "layer AND one stamped incremental view-delta per batch — the "
    "streaming face of coprocessor-maintained summary tables. The view "
    "is refreshed incrementally 3 times (never rebuilt); the oracle is "
    "the full GROUP BY over the reconstructed final state, so the hash "
    "match proves 3 chained delta applications == recompute. Replay "
    "safety needs no coordination between the two stamped writes: a "
    "replayed batch skips the base layer and refresh() no-ops; a crash "
    "between them leaves the view one refresh behind, which the next "
    "batch's refresh closes (it advances to the CURRENT snapshot). Per "
    "batch: O(batch) base append + O(batch) view delta — at 100 TB/day "
    "the rollup tracks the stream without ever rescanning the base.",
    tags=("streaming", "mutation", "table", "matview"),
)
def streaming_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark import streaming as ST

    # VERDICT r9 item 4: the 3-micro-batch replay was ~half of all bench
    # build time, so the fixture persists ACROSS sessions exactly like
    # _sec_index_fixture: content is a pure function of sf_dir's orders
    # table and this code (version-stamped, input mtime/size tagged),
    # built in a pid-unique staging dir and published by one atomic rename
    # after a _COMPLETE marker lands. The streaming checkpoint under the
    # staging path is never resumed after publish (the published fixture
    # is only ever re-OPENED, never re-streamed), so the rename is safe.
    root = os.path.join(
        tempfile.gettempdir(),
        f"stream_mv_v{_STREAM_MV_VERSION}_{sf_tag(sf_dir)}_"
        f"{input_tag(sf_dir, 'orders')}",
    )

    def make(staging: str) -> None:
        src_dir, ckpt = os.path.join(staging, "batches"), os.path.join(staging, "ckpt")
        base, mv = _stream_mv_handles(spark, staging)
        o = load(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_custkey").alias("cust"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("val"),
        )
        base.create(
            o.select(
                "k", (F.col("cust") % 97).alias("grp"), "val",
                F.lit(0).cast("int").alias("ts"),
            )
        )
        mv.build()
        mutations = (
            o.where(F.col("k") % 4 == 1)
            .select(
                "k",
                F.when(
                    F.col("k") % 8 == 1, (F.col("cust") + 1) % 97
                ).otherwise(F.col("cust") % 97).alias("grp"),
                (F.col("val") + 13).alias("val"),
                F.lit(10).cast("int").alias("ts"),
            )
            .unionByName(
                o.where(F.col("k") % 4 == 3).select(
                    "k", (F.col("cust") % 97).alias("grp"),
                    (F.col("val") + 29).alias("val"),
                    F.lit(10).cast("int").alias("ts"),
                )
            )
            .unionByName(
                o.where(F.col("k") % 4 == 2).select(
                    (F.col("k") + 20_000_000).alias("k"),
                    (F.col("cust") % 97).alias("grp"),
                    F.lit(777).cast("bigint").alias("val"),
                    F.lit(10).cast("int").alias("ts"),
                )
            )
        )
        os.makedirs(src_dir, exist_ok=True)
        for b in range(3):
            tmp = os.path.join(staging, f"tmp{b}")
            mutations.where(F.pmod(F.col("k"), F.lit(3)) == b).coalesce(
                1
            ).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            shutil.move(
                os.path.join(tmp, part), os.path.join(src_dir, f"b{b}.parquet")
            )
            shutil.rmtree(tmp, ignore_errors=True)
        stream = (
            spark.readStream.format("parquet")
            .schema("k bigint, grp bigint, val bigint, ts int")
            .option("maxFilesPerTrigger", 1)
            .load(src_dir)
        )
        q = ST.merge_stream_into_matviewed_table(
            stream, mv, ckpt, available_now=True
        )
        # the marker must NEVER land on a half-run stream: a timed-out build
        # published cross-session would hash-fail every future session on
        # this machine (no rebuild — the marker exists and the version tag is
        # unchanged). Same checked-timeout convention as the other graded
        # streaming fixtures.
        if not q.awaitTermination(300):
            q.stop()
            shutil.rmtree(staging, ignore_errors=True)
            raise TimeoutError("stream_mv fixture stream did not finish in 300s")

    if root not in _STREAM_MV_DONE:
        publish_fixture(root, make, _STREAM_MV_VERSION)
        _STREAM_MV_DONE.add(root)
    _, mv = _stream_mv_handles(spark, root)
    return mv.df()


# the streamed fixture (base + build + 3 micro-batches) persists across
# sessions (see streaming_matview_refresh); the first run per machine/input
# builds it and bench times that under `builds`, so the query row measures
# the view read + the replayed-stream no-op path
warmer("stream_mv_fixture")(
    lambda spark, sf_dir: streaming_matview_refresh(spark, sf_dir).count()
)


_BLOOM_PR_VERSION = 4  # bump when rows/mutations/layout change


def _bloom_pr_fixture(spark: SparkSession, sf_dir: str) -> KeyedTable:
    """bloom_point_read's mutated bloom=True table — registered as a
    warmer so bench times the one-time build under `builds` and the query
    row measures the probed read alone. Persists ACROSS sessions with the
    same atomic-publish discipline as _sec_index_fixture: deterministic
    content (a pure function of sf_dir's customer table + this code,
    version-stamped, input mtime/size in the tag), built in a pid-unique
    staging dir, published by one rename after a _COMPLETE marker is
    inside — a crash mid-build can never be mistaken for a finished
    fixture."""
    root = os.path.join(
        tempfile.gettempdir(),
        f"bloom_pr_v{_BLOOM_PR_VERSION}_{sf_tag(sf_dir)}_"
        f"{input_tag(sf_dir, 'customer')}",
    )

    def make(staging: str) -> None:
        tbl = KeyedTable(
            spark, staging, key_col="key", ts_col="ts",
            bloom=True,
        )
        cust = load(spark, sf_dir, "customer")
        rows = cust.select(
            F.col("c_custkey").alias("key"),
            F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
            F.lit(100).cast("int").alias("ts"),
        )
        tbl.create(rows)
        tbl.update(
            rows.where(F.col("key") % 13 == 6).select(
                "key", (F.col("bal") + 2000000).alias("bal"),
                F.lit(200).cast("int").alias("ts"),
            )
        )
        tbl.update(
            rows.where(F.col("key") % 11 == 4).select(
                "key", (F.col("bal") + 1000000).alias("bal"),
                F.lit(300).cast("int").alias("ts"),
            )
        )
        tbl.delete(rows.where(F.col("key") % 17 == 9).select("key"))

    publish_fixture(root, make, _BLOOM_PR_VERSION)
    return KeyedTable(
        spark, root, key_col="key", ts_col="ts", bloom=True
    )


warmer("bloom_pr_fixture")(_bloom_pr_fixture)


@query(
    "secondary_index_covered_lookup",
    """
    WITH cur AS (
        SELECT c_custkey AS key,
               CASE WHEN c_custkey % 10 = 3
                    THEN 'renamed #' || CAST(c_custkey AS VARCHAR)
                    ELSE c_name END AS name,
               CASE WHEN c_custkey % 10 = 3 THEN 77 ELSE c_nationkey END AS nation
        FROM customer
        WHERE c_custkey % 10 <> 6
    )
    SELECT key, nation, name FROM cur WHERE nation IN (5, 77)
    """,
    doc="Covered secondary-index lookup (Phoenix covered columns): the "
    "index is built with include=[name], so every index entry CARRIES the "
    "base row's name and lookup(covered=True) answers from the index's "
    "value-pruned files alone — zero base I/O (inputFiles()-pinned in "
    "tests/test_index.py). The mutation moves keys %%10=3 to nation 77 "
    "AND renames them in the same upsert, so a maintenance bug that "
    "refreshes the index key but not the covered column returns the stale "
    "name and fails the value hash; deletes of keys %%10=6 must vanish "
    "from the covered read without consulting the base.",
    tags=("table", "mutation"),
)
def secondary_index_covered_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _sec_index_fixture(spark, sf_dir)["idx_nation"]
    out = idx.lookup(5, covered=True).unionByName(idx.lookup(77, covered=True))
    return out.select("key", "nation", "name")


@query(
    "secondary_index_range_scan",
    """
    WITH cur AS (
        SELECT c_custkey AS key, c_name AS name,
               CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
                 + CASE WHEN c_custkey % 9 = 4 THEN 2000000 ELSE 0 END AS bal
        FROM customer
        WHERE c_custkey % 9 <> 7
    )
    SELECT key, name, bal FROM cur
    WHERE bal BETWEEN -50000 AND 50000 OR bal BETWEEN 1900000 AND 3100000
    """,
    doc="Index RANGE SCAN over a signed numeric column (SecondaryIndex."
    "lookup_range — the second half of what Phoenix indexes are for): "
    "index account balance in integer cents (REAL negatives in the data), "
    "where the ikey material is offset-binary zero-padded so "
    "lexicographic order == numeric order over the full bigint domain — a "
    "raw string cast would interleave '-9…' under '-1…' and sort '10' "
    "before '9', and this query's band boundaries would silently admit or "
    "drop rows. Mutations run THROUGH the index first: keys %%9=4 get "
    "+2,000,000 cents (moving them from the base band into a disjoint "
    "high band), keys %%9=7 are row-deleted; then the query unions both "
    "bands' range scans. The probe is pushed ikey bounds applied per "
    "layer BEFORE the LSM fold (tombstones ride the key range, so deletes "
    "cannot resurrect — plan- and value-pinned in tests/test_index.py).",
    tags=("table", "mutation"),
)
def secondary_index_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _sec_index_fixture(spark, sf_dir)["idx_bal"]
    out = idx.lookup_range(-50000, 50000).unionByName(
        idx.lookup_range(1900000, 3100000)
    )
    return out.select("key", "name", "bal")


@query(
    "secondary_index_functional_lookup",
    """
    WITH cur AS (
        SELECT c_custkey AS key,
               CASE WHEN c_custkey % 8 = 3 THEN c_name || '#Z' ELSE c_name END AS name
        FROM customer
        WHERE c_custkey % 8 <> 5
    )
    SELECT key, name FROM cur
    WHERE substr(name, length(name), 1) IN ('Z', '4')
    """,
    doc="FUNCTIONAL (expression) index under mutation (SecondaryIndex("
    "expr={'last': substring(name, -1, 1)}) — Phoenix's CREATE INDEX ON "
    "t(expr)): the index key is a DERIVED value the base table never "
    "stores, computed inside _entries and every maintenance read. The "
    "mutation appends '#Z' to names %%8=3 THROUGH the index — maintenance "
    "must recompute the derivation (tombstone the old last-char entry, "
    "insert under 'Z'); %%8=5 rows are deleted. The query probes "
    "lookup('Z') UNION ALL lookup('4'): a maintenance path that forgot to "
    "recompute the expression leaves renamed rows under their old digit "
    "(loses them from 'Z', duplicates nothing under '4' — either breaks "
    "the rows+hash match vs the oracle's substr() recomputation). The "
    "expression's input column is resolved by analysis (index.py "
    "_expr_inputs), so partial puts touching `name` maintain the index "
    "while unrelated puts skip it.",
    tags=("table", "mutation"),
)
def secondary_index_functional_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _sec_index_fixture(spark, sf_dir)["idx_fx"]
    out = idx.lookup("Z").unionByName(idx.lookup("4"))
    return out.select("key", "name")


@query(
    "secondary_index_skip_scan",
    """
    WITH cur AS (
        SELECT c_custkey AS key,
               CASE WHEN c_custkey % 10 = 3
                    THEN 'renamed #' || CAST(c_custkey AS VARCHAR)
                    ELSE c_name END AS name,
               CASE WHEN c_custkey % 10 = 3 THEN 77 ELSE c_nationkey END AS nation,
               CAST(c_custkey % 13 AS BIGINT) AS band
        FROM customer
        WHERE c_custkey % 10 <> 6
    )
    SELECT key, name, nation, band FROM cur WHERE band = 6
    """,
    doc="SKIP SCAN on a composite (nation, band) index (SecondaryIndex."
    "lookup_skip — Phoenix's SkipScanFilter): probe band=6 WITHOUT fixing "
    "the leading nation column, which a plain B-tree/leading-edge probe "
    "cannot prune at all. The skip scan enumerates the distinct nations "
    "from the INDEX itself (never the base), turns each into an encoded "
    "ikey prefix range, and ORs all ~26 ranges into ONE index read whose "
    "parquet footer stats prune to the files covering any matched prefix; "
    "the exact typed predicate then decides membership post-fold. Runs "
    "over the shared post-mutation fixture (renames+moves %%10=3, deletes "
    "%%10=6), so the enumeration must see the moved rows' nation 77 "
    "prefix too — a stale enumeration or a mis-framed range boundary "
    "drops or duplicates rows and breaks the rows+hash match.",
    tags=("table", "join"),
)
def secondary_index_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _sec_index_fixture(spark, sf_dir)["idx_comp"]
    return idx.lookup_skip(band=6).select("key", "name", "nation", "band")


@query(
    "streaming_indexed_upsert",
    """
    WITH cur AS (
        SELECT c_custkey AS key, c_name AS name,
               CASE WHEN c_custkey % 10 = 3 THEN 77 ELSE c_nationkey END AS nation
        FROM customer
    )
    SELECT key, name, nation FROM cur WHERE nation IN (5, 77)
    """,
    doc="Exactly-once streaming ingest THROUGH a secondary index "
    "(streaming.merge_stream_into_indexed_table): the mutation batch "
    "(keys %%10=3 move to nation 77) arrives via a REAL availableNow "
    "foreachBatch micro-batch stream, whose sink runs the write-side "
    "index maintenance as a stamped transaction (tombstone-old / "
    "base-merge / insert-new, each sub-write guarded by a derived layer "
    "stamp namespaced per checkpoint). The result is read index-first: "
    "lookup(5) UNION ALL lookup(77) — a missed insert loses a moved row, "
    "a skipped tombstone duplicates one under the old nation, and a "
    "double-applied batch cannot occur (replay is a strict no-op, pinned "
    "in tests/test_streaming.py) — any divergence breaks the rows+hash "
    "match vs the oracle's effective-state filter.",
    tags=("table", "mutation", "streaming"),
)
def streaming_indexed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark import streaming as ST
    from spark_on_hbase_spark.index import SecondaryIndex

    cust = load(spark, sf_dir, "customer")
    rows = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("bigint").alias("nation"),
        F.lit(100).cast("int").alias("ts"),
    )
    root = os.path.join(
        tempfile.gettempdir(),
        f"stream_idx_{spark.sparkContext.applicationId}_"
        f"{sf_tag(sf_dir)}",
    )
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        spark, os.path.join(root, "base"), key_col="key", ts_col="ts",
    )
    tbl.create(rows)
    idx = SecondaryIndex(tbl, "nation", os.path.join(root, "idx")).build()
    # the mutation batch arrives as a FILE STREAM micro-batch
    rows.where(F.col("key") % 10 == 3).select(
        "key", "name", F.lit(77).cast("bigint").alias("nation"),
        F.lit(200).cast("int").alias("ts"),
    ).coalesce(1).write.parquet(os.path.join(root, "src"))
    q = ST.merge_stream_into_indexed_table(
        ST.file_stream(
            spark, os.path.join(root, "src"),
            "key bigint, name string, nation bigint, ts int",
        ),
        idx,
        os.path.join(root, "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    out = idx.lookup(5).unionByName(idx.lookup(77))
    return out.select("key", "name", "nation")


@query(
    "streaming_interval_join_attrib",
    """
    SELECT p.user_id,
           p.event_id AS buy_id,
           c.event_id AS click_id
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 24 HOUR
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    doc="Watermarked STREAM-STREAM interval join under the hard oracle "
    "signal (VERDICT r7 item 5 — the join class was pytest-only): "
    "purchases and clicks arrive as two REAL file streams (2 batch files "
    "per side, maxFilesPerTrigger=1, availableNow), flow through "
    "stream_stream_interval_join — each purchase attributed to the same "
    "user's clicks from the preceding 24h; BOTH sides buffer in the state "
    "store, and only watermark + time-range predicate together bound that "
    "state — and land in a streaming parquet sink whose commit log the "
    "batch read-back trusts. The batch split is adversarial (event_id "
    "parity, so a purchase's matching clicks routinely arrive in a LATER "
    "micro-batch than the purchase and vice versa — every match crosses "
    "buffered state in one direction or the other). The grading watermark "
    "(90 days) exceeds the events span, so no input is late and the "
    "emitted set must equal the batch interval join bit-for-bit; "
    "production runs the same topology with a tight watermark, and that "
    "state-EVICTION contract (buffered rows dropped once provably "
    "unmatchable) is pinned separately in tests/test_streaming.py.",
    tags=("streaming", "join"),
)
def streaming_interval_join_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark import streaming as ST

    root = os.path.join(
        tempfile.gettempdir(),
        f"stream_sj_{spark.sparkContext.applicationId}_{sf_tag(sf_dir)}",
    )
    out_dir = os.path.join(root, "out")
    done = os.path.join(root, "_STREAMED")
    # fixture streams once per (session, sf_dir); the marker lands only
    # after awaitTermination, so a half-run stream is rebuilt, never read
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        ev = load(spark, sf_dir, "events").select(
            "ts", "user_id", "event_id", "event_type"
        )
        for side, typ, idcol in (
            ("buys", "purchase", "buy_id"),
            ("clicks", "click", "click_id"),
        ):
            src = os.path.join(root, side)
            rows = ev.where(F.col("event_type") == typ).select(
                "ts", "user_id", F.col("event_id").alias(idcol)
            )
            os.makedirs(src, exist_ok=True)
            for b in range(2):
                tmp = os.path.join(root, f"tmp_{side}{b}")
                rows.where(F.col(idcol) % 2 == b).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(tmp)
                part = next(
                    f for f in os.listdir(tmp) if f.endswith(".parquet")
                )
                shutil.move(
                    os.path.join(tmp, part), os.path.join(src, f"b{b}.parquet")
                )
                shutil.rmtree(tmp, ignore_errors=True)

        def _src(side: str, idcol: str) -> DataFrame:
            return (
                spark.readStream.format("parquet")
                .schema(f"ts timestamp, user_id bigint, {idcol} bigint")
                .option("maxFilesPerTrigger", 1)
                .load(os.path.join(root, side))
            )

        joined = ST.stream_stream_interval_join(
            _src("buys", "buy_id"),
            _src("clicks", "click_id"),
            on="user_id",
            within="24 hours",
            watermark="90 days",
        )
        # state-store partitioning is fixed by the shuffle-partition conf at
        # the stream's FIRST batch and pinned in the checkpoint thereafter —
        # size it to the fixture, not the session: 32 partitions on a
        # 2k-rows-per-side graded stream is pure state-store open/commit
        # overhead (measured 14.0s -> 4.2s at 8). At real scale the same
        # knob is simply set to cluster width before the stream starts.
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                joined.select("user_id", "buy_id", "click_id")
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError("interval-join stream did not drain in 300s")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        open(done, "w").write("ok")
    return spark.read.parquet(out_dir).select("user_id", "buy_id", "click_id")


@query(
    "streaming_late_data_drop",
    """
    WITH wmf AS (
        SELECT max(ts) - INTERVAL 10 DAY AS w FROM events WHERE event_id % 3 = 0
    ),
    surv AS (
        SELECT ts FROM events WHERE event_id % 3 IN (0, 1)
        UNION ALL
        SELECT ts FROM events WHERE event_id % 3 = 2 AND ts >= (SELECT w FROM wmf)
    ),
    fwm AS (SELECT max(ts) - INTERVAL 10 DAY AS w FROM events)
    SELECT time_bucket(INTERVAL 1 DAY, ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM surv
    GROUP BY 1
    HAVING time_bucket(INTERVAL 1 DAY, ts) + INTERVAL 1 DAY <= (SELECT w FROM fwm)
    """,
    doc="The watermark LATE-DATA-DROP and exactly-once-emission contract "
    "under the hard oracle signal — the state-eviction guarantee that was "
    "pytest-only until r8. A REAL 3-batch file stream (event_id %% 3, "
    "mtime-ordered, maxFilesPerTrigger=1, availableNow) drives a "
    "watermarked (10-day) 1-day tumbling count in append mode into a "
    "parquet sink. The oracle encodes Spark's exact TWO-WATERMARK "
    "semantics, verified against live checkpoint offsets: the late-row "
    "filter of micro-batch N uses batch N-1's EVICTION watermark — so "
    "batch 1 drops nothing (filter wm still 0), batch 2 drops its rows "
    "older than max(batch-0 ts) - 10d, and the trailing no-data batch "
    "emits exactly the windows whose end <= max(all ts) - 10d, each "
    "window ONCE (a row for an already-evicted window is provably below "
    "the filter watermark, so replays cannot double-count). A kernel "
    "that dropped nothing, dropped against the wrong batch's watermark, "
    "or re-emitted an evicted window breaks the rows+hash match. At "
    "100 TB/day this contract IS the state bound: (watermark + window) "
    "of history per key and not a byte more.",
    tags=("streaming", "window"),
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = os.path.join(
        tempfile.gettempdir(),
        f"stream_ld_{spark.sparkContext.applicationId}_{sf_tag(sf_dir)}",
    )
    out_dir = os.path.join(root, "out")
    done = os.path.join(root, "_STREAMED")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        ev = load(spark, sf_dir, "events").select("ts", "user_id", "event_id")
        src = os.path.join(root, "src")
        os.makedirs(src, exist_ok=True)
        for b in range(3):
            tmp = os.path.join(root, f"tmp{b}")
            ev.where(F.col("event_id") % 3 == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            shutil.move(os.path.join(tmp, part), os.path.join(src, f"b{b}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)
            # batch order IS the contract here: FileStreamSource admits
            # files by (mtime, path) — pin both so b0 < b1 < b2 always
            os.utime(
                os.path.join(src, f"b{b}.parquet"),
                (1_000_000 + b * 1000, 1_000_000 + b * 1000),
            )
        stream = (
            spark.readStream.format("parquet")
            .schema("ts timestamp, user_id bigint, event_id bigint")
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )
        agg = (
            stream.withWatermark("ts", "10 days")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count("*").cast("bigint").alias("n"))
            .select(F.col("w.start").alias("day"), "n")
        )
        # see streaming_interval_join_attrib: state partitions sized to
        # the graded fixture (measured 4.1s -> 2.3s at 8)
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                agg.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError("late-drop stream did not drain in 300s")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        open(done, "w").write("ok")
    return spark.read.parquet(out_dir).select("day", "n")


@query(
    "secondary_index_repair",
    """
    WITH cur AS (
        SELECT c_custkey AS key,
               CASE WHEN c_custkey % 10 = 1 THEN 'r_' || c_name ELSE c_name END AS name,
               CASE WHEN c_custkey % 10 = 3 THEN 77 ELSE c_nationkey END AS nation
        FROM customer
        WHERE c_custkey % 10 <> 6
    )
    SELECT key, name, nation FROM cur WHERE nation IN (5, 77)
    """,
    doc="Index repair graded end-to-end (SecondaryIndex.scrutiny/repair — "
    "Phoenix's IndexScrutinyTool): the same mutations as "
    "secondary_index_lookup are applied DIRECTLY to the base, bypassing "
    "maintenance — the one documented way to stale a global index — then "
    "repair() reconciles (tombstone orphans, upsert missing AND "
    "stale_covered entries: two audit scans, O(divergence) writes) and "
    "the result is read from the COVERED index alone (include=[name], "
    "zero base I/O). The mutation matrix covers all three divergence "
    "classes: a moved nation (orphan + missing), a row delete (orphan), "
    "and a covered-only rename (ikey intact, covered value stale — the "
    "class a key-only audit is blind to). An unrepaired orphan "
    "duplicates a moved row under nation 5, an unrepaired missing entry "
    "loses one under 77, an unrepaired covered-stale entry serves the "
    "old name — each breaks the rows+hash match vs the oracle's "
    "effective-state filter, so the deep audit set algebra itself is "
    "what is being graded.",
    tags=("table", "mutation"),
)
def secondary_index_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark.index import SecondaryIndex

    cust = load(spark, sf_dir, "customer")
    rows = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("bigint").alias("nation"),
        F.lit(100).cast("int").alias("ts"),
    )
    root = os.path.join(
        tempfile.gettempdir(),
        f"sec_idx_rep_{spark.sparkContext.applicationId}_"
        f"{sf_tag(sf_dir)}",
    )
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        spark, os.path.join(root, "base"), key_col="key", ts_col="ts",
    )
    tbl.create(rows)
    idx = SecondaryIndex(
        tbl, "nation", os.path.join(root, "idx"), include=["name"]
    ).build()
    # mutate BEHIND the index's back: the documented way to stale it
    tbl.update(
        rows.where(F.col("key") % 10 == 3).select(
            "key", "name", F.lit(77).cast("bigint").alias("nation"),
            F.lit(200).cast("int").alias("ts"),
        )
    )
    tbl.delete(rows.where(F.col("key") % 10 == 6).select("key"))
    # covered-only staleness: rename keys %10==1, nation (the ikey) intact
    tbl.update(
        rows.where(F.col("key") % 10 == 1).select(
            "key", F.concat(F.lit("r_"), F.col("name")).alias("name"),
            "nation", F.lit(150).cast("int").alias("ts"),
        )
    )
    idx.repair()
    out = idx.lookup(5, covered=True).unionByName(idx.lookup(77, covered=True))
    return out.select("key", "name", "nation")


@query(
    "streaming_stateful_stats",
    """
    WITH ev AS (
        SELECT event_type AS key, event_id % 3 AS b,
               CAST(floor(value * 100) AS BIGINT) AS v
        FROM events
    ),
    pb AS (
        SELECT key, b, COUNT(*) AS nb, SUM(v) AS sb, MAX(v) AS mb
        FROM ev GROUP BY key, b
    )
    SELECT key,
           CAST(SUM(nb) OVER w AS BIGINT) AS n_events,
           CAST(SUM(sb) OVER w AS DOUBLE) AS total,
           CAST(MAX(mb) OVER w AS DOUBLE) AS max_value
    FROM pb
    WINDOW w AS (PARTITION BY key ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Custom stateful streaming operator graded under the hard oracle "
    "signal (the applyInPandasWithState surface was pytest-only): events "
    "arrive as a REAL 3-micro-batch file stream (event_id % 3 batch split, "
    "maxFilesPerTrigger=1, availableNow) through "
    "streaming.stateful_running_stats — per-event-type running "
    "(count, sum, max) held in the checkpointed state store, one updated "
    "row emitted per present key per micro-batch via foreachBatch into a "
    "parquet land. The oracle reconstructs the ENTIRE emission sequence, "
    "not just final state: per (key, batch) partial aggregates plus a "
    "cumulative window replay exactly the state-store trajectory — values "
    "are integer cents so every pandas-side sum is exact. State scales "
    "with distinct keys, not events (the 100 TB contract); state-store "
    "partitioning sized to the fixture like the other graded streams.",
    tags=("streaming", "stateful"),
)
def streaming_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark import streaming as ST

    root = os.path.join(
        tempfile.gettempdir(),
        f"stream_st_{spark.sparkContext.applicationId}_{sf_tag(sf_dir)}",
    )
    out_dir = os.path.join(root, "out")
    done = os.path.join(root, "_STREAMED")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        src = os.path.join(root, "src")
        os.makedirs(src, exist_ok=True)
        ev = load(spark, sf_dir, "events").select(
            F.col("event_type").alias("key"),
            (F.col("event_id") % 3).alias("b"),
            F.floor(F.col("value") * 100).cast("bigint").alias("v"),
        )
        for b in range(3):
            tmp = os.path.join(root, f"tmp_{b}")
            ev.where(F.col("b") == b).select("key", "v").coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            shutil.move(os.path.join(tmp, part), os.path.join(src, f"b{b}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)
        stream = (
            spark.readStream.format("parquet")
            .schema("key string, v bigint")
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )
        stats = ST.stateful_running_stats(stream, "key", "v")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                stats.writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(out_dir)
                )
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError("stateful stream did not drain in 300s")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        open(done, "w").write("ok")
    return spark.read.parquet(out_dir).select("key", "n_events", "total", "max_value")


@query(
    "streaming_outer_join_nulls",
    """
    WITH thr AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
            (SELECT max(ts) FROM events WHERE event_type = 'click')
        ) - INTERVAL 10 DAY AS w
    ),
    matched AS (
        SELECT p.user_id, p.event_id AS buy_id, c.event_id AS click_id
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 24 HOUR
         AND c.ts <= p.ts
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    )
    SELECT user_id, buy_id, click_id FROM matched
    UNION ALL
    SELECT p.user_id, p.event_id AS buy_id, CAST(NULL AS BIGINT) AS click_id
    FROM events p, thr
    WHERE p.event_type = 'purchase' AND p.ts < thr.w
      AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.buy_id = p.event_id)
    """,
    doc="Stream-stream LEFT OUTER interval join: the null-emission-on-"
    "watermark contract graded under the hard oracle (the inner variant "
    "graded in r8 never exercises it). Same REAL topology as "
    "streaming_interval_join_attrib but how='leftOuter' and a TIGHT 10-day "
    "watermark: a purchase with no click in its preceding 24h emits a "
    "null-extended row only once the global watermark (min over both "
    "inputs' max event time, minus the delay) passes its match window — "
    "buffered state provably unmatchable. Batches are TIME-ORDERED halves "
    "(split at the events midpoint) so nothing is ever late, which makes "
    "the final emitted set split-independent: inner matches UNION "
    "unmatched purchases with ts < final watermark — exactly what the "
    "oracle states. The availableNow no-data final batch is what flushes "
    "the last closed windows; this query pins that Spark contract "
    "end-to-end (emitted parquet commit log vs oracle, nulls hashed).",
    tags=("streaming", "join"),
)
def streaming_outer_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark import streaming as ST

    root = os.path.join(
        tempfile.gettempdir(),
        f"stream_oj_{spark.sparkContext.applicationId}_{sf_tag(sf_dir)}",
    )
    out_dir = os.path.join(root, "out")
    done = os.path.join(root, "_STREAMED")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        ev = load(spark, sf_dir, "events").select(
            "ts", "user_id", "event_id", "event_type"
        )
        lohi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
        mid = lohi[0] + (lohi[1] - lohi[0]) / 2
        for side, typ, idcol in (
            ("buys", "purchase", "buy_id"),
            ("clicks", "click", "click_id"),
        ):
            src = os.path.join(root, side)
            rows = ev.where(F.col("event_type") == typ).select(
                "ts", "user_id", F.col("event_id").alias(idcol)
            )
            os.makedirs(src, exist_ok=True)
            for b, pred in (
                (0, F.col("ts") < F.lit(mid)),
                (1, F.col("ts") >= F.lit(mid)),
            ):
                tmp = os.path.join(root, f"tmp_{side}{b}")
                rows.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
                part = next(
                    f for f in os.listdir(tmp) if f.endswith(".parquet")
                )
                shutil.move(
                    os.path.join(tmp, part), os.path.join(src, f"b{b}.parquet")
                )
                shutil.rmtree(tmp, ignore_errors=True)

        def _src(side: str, idcol: str) -> DataFrame:
            return (
                spark.readStream.format("parquet")
                .schema(f"ts timestamp, user_id bigint, {idcol} bigint")
                .option("maxFilesPerTrigger", 1)
                .load(os.path.join(root, side))
            )

        joined = ST.stream_stream_interval_join(
            _src("buys", "buy_id"),
            _src("clicks", "click_id"),
            on="user_id",
            within="24 hours",
            watermark="10 days",
            how="leftOuter",
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                joined.select("user_id", "buy_id", "click_id")
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError("outer-join stream did not drain in 300s")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        open(done, "w").write("ok")
    return spark.read.parquet(out_dir).select("user_id", "buy_id", "click_id")
