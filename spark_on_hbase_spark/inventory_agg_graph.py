"""Aggregation + property-graph query inventory (SURVEY.md §2.4, §2.9,
graph rows of §2.3).

The reference's graph workload (examples/graph/AGraph.scala) operates on a
NETWORK of (Key, adjacency) pairs. Here the graph is **derived
deterministically from the driver's testdata**: lineitem's (supplier, part)
bipartite incidences become edges ``s:<suppkey> -- p:<partkey>`` carrying
EP-style properties (prob = discount quantized to 1/255 wire steps per
EP.scala:51-58, vendor from a fixed code table, ts = ship date). Every query
below has a DuckDB oracle twin; floating-point outputs are either single
IEEE ops on exact integer/decimal aggregates (deterministic across engines)
or integer-quantized, so value hashes are stable.

Scale posture (100 TB): all shapes are single hash-aggregations with map-side
partial agg, or joins whose small side broadcasts; the only window is over a
per-distinct-key frequency table (A11), which is |V|-sized, not |E|-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_on_hbase_spark.inventory import build, dec2, load, query, warmer
from spark_on_hbase_spark.operators import agg as A
from spark_on_hbase_spark.operators import graph as G

# ---------------------------------------------------------------------------
# Derived edge set: lineitem -> supplier-part incidence graph with EP props
# ---------------------------------------------------------------------------

_VENDOR_WHEEL = ["P1", "P2", "DT1", "UNKNOWN"]  # indexed by l_linenumber % 4
_VC_CASE = "CASE vendor WHEN 'P1' THEN 128 WHEN 'P2' THEN 129 WHEN 'DT1' THEN 250 ELSE 0 END"


def supplier_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed EP-property pairs from lineitem (graph ingestion, the
    DataFrame twin of DemoGraphApp.fromTextList, DemoGraphApp.scala:51-65).

    prob quantization: ``floor(discount * 255) / 255.0`` — exact decimal*int
    then one IEEE division, matching EP's 1-byte wire precision
    (EP.scala:51-58) and hashing identically on Spark and DuckDB."""
    li = load(spark, sf_dir, "lineitem")
    vendor = F.element_at(
        F.array(*[F.lit(v) for v in _VENDOR_WHEEL]),
        (F.col("l_linenumber") % 4 + 1).cast("int"),
    )
    return li.select(
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
        (F.floor(dec2("l_discount") * 255).cast("bigint") / F.lit(255.0)).alias("prob"),
        vendor.alias("vendor"),
        F.col("l_shipdate").alias("ts"),
    )


PAIRS_SQL = f"""
    SELECT 's:' || l_suppkey AS src,
           'p:' || l_partkey AS dst,
           CAST(floor(CAST(l_discount AS DECIMAL(18,2)) * 255) AS BIGINT) / 255.0 AS prob,
           (['{_VENDOR_WHEEL[0]}', '{_VENDOR_WHEEL[1]}', '{_VENDOR_WHEEL[2]}', '{_VENDOR_WHEEL[3]}'])[l_linenumber % 4 + 1] AS vendor,
           l_shipdate AS ts
    FROM lineitem
"""

# symmetrized + deduplicated network (A6 fromPairs = reverse + dedup with
# EP.combine: winner by (prob, vendor_code), ts = max) as a SQL CTE
NETWORK_SQL = f"""
    pairs AS ({PAIRS_SQL}),
    sym AS (
        SELECT src, dst, prob, vendor, ts FROM pairs
        UNION ALL
        SELECT dst AS src, src AS dst, prob, vendor, ts FROM pairs
    ),
    network AS (
        SELECT src, dst, prob, vendor, ts FROM (
            SELECT src, dst, prob, vendor,
                   max(ts) OVER (PARTITION BY src, dst) AS ts,
                   row_number() OVER (
                       PARTITION BY src, dst
                       ORDER BY prob DESC, {_VC_CASE} DESC, vendor DESC
                   ) AS rn
            FROM sym
        ) WHERE rn = 1
    )
"""


_NETWORK_CACHE: dict = {}


@build("network_edges")
def _network_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncached network build (scan -> pair dedup -> src-partitioned edges)
    — registered so the one-time build cost stays under the PLANS.md gate."""
    return G.from_pairs_partitioned(supplier_part_pairs(spark, sf_dir))


def network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (eager persist) AND memoized per (session, sf_dir):
    multi-reference plans — BSP supersteps, innerExpand's four joins — and
    the seven network-based queries compute the dedup once instead of
    re-deriving it. On a cluster this is the persisted network layer the
    reference also materializes (HGraphTable.loadNet)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _NETWORK_CACHE:
        for stale_key, stale_df in _NETWORK_CACHE.items():
            if stale_key[0] == key[0]:  # same session: release pinned blocks
                stale_df.unpersist()
        _NETWORK_CACHE.clear()
        # persist hash-partitioned by src: every non-broadcast consumer
        # (degree aggregations, large-frontier propagation joins) reads the
        # cached partitioning instead of re-exchanging the edge relation —
        # the 100 TB posture is "shuffle the big side once, at build time".
        net = _network_build(spark, sf_dir).persist()
        net.count()
        _NETWORK_CACHE[key] = net
    return _NETWORK_CACHE[key]


warmer("network_edges")(network)


# ===========================================================================
# Aggregations (§2.4)
# ===========================================================================


@query(
    "value_histogram",
    """
    SELECT l_quantity AS value, COUNT(*) AS freq
    FROM lineitem GROUP BY l_quantity ORDER BY l_quantity
    """,
    doc="A1 — value-frequency histogram (AGraph.hist, AGraph.scala:61): "
    "aggregateByKey + sortByKey becomes one hash aggregation + small sort.",
    tags=("agg",),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.histogram(load(spark, sf_dir, "lineitem"), "l_quantity")


@query(
    "pair_frequency",
    """
    SELECT o_custkey AS key, COUNT(*) AS freq FROM orders GROUP BY o_custkey
    """,
    doc="A3 — occurrences per key after pairing (AGraph.frequency, "
    "AGraph.scala:68-70).",
    tags=("agg",),
)
def pair_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return A.frequency(orders, "key")


@query(
    "edge_dedup",
    f"""
    WITH pairs AS ({PAIRS_SQL})
    SELECT src, dst, prob, vendor, ts FROM (
        SELECT src, dst, prob, vendor,
               max(ts) OVER (PARTITION BY src, dst) AS ts,
               row_number() OVER (
                   PARTITION BY src, dst
                   ORDER BY prob DESC, {_VC_CASE} DESC, vendor DESC
               ) AS rn
        FROM pairs
        WHERE CAST(substring(src, 3) AS BIGINT) % 10 = 0
    ) WHERE rn = 1
    """,
    doc="A4/A5 — edge dedup with EP.combine semantics: duplicate (src,dst) "
    "edges merge to the max-(prob, vendor_code) property and max ts "
    "(AGraph.deduplicate, AGraph.scala:126-211; EP.combine, EP.scala:14). "
    "One map-side-combining hash aggregation replaces the reference's "
    "86-line repartitionAndSortWithinPartitions + k-way merge. Restricted to "
    "1/10th of suppliers to keep the graded result compact.",
    tags=("agg", "graph"),
)
def edge_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = supplier_part_pairs(spark, sf_dir).where(
        F.substring("src", 3, 100).cast("bigint") % 10 == 0
    )
    return G.dedup_edges(pairs)


@query(
    "degree_histogram",
    f"""
    WITH {NETWORK_SQL},
    degrees AS (SELECT src, COUNT(*) AS degree FROM network GROUP BY src)
    SELECT degree, COUNT(*) AS freq FROM degrees GROUP BY degree ORDER BY degree
    """,
    doc="A2 — histogram of vertex degrees over the deduplicated symmetric "
    "network (AGraph.histogram, AGraph.scala:66; HGraphTable.scala:86-88).",
    tags=("agg", "graph"),
)
def degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.degree_histogram(network(spark, sf_dir))


@query(
    "network_counts",
    f"""
    WITH {NETWORK_SQL},
    degrees AS (SELECT src, COUNT(*) AS degree FROM network GROUP BY src)
    SELECT COUNT(*) AS n_vertices,
           CAST(SUM(CAST(floor(1000000.0 / (1 + degree)) AS BIGINT)) AS BIGINT)
               AS est_groups_x1e6
    FROM degrees
    """,
    doc="A7 — (#vertices, estimated #connected groups = sum 1/(1+degree)) "
    "(AGraph.counts, AGraph.scala:216-221). The estimate is integer-quantized "
    "(floor(1e6/(1+d))) so the cross-engine hash is exact — float summation "
    "order never enters.",
    tags=("agg", "graph"),
)
def network_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = G.degrees(network(spark, sf_dir))
    return deg.agg(
        F.count("*").alias("n_vertices"),
        F.sum(F.floor(1000000.0 / (1 + F.col("degree"))).cast("bigint")).alias(
            "est_groups_x1e6"
        ),
    )


@query(
    "two_level_aggregate",
    """
    WITH per_group AS (
        SELECT o_custkey, COUNT(*) AS members,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS group_sum
        FROM orders GROUP BY o_custkey
    )
    SELECT COUNT(*) AS n_groups, CAST(SUM(members) AS BIGINT) AS n_members,
           CAST(SUM(group_sum) AS DOUBLE) AS total
    FROM per_group
    """,
    doc="A10 — reduce per group key then global reduce -> (#groups, #members, "
    "sum) (AGraph.aggregate, AGraph.scala:286-301). Catalyst plans "
    "partial+final aggregation — the distributed shape the reference "
    "hand-built with reduceByKey + aggregate.",
    tags=("agg",),
)
def two_level_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    per_group = orders.groupBy("o_custkey").agg(
        F.count("*").alias("members"),
        F.sum(dec2("o_totalprice")).alias("group_sum"),
    )
    return per_group.agg(
        F.count("*").alias("n_groups"),
        F.sum("members").alias("n_members"),
        F.sum("group_sum").cast("double").alias("total"),
    )


@query(
    "cutoff_super_connected",
    """
    WITH freq AS (
        SELECT user_id, COUNT(*) AS freq FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT user_id, freq,
               SUM(freq) OVER (ORDER BY freq DESC, user_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running,
               SUM(freq) OVER () AS total
        FROM freq
    )
    SELECT user_id, freq FROM ranked WHERE running - freq >= total * 0.05
    """,
    doc="A11 — drop super-connected keys carrying the top 5% of total mass "
    "(AGraph.cutoff, AGraph.scala:98-113). The reference collects the "
    "histogram to the driver and broadcasts a Set — dies at 100 TB; here the "
    "cumulative sum is a window over the per-key frequency table (|keys| "
    "rows, tiny next to |events|), fully distributed.",
    tags=("agg", "window"),
)
def cutoff_super_connected(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(F.col("user_id"))
    return A.cutoff(ev, "user_id", threshold=0.05)


@query(
    "partition_distribution",
    """
    WITH parts AS (
        SELECT CAST(floor(CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                    * 32 / 4294967296.0) AS BIGINT) AS pid
        FROM customer
    ),
    counts AS (SELECT pid, COUNT(*) AS cnt FROM parts GROUP BY pid)
    SELECT COUNT(*) AS n_partitions,
           MIN(cnt) AS min_cnt, MAX(cnt) AS max_cnt,
           CAST(SUM(cnt) AS BIGINT) AS total_rows,
           CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq
    FROM counts
    """,
    doc="A15/P2 — per-partition row-count distribution of md5-salted keys "
    "over 32 range partitions (RDDUtils.distribution, misc/RDDUtils.scala:"
    "27-45; salting uniformity per KeySpace.scala:36-44, asserted < 2% rel "
    "stdev in tests/test_keys.py like KeySpaceTest.scala:59). Returns exact "
    "integer moments (sum, sum of squares) so the hash is engine-stable; "
    "stdev derives from them.",
    tags=("agg", "partitioning"),
)
def partition_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_on_hbase_spark.keys import key_partition_expr

    cust = load(spark, sf_dir, "customer")
    counts = (
        cust.select(key_partition_expr("c_custkey", 32).alias("pid"))
        .groupBy("pid")
        .agg(F.count("*").alias("cnt"))
    )
    return counts.agg(
        F.count("*").alias("n_partitions"),
        F.min("cnt").alias("min_cnt"),
        F.max("cnt").alias("max_cnt"),
        F.sum("cnt").alias("total_rows"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
    )


# ===========================================================================
# Graph joins + BSP (§2.3 J7-J12, §2.9)
# ===========================================================================


def _pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic vertex pool: high-balance suppliers."""
    return (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 3000.0)
        .select(F.concat(F.lit("s:"), F.col("s_suppkey")).alias("key"))
    )


_POOL_SQL = "SELECT 's:' || s_suppkey AS key FROM supplier WHERE s_acctbal > 3000.0"


@query(
    "graph_expand",
    f"""
    WITH {NETWORK_SQL},
    pool AS ({_POOL_SQL}),
    frontier AS (
        SELECT n.dst AS key, n.src AS origin
        FROM pool p JOIN network n ON p.key = n.src
        UNION ALL
        SELECT key, key AS origin FROM pool
    )
    SELECT key, MAX(origin) AS origin FROM frontier GROUP BY key
    """,
    doc="J7 — BFS frontier expansion: every vertex reachable from the pool "
    "gets the max pool key that reaches it (AGraph.expand, "
    "AGraph.scala:234-245: leftOuterJoin + flatMap + reduceByKey(max)). "
    "Pool side broadcasts; the network never shuffles.",
    tags=("graph", "join"),
)
def graph_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.expand(network(spark, sf_dir), _pool(spark, sf_dir))


@query(
    "graph_inner_expand",
    f"""
    WITH {NETWORK_SQL},
    pool AS ({_POOL_SQL}),
    frontier AS (
        SELECT n.dst AS key, n.src AS origin
        FROM pool p JOIN network n ON p.key = n.src
        UNION ALL
        SELECT key, key AS origin FROM pool
    ),
    expanded AS (SELECT key, MAX(origin) AS origin FROM frontier GROUP BY key),
    profile AS (
        SELECT 'p:' || p_partkey AS key, p_retailprice AS retailprice FROM part
    ),
    profiled AS (
        SELECT e.origin, pr.retailprice
        FROM expanded e JOIN profile pr ON e.key = pr.key
    ),
    originals AS (
        SELECT p.key, e.origin FROM pool p JOIN expanded e ON p.key = e.key
    )
    SELECT o.key, o.origin, pf.retailprice
    FROM originals o JOIN profiled pf ON o.origin = pf.origin
    """,
    doc="J10 — innerExpand: expand the pool, pull each group's profiles, "
    "resolve them back onto the original pool members — a 4-join pipeline "
    "(AGraph.innerExpand, AGraph.scala:264-276). The reference collects "
    "group keys driver-side between joins (AGraph.scala:267); here all four "
    "joins stay distributed.",
    tags=("graph", "join"),
)
def graph_inner_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    profile = load(spark, sf_dir, "part").select(
        F.concat(F.lit("p:"), F.col("p_partkey")).alias("key"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return G.inner_expand(network(spark, sf_dir), _pool(spark, sf_dir), profile)


_BSP_STEP_SQL = """
    {next} AS (
        SELECT key, MAX(label) AS label FROM (
            SELECT s.key, s.label FROM {cur} s
            UNION ALL
            SELECT n.dst AS key, s.label
            FROM network n JOIN {cur} s ON n.src = s.key
        ) GROUP BY key
    )
"""


@query(
    "bsp_3step",
    f"""
    WITH {NETWORK_SQL},
    s0 AS (SELECT DISTINCT src AS key, src AS label FROM network),
    {_BSP_STEP_SQL.format(cur='s0', next='s1')},
    {_BSP_STEP_SQL.format(cur='s1', next='s2')},
    {_BSP_STEP_SQL.format(cur='s2', next='s3')}
    SELECT key, label FROM s3
    """,
    doc="G1 — three BSP supersteps of max-label propagation (AGraph.bsp, "
    "AGraph.scala:88-93: broadcast labels to neighbors, dedup-merge). Each "
    "superstep is one join + one hash aggregation; bounded step count keeps "
    "it SQL-expressible for the oracle (the converged loop is "
    "connected_components below).",
    tags=("graph", "bsp"),
)
def bsp_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    net = network(spark, sf_dir)
    state = net.select(F.col("src").alias("key")).distinct().withColumn(
        "label", F.col("key")
    )
    return G.bsp_steps(net, state, 3)


@query(
    "connected_components",
    f"""
    WITH RECURSIVE {NETWORK_SQL},
    -- pruned transitive closure: a label only propagates while strictly
    -- greater than the receiving vertex. The component maximum m satisfies
    -- m > u for every other vertex u on any simple path out of m, so (v, m)
    -- is still derived for every v; dominated labels die immediately.
    reach AS (
        SELECT DISTINCT src AS key, src AS label FROM network
        UNION
        SELECT n.dst AS key, r.label
        FROM reach r JOIN network n ON n.src = r.key
        WHERE r.label > n.dst
    ),
    comp AS (SELECT key, MAX(label) AS component FROM reach GROUP BY key)
    SELECT component, COUNT(*) AS n_vertices
    FROM comp GROUP BY component ORDER BY component
    """,
    doc="G2 — max-label propagation to convergence = connected components: "
    "the reference's incremental N-step BSP (HGraphTable.scala:144-228) with "
    "its persist/unpersist history discipline (HGraphTable.scala:116-124) "
    "mapped to per-superstep eager persist + release, which keeps the plan "
    "flat so hundreds of supersteps survive. Returns (component, n_vertices) per "
    "component, ordered.",
    tags=("graph", "bsp", "iterative"),
)
def connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    net = network(spark, sf_dir)
    state = net.select(F.col("src").alias("key")).distinct().withColumn(
        "label", F.col("key")
    )
    final, _iters = G.bsp_converge(net, state, max_iters=30)
    return (
        final.groupBy(F.col("label").alias("component"))
        .agg(F.count("*").alias("n_vertices"))
        .orderBy("component")
    )


@query(
    "f1_validation",
    f"""
    WITH pairs AS ({PAIRS_SQL}),
    modeled AS (SELECT DISTINCT src, dst FROM pairs WHERE prob >= 0.05),
    validation AS (
        SELECT DISTINCT 's:' || l_suppkey AS src, 'p:' || l_partkey AS dst
        FROM lineitem WHERE l_returnflag = 'R'
    ),
    m AS (SELECT src, COUNT(*) AS m_cnt FROM modeled GROUP BY src),
    v AS (SELECT src, COUNT(*) AS v_cnt FROM validation GROUP BY src),
    t AS (
        SELECT md.src, COUNT(*) AS tp
        FROM modeled md WHERE EXISTS (
            SELECT 1 FROM validation vd WHERE vd.src = md.src AND vd.dst = md.dst
        ) GROUP BY md.src
    ),
    per_key AS (
        SELECT m.src, COALESCE(t.tp, 0) AS tp,
               m.m_cnt - COALESCE(t.tp, 0) AS fp,
               v.v_cnt - COALESCE(t.tp, 0) AS fn
        FROM m JOIN v ON m.src = v.src LEFT JOIN t ON m.src = t.src
    )
    SELECT CAST(SUM(tp) AS BIGINT) AS tp, CAST(SUM(fp) AS BIGINT) AS fp,
           CAST(SUM(fn) AS BIGINT) AS fn,
           CAST(SUM(tp) AS DOUBLE) / (SUM(tp) + SUM(fp)) AS precision,
           CAST(SUM(tp) AS DOUBLE) / (SUM(tp) + SUM(fn)) AS recall,
           2.0 * SUM(tp) / (2.0 * SUM(tp) + SUM(fp) + SUM(fn)) AS f1
    FROM per_key
    """,
    doc="J12 — precision/recall/F1 of a modeled edge set against a "
    "validation set (AGraph.f1, AGraph.scala:307-326). The reference "
    "intersects per-row Seqs inside one join; here TP/FP/FN come from "
    "distributed semi-join + counts, and the final ratios are single IEEE "
    "divisions over exact integer sums (hash-stable).",
    tags=("graph", "join", "agg"),
)
def f1_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = supplier_part_pairs(spark, sf_dir)
    modeled = pairs.where(F.col("prob") >= 0.05).select("src", "dst")
    li = load(spark, sf_dir, "lineitem")
    validation = li.where(F.col("l_returnflag") == "R").select(
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    )
    out = G.f1_validate(modeled, validation)
    return out.select(
        "tp", "fp", "fn",
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias("precision"),
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))).alias("recall"),
        (F.lit(2.0) * F.col("tp") / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn"))).alias("f1"),
    )


_PROP_STEP_SQL = """
    {next} AS (
        SELECT key, origin, MAX(prob) AS prob FROM (
            SELECT key, origin, prob FROM {cur}
            UNION ALL
            SELECT n.dst AS key, s.origin, s.prob * n.prob AS prob
            FROM network n JOIN {cur} s ON n.src = s.key
            WHERE s.prob * n.prob >= {floor}
        ) GROUP BY key, origin
    )
"""


@query(
    "prob_propagation_2step",
    f"""
    WITH {NETWORK_SQL},
    s0 AS (
        SELECT 's:' || s_suppkey AS key, 's:' || s_suppkey AS origin,
               CAST(1.0 AS DOUBLE) AS prob
        FROM supplier WHERE s_acctbal > 3000.0
    ),
    {_PROP_STEP_SQL.format(cur='s0', next='s1', floor='0.001')},
    {_PROP_STEP_SQL.format(cur='s1', next='s2', floor='0.001')}
    SELECT key, origin, prob FROM s2
    """,
    doc="G2 (bounded) — two supersteps of the reference's flagship "
    "incremental BSP: seed identities propagate with probability decay "
    "(message prob = sender prob x edge prob), vertices keep the max prob "
    "per origin, messages under the floor are dropped "
    "(HGraphTable.scala:144-228, inbox filter at :179-186). The converged "
    "delta-iteration form is graph.propagate_probabilities (tested in "
    "tests/test_graph.py); two steps keep the oracle SQL-expressible.",
    tags=("graph", "bsp"),
)
def prob_propagation_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    net = network(spark, sf_dir)
    seeds = _pool(spark, sf_dir).select("key", F.col("key").alias("origin"))
    state, _steps = G.propagate_probabilities(net, seeds, min_prob=0.001, max_iters=2)
    return state


# One delta-iteration resume superstep as DuckDB CTEs, mirroring
# graph.propagate_incremental exactly: messages fan out from the FRONTIER
# only; the max-merge tags which entries were already in the delta
# (old_prob); brand-new entries must additionally beat the STORED state
# (the s2 lookup — the table inbox filter); the next frontier is
# improved-existing ∪ surviving-new. MATERIALIZED for the same reason as
# the PageRank CTEs: each step references its predecessor multiple times.
_IBSP_STEP_SQL = """
    msg{i} AS (
        SELECT n.dst AS key, f.origin, f.prob * n.prob AS prob
        FROM network n JOIN front{prev} f ON n.src = f.key
        WHERE f.prob * n.prob >= 0.01
    ),
    mg{i} AS MATERIALIZED (
        SELECT key, origin, MAX(prob) AS prob,
               MAX(CASE WHEN s = 1 THEN prob END) AS old_prob
        FROM (
            SELECT key, origin, prob, 1 AS s FROM delta{prev}
            UNION ALL
            SELECT key, origin, prob, 0 AS s FROM msg{i}
        ) GROUP BY key, origin
    ),
    new{i} AS MATERIALIZED (
        SELECT c.key, c.origin, c.prob FROM mg{i} c
        LEFT JOIN s2 s ON s.key = c.key AND s.origin = c.origin
        WHERE c.old_prob IS NULL AND (s.prob IS NULL OR c.prob > s.prob)
    ),
    delta{i} AS MATERIALIZED (
        SELECT key, origin, prob FROM mg{i} WHERE old_prob IS NOT NULL
        UNION ALL
        SELECT key, origin, prob FROM new{i}
    ),
    front{i} AS MATERIALIZED (
        SELECT key, origin, prob FROM mg{i}
        WHERE old_prob IS NOT NULL AND prob > old_prob
        UNION ALL
        SELECT key, origin, prob FROM new{i}
    )"""

_IBSP_DONE: dict = {}


@query(
    "incremental_bsp_resume",
    f"""
    WITH {NETWORK_SQL},
    s0 AS (
        SELECT 's:' || s_suppkey AS key, 's:' || s_suppkey AS origin,
               CAST(1.0 AS DOUBLE) AS prob
        FROM supplier WHERE s_acctbal > 5500.0
    ),
    {_PROP_STEP_SQL.format(cur='s0', next='s1', floor='0.01')},
    {_PROP_STEP_SQL.format(cur='s1', next='s2', floor='0.01')},
    b0 AS (
        SELECT 's:' || s_suppkey AS key, 's:' || s_suppkey AS origin,
               CAST(1.0 AS DOUBLE) AS prob
        FROM supplier WHERE s_acctbal > 4000.0 AND s_acctbal <= 5500.0
    ),
    delta0 AS MATERIALIZED (
        SELECT b.key, b.origin, b.prob FROM b0 b
        LEFT JOIN s2 s ON s.key = b.key AND s.origin = b.origin
        WHERE s.prob IS NULL OR b.prob > s.prob
    ),
    front0 AS MATERIALIZED (SELECT key, origin, prob FROM delta0),
    {_IBSP_STEP_SQL.format(i=1, prev=0)},
    {_IBSP_STEP_SQL.format(i=2, prev=1)}
    SELECT key, origin, MAX(prob) AS prob FROM (
        SELECT key, origin, prob FROM s2
        UNION ALL
        SELECT key, origin, prob FROM delta2
    ) GROUP BY key, origin
    """,
    doc="The reference's FLAGSHIP commented-out composition "
    "(HGraphTable.scala:144-228), graded end-to-end: a probability-"
    "propagation state TABLE persists between runs (KeyedTable — S5/S13); "
    "a first batch of seeds propagates 2 supersteps and is stored; a "
    "SECOND seed batch then RESUMES against the table via "
    "graph.propagate_incremental — stored state is looked up per touched "
    "key (joins.fill_join, J6 — the inbox filter of ref :179-186), the "
    "loop carries only the O(|new reach|) delta, and ONLY new-or-improved "
    "entries are written back (KeyedTable.update, G3 result load). Graded "
    "output is the table's post-resume contents: LSM last-writer-wins "
    "merge of the seeded layer and the resume delta. At 100 TB the state "
    "table never re-materializes and the resume's cost is proportional to "
    "the new batch's reach, not the corpus.",
    tags=("graph", "bsp", "table"),
)
def incremental_bsp_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from spark_on_hbase_spark.table import KeyedTable

    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(),
        f"bsp_state_{spark.sparkContext.applicationId}_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{sf_tag}",
    )
    tbl = KeyedTable(spark, path, key_col="sid", ts_col="ts")
    sid = F.concat_ws(" ", F.col("key"), F.col("origin")).alias("sid")
    done_key = (spark.sparkContext.applicationId, sf_dir)
    if done_key not in _IBSP_DONE:
        # build-once per (session, sf_dir): the content is deterministic and
        # re-running create+resume would append duplicate layers
        if not tbl.exists():
            net = network(spark, sf_dir)
            seeds_a = (
                load(spark, sf_dir, "supplier")
                .where(F.col("s_acctbal") > 5500.0)
                .select(F.concat(F.lit("s:"), F.col("s_suppkey")).alias("key"))
                .select("key", F.col("key").alias("origin"))
            )
            state, _ = G.propagate_probabilities(
                net, seeds_a, min_prob=0.01, max_iters=2
            )
            tbl.create(
                state.select(sid, "key", "origin", "prob", F.lit(0).alias("ts"))
            )
            seeds_b = (
                load(spark, sf_dir, "supplier")
                .where((F.col("s_acctbal") > 4000.0) & (F.col("s_acctbal") <= 5500.0))
                .select(F.concat(F.lit("s:"), F.col("s_suppkey")).alias("key"))
                .select("key", F.col("key").alias("origin"))
            )
            stored = tbl.df().select("key", "origin", "prob")
            delta, _steps = G.propagate_incremental(
                stored, net, seeds_b, min_prob=0.01, max_iters=2
            )
            tbl.update(
                delta.select(sid, "key", "origin", "prob", F.lit(1).alias("ts"))
            )
        _IBSP_DONE[done_key] = True
    return tbl.df().select("key", "origin", "prob")


# One damped-PageRank superstep as a DuckDB CTE triple. Float discipline for
# hash-exactness: every constant is forced DOUBLE (DuckDB parses bare 0.85 as
# DECIMAL, whose 1-0.85 differs from IEEE 1.0-0.85 by an ulp) and the
# expression tree mirrors the Spark operator's association order exactly
# ((1-d)/n + (d*mass)/n) + d*incoming. Remaining sum-order noise is absorbed
# by the quantized output (see final SELECT). Every state CTE is MATERIALIZED:
# each step references its predecessor three times, so DuckDB's default CTE
# inlining would re-expand the whole upstream pipeline ~3^5 times.
_PR_STEP_SQL = """
    {next}_in AS MATERIALIZED (
        SELECT l.dst AS key, SUM(p.rank * l.w) AS incoming
        FROM links l JOIN {cur} p ON l.src = p.key
        GROUP BY l.dst
    ),
    {next}_dang AS MATERIALIZED (
        SELECT COALESCE(SUM(rank), CAST(0.0 AS DOUBLE)) AS mass
        FROM {cur} WHERE deg = 0
    ),
    {next} AS MATERIALIZED (
        SELECT s.key,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                 + CAST(0.85 AS DOUBLE) * d.mass / nn.n
                 + CAST(0.85 AS DOUBLE)
                   * COALESCE(i.incoming, CAST(0.0 AS DOUBLE)) AS rank,
               s.deg
        FROM {cur} s CROSS JOIN nn CROSS JOIN {next}_dang d
        LEFT JOIN {next}_in i ON s.key = i.key
    )"""


@query(
    "pagerank_5iter",
    f"""
    WITH {NETWORK_SQL},
    verts AS MATERIALIZED (
        SELECT DISTINCT key FROM (
            SELECT src AS key FROM network
            UNION ALL
            SELECT dst AS key FROM network
        )
    ),
    nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM verts),
    degs AS MATERIALIZED (SELECT src AS key, COUNT(*) AS d FROM network GROUP BY src),
    links AS MATERIALIZED (
        SELECT n.src, n.dst, CAST(1.0 AS DOUBLE) / d.d AS w
        FROM network n JOIN degs d ON n.src = d.key
    ),
    s0 AS MATERIALIZED (
        SELECT v.key, CAST(1.0 AS DOUBLE) / nn.n AS rank,
               COALESCE(d.d, 0) AS deg
        FROM verts v CROSS JOIN nn LEFT JOIN degs d ON v.key = d.key
    ),
    {_PR_STEP_SQL.format(cur='s0', next='s1')},
    {_PR_STEP_SQL.format(cur='s1', next='s2')},
    {_PR_STEP_SQL.format(cur='s2', next='s3')},
    {_PR_STEP_SQL.format(cur='s3', next='s4')},
    {_PR_STEP_SQL.format(cur='s4', next='s5')}
    SELECT key,
           CAST(FLOOR(rank * 1000000000.0 + 0.5) AS BIGINT) AS rank_e9
    FROM s5
    """,
    doc="G2 superset — 5 supersteps of damped PageRank (dangling-mass "
    "redistribution included) over the supplier-part network: the canonical "
    "iterative-BSP workload on the same superstep machinery as the "
    "reference's incremental BSP (HGraphTable.scala:144-228). Per superstep "
    "ONE job: a join + aggregation whose materializing scan also returns the "
    "next dangling-mass scalar (fused probe). Plan depth and planning time "
    "stay O(1) in the superstep count via localCheckpoint. Graded output is "
    "rank quantized to 1e-9 via floor(rank*1e9 + 0.5) — identical IEEE ops "
    "on both engines — because a 5-deep double-sum recurrence is "
    "reproducible only up to summation order; full-precision exactness is "
    "separately pinned against a NumPy power iteration in "
    "tests/test_graph.py::test_pagerank_matches_power_iteration.",
    tags=("graph", "bsp"),
)
def pagerank_5iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = G.pagerank(network(spark, sf_dir), damping=0.85, max_iters=5)
    return ranks.select(
        "key",
        F.floor(F.col("rank") * F.lit(1000000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("rank_e9"),
    )


@query(
    "max_connected",
    f"""
    WITH {NETWORK_SQL},
    pvertices AS (SELECT DISTINCT src AS key FROM network WHERE src LIKE 's:%'),
    best AS (
        SELECT src AS key, MAX(dst) AS best_p
        FROM network WHERE src LIKE 's:%' AND dst LIKE 'p:%'
        GROUP BY src
    )
    SELECT v.key, COALESCE(b.best_p, v.key) AS max_connected
    FROM pvertices v LEFT JOIN best b ON v.key = b.key
    """,
    doc="A13/A14 — per-vertex max connected key within one keyspace, falling "
    "back to the vertex's own key when it has no edges there "
    "(HGraphTable.MaxConnected, examples/graph/HGraphTable.scala:69-83; "
    "Key.higher/highest, keyspace/Key.scala:36-50). The keyspace filter is "
    "the 'p:' prefix — the engine's keyspace discriminator (keys.py).",
    tags=("graph", "agg"),
)
def max_connected(spark: SparkSession, sf_dir: str) -> DataFrame:
    net = network(spark, sf_dir)
    s_vertices = net.where(F.col("src").startswith("s:")).select("src").distinct()
    best = (
        net.where(F.col("src").startswith("s:") & F.col("dst").startswith("p:"))
        .groupBy("src")
        .agg(F.max("dst").alias("best_p"))
    )
    return s_vertices.join(best, "src", "left").select(
        F.col("src").alias("key"),
        F.coalesce(F.col("best_p"), F.col("src")).alias("max_connected"),
    )


@query(
    "triangle_count",
    """
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    ),
    e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM li l1 JOIN li l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    )
    SELECT (SELECT COUNT(*) FROM (SELECT a AS k FROM e UNION SELECT b FROM e))
               AS n_vertices,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM e e1
            JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles
    """,
    doc="Triangle census of the part co-purchase graph (parts sharing an "
    "order, pre-1997 shipments — the date filter sizes the GRADED graph; "
    "the operator is unrestricted) — graph.triangle_count. The engine runs "
    "the "
    "degree-ordered-orientation algorithm: each edge directed toward its "
    "(degree, id)-larger endpoint bounds out-degrees by O(sqrt(m)), so the "
    "wedge self-join enumerates O(m^1.5) candidates where the naive "
    "unoriented join goes quadratic on a hub vertex; each triangle closes "
    "at exactly one wedge source, counted by a left-semi join on the "
    "closing edge. The oracle's id-ordered 3-way self-join is the "
    "quadratic form the orientation avoids — same count, only viable at "
    "oracle scale.",
    tags=("graph", "agg", "join"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") < "1997-01-01")
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("l1")
        .join(
            li.alias("l2"),
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(
            F.col("l1.l_partkey").alias("src"), F.col("l2.l_partkey").alias("dst")
        )
    )
    return G.triangle_count(pairs)


# One synchronous label-propagation superstep as DuckDB CTEs, mirroring
# graph.label_propagation: messages fan out along edges; each vertex adopts
# the most frequent incoming label (ties -> smallest label), keeping its
# own when nothing arrives. Exact integer counts + string tiebreak:
# deterministic on both engines.
_LPA_STEP_SQL = """
    lmsg{i} AS (
        SELECT n.dst AS key, l.label FROM network n JOIN lab{prev} l ON n.src = l.key
    ),
    lcnt{i} AS (
        SELECT key, label, COUNT(*) AS c FROM lmsg{i} GROUP BY key, label
    ),
    lpick{i} AS (
        SELECT key, label FROM (
            SELECT key, label,
                   row_number() OVER (PARTITION BY key ORDER BY c DESC, label) AS rn
            FROM lcnt{i}
        ) WHERE rn = 1
    ),
    lab{i} AS MATERIALIZED (
        SELECT v.key, COALESCE(p.label, v.label) AS label
        FROM lab{prev} v LEFT JOIN lpick{i} p ON v.key = p.key
    )"""


@query(
    "label_propagation_2step",
    f"""
    WITH {NETWORK_SQL},
    lab0 AS MATERIALIZED (
        SELECT DISTINCT key, key AS label FROM (
            SELECT src AS key FROM network
            UNION ALL SELECT dst AS key FROM network
        )
    ),
    {_LPA_STEP_SQL.format(i=1, prev=0)},
    {_LPA_STEP_SQL.format(i=2, prev=1)}
    SELECT label, COUNT(*) AS community_size FROM lab2 GROUP BY label
    """,
    doc="Two supersteps of synchronous label propagation (community "
    "detection, graph.label_propagation) over the supplier-part network — "
    "the third BSP merge semiring beside max-decay propagation and "
    "min-label connected components: each vertex adopts its most frequent "
    "neighbor label (exact integer counts, smallest-label tiebreak — the "
    "engine's count-argmax is one min(struct) aggregation, no window "
    "sort). Graded output is the community-size census after 2 steps. "
    "Same per-superstep cost shape as every other loop here: one "
    "stationary-edge join + two hash aggregations, one scalar collect.",
    tags=("graph", "bsp"),
)
def label_propagation_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    net = network(spark, sf_dir)
    labels, _steps = G.label_propagation(net, max_iters=2)
    return labels.groupBy("label").agg(F.count("*").alias("community_size"))


# k-core peeling oracle: the same bounded rounds unrolled as CTE pairs —
# k{r} = surviving vertices (degree >= k in e{r-1}), e{r} = induced edges.
_KCORE_K = 3
_KCORE_ROUNDS = 3
_KCORE_STEP_SQL = (
    "k{r} AS (SELECT src FROM e{p} GROUP BY src HAVING COUNT(*) >= "
    + str(_KCORE_K)
    + "),\n"
    "    e{r} AS (SELECT e.src, e.dst FROM e{p} e"
    " WHERE e.src IN (SELECT src FROM k{r})"
    " AND e.dst IN (SELECT src FROM k{r}))"
)
_KCORE_STEPS_SQL = ",\n    ".join(
    _KCORE_STEP_SQL.format(r=r, p=r - 1) for r in range(1, _KCORE_ROUNDS + 1)
)


@query(
    "kcore_peel_census",
    f"""
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    ),
    und AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM li l1 JOIN li l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    e0 AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
    {_KCORE_STEPS_SQL}
    SELECT src AS vertex, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{_KCORE_ROUNDS} GROUP BY src
    """,
    doc="Bounded k-core peeling (graph.kcore_peel, k=3, 3 rounds) of the "
    "part co-purchase graph (parts sharing an order, pre-1996 shipments — "
    "the cut sizes the GRADED graph so every round genuinely shrinks it: "
    "928 -> 676 -> 558 surviving vertices at sf0.01; the operator is "
    "unrestricted). Each round = one degree hash-aggregation + two "
    "left-semi joins restricting edges to surviving endpoints, all keyed "
    "on the vertex columns — the distributed batch form of the peeling "
    "algorithm, rounds bounded so the DuckDB oracle replays the exact "
    "computation as unrolled CTEs (no fixpoint nondeterminism in the "
    "grade). Output: each surviving vertex with its induced-subgraph "
    "degree. The graph-cleaning gate run before community/centrality "
    "passes; complements triangle_count on the same co-purchase graph.",
    tags=("graph", "agg"),
)
def kcore_peel_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_partkey")
    )
    und = (
        li.alias("l1")
        .join(
            li.alias("l2"),
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(F.col("l1.l_partkey").alias("a"), F.col("l2.l_partkey").alias("b"))
        .distinct()
    )
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    return G.kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
