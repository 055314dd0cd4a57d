"""Property-graph workload (SURVEY.md §2.9 + graph rows of §2.3/§2.4).

The reference's AGraph (examples/graph/AGraph.scala) models a NETWORK as
``RDD[(Key, Seq[(Key, EP)])]`` — per-vertex adjacency lists, deduplicated by a
86-line sort-merge aggregation (AGraph.deduplicate, AGraph.scala:126-211).

Spark-first we keep edges **flat**: ``(src, dst, prob, vendor, ts)`` rows.
Flat edges shuffle and aggregate with built-in hash aggregation, skew is
handled by AQE, and adjacency lists (which concentrate a celebrity vertex's
edges in one row) are built only on demand via ``to_adjacency``. At 100 TB an
adjacency-array representation is exactly the thing that dies first; the flat
form is the scalable primitive.

Edge-property combine (EP.combine, EP.scala:14): max of the packed property
bytes — with a fixed version byte that is (prob, vendor_code) lexicographic max
— plus max ts. ``dedup_edges`` reproduces it with one aggregation.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_on_hbase_spark.functions.ep import VENDOR_CODES
from spark_on_hbase_spark.plans import loop_planner, shuffle_width


def vendor_code_expr(vendor_col: str = "vendor"):
    """Map vendor names to their EP wire codes for combine ordering."""
    mapping = F.create_map(
        *[x for name, code in VENDOR_CODES.items() for x in (F.lit(name), F.lit(code))]
    )
    return F.coalesce(mapping[F.col(vendor_col)], F.lit(0))


def reverse_edges(edges: DataFrame) -> DataFrame:
    """A6's symmetrize step (AGraph.reverse, AGraph.scala:80-82): emit the
    mirrored edge for every edge.

    One explode over a 2-element array instead of a self-union: the input
    relation is scanned ONCE. A union of two selects plans the upstream
    subtree twice — against a 100 TB fact scan that doubles the IO."""
    rest = [c for c in edges.columns if c not in ("src", "dst")]
    both = F.array(
        F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
        F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
    )
    return (
        edges.select(F.explode(both).alias("__e"), *rest)
        .select(F.col("__e.s").alias("src"), F.col("__e.d").alias("dst"), *rest)
        .select(*edges.columns)
    )


def dedup_edges(edges: DataFrame) -> DataFrame:
    """A4/A5 — deduplicate edges, combining duplicates with EP.combine
    semantics: winner is max (prob, vendor_code), ts is the max over all
    duplicates (AGraph.deduplicate, AGraph.scala:126-211; EP.combine,
    EP.scala:14).

    One hash aggregation replaces the reference's
    repartitionAndSortWithinPartitions + per-key k-way merge-sort of
    pre-sorted edge lists; partial aggregation makes it map-side combining,
    so duplicate-heavy inputs shrink before the shuffle.

    The combine key is bit-packed into ONE bigint — prob's 1/255 wire step
    (EP's own byte quantization, EP.scala:51-58) in the high bits, the
    vendor code in the low 16 — because ``max(struct(...))`` forces a
    SortAggregate (struct agg buffers aren't hash-aggregable) while
    ``max(bigint)`` stays a HashAggregate: measurably faster and no
    per-partition sort at 100 TB. Decode recovers (prob, vendor) exactly."""
    # prob is k/255.0 by construction; round() undoes the float error of *255
    prob_byte = F.round(F.col("prob") * 255).cast("bigint")
    packed = F.shiftleft(prob_byte, 16) + vendor_code_expr()
    code_to_vendor = F.create_map(
        *[x for name, code in VENDOR_CODES.items() for x in (F.lit(code), F.lit(name))]
    )
    out = (
        edges.groupBy("src", "dst")
        .agg(F.max(packed).alias("__w"), F.max("ts").alias("ts"))
    )
    return out.select(
        "src",
        "dst",
        (F.shiftright(F.col("__w"), 16).cast("double") / F.lit(255.0)).alias("prob"),
        code_to_vendor[F.col("__w").bitwiseAND(F.lit(0xFFFF))].alias("vendor"),
        "ts",
    )


def from_pairs(pairs: DataFrame) -> DataFrame:
    """A6 — build a symmetric deduplicated network from directed pairs
    (AGraph.fromPairs, AGraph.scala:75-82).

    Equivalent to ``dedup_edges(reverse_edges(pairs))`` but aggregates on the
    CANONICAL (unordered) pair and mirrors the combined result afterwards:
    the combine group for (a,b) in the symmetrized relation is exactly the
    multiset of original edges between a and b in either direction, so
    combining once per unordered pair and emitting both directions yields
    the same network with HALF the shuffle input. Self-loops are mirrored
    zero times (the symmetrized group (a,a) still combines both copies but
    must emit one row)."""
    rest = [c for c in pairs.columns if c not in ("src", "dst")]
    canon = pairs.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"), *rest
    )
    half = dedup_edges(canon)
    # mirror via a conditional explode, NOT a self-union: a union would
    # reference (and re-execute) the whole dedup subtree twice.
    out_rest = [c for c in half.columns if c not in ("src", "dst")]
    fwd = F.struct(F.col("src").alias("s"), F.col("dst").alias("d"))
    rev = F.struct(F.col("dst").alias("s"), F.col("src").alias("d"))
    both = F.when(F.col("src") == F.col("dst"), F.array(fwd)).otherwise(
        F.array(fwd, rev)
    )
    return (
        half.select(F.explode(both).alias("__e"), *out_rest)
        .select(F.col("__e.s").alias("src"), F.col("__e.d").alias("dst"), *out_rest)
        .select(*half.columns)
    )


def from_pairs_partitioned(pairs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """``from_pairs`` variant that leaves the network hash-partitioned by
    ``src`` with ONE exchange: symmetrize (explode), repartition by src,
    then dedup — ``hash(src)`` is a subset of the (src, dst) clustering, so
    the aggregation reuses the repartition exchange instead of adding its
    own. Use when the network will be persisted and consumed by src-keyed
    joins/aggregations (the BSP/degree workloads): one 2|E|-row shuffle
    total, versus canonical-dedup (|E|) + repartition (2|E|) for
    ``from_pairs(...).repartition("src")``.

    The network is ``num_partitions`` wide, by default
    ``plans.shuffle_width`` of the symmetrized pairs: AQE may not
    re-partition a persisted plan, so the width is sized to the data here,
    once — ``spark.sql.shuffle.partitions`` at scale, ``defaultParallelism``
    for a small graph, whose src-keyed consumers and BSP loops then run
    that many tasks per stage instead of 32."""
    sym = reverse_edges(pairs)
    return dedup_edges(sym.repartition(num_partitions or shuffle_width(sym), "src"))


def to_adjacency(edges: DataFrame) -> DataFrame:
    """NETWORK materialization: per-vertex sorted adjacency list — the
    reference's native form (AGraph.scala:30-47; edge lists sorted by dst,
    AGraph.scala:124-125). Use only for export/parity; flat form scales."""
    return edges.groupBy("src").agg(
        F.sort_array(F.collect_list(F.struct("dst", "prob", "vendor", "ts"))).alias("edges")
    )


def from_text_adjacency(
    lines: DataFrame,
    default_prob: float = 1.0,
    default_vendor: str = "UNKNOWN",
    default_ts: int = 0,
) -> DataFrame:
    """G4 — ingest whitespace-separated adjacency lines ``src dst1 dst2 ...``
    into a symmetric deduplicated network (DemoGraphApp.fromTextList,
    examples/graph/DemoGraphApp.scala:51-65): read.text -> split -> explode
    -> symmetrize -> dedup. ``lines`` has one string column ``value``."""
    toks = F.filter(F.split(F.col("value"), r"\s+"), lambda w: w != "")
    pairs = (
        lines.select(
            F.element_at(toks, 1).alias("src"),
            F.explode(F.slice(toks, 2, 1_000_000)).alias("dst"),
        )
        .withColumn("prob", F.lit(default_prob))
        .withColumn("vendor", F.lit(default_vendor))
        .withColumn("ts", F.lit(default_ts))
    )
    return from_pairs(pairs)


def degrees(edges: DataFrame) -> DataFrame:
    """Out-degree per vertex (NumEdges transformation,
    examples/graph/HGraphTable.scala:60-67)."""
    return edges.groupBy("src").agg(F.count("*").alias("degree"))


def degree_histogram(edges: DataFrame) -> DataFrame:
    """A2 — histogram of vertex out-degrees (AGraph.histogram,
    AGraph.scala:66; HGraphTable.scala:86-88)."""
    return (
        degrees(edges)
        .groupBy("degree")
        .agg(F.count("*").alias("freq"))
        .orderBy("degree")
    )


def network_counts(edges: DataFrame) -> DataFrame:
    """A7 — (#vertices, estimated #connected groups = sum 1/(1+degree))
    (AGraph.counts, AGraph.scala:216-221)."""
    return degrees(edges).agg(
        F.count("*").alias("n_vertices"),
        F.sum(F.lit(1.0) / (F.lit(1.0) + F.col("degree"))).alias("est_groups"),
    )


def expand(edges: DataFrame, pool: DataFrame) -> DataFrame:
    """J7 — BFS frontier expansion: for every vertex reachable from the pool,
    the max pool key that reaches it (AGraph.expand, AGraph.scala:234-245:
    leftOuterJoin + flatMap connectivity + reduceByKey(max))."""
    frontier = pool.join(edges, pool["key"] == edges["src"], "inner").select(
        F.col("dst").alias("key"), F.col("src").alias("origin")
    )
    both = frontier.unionByName(pool.select("key", F.col("key").alias("origin")))
    return both.groupBy("key").agg(F.max("origin").alias("origin"))


def profile_join(pool: DataFrame, profile: DataFrame, on: str = "key") -> DataFrame:
    """J8 — attach profile values to pool members (AGraph.profile,
    AGraph.scala:247-249)."""
    return pool.join(profile, on=on, how="inner")


def inner_expand(edges: DataFrame, pool: DataFrame, profile: DataFrame) -> DataFrame:
    """J10 — expand the pool, pull each group's profiles, resolve them back
    onto the original pool members (AGraph.innerExpand, AGraph.scala:264-276 —
    a 4-join pipeline). Returns (key, origin, <profile columns>) for original
    pool members, carrying profiles found anywhere in their expanded group."""
    expanded = expand(edges, pool)  # key -> origin (group id)
    profiled = expanded.join(profile, on="key", how="inner").drop("key")
    originals = pool.join(expanded, on="key", how="inner")
    return originals.join(profiled, on="origin", how="inner")


def bsp_step(edges: DataFrame, state: DataFrame) -> DataFrame:
    """G1 — one BSP superstep of max-label propagation: every vertex adopts
    the max of its own label and its neighbors' labels (AGraph.bsp,
    AGraph.scala:88-93 — broadcast edge lists to neighbors, dedup-merge).

    ``state``: (key, label). Returns the next (key, label).

    SHUFFLE_HASH hint on the state side: checkpoint-backed state has
    UNKNOWN stats, and with edges cached (exact stats, often under the
    broadcast threshold) the static planner would otherwise re-broadcast
    the ENTIRE edge relation every superstep — impossible at 100 TB. The
    hint keeps edges stationary in their cached hash(src) partitioning and
    builds the per-partition hash table from the state (see
    pagerank_contribs, pinned by tests/test_plans.py)."""
    messages = edges.join(
        state.hint("shuffle_hash"), edges["src"] == state["key"], "inner"
    ).select(F.col("dst").alias("key"), F.col("label"))
    return (
        state.unionByName(messages)
        .groupBy("key")
        .agg(F.max("label").alias("label"))
    )


def bsp_steps(
    edges: DataFrame, state: DataFrame, n: int, adaptive: bool = False
) -> DataFrame:
    """G1 — run exactly ``n`` BSP supersteps, materializing each one.

    The step-k state is referenced twice by step k+1 (as carried state and
    as message source), so without a LINEAGE cut the logical plan doubles
    per superstep — and even under eager persist, CacheManager substitution
    only flattens the PHYSICAL plan; the analyzer still walks the
    exponentially-growing logical tree every superstep (measured: ~2x wall
    time per superstep on a 12-step chain, the same result the pagerank
    loop documents at :519-527). ``localCheckpoint`` rebases the state on
    its materialized blocks, holding plan size and superstep time constant;
    superseded checkpoint blocks are reclaimed by the ContextCleaner on JVM
    GC, which the engine's session hygiene triggers periodically.
    ``adaptive``: see ``plans.loop_planner``."""
    with loop_planner(edges, adaptive):
        for _ in range(n):
            state = bsp_step(edges, state).localCheckpoint(eager=False)
            state.count()  # ONE job: materializes the lazy checkpoint
    return state


def bsp_converge(
    edges: DataFrame,
    state: DataFrame,
    max_iters: int = 50,
    adaptive: bool = False,
    minimize: bool = False,
) -> tuple[DataFrame, int]:
    """G2 — iterate max-label propagation to a fixpoint (connected
    components), the engine's version of the reference's incremental N-step
    BSP (HGraphTable.scala:144-228; its per-superstep history discipline at
    HGraphTable.scala:116-124 maps to the per-superstep lineage cut here).

    ``minimize=True`` flips the label semilattice from max to min (canonical
    representative = SMALLEST key in the component — the convention of dedup
    cluster canonicalization, where the surviving document is the lowest id);
    the merge aggregate and the improvement test flip together, everything
    else (delta iteration, fused frontier probe, lineage discipline) is
    identical.

    Runs as a **delta iteration**: only vertices whose label changed last
    superstep (the frontier) send messages, so message volume shrinks every
    round — on a 100 TB graph the late supersteps touch a tiny fraction of
    edges instead of all of them. Change detection piggybacks on the merge
    aggregation (old label = max over the state-tagged rows), so each
    superstep is ONE shuffle aggregation whose materializing scan also
    returns the frontier size — no separate convergence join or probe job.

    Each superstep's merge is referenced twice downstream (next state and
    next frontier), so its state materializes via ``localCheckpoint`` — the
    LINEAGE cut, not just a cache: under eager persist, CacheManager
    substitution flattens only the PHYSICAL plan while the analyzer still
    walks the exponentially-growing logical tree, measured ~2x wall time
    per superstep on a 12-superstep chain (the same measurement the
    pagerank loop documents). The checkpoint rebases the logical plan on
    the materialized blocks, holding superstep cost constant over hundreds
    of supersteps; superseded checkpoint blocks are reclaimed by the
    ContextCleaner on JVM GC (the engine's session hygiene triggers one
    periodically).

    The loop runs at ``plans.loop_planner``'s width: ``defaultParallelism``
    tasks per superstep shuffle on a small graph, where a fixed
    ``spark.sql.shuffle.partitions`` (32) made the loop pay per-task
    overhead, not work. A network ``from_pairs_partitioned`` built is read
    in place: the width is its own. The state is checkpointed at the width
    too."""
    agg_fn = F.min if minimize else F.max
    # persist edges only if the CALLER hasn't: persist() on an
    # already-cached relation returns the same plan, so the finally-block
    # unpersist would otherwise evict the caller's shared cache entry (the
    # memoized network relation) behind its back
    owns_edges = edges.storageLevel == StorageLevel.NONE
    if owns_edges:
        edges = edges.persist()
    with loop_planner(edges, adaptive):
        try:
            current = state.localCheckpoint(eager=False)
            frontier = current
            for i in range(1, max_iters + 1):
                if i % 16 == 0:
                    # superseded checkpoint blocks are reclaimed by the
                    # ContextCleaner only after a driver GC; long loops
                    # trigger one periodically so hundreds of supersteps
                    # don't accumulate hundreds of state copies
                    edges.sparkSession.sparkContext._jvm.System.gc()
                # shuffle-hash hint: the checkpointed frontier has unknown
                # stats — without it the static planner broadcasts the
                # CACHED EDGES every superstep (see bsp_step's docstring)
                messages = edges.join(
                    frontier.hint("shuffle_hash"),
                    edges["src"] == frontier["key"],
                    "inner",
                ).select(F.col("dst").alias("key"), F.col("label"))
                tagged = current.withColumn("__s", F.lit(1)).unionByName(
                    messages.withColumn("__s", F.lit(0))
                )
                merged = (
                    tagged.groupBy("key")
                    .agg(
                        agg_fn("label").alias("label"),
                        # __old is the state-tagged row's label: exactly one
                        # such row exists per key, so min/max both read it
                        F.max(F.when(F.col("__s") == 1, F.col("label"))).alias("__old"),
                    )
                    .localCheckpoint(eager=False)
                )
                improved = F.col("__old").isNull() | (
                    (F.col("label") < F.col("__old"))
                    if minimize
                    else (F.col("label") > F.col("__old"))
                )
                # ONE job both materializes the lazily-marked checkpoint
                # (its full scan populates the blocks) and returns the
                # frontier size — no separate count + emptiness probe.
                changed = merged.agg(
                    F.sum(F.when(improved, 1).otherwise(0))
                ).collect()[0][0]
                frontier = merged.where(improved).select("key", "label")
                current = merged.select("key", "label")
                if not changed:
                    return current, i
            return current, max_iters
        finally:
            if owns_edges:
                edges.unpersist()


def propagate_probabilities(
    edges: DataFrame,
    seeds: DataFrame,
    min_prob: float = 0.01,
    max_iters: int = 10,
    adaptive: bool = False,
) -> tuple[DataFrame, int]:
    """G2's flagship incremental BSP (the reference's commented-out design,
    HGraphTable.scala:144-228): propagate seed identities through the graph
    with probability decay — a message from a vertex that reaches origin o
    with probability p crosses an edge of probability q carrying p*q; each
    vertex keeps the max probability per origin; messages below ``min_prob``
    are dropped (the reference filters the inbox against known
    probabilities, :179-186).

    Delta iteration like bsp_converge: only improved (key, origin, prob)
    entries re-send, and each superstep's state materializes via the same
    ``localCheckpoint`` lineage cut (see bsp_converge's docstring for the
    measured exponential-analysis rationale). ``seeds``: (key, origin) —
    typically origin = key. Returns ((key, origin, prob) state, supersteps
    run)."""
    # an edge with prob < min_prob can never deliver a passing message
    # (message prob starts at 1.0 and only decays), so drop it before the
    # loop: one filter here removes its fanout from EVERY superstep's join.
    edges = edges.where(F.col("prob") >= min_prob).persist()
    with loop_planner(edges, adaptive):
        try:
            current = (
                seeds.select("key", "origin")
                .withColumn("prob", F.lit(1.0))
                .localCheckpoint(eager=False)
            )
            frontier = current
            for i in range(1, max_iters + 1):
                # shuffle-hash hint: see bsp_step — keeps the cached edge
                # relation stationary instead of re-broadcasting it
                messages = (
                    edges.join(
                        frontier.hint("shuffle_hash"),
                        edges["src"] == frontier["key"],
                        "inner",
                    )
                    .select(
                        F.col("dst").alias("key"),
                        F.col("origin"),
                        (frontier["prob"] * edges["prob"]).alias("prob"),
                    )
                    .where(F.col("prob") >= min_prob)
                )
                tagged = current.withColumn("__s", F.lit(1)).unionByName(
                    messages.withColumn("__s", F.lit(0))
                )
                merged = (
                    tagged.groupBy("key", "origin")
                    .agg(
                        F.max("prob").alias("prob"),
                        F.max(F.when(F.col("__s") == 1, F.col("prob"))).alias("__old"),
                    )
                    .localCheckpoint(eager=False)
                )
                improved = F.col("__old").isNull() | (F.col("prob") > F.col("__old"))
                # one job: materialize the checkpoint + frontier size
                changed = merged.agg(
                    F.sum(F.when(improved, 1).otherwise(0))
                ).collect()[0][0]
                frontier = merged.where(improved).select("key", "origin", "prob")
                current = merged.select("key", "origin", "prob")
                if not changed:
                    return current, i
            return current, max_iters
        finally:
            edges.unpersist()


def propagate_incremental(
    stored: DataFrame,
    edges: DataFrame,
    new_seeds: DataFrame,
    min_prob: float = 0.01,
    max_iters: int = 10,
    adaptive: bool = False,
) -> tuple[DataFrame, int]:
    """Table-backed incremental BSP resume — the reference's flagship
    commented-out composition (HGraphTable.scala:144-228): a probability-
    propagation state TABLE persists between runs; a new seed batch resumes
    propagation against it, looking up stored state instead of recomputing
    it, and only NEW-OR-IMPROVED entries are computed and returned (the
    write-back batch for ``KeyedTable.update`` — G3's result load).

    ``stored``: the persisted (key, origin, prob) relation (typically
    ``KeyedTable.df()``); never mutated here and never unioned wholesale
    into the loop state — the inbox filter (ref :179-186, 'drop messages
    the known probabilities already dominate') is a LOOKUP against it via
    ``joins.fill_join`` (J6), so at 100 TB the resume touches only the
    stored partitions the frontier actually reaches, and the delta state
    the loop carries is O(|new reach|), not O(|table|).

    Entries already in the delta need no stored recheck when they improve
    (they entered by beating the stored value; a higher prob still beats
    it) — only BRAND-NEW (key, origin) entries pay the lookup, once.

    Returns (delta, supersteps): ``delta`` holds every entry this run
    created or improved, at final probability. Re-running with seeds whose
    state the table already holds yields an EMPTY delta after zero message
    supersteps — resumption is a lookup, not a recompute (pinned in
    tests/test_graph.py)."""
    from spark_on_hbase_spark.operators.joins import fill_join

    sid = F.concat_ws(" ", F.col("key"), F.col("origin"))
    # the lookup relation is probed once at seed time and once per
    # superstep — persist it so each probe reads cached blocks instead of
    # re-scanning (and re-merging) the table's layer files
    stored_k = stored.select(sid.alias("__sid"), F.col("prob")).persist()

    def beats_stored(cand: DataFrame) -> DataFrame:
        """Keep rows with no stored entry or a higher prob than stored —
        one fill_join lookup against the table relation."""
        probe = cand.withColumn("__sid", sid).withColumn(
            "__known", F.lit(None).cast("double")
        )
        filled = fill_join(stored_k, probe, on="__sid", fill_cols={"__known": "prob"})
        return filled.where(
            F.col("__known").isNull() | (F.col("prob") > F.col("__known"))
        ).select("key", "origin", "prob")

    edges = edges.where(F.col("prob") >= min_prob).persist()
    seeds = (
        new_seeds.select("key", "origin")
        .withColumn("prob", F.lit(1.0))
    )
    with loop_planner(edges, adaptive):
        try:
            delta = beats_stored(seeds).localCheckpoint(eager=False)
            frontier = delta
            if frontier.limit(1).count() == 0:
                return delta, 0
            for i in range(1, max_iters + 1):
                messages = (
                    edges.join(
                        frontier.hint("shuffle_hash"),
                        edges["src"] == frontier["key"],
                        "inner",
                    )
                    .select(
                        F.col("dst").alias("key"),
                        F.col("origin"),
                        (frontier["prob"] * edges["prob"]).alias("prob"),
                    )
                    .where(F.col("prob") >= min_prob)
                )
                tagged = delta.withColumn("__s", F.lit(1)).unionByName(
                    messages.withColumn("__s", F.lit(0))
                )
                merged = (
                    tagged.groupBy("key", "origin")
                    .agg(
                        F.max("prob").alias("prob"),
                        F.max(F.when(F.col("__s") == 1, F.col("prob"))).alias("__old"),
                    )
                    .localCheckpoint(eager=False)
                )
                fresh = beats_stored(
                    merged.where(F.col("__old").isNull()).select("key", "origin", "prob")
                ).localCheckpoint(eager=False)
                improved_existing = merged.where(
                    F.col("__old").isNotNull() & (F.col("prob") > F.col("__old"))
                ).select("key", "origin", "prob")
                delta = (
                    merged.where(F.col("__old").isNotNull())
                    .select("key", "origin", "prob")
                    .unionByName(fresh)
                    .localCheckpoint(eager=False)
                )
                frontier = improved_existing.unionByName(fresh)
                changed = frontier.limit(1).count()
                if not changed:
                    return delta, i
            return delta, max_iters
        finally:
            edges.unpersist()
            # drops cached blocks only; if a partially-materialized lazy
            # checkpoint still holds lineage through stored_k, recompute
            # falls back to the table's layer files
            stored_k.unpersist()


def label_propagation(
    edges: DataFrame,
    max_iters: int = 10,
    adaptive: bool = False,
) -> tuple[DataFrame, int]:
    """Synchronous label propagation (community detection) on the same
    superstep machinery as the other BSP loops — the third merge semiring
    the engine exercises (max-decay probabilities, min-label connected
    components, and here count-argmax): every vertex starts as its own
    label and each superstep adopts the MOST FREQUENT incoming neighbor
    label, ties broken by the smallest label, keeping its current label
    when it has no in-edges. Deterministic end to end: counts are exact
    integers and the (count DESC, label ASC) argmax is one ``min(struct)``
    aggregation, not a window sort.

    Per superstep: one src-keyed join (the cached symmetric edge relation
    stays stationary via the shuffle_hash hint), one (dst, label) hash
    aggregation, one per-dst argmax aggregation — all partial+final, no
    driver state; one scalar changed-count collect paces the loop. Stops
    when no vertex changes label. Returns ((key, label), supersteps)."""
    edges = edges.select("src", "dst")
    # a caller's cached (src, dst) relation IS this projection's cache
    # entry: persist and unpersist only a copy of our own (see bsp_converge)
    owns_edges = edges.storageLevel == StorageLevel.NONE
    if owns_edges:
        edges = edges.persist()
    with loop_planner(edges, adaptive):
        try:
            # src ∪ dst so pure-sink vertices of a directed input get state
            # too (on the symmetric networks the engine builds, src alone
            # covers all — the explode rides the same cached scan)
            current = (
                edges.select(
                    F.explode(F.array(F.col("src"), F.col("dst"))).alias("key")
                )
                .distinct()
                .withColumn("label", F.col("key"))
                .localCheckpoint(eager=False)
            )
            for i in range(1, max_iters + 1):
                msgs = edges.join(
                    current.hint("shuffle_hash"),
                    edges["src"] == current["key"],
                    "inner",
                ).select(F.col("dst").alias("key"), F.col("label"))
                # count-argmax without a window: min over (-count, label)
                # is (max count, then smallest label) lexicographically
                pick = (
                    msgs.groupBy("key", "label")
                    .agg(F.count("*").alias("__c"))
                    .groupBy("key")
                    .agg(F.min(F.struct((-F.col("__c")).alias("__nc"), F.col("label"))).alias("__w"))
                    .select("key", F.col("__w.label").alias("__new"))
                )
                merged = (
                    current.join(pick, "key", "left")
                    .select(
                        "key",
                        F.coalesce(F.col("__new"), F.col("label")).alias("label"),
                        (F.coalesce(F.col("__new"), F.col("label")) != F.col("label")).alias("__chg"),
                    )
                    .localCheckpoint(eager=False)
                )
                changed = merged.agg(
                    F.sum(F.col("__chg").cast("int"))
                ).collect()[0][0]
                current = merged.select("key", "label")
                if not changed:
                    return current, i
            return current, max_iters
        finally:
            if owns_edges:
                edges.unpersist()


def f1_validate(modeled: DataFrame, validation: DataFrame) -> DataFrame:
    """J12 — precision/recall/F1 of a modeled edge set against a validation
    edge set (AGraph.f1, AGraph.scala:307-326: join + per-key set
    intersections -> TP/FP/FN). Both inputs are flat (src, dst) frames.

    One full-outer join on (src, dst) classifies every edge as TP (both
    sides), FP (modeled only) or FN (validation only); a single per-src
    aggregation then counts them, keeping only keys present in both sets
    (the reference's inner ``modeled.join(validation)`` key scope). The
    distincts hash-partition each side on exactly the join key, so the
    full-outer join reuses those exchanges instead of adding its own —
    ~half the shuffles of the semi-join + three-groupBy formulation, which
    matters when both edge sets are fact-table-sized."""
    m = modeled.select("src", "dst").distinct().withColumn("__m", F.lit(1))
    v = validation.select("src", "dst").distinct().withColumn("__v", F.lit(1))
    edges = m.join(v, ["src", "dst"], "full_outer")
    per_key = (
        edges.groupBy("src")
        .agg(
            F.sum(
                F.when(F.col("__m").isNotNull() & F.col("__v").isNotNull(), 1).otherwise(0)
            ).alias("tp"),
            F.sum(F.coalesce(F.col("__m"), F.lit(0))).alias("m_cnt"),
            F.sum(F.coalesce(F.col("__v"), F.lit(0))).alias("v_cnt"),
        )
        .where((F.col("m_cnt") > 0) & (F.col("v_cnt") > 0))
        .select(
            "src",
            "tp",
            (F.col("m_cnt") - F.col("tp")).alias("fp"),
            (F.col("v_cnt") - F.col("tp")).alias("fn"),
        )
    )
    totals = per_key.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
    )
    return totals.select(
        "tp",
        "fp",
        "fn",
        (F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
        (F.col("tp") / (F.col("tp") + F.col("fn"))).alias("recall"),
        (
            F.lit(2.0) * F.col("tp") / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn"))
        ).alias("f1"),
    )


def pagerank_contribs(links: DataFrame, state: DataFrame) -> DataFrame:
    """One pagerank superstep's message aggregation: incoming rank mass per
    destination. SHUFFLE_HASH hint on the state side: the checkpointed state
    is a LogicalRDD with UNKNOWN stats, and with links cached (exact stats,
    often under the broadcast threshold) the static planner would otherwise
    pick links as the broadcast build side — i.e. re-broadcast the ENTIRE
    edge relation every superstep, which can never work at 100 TB (edges
    don't fit a broadcast) and measurably dominated superstep time locally.
    The hint keeps the edge relation stationary in its cached hash(src)
    partitioning (zero per-superstep exchange on the big side, pinned by
    tests/test_plans.py) and builds the per-partition hash table from the
    state — the smaller side by |V| vs |E|."""
    return (
        links.join(
            state.hint("shuffle_hash"), links["src"] == state["key"], "inner"
        )
        .select(
            F.col("dst").alias("key"),
            (F.col("rank") * F.col("__w")).alias("__c"),
        )
        .groupBy("key")
        .agg(F.sum("__c").alias("__in"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iters: int = 20,
    adaptive: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list (src, dst) — the canonical
    iterative-BSP workload layered on the same superstep discipline as
    bsp_converge/propagate_probabilities (G2; the reference's incremental
    BSP design, HGraphTable.scala:144-228, generalized from max-propagation
    to weighted mass propagation).

    Per superstep: each vertex sends rank/out_degree along its edges, ranks
    recombine as (1-d)/N + d*(incoming + dangling_share) — dangling
    vertices' mass redistributes uniformly (the standard correction). The
    dangling scalar for the NEXT superstep is read by the SAME job that
    materializes the current state (the bsp_converge fused-probe pattern,
    see :339-341): the state is marked ``localCheckpoint(eager=False)`` and
    the dangling aggregation is its first action, so its full scan both
    populates the checkpoint and returns the scalar — ONE job per
    superstep, not a materialize job plus a probe job.

    State materializes per superstep via ``localCheckpoint`` (NOT the BSP
    loops' persist discipline): this loop rebuilds the next state from TWO
    references to the previous one (the degree carry and the contribution
    join), and measured on local[32] the persist+cache-substitution path
    still grew per-superstep planning time ~2x per iteration, while
    severing lineage holds it constant (~0.3 s/superstep). Superseded
    checkpoint blocks are reclaimed by the ContextCleaner on JVM GC — which
    the engine's session hygiene triggers periodically.

    The whole computation runs inside ``plans.loop_planner``: ``verts``,
    ``deg``, ``links`` and the first state are built at the loop's width
    too, so on a small graph every stage is ``defaultParallelism`` tasks
    wide, not ``spark.sql.shuffle.partitions``. Edges already
    hash-partitioned by src (a network ``from_pairs_partitioned`` built)
    set that width, so ``deg`` and ``links`` reuse their partitioning.
    ``verts`` and ``links`` are unpersisted on the way out, also when the
    loop raises.

    Returns (key, rank); ranks sum to 1."""

    def _materialize_and_probe_dangling(s: DataFrame) -> float:
        # ONE job: the aggregation's full scan materializes the lazily
        # marked localCheckpoint AND returns the dangling-mass scalar for
        # the next superstep (fused probe, cf. bsp_converge above).
        return (
            s.where(F.col("__deg") == 0)
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .collect()[0][0]
        )

    with loop_planner(edges, adaptive):
        verts = links = None
        try:
            verts = (
                edges.select(F.col("src").alias("key"))
                .unionByName(edges.select(F.col("dst").alias("key")))
                .distinct()
                .persist()
            )
            n = verts.count()
            deg = edges.groupBy(F.col("src").alias("key")).agg(F.count("*").alias("__deg"))
            # dangling vertices (no out-edges) carry __deg = 0 on the rank
            # state and feed the redistribution term instead of the message
            # join
            links = (
                edges.join(deg.select(F.col("key").alias("src"), "__deg"), on="src")
                .select("src", "dst", (F.lit(1.0) / F.col("__deg")).alias("__w"))
                .persist()
            )
            state = (
                verts.join(deg, on="key", how="left")
                .select(
                    "key",
                    F.lit(1.0 / n).alias("rank"),
                    F.coalesce(F.col("__deg"), F.lit(0)).alias("__deg"),
                )
                .localCheckpoint(eager=False)
            )
            dangling = _materialize_and_probe_dangling(state)
            for _ in range(max_iters):
                contribs = pagerank_contribs(links, state)
                base = (1.0 - damping) / n + damping * dangling / n
                state = (
                    state.select("key", "__deg")
                    .join(contribs.hint("shuffle_hash"), on="key", how="left")
                    .select(
                        "key",
                        (
                            F.lit(base)
                            + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                        ).alias("rank"),
                        "__deg",
                    )
                    .localCheckpoint(eager=False)
                )
                dangling = _materialize_and_probe_dangling(state)
        finally:
            for cached in (verts, links):
                if cached is not None:
                    cached.unpersist()
    return state.select("key", "rank")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle census over an undirected edge list — returns one row
    (n_vertices, n_edges, n_triangles). A standard graph-analytics operator
    the reference's property-graph layer implies but never ships (its AGraph
    stops at degree/histogram aggregates, AGraph.scala:61-70).

    Scale shape: the classic degree-ordered orientation. Each undirected
    edge is directed from its (degree, id)-smaller endpoint to the larger,
    making the orientation acyclic with out-degrees bounded by O(sqrt(m))
    on any graph — so the wedge self-join (the quadratic step) enumerates
    sum(C(outdeg, 2)) = O(m^1.5) candidate wedges instead of the
    sum(C(deg, 2)) an unoriented join pays, which a celebrity hub makes
    quadratic. Every triangle then has exactly ONE vertex with out-edges to
    the other two, so counting closed wedges counts each triangle once:
    wedges (u->v, u->w) with (deg,id)(v) < (deg,id)(w) close iff the
    oriented edge v->w exists (left-semi join on the edge key). Three
    shuffles total: the degree aggregation, the wedge self-join keyed on
    the wedge source (one exchange feeds both sides), and the closing
    left-semi join keyed on the candidate edge."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        # consumed four times (degrees, both orientation joins, the counts);
        # checkpoint materializes the dedup once, blocks GC-reclaimed after
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("k"))
        .unionByName(e.select(F.col("b").alias("k")))
        .groupBy("k")
        .agg(F.count("*").alias("d"))
    )
    # orient by the (degree, id) total order; carry the destination's rank
    # so wedge endpoints order without another degree lookup
    oriented = (
        e.join(deg.select(F.col("k").alias("a"), F.col("d").alias("__da")), "a")
        .join(deg.select(F.col("k").alias("b"), F.col("d").alias("__db")), "b")
        .select(
            F.when(
                F.struct("__da", "a") < F.struct("__db", "b"), F.col("a")
            ).otherwise(F.col("b")).alias("u"),
            F.when(
                F.struct("__da", "a") < F.struct("__db", "b"),
                F.struct(F.col("__db").alias("d"), F.col("b").alias("v")),
            ).otherwise(
                F.struct(F.col("__da").alias("d"), F.col("a").alias("v"))
            ).alias("vk"),
        )
        .localCheckpoint(eager=False)  # feeds the self-join twice + closing
    )
    w1 = oriented.select("u", F.col("vk").alias("__x"))
    w2 = oriented.select("u", F.col("vk").alias("__y"))
    wedges = w1.join(w2, "u").where(F.col("__x") < F.col("__y")).select(
        F.col("__x.v").alias("u"), F.col("__y.v").alias("w")
    )
    closed = wedges.join(
        oriented.select("u", F.col("vk.v").alias("w")), ["u", "w"], "left_semi"
    )
    n_tri = closed.agg(F.count("*").alias("n_triangles"))
    # vertex AND edge counts from the one degree relation (sum(deg) = 2m),
    # saving a separate full pass over the edge list
    counts = deg.agg(
        F.count("*").alias("n_vertices"),
        (F.sum("d") / F.lit(2)).cast("bigint").alias("n_edges"),
    )
    return counts.crossJoin(n_tri).select("n_vertices", "n_edges", "n_triangles")


def kcore_peel(
    edges: DataFrame, k: int = 3, rounds: int = 3, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Bounded k-core peeling over a SYMMETRIZED edge list (both directions
    present, the ``from_pairs`` invariant): ``rounds`` iterations of "drop
    every vertex with degree < k, restrict edges to survivors", then return
    each surviving vertex with its degree in the induced subgraph —
    (vertex, degree). The graph-cleaning gate before any expensive
    community/centrality pass (k-core keeps exactly the subgraph where
    everyone has >= k surviving neighbours; a web/citation-graph denoiser).
    Another operator the reference's property-graph layer implies but stops
    short of (AGraph.scala:61-70 ends at degree aggregates).

    A FIXED round count (not to-fixpoint) keeps the computation a pure
    deterministic DataFrame expression the DuckDB oracle replays by
    unrolling the same rounds as CTEs — and bounded peeling is also the
    practical cluster form: each round is one degree aggregation plus two
    left-semi joins, all keyed/co-partitioned on the SAME vertex columns
    the edge relation is already hash-partitioned by (from_pairs_partitioned),
    and on power-law graphs the survivor set collapses within a few rounds.
    Degeneracy-order exact peeling (the sequential algorithm) is inherently
    O(peel-depth) rounds anyway — distributed implementations batch rounds
    exactly like this. No driver-side state; the per-round lineage is three
    narrow stages, so ``rounds`` supersteps cost rounds * O(|E|/p) with no
    growth in any single stage."""
    # Each round references the previous edge set THREE times (the degree
    # agg + both semi-join probes), so raw lineage grows 3^rounds — a lazy
    # localCheckpoint per round (the same discipline as the BSP loops)
    # keeps every round's plan reading one materialized relation instead of
    # re-deriving the whole peel history.
    e = edges.select(src, dst).localCheckpoint(eager=False)
    for _ in range(rounds):
        keep = (
            e.groupBy(src)
            .agg(F.count("*").alias("__deg"))
            .where(F.col("__deg") >= k)
            .select(src)
        )
        e = (
            e.join(keep, src, "left_semi")
            .join(keep.withColumnRenamed(src, dst), dst, "left_semi")
            .localCheckpoint(eager=False)
        )
    return (
        e.groupBy(src)
        .agg(F.count("*").cast("bigint").alias("degree"))
        .select(F.col(src).alias("vertex"), "degree")
    )
