"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, each scaling to a 100 TB corpus on a 1000-executor
cluster (no driver-side state, no cross joins — candidate generation always
goes through a bucketing shuffle whose key bounds the pair blow-up):

- exact           : hash-groupBy on a content fingerprint.
- minhash + LSH   : shingle -> k minhashes -> b bands -> bucket self-join ->
                    exact-Jaccard verify of candidates only.
- simhash         : weighted bit-vote signature -> prefix-bucket self-join ->
                    Hamming-distance verify.
- n-gram Jaccard  : exact Jaccard via shared-shingle candidate pairs (the
                    brute baseline of minhash; same verify path).
- embedding cosine: sign-LSH bucketed near-dup over embedding vectors
                    (see similarity.py for the shared quantized-dot kernel).

Determinism across engines (the DuckDB oracle twin must hash-match): all hash
functions are md5-derived (identical in Spark/DuckDB/Python); Jaccard /
cosine ratios are single IEEE divisions over exact integer counts.

Everything is built from JVM-side column expressions — no Python UDFs in any
hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_on_hbase_spark.operators.text import words_expr

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: one row per duplicated
    fingerprint with the canonical (min) id and the group size. The standard
    first pass of corpus dedup — a single hash aggregation with map-side
    combine, shuffling one md5 per row regardless of document size."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("group_size"))
        .where(F.col("group_size") > 1)
    )


# ---------------------------------------------------------------------------
# shingles + minhash
# ---------------------------------------------------------------------------


def shingles_from_words(ws: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED words
    array column (the set form of ``text.ngrams_from_words`` — see its
    docstring for the O(doc_len^2) re-tokenization trap the materialized-
    array contract avoids)."""
    from spark_on_hbase_spark.operators.text import ngrams_from_words

    return F.array_distinct(ngrams_from_words(ws, n))


def shingles_expr(text_col: str | Column = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document as an array<string>.
    Convenience form for small inputs; hot paths should tokenize once and
    use shingles_from_words (see its docstring)."""
    return shingles_from_words(words_expr(text_col), n)


def shingles_sql(text_sql: str, n: int = 3) -> str:
    """DuckDB twin of shingles_expr (1-based list indexing)."""
    parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(1, n + 1))
    return (
        f"list_distinct([{parts} for i in range(1, greatest(len(ws) - {n - 1}, 1) + 1)]) "
        f"FROM (SELECT list_filter(string_split_regex({text_sql}, '\\s+'), w -> w <> '') AS ws)"
    )


def _mh_hash(i: int, shingle: Column) -> Column:
    """The i-th minhash function: an 8-hex-char slice of md5('<i//4>:'||
    shingle) as a bigint, uniform over [0, 2^32). One md5 yields four
    independent 32-bit hash functions (disjoint slices of the 128-bit
    digest), so k minhashes cost ceil(k/4) digests per shingle — the
    standard split-one-wide-hash trick, 4x less hashing in the hot loop."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{i // 4}:"), shingle)), (i % 4) * 8 + 1, 8),
        16,
        10,
    ).cast("bigint")


def minhash_signatures(
    exploded: DataFrame, id_col: str, shingle_col: str, num_hashes: int = 12
) -> DataFrame:
    """Per-document minhash signature from exploded (id, shingle) rows:
    ``mh_i = min over shingles of hash_i(shingle)``. One hash aggregation
    computes all k minhashes (k aggregate expressions, no k-way explode)."""
    aggs = [
        F.min(_mh_hash(i, F.col(shingle_col))).alias(f"mh{i}") for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def lsh_bands(
    signatures: DataFrame, id_col: str, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """Band the signature: band_j = md5 of its r=k/b minhashes joined by ':'.
    Output (id, band_idx, band_key) — the LSH bucketing relation. Documents
    sharing any (band_idx, band_key) are candidate near-duplicates."""
    r = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(":", *[F.col(f"mh{b * r + j}").cast("string") for j in range(r)])
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return signatures.select(
        id_col, F.explode(F.array(*band_structs)).alias("b")
    ).select(id_col, "b.band_idx", "b.band_key")


def candidate_pairs(bands_df: DataFrame, id_col: str) -> DataFrame:
    """Self-join the band relation on (band_idx, band_key) -> distinct
    ordered candidate pairs. The shuffle key is the band bucket, so the pair
    blow-up is bounded per bucket (the LSH guarantee), never |corpus|^2."""
    a = bands_df.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    b = bands_df.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, exploded: DataFrame, id_col: str, shingle_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard over candidate pairs: |A∩B| via a shingle join restricted
    to candidates, |A∪B| = |A|+|B|-|A∩B|. Only candidates pay the set-
    intersection cost. Jaccard is one IEEE division of exact counts."""
    sizes = exploded.groupBy(id_col).agg(F.count("*").alias("n"))
    ea = exploded.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("__s"))
    eb = exploded.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("__s"))
    shared = (
        pairs.join(ea, "id_a")  # shingles of the A side, per candidate pair
        .join(eb, ["id_b", "__s"])  # equi-join keeps shingles present in both
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64


def word_hash_expr(word_col: Column) -> Column:
    """32-bit md5-derived word hash (shared by Spark and the SQL oracle) —
    the LOW half of the 64-bit simhash vote source (md5 hex chars 1-8)."""
    return F.conv(F.substring(F.md5(word_col), 1, 8), 16, 10).cast("bigint")


def word_hash2_expr(word_col: Column) -> Column:
    """Second independent 32-bit word hash (md5 hex chars 9-16) — the HIGH
    half of the 64-bit simhash vote source. Two 32-bit halves avoid ever
    materializing an unsigned 64-bit word hash (sign-safe in both Spark
    and DuckDB)."""
    return F.conv(F.substring(F.md5(word_col), 9, 8), 16, 10).cast("bigint")


def simhash_signatures(exploded: DataFrame, id_col: str, word_col: str) -> DataFrame:
    """Per-document 64-bit simhash over exploded (id, word) rows: each
    occurrence votes +1/-1 on every bit of its 64-bit hash (two independent
    md5-derived 32-bit halves); the signature sets bit j iff the vote sum
    is positive. One hash aggregation computes all 64 bit-votes (64 SUM
    expressions), then the signature is assembled bit-wise into a SIGNED
    int64 (bit 63 contributes -2^63 — the two's-complement sum, matching
    the perceptual-hash kernels) — no per-bit explode, no UDF. Widened
    from 32 bits in round 5: 64-bit signatures are what make Manku-style
    block bucketing selective (16-bit blocks instead of 8) — the Manku et
    al. WWW'07 deployment used 64-bit fingerprints for exactly this
    reason."""
    # generated SQL (2 parses) instead of 64 Column-built SUMs + a 64-term
    # Column sum: the Column form cost ~1.5s of py4j round-trips per
    # construction (r11 profile); the analyzed plan is identical (same
    # md5-derived halves, same shiftright/&1 votes, same signed bit sum)
    wq = "`" + word_col.replace("`", "``") + "`"
    h1 = f"CAST(CONV(SUBSTRING(MD5({wq}), 1, 8), 16, 10) AS BIGINT)"
    h2 = f"CAST(CONV(SUBSTRING(MD5({wq}), 9, 8), 16, 10) AS BIGINT)"
    votes = [
        F.expr(
            "SUM((SHIFTRIGHT({h}, {s}) & 1) * 2 - 1)".format(
                h=h1 if j < 32 else h2, s=j if j < 32 else j - 32
            )
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    voted = exploded.groupBy(id_col).agg(*votes)
    terms = []
    for j in range(SIMHASH_BITS):
        contrib = (
            str(2**j) if j < 63 else "BIGINT('-9223372036854775808')"
        )
        terms.append(
            f"(CASE WHEN v{j} > 0 THEN CAST({contrib} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return voted.selectExpr(
        "`" + id_col.replace("`", "``") + "`",
        "(" + " + ".join(terms) + ") AS simhash",
    )


def simhash_near_pairs(
    signatures: DataFrame, id_col: str, max_hamming: int = 3, blocks: int = 4
) -> DataFrame:
    """Near-dup pairs by simhash, Manku-style multi-block bucketing (Manku,
    Jain & Das Sarma, WWW'07): split the 64-bit signature into ``blocks``
    equal bit blocks, bucket on (block index, block value), verify with
    exact Hamming distance via bit_count(xor), collapse pairs colliding in
    several blocks. Any pair within Hamming < ``blocks`` shares a
    flip-free block (pigeonhole), so with the default (max_hamming=3,
    blocks=4) EVERY qualifying pair is found — the round-4 prefix scheme
    silently missed any pair with a flip in the top 16 bits, and its
    random-pair candidate mass was 4x higher at equal bucket width.

    The self-join references ``signatures`` twice, so without a lineage
    cut the signature computation — a full pass over every shingle
    weighing 64 bit votes — executes once per side (r12, measured: 2
    identical 0.8s jobs in edit_distance_dedup's profile). A lazy
    localCheckpoint (as index maintenance does; guide §2.4) materializes
    the per-doc (id, simhash) relation — one row per document, the
    storable simhash-index artifact at 100 TB — and both sides read the
    blocks."""
    signatures = signatures.localCheckpoint(eager=False)
    width = SIMHASH_BITS // blocks
    mask = (1 << width) - 1
    blk = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("__bi"),
                    F.shiftrightunsigned(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("__bv"),
                )
                for i in range(blocks)
            ]
        )
    ).alias("__b")
    base = signatures.select(F.col(id_col), F.col("simhash"))
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), blk
    ).select("id_a", "sig_a", "__b.__bi", "__b.__bv")
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), blk
    ).select("id_b", "sig_b", "__b.__bi", "__b.__bv")
    return (
        a.join(b, ["__bi", "__bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "sig_a", "sig_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact baseline)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    exploded: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard dedup: candidates are pairs sharing at least one
    *non-ubiquitous* shingle (document frequency <= max_shingle_df — the A11
    cutoff idea applied to shingles: super-common shingles generate quadratic
    candidate blow-up and no signal), verified by exact Jaccard.

    At 100 TB the max_shingle_df gate is what keeps the candidate join
    bounded; threshold-passing pairs are exact, not approximate."""
    docfreq = exploded.groupBy(shingle_col).agg(F.count("*").alias("__df"))
    rare = exploded.join(
        docfreq.where(F.col("__df") <= max_shingle_df).select(shingle_col), shingle_col
    )
    pairs = (
        rare.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("__s"))
        .join(rare.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("__s")), "__s")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify(pairs, exploded, id_col, shingle_col, threshold)


# ---------------------------------------------------------------------------
# near-dup cluster canonicalization
# ---------------------------------------------------------------------------


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 64,
) -> DataFrame:
    """Canonicalize verified near-dup pairs into clusters: connected
    components over the pair graph with MIN-label propagation, so every
    document maps to the smallest doc id in its near-dup cluster — the
    survivor a dedup pipeline keeps while dropping the rest.

    Pair detection (minhash/simhash/embedding) finds EDGES; deciding which
    documents to keep needs the transitive closure — A~B and B~C must keep
    exactly one of {A,B,C} even when A and C never collided directly. Runs
    on the shared delta-iteration BSP machinery (``graph.bsp_converge``,
    ``minimize=True``): per superstep one shuffle aggregation, frontier =
    only relabeled docs, so at 100 TB late supersteps touch a vanishing
    fraction of the pair graph, and cluster diameter (tiny for near-dup
    graphs) bounds the superstep count.

    NEVER returns a partially-propagated labeling: if the superstep cap is
    reached, one extra fixpoint probe verifies convergence and raises if any
    label could still improve (a silently split cluster would diverge from
    the exact recursive-CTE oracle and survive as a duplicate).

    Returns (doc_id, canonical_id) for every document that appears in at
    least one pair, backed by the final superstep's materialized checkpoint
    blocks (re-reads are block scans, not recomputation; blocks are
    GC-reclaimed once the DataFrame is dropped). Docs absent from ``pairs``
    are their own canonical and are simply not listed."""
    from spark_on_hbase_spark.operators.graph import bsp_converge, reverse_edges

    edges = reverse_edges(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    )
    verts = edges.select(F.col("src").alias("key")).distinct()
    state = verts.withColumn("label", F.col("key"))
    final, iters = bsp_converge(edges, state, max_iters=max_iters, minimize=True)
    if iters == max_iters:
        # the cap was hit: bsp_converge returns max_iters both when it
        # converged exactly at the cap and when it ran out — one extra
        # message round distinguishes them (almost never executed)
        still = (
            edges.join(
                final.select(F.col("key").alias("src"), F.col("label").alias("__sl")),
                "src",
            )
            .join(
                final.select(F.col("key").alias("dst"), F.col("label").alias("__dl")),
                "dst",
            )
            .where(F.col("__sl") < F.col("__dl"))
            .limit(1)
            .count()
        )
        if still:
            raise RuntimeError(
                f"near_dup_clusters did not converge in {max_iters} supersteps "
                "(cluster diameter exceeds the cap); raise max_iters"
            )
    # a rename over the checkpoint-backed final state: re-reads scan the
    # materialized blocks (no recomputation), and no cache entry is created
    # that could outlive the result (a persist here would duplicate the
    # checkpoint blocks and leak past the call)
    return final.select(
        F.col("key").alias("doc_id"), F.col("label").alias("canonical_id")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (train/test n-gram overlap)
# ---------------------------------------------------------------------------


def benchmark_overlap(
    train_shingles: DataFrame,
    test_shingles: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingle",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    n-grams with an evaluation/test set — the overlap check every serious
    LLM training pipeline runs before a corpus ships (n-gram-level
    contamination detection, cf. the n-gram overlap methodology of the
    GPT-3/PaLM papers' eval-decontamination appendices).

    Inputs are exploded (id, shingle) relations, shingles distinct per doc
    (``shingles_from_words`` guarantees this). The join key is a 16-hex-char
    md5 prefix of the shingle, so the shuffle carries 16-byte keys instead
    of raw n-gram strings — at 100 TB the test side is orders of magnitude
    smaller than the corpus, and Spark/AQE broadcasts it when it fits.

    Returns one row per contaminated training doc:
    (id, n_hit_shingles, n_test_docs, n_shingles, contamination) where
    contamination = n_hit_shingles / n_shingles — exact-integer division in
    one IEEE op, cross-engine stable."""
    skey = F.substring(F.md5(F.col(shingle_col)), 1, 16).alias("__sk")
    train = train_shingles.select(F.col(id_col), skey)
    test = test_shingles.select(F.col(id_col).alias("__tid"), skey)
    hits = train.join(test, "__sk").groupBy(id_col).agg(
        F.countDistinct("__sk").alias("n_hit_shingles"),
        F.countDistinct("__tid").alias("n_test_docs"),
    )
    totals = train.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    return hits.join(totals, id_col).select(
        id_col,
        "n_hit_shingles",
        "n_test_docs",
        "n_shingles",
        (F.col("n_hit_shingles").cast("double") / F.col("n_shingles")).alias(
            "contamination"
        ),
    )


def shingle_bloom(
    shingles: DataFrame,
    shingle_col: str = "shingle",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> list:
    """Bloom filter over a shingle set: a ``num_bits/64``-long list of
    packed 64-bit words, aggregated distributed and densified driver-side
    (the bitmap must land on the driver to be broadcast regardless). Spark's own ``bloom_filter_agg`` is optimizer-internal
    (not in the public function registry — injected only by the runtime
    semi-join-reduction rule), so the engine builds the same artifact from
    registered primitives: explode each shingle to ``num_hashes`` bit
    positions (an ``xxhash64(shingle, i)`` seed family), pack positions
    into 64-bit words with a ``bit_or`` hash aggregation (map-side
    combinable — the shuffle carries at most ``num_bits/64`` rows
    regardless of input size), then densify the collected sparse words.
    The heavy work (hashing, packing) is JVM column expressions; the
    driver only fills a ``num_bits/64``-slot list.

    Sizing: ~14.4 bits/key gives fpp ~1e-3 (k=5 near-optimal at 10-20
    bits/key); the default 2^20 bits covers ~70k distinct shingles. The
    array is 8 * num_bits / 64 bytes — 2 MB at 2^24 bits — and is the ONLY
    thing broadcast to the probe side, so a multi-GB eval suite reduces to
    a megabytes-scale exchange (cf. Spark's InjectRuntimeFilter design and
    the classic Bloom-join). Deterministic for the oracle: the final
    consumer re-verifies exactly, so DuckDB never needs to replay the hash
    family."""
    nwords = (num_bits + 63) // 64  # ceil: positions reach num_bits-1
    positions = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.pmod(F.xxhash64(F.col(shingle_col), i), F.lit(num_bits)),
    )
    packed = (
        shingles.select(F.explode(positions).alias("__pos"))
        .select(
            (F.col("__pos") / 64).cast("int").alias("__w"),
            F.call_function("shiftleft", F.lit(1).cast("bigint"), (F.col("__pos") % 64).cast("int")).alias("__bit"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__bit").alias("__bits"))
    )
    # densify SPARSE -> dense on the driver: the packed relation has at most
    # nwords tiny rows after the map-side-combined bit_or, and the bitmap
    # must reach the driver anyway to be broadcast/inlined. (The previous
    # pure-DataFrame densify -- element_at over a map per word -- was
    # accidentally quadratic: Spark map lookup is a linear scan, so one row
    # cost O(nwords^2) single-threaded, ~15s at 2^20 bits.)
    dense = [0] * nwords
    for r in packed.collect():
        dense[r["__w"]] = r["__bits"]
    return dense


def bloom_contains(
    shingle_col: str = "shingle",
    bits="bloom_bits",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> Column:
    """Membership predicate against a ``shingle_bloom`` bitmap: every one
    of the key's ``num_hashes`` bit positions must be set. ``bits`` is the
    bitmap — the list from ``shingle_bloom`` (inlined as ONE array
    literal: constant-folded, no join attaches it per row) or a column
    name/Column for a bitmap carried relationally. Pure column
    expressions — a static UNROLLED conjunction over the same
    ``xxhash64(shingle, i)`` family, one ``element_at`` + bit test per
    probe — so the filter runs inside whole-stage codegen BEFORE any
    shuffle. No false negatives by
    construction; false positives are the caller's to re-verify (Bloom
    guarantee)."""
    if isinstance(bits, list):
        # a plain python list becomes array(<lit>, <lit>, ...) — CreateArray
        # with nwords children, which Catalyst does NOT constant-fold, so
        # every row re-evaluates 16k+ expressions (measured ~10s over 241k
        # probes at 2^20 bits). A numpy array produces ONE folded ArrayType
        # literal (~3x faster; sizing below cuts the rest).
        import numpy as np

        bits = F.lit(np.asarray(bits, dtype=np.int64))
    bits_col = bits
    # UNROLLED conjunction, not forall/transform: higher-order functions
    # evaluate their lambdas interpreted and materialize the positions
    # array per row, which dominated the probe (~7s over a few million
    # shingles at sf0.1); num_hashes static conjuncts of plain expressions
    # stay inside whole-stage codegen (~3x faster, same predicate).
    pred = None
    for i in range(num_hashes):
        p = F.pmod(F.xxhash64(F.col(shingle_col), F.lit(i)), F.lit(num_bits))
        hit = (
            F.element_at(bits_col, (p / 64).cast("int") + 1)
            .bitwiseAND(
                F.call_function("shiftleft", F.lit(1).cast("bigint"), (p % 64).cast("int"))
            )
            != 0
        )
        pred = hit if pred is None else (pred & hit)
    return pred


def bloom_sized_bits(n_keys: int) -> int:
    """Bitmap size for ~14.4 bits/key (fpp ~1e-3 at k=5), rounded up to a
    power of two, floored at 2^14 — the sizing RULE as code, computed from
    the eval suite's measured cardinality rather than pinned (an oversized
    bitmap costs probe time linearly in nwords; an undersized one costs
    re-verification work on false positives, never correctness)."""
    return max(1 << 14, 1 << max(0, (14 * max(n_keys, 1) - 1).bit_length()))


def benchmark_overlap_bloom(
    train_shingles: DataFrame,
    test_shingles: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingle",
    num_bits: int | None = None,
    num_hashes: int = 5,
) -> DataFrame:
    """``benchmark_overlap`` with a Bloom-join prefilter — IDENTICAL output
    (the exact semi-join re-verifies every Bloom survivor, so false
    positives drop out and false negatives cannot exist), different plan:
    the 100 TB train side is filtered by a broadcast ``shingle_bloom`` of
    the eval set at the SCAN, before its shuffle into the overlap join.

    Why it matters at scale: plain ``benchmark_overlap`` relies on the test
    side fitting Spark's broadcast threshold — a full eval-suite shingle
    relation can be tens of GB, forcing a shuffle of the ENTIRE corpus'
    shingles. Here the exchange into the join carries only true hits +
    fpp * |train| rows (~0.1% at default sizing) while the inlined literal is a
    fixed few-MB bitmap; the per-doc totals side stays a map-combinable
    count over the unfiltered input, so reported ``n_shingles`` /
    ``contamination`` are unchanged. This is the hand-rolled twin of
    Spark's InjectRuntimeFilter bloom (which only self-activates on 10 GB+
    plans and never across this two-relation shape)."""
    if num_bits is None:
        n_test = test_shingles.select(shingle_col).distinct().count()
        num_bits = bloom_sized_bits(n_test)
    bloom = shingle_bloom(test_shingles, shingle_col, num_bits, num_hashes)
    survivors = train_shingles.where(
        bloom_contains(shingle_col, bloom, num_bits, num_hashes)
    )
    skey = F.substring(F.md5(F.col(shingle_col)), 1, 16).alias("__sk")
    train = survivors.select(F.col(id_col), skey)
    test = test_shingles.select(F.col(id_col).alias("__tid"), skey)
    hits = train.join(test, "__sk").groupBy(id_col).agg(
        F.countDistinct("__sk").alias("n_hit_shingles"),
        F.countDistinct("__tid").alias("n_test_docs"),
    )
    totals = train_shingles.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    return hits.join(totals, id_col).select(
        id_col,
        "n_hit_shingles",
        "n_test_docs",
        "n_shingles",
        (F.col("n_hit_shingles").cast("double") / F.col("n_shingles")).alias(
            "contamination"
        ),
    )


def dup_substring_stats(
    df: DataFrame,
    window: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication census — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    suffix-array technique re-expressed relationally: overlapping
    ``window``-word fingerprints at EVERY alignment (stride 1, unlike
    span_dup_stats' fixed non-overlapping C4 lines), cross-document
    duplicated positions, then maximal duplicated SPANS per document via
    gaps-and-islands (two window functions) — overlapping/adjacent
    windows merge, so ``dup_words`` counts each duplicated word once.

    Returns (id, n_words, n_dup_spans, dup_words) for documents with at
    least one cross-document duplicated span. Within-document repeats are
    repetition, not duplication (text.repetition_signals); a span counts
    only if its fingerprint occurs in >1 distinct document.

    Shape at 100 TB: the window explode is n_words rows per document —
    the technique's inherent cost (a suffix array is the same order);
    everything after is one fingerprint hash-agg, a re-join on the same
    key, and one per-document sort bounded by that document's duplicated
    positions. The fingerprint-frequency table is the storable artifact
    (build once, probe per batch, like the LSH corpus index)."""
    islands = _dup_islands(df, window, text_col, id_col)
    return (
        islands.groupBy(id_col, "__nw", )
        .agg(
            F.count("*").cast("bigint").alias("n_dup_spans"),
            F.sum(F.col("__mx") - F.col("__mn") + window).cast("bigint").alias("dup_words"),
        )
        .select(
            F.col(id_col),
            F.col("__nw").alias("n_words"),
            "n_dup_spans",
            "dup_words",
        )
    )


def _dup_islands(
    df: DataFrame, window: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, __nw, __sid, __mn, __mx): maximal cross-document duplicated
    spans per document as 1-based window-START intervals — the shared core
    of the census (dup_substring_stats) and the removal
    (remove_dup_substrings). Covered word positions of an island are
    __mn .. __mx + window - 1."""
    from pyspark.sql import Window

    from spark_on_hbase_spark.operators.text import words_expr

    w = window
    words = df.select(
        F.col(id_col), words_expr(text_col).alias("__ws")
    ).where(F.size("__ws") >= w)
    wins = words.select(
        F.col(id_col),
        F.size("__ws").cast("bigint").alias("__nw"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__ws") - w + 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice("__ws", i, w))).alias("fp"),
                ),
            )
        ).alias("__w"),
    ).select(id_col, "__nw", "__w.pos", "__w.fp")
    dup_fp = wins.groupBy("fp").agg(
        F.count_distinct(F.col(id_col)).alias("__nd")
    ).where(F.col("__nd") > 1).select("fp")
    dup = wins.join(dup_fp, "fp").select(id_col, "__nw", "pos")
    order = Window.partitionBy(id_col).orderBy("pos")
    lagged = F.lag("pos").over(order)
    marked = dup.withColumn(
        "__new",
        F.when(lagged.isNull() | (F.col("pos") - lagged > w), 1).otherwise(0),
    )
    sp = marked.withColumn(
        "__sid",
        F.sum("__new").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sp.groupBy(id_col, "__nw", "__sid").agg(
        F.min("pos").alias("__mn"), F.max("pos").alias("__mx")
    )


def remove_dup_substrings(
    df: DataFrame,
    window: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The removal half of the Lee et al. pipeline: cut every word covered
    by a maximal cross-document duplicated span (BOTH copies, the paper's
    policy) and re-join the survivors — returns (id, text) with the
    cleaned text (documents without duplication pass through verbatim;
    whitespace normalizes to single spaces, the same tokenization the
    detector used). Word positions are filtered against the per-document
    collected span list with index-aware HOFs — no second pass over
    fingerprints, the islands are the only extra state."""
    w = window
    islands = _dup_islands(df, w, text_col, id_col)
    spans = islands.groupBy(id_col).agg(
        F.collect_list(F.struct("__mn", "__mx")).alias("__spans")
    )
    from spark_on_hbase_spark.operators.text import words_expr

    return (
        df.join(spans, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__spans").isNull(), F.col(text_col))
            .otherwise(
                F.concat_ws(
                    " ",
                    F.filter(
                        words_expr(text_col),
                        # two-arg HOF lambda receives (element, 0-based index);
                        # island [__mn, __mx] covers 1-based word positions
                        # __mn .. __mx + window - 1
                        lambda x, i: ~F.exists(
                            F.col("__spans"),
                            lambda s: (i + 1 >= s["__mn"])
                            & (i + 1 <= s["__mx"] + F.lit(w) - 1),
                        ),
                    ),
                )
            )
            .alias(text_col),
        )
    )


# ---------------------------------------------------------------------------
# cross-document span (line) dedup — the C4 / RefinedWeb gate
# ---------------------------------------------------------------------------


def span_dup_stats(
    df: DataFrame,
    span_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-corpus span-duplication signal — the C4/RefinedWeb
    "line dedup" gate (C4 drops any 3-sentence span seen more than once;
    RefinedWeb drops documents dominated by duplicated lines). The corpus
    here carries no newlines, so 'lines' are fixed non-overlapping
    ``span_tokens``-token windows (text.chunk_documents with
    stride == chunk).

    Shape: chunk (zero shuffle) -> md5-fingerprint each span -> ONE hash
    aggregation keyed by fingerprint counting DISTINCT documents -> join
    the per-span verdict back (shuffle on the fingerprint, the same key —
    the join reuses the aggregation's partitioning) -> one per-document
    aggregation. No pairwise comparison anywhere: the blow-up bound is the
    span-frequency table, |spans| rows at worst. At 100 TB the frequency
    table is the stored artifact (build once, reuse per batch like the LSH
    corpus index).

    Returns (id, n_spans, dup_spans) with dup_spans = spans whose
    fingerprint occurs in MORE THAN ONE document (within-doc repeats are
    repetition, not duplication — text.repetition_signals covers
    those). Exact integers only; thresholding is the caller's choice
    (compare k*dup_spans >= m*n_spans in integers for cross-engine
    exactness)."""
    from spark_on_hbase_spark.operators.text import chunk_documents

    spans = chunk_documents(
        df, chunk_tokens=span_tokens, stride=span_tokens, text_col=text_col, id_col=id_col
    ).select(id_col, F.md5("chunk_text").alias("__fp"))
    freq = spans.groupBy("__fp").agg(
        F.count_distinct(F.col(id_col)).alias("__ndocs")
    )
    return (
        spans.join(freq, "__fp")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.sum((F.col("__ndocs") > 1).cast("bigint")).cast("bigint").alias("dup_spans"),
        )
    )


def edit_distance_near_dups(
    df: DataFrame,
    exploded: DataFrame,
    tau: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_col: str = "shingle",
    max_hamming: int = 3,
) -> DataFrame:
    """Character-level near-dup pairs: simhash-banded CANDIDATES (the Manku
    block bucketing above — never all-pairs) verified with exact
    Levenshtein edit distance <= ``tau``. This catches the class word-level
    shingle Jaccard structurally misses: small in-place edits (typo fixes,
    template variable substitution, one-word deletions) that leave most
    shingles intact but also the ones it breaks — the verify stage judges
    CHARACTERS, not shingle sets. Both engines implement the same classic
    DP (Spark `levenshtein`, DuckDB `levenshtein`), so the distances are
    identical integers and the pair set hashes cross-engine. Cost: the
    banded candidate set times O(|a| * |b|) per verify — the standard
    dedup discipline of cheap generation + exact verification on a
    vanishing pair fraction. Returns (id_a, id_b, hamming, edit_distance).
    """
    sigs = simhash_signatures(exploded, id_col, shingle_col)
    cand = simhash_near_pairs(sigs, id_col, max_hamming).select(
        "id_a", "id_b", "hamming"
    )
    ta = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    tb = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    # banded DP (r12): levenshtein with a threshold computes an
    # O(tau * max_len) band instead of the full O(|a| * |b|) matrix and
    # returns -1 past the band — exactly the accepted set and the exact
    # distances of `levenshtein(a, b) <= tau` (guide §1.2 step 2: per-task
    # work, after the candidate shape is right). The oracle's full-DP
    # filter is unchanged; values agree on every kept pair.
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("edit_distance", F.levenshtein("__ta", "__tb", tau))
        .where(F.col("edit_distance") >= 0)
        .select("id_a", "id_b", "hamming", "edit_distance")
    )


def containment_pairs(
    exploded: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle containment (Broder 1997's
    second resemblance measure): a pair is flagged when the SMALLER
    document's shingles are mostly inside the other —
    containment = shared / min(|A|, |B|) >= threshold. This is the quote/
    excerpt/boilerplate-wrapper case Jaccard structurally misses: a 100-
    shingle doc embedded verbatim in a 10000-shingle page has containment
    1.0 but Jaccard ~0.01, so no symmetric threshold catches it without
    drowning in false positives. Candidate generation and the exact
    set-intersection join are shared with ngram_jaccard_pairs (rare-
    shingle candidates, A11-style df gate bounding the join at scale);
    only the final ratio differs. Containment is one IEEE division of
    exact counts. Returns (id_a, id_b, shared, n_a, n_b, containment)."""
    docfreq = exploded.groupBy(shingle_col).agg(F.count("*").alias("__df"))
    rare = exploded.join(
        docfreq.where(F.col("__df") <= max_shingle_df).select(shingle_col), shingle_col
    )
    pairs = (
        rare.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("__s"))
        .join(rare.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("__s")), "__s")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sizes = exploded.groupBy(id_col).agg(F.count("*").alias("n"))
    ea = exploded.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("__s"))
    eb = exploded.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("__s"))
    shared = (
        pairs.join(ea, "id_a")
        .join(eb, ["id_b", "__s"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "containment",
            F.col("shared").cast("double") / F.least("n_a", "n_b"),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "containment")
    )


def band_signature_array(
    text_col: str | Column = "text",
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
) -> Column:
    """The document's LSH band keys as ONE row-level array expression —
    band_b = md5('<b>:' || the band's minhashes joined by ':') over the
    same md5-derived minhash family as ``minhash_signatures`` (min over
    the doc's distinct word n-gram shingles). NULL when the doc has no
    shingles (fewer than ``n`` words): no entries, the indexable-NULL
    convention.

    This is the banding packaged for a MULTI-VALUED SecondaryIndex
    component (index.SecondaryIndex(multi=...)): one expression over the
    base row mints the doc's ``bands`` index entries, so band-bucket
    membership is MAINTAINED like any other index — a put/update/delete
    tombstones the old text's band entries and inserts the new ones,
    O(batch), and a new batch probes only its own band buckets instead of
    re-running corpus LSH. The band index makes near-dup detection
    incremental the way the fingerprint index (incremental_index_dedup)
    makes exact dedup incremental.

    Intermediates are LET-BOUND via single-element transform binding
    (array(e) -> transform -> element_at 1): words and shingles are
    materialized once per row, never re-derived per hash — the
    ngrams_from_words O(doc_len^2) re-tokenization trap."""
    from spark_on_hbase_spark.operators.text import words_expr

    r = num_hashes // bands

    def _hash_i(i: int):
        # a 2-arg lambda would receive transform's (element, index) pair —
        # the default-arg idiom silently binds i to the INDEX column
        return lambda s: _mh_hash(i, s)

    def from_shingles(sh: Column) -> Column:
        mh = [
            F.array_min(F.transform(sh, _hash_i(i)))
            for i in range(num_hashes)
        ]
        keys = [
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(str(b)),
                    *[mh[b * r + j].cast("string") for j in range(r)],
                )
            )
            for b in range(bands)
        ]
        return F.when(F.size(sh) >= 1, F.array(*keys))

    def from_words(ws: Column) -> Column:
        return F.element_at(
            F.transform(F.array(shingles_from_words(ws, n)), from_shingles), 1
        )

    return F.element_at(
        F.transform(F.array(words_expr(text_col)), from_words), 1
    )
