"""``graph_batch``: the property-graph pipeline, checked against numpy and
pure-Python models.

Pairs are generated in clusters of ``CLUSTER`` vertices: a star from each
cluster's top vertex to the rest, then random pairs whose endpoints are
Zipf-skewed inside a cluster (a few hubs per cluster). Half of the random
pairs pick their cluster from a Zipf law too, so a few clusters carry many
duplicate pairs. One unit is one run of the pipeline: every stage's output
is materialized inside the stage's timing.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

CLUSTER = 16
DAMPING = 0.85
PR_ITERS = 3
CUTOFF = 0.05

GRAPH = ("from_pairs_partitioned", "degree_histogram", "bsp_converge", "pagerank", "inner_expand")


class GraphModel:
    """Expected outputs of every stage, computed from the generated pairs."""

    def __init__(self, src: np.ndarray, dst: np.ndarray, n_vertices: int):
        a, b = np.minimum(src, dst), np.maximum(src, dst)
        code = np.unique(a * n_vertices + b)
        a, b = code // n_vertices, code % n_vertices
        loop = a == b
        self.n_edges = int(2 * (~loop).sum() + loop.sum())
        deg = np.zeros(n_vertices, dtype=np.int64)
        np.add.at(deg, a, 1)
        np.add.at(deg, b[~loop], 1)
        self.deg = deg
        self.histogram = sorted(Counter(deg[deg > 0].tolist()).items())
        # directed edge list of the symmetric network
        self.es = np.concatenate([a, b[~loop]])
        self.ed = np.concatenate([b, a[~loop]])
        self.labels = self._components(a, b, n_vertices)
        self.rank = self._pagerank(n_vertices)
        self.cutoff_kept = self._cutoff()

    def _components(self, a, b, nv) -> dict[int, int]:
        """Union-find; each component is labelled by its largest vertex id,
        the fixpoint of max-label propagation."""
        parent = list(range(nv))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in zip(a.tolist(), b.tolist()):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[min(rx, ry)] = max(rx, ry)
        verts = np.nonzero(self.deg)[0].tolist()
        return {v: find(v) for v in verts}

    def _pagerank(self, nv) -> dict[int, float]:
        verts = np.nonzero(self.deg)[0]
        n = len(verts)
        rank = np.zeros(nv)
        rank[verts] = 1.0 / n
        w = 1.0 / self.deg[self.es]
        for _ in range(PR_ITERS):
            inflow = np.zeros(nv)
            np.add.at(inflow, self.ed, rank[self.es] * w)
            new = np.zeros(nv)
            new[verts] = (1.0 - DAMPING) / n + DAMPING * inflow[verts]
            rank = new
        return dict(zip(verts.tolist(), rank[verts].tolist()))

    def _cutoff(self) -> int:
        verts = np.nonzero(self.deg)[0]
        freq = self.deg[verts]
        order = np.lexsort((verts, -freq))
        start = np.cumsum(freq[order]) - freq[order]
        return int((start >= float(freq.sum()) * CUTOFF).sum())


class GraphBatch:
    def __init__(self, ctx, n_pairs: int, n_vertices: int):
        self.ctx = ctx
        self.n_pairs = n_pairs
        self.n_vertices = n_vertices

    def setup(self) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from spark_on_hbase_spark.functions.ep import VENDOR_CODES

        ctx, spark, e, nv = self.ctx, self.ctx.spark, self.n_pairs, self.n_vertices
        rng = np.random.default_rng(ctx.seed)
        n_clusters = nv // CLUSTER
        # star backbone: the top vertex of every cluster links to the rest,
        # so every cluster is one component and label propagation takes the
        # same number of supersteps whatever the seed
        top = np.arange(n_clusters) * CLUSTER + CLUSTER - 1
        bs = np.repeat(top, CLUSTER - 1)
        bd = (top[:, None] - 1 - np.arange(CLUSTER - 1)[None, :]).ravel()
        r = e - len(bs)
        cluster = np.where(
            rng.random(r) < 0.5,
            rng.integers(0, n_clusters, r),
            (rng.zipf(1.3, r) - 1) % n_clusters,
        )
        hub = np.minimum(rng.zipf(1.6, r) - 1, CLUSTER - 1)
        src = np.concatenate([bs, cluster * CLUSTER + hub])
        dst = np.concatenate([bd, cluster * CLUSTER + rng.integers(0, CLUSTER, r)])
        vendors = sorted(VENDOR_CODES)
        pdf = pd.DataFrame(
            {
                "src": src,
                "dst": dst,
                "prob": rng.integers(0, 256, e) / 255.0,
                "vendor": np.array(vendors, dtype=object)[rng.integers(0, len(vendors), e)],
                "ts": rng.integers(0, 1_000_000, e),
            }
        )
        self.pairs = spark.createDataFrame(pdf).persist()
        self.pairs.count()
        # vertex profiles: two thirds of the ids carry a score
        self.profile = (
            spark.range(nv)
            .where(F.col("id") % 3 != 0)
            .select(F.col("id").alias("key"), ((F.col("id") * 31 + ctx.seed) % 1000).alias("score"))
            .persist()
        )
        self.profile.count()
        pool_ids = [k for k in range(ctx.seed % 50, nv, 50)]
        self.pool_ids = pool_ids
        self.pool = spark.createDataFrame([(k,) for k in pool_ids], "key long").persist()
        self.partial_rows = [(k, k if k % 2 == 0 else None) for k in pool_ids]
        self.partial = spark.createDataFrame(self.partial_rows, "key long, score long").persist()
        self.pool.count()
        self.partial.count()
        self.model = GraphModel(src, dst, nv)

    def warmup(self) -> None:
        pass  # one pipeline is the whole window; set-up already ran jobs

    def unit(self, k: int) -> None:
        from pyspark.sql import functions as F

        from spark_on_hbase_spark.operators import agg, graph, joins

        ctx, tr, m = self.ctx, self.ctx.tracer, self.model
        with ctx.op("graph.from_pairs_partitioned") as rec:
            with tr.span("graph.from_pairs_partitioned"):
                net = graph.from_pairs_partitioned(self.pairs).persist()
                rec.rows = net.count()
        ctx.check(rec.rows == m.n_edges, "network edge count")
        with ctx.op("graph.degree_histogram") as rec:
            with tr.span("graph.degree_histogram"):
                hist = graph.degree_histogram(net).collect()
        rec.rows = len(hist)
        ctx.check([(r["degree"], r["freq"]) for r in hist] == m.histogram, "degree histogram")
        with ctx.op("graph.bsp_converge") as rec:
            with tr.span("graph.bsp_converge") as attrs:
                state = net.select(F.col("src").alias("key")).distinct().withColumn(
                    "label", F.col("key")
                )
                cc, steps = graph.bsp_converge(net, state)
                labels = cc.collect()
                attrs["supersteps"] = steps
        rec.rows = len(labels)
        ctx.check({r["key"]: r["label"] for r in labels} == m.labels, "components match union-find")
        with ctx.op("graph.pagerank") as rec:
            with tr.span("graph.pagerank"):
                ranks = graph.pagerank(net.select("src", "dst"), max_iters=PR_ITERS).collect()
        rec.rows = len(ranks)
        self._check_pagerank(ranks)
        with ctx.op("graph.inner_expand") as rec:
            with tr.span("graph.inner_expand"):
                rec.rows = graph.inner_expand(net, self.pool, self.profile).count()
        ctx.check(rec.rows == self._inner_expand_count(), "inner_expand row count")
        with ctx.op("joins.lookup_join") as rec:
            with tr.span("joins.lookup_join"):
                rec.rows = joins.lookup_join(self.profile, self.pool, "key").count()
        ctx.check(rec.rows == sum(1 for p in self.pool_ids if p % 3 != 0), "lookup_join rows")
        with ctx.op("joins.fill_join") as rec:
            with tr.span("joins.fill_join"):
                filled = joins.fill_join(
                    self.profile, self.partial, "key", {"score": "score"}
                ).collect()
        rec.rows = len(filled)
        want = {
            k: s if s is not None else ((k * 31 + ctx.seed) % 1000 if k % 3 else None)
            for k, s in self.partial_rows
        }
        ctx.check({r["key"]: r["score"] for r in filled} == want, "fill_join values")
        with ctx.op("agg.cutoff") as rec:
            with tr.span("agg.cutoff"):
                rec.rows = agg.cutoff(net, "src", CUTOFF).count()
        ctx.check(rec.rows == m.cutoff_kept, "cutoff survivors")
        net.unpersist()

    def _check_pagerank(self, rows) -> None:
        got = {r["key"]: r["rank"] for r in rows}
        want = self.model.rank
        ok = got.keys() == want.keys() and all(
            abs(got[k] - want[k]) <= 1e-9 * want[k] for k in want
        )
        self.ctx.check(ok, "pagerank matches numpy power iteration")
        self.ctx.check(abs(sum(got.values()) - 1.0) < 1e-9, "pagerank mass sums to 1")
        top = sorted(got, key=lambda k: (-got[k], k))[:10]
        tenth = sorted(want.values(), reverse=True)[min(9, len(want) - 1)]
        self.ctx.check(all(want[k] >= tenth - 1e-12 for k in top), "pagerank top-10")

    def _inner_expand_count(self) -> int:
        m = self.model
        pool = set(self.pool_ids)
        origin = {p: p for p in pool}
        for s, d in zip(m.es.tolist(), m.ed.tolist()):
            if s in pool and s > origin.get(d, -1):
                origin[d] = s
        profiled = Counter(o for k, o in origin.items() if k % 3 != 0 and k < self.n_vertices)
        return sum(profiled[origin[p]] for p in pool)

    def finish(self) -> dict:
        return {}
