"""Graph operators over edge-list DataFrames.

``PageRank`` — the classic damped random-surfer centrality (Page,
Brin, Motwani & Winograd 1999), used in data curation as a
document/host quality prior (e.g. harmonic/PageRank centrality over
the web host graph in CommonCrawl-derived pipelines) and over
similarity graphs (duplicate-pair edges) to pick canonical cluster
members. A FIXED iteration count keeps the result deterministic and
exactly SQL-replayable — the correctness gate replays every iteration
as a chained CTE.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator


class PageRank(AlgoOperator):
    """Damped PageRank with dangling-mass redistribution.

    ``transform(edges)`` takes an edge list (``srcCol``, ``dstCol``;
    parallel edges act as weights) and returns ``(node, rank)`` for
    every node after exactly ``maxIter`` synchronous iterations of::

        r'(v) = (1-d)/n + d · (Σ_{u→v} w(u,v)/W(u) · r(u) + D/n)

    where ``W(u)`` is u's total out-weight, ``D`` the summed rank of
    dangling nodes (no out-edges), and ranks start uniform at 1/n.
    Ranks sum to 1 after every iteration (mass-conserving).
    ``setWeightCol`` makes it weighted PageRank: ``w(u,v)`` is the
    summed ``weightCol`` per (src, dst) instead of the parallel-edge
    count, and NULL/non-positive weights drop (a zero or negative
    transition mass is undefined).

    100 TB design: edges pre-aggregate to (src, dst, weight) ONCE
    (the only edge-volume shuffle; the table persists across
    iterations). Each iteration is one join of the O(nodes) rank
    table against the weighted edges + a ``groupBy(dst)`` — the
    sparse mat-vec shape, partial-merged map-side, with the dangling
    mass a scalar aggregate folded in as a literal. Rank tables are
    ``localCheckpoint``-ed per iteration so the plan stays O(1)
    (the DuplicateClusterer discipline); swap for reliable
    ``checkpoint`` on a real cluster. Driver traffic per iteration:
    one scalar. No collect of nodes or edges, no adjacency lists.
    """

    srcCol = Param(Params._dummy(), "srcCol", "edge source column",
                   TypeConverters.toString)
    dstCol = Param(Params._dummy(), "dstCol", "edge destination column",
                   TypeConverters.toString)
    damping = Param(Params._dummy(), "damping", "damping factor d",
                    TypeConverters.toFloat)
    maxIter = Param(Params._dummy(), "maxIter",
                    "exact synchronous iterations", TypeConverters.toInt)
    weightCol = Param(Params._dummy(), "weightCol",
                      "explicit edge-weight column ('' = parallel "
                      "edges count as weight)", TypeConverters.toString)

    _defaults = dict(srcCol="src", dstCol="dst", damping=0.85,
                     maxIter=5, weightCol="")

    def __init__(self):
        super().__init__()
        self._seed_nodes: list | None = None

    def setSeedNodes(self, seeds):
        """Personalized PageRank (Jeh & Widom 2003): teleport and
        dangling mass go to these nodes (uniformly) instead of the
        whole graph. Seeds absent from the graph are ignored and the
        remaining seeds renormalize; an empty/None list is standard
        PageRank. Node type must match the edge columns."""
        seeds = list(seeds) if seeds is not None else None
        self._seed_nodes = seeds if seeds else None
        return self

    def transform(self, edges: DataFrame) -> DataFrame:
        s, t = self.getSrcCol(), self.getDstCol()
        d = self.getDamping()
        wc = self.getOrDefault(self.weightCol)
        base = edges.filter(F.col(s).isNotNull() & F.col(t).isNotNull())
        if wc:
            base = base.filter(F.col(wc).isNotNull()
                               & (F.col(wc) > 0))
            agg = F.sum(F.col(wc).cast("double")).alias("__w")
        else:
            agg = F.count(F.lit(1)).cast("double").alias("__w")
        ew = (base
              .groupBy(F.col(s).alias("__s"), F.col(t).alias("__t"))
              .agg(agg)
              .localCheckpoint(eager=True))
        from pyspark.sql import Window

        # transition weights folded once: w/W per edge. The per-src
        # window avoids re-joining ew against its own aggregate
        # (self-join attribute ambiguity) and runs over the PRE-
        # AGGREGATED edge table — partition size = out-degree in
        # distinct targets, not raw edge multiplicity
        W = F.sum("__w").over(Window.partitionBy("__s"))
        trans = (ew.select("__s", "__t",
                           (F.col("__w") / W).alias("__p"))
                 .localCheckpoint(eager=True))
        nodes = (ew.select(F.col("__s").alias("node"))
                 .union(ew.select(F.col("__t")))
                 .distinct().localCheckpoint(eager=True))
        n = nodes.count()
        if n == 0:
            return nodes.withColumn("rank", F.lit(0.0))
        has_out = trans.select(F.col("__s").alias("node")).distinct()
        # teleport distribution: uniform 1/n, or uniform over the
        # present seed nodes (personalized). Carried as a column so
        # the iteration below is one expression either way; the seed
        # table is tiny and broadcast.
        if self._seed_nodes is not None:
            spark = edges.sparkSession
            seed_df = (spark.createDataFrame(
                [(x,) for x in set(self._seed_nodes)],
                nodes.select("node").schema).distinct())
            marked = nodes.join(F.broadcast(seed_df), "node",
                                "left_semi")
            m = marked.count()
            if m == 0:
                raise ValueError(
                    "none of the seed nodes appear in the graph")
            tele_nodes = (nodes
                          .join(F.broadcast(seed_df)
                                .withColumn("__tele",
                                            F.lit(1.0 / m)),
                                "node", "left")
                          .select("node",
                                  F.coalesce("__tele", F.lit(0.0))
                                  .alias("__tele"))
                          .localCheckpoint(eager=True))
        else:
            tele_nodes = nodes.withColumn("__tele", F.lit(1.0 / n))
        ranks = tele_nodes.select(
            "node", F.col("__tele").alias("rank"))
        for _ in range(self.getMaxIter()):
            # dangling mass rides the iteration as a broadcast 1-row
            # frame instead of a driver .first() — one action per
            # round, not two. The arithmetic is unchanged: IEEE double
            # ops on the same operands in the same association (the
            # SQL oracle replays exactly this), whether the scalar
            # arrives as a literal or a column.
            dang = (ranks.join(has_out, "node", "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("__dang")))
            contrib = (trans
                       .join(ranks.withColumnRenamed("node", "__s"),
                             "__s")
                       .groupBy(F.col("__t").alias("node"))
                       .agg(F.sum(F.col("__p") * F.col("rank"))
                            .alias("__c")))
            if self._seed_nodes is None:
                expr = (F.lit((1.0 - d) / n)
                        + F.lit(d) * (F.coalesce("__c", F.lit(0.0))
                                      + F.col("__dang") / n))
            else:
                expr = ((F.lit(1.0 - d) + F.lit(d) * F.col("__dang"))
                        * F.col("__tele")
                        + F.lit(d) * F.coalesce("__c", F.lit(0.0)))
            ranks = (tele_nodes.join(contrib, "node", "left")
                     .crossJoin(F.broadcast(dang))
                     .select("node", expr.alias("rank"))
                     .localCheckpoint(eager=True))
        return ranks


class TriangleCounter(AlgoOperator):
    """Per-node triangle counts and local clustering coefficient over
    an undirected edge list (Schank & Wagner 2005 node-iterator with
    degree orientation — the standard distributed-triangle shape,
    e.g. Suri & Vassilvitskii 2011).

    ``transform(edges)`` treats (``srcCol``, ``dstCol``) as an
    UNDIRECTED simple graph (direction ignored, parallel edges
    deduped, self-loops dropped) and returns one row per node::

        node        the vertex id
        degree      distinct neighbors
        triangles   triangles containing the node
        clustering  2·triangles / (degree·(degree−1)), 0 when
                    degree < 2

    100 TB design: edges canonicalize + dedup in one shuffle; each
    edge then orients from its lower-(degree, id) endpoint to the
    higher, so the wedge self-join fans out per node by OUT-degree
    under the orientation — Σ out² = O(m^1.5) for any graph
    (arboricity bound), immune to the power-law hub that makes the
    naive neighbor join quadratic. Wedges close against the oriented
    edge set with one keyed join; per-node counts are an explode +
    count. No collects, no adjacency lists, no iteration.
    """

    srcCol = Param(Params._dummy(), "srcCol", "edge source column",
                   TypeConverters.toString)
    dstCol = Param(Params._dummy(), "dstCol", "edge destination column",
                   TypeConverters.toString)

    _defaults = dict(srcCol="src", dstCol="dst")

    def transform(self, edges: DataFrame) -> DataFrame:
        s = F.col(self.getOrDefault(self.srcCol))
        t = F.col(self.getOrDefault(self.dstCol))
        und = (edges
               .filter(s.isNotNull() & t.isNotNull() & (s != t))
               .select(F.least(s, t).alias("u"),
                       F.greatest(s, t).alias("v"))
               .distinct())
        deg = (und.select(F.col("u").alias("node"))
               .unionAll(und.select(F.col("v")))
               .groupBy("node")
               .agg(F.count(F.lit(1)).alias("degree")))

        # degree orientation: low-(degree, id) endpoint -> high. The
        # forward test materializes ONCE as a named column (reusing
        # the Column object would re-embed the struct comparison in
        # every branch).
        ed = (und
              .join(deg.select(F.col("node").alias("u"),
                               F.col("degree").alias("__du")), "u")
              .join(deg.select(F.col("node").alias("v"),
                               F.col("degree").alias("__dv")), "v")
              .withColumn("__fwd",
                          F.struct(F.col("__du"), F.col("u"))
                          < F.struct(F.col("__dv"), F.col("v"))))
        fwd = F.col("__fwd")
        oriented = ed.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
            # the out-neighbor's orientation key, for canonical wedge
            # ordering (wedge (b1, b2) closes iff oriented edge
            # b1 -> b2 exists, which needs key(b1) < key(b2))
            F.when(fwd, F.struct(F.col("__dv").alias("d"),
                                 F.col("v").alias("i")))
             .otherwise(F.struct(F.col("__du").alias("d"),
                                 F.col("u").alias("i"))).alias("kb"))

        e1 = oriented.select("a", F.col("b").alias("b1"),
                             F.col("kb").alias("k1"))
        e2 = oriented.select("a", F.col("b").alias("b2"),
                             F.col("kb").alias("k2"))
        wedges = (e1.join(e2, "a")
                  .filter(F.col("k1") < F.col("k2"))
                  .select("a", "b1", "b2"))
        closing = oriented.select(F.col("a").alias("b1"),
                                  F.col("b").alias("b2"))
        tris = wedges.join(closing, ["b1", "b2"])

        tcount = (tris.select(F.explode(F.array("a", "b1", "b2"))
                              .alias("node"))
                  .groupBy("node")
                  .agg(F.count(F.lit(1)).alias("triangles")))
        d = F.col("degree").cast("double")
        return (deg.join(tcount, "node", "left")
                .select("node", "degree",
                        F.coalesce("triangles", F.lit(0))
                        .alias("triangles"),
                        F.when(F.col("degree") >= 2,
                               2.0 * F.coalesce("triangles", F.lit(0))
                               / (d * (d - 1.0)))
                         .otherwise(F.lit(0.0)).alias("clustering")))


class ConnectedComponents(AlgoOperator):
    """Weakly connected components over an undirected edge list:
    ``transform(edges)`` returns ``(node, component)`` where
    ``component`` is the MINIMUM node id reachable from ``node`` —
    the canonical deterministic component label.

    Delegates to the same min-label propagation + pointer jumping
    loop as :class:`~flink_ml__spark.functions.curation.
    DuplicateClusterer` (Kiveris et al. 2014 two-phase shape,
    O(log diameter) rounds, per-round ``localCheckpoint``) — the
    graph-API surface over the engine's one CC implementation. The
    oracle replays it as a recursive-CTE transitive closure, which
    converges to the identical min-reachable-id labeling.
    """

    srcCol = Param(Params._dummy(), "srcCol", "edge source column",
                   TypeConverters.toString)
    dstCol = Param(Params._dummy(), "dstCol", "edge destination column",
                   TypeConverters.toString)
    maxIter = Param(Params._dummy(), "maxIter",
                    "pointer-jumping round cap", TypeConverters.toInt)

    _defaults = dict(srcCol="src", dstCol="dst", maxIter=20)

    def transform(self, edges: DataFrame) -> DataFrame:
        from flink_ml__spark.functions.curation import (
            DuplicateClusterer,
        )

        s = self.getOrDefault(self.srcCol)
        t = self.getOrDefault(self.dstCol)
        pairs = edges.filter(F.col(s).isNotNull()
                             & F.col(t).isNotNull())
        out = (DuplicateClusterer().setIdCol("node")
               .setMaxIter(self.getOrDefault(self.maxIter))
               .cluster(pairs, id_a=s, id_b=t))
        return out.withColumnRenamed("cluster_id", "component")


class LabelPropagation(AlgoOperator):
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007) with DETERMINISTIC semantics: every node
    starts labeled with its own id; each round, every node adopts the
    label with the highest total edge weight among its neighbors
    (parallel edges act as weights, ties broken by the smaller
    label). A FIXED ``maxIter`` round count keeps the classically
    order-dependent algorithm reproducible and exactly
    SQL-replayable — the oracle replays every round as a chained CTE
    (the PageRank discipline).

    ``transform(edges)`` treats (``srcCol``, ``dstCol``) as
    undirected (self-loops dropped) and returns ``(node, label)``
    after exactly ``maxIter`` rounds.

    100 TB design: the weighted adjacency aggregates ONCE (the only
    edge-volume shuffle; table persists across rounds via
    ``localCheckpoint``). Each round is one join of the O(nodes)
    label table against the adjacency + a ``groupBy(node, label)``
    + a keyed window top-1 (WindowGroupLimit — no global sort).
    Labels ``localCheckpoint`` per round so the plan stays O(1).
    """

    srcCol = Param(Params._dummy(), "srcCol", "edge source column",
                   TypeConverters.toString)
    dstCol = Param(Params._dummy(), "dstCol", "edge destination column",
                   TypeConverters.toString)
    maxIter = Param(Params._dummy(), "maxIter",
                    "exact synchronous rounds", TypeConverters.toInt)

    _defaults = dict(srcCol="src", dstCol="dst", maxIter=5)

    def transform(self, edges: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        s = F.col(self.getOrDefault(self.srcCol))
        t = F.col(self.getOrDefault(self.dstCol))
        raw = (edges.filter(s.isNotNull() & t.isNotNull() & (s != t))
               .select(s.alias("__a"), t.alias("__b")))
        nb = (raw.unionAll(raw.select(F.col("__b").alias("__a"),
                                      F.col("__a").alias("__b")))
              .groupBy("__a", "__b")
              .agg(F.count(F.lit(1)).alias("__w"))
              .localCheckpoint(eager=True))
        labels = (nb.select(F.col("__a").alias("node")).distinct()
                  .withColumn("label", F.col("node"))
                  .localCheckpoint(eager=True))
        w = Window.partitionBy("node").orderBy(
            F.desc("__c"), F.asc("label"))
        for _ in range(self.getOrDefault(self.maxIter)):
            votes = (nb.join(labels.withColumnRenamed("node", "__a"),
                             "__a")
                     .groupBy(F.col("__b").alias("node"), "label")
                     .agg(F.sum("__w").alias("__c")))
            labels = (votes.withColumn("__r", F.row_number().over(w))
                      .filter(F.col("__r") <= 1)
                      .select("node", "label")
                      .localCheckpoint(eager=True))
        return labels


class CommonNeighborsLinkPredictor(AlgoOperator):
    """Topological link prediction over an undirected edge list —
    the classic Liben-Nowell & Kleinberg (2003) neighborhood scores
    for every NON-edge pair sharing at least one neighbor::

        u, v               candidate pair, u < v, (u,v) not an edge
        common_neighbors   |N(u) ∩ N(v)|
        jaccard            |N(u) ∩ N(v)| / |N(u) ∪ N(v)|
        adamic_adar        Σ_{w ∈ N(u) ∩ N(v)} 1 / ln(deg(w))

    (deg(w) ≥ 2 for any common neighbor, so ln never hits 0.)
    Direction is ignored; parallel edges dedup; self-loops drop.

    100 TB design: candidates come from the wedge self-join keyed on
    the shared neighbor ``w`` — fan-out per pivot is deg(w)², so one
    power-law hub explodes the pair set. ``setMaxPivotDegree(d)``
    excludes nodes above ``d`` from the PIVOT role (their wedges are
    skipped; they still count in degrees) — the standard bounded-
    fanout approximation, and a deterministic filter the SQL oracle
    replays exactly. Everything else is keyed joins + one (u, v)
    aggregation; degree joins shuffle on node id (degree table is
    node-sized — not broadcastable at scale, co-partitioned instead).
    """

    srcCol = Param(Params._dummy(), "srcCol", "edge source column",
                   TypeConverters.toString)
    dstCol = Param(Params._dummy(), "dstCol", "edge destination column",
                   TypeConverters.toString)
    maxPivotDegree = Param(Params._dummy(), "maxPivotDegree",
                           "pivot-degree cap, 0 = uncapped",
                           TypeConverters.toInt)

    _defaults = dict(srcCol="src", dstCol="dst", maxPivotDegree=0)

    def setMaxPivotDegree(self, v):
        v = int(v)
        if v < 0:
            raise ValueError(f"maxPivotDegree must be >= 0, got {v}")
        return self._set(maxPivotDegree=v)

    def transform(self, edges: DataFrame) -> DataFrame:
        s = F.col(self.getOrDefault(self.srcCol))
        t = F.col(self.getOrDefault(self.dstCol))
        cap = self.getOrDefault(self.maxPivotDegree)
        und = (edges
               .filter(s.isNotNull() & t.isNotNull() & (s != t))
               .select(F.least(s, t).alias("u"),
                       F.greatest(s, t).alias("v"))
               .distinct())
        adj = (und.select(F.col("u").alias("w"), F.col("v").alias("n"))
               .unionAll(und.select(F.col("v"), F.col("u"))))
        deg = adj.groupBy(F.col("w").alias("node")) \
                 .agg(F.count(F.lit(1)).alias("degree"))
        pivots = adj.join(deg.select(F.col("node").alias("w"),
                                     "degree"), "w")
        if cap > 0:
            pivots = pivots.filter(F.col("degree") <= cap)
        a = pivots.select("w", F.col("n").alias("u"), "degree")
        b = pivots.select("w", F.col("n").alias("v"))
        scored = (a.join(b, "w")
                  .filter(F.col("u") < F.col("v"))
                  .groupBy("u", "v")
                  .agg(F.count(F.lit(1)).alias("common_neighbors"),
                       F.sum(1.0 / F.log(F.col("degree")
                                         .cast("double")))
                        .alias("adamic_adar"))
                  .join(und, ["u", "v"], "left_anti"))
        du = deg.select(F.col("node").alias("u"),
                        F.col("degree").alias("__du"))
        dv = deg.select(F.col("node").alias("v"),
                        F.col("degree").alias("__dv"))
        return (scored.join(du, "u").join(dv, "v")
                .select("u", "v", "common_neighbors",
                        (F.col("common_neighbors").cast("double")
                         / (F.col("__du") + F.col("__dv")
                            - F.col("common_neighbors")))
                        .alias("jaccard"),
                        "adamic_adar"))


class KCoreExtractor(AlgoOperator):
    """k-core decomposition for a fixed ``k``: the maximal subgraph in
    which every node has ≥ k neighbors (Seidman 1983), by iterative
    peeling — drop nodes under degree k, restrict edges to survivors,
    repeat to fixpoint. The standard dense-subgraph / spam-farm /
    community-seed primitive.

    ``transform(edges)`` returns one row per surviving node::

        node         the vertex id
        core_degree  its degree inside the k-core (≥ k)

    100 TB design: each round is one degree aggregation + two
    semi-joins, with a ``localCheckpoint`` per round to sever the
    growing lineage (the same loop discipline as
    :class:`ConnectedComponents`). Rounds are bounded by
    ``maxIter`` — peeling removes at least one node per round until
    stable, but converges in a handful of rounds on real graphs;
    hitting the cap raises rather than returning a superset. The
    result is exact and unique (the k-core is well-defined), so the
    gate checks both directions: every kept node has ≥ k kept
    neighbors, and no dropped node does.
    """

    srcCol = Param(Params._dummy(), "srcCol", "edge source column",
                   TypeConverters.toString)
    dstCol = Param(Params._dummy(), "dstCol", "edge destination column",
                   TypeConverters.toString)
    k = Param(Params._dummy(), "k", "minimum in-core degree",
              TypeConverters.toInt)
    maxIter = Param(Params._dummy(), "maxIter", "peeling round cap",
                    TypeConverters.toInt)

    _defaults = dict(srcCol="src", dstCol="dst", k=2, maxIter=50)

    def setK(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"k must be >= 1, got {v}")
        return self._set(k=v)

    def setMaxIter(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"maxIter must be >= 1, got {v}")
        return self._set(maxIter=v)

    def transform(self, edges: DataFrame) -> DataFrame:
        s = F.col(self.getOrDefault(self.srcCol))
        t = F.col(self.getOrDefault(self.dstCol))
        k = self.getOrDefault(self.k)
        cur = (edges
               .filter(s.isNotNull() & t.isNotNull() & (s != t))
               .select(F.least(s, t).alias("u"),
                       F.greatest(s, t).alias("v"))
               .distinct()
               .localCheckpoint(eager=True))
        n_edges = cur.count()
        for _ in range(self.getOrDefault(self.maxIter)):
            if n_edges == 0:
                break
            deg = (cur.select(F.col("u").alias("node"))
                   .unionAll(cur.select(F.col("v")))
                   .groupBy("node")
                   .agg(F.count(F.lit(1)).alias("degree")))
            keep = deg.filter(F.col("degree") >= k) \
                      .select("node").localCheckpoint(eager=True)
            nxt = (cur
                   .join(keep.select(F.col("node").alias("u")),
                         "u", "left_semi")
                   .join(keep.select(F.col("node").alias("v")),
                         "v", "left_semi")
                   .select("u", "v").localCheckpoint(eager=True))
            n_next = nxt.count()
            if n_next == n_edges:
                cur = nxt
                break
            cur, n_edges = nxt, n_next
        else:
            raise RuntimeError(
                f"k-core peeling did not converge in "
                f"{self.getOrDefault(self.maxIter)} rounds")
        return (cur.select(F.col("u").alias("node"))
                .unionAll(cur.select(F.col("v")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("core_degree")))


class DegreeAssortativity(AlgoOperator):
    """Degree assortativity coefficient of an undirected graph
    (Newman 2002, "Assortative mixing in networks"): the Pearson
    correlation of the degrees at the two ends of every edge.
    Positive r = hubs attach to hubs (social nets), negative r = hubs
    attach to leaves (the web, infrastructure), |r| near 0 = neutral —
    the one-number summary monitoring pipelines track to detect
    structural drift of an interaction graph.

    ``evaluate(edges)`` returns ONE row::

        n_nodes        distinct endpoints
        n_edges        undirected distinct edges (self-loops dropped)
        avg_degree     2·n_edges / n_nodes
        assortativity  Pearson r over both orientations of each edge
                       (symmetrized, so the coefficient is exact and
                       orientation-free); NULL when degenerate (all
                       degrees equal → zero variance)

    The correlation is assembled from raw moments (n, Σx, Σy, Σxx,
    Σyy, Σxy) rather than ``F.corr`` so the zero-variance case is an
    explicit NULL on both engines (Spark's corr yields NaN, DuckDB's
    NULL — moments keep the oracle bit-honest).

    100 TB design: dedup + two degree joins co-partitioned on node id
    (the degree table is node-sized, NOT broadcast) + ONE 1-row moment
    aggregation. No window, no pairwise blowup — cost is O(E) shuffle
    on the edge list.
    """

    srcCol = Param(Params._dummy(), "srcCol", "edge source column",
                   TypeConverters.toString)
    dstCol = Param(Params._dummy(), "dstCol", "edge destination column",
                   TypeConverters.toString)

    _defaults = dict(srcCol="src", dstCol="dst")

    def evaluate(self, edges: DataFrame) -> DataFrame:
        s = F.col(self.getOrDefault(self.srcCol))
        t = F.col(self.getOrDefault(self.dstCol))
        und = (edges.filter(s.isNotNull() & t.isNotNull() & (s != t))
               .select(F.least(s, t).alias("u"),
                       F.greatest(s, t).alias("v"))
               .distinct())
        adj = (und.select(F.col("u").alias("node"),
                          F.col("v").alias("peer"))
               .unionAll(und.select(F.col("v"), F.col("u"))))
        deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
        # both orientations: x = deg(node), y = deg(peer)
        x_side = adj.join(deg, "node").select(
            "peer", F.col("degree").alias("__x"))
        pairs = x_side.join(
            deg.select(F.col("node").alias("peer"),
                       F.col("degree").alias("__y")), "peer")
        x, y = F.col("__x").cast("double"), F.col("__y").cast("double")
        m = pairs.agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(x).alias("__sx"), F.sum(y).alias("__sy"),
            F.sum(x * x).alias("__sxx"), F.sum(y * y).alias("__syy"),
            F.sum(x * y).alias("__sxy"),
            F.count_distinct(F.col("peer")).alias("n_nodes"))
        n = F.col("__n").cast("double")
        vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
        vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
        cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
        r = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
        return m.select(
            "n_nodes", (F.col("__n") / 2).cast("bigint").alias("n_edges"),
            (F.col("__n") / F.col("n_nodes").cast("double"))
            .alias("avg_degree"),
            r.alias("assortativity"))

    def transform(self, edges: DataFrame) -> DataFrame:
        return self.evaluate(edges)
