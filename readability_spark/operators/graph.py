"""Distributed PageRank over an edge list (host graph, doc graph).

The crawl-prioritization workhorse: rank hosts/pages by link structure to
weight frontier scheduling and corpus sampling. Standard power iteration
with damping and dangling-mass redistribution:

    r_{t+1}(v) = (1-d)/N + d * ( Σ_{u→v} r_t(u)/outdeg(u) + dangling_t/N )

Scale shape (the same loop structure as GraphX's staticPageRank):

- edges and out-degrees are computed once and persisted; every iteration
  is ONE join (edges ⋈ ranks on src — both sides long/short keys) + one
  map-side-combined sum per dst + a scalar dangling aggregate;
- ranks are (node, double) rows — the only state that moves per round;
- ``localCheckpoint`` truncates lineage per iteration (no exponential
  plan growth over K rounds);
- fixed iteration count (deterministic output — required for the exact
  SQL oracle, which unrolls the same K rounds) rather than convergence
  polling; K=10-20 is the standard web-graph setting.

At 10^7 hosts the rank vector is a few hundred MB across the cluster —
comfortably shuffled; at 10^9+ nodes you would co-partition edges and
ranks on src (bucketing) so the per-iteration join is shuffle-free on the
edge side, which this loop already permits (repartition both once,
upfront).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 8,
) -> DataFrame:
    """Kleinberg HITS: (node, authority, hub) after ``n_iter`` mutual-
    reinforcement rounds with L2 normalization per half-step.

        a_{t+1}(v) = Σ_{u→v} h_t(u)   (then a /= ||a||₂)
        h_{t+1}(u) = Σ_{u→v} a_{t+1}(v)  (then h /= ||h||₂)

    Same scale shape as :func:`pagerank`: each half-step is ONE equi-join of
    the persisted edge list against a (node, double) vector plus a
    map-side-combined sum; the L2 norm is a scalar aggregate (a driver
    double, like the dangling term); ``localCheckpoint`` truncates lineage
    per round. Fixed iteration count so the unrolled SQL oracle reproduces
    the identical arithmetic.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )

    def _propagate(vec: DataFrame, col: str, edge_key: str, out_key: str, out: str) -> DataFrame:
        summed = (
            e.join(vec.withColumnRenamed("node", edge_key), edge_key)
            .groupBy(F.col(out_key).alias("node"))
            .agg(F.sum(col).alias("_s"))
        )
        # Lazy checkpoint materialized BY the norm probe: one Spark job per
        # half-step instead of two (probe + eager re-checkpoint of the same
        # plan). The returned frame is a cheap projection over the
        # checkpointed raw vector, so the next half-step's join never
        # recomputes the propagation.
        raw = nodes.join(summed, "node", "left").select(
            "node", F.coalesce(F.col("_s"), F.lit(0.0)).alias(out)
        ).localCheckpoint(eager=False)
        norm = raw.agg(F.sqrt(F.sum(F.col(out) * F.col(out)))).first()[0]
        return raw.select("node", (F.col(out) / F.lit(norm)).alias(out))

    hub = nodes.select("node", F.lit(1.0).alias("hub")).localCheckpoint()
    auth = None
    for _ in range(n_iter):
        auth = _propagate(hub, "hub", "src", "dst", "auth")
        hub = _propagate(auth, "auth", "dst", "src", "hub")

    out = auth.join(hub, "node")
    e.unpersist()
    nodes.unpersist()
    return out.select("node", F.col("auth").alias("authority"), "hub")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """Edge list → (node, rank). Parallel edges are collapsed (distinct);
    node set = src ∪ dst; ranks sum to 1 (dangling mass redistributed)."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg")).persist()

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        # dangling nodes hold rank but emit no edges: redistribute uniformly.
        # This probe doubles as the materializing action for the PREVIOUS
        # round's lazy checkpoint: one Spark job per round, not two
        # (probe + eager checkpoint re-ran the same round plan twice).
        dangling = (
            ranks.join(outdeg.withColumnRenamed("src", "node"), "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            e.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .join(outdeg, "src")
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
        ).localCheckpoint(eager=False)
    # force the last round's checkpoint while its inputs are still cached —
    # after the unpersists below, a lazy plan would recompute them cold
    ranks.count()
    e.unpersist()
    outdeg.unpersist()
    nodes.unpersist()
    return ranks


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """TrustRank (Gyöngyi et al., VLDB 2004): PageRank with the teleport
    vector biased to a trusted seed set instead of uniform — the standard
    webspam-demotion ranking (trust flows out from hand-vetted hosts and
    decays with link distance; spam farms unreachable from seeds get ~0).

        r_{t+1}(v) = (1-d)·s(v) + d·( Σ_{u→v} r_t(u)/outdeg(u)
                                       + dangling_t·s(v) )

    with ``s`` uniform over ``seeds`` (node column) and ``r_0 = s``. Note
    dangling mass teleports back to the SEEDS (not uniformly) — outside
    the seed-reachable set trust stays exactly 0, the property that makes
    the ranking spam-resistant.

    Scale shape: identical to :func:`pagerank` — the teleport vector is a
    per-node column computed once (nodes left-semi seeds), each round is
    one edges⋈ranks join + map-side-combined sum + a scalar dangling
    aggregate, ``localCheckpoint`` truncates lineage. Runs on the host
    graph (10^7 nodes at 100 TB), never the page graph.

    Reference parity: vborovikov/readability has no graph layer; this is
    LLM-pipeline surface (SURVEY.md §2-extension) alongside pagerank/HITS.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .unionByName(seeds.select(F.col("node")))
        .distinct()
        .persist()
    )
    n_seeds = seeds.select("node").distinct().count()
    tp = nodes.join(
        seeds.select("node").distinct().withColumn("_s", F.lit(1.0 / n_seeds)),
        "node",
        "left",
    ).select("node", F.coalesce(F.col("_s"), F.lit(0.0)).alias("s")).persist()
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg")).persist()

    ranks = tp.select("node", F.col("s").alias("trust")).localCheckpoint()
    for _ in range(n_iter):
        # probe doubles as the materializer of the previous round's lazy
        # checkpoint — one job per round (see pagerank)
        dangling = (
            ranks.join(outdeg.withColumnRenamed("src", "node"), "node", "left_anti")
            .agg(F.coalesce(F.sum("trust"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select("dst", (F.col("trust") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            tp.join(contribs.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    (1.0 - damping) * F.col("s")
                    + damping
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.lit(dangling) * F.col("s")
                    )
                ).alias("trust"),
            )
        ).localCheckpoint(eager=False)
    ranks.count()  # materialize the final round before inputs unpersist
    e.unpersist()
    tp.unpersist()
    outdeg.unpersist()
    nodes.unpersist()
    return ranks


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    label_col: str = "label",
    n_iter: int = 3,
    undirected: bool = True,
) -> DataFrame:
    """Semi-supervised label propagation over a (host) graph — the standard
    spam/quality-seed spreading pass (Raghavan et al. 2007 LPA, restricted
    to the clamped-seed variant used for webspam demotion): a small set of
    hand-labeled hosts (``seeds``: node, label) spreads outward; each round
    every non-seed node adopts the label with the MOST neighbor votes,
    ties broken by lexicographically smallest label. Seed labels never
    change. Nodes no wave has reached yet stay NULL.

    Determinism: votes are integers and the (votes desc, label asc) argmax
    is a total order, so the result is byte-stable under any partitioning
    or executor count — which is also what makes the unrolled SQL oracle
    exact (reference parity: vborovikov/readability has no graph layer;
    this is LLM-pipeline surface, SURVEY.md §2-extension).

    Scale shape at 100 TB: runs on the HOST graph (pages collapse 10^12 →
    ~10^7 hosts via links.host_graph before any iteration). Each round is
    one edges⋈labels shuffle join + one map-side-combined vote count + one
    argmax agg; the labeled frontier only grows, rounds are fixed (K small),
    and ``localCheckpoint`` truncates lineage per round exactly like
    :func:`pagerank`. The vote rows are (node, label, long) — nothing
    wider than the rank vector ever shuffles.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if undirected:
        e = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    e = e.distinct().persist()
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(seeds.select(F.col("node")))
        .distinct()
        .persist()
    )
    sd = seeds.select("node", F.col(label_col).alias("label")).persist()
    labels = sd.localCheckpoint()
    for _ in range(n_iter):
        votes = (
            e.join(labels.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"), "label")
            .agg(F.count("*").alias("votes"))
        )
        elected = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("votes")).alias("nv"), F.col("label").alias("l"))
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("label"))
        )
        labels = sd.unionByName(
            elected.join(sd.select("node"), "node", "left_anti")
        ).localCheckpoint()
    out = nodes.join(labels, "node", "left").select("node", "label")
    e.unpersist()
    sd.unpersist()
    nodes.unpersist()
    return out


def cc_large_small_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 32,
    _stats: "dict | None" = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the library's one clustering algorithm, behind
    dedup.pair_graph_clusters and the leakage-safe split; checked against
    brute force in tests and against the recursive-CTE oracle.

        large-star(u): every neighbor v > u re-attaches to
                       m(u) = min(Γ(u) ∪ {u})
        small-star(u): every neighbor v ≤ u (plus u itself) attaches to
                       m(u), computed over the smaller neighbors only

    Alternating the two converges in O(log² n) rounds (O(log n) in
    practice) to a forest of stars whose centers are the component minima.

    Scale shape — why THIS algorithm is the 10^11-edge choice: each round
    is one map-side-combined groupBy (the per-node min) + one equi-join of
    the edge list against that (node, long) table; intermediate edge count
    never exceeds the input edge count (the paper's invariant), unlike
    naive closure which explodes, and unlike min-label pointer jumping
    there is no global label table to re-shuffle — state IS the edge list
    (pointer jumping was measured 5.7x slower on the long-chain sf0.1 aHash
    graph, 24.4s vs 4.3s, docs/SCALE.md). Fixpoint is a scalar (count,
    hash-sum) probe; ``localCheckpoint`` truncates lineage per round.

    Output: (doc_id, cluster_id) — min id of the component, for every
    non-isolated node.
    """
    e = (
        pairs.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )

    def canon(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
        )

    def large_star(df: DataFrame) -> DataFrame:
        sym = df.unionByName(
            df.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        out = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        return canon(out)

    def small_star(df: DataFrame) -> DataFrame:
        # edges already oriented (a=lo, b=hi): reduce on the larger endpoint
        mins = df.groupBy("b").agg(F.min("a").alias("m"))
        att = df.join(mins, "b").select(F.col("a"), F.col("m").alias("b2"))
        center = mins.select(F.col("b").alias("a"), F.col("m").alias("b2"))
        out = att.unionByName(center).select(
            "a", F.col("b2").alias("b")
        )
        return canon(out)

    probe = None
    rounds = 0
    for _ in range(max_iter):
        # lazy checkpoints materialized together by the fixpoint probe:
        # ONE Spark job per round (two eager checkpoints + the probe ran
        # three), with lineage still cut at both star steps
        e = large_star(e).localCheckpoint(eager=False)
        e = small_star(e).localCheckpoint(eager=False)
        # ANSI mode: sum() of hashes overflows long; xor is order-independent
        # and closed over int64 — same multiset-identity probe
        cur = e.agg(
            F.count("*"), F.expr("bit_xor(xxhash64(a, b))")
        ).first()
        cur = (cur[0], cur[1])
        rounds += 1
        if cur == probe:
            break
        probe = cur
    if _stats is not None:
        _stats["rounds"] = rounds
    # final graph is a star forest: every node's label = min over itself
    # and its direct neighbors
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return sym.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("cluster_id")
    ).select(F.col("a").alias("doc_id"), "cluster_id")


def sample_neighbors(
    edges: DataFrame,
    fanout: int,
    src: str = "src",
    dst: str = "dst",
    n_salts: int = 16,
) -> DataFrame:
    """Deterministic per-node neighbor sampling — the GraphSAGE-style
    fanout primitive (Hamilton et al. 2017): keep ``fanout`` neighbors per
    node, ordered by a seeded hash rank (md5 of the edge — portable across
    engines) so the sample is a pure function of the edge set, stable
    under retries, partitioning, and re-runs.

    Two-phase salted rank (the domain_top_k discipline): phase 1 ranks
    within (node, dst % n_salts) and keeps fanout per salt, phase 2 ranks
    the ≤ fanout·n_salts survivors per node — a 10^7-degree hub never
    routes its full adjacency through one task's sort.
    """
    from pyspark.sql import Window

    rank_key = F.md5(
        F.concat(F.col("u").cast("string"), F.lit("_"), F.col("v").cast("string"))
    )
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    salted = e.withColumn("_salt", F.pmod(F.col("v"), F.lit(n_salts)))
    w1 = Window.partitionBy("u", "_salt").orderBy(rank_key, F.col("v"))
    phase1 = salted.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= fanout
    )
    w2 = Window.partitionBy("u").orderBy(rank_key, F.col("v"))
    return (
        phase1.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= fanout)
        .select("u", "v")
    )


def two_hop_sample_report(
    edges: DataFrame, fanout: int = 3, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-seed 2-hop sampled-neighborhood summary: hop-1 sample size,
    number of 2-hop paths through the per-node samples, and distinct
    hop-2 nodes — the fanout accounting a GNN/embedding trainer sizes its
    minibatches with. The per-node sample is computed ONCE and composed
    (sampled ⋈ sampled on the middle node), so the 2-hop stage is one
    equi-join of two fanout-bounded tables — each join key carries at
    most ``fanout`` rows per side by construction, skew-free no matter
    how hot the hub."""
    s = sample_neighbors(edges, fanout, src=src, dst=dst).persist()
    t = s.select(F.col("u").alias("v"), F.col("v").alias("w"))
    paths = s.join(t, "v")
    out = (
        paths.groupBy(F.col("u").alias("seed"))
        .agg(
            F.count_distinct("v").cast("int").alias("n_hop1"),
            F.count("*").cast("bigint").alias("n_paths"),
            F.count_distinct("w").cast("int").alias("n_hop2"),
        )
    )
    return out
