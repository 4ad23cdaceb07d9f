"""Distributed connected components — the transitive-closure step that
turns near-duplicate PAIRS into dedup CLUSTERS (pick one canonical doc per
component; upstream reference has no graph ops — this extends the dedup
surface the driver fixtures exercise).

Scale design (100 TB near-dup graphs):
- Alternating large-star / small-star (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC 2014): O(log^2 n) rounds worst
  case, each round two groupBy shuffles over (node, node) PAIRS — never a
  collected adjacency list, so a high-degree hub's edges stay spread
  across tasks instead of materializing in one record.
- Iterative plans grow lineage each round; an eager local checkpoint
  (``caches.checkpoint``) truncates it so Catalyst re-analyzes a
  constant-depth plan (on a real cluster with executor loss concerns,
  swap for reliable ``checkpoint()`` against the checkpoint dir — same
  call shape). Each superseded checkpoint is freed as soon as the next
  one has landed, and the result owns the ones its plan still reads:
  free them with ``caches.release(result)`` once it is materialized.
- Convergence is detected by a (count, xxhash64-sum) checksum of the
  canonical edge set: one cheap agg action per round, no driver collect of
  edges.
- Near-dup graphs are near-cliques (everything similar to everything), so
  in practice convergence lands in 2-3 rounds; the log^2 bound covers the
  adversarial chain case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from keystone_spark.caches import attach, checkpoint, release


def _canonical(e: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (u, v) with u > v, no self loops."""
    return (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(b: DataFrame) -> DataFrame:
    """For each node u, connect every STRICTLY LARGER neighbor to
    m(u) = min(neighbors(u) + {u}). Emits (v, m) for v > u."""
    sym = b.unionByName(b.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Input oriented u > v. For each u, connect every smaller neighbor
    (and u itself) to m(u) = min(smaller neighbors)."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    leaves = (
        e.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return leaves.unionByName(mins.select("u", F.col("m").alias("v")))


def connected_components(
    edges: DataFrame,
    src: str = "i",
    dst: str = "j",
    node_col: str = "node",
    comp_col: str = "component",
    max_iter: int = 50,
) -> DataFrame:
    """(src, dst) edge list -> (node, component) labels, component = the
    minimum node id reachable from the node. Nodes are the edge endpoints
    (callers union in singletons if they need them labeled too).

    Pure DataFrame ops; each round is two shuffles and the edge set only
    shrinks toward the star forest, so peak shuffle size is bounded by the
    input edge count."""
    e0 = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
    )
    # the one read of the caller's edges: checkpointed (self loops
    # kept, for their nodes) so neither the node set nor any star round
    # re-runs the caller's edge-generation pipeline
    pairs = checkpoint(
        e0.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    nodes = (
        pairs.select(F.col("u").alias(node_col))
        .unionByName(pairs.select(F.col("v").alias(node_col)))
        .distinct()
    )
    b = pairs.where(F.col("u") != F.col("v"))

    def _checksum(d: DataFrame) -> tuple:
        row = d.agg(
            F.count("*").alias("n"), F.sum(F.xxhash64("u", "v")).alias("h")
        ).first()
        return (row["n"], row["h"])

    chk = _checksum(b)
    for _ in range(max_iter):
        b_next = checkpoint(_canonical(_small_star(_canonical(_large_star(b)))))
        chk_next = _checksum(b_next)
        release(b)
        b = b_next
        if chk_next == chk:
            break
        chk = chk_next

    # fixed point is a star forest oriented (member, root): label members
    # by their root edge, roots (and isolated self-loop nodes) by themselves
    labels = b.select(F.col("u").alias(node_col), F.col("v").alias(comp_col))
    out = (
        nodes.join(labels, node_col, "left")
        .select(
            F.col(node_col),
            F.coalesce(F.col(comp_col), F.col(node_col)).alias(comp_col),
        )
    )
    return attach(out, pairs, b)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    damping: float = 0.85,
    max_iter: int = 20,
    src: str = "i",
    dst: str = "j",
    node_col: str = "node",
    rank_col: str = "rank",
) -> DataFrame:
    """Power-iteration PageRank on a directed edge list — the second
    iterative-graph kernel next to connected_components, in the same
    bounded-lineage style: each iteration is one join + one aggregation
    on the edge partitioning, with ``localCheckpoint`` truncating the
    plan so 20 iterations never build a 20-deep lineage.

    ``nodes`` (optional) supplies isolated vertices; dangling mass (nodes
    with no out-edges) redistributes uniformly each step, so ranks always
    sum to 1 — the invariant the tests and the declared query pin.
    Deterministic: pure floating-point iteration, no sampling.

    Scale shape: the loop state is a (node, deg, rank) table — the
    STATIC out-degree is folded into the vertex table once before the
    loop, so the per-iteration ranks ⋈ out_deg join (two shuffles per
    step) does not exist; contribs = edges ⋈ ranks is the only
    data-sized join. The dangling mass stays a 1-row aggregate
    CROSS-JOINED (broadcast) into the rank update — no per-iteration
    driver fetch at all, so each iteration is exactly ONE action (the
    lineage-truncating eager checkpoint; previously the scalar collect
    made it two, doubling job-scheduling overhead). At 1000 executors
    this is the standard Pregel-free DataFrame PageRank.
    """
    e = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    ).where(F.col("s").isNotNull() & F.col("d").isNotNull()).distinct()
    # the edge list is loop-INVARIANT but referenced by every iteration:
    # without materialization each checkpoint job re-executes the whole
    # upstream edge derivation (e.g. a candidate-pair join) once per
    # unrolled iteration — measured 15.4s -> ~4s on the declared query,
    # where edges come from an all-pairs cosine join
    e = checkpoint(e)
    ends = (
        e.select(F.col("s").alias(node_col))
        .unionByName(e.select(F.col("d").alias(node_col)))
    )
    if nodes is not None:
        ends = ends.unionByName(
            nodes.select(F.col(nodes.columns[0]).cast("long").alias(node_col))
        )
    verts = checkpoint(ends.distinct())
    n = verts.count()
    out_deg = e.groupBy("s").agg(F.count("*").alias("deg"))
    # fold the STATIC out-degree into the vertex table once: the
    # per-iteration state is (node, deg, rank), so the ranks ⋈ out_deg
    # join — two shuffles per iteration — leaves the loop entirely
    # (deg is NULL exactly for dangling nodes, which is the mass test)
    vstate = checkpoint(
        verts.join(out_deg, verts[node_col] == out_deg["s"], "left")
        .select(node_col, "deg")
    )
    release(verts)  # vstate has landed; no plan reads verts any more
    ranks = vstate.withColumn(rank_col, F.lit(1.0 / n))
    base = (1.0 - damping) / n
    # With no per-iteration driver fetch the loop is fully lazy, so the
    # lineage-truncating eager checkpoint only needs to land every few
    # iterations: plan depth stays bounded at checkpoint_every joins
    # while the job count drops from max_iter to max_iter/checkpoint_every
    # (at fixture scale each job is overhead-dominated; at cluster scale
    # fewer barriers means fewer scheduling waves).
    checkpoint_every = 4
    held = vstate  # the last checkpoint the ranks plan reads
    for it in range(max_iter):
        dang = (
            ranks.where(F.col("deg").isNull())
            .agg(F.coalesce(F.sum(rank_col), F.lit(0.0)).alias("__dang"))
        )
        contribs = (
            e.join(ranks.where(F.col("deg").isNotNull()),
                   e["s"] == F.col(node_col))
            .select(F.col("d").alias(node_col),
                    (F.col(rank_col) / F.col("deg")).alias("c"))
            .groupBy(node_col)
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            vstate.join(contribs, node_col, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                node_col,
                "deg",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0))
                       + F.col("__dang") / n)
                ).alias(rank_col),
            )
        )
        if it % checkpoint_every == checkpoint_every - 1 or it == max_iter - 1:
            ranks = checkpoint(ranks)
            if held is not vstate:
                release(held)  # superseded by the one that just landed
            held = ranks
    # the last iteration always checkpoints, so only with max_iter == 0
    # does the result read vstate
    release(e)
    if held is not vstate:
        release(vstate)
    return attach(ranks.select(node_col, rank_col), held)
