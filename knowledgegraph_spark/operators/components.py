"""Distributed connected components: alternating large-star / small-star.

Replaces the reference's in-batch transitive closure over the entity match
graph (systematic_merge_provider.py:239-298 — a quadratic in-memory Python
fixpoint limited to one batch) with the Kiveris et al. alternating
algorithm ("Connected Components in MapReduce and Beyond", SOCC'14),
expressed as a driver loop of DataFrame transformations.  This gives the
*global* closure the north_rule requires, converges in O(log n) rounds,
and every round is shuffle-bounded hash aggregation + join — no
driver-side graph state.

Node ids are the string match-node keys (``type|normalized_name``);
components are labeled by the lexicographically-smallest member, which
only requires a total order, so no int-id assignment pass (and no 64-bit
hash collision risk at 10^12-node scale).

Scale notes:
  * edges are symmetrized once per round; every groupBy is a partial
    (map-side) aggregation of (node → min neighbor).
  * ``localCheckpoint`` every round truncates the lineage so the plan
    doesn't grow exponentially across iterations; on a real cluster with
    an HDFS checkpoint dir, swap for ``checkpoint`` (reliable) — exposed
    via the ``checkpointer`` hook.
  * convergence test = (count, xor-ish hash sum) fingerprint equality —
    one cheap agg per round instead of a full set-difference join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Below this many nodes the xxhash64 id compression cannot repay its
# mapping joins (see ``connected_components``).
MIN_COMPRESS_NODES = 1_000_000


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min neighborhood."""
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        und.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", F.col("src")).alias("mn"))
    )
    return (
        und.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges big→small, then connect all small neighbors to the min."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    mins = (
        oriented.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", F.col("src")).alias("mn"))
    )
    return (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .union(mins.select(F.col("src"), F.col("mn").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpointer=None,
    compress_ids: bool = True,
    min_compress_nodes: int = MIN_COMPRESS_NODES,
) -> DataFrame:
    """edges(src, dst) → assignments(node, component).

    ``component`` is the minimum node id of the component.  Isolated nodes
    never appear in ``edges`` and therefore not in the result — callers
    coalesce missing assignments to the node itself (see
    ``assign_components``).

    ``checkpointer``: optional fn(df) -> df used to truncate lineage per
    round; defaults to eager ``localCheckpoint`` (sandbox/local). Pass a
    reliable ``df.checkpoint`` wrapper on a real cluster.

    ``compress_ids``: run the iterative loop over xxhash64-compressed
    node ids instead of the (long) string keys — every round shuffles
    8-byte longs instead of ~20-40-byte strings, which is the dominant
    per-round cost at web scale.  Injectivity is VERIFIED up front (one
    aggregation); on any collision the loop falls back to string ids, so
    correctness never depends on hash luck.  Labels are restored to the
    exact min-string contract by one relabel join at the end.

    ``min_compress_nodes``: compression costs ~6 extra jobs (mapping
    build/check, two edge joins, two restore joins); below this node
    count the per-round byte savings cannot repay them, so the loop
    stays on strings.  The node count comes from the injectivity check,
    so the decision is free.
    """
    user_checkpointer = checkpointer
    if checkpointer is None:
        def checkpointer(df: DataFrame) -> DataFrame:
            # lazy: materialized by the fingerprint action right after —
            # one job per round instead of two (eager would double-run)
            return df.localCheckpoint(eager=False)

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # Checkpoint the INPUT edge set before iterating: ``_large_star``
    # references ``e`` twice (union with its swap) and the caller's edge
    # plan is typically an uncached multi-shuffle chain (match-key explode
    # → distinct → hub join), so round 0 would recompute that whole chain
    # per reference — measured as the dominant cc-stage cost at bench
    # scale (edge chain ~20 s, every subsequent round <1 s).  Same
    # truncation the per-round checkpoint already does, applied one round
    # earlier; lazy, so it materializes with round 0's first action.
    e = checkpointer(e)

    mapping = None
    if compress_ids:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        mapping = nodes.select("node", F.xxhash64("node").alias("nid")).persist()
        stats = mapping.agg(
            F.count("*").alias("n"), F.countDistinct("nid").alias("d")
        ).collect()[0]
        if int(stats["n"]) != int(stats["d"]) or int(stats["n"]) < min_compress_nodes:
            mapping.unpersist()
            mapping = None  # collision or too small to repay the mapping joins
        else:
            ms = mapping.select(F.col("node").alias("src"), F.col("nid").alias("s_id"))
            md = mapping.select(F.col("node").alias("dst"), F.col("nid").alias("d_id"))
            e = (
                e.join(ms, "src")
                .join(md, "dst")
                .select(F.col("s_id").alias("src"), F.col("d_id").alias("dst"))
            )

    # Fingerprint the INPUT edge set so the loop can stop after the first
    # round when that round was a no-op.  ``match_edges`` emits canonical
    # hub-stars (every edge already member→min-of-key-group), so whenever
    # no node belongs to two overlapping stars the very first
    # large★/small★ round reproduces its input and the old loop's second
    # "confirm" round (~7 small jobs) bought nothing.  The test is the
    # SAME set-fingerprint equality the loop already uses for
    # convergence, applied one round earlier; graphs that do change in
    # round 0 take the normal path.  Costs one small aggregation, which
    # also materializes the lazy input checkpoint.
    prev_fp = _fingerprint(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e))
        e = checkpointer(e)
        fp = _fingerprint(e)
        if fp == prev_fp:
            break
        prev_fp = fp
    # At the fixpoint every edge is (member, root) with root = component min.
    assignments = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = assignments.select(
        F.col("component").alias("node"), F.col("component")
    ).distinct()
    out = assignments.union(roots).distinct()

    if mapping is not None:
        # back to strings + restore the min-STRING label (the hash-space
        # min is deterministic but not the documented lexicographic min)
        mn = mapping.select(F.col("nid").alias("node"), F.col("node").alias("node_s"))
        mc = mapping.select(F.col("nid").alias("component"), F.col("node").alias("comp_s"))
        named = (
            out.join(mn, "node")
            .join(mc, "component")
            .select(F.col("node_s").alias("node"), F.col("comp_s").alias("component"))
        )
        relabel = named.groupBy("component").agg(F.min("node").alias("label"))
        out = (
            named.join(relabel, "component")
            .select("node", F.col("label").alias("component"))
        )
        # Materialize the relabeled output so the O(nodes) cached mapping
        # can be released NOW — otherwise it pins executor storage for the
        # application lifetime, accumulating across pipeline runs in one
        # session.  This path only triggers at ≥ min_compress_nodes, where
        # one extra pass over (node, component) is noise next to the leak.
        # A caller-supplied checkpointer (the cluster-reliable hook — pass
        # an eager df.checkpoint wrapper) is used when given; the local
        # default is eager localCheckpoint, which is executor-lossy on a
        # real cluster (round-3 advice item 3) but fine in local mode.  A
        # lazy caller hook still releases the cache correctly — the plan
        # just recomputes the mapping once if evicted before the first
        # downstream action.
        out = user_checkpointer(out) if user_checkpointer is not None else out.localCheckpoint(eager=True)
        mapping.unpersist()
    return out


def assign_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    max_component_size: int | None = None,
    nodes_distinct: bool = False,
    compress_ids: bool = True,
) -> DataFrame:
    """All nodes → component labels; isolated nodes become singletons.

    ``max_component_size``: mega-component guard (SURVEY §7.4.2).  At web
    scale, an over-broad match key (a very common surface name) can chain
    millions of distinct entities into one component — an obvious
    over-merge that also concentrates all downstream fold work on one key.
    Components larger than the cap are DISSOLVED: their members revert to
    singletons (conservative no-merge), and the ``mega`` flag marks them
    for offline review.  None (default) disables.

    ``nodes_distinct``: the caller certifies ``nodes`` is already
    deduplicated (e.g. the pipeline's materialized surface table), so the
    full-stream distinct shuffle is skipped — at web scale the mention
    stream is 5-10× the node set, and this distinct is one of the three
    passes the pipeline fuses into a single materialized scan.

    ``compress_ids``: passed to ``connected_components``; False skips its
    compression probe when the caller already knows the graph is too small.
    """
    asg = connected_components(edges, compress_ids=compress_ids)
    nd = nodes.select(F.col(node_col).alias("node"))
    if not nodes_distinct:
        nd = nd.distinct()
    out = (
        nd.join(asg, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )
    if max_component_size is None:
        return out.withColumn("mega", F.lit(False))
    sizes = out.groupBy("component").agg(F.count("*").alias("__sz"))
    return (
        out.join(sizes, "component")
        .select(
            "node",
            F.when(F.col("__sz") > max_component_size, F.col("node"))
            .otherwise(F.col("component"))
            .alias("component"),
            (F.col("__sz") > max_component_size).alias("mega"),
        )
    )
