"""Global connected components over an edge DataFrame.

The learning extractors (operators/learning.py) handle the blocked
case — every edge inside one group — in one grouped Arrow pass per
block. Near-duplicate DEDUP cannot block: MinHash-LSH candidate pairs cross
any blocking scheme (that is the point of banding), so turning verified
pairs into dedup GROUPS needs components over the whole graph.

This is the alternating large-star / small-star algorithm of Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
MapReduce and Beyond" (ACM SoCC 2014): every round is two
groupBy-min + join passes over the edge set, edges monotonically bend
toward the component minimum, and the edge set converges to stars
centered at each component's min node in O(log n) rounds. Nothing is
ever collected to the driver; per-round state is one DataFrame of
edges, so the operator scales to whatever edge set the shuffle can
hold — unlike label propagation, whose round count is the graph
DIAMETER (a 100M-node chain of near-dup shingles would never finish).

Reference parity: the reference clusters similar memories per group
driver-side (alma/learning/consolidation.py); a corpus-wide near-dup
grouping has no reference analog — it is the training-data-pipeline
extension (dedup families) this engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["connected_components", "near_dup_groups"]


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min neighbor
    (including u itself): edges (v, m(u)) for v in N(u), v > u."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    # no trailing distinct: small_star canonicalizes + dedups anyway,
    # and dropping it saves one shuffle per round
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high->low, then connect every smaller neighbor of u
    (and u itself) to u's minimum neighbor."""
    d = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        d.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _driver_union_find(rows) -> dict:
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp: dict = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_finish_edges: int = 1 << 18,
) -> DataFrame:
    """(node, component) for every node incident to an edge; component
    is the MIN node id of its connected component (any orderable node
    type — long ids, string memory ids). Nodes with no edges are their
    own singleton components; callers coalesce absent nodes to
    themselves.

    Each round materializes the shrinking edge set exactly once (the
    convergence agg is the action over a lazy checkpoint) and truncates
    lineage: without truncation round k's plan replays rounds 1..k-1
    and the job graph grows quadratically. On a real cluster with a
    configured checkpoint dir the reliable checkpoint is used instead
    (localCheckpoint pins partitions to executors, which an executor
    loss would invalidate).

    `driver_finish_edges`: both star operations PRESERVE the node set
    and connectivity (Kiveris et al., lemma 1-2), so once a round's
    contracted edge set fits comfortably on the driver the remaining
    O(log n) rounds collapse into one collect + local union-find — the
    same fits-in-memory escape a broadcast join takes, and the common
    exit for near-dup graphs whose families are tiny cliques. Set 0 to
    force the fully distributed loop (the measurement harness does)."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
    )
    sc = edges.sparkSession.sparkContext
    reliable = sc.getCheckpointDir() is not None

    def _pin(df: DataFrame, eager: bool = False) -> DataFrame:
        # lazy by default: the convergence agg below is the
        # materializing action, so each round costs ONE job, not a
        # checkpoint job + an agg job
        return df.checkpoint(eager=eager) if reliable else df.localCheckpoint(
            eager=eager
        )

    def _finish_local(frame: DataFrame) -> DataFrame:
        from alma_memory_spark.session import tiny_df

        labels = _driver_union_find(
            (r["u"], r["v"]) for r in frame.collect()
        )
        node_t = e.schema["u"].dataType.simpleString()
        return tiny_df(
            edges.sparkSession,
            sorted(labels.items()),
            f"node {node_t}, component {node_t}",
        )

    # pin the input BEFORE any probe: the size count, the driver
    # finish's collect, and round 1's double reference (edge set +
    # swap) all consume `e` — without the pin an expensive uncached
    # upstream plan (an LSH verify pipeline, say) would execute once
    # per consumer instead of once total
    e = _pin(e, eager=True)
    if driver_finish_edges and e.count() <= driver_finish_edges:
        # tiny graphs skip the distributed loop entirely
        return _finish_local(e)
    n_prev = hash_prev = None
    converged = False
    for _ in range(max_iter):
        nxt = _pin(_small_star(_large_star(e)))
        # one job per round: count + order-insensitive content hash.
        # Equal (count, hash-sum) is a fingerprint match; the exact
        # exceptAll equality check runs only on that (rare, usually
        # final) round, so the loop's exact-convergence contract costs
        # one extra job total, not one per round.
        cnt, hsh = nxt.agg(
            F.count("*"),
            # decimal accumulator: a plain long sum overflows under
            # ANSI mode once a few hashes share a sign
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        ).first()
        if driver_finish_edges and cnt <= driver_finish_edges:
            # the star rounds preserve node set + connectivity, so the
            # contracted graph's components ARE the input's
            return _finish_local(nxt)
        if (
            cnt == n_prev
            and hsh == hash_prev
            and nxt.exceptAll(e).isEmpty()
        ):
            e = nxt
            converged = True
            break
        e, n_prev, hash_prev = nxt, cnt, hsh
    if not converged:
        # a partially contracted graph is NOT a star forest — reading
        # labels off it would silently mislabel nodes. The round bound
        # is logarithmic, so hitting it means max_iter is set far too
        # low for the graph; fail loudly instead of returning wrong
        # components.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({n_prev} edges remain) — raise max_iter (rounds grow "
            "log(n), so a small increase goes far)"
        )
    # fixpoint is a star forest: (node > center) edges to each
    # component's min. Labels = those edges + the centers themselves.
    d = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    return d.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).union(
        d.select(F.col("v").alias("node"), F.col("v").alias("component"))
        .distinct()
    )


def near_dup_groups(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Verified near-dup PAIRS -> dedup GROUPS: (doc_id, group_id,
    is_canonical). group_id is the component min; the canonical keeper
    of each family is the min-id member (deterministic — the usual
    keep-first policy of corpus dedup). Downstream drops
    `is_canonical = false` rows via an anti-join against this frame."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("group_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )
