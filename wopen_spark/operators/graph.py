"""Iterative graph operator: connected components — the dedup-clustering
step that turns near-dup candidate PAIRS into GROUPS (transitively: if
A~B and B~C, then {A,B,C} is one duplicate cluster to keep one document
from).

Scale shape: a candidate graph of at most ``_DRIVER_EDGES_MAX_ROWS`` edges
(the engine's driver budget, the same 100k rows the broadcast gates use)
is fetched in ONE job and resolved on the driver by union-find — at the
sizes the dedup queries produce, a distributed loop pays one Spark job per
round for kilobytes of data. Larger graphs run min-label propagation:
each iteration is one distributed join + aggregate on the symmetrized
edge list (uniform keys); labels converge in O(component diameter)
iterations — near-dup clusters are shallow, so single digits in practice.
``localCheckpoint`` truncates the lineage each round so the plan doesn't
grow with the iteration count (the classic iterative-DataFrame pitfall).
For planet-scale graphs the alternating large-star/small-star variant
halves rounds; min-label is the right trade at dedup-cluster shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Edge count up to which connected_components resolves on the driver.
from wopen_spark.localframe import DRIVER_MAX_ROWS as _DRIVER_EDGES_MAX_ROWS


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    symmetric_distinct: bool = False,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    ``edges`` is an undirected edge list (any orientation). Isolated
    nodes don't appear — callers union them in if needed. An edge with a
    NULL endpoint connects nothing (NULL never equi-matches); a NULL node
    is reported with a NULL component.

    One ``limit(B + 1)`` fetch both sizes and fetches the edge list
    (B = ``_DRIVER_EDGES_MAX_ROWS``). At most B edges resolve on the
    driver by union-find and come back as a JVM-side frame built from an
    Arrow table: the call runs that one job (plus the stages of the edge
    frame's own plan) and caches nothing. More than B edges run the
    distributed min-label loop, which raises ``RuntimeError`` when
    ``max_iterations`` rounds do not reach the fixpoint; the driver path
    has no rounds to bound.

    ``symmetric_distinct=True``: the caller guarantees the input already
    holds BOTH orientations of every edge exactly once (e.g. a subgraph
    of an already-symmetrized, deduped neighborhood list) — the
    distributed path skips the union + dedup entirely, one |edges|
    shuffle saved at any scale.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not symmetric_distinct:
        e = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    bounded = edges.select(src, dst).limit(_DRIVER_EDGES_MAX_ROWS + 1).toArrow()
    if bounded.num_rows <= _DRIVER_EDGES_MAX_ROWS:
        return _components_on_driver(edges.sparkSession, bounded, e.schema["a"])
    return _min_label_components(e, max_iterations, symmetric_distinct)


def _components_on_driver(spark, edges, node_field) -> DataFrame:
    """Union-find over a fetched Arrow edge table: every root is the
    minimum id of its component (the larger root always hangs under the
    smaller), so ``find`` IS the min-label fixpoint. Python compares
    longs numerically and strings by code point, which is Spark's
    UTF-8 binary order."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    has_null = False
    for a, b in zip(edges.column(0).to_pylist(), edges.column(1).to_pylist()):
        if a is None or b is None:
            has_null = True
            for x in (a, b):
                if x is not None:
                    parent.setdefault(x, x)
            continue
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = list(parent)
    comps = [find(x) for x in nodes]
    if has_null:
        nodes.append(None)
        comps.append(None)
    schema = T.StructType(
        [
            T.StructField("node", node_field.dataType),
            T.StructField("component", node_field.dataType),
        ]
    )
    table = pa.table({"node": nodes, "component": comps})
    return spark.createDataFrame(table, schema)


def _min_label_components(
    e: DataFrame, max_iterations: int, symmetric_distinct: bool
) -> DataFrame:
    """The distributed path of :func:`connected_components`: min-label
    propagation over the (already symmetrized) edge list ``e(a, b)``."""
    # materialize the edge list once: it is re-joined EVERY round, and an
    # expensive upstream (e.g. the LSH candidate pipeline) would otherwise
    # be recomputed per iteration
    # hash-partitioned on the probe key and CACHED: persist (unlike
    # localCheckpoint, which scans back with unknown partitioning) keeps
    # the hash(b) layout visible to every round's neighbour join, so the
    # |edges| side never re-exchanges inside the loop
    if symmetric_distinct:
        sym = e.repartition("b").persist()
    else:
        # dedup AFTER the hash(b) repartition, not before: hash(b)
        # satisfies the (a,b) grouping requirement (partition keys ⊆
        # group keys), so dropDuplicates runs on the existing layout —
        # one |edges| shuffle total instead of a hash(a,b) distinct
        # exchange followed by the hash(b) repartition (the pagerank
        # operator's cached-invariant trick)
        sym = e.repartition("b").dropDuplicates(["a", "b"]).persist()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )

    # labels are monotonically non-increasing (label' = min(label, ...)),
    # so an order-insensitive digest of (node, label) is a convergence
    # witness — one cheap aggregate per round instead of an old-vs-new
    # join. The digest XORs xxhash64 of the PAIR, not sum("label"):
    # a raw label sum silently breaks on string ids (md5-fingerprint
    # pair ids are the dedup module's own recommendation — the sum casts
    # to double, yields NULL every round, and None == None exits after
    # ONE iteration with wrong components) and a long SUM of hashes
    # overflows under ANSI mode. bit_xor cannot overflow; digest
    # equality while a label changed needs a ~2^-64 collision.
    def _witness(lbl: DataFrame):
        return lbl.agg(
            F.expr("bit_xor(xxhash64(node, label))")
        ).collect()[0][0]

    converged = False
    prev_sum = _witness(labels)
    for _ in range(max_iterations):
        # shuffle_hash, not sort-merge: SMJ would SORT the |edges| side
        # every round (the persisted layout saves the exchange, never the
        # sort). The hash build side is the node-proportional labels
        # partition — bounded per task by the node-keyed partitioning.
        neigh = (
            sym.join(labels.hint("shuffle_hash"), sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        labels = (
            labels.join(neigh.hint("shuffle_hash"), labels["node"] == neigh["a"], "left")
            .select(
                F.col("node"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            # truncate lineage: O(1) plan per round. Lazy: the convergence
            # aggregate right below materializes it, so each round runs ONE
            # job instead of checkpoint-then-aggregate running two.
            .localCheckpoint(eager=False)
        )
        cur_sum = _witness(labels)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # an exhausted loop is NOT a converged answer: a component whose
        # diameter exceeds max_iterations would be silently reported as
        # several clusters, indistinguishable from a correct result
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations; raise max_iterations (diameter exceeds it)"
        )
    # Eagerly checkpoint the final labels (|nodes|-sized, one cheap job)
    # so the result survives independent of the loop lineage, then
    # release the cached edge list, as pagerank and bfs_hops do.
    out = labels.select(
        F.col("node"), F.col("label").alias("component")
    ).localCheckpoint()
    sym.unpersist()
    return out


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 9,
    edges_distinct: bool = False,
    symmetric: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list; returns
    (node, rank) with rank = scaled-long internal value / 10^scale.

    Deterministic across engines and partitionings: ranks live in the
    scaled-long domain (``scale`` decimal digits). Each round does
    contribution = round(pr_s / outdeg) (one IEEE divide + half-up
    round), an EXACT long sum per destination (no double-sum order
    sensitivity), and pr_s' = round((1-d)*10^s + d*csum) — the same few
    IEEE ops in any engine. Dangling nodes keep receiving (1-d); their
    lost mass is NOT redistributed (the classic simplification; at web
    scale add one broadcast scalar per round). Headroom: csum is summed
    exactly as longs and re-enters doubles below 2^53, sound to ~9e6
    rank-mass units — beyond any per-node rank here.

    Scale shape: outdeg and ranks are node-keyed; each iteration is one
    shuffle of |edges| contributions onto their destination plus a
    node-keyed left join — the standard distributed PageRank round.
    Lineage is truncated per round (lazy localCheckpoint), so the plan
    stays O(1) in the iteration count.
    """
    factor = 10**scale
    base_s = (1.0 - damping) * factor  # same IEEE ops as the SQL oracle
    # The static frames are hash-partitioned on their join keys and
    # CACHED (not checkpointed: a localCheckpoint scans back as a bare
    # RDD with unknown partitioning, so every round would re-exchange
    # the |edges| side — persist keeps the Exchange in the plan where
    # EnsureRequirements can see it). Each round's e ⋈ state join then
    # reuses e's hash(a) layout with NO per-round edge shuffle, and the
    # state update join reuses nodes_deg's hash(node) layout likewise —
    # the standard cached-invariant layout for distributed PageRank.
    # edges_distinct=True skips the defensive dedup — at graph scale
    # that is one full |edges| shuffle; callers whose edge derivation
    # already dedups (e.g. a distinct directed set unioned with its
    # disjoint reversal) should pass it.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Dedup AFTER the hash(a) repartition, not before: hash(a) satisfies
    # the (a,b) clustering requirement (partition keys ⊆ group keys), so
    # the dropDuplicates aggregate runs on the existing layout with NO
    # extra exchange — one |edges| shuffle total instead of a
    # hash(a,b) distinct exchange followed by the hash(a) repartition.
    e = e.repartition("a")
    if not edges_distinct:
        e = e.dropDuplicates(["a", "b"])
    e = e.persist()
    # symmetric=True: every node appears as a source (the caller built the
    # edge list as directed ∪ reversed), so the node set is just the
    # distinct sources — and since e is hash(a)-partitioned, that distinct
    # is exchange-FREE (partial+final agg on the existing layout). The
    # general path unions both endpoint columns, a 2|edges|-row shuffle.
    if symmetric:
        nodes = e.select(F.col("a").alias("node")).distinct()
    else:
        nodes = (
            e.select(F.col("a").alias("node")).union(e.select("b")).distinct()
        )
    outdeg = e.groupBy("a").agg(F.count(F.lit(1)).alias("outdeg"))
    # The static outdeg rides ON the rank state (node, outdeg, pr_s), so
    # each round joins the edge list exactly ONCE — a second |edges|-wide
    # outdeg join per round would double the dominant shuffle. Dangling
    # nodes carry a null outdeg that is never read (they match no e.a).
    nodes_deg = (
        nodes.join(outdeg, nodes["node"] == outdeg["a"], "left")
        .select("node", "outdeg")
        .repartition("node")
        .persist()
    )
    state = nodes_deg.withColumn("pr_s", F.lit(factor).cast("long"))
    for _ in range(iterations):
        # shuffle_hash on the node-proportional state side: a sort-merge
        # join here would SORT the |edges| side every round — the
        # persisted hash(a) layout avoids the exchange but NOT the sort,
        # and that sort dominated the sf10 wall clock (~94 s isolated).
        # The hash build is |nodes|/tasks entries per task — bounded.
        # per-node contribution round(pr_s/outdeg) is a function of the
        # STATE row alone — compute it once per node before the join
        # (|nodes| divides per round), not once per edge (|edges|, ~70x
        # more at sf10); every out-edge of a then just copies c
        per_node = state.select(
            "node",
            F.round(F.col("pr_s").cast("double") / F.col("outdeg"))
            .cast("long")
            .alias("c"),
        )
        contrib = (
            e.join(per_node.hint("shuffle_hash"), e["a"] == per_node["node"])
            .select("b", "c")
            .groupBy("b")
            .agg(F.sum("c").alias("csum"))
        )
        state = (
            nodes_deg.join(
                contrib.hint("shuffle_hash"), nodes_deg["node"] == contrib["b"], "left"
            )
            .select(
                "node",
                "outdeg",
                F.round(
                    F.lit(base_s)
                    + damping * F.coalesce(F.col("csum"), F.lit(0)).cast("double")
                )
                .cast("long")
                .alias("pr_s"),
            )
            .localCheckpoint(eager=False)
        )
    # materialize the final state (runs the whole lazily-checkpointed loop
    # once — the same work the caller's first action would do), then release
    # the cached invariants so repeated calls don't leak storage memory
    state = state.localCheckpoint()
    e.unpersist()
    nodes_deg.unpersist()
    return state.select(
        "node", (F.col("pr_s").cast("double") / factor).alias("rank")
    )


def bfs_hops(
    edges: DataFrame,
    start: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 3,
) -> DataFrame:
    """Breadth-first frontier expansion: (node, hops) = minimum number of
    directed edges from any ``start`` node, for every node within
    ``max_hops``. The third iterative graph shape next to
    connected_components (label convergence) and pagerank (fixed-point
    scores): BFS state is a growing visited set with a shrinking frontier.

    Scale shape: each hop is ONE equi-join of the frontier against the
    edge list on ``src`` plus an anti-join against the visited set —
    |frontier x out-degree| work, never |nodes|²; the edge list is
    hash-partitioned on the join key and persisted once, so rounds probe
    a cached layout instead of re-exchanging (the pagerank/CC loop
    contract). Early exit when the frontier drains (a tiny convergence
    witness per round, the same count-style trigger CC uses).
    """
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .repartition("_s")
        .persist()
    )
    visited = (
        start.select(F.col(node_col).alias("node"))
        .distinct()  # duplicate seeds would double-count every hop-0 row
        .withColumn("hops", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.node == F.col("_s"))
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(hop))
            .localCheckpoint()  # truncate lineage; frontier is tiny vs edges
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    e.unpersist()  # single-caller invariant, fact-derived: release it
    return visited


def dbscan_from_pairs(
    pairs: DataFrame,
    min_pts: int,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """DBSCAN given a materialized eps-neighborhood pair list: returns
    ``(node, cluster, role)`` where role is ``core`` or ``border`` and
    noise points are absent (standard DBSCAN — noise joins no cluster).

    ``pairs`` holds each neighbor pair once in either orientation; a
    point's neighborhood size counts the point itself (the textbook
    |N_eps(p)| >= minPts). Core points cluster by connectivity through
    CORE-CORE edges (the density-reachability fixpoint collapses to
    connected components over cores); a border point attaches to the
    MINIMUM cluster label among its core neighbors — deterministic where
    the classic scan-order algorithm is arbitrary, which is what makes a
    distributed DBSCAN reproducible run-to-run.

    Scale shape: one symmetrize + degree shuffle, the CC rounds on the
    (much smaller) core-core subgraph, one broadcast-size label join for
    borders. The caller produces ``pairs`` with whatever bucketed
    candidate generation fits the metric (hyperplane LSH for cosine,
    banded minhash for Jaccard) — neighborhoods are never all-pairs."""
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # ONE hash(a) shuffle establishes the layout every downstream step
    # keys on: dropDuplicates runs exchange-free on it (partition keys ⊆
    # group keys), the degree aggregate reuses it, and the core/border
    # semi/anti joins probe it with a broadcast-size core side — the
    # old shape paid a hash(a,b) distinct exchange AND re-derived a
    # per-consumer layout
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition("a")
        .dropDuplicates(["a", "b"])
        .persist()
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("n_neigh"))
    core = deg.filter(F.col("n_neigh") + 1 >= min_pts).select("a")
    core_edges = (
        sym.join(core, "a", "left_semi")
        .join(core.select(F.col("a").alias("b")), "b", "left_semi")
    )
    # sym carries both orientations deduped, and core-core filtering is
    # endpoint-symmetric, so core_edges is already symmetric + distinct —
    # skip connected_components' own union + dedup pass
    linked = connected_components(
        core_edges, src="a", dst="b", symmetric_distinct=True
    ).select(
        F.col("node"), F.col("component").alias("cluster")
    )
    # a core with no CORE neighbor (its density came from borders) is a
    # singleton cluster of its own id
    singletons = (
        core.join(linked.select(F.col("node").alias("a")), "a", "left_anti")
        .select(F.col("a").alias("node"), F.col("a").alias("cluster"))
    )
    core_lab = linked.unionByName(singletons)
    border = (
        sym.join(core, "a", "left_anti")  # non-core side
        .join(
            core_lab.select(F.col("node").alias("b"), "cluster"), "b"
        )  # core neighbor labels
        .groupBy("a")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a").alias("node"), "cluster")
    )
    out = core_lab.withColumn("role", F.lit("core")).unionByName(
        border.withColumn("role", F.lit("border"))
    )
    # materialize the labels (|clustered points|-sized, one job) and
    # release the cached neighborhood — leaving it cached would leak
    # storage per invocation (connected_components, bfs_hops and
    # pagerank make the same release)
    out = out.localCheckpoint()
    sym.unpersist()
    return out
