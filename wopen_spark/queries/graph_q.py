"""Iterative-algorithm coverage: connected components over the MinHash-LSH
candidate pairs = transitive near-dup clusters. The DuckDB oracle computes
the same fixpoint with a recursive CTE (transitive closure + min over the
reachable set), so even the ITERATIVE operator is value-checked, not just
rows-counted."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wopen_spark.operators.dedup import minhash_lsh_candidates
from wopen_spark.operators.graph import connected_components, pagerank
from wopen_spark.queries.dedup import DUCK_LSH_PAIRS, DUCK_LSH_REPS, _lsh_reps
from wopen_spark.queries.registry import _inherit, _spread, _t, query

@query(
    "near_dup_components",
    oracle=f"""
    WITH RECURSIVE pairs AS ({DUCK_LSH_PAIRS}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    rep_comp AS (
      SELECT a AS rep_id, MIN(b) AS component FROM reach GROUP BY a
    ),
    {DUCK_LSH_REPS}
    SELECT d.doc_id AS doc_id, rc.component AS component
    FROM documents d
    JOIN reps rm USING (text)
    JOIN rep_comp rc ON rc.rep_id = rm.doc_id
    ORDER BY d.doc_id
    """,
)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the rep-level LSH
    candidate graph (union-find on the driver for a graph within the
    driver budget, else min-label propagation, one join+agg per
    iteration) vs. a recursive-CTE transitive closure in DuckDB. The
    clustering runs on the DISTINCT-text graph (4 orders of magnitude
    smaller than the doc count on clone-heavy corpora); every doc then
    inherits its representative's component through one broadcast-size
    text join, so the output stays doc-level. Component ids are min
    doc_ids, and reps are min-per-text, so the labels are identical
    either way."""
    reps = _lsh_reps(spark, sf_dir)
    pairs = minhash_lsh_candidates(
        reps, id_col="doc_id", text_col="text", n_hashes=8, n_bands=4
    )
    comps = connected_components(pairs, src="id_a", dst="id_b")
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    # gated rejoins (broadcast small / md5-keyed shuffle large): both the
    # rep and component frames are |distinct texts|-proportional — at
    # 100 TB that side IS the corpus and a forced broadcast would OOM
    inherited = _inherit(
        d, reps.withColumnRenamed("doc_id", "rep_id"), ["text"]
    )
    return (
        _inherit(inherited, comps.withColumnRenamed("node", "rep_id"), ["rep_id"])
        .select("doc_id", "component")
        .orderBy("doc_id")
    )


def _trade_pair_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contracted (customer, supplier) trade-pair frame of the graph
    family: ``pagerank_customer_supplier`` (needs the pair set),
    ``new_trade_edges_per_week`` (needs min order date per pair),
    ``bfs_trade_route_hops`` (needs summed revenue cents per pair).

    One fact join + ONE (ck, sk) aggregate; each consumer builds it from
    its own read of the inputs and scans it exactly once, so nothing is
    persisted and no result outlives its query.

    Shape: shuffle_hash on the smaller orders side (sort-merge would
    sort both facts on a key the pair aggregate immediately re-hashes);
    min(date) and sum(cents) ride the SAME map-side combine, so the
    extras each consumer ignores cost state, not an extra pass. Exact
    scaled-long cents (a float sum could flip a BFS edge between
    engines); min over dates commutes with week truncation downstream.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("o_odate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
    )
    return (
        o.hint("shuffle_hash")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.min("o_odate").alias("first_date"),
            F.sum("cents").alias("cents"),
        )
    )


def _pagerank_oracle(iterations: int = 3) -> str:
    """Fixed-iteration PageRank as a multi-statement temp-table loop —
    the iterative operator stays value-checked (same scaled-long
    arithmetic as ``operators.graph.pagerank``), not just row-counted.

    Scale shape (the r7 sf10 lesson): the old single-query chained-CTE
    form forced DuckDB to keep the 234M-row edge CTE plus every
    iteration's intermediates alive inside ONE pipeline and exhausted
    the box's temp disk at sf10. Materializing each step as a temp
    table bounds peak state to one join at a time, and dropping
    ``pr_r{i-1}`` after each round keeps the loop constant-memory — the
    same reason the Spark side persists only the current rank frame.
    ``CREATE OR REPLACE`` keeps the script idempotent across gate
    re-runs on one connection; the final SELECT is the last statement,
    which is what ``con.execute(...).df()`` returns."""
    stmts = [
        """CREATE OR REPLACE TEMP TABLE pr_edges AS
        WITH directed AS (
          SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        )
        SELECT a, b FROM directed UNION SELECT b, a FROM directed""",
        "CREATE OR REPLACE TEMP TABLE pr_nodes AS "
        "SELECT DISTINCT a AS node FROM pr_edges",
        "CREATE OR REPLACE TEMP TABLE pr_outdeg AS "
        "SELECT a, COUNT(*) AS outdeg FROM pr_edges GROUP BY a",
        "CREATE OR REPLACE TEMP TABLE pr_r0 AS "
        "SELECT node, CAST(1000000000 AS BIGINT) AS pr_s FROM pr_nodes",
    ]
    for i in range(1, iterations + 1):
        stmts.append(f"""CREATE OR REPLACE TEMP TABLE pr_r{i} AS
        WITH c AS (
          SELECT e.b AS node,
                 SUM(CAST(round(CAST(r.pr_s AS DOUBLE) / o.outdeg) AS BIGINT)) AS csum
          FROM pr_edges e
          JOIN pr_r{i - 1} r ON e.a = r.node
          JOIN pr_outdeg o ON e.a = o.a
          GROUP BY e.b
        )
        SELECT n.node,
               CAST(round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * 1000000000
                          + CAST(0.85 AS DOUBLE) * CAST(COALESCE(c.csum, 0) AS DOUBLE))
                    AS BIGINT) AS pr_s
        FROM pr_nodes n LEFT JOIN c ON n.node = c.node""")
        stmts.append(f"DROP TABLE pr_r{i - 1}")
    stmts.append("DROP TABLE pr_edges")
    stmts.append(
        f"""SELECT node, CAST(pr_s AS DOUBLE) / 1000000000 AS rank
        FROM pr_r{iterations} ORDER BY rank DESC, node"""
    )
    return ";\n".join(stmts)


@query("pagerank_customer_supplier", oracle=_pagerank_oracle(3))
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed rounds, d=0.85) over the undirected bipartite
    customer~supplier trade graph derived from orders x lineitem.
    Centrality scoring of the entity graph — the standard iterative
    test beyond connected components. The edge set comes from the
    contracted pair summary (``_trade_pair_summary`` — one fact join
    and one pair aggregate); each round is then
    |edges|-shaped, exactly the distributed PageRank loop (see
    operators/graph.pagerank for the determinism contract)."""
    pairs = _trade_pair_summary(spark, sf_dir)
    cust = F.col("ck") * 2
    supp = F.col("sk") * 2 + 1
    # Map-side explode emits BOTH edge directions from ONE pass over the
    # contracted pair frame — a union of `directed` with its reversal
    # would compute the pairs twice for nothing.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(cust.alias("src"), supp.alias("dst")),
                F.struct(supp.alias("src"), cust.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # edges_distinct=True: the pair summary is already one row per
    # (ck, sk), and the two exploded directions cannot collide (src
    # parity differs and each pair determines both endpoints) — without
    # the flag the operator would re-aggregate the whole edge list it
    # just received deduped, a second |edges| hash aggregation for
    # nothing (measured +16 s in-suite at sf10).
    # symmetric=True: the reversed union guarantees every node appears as
    # a source, so the operator derives the node set from src alone —
    # exchange-free on the hash(a) edge layout instead of a 2|edges|-row
    # union+distinct shuffle (234M rows at sf10).
    ranks = pagerank(
        edges, src="src", dst="dst", iterations=3, damping=0.85,
        symmetric=True, edges_distinct=True,
    )
    return ranks.orderBy(F.desc("rank"), "node")


# ---------------------------------------------------------------------------
# Triangle count over the LSH candidate graph — the third graph
# analytic after components and PageRank. Canonical edges (a < b) make
# each triangle count exactly once: wedge (a<b<c) from edges (a,b)+
# (b,c), closed by edge (a,c). Scale shape: two joins over the SPARSE
# candidate edge list (bounded by LSH bucket sizes), never the corpus;
# the wedge join keys on the shared middle vertex.
# ---------------------------------------------------------------------------
@query(
    "near_dup_triangle_count",
    oracle=f"""
    WITH pairs AS ({DUCK_LSH_PAIRS}),
    wedges AS (
      SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      FROM pairs e1 JOIN pairs e2 ON e1.id_b = e2.id_a
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           (SELECT COUNT(*) FROM pairs) AS n_edges
    FROM wedges w JOIN pairs e3 ON w.a = e3.id_a AND w.c = e3.id_b
    """,
)
def near_dup_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wopen_spark.queries.dedup import _lsh_reps

    pairs = minhash_lsh_candidates(
        _lsh_reps(spark, sf_dir), id_col="doc_id", text_col="text",
        n_hashes=8, n_bands=4,
    ).localCheckpoint()  # reused three times: compute the LSH pipeline once
    e1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = pairs.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    wedges = e1.join(e2, e1.b == e2.b2).select("a", "b", "c")
    e3 = pairs.select(F.col("id_a").alias("a3"), F.col("id_b").alias("c3"))
    tri = wedges.join(
        e3, (wedges.a == e3.a3) & (wedges.c == e3.c3)
    ).agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return tri.join(F.broadcast(n_edges))


# ---------------------------------------------------------------------------
# Graph evolution: NEW trade edges per week — each (customer, supplier)
# pair attributed to the week it first traded. The first-seen reduction
# is a MIN aggregate on the contracted pair set (one fact shuffle);
# weeks truncate to Monday identically on both engines.
# ---------------------------------------------------------------------------
@query(
    "new_trade_edges_per_week",
    oracle="""
    WITH first_seen AS (
      SELECT o.o_custkey AS ck, l.l_suppkey AS sk,
             MIN(date_trunc('week', CAST(o.o_orderdate AS DATE))) AS wk
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    )
    SELECT strftime(wk, '%Y-%m-%d') AS week, COUNT(*) AS n_new_edges
    FROM first_seen GROUP BY 1 ORDER BY 1
    """,
)
def new_trade_edges_per_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the pair summary carries min(o_odate) per (ck, sk);
    # date_trunc('week') is monotone non-decreasing, so trunc(min(d)) =
    # min(trunc(d)) — applying it on the contracted frame runs it once
    # per PAIR, not once per 60M join rows. The only work beyond the
    # pair summary is one pair-sized week aggregate.
    pairs = _trade_pair_summary(spark, sf_dir)
    return (
        pairs.groupBy(
            F.date_format(
                F.date_trunc("week", F.col("first_date")), "yyyy-MM-dd"
            ).alias("week")
        )
        .agg(F.count(F.lit(1)).alias("n_new_edges"))
        .orderBy("week")
    )


_TRADE_EDGE_CENTS = 800_000_000  # >= 8M revenue makes a trade-route edge


@query(
    "bfs_trade_route_hops",
    oracle=f"""
    WITH RECURSIVE rev AS (
      SELECT cn.n_name AS src, sn.n_name AS dst,
             SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) AS cents
      FROM customer c
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst FROM rev WHERE cents >= {_TRADE_EDGE_CENTS}
    ),
    start AS (
      SELECT src AS node FROM rev
      GROUP BY src ORDER BY SUM(cents) DESC, src LIMIT 1
    ),
    bfs AS (
      SELECT node, 0 AS hops FROM start
      UNION ALL
      SELECT e.dst, b.hops + 1
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.hops < 3
    )
    SELECT node, CAST(MIN(hops) AS INTEGER) AS hops
    FROM bfs GROUP BY node ORDER BY hops, node
    """,
)
def bfs_trade_route_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest hops over the DIRECTED nation trade-route graph: an
    edge src->dst where customers in src bought >= 8M revenue from
    suppliers in dst; start node = the nation with the largest total
    outgoing revenue (derived from the data, so deterministic across
    engines and scale factors). Third iterative-graph shape in the gate
    (components = label convergence, pagerank = fixed point, BFS =
    frontier expansion), oracle-checked against a recursive CTE.

    Scale: revenue per (customer, supplier) comes from the contracted
    pair summary (one fact join and one pair aggregate);
    the nation rollup is then pair-sized work — broadcast dims onto the
    contracted frame, one tiny aggregate. Exact scaled-long revenue
    (cents — a threshold on a float sum could flip an edge between
    engines, and long sums re-aggregate associatively from pair to
    nation level); each hop is |frontier|x|edges| equi-join work against
    a persisted hash-partitioned edge list (operators/graph.bfs_hops).
    """
    from wopen_spark.operators.graph import bfs_hops

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pairs = _trade_pair_summary(spark, sf_dir)
    rev = (
        pairs.join(F.broadcast(c), pairs.ck == c.c_custkey)
        .join(F.broadcast(s), pairs.sk == s.s_suppkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))),
            F.col("s_nationkey") == F.col("snk"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("cents").alias("cents"))
        .localCheckpoint()  # nation-pair matrix (<=625 rows), used 3 ways
    )
    edges = rev.filter(F.col("cents") >= _TRADE_EDGE_CENTS)
    start = (
        rev.groupBy("src")
        .agg(F.sum("cents").alias("out_cents"))
        .orderBy(F.desc("out_cents"), "src")
        .limit(1)
        .select(F.col("src").alias("node"))
    )
    return bfs_hops(edges, start, max_hops=3).orderBy("hops", "node")
