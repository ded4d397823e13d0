"""Graph-analytics queries (round 4 widening).

``pagerank_trade_graph`` — PageRank over the bipartite customer–supplier
trade graph (an edge where a customer's order contains a supplier's line
item), computed with FIXED-POINT INTEGER arithmetic so ten iterations are
hash-exact across engines: every rank is a BIGINT in 1e-12 units, every
contribution is a single integer division (floor), and the damping terms
are integer constants — no float drift anywhere, the same discipline as
``embedding_kmeans_stats``'s deterministic Lloyd iterations.

The iterative-join pattern is the point: connected components
(``operators/dedup.py``) covers label propagation; this covers the other
canonical "loop until converged" graph shape — rank flowing along edges
with per-round materialization to cut lineage. At 100 TB the per-round
cost is one shuffle join on the edge list (AQE broadcasts the rank table
while it fits) + one aggregation; the driver sees scalars only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..materialize import materialize, shared, shared_value, unpin
from ..registry import register

_ITERS = 10
_PIN_EVERY = 5           # rounds chained per materialization (see loop)
_SCALE = 10**12          # rank unit: 1e-12
_DAMP_NUM = 850_000      # 0.85 in ppm
_BASE_NUM = 150_000      # 0.15 in ppm
_PPM = 1_000_000


def _oracle_sql() -> str:
    """Ten chained CTEs, one per PageRank round — generated, not
    hand-written, so the Spark loop and the SQL mirror can't drift.

    Every SUM is wrapped in ``CAST(... AS BIGINT)``: DuckDB promotes
    ``SUM(BIGINT)`` to HUGEINT (int128), and an int128 column reaching
    the driver's value-hasher through Arrow/numpy can hash differently
    from Spark's int64 even when the decimal values are identical. The
    values themselves always fit in 63 bits (ranks sum to ~1e12 total),
    so the cast is lossless — it only pins the physical type.
    """
    base = f"(SELECT ({_BASE_NUM} * {_SCALE}::BIGINT) // ({_PPM}::BIGINT * n) FROM params)"
    rounds = []
    for i in range(1, _ITERS + 1):
        rounds.append(
            f"""r{i} AS (
      SELECT e.dst AS node,
             CAST({base}
                  + SUM((r.rank * {_DAMP_NUM}) // ({_PPM}::BIGINT * d.deg))
                  AS BIGINT) AS rank
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.node
      JOIN deg d ON e.src = d.node
      GROUP BY e.dst
    )"""
        )
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH edges0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT src, dst FROM edges0
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges0
    ),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    params AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (
      SELECT node, ({_SCALE}::BIGINT // n) AS rank FROM deg, params
    ),
    {rounds_sql}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(node // 2 AS BIGINT) AS entity_id,
           CAST(rank AS BIGINT) AS rank_1e12
    FROM r{_ITERS}
    ORDER BY rank DESC, node
    LIMIT 20
    """


def _trade_graph(spark: SparkSession, sf_dir: str):
    """Session-shared pinned edge⋈degree table plus its node count.

    The trade graph is a pure function of the corpus — a production
    pipeline builds its adjacency ONCE and every iterative consumer
    (PageRank here, components/labels elsewhere) reads the persisted
    table; rebuilding 1.17M directed edges per query call was ~40% of
    the panel's wall-clock at sf0.1 (round-6 tuning; same persisted-
    intermediate precedent as dedup_q's shingle table and embed_q's
    chunk index). Coalesced to 8 partitions so each rank round schedules
    a handful of right-sized tasks instead of 32 tiny ones (measured:
    32 parts 6.7s → 8 parts 5.5–6.1s for the full loop)."""
    def _build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        edges0 = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )
        edges = edges0.unionByName(
            edges0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        return (
            edges.join(deg, edges.src == deg.node)
            .select("src", "dst", "deg")
            .coalesce(8)
        )

    with_deg = shared(("trade_graph", sf_dir), spark, _build)
    # one distinct-count job per (session, corpus), amortized across
    # every later call
    n_nodes = shared_value(
        ("trade_graph_nodes", sf_dir), spark,
        lambda: with_deg.select("src").distinct().count(),
    )
    return with_deg, n_nodes


@register("pagerank_trade_graph", oracle=_oracle_sql())
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank over the customer–supplier trade graph after 10
    damped (0.85) rounds in fixed-point BIGINT arithmetic.

    Encoding: customer c → node 2c, supplier s → node 2s+1 (disjoint id
    spaces in one BIGINT column). The undirected trade edge becomes two
    directed edges; every node therefore has out-degree ≥ 1, so there are
    no dangling nodes and the per-round aggregation covers every node.

    Per round: ranks join the edge list on the source (broadcast — the
    rank table is |nodes| rows; at web scale this degrades gracefully to
    a shuffle join co-partitioned with the edges), each edge carries
    ``(rank·0.85ppm) div (ppm·degree)`` — ONE integer floor-division,
    identical in both engines — and the destination sums (map-side
    combined, so the shuffle carries |nodes|·|tasks| rows, not |edges|).
    Rank tables are pinned through the materialization seam each round,
    keeping every round's plan O(1)-deep.
    """
    with_deg, n = _trade_graph(spark, sf_dir)
    base = (_BASE_NUM * _SCALE) // (_PPM * n)
    ranks = (
        with_deg.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(_SCALE // n).cast("long").alias("rank"))
    )
    # Pinning CADENCE (round-6 measurements at sf0.1, 16k nodes / 1.17M
    # directed edges, shared graph artifact): chaining _PIN_EVERY rounds
    # into ONE job — the inner broadcasts become stages of that job —
    # cuts job count and driver round-trips. Warm-session min-of-3 for
    # the full query: K=2 3.34s, K=3 2.90s, K=5 2.83s, K=10 3.08s — K=5
    # takes the job-count win while keeping failure-retry granularity at
    # two pins per query; K=10's single giant plan gives the gain back
    # to codegen/AQE compile weight. A fully lazy 10-round DAG without
    # the loop's pins stays SLOWER everywhere (7.8–13.8s measured in
    # round 5: AQE re-plans every stage).
    prev = None
    for i in range(_ITERS):
        # ranks is |nodes| rows — broadcast explicitly; the localCheckpoint
        # leaf hides size stats from AQE, which would otherwise shuffle.
        r = F.broadcast(ranks)
        contrib = with_deg.join(r, with_deg.src == r["node"]).select(
            "dst",
            F.expr(f"(rank * {_DAMP_NUM}) div ({_PPM}L * deg)").alias("share"),
        )
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(base) + F.sum("share")).cast("long").alias("rank")
        )
        if i % _PIN_EVERY == _PIN_EVERY - 1 or i == _ITERS - 1:
            ranks = materialize(ranks)
            # earlier pinned state has no consumers now — keep it O(1)
            unpin(prev)
            prev = ranks
    # top-20 selection tie-breaks on the RAW node id (identical to the
    # oracle's ORDER BY rank DESC, node), then projects the display shape.
    top = ranks.orderBy(F.desc("rank"), "node").limit(20)
    return top.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("entity_id"),
        F.col("rank").alias("rank_1e12"),
    )


#: Per-order pair expansion: a sorted distinct-part array explodes into its
#: C(k, 2) ordered pairs entirely inside the JVM (nested array transforms) —
#: the same pair set the naive items-self-join-on-order produces, minus the
#: join's two exchanges (r12 optimization: the self-join shuffled the items
#: table twice before the pair DISTINCT; one groupBy(order) shuffle now does
#: it, and collect_set subsumes the per-(order, part) DISTINCT as well).
_ORDER_PAIRS = (
    "explode(flatten(transform(ps, (x, i) -> "
    "transform(slice(ps, i + 2, size(ps) - i - 1), "
    "y -> struct(x AS u, y AS v)))))"
)


def _copurchase_edges_and_degrees(spark: SparkSession, sf_dir: str):
    """Distinct undirected co-purchase edges (u < v) of the part graph,
    pinned once, plus the per-node degree table derived from them.

    Pair volume stays sigma C(basket, 2) exactly as before — the per-order
    part array is basket-bounded, so the explode never amplifies beyond
    what the old items-self-join produced."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    edges = materialize(
        baskets.select(F.expr(_ORDER_PAIRS).alias("e"))
        .select("e.u", "e.v")
        .distinct()
    )
    deg = edges.select(F.col("u").alias("n")).union(
        edges.select(F.col("v").alias("n"))
    ).groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("d"))
    return edges, deg


def _degree_oriented(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered orientation: each edge points from its (degree, id)-
    smaller endpoint, carrying the head's degree for the wedge tie-break.

    NO forced broadcast on the degree table (round-6 verdict item 3): deg
    is O(|V|) rows — tiny at these SFs, executor-OOM at a web-scale graph.
    AQE decides at runtime from the measured size (broadcasts here,
    degrades to a shuffle join co-partitioned on the node key at scale).
    The absence of a mandatory build-side is pinned in
    ``tests/test_plans.py::test_triangle_degree_join_has_no_forced_broadcast``."""
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ed = edges.join(du, "u").join(dv, "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    return ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("td"),
    )


@register(
    "copurchase_triangle_stats",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
      ) GROUP BY n
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
             CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t,
             CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS td
      FROM edges JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v
    ),
    wedge AS (
      SELECT a.t AS x, b.t AS y
      FROM oriented a JOIN oriented b
        ON a.s = b.s AND (a.td, a.t) < (b.td, b.t)
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM wedge w JOIN oriented o ON o.s = w.x AND o.t = w.y
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    ),
    ecnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
    SELECT s.n_nodes, e.n_edges, s.n_wedges, t.n_triangles,
           ROUND(3.0 * t.n_triangles / s.n_wedges, 6) AS global_cc
    FROM stats s, ecnt e, tri t
    """,
)
def copurchase_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (parts are adjacent iff some order contains both):
    how transitive is purchase affinity — the one-number summary of
    whether "bought together" forms communities or hub-and-spoke noise.
    Completes the canonical distributed-graph trio (connected components,
    PageRank, triangle counting).

    The algorithm is the MPC-standard DEGREE-ORDERED orientation: each
    edge points from its (degree, id)-smaller endpoint (out-degree is
    O(sqrt(m)) under this orientation — THE trick that bounds the work at
    web scale; orientation by raw id leaves a high-degree hub with
    million-wide fan-out). Triangles are counted in the EDGE-ITERATOR
    form: every triangle {a < b < c} (by (degree, id)) contributes its
    two out-edges a->b, a->c as a wedge that closes iff b->c is oriented,
    so n_triangles = SUM over oriented edges (u, v) of
    |N_out(u) INTERSECT N_out(v)| — one groupBy builds the bounded
    out-neighbor arrays, two equi-joins attach them to each edge, and
    ``array_intersect`` counts closures inside the JVM. The r11 form
    ENUMERATED every wedge and shuffled all of them into a closing join
    (41.1M wedge rows vs 1.2M edges at sf0.1 — a 34x shuffle-volume
    amplification, measured 6.9s in the closing join alone); the
    edge-iterator form shuffles O(m) rows total and computes the same
    BIGINT count (verified value-identical, 1,884,488 at sf0.1). The
    oracle mirrors the wedge ENUMERATION semantics unchanged — the
    returned stats are identical; only the Spark plan shape changed
    (r12, guide §2.3/§3).

    Scale shape: per-order part arrays bound pair volume at
    sigma C(basket, 2); the neighbor-array groupBy and both attach joins
    are partitioned by node key; arrays are O(sqrt(m)) long. No window,
    no global sort, no wedge materialization anywhere."""
    edges, deg = _copurchase_edges_and_degrees(spark, sf_dir)
    oriented = materialize(_degree_oriented(edges, deg))
    nbrs = oriented.groupBy(F.col("s").alias("n")).agg(
        F.collect_list("t").alias("nb")
    )
    nu = nbrs.select(F.col("n").alias("s"), F.col("nb").alias("nb_u"))
    nv = nbrs.select(F.col("n").alias("t"), F.col("nb").alias("nb_v"))
    tri = F.broadcast(
        oriented.select("s", "t")
        .join(nu, "s")
        .join(nv, "t")
        .select(F.size(F.array_intersect("nb_u", "nb_v")).alias("c"))
        .agg(F.sum("c").cast("long").alias("n_triangles"))
    )
    stats = F.broadcast(
        deg.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.col("d") * (F.col("d") - 1) / 2)
            .cast("long")
            .alias("n_wedges"),
        )
    )
    ecnt = F.broadcast(
        edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    return (
        stats.crossJoin(ecnt)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("global_cc"),
        )
    )


# ---------------------------------------------------------------------------
# Degree-distribution audit of the shared trade graph.

_DEG_EDGE_CTES = """
    edges0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT src, dst FROM edges0
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges0
    ),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY src)
"""


@register(
    "degree_distribution_stats",
    oracle=f"""
    WITH {_DEG_EDGE_CTES},
    b AS (
      SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
             CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
             deg
      FROM deg
    ),
    cells AS (
      SELECT node_type, bucket,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             MIN(deg) AS min_deg, MAX(deg) AS max_deg,
             CAST(SUM(deg) AS BIGINT) AS sum_deg
      FROM b GROUP BY node_type, bucket
    ),
    tot AS (SELECT node_type, CAST(SUM(n_nodes) AS BIGINT) AS t
            FROM cells GROUP BY node_type)
    SELECT c.node_type, c.bucket, c.n_nodes, c.min_deg, c.max_deg,
           c.sum_deg,
           ROUND(c.n_nodes::DOUBLE / t.t::DOUBLE, 6) AS pct_nodes
    FROM cells c JOIN tot t USING (node_type)
    ORDER BY c.node_type, c.bucket
    """,
)
def degree_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the customer–supplier trade
    graph, split by node side — the skew panel read BEFORE launching any
    iterative graph job on this adjacency (PageRank above, components,
    label propagation): a heavy top bucket on one side says the
    rank-contribution shuffle will hot-spot on those keys and the job
    wants salting or a high-degree-vertex split (GraphX/GraphFrames'
    skewed-vertex mitigation); a straight line in log-log says
    power-law, the usual licence to cap or sample super-nodes.

    Reuses the session-shared pinned edge⋈degree artifact
    (`_trade_graph`) — the panel costs one distinct over (node, deg)
    plus a |buckets|-row rollup. Bucket = floor(log2(deg)) computed as
    length(bin(deg)) - 1: pure integer arithmetic on both engines (a
    floating log2 could land a power of two in the wrong bucket by one
    ulp). Counts/min/max/sums are all integers; the one share is a
    mirrored double division."""
    with_deg, _ = _trade_graph(spark, sf_dir)
    nodes = with_deg.select(F.col("src").alias("node"), "deg").distinct()
    b = nodes.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        (F.length(F.bin("deg")) - 1).cast("long").alias("bucket"),
        "deg",
    )
    cells = materialize(
        b.groupBy("node_type", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
            F.sum("deg").cast("long").alias("sum_deg"),
        )
    )
    tot = F.broadcast(
        cells.groupBy("node_type").agg(
            F.sum("n_nodes").cast("long").alias("t")
        )
    )
    return (
        cells.join(tot, "node_type")
        .select(
            "node_type",
            "bucket",
            "n_nodes",
            "min_deg",
            "max_deg",
            "sum_deg",
            F.round(
                F.col("n_nodes").cast("double") / F.col("t").cast("double"), 6
            ).alias("pct_nodes"),
        )
        .orderBy("node_type", "bucket")
    )


# ---------------------------------------------------------------------------
# Round 8: community detection — synchronous label propagation (Raghavan
# et al. 2007), the third canonical iterative graph shape after components
# (operators/dedup.py) and PageRank (above). Deterministic variant: each
# node adopts the most frequent neighbor label, ties broken by SMALLEST
# label — no randomness, so four synchronous rounds mirror exactly as
# generated CTEs.

_LPA_ROUNDS = 4


def _lpa_ctes() -> str:
    """Shared CTE chain of the synchronous LPA rounds: edges/nodes/l0
    through l{_LPA_ROUNDS} — reused by the convergence panel and the
    modularity panel so the two mirrors cannot drift."""
    rounds = []
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""c{r} AS (
      SELECT e.src AS node, l.lbl, COUNT(*) AS c
      FROM edges e JOIN l{r - 1} l ON l.node = e.dst
      GROUP BY e.src, l.lbl
    ),
    l{r} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM c{r}) WHERE rn = 1
    )"""
        )
    return f"""edges0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT src, dst FROM edges0
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges0
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (SELECT node, node AS lbl FROM nodes),
    {",".join(rounds)}"""


def _lpa_oracle() -> str:
    stats = []
    for r in range(1, _LPA_ROUNDS + 1):
        stats.append(
            f"""s{r} AS (
      SELECT {r} AS round,
             (SELECT CAST(COUNT(DISTINCT lbl) AS BIGINT) FROM l{r})
               AS n_labels,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM l{r} a JOIN l{r - 1} b USING (node)
              WHERE a.lbl <> b.lbl) AS n_changed,
             (SELECT CAST(MAX(c) AS BIGINT) FROM
                (SELECT COUNT(*) AS c FROM l{r} GROUP BY lbl))
               AS max_community,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT COUNT(*) AS c FROM l{r} GROUP BY lbl) WHERE c = 1)
               AS singleton_communities
    )"""
        )
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM s{r}" for r in range(1, _LPA_ROUNDS + 1)
    )
    return f"""
    WITH {_lpa_ctes()},
    {",".join(stats)}
    SELECT * FROM ({unions}) ORDER BY round
    """


@register("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community structure of the trade graph by {_LPA_ROUNDS} synchronous
    label-propagation rounds: per round the surviving label count, nodes
    that changed label, the largest community, and remaining singleton
    communities — the convergence panel that sizes a partitioning/
    colocation strategy for the graph (communities = the co-shuffle
    groups a 100 TB graph job wants co-located).

    Scale shape per round: one equi-join of the pinned symmetrized edge
    table against the (n_nodes-row) label table — AQE broadcasts the
    label side while it fits — one (node, label) count with map-side
    combine, one per-node argmax via ``max(struct(count, -label))`` (max
    count, then smallest label — no window over the edge stream), pinned
    per round. The stats rows read the pinned label tables only
    (session-shared: the label chain is a pure function of the corpus).

    On a BIPARTITE graph synchronous LPA oscillates sides (every node
    swaps to the other side's dominant label each round — visible as
    ``n_changed == n_nodes`` while ``n_labels`` still collapses); that
    is the documented Raghavan-et-al behavior for synchronous updates
    and is itself the signal that an asynchronous/semi-sync schedule is
    needed before using the labels for colocation."""
    with_deg, _n = _trade_graph(spark, sf_dir)
    edges = with_deg.select("src", "dst")
    nodes = edges.select(F.col("src").alias("node")).distinct()
    labels = [
        shared(
            ("lpa_labels", sf_dir, 0),
            spark,
            lambda: nodes.withColumn("lbl", F.col("node")),
        )
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        prev = labels[-1]

        def _round(prev: DataFrame = prev) -> DataFrame:
            cnt = (
                edges.join(
                    prev.select(F.col("node").alias("dst"), "lbl"), "dst"
                )
                .groupBy("src", "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            return (
                cnt.groupBy("src")
                .agg(
                    F.max(
                        F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))
                    ).alias("m")
                )
                .select(
                    F.col("src").alias("node"), (-F.col("m.neg")).alias("lbl")
                )
            )

        labels.append(shared(("lpa_labels", sf_dir, r), spark, _round))
    # Stats tail folded into ONE plan over a round-tagged union of the
    # pinned label tables (r12, guide §1.5/§2.6): the per-round loop ran
    # 2 driver actions per round (8 sequential micro-jobs whose wall-
    # clock was fixed job overhead, not data); the fold computes every
    # round's metrics in one grouped pass and the result is assembled by
    # the single consuming action. Same integer arithmetic, same rows.
    cur_all = _round_tagged(labels, lambda r: r)
    prev_all = _round_tagged(labels, lambda r: r - 1)
    comm = cur_all.groupBy("round", "lbl").agg(F.count(F.lit(1)).alias("c"))
    agg = comm.groupBy("round").agg(
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.max("c").cast("long").alias("max_community"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
        .alias("singleton_communities"),
    )
    changed = (
        cur_all.join(
            prev_all.withColumnRenamed("lbl", "_plbl"), ["round", "node"]
        )
        .filter(F.col("lbl") != F.col("_plbl"))
        .groupBy("round")
        .agg(F.count(F.lit(1)).cast("long").alias("n_changed"))
    )
    return (
        agg.join(changed, "round", "left")
        .select(
            "round",
            "n_labels",
            F.coalesce("n_changed", F.lit(0)).cast("long")
            .alias("n_changed"),
            "max_community",
            "singleton_communities",
        )
        .orderBy("round")
    )


def _round_tagged(labels, pick) -> DataFrame:
    """Union of the pinned per-round label tables, each tagged with its
    round number: ``labels[pick(r)]`` contributes the rows for round
    ``r`` (``pick`` maps a stats round to a chain index — identity for
    the current round, ``r - 1``/``2r - 2`` for the previous one). Reads
    pinned blocks only; no recompute."""
    parts = [
        labels[pick(r)].withColumn("round", F.lit(r).cast("int"))
        for r in range(1, _LPA_ROUNDS + 1)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _modularity_oracle() -> str:
    """Per LPA round, Newman modularity with an ALL-INTEGER numerator:
    Q = (M·intra − Σ d_c²) / M² where M is the DIRECTED (symmetrized)
    edge count, intra the directed intra-community edge count, and d_c
    the community degree sums — one exact integer division per round,
    so the rounded doubles agree across engines bit for bit."""
    qs = []
    for r in range(1, _LPA_ROUNDS + 1):
        qs.append(
            f"""q{r} AS (
      SELECT {r} AS round,
             (SELECT CAST(COUNT(DISTINCT lbl) AS BIGINT) FROM l{r})
               AS n_communities,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM edges e
              JOIN l{r} a ON a.node = e.src
              JOIN l{r} b ON b.node = e.dst
              WHERE a.lbl = b.lbl) AS intra_directed,
             (SELECT CAST(SUM(dc * dc) AS BIGINT) FROM (
                SELECT CAST(SUM(d.d) AS BIGINT) AS dc
                FROM (SELECT src AS node, COUNT(*) AS d
                      FROM edges GROUP BY src) d
                JOIN l{r} ON l{r}.node = d.node
                GROUP BY l{r}.lbl)) AS sum_dc2
    )"""
        )
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM q{r}" for r in range(1, _LPA_ROUNDS + 1)
    )
    return f"""
    WITH {_lpa_ctes()},
    {",".join(qs)},
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS M FROM edges)
    SELECT round, n_communities,
           ROUND(intra_directed::DOUBLE / M, 6) AS intra_share,
           ROUND((M * intra_directed - sum_dc2)::DOUBLE
                 / (M::DOUBLE * M), 6) AS modularity
    FROM ({unions}), m
    ORDER BY round
    """


@register("community_modularity_stats", oracle=_modularity_oracle())
def community_modularity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-quality curve for the LPA label chain: per round, the
    community count, the share of edges INSIDE communities, and Newman
    modularity Q — the metric that decides whether the labels are worth
    using as co-location keys (Q near 0 here: the fixture trade graph
    is one dense near-bipartite component, exactly what the panel should
    report before anyone partitions by it).

    Scale shape per round: the intra count is the edge table joined to
    the (n_nodes-row) pinned label table on BOTH endpoints (label side
    broadcastable); degree sums reuse the shared degree column; Q's
    numerator is pure BIGINT arithmetic (no float accumulation — one
    rounded division at the end, cross-engine exact)."""
    with_deg, _n = _trade_graph(spark, sf_dir)
    edges = with_deg.select("src", "dst")
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    M = edges.count()  # scalar; the graph artifact is session-pinned
    # reuse the session-shared label chain the convergence panel built
    # (constructing its DataFrame pins every round eagerly)
    from ..materialize import shared_get

    label_propagation_communities(spark, sf_dir)
    labels = [None] + [
        shared_get(("lpa_labels", sf_dir, r), spark)
        for r in range(1, _LPA_ROUNDS + 1)
    ]
    assert all(l is not None for l in labels[1:])  # pinned by the call above
    # Stats tail folded into ONE plan (r12, guide §1.5/§2.6): the loop ran
    # 2 driver actions per round (8 sequential micro-jobs); a round-tagged
    # union of the pinned label tables computes every round's intra count
    # and degree sums in one pass. Same BIGINT arithmetic; the final
    # divisions + rounding stay IN-PLAN with F.round (HALF_UP, matching
    # DuckDB ROUND) — Python round() is banker's rounding and would
    # hash-mismatch on exact 1e-6 halves.
    cur_all = _round_tagged(labels, lambda r: r)
    la = cur_all.select(
        F.col("node").alias("src"), F.col("lbl").alias("_la"), "round"
    )
    lb = cur_all.select(
        F.col("node").alias("dst"), F.col("lbl").alias("_lb"), "round"
    )
    intra = (
        edges.join(la, "src")
        .join(lb, ["dst", "round"])
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy("round")
        .agg(F.count(F.lit(1)).cast("long").alias("intra"))
    )
    dc = (
        deg.join(cur_all, "node")
        .groupBy("round", "lbl")
        .agg(F.sum("d").cast("long").alias("dc"))
    )
    agg = dc.groupBy("round").agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sum_dc2"),
    )
    return (
        agg.join(intra, "round", "left")
        .select(
            "round",
            "n_communities",
            F.round(
                F.coalesce("intra", F.lit(0)) / F.lit(M), 6
            ).alias("intra_share"),
            F.round(
                (F.lit(M) * F.coalesce("intra", F.lit(0)) - F.col("sum_dc2"))
                / F.lit(M * M),
                6,
            ).alias("modularity"),
        )
        .orderBy("round")
    )


# ---------------------------------------------------------------------------
# Semi-synchronous LPA (round-8 verdict item 5): synchronous LPA provably
# oscillates on bipartite graphs (every node swaps to the other side's
# dominant label each round — the convergence panel shows n_changed ==
# n_nodes and Q bottoming at -0.5). The standard fix (Raghavan et al. §3;
# Cordasco & Gargano, "Community detection via semi-synchronous label
# propagation", 2010) is a graph-coloring schedule: update one color
# class per half-round while the other side's labels stay frozen. The
# trade graph is 2-colorable by construction (customers even, suppliers
# odd), so the schedule is exactly side-alternation.


def _lpa_semisync_labels(edges: DataFrame, n_half: int, pin) -> list[DataFrame]:
    """Label chain of ``n_half`` semi-synchronous half-rounds over a
    symmetrized (src, dst) edge table whose node ids encode the bipartite
    side in their parity (even/odd). Half-round h updates only nodes of
    parity ``0 if h odd else 1`` to the plurality label among their
    neighbors (ties to the smallest label); the other side carries over.
    ``pin(h, build)`` pins each half-round's table (``shared`` in the
    registered query, ``materialize`` in tests over synthetic graphs).

    Scale shape per half-round: one equi-join of the parity-filtered
    edge table against the label table (AQE broadcasts the label side
    while it fits), one (node, label) count with map-side combine, one
    per-node ``max(struct)`` argmax, one union with the carried side —
    same linear-shuffle budget as a synchronous round."""
    nodes = edges.select(F.col("src").alias("node")).distinct()
    labels = [pin(0, lambda: nodes.withColumn("lbl", F.col("node")))]
    for h in range(1, n_half + 1):
        p = 0 if h % 2 == 1 else 1
        prev = labels[-1]

        def _half(prev: DataFrame = prev, p: int = p) -> DataFrame:
            cnt = (
                edges.filter(F.col("src") % 2 == p)
                .join(prev.select(F.col("node").alias("dst"), "lbl"), "dst")
                .groupBy("src", "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            upd = (
                cnt.groupBy("src")
                .agg(
                    F.max(
                        F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))
                    ).alias("m")
                )
                .select(
                    F.col("src").alias("node"), (-F.col("m.neg")).alias("lbl")
                )
            )
            return upd.unionByName(prev.filter(F.col("node") % 2 != p))

        labels.append(pin(h, _half))
    return labels


def _lpa_semi_ctes() -> str:
    """Generated DuckDB mirror of the semi-synchronous half-round chain,
    ``h0`` (identity) through ``h{2 * _LPA_ROUNDS}`` — built on top of
    :func:`_lpa_ctes`' shared edge/node CTEs."""
    # Every h{h} is referenced twice (the next half-round's count AND its
    # carry-over union) and five more times by the stats tails: left to
    # DuckDB's default inlining the 8-deep chain re-expands exponentially
    # (the sf0.001 oracle did not finish in minutes). AS MATERIALIZED
    # forces each half-round to evaluate once — the mirror of the Spark
    # side's per-half-round pin.
    ctes = ["h0 AS MATERIALIZED (SELECT node, lbl FROM l0)"]
    for h in range(1, 2 * _LPA_ROUNDS + 1):
        p = 0 if h % 2 == 1 else 1
        ctes.append(
            f"""hc{h} AS MATERIALIZED (
      SELECT e.src AS node, l.lbl, COUNT(*) AS c
      FROM edges e JOIN h{h - 1} l ON l.node = e.dst
      WHERE e.src % 2 = {p}
      GROUP BY e.src, l.lbl
    ),
    h{h} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM hc{h}) WHERE rn = 1
      UNION ALL
      SELECT node, lbl FROM h{h - 1} WHERE node % 2 <> {p}
    )"""
        )
    return ",".join(ctes)


def _lpa_semi_oracle() -> str:
    qs = []
    for r in range(1, _LPA_ROUNDS + 1):
        L, P = 2 * r, 2 * r - 2
        qs.append(
            f"""sq{r} AS (
      SELECT {r} AS round,
             (SELECT CAST(COUNT(DISTINCT lbl) AS BIGINT) FROM h{L})
               AS n_communities,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM h{L} a JOIN h{P} b USING (node)
              WHERE a.lbl <> b.lbl) AS n_changed,
             (SELECT CAST(MAX(c) AS BIGINT) FROM
                (SELECT COUNT(*) AS c FROM h{L} GROUP BY lbl))
               AS max_community,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT COUNT(*) AS c FROM h{L} GROUP BY lbl) WHERE c = 1)
               AS singleton_communities,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM edges e
              JOIN h{L} a ON a.node = e.src
              JOIN h{L} b ON b.node = e.dst
              WHERE a.lbl = b.lbl) AS intra_directed,
             (SELECT CAST(SUM(dc * dc) AS BIGINT) FROM (
                SELECT CAST(SUM(d.d) AS BIGINT) AS dc
                FROM (SELECT src AS node, COUNT(*) AS d
                      FROM edges GROUP BY src) d
                JOIN h{L} ON h{L}.node = d.node
                GROUP BY h{L}.lbl)) AS sum_dc2
    )"""
        )
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM sq{r}" for r in range(1, _LPA_ROUNDS + 1)
    )
    return f"""
    WITH {_lpa_ctes()},
    {_lpa_semi_ctes()},
    {",".join(qs)},
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS M FROM edges)
    SELECT round, n_communities, n_changed, max_community,
           singleton_communities,
           ROUND(intra_directed::DOUBLE / M, 6) AS intra_share,
           ROUND((M * intra_directed - sum_dc2)::DOUBLE
                 / (M::DOUBLE * M), 6) AS modularity
    FROM ({unions}), m
    ORDER BY round
    """


@register("lpa_semisync_communities", oracle=_lpa_semi_oracle())
def lpa_semisync_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community panel under the SEMI-SYNCHRONOUS schedule (one bipartite
    side per half-round, {_LPA_ROUNDS} full rounds): per round the
    community count, full-round label churn, size extremes, intra-edge
    share, and Newman modularity — alongside `label_propagation_
    communities`' synchronous control, whose oscillation (Q -> -0.5,
    intra_share 0) this schedule eliminates (n_changed -> 0; pinned in
    tests/test_lpa_semisync.py).

    Honest finding on THIS fixture: the trade graph is a dense random
    bipartite expander — even the nation/region partitions score
    Q ~ -0.003, so NO partition beats Q ~ 0 and converged semi-sync LPA
    correctly reports the one-community answer (Q = 0, strictly above
    the sync baseline's -0.5 at every round). On a graph that HAS
    communities the same operator recovers them exactly — pinned by the
    planted-partition test, where sync still oscillates."""
    with_deg, _n = _trade_graph(spark, sf_dir)
    edges = with_deg.select("src", "dst")
    labels = _lpa_semisync_labels(
        edges,
        2 * _LPA_ROUNDS,
        lambda h, build: shared(("lpa_semi_labels", sf_dir, h), spark, build),
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    M = edges.count()  # scalar; the graph artifact is session-pinned
    # Stats tail folded into ONE plan (r12, guide §1.5/§2.6): the loop ran
    # 4 driver actions per round — 16 sequential micro-jobs whose cost was
    # fixed job overhead. A round-tagged union of the pinned full-round
    # label tables computes every round's community stats, churn, intra
    # count and degree sums in one grouped pass; one consuming action.
    # Same BIGINT arithmetic, same rows.
    cur_all = _round_tagged(labels, lambda r: 2 * r)
    prev_all = _round_tagged(labels, lambda r: 2 * r - 2)
    comm = cur_all.groupBy("round", "lbl").agg(F.count(F.lit(1)).alias("c"))
    agg = comm.groupBy("round").agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.max("c").cast("long").alias("max_community"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
        .alias("singleton_communities"),
    )
    changed = (
        cur_all.join(
            prev_all.withColumnRenamed("lbl", "_plbl"), ["round", "node"]
        )
        .filter(F.col("lbl") != F.col("_plbl"))
        .groupBy("round")
        .agg(F.count(F.lit(1)).cast("long").alias("n_changed"))
    )
    la = cur_all.select(
        F.col("node").alias("src"), F.col("lbl").alias("_la"), "round"
    )
    lb = cur_all.select(
        F.col("node").alias("dst"), F.col("lbl").alias("_lb"), "round"
    )
    intra = (
        edges.join(la, "src")
        .join(lb, ["dst", "round"])
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy("round")
        .agg(F.count(F.lit(1)).cast("long").alias("intra"))
    )
    dc = (
        deg.join(cur_all, "node")
        .groupBy("round", "lbl")
        .agg(F.sum("d").cast("long").alias("dc"))
    )
    dc2 = dc.groupBy("round").agg(
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sum_dc2")
    )
    return (
        agg.join(changed, "round", "left")
        .join(intra, "round", "left")
        .join(dc2, "round")
        .select(
            "round",
            "n_communities",
            F.coalesce("n_changed", F.lit(0)).cast("long")
            .alias("n_changed"),
            "max_community",
            "singleton_communities",
            F.round(
                F.coalesce("intra", F.lit(0)) / F.lit(M), 6
            ).alias("intra_share"),
            F.round(
                (F.lit(M) * F.coalesce("intra", F.lit(0)) - F.col("sum_dc2"))
                / F.lit(M * M),
                6,
            ).alias("modularity"),
        )
        .orderBy("round")
    )
