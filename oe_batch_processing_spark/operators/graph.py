"""Iterative graph algorithms over derived relational graphs.

The bipartite customer<->supplier trade graph (distinct pairs from
orders x lineitem) gets a fixed-point-integer PageRank: 3 Jacobi iterations
with all arithmetic in BIGINT micro-units (rank*1e6, integer div for the
out-degree split, integer (85*x) div 100 damping) — deterministic and
order-free, so even an ITERATIVE numeric algorithm carries a full DuckDB
hash oracle (the usual float PageRank would diverge in final ULPs across
engines; fixed-point is also exactly how you make the production job
bit-reproducible across cluster sizes and retry storms).

Companion to ``dedup_connected_components`` (label propagation): together
they cover the convergence-loop family the DataFrame API is said to be bad
at — both run as a handful of self-joins and key shuffles per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oe_batch_processing_spark.operators.dedup import CC_TRANSITIVE_ORACLE, SMALL_GRAPH_CONFS
from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.session import conf_overrides
from oe_batch_processing_spark.tables import load_table, table_row_count

PR_ITERS = 3
PR_TOP = 20
_UNIT = 1_000_000  # rank 1.0 == 1e6 micro-units


def _cogroup_pairs(df: DataFrame, key: str, val: str) -> DataFrame:
    """Distinct value pairs ``(a < b)`` sharing a ``key`` — the generic
    co-occurrence edge build (suppliers per part for the co-supply graph;
    parts per order for the co-purchase graph).

    Built by aggregating each key's distinct value set and expanding the
    C(k, 2) combinations JVM-side (sorted ``collect_set`` + nested
    ``transform``/``slice`` + one ``explode``), instead of the naive
    self-join. The self-join shuffles |rows|²/|keys| rows (~18M at sf0.1
    for co-supply) into the distinct; the set form shuffles only |keys|
    small arrays and explodes Σ C(k_p, 2) candidate pairs (~8.7M at
    sf0.1, and at 100 TB the ratio keeps improving: the self-join grows
    with the SQUARE of rows-per-key while the set form grows linearly in
    keys × k², with the per-key dedup happening map-side inside the
    partial collect_set aggregate). Oracle equivalence: identical
    distinct-pair relation (verified exceptAll both ways at sf0.1)."""
    sets = df.groupBy(key).agg(
        F.array_sort(F.collect_set(val)).alias("ss")
    )
    # NOTE (r16): packing the candidate pair into one BIGINT (a << 32 | b)
    # before the distinct measured ~20% off the build at sf0.1 (single-word
    # hash-agg keys), but was REVERTED: the decode is only exact for keys
    # < 2^32, and the scale-probe corpora key-shift replicas by r * 1e9 —
    # suppkeys reach ~3e10 at 30x, where the unpack silently corrupts the
    # pair relation. A struct row is the id-domain-safe form.
    return (
        sets.select(F.explode(_ordered_combos("ss")).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def _ordered_combos(arr_col: str):
    """All ordered pairs ``struct(a, b)`` with ``a < b`` from a SORTED
    array column — the JVM-side C(k, 2) expansion shared by the pair
    builds and the wedge enumeration."""
    return F.flatten(
        F.transform(
            F.col(arr_col),
            lambda e, i: F.transform(
                F.slice(F.col(arr_col), i + F.lit(2), F.size(F.col(arr_col))),
                lambda other: F.struct(e.alias("a"), other.alias("b")),
            ),
        )
    )


def _cosupply_pairs(li: DataFrame) -> DataFrame:
    """Distinct supplier pairs ``(a < b)`` sharing a part — the edge build
    shared by triangle counting and label propagation (the co-supply
    instantiation of :func:`_cogroup_pairs`)."""
    return _cogroup_pairs(li, "l_partkey", "l_suppkey")


_PR_ORACLE = f"""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
      UNION ALL
      SELECT sk * 2 + 1 AS src, ck * 2 AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS outd FROM edges GROUP BY 1),
    r0 AS (SELECT src AS node, CAST({_UNIT} AS BIGINT) AS r FROM deg),
    r1 AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * SUM(r.r // d.outd)) // 100 AS BIGINT) AS r
      FROM edges e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
      GROUP BY 1
    ),
    r2 AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * SUM(r.r // d.outd)) // 100 AS BIGINT) AS r
      FROM edges e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
      GROUP BY 1
    ),
    r3 AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * SUM(r.r // d.outd)) // 100 AS BIGINT) AS r
      FROM edges e JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src
      GROUP BY 1
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS entity_key,
           r AS rank_micro
    FROM r3
    ORDER BY r DESC, node
    LIMIT {PR_TOP}
"""


@query("graph_pagerank_trade", oracle=_PR_ORACLE)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank ({PR_ITERS} iterations, damping 0.85) over the
    bipartite customer<->supplier trade graph; returns the top-{PR_TOP}
    hubs. See module docstring for the integer-arithmetic determinism
    argument.

    Scale shape: the edge list is built once (one orders-lineitem join +
    distinct) and CACHED; each iteration is one join of the current rank
    vector (|nodes| rows — tiny relative to edges) onto the edge list and
    one groupBy(dst) with map-side partial sums. Partitioning on src/dst is
    reused across iterations; at 100 TB-scale graphs you'd pre-partition
    edges by src once (bucketing) so every iteration's rank join is
    shuffle-free on the edge side and only the |nodes|-sized rank vector
    moves. Final top-k is a TakeOrderedAndProject, not a global sort.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # persist (r16): the pair build feeds FOUR fill-time evaluations —
    # the fwd/bwd union branches under BOTH the degree aggregate and the
    # ed join side (the BFS/LPA union-branch finding); pin the
    # one-directional relation and both directions become cache scans.
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .persist()
    )
    fwd = pairs.select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    bwd = pairs.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("o_custkey") * 2).alias("dst"),
    )
    edges = fwd.unionAll(bwd)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    # edge list annotated with out-degree once, cached across iterations
    ed = edges.join(deg, "src").persist()
    ranks = deg.select(F.col("src").alias("node"), F.lit(_UNIT).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        contrib = ed.join(ranks, ed["src"] == ranks["node"]).select(
            "dst", F.expr("r div outd").alias("c")
        )
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(150_000) + F.expr("(85 * sum(c)) div 100")).alias("r")
        )
    # materialize the final rank vector (tiny: |nodes| rows) through the
    # cached edge list, then release the edge cache — the returned frame
    # re-executes from the small cached vector, not the whole lineage
    ranks = ranks.persist()
    ranks.count()
    ed.unpersist()
    pairs.unpersist()  # ed's fill was its last reader
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").alias("entity_key"),
            F.col("r").alias("rank_micro"),
            F.col("node").alias("_tb"),
        )
        .orderBy(F.desc("rank_micro"), F.asc("_tb"))
        .limit(PR_TOP)
        .select("node_type", "entity_key", "rank_micro")
    )


# --- Z-order layout keys -----------------------------------------------------

ZBITS = 16


@query(
    "layout_zorder_events",
    oracle=f"""
    SELECT event_id,
           CAST(user_id % 65536 AS BIGINT) AS u16,
           CAST(LEAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0), 65535) AS BIGINT)
             AS v16,
           CAST(LIST_SUM([
             (((user_id % 65536) >> b) & 1) * (1 << (2 * b))
             + ((LEAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0), 65535) >> b) & 1)
               * (1 << (2 * b + 1))
             FOR b IN GENERATE_SERIES(0, {ZBITS - 1})]) AS BIGINT) AS zval
    FROM events
    """,
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys: interleave the bits of two clustering
    dimensions (user_id, bucketed value) into one locality-preserving sort
    key — the data-layout primitive behind multi-dimensional file skipping
    (Delta/Iceberg OPTIMIZE ZORDER). Rows close in z-value are close in BOTH
    dimensions, so writing the table sorted by zval gives every file a tight
    min/max envelope on user_id AND value, and point/range scans on either
    dimension prune most files — at 100 TB this is the difference between a
    full scan and touching a handful of files when filters don't match the
    partition column.

    The key computation itself is a pure per-row integer bit fold (zero
    shuffle; `repartitionByRange(zval)` + sortWithinPartitions is the write
    path). Deterministic integer math — full DuckDB hash oracle.
    """
    e = load_table(spark, sf_dir, "events")
    u16 = "user_id % 65536"
    v16 = "least(greatest(CAST(FLOOR(value) AS BIGINT), 0L), 65535L)"
    z = (
        f"aggregate(sequence(0, {ZBITS - 1}), 0L, (acc, b) -> acc"
        f" + ((({u16}) >> b) & 1) * shiftleft(1L, 2 * b)"
        f" + ((({v16}) >> b) & 1) * shiftleft(1L, 2 * b + 1))"
    )
    return e.select(
        "event_id",
        F.expr(u16).alias("u16"),
        F.expr(v16).alias("v16"),
        F.expr(z).alias("zval"),
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
      FROM lineitem l1 JOIN lineitem l2 ON l1.l_partkey = l2.l_partkey
      WHERE l1.l_suppkey < l2.l_suppkey
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM pairs e1
      JOIN pairs e2 ON e2.a = e1.b
      JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT COUNT(DISTINCT s) FROM (
             SELECT a AS s FROM pairs UNION SELECT b FROM pairs
           )) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting on the supplier co-supply graph (edge =
    two suppliers sharing a part). The Spark plan uses DEGREE-ORDERED
    edge orientation — every edge points from its lower-degree endpoint
    to the higher (ties by id) — so each triangle is counted exactly once
    and, critically for 100 TB graphs, the wedge (2-path) intermediate is
    minimized: high-degree hubs fan IN, never out, bounding each node's
    out-neighborhood (the classic compact-forward bound of O(E^1.5) wedge
    rows instead of sum-of-squared-degrees). The oracle counts the same
    triangles with the simpler id-ordered 3-way join — identical triangle
    set, different join order.

    Plan: edge build is one distinct-pair shuffle; wedges are a self-join
    on the oriented edge list; the close step joins wedges back to edges
    on both endpoints. All hash joins on key columns, no driver state.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    # persist (r16): pairs feeds deg (twice, one per union direction),
    # the orientation join and the n_edges count — four branches that
    # each re-ran the set-expansion build without the cache
    pairs = _cosupply_pairs(li).persist()
    # degree-ordered orientation: src = lower-degree endpoint
    deg = (
        pairs.select(F.col("a").alias("v"))
        .unionAll(pairs.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    oriented = (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst"))
            )
            .alias("e")
        )
        .select("e.src", "e.dst")
    )
    # persist (r16): the oriented edge list (|E| rows) feeds both wedge
    # sides AND the closing semi-join — three consumers of the
    # pairs+degree join subtree
    oriented = oriented.persist()
    w1 = oriented.select(F.col("src").alias("p"), F.col("dst").alias("q"))
    w2 = oriented.select(F.col("src").alias("p"), F.col("dst").alias("r"))
    wedges = w1.join(w2, "p").filter(F.col("q") < F.col("r"))
    # close the wedge with an edge q-r in EITHER orientation
    closing = oriented.select(
        F.least("src", "dst").alias("q"), F.greatest("src", "dst").alias("r")
    )
    tri = wedges.join(closing, ["q", "r"], "leftsemi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    # three one-row frames; broadcast cross joins, zero driver-side actions
    return nodes.crossJoin(F.broadcast(edges)).crossJoin(F.broadcast(tri))


BFS_MAX_LVL = 8

_BFS_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
      UNION ALL
      SELECT sk * 2 + 1 AS src, ck * 2 AS dst FROM pairs
    ),
    reach(node, lvl) AS (
      SELECT CAST(2 AS BIGINT), 0
      UNION
      SELECT e.dst, r.lvl + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.lvl < {BFS_MAX_LVL}
    ),
    levels AS (SELECT node, MIN(lvl) AS lvl FROM reach GROUP BY node)
    SELECT lvl,
           COUNT(*) AS n_nodes,
           CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_customers,
           CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suppliers,
           MIN(node // 2) AS min_entity,
           MAX(node // 2) AS max_entity
    FROM levels GROUP BY lvl
"""


@query("graph_bfs_levels", oracle=_BFS_ORACLE)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search levels from customer 1 over the bipartite
    customer<->supplier trade graph (same edge encoding as PageRank:
    node = 2*custkey | 2*suppkey+1), aggregated per level. BFS on a
    CYCLIC graph — unlike ``recursive_cte_custkey_tree``'s acyclic
    hierarchy — so the fixed point must take MIN(level) over all paths;
    the Spark loop keeps a settled frontier (a node joins at its first
    discovery and never re-enters), which IS that min, while the oracle
    bounds the recursive closure at {BFS_MAX_LVL} levels and aggregates
    MIN per node (bit-identical whenever the true eccentricity <=
    {BFS_MAX_LVL}, asserted here).

    Scale: each BFS wave is one equi-join of the frontier against the
    edge list + an anti-join against settled nodes — diameter-many
    ordinary shuffles. Pre-bucketing edges by src makes every wave
    shuffle only the frontier (the PageRank note applies verbatim).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # persist (r16, the LPA edge-cache finding): without it the edges
    # cache fill evaluates the join+distinct build TWICE, once per
    # union direction
    pairs = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("ck"),
            (F.col("l_suppkey") * 2 + 1).alias("sk"),
        )
        .distinct()
        .persist()
    )
    edges = pairs.select(
        F.col("ck").alias("src"), F.col("sk").alias("dst")
    ).union(pairs.select(F.col("sk").alias("src"), F.col("ck").alias("dst")))
    edges = edges.persist()
    settled = spark.createDataFrame([(2, 0)], "node long, lvl int")
    frontier = settled
    for lvl in range(1, BFS_MAX_LVL + 1):
        neighbors = (
            edges.join(frontier, edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = neighbors.join(settled, "node", "left_anti").select(
            "node", F.lit(lvl).cast("int").alias("lvl")
        )
        new = new.persist()
        # DataFrame-native isEmpty (r16): take(1) on the optimized plan,
        # no RDD conversion
        if new.isEmpty():
            new.unpersist()
            break
        settled = settled.union(new)
        frontier = new
    edges.unpersist()
    pairs.unpersist()
    return settled.groupBy("lvl").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.when(F.col("node") % 2 == 0, 1).otherwise(0)).alias(
            "n_customers"
        ),
        F.sum(F.when(F.col("node") % 2 == 1, 1).otherwise(0)).alias(
            "n_suppliers"
        ),
        F.min(F.expr("node div 2")).alias("min_entity"),
        F.max(F.expr("node div 2")).alias("max_entity"),
    )


@query(
    "graph_link_prediction_cn",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      WHERE l1.l_partkey < l2.l_partkey
    ),
    edges AS (
      SELECT a AS u, b AS v FROM pairs
      UNION ALL SELECT b, a FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    wedges AS (
      SELECT e1.u AS x, e2.v AS y, COUNT(*) AS common_neighbors
      FROM edges e1 JOIN edges e2 ON e2.u = e1.v
      WHERE e1.u < e2.v
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT w.x, w.y, w.common_neighbors,
             dx.d AS deg_x, dy.d AS deg_y
      FROM wedges w
      JOIN deg dx ON dx.u = w.x
      JOIN deg dy ON dy.u = w.y
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.a = w.x AND p.b = w.y)
    )
    SELECT x AS part_a, y AS part_b, common_neighbors,
           CAST((1000000 * common_neighbors)
                // (deg_x + deg_y - common_neighbors) AS BIGINT)
             AS jaccard_ppm
    FROM cand
    ORDER BY common_neighbors DESC, jaccard_ppm DESC, part_a, part_b
    LIMIT 50
    """,
)
def graph_link_prediction_cn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part CO-PURCHASE graph (parts bought in
    the same order; the co-supply graph is complete at test SFs — no
    open wedges — so the sparser basket graph is the honest demo): the
    50 non-adjacent part pairs with the most COMMON NEIGHBORS, scored
    by neighborhood Jaccard (ppm integers) — "frequently bought with
    the same things, never yet together": the recommendation primitive
    behind people-you-may-know / bundle suggestions. The structure is
    the triangle count's wedge join pointed at its complement: a wedge
    x–z–y WITHOUT the closing x–y edge is exactly an open triangle, so
    candidates are wedge endpoints anti-joined against the edge set.

    Scale: the wedge join is the triangle-count intermediate (the
    degree-ordered variant bounds it at O(E^1.5) when hubs appear); the
    anti join and degree joins are ordinary hash shuffles; top-50 is a
    TakeOrdered, no global sort.

    r16: the pair relation is built by per-ORDER set expansion
    (:func:`_cogroup_pairs` — the co-supply recipe pointed at baskets:
    collect_set of parts per order + JVM-side C(k,2) expansion) instead
    of the naive lineitem self-join, and PERSISTED: the un-cached
    self-join subtree was consumed by SEVEN plan branches (both union
    directions under each of e1/e2/deg, plus the anti-join), so the
    most expensive build in the plan re-ran up to 7x. Identical
    distinct-pair relation; hash-oracle-exact at both SFs.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = _cogroup_pairs(li, "l_orderkey", "l_partkey").select(
        F.col("a").alias("pa"), F.col("b").alias("pb")
    ).persist()
    edges = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).unionAll(pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # Wedge enumeration WITHOUT the e1⋈e2 self-join (r16): group each
    # center's neighbor set once (the pair cache makes this a cache
    # scan), then expand the C(k, 2) ordered endpoint combinations
    # JVM-side — the identical wedge multiset the join produced (a wedge
    # x–z–y with x < y is exactly one unordered endpoint pair from
    # N(z)), but the |E|-row shuffle join is replaced by one aggregate
    # whose partial combiner runs map-side.
    nbrs = edges.groupBy("u").agg(F.array_sort(F.collect_set("v")).alias("ss"))
    wedges = (
        nbrs.select(F.explode(_ordered_combos("ss")).alias("p"))
        .groupBy(F.col("p.a").alias("x"), F.col("p.b").alias("y"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    cand = wedges.join(
        pairs,
        (F.col("x") == F.col("pa")) & (F.col("y") == F.col("pb")),
        "left_anti",
    )
    dx = deg.select(F.col("u").alias("x"), F.col("d").alias("deg_x"))
    dy = deg.select(F.col("u").alias("y"), F.col("d").alias("deg_y"))
    scored = (
        cand.join(dx, "x")
        .join(dy, "y")
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            "common_neighbors",
            F.expr(
                "(1000000 * common_neighbors)"
                " div (deg_x + deg_y - common_neighbors)"
            ).alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(
        F.col("common_neighbors").desc(),
        F.col("jaccard_ppm").desc(),
        "part_a",
        "part_b",
    ).limit(50)


_LPA_ITERS = 3
_LPA_BCAST_MAX_NODES = 1_000_000  # ~16 MB of (u, lbl) rows — broadcast the
# label frame below this; above it (the 100 TB regime) the per-round join
# falls back to shuffled-hash with labels as build side

# one LPA round in SQL: neighbors vote their current label; each node takes
# the most common neighbor label, ties to the smallest label id.
_LPA_ROUND = """
{out} AS (
  SELECT v, lbl FROM (
    SELECT n.v, l.lbl,
           ROW_NUMBER() OVER (PARTITION BY n.v
                              ORDER BY COUNT(*) DESC, l.lbl) AS rk
    FROM nbrs n JOIN {prev} l ON l.v = n.u
    GROUP BY n.v, l.lbl
  ) WHERE rk = 1
)"""


def _lpa_oracle() -> str:
    rounds = ",".join(
        _LPA_ROUND.format(out=f"l{k}", prev=f"l{k-1}")
        for k in range(1, _LPA_ITERS + 1)
    )
    return f"""
    WITH pairs AS (
      SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
      FROM lineitem l1 JOIN lineitem l2 ON l1.l_partkey = l2.l_partkey
      WHERE l1.l_suppkey < l2.l_suppkey
    ),
    nbrs AS (
      SELECT a AS v, b AS u FROM pairs
      UNION ALL
      SELECT b AS v, a AS u FROM pairs
    ),
    l0 AS (SELECT DISTINCT v, v AS lbl FROM nbrs),
    {rounds}
    SELECT v AS node, lbl AS community FROM l{_LPA_ITERS}
    """


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA) on the
    supplier co-supply graph: every node starts as its own label; each of
    {_LPA_ITERS} SYNCHRONOUS rounds reassigns every node the most frequent
    label among its neighbors (ties to the smallest label id). Synchronous
    updates + deterministic tie-break make LPA — normally a notoriously
    nondeterministic algorithm — fully reproducible and hash-oracle-able;
    the DuckDB oracle unrolls the same rounds as chained CTEs.

    Scale: each round is exactly the BSP superstep shape (Pregel-style):
    one join of the (static, cached) adjacency list against the current
    label frame + one (node, label) count aggregate + one per-node top-1
    — all hash-partitioned on node id, so every round reuses the same
    partitioning; rounds are a fixed unrolled pipeline, no driver loop
    state beyond plan construction. Skewed hub nodes are AQE's problem,
    and the per-node top-1 uses the window group-limit pushdown.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    # r16 shape fixes (guide §2.4/§3.1/§5): (a) the PERSIST moved from the
    # symmetric closure onto the one-directional pair relation — the old
    # nbrs = pairs ∪ reverse(pairs) cache fill evaluated the whole
    # collect_set + explode + distinct subtree TWICE (one per union
    # branch); now the union is two scans of the 500k-row pair cache,
    # re-derived per use for free. (b) Each round joins the |V|-row LABEL
    # frame to the |E|-row edge list — below the metadata-only footer
    # gate the label frame is explicitly BROADCAST (the side that fits:
    # |V| = suppliers, 16 bytes/row; the edge list never moves — the
    # previous plan let the size estimator broadcast the FULL |E|-row
    # edge list in rounds 2-3, an |E|-sized driver collect per round);
    # above the gate (the 100 TB regime, where neither full relation may
    # be broadcast) the join carries a SHUFFLE_HASH hint with the labels
    # as build side (|V|/N rows per partition).
    pairs = _cosupply_pairs(li).persist()
    nbrs = pairs.select(F.col("a").alias("v"), F.col("b").alias("u")).unionAll(
        pairs.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )
    # Round 1 constant-folded (r17): labels start as the IDENTITY (lbl(u) =
    # u), so round 1's join + vote count degenerates exactly — every
    # neighbor contributes its own id as a distinct label with cnt = 1
    # (the pair relation is distinct, so no label repeats), and the
    # argmax(cnt, tie -> min lbl) over all-ones counts IS min(neighbor).
    # One groupBy-min over the edge stream replaces the identity-label
    # init distinct, the round-1 join and its two 1M-group aggregates;
    # rounds 2..K run the general superstep unchanged. Same relation,
    # bit-for-bit (the oracle replays all K rounds literally).
    labels = nbrs.groupBy("v").agg(F.min("u").alias("lbl"))
    # |V| <= |supplier| (nodes are l_suppkey values); footer read, no job.
    bcast_labels = (
        table_row_count(sf_dir, "supplier") <= _LPA_BCAST_MAX_NODES
    )
    for _ in range(_LPA_ITERS - 1):
        lbl_u = labels.withColumnRenamed("v", "u")
        votes = (
            nbrs.join(
                F.broadcast(lbl_u) if bcast_labels
                else lbl_u.hint("shuffle_hash"),
                "u",
            )
            .groupBy("v", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax(cnt, tie -> min lbl) via max(struct(cnt, -lbl)): a
        # map-side-combining aggregate instead of a per-round rank window
        # (no sort, no full vote materialization per partition)
        labels = (
            votes.groupBy("v")
            .agg(F.max(F.struct("cnt", (-F.col("lbl")).alias("neg"))).alias("b"))
            .select("v", (-F.col("b.neg")).alias("lbl"))
        )
    return labels.select(F.col("v").alias("node"), F.col("lbl").alias("community"))


_STAR_SMALL_EDGES = 100_000  # below this, the loop runs 1-partition/no-AQE


@query(
    "graph_connected_components_star",
    oracle=None,  # assigned below: shared with dedup_connected_components
)
def graph_connected_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via the LARGE-STAR / SMALL-STAR algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond") on
    the same near-dup pair graph as ``dedup_connected_components`` —
    and with the SAME transitive-closure oracle, so the two
    implementations cross-validate: identical (doc_id, cluster_id)
    labeling or the hash fails.

    Why it exists next to the label-propagation version: LPA converges
    in O(diameter) rounds, which is fine for near-dup clusters (2-3) but
    fatal for long-chain graphs at 100 TB; large-star/small-star
    converges in O(log^2 n) rounds REGARDLESS of diameter, each round a
    pair of ordinary groupBy-min + join stages. This is the production
    CC kernel; LPA is the low-round-count special case.

    Mechanics per round: large-star connects every neighbor v > u to
    m = min(N(u) ∪ {u}); small-star re-points every neighbor v <= u
    (and u itself) to the min of that down-neighborhood. Fixed point =
    a star per component rooted at the component minimum. The driver
    loop detects the fixed point with an order-independent edge-set
    checksum (count + sum of a per-edge hash) instead of materializing
    set differences.
    """
    from oe_batch_processing_spark.operators.dedup import dedup_jaccard_shingles

    pairs = dedup_jaccard_shingles(spark, sf_dir).select("doc_a", "doc_b")
    return star_labels(pairs).select(
        F.col("doc").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def star_labels(pairs: DataFrame) -> DataFrame:
    """LARGE-STAR / SMALL-STAR connected components over any (doc_a,
    doc_b) pair relation -> (doc, lbl) with lbl = min doc_id in the
    component, one row per node appearing in the relation (roots label
    themselves). The production CC kernel (O(log^2 n) rounds regardless
    of diameter) extracted from graph_connected_components_star so the
    cluster-summary emit mode can share it — the r15 bench decomposition
    found the cosine pair graph is a diameter-~15 chain graph at bench
    scale, where the LPA loop pays one checkpointed round PER HOP
    (~15 rounds of real jobs on a 919-edge graph) while the star loop
    settles in ~3. dedup_connected_components deliberately keeps the LPA
    implementation: the two kernels cross-validate against the same
    transitive-closure oracle."""
    spark = pairs.sparkSession
    # Materialize the pair relation ONCE before the symmetric unions:
    # without this the union branches race to evaluate the (expensive)
    # upstream pair pipeline repeatedly (the cc_labels recipe). The
    # count is the materializing action; released before return.
    from oe_batch_processing_spark.tables import persist_once

    # Ownership check (r16 ADVICE): persist_once returns an ALREADY-cached
    # frame untouched when another operator persisted the same plan — in
    # that case the unpersist below would evict a cache entry the caller
    # still relies on mid-sweep (recomputation cost, not wrongness). Only
    # release the cache this call actually created.
    lvl = pairs.storageLevel
    owns_cache = not (lvl.useMemory or lvl.useDisk)
    pairs = persist_once(pairs)
    # localCheckpoint: TRUNCATE lineage, not just cache it. Every round
    # references the previous round's frame ~4 times, so with plain
    # persist the LOGICAL plan (which CacheManager substitutes only at
    # physical planning) grows ~4^rounds copies of the upstream jaccard
    # plan and analysis time explodes — measured: round 4 went from
    # seconds to minutes. Checkpointing makes each round's input a leaf.
    # (Production note: localCheckpoint is executor-local; a cluster job
    # that must survive executor loss uses spark.checkpoint() to a
    # reliable dir — same plan shape.)

    def _checksum(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(F.col("u"), F.col("v"))).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _one_round(cur: DataFrame) -> DataFrame:
        # large-star
        nbrs = cur.select("u", "v").union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbrs.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least(F.col("mn"), F.col("u")).alias("m")
        )
        large = (
            nbrs.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient each edge (max -> min), group by the max side
        directed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        m2 = directed.groupBy("u").agg(F.min("v").alias("m"))
        return (
            directed.join(m2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(m2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
            # lazy checkpoint: the checksum action below materializes it
            # and truncates lineage in the same job
            .localCheckpoint(eager=False)
        )

    # the pairs cache is released on every exit path, the eager edges
    # checkpoint included
    try:
        # Size-adaptive execution, decided BEFORE the edges checkpoint (r17):
        # ``edges`` is a row-preserving projection of ``pairs``, so
        # |edges| == |pairs| and the cache-fill count doubles as the
        # small-graph probe. The previous sequence paid an eager |E|-row
        # checkpoint at the session width, a count, and a SECOND coalesced
        # checkpoint on the small path — now the small path checkpoints once,
        # already coalesced (one driver action fewer, one |E| materialization
        # fewer). For a SMALL edge set (< _STAR_SMALL_EDGES), per-stage AQE
        # re-planning and 32-way shuffles dominate wall time (measured: each
        # round 3.4-5.5 s with AQE vs 0.7-1.5 s without, on 244 edges), so
        # the loop drops to one partition with AQE off for its duration.
        # A 100 TB edge set keeps AQE and the full shuffle width — the
        # plan shape is identical, only the knobs move.
        n_edges = pairs.count()  # fills the pairs cache
        small_graph = n_edges < _STAR_SMALL_EDGES
        with conf_overrides(spark, SMALL_GRAPH_CONFS if small_graph else {}):
            edges_lazy = pairs.select(
                F.col("doc_a").cast("long").alias("u"),
                F.col("doc_b").cast("long").alias("v"),
            )
            if small_graph:
                edges_lazy = edges_lazy.coalesce(1)
            # localCheckpoint: TRUNCATE lineage, not just cache it (see the
            # note above); the fill reads the just-materialized pairs cache.
            edges = edges_lazy.localCheckpoint(eager=True)
            # all_nodes stays LAZY (r15): it reads the edges checkpoint leaf and
            # is consumed exactly once by the final left join — an eager
            # checkpoint here was one more ~0.4 s driver action per invocation
            # on an action-latency-bound small graph, for no reuse.
            all_nodes = (
                edges.select(F.col("u").alias("doc"))
                .union(edges.select(F.col("v").alias("doc")))
                .distinct()
            )

            cur = edges
            prev_sum = None
            for _round in range(20):  # log^2 bound; settles in ~3
                cur = _one_round(cur)
                new_sum = _checksum(cur)
                if new_sum == prev_sum:
                    break
                prev_sum = new_sum
            # final star: every edge points node -> component root (= component
            # min); roots label themselves; isolated-in-star nodes keep identity
            labels = cur.select(F.col("u").alias("doc"), F.col("v").alias("lbl"))
    finally:
        if owns_cache:
            pairs.unpersist()
    return all_nodes.join(labels, "doc", "left").select(
        "doc", F.coalesce(F.col("lbl"), F.col("doc")).alias("lbl")
    )


# shared oracle: the star algorithm must reproduce the transitive closure
from oe_batch_processing_spark import registry as _registry  # noqa: E402

_registry.ORACLE["graph_connected_components_star"] = CC_TRANSITIVE_ORACLE


# --- k-core decomposition by synchronous peeling ----------------------------

_KCORE_PCT = 6      # threshold = 60th-percentile initial degree (x10)
_KCORE_ROUNDS = 6   # fixed peel rounds (convergence asserted in-operator)

# the data-adaptive threshold: the 60th-percentile initial degree.
# Tie-straddle invariance: ROW_NUMBER ties among equal d are ordered
# arbitrarily, but MAX(d) over the first ceil(0.6n) positions equals the
# boundary value regardless of which tied rows land inside — so the
# threshold is deterministic without a tie-break column.
_KCORE_THR = """
    t AS MATERIALIZED (
      SELECT COALESCE(MAX(d), 1) AS kthr
      FROM (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM d0),
           (SELECT COUNT(*) AS n FROM d0)
      WHERE 10 * rn <= {pct} * n
    )"""


def _kcore_oracle(rounds: int = _KCORE_ROUNDS) -> str:
    # Every CTE is MATERIALIZED: each k_r is referenced twice and chains
    # on d_(r-1), so inlining re-evaluates the whole prefix ~2^rounds
    # times (measured: >400 s at sf0.1 inlined vs seconds materialized).
    # DuckDB-only syntax is fine — this text never runs on Spark.
    parts = [f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
      UNION ALL
      SELECT sk * 2 + 1 AS src, ck * 2 AS dst FROM pairs
    ),
    d0 AS MATERIALIZED (
      SELECT src AS v, COUNT(*) AS d FROM edges GROUP BY 1),
    {_KCORE_THR.format(pct=_KCORE_PCT)}"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    k{r} AS MATERIALIZED (SELECT v FROM d{r-1}, t WHERE d >= t.kthr),
    d{r} AS MATERIALIZED (
      SELECT e.src AS v, COUNT(*) AS d
      FROM edges e
      JOIN k{r} x ON x.v = e.src
      JOIN k{r} y ON y.v = e.dst
      GROUP BY 1
    )""")
    parts.append(f"""
    SELECT CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(v // 2 AS BIGINT) AS entity_key,
           CAST(d AS BIGINT) AS core_degree,
           CAST(t.kthr AS BIGINT) AS kthr
    FROM d{rounds}, t WHERE d >= t.kthr""")
    return "".join(parts)


def _kcore_threshold(deg: DataFrame) -> DataFrame:
    """The data-adaptive k threshold (60th-percentile initial degree) as a
    single-row frame, WITHOUT a global sort.

    Round-8 verdict fix: the old ROW_NUMBER() OVER (ORDER BY d) funneled
    the whole |V|-sized degree table through one task. Same
    tie-straddle-invariant rank statistic, restated over the tiny
    distinct-degree domain: the value at ascending rank
    r = floor(pct*n/10) equals MIN(d) among degrees whose cumulative count
    reaches r; equal-d ties can't straddle the answer because cum() jumps
    over the whole tie group at once. cum() itself is a broadcast non-equi
    self-join on distinct degrees (|D| <= max-degree rows, so |D|^2 pairs
    are trivial at any scale) — the plan has no window and no
    single-partition exchange; the |V|-sized aggregate shuffles normally.
    Matches the oracle's ROW_NUMBER formulation exactly (tests pin both the
    plan shape and the rank semantics against a brute-force ranking).
    """
    dcnt = deg.groupBy("d").agg(F.count("*").alias("cnt"))
    cum = (
        dcnt.alias("a")
        .join(F.broadcast(dcnt.select(F.col("d").alias("d2"),
                                      F.col("cnt").alias("cnt2"))),
              F.col("d2") <= F.col("a.d"))
        .groupBy("a.d")
        .agg(F.sum("cnt2").alias("cum"))
    )
    return (
        cum.crossJoin(F.broadcast(deg.agg(F.count("*").alias("n"))))
        .filter(F.expr(f"cum >= ({_KCORE_PCT} * n) div 10 "
                       f"AND {_KCORE_PCT} * n >= 10"))
        .agg(F.coalesce(F.min("d"), F.lit(1)).alias("kthr"))
    )


@query("graph_kcore_trade", oracle=_kcore_oracle())
def graph_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-core of the bipartite customer-supplier trade graph
    (edge = customer bought from supplier), by synchronous peeling:
    each round deletes every node whose degree among survivors is below
    k, until fixpoint — the standard dense-subgraph/influence primitive
    (and, on a data-pipeline read, the "keep entities with enough
    corroborating links" filter). The threshold is DATA-ADAPTIVE — the
    60th-percentile initial degree, an exact rank statistic both engines
    compute identically (tie-straddle invariant, see _KCORE_THR) — so
    the query is meaningful at every scale factor instead of pinning a
    constant that empties the core on small graphs. Fixed-round
    determinism: both engines run exactly {r} rounds as identical
    relational algebra; the Spark side ADDITIONALLY asserts the fixpoint
    was reached (survivor set unchanged by one more round — the peel is
    monotone, so a count comparison is an exact set-equality check) and
    raises otherwise, so the fixed-round result provably IS the true
    k-core, not an approximation. The threshold is also emitted as a
    column, so the oracle pins it too.

    Scale (round-15 delta peeling — the r14 verdict's largest non-stream
    probe ratio, 5.94x @10x / 11.91x @30x on the flat form): instead of
    re-aggregating degrees over edges double-semi-joined to the survivor
    set every round (6 full edge passes regardless of convergence), each
    round maintains degrees INCREMENTALLY — ``removed`` = survivors
    whose degree fell below k, ``delta(v)`` = edges from v into the
    newly-removed set, ``d(v) -= delta(v)``. An edge is touched at most
    once per endpoint removal across ALL rounds (total edge work <= 2|E|
    instead of rounds x 2|E|), the removed frame shrinks geometrically
    so post-round-1 joins are against a small build side (AQE converts
    them to broadcasts from the checkpointed edge stats), and once the
    peel converges the remaining unrolled rounds join an EMPTY removed
    set — near-free, where the flat form paid full passes. The
    incremental degree equals the recomputed degree exactly (each edge
    decrements its endpoint precisely when the other endpoint is first
    removed — integer arithmetic, no drift), so the unchanged
    fixed-round DuckDB oracle hash-checks the rewrite. Each round
    localCheckpoints (the repo's iterative-loop rule: persist alone does
    not stop plan growth). The percentile threshold is one bounded
    (single-row) driver collect, dimension-sized by definition.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # r16 pairs-build cuts (the r15 decomposition put 16.6 of 19.3 s
    # @30x here, not in the peel):
    #   (1) checkpoint the UNDOUBLED pairs frame and derive the
    #       2-orientation edge union lazily from it — the union is a
    #       narrow projection, so materialized checkpoint volume halves
    #       (|E| rows instead of 2|E|) while every peel round still
    #       reads edges without recomputing the join;
    #   (2) checkpoint the degree frame FIRST and compute the percentile
    #       threshold from the checkpointed |V|-row frame — r15 ran the
    #       edges->degree aggregation twice (once under the threshold
    #       collect, once under the alive checkpoint).
    # A lineitem pre-distinct on (l_orderkey, l_suppkey) before the
    # orders join was measured and REJECTED: this corpus (and its
    # key-shifted probe replicas) is ~98% distinct on that pair
    # (60000 -> 58785 rows at sf0.01), so an extra edge-sized exchange
    # would shrink the join input by only ~2% — the adjudication lives
    # in SCALE.md round 16.
    pairs = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = pairs.select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).unionAll(
        pairs.select(
            (F.col("l_suppkey") * 2 + 1).alias("src"),
            (F.col("o_custkey") * 2).alias("dst"),
        )
    )
    deg = edges.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))

    alive = deg.localCheckpoint(eager=True)
    row = _kcore_threshold(alive).collect()  # bounded: one scalar
    kthr = int(row[0]["kthr"])
    # Early exit on convergence (r17): the peel is monotone, so an
    # unchanged alive COUNT after a round proves that round removed
    # nothing — delta was empty, degrees are unchanged, and every
    # remaining unrolled round is the identity. Skipping them changes
    # nothing in the result (the fixed-round oracle replays all rounds,
    # but identity rounds are no-ops) while deleting their |E|-scan +
    # checkpoint jobs; the per-round count reads the just-checkpointed
    # |V|-row frame, near-free. Convergence is still asserted below —
    # completing all rounds without hitting the break keeps the original
    # n_r != n_r1 tripwire live.
    n_prev = alive.count()
    for _ in range(_KCORE_ROUNDS):
        removed = alive.filter(F.col("d") < kthr).select("v")
        # edges INTO the newly-removed set; each edge contributes to a
        # delta at most once over the whole peel (its counterpart is
        # removed at most once), so total join work across rounds <= 2|E|
        delta = (
            edges.join(removed.withColumnRenamed("v", "dst"), "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(F.count("*").alias("rm"))
        )
        alive = (
            alive.filter(F.col("d") >= kthr)
            .join(delta, "v", "left")
            .select(
                "v",
                (F.col("d") - F.coalesce(F.col("rm"), F.lit(0))).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
        n_now = alive.count()
        if n_now == n_prev:
            break  # identity round: fixpoint reached, later rounds no-op
        n_prev = n_now
    survivors = alive.filter(F.col("d") >= kthr)
    # fixpoint assertion: survivors-of-one-more-round must equal the
    # round-R survivor set; the peel is monotone, so counts suffice.
    n_r = alive.count()  # nodes still present entering the final filter
    n_r1 = survivors.count()
    if n_r != n_r1:
        raise ValueError(
            f"k-core peeling did not converge in {_KCORE_ROUNDS} rounds: "
            f"{n_r} nodes entering vs {n_r1} surviving the (R+1)th filter; "
            f"raise _KCORE_ROUNDS"
        )
    return survivors.select(
        F.expr(
            "CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END"
        ).alias("node_type"),
        F.expr("v div 2").cast("bigint").alias("entity_key"),
        F.col("d").cast("bigint").alias("core_degree"),
        F.lit(kthr).cast("bigint").alias("kthr"),
    )


graph_kcore_trade.__doc__ = graph_kcore_trade.__doc__.format(
    r=_KCORE_ROUNDS
)


# --- Hilbert-curve layout keys (sibling of layout_zorder_events) ------------

# u16/v16: the same two clustering dimensions as layout_zorder_events,
# so the two space-filling-curve layouts are directly comparable.
_HIL_U = "user_id % 65536"
_HIL_V = "LEAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0), 65535)"

# gray(rx, ry) = (3*rx) XOR ry spelled as arithmetic (DuckDB's ^ is
# POWER, so XOR cannot be shared; the 4-case table can).
_HIL_GRAY = "CASE {rx} * 2 + {ry} WHEN 0 THEN 0 WHEN 1 THEN 1 "             "WHEN 2 THEN 3 ELSE 2 END"

_HILBERT_ORACLE = f"""
    WITH pts AS (
      SELECT event_id,
             CAST({_HIL_U} AS BIGINT) AS u16,
             CAST({_HIL_V} AS BIGINT) AS v16
      FROM events
    )
    SELECT event_id, u16, v16,
           (list_reduce(
              [{{'x': u16, 'y': v16, 'd': CAST(0 AS BIGINT)}}]
                || [{{'x': CAST(b AS BIGINT), 'y': CAST(0 AS BIGINT),
                      'd': CAST(-1 AS BIGINT)}}
                    FOR b IN [15,14,13,12,11,10,9,8,7,6,5,4,3,2,1,0]],
              (a, lv) -> [[{{
                'x': CASE WHEN ry = 1 THEN a.x
                          WHEN rx = 0 THEN a.y ELSE 65535 - a.y END,
                'y': CASE WHEN ry = 1 THEN a.y
                          WHEN rx = 0 THEN a.x ELSE 65535 - a.x END,
                'd': a.d + (CAST(1 AS BIGINT) << (2 * lv.x))
                     * ({_HIL_GRAY.format(rx='rx', ry='ry')})
              }} FOR ry IN [(a.y >> lv.x) & 1]][1]
                 FOR rx IN [(a.x >> lv.x) & 1]][1]
           )).d AS hval
    FROM pts
"""


@query("layout_hilbert_events", oracle=_HILBERT_ORACLE)
def layout_hilbert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout keys over the same (user_id, bucketed value)
    dimensions as ``layout_zorder_events`` — the strictly
    better-locality space-filling curve (every unit step in d moves one
    grid cell, no Morton "seams", measurably tighter file min/max
    envelopes at 100 TB OPTIMIZE time; Morton wins only on compute
    cost). The canonical xy2d algorithm runs as a 16-level fold over
    struct state {x, y, d}: per level the two rank bits pick the
    quadrant's gray code (XOR spelled as a CASE table — DuckDB's ^ is
    POWER), d accumulates (1 << 2b) * gray, and the frame rotates
    (swap, or reflect+swap when rx=1) exactly per the public rot()
    routine. Pure per-row integer math: zero shuffle, whole-stage
    codegen on the Spark side (JVM aggregate HOF), full hash oracle via
    a DuckDB list_reduce with let-bound rank bits.

    The write path at scale is repartitionByRange(hval) +
    sortWithinPartitions, identical to the z-order sibling.
    """
    e = load_table(spark, sf_dir, "events")
    rx = "((a.x >> b) & 1)"
    ry = "((a.y >> b) & 1)"
    gray = _HIL_GRAY.format(rx=rx, ry=ry)
    fold = (
        f"aggregate(sequence(15, 0, -1), "
        f"named_struct('x', CAST({_HIL_U} AS BIGINT), "
        f"'y', CAST({_HIL_V} AS BIGINT), 'd', 0L), "
        f"(a, b) -> named_struct("
        f"'x', CASE WHEN {ry} = 1 THEN a.x "
        f"          WHEN {rx} = 0 THEN a.y ELSE 65535 - a.y END, "
        f"'y', CASE WHEN {ry} = 1 THEN a.y "
        f"          WHEN {rx} = 0 THEN a.x ELSE 65535 - a.x END, "
        f"'d', a.d + shiftleft(1L, 2 * b) * ({gray}))"
        f").d"
    )
    return e.select(
        "event_id",
        F.expr(f"CAST({_HIL_U} AS BIGINT)").alias("u16"),
        F.expr(f"CAST({_HIL_V} AS BIGINT)").alias("v16"),
        F.expr(fold).alias("hval"),
    )
