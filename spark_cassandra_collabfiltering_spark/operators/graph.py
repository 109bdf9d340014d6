"""Graph operators over edge DataFrames (driver-mandated extension
surface: link analysis for corpus/web-graph curation).

PageRank here is the fixed-iteration, EXACT-INTEGER formulation: every
quantity is a scaled bigint and every division is integer floor
division, so parallel summation order cannot perturb a single bit and
the result is hash-identical across engines (the DuckDB oracle unrolls
the same iterations in SQL). Floating-point PageRank would converge to
the same ranking but its partial sums are order-dependent — the same
portability rule the aggregate operators follow (plans/queries.py
module docstring).

Scale shape: each iteration is one hash-join of the rank vector with
the (edge, out-degree) table on src plus one map-side-combining sum by
dst — the standard Pregel-on-DataFrames step. State per iteration is
the O(V) rank vector, never materialized on the driver; the node count
enters the plan as a broadcast 1-row aggregate, not a collected
literal. Fixed iteration count keeps the lineage shallow (no
checkpoint needed; contrast the unbounded loop in
dedup.connected_components, which checkpoints per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.operators.reuse import shared_subtree

SCALE_E12 = 10**12


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (src, dst).

    Requires every node to appear as a src (i.e. out-degree >= 1 —
    pass the symmetric closure for an undirected graph); with that,
    every node also receives contributions, so the rank vector keeps
    exactly one row per node through every iteration.

    rank_0       = SCALE div n                      (uniform)
    rank_{t+1}(v)= (100-d)*SCALE div (100*n)
                   + sum over (u,v) edges of (rank_t(u)*d) div (100*outdeg(u))

    All bigint; `div` is floor division in both Spark SQL and DuckDB,
    and rank*damping_pct stays < 1e14 << 2^63. Integer floor division
    leaks a few units of rank mass per edge (bounded by the edge
    count * 1 at e12 scale, i.e. ~1e-7 relative) — identically in
    both engines, which is the portability point.

    ``seeds`` (a one-column (node) DataFrame) switches to
    PERSONALIZED PageRank: the teleport mass (1-d) concentrates
    uniformly on the seed set instead of all nodes, and the initial
    rank does too — the random-walk-with-restart similarity used for
    graph-based recommendation ("items related to THIS user's
    items"). The seed flag joins into the node list once (broadcast —
    seed sets are small by use-case).

    Output: (node, rank_e12) — one row per node, exact bigints.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Every iteration references the degree-annotated edge list and
    # the node list; left lazy, Spark re-derives them (and whatever
    # expensive subtree produced `edges` — e.g. a co-occurrence
    # self-join) once PER ITERATION (measured: 44 parquet scans in the
    # 5-iteration registry plan). A lazy checkpoint makes each a
    # single shared RDD computed once; its shuffle stages run here, at
    # plan construction, under AQE (operators/reuse.py).
    e2 = shared_subtree(edges.join(deg, "src"))
    nodes = shared_subtree(deg.select(F.col("src").alias("node")))
    if seeds is not None:
        nodes = nodes.join(
            F.broadcast(seeds.select(F.col(seeds.columns[0]).alias("node"))
                        .distinct()
                        .withColumn("_seed", F.lit(1))),
            "node",
            "left",
        ).withColumn("_seed", F.coalesce(F.col("_seed"), F.lit(0)))
        ndf = nodes.agg(F.sum("_seed").alias("n"))  # teleport mass base
        init = f"case when _seed = 1 then {SCALE_E12} div n else 0 end"
        base = (
            f"case when _seed = 1 then ({100 - damping_pct} * {SCALE_E12})"
            f" div (100 * n) else 0 end"
        )
    else:
        nodes = nodes.withColumn("_seed", F.lit(1))
        # count off the checkpointed node list, not deg — a deg
        # reference here would re-derive the edge subtree once per
        # iteration through the per-round broadcast join
        ndf = nodes.agg(F.count(F.lit(1)).alias("n"))
        init = f"{SCALE_E12} div n"
        base = f"({100 - damping_pct} * {SCALE_E12}) div (100 * n)"

    ranks = (
        nodes.join(F.broadcast(ndf))
        .select("node", F.expr(init).alias("rank"))
    )
    for _ in range(iters):
        contrib = e2.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.expr(f"(rank * {damping_pct}) div (100 * outdeg)").alias("c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # LEFT join from the full node list: a node with in-degree 0
        # (legal under the src-coverage precondition — e.g. edges
        # {(A,B),(B,A),(C,A)} where C points in but nothing points
        # back) must keep its teleport-base rank row, not silently
        # vanish from the vector after round 1
        ranks = (
            nodes.join(sums, "node", "left")
            .join(F.broadcast(ndf))
            .select(
                "node",
                (F.expr(base) + F.coalesce(F.col("s"), F.lit(0))).alias("rank"),
            )
        )
    return ranks.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("rank").cast("bigint").alias("rank_e12"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED edge list (src,
    dst) — the clustering-structure primitive (community density,
    spam-farm detection in web-graph curation, feature for link
    models). Input may contain duplicates, both orientations, and
    self-loops; it is canonicalized first.

    The naive triangle join (E ⋈ E ⋈ E) explodes on high-degree
    nodes: a degree-D hub contributes D² wedges. The standard
    at-scale fix (Cohen's MapReduce orientation / GraphX's
    triangleCount shape) is DEGREE ORIENTATION: direct every edge
    from its lower-(degree, id) endpoint to the higher one. The
    oriented out-degree of ANY node is O(sqrt(m)), so the wedge join
    produces at most O(m^1.5) rows on any graph — the optimal bound
    for triangle enumeration — instead of sum(D²). Each triangle
    {x<y<z} (by the orientation order) is built exactly once: wedge
    at x (x→y, x→z) closed by the oriented edge y→z, checked with
    one semi-join back into the oriented edge set. Three shuffles
    total (degree agg, wedge self-join, closing join), all on node
    keys.

    Output: (node, n_triangles) for every node of the canonical
    graph, exact bigints (nodes in no triangle report 0).
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient a->b iff (deg_a, a) < (deg_b, b); ids break degree ties,
    # so orientation is a strict total order and acyclic
    o = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    e1 = o.select(F.col("u"), F.col("v").alias("x"))
    e2 = o.select(F.col("u"), F.col("v").alias("y"))
    # wedge (x, y) at u, one per unordered pair: x strictly before y
    # in the SAME orientation order the closing edge uses. deg is
    # re-joined on the wedge legs to state that order explicitly.
    dx = deg.withColumnRenamed("node", "x").withColumnRenamed("deg", "dx")
    dy = deg.withColumnRenamed("node", "y").withColumnRenamed("deg", "dy")
    wedges = (
        e1.join(e2, "u")
        .join(dx, "x")
        .join(dy, "y")
        .filter(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        .select("u", "x", "y")
    )
    tri = wedges.join(
        o.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"]
    )
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("n_triangles"),
        )
    )


def partition_modularity(
    edges: DataFrame,
    labels: DataFrame,
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """MODULARITY of a node partition over an undirected edge list —
    the Newman-Girvan Q statistic, here used as ATTRIBUTE
    ASSORTATIVITY: how much more often do same-label nodes link than
    a degree-preserving random graph would predict? (Positive Q for
    a brand partition over a part co-occurrence graph means same-
    brand parts really do co-occur.) Exact fixed-point arithmetic:

        Q = sum_c e_c/m  -  sum_c (d_c / 2m)^2
          = [ 4m * sum_c e_c  -  sum_c d_c^2 ]  /  (4 m^2)

    with m = |edges|, e_c = within-label edge count, d_c = total
    degree of label c — every term an exact bigint; the single final
    division is a floor div in DECIMAL space (sign handled before the
    div, the stats_daily_trend rule), so Q_e6 hash-matches any
    engine. Scale shape: degrees from one edge hash-agg, two id-keyed
    joins tag each edge's endpoint labels, per-label aggregates
    reduce to a |labels|-row table, and the Q window runs over that
    bounded table. Output: one row per label
    (label, n_nodes, e_within, degree_sum, q_e6 — the partition-wide
    Q repeated per row for the dashboard join).
    """
    # node -> label map (one row per node required)
    lab = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_l")
    )
    e = edges.select(
        F.col(edges.columns[0]).alias("_a"), F.col(edges.columns[1]).alias("_b")
    )
    # the tagged edge list feeds m, the within-count, and both degree
    # arms — share it (diamond-reuse rule; the joins' shuffle stages
    # run at this call under AQE, see operators/reuse.py)
    tagged = shared_subtree(
        e.join(lab.withColumnRenamed("_n", "_a").withColumnRenamed("_l", "_la"), "_a")
        .join(lab.withColumnRenamed("_n", "_b").withColumnRenamed("_l", "_lb"), "_b")
    )
    m_df = tagged.agg(F.count(F.lit(1)).cast("bigint").alias("_m"))
    # per-label within-edges and degree sums (each undirected edge
    # contributes 1 degree to each endpoint's label)
    within = (
        tagged.filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias(label_col))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_within"))
    )
    degs = (
        tagged.select(F.col("_la").alias(label_col))
        .unionByName(tagged.select(F.col("_lb").alias(label_col)))
        .groupBy(label_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree_sum"))
    )
    nodes = lab.groupBy(F.col("_l").alias(label_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    per = (
        nodes.join(within, label_col, "left")
        .na.fill({"e_within": 0})
        .join(degs, label_col, "left")
        .na.fill({"degree_sum": 0})
        .crossJoin(F.broadcast(m_df))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(1))
    # DECIMAL before multiplying: 4*m*sum(e_c) in raw bigint would
    # overflow long before the final cast on a corpus-scale edge count
    num = (
        F.lit(4).cast("decimal(19,0)")
        * F.col("_m").cast("decimal(19,0)")
        * F.sum("e_within").over(w).cast("decimal(19,0)")
        - F.sum(
            F.col("degree_sum").cast("decimal(19,0)")
            * F.col("degree_sum").cast("decimal(19,0)")
        ).over(w)
    )
    sign = F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
    q_e6 = (
        sign
        * F.expr(
            "CAST(abs(_qnum) * 1000000 AS DECIMAL(38,0)) div "
            "(CAST(4 AS DECIMAL(19,0)) * CAST(_m AS DECIMAL(19,0)) "
            "* CAST(_m AS DECIMAL(19,0)))"
        )
    ).cast("bigint")
    return (
        per.withColumn("_qnum", num.cast("decimal(38,0)"))
        .select(
            label_col, "n_nodes", "e_within", "degree_sum",
            q_e6.alias("q_e6"),
        )
    )
