"""Graph analytics over fact-table-derived graphs: PageRank on the
co-purchase graph.

Companion to `dedup.dedup_cluster_resolve` (connected components — the
other iterative graph primitive): where components answer "which items are
transitively linked", PageRank answers "which items are CENTRAL", the
importance prior recommendation and sampling pipelines weight by. The
edge list comes from the same self-equi-join-on-container shape as
`affinity_copurchase_pmi` — parts co-occurring in an order — so the graph
is symmetric and every vertex has out-degree ≥ 1 (no dangling-mass term).

Scale notes: the memoized, checkpointed edge list (`_full_edges`) is the
only materialized frame. Out-degree and the vertex count N ride on every
edge from before the first round, so a round is one map-side-combinable
groupBy(dst) over the edges carrying their source's rank share, preceded
from round 2 on by one join of the edges with the previous round's ranks
on src — all keyed on the part key. The graph is symmetric, so every
vertex is some edge's dst and the groupBy's output is the whole vertex
set: there is no vertex frame to join back to. The rounds stay lazy:
building the query runs no Spark job, and its action executes all rounds
as one linear AQE plan. The rank side of the per-round join goes through
`size_gated_broadcast`: a vertex frame that fits the broadcast threshold
skips the edge-side shuffle entirely; a 100 TB-scale vertex set degrades
safely to the shuffle join on src. At 100 TB, raise the round count and
checkpoint the rank frame every ~5 rounds, which bounds plan size and
lineage — the same discipline as the connected-components loop; at three
rounds a checkpoint costs more than it saves, because under AQE it runs
every shuffle stage of its input when it is called.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from spark_ibm_mq_spark.registry import register
from spark_ibm_mq_spark.tables import (
    durable_checkpoint,
    load_table,
    session_memo,
    size_gated_broadcast,
)

_DAMP = 0.85
_ROUNDS = 3

_GRAPH_CTE = """
    WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    edges AS (
        SELECT DISTINCT a.pk AS src, b.pk AS dst
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk <> b.pk
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes)
"""


def _iter_cte(k: int) -> str:
    """One PageRank round as a CTE pair (contribution sum + rank update)."""
    prev = f"r{k - 1}"
    return f"""
    c{k} AS (
        SELECT e.dst, sum(r.pr / d.deg) AS s
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN deg d ON e.src = d.src
        GROUP BY 1
    ),
    r{k} AS (
        SELECT nd.node, 0.15 / n.n_nodes + 0.85 * coalesce(c.s, 0) AS pr
        FROM nodes nd CROSS JOIN n
        LEFT JOIN c{k} c ON nd.node = c.dst
    )"""


@register(
    "graph_pagerank_copurchase",
    oracle=_GRAPH_CTE
    + ", r0 AS (SELECT node, 1.0 / n.n_nodes AS pr FROM nodes CROSS JOIN n),"
    + ",".join(_iter_cte(k) for k in range(1, _ROUNDS + 1))
    + f"""
    SELECT r.node AS part, d.deg AS out_degree,
           round(r.pr * n.n_nodes, 4) AS pr_norm
    FROM r{_ROUNDS} r
    JOIN deg d ON r.node = d.src
    CROSS JOIN n
    """,
)
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 synchronous rounds from a uniform start)
    over the part co-purchase graph: vertices are parts, edges link parts
    appearing in the same order (both directions, so the graph is
    symmetric and dangling-free). Output is the SIZE-NORMALIZED rank
    pr·N — ≈1.0 for an average part — so the value survives round(4)
    at any graph size, where the raw probability (~1/N) would collapse.

    The edge build is the `affinity_copurchase_pmi` candidate shape:
    distinct (order, part) self-equi-joined on the order key, so edge
    volume is Σ width(order)², bounded by basket width. Each round is
    join-on-src → groupBy(dst) partial-agg; round 1 needs no join, as every
    vertex starts at 1/N. The vertex count rides as a 1-row broadcast
    attached to every edge. Rank mass: symmetric
    edges mean no dangling vertices, so the 0.15/N teleport plus 0.85×
    the in-flow is the complete update — no dangling-redistribution term
    to shuffle."""
    edges = _full_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    per_edge = edges.join(deg, "src").crossJoin(F.broadcast(n))

    def update(flow: DataFrame, pr) -> DataFrame:
        return (
            flow.groupBy(F.col("dst").alias("node"), "n_nodes")
            .agg(F.sum(pr / F.col("deg")).alias("s"))
            .select(
                "node",
                "n_nodes",
                (
                    F.lit(0.15) / F.col("n_nodes") + F.lit(_DAMP) * F.col("s")
                ).alias("pr"),
            )
        )

    # no checkpoint between rounds: under AQE each one runs its input's
    # shuffle stages, one job each, while the query is being built; one
    # lazy plan that the action runs as a whole costs less at three rounds
    ranks = update(per_edge, F.lit(1.0) / F.col("n_nodes"))
    for _ in range(_ROUNDS - 1):
        rank_side = size_gated_broadcast(
            ranks.select(F.col("node").alias("src"), "pr")
        )
        ranks = update(per_edge.join(rank_side, "src"), F.col("pr"))
    return ranks.join(deg.withColumnRenamed("src", "node"), "node").select(
        F.col("node").alias("part"),
        F.col("deg").alias("out_degree"),
        F.round(F.col("pr") * F.col("n_nodes"), 4).alias("pr_norm"),
    )


# ---------------------------------------------------------------------------
# k-NN co-purchase graph family: triangle counting, link prediction, degree
# profile. The raw co-purchase graph's degree is unbounded (a popular part
# touches thousands of partners — 2.4 M directed edges at sf0.1, wedge
# volume Σdeg² ≈ 300 M, which no triangle algorithm survives), so these
# operators first SPARSIFY to each part's top-K most-co-purchased partners
# (K = 5; ties broken by partner id) — the standard k-NN-graph construction
# similarity/recommendation pipelines use precisely because it bounds
# OUT-degree by construction, making downstream wedge volume O(N·K·maxdeg)
# instead of O(Σdeg²). At 100 TB the same top-K is one windowed rank over
# the pair-count aggregate — no new shuffle beyond the pair count itself.
# ---------------------------------------------------------------------------

_KNN_K = 5

_KNN_GRAPH_CTE = f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    pairs AS (
        SELECT a.pk AS u, b.pk AS v, count(*) AS w
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk <> b.pk
        GROUP BY 1, 2
    ),
    knn AS (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
            FROM pairs
        ) WHERE rn <= {_KNN_K}
    ),
    sym AS (SELECT u AS s, v AS t FROM knn UNION SELECT v, u FROM knn),
    canon AS (SELECT s AS u, t AS v FROM sym WHERE s < t),
    deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1)
"""


# Symmetric k-NN edge list memoized per (application, sf_dir): three
# queries share the build, and the expensive part — the order-pair
# self-join + pair-count aggregate + rank window — is identical across
# them. The memoized frame is checkpoint-backed, so a hit replays
# materialized blocks (same pattern as dedup._LABELS_MEMO).
_SYM_MEMO: dict[tuple[str, str], DataFrame] = {}

# The FULL (uncapped) symmetric co-purchase edge list, shared by
# PageRank, k-core, and BFS — same memo discipline as _SYM_MEMO: the
# order-pair self-join + distinct materializes once per session instead
# of once per consumer query.
_EDGES_MEMO: dict[tuple[str, str], DataFrame] = {}


def _full_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed distinct (src, dst) over parts sharing an order —
    both directions, self-loops dropped."""
    def build():
        li = load_table(spark, sf_dir, "lineitem")
        op = li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct()
        a = op.select("ok", F.col("pk").alias("src"))
        b = op.select("ok", F.col("pk").alias("dst"))
        return durable_checkpoint(
            a.join(b, "ok")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct(),
            eager=False,
        )

    return session_memo(
        _EDGES_MEMO, (spark.sparkContext.applicationId, sf_dir), build
    )


def _knn_graph(spark: SparkSession, sf_dir: str):
    """(sym, canon, deg) frames of the top-K co-purchase graph — sym is the
    checkpointed symmetric edge list every consumer starts from, so the
    order-pair self-join + rank window run once per query (and once per
    SESSION across the three graph queries, via `_SYM_MEMO`)."""
    def build():
        li = load_table(spark, sf_dir, "lineitem")
        op = li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct()
        pairs = (
            op.alias("a")
            .join(op.alias("b"), "ok")
            .filter(F.col("a.pk") != F.col("b.pk"))
            .groupBy(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
            .agg(F.count(F.lit(1)).alias("w"))
        )
        from pyspark.sql import Window

        rn = F.row_number().over(
            Window.partitionBy("u").orderBy(F.col("w").desc(), F.col("v"))
        )
        knn = (
            pairs.withColumn("rn", rn)
            .filter(F.col("rn") <= _KNN_K)
            .select("u", "v")
        )
        return durable_checkpoint(
            knn.select(F.col("u").alias("s"), F.col("v").alias("t"))
            .union(knn.select(F.col("v").alias("s"), F.col("u").alias("t")))
            .distinct(),
            eager=False,
        )

    sym = session_memo(
        _SYM_MEMO, (spark.sparkContext.applicationId, sf_dir), build
    )
    canon = sym.filter(F.col("s") < F.col("t")).select(
        F.col("s").alias("u"), F.col("t").alias("v")
    )
    deg = sym.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    return sym, canon, deg


# Grouped wedge candidates (x, y, common, aa_u), shared by the two link-
# prediction scorers — the wedge self-join is the dominant cost of both
# queries and its grouped output is identical between them (Jaccard reads
# common, Adamic–Adar reads common + aa_u), so it materializes once per
# session, same memo discipline as _SYM_MEMO/_EDGES_MEMO.
_WEDGE_MEMO: dict[tuple[str, str], DataFrame] = {}


def _wedge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (x, y, common, aa_u) over same-center wedges of the
    k-NN graph: common = |N(x)∩N(y)|, aa_u = Σ floor(10⁶/ln(deg z)+0.5)
    over shared neighbors z (the Adamic–Adar integer micro-unit terms —
    quantized PER WEDGE ROW before the sum, so the aggregate is an
    order-free bigint). Candidate volume is Σ deg(z)², bounded by the
    k-NN cap — never all-pairs. The compact grouped frame (4 int cols,
    one row per candidate pair) is what checkpoints, not the wedge rows."""
    def build():
        sym, _canon, deg = _knn_graph(spark, sf_dir)
        bdeg = size_gated_broadcast(deg)
        s1 = sym.select("s", F.col("t").alias("x"))
        s2 = sym.select("s", F.col("t").alias("y"))
        aa_term = F.floor(
            F.lit(1000000) / F.log(F.col("dz.d")) + F.lit(0.5)
        ).cast("bigint")
        return durable_checkpoint(
            s1.join(s2, "s")
            .filter(F.col("x") < F.col("y"))
            .join(bdeg.alias("dz"), F.col("s") == F.col("dz.node"))
            .groupBy("x", "y")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("common"),
                F.sum(aa_term).cast("bigint").alias("aa_u"),
            ),
            eager=False,
        )

    return session_memo(
        _WEDGE_MEMO, (spark.sparkContext.applicationId, sf_dir), build
    )


@register(
    "graph_knn_degree_profile",
    oracle=_KNN_GRAPH_CTE + """
    SELECT d AS degree,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(count(*) * 1.0 / (SELECT count(*) FROM deg), 4) AS share
    FROM deg GROUP BY d
    """,
)
def graph_knn_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the k-NN co-purchase graph — the structural
    diagnostic run before any graph algorithm ships: out-degree is capped
    at K by construction, so the histogram exposes the IN-selection skew
    (parts chosen as a top-K partner by many others — the hubs that decide
    whether wedge-bound algorithms like `graph_triangle_count` are safe).
    Plan: the shared edge build, one groupBy(node), one groupBy(degree) —
    the second aggregate is over ≤ maxdeg rows."""
    _sym, _canon, deg = _knn_graph(spark, sf_dir)
    n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        deg.groupBy(F.col("d").alias("degree"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .crossJoin(F.broadcast(n))
        .select(
            "degree",
            "n_parts",
            F.round(F.col("n_parts") / F.col("n_nodes"), 4).alias("share"),
        )
    )


@register(
    "graph_triangle_count",
    oracle=_KNN_GRAPH_CTE + """,
    ori AS (
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND c.u < c.v)
                    THEN c.u ELSE c.v END AS s,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND c.u < c.v)
                    THEN c.v ELSE c.u END AS t
        FROM canon c
        JOIN deg du ON c.u = du.node
        JOIN deg dv ON c.v = dv.node
    ),
    tri AS (
        SELECT w1.s AS a, w1.t AS b, w2.t AS c
        FROM ori w1
        JOIN ori w2 ON w1.s = w2.s
        JOIN deg db ON w1.t = db.node
        JOIN deg dc ON w2.t = dc.node
        JOIN ori e ON e.s = w1.t AND e.t = w2.t
        WHERE db.d < dc.d OR (db.d = dc.d AND w1.t < w2.t)
    ),
    per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY node
    )
    SELECT deg.node AS part, deg.d AS degree,
           COALESCE(p.n_triangles, 0) AS n_triangles,
           round(COALESCE(p.n_triangles, 0) * 2.0 / (deg.d * (deg.d - 1)), 4)
               AS clustering_coeff
    FROM deg LEFT JOIN per_node p ON deg.node = p.node
    WHERE deg.d >= 2
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    k-NN co-purchase graph — the community-structure signal (parts whose
    partners are also partners of each other form substitutable/bundled
    clusters; clustering ≈ 0 marks bridge products).

    Algorithm: degree-ordered node-iterator (Schank–Wagner / the oriented
    wedge-check at the heart of every distributed triangle counter):
    orient each undirected edge from its lower-(degree, id) endpoint to
    the higher, enumerate wedges only at each node's ORIENTED
    out-neighbors (ordered by the SAME (degree, id) total order), and
    close each wedge with one EQUI-join back to the oriented edge list —
    the orientation makes the closing edge's direction deterministic, so
    no OR-condition, every join hashable, and each triangle is found
    exactly once. Wedge volume is Σ out-deg² — minimized by the degree
    orientation (out-degree ≤ O(√E)) on top of the k-NN cap. Per-node
    counts: each triangle explodes to its 3 corners, one groupBy. At
    100 TB: identical plan; the orientation is what keeps hub nodes from
    quadratic wedge blowup."""
    sym, canon, deg = _knn_graph(spark, sf_dir)
    bdeg = size_gated_broadcast(deg)
    lo_first = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v"))
    )
    ori = durable_checkpoint(
        canon.join(bdeg.alias("du"), F.col("u") == F.col("du.node"))
        .join(bdeg.alias("dv"), F.col("v") == F.col("dv.node"))
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        ),
        eager=False,
    )
    w1 = ori.select(F.col("s"), F.col("t").alias("b"))
    w2 = ori.select(F.col("s"), F.col("t").alias("c"))
    wedges = (
        w1.join(w2, "s")
        .join(bdeg.alias("db"), F.col("b") == F.col("db.node"))
        .join(bdeg.alias("dc"), F.col("c") == F.col("dc.node"))
        .filter(
            (F.col("db.d") < F.col("dc.d"))
            | ((F.col("db.d") == F.col("dc.d")) & (F.col("b") < F.col("c")))
        )
        .select(F.col("s").alias("a"), "b", "c")
    )
    tri = wedges.join(
        ori.select(F.col("s").alias("b"), F.col("t").alias("c")), ["b", "c"]
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(per_node, "node", "left")
        .select(
            F.col("node").alias("part"),
            F.col("d").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                F.coalesce("n_triangles", F.lit(0))
                * 2.0
                / (F.col("d") * (F.col("d") - 1)),
                4,
            ).alias("clustering_coeff"),
        )
    )


@register(
    "graph_jaccard_link_prediction",
    oracle=_KNN_GRAPH_CTE + """,
    cand AS (
        SELECT s1.t AS x, s2.t AS y, CAST(count(*) AS BIGINT) AS common
        FROM sym s1 JOIN sym s2 ON s1.s = s2.s AND s1.t < s2.t
        GROUP BY 1, 2
    ),
    nonadj AS (
        SELECT c.x, c.y, c.common FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM canon e WHERE e.u = c.x AND e.v = c.y)
    )
    SELECT n.x AS part_a, n.y AS part_b, n.common AS common_neighbors,
           round(n.common * 1.0 / (dx.d + dy.d - n.common), 4) AS jaccard
    FROM nonadj n
    JOIN deg dx ON n.x = dx.node
    JOIN deg dy ON n.y = dy.node
    ORDER BY jaccard DESC, part_a, part_b
    LIMIT 50
    """,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard: score each NON-adjacent
    part pair by |N(a)∩N(b)| / |N(a)∪N(b)| over the k-NN co-purchase
    graph and return the top 50 — "parts that should co-sell but don't
    yet", the classic common-neighbors recommender.

    Plan shape: candidates come from one self-equi-join of the edge list
    on the SHARED-NEIGHBOR key (never all pairs — pair volume is
    Σ deg(w)², bounded by the k-NN cap), one groupBy counts common
    neighbors, a LEFT ANTI join against the edge list keeps non-adjacent
    pairs only, and degrees arrive by joining the (node, d) frame twice.
    Jaccard = common/(d_a + d_b − common) is integers + ONE IEEE
    division → bit-stable under round(4) across engines. Deterministic
    top-k: ORDER BY (jaccard, a, b) with exact-equality ties. The
    grouped wedge frame itself comes from `_wedge_candidates` (shared
    with `graph_adamic_adar` — one materialization per session)."""
    _sym, canon, deg = _knn_graph(spark, sf_dir)
    cand = _wedge_candidates(spark, sf_dir).select("x", "y", "common")
    nonadj = cand.join(
        canon,
        (cand.x == canon.u) & (cand.y == canon.v),
        "left_anti",
    )
    bdeg = size_gated_broadcast(deg)
    return (
        nonadj.join(bdeg.alias("dx"), F.col("x") == F.col("dx.node"))
        .join(bdeg.alias("dy"), F.col("y") == F.col("dy.node"))
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            F.col("common").alias("common_neighbors"),
            F.round(
                F.col("common") / (F.col("dx.d") + F.col("dy.d") - F.col("common")), 4
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "part_a", "part_b")
        .limit(50)
    )


@register(
    "graph_adamic_adar",
    oracle=_KNN_GRAPH_CTE + """,
    cand AS (
        SELECT s1.t AS x, s2.t AS y,
               CAST(count(*) AS BIGINT) AS common,
               CAST(sum(CAST(floor(1000000 / ln(dz.d) + 0.5) AS BIGINT))
                    AS BIGINT) AS aa_u
        FROM sym s1
        JOIN sym s2 ON s1.s = s2.s AND s1.t < s2.t
        JOIN deg dz ON s1.s = dz.node
        GROUP BY 1, 2
    ),
    nonadj AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM canon e WHERE e.u = c.x AND e.v = c.y)
    )
    SELECT x AS part_a, y AS part_b, common AS common_neighbors,
           round(aa_u / 1000000.0, 4) AS adamic_adar
    FROM nonadj
    ORDER BY aa_u DESC, part_a, part_b
    LIMIT 50
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the k-NN co-purchase graph:
    score(x,y) = Σ_{z ∈ N(x)∩N(y)} 1/ln(deg z) for non-adjacent pairs,
    top 50 — the rare-shared-neighbor refinement of
    `graph_jaccard_link_prediction` (a niche part shared by two others
    is stronger evidence than a hub everyone buys).

    Exactness: each 1/ln(deg z) term is quantized to integer
    micro-units (floor(10⁶/ln d + 0.5)) at the WEDGE row before
    aggregation, so the per-pair score is an order-free bigint sum and
    the top-50 cut orders by that exact integer (date-free total order
    with the (a,b) tiebreak); a shared neighbor always has deg ≥ 2
    (it touches both x and y), so ln is never 0. Plan: same wedge
    equi-join as the Jaccard scorer — candidates from the shared-
    neighbor key (volume Σ deg(z)², k-NN-capped, never all-pairs), the
    degree of the WEDGE CENTER joined before the groupBy, one left-anti
    against the edge list, TakeOrdered for the limit; the grouped
    wedge frame is the session-shared `_wedge_candidates` output."""
    _sym, canon, _deg = _knn_graph(spark, sf_dir)
    cand = _wedge_candidates(spark, sf_dir)
    nonadj = cand.join(
        canon, (cand.x == canon.u) & (cand.y == canon.v), "left_anti"
    )
    return (
        nonadj.select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            F.col("common").alias("common_neighbors"),
            F.round(F.col("aa_u") / 1000000.0, 4).alias("adamic_adar"),
            F.col("aa_u"),
        )
        .orderBy(F.col("aa_u").desc(), "part_a", "part_b")
        .limit(50)
        .drop("aa_u")
    )


@register(
    "graph_degree_assortativity",
    oracle=_KNN_GRAPH_CTE + """,
    edge_deg AS (
        SELECT du.d AS x, dv.d AS y
        FROM sym e
        JOIN deg du ON e.s = du.node
        JOIN deg dv ON e.t = dv.node
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT)      AS m,
               CAST(sum(x) AS BIGINT)        AS sx,
               CAST(sum(y) AS BIGINT)        AS sy,
               CAST(sum(x * y) AS BIGINT)    AS sxy,
               CAST(sum(x * x) AS BIGINT)    AS sxx,
               CAST(sum(y * y) AS BIGINT)    AS syy
        FROM edge_deg
    )
    SELECT m AS n_directed_edges,
           round(sx * 1.0 / m, 4) AS mean_degree_at_edge,
           round((m * sxy - sx * sy)
                 / (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy)), 4)
               AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the k-NN co-purchase graph — Pearson
    correlation of endpoint degrees over the directed edge list
    (Newman's r): positive means hubs link to hubs (assortative mixing),
    negative means hubs fan out to leaves — the one-number structure
    summary that predicts whether degree-targeted sampling or caching
    will pay off.

    Exactness: the five moments are bigint sums of integer degrees over
    the symmetric edge list — order-free — and r is one fixed
    sqrt/div expression under round(4) (the `win_rolling_corr`
    identity). Plan: edges join the degree frame twice (broadcast), one
    1-row reduction — no pair enumeration beyond the existing edges."""
    sym, _canon, deg = _knn_graph(spark, sf_dir)
    bdeg = size_gated_broadcast(deg)
    ed = (
        sym.join(bdeg.alias("du"), F.col("s") == F.col("du.node"))
        .join(bdeg.alias("dv"), F.col("t") == F.col("dv.node"))
        .select(F.col("du.d").alias("x"), F.col("dv.d").alias("y"))
    )
    m = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("m").alias("n_directed_edges"),
        F.round(F.col("sx") * 1.0 / F.col("m"), 4).alias("mean_degree_at_edge"),
        F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 4).alias("assortativity"),
    )


@register(
    "graph_kcore_peel",
    oracle=_GRAPH_CTE + """,
    kk AS (SELECT CAST(3 * sum(deg) // (4 * count(*)) + 1 AS BIGINT) AS k
           FROM deg),
    a1 AS (SELECT src AS nd FROM deg, kk WHERE deg >= k),
    d2 AS (SELECT e.src, CAST(count(*) AS BIGINT) AS c FROM edges e
           JOIN a1 x ON e.src = x.nd JOIN a1 y ON e.dst = y.nd GROUP BY 1),
    a2 AS (SELECT src AS nd FROM d2, kk WHERE c >= k),
    d3 AS (SELECT e.src, CAST(count(*) AS BIGINT) AS c FROM edges e
           JOIN a2 x ON e.src = x.nd JOIN a2 y ON e.dst = y.nd GROUP BY 1),
    a3 AS (SELECT src AS nd FROM d3, kk WHERE c >= k),
    d4 AS (SELECT e.src, CAST(count(*) AS BIGINT) AS c FROM edges e
           JOIN a3 x ON e.src = x.nd JOIN a3 y ON e.dst = y.nd GROUP BY 1)
    SELECT d4.src AS part, d4.c AS deg_in_core, kk.k AS k
    FROM d4 CROSS JOIN kk
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (3 synchronous rounds) over the part co-purchase
    graph: repeatedly delete vertices whose degree in the surviving
    subgraph falls below k, reporting the survivors and their induced
    degrees — the standard dense-subgraph / graph-denoising primitive
    (spam clusters and long-tail fringe peel off; the stable core
    remains). Three fixed rounds, not a fixpoint, by the same honest
    bounded-iteration contract as `graph_pagerank_copurchase`'s 3
    rounds — each extra round is one more (join → partial-agg) stage.

    k is DATA-ADAPTIVE: ¾·mean-degree + 1 (integer division both
    engines), so the operator peels meaningfully at every scale factor
    instead of hard-coding a constant the fixture density happens to
    clear — on the sf0.01 graph the active set walks 2000 → 1809 →
    1679 → 1554. The threshold rides as a 1-row broadcast and every
    compare is integer. Plan shape: the symmetric edge list is
    checkpointed ONCE; each round is two semi-joins of edges against
    the (shrinking) active set + a groupBy(src) count — shuffles carry
    only (bigint, bigint) pairs, and per-round cost is bounded by the
    live edge list. An A/B'd alternative that carries the INDUCED
    SUBGRAPH forward (checkpointing the surviving edges each round)
    measured 5.8 vs 4.2 s median-of-5 at sf0.1: this co-purchase
    fixture is dense, the peel removes few edges, and re-materializing
    a near-full edge copy per round costs more than the re-join saves.
    On a sparse 100 TB graph where peeling sheds most edges early, flip
    to that variant — the trade is the materialization-vs-rescan knob,
    stated here so the choice is explicit. The equi-join never
    materializes pairs beyond the live edge list either way."""
    edges = _full_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    kk = deg.agg(
        F.expr("CAST(3 * sum(deg) div (4 * count(*)) + 1 AS BIGINT)").alias("k")
    )
    active = deg.crossJoin(F.broadcast(kk)).filter(
        F.col("deg") >= F.col("k")
    ).select(F.col("src").alias("nd"))
    for _ in range(2):
        ind = (
            edges.join(active.withColumnRenamed("nd", "src"), "src")
            .join(active.withColumnRenamed("nd", "dst"), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        active = durable_checkpoint(
            ind.crossJoin(F.broadcast(kk))
            .filter(F.col("c") >= F.col("k"))
            .select(F.col("src").alias("nd")),
            eager=False,
        )
    final = (
        edges.join(active.withColumnRenamed("nd", "src"), "src")
        .join(active.withColumnRenamed("nd", "dst"), "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg_in_core"))
    )
    return final.crossJoin(F.broadcast(kk)).select(
        F.col("src").alias("part"), "deg_in_core", "k"
    )


@register(
    "graph_bfs_hops",
    oracle=_GRAPH_CTE + """,
    seeds AS (
        SELECT src AS nd FROM deg ORDER BY deg DESC, src LIMIT 5
    ),
    h1 AS (
        SELECT DISTINCT e.dst AS nd FROM edges e
        JOIN seeds s ON e.src = s.nd
        WHERE e.dst NOT IN (SELECT nd FROM seeds)
    ),
    h2 AS (
        SELECT DISTINCT e.dst AS nd FROM edges e
        JOIN h1 f ON e.src = f.nd
        WHERE e.dst NOT IN (SELECT nd FROM seeds)
          AND e.dst NOT IN (SELECT nd FROM h1)
    ),
    h3 AS (
        SELECT DISTINCT e.dst AS nd FROM edges e
        JOIN h2 f ON e.src = f.nd
        WHERE e.dst NOT IN (SELECT nd FROM seeds)
          AND e.dst NOT IN (SELECT nd FROM h1)
          AND e.dst NOT IN (SELECT nd FROM h2)
    )
    SELECT nd AS part, CAST(0 AS BIGINT) AS hops FROM seeds
    UNION ALL SELECT nd, 1 FROM h1
    UNION ALL SELECT nd, 2 FROM h2
    UNION ALL SELECT nd, 3 FROM h3
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (3 hops) over the co-purchase graph from the 5
    highest-degree parts: each node labeled with its MINIMUM hop
    distance from the seed set — the reachability/radius primitive
    under "related products within N steps" features and graph-sampled
    neighborhood construction, distinct from the peel (`graph_kcore_
    peel`), components (`dedup_cluster_resolve`), and random-walk
    (`graph_pagerank_copurchase`) families.

    Layered-frontier exactness: hop k's frontier is the distinct
    neighbor set of hop k−1 minus everything already labeled — the
    textbook BSP BFS, where the left-anti against the visited set IS
    the min-distance guarantee, so no per-node min aggregation is ever
    needed. Seeds are deterministic (degree DESC, partkey tiebreak).
    Plan: the symmetric edge list is checkpointed once; each hop is one
    equi-join frontier-expansion + distinct + left-anti — shuffles
    carry single bigint node ids, frontier size is bounded by the graph
    (never pair volume), and on this dense fixture the walk saturates
    fast, which the hop histogram makes visible."""
    edges = _full_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seeds = (
        deg.orderBy(F.col("deg").desc(), "src")
        .limit(5)
        .select(F.col("src").alias("nd"))
    )
    visited = durable_checkpoint(seeds, eager=False)
    frontier = visited
    layers = [seeds.select("nd", F.lit(0).cast("bigint").alias("hops"))]
    for hop in (1, 2, 3):
        frontier = durable_checkpoint(
            edges.join(frontier.withColumnRenamed("nd", "src"), "src")
            .select(F.col("dst").alias("nd"))
            .distinct()
            .join(visited, "nd", "left_anti"),
            eager=False,
        )
        layers.append(frontier.select("nd", F.lit(hop).cast("bigint").alias("hops")))
        visited = durable_checkpoint(visited.unionByName(frontier), eager=False)
    out = layers[0]
    for lyr in layers[1:]:
        out = out.unionByName(lyr)
    return out.select(F.col("nd").alias("part"), "hops")


_LP_ROUNDS = 3


def _lp_iter_cte(k: int) -> str:
    """One synchronous label-propagation round as a CTE pair: per-node
    neighbor-label counts, then the majority label (smallest on ties)."""
    prev = f"l{k - 1}"
    return f"""
    c{k} AS (
        SELECT e.t AS node, l.lbl, count(*) AS c
        FROM sym e JOIN {prev} l ON e.s = l.node
        GROUP BY 1, 2
    ),
    l{k} AS (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, lbl) AS rn
            FROM c{k}
        ) WHERE rn = 1
    )"""


@register(
    "graph_label_propagation",
    oracle=_KNN_GRAPH_CTE
    + ", l0 AS (SELECT node, node AS lbl FROM deg),"
    + ",".join(_lp_iter_cte(k) for k in range(1, _LP_ROUNDS + 1))
    + f"""
    SELECT l.node AS part, l.lbl AS community,
           CAST(s.n AS BIGINT) AS community_size
    FROM l{_LP_ROUNDS} l
    JOIN (SELECT lbl, count(*) AS n FROM l{_LP_ROUNDS} GROUP BY 1) s
      ON l.lbl = s.lbl
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous majority-vote label propagation
    (RAK label propagation, 3 rounds) over the k-NN co-purchase graph:
    every part starts labeled with its own id; each round every node
    adopts the label most frequent among its neighbors, smallest label on
    ties — fully deterministic, so the result is engine-exact (integer
    counts, integer labels, rank-ordered argmax; no floats anywhere).
    Complements `dedup_cluster_resolve` (connected components = transitive
    reachability) and `graph_pagerank_copurchase` (centrality): LP finds
    DENSE neighborhoods inside one component — the "substitutable /
    co-bought cluster" structure a sampling or negative-mining pipeline
    stratifies by.

    Scale shape: runs on the SPARSIFIED k-NN graph (`_knn_graph`, shared
    session memo + checkpoint — edge volume N·K·2, never Σdeg²); each
    round is one keyed join (edges ⋈ labels on the source key) + one
    partial+final count aggregate + one per-node window on the
    (node, label) pairs — ≤ N·K rows per round. The synchronous update
    needs no driver-side state: labels stay a DataFrame the whole loop,
    as one lazy plan that the action runs. At 100 TB, checkpoint the label
    frame every ~5 rounds to bound the plan and lineage, as the module
    notes say for PageRank. Every node has degree ≥ 1 by
    k-NN construction, so the inner join loses no vertices."""
    sym, _, deg = _knn_graph(spark, sf_dir)
    labels = deg.select("node", F.col("node").alias("lbl"))
    from pyspark.sql import Window

    w_maj = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl"))
    for _ in range(_LP_ROUNDS):
        counts = (
            sym.join(
                size_gated_broadcast(
                    labels.withColumnRenamed("node", "s")
                ),
                "s",
            )
            .groupBy(F.col("t").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w_maj))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        labels.join(size_gated_broadcast(sizes), "lbl")
        .select(
            F.col("node").alias("part"),
            F.col("lbl").alias("community"),
            F.col("n").alias("community_size"),
        )
    )


# Shared-helper dependency declarations (see registry.declare_helper_deps).
from spark_ibm_mq_spark.registry import declare_helper_deps  # noqa: E402

declare_helper_deps("graph_pagerank_copurchase", _full_edges)
declare_helper_deps("graph_kcore_peel", _full_edges)
declare_helper_deps("graph_bfs_hops", _full_edges)
declare_helper_deps("graph_knn_degree_profile", _knn_graph)
declare_helper_deps("graph_triangle_count", _knn_graph)
declare_helper_deps("graph_degree_assortativity", _knn_graph)
declare_helper_deps("graph_label_propagation", _knn_graph)
declare_helper_deps("graph_jaccard_link_prediction", _knn_graph, _wedge_candidates)
declare_helper_deps("graph_adamic_adar", _knn_graph, _wedge_candidates)
# the shared memo-with-eviction engine (tables.session_memo) the three
# memoized graph helpers delegate to — computation-adjacent (a bug in it
# serves a stale/cross-application frame), so every consumer declares it
for _memo_consumer in (
    "graph_pagerank_copurchase",
    "graph_kcore_peel",
    "graph_bfs_hops",
    "graph_knn_degree_profile",
    "graph_triangle_count",
    "graph_degree_assortativity",
    "graph_label_propagation",
    "graph_jaccard_link_prediction",
    "graph_adamic_adar",
):
    declare_helper_deps(_memo_consumer, session_memo)
