"""Graph analytics over a derived co-purchase graph — the iterative /
self-join workload family (the reference delegates all query processing to
its host engine, ``/root/reference/README.md:5``; this rounds out the
repo's coverage of algorithms Spark expresses as DataFrame plans rather
than bespoke engines).

Graph: parts are nodes; an undirected edge connects two parts that appear
in the same order (capped to ``l_partkey < _PART_CAP`` so the sf0.01
fixture stays small — the PLAN shape is what scales, not the cap).

Scale design:
- Edge derivation: one self-join of lineitem on l_orderkey with the
  ``a < b`` ordering (each undirected edge materializes once), then
  distinct — two hash shuffles, both on bounded key sets.
- Triangles: the ordered-edge-list algorithm — join e1(a,b)⋈e2(b,c) then
  close with e3(a,c). Because edges are stored with a<b, every triangle is
  counted exactly once, and the join fan-out is bounded by the forward
  degree (at scale you'd order endpoints by degree, cutting the fan-out to
  O(m^1.5) — the id-ordering here is the same plan with a weaker bound).
- Reachability: native ``WITH RECURSIVE`` BFS (Spark 4.1's recursive-CTE
  support; UNION ALL dialect — Spark rejects UNION DISTINCT in recursion,
  so the frontier carries duplicate paths and the final GROUP BY dedups.
  The depth guard bounds the blow-up: path count ≤ Σ_d deg^d — depth 2,
  because on this dense fixture graph deg³ already trips Spark's
  recursion row limit. At 100 TB the
  same query runs with per-level DISTINCT materialization — the iterative
  DataFrame loop in operators/components.py is that plan; this entry
  exercises the SQL-native surface.)
- PageRank: FIXED-POINT integer arithmetic (PR scaled by 1e12, integer
  division by out-degree, integer 85% damping) — sums of integers are
  exact under any partitioning/accumulation order, which is what makes an
  iterative float algorithm oracle-matchable bit-for-bit. Three unrolled
  iterations; each is contributions-groupBy (one shuffle on dst) + a join
  back to the degree relation. At 100 TB the degree relation partitioning
  is reused across iterations and the loop runs to convergence with
  localCheckpoint per iter (see operators/components.py for the pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadrodb_spark.operators.relational import load

_PART_CAP = 400
_PR_SCALE = 10**12          # fixed-point scale
_PR_ITERS = 3
_PR_TOPK = 20


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges, stored once with a < b."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < _PART_CAP)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
    return (
        a.join(b, "o")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count via the ordered edge list: e1(a,b) ⋈ e2(b,c) closed
    by e3(a,c); a<b<c means each triangle appears exactly once."""
    e = _edges(spark, sf_dir)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    nodes = e.select(F.col("a").alias("n")).unionByName(
        e.select(F.col("b").alias("n"))
    ).distinct()
    return (
        tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .crossJoin(e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
        .crossJoin(nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes")))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (damping 0.85, 3 unrolled iterations) over the
    undirected co-purchase graph; exact integer arithmetic end-to-end."""
    e = _edges(spark, sf_dir)
    # directed both ways for an undirected graph
    edges = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    pr = deg.select("src", F.lit(_PR_SCALE).cast("long").alias("pr"))
    base = int(0.15 * _PR_SCALE)
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(pr, "src")
            .join(deg, "src")
            .select("dst", F.expr("pr DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = (
            deg.join(contrib, deg.src == contrib.dst, "left")
            .select(
                deg.src.alias("src"),
                (
                    F.lit(base)
                    + F.expr("COALESCE(inflow, 0) * 85 DIV 100")
                ).cast("long").alias("pr"),
            )
        )
    return (
        pr.orderBy(F.desc("pr"), "src")
        .limit(_PR_TOPK)
        .select(F.col("src").alias("part"), F.col("pr").alias("rank_fp"))
    )


_REACH_SEEDS = "1, 2"
_REACH_DEPTH = 2

# One SQL body shared verbatim between the Spark query (over v_ views) and
# the DuckDB oracle — the parity check covers the recursive text itself.
_REACH_SQL = f"""
    WITH RECURSIVE
    edges AS (
        SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        FROM {{p}}lineitem a JOIN {{p}}lineitem b
          ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
          AND a.l_partkey < {_PART_CAP} AND b.l_partkey < {_PART_CAP}
    ),
    dir AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL SELECT b, a FROM edges
    ),
    reach(node, depth) AS (
        SELECT DISTINCT src AS node, 0 AS depth
        FROM dir WHERE src IN ({_REACH_SEEDS})
        UNION ALL
        SELECT d.dst, r.depth + 1
        FROM reach r JOIN dir d ON d.src = r.node
        WHERE r.depth < {_REACH_DEPTH}
    )
    SELECT node,
           CAST(MIN(depth) AS INT) AS hops,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM reach
    GROUP BY node
    ORDER BY hops, node
"""


def graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability from a seed set via a native recursive CTE: per
    reached node, the hop distance (MIN over duplicate paths) and the
    ≤{depth}-hop path count — both deterministic under UNION ALL.

    Depth is 2 because UNION ALL recursion carries the full path multiset
    (Spark rejects UNION DISTINCT in recursion): on a dense co-purchase
    graph the depth-d frontier is O(deg^d) rows; the _PART_CAP edge bound
    plus depth 2 keep the frontier far below Spark's recursion row limit,
    so the default limit suffices — a caller pushing depth/cap higher
    raises ``spark.sql.cteRecursionRowLimit`` in their own session.
    Production BFS at 100 TB dedups the frontier per level — that is the
    iterative DataFrame loop in operators/components.py.  (The registry's
    session clone copies the caller's conf, so a raised limit applies.)"""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(_REACH_SQL.format(p="v_"))


_EDGE_CTE = f"""
      edges AS (
        SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
          AND a.l_partkey < {_PART_CAP} AND b.l_partkey < {_PART_CAP}
      )
"""

ORACLE: dict[str, str] = {
    "graph_reachability": _REACH_SQL.format(p=""),
    "graph_triangles": f"""
        WITH {_EDGE_CTE},
        tri AS (
          SELECT COUNT(*) AS n_triangles
          FROM edges e1
          JOIN edges e2 ON e1.b = e2.a
          JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        nodes AS (
          SELECT COUNT(*) AS n_nodes FROM (
            SELECT a AS n FROM edges UNION SELECT b FROM edges
          )
        )
        SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
               CAST(n_triangles AS BIGINT) AS n_triangles
        FROM tri, nodes
    """,
    "graph_pagerank": f"""
        WITH {_EDGE_CTE},
        dir AS (
          SELECT a AS src, b AS dst FROM edges
          UNION ALL SELECT b, a FROM edges
        ),
        deg AS (SELECT src, COUNT(*) AS outdeg FROM dir GROUP BY src),
        pr0 AS (SELECT src, CAST({_PR_SCALE} AS BIGINT) AS pr FROM deg),
        it1 AS (
          SELECT d.src,
                 CAST({int(0.15 * _PR_SCALE)}
                      + COALESCE(f.inflow, 0) * 85 // 100 AS BIGINT) AS pr
          FROM deg d LEFT JOIN (
            SELECT dir.dst, SUM(pr0.pr // deg.outdeg) AS inflow
            FROM dir JOIN pr0 ON dir.src = pr0.src
                     JOIN deg ON dir.src = deg.src
            GROUP BY dir.dst
          ) f ON d.src = f.dst
        ),
        it2 AS (
          SELECT d.src,
                 CAST({int(0.15 * _PR_SCALE)}
                      + COALESCE(f.inflow, 0) * 85 // 100 AS BIGINT) AS pr
          FROM deg d LEFT JOIN (
            SELECT dir.dst, SUM(it1.pr // deg.outdeg) AS inflow
            FROM dir JOIN it1 ON dir.src = it1.src
                     JOIN deg ON dir.src = deg.src
            GROUP BY dir.dst
          ) f ON d.src = f.dst
        ),
        it3 AS (
          SELECT d.src,
                 CAST({int(0.15 * _PR_SCALE)}
                      + COALESCE(f.inflow, 0) * 85 // 100 AS BIGINT) AS pr
          FROM deg d LEFT JOIN (
            SELECT dir.dst, SUM(it2.pr // deg.outdeg) AS inflow
            FROM dir JOIN it2 ON dir.src = it2.src
                     JOIN deg ON dir.src = deg.src
            GROUP BY dir.dst
          ) f ON d.src = f.dst
        )
        SELECT src AS part, pr AS rank_fp
        FROM it3 ORDER BY pr DESC, src LIMIT {_PR_TOPK}
    """,
}


_KCORE_K = 3
_KCORE_ROUNDS = 4


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — the Pearson
    correlation between the degrees at the two ends of every edge, the
    standard "do hubs connect to hubs?" health metric (social graphs are
    assortative, spam/bot link farms strongly disassortative — a useful
    curation signal on web-scale link data).

    Exactness: degrees are exact integer counts; the (deg_u, deg_v) pair
    list enumerates each undirected edge in BOTH directions (the standard
    symmetric formulation); all five moments are exact DECIMAL(38,0)
    sums; r is the shared pipeline7 Pearson text, NULL on a regular
    graph (zero degree variance).

    Scale: degree = one groupBy over the directed edge list; the pair
    relation is two broadcast-joinable lookups back onto edges; moments
    are one global aggregate.  Everything is bounded by |E|.
    """
    from hadrodb_spark.operators.pipeline7 import _AC_DEN, _AC_NUM

    e = _edges(spark, sf_dir)
    dir_e = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dir_e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pairs = (
        dir_e.join(deg.withColumnRenamed("src", "u_key"), F.col("src") == F.col("u_key"))
        .select("src", "dst", F.col("deg").alias("x"))
        .join(deg.withColumnRenamed("src", "v_key"), F.col("dst") == F.col("v_key"))
        .select(F.col("x"), F.col("deg").alias("y"))
    )
    agg = pairs.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    nodes = deg.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return (
        agg.crossJoin(F.broadcast(nodes))
        .selectExpr(
            "n_nodes",
            "CAST(n DIV 2 AS BIGINT) AS n_edges",
            f"CASE WHEN {_AC_DEN} = 0 THEN NULL"
            f" ELSE ROUND({_AC_NUM} / {_AC_DEN}, 6) END AS assortativity",
        )
    )


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the co-purchase graph by iterative
    peeling: repeatedly drop nodes with degree < k and the edges they
    carry.  The k-core is the standard dense-substructure extractor —
    in data curation it separates organically-linked content from
    stragglers and spam chains that fall off after one or two peels.

    Semantics BY CONSTRUCTION: exactly ``_KCORE_ROUNDS`` unrolled peels
    (identical CTE algebra on both engines); ``converged`` reports
    whether round 4 removed nothing — i.e. whether the reported subgraph
    IS the fixpoint (true on every tested fixture; if a deeper graph
    ever needed more rounds, the flag surfaces it instead of silently
    under-peeling).

    Exactness: counts and degrees are exact integers end-to-end — no
    floats anywhere.

    Scale: each peel is one degree aggregate + two semi-joins on the
    shrinking edge relation, with ``localCheckpoint`` truncating the
    lineage per round (components.py's iterative pattern) — WITHOUT the
    cut, each round's plan re-expands the lineitem self-join subtree
    ~2× per reference and four unrolled rounds OOM the optimizer
    (measured: driver heap exhaustion at sf0.01 before the first task
    ran).  At 100 TB the same loop runs to convergence instead of a
    fixed unroll.
    """
    edges = _edges(spark, sf_dir).localCheckpoint()
    converged_known_rounds = []
    for _ in range(_KCORE_ROUNDS):
        dir_e = edges.select(F.col("a").alias("n")).unionByName(
            edges.select(F.col("b").alias("n"))
        )
        deg = dir_e.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
        keep = (
            deg.filter(F.col("deg") >= _KCORE_K).select("n").localCheckpoint()
        )
        edges = (
            edges.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint()
        )
        converged_known_rounds.append(keep)
    survivors = converged_known_rounds[-1]
    before_last = converged_known_rounds[-2]
    dir_final = edges.select(F.col("a").alias("n")).unionByName(
        edges.select(F.col("b").alias("n"))
    )
    deg_final = dir_final.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg_final.filter(F.col("deg") >= _KCORE_K)
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_core_nodes"),
            F.min("deg").cast("bigint").alias("min_core_degree"),
        )
        .crossJoin(
            F.broadcast(
                edges.groupBy().agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_core_edges")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                before_last.groupBy()
                .agg(F.count(F.lit(1)).alias("nb"))
                .crossJoin(
                    survivors.groupBy().agg(F.count(F.lit(1)).alias("na"))
                )
                .select((F.col("nb") == F.col("na")).alias("converged"))
            )
        )
        .select(
            F.lit(_KCORE_K).cast("bigint").alias("k"),
            F.lit(_KCORE_ROUNDS).cast("bigint").alias("rounds"),
            "n_core_nodes",
            "n_core_edges",
            "min_core_degree",
            "converged",
        )
    )


def kcore_converged(
    edges: DataFrame, k: int = _KCORE_K, max_rounds: int = 64
) -> tuple[DataFrame, int, bool]:
    """Run-to-convergence k-core peel (r9 VERDICT task #6): loop until a
    peel removes NOTHING, so the returned subgraph is the true k-core by
    definition — the variant a deeper-than-``_KCORE_ROUNDS`` graph needs.
    Returns ``(core_edges, rounds, converged)`` where ``rounds`` counts
    executed peels (including the final no-op peel that proves the
    fixpoint) and ``converged`` is False only if ``max_rounds`` ran out
    (honest cap — the peel depth of any real graph is ≤ its node count,
    and every round strictly shrinks the node set until the fixpoint).

    Same per-round algebra as :func:`graph_kcore` (degree aggregate + two
    semi-joins), same per-round ``localCheckpoint`` lineage cut (without
    it Catalyst re-expands the base self-join per reference — the
    documented driver-OOM).  The convergence test is one driver-side
    count per round: the node set shrinks monotonically, so equal
    successive KEEP counts imply equal sets, i.e. the fixpoint.
    ``graph_kcore`` stays the oracle-checkable entry (fixed unroll =
    identical CTE algebra on both engines); this is the library path a
    100 TB run uses."""
    edges = edges.select("a", "b").localCheckpoint()
    prev_nodes: int | None = None
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        dir_e = edges.select(F.col("a").alias("n")).unionByName(
            edges.select(F.col("b").alias("n"))
        )
        deg = dir_e.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
        keep = (
            deg.filter(F.col("deg") >= k).select("n").localCheckpoint()
        )
        n_nodes = keep.count()
        rounds += 1
        if prev_nodes is not None and n_nodes == prev_nodes:
            # fixpoint detected BEFORE the edge recompute: the keep set
            # equals last round's, and edges were already filtered by
            # that exact set — re-filtering would be a provably no-op
            # pair of semi-joins + a checkpoint job (review finding; on
            # a large graph the final round is the most expensive one)
            converged = True
            break
        edges = (
            edges.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint()
        )
        prev_nodes = n_nodes
    return edges, rounds, converged


def graph_kcore_convergent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`graph_kcore`'s summary relation computed over the TRUE
    fixpoint from :func:`kcore_converged` — ``rounds`` reports actual
    peels, ``converged`` the cap outcome.  Unregistered library twin of
    the oracle-checkable unrolled entry (on every tested fixture the
    unroll converges, so the two agree; on a deeper graph only this one
    is the real k-core)."""
    core, rounds, conv = kcore_converged(_edges(spark, sf_dir))
    dir_final = core.select(F.col("a").alias("n")).unionByName(
        core.select(F.col("b").alias("n"))
    )
    deg_final = dir_final.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg_final.filter(F.col("deg") >= _KCORE_K)
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_core_nodes"),
            F.min("deg").cast("bigint").alias("min_core_degree"),
        )
        .crossJoin(
            F.broadcast(
                core.groupBy().agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_core_edges")
                )
            )
        )
        .select(
            F.lit(_KCORE_K).cast("bigint").alias("k"),
            F.lit(rounds).cast("bigint").alias("rounds"),
            "n_core_nodes",
            "n_core_edges",
            "min_core_degree",
            F.lit(conv).alias("converged"),
        )
    )


def _kcore_oracle() -> str:
    # every CTE is AS MATERIALIZED: each round references its predecessor
    # three times, so DuckDB's default inlining re-expands the base
    # self-join ~3^rounds times (measured: 469 s at sf0.001 vs 0.2 s
    # materialized — the same plan explosion localCheckpoint cures on
    # the Spark side).
    parts = [
        "WITH " + _EDGE_CTE.replace("edges AS (", "edges AS MATERIALIZED (", 1)
        + ",",
        "e0 AS MATERIALIZED (SELECT a, b FROM edges)",
    ]
    prev = "e0"
    keeps = []
    for i in range(1, _KCORE_ROUNDS + 1):
        keeps.append(f"k{i}")
        parts.append(
            f""",
        d{i} AS MATERIALIZED (
          SELECT n, COUNT(*) AS deg FROM (
            SELECT a AS n FROM {prev} UNION ALL SELECT b FROM {prev}
          ) GROUP BY n
        ),
        k{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE deg >= {_KCORE_K}),
        e{i} AS MATERIALIZED (
          SELECT a, b FROM {prev}
          WHERE a IN (SELECT n FROM k{i}) AND b IN (SELECT n FROM k{i})
        )"""
        )
        prev = f"e{i}"
    last, before = keeps[-1], keeps[-2]
    parts.append(
        f""",
        dfin AS (
          SELECT n, COUNT(*) AS deg FROM (
            SELECT a AS n FROM {prev} UNION ALL SELECT b FROM {prev}
          ) GROUP BY n
        )
        SELECT CAST({_KCORE_K} AS BIGINT) AS k,
               CAST({_KCORE_ROUNDS} AS BIGINT) AS rounds,
               CAST((SELECT COUNT(*) FROM dfin WHERE deg >= {_KCORE_K})
                    AS BIGINT) AS n_core_nodes,
               CAST((SELECT COUNT(*) FROM {prev}) AS BIGINT) AS n_core_edges,
               CAST((SELECT MIN(deg) FROM dfin WHERE deg >= {_KCORE_K})
                    AS BIGINT) AS min_core_degree,
               (SELECT COUNT(*) FROM {before}) = (SELECT COUNT(*) FROM {last})
                 AS converged"""
    )
    return "".join(parts)


def _assort_oracle() -> str:
    from hadrodb_spark.operators.pipeline7 import _AC_DEN, _AC_NUM

    return f"""
        WITH {_EDGE_CTE},
        dir AS (
          SELECT a AS src, b AS dst FROM edges
          UNION ALL SELECT b, a FROM edges
        ),
        deg AS (SELECT src, COUNT(*) AS deg FROM dir GROUP BY src),
        pairs AS (
          SELECT du.deg AS x, dv.deg AS y
          FROM dir JOIN deg du ON dir.src = du.src
                   JOIN deg dv ON dir.dst = dv.src
        ),
        agg AS (
          SELECT COUNT(*) AS n,
                 SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
                 SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                 SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
          FROM pairs
        )
        SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST(n // 2 AS BIGINT) AS n_edges,
               CASE WHEN {_AC_DEN} = 0 THEN NULL
                    ELSE ROUND({_AC_NUM} / {_AC_DEN}, 6) END AS assortativity
        FROM agg
    """


ORACLE["graph_degree_assortativity"] = _assort_oracle()
ORACLE["graph_kcore"] = _kcore_oracle()


# --- clustering coefficient ---------------------------------------------------
# Global C = 3·triangles / wedges (wedges = Σ deg(deg−1)/2) and the mean
# local coefficient over deg≥2 nodes — both exact integer ppm; the ×-10⁶
# products route DECIMAL(38,0)/HUGEINT (triangle counts pass 10¹² at
# 100 TB, so T·3·10⁶ wraps BIGINT — the r8/r9 overflow class).
_CC_LOCAL_SPARK = (
    "(CAST(t AS DECIMAL(38,0)) * 2000000) DIV (deg * (deg - 1))"
)
_CC_LOCAL_DUCK = "(CAST(t AS HUGEINT) * 2000000) // (deg * (deg - 1))"


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global + mean-local clustering coefficient of the co-purchase graph —
    the triangle-density audit that separates a clustered catalog
    (products bought in cohesive bundles) from a hub-and-spoke one, and
    the standard companion to ``graph_triangles`` / ``graph_degree_
    assortativity``.

    Exactness: triangle and wedge counts are exact bigints (ordered
    triple join counts each triangle once; per-node triangle counts fan
    each closed triple to its 3 corners); the two coefficients are exact
    integer ppm via non-negative DECIMAL-routed DIV; NULL when the graph
    has no wedge (or no deg≥2 node).

    Scale: same ordered-edge-list triangle plan as ``graph_triangles``
    (fan-out bounded by forward degree; at 100 TB order endpoints by
    degree for the O(m^1.5) bound); degrees and wedges are one
    map-side-combined aggregate; everything else is node-table sized.
    """
    e = _edges(spark, sf_dir)
    dirs = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dirs.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    tnode = (
        tri.select(F.col("x").alias("src"))
        .unionByName(tri.select(F.col("y").alias("src")))
        .unionByName(tri.select(F.col("z").alias("src")))
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    local_agg = (
        deg.join(tnode, "src", "left")
        .filter(F.col("deg") >= 2)
        .select(
            "deg",
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("t"),
        )
        .select(F.expr(_CC_LOCAL_SPARK).cast("bigint").alias("local_ppm"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_deg2"),
            F.coalesce(F.sum("local_ppm"), F.lit(0))
            .cast("bigint")
            .alias("local_sum"),
        )
    )
    base = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.coalesce(
            F.sum((F.col("deg") * (F.col("deg") - 1)).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("wedges_x2"),
    )
    tric = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    ec = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        base.crossJoin(F.broadcast(tric))
        .crossJoin(F.broadcast(ec))
        .crossJoin(F.broadcast(local_agg))
        .selectExpr(
            "n_nodes",
            "n_edges",
            "CAST(wedges_x2 DIV 2 AS BIGINT) AS n_wedges",
            "n_triangles",
            "CASE WHEN wedges_x2 = 0 THEN NULL"
            " ELSE CAST((CAST(n_triangles AS DECIMAL(38,0)) * 6000000)"
            " DIV wedges_x2 AS BIGINT) END AS global_c_ppm",
            "CASE WHEN n_deg2 = 0 THEN NULL"
            " ELSE CAST(local_sum DIV n_deg2 AS BIGINT) END"
            " AS mean_local_c_ppm",
        )
    )


ORACLE["graph_clustering_coefficient"] = f"""
    WITH {_EDGE_CTE},
    dir AS (
      SELECT a AS src, b AS dst FROM edges
      UNION ALL SELECT b, a FROM edges
    ),
    deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM dir GROUP BY src
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e1.b = e2.a
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tnode AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT x AS src FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY src
    ),
    local_agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_deg2,
             CAST(COALESCE(SUM(local_ppm), 0) AS BIGINT) AS local_sum
      FROM (
        SELECT CAST({_CC_LOCAL_DUCK} AS BIGINT) AS local_ppm
        FROM (
          SELECT d.deg, CAST(COALESCE(tn.t, 0) AS BIGINT) AS t
          FROM deg d LEFT JOIN tnode tn ON d.src = tn.src
          WHERE d.deg >= 2
        )
      )
    ),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             COALESCE(SUM(CAST(deg * (deg - 1) AS HUGEINT)),
                      CAST(0 AS HUGEINT)) AS wedges_x2
      FROM deg
    ),
    tric AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tri),
    ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
    SELECT n_nodes, n_edges,
           CAST(wedges_x2 // 2 AS BIGINT) AS n_wedges,
           n_triangles,
           CASE WHEN wedges_x2 = 0 THEN NULL
                ELSE CAST((CAST(n_triangles AS HUGEINT) * 6000000)
                     // wedges_x2 AS BIGINT) END AS global_c_ppm,
           CASE WHEN n_deg2 = 0 THEN NULL
                ELSE CAST(local_sum // n_deg2 AS BIGINT) END
             AS mean_local_c_ppm
    FROM base, tric, ec, local_agg
"""


# --- adamic-adar link prediction ----------------------------------------------
# AA(u,v) = Σ_{b ∈ N(u)∩N(v)} 1/ln(deg(b)) over candidate pairs that are
# NOT already edges; every common neighbor has deg ≥ 2, so ln(deg) ≥ ln 2.
_AA_TERM = "ROUND(1.0 / LN(CAST(deg AS DOUBLE)), 6)"
_AA_TOPK = 10


def graph_adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k Adamic-Adar link prediction over the co-purchase graph — "which
    two parts are NOT yet co-purchased but share many (rare) co-purchase
    partners" — the classic recommender/link-prediction score, weighting
    each common neighbor by 1/ln(degree) so hub neighbors count less.

    Exactness: candidate pairs come from the exact wedge enumeration
    (both-direction neighbor lists joined on the shared center, u < v);
    each center's 1/ln(deg) is ONE shared float text rounded at 6 and
    summed as exact DECIMAL, so the ORDER BY (score DESC, u, v) is a
    total order; existing edges are removed with an anti-join on the
    same a<b ordering.

    Scale: wedge cost is Σ deg(b)² — the same band-bucket bound as the
    MinHash LSH joins (at 100 TB cap hub degrees before the self-join,
    exactly like the LSH bucket cap); the anti-join and the final
    TakeOrdered(k) are the only shuffles after the wedge aggregate.
    """
    e = _edges(spark, sf_dir)
    dirs = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dirs.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    nb = dirs.select(F.col("src").alias("ctr"), F.col("dst").alias("n"))
    wedges = (
        nb.select("ctr", F.col("n").alias("u"))
        .join(nb.select("ctr", F.col("n").alias("v")), "ctr")
        .filter(F.col("u") < F.col("v"))
    )
    scored = (
        wedges.join(deg, wedges.ctr == deg.src)
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(F.expr(_AA_TERM).cast("decimal(18,6)")).alias("score"),
        )
    )
    cand = scored.join(
        e, (scored.u == e.a) & (scored.v == e.b), "left_anti"
    )
    return (
        cand.orderBy(F.desc("score"), "u", "v")
        .limit(_AA_TOPK)
        .select(
            F.col("u").alias("node_u"),
            F.col("v").alias("node_v"),
            "n_common",
            F.col("score").cast("double").alias("aa_score"),
        )
    )


ORACLE["graph_adamic_adar_topk"] = f"""
    WITH {_EDGE_CTE},
    dir AS (
      SELECT a AS src, b AS dst FROM edges
      UNION ALL SELECT b, a FROM edges
    ),
    deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM dir GROUP BY src
    ),
    wedges AS (
      SELECT w1.ctr, w1.u, w2.v
      FROM (SELECT src AS ctr, dst AS u FROM dir) w1
      JOIN (SELECT src AS ctr, dst AS v FROM dir) w2 ON w1.ctr = w2.ctr
      WHERE w1.u < w2.v
    ),
    scored AS (
      SELECT u, v,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             SUM(CAST({_AA_TERM} AS DECIMAL(18,6))) AS score
      FROM wedges JOIN deg ON wedges.ctr = deg.src
      GROUP BY u, v
    ),
    cand AS (
      SELECT s.* FROM scored s
      ANTI JOIN edges e ON s.u = e.a AND s.v = e.b
    )
    SELECT u AS node_u, v AS node_v, n_common,
           CAST(score AS DOUBLE) AS aa_score
    FROM cand
    ORDER BY score DESC, u, v
    LIMIT {_AA_TOPK}
"""
