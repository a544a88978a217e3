"""Registered queries: graph features over the user↔prop_k bipartite graph
(SURVEY §2.3 J5, §2.4 A27/A28).

prop_k (the JSON payload key, 0-99) stands in for merchant_id: richer than
event_type (5 values) and exercises the JSON parse on the edge-build path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import register
from ..operators.graph import edge_list, node_degrees, shared_neighbor_pairs
from ..schemas import prop_k_fast
from ..sources import load_table

_EDGES_SQL = r"""
SELECT user_id AS src,
       CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS dst,
       CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS weight,
       COUNT(*) AS n_txn
FROM events
GROUP BY user_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    parsed = df.withColumn("prop_k", prop_k_fast())
    return edge_list(parsed, src_col="user_id", dst_col="prop_k")


@register("graph_edge_list", oracle=_EDGES_SQL)
def graph_edge_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted edge list (user → prop_k): Σamount + txn count per edge (J5).
    Reference: advanced_features.py:30-50 networkx add_edge loop → ONE
    groupBy; the graph is a DataFrame, not driver-side object state."""
    return _edges(spark, sf_dir)


@register(
    "user_graph_degrees",
    oracle=f"""
WITH edges AS ({_EDGES_SQL}),
n AS (SELECT (SELECT COUNT(DISTINCT src) FROM edges)
           + (SELECT COUNT(DISTINCT dst) FROM edges) AS n_nodes)
SELECT src AS node, COUNT(*) AS degree,
       CAST(SUM(CAST(weight AS DECIMAL(25,2))) AS DOUBLE) AS weighted_degree,
       CAST(SUM(n_txn) AS BIGINT) AS total_txns,
       CASE WHEN (SELECT n_nodes FROM n) > 1
         THEN CAST(COUNT(*) AS DOUBLE) / CAST((SELECT n_nodes FROM n) - 1 AS DOUBLE)
         ELSE 0.0 END AS degree_centrality
FROM edges GROUP BY src
""",
)
def user_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree / weighted degree / networkx-convention degree centrality per
    user node (A27/A28; reference advanced_features.py:59-88)."""
    return node_degrees(_edges(spark, sf_dir), side="src")


@register(
    "merchant_graph_features",
    oracle=f"""
WITH edges AS ({_EDGES_SQL})
SELECT dst AS node, COUNT(*) AS unique_users,
       CAST(SUM(CAST(weight AS DECIMAL(25,2))) AS DOUBLE) AS total_amount,
       CAST(SUM(n_txn) AS BIGINT) AS total_txns
FROM edges GROUP BY dst
""",
)
def merchant_graph_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merchant-side aggregates: unique customers, Σamount, txn count per
    prop_k node (reference MerchantAggregator,
    flink_job/aml_stream_processor.py:234-330)."""
    e = _edges(spark, sf_dir)
    return e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("unique_users"),
        F.sum(F.col("weight").cast("decimal(25,2)")).cast("double").alias(
            "total_amount"
        ),
        F.sum("n_txn").alias("total_txns"),
    )


@register(
    "landmark_closeness",
    oracle=r"""
WITH RECURSIVE
base AS (
  SELECT user_id AS u, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
  FROM events GROUP BY 1, 2
),
edges AS (
  SELECT u AS src, -k - 1 AS dst FROM base
  UNION ALL
  SELECT -k - 1 AS src, u AS dst FROM base
),
nn AS (SELECT COUNT(DISTINCT src) AS n_nodes FROM edges),
landmarks AS (
  SELECT src AS node FROM edges WHERE src >= 0
  GROUP BY src ORDER BY COUNT(*) DESC, src LIMIT 4
),
bfs(root, node, dist) AS (
  SELECT node, node, 0 FROM landmarks
  UNION
  SELECT b.root, e.dst, b.dist + 1
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.dist < 8
),
dmin AS (SELECT root, node, MIN(dist) AS dist FROM bfs GROUP BY root, node)
SELECT root AS node,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
       CAST(SUM(dist) AS BIGINT) AS total_dist,
       ROUND(CASE WHEN SUM(dist) > 0
         THEN ((COUNT(*) - 1.0) / SUM(dist))
              * ((COUNT(*) - 1.0) / ((SELECT n_nodes FROM nn) - 1.0))
         ELSE 0.0 END, 6) AS closeness
FROM dmin GROUP BY root
""",
)
def landmark_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED closeness centrality (A28) for the 4 highest-degree
    user nodes of the undirected user↔prop_k bipartite graph, computed by
    distributed multi-source BFS (Pregel-style frontier joins — no
    driver-side graph) and verified against a DuckDB WITH RECURSIVE BFS.
    prop_k nodes are encoded as -k-1 so the two node families share one
    bigint id space. Distances capped at 8 hops on BOTH engines (bounded-
    radius closeness; this graph's diameter is well under the cap).
    Reference: advanced_features.py networkx closeness_centrality — here
    exact per landmark at K·V state, the shape that survives 100 TB."""
    from ..operators.graph import landmark_closeness as _lc

    base = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("u"),
            prop_k_fast().alias("k"),
        )
        .distinct()
    )
    edges = base.select(
        F.col("u").alias("src"), (-F.col("k") - 1).alias("dst")
    ).unionAll(base.select((-F.col("k") - 1).alias("src"), F.col("u").alias("dst")))
    return _lc(edges, k_landmarks=4, max_depth=8)


def _centralities_sql(max_depth: int = 8, modulus: int = 50) -> str:
    """Oracle for :func:`graph_global_centralities`: recursive-BFS
    distances (the landmark_closeness oracle pattern, all sources) plus an
    unrolled per-level shortest-path-count chain and the Brandes
    pair-dependency sum, each term snapped to the 1e-9 lattice and summed
    in DECIMAL — bit-exact against the relational Spark derivation."""
    sig_ctes = ""
    sig_union = "SELECT * FROM sig0"
    for d in range(1, max_depth + 1):
        sig_ctes += f""",
sig{d} AS MATERIALIZED (
  SELECT p.root, e.dst AS node, {d} AS dist, SUM(p.sigma) AS sigma
  FROM sig{d - 1} p
  JOIN edges e ON e.src = p.node
  JOIN dmin dm ON dm.root = p.root AND dm.node = e.dst AND dm.dist = {d}
  GROUP BY p.root, e.dst
)"""
        sig_union += f" UNION ALL SELECT * FROM sig{d}"
    return rf"""
WITH RECURSIVE
base AS MATERIALIZED (
  SELECT user_id AS u, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
  FROM events
  WHERE user_id % {modulus} = 0 AND regexp_extract(props, '"k": (\d+)', 1) <> ''
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT u AS src, -k - 1 AS dst FROM base
  UNION ALL
  SELECT -k - 1 AS src, u AS dst FROM base
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
bfs(root, node, dist) AS (
  SELECT node, node, 0 FROM nodes
  UNION
  SELECT b.root, e.dst, b.dist + 1
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.dist < {max_depth}
),
dmin AS MATERIALIZED (
  SELECT root, node, MIN(dist) AS dist FROM bfs GROUP BY root, node
),
sig0 AS (SELECT node AS root, node, 0 AS dist, CAST(1 AS BIGINT) AS sigma
         FROM nodes){sig_ctes},
sig AS MATERIALIZED ({sig_union}),
bet AS MATERIALIZED (
  SELECT sv.node AS v,
         CAST(SUM(CAST(round(CAST(sv.sigma * vt.sigma AS DOUBLE)
                             / CAST(st.sigma AS DOUBLE), 9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS bsum
  FROM sig sv
  JOIN sig vt ON vt.root = sv.node AND vt.node <> sv.node
  JOIN sig st ON st.root = sv.root AND st.node = vt.node
            AND st.dist = sv.dist + vt.dist
  WHERE sv.node <> sv.root AND vt.node <> sv.root
  GROUP BY sv.node
),
clo AS (SELECT root, COUNT(*) AS cnt, SUM(dist) AS td FROM dmin GROUP BY root)
SELECT c.root AS node,
       round(CASE WHEN c.td > 0
         THEN ((c.cnt - 1.0) / c.td)
              * ((c.cnt - 1.0) / ((SELECT n_nodes FROM nn) - 1.0))
         ELSE 0.0 END, 6) AS closeness_centrality,
       round(CASE WHEN (SELECT n_nodes FROM nn) > 2
         THEN COALESCE(b.bsum, 0.0)
              / (((SELECT n_nodes FROM nn) - 1.0)
                 * ((SELECT n_nodes FROM nn) - 2.0))
         ELSE 0.0 END, 6) AS betweenness_centrality
FROM clo c LEFT JOIN bet b ON b.v = c.root
"""


@register("graph_global_centralities", oracle=_centralities_sql())
def graph_global_centralities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closeness + betweenness centrality (A28's global metrics),
    ORACLE-EXACT since r7 on a bounded deterministic slice of the
    user↔prop_k bipartite graph (user_id % 50 == 0; prop_k encoded as
    -k-1): all-sources BFS + level-synchronous σ counting + the Brandes
    pair-dependency sum, all relational
    (operators.graph.bounded_exact_centralities), verified against a
    WITH RECURSIVE + unrolled-CTE DuckDB oracle. Distances capped at 8
    hops on both engines (bounded-radius, like landmark_closeness). The
    unbounded per-component numpy-Brandes kernel
    (operators.graph.global_centralities) remains the scale path for
    full graphs and is pinned equal to this derivation in
    tests/test_centralities.py. Reference: advanced_features.py:59-88
    networkx closeness/betweenness_centrality."""
    from ..operators.graph import bounded_exact_centralities

    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 50 == 0)
        .select(
            F.col("user_id").alias("u"),
            prop_k_fast().alias("k"),
        )
        .filter(F.col("k").isNotNull())
        .distinct()
    )
    edges = base.select(
        F.col("u").alias("src"), (-F.col("k") - 1).alias("dst")
    ).unionAll(
        base.select((-F.col("k") - 1).alias("src"), F.col("u").alias("dst"))
    )
    return bounded_exact_centralities(edges, max_depth=8)


@register(
    "user_shared_k_pairs",
    oracle=f"""
WITH edges AS ({_EDGES_SQL})
SELECT a.src AS u, b.src AS v, COUNT(*) AS shared_dsts
FROM edges a JOIN edges b ON a.dst = b.dst AND a.src < b.src
GROUP BY a.src, b.src
""",
)
def user_shared_k_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop projection: user pairs sharing ≥1 prop_k with shared-neighbor
    count — the edge self-join primitive for clustering/triangle metrics
    (A28). Scale note: cap/sample hub nodes before this join at 100 TB."""
    return shared_neighbor_pairs(_edges(spark, sf_dir))


def _pagerank_sql(n_iters: int = 8, damping: float = 0.85) -> str:
    """Unrolled power-iteration CTE chain (same pattern as the k-means
    Lloyd oracle): one CTE per iteration, each rounding to 12 dp exactly
    like the engine, so the comparison is bit-exact."""
    head = r"""
WITH base AS (
  SELECT DISTINCT
         user_id AS a,
         -CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) - 1 AS b
  FROM events
  WHERE regexp_extract(props, '"k": (\d+)', 1) <> ''
),
edges AS (
  SELECT a AS src, b AS dst FROM base
  UNION ALL
  SELECT b AS src, a AS dst FROM base
),
outdeg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n FROM edges),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM outdeg)"""
    cte = ""
    for i in range(1, n_iters + 1):
        cte += f""",
r{i} AS (
  SELECT o.node,
         round((1.0 - {damping!r}) / (SELECT n FROM nn)
               + {damping!r} * coalesce(s.c, 0.0), 12) AS rank
  FROM outdeg o LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(CAST(floor(r.rank / od.outdeg * 1e12 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e12 AS c
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.node
    JOIN outdeg od ON od.node = e.src
    GROUP BY e.dst
  ) s USING (node)
)"""
    return (
        head
        + cte
        + f"""
SELECT node, round(rank, 9) + 0.0 AS pagerank FROM r{n_iters}
"""
    )


@register("pagerank_bipartite", oracle=_pagerank_sql())
def pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized user↔prop_k bipartite graph — the
    canonical iterative distributed-graph workload (A28 family; reference
    scope-caps centralities to networkx on collected edges,
    advanced_features.py:59-88 — this is the shape that actually scales).
    8 power iterations, damping 0.85, per-iteration 12-dp resync
    rounding; oracle is an unrolled CTE chain, bit-exact. Node ids are
    LONGS (users ≥ 0, prop_k encoded -k-1, the landmark_closeness
    scheme; r7 — the r6 'u:'/'m:' string keys made every per-iteration
    shuffle hash/compare strings on the hottest join at the 10M anchor).
    r10: runs the small-side bipartite kernel (the merchant/category side
    is bounded like a broadcast-join build side) — bit-identical to the
    generic symmetrized pagerank (pytest-pinned), 0.61× its wall at the
    10M anchor in an interleaved A/B (31.1 → 18.9 s): no symmetrized edge
    materialization, no per-iteration edge join. The kernel advances the
    graph's two parity chains (A₀→B₁→A₂→… and B₀→A₁→B₂→…) together, two
    iterations per pass over the user-side adjacency, and carries the
    prop_k-side score vector through the driver as Arrow between passes:
    8 iterations are one adjacency checkpoint, one degree pass and four
    chain passes. Scale contract: the prop_k side is collected to the
    driver, so above ``max_small_side`` (2M) nodes the kernel falls back
    to the generic pagerank."""
    from ..operators.graph import pagerank_bipartite_smallside

    df = load_table(spark, sf_dir, "events")
    base = (
        df.withColumn("prop_k", prop_k_fast())
        .filter(F.col("prop_k").isNotNull())
        .select(
            F.col("user_id").alias("a"),
            (-F.col("prop_k").cast("long") - 1).alias("b"),
        )
        .distinct()
    )
    return pagerank_bipartite_smallside(base, n_iters=8, damping=0.85)


def _hits_sql(n_iters: int = 8) -> str:
    """Unrolled HITS oracle: directed user→prop_k edges, per-round L2
    normalization + 12-dp resync, same CTE pattern as the PageRank and
    PCA oracles (MATERIALIZED — DuckDB inlines plain CTEs exponentially)."""
    head = r"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT
         user_id AS src,
         -CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) - 1 AS dst
  FROM events
  WHERE regexp_extract(props, '"k": (\d+)', 1) <> ''
),
h0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1.0 AS h FROM edges)"""
    cte = ""
    for i in range(1, n_iters + 1):
        cte += f""",
ar{i} AS MATERIALIZED (
  SELECT e.dst,
         SUM(CAST(floor(h.h * 1e12 + 0.5) AS BIGINT)) AS a_raw
  FROM edges e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst
),
an{i} AS MATERIALIZED (
  SELECT sqrt(CAST(SUM(CAST(a_raw AS HUGEINT) * a_raw) AS DOUBLE)) AS nrm
  FROM ar{i}
),
a{i} AS MATERIALIZED (
  SELECT dst AS node,
         round(CAST(a_raw AS DOUBLE) / (SELECT nrm FROM an{i}), 12) AS a
  FROM ar{i}
),
hr{i} AS MATERIALIZED (
  SELECT e.src,
         SUM(CAST(floor(a.a * 1e12 + 0.5) AS BIGINT)) AS h_raw
  FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
),
hn{i} AS MATERIALIZED (
  SELECT sqrt(CAST(SUM(CAST(h_raw AS HUGEINT) * h_raw) AS DOUBLE)) AS nrm
  FROM hr{i}
),
h{i} AS MATERIALIZED (
  SELECT src AS node,
         round(CAST(h_raw AS DOUBLE) / (SELECT nrm FROM hn{i}), 12) AS h
  FROM hr{i}
)"""
    return (
        head
        + cte
        + f"""
SELECT node, 'hub' AS role, round(h, 9) + 0.0 AS score FROM h{n_iters}
UNION ALL
SELECT node, 'authority' AS role, round(a, 9) + 0.0 AS score FROM a{n_iters}
"""
    )


@register("hits_bipartite", oracle=_hits_sql())
def hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the DIRECTED user→prop_k graph — the
    complementary eigenvector pair to pagerank_bipartite (A28 family):
    users ranked as hubs, merchants as authorities, 8 mutually recursive
    L2-normalized rounds, unrolled-CTE oracle, bit-exact. Long node ids
    (users ≥ 0, prop_k as -k-1; r7, same rationale as
    pagerank_bipartite — integer shuffle keys on the hot joins).
    r10: runs the small-side bipartite kernel (authorities = the bounded
    category side) — bit-identical to the generic hits (pytest-pinned),
    0.63× its wall at the 10M anchor in an interleaved A/B
    (30.1 → 19.0 s)."""
    from ..operators.graph import hits_smallside

    df = load_table(spark, sf_dir, "events")
    edges = (
        df.withColumn("prop_k", prop_k_fast())
        .filter(F.col("prop_k").isNotNull())
        .select(
            F.col("user_id").alias("src"),
            (-F.col("prop_k").cast("long") - 1).alias("dst"),
        )
        .distinct()
    )
    return hits_smallside(edges, n_iters=8)
