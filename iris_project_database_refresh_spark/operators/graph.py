"""Iterative graph analytics: PageRank over a planted document graph.

The reference's catalog is a document collection with cross-references
(the master catalog's per-document usage/description records are what
an authority ranking would consume); the corpus itself has no link
column, so — like the heading/page-tag/PII operators — the edge set is
planted deterministically in-query: node u (doc_id, contiguous
0..N-1) links to (u*31+7) % N, (u*17+3) % N and (u*13+11) % N
(de-duplicated; self-loops kept). Same formulas in the oracle, so both
engines build the identical graph.

Spark-first shape: the classic iterative join — edges are computed
once and pinned (lazy localCheckpoint, the dedup_components pattern);
each of PR_ITERS rounds is ranks ⋈ edges → groupBy(dst) → sum, plus a
left join back onto the node set so sink-free nodes still receive the
teleport mass. Ranks are SCALED INTEGERS (SCALE = 1e12) with floor
division at every step, so per-node sums are exact and order-
independent — the trick that makes an iterative float algorithm
oracle-reproducible (same device as q9's scaled-integer profit). The
DuckDB oracle unrolls the three rounds as CTEs with `//`.

Scale: per round, one shuffle of the edge list on dst + one broadcast-
able node join; edge state is narrow (src, dst, outdeg). At 100 TB the
same loop runs with edges bucketed by dst so every round reuses one
co-located layout (`bucketBy` at write time); rounds are bounded by the
damping horizon, not data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

SCALE = 10**12
PR_ITERS = 3
TOP_K = 20

QUERIES = {}
ORACLES = {}


def _nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select("doc_id")


def pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes(spark, sf_dir)
    # 1-row broadcast of N keeps the whole plan lazy (q11 pattern)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") * 31 + 7) % F.col("n"),
            (F.col("doc_id") * 17 + 3) % F.col("n"),
            (F.col("doc_id") * 13 + 11) % F.col("n"),
        )
    )
    edges = (
        with_n.select(
            F.col("doc_id").alias("src"),
            F.size(targets).cast("bigint").alias("outdeg"),
            F.explode(targets).alias("dst"),
        )
        .localCheckpoint(eager=False)  # pin: reused every round
    )

    ranks = with_n.select(
        "doc_id", F.expr(f"cast({SCALE} as bigint) div n").alias("rank"), "n"
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks.select(F.col("doc_id").alias("src"), "rank"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum(F.expr("(85 * rank) div 100 div outdeg")).alias("mass"))
        )
        ranks = (
            ranks.select("doc_id", "n")
            .join(contrib, "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.expr(f"(15 * cast({SCALE} as bigint)) div 100 div n")
                    + F.coalesce(F.col("mass"), F.lit(0))
                ).alias("rank"),
                "n",
            )
        )
    return (
        ranks.select(
            "doc_id",
            F.col("rank").alias("rank_scaled"),
            (F.floor(F.col("rank") / SCALE * 1e6 + F.lit(0.5)) / 1e6).alias("rank"),
        )
        .orderBy(F.desc("rank_scaled"), "doc_id")
        .limit(TOP_K)
    )


def _round_sql(prev: str, rnd: str) -> str:
    return f"""
{rnd} AS (
  SELECT n.doc_id,
         (15 * {SCALE}::BIGINT) // 100 // n.n + coalesce(c.mass, 0) AS rank, n.n
  FROM (SELECT doc_id, n FROM {prev}) n
  LEFT JOIN (
    SELECT e.dst AS doc_id,
           CAST(sum((85 * r.rank) // 100 // e.outdeg) AS BIGINT) AS mass
    FROM edges e JOIN {prev} r ON e.src = r.doc_id
    GROUP BY e.dst
  ) c ON n.doc_id = c.doc_id
)"""


PAGERANK_SQL = f"""
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
targets AS (
  SELECT doc_id,
         list_distinct([(doc_id * 31 + 7) % n, (doc_id * 17 + 3) % n,
                        (doc_id * 13 + 11) % n]) AS ts, n
  FROM documents, nn
),
edges AS (
  SELECT doc_id AS src, len(ts)::BIGINT AS outdeg, unnest(ts) AS dst
  FROM targets
),
r0 AS (
  SELECT doc_id, {SCALE}::BIGINT // n AS rank, n FROM documents, nn
),{",".join(_round_sql(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS))}
SELECT doc_id, rank AS rank_scaled,
       floor(rank / {SCALE}::DOUBLE * (1000000)::DOUBLE + (0.5)::DOUBLE)
           / (1000000)::DOUBLE AS rank
FROM r{PR_ITERS}
ORDER BY rank_scaled DESC, doc_id
LIMIT {TOP_K}
"""

QUERIES["pagerank_docs"] = pagerank_docs
ORACLES["pagerank_docs"] = PAGERANK_SQL


# --- triangle counting -------------------------------------------------------

TRI_TOP = 20


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation per node over the planted doc graph —
    the standard distributed triangle enumeration: orient every
    undirected edge low→high, join edges on the shared middle vertex
    (producing ordered wedges a<b<c), close each wedge with a semi-join
    back onto the edge set. Ordering makes each triangle appear exactly
    once; the heavy steps are two equi-joins on vertex ids. At 100 TB
    the wedge join is the known hot spot (high-degree vertices fan
    out quadratically) — the production guard is degree-capping or
    splitting high-degree vertices, same family as the dedup DF cap.

    Output: top TRI_TOP nodes by triangle participation (each triangle
    credits its three vertices) with the global triangle count as an
    audit column. Pure integers — exact in both engines.
    """
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    # ring edges u->u+1, u->u+2 guarantee a triangle per vertex (the
    # wedge (u, u+1, u+2) always closes); the hashed edge adds irregular
    # extra triangles so the count isn't merely N
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") + 1) % F.col("n"),
            (F.col("doc_id") + 2) % F.col("n"),
            (F.col("doc_id") * 31 + 7) % F.col("n"),
        )
    )
    directed = with_n.select(F.col("doc_id").alias("u"), F.explode(targets).alias("v"))
    und = (
        directed.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"),
            F.greatest("u", "v").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumed three times below
    )
    wedges = und.alias("e1").join(
        und.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    tris = wedges.join(
        und.alias("e3"),
        (F.col("x") == F.col("e3.a")) & (F.col("z") == F.col("e3.b")),
        "leftsemi",
    )
    total = tris.agg(F.count(F.lit(1)).alias("n_triangles_total"))
    per_node = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(total))
        .orderBy(F.desc("n_triangles"), "doc_id")
        .limit(TRI_TOP)
    )
    return per_node


TRIANGLE_SQL = f"""
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
tlists AS (
  SELECT doc_id, list_distinct([(doc_id + 1) % n, (doc_id + 2) % n,
                                (doc_id * 31 + 7) % n]) AS ts
  FROM documents, nn
),
directed AS (
  SELECT doc_id AS u, unnest(ts) AS v FROM tlists
),
und AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
  FROM directed WHERE u <> v
),
tris AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.a = e1.a AND e3.b = e2.b)
),
total AS (SELECT count(*)::BIGINT AS n_triangles_total FROM tris)
SELECT doc_id, count(*)::BIGINT AS n_triangles, n_triangles_total
FROM (SELECT unnest([x, y, z]) AS doc_id FROM tris), total
GROUP BY doc_id, n_triangles_total
ORDER BY n_triangles DESC, doc_id
LIMIT {TRI_TOP}
"""

QUERIES["triangle_count"] = triangle_count
ORACLES["triangle_count"] = TRIANGLE_SQL


# --- Jaccard link prediction -------------------------------------------------

LINK_TOP = 20


def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over the planted doc
    graph — the standard "related documents you haven't linked yet"
    scorer (public link-prediction baseline). Distributed shape: the
    undirected edge set (pinned once, the triangle_count device) joins
    itself on the shared middle vertex to enumerate 2-paths; counting
    per endpoint pair gives |N(u) ∩ N(v)|; per-node degrees rejoin and
    Jaccard = common / (deg_u + deg_v - common), kept in exact integer
    basis points. Existing edges drop via one anti-join; top-K by
    (score, pair) compiles to TakeOrderedAndProject. At 100 TB the
    2-path join is the hot spot — same quadratic-hub exposure as the
    wedge join, same production guard (degree cap, the dedup DF-cap
    family).
    """
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") + 1) % F.col("n"),
            (F.col("doc_id") + 2) % F.col("n"),
            (F.col("doc_id") * 31 + 7) % F.col("n"),
        )
    )
    directed = with_n.select(F.col("doc_id").alias("u"), F.explode(targets).alias("v"))
    # adjacency as symmetric (node, neighbor) rows — both directions
    adj = (
        directed.where(F.col("u") != F.col("v"))
        .select(F.col("u").alias("x"), F.col("v").alias("y"))
        .union(
            directed.where(F.col("u") != F.col("v")).select(
                F.col("v").alias("x"), F.col("u").alias("y")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumed four times below
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
    paths2 = (
        adj.alias("l")
        .join(adj.alias("r"), F.col("l.y") == F.col("r.x"))
        .where(F.col("l.x") < F.col("r.y"))
        .select(F.col("l.x").alias("a"), F.col("r.y").alias("b"))
    )
    common = paths2.groupBy("a", "b").agg(F.count(F.lit(1)).alias("common_neighbors"))
    existing = adj.where(F.col("x") < F.col("y")).select(
        F.col("x").alias("a"), F.col("y").alias("b")
    )
    candidates = common.join(existing, ["a", "b"], "left_anti")
    scored = (
        candidates.join(deg.withColumnRenamed("x", "a").withColumnRenamed("deg", "deg_a"), "a")
        .join(deg.withColumnRenamed("x", "b").withColumnRenamed("deg", "deg_b"), "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            F.expr(
                "cast(common_neighbors * 10000 div (deg_a + deg_b - common_neighbors) as bigint)"
            ).alias("jaccard_bp"),
        )
    )
    return scored.orderBy(F.desc("jaccard_bp"), "a", "b").limit(LINK_TOP)


JACCARD_LINKS_SQL = f"""
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
tlists AS (
  SELECT doc_id, list_distinct([(doc_id + 1) % n, (doc_id + 2) % n,
                                (doc_id * 31 + 7) % n]) AS ts
  FROM documents, nn
),
directed AS (
  SELECT doc_id AS u, unnest(ts) AS v FROM tlists
),
adj AS (
  SELECT DISTINCT x, y FROM (
    SELECT u AS x, v AS y FROM directed WHERE u <> v
    UNION ALL
    SELECT v AS x, u AS y FROM directed WHERE u <> v
  )
),
deg AS (SELECT x, count(*) AS deg FROM adj GROUP BY x),
common AS (
  SELECT l.x AS a, r.y AS b, count(*) AS common_neighbors
  FROM adj l JOIN adj r ON l.y = r.x
  WHERE l.x < r.y
  GROUP BY l.x, r.y
),
candidates AS (
  SELECT c.* FROM common c
  WHERE NOT EXISTS (SELECT 1 FROM adj e WHERE e.x = c.a AND e.y = c.b)
)
SELECT a, b, common_neighbors,
       CAST(common_neighbors * 10000 // (da.deg + db.deg - common_neighbors) AS BIGINT)
         AS jaccard_bp
FROM candidates JOIN deg da ON da.x = a JOIN deg db ON db.x = b
ORDER BY jaccard_bp DESC, a, b
LIMIT {LINK_TOP}
"""

QUERIES["graph_jaccard_links"] = graph_jaccard_links
ORACLES["graph_jaccard_links"] = JACCARD_LINKS_SQL


# --- synchronous label propagation communities -------------------------------

LPA_ROUNDS = 3
LPA_TOP = 20


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (the public
    LPA baseline; the third iterative graph algorithm beside PageRank
    and min-label connected components): every node starts as its own
    label; each round it adopts the most frequent label among its
    neighbors (ties to the smallest label — the determinism device
    that makes sync LPA engine-reproducible). Per round: ONE labels ⋈
    adjacency join + one (node, label) count + an argmax window — all
    shuffles on vertex ids, adjacency pinned once. Output: the
    LPA_TOP largest communities after LPA_ROUNDS rounds.
    """
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") + 1) % F.col("n"),
            (F.col("doc_id") + 2) % F.col("n"),
            (F.col("doc_id") * 31 + 7) % F.col("n"),
        )
    )
    directed = with_n.select(F.col("doc_id").alias("u"), F.explode(targets).alias("v"))
    adj = (
        directed.where(F.col("u") != F.col("v"))
        .select(F.col("u").alias("x"), F.col("v").alias("y"))
        .union(
            directed.where(F.col("u") != F.col("v")).select(
                F.col("v").alias("x"), F.col("u").alias("y")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(F.col("doc_id").alias("x"), F.col("doc_id").alias("lbl"))
    w = Window.partitionBy("x").orderBy(F.desc("cnt"), F.asc("lbl"))
    for _ in range(LPA_ROUNDS):
        votes = (
            adj.join(labels.withColumnRenamed("x", "y"), "y")
            .groupBy("x", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.withColumn("r", F.row_number().over(w))
            .where(F.col("r") == 1)
            .select("x", "lbl")
        )
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("community_size"), F.min("x").alias("min_member"))
        .select(F.col("lbl").alias("community_label"), "community_size", "min_member")
        .orderBy(F.desc("community_size"), "community_label")
        .limit(LPA_TOP)
    )


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT x, lbl FROM (
    SELECT a.x, l.lbl, count(*) AS cnt,
           row_number() OVER (PARTITION BY a.x ORDER BY count(*) DESC, l.lbl ASC) AS r
    FROM adj a JOIN {prev} l ON l.x = a.y
    GROUP BY a.x, l.lbl
  ) WHERE r = 1
)"""


def _lpa_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(LPA_ROUNDS):
        rounds.append(_lpa_round_sql(prev, f"l{i + 1}"))
        prev = f"l{i + 1}"
    body = ",\n".join(rounds)
    return f"""
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
tlists AS (
  SELECT doc_id, list_distinct([(doc_id + 1) % n, (doc_id + 2) % n,
                                (doc_id * 31 + 7) % n]) AS ts
  FROM documents, nn
),
directed AS (SELECT doc_id AS u, unnest(ts) AS v FROM tlists),
adj AS (
  SELECT DISTINCT x, y FROM (
    SELECT u AS x, v AS y FROM directed WHERE u <> v
    UNION ALL
    SELECT v AS x, u AS y FROM directed WHERE u <> v
  )
),
l0 AS (SELECT doc_id AS x, doc_id AS lbl FROM documents),
{body}
SELECT lbl AS community_label, count(*) AS community_size, min(x) AS min_member
FROM {prev}
GROUP BY lbl
ORDER BY community_size DESC, community_label
LIMIT {LPA_TOP}
"""


LPA_SQL = _lpa_sql()

QUERIES["graph_label_propagation"] = graph_label_propagation
ORACLES["graph_label_propagation"] = LPA_SQL


# --- k-core decomposition (fixed-k peeling) -----------------------------------
#
# The density filter community detection starts from: repeatedly strip
# nodes whose degree (within the surviving subgraph) falls below K
# until nothing changes; survivors form the K-core. Same planted graph
# as pagerank_docs, made undirected (both directions union'd, self
# loops dropped, pairs dedup'd) — identically in the oracle. Spark
# shape: edges pinned once, then KCORE_ROUNDS rounds of
# semi-join-restrict → degree-count → threshold; every shuffle is on
# doc_id-sized keys and the node set only shrinks. The graded output
# is the peeling trajectory (nodes/edges alive per round) plus the
# fixpoint check the bounded-rounds device needs: converged = the last
# two rounds agree. Oracle: one recursive CTE carrying (round, node),
# re-deriving live edges per round.

KCORE_K = 3
KCORE_ROUNDS = 6


def _undirected_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") * 31 + 7) % F.col("n"),
            (F.col("doc_id") * 17 + 3) % F.col("n"),
            (F.col("doc_id") * 13 + 11) % F.col("n"),
        )
    )
    directed = with_n.select(
        F.col("doc_id").alias("a"), F.explode(targets).alias("b")
    ).where(F.col("a") != F.col("b"))
    return (
        directed.select("a", "b")
        .union(directed.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)  # pinned: reused every round
    )


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One e_live evaluation per round: the pinned frame is the DEGREE
    # table (n_nodes-sized), from which the round's edge count
    # (sum(deg) == directed live-edge count), the survivor filter, and
    # the next round's live set all derive — the former shape pinned
    # `live` and referenced e_live twice (stats count + degree agg), so
    # every round paid its two semi-joins twice. Round 0 needs no
    # semi-join at all: the whole edge set is live.
    edges = _undirected_edges(spark, sf_dir)
    deg = (
        edges.groupBy("a")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)  # pinned: stats sum + survivor filter
    )
    # every edge endpoint has a deg row, so round 0's live count is the
    # degree-table row count (nodes with zero edges are never live)
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    stats = []
    for rnd in range(KCORE_ROUNDS + 1):
        stats.append(
            n_nodes.crossJoin(
                deg.agg(
                    (F.coalesce(F.sum("deg"), F.lit(0)) / 2)
                    .cast("bigint")
                    .alias("n_und_edges")
                )
            ).select(F.lit(rnd).cast("bigint").alias("round"), "n_nodes", "n_und_edges")
        )
        if rnd < KCORE_ROUNDS:
            # survivors: deg >= K against the CURRENT live subgraph; a
            # survivor may have zero live edges next round (its row
            # simply vanishes from deg), so n_nodes counts the filter
            # output, not the next degree table
            live = deg.where(F.col("deg") >= KCORE_K).select(F.col("a").alias("doc_id"))
            n_nodes = live.agg(F.count(F.lit(1)).alias("n_nodes"))
            e_live = (
                edges.join(live.select(F.col("doc_id").alias("a")), "a", "semi")
                .join(live.select(F.col("doc_id").alias("b")), "b", "semi")
            )
            deg = (
                e_live.groupBy("a")
                .agg(F.count(F.lit(1)).alias("deg"))
                .localCheckpoint(eager=False)
            )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def _kcore_round_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT a AS doc_id FROM (
    SELECT e.a, count(*) AS deg
    FROM und e
    JOIN {prev} pa ON pa.doc_id = e.a
    JOIN {prev} pb ON pb.doc_id = e.b
    GROUP BY e.a
  ) WHERE deg >= {KCORE_K}
)"""


def _kcore_stats_ctes(r: int) -> str:
    return f"""nstat_{r} AS (SELECT count(*) AS n_nodes FROM live_{r}),
estat_{r} AS (
  SELECT CAST(count(*) // 2 AS BIGINT) AS n_und_edges
  FROM und e
  JOIN live_{r} pa ON pa.doc_id = e.a
  JOIN live_{r} pb ON pb.doc_id = e.b
)"""


def _kcore_sql() -> str:
    rounds = ",\n".join(
        _kcore_round_sql(f"live_{i}", f"live_{i + 1}") for i in range(KCORE_ROUNDS)
    )
    rounds += ",\n" + ",\n".join(_kcore_stats_ctes(r) for r in range(KCORE_ROUNDS + 1))
    stats = "\nUNION ALL\n".join(
        f"SELECT {r}::BIGINT AS round, n_nodes, n_und_edges FROM nstat_{r}, estat_{r}"
        for r in range(KCORE_ROUNDS + 1)
    )
    return f"""
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
tl AS (
  -- two-step unnest: inlining the list into the UNION ALL below trips
  -- a DuckDB binder assertion ("Failed to bind column reference")
  SELECT doc_id, list_distinct([(doc_id * 31 + 7) % n,
          (doc_id * 17 + 3) % n, (doc_id * 13 + 11) % n]) AS ts
  FROM documents, nn
),
directed AS (SELECT doc_id AS a, unnest(ts) AS b FROM tl),
und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM directed WHERE a <> b
    UNION ALL
    SELECT b, a FROM directed WHERE a <> b
  )
),
live_0 AS (SELECT DISTINCT a AS doc_id FROM und),
{rounds}
{stats}
"""


KCORE_SQL = _kcore_sql()

QUERIES["graph_kcore"] = graph_kcore
ORACLES["graph_kcore"] = KCORE_SQL


# --- local clustering coefficient --------------------------------------------
#
# Watts-Strogatz local clustering per node — C(v) = 2*T(v) /
# (deg(v)*(deg(v)-1)), the "how cliquish is this node's
# neighborhood" read that separates community cores from bridge/hub
# nodes (public small-world art; the per-node refinement of the
# global triangle count).  The doc-graph is the same planted edge set
# the other graph operators share; coefficients stay in exact integer
# bp and roll into a bounded band histogram with the corpus mean.
#
# Plan: symmetric adjacency pinned once; wedges at v from one
# self-join on the center; closing edges via one join against the
# undirected edge set — the triangle_count join pattern re-keyed per
# CENTER so T(v) lands on the node; deg >= 2 nodes only (C undefined
# below); all exchanges keyed on node/edge ids, band rollup bounded.

def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") + 1) % F.col("n"),
            (F.col("doc_id") + 2) % F.col("n"),
            (F.col("doc_id") * 31 + 7) % F.col("n"),
        )
    )
    directed = with_n.select(F.col("doc_id").alias("u"), F.explode(targets).alias("v"))
    adj = (
        directed.where(F.col("u") != F.col("v"))
        .select(F.col("u").alias("x"), F.col("v").alias("y"))
        .union(
            directed.where(F.col("u") != F.col("v")).select(
                F.col("v").alias("x"), F.col("u").alias("y")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumed three times below
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
    und = adj.where(F.col("x") < F.col("y")).select(
        F.col("x").alias("a"), F.col("y").alias("b")
    )
    wedges = (
        adj.alias("l")
        .join(adj.alias("r"), F.col("l.x") == F.col("r.x"))
        .where(F.col("l.y") < F.col("r.y"))
        .select(F.col("l.x").alias("v"), F.col("l.y").alias("a"), F.col("r.y").alias("b"))
    )
    tri = wedges.join(und, ["a", "b"]).groupBy("v").agg(
        F.count(F.lit(1)).alias("t")
    )
    cc = (
        deg.where(F.col("deg") >= 2)
        .join(tri.withColumnRenamed("v", "x"), "x", "left")
        .select(
            "x",
            F.expr(
                "cast(2 * coalesce(t, 0) * 10000 div (deg * (deg - 1)) as bigint)"
            ).alias("cc_bp"),
        )
    )
    band = (
        F.when(F.col("cc_bp") == 0, "0")
        .when(F.col("cc_bp") <= 2500, "(0,2500]")
        .when(F.col("cc_bp") <= 5000, "(2500,5000]")
        .when(F.col("cc_bp") <= 7500, "(5000,7500]")
        .otherwise("(7500,10000]")
    )
    tot = cc.agg(F.count(F.lit(1)).alias("n_nodes_total"))
    return (
        cc.groupBy(band.alias("cc_band"))
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("cc_bp").alias("scc"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cc_band",
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.expr("cast(scc div n_nodes as bigint)").alias("mean_cc_bp"),
            F.expr("cast(n_nodes * 10000 div n_nodes_total as bigint)").alias(
                "nodes_share_bp"
            ),
        )
    )


CLUSTERING_COEFF_SQL = """
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
tlists AS (
  SELECT doc_id, list_distinct([(doc_id + 1) % n, (doc_id + 2) % n,
                                (doc_id * 31 + 7) % n]) AS ts
  FROM documents, nn
),
directed AS (
  SELECT doc_id AS u, unnest(ts) AS v FROM tlists
),
adj AS (
  SELECT DISTINCT x, y FROM (
    SELECT u AS x, v AS y FROM directed WHERE u <> v
    UNION ALL
    SELECT v AS x, u AS y FROM directed WHERE u <> v
  )
),
deg AS (SELECT x, count(*)::BIGINT AS deg FROM adj GROUP BY x),
und AS (SELECT x AS a, y AS b FROM adj WHERE x < y),
wedges AS (
  SELECT l.x AS v, l.y AS a, r.y AS b
  FROM adj l JOIN adj r ON l.x = r.x
  WHERE l.y < r.y
),
tri AS (
  SELECT v, count(*)::BIGINT AS t
  FROM wedges JOIN und USING (a, b) GROUP BY v
),
cc AS (
  SELECT deg.x,
         CAST(2 * coalesce(t, 0) * 10000 // (deg * (deg - 1)) AS BIGINT) AS cc_bp
  FROM deg LEFT JOIN tri ON tri.v = deg.x
  WHERE deg >= 2
),
banded AS (
  SELECT CASE WHEN cc_bp = 0 THEN '0'
              WHEN cc_bp <= 2500 THEN '(0,2500]'
              WHEN cc_bp <= 5000 THEN '(2500,5000]'
              WHEN cc_bp <= 7500 THEN '(5000,7500]'
              ELSE '(7500,10000]' END AS cc_band,
         cc_bp
  FROM cc
),
tot AS (SELECT count(*)::BIGINT AS n_nodes_total FROM banded)
SELECT cc_band,
       count(*)::BIGINT AS n_nodes,
       CAST(CAST(sum(cc_bp) AS BIGINT) // count(*) AS BIGINT) AS mean_cc_bp,
       CAST(count(*) * 10000 // n_nodes_total AS BIGINT) AS nodes_share_bp
FROM banded, tot GROUP BY cc_band, n_nodes_total
"""

QUERIES["graph_clustering_coeff"] = graph_clustering_coeff
ORACLES["graph_clustering_coeff"] = CLUSTERING_COEFF_SQL


# --- BFS distance layers from a pinned seed -----------------------------------
#
# The reachability profile of the planted document graph (same edge
# formulas as pagerank_docs, symmetrized to undirected): BFS from
# doc_id 0, BFS_ITERS rounds of frontier relaxation — dist ⋈ edges →
# candidate dist+1 → per-node min — then the distance-layer histogram
# with an explicit unreached bucket (dist = -1).  All-integer, so the
# oracle unrolls the identical rounds as CTEs.
#
# Scale: the dedup_components template — edges computed once and
# pinned (lazy localCheckpoint), per round ONE shuffle keyed on node
# id; intermediate dist tables pinned per round so the unrolled plan
# stays linear, rounds bounded by the diameter horizon (not data
# size).  At 100 TB: bucket edges by dst so every round reuses one
# co-located layout.

BFS_ITERS = 4


def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") * 31 + 7) % F.col("n"),
            (F.col("doc_id") * 17 + 3) % F.col("n"),
            (F.col("doc_id") * 13 + 11) % F.col("n"),
        )
    )
    fwd = with_n.select(
        F.col("doc_id").alias("src"), F.explode(targets).alias("dst")
    )
    edges = (
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dist = nodes.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("node"), F.lit(0).cast("bigint").alias("dist")
    )
    for _ in range(BFS_ITERS):
        reached = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.union(reached)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
            .localCheckpoint(eager=False)
        )
    labeled = nodes.join(dist, nodes.doc_id == dist.node, "left").select(
        F.coalesce("dist", F.lit(-1)).cast("bigint").alias("dist")
    )
    total = labeled.agg(F.count("*").cast("bigint").alias("n_nodes"))
    return (
        labeled.groupBy("dist")
        .agg(F.count("*").cast("bigint").alias("n_at_dist"))
        .crossJoin(F.broadcast(total))
        .select(
            "dist", "n_at_dist",
            F.expr("cast(n_at_dist * 10000 div n_nodes as bigint)").alias("share_bp"),
        )
    )


BFS_SQL = """
WITH nodes AS (SELECT doc_id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
fwd AS (
  SELECT doc_id AS src, unnest(list_distinct([
      (doc_id * 31 + 7) % n, (doc_id * 17 + 3) % n, (doc_id * 13 + 11) % n
  ])) AS dst
  FROM nodes, nn
),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM fwd UNION ALL SELECT dst AS src, src AS dst FROM fwd
  )
),
d0 AS (SELECT doc_id AS node, 0::BIGINT AS dist FROM nodes WHERE doc_id = 0),
d1 AS (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d0
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 FROM d0 d JOIN edges e ON d.node = e.src
  ) GROUP BY node
),
d2 AS (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d1
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 FROM d1 d JOIN edges e ON d.node = e.src
  ) GROUP BY node
),
d3 AS (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d2
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 FROM d2 d JOIN edges e ON d.node = e.src
  ) GROUP BY node
),
d4 AS (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d3
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 FROM d3 d JOIN edges e ON d.node = e.src
  ) GROUP BY node
),
labeled AS (
  SELECT coalesce(d.dist, -1)::BIGINT AS dist
  FROM nodes n LEFT JOIN d4 d ON n.doc_id = d.node
),
tot AS (SELECT count(*)::BIGINT AS n_nodes FROM labeled)
SELECT dist, count(*)::BIGINT AS n_at_dist,
       CAST(count(*) * 10000 // n_nodes AS BIGINT) AS share_bp
FROM labeled, tot GROUP BY dist, n_nodes
"""

QUERIES["graph_bfs_distances"] = graph_bfs_distances
ORACLES["graph_bfs_distances"] = BFS_SQL


# --- degree assortativity ---------------------------------------------------------
#
# Do well-connected documents link to other well-connected documents
# (assortative, r > 0) or to leaves (disassortative, r < 0)?  Newman
# 2002's degree assortativity: the Pearson correlation of endpoint
# degrees over the directed edge list (both orientations of each
# undirected edge, the standard convention).  Because the list
# contains both orientations, the two endpoint-degree marginals are
# IDENTICAL, so r = (M*S_ab - S_a^2) / (M*S_aa - S_a^2) is a pure
# rational — no sqrt — and the whole statistic is EXACT integer
# arithmetic (decimal(38)/HUGEINT products, one truncating div to
# milli).  The one statistic in the tests family that needs no IEEE
# device at all.
#
# Scale: degrees are one groupBy of the pinned edge list; the edge ⋈
# degree joins broadcast the degree table (node-dimension sized); the
# final sums are one aggregate.  No windows, no per-node iteration.

def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _undirected_edges(spark, sf_dir)
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    j = (
        edges.join(F.broadcast(deg.select(F.col("a"), F.col("d").alias("da"))), "a")
        .join(
            F.broadcast(
                deg.select(F.col("a").alias("b"), F.col("d").alias("db"))
            ),
            "b",
        )
    )
    sums = j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("da").alias("sa"),
        F.sum(F.expr("cast(da as decimal(38,0)) * db")).alias("sab"),
        F.sum(F.expr("cast(da as decimal(38,0)) * da")).alias("saa"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("d").alias("sd"))
    return sums.crossJoin(F.broadcast(nn)).select(
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.col("m").cast("bigint").alias("n_dir_edges"),
        F.expr("sd * 1000 div n_nodes").cast("bigint").alias("mean_deg_milli"),
        F.expr(
            "cast(((m * sab - cast(sa as decimal(38,0)) * sa) * 1000)"
            " div (m * saa - cast(sa as decimal(38,0)) * sa) as bigint)"
        ).alias("assort_milli"),
    )


ASSORTATIVITY_SQL = """
WITH nodes AS (SELECT doc_id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
tl AS (
  SELECT doc_id, list_distinct([(doc_id * 31 + 7) % n,
          (doc_id * 17 + 3) % n, (doc_id * 13 + 11) % n]) AS ts
  FROM documents, nn
),
directed AS (SELECT doc_id AS a, unnest(ts) AS b FROM tl),
und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM directed WHERE a <> b
    UNION ALL
    SELECT b, a FROM directed WHERE a <> b
  )
),
deg AS (SELECT a, count(*)::BIGINT AS d FROM und GROUP BY a),
j AS (
  SELECT da.d AS da, db.d AS db
  FROM und e JOIN deg da ON da.a = e.a JOIN deg db ON db.a = e.b
),
sums AS (
  SELECT count(*)::BIGINT AS m, CAST(sum(da) AS BIGINT) AS sa,
         sum(CAST(da AS HUGEINT) * db) AS sab,
         sum(CAST(da AS HUGEINT) * da) AS saa
  FROM j
),
nstat AS (SELECT count(*)::BIGINT AS n_nodes, CAST(sum(d) AS BIGINT) AS sd FROM deg)
SELECT n_nodes, m AS n_dir_edges,
       CAST(sd * 1000 // n_nodes AS BIGINT) AS mean_deg_milli,
       CAST(((m * sab - CAST(sa AS HUGEINT) * sa) * 1000)
            // (m * saa - CAST(sa AS HUGEINT) * sa) AS BIGINT) AS assort_milli
FROM sums, nstat
"""

QUERIES["graph_degree_assortativity"] = graph_degree_assortativity
ORACLES["graph_degree_assortativity"] = ASSORTATIVITY_SQL


# --- Katz centrality ------------------------------------------------------------
#
# The attenuated-path-count cousin of pagerank_docs (Katz 1953): node
# influence = Σ_k β^k · (#paths of length k ending at the node), β=1/4
# — no degree normalization, so high-out-degree hubs project more
# influence than under PageRank's mass-conserving split; the ranking a
# citation/recommendation layer uses when link VOLUME should count.
#
# Same planted doc graph and the same scaled-integer device as
# pagerank_docs: path-count state t_k in SCALE units, attenuation as
# per-edge truncating div 4 INSIDE the sum (exact, order-independent),
# katz accumulated across KATZ_ITERS unrolled rounds.  The edge set
# adds a fourth, HUB-concentrating link u → (u·7+1) mod min(n,50) on
# top of the pagerank trio — the near-regular hash graph ties every
# node's Katz score; the hub links create the skewed in-degree
# distribution a centrality ranking exists to expose.  Per round: one
# shuffle of the edge list on dst + a node left-join; bounded rounds,
# edges pinned once.

KATZ_ITERS = 4
KATZ_BETA_DEN = 4  # β = 1/4 < 1/λ_max for this planted graph


def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") * 31 + 7) % F.col("n"),
            (F.col("doc_id") * 17 + 3) % F.col("n"),
            (F.col("doc_id") * 13 + 11) % F.col("n"),
            (F.col("doc_id") * 7 + 1) % F.least(F.col("n"), F.lit(50)),
        )
    )
    edges = with_n.select(
        F.col("doc_id").alias("src"), F.explode(targets).alias("dst")
    ).localCheckpoint(eager=False)

    state = nodes.select(
        "doc_id",
        F.lit(SCALE).cast("bigint").alias("t"),
        F.lit(0).cast("bigint").alias("katz"),
    )
    for _ in range(KATZ_ITERS):
        m = (
            edges.join(state.select(F.col("doc_id").alias("src"), "t"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum(F.expr(f"t div {KATZ_BETA_DEN}")).alias("m"))
        )
        state = (
            state.select("doc_id", "katz")
            .join(m, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("m", F.lit(0)).cast("bigint").alias("t"),
                (F.col("katz") + F.coalesce("m", F.lit(0))).cast("bigint").alias("katz"),
            )
        )
    return (
        state.select(
            "doc_id",
            F.col("katz").alias("katz_scaled"),
            (F.floor(F.col("katz") / SCALE * 1e6 + F.lit(0.5)) / 1e6).alias("katz"),
        )
        .orderBy(F.desc("katz_scaled"), "doc_id")
        .limit(TOP_K)
    )


def _katz_round_sql(prev: str, rnd: str) -> str:
    return f"""
{rnd} AS (
  SELECT n.doc_id,
         coalesce(c.m, 0)::BIGINT AS t,
         (n.katz + coalesce(c.m, 0))::BIGINT AS katz
  FROM (SELECT doc_id, katz FROM {prev}) n
  LEFT JOIN (
    SELECT e.dst AS doc_id, CAST(sum(t.t // {KATZ_BETA_DEN}) AS BIGINT) AS m
    FROM kedges e JOIN {prev} t ON e.src = t.doc_id
    GROUP BY e.dst
  ) c ON n.doc_id = c.doc_id
)"""


KATZ_SQL = f"""
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
ktargets AS (
  SELECT doc_id,
         list_distinct([(doc_id * 31 + 7) % n, (doc_id * 17 + 3) % n,
                        (doc_id * 13 + 11) % n,
                        (doc_id * 7 + 1) % least(n, 50)]) AS ts
  FROM documents, nn
),
kedges AS (SELECT doc_id AS src, unnest(ts) AS dst FROM ktargets),
k0 AS (
  SELECT doc_id, {SCALE}::BIGINT AS t, 0::BIGINT AS katz FROM documents
),{",".join(_katz_round_sql(f"k{i}", f"k{i + 1}") for i in range(KATZ_ITERS))}
SELECT doc_id, katz AS katz_scaled,
       floor(katz / {SCALE}::DOUBLE * (1000000)::DOUBLE + (0.5)::DOUBLE)
           / (1000000)::DOUBLE AS katz
FROM k{KATZ_ITERS}
ORDER BY katz_scaled DESC, doc_id
LIMIT {TOP_K}
"""

QUERIES["graph_katz_centrality"] = graph_katz_centrality
ORACLES["graph_katz_centrality"] = KATZ_SQL


# --- HITS hubs & authorities ----------------------------------------------------
#
# The third centrality beside pagerank_docs (mass-conserving) and
# graph_katz_centrality (volume-weighted): Kleinberg's HITS (1999)
# computes DUAL scores — authorities (pointed to by good hubs) and
# hubs (pointing at good authorities) — by alternating a = Aᵀh,
# h = A·a.  Integer device: instead of L2 normalization (a float
# sqrt-divide per round), each round max-normalizes back to SCALE by
# truncating div — ranking-equivalent, exact, and the max is an exact
# integer aggregate.  Same planted hub-skewed edge set as Katz.
#
# Plan: per round two dst/src-keyed shuffles of the pinned edge list
# plus two 1-row broadcast maxes; rounds bounded.  HITS runs on its own
# smaller scale (1e6): raw sums reach max-in-degree x scale, and the
# max-normalize multiply must stay inside BIGINT at any corpus size.

HITS_ITERS = 3
HITS_SCALE = 10**6


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") * 31 + 7) % F.col("n"),
            (F.col("doc_id") * 17 + 3) % F.col("n"),
            (F.col("doc_id") * 13 + 11) % F.col("n"),
            (F.col("doc_id") * 7 + 1) % F.least(F.col("n"), F.lit(50)),
        )
    )
    edges = with_n.select(
        F.col("doc_id").alias("src"), F.explode(targets).alias("dst")
    ).localCheckpoint(eager=False)

    hubs = nodes.select("doc_id", F.lit(HITS_SCALE).cast("bigint").alias("h"))
    auths = nodes.select("doc_id", F.lit(HITS_SCALE).cast("bigint").alias("a"))
    for _ in range(HITS_ITERS):
        # Pin each round's raw-sum frame: it is referenced TWICE (the
        # max-normalize aggregate and the node left-join), and unlike
        # katz/pagerank the double reference compounds through BOTH
        # half-rounds — unpinned, the unrolled lineage quadruples per
        # round (3,018-node physical plan at HITS_ITERS=3; planning
        # time dominated the 4.7 s bench wall). Pinned, the plan stays
        # linear in rounds and the shuffle output is computed once.
        araw = (
            edges.join(hubs.select(F.col("doc_id").alias("src"), "h"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("h").alias("raw"))
            .localCheckpoint(eager=False)
        )
        amax = araw.agg(F.max("raw").alias("mx"))
        auths = (
            nodes.join(araw, "doc_id", "left")
            .crossJoin(F.broadcast(amax))
            .select(
                "doc_id",
                F.expr(f"coalesce(raw, 0) * cast({HITS_SCALE} as bigint) div mx").alias("a"),
            )
        )
        hraw = (
            edges.join(auths.select(F.col("doc_id").alias("dst"), "a"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.sum("a").alias("raw"))
            .localCheckpoint(eager=False)
        )
        hmax = hraw.agg(F.max("raw").alias("mx"))
        hubs = (
            nodes.join(hraw, "doc_id", "left")
            .crossJoin(F.broadcast(hmax))
            .select(
                "doc_id",
                F.expr(f"coalesce(raw, 0) * cast({HITS_SCALE} as bigint) div mx").alias("h"),
            )
        )
    joined = auths.join(hubs, "doc_id")
    return (
        joined.select(
            "doc_id",
            F.col("a").alias("authority_scaled"),
            F.col("h").alias("hub_scaled"),
        )
        .orderBy(F.desc("authority_scaled"), F.desc("hub_scaled"), "doc_id")
        .limit(TOP_K)
    )


def _hits_round_sql(ap, hp, ac, hc):
    return f"""
{ac}raw AS (
  SELECT e.dst AS doc_id, CAST(sum(t.h) AS BIGINT) AS raw
  FROM hedges e JOIN {hp} t ON e.src = t.doc_id GROUP BY e.dst
),
{ac} AS (
  SELECT n.doc_id,
         coalesce(r.raw, 0) * {HITS_SCALE}::BIGINT // (SELECT max(raw) FROM {ac}raw) AS a
  FROM (SELECT doc_id FROM documents) n LEFT JOIN {ac}raw r ON n.doc_id = r.doc_id
),
{hc}raw AS (
  SELECT e.src AS doc_id, CAST(sum(t.a) AS BIGINT) AS raw
  FROM hedges e JOIN {ac} t ON e.dst = t.doc_id GROUP BY e.src
),
{hc} AS (
  SELECT n.doc_id,
         coalesce(r.raw, 0) * {HITS_SCALE}::BIGINT // (SELECT max(raw) FROM {hc}raw) AS h
  FROM (SELECT doc_id FROM documents) n LEFT JOIN {hc}raw r ON n.doc_id = r.doc_id
)"""


HITS_SQL = (
    f"""
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
htargets AS (
  SELECT doc_id,
         list_distinct([(doc_id * 31 + 7) % n, (doc_id * 17 + 3) % n,
                        (doc_id * 13 + 11) % n,
                        (doc_id * 7 + 1) % least(n, 50)]) AS ts
  FROM documents, nn
),
hedges AS (SELECT doc_id AS src, unnest(ts) AS dst FROM htargets),
h0 AS (SELECT doc_id, {HITS_SCALE}::BIGINT AS h FROM documents),"""
    + ",".join(
        _hits_round_sql(f"a{i}", f"h{i}", f"a{i + 1}", f"h{i + 1}")
        for i in range(HITS_ITERS)
    )
    + f"""
SELECT a.doc_id, a.a AS authority_scaled, h.h AS hub_scaled
FROM a{HITS_ITERS} a JOIN h{HITS_ITERS} h USING (doc_id)
ORDER BY authority_scaled DESC, hub_scaled DESC, doc_id
LIMIT {TOP_K}
"""
)

QUERIES["graph_hits"] = graph_hits
ORACLES["graph_hits"] = HITS_SQL


# --- Newman modularity of the LPA partition ------------------------------------
#
# The quality score community detection is graded on (Newman & Girvan
# 2004): Q = sum_c [ e_c/m - (d_c/2m)^2 ] — how much denser each
# community's interior is than the configuration-model expectation.
# Computed for graph_label_propagation's partition on the SAME planted
# graph, so the two queries together form a detect-then-score pair
# (the modularity table is what you'd read before trusting LPA's
# communities downstream). Both terms are exact integers in micro
# units — internal-edge and degree sums over the doubled adjacency
# (m2 = 2m rows), truncating div per term, mirrored in the oracle —
# so the score is engine-reproducible including its truncation dust.
#
# Scale: rides LPA's per-round shuffles (vertex-keyed); the scoring
# adds one labels⋈adj join + two label-keyed aggs; the output is the
# bounded top-LPA_TOP community table. Degree sums are long-safe: at
# d_c = 3e6 (a 3M-degree-mass community) d_c^2 * 1e6 is still inside
# int64.

MOD_SCALE = 10**6


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") + 1) % F.col("n"),
            (F.col("doc_id") + 2) % F.col("n"),
            (F.col("doc_id") * 31 + 7) % F.col("n"),
        )
    )
    directed = with_n.select(F.col("doc_id").alias("u"), F.explode(targets).alias("v"))
    adj = (
        directed.where(F.col("u") != F.col("v"))
        .select(F.col("u").alias("x"), F.col("v").alias("y"))
        .union(
            directed.where(F.col("u") != F.col("v")).select(
                F.col("v").alias("x"), F.col("u").alias("y")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(F.col("doc_id").alias("x"), F.col("doc_id").alias("lbl"))
    w = Window.partitionBy("x").orderBy(F.desc("cnt"), F.asc("lbl"))
    for _ in range(LPA_ROUNDS):
        votes = (
            adj.join(labels.withColumnRenamed("x", "y"), "y")
            .groupBy("x", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.withColumn("r", F.row_number().over(w))
            .where(F.col("r") == 1)
            .select("x", "lbl")
        )
    m2_df = adj.agg(F.count(F.lit(1)).cast("bigint").alias("m2"))
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    lx = labels
    ly = labels.select(F.col("x").alias("y"), F.col("lbl").alias("lbl_y"))
    internal2 = (
        adj.join(lx, "x")
        .join(ly, "y")
        .where(F.col("lbl") == F.col("lbl_y"))
        .groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("int2"))
    )
    comm = (
        labels.join(deg, "x")
        .groupBy("lbl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("community_size"),
            F.sum("deg").cast("bigint").alias("degree_sum"),
        )
        .join(internal2, "lbl", "left")
        .na.fill({"int2": 0})
        .crossJoin(F.broadcast(m2_df))
    )
    return (
        comm.select(
            F.col("lbl").alias("community_label"),
            "community_size",
            "degree_sum",
            F.expr("int2 div 2").alias("internal_edges"),
            F.expr(
                f"int2 * {MOD_SCALE} div m2"
                f" - degree_sum * degree_sum * {MOD_SCALE} div (m2 * m2)"
            ).alias("q_contrib_micro"),
        )
        .orderBy(F.desc("community_size"), F.asc("community_label"))
        .limit(LPA_TOP)
    )


def _modularity_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(LPA_ROUNDS):
        rounds.append(_lpa_round_sql(prev, f"l{i + 1}"))
        prev = f"l{i + 1}"
    body = ",\n".join(rounds)
    return f"""
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
tlists AS (
  SELECT doc_id, list_distinct([(doc_id + 1) % n, (doc_id + 2) % n,
                                (doc_id * 31 + 7) % n]) AS ts
  FROM documents, nn
),
directed AS (SELECT doc_id AS u, unnest(ts) AS v FROM tlists),
adj AS (
  SELECT DISTINCT x, y FROM (
    SELECT u AS x, v AS y FROM directed WHERE u <> v
    UNION ALL
    SELECT v AS x, u AS y FROM directed WHERE u <> v
  )
),
l0 AS (SELECT doc_id AS x, doc_id AS lbl FROM documents),
{body},
m2t AS (SELECT count(*)::BIGINT AS m2 FROM adj),
deg AS (SELECT x, count(*)::BIGINT AS deg FROM adj GROUP BY x),
internal2 AS (
  SELECT lx.lbl, count(*)::BIGINT AS int2
  FROM adj a JOIN {prev} lx ON lx.x = a.x JOIN {prev} ly ON ly.x = a.y
  WHERE lx.lbl = ly.lbl
  GROUP BY lx.lbl
),
comm AS (
  SELECT l.lbl, count(*)::BIGINT AS community_size,
         CAST(sum(d.deg) AS BIGINT) AS degree_sum
  FROM {prev} l JOIN deg d ON d.x = l.x
  GROUP BY l.lbl
)
SELECT c.lbl AS community_label, c.community_size, c.degree_sum,
       coalesce(i.int2, 0) // 2 AS internal_edges,
       CAST(coalesce(i.int2, 0) * {MOD_SCALE} // m2
            - c.degree_sum * c.degree_sum * {MOD_SCALE} // (m2 * m2)
         AS BIGINT) AS q_contrib_micro
FROM comm c LEFT JOIN internal2 i ON i.lbl = c.lbl, m2t
ORDER BY c.community_size DESC, c.lbl ASC
LIMIT {LPA_TOP}
"""


MODULARITY_SQL = _modularity_sql()

QUERIES["graph_modularity"] = graph_modularity
ORACLES["graph_modularity"] = MODULARITY_SQL


# --- bounded-horizon Brandes betweenness -----------------------------------------
#
# The last marquee centrality beside PageRank/Katz/HITS: BETWEENNESS
# (Brandes 2001), computed exactly for shortest paths of length <= 3
# from 3 pinned seeds — the k-bounded / pivot-sampled variant every
# at-scale implementation runs (exact all-pairs Brandes is O(VE) and
# nobody runs it on a corpus graph). Forward: unrolled BFS levels with
# path COUNTING (sigma accumulates over same-level predecessors — the
# part plain BFS distance doesn't give). Backward: the dependency
# accumulation delta(v) = sum_{w in succ(v)} sigma_v/sigma_w * (1 +
# delta(w)) runs level-by-level in exact integer micros (multiply
# first, truncating div last — the sole rational step, mirrored).
# Seeds travel as a column, so all three BFS trees advance in the same
# shuffles; edges pinned once (the pagerank pattern).
#
# Scale: per round one frontier ⋈ edges shuffle on node ids; frontier
# size bounded by the degree-6 expander's growth; the horizon bounds
# rounds, not data. At 100 TB the same loop runs with more seeds
# (pivot sampling), not more rounds.

BC_SEEDS = (0, 1, 2)
BC_ROUNDS = 3
BC_SCALE = 10**6


def graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _undirected_edges(spark, sf_dir)  # (a, b) both directions, pinned
    seeds = spark.range(1).select(
        F.explode(F.array(*[F.lit(s) for s in BC_SEEDS])).alias("seed")
    )
    levels = [
        seeds.select(
            "seed",
            F.col("seed").cast("bigint").alias("node"),
            F.lit(1).cast("bigint").alias("sigma"),
        ).localCheckpoint(eager=False)
    ]
    visited = levels[0].select("seed", "node")
    for _ in range(BC_ROUNDS):
        # aggregate BEFORE the visited anti-join: the per-(seed, node)
        # sigma sum commutes with filtering whole keys out, and the
        # anti-join then runs on the groupBy's own (seed, node)
        # partitioning over aggregated rows — one exchange per round
        # instead of two, and the anti-join input is the frontier
        # grain, not the raw edge-expansion grain (guide §2.2).
        nxt = (
            levels[-1]
            .join(edges, levels[-1]["node"] == edges["a"])
            .select("seed", F.col("b").alias("node"), "sigma")
            .groupBy("seed", "node")
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .join(visited, ["seed", "node"], "left_anti")
            .localCheckpoint(eager=False)
        )
        levels.append(nxt)
        visited = visited.union(nxt.select("seed", "node"))
    # backward dependency accumulation, deepest level has delta = 0
    delta = None  # DF (seed, node, d) for the level below the current one
    bc_parts = []
    for r in range(BC_ROUNDS - 1, -1, -1):
        below = levels[r + 1].select(
            "seed", F.col("node").alias("w"), F.col("sigma").alias("sigma_w")
        )
        if delta is not None:
            below = below.join(
                delta.select("seed", F.col("node").alias("w"), F.col("d").alias("dw")),
                ["seed", "w"],
                "left",
            ).na.fill({"dw": 0})
        else:
            below = below.withColumn("dw", F.lit(0).cast("bigint"))
        cur = (
            levels[r]
            .join(edges, levels[r]["node"] == edges["a"])
            .select("seed", "node", "sigma", F.col("b").alias("w"))
            .join(below, ["seed", "w"])
            .groupBy("seed", "node")
            .agg(
                F.sum(
                    F.expr(f"sigma * ({BC_SCALE} + dw) div sigma_w")
                ).cast("bigint").alias("d")
            )
            .localCheckpoint(eager=False)
        )
        delta = cur
        if r > 0:  # the seed itself (r == 0) is excluded from centrality
            bc_parts.append(cur)
    allc = bc_parts[0]
    for p in bc_parts[1:]:
        allc = allc.unionByName(p)
    return (
        allc.groupBy("node")
        .agg(
            F.sum("d").cast("bigint").alias("bc_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_seed_trees"),
        )
        .orderBy(F.desc("bc_micro"), F.asc("node"))
        .limit(TOP_K)
    )


def _bc_sql() -> str:
    seeds_vals = ", ".join(f"({s})" for s in BC_SEEDS)
    lvl = ["lvl0 AS (SELECT seed, CAST(seed AS BIGINT) AS node, 1::BIGINT AS sigma FROM seeds)"]
    for r in range(1, BC_ROUNDS + 1):
        prior = " UNION ALL ".join(
            f"SELECT seed, node FROM lvl{j}" for j in range(r)
        )
        lvl.append(
            f"""lvl{r} AS (
  SELECT l.seed, e.b AS node, CAST(sum(l.sigma) AS BIGINT) AS sigma
  FROM lvl{r - 1} l JOIN adj e ON e.a = l.node
  WHERE NOT EXISTS (SELECT 1 FROM ({prior}) x
                    WHERE x.seed = l.seed AND x.node = e.b)
  GROUP BY l.seed, e.b
)"""
        )
    dels = []
    for r in range(BC_ROUNDS - 1, -1, -1):
        if r == BC_ROUNDS - 1:
            dw = "0"
            join_d = ""
        else:
            dw = "coalesce(dd.d, 0)"
            join_d = (
                f"LEFT JOIN del{r + 1} dd ON dd.seed = w.seed AND dd.node = w.node"
            )
        dels.append(
            f"""del{r} AS (
  SELECT v.seed, v.node,
         CAST(sum(v.sigma * ({BC_SCALE} + {dw}) // w.sigma) AS BIGINT) AS d
  FROM lvl{r} v JOIN adj e ON e.a = v.node
  JOIN lvl{r + 1} w ON w.seed = v.seed AND w.node = e.b
  {join_d}
  GROUP BY v.seed, v.node
)"""
        )
    bc_union = " UNION ALL ".join(
        f"SELECT * FROM del{r}" for r in range(1, BC_ROUNDS)
    )
    return f"""
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
tlists AS (
  SELECT doc_id, list_distinct([(doc_id * 31 + 7) % n, (doc_id * 17 + 3) % n,
                                (doc_id * 13 + 11) % n]) AS ts
  FROM documents, nn
),
directed AS (SELECT doc_id AS a, unnest(ts) AS b FROM tlists),
adj AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM directed WHERE a <> b
    UNION ALL SELECT b AS a, a AS b FROM directed WHERE a <> b
  )
),
seeds(seed) AS (VALUES {seeds_vals}),
{",".join(lvl)},
{",".join(dels)}
SELECT node, CAST(sum(d) AS BIGINT) AS bc_micro, count(*)::BIGINT AS n_seed_trees
FROM ({bc_union})
GROUP BY node
ORDER BY bc_micro DESC, node ASC
LIMIT {TOP_K}
"""


BETWEENNESS_SQL = _bc_sql()

QUERIES["graph_betweenness"] = graph_betweenness
ORACLES["graph_betweenness"] = BETWEENNESS_SQL


# --- synchronized one-level Louvain move pass ----------------------------------
#
# The community-detection step beyond LPA voting: Louvain's modularity-
# greedy move (Blondel et al. 2008), first sweep from the singleton
# partition, SYNCHRONIZED — every node evaluates its move against the
# initial assignment simultaneously.  Sequential Louvain is visit-
# order-dependent (different results per run); the synchronized
# variant is the deterministic form distributed implementations use
# (one superstep = one shuffle round), and from singletons the gain of
# moving x into neighbor y's community reduces to exact integers:
# dQ * 2m^2 = m2 * k_xc - deg_x * tot_c = m2 - deg_x * deg_y
# (k_xc = 1, tot_c = deg_y).  A node moves to the positive-gain
# neighbor with the largest gain (tie -> smallest neighbor id).
# Per resulting community the output carries the partition-quality
# integers (internal edge endpoints, degree mass, the scaled
# modularity contribution int2 * m2 - degree_sum^2) — comparable row
# shape to graph_modularity so the two partitions can be judged side
# by side.
#
# Scale: degree/gain joins are edge-grain keyed shuffles; the argmax is
# one struct-max per node; no iteration (one level by construction).


def graph_louvain_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") + 1) % F.col("n"),
            (F.col("doc_id") + 2) % F.col("n"),
            (F.col("doc_id") * 31 + 7) % F.col("n"),
        )
    )
    directed = with_n.select(F.col("doc_id").alias("u"), F.explode(targets).alias("v"))
    adj = (
        directed.where(F.col("u") != F.col("v"))
        .select(F.col("u").alias("x"), F.col("v").alias("y"))
        .union(
            directed.where(F.col("u") != F.col("v")).select(
                F.col("v").alias("x"), F.col("u").alias("y")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    m2_df = adj.agg(F.count(F.lit(1)).cast("bigint").alias("m2"))

    cand = (
        adj.join(deg, "x")
        .join(deg.select(F.col("x").alias("y"), F.col("deg").alias("deg_y")), "y")
        .crossJoin(F.broadcast(m2_df))
        .select(
            "x",
            "y",
            (F.col("m2") - F.col("deg") * F.col("deg_y")).alias("gain"),
        )
    )
    best = (
        cand.where(F.col("gain") > 0)
        .groupBy("x")
        .agg(F.max(F.struct("gain", (-F.col("y")).alias("negy"))).alias("s"))
        .select("x", (-F.col("s.negy")).alias("to_y"), F.col("s.gain").alias("gain"))
    )
    labels = (
        nodes.select(F.col("doc_id").alias("x"))
        .join(best, "x", "left")
        .select(
            "x",
            F.coalesce("to_y", F.col("x")).alias("lbl"),
            (F.col("to_y").isNotNull()).cast("int").alias("moved"),
            F.coalesce("gain", F.lit(0)).alias("gain"),
        )
        .localCheckpoint(eager=False)
    )
    lx = labels.select("x", "lbl")
    ly = labels.select(F.col("x").alias("y"), F.col("lbl").alias("lbl_y"))
    internal2 = (
        adj.join(lx, "x")
        .join(ly, "y")
        .where(F.col("lbl") == F.col("lbl_y"))
        .groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("int2"))
    )
    return (
        labels.join(deg, "x")
        .groupBy("lbl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("community_size"),
            F.sum("deg").cast("bigint").alias("degree_sum"),
            F.sum("moved").cast("bigint").alias("n_moved_in"),
            F.sum("gain").cast("bigint").alias("gain_scaled_sum"),
        )
        .join(internal2, "lbl", "left")
        .na.fill({"int2": 0})
        .crossJoin(F.broadcast(m2_df))
        .select(
            F.col("lbl").cast("bigint").alias("community_id"),
            "community_size",
            "degree_sum",
            "n_moved_in",
            "gain_scaled_sum",
            F.col("int2").alias("internal_endpoints"),
            (F.col("int2") * F.col("m2") - F.col("degree_sum") * F.col("degree_sum"))
            .cast("bigint")
            .alias("modularity_scaled"),
        )
    )


LOUVAIN_MOVE_SQL = """
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
tlists AS (
  SELECT doc_id, list_distinct([(doc_id + 1) % n, (doc_id + 2) % n,
                                (doc_id * 31 + 7) % n]) AS ts
  FROM documents, nn
),
directed AS (
  SELECT doc_id AS u, unnest(ts) AS v FROM tlists
),
adj AS (
  SELECT DISTINCT x, y FROM (
    SELECT u AS x, v AS y FROM directed WHERE u <> v
    UNION ALL
    SELECT v AS x, u AS y FROM directed WHERE u <> v
  )
),
deg AS (SELECT x, count(*)::BIGINT AS deg FROM adj GROUP BY x),
m2 AS (SELECT count(*)::BIGINT AS m2 FROM adj),
cand AS (
  SELECT a.x, a.y, m2.m2 - dx.deg * dy.deg AS gain
  FROM adj a
  JOIN deg dx ON dx.x = a.x
  JOIN deg dy ON dy.x = a.y
  CROSS JOIN m2
),
best AS (
  SELECT x,
         -(max(struct_pack(g := gain, negy := -y)).negy) AS to_y,
         max(struct_pack(g := gain, negy := -y)).g AS gain
  FROM cand WHERE gain > 0 GROUP BY x
),
labels AS (
  SELECT d.doc_id AS x,
         coalesce(b.to_y, d.doc_id) AS lbl,
         CASE WHEN b.to_y IS NOT NULL THEN 1 ELSE 0 END AS moved,
         coalesce(b.gain, 0) AS gain
  FROM documents d LEFT JOIN best b ON b.x = d.doc_id
),
internal2 AS (
  SELECT lx.lbl, count(*)::BIGINT AS int2
  FROM adj a JOIN labels lx ON lx.x = a.x JOIN labels ly ON ly.x = a.y
  WHERE lx.lbl = ly.lbl
  GROUP BY lx.lbl
),
comm AS (
  SELECT l.lbl, count(*)::BIGINT AS community_size,
         sum(deg)::BIGINT AS degree_sum,
         sum(moved)::BIGINT AS n_moved_in,
         sum(gain)::BIGINT AS gain_scaled_sum
  FROM labels l JOIN deg ON deg.x = l.x
  GROUP BY l.lbl
)
SELECT CAST(c.lbl AS BIGINT) AS community_id,
       community_size,
       degree_sum,
       n_moved_in,
       gain_scaled_sum,
       coalesce(i.int2, 0) AS internal_endpoints,
       CAST(coalesce(i.int2, 0) * m2.m2 - degree_sum * degree_sum AS BIGINT) AS modularity_scaled
FROM comm c LEFT JOIN internal2 i ON i.lbl = c.lbl CROSS JOIN m2
"""

QUERIES["graph_louvain_move"] = graph_louvain_move
ORACLES["graph_louvain_move"] = LOUVAIN_MOVE_SQL


# --- community conductance (the quality metric next to LPA/modularity) --------
#
# Given the LPA communities, the standard cut-quality readout
# (Kannan/Vempala/Vetta class): conductance φ(C) = cut(C) /
# min(vol(C), vol(V∖C)) — how leaky each detected community is, the
# number that separates a real cluster from a label-propagation
# artifact, complementing `graph_modularity` (global) with a
# per-community grade. Volumes and cuts are counted on the directed-
# row adjacency (each undirected edge contributes both directions, so
# vol = Σ degree and cut is symmetric), everything integer; φ in
# basis points via integer div. Same planted graph, same LPA rounds,
# same top-LPA_TOP output convention as graph_label_propagation —
# rerun here rather than read from it so the operator is
# self-contained (the oracle re-derives the identical label chain).
#
# Scale: the LPA rounds' shuffles (vertex-id keys) + two keyed aggs
# over edges; no new quadratic surface.

def graph_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") + 1) % F.col("n"),
            (F.col("doc_id") + 2) % F.col("n"),
            (F.col("doc_id") * 31 + 7) % F.col("n"),
        )
    )
    directed = with_n.select(F.col("doc_id").alias("u"), F.explode(targets).alias("v"))
    adj = (
        directed.where(F.col("u") != F.col("v"))
        .select(F.col("u").alias("x"), F.col("v").alias("y"))
        .union(
            directed.where(F.col("u") != F.col("v")).select(
                F.col("v").alias("x"), F.col("u").alias("y")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(F.col("doc_id").alias("x"), F.col("doc_id").alias("lbl"))
    w = Window.partitionBy("x").orderBy(F.desc("cnt"), F.asc("lbl"))
    for _ in range(LPA_ROUNDS):
        votes = (
            adj.join(labels.withColumnRenamed("x", "y"), "y")
            .groupBy("x", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.withColumn("r", F.row_number().over(w))
            .where(F.col("r") == 1)
            .select("x", "lbl")
        )
    labels = labels.localCheckpoint(eager=False)  # joined on BOTH edge ends
    total = adj.agg(F.count(F.lit(1)).alias("total_vol"))
    edge_l = (
        adj.join(labels, "x")
        .join(
            labels.select(F.col("x").alias("y"), F.col("lbl").alias("lbl_y")), "y"
        )
        .select("lbl", (F.col("lbl") != F.col("lbl_y")).cast("bigint").alias("is_cut"))
    )
    per_c = edge_l.groupBy("lbl").agg(
        F.count(F.lit(1)).alias("volume"), F.sum("is_cut").alias("cut_edges")
    )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("community_size"))
    return (
        per_c.join(sizes, "lbl")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("lbl").alias("community_label"),
            "community_size",
            F.col("volume").cast("bigint").alias("volume"),
            F.col("cut_edges").cast("bigint").alias("cut_edges"),
            F.expr(
                "cast(case when least(volume, total_vol - volume) = 0 then 0"
                " else cut_edges * 10000 div least(volume, total_vol - volume) end as bigint)"
            ).alias("conductance_bp"),
        )
        .orderBy(F.desc("community_size"), "community_label")
        .limit(LPA_TOP)
    )


def _conductance_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(LPA_ROUNDS):
        rounds.append(_lpa_round_sql(prev, f"l{i + 1}"))
        prev = f"l{i + 1}"
    body = ",\n".join(rounds)
    return f"""
WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
tlists AS (
  SELECT doc_id, list_distinct([(doc_id + 1) % n, (doc_id + 2) % n,
                                (doc_id * 31 + 7) % n]) AS ts
  FROM documents, nn
),
directed AS (SELECT doc_id AS u, unnest(ts) AS v FROM tlists),
adj AS (
  SELECT DISTINCT x, y FROM (
    SELECT u AS x, v AS y FROM directed WHERE u <> v
    UNION ALL
    SELECT v AS x, u AS y FROM directed WHERE u <> v
  )
),
l0 AS (SELECT doc_id AS x, doc_id AS lbl FROM documents),
{body},
total AS (SELECT count(*)::BIGINT AS total_vol FROM adj),
edge_l AS (
  SELECT lx.lbl, CASE WHEN lx.lbl <> ly.lbl THEN 1 ELSE 0 END AS is_cut
  FROM adj a JOIN {prev} lx ON lx.x = a.x JOIN {prev} ly ON ly.x = a.y
),
per_c AS (
  SELECT lbl, count(*)::BIGINT AS volume, CAST(sum(is_cut) AS BIGINT) AS cut_edges
  FROM edge_l GROUP BY lbl
),
sizes AS (SELECT lbl, count(*)::BIGINT AS community_size FROM {prev} GROUP BY lbl)
SELECT p.lbl AS community_label, s.community_size, p.volume, p.cut_edges,
       CAST(CASE WHEN least(p.volume, t.total_vol - p.volume) = 0 THEN 0
            ELSE p.cut_edges * 10000 // least(p.volume, t.total_vol - p.volume)
            END AS BIGINT) AS conductance_bp
FROM per_c p JOIN sizes s ON s.lbl = p.lbl, total t
ORDER BY s.community_size DESC, p.lbl
LIMIT {LPA_TOP}
"""


CONDUCTANCE_SQL = _conductance_sql()

QUERIES["graph_conductance"] = graph_conductance
ORACLES["graph_conductance"] = CONDUCTANCE_SQL


# --- sampled harmonic centrality (multi-source bounded BFS) -------------------
#
# Harmonic centrality (Boldi & Vigna 2014 — the closeness variant that
# handles disconnected graphs) for a fixed SOURCE SAMPLE: H(s) =
# Σ_{v reached, v≠s} 1/d(s,v), computed from one MULTI-source bounded
# BFS — all sources advance together in the same per-round join, so
# the round count stays BFS_ITERS regardless of sample size (the
# standard estimator shape: production samples sources, never runs
# all-pairs BFS). 1/d lands as the exact integer 1e6 div d, summed —
# engine-identical; nodes beyond the horizon simply don't contribute
# (the bounded-radius estimate both engines share).
#
# Scale: state is (src, node) distances — sample × N rows, keyed
# shuffles only, per-round lineage pin; the source sample is the knob.

CLOSENESS_SOURCES = (0, 11, 23, 37, 53)


def graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes(spark, sf_dir)
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n_df))
    targets = F.array_distinct(
        F.array(
            (F.col("doc_id") * 31 + 7) % F.col("n"),
            (F.col("doc_id") * 17 + 3) % F.col("n"),
            (F.col("doc_id") * 13 + 11) % F.col("n"),
        )
    )
    fwd = with_n.select(
        F.col("doc_id").alias("eu"), F.explode(targets).alias("ev")
    )
    edges = (
        fwd.union(fwd.select(F.col("ev").alias("eu"), F.col("eu").alias("ev")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dist = nodes.where(
        F.col("doc_id").isin(*CLOSENESS_SOURCES)
    ).select(
        F.col("doc_id").alias("src"),
        F.col("doc_id").alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
    )
    for _ in range(BFS_ITERS):
        reached = dist.join(edges, dist.node == edges.eu).select(
            "src", F.col("ev").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.union(reached)
            .groupBy("src", "node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return (
        dist.where(F.col("dist") > 0)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.max("dist").cast("bigint").alias("max_dist"),
            F.sum(F.expr("1000000 div dist")).cast("bigint").alias("harmonic_e6"),
        )
        .select(
            F.col("src").alias("source_id"), "n_reached", "max_dist", "harmonic_e6"
        )
    )


def _closeness_sql() -> str:
    srcs = ", ".join(str(s) for s in CLOSENESS_SOURCES)
    rounds = []
    prev = "d0"
    for i in range(BFS_ITERS):
        rounds.append(f"""d{i + 1} AS (
  SELECT src, node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT src, node, dist FROM {prev}
    UNION ALL
    SELECT d.src, e.dst AS node, d.dist + 1 FROM {prev} d JOIN edges e ON d.node = e.src
  ) GROUP BY src, node
)""")
        prev = f"d{i + 1}"
    body = ",\n".join(rounds)
    return f"""
WITH nodes AS (SELECT doc_id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
fwd AS (
  SELECT doc_id AS src, unnest(list_distinct([
      (doc_id * 31 + 7) % n, (doc_id * 17 + 3) % n, (doc_id * 13 + 11) % n
  ])) AS dst
  FROM nodes, nn
),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM fwd UNION ALL SELECT dst AS src, src AS dst FROM fwd
  )
),
d0 AS (SELECT doc_id AS src, doc_id AS node, 0::BIGINT AS dist
       FROM nodes WHERE doc_id IN ({srcs})),
{body}
SELECT src AS source_id, count(*)::BIGINT AS n_reached,
       CAST(max(dist) AS BIGINT) AS max_dist,
       CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_e6
FROM {prev} WHERE dist > 0
GROUP BY src
"""


CLOSENESS_SQL = _closeness_sql()

QUERIES["graph_closeness_sampled"] = graph_closeness_sampled
ORACLES["graph_closeness_sampled"] = CLOSENESS_SQL
