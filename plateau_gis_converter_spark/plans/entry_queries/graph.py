"""Graph gates (``operators/graph.py``): link analysis, traversal,
components, cores, communities, motifs and degree statistics."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._common import _PR_ITER, _t, _t_count, gate


SQL_PAGERANK = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
deg AS (SELECT src, count(*) AS out_degree FROM e GROUP BY 1),
s0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS score FROM documents),
""" + ",".join(_PR_ITER.format(i=i, p=i - 1) for i in (1, 2, 3)) + """
SELECT id AS doc_id, CAST(score AS BIGINT) AS score_e6 FROM s3
"""


@gate(SQL_PAGERANK)
def q_pagerank(spark, sf_dir):
    """Integer-exact PageRank over the deterministic doc link graph
    (operators/graph.py): 3 synchronous iterations, ppm units, pure
    integer arithmetic — bit-identical across engines and across Spark's
    partial-agg merge orders (why it is integer, not float)."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = gr.synthetic_link_edges(docs, n)
    pr = gr.pagerank_int(nodes, edges, iters=3, damping_pct=85)
    return pr.select(F.col("id").alias("doc_id"), "score_e6")


SQL_BFS_DEPTH = """
WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
walk(id, dist) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
  UNION
  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON w.id = e.src
  WHERE w.dist < 4)
SELECT id AS doc_id, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY id
"""


@gate(SQL_BFS_DEPTH)
def q_bfs_depth(spark, sf_dir):
    """Crawl-depth / seed-distance labeling (operators/graph.py): BFS
    over the deterministic doc link graph from seeds doc_id % 97 == 0,
    capped at 4 hops. Spark runs level-synchronous frontier expansion
    (join + anti-join per level); the oracle is an independent DuckDB
    recursive CTE taking min(dist) over all depth-bounded walks —
    different algorithm, same shortest-distance answer."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    seeds = docs.where(F.col("doc_id") % 97 == 0) \
        .select(F.col("doc_id").alias("id"))
    edges = gr.synthetic_link_edges(docs, n)
    return gr.bfs_distances(seeds, edges, max_depth=4) \
        .select(F.col("id").alias("doc_id"), "dist")


_PR_DANG_ITER = """
d{i} AS (
  SELECT coalesce(sum(s{p}.score), 0) AS dm
  FROM s{p} LEFT JOIN deg ON s{p}.id = deg.src
  WHERE deg.src IS NULL),
c{i} AS (
  SELECT e.dst, sum(s{p}.score // d.out_degree) AS s
  FROM e JOIN deg d ON e.src = d.src JOIN s{p} ON e.src = s{p}.id
  GROUP BY 1),
s{i} AS (
  SELECT s{p}.id,
         150000 + (85 * (coalesce(c{i}.s, 0) +
                         (SELECT dm FROM d{i}) // (SELECT n FROM nn)))
             // 100 AS score
  FROM s{p} LEFT JOIN c{i} ON s{p}.id = c{i}.dst)"""


SQL_PAGERANK_DANGLING = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0
      WHERE src <> dst AND src % 10 <> 7),
deg AS (SELECT src, count(*) AS out_degree FROM e GROUP BY 1),
s0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS score FROM documents),
""" + ",".join(_PR_DANG_ITER.format(i=i, p=i - 1) for i in (1, 2, 3)) + """
SELECT id AS doc_id, CAST(score AS BIGINT) AS score_e6 FROM s3
"""


@gate(SQL_PAGERANK_DANGLING)
def q_pagerank_dangling(spark, sf_dir):
    """Integer-exact PageRank with dangling-mass REDISTRIBUTION
    (operators/graph.py, VERDICT r4 #5): every node whose doc_id ends in
    7 has its out-edges removed, creating ~10% dangling sinks; each
    iteration folds sum(dangling scores) div n uniformly into every
    node's incoming mass before damping — total mass stays ~BASE instead
    of deflating, still pure integer arithmetic. The oracle unrolls the
    same three iterations with the dangling scalar as a subquery."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = (gr.synthetic_link_edges(docs, n)
             .where(F.col("src") % 10 != 7))
    pr = gr.pagerank_int(nodes, edges, iters=3, damping_pct=85,
                         dangling="redistribute", n_nodes=n)
    return pr.select(F.col("id").alias("doc_id"), "score_e6")


_HITS_ITER = """
ar{i} AS (
  SELECT n.id, CAST(coalesce(s.s, 0) AS BIGINT) AS raw
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum(h{p}.hub) AS s
    FROM e JOIN h{p} ON e.src = h{p}.id GROUP BY 1) s ON n.id = s.dst),
a{i} AS (
  SELECT id, raw * 1000000 // greatest((SELECT max(raw) FROM ar{i}), 1)
         AS auth
  FROM ar{i}),
hr{i} AS (
  SELECT n.id, CAST(coalesce(s.s, 0) AS BIGINT) AS raw
  FROM nodes n LEFT JOIN (
    SELECT e.src, sum(a{i}.auth) AS s
    FROM e JOIN a{i} ON e.dst = a{i}.id GROUP BY 1) s ON n.id = s.src),
h{i} AS (
  SELECT id, raw * 1000000 // greatest((SELECT max(raw) FROM hr{i}), 1)
         AS hub
  FROM hr{i})"""


SQL_HITS = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
nodes AS (SELECT doc_id AS id FROM documents),
h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM nodes),
""" + ",".join(_HITS_ITER.format(i=i, p=i - 1) for i in (1, 2)) + """
SELECT a2.id AS doc_id, CAST(a2.auth AS BIGINT) AS auth_e6,
       CAST(h2.hub AS BIGINT) AS hub_e6
FROM a2 JOIN h2 ON a2.id = h2.id
"""


@gate(SQL_HITS)
def q_hits_scores(spark, sf_dir):
    """Integer-exact HITS hubs & authorities (graph.hits_scores): 2
    iterations of the mutually-recursive update over the deterministic
    doc link graph, each half-step max-normalized with pure integer
    multiply/floor-divide (ppm units) — bit-identical across engines and
    Spark's partial-agg merge orders. The oracle unrolls the same
    half-steps with the max as a scalar subquery."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = gr.synthetic_link_edges(docs, n)
    return (gr.hits_scores(nodes, edges, iters=2)
            .select(F.col("id").alias("doc_id"), "auth_e6", "hub_e6"))


_TR_ITER = """
c{i} AS (
  SELECT e.dst, sum(s{p}.score // d.out_degree) AS s
  FROM e JOIN deg d ON e.src = d.src JOIN s{p} ON e.src = s{p}.id
  GROUP BY 1),
s{i} AS (
  SELECT s{p}.id,
         (CASE WHEN s{p}.id % 97 = 0 THEN 150000 ELSE 0 END)
           + (85 * coalesce(c{i}.s, 0)) // 100 AS score
  FROM s{p} LEFT JOIN c{i} ON s{p}.id = c{i}.dst)"""


SQL_TRUSTRANK = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
deg AS (SELECT src, count(*) AS out_degree FROM e GROUP BY 1),
s0 AS (SELECT doc_id AS id,
              CAST(CASE WHEN doc_id % 97 = 0 THEN 1000000 ELSE 0 END
                   AS BIGINT) AS score
       FROM documents),
""" + ",".join(_TR_ITER.format(i=i, p=i - 1) for i in (1, 2, 3)) + """
SELECT id AS doc_id, CAST(score AS BIGINT) AS score_e6 FROM s3
"""


@gate(SQL_TRUSTRANK)
def q_trustrank(spark, sf_dir):
    """TrustRank (graph.pagerank_int(teleport=seeds), Gyongyi et al.
    VLDB 2004): teleport mass restricted to the curated seed set
    (doc_id % 97 == 0) — trust flows outward from the whitelist, pages
    unreachable from seeds decay to 0. Same integer-exact arithmetic as
    pagerank; the oracle unrolls the iterations with the seed-gated
    base term."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("id"))
    seeds = docs.where(F.col("doc_id") % 97 == 0) \
        .select(F.col("doc_id").alias("id"))
    edges = gr.synthetic_link_edges(docs, n)
    pr = gr.pagerank_int(nodes, edges, iters=3, damping_pct=85,
                         teleport=seeds)
    return pr.select(F.col("id").alias("doc_id"), "score_e6")


SQL_COCITATION = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)
SELECT a.dst AS page_a, b.dst AS page_b,
       CAST(count(*) AS BIGINT) AS n_common
FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
GROUP BY 1, 2
HAVING count(*) >= 2
"""


@gate(SQL_COCITATION)
def q_cocitation(spark, sf_dir):
    """Co-citation similarity (graph.cocitation_pairs): unordered page
    pairs cited together by >= 2 distinct sources over the deterministic
    link graph — the 'related pages' signal; oracle = brute-force
    edge self-join."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.cocitation_pairs(edges, min_count=2)


_LPA_ITER = """
c{i} AS (
  SELECT u.a AS id, l.label, count(*) AS cnt
  FROM und u JOIN l{p} l ON l.id = u.b GROUP BY 1, 2
),
l{i} AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id
                              ORDER BY cnt DESC, label ASC) AS rr
    FROM c{i}) WHERE rr = 1
)"""


SQL_LABEL_PROPAGATION = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
l0 AS (SELECT DISTINCT a AS id, a AS label FROM und),
""" + ",".join(_LPA_ITER.format(i=i, p=i - 1) for i in (1, 2, 3)) + """
SELECT id AS doc_id, CAST(label AS BIGINT) AS community FROM l3
"""


@gate(SQL_LABEL_PROPAGATION)
def q_label_propagation(spark, sf_dir):
    """Label-propagation communities (graph.label_propagation) over the
    deterministic doc link graph — 3 synchronous rounds, most-frequent
    neighbor label with min-label tie-break (deterministic, unlike the
    classical randomized sweep).  Distinguishes weakly-bridged dense
    clusters that connected_components merges.  Oracle: 3 unrolled
    count/argmax rounds."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(
        docs, _t_count(spark, sf_dir, "documents"))
    return gr.label_propagation(edges, rounds=3).select(
        F.col("id").alias("doc_id"), "community")


SQL_SSSP_SEEDS = """
WITH RECURSIVE e AS (
  SELECT CAST(doc_id // 2 AS BIGINT) AS src, doc_id AS dst,
         CAST(1 + doc_id % 7 AS BIGINT) AS w
  FROM documents WHERE doc_id >= 1 AND doc_id // 2 <> doc_id
  UNION ALL
  SELECT CAST(doc_id // 3 AS BIGINT) AS src, doc_id AS dst,
         CAST(2 + doc_id % 3 AS BIGINT) AS w
  FROM documents WHERE doc_id >= 1 AND doc_id % 5 = 0
    AND doc_id // 3 <> doc_id),
walk AS (
  SELECT doc_id AS id, CAST(0 AS BIGINT) AS dist
  FROM documents WHERE doc_id <= 2
  UNION
  SELECT e.dst, w.dist + e.w FROM walk w JOIN e ON w.id = e.src)
SELECT id, min(dist) AS dist FROM walk GROUP BY id
"""


@gate(SQL_SSSP_SEEDS)
def q_sssp_seeds(spark, sf_dir):
    """Weighted shortest paths from a seed set (graph.sssp_from_seeds):
    Bellman-Ford over a synthetic DAG — every doc has parent doc div 2
    (weight 1 + doc_id % 7), docs divisible by 5 get a second parent
    doc div 3, edges point parent -> child so ids strictly increase (no
    cycles) and the two-parent nodes give real min-over-paths decisions.
    Seeds = docs 0..2. Oracle = recursive-CTE min over path sums
    (UNION-distinct state dedup; integer weights keep it exact)."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    w = (F.lit(1) + i % 7).cast("bigint")
    e1 = (docs.where(i >= 1)
          .select(F.expr("doc_id div 2").alias("src"), i.alias("dst"),
                  w.alias("w")))
    e2 = (docs.where((i >= 1) & (i % 5 == 0))
          .select(F.expr("doc_id div 3").alias("src"), i.alias("dst"),
                  (F.lit(2) + i % 3).cast("bigint").alias("w")))
    edges = e1.unionByName(e2).where(F.col("src") != F.col("dst"))
    seeds = docs.where(i <= 2).select(i.alias("id"))
    return gr.sssp_from_seeds(seeds, edges, max_rounds=30)


SQL_SCC_COMPONENTS = """
WITH RECURSIVE
n AS MATERIALIZED (SELECT doc_id AS id FROM documents),
e AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
    WHERE doc_id % 10 <> 9
    UNION ALL
    SELECT doc_id, doc_id - 9 FROM documents
    WHERE doc_id % 10 = 9 AND (doc_id // 10) % 3 <> 0
    UNION ALL
    SELECT doc_id, doc_id + 1 FROM documents
    WHERE doc_id % 10 = 9 AND (doc_id // 10) % 5 = 0)
  WHERE dst IN (SELECT id FROM n)),
reach AS (
  SELECT id AS src, id AS dst FROM n
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
SELECT r1.src AS id, min(r1.dst) AS scc_id
FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
GROUP BY r1.src
"""


@gate(SQL_SCC_COMPONENTS)
def q_scc_components(spark, sf_dir):
    """Strongly connected components (graph.scc_labels — FW-BW-Trim
    coloring): the web-graph bowtie/link-ring primitive. The synthetic
    directed graph mixes every SCC shape the algorithm must handle:
    10-node blocks chained i->i+1, blocks with index not divisible by 3
    close the cycle (non-trivial SCCs), blocks divisible by 3 stay
    acyclic chains (Trim fodder), and every 5th block links to the next
    (cross-SCC DAG edges forcing a second peel). Oracle = recursive
    reachability closure; mutual-reach pairs grouped by min id."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    ids = docs.select(i.alias("id"))
    blk = F.expr("doc_id div 10")
    e1 = docs.where(i % 10 != 9).select(i.alias("src"),
                                        (i + 1).alias("dst"))
    e2 = (docs.where((i % 10 == 9) & (blk % 3 != 0))
          .select(i.alias("src"), (i - 9).alias("dst")))
    e3 = (docs.where((i % 10 == 9) & (blk % 5 == 0))
          .select(i.alias("src"), (i + 1).alias("dst")))
    edges = (e1.unionByName(e2).unionByName(e3)
             .join(ids.select(F.col("id").alias("dst")), "dst",
                   "left_semi"))
    return gr.scc_labels(ids, edges, max_peels=6)


SQL_MODULARITY = """
WITH e0 AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
    WHERE doc_id % 10 <> 9
    UNION ALL
    SELECT doc_id, doc_id - 9 FROM documents
    WHERE doc_id % 10 = 9 AND (doc_id // 10) % 3 <> 0
    UNION ALL
    SELECT doc_id, doc_id + 1 FROM documents
    WHERE doc_id % 10 = 9 AND (doc_id // 10) % 5 = 0)
  WHERE dst IN (SELECT doc_id FROM documents)),
und AS MATERIALIZED (
  SELECT least(src, dst) AS u, greatest(src, dst) AS v FROM e0
  WHERE src <> dst GROUP BY 1, 2),
m AS (SELECT count(*) AS m FROM und),
lbl AS (SELECT doc_id AS id, doc_id // 10 AS community FROM documents),
deg AS (SELECT nid, count(*) AS degree FROM (
  SELECT u AS nid FROM und UNION ALL SELECT v FROM und) GROUP BY nid),
dc AS (SELECT l.community, CAST(sum(d.degree) AS BIGINT) AS degree_sum
       FROM deg d JOIN lbl l ON d.nid = l.id GROUP BY 1),
ec AS (SELECT la.community, CAST(count(*) AS BIGINT) AS intra_edges
       FROM und JOIN lbl la ON und.u = la.id JOIN lbl lb ON und.v = lb.id
       WHERE la.community = lb.community GROUP BY 1)
SELECT dc.community, coalesce(ec.intra_edges, 0) AS intra_edges,
       dc.degree_sum,
       CAST(4 * m.m * coalesce(ec.intra_edges, 0)
            - dc.degree_sum * dc.degree_sum AS BIGINT) AS q_num
FROM dc LEFT JOIN ec ON dc.community = ec.community, m
"""


@gate(SQL_MODULARITY)
def q_modularity(spark, sf_dir):
    """Per-community modularity decomposition (graph.modularity_contrib)
    of the block labeling (community = doc div 10) over the SCC gate's
    block graph read undirected — cross-block links are INTER edges, so
    the cu == cv intra filter provably fires. q_num = 4*m*e_c - d_c^2
    stays an exact integer; Q = sum(q_num)/(4 m^2) at read time. Oracle
    re-derives edges, degrees and both aggregates independently."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    ids = docs.select(i.alias("id"))
    blk = F.expr("doc_id div 10")
    e1 = docs.where(i % 10 != 9).select(i.alias("src"),
                                        (i + 1).alias("dst"))
    e2 = (docs.where((i % 10 == 9) & (blk % 3 != 0))
          .select(i.alias("src"), (i - 9).alias("dst")))
    e3 = (docs.where((i % 10 == 9) & (blk % 5 == 0))
          .select(i.alias("src"), (i + 1).alias("dst")))
    edges = (e1.unionByName(e2).unionByName(e3)
             .join(ids.select(F.col("id").alias("dst")), "dst",
                   "left_semi"))
    labels = docs.select(i.alias("id"), blk.alias("community"))
    return gr.modularity_contrib(edges, labels, label_col="community")


SQL_DEGREE_HISTOGRAM = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT src, dst FROM e0 WHERE src <> dst),
o AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS degree
      FROM e GROUP BY 1),
i AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS degree
      FROM e GROUP BY 1)
SELECT 'out' AS direction, degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM o GROUP BY 2
UNION ALL
SELECT 'in', degree, CAST(count(*) AS BIGINT) FROM i GROUP BY 2
"""


@gate(SQL_DEGREE_HISTOGRAM)
def q_degree_histogram(spark, sf_dir):
    """Degree distribution of the link graph (graph.degree_histogram):
    one row per (direction, degree) with the node count — two partial
    aggs per direction, nothing driver-side. Oracle re-derives both
    histograms from the edge CTE."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    return gr.degree_histogram(gr.synthetic_link_edges(docs, n))


SQL_LINK_RECIPROCITY = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
      FROM e a WHERE EXISTS (SELECT 1 FROM e b
                             WHERE b.src = a.dst AND b.dst = a.src)),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT t.n_edges, r.n_reciprocal,
       CAST((1000000 * r.n_reciprocal) // t.n_edges AS BIGINT)
           AS reciprocity_ppm
FROM t, r
"""


@gate(SQL_LINK_RECIPROCITY)
def q_link_reciprocity(spark, sf_dir):
    """Link reciprocity (graph.reciprocity): share of directed edges
    whose reverse exists, integer ppm — one reversed-key self-semi-join.
    Oracle via an EXISTS subquery."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    return gr.reciprocity(gr.synthetic_link_edges(docs, n))


# MATERIALIZED: each round references the previous one three times —
# DuckDB inlines plain CTEs, which would expand the 12-round chain 3^12x
# (observed as a too-many-open-files explosion on the base scan)
_KCORE_ROUND = """
a{i} AS MATERIALIZED (SELECT u FROM e{p} GROUP BY u HAVING count(*) >= 3),
e{i} AS MATERIALIZED (SELECT e.u, e.v FROM e{p} e
         JOIN a{i} x ON e.u = x.u JOIN a{i} y ON e.v = y.u)"""


SQL_K_CORE = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0d AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
u0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       FROM e0d WHERE src <> dst),
e0 AS (SELECT a AS u, b AS v FROM u0 UNION ALL SELECT b, a FROM u0),
""" + ",".join(_KCORE_ROUND.format(i=i, p=i - 1)
               for i in range(1, 13)) + """
SELECT CAST(u AS BIGINT) AS id, CAST(count(*) AS BIGINT) AS deg
FROM e12 GROUP BY u
"""


@gate(SQL_K_CORE)
def q_k_core(spark, sf_dir):
    """k-core decomposition (graph.k_core, k=3): iterative peel of
    nodes with degree < 3 over the deterministic link graph to the
    unique fixpoint (5 rounds on this fixture; Spark runs to
    convergence and raises on exhaustion). Oracle unrolls 12 peel
    rounds — past the fixpoint every extra round is the identity, so
    over-unrolling is safe."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.k_core(edges, k=3)


SQL_TRIANGLES = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
  UNION
  SELECT doc_id % nn.n, (doc_id + 1) % nn.n FROM documents, nn
  WHERE doc_id % 17 = 0
  UNION
  SELECT doc_id % nn.n, (doc_id + 2) % nn.n FROM documents, nn
  WHERE doc_id % 17 = 0
  UNION
  SELECT (doc_id + 1) % nn.n, (doc_id + 2) % nn.n FROM documents, nn
  WHERE doc_id % 17 = 0
),
u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM e0 WHERE src <> dst)
SELECT CAST(e1.a AS BIGINT) AS ta, CAST(e1.b AS BIGINT) AS tb,
       CAST(e2.b AS BIGINT) AS tc
FROM u e1
JOIN u e2 ON e2.a = e1.a AND e2.b > e1.b
JOIN u e3 ON e3.a = e1.b AND e3.b = e2.b
"""


@gate(SQL_TRIANGLES)
def q_triangle_listing(spark, sf_dir):
    """Triangle listing (graph.triangle_listing): degree-ordered
    orientation (Suri & Vassilvitskii WWW'11) over the deterministic
    link graph plus a guaranteed triangle family (i, i+1, i+2 for
    17 | i) so the gate always has rows. Spark builds wedges only at the
    lowest-degree apex (hub-safe, O(sqrt(m)) fan-out); the oracle is the
    independent id-ordered 3-way self-join over the canonical
    undirected edge list."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    i = F.col("doc_id")
    tri_extra = None
    for a_off, b_off in ((0, 1), (0, 2), (1, 2)):
        part = (docs.where(i % 17 == 0)
                .select(((i + a_off) % n).alias("src"),
                        ((i + b_off) % n).alias("dst")))
        tri_extra = part if tri_extra is None else tri_extra.unionAll(part)
    edges = gr.synthetic_link_edges(docs, n).unionAll(tri_extra)
    return gr.triangle_listing(edges)


def _dag_layers_sql() -> str:
    rounds = []
    for k in range(1, 6):
        rounds.append(f"""
l{k} AS (
  SELECT nd.id, coalesce(max(q.layer + 1), 0) AS layer
  FROM nd LEFT JOIN (
    SELECT e.dst, p.layer FROM edg e JOIN l{k - 1} p ON p.id = e.src) q
    ON q.dst = nd.id
  GROUP BY nd.id)""")
    return f"""
WITH cnt AS (SELECT count(*) // 6 AS m FROM documents),
nd AS (SELECT doc_id AS id FROM documents, cnt WHERE doc_id < 6 * m),
edg AS (
  SELECT doc_id AS src,
         6 * (((doc_id // 6) * 31 + 7) % m) + doc_id % 6 + 1 AS dst
  FROM documents, cnt WHERE doc_id < 6 * m AND doc_id % 6 < 5
  UNION ALL
  SELECT doc_id,
         6 * (((doc_id // 6) * 17 + 3) % m) + doc_id % 6 + 1
  FROM documents, cnt
  WHERE doc_id < 6 * m AND doc_id % 6 < 5 AND doc_id % 2 = 0),
l0 AS (SELECT id, CAST(0 AS BIGINT) AS layer FROM nd),
{",".join(rounds)}
SELECT id, CAST(layer AS BIGINT) AS layer FROM l5
"""


SQL_DAG_LAYERS = _dag_layers_sql()


@gate(SQL_DAG_LAYERS)
def q_dag_layers(spark, sf_dir):
    """DAG topological layers (graph.dag_layers): longest-path depth per
    node over a deterministic 6-level dependency graph derived from
    doc_ids (edges only go level l -> l+1, so acyclicity is by
    construction and the true depth is <= 5 — but a node's LAYER is its
    longest incoming chain, 0 for the many mid-level nodes nothing
    points at, which the fixture exercises). Oracle = the max-plus
    Bellman iteration unrolled as 6 chained CTEs (the kmeans_geo
    pattern)."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    m = max(n // 6, 1)
    base = docs.select("doc_id").where(F.col("doc_id") < 6 * m)
    nodes = base.select(F.col("doc_id").alias("id"))
    lvl = F.col("doc_id") % 6
    grp = F.expr("doc_id div 6")
    e1 = (base.where(lvl < 5)
          .select(F.col("doc_id").alias("src"),
                  (6 * ((grp * 31 + 7) % m) + lvl + 1).alias("dst")))
    e2 = (base.where((lvl < 5) & (F.col("doc_id") % 2 == 0))
          .select(F.col("doc_id").alias("src"),
                  (6 * ((grp * 17 + 3) % m) + lvl + 1).alias("dst")))
    return gr.dag_layers(nodes, e1.unionByName(e2), max_rounds=8)


SQL_RESOURCE_ALLOC = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
dw AS (SELECT src, 1000000 // count(*) AS w FROM e GROUP BY 1),
ew AS (SELECT e.src, e.dst, dw.w FROM e JOIN dw USING (src))
SELECT a.dst AS page_a, b.dst AS page_b,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum(a.w) AS BIGINT) AS ra_e6
FROM ew a JOIN ew b ON a.src = b.src AND a.dst < b.dst
GROUP BY 1, 2
HAVING count(*) >= 2
"""


@gate(SQL_RESOURCE_ALLOC)
def q_resource_alloc(spark, sf_dir):
    """Resource-Allocation link prediction (graph.
    resource_allocation_pairs): co-cited pairs scored by the sum of
    1e6 div out_degree(source) over common sources — the integer-exact
    Adamic-Adar sibling (1/deg instead of 1/ln(deg): no float ln whose
    last ulp differs across engines). Same deterministic link graph as
    the cocitation gate; oracle = brute-force weighted self-join."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.resource_allocation_pairs(edges, min_count=2)


SQL_CLUSTERING_COEF = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e GROUP BY 1, 2),
sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
        FROM sym GROUP BY 1),
tr AS (SELECT x.a AS id, CAST(count(*) AS BIGINT) AS t
       FROM sym x
       JOIN sym y ON x.a = y.a AND x.b < y.b
       JOIN und z ON z.a = x.b AND z.b = y.b
       GROUP BY 1)
SELECT CAST(d.id AS BIGINT) AS id, d.degree,
       CAST(coalesce(t, 0) AS BIGINT) AS n_tri,
       CAST(CASE WHEN degree >= 2
                 THEN 2000000 * coalesce(t, 0) // (degree * (degree - 1))
            END AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN tr USING (id)
"""


@gate(SQL_CLUSTERING_COEF)
def q_clustering_coef(spark, sf_dir):
    """Local clustering coefficients (graph.clustering_coefficients):
    per-page cohesion ppm = 2e6 * triangles div (deg * (deg-1)) over the
    deterministic link graph — triangles via the hub-safe degree-ordered
    orientation. Oracle closes wedges directly (neighbor-pair join
    against the canonical edge set), an independent formulation of the
    same count."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.clustering_coefficients(edges)


SQL_HYPERBALL_R2 = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
ball AS (
  SELECT doc_id AS v, doc_id AS u FROM documents
  UNION SELECT src, dst FROM e
  UNION SELECT a.src, b.dst FROM e a JOIN e b ON a.dst = b.src),
h AS (SELECT v, CAST(concat('0x', substr(md5(CAST(u AS VARCHAR) || 'hll'),
             1, 15)) AS BIGINT) AS hv
      FROM ball),
br AS (SELECT v, hv // {1 << 54} AS bucket, hv % {1 << 54} AS rest FROM h)
SELECT CAST(v AS BIGINT) AS id, CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN rest = 0 THEN 55
                     ELSE 54 - (length(bin(rest)) - 1) END) AS BIGINT) AS r
FROM br GROUP BY 1, 2
"""


@gate(SQL_HYPERBALL_R2)
def q_hyperball_r2(spark, sf_dir):
    """HyperBall neighborhood function (graph.hyperball_registers):
    per-page HLL registers of the radius-2 out-ball over the
    deterministic link graph — radius rounds of union + elementwise-max
    partial aggs, the HyperANF linearization of a quadratic ball
    materialization. Registers compared bit-for-bit; the oracle derives
    the ball by 2-hop CLOSURE (self ∪ e ∪ e·e) and sketches the member
    set directly — set-based vs iterative-max, independent mechanics."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    nodes = docs.select(F.col("doc_id").alias("id"))
    return gr.hyperball_registers(nodes, edges, radius=2, p=6)


def _rw_step_sql(t: int, prev: str) -> str:
    h = (f"CAST(concat('0x', substr(md5(CAST(walk_id AS VARCHAR) "
         f"|| ':{t}:' || CAST(e.dst AS VARCHAR)), 1, 15)) AS BIGINT)")
    return f"""
n{t} AS (SELECT walk_id, node FROM (
  SELECT {prev}.walk_id, e.dst AS node,
         row_number() OVER (PARTITION BY {prev}.walk_id
                            ORDER BY {h}, e.dst) AS rn
  FROM {prev} JOIN e ON e.src = {prev}.node) t{t}
  WHERE rn = 1)"""


SQL_RANDOM_WALKS = ("""
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
s0 AS (SELECT doc_id AS walk_id, doc_id AS node FROM documents
       WHERE doc_id % 25 = 0),"""
                    + _rw_step_sql(1, "s0") + ","
                    + _rw_step_sql(2, "n1") + ","
                    + _rw_step_sql(3, "n2") + """
SELECT walk_id, CAST(0 AS BIGINT) AS step, CAST(node AS BIGINT) AS node
FROM s0
UNION ALL SELECT walk_id, 1, CAST(node AS BIGINT) FROM n1
UNION ALL SELECT walk_id, 2, CAST(node AS BIGINT) FROM n2
UNION ALL SELECT walk_id, 3, CAST(node AS BIGINT) FROM n3
""")


@gate(SQL_RANDOM_WALKS)
def q_random_walks(spark, sf_dir):
    """Graph-embedding corpus (graph.random_walks): 3-step md5-random
    walks from every 25th page over the deterministic link graph — the
    DeepWalk sequence generator, each step one join + one min(struct)
    argmin fold. Oracle unrolls the steps with row_number windows over
    the same hash order."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    seeds = (docs.where(F.col("doc_id") % 25 == 0)
             .select(F.col("doc_id").alias("walk_id"),
                     F.col("doc_id").alias("node")))
    return gr.random_walks(seeds, edges, steps=3)


SQL_ASSORTATIVITY = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
        FROM e GROUP BY 1, 2),
deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT u AS id FROM und UNION ALL SELECT v FROM und) q
        GROUP BY 1),
j AS (SELECT du.d AS dj, dv.d AS dk
      FROM und JOIN deg du ON du.id = und.u
               JOIN deg dv ON dv.id = und.v),
agg AS (SELECT CAST(count(*) AS BIGINT) AS m_edges,
               CAST(sum(dj + dk) AS BIGINT) AS s1,
               CAST(sum(dj * dj + dk * dk) AS BIGINT) AS s2,
               CAST(sum(dj * dk) AS BIGINT) AS sjk
        FROM j)
SELECT m_edges, s1, s2, sjk,
       CAST(CASE WHEN 2 * m_edges * s2 - s1 * s1 <> 0 THEN
         floor(CAST(4 * m_edges * sjk - s1 * s1 AS DOUBLE)
               / CAST(2 * m_edges * s2 - s1 * s1 AS DOUBLE)
               * 1000.0 + 0.5)
       END AS BIGINT) AS r_milli
FROM agg
"""


@gate(SQL_ASSORTATIVITY)
def q_assortativity(spark, sf_dir):
    """Degree assortativity (graph.degree_assortativity): Newman's r
    over the deterministic link graph as the exact rational
    (4M·Sjk − S1²)/(2M·S2 − S1²) from three int64 edge moments.
    Oracle re-derives degrees and moments with its own joins."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.degree_assortativity(edges)


SQL_POWERLAW_DEGREES = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
h AS (SELECT degree, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT src, count(*) AS degree FROM e GROUP BY 1) q
      GROUP BY 1),
pts AS (SELECT
  CAST(floor(ln(CAST(degree AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS lx,
  CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS ly
  FROM h WHERE degree > 0 AND cnt > 0),
m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lx) AS BIGINT) AS sx,
             CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * ly) AS BIGINT) AS sxy,
             CAST(sum(lx * lx) AS BIGINT) AS sxx
      FROM pts)
SELECT n AS n_points,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS slope_milli,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor((CAST(sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000.0 * 1000.0 + 0.5)
       END AS BIGINT) AS intercept_milli
FROM m
"""


@gate(SQL_POWERLAW_DEGREES)
def q_powerlaw_degrees(spark, sf_dir):
    """Power-law tail fit (stats.loglog_ols_fit): log-log OLS over the
    out-degree histogram of the link graph — alpha = -slope, the
    corpus-structure quick look. Per-point micro-quantized logs keep
    the moments integer; oracle mirrors the fixed op order over its
    own histogram CTEs."""
    from ...operators import graph as gr
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    hist = (edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("degree"))
            .groupBy("degree")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    return st.loglog_ols_fit(hist, x_col="degree", cnt_col="cnt")


SQL_RICH_CLUB = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
        FROM e GROUP BY 1, 2),
deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT u AS id FROM und UNION ALL SELECT v FROM und) q
        GROUP BY 1),
ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
       FROM deg, ks WHERE d > k GROUP BY 1),
ek AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges
       FROM und
       JOIN deg du ON du.id = und.u
       JOIN deg dv ON dv.id = und.v, ks
       WHERE du.d > k AND dv.d > k GROUP BY 1)
SELECT CAST(nk.k AS BIGINT) AS k, n_nodes,
       CAST(coalesce(n_edges, 0) AS BIGINT) AS n_edges,
       CAST(CASE WHEN n_nodes > 1 THEN
         1000000 * 2 * coalesce(n_edges, 0)
         // (n_nodes * (n_nodes - 1))
       END AS BIGINT) AS phi_ppm
FROM nk LEFT JOIN ek ON ek.k = nk.k
"""


@gate(SQL_RICH_CLUB)
def q_rich_club(spark, sf_dir):
    """Hub-club structure (graph.rich_club): phi(k) densities of the
    degree>k induced subgraphs at k=1..4 over the link graph — per-k
    counts in one pass via a bounded threshold explode. Oracle
    re-derives degrees and induced counts with its own joins."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.rich_club(edges, ks=(1, 2, 3, 4))
