"""Link-graph operators for the web-pages corpus: out-link degree and an
integer-exact PageRank.

Web-scale training pipelines use link authority as a document-quality
signal (seed-and-expand crawls, harmonic/PageRank centrality filtering a la
Common Crawl's host-level ranks). The engine's variant here is
deliberately **integer-exact**: scores live in parts-per-million units and
every update uses only integer add/multiply/floor-divide, so results are
bit-identical across engines (the driver's DuckDB oracle replicates it in
SQL) AND across Spark's nondeterministic aggregation orders — float
PageRank sums would differ in the last ulp depending on partial-agg merge
order; integer sums are associative.

Update rule per iteration (damping d expressed as a percentage):

    contrib(e) = score(src(e)) div out_degree(src(e))      [per edge]
    score'(v)  = (100-d)% * BASE + (d * sum contrib) div 100

with BASE = 1_000_000 ppm. Dangling mass (score at nodes with no
out-edges) is DROPPED by default — deterministic and fine as a relative
quality signal — or redistributed uniformly with
``dangling="redistribute"`` (VERDICT r4 #5): each iteration folds
``dangling_sum div n`` into every node's incoming mass, one extra O(1)
aggregate per iteration, still integer-exact, keeping total mass ~1 so
scores read as probabilities on graphs with sinks.

Scale: each iteration is one equi-join of the O(1)-per-node score relation
to the edge list on src (shuffle keyed by src, or map-side if edges are
pre-bucketed by src) plus one partial-combine hash aggregation keyed by
dst. State per node is a single long. The iteration count is a small
constant (quality filtering uses 2-5 iterations, not convergence), so the
lineage stays shallow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_relation
from .materialize import materialize

BASE_PPM = 1_000_000


def out_degrees(edges: DataFrame) -> DataFrame:
    """(src, out_degree) from a distinct edge list."""
    return edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))


def pagerank_int(nodes: DataFrame, edges: DataFrame, iters: int = 3,
                 damping_pct: int = 85,
                 dangling: str = "drop",
                 n_nodes: int | None = None,
                 teleport: DataFrame | None = None) -> DataFrame:
    """Integer-exact PageRank.

    nodes: DataFrame with one ``id`` column (every rankable vertex).
    edges: DataFrame (src, dst); must be distinct pairs.
    dangling: ``"drop"`` (default — sink mass deleted each iteration) or
    ``"redistribute"`` (sink mass split uniformly: every node's incoming
    sum gains ``dangling_sum div n`` before damping). ``n_nodes`` must be
    supplied for redistribute (no plan-time action inside the operator).
    Returns (id, score_e6) after ``iters`` synchronous iterations starting
    from BASE_PPM everywhere.

    Scale note (redistribute): the dangling sum is ONE scalar per
    iteration, computed with an anti-join aggregate and folded back via a
    broadcast nested-loop join of the 1-row relation — the plan stays
    fully lazy/distributed, no per-iteration driver roundtrip.

    teleport: optional seed relation (one ``id`` column) — TRUSTRANK
    (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004): the teleport mass
    (initial score AND the per-iteration base term) lands ONLY on the
    seeds, so trust flows outward from a curated whitelist and pages
    unreachable from seeds decay to 0 — the standard spam-demotion /
    seed-propagation ranking. Implemented as one extra left join against
    the (small, broadcastable) seed relation; everything else — integer
    exactness, dangling handling, per-iteration shape — is unchanged.
    """
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"dangling must be 'drop' or 'redistribute', "
                         f"got {dangling!r}")
    if dangling == "redistribute" and not n_nodes:
        raise ValueError("dangling='redistribute' requires n_nodes")
    deg = out_degrees(edges)
    scored_edges = edges.join(deg, "src")
    base = F.lit((100 - damping_pct) * BASE_PPM // 100)
    if teleport is not None:
        seeds = (teleport.select("id").distinct()
                 .withColumn("__seed", F.lit(1)))
        nodes = nodes.join(F.broadcast(seeds), "id", "left")
        base = F.when(F.col("__seed").isNotNull(), base) \
            .otherwise(F.lit(0))
        init = F.when(F.col("__seed").isNotNull(), F.lit(BASE_PPM)) \
            .otherwise(F.lit(0))
    else:
        init = F.lit(BASE_PPM)
    scores = nodes.select("id", init.cast("long").alias("score_e6"))
    for _ in range(iters):
        contrib = (scored_edges
                   .join(scores, scored_edges["src"] == scores["id"])
                   .select(F.col("dst"),
                           F.expr("score_e6 div out_degree")
                           .alias("contrib")))
        summed = contrib.groupBy("dst").agg(F.sum("contrib").alias("s"))
        nxt = nodes.join(summed, nodes["id"] == summed["dst"], "left")
        if dangling == "redistribute":
            dang = (scores.join(deg, scores["id"] == deg["src"],
                                "left_anti")
                    .agg(F.coalesce(F.sum("score_e6"), F.lit(0))
                         .cast("long").alias("__dmass")))
            nxt = nxt.crossJoin(F.broadcast(dang))
            inc_sql = f"coalesce(s, 0) + __dmass div {n_nodes}"
        else:
            inc_sql = "coalesce(s, 0)"
        scores = nxt.select(
            "id",
            (base + F.expr(f"({damping_pct} * ({inc_sql})) div 100"))
            .cast("long").alias("score_e6"))
    return scores


def hits_scores(nodes: DataFrame, edges: DataFrame, iters: int = 3,
                scale: int = BASE_PPM) -> DataFrame:
    """Integer-exact HITS (Kleinberg 1999): mutually-recursive hub and
    authority scores over a directed link graph — the classic complement
    to PageRank for web corpora (a page LINKING many authorities is a hub;
    a page linked BY many hubs is an authority; PageRank conflates the
    two). Quality pipelines use the authority score as a second
    link-based signal and the hub score to find index/spam link farms.

    Same determinism contract as ``pagerank_int``: scores live in ppm
    units, every update is integer add/multiply/floor-divide, so results
    are bit-identical across engines and across Spark's partial-agg merge
    orders. Classic HITS L2-normalizes each half-step; any per-step
    normalization yields the same power-iteration fixpoint direction, so
    this variant normalizes by the MAXIMUM (``x * scale div max(x)`` —
    exact in int64), which keeps every score in [0, scale].

    Per iteration:
        auth_raw(v) = sum over edges (u,v) of hub(u)
        auth(v)     = auth_raw(v) * scale div max(auth_raw)
        hub_raw(u)  = sum over edges (u,v) of auth(v)
        hub(u)      = hub_raw(u) * scale div max(hub_raw)

    Overflow bound: auth_raw <= in_degree_max * scale, and the
    normalization multiplies by scale before dividing, so int64 requires
    in_degree_max * scale^2 < 2^63 — with scale = 10^6 that allows
    in-degrees up to ~9.2 * 10^6, plenty for a registered-domain graph
    (re-scale to 10^4 for raw-page graphs with super-hub sinks).

    Scale shape: each half-step is one equi-join of the O(1)-per-node
    score relation against the edge list + one partial-combine hash
    aggregation; the max is ONE scalar per half-step computed lazily and
    folded back via a broadcast 1-row cross join — no driver roundtrip,
    same pattern as pagerank's dangling mass. Returns
    (id, auth_e6, hub_e6) after ``iters`` iterations.
    """
    hub = nodes.select("id", F.lit(scale).cast("long").alias("hub"))
    auth = nodes.select("id", F.lit(scale).cast("long").alias("auth"))
    for _ in range(iters):
        araw = (edges.join(hub, edges["src"] == hub["id"])
                .groupBy("dst").agg(F.sum("hub").alias("s")))
        auth = (nodes.join(araw, nodes["id"] == araw["dst"], "left")
                .select("id", F.coalesce(F.col("s"), F.lit(0))
                        .cast("long").alias("raw")))
        amx = auth.agg(F.greatest(F.max("raw"), F.lit(1))
                       .cast("long").alias("__mx"))
        auth = (auth.crossJoin(F.broadcast(amx))
                .select("id", F.expr(f"raw * {scale} div __mx")
                        .cast("long").alias("auth")))
        hraw = (edges.join(auth, edges["dst"] == auth["id"])
                .groupBy("src").agg(F.sum("auth").alias("s")))
        hub = (nodes.join(hraw, nodes["id"] == hraw["src"], "left")
               .select("id", F.coalesce(F.col("s"), F.lit(0))
                       .cast("long").alias("raw")))
        hmx = hub.agg(F.greatest(F.max("raw"), F.lit(1))
                      .cast("long").alias("__mx"))
        hub = (hub.crossJoin(F.broadcast(hmx))
               .select("id", F.expr(f"raw * {scale} div __mx")
                       .cast("long").alias("hub")))
    return (auth.join(hub, "id")
            .select("id", F.col("auth").alias("auth_e6"),
                    F.col("hub").alias("hub_e6")))


def bfs_distances(seeds: DataFrame, edges: DataFrame,
                  max_depth: int) -> DataFrame:
    """Shortest hop-distance from a seed set over a directed link graph —
    the crawl-depth label (seed-and-expand crawls cap fetch depth; quality
    pipelines use "distance from curated seeds" as a trust signal, a la
    Common Crawl seed lists / TrustRank's seed-propagation step).

    seeds: one ``id`` column. edges: (src, dst), distinct.
    Returns (id, dist) for every node reachable within ``max_depth`` hops
    (seeds at dist 0). Unreachable nodes are absent — the caller decides
    the sentinel.

    Shape: level-synchronous frontier expansion. Each level is ONE
    equi-join of the current frontier against the edge list keyed by src
    + a distinct, then ONE anti-join against the visited set — textbook
    BFS. The visited set is checkpointed per level so lineage stays flat,
    and that checkpoint job also counts the level's new nodes for the
    early exit (the frontier itself never reaches the driver). Crawl-depth
    use is max_depth <= ~10, so the round count is a small constant; each
    round shuffles only the FRONTIER (new nodes), so total shuffled volume
    over the whole run is O(V + E touched), not O(depth * V).
    """
    visited = (seeds.select("id").distinct()
               .withColumn("dist", F.lit(0).cast("bigint"))
               .localCheckpoint(eager=True))
    # Pin the edge relation once: the caller passes it lazily (union +
    # distinct lineage) and every level's frontier join would re-derive it.
    # The new frontier is carried INSIDE the checkpointed visited relation
    # (dist == level) instead of its own checkpoint.
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    frontier = visited.select("id")
    for d in range(1, max_depth + 1):
        nxt = (frontier.join(edges, frontier["id"] == edges["src"])
               .select(F.col("dst").alias("id")).distinct())
        new = (nxt.join(visited.select("id"), "id", "left_anti")
               .withColumn("dist", F.lit(d).cast("bigint")))
        visited, st = materialize(
            visited.unionByName(new),
            n_new=F.count(F.when(F.col("dist") == d, 1)))
        if st["n_new"] == 0:
            break
        frontier = visited.where(F.col("dist") == d).select("id")
    return visited


def synthetic_link_edges(docs: DataFrame, n: int) -> DataFrame:
    """Deterministic link graph over the documents table: doc i links to
    (7i+1) mod n always, (13i+5) mod n when i is even, (29i+11) mod n when
    3 | i (distinct pairs, self-loops removed) — varied out-degrees 1..3 so
    rank mass actually differentiates; a real corpus would extract hrefs
    in the geocode/parse stage instead. ``n`` is passed explicitly (no
    plan-time action inside the operator)."""
    i = F.col("doc_id")
    e = None
    for a, b, mod in ((7, 1, 1), (13, 5, 2), (29, 11, 3)):
        part = (docs.where((i % mod) == 0)
                .select(i.alias("src"),
                        ((i * a + b) % F.lit(n)).alias("dst")))
        e = part if e is None else e.unionAll(part)
    return e.where(F.col("src") != F.col("dst")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """Kiveris et al. 2014 large-star: for each node u, attach every
    STRICTLY LARGER neighbor v to m = min(Gamma(u) + {u}). Input edges
    must be DISTINCT and (larger, smaller)-oriented — then the
    symmetrized union is dup-free by construction (no distinct needed
    on it, one shuffle saved per round); output is (larger, smaller).

    The output is NOT deduplicated (VERDICT r4 #9): duplicate edges are
    semantically harmless downstream — small-star's groupBy-min ignores
    multiplicity and its own final distinct restores the dup-free
    invariant each round — so the only cost is join fan-out vs the saved
    shuffle. On the sf0.1 bench fixture the round without the extra
    distinct was faster in every paired rep (floors 2.6 s vs 3.7 s;
    NOTES_r5.md)."""
    sym = e.unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v")))
    mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("u"), F.col("mv")).alias("m")))
    out = (sym.join(mins, "u")
           .where(F.col("v") > F.col("u"))
           .select(F.col("v").alias("u"), F.col("m").alias("v")))
    return out


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris et al. 2014 small-star on (larger, smaller)-oriented edges:
    for each node u, attach all its smaller neighbors (and u itself) to
    m = min(Gamma(u)); output stays (larger, smaller)-oriented."""
    mins = e.groupBy("u").agg(F.min("v").alias("mv"))
    j = e.join(mins, "u")
    return (j.where(F.col("v") != F.col("mv"))
            .select(F.col("v").alias("u"), F.col("mv").alias("v"))
            .unionAll(mins.select(F.col("u"), F.col("mv").alias("v")))
            .distinct())


def _cc_alternating(und: DataFrame, max_iters: int):
    """Alternating large-star/small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): converges in
    O(log^2 n) rounds — in practice a handful — versus O(diameter) for
    plain propagation, which is the difference between 4 and 10^4 full
    shuffles on a trillion-edge chain-heavy graph.

    Terminal check is SOUND, not heuristic: when the cheap per-round
    invariant (parent-estimate count+sum, monotone non-increasing) stalls,
    candidate labels are verified with one pass over the ORIGINAL edges —
    a labeling that is constant across every original edge and maps roots
    to themselves is exactly the min-label CC labeling, so a premature
    stall cannot return wrong labels.

    Returns (labels(id, label), rounds, converged)."""
    nodes = und.select(F.col("a").alias("id")).distinct().localCheckpoint()
    # oriented (larger, smaller) distinct edges — _large_star's required
    # input shape (und carries both directions; keep one per edge)
    e = (und.where(F.col("a") > F.col("b"))
         .select(F.col("a").alias("u"), F.col("b").alias("v")))
    prev = None
    for i in range(max_iters):
        # cheap stall TRIGGER: (count, sum, sum) over the edge set, observed
        # by its checkpoint job (labels only decrease, so these stats stall
        # at the fixpoint). The trigger may rarely fire early — harmless,
        # because the sound verification below rejects any non-fixpoint
        # labeling.
        e, st = materialize(_small_star(_large_star(e)),
                            n=F.count(F.lit(1)), su=F.sum("u"),
                            sv=F.sum("v"))
        cur = tuple(st.values())
        if cur == prev:
            est = e.groupBy("u").agg(F.min("v").alias("p"))
            labels = (nodes.join(est, nodes["id"] == est["u"], "left")
                      .select("id", F.coalesce(F.col("p"), F.col("id"))
                              .alias("label"))
                      .localCheckpoint())
            bad = (und
                   .join(labels.select(F.col("id").alias("a"),
                                       F.col("label").alias("la")), "a")
                   .join(labels.select(F.col("id").alias("b"),
                                       F.col("label").alias("lb")), "b")
                   .where(F.col("la") != F.col("lb")).count())
            if bad == 0:
                return labels, i + 1, True
        prev = cur
    return None, max_iters, False


def _both_ways(e: DataFrame) -> DataFrame:
    """(a, b) and (b, a) per row, in one pass over ``e`` (a two-branch
    union runs e's lineage twice: AQE reuses no exchange across it)."""
    flip = F.struct(F.col("b").alias("a"), F.col("a").alias("b"))
    return e.select(F.inline(F.array(F.struct("a", "b"), flip)))


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iters: int = 50) -> DataFrame:
    """Resolve near-duplicate PAIRS into clusters. Output
    (id, component_id) for every node that appears in a pair;
    component_id = the smallest node id in the component (the canonical
    representative a dedup pipeline keeps).

    This is the stage between pair generation (MinHash-LSH / SimHash /
    embedding near-dup) and an actually deduplicated corpus (see
    ``dedup_keep_list``).

    Alternating large-star/small-star, O(log^2 n) rounds (the
    trillion-edge scale path); the one-hop min-label propagation
    cross-check lives in the tests.

    Raises RuntimeError if ``max_iters`` is exhausted before the fixpoint
    (ADVICE r3: silently-unconverged labels would keep the wrong
    canonical docs with no signal). Mirrors the kNN ``exact=false``
    pattern but hard-fails: a partial CC labeling has no safe use.
    """
    und = (_both_ways(pairs.select(F.col(a_col).alias("a"),
                                   F.col(b_col).alias("b")))
           .distinct()
           .localCheckpoint())
    labels, rounds, converged = _cc_alternating(und, max_iters)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in "
            f"{rounds} rounds (max_iters={max_iters}); labels would be "
            f"silently wrong — raise max_iters")
    return labels.select("id", F.col("label").alias("component_id"))


def cocitation_pairs(edges: DataFrame, min_count: int = 2,
                     max_fanout: int | None = None) -> DataFrame:
    """Co-citation similarity (Small 1973, the classic "related pages"
    signal): unordered page pairs with the count of DISTINCT sources
    linking to BOTH — pages repeatedly cited together are topically
    related even when neither links the other. Run it on REVERSED edges
    for bibliographic coupling (pairs sharing out-links; Kessler 1963).

    Shape: one self-equi-join of the distinct edge list keyed by src +
    one partial-agg count per (a, b) — exactly the shingle-join shape of
    ``ngram_jaccard_pairs``, and with the same hot-key hazard: a hub
    source with out-degree f emits f(f-1)/2 pairs. ``max_fanout`` is the
    standard guard (drop sources with out_degree > max_fanout BEFORE the
    join — a page linking thousands of pages carries no topical signal,
    the same reasoning as the shingle df cap); ``None`` keeps exactness.

    Returns (page_a, page_b, n_common) with page_a < page_b and
    n_common >= min_count.
    """
    e = edges.select("src", "dst").distinct().persist()
    if max_fanout is not None:
        keep = (e.groupBy("src")
                .agg(F.count(F.lit(1)).alias("f"))
                .where(F.col("f") <= max_fanout)
                .select("src"))
        e = e.join(keep, "src", "left_semi")
    a, b = e.alias("a"), e.alias("b")
    return (a.join(b, (F.col("a.src") == F.col("b.src"))
                   & (F.col("a.dst") < F.col("b.dst")))
            .groupBy(F.col("a.dst").alias("page_a"),
                     F.col("b.dst").alias("page_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
            .where(F.col("n_common") >= min_count))


def resource_allocation_pairs(edges: DataFrame, min_count: int = 2,
                              max_fanout: int | None = None) -> DataFrame:
    """Resource-Allocation link-prediction score (Zhou, Lu & Zhang, EPJ B
    2009): for each co-cited page pair, every common source s contributes
    1/out_degree(s) — a hub citing 500 pages says almost nothing about any
    pair it creates, while a 2-link page is a strong signal. The
    degree-weighted refinement of ``cocitation_pairs``' raw count, and the
    integer-exact sibling of Adamic-Adar (1/ln(deg) needs a float ln whose
    last-ulp rounding differs across engines; 1/deg quantizes exactly:
    ``weight = 10^6 div out_degree`` is the same BIGINT in Spark and
    DuckDB, so the summed score is associative and merge-order free).

    Shape: one degree partial-agg, one self-equi-join keyed by src carrying
    the per-src weight, one partial-agg sum per (a, b) — identical shuffle
    profile to ``cocitation_pairs`` including the ``max_fanout`` hub guard
    (which here also bounds the SMALLEST weight a surviving hub can emit).

    Returns (page_a, page_b, n_common, ra_e6) with page_a < page_b and
    n_common >= min_count; ra_e6 = sum over common sources of
    (1_000_000 div out_degree(source)).
    """
    e = edges.select("src", "dst").distinct().persist()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("f"))
    if max_fanout is not None:
        deg = deg.where(F.col("f") <= max_fanout)
    ew = e.join(deg, "src").select(
        "src", "dst", F.expr(f"{BASE_PPM} div f").alias("w"))
    a, b = ew.alias("a"), ew.alias("b")
    return (a.join(b, (F.col("a.src") == F.col("b.src"))
                   & (F.col("a.dst") < F.col("b.dst")))
            .groupBy(F.col("a.dst").alias("page_a"),
                     F.col("b.dst").alias("page_b"))
            .agg(F.count(F.lit(1)).alias("n_common"),
                 F.sum(F.col("a.w")).cast("bigint").alias("ra_e6"))
            .where(F.col("n_common") >= min_count))


def label_propagation(edges: DataFrame, rounds: int = 3,
                      src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Synchronous label propagation community detection (Raghavan et
    al., Phys. Rev. E 2007) with DETERMINISTIC tie-breaking: every node
    starts as its own label; each round, a node adopts the label most
    frequent among its neighbors (a self-loop is no neighbor), ties
    broken by the SMALLEST label.  Fixed ``rounds`` — communities
    stabilize in a handful of sweeps on web graphs; the deterministic tie
    rule makes the result engine-reproducible (the randomized-order
    variant is not even run-reproducible).

    Distinguishes dense communities that connected_components cannot
    (CC merges anything touching; LPA keeps weakly-bridged clusters
    apart).  PageRank/HITS/TrustRank/CC/BFS/co-citation + LPA completes
    the graph suite.

    Shape per round: symmetrize (map-only explode) -> join labels on the
    neighbor side -> ONE (node, label) partial-agg count -> ONE per-node
    max(struct(cnt, -label)) agg — the argmax-with-min-tie fold as a
    single struct max, no window, no driver roundtrip.  O(rounds)
    shuffles keyed on node id; labels/edges never collect.
    """
    und = _both_ways(edges.select(F.col(src_col).alias("a"),
                                  F.col(dst_col).alias("b"))
                     .where(F.col("a") != F.col("b"))).distinct()
    nodes = und.select(F.col("a").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("label"))
    for _ in range(int(rounds)):
        nbr = (und.join(labels.withColumnRenamed("id", "b"), "b")
               .select(F.col("a").alias("id"), "label"))
        counted = (nbr.groupBy("id", "label")
                   .agg(F.count(F.lit(1)).alias("cnt")))
        best = (counted.groupBy("id")
                .agg(F.max(F.struct(F.col("cnt"),
                                    (-F.col("label")).alias("neg")))
                     .alias("m"))
                .select("id", (-F.col("m.neg")).alias("label")))
        # isolated nodes (none here — symmetrized edge graph) would keep
        # their old label via a left join; the edge-derived node set
        # always has >= 1 neighbor, so best covers every node
        labels = best
    return labels.select("id", F.col("label").cast("bigint")
                         .alias("community"))


def triangle_listing(edges: DataFrame,
                     und: DataFrame | None = None) -> DataFrame:
    """Exact triangle listing over the (directed) link graph, treated as
    a simple undirected graph — the primitive behind clustering
    coefficients and link-farm/spam-cluster detection (tightly
    inter-linked page groups are a classic web-spam signal).

    Scale strategy is the degree-ordered orientation (Suri &
    Vassilvitskii, WWW 2011): orient every undirected edge from its
    lower to its higher endpoint under the total order (degree, id).
    Every wedge is then built only at its LOWEST-degree apex, so the
    per-node wedge fan-out is bounded by O(sqrt(m)) on any graph — a
    celebrity hub with 10^6 in-links generates no wedges unless it is
    the low end of both edges. Each triangle is emitted exactly once
    (its apex under the order is unique). Three equi-joins, no
    inequality join, all partial-agg/hash-join shuffles.

    Output: one row per triangle, node ids ascending (ta < tb < tc).
    """
    a, b = F.col("src"), F.col("dst")
    # r6 OPTIMIZATION: ``und`` feeds two branches (degree count and the
    # orientation join) and the oriented relation ``o`` feeds three (both
    # wedge sides and the closing edge) — persist both so the
    # distinct/degree subtrees run once instead of being re-derived per
    # branch (persist, not checkpoint, keeps the FileScan visible to the
    # plan-pruning audits). Same relations, same triangles. Callers that
    # already hold the normalized undirected relation pass it via
    # ``und`` (clustering_coefficients shares its persisted copy).
    if und is None:
        und = (edges.where(a != b)
               .select(F.least(a, b).alias("a"),
                       F.greatest(a, b).alias("b"))
               .distinct().persist())
    deg = (und.select(F.col("a").alias("id"))
           .unionAll(und.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))

    # orient under (deg, id): u -> v iff (deg_u, u) < (deg_v, v)
    da, db = F.col("da.deg"), F.col("db.deg")
    ia, ib = F.col("a"), F.col("b")
    lower_a = (da < db) | ((da == db) & (ia < ib))
    o = (und.join(deg.alias("da"), und["a"] == F.col("da.id"))
         .join(deg.alias("db"), und["b"] == F.col("db.id"))
         .select(F.when(lower_a, ia).otherwise(ib).alias("u"),
                 F.when(lower_a, ib).otherwise(ia).alias("v"),
                 F.when(lower_a, db).otherwise(da).alias("dv"))
         .persist())

    # wedges at the apex u, ordered (dv, v) so each unordered pair of
    # out-neighbors appears once; the closing edge (v1 -> v2) is oriented
    # the same way, so one equi-join finishes the triangle.
    e1, e2 = o.alias("e1"), o.alias("e2")
    lt = ((F.col("e1.dv") < F.col("e2.dv"))
          | ((F.col("e1.dv") == F.col("e2.dv"))
             & (F.col("e1.v") < F.col("e2.v"))))
    wed = (e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & lt)
           .select(F.col("e1.u").alias("w0"), F.col("e1.v").alias("w1"),
                   F.col("e2.v").alias("w2")))
    closing = o.select(F.col("u").alias("w1"), F.col("v").alias("w2"))
    tri = wed.join(closing, ["w1", "w2"])
    ids = F.array_sort(F.array("w0", "w1", "w2"))
    return tri.select(ids[0].cast("bigint").alias("ta"),
                      ids[1].cast("bigint").alias("tb"),
                      ids[2].cast("bigint").alias("tc"))


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over the simple undirected
    graph (Watts & Strogatz 1998): the fraction of a node's neighbor
    pairs that are themselves linked — the page-level cohesion signal
    that separates organic topical hubs (high cc) from link farms
    stitched across unrelated pages (near-zero cc), read alongside
    ``triangle_listing``'s spam-cluster counts.

    Pure composition: triangles from the degree-ordered orientation
    (hub-safe O(sqrt(m)) wedge fan-out — see ``triangle_listing``), one
    explode to per-vertex incidence counts, one degree partial-agg, one
    equi-join. cc is emitted integer-exact in ppm:

        cc_ppm = 2_000_000 * n_tri div (degree * (degree - 1))

    NULL for degree < 2 (undefined — no neighbor pair exists).

    Output: (id, degree, n_tri, cc_ppm).
    """
    a, b = F.col("src"), F.col("dst")
    # r6: share ONE persisted undirected relation with triangle_listing
    # (it was re-derived independently on both sides before)
    und = (edges.where(a != b)
           .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
           .distinct().persist())
    deg = (und.select(F.col("a").alias("id"))
           .unionAll(und.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).cast("bigint")
                              .alias("degree")))
    tri = triangle_listing(edges, und=und)
    per_node = (tri.select(F.explode(F.array("ta", "tb", "tc"))
                           .alias("id"))
                .groupBy("id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri")))
    out = deg.join(per_node, "id", "left")
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
    cc = F.when(F.col("degree") >= 2,
                F.expr("2000000 * n_tri0 div (degree * (degree - 1))"))
    return (out.withColumn("n_tri0", n_tri)
            .select(F.col("id").cast("bigint").alias("id"), "degree",
                    F.col("n_tri0").alias("n_tri"),
                    cc.cast("bigint").alias("cc_ppm")))


def k_core(edges: DataFrame, k: int, max_iters: int = 30) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes with
    degree < k until a fixpoint — the densely-interlinked subgraph
    extractor (link-farm cores, community nuclei; Seidman 1983). The
    k-core is unique, so the peeling ORDER never matters and the result
    is engine-reproducible.

    Each round is one partial-agg degree count + two semi-joins against
    the surviving-node relation, which is pinned once per round; the
    driver sees only its row count (the alive-set fixpoint check),
    observed by the pinning job, and ``localCheckpoint`` caps lineage
    the same way the alternating-CC rounds do. Rounds needed is
    the peeling depth (typically << diameter); raises on exhaustion
    rather than returning a silently-unconverged core (the CC
    discipline, ADVICE r3 #2).

    Output: (id, deg) — nodes of the k-core with their degree INSIDE
    the core subgraph (>= k by definition).
    """
    a, b = F.col("src"), F.col("dst")
    und = (edges.where(a != b)
           .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
           .distinct())
    sym = (_both_ways(und).select(F.col("a").alias("u"), F.col("b").alias("v"))
           .localCheckpoint(eager=False))
    prev_alive = -1
    for _ in range(int(max_iters)):
        core, st = materialize(
            sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= int(k)),
            n=F.count(F.lit(1)))
        n_alive = st["n"]
        if n_alive == prev_alive:
            return core.select(F.col("u").cast("bigint").alias("id"),
                               F.col("deg").cast("bigint").alias("deg"))
        if n_alive == 0:
            return local_relation(sym.sparkSession, [],
                                  "id bigint, deg bigint")
        prev_alive = n_alive
        alive = core.select("u")
        sym = (sym.join(alive, "u", "left_semi")
               .join(alive.withColumnRenamed("u", "v"), "v", "left_semi")
               .select("u", "v")
               .localCheckpoint(eager=False))
    raise RuntimeError(
        f"k_core did not converge within max_iters={max_iters}; "
        "raise max_iters (peeling depth exceeds the bound)")


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Degree distribution of the directed link graph — the first
    diagnostic run on any web graph (power-law tail, hub detection,
    sanity of an extraction change). One row per (direction, degree):
    how many nodes have that out-/in-degree. Two partial-agg groupBys
    (node degree, then degree histogram) per direction — no joins, no
    windows, nothing driver-side.
    """
    def hist(col: str, direction: str) -> DataFrame:
        return (edges.groupBy(F.col(col).alias("id"))
                .agg(F.count(F.lit(1)).alias("degree"))
                .groupBy("degree")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
                .select(F.lit(direction).alias("direction"),
                        F.col("degree").cast("bigint").alias("degree"),
                        "n_nodes"))
    return hist("src", "out").unionByName(hist("dst", "in"))


def reciprocity(edges: DataFrame) -> DataFrame:
    """Link reciprocity: the share of directed edges whose reverse edge
    also exists (a classic spam/nepotism signal — organic link graphs
    are weakly reciprocal, link rings highly). One self-semi-join on the
    reversed key, integer ppm. Output: one row
    (n_edges, n_reciprocal, reciprocity_ppm)."""
    e = (edges.where(F.col("src") != F.col("dst"))
         .select("src", "dst").distinct().persist())
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    agg = (e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
           .crossJoin(recip.agg(F.count(F.lit(1)).cast("bigint")
                                .alias("n_reciprocal"))))
    return agg.withColumn(
        "reciprocity_ppm",
        F.expr("CAST((1000000 * n_reciprocal) DIV n_edges AS BIGINT)"))


def sssp_from_seeds(seeds: DataFrame, edges: DataFrame,
                    max_rounds: int = 20) -> DataFrame:
    """Weighted single-source(-set) shortest paths — Bellman-Ford over a
    directed graph with non-negative INTEGER weights, the weighted
    companion of ``bfs_distances`` (crawl cost to reach a page when hops
    are not uniform: per-host politeness delay, per-edge fetch cost).

    seeds: one ``id`` column (distance 0). edges: (src, dst, w), w a
    non-negative integer column. Returns (id, dist) for every node
    reachable within ``max_rounds`` relaxations; integer-exact, so the
    DuckDB oracle (recursive-CTE min over path sums) matches
    bit-for-bit.

    Shape per round: ONE equi-join of the current distance relation to
    the edge list keyed by src + ONE min-aggregation keyed by node —
    state is one long per node, O(1) driver scalars per round (the
    fixpoint check's row count and distance sum, observed by the round's
    checkpoint job; distances never reach the driver). Converged when no
    node improves; raises if the budget exhausts first (negative-cycle
    sentinel / budget misconfiguration), the same honesty rule as
    connected_components.
    """
    # Pin the edge relation ONCE: the loop re-joins it every round, and an
    # unpinned lineage gets re-analyzed/re-planned per round — measured
    # superlinear round-time growth (0.5 s -> 30 s by round 6 at sf0.01)
    # versus flat ~0.7 s/round pinned. At cluster scale the equivalent is
    # persist(DISK_ONLY) or a staged parquet of the edge list.
    edges = (edges.select("src", "dst", F.col("w").cast("bigint").alias("w"))
             .localCheckpoint(eager=True))
    dist = _relax_to_fixpoint(
        seeds.select("id").distinct()
        .withColumn("dist", F.lit(0).cast("bigint")),
        edges, "dist", F.col("dist") + F.col("w"), F.min, max_rounds)
    if dist is not None:
        return dist
    raise RuntimeError(
        f"sssp_from_seeds did not converge in {max_rounds} rounds — "
        f"raise max_rounds (graph deeper than the budget) or check for "
        f"negative weights")


def _relax_to_fixpoint(init: DataFrame, edges: DataFrame, col: str,
                       step: Column, best, max_rounds: int):
    """Monotone propagation over the pinned ``edges``: per round ONE
    equi-join of the (id, ``col``) relation to the edges keyed by src,
    moving ``step`` to dst, + ONE ``best`` (min/max) aggregation per node.
    Rows only appear and values only improve, so (row count, ``col`` sum),
    observed by the round's checkpoint job and seeded with the initial
    relation's, stalls EXACTLY when no node improved. Returns the
    fixpoint, or None if ``max_rounds`` exhausts first."""
    # coalesced so that an all-zero start, empty or not, reads (rows, 0)
    cur, st = materialize(init, n=F.count(F.lit(1)),
                          s=F.coalesce(F.sum(col), F.lit(0)))
    prev = tuple(st.values())
    for _ in range(max_rounds):
        relaxed = (cur.join(edges, cur["id"] == edges["src"])
                   .select(F.col("dst").alias("id"), step.alias(col)))
        cur, st = materialize(cur.unionByName(relaxed).groupBy("id")
                              .agg(best(col).alias(col)),
                              n=F.count(F.lit(1)), s=F.sum(col))
        if tuple(st.values()) == prev:
            return cur
        prev = tuple(st.values())
    return None


# _bounded_squared's budget: at most 2^4 hops per edge, and stop once the
# squared relation outgrows 8x the input
_MAX_DOUBLINGS = 4
_GROWTH_CAP = 8


def _bounded_squared(e: DataFrame, base: int) -> DataFrame:
    """Iterated BOUNDED SQUARING of a directed edge relation ``e`` of
    ``base`` rows (the classic recursive-doubling/transitive-closure
    trick, size-guarded): returns a relation with the SAME transitive
    closure as ``e`` that additionally contains every path of length up to 2^k
    as a direct edge, so one synchronous min-label propagation round
    covers 2^k hops instead of one — O(log depth) materialized rounds
    instead of O(depth). Doubling stops as soon as the squared relation
    exceeds ``_GROWTH_CAP`` x the input size (hub-dense graphs approach
    the quadratic closure and keep the plain edges — the same bounded-
    growth discipline as the shingle max_df caps); sparse chain/cycle
    graphs (redirect webs, SCC condensations) stay near-linear and get
    the full log-depth win. Self-loops produced by squaring are
    harmless for min-label propagation (a no-op update)."""
    if base == 0:
        return e
    r, cur = e, base
    for _ in range(_MAX_DOUBLINGS):
        a = r.select("src", F.col("dst").alias("mid"))
        b = r.select(F.col("src").alias("mid"), "dst")
        r2, st = materialize(
            r.unionByName(a.join(b, "mid").select("src", "dst")).distinct(),
            n=F.count(F.lit(1)))
        c2 = st["n"]
        if c2 > _GROWTH_CAP * base:
            return r
        if c2 == cur:
            # r ⊆ r2 and |r| == |r2| => squaring added nothing => r is
            # already the transitive closure; further doublings are
            # no-op self-joins — stop (saves the remaining doubling
            # jobs on shallow graphs).
            return r
        r, cur = r2, c2
    return r


def _directed_min_reach(nodes: DataFrame, edges: DataFrame,
                        forward: bool, max_rounds: int):
    """Min-id reachability closure label in ONE direction: for every node
    v, the smallest node id that can reach v along edge direction
    (``forward=True``: label flows src -> dst; ``False``: dst -> src).
    Labels start at own id and only decrease, so ``_relax_to_fixpoint``'s
    stall test is SOUND (no change in the monotone system == fixpoint ==
    the true closure min). Returns labels(id, label), or None when
    ``max_rounds`` exhausts first; O(condensation diameter) rounds."""
    if not forward:
        edges = edges.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))
    return _relax_to_fixpoint(
        nodes.select("id").withColumn("label", F.col("id")), edges,
        "label", F.col("label"), F.min, max_rounds)


def _scc_trim(remaining: DataFrame, n_rem: int, e: DataFrame, n_e: int,
              max_rounds: int):
    """FW-BW-Trim's Trim phase: a node with no in-edge or no out-edge in
    the remaining subgraph cannot lie on a directed cycle, so it is a
    singleton SCC — peel such nodes iteratively (removing one layer
    exposes the next, e.g. an acyclic chain trims end-in). WITHOUT this
    phase every acyclic chain node would cost a full FW+BW peel of its
    own. ``n_rem``/``n_e`` count the pinned ``remaining``/``e``. Returns
    (trimmed_labels, remaining, n_rem, edges, n_e).

    Per round only the keep-set is materialized (and counted by that
    job). The restricted edge set is derived LAZILY from
    the pinned input edges and the current checkpointed keep-set
    (restriction to a monotonically shrinking node set is idempotent, so
    restricting e0 directly to remaining_k equals the iterative
    restriction); trimmed labels accumulate as a lazy union of anti-joins
    over checkpointed inputs, executed once by the consumer. The degree
    probes need no distinct: left-semi joins ignore right-side
    multiplicity.

    One layer per materialized round: peeling 2 or 3 layers lazily per
    round measured 1.1x / 1.4x slower on the sf0.1 gate, because under
    AQE the job count tracks exchanges, not driver actions
    (OPTIMIZATION_r06.md)."""
    trimmed = None
    for _ in range(max(1, max_rounds)):
        if n_rem == 0:
            break
        e_k = _restricted(e, remaining)
        # both-degree probe as ONE flag aggregation over the restricted
        # edge endpoints (endpoints are ⊆ remaining by construction, so
        # no join back to remaining is needed) — one shuffle instead of
        # two semi-join probes
        flags = (e_k.select(F.col("src").alias("id"),
                            F.lit(1).alias("o"), F.lit(0).alias("i"))
                 .unionAll(e_k.select(F.col("dst").alias("id"),
                                      F.lit(0).alias("o"),
                                      F.lit(1).alias("i")))
                 .groupBy("id").agg(F.max("o").alias("o"),
                                    F.max("i").alias("i")))
        keep, st = materialize(
            flags.where((F.col("o") == 1) & (F.col("i") == 1)).select("id"),
            n=F.count(F.lit(1)))
        n_keep = st["n"]
        if n_keep == n_rem:
            break
        t = (remaining.join(keep, "id", "left_anti")
             .select("id", F.col("id").alias("scc_id")))
        trimmed = t if trimmed is None else trimmed.unionByName(t)
        remaining = keep
        n_rem = n_keep
    if trimmed is None:
        # nothing trimmed: the caller's e is already restricted to
        # ``remaining`` — skip the no-op restriction and its checkpoint
        return None, remaining, n_rem, e, n_e
    e, st = materialize(_restricted(e, remaining), n=F.count(F.lit(1)))
    return trimmed, remaining, n_rem, e, st["n"]


def _restricted(e: DataFrame, nodes: DataFrame) -> DataFrame:
    """The edges of ``e`` with both endpoints in ``nodes``."""
    return (e.join(nodes.select(F.col("id").alias("src")), "src", "left_semi")
            .join(nodes.select(F.col("id").alias("dst")), "dst", "left_semi"))


def scc_labels(nodes: DataFrame, edges: DataFrame,
               max_peels: int = 10, max_prop_rounds: int = 60,
               max_trim_rounds: int = 40) -> DataFrame:
    """Strongly connected components of a DIRECTED graph — the web-graph
    primitive behind the bowtie structure study (Broder et al. WWW'00:
    SCC core vs IN/OUT tendrils), link-ring/spam-farm detection (a link
    ring IS a dense SCC), and safe redirect-graph condensation.

    Algorithm: Trim + iterative min-label COLORING peel (the FW-BW-Trim
    family: Fleischer et al. '00, Orzan '04, Hong et al. PPoPP'13,
    Slota et al. IPDPS'14). Per peel: (1) Trim acyclic fringe nodes
    (in- or out-degree 0 within the remaining subgraph — singleton SCCs
    by construction) until none remain; (2) compute f(v) = min id that
    can REACH v (forward closure) and b(v) = min id v can reach
    (backward closure) over the remaining subgraph. The set
    {v : f(v) = b(v) = c} is EXACTLY the SCC of node c (f=b=c gives
    mutual reachability with c; within an SCC both closures are
    constant, and any smaller outside reacher of one member reaches
    every member, so a partial SCC can never satisfy the equality) —
    every peel labels at least the SCC of the current global min id,
    plus every other "locally minimal" SCC, so the peel count is
    bounded by the longest chain of NON-TRIVIAL SCCs in
    ascending-min-id reachability order, not by the SCC count.

    Scale shape: each propagation round is one equi-join of the one-long
    per-node label relation to the edge list + one partial-agg min; each
    trim round two degree semi-joins; each peel removes labeled nodes
    with one anti-join and restricts edges with two semi-joins. O(1)
    driver scalars per round/peel; node state is one long. Raises on
    budget exhaustion — a partial SCC labeling has no safe use (same
    honesty rule as connected_components).

    Returns (id, scc_id), scc_id = min node id in the SCC, for exactly
    the ids in ``nodes``: edges with an endpoint outside it are ignored.
    Singleton SCCs (trimmed acyclic nodes) label themselves.
    """
    n = F.count(F.lit(1))
    remaining, st = materialize(nodes.select("id").distinct(), n=n)
    n_rem = st["n"]
    if n_rem == 0:
        return local_relation(nodes.sparkSession, [],
                              "id bigint, scc_id bigint")
    # an edge with an endpoint outside ``nodes`` would carry that id
    # into the first peel's closures and out as a label
    e, st = materialize(
        _restricted(edges.select("src", "dst")
                    .where(F.col("src") != F.col("dst")).distinct(),
                    remaining), n=n)
    n_e = st["n"]
    done = None

    def _acc(acc, new):
        # lazy accumulation: every term is an anti-join / filter over
        # CHECKPOINTED relations, so the union tree stays shallow-cost
        # and executes once in the consumer's job (r6: saves one
        # checkpoint job per peel)
        if new is None:
            return acc
        if acc is None:
            return new
        return acc.unionByName(new)

    for _ in range(max_peels):
        t, remaining, n_rem, e, n_e = _scc_trim(remaining, n_rem, e, n_e,
                                                max_trim_rounds)
        done = _acc(done, t)
        if n_rem == 0:
            return done.select("id", "scc_id")
        # r6 OPTIMIZATION: (a) propagate over the bounded-squared edge
        # relation — same closure, so the same fixpoint labels in
        # O(log depth) rounds (measured 20 fw rounds -> ~6 on the gate
        # graph); (b) the forward and backward closures are INDEPENDENT
        # jobs — run them from two driver threads so their (tiny) stages
        # interleave on the idle executor cores (guide §2.6) instead of
        # serializing two driver-blocking loops.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        e2 = _bounded_squared(e, n_e)

        @inheritable_thread_target(remaining.sparkSession)
        def _reach(fwd: bool):
            return _directed_min_reach(remaining, e2, fwd, max_prop_rounds)

        with ThreadPoolExecutor(2) as pool:
            f, b = pool.map(_reach, (True, False))
        if f is None or b is None:
            raise RuntimeError(
                f"scc_labels: reachability propagation did not converge "
                f"in {max_prop_rounds} rounds — graph deeper than the "
                f"budget; raise max_prop_rounds")
        newly = (f.join(b.withColumnRenamed("label", "blabel"), "id")
                 .where(F.col("label") == F.col("blabel"))
                 .select("id", F.col("label").alias("scc_id"))
                 .localCheckpoint(eager=True))
        done = _acc(done, newly)
        remaining, st = materialize(
            remaining.join(newly.select("id"), "id", "left_anti"), n=n)
        n_rem = st["n"]
        e, st = materialize(_restricted(e, remaining), n=n)
        n_e = st["n"]
    if n_rem == 0:
        return done.select("id", "scc_id")
    raise RuntimeError(
        f"scc_labels did not finish in {max_peels} peels — the graph's "
        f"SCC-chain depth exceeds the budget; raise max_peels")


def modularity_contrib(edges: DataFrame, labels: DataFrame,
                       a_col: str = "src", b_col: str = "dst",
                       id_col: str = "id",
                       label_col: str = "scc_id") -> DataFrame:
    """Per-community modularity decomposition (Newman & Girvan) of a
    node labeling over the UNDIRECTED simple graph — the quality score
    that says whether a community/cluster labeling (label propagation,
    CC, SCC condensation) actually concentrates edges:

        Q = sum_c [ e_c/m - (d_c/(2m))^2 ]  =  sum_c q_num_c / (4 m^2)

    with e_c intra-community edges, d_c the community degree sum, and
    the returned exact integer q_num_c = 4*m*e_c - d_c^2. Keeping the
    per-community numerators exact (one global DIV at read time) avoids
    the float-sum nondeterminism AND the precision loss of per-cell
    division; i64-safe while 2m < ~3e9 (beyond that, carry the d_c^2
    term as a decimal — noted, not needed at gate scale).

    Input edges may be directed/duplicated: normalized to distinct
    unordered pairs, self-loops dropped. Shape: one distinct (pinned; m
    is counted by that job) + two label equi-joins + two partial aggs.
    Output: (community, intra_edges, degree_sum, q_num).
    """
    und, st = materialize(
        edges.select(F.least(F.col(a_col), F.col(b_col)).alias("u"),
                     F.greatest(F.col(a_col), F.col(b_col)).alias("v"))
        .where(F.col("u") != F.col("v")).distinct(),
        m=F.count(F.lit(1)))
    lab = labels.select(F.col(id_col).alias("nid"),
                        F.col(label_col).alias("community"))
    deg = (und.select(F.col("u").alias("nid"))
           .unionAll(und.select(F.col("v").alias("nid")))
           .groupBy("nid").agg(F.count(F.lit(1)).alias("degree")))
    d_c = (deg.join(lab, "nid")
           .groupBy("community").agg(F.sum("degree").alias("degree_sum")))
    e_c = (und.join(lab.select(F.col("nid").alias("u"),
                               F.col("community").alias("cu")), "u")
           .join(lab.select(F.col("nid").alias("v"),
                            F.col("community").alias("cv")), "v")
           .where(F.col("cu") == F.col("cv"))
           .groupBy(F.col("cu").alias("community"))
           .agg(F.count(F.lit(1)).alias("intra_edges")))
    return (d_c.join(e_c, "community", "left")
            .select("community",
                    F.coalesce(F.col("intra_edges"), F.lit(0))
                    .cast("bigint").alias("intra_edges"),
                    F.col("degree_sum").cast("bigint").alias("degree_sum"),
                    (F.lit(4 * st["m"]) * F.coalesce(F.col("intra_edges"),
                                               F.lit(0))
                     - F.col("degree_sum") * F.col("degree_sum"))
                    .cast("bigint").alias("q_num")))


def dag_layers(nodes: DataFrame, edges: DataFrame,
               max_rounds: int = 30) -> DataFrame:
    """Topological LAYERS of a DAG — for every node the length of the
    longest directed path ending at it (sources sit at layer 0). The
    scheduling primitive behind dependency-ordered pipelines: everything
    in layer k can run once layers < k finished (the reference's
    transform chain is such a dependency order, fixed at plan time;
    here it is computed from a data-sized graph).

    nodes: one ``id`` column. edges: (src, dst). Returns (id, layer),
    integer-exact.

    Bellman iteration on the max-plus semiring: layer_{k+1}(v) =
    max(0, max over in-edges (u,v) of layer_k(u) + 1) — monotone
    non-decreasing, fixpoint at the true longest-path depth after
    (depth) rounds. Per round: ONE equi-join keyed by src + ONE max
    aggregation keyed by node, O(1) driver scalars (the stall check's
    row count and layer sum, observed by the round's checkpoint job);
    the edge relation is pinned once (the sssp_from_seeds lesson —
    unpinned lineage re-plans superlinearly). If the budget
    exhausts before the fixpoint the graph has a cycle (layers on a
    cycle grow forever) or a deeper-than-budget chain — raise loudly,
    never return a truncated layering (same honesty contract as
    connected_components / scc_labels).
    """
    edges = (edges.select("src", "dst").distinct()
             .localCheckpoint(eager=True))
    lay = _relax_to_fixpoint(
        nodes.select("id").distinct()
        .withColumn("layer", F.lit(0).cast("bigint")),
        edges, "layer", F.col("layer") + F.lit(1).cast("bigint"), F.max,
        max_rounds)
    if lay is not None:
        return lay
    raise RuntimeError(
        f"dag_layers did not converge in {max_rounds} rounds — the graph "
        f"has a cycle, or a chain deeper than the budget (raise "
        f"max_rounds)")


def hyperball_registers(nodes: DataFrame, edges: DataFrame,
                        radius: int = 2, p: int = 6) -> DataFrame:
    """HyperBall / HyperANF neighborhood-function registers (Boldi,
    Rosa & Vigna, WWW 2011; Palmer et al.'s ANF made mergeable): per
    node, the HLL sketch of the ball B(v, radius) = every page
    reachable in <= radius hops — THE technique that measured the
    Facebook graph's four degrees of separation. Per-node ball sizes at
    small radius are a crawl-frontier influence/coverage signal a
    trillion-edge graph can never compute exactly (ball materialization
    is quadratic); HLL registers make the iteration linear.

    Relational form: registers live as the sparse (id, bucket, r)
    relation (<= n * 2^p rows). Round k folds every node's successors'
    registers into its own by elementwise max — union + ONE partial-agg
    groupBy per round, exactly the mergeability identity
    HLL(A ∪ B) = max(HLL(A), HLL(B)) that makes the algorithm correct;
    ``radius`` rounds of shuffles keyed by node id, O(1) driver rows.
    Registers are INTEGERS (the house 60-bit md5 hash), so the gate
    compares them bit-for-bit; estimates read via
    ``cardinality.hll_estimate`` / ``hll_estimate_grouped``.

    Output: (id, bucket, r) — the sketch of B(id, radius), self
    included.
    """
    from . import cardinality as cd

    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    ids = nodes.select(F.col("id"))
    regs = cd.hll_registers_grouped(
        ids.select("id", F.col("id").alias("member")),
        "member", ["id"], p=p)
    e = edges.select(F.col("src").alias("id"), F.col("dst")).persist()
    for _ in range(int(radius)):
        nbr = (e.join(regs.select(F.col("id").alias("dst"), "bucket",
                                  "r"), "dst")
               .select("id", "bucket", "r"))
        regs = (regs.unionAll(nbr)
                .groupBy("id", "bucket")
                .agg(F.max("r").cast("bigint").alias("r")))
    return regs


def random_walks(seeds: DataFrame, edges: DataFrame,
                 steps: int = 3) -> DataFrame:
    """Deterministic uniform-ish random walks from seed nodes — the
    DeepWalk/node2vec CORPUS generator (walk sequences feed a skip-gram
    embedding exactly like token windows feed word2vec). "Random" is
    md5-derived: at step t, walk w moves to the out-neighbor minimizing
    md5(walk || ':' || t || ':' || neighbor) — a fixed hash-random
    choice, so the corpus is bit-reproducible across engines, runs and
    partitionings (the same property every sampler here has). Walks at
    a node with no out-edges simply stop (shorter sequences, the
    standard convention).

    Shape per step: one equi-join of the O(1)-per-walk frontier to the
    edge list keyed by src + ONE min(struct) partial agg — the argmin
    fold, no window over the candidate relation. O(steps) shuffles,
    O(1) driver rows.

    Input seeds: (walk_id, node). Output: (walk_id, step, node) with
    step 0 = the seed.
    """
    if steps < 0:
        raise ValueError(f"steps must be >= 0, got {steps}")
    e = edges.select(F.col("src"), F.col("dst")).distinct()
    cur = seeds.select("walk_id", F.col("node"))
    out = cur.select("walk_id", F.lit(0).cast("bigint").alias("step"),
                     "node")
    for t in range(1, int(steps) + 1):
        h = F.conv(F.substring(
            F.md5(F.concat(F.col("walk_id").cast("string"),
                           F.lit(f":{t}:"),
                           F.col("dst").cast("string"))), 1, 15),
            16, 10).cast("bigint")
        nxt = (cur.join(e, cur["node"] == e["src"])
               .select("walk_id", "dst", h.alias("h"))
               .groupBy("walk_id")
               .agg(F.min(F.struct(F.col("h"), F.col("dst"))).alias("m"))
               .select("walk_id", F.col("m.dst").alias("node")))
        out = out.unionByName(
            nxt.select("walk_id", F.lit(t).cast("bigint").alias("step"),
                       "node"))
        cur = nxt
    return out


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    correlation of end-point degrees over the undirected edge list —
    positive means hubs link hubs (social/citation structure), negative
    means hubs link leaves (the web's hub-and-spoke / star structure) —
    a one-number structural fingerprint used to sanity-check synthetic
    graphs and spot link farms (engineered farms skew strongly
    assortative).

    Exact rational: with M edges and per-edge end degrees (j, k),
    r = (4M*Sjk - S1^2) / (2M*S2 - S1^2) where S1 = sum(j+k),
    S2 = sum(j^2+k^2), Sjk = sum(j*k) — all associative int64 sums
    (degree <= ~3e5 keeps every term under 2^63 at 10^9 edges);
    r_milli is the one fixed-op-order double at the end.

    One degree partial agg + two co-keyed joins + one aggregate.
    Output (one row): (m_edges, s1, s2, sjk, r_milli) — NULL r for
    degree-regular graphs (zero variance).
    """
    a, b = F.col("src"), F.col("dst")
    # r6: und feeds the degree union (2x) and the end-degree joins —
    # persist so the distinct runs once per query, not per branch
    und = (edges.where(a != b)
           .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
           .distinct().persist())
    deg = (und.select(F.col("u").alias("id"))
           .unionAll(und.select(F.col("v").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).cast("bigint")
                              .alias("d")))
    j = (und.join(deg.withColumnRenamed("id", "u")
                  .withColumnRenamed("d", "dj"), "u")
         .join(deg.withColumnRenamed("id", "v")
               .withColumnRenamed("d", "dk"), "v"))
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("m_edges"),
        F.sum(F.col("dj") + F.col("dk")).cast("bigint").alias("s1"),
        F.sum(F.col("dj") * F.col("dj")
              + F.col("dk") * F.col("dk")).cast("bigint").alias("s2"),
        F.sum(F.col("dj") * F.col("dk")).cast("bigint").alias("sjk"))
    num = 4 * F.col("m_edges") * F.col("sjk") - F.col("s1") * F.col("s1")
    den = 2 * F.col("m_edges") * F.col("s2") - F.col("s1") * F.col("s1")
    r = F.when(den != 0,
               F.floor(num.cast("double") / den.cast("double")
                       * F.lit(1000.0) + F.lit(0.5)).cast("bigint"))
    return agg.select("m_edges", "s1", "s2", "sjk", r.alias("r_milli"))


def rich_club(edges: DataFrame, ks: tuple = (1, 2, 3)) -> DataFrame:
    """Rich-club coefficients (Colizza et al. 2006): for each degree
    threshold k, the density phi(k) = 2*E_k / (N_k*(N_k-1)) of the
    subgraph induced by nodes with degree > k — rising phi(k) means
    the hubs form a tight club (editorially-linked portals, link
    rings), flat means hubs ignore each other.

    One degree partial agg, then a bounded |ks| explode joined against
    the undirected edge list with both-end degree filters — per-k
    counts in ONE pass, no per-k rescan. Exact integer density ppm.

    Output: (k, n_nodes, n_edges, phi_ppm) — NULL phi under 2 nodes.
    """
    a, b = F.col("src"), F.col("dst")
    # (r6: the persist applied to the sibling assortativity construction
    # measured SLOWER here — rich_club's branches reuse the same deg
    # exchange, so the cache only added write cost; left unpersisted)
    und = (edges.where(a != b)
           .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
           .distinct())
    deg = (und.select(F.col("u").alias("id"))
           .unionAll(und.select(F.col("v").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).cast("bigint")
                              .alias("d")))
    kdf = F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k")
    nodes_k = (deg.select("d", kdf)
               .where(F.col("d") > F.col("k"))
               .groupBy("k")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes")))
    ej = (und.join(deg.withColumnRenamed("id", "u")
                   .withColumnRenamed("d", "du"), "u")
          .join(deg.withColumnRenamed("id", "v")
                .withColumnRenamed("d", "dv"), "v"))
    edges_k = (ej.select("du", "dv", kdf)
               .where((F.col("du") > F.col("k"))
                      & (F.col("dv") > F.col("k")))
               .groupBy("k")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
    out = (nodes_k.join(edges_k, "k", "left")
           .select("k", "n_nodes",
                   F.coalesce(F.col("n_edges"), F.lit(0)).cast("bigint")
                   .alias("n_edges")))
    phi = F.when(F.col("n_nodes") > 1,
                 F.expr("1000000 * 2 * n_edges "
                        "div (n_nodes * (n_nodes - 1))"))
    return out.select(F.col("k").cast("bigint").alias("k"), "n_nodes",
                      "n_edges", phi.cast("bigint").alias("phi_ppm"))
