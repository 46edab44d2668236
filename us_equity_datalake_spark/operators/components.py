"""Connected components over an edge list — the clustering step of
near-duplicate deduplication (LSH/SimHash/cosine pairs → dup clusters →
one canonical survivor per cluster).

The reference stops at pairwise duplicate detection; a training-data
pipeline needs the transitive closure: if A~B and B~C, all three are one
cluster even when A~C was never scored.  This is iterative min-label
propagation expressed in DataFrame ops:

  1. every node starts with label = its own id,
  2. each iteration, a node's label becomes min(own, neighbors' labels),
  3. stop when no label changed (converges in O(cluster diameter) rounds).

Scale notes (100 TB / 1000 executors):

- Each iteration is one shuffle: edges join labels on src (edges are
  pre-partitioned by src once and reused), then a groupBy(dst) min.  Near-dup
  graphs are overwhelmingly tiny star/clique clusters, so diameter — and the
  iteration count — stays single-digit even at web scale.
- ``localCheckpoint`` truncates the lineage each round; without it the plan
  doubles per iteration and the driver OOMs on plan compilation long before
  data is a problem.
- For adversarial long-chain graphs, swap the loop body for the
  large-star/small-star algorithm (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14) — same DataFrame skeleton, provably
  O(log²n) rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from us_equity_datalake_spark.sources.registry import local_frame


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_threshold: int = 2_000_000,
    algorithm: str = "propagation",
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    ``edges`` may be directed and unsorted; symmetry is added internally.
    Only nodes that appear in at least one edge are returned (isolated nodes
    trivially form their own singleton components).

    ``algorithm="two_phase"`` switches the distributed path to large-star/
    small-star (Kiveris et al. SoCC'14): O(log² n) rounds on any graph shape
    vs propagation's O(diameter) — use it when clusters may be long chains
    rather than the near-dup norm of tiny stars/cliques.

    Size-adaptive execution (the same two-regime design as GraphFrames'
    ``broadcastThreshold``): the near-dup edge list is typically a sub-percent
    fraction of the corpus, so after the distributed pair generation the graph
    itself often fits on the driver — a local union-find is then O(E·α) with
    zero shuffles, versus O(diameter) full shuffle rounds.  Above
    ``local_threshold`` edges, iterative min-label propagation runs fully
    distributed; pass ``local_threshold=0`` to force the distributed path.
    """
    # materialize the forward edges BEFORE symmetrizing: both union branches
    # read them, and the upstream (e.g. cosine pair generation) is the
    # expensive part — without this it would be computed twice in one job
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    fwd.count()
    sym = fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # distinct narrows the per-iteration join; reused every round, so persist
    sym = sym.distinct().persist()

    n_edges = sym.count()  # also materializes the persist
    fwd.unpersist()
    if algorithm == "two_phase":
        out = _two_phase_components(sym, max_iter)
        sym.unpersist()
        return out
    if n_edges <= local_threshold:
        spark = edges.sparkSession
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # one collect, bounded by local_threshold edges (toLocalIterator would
        # schedule a separate job per partition — far slower for small graphs)
        for u, v in sym.select("u", "v").collect():
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:  # min-id root wins => label == min reachable id
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        rows = [(n, find(n)) for n in parent]
        sym.unpersist()
        schema = sym.select(F.col("u").alias("node"), F.col("u").alias("component")).schema
        return local_frame(spark, rows, schema)

    # seed labels with min(node, min neighbor): the same shuffle the node-list
    # distinct would cost, but it already IS the first propagation round
    labels = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("nb"))
        .select("node", F.least("node", "nb").alias("label"))
        .localCheckpoint()
    )

    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["u"] == labels["node"])
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("label").alias("nb_label"))
        )
        # checkpoint FIRST, then probe convergence on the materialized rows —
        # counting before checkpointing would run the iteration's join twice
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select("node", F.least("label", "nb_label").alias("new_label"), "label")
            .localCheckpoint()
        )
        changed = updated.filter(F.col("new_label") < F.col("label")).limit(1).count()
        labels = updated.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        # exhaustion = labels are still changing: returning them would hand
        # the caller silently non-minimal components.  Propagation needs
        # O(diameter) rounds; point long-chain graphs at two_phase instead.
        sym.unpersist()
        raise RuntimeError(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "rounds; raise max_iter or use algorithm='two_phase' "
            "(O(log^2 n) on any graph shape)"
        )
    sym.unpersist()
    return labels.select("node", F.col("label").alias("component"))


def _two_phase_components(sym: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): provably O(log² n) rounds
    on ANY graph shape, vs O(diameter) for plain min-label propagation — the
    upgrade path the propagation docstring defers to for adversarial
    long-chain graphs.

    large-star: every node u points its LARGER neighbors at m = min(Γ(u)∪{u});
    small-star: every node u re-points its smaller neighbors (and itself) at
    their minimum.  At fixpoint the edge set is a star forest rooted at each
    component's global minimum.  Each phase is one groupBy-min + one join —
    two shuffles — and lineage is truncated per round."""
    e = (
        sym.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )

    def checksum(df) -> tuple:
        row = df.agg(
            F.count("*").alias("n"), F.sum(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        return row["n"], row["h"]

    def large_star(e):
        nb = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = nb.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )
        return (
            nb.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e):
        # e is (larger, smaller) directed; m(u) = min of u's smaller neighbors
        m = e.groupBy("u").agg(F.min("v").alias("m"))
        joined = e.join(m, "u")
        children = joined.where(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edge = m.select("u", F.col("m").alias("v"))
        return children.unionByName(self_edge).where(F.col("u") != F.col("v")).distinct()

    sig = checksum(e)
    for _ in range(max_iter):
        e = small_star(large_star(e)).localCheckpoint()
        new_sig = checksum(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        # the edge set never reached the checksum fixpoint: the star forest
        # is not fully contracted and some nodes would get a non-minimal
        # (wrong) component id — fail loudly instead of returning it
        raise RuntimeError(
            f"_two_phase_components: no star-forest fixpoint after "
            f"max_iter={max_iter} rounds (O(log^2 n) normally converges "
            "well inside the default 25); raise max_iter"
        )
    # star forest: (child, root) plus the roots themselves; nodes whose only
    # edges were self-loops vanished at the u != v filter — restore them as
    # singletons so the contract matches the propagation path exactly
    stars = (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )
    nodes = sym.select(F.col("u").alias("node")).distinct()
    return nodes.join(stars, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    sum_scale: int = 15,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the canonical
    Spark iterative workload (each iteration = one join + one aggregation
    shuffle), used in data curation to weight documents/domains by link
    authority before sampling.

    Contract: every node must have out-degree >= 1 (no dangling mass) —
    symmetrize the graph first if needed.  Node set = distinct sources.
    Zero IN-degree is fine: each round re-anchors the rank vector on the
    full node set (left join), so a node nobody links to holds the base
    rank (1-d)/n and keeps contributing its outgoing mass — dropping it
    from the vector (a bare groupBy over received contributions) would
    silently delete its mass from iteration 2 onward.

    Engine-parity discipline: the per-destination contribution sum is the
    one float reduction whose ORDER differs between engines, so contributions
    are cast to DECIMAL(30, ``sum_scale``) before summing (exact,
    order-independent — the same ``dec_sum`` discipline as every graded
    aggregate); the division pr/outdeg and the damping blend stay IEEE
    doubles with identical operands in both engines, so a fixed-``iters``
    unrolled SQL oracle reproduces the ranks bit-for-bit.

    Scale notes: ``edges`` and the degree table are persisted once and
    re-joined per iteration (at 1000 executors pre-partition both by ``src``
    so every iteration's join is co-located); the rank frame stays
    (n_nodes x 2) narrow.  Lineage grows linearly in ``iters`` — for long
    runs insert a localCheckpoint every ~20 rounds (same discipline as
    :func:`connected_components`)."""
    from us_equity_datalake_spark.operators import _cache

    e = _cache.track(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist())
    deg = _cache.track(e.groupBy("src").agg(F.count("*").alias("outdeg")).persist())
    n = deg.count()
    if n == 0:
        raise ValueError("pagerank: empty graph")
    # hoist the loop-invariant degree join OUT of the iterations (it re-ran
    # per round: one join shuffle x iters on the widest table) and persist
    # the fused edge table PRE-PARTITIONED on the join key, so each round's
    # edge side comes out of the cache already hash-distributed by src and
    # only the (n_nodes x 2) rank vector moves per iteration
    e_deg = _cache.track(
        e.join(deg, "src").repartition("src").persist()
    )
    pr = deg.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("pr"))
    base = F.lit((1.0 - damping) / n)
    for _ in range(iters):
        contrib = (
            e_deg.join(pr, e_deg["src"] == pr["node"])
            .select(
                "dst",
                (F.col("pr") / F.col("outdeg")).cast(f"decimal(30,{sum_scale})").alias("c"),
            )
        )
        received = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").alias("s")
        )
        # re-anchor on the FULL node set: zero-in-degree nodes receive no
        # contributions but must stay in the vector at the base rank
        pr = (
            deg.select(F.col("src").alias("node"))
            .join(received, "node", "left")
            .select(
                "node",
                (base + F.lit(damping)
                 * F.coalesce(F.col("s").cast("double"), F.lit(0.0))).alias("pr"),
            )
        )
    return pr.join(deg, pr["node"] == deg["src"]).select(
        "node", "outdeg", F.round("pr", 9).alias("pr")
    )


def pagerank_sql(
    edges_cte: str,
    *,
    iters: int = 3,
    damping: float = 0.85,
    sum_scale: int = 15,
) -> str:
    """DuckDB twin of :func:`pagerank`: the fixed iteration count unrolls to
    one CTE per round (``edges_cte`` must define ``edges(src, dst)``)."""
    prev = "pr0"
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(
            f"""pr{i} AS (
      -- re-anchor on the full node set: zero-in-degree nodes get no
      -- contributions but stay at the base rank (Spark twin left-joins deg)
      SELECT d0.src AS node,
             (1.0 - {damping!r}) / n.n_nodes
               + {damping!r} * COALESCE(CAST(cs.s AS DOUBLE), 0.0) AS pr
      FROM deg d0
      CROSS JOIN n
      LEFT JOIN (
        SELECT s.dst AS node, SUM(CAST(p.pr / d.outdeg AS DECIMAL(30,{sum_scale}))) AS s
        FROM edges s
        JOIN {prev} p ON s.src = p.node
        JOIN deg d ON s.src = d.src
        GROUP BY s.dst
      ) cs ON cs.node = d0.src
    )"""
        )
        prev = f"pr{i}"
    return f"""
    WITH {edges_cte},
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS n_nodes FROM deg),
    pr0 AS (SELECT src AS node, 1.0 / n_nodes AS pr FROM deg CROSS JOIN n),
    {', '.join(rounds)}
    SELECT p.node, d.outdeg, ROUND(p.pr, 9) AS pr
    FROM {prev} p JOIN deg d ON p.node = d.src
    """


def triangle_count(edges: DataFrame, *, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count + clustering coefficient over an undirected
    simple graph, with the DEGREE-ORDERED ORIENTATION that makes triangle
    enumeration feasible at scale (Cohen / Suri-Vassilvitskii): orient
    every edge from the lower-(degree, id) endpoint to the higher, so each
    triangle is enumerated EXACTLY ONCE and every wedge fan-out is bounded
    by the oriented out-degree — O(m^1.5) work in total regardless of hub
    vertices, where the naive undirected wedge join explodes on the
    highest-degree vertex (the classic skew killer in co-occurrence
    graphs).

    Two shuffles: wedges (oriented E ⋈ E on the pivot) and closure
    (wedges ⋈ oriented E on the far pair).  Returns one row:
    (n_vertices, n_edges, n_triangles, clustering_ppm) where
    clustering_ppm = 3*triangles*1e6 // wedges(open+closed) — integer ppm,
    the bit-exact cross-engine discipline."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    # orient from lower (deg, id) to higher — ties broken by id, total order
    de = (
        e.join(deg.withColumnRenamed("a", "a_k").withColumnRenamed("deg", "deg_a"),
               F.col("a") == F.col("a_k")).drop("a_k")
        .join(deg.withColumnRenamed("a", "b_k").withColumnRenamed("deg", "deg_b"),
              F.col("b") == F.col("b_k")).drop("b_k")
    )
    fwd = F.struct("deg_a", "a") < F.struct("deg_b", "b")
    oriented = de.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    o1 = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("x"))
    o2 = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("y"))
    # each unordered out-neighbor pair appears both ways; the closure join
    # keeps only the stored orientation, so every triangle counts exactly
    # once at its (deg, id)-minimal pivot — an id-order x<y filter here
    # would be WRONG (edges are oriented by (deg, id), not id)
    wedges = o1.join(o2, "p").where(F.col("x") != F.col("y"))
    closed = wedges.join(
        oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y")),
        ["x", "y"], "left_semi",
    )
    n_tri = closed.count()
    n_edges = e.count()
    n_vertices = deg.count()
    open_wedges = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long")
    ).collect()[0][0] or 0
    clustering_ppm = (3 * n_tri * 1_000_000) // open_wedges if open_wedges else 0
    return local_frame(
        edges.sparkSession,
        [(n_vertices, n_edges, n_tri, clustering_ppm)],
        "n_vertices long, n_edges long, n_triangles long, clustering_ppm long",
    )
